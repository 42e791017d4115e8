package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sketches

/** Specs for the bounded-state sketches (operators/Sketches.scala):
  * KMV distinct estimation and Misra-Gries-pruned exact heavy hitters.
  * Both are checked against exact ground truth computed in-process —
  * KMV's estimator is deterministic (portable md5), so its value is
  * asserted EXACTLY, and heavyHitters' output contract IS exactness.
  */
class SketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("kmvDistinct: exact below k, estimator formula above, duplicate-proof") {
    // 40 distinct keys, each duplicated 5x — k=64 > 40 means the sketch
    // sees everything: exact count, regardless of duplication
    val small = (0L until 200L).map(i => Tuple1(i % 40)).toDF("k")
    val ex = Sketches.kmvDistinct(small, "k", 64).head()
    assert(ex.getLong(0) == 40 && ex.getLong(2) == 40)
    // 5000 distinct over k=64: estimate = round(63*2^60/kth) where kth is
    // the 64th smallest md5-60 hash — replayed independently here
    val big = (0L until 5000L).map(Tuple1(_)).toDF("k")
    val got = Sketches.kmvDistinct(big, "k", 64).head()
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val kth = (0L until 5000L).map(i => h60(i.toString)).sorted.apply(63)
    assert(got.getLong(0) == 64)
    assert(got.getLong(1) == kth)
    val want = math.round(63.0 * 1152921504606846976.0 / kth.toDouble)
    assert(got.getLong(2) == want)
    // the estimate lands within ~3/sqrt(64) of truth for this population
    assert(math.abs(got.getLong(2) - 5000.0) / 5000.0 < 0.4,
      s"estimate ${got.getLong(2)} too far from 5000")
    // empty input: zero everything, no NULLs
    val empty = Seq.empty[Tuple1[Long]].toDF("k")
    val e = Sketches.kmvDistinct(empty, "k", 8).head()
    assert(e.getLong(0) == 0 && e.getLong(1) == 0 && e.getLong(2) == 0)
    intercept[IllegalArgumentException](Sketches.kmvDistinct(small, "k", 1))
  }

  test("kmvOverlap: exact below k, estimator sanity above, disjoint and identical sets") {
    // |A|=30, |B|=30, |A∩B|=10 → union 50 < k=64: everything exact
    val a = (0L until 30L).map(Tuple1(_)).toDF("k")
    val b = (20L until 50L).map(Tuple1(_)).toDF("k")
    val ex = Sketches.kmvOverlap(a, "k", b, "k", 64).head()
    assert(ex.getLong(0) == 50 && ex.getLong(1) == 10 && ex.getLong(2) == 50)
    assert(ex.getLong(3) == 10) // (10*50) div 50
    assert(ex.getLong(4) == 200) // (10*1000) div 50
    // identical sets: jaccard 1000, intersection == union
    val id = Sketches.kmvOverlap(a, "k", a, "k", 16).head()
    assert(id.getLong(1) == id.getLong(0))
    assert(id.getLong(4) == 1000)
    // disjoint large sets over small k: n_both 0, intersection 0
    val c = (100000L until 105000L).map(Tuple1(_)).toDF("k")
    val d = (200000L until 205000L).map(Tuple1(_)).toDF("k")
    val dj = Sketches.kmvOverlap(c, "k", d, "k", 64).head()
    assert(dj.getLong(1) == 0 && dj.getLong(3) == 0 && dj.getLong(4) == 0)
    // 50%-overlap large sets: union 15000, jaccard 1/3 — the estimates
    // must land in a ~1/sqrt(k) band around truth
    val e1 = (0L until 10000L).map(Tuple1(_)).toDF("k")
    val e2 = (5000L until 15000L).map(Tuple1(_)).toDF("k")
    val ov = Sketches.kmvOverlap(e1, "k", e2, "k", 256).head()
    assert(math.abs(ov.getLong(2) - 15000.0) / 15000.0 < 0.25, s"union est ${ov.getLong(2)}")
    assert(math.abs(ov.getLong(4) - 333.0) < 120, s"jaccard_pm ${ov.getLong(4)}")
  }

  test("kmvDistinctBy: per-group estimates equal independent per-group sketches") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    // group a: 20 distinct (< k=32: exact); group b: 500 distinct
    // (estimator); group c: 1 value duplicated (exact 1)
    val rows = (0L until 100L).map(i => ("a", i % 20)) ++
      (0L until 500L).map(i => ("b", 1000 + i)) ++ Seq.fill(7)(("c", 9L))
    val df = rows.toDF("g", "k")
    val got = Sketches.kmvDistinctBy(df, "g", "k", 32)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("a")._1 == 20 && got("a")._3 == 20)
    assert(got("c")._1 == 1 && got("c")._3 == 1)
    val kthB = (0L until 500L).map(i => h60((1000 + i).toString)).sorted.apply(31)
    assert(got("b")._1 == 32 && got("b")._2 == kthB)
    assert(got("b")._3 == math.round(31.0 * 1152921504606846976.0 / kthB.toDouble))
    // per-group result == global kmvDistinct run on each group's slice
    for (g <- Seq("a", "b", "c")) {
      val solo = Sketches.kmvDistinct(df.filter(col("g") === g), "k", 32).head()
      assert(got(g) == ((solo.getLong(0), solo.getLong(1), solo.getLong(2))), s"group $g")
    }
    // NULL group keys form their own group; NULL member keys are skipped
    val withNull = Seq((null: String, java.lang.Long.valueOf(1L)),
      (null, java.lang.Long.valueOf(2L)), (null, null: java.lang.Long),
      ("x", java.lang.Long.valueOf(3L))).toDF("g", "k")
    val gn = Sketches.kmvDistinctBy(withNull, "g", "k", 8)
      .collect().map(r => (if (r.isNullAt(0)) "<N>" else r.getString(0)) -> r.getLong(3)).toMap
    assert(gn == Map("<N>" -> 2L, "x" -> 1L))
  }

  test("kmvSketch/kmvMerge/kmvEstimate: merge is bit-exact and associative") {
    val a = (0L until 3000L).map(Tuple1(_)).toDF("k")
    val b = (2000L until 5000L).map(Tuple1(_)).toDF("k")
    val c = (4500L until 6000L).map(Tuple1(_)).toDF("k")
    val union = (0L until 6000L).map(Tuple1(_)).toDF("k")
    val (sa, sb, sc) = (Sketches.kmvSketch(a, "k", 64),
      Sketches.kmvSketch(b, "k", 64), Sketches.kmvSketch(c, "k", 64))
    def hvs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("hv").collect().map(_.getLong(0)).toSeq
    // merged sketch == the sketch of the concatenated corpora, exactly
    assert(hvs(Sketches.kmvMerge(sa, sb, 64)) ==
      hvs(Sketches.kmvSketch(a.unionByName(b), "k", 64)))
    // associativity: (a⊕b)⊕c == a⊕(b⊕c) == sketch of the 3-way union
    val l = Sketches.kmvMerge(Sketches.kmvMerge(sa, sb, 64), sc, 64)
    val r = Sketches.kmvMerge(sa, Sketches.kmvMerge(sb, sc, 64), 64)
    assert(hvs(l) == hvs(r))
    assert(hvs(l) == hvs(Sketches.kmvSketch(union, "k", 64)))
    // estimate off the merged sketch == kmvDistinct on the union corpus
    val em = Sketches.kmvEstimate(l, 64).head()
    val eu = Sketches.kmvDistinct(union, "k", 64).head()
    assert((em.getLong(0), em.getLong(1), em.getLong(2)) ==
      ((eu.getLong(0), eu.getLong(1), eu.getLong(2))))
    // small unions stay exact through a merge
    val tiny = Sketches.kmvEstimate(Sketches.kmvMerge(
      Sketches.kmvSketch((0L until 10L).map(Tuple1(_)).toDF("k"), "k", 64),
      Sketches.kmvSketch((5L until 15L).map(Tuple1(_)).toDF("k"), "k", 64), 64), 64).head()
    assert(tiny.getLong(0) == 15 && tiny.getLong(2) == 15)
  }

  test("heavyHittersBy: per-group exact thresholds, MG prune per (partition, group)") {
    // group g1: 'hot' dominates; group g2: uniform (nothing qualifies);
    // group g3: two heavies at k=9
    val rows = Seq.fill(300)(("g1", "hot")) ++ (0 until 100).map(i => ("g1", s"c$i")) ++
      (0 until 100).map(i => ("g2", s"u${i % 10}")) ++ // 10 each of 100: 10*10 = N, not > N
      Seq.fill(50)(("g3", "x")) ++ Seq.fill(40)(("g3", "y")) ++
      (0 until 30).map(i => ("g3", s"z$i"))
    val df = rows.zipWithIndex.sortBy(t => (t._2 * 2654435761L) % 1000003L)
      .map(_._1).toDF("g", "k").repartition(7)
    val got = Sketches.heavyHittersBy(df, "g", "k", 9)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // exact per-group computation for comparison
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((g, k), c) => (g, k, c) }
      .filter { case (g, _, c) => c * 10 > rows.count(_._1 == g) }
      .sortBy { case (g, k, c) => (g, -c, k) }
    assert(got.toSeq == exact, s"got ${got.toSeq}\nwant $exact")
    assert(got.exists(_._1 == "g1") && got.exists(_._1 == "g3"))
    assert(!got.exists(_._1 == "g2"))
    // NULL group and NULL key both count as real groups
    val nul = (Seq.fill(5)((null: String, "a")) ++ Seq.fill(4)(("g", null: String)) ++
      Seq(("g", "b"))).toDF("g", "k")
    val gotN = Sketches.heavyHittersBy(nul, "g", "k", 2)
      .collect().map(r => (
        if (r.isNullAt(0)) "<G>" else r.getString(0),
        if (r.isNullAt(1)) "<K>" else r.getString(1), r.getLong(2)))
    // null group: 'a'x5 of 5 (5*3>5 yes); group g: null-key x4 of 5 (12>5)
    assert(gotN.toSet == Set(("<G>", "a", 5L), ("g", "<K>", 4L)), gotN.toSeq)
    // lazy plan: nothing persisted by building or running it
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Sketches.heavyHittersBy(df, "g", "k", 9).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"heavyHittersBy leaked cached blocks: $leaked")
  }

  test("quantiles: integer-deterministic histogram quantiles match brute force") {
    // 1..1000 at scale 1: q‰ quantile = smallest v with rank >= ceil(q·N/1000)
    val vals = (1 to 1000).map(v => Tuple1(v.toDouble)).toDF("v")
    val got = Sketches.quantiles(vals, "v", Seq(1, 250, 500, 999, 1000), scale = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 1L, 1.0), (250L, 250L, 250.0),
      (500L, 500L, 500.0), (999L, 999L, 999.0), (1000L, 1000L, 1000.0)))
    // duplicates + fractional scale: medians land on the bucket floor
    val dup = Seq.fill(99)(1.25) ++ Seq(7.77)
    val g2 = Sketches.quantiles(dup.map(Tuple1(_)).toDF("v"), "v",
      Seq(500, 1000), scale = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(g2.toSeq == Seq((500L, 125L), (1000L, 777L)))
    // brute-force equality on a pseudo-random population for many q
    var x = 42L
    val rnd = (1 to 5000).map { _ =>
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; ((x % 100000).abs / 7.0)
    }
    val qs = Seq(5, 100, 333, 500, 667, 900, 995)
    val got3 = Sketches.quantiles(rnd.map(Tuple1(_)).toDF("v"), "v", qs, scale = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sortedBuckets = rnd.map(v => math.floor(v * 10).toLong).sorted
    qs.foreach { q =>
      val target = math.max(1L, (q.toLong * 5000 + 999) / 1000)
      assert(got3(q.toLong) == sortedBuckets((target - 1).toInt), s"q=$q")
    }
    // empty input and arg validation
    assert(Sketches.quantiles(Seq.empty[Tuple1[Double]].toDF("v"), "v", Seq(500)).count() == 0)
    intercept[IllegalArgumentException](Sketches.quantiles(vals, "v", Seq(0)))
    intercept[IllegalArgumentException](Sketches.quantiles(vals, "v", Seq(1001)))
  }

  test("quantiles: out-of-long-domain value·scale raises a typed per-row error, never a silent bucket") {
    // 1e19 > 2^63: floor(v·scale) would silently saturate — must raise
    val over = Seq(1.0, 1.0e19).map(Tuple1(_)).toDF("v")
    val ex = intercept[Exception](
      Sketches.quantiles(over, "v", Seq(500), scale = 1).collect())
    assert(ex.getMessage != null && ex.getMessage.contains("quantiles:"),
      s"wrong error: ${ex.getMessage}")
    // in-domain but within 2x of the edge: buckets fine (no false trip)
    val near = Seq(4.0e18, -4.0e18).map(Tuple1(_)).toDF("v")
    assert(Sketches.quantiles(near, "v", Seq(500, 1000), scale = 1).count() == 2)
    // scale amplification trips the guard too: 1e17·100 = 1e19
    val amp = Seq(1.0e17).map(Tuple1(_)).toDF("v")
    val ex2 = intercept[Exception](
      Sketches.quantiles(amp, "v", Seq(500), scale = 100).collect())
    assert(ex2.getMessage != null && ex2.getMessage.contains("quantiles:"))
    // NaN raises (neither bucketable nor silently droppable)
    val nan = Seq(Double.NaN).map(Tuple1(_)).toDF("v")
    intercept[Exception](Sketches.quantiles(nan, "v", Seq(500)).collect())
    // per-group path shares the guard
    val byOver = Seq(("g", 1.0e19)).toDF("g", "v")
    val ex3 = intercept[Exception](
      Sketches.quantilesBy(byOver, "g", "v", Seq(500), scale = 1).collect())
    assert(ex3.getMessage != null && ex3.getMessage.contains("quantiles:"))
  }

  test("kmvDistinct/kmvOverlap: NULL keys are ignored (SQL distinct-count convention), no crash") {
    val withNulls = (Seq[java.lang.Long](1L, 2L, 3L, null, null) ++
      (0L until 10L).map(java.lang.Long.valueOf)).map(Tuple1(_)).toDF("k")
    val r = Sketches.kmvDistinct(withNulls, "k", 64).head()
    assert(r.getLong(0) == 10 && r.getLong(2) == 10) // 0..9 distinct, nulls skipped
    val allNull = Seq[java.lang.Long](null, null).map(Tuple1(_)).toDF("k")
    val rn = Sketches.kmvDistinct(allNull, "k", 8).head()
    assert(rn.getLong(0) == 0 && rn.getLong(2) == 0)
    val ov = Sketches.kmvOverlap(withNulls, "k", allNull, "k", 16).head()
    assert(ov.getLong(0) == 10 && ov.getLong(1) == 0)
  }

  test("quantilesBy: per-group quantiles equal per-group brute force") {
    val rows = (1 to 100).map(v => ("a", v.toDouble)) ++
      (1 to 9).map(v => ("b", v * 10.0)) ++ Seq(("c", 5.0))
    val df = rows.toDF("g", "v")
    val got = Sketches.quantilesBy(df, "g", "v", Seq(100, 500, 1000), scale = 1)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    def brute(vs: Seq[Double], qPm: Long): Long = {
      val sorted = vs.map(v => math.floor(v).toLong).sorted
      val target = math.max(1L, (qPm * vs.size + 999) / 1000)
      sorted((target - 1).toInt)
    }
    for ((g, vs) <- rows.groupBy(_._1); q <- Seq(100L, 500L, 1000L))
      assert(got((g, q)) == brute(vs.map(_._2), q), s"group $g q $q")
    // single-element group: every quantile is that element
    assert(got(("c", 100L)) == 5L && got(("c", 1000L)) == 5L)
  }

  test("histSketch/histMerge/quantilesFromHist: exact under merge, associative") {
    val a = (1 to 400).map(v => Tuple1(v.toDouble)).toDF("v")
    val b = (301 to 1000).map(v => Tuple1(v.toDouble)).toDF("v")
    val union = ((1 to 400) ++ (301 to 1000)).map(v => Tuple1(v.toDouble)).toDF("v")
    val merged = Sketches.histMerge(
      Sketches.histSketch(a, "v", 1), Sketches.histSketch(b, "v", 1))
    def qs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // quantiles off the merged relation == quantiles over the union corpus
    assert(qs(Sketches.quantilesFromHist(merged, Seq(100, 500, 900), 1)) ==
      qs(Sketches.quantiles(union, "v", Seq(100, 500, 900), 1)))
    // merged histogram == union histogram, bucket for bucket
    def hist(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist(merged) == hist(Sketches.histSketch(union, "v", 1)))
    // associativity over three snapshots
    val c = (900 to 1200).map(v => Tuple1(v.toDouble)).toDF("v")
    val (sa, sb, sc) = (Sketches.histSketch(a, "v", 1),
      Sketches.histSketch(b, "v", 1), Sketches.histSketch(c, "v", 1))
    assert(hist(Sketches.histMerge(Sketches.histMerge(sa, sb), sc)) ==
      hist(Sketches.histMerge(sa, Sketches.histMerge(sb, sc))))
    // the corpus-input quantiles form IS the sketch form (delegation)
    assert(qs(Sketches.quantiles(a, "v", Seq(500), 1)) ==
      qs(Sketches.quantilesFromHist(sa, Seq(500), 1)))
  }

  test("quantilesFromHist: coarse-group prefix sum handles negative, sparse " +
      "and huge-span buckets exactly (round-16 shiftright layout)") {
    def qs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // negative buckets: shiftright is an arithmetic shift = floor division,
    // so coarse groups stay monotone across zero
    val neg = (-500 to 500).map(v => Tuple1(v.toDouble)).toDF("v")
    // N=1001: target(1) = ceil(1001/1000) = 2 -> 2nd smallest
    assert(qs(Sketches.quantiles(neg, "v", Seq(1, 500, 1000), 1)) ==
      Seq((1L, -499L), (500L, 0L), (1000L, 500L)))
    // sparse buckets over a huge span (> 4096 coarse groups at k=0): the
    // min/max probe must widen k and the per-group windows must still
    // produce the exact global prefix sums
    val sparse = Seq.tabulate(1000)(i => Tuple1((i.toLong * 1000003L).toDouble))
      .toDF("v")
    val got = qs(Sketches.quantiles(sparse, "v", Seq(1, 250, 500, 999), 1))
    // exact contract: q-th per-mille = bucket at index ceil(q*N/1000)-1 of
    // the sorted distinct values (each value occurs once)
    def expect(q: Int): Long = {
      val idx = math.max(1L, (q.toLong * 1000 + 999) / 1000) - 1
      idx * 1000003L
    }
    assert(got == Seq(1, 250, 500, 999).map(q => (q.toLong, expect(q))))
  }

  test("heavyHitters: exact counts above the N/(k+1) threshold, MG prune never loses one") {
    // skewed synthetic: key "hot" 500x, "warm" 120x, 200 singleton keys
    // (N = 820). k=5 → threshold 820/6 = 136.7: only "hot" qualifies at
    // k=5; k=9 → 82: hot + warm.
    val rows = Seq.fill(500)("hot") ++ Seq.fill(120)("warm") ++
      (0 until 200).map(i => s"cold$i")
    // scramble deterministically so hot keys are spread across partitions
    val df = rows.zipWithIndex.sortBy(t => (t._2 * 2654435761L) % 1000003L)
      .map(_._1).toDF("k").repartition(7)
    val hh5 = Sketches.heavyHitters(df, "k", 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh5.toSeq == Seq(("hot", 500L)))
    // the operator's rows are unordered: sort them count-desc then key
    val hh9 = Sketches.heavyHitters(df, "k", 9)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(t => (-t._2, t._1))
    assert(hh9.toSeq == Seq(("hot", 500L), ("warm", 120L)))
    // equality with the plain exact computation for several k (the MG
    // pass must be a pure prune)
    for (k <- Seq(1, 3, 20)) {
      val n = df.count()
      val exact = df.groupBy("k").count()
        .filter(col("count") * (k + 1) > n)
        .orderBy(col("count").desc, col("k"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val sketched = Sketches.heavyHitters(df, "k", k)
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(t => (-t._2, t._1))
      assert(sketched.toSeq == exact.toSeq, s"k=$k mismatch")
    }
    // all-uniform input: nothing clears the threshold
    val uni = (0 until 100).map(i => s"u${i % 10}").toDF("k")
    assert(Sketches.heavyHitters(uni, "k", 5).count() == 0)
    // a DOMINANT NULL key is a real group (SQL GROUP BY semantics) and
    // must be reported with its exact count — the flag-column total
    // carrier must never conflate with it, and the threshold must not
    // absorb phantom sentinel rows
    val nullRows = (Seq.fill(60)(null: String) ++ (0 until 40).map(i => s"x$i"))
    val nulDf = nullRows.zipWithIndex.sortBy(t => (t._2 * 2654435761L) % 1000003L)
      .map(_._1).map(Tuple1(_)).toDF("k").repartition(5)
    val hhNull = Sketches.heavyHitters(nulDf, "k", 3)
      .collect().map(r => (if (r.isNullAt(0)) "<NULL>" else r.getString(0), r.getLong(1)))
    assert(hhNull.toSeq == Seq(("<NULL>", 60L)), s"got ${hhNull.toSeq}")
    // empty input
    assert(Sketches.heavyHitters(Seq.empty[Tuple1[String]].toDF("k"), "k", 5).count() == 0)
    // the result is a lazy plan: neither building nor running it
    // persists anything
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Sketches.heavyHitters(df, "k", 5).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"heavyHitters leaked cached blocks: $leaked")
  }
}
