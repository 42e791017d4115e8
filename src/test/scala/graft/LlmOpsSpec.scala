package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFns, VectorFns}
import graft.operators.{Dedup, Multimodal, Similarity}

/** Spec for the LLM-pipeline operators whose hash families are engine-
  * specific (no SQL oracle): MinHash-LSH recall against exact Jaccard,
  * SimHash on exact duplicates, ANN vs brute-force, stub decode
  * determinism, and expression-vs-quantized cosine agreement.
  */
class LlmOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("TopKBySim aggregator: bounded buffer, tie-break by id, matches a full sort") {
    import graft.operators.{SimEntry, TopKBySim}
    val agg = new TopKBySim(3)
    val entries = Seq(
      SimEntry(5, 0.9), SimEntry(1, 0.7), SimEntry(2, 0.9), SimEntry(9, 0.1),
      SimEntry(7, 0.7), SimEntry(3, 0.95))
    // reduce in arbitrary orders + merge of split halves == full sort take 3
    val expect = entries.sortBy(e => (-e.sim, e.c_id)).take(3)
    val direct = entries.foldLeft(agg.zero)(agg.reduce)
    assert(direct == expect)
    val (l, r) = entries.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged == expect)
    // distributed: aggregator result equals a rank-window top-k
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 500).map(i => (i % 7L, i.toLong, ((i * 37) % 100) / 100.0))
      .toDF("q_id", "c_id", "sim").repartition(8)
    val viaAgg = df.groupBy(col("q_id"))
      .agg(graft.operators.TopK.bySim(5)(col("c_id"), col("sim")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q_id"), col("pos"), col("e.c_id"), col("e.sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    val viaWin = df.withColumn("rnk", row_number().over(w) - 1).filter(col("rnk") < 5)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaAgg == viaWin)
  }

  test("minhash LSH finds high-Jaccard pairs with good recall and exact precision") {
    val docs = Tables(spark, dir, "documents").withColumn("blk", lit(1))
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", "blk", 0.7)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLsh(docs, "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.7)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1.0 by construction (exact-Jaccard verification step)
    assert(lsh.subsetOf(exact), s"LSH returned pairs below threshold: ${lsh -- exact}")
    // banded-minhash recall at j>=0.7 (16 bands x 4 rows): expected ~0.99
    if (exact.nonEmpty) {
      val recall = (exact & lsh).size.toDouble / exact.size
      assert(recall >= 0.8, s"recall $recall over ${exact.size} true pairs")
    }
  }

  test("crossCorpusNearDup: new-vs-ref only, full spine, deterministic verdict") {
    import spark.implicits._
    val mk = (base: String, n: Int) => (1 to n).map(i => base + " tail" + i).mkString(" ")
    val refDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5),
      (2L, "one two three four five six seven eight nine ten " * 5)
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      // near-dup of ref 1 (one word changed out of 50)
      (10L, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4) +
        "alpha beta gamma delta epsilon zeta eta theta iota CHANGED "),
      // two new docs that duplicate EACH OTHER but nothing in the reference:
      // must NOT be flagged (cross-corpus only — the self-join form is minHashLsh)
      (11L, mk("lorem ipsum dolor sit amet consectetur", 8)),
      (12L, mk("lorem ipsum dolor sit amet consectetur", 8)),
      // unrelated
      (13L, "completely different content about spark engines and parquet files")
    ).toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDup(newDocs, refDocs, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.7, shingleSize = Some(3))
      .orderBy("new_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L, 13L)) // full spine
    val r10 = out(0)
    assert(r10.getBoolean(1) && r10.getLong(2) == 1L && r10.getDouble(3) > 0.7)
    assert(!out(1).getBoolean(1) && out(1).isNullAt(2)) // new-new dup not flagged
    assert(!out(2).getBoolean(1))
    assert(!out(3).getBoolean(1))
    // portable family agrees on the verdict spine
    val p = Dedup.crossCorpusNearDup(newDocs, refDocs, "doc_id", "text",
        numHashes = 16, bands = 4, threshold = 0.7, shingleSize = Some(3),
        portable = true)
      .orderBy("new_id").collect()
    assert(p(0).getBoolean(1) && !p(1).getBoolean(1))
  }

  test("semantic dedup: cluster assignment tie rule, keep-lowest verdict, full spine") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),      // centroid/list 0
      (2L, Array(0f, 1f, 0f, 0f)),      // centroid/list 1
      (3L, Array(0.9f, 0.1f, 0f, 0f)),  // cluster 0, cos(3,1) ≈ 0.994 → dup of 1
      (4L, Array(0f, 0.9f, 0.2f, 0f)),  // cluster 1, cos(4,2) ≈ 0.976 → dup of 2
      (5L, Array(0.5f, 0.5f, 0f, 0f)),  // equidistant: tie → cluster 0 (list ASC)
      (6L, Array(0f, 0f, 1f, 0f))       // cluster 0 or 1 by tie, no high match
    ).toDF("vec_id", "embedding")
    val out = Dedup.semantic(rows, "vec_id", "embedding", threshold = 0.9,
        centroidIds = Seq(1L, 2L))
      .orderBy("vec_id").collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 6L)) // every vector gets a verdict
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) == 0L && !byId(1L).getBoolean(2)) // lowest id kept
    assert(byId(2L).getLong(1) == 1L && !byId(2L).getBoolean(2))
    assert(byId(3L).getBoolean(2) && byId(3L).getLong(3) == 1L &&
      byId(3L).getDouble(4) > 0.99)
    assert(byId(4L).getBoolean(2) && byId(4L).getLong(3) == 2L)
    assert(byId(5L).getLong(1) == 0L && !byId(5L).getBoolean(2)) // tie → list 0; cos ≈ 0.707
    assert(!byId(6L).getBoolean(2) && byId(6L).isNullAt(3))      // orthogonal: kept
    // missing centroid id is a typed driver-side error
    val e = intercept[IllegalArgumentException] {
      Dedup.semantic(rows, "vec_id", "embedding", 0.9, Seq(1L, 99L))
    }
    assert(e.getMessage.contains("99"))
  }

  test("semantic dedup: nlist ∝ √N contract — nlistFor, under-nlist warning, auto path") {
    import spark.implicits._
    import graft.sql.ScaleWarnings
    // the contract itself
    assert(Dedup.nlistFor(0) == 1 && Dedup.nlistFor(1) == 1)
    assert(Dedup.nlistFor(100) == 10 && Dedup.nlistFor(500) == 23)
    assert(Dedup.nlistFor(1000000) == 1000)
    // under-provisioned nlist (1 centroid for 100 vectors; 16·1 < 100)
    // fires the ScaleWarning naming the √N fix
    val vecs = (0L until 100L)
      .map(i => (i, Array((i % 7).toFloat + 1f, (i % 5).toFloat, 1f)))
      .toDF("vec_id", "embedding")
    ScaleWarnings.reset()
    Dedup.semantic(vecs, "vec_id", "embedding", 0.999, Seq(0L)).count()
    assert(ScaleWarnings.recentWarnings.exists(w =>
      w.contains("quadratic") && w.contains("sqrt(N) = 10")))
    // the √N auto path derives a compliant nlist — no warning — and its
    // verdict spine covers every vector
    ScaleWarnings.reset()
    val auto = Dedup.semanticAuto(vecs, "vec_id", "embedding", 0.999)
    assert(auto.count() == 100)
    assert(ScaleWarnings.recentWarnings.isEmpty)
    // auto ≡ explicit semantic() with the same derived hash-bucket
    // centroids (u32(md5('cent:'||id)) % k, min id per bucket) — replayed
    // here with java.security.MessageDigest, independent of the Spark
    // expression that computes it inside semanticAuto
    def u32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val cents = (0L until 100L).groupBy(id => u32(s"cent:$id") % 10)
      .values.map(_.min).toSeq.sorted
    assert(cents.size <= 10)
    val explicit = Dedup.semantic(vecs, "vec_id", "embedding", 0.999, cents)
    assert(auto.orderBy("vec_id").collect().toSeq ==
      explicit.orderBy("vec_id").collect().toSeq)
    // SPARSE id space (range >> N): hash bucketing keeps the centroid
    // count ≤ ⌈√N⌉ by construction — the regime where id-range striping
    // would occupy far more than √N stripes and defeat the contract
    val sparse = (0L until 64L)
      .map(i => (i * 1000003L - 7L, Array(1f, (i % 9).toFloat, 1f)))
      .toDF("vec_id", "embedding")
    ScaleWarnings.reset()
    val sparseOut = Dedup.semanticAuto(sparse, "vec_id", "embedding", 0.999)
    assert(sparseOut.count() == 64)
    assert(sparseOut.select("cluster").distinct().count() <= Dedup.nlistFor(64))
    assert(ScaleWarnings.recentWarnings.isEmpty)
  }

  test("semanticTwoLevel: K=1 degenerates to single-level; general-K precision exact") {
    import spark.implicits._
    val vecs = (0L until 80L)
      .map(i => (i, Array((i % 7).toFloat + 1f, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    // K=1: one coarse cell and one fine centroid (= min corpus id), so the
    // dup verdicts must equal single-level semantic() with that centroid —
    // all-pairs within the single cluster, identical exact arithmetic
    val two = Dedup.semanticTwoLevel(vecs, "vec_id", "embedding", 0.999,
      kOverride = Some(1))
    val one = Dedup.semantic(vecs, "vec_id", "embedding", 0.999, Seq(0L))
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "is_dup", "dup_of", "best_sim")
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3))).sortBy(_._1).toSeq
    assert(verdicts(two) == verdicts(one))
    // general K: full spine, deterministic across runs, and every flagged
    // pair is a TRUE near-dup (precision exact — the within-cluster verify
    // uses the same exact quantized cosine as brute force)
    val g = Dedup.semanticTwoLevel(vecs, "vec_id", "embedding", 0.999,
      kOverride = Some(4))
    val rows = g.collect()
    assert(rows.length == 80)
    assert(verdicts(g) == verdicts(Dedup.semanticTwoLevel(
      vecs, "vec_id", "embedding", 0.999, kOverride = Some(4))))
    // precision is EXACT: every flagged (vec_id, dup_of) pair must verify
    // under brute-force quantized cosine at the same threshold
    def v(i: Long) = Array(((i % 7) + 1).toDouble, (i % 5).toDouble, (i % 3).toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val qa = a.map(x => math.floor(x * 10000 + 0.5).toLong)
      val qb = b.map(x => math.floor(x * 10000 + 0.5).toLong)
      val d = qa.zip(qb).map { case (x, y) => x * y }.sum.toDouble
      d / (math.sqrt(qa.map(x => x * x).sum.toDouble) *
        math.sqrt(qb.map(x => x * x).sum.toDouble))
    }
    val flagged = rows.filter(_.getBoolean(2)).map(r => (r.getLong(0), r.getLong(3)))
    assert(flagged.nonEmpty) // the (x,0,0) colinear family guarantees dups
    flagged.foreach { case (a, b) =>
      assert(cos(v(a), v(b)) > 0.999, s"flagged pair ($a, $b) fails brute-force verify")
      assert(b < a, "dup_of must be a LOWER id")
    }
  }

  test("semanticAuto auto-selects the two-level path above the population cutover") {
    import spark.implicits._
    import graft.sql.ScaleWarnings
    val vecs = (0L until 80L)
      .map(i => (i, Array((i % 7).toFloat + 1f, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    // staged large-N: lower the cutover below the population so the
    // two-level selection logic fires on a testable corpus
    ScaleWarnings.reset()
    val auto = Dedup.semanticAuto(vecs, "vec_id", "embedding", 0.999,
      twoLevelAbove = 50L)
    assert(ScaleWarnings.recentWarnings.exists(w =>
      w.contains("two-level cutover") && w.contains("semanticTwoLevel")),
      ScaleWarnings.recentWarnings.mkString(" | "))
    // verdicts equal an explicit semanticTwoLevel call (same K derivation)
    def verdicts2(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "is_dup", "dup_of", "best_sim")
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3))).sortBy(_._1).toSeq
    assert(verdicts2(auto) == verdicts2(
      Dedup.semanticTwoLevel(vecs, "vec_id", "embedding", 0.999)))
    assert(auto.count() == 80)
    // below the cutover (the default 1e8): single level, no warning —
    // q_dedup_semantic_auto's shape at every current test scale
    ScaleWarnings.reset()
    Dedup.semanticAuto(vecs, "vec_id", "embedding", 0.999).count()
    assert(!ScaleWarnings.recentWarnings.exists(_.contains("two-level cutover")))
    assert(Dedup.TwoLevelAbove == 100000000L)
  }

  test("simhash flags exact duplicates at Hamming distance 0") {
    val docs = Tables(spark, dir, "documents").select("doc_id", "text").limit(100)
    val dups = docs.withColumn("doc_id", col("doc_id") + 100000)
    val pairs = Dedup.simHashPairs(docs.union(dups), "doc_id", "text", maxHamming = 0)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.collect().map(_.getLong(0)).map(id => (id, id + 100000)).toSet
    assert(expected.subsetOf(found),
      s"missing ${(expected -- found).size} exact-dup pairs of ${expected.size}")
  }

  test("IVF ANN: full probe reproduces brute force exactly; partial probe recalls") {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val c = e.filter(col("vec_id") >= 5)
    val bf = Similarity.bruteForceTopK(q, c, "vec_id", "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // nprobe == nlist probes every list = exhaustive search: the IVF dial
    // has an EXACT endpoint, so result set and ranks must match brute force
    val full = Similarity.ivfTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == bf, "full-probe IVF must equal brute force")
    // partial probe (half the lists): every query answered, ranks 1..k,
    // sims non-increasing, and recall vs brute force above the floor for
    // near-random vectors (no cluster structure to exploit — see
    // embeddings-labels note; clustered corpora recall far higher)
    val part = Similarity.ivfTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 4).collect()
    assert(part.map(_.getLong(0)).distinct.length == 5)
    part.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    val bfPairs = bf.map(t => (t._1, t._3))
    val partPairs = part.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bfPairs & partPairs).size.toDouble / bfPairs.size
    assert(recall >= 0.3, s"IVF nprobe=4/8 recall $recall")
    // determinism: training is xxhash-seeded Lloyd — identical rows on rerun
    val rerun = Similarity.ivfTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rerun == part.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("PQ/ADC: zero self-distance for codebook rows, ordering, determinism") {
    import graft.operators.Similarity
    val e = Tables(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    val corpus = e.filter(col("vec_id") >= 10)
    val cb = (10L until 26L)
    val pq = Similarity.pqTopKQuantized(queries, corpus, "vec_id", "vec_id",
      "embedding", k = 5, codebookIds = cb).collect()
    assert(pq.length == 50) // 10 queries x top-5
    // per query: ranks 1..5, dist non-decreasing, ties broken by c_id
    pq.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 5L))
      assert(sorted.sliding(2).forall { case Array(a, b) =>
        a.getLong(3) < b.getLong(3) ||
          (a.getLong(3) == b.getLong(3) && a.getLong(2) < b.getLong(2)) })
    }
    // a codebook row used AS QUERY reconstructs itself: every block encodes
    // to its own codeword, so its ADC distance to itself is exactly 0
    val self = Similarity.pqTopKQuantized(
      corpus.filter(col("vec_id") === 12), corpus, "vec_id", "vec_id",
      "embedding", k = 5, codebookIds = cb).collect()
    assert(self.exists(r => r.getLong(2) == 12L && r.getLong(3) == 0L))
    // deterministic across runs
    val again = Similarity.pqTopKQuantized(queries, corpus, "vec_id", "vec_id",
      "embedding", k = 5, codebookIds = cb).collect()
    assert(pq.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // guards: m must divide dim; codebook ids must exist
    intercept[IllegalArgumentException] {
      Similarity.pqTopKQuantized(queries, corpus, "vec_id", "vec_id",
        "embedding", k = 5, codebookIds = cb, m = 7)
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTopKQuantized(queries, corpus, "vec_id", "vec_id",
        "embedding", k = 5, codebookIds = Seq(10L, 99999L))
    }
    // IVF+PQ with nprobe == nlist probes every list → EXACTLY the pq
    // result (the recall dial's closed endpoint, same as ivfTopK's)
    val full = Similarity.ivfPqTopKQuantized(queries, corpus, "vec_id",
      "vec_id", "embedding", k = 5, nprobe = 8,
      centroidIds = (10L until 18L), codebookIds = cb).collect()
    assert(full.map(_.toSeq).sortBy(_.toString).toSeq ==
      pq.map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("ANN results are valid and ordered; brute force agrees with itself") {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val c = e.filter(col("vec_id") >= 5)
    // 4 planes on this near-random corpus: per-bit neighbor agreement ~0.6,
    // so exact+flip-1 probes cover ~45% of true neighbors — wider codes
    // would need more probes (documented tradeoff)
    val ann = Similarity.annTopK(q, c, "vec_id", "vec_id", "embedding",
      k = 5, numPlanes = 4, dim = 64).collect()
    assert(ann.map(_.getLong(0)).distinct.length == 5, "a query had no ANN candidates")
    // recall vs brute force over the probed neighborhood
    val bfTop = Similarity.bruteForceTopK(q, c, "vec_id", "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val annSet = ann.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bfTop & annSet).size.toDouble / bfTop.size
    assert(recall >= 0.2, s"multi-probe recall $recall")
    // per-query ranks are 1..n and sims non-increasing
    ann.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims == sims.sorted.reverse)
    }
    val bf = Similarity.bruteForceTopK(q, c, "vec_id", "vec_id", "embedding", k = 5)
    assert(bf.count() == 25) // 5 queries x k
  }

  test("float-expression cosine agrees with quantized cosine to 1e-3") {
    val e = Tables(spark, dir, "embeddings").limit(50)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val diffs = a.join(b, col("a_id") < col("b_id"))
      .select(abs(
        VectorFns.cosine(col("va"), col("vb")) -
        VectorFns.cosineQ(VectorFns.quantize(col("va"), 10000),
                          VectorFns.quantize(col("vb"), 10000))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(diffs < 1e-3, s"max |cosine - cosineQ| = $diffs")
  }

  test("stub media decode is deterministic and partition-safe") {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val once = Multimodal.withMediaMeta(d.repartition(7), "payload")
      .select("doc_id", "width", "height", "n_frames", "format")
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val twice = Multimodal.withMediaMeta(d.repartition(3), "payload")
      .select("doc_id", "width", "height", "n_frames", "format")
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(once == twice)
    assert(once.values.forall { v =>
      v(1).asInstanceOf[Int] >= 160 && v(4).asInstanceOf[String].nonEmpty })
  }

  test("PcmDecoder: real sample decode for u8 / s16 PCM; stereo pooled; junk rejected") {
    import graft.operators.Multimodal.PcmDecoder
    def wav(bits: Int, channels: Int, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer
        .allocate(44 + data.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(8000)
        .putInt(8000 * channels * bits / 8)
        .putShort((channels * bits / 8).toShort).putShort(bits.toShort)
        .put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      bb.array()
    }
    // u8: samples 0, 128, 255 → mean 127.667, rms sqrt((128²+255²)/3), peak 255
    val u8 = PcmDecoder.decode(wav(8, 1, Array[Byte](0, 128.toByte, 255.toByte)))
    assert(u8.nSamples == 3 && u8.peakAmp == 255L)
    assert(math.abs(u8.meanAmp - 383.0 / 3) < 1e-12)
    assert(math.abs(u8.rmsAmp - math.sqrt((128.0 * 128 + 255.0 * 255) / 3)) < 1e-12)
    // s16 signed LE, stereo interleave pooled: 1000, -1000, 32767, -32768
    val s16data = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(1000).putShort(-1000).putShort(32767).putShort(-32768).array()
    val s16 = PcmDecoder.decode(wav(16, 2, s16data))
    assert(s16.nSamples == 4 && s16.peakAmp == 32768L)
    assert(math.abs(s16.meanAmp - (1000 - 1000 + 32767 - 32768) / 4.0) < 1e-12)
    // junk / non-PCM → the zero row, never a throw
    assert(PcmDecoder.decode("not audio at all".getBytes) == PcmDecoder.Zero)
    assert(PcmDecoder.decode(Array.emptyByteArray) == PcmDecoder.Zero)
    val f24 = PcmDecoder.decode(wav(24, 1, Array[Byte](1, 2, 3)))
    assert(f24 == PcmDecoder.Zero) // unsupported width rejected, not misread
    // corrupt chunk sizes: negative (would loop forever / walk backwards)
    // and absurdly large (would overflow the cursor) → Zero, promptly
    val neg = wav(8, 1, Array[Byte](1, 2, 3, 4))
    val nb = java.nio.ByteBuffer.wrap(neg).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    nb.putInt(16, -8) // fmt chunk size = -8
    assert(PcmDecoder.decode(neg) == PcmDecoder.Zero)
    val big = wav(8, 1, Array[Byte](1, 2))
    val bb2 = java.nio.ByteBuffer.wrap(big).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb2.putInt(16, Int.MaxValue)
    assert(PcmDecoder.decode(big) == PcmDecoder.Zero)
    assert(PcmDecoder.decode(null) == PcmDecoder.Zero)
  }

  test("PcmDecoder.segments: frame gating, run structure, tail frame, junk") {
    import graft.operators.Multimodal.PcmDecoder
    def wav(data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer
        .allocate(44 + data.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(8000)
        .putShort(1).putShort(8)
        .put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      bb.array()
    }
    // 10 samples, frames of 4: [200,200,200,200] [0,0,0,0] [200,200]
    // thr 10000: frame energies 40000, 0, 40000 → active/silent/active
    // (the tail frame gates on ITS OWN length: 2*200² / 2 = 40000 ≥ thr)
    val data = Array.fill(4)(200.toByte) ++ Array.fill(4)(0.toByte) ++
      Array.fill(2)(200.toByte)
    val s = PcmDecoder.segments(wav(data), 4, 10000L)
    assert(s.nFrames == 3 && s.nActive == 2 && s.nSegments == 2 && s.longestRun == 1)
    // one long run: all actives → 1 segment of length 3
    val loud = PcmDecoder.segments(wav(Array.fill(10)(200.toByte)), 4, 10000L)
    assert(loud.nFrames == 3 && loud.nActive == 3 &&
      loud.nSegments == 1 && loud.longestRun == 3)
    // all-silent → zero actives, zero segments
    val quiet = PcmDecoder.segments(wav(Array.fill(8)(1.toByte)), 4, 10000L)
    assert(quiet.nFrames == 2 && quiet.nActive == 0 &&
      quiet.nSegments == 0 && quiet.longestRun == 0)
    // junk and bad frameLen behave like decode's contract
    assert(PcmDecoder.segments("junk".getBytes, 4, 1L) == PcmDecoder.ZeroSeg)
    intercept[IllegalArgumentException](PcmDecoder.segments(wav(data), 0, 1L))
  }

  test("BmpPixelDecoder: real BGR pixel fold honors stride padding; non-raster rejected") {
    import graft.operators.Multimodal.BmpPixelDecoder
    // 3x2 24-bit BMP: row stride = 12 (9 pixel bytes + 3 pad). Pixel (x,y)
    // carries B=10x+y, G=100+x, R=200+y — pad bytes are 0xFF landmines: if
    // the decoder reads them as pixels, every mean shifts.
    def bmp(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val stride = (w * 3 + 3) & ~3
      val bb = java.nio.ByteBuffer.allocate(54 + stride * h)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * h)
        .putInt(0).putInt(54)
        .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24).putInt(0)
        .putInt(stride * h).putInt(0).putInt(0).putInt(0).putInt(0)
      for (y <- 0 until h) {
        for (x <- 0 until w) {
          val (b, g, r) = px(x, y)
          bb.put(b.toByte).put(g.toByte).put(r.toByte)
        }
        for (_ <- 0 until stride - w * 3) bb.put(0xFF.toByte)
      }
      bb.array()
    }
    val s = BmpPixelDecoder.decode(bmp(3, 2, (x, y) => (10 * x + y, 100 + x, 200 + y)))
    assert(s.nPixels == 6L)
    assert(math.abs(s.meanB - (0 + 10 + 20 + 1 + 11 + 21) / 6.0) < 1e-12)
    assert(math.abs(s.meanG - (100 + 101 + 102) / 3.0) < 1e-12)
    assert(math.abs(s.meanR - (200.0 + 201.0) / 2.0) < 1e-12)
    // stride-aligned width (4 px, no padding) also exact
    val s4 = BmpPixelDecoder.decode(bmp(4, 1, (x, _) => (x, x, x)))
    assert(s4.nPixels == 4L && math.abs(s4.meanB - 1.5) < 1e-12)
    // junk, truncated pixels, unsupported depth → the zero row
    assert(BmpPixelDecoder.decode("BMnot really".getBytes) == BmpPixelDecoder.Zero)
    val trunc = bmp(3, 2, (_, _) => (1, 2, 3)).dropRight(5)
    assert(BmpPixelDecoder.decode(trunc) == BmpPixelDecoder.Zero)
    // adversarial headers: a width whose w*3 overflows Int must reject,
    // not sail past the truncation guard into an AIOOBE; null → Zero
    val evil = bmp(4, 1, (_, _) => (0, 0, 0))
    val bb = java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(18, 715827883) // w*3 = 2^31+1 → wraps negative
    assert(BmpPixelDecoder.decode(evil) == BmpPixelDecoder.Zero)
    assert(BmpPixelDecoder.decode(null) == BmpPixelDecoder.Zero)
  }

  // Real-encoder PNGs: zlib-wrapped Deflater streams with correct CRCs and
  // Adler trailers, forward-filtered per the spec — decode must invert
  // every filter type exactly, over RGB, RGBA (alpha excluded) and gray.
  test("PngPixelDecoder: inflate + unfilter round-trip for filters 0-4, all color types") {
    import graft.operators.Multimodal.PngPixelDecoder
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val Sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    def png(w: Int, h: Int, colorType: Int, filterOf: Int => Int,
            px: (Int, Int) => Array[Int], splitIdat: Boolean = false): Array[Byte] = {
      val ch = colorType match { case 0 => 1; case 2 => 3; case 6 => 4 }
      val rowBytes = 1 + w * ch
      val raw = new Array[Byte](rowBytes * h) // unfiltered image
      for (y <- 0 until h) {
        raw(y * rowBytes) = filterOf(y).toByte
        for (x <- 0 until w; c <- 0 until ch)
          raw(y * rowBytes + 1 + x * ch + c) = px(x, y)(c).toByte
      }
      val filt = raw.clone() // forward-filter against ORIGINAL neighbors
      for (y <- 0 until h; k <- 0 until w * ch) {
        val idx = y * rowBytes + 1 + k
        val left = if (k >= ch) raw(idx - ch) & 0xFF else 0
        val up = if (y > 0) raw(idx - rowBytes) & 0xFF else 0
        val ul = if (y > 0 && k >= ch) raw(idx - rowBytes - ch) & 0xFF else 0
        val sub = filterOf(y) match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case 4 =>
            val pa = math.abs(up - ul); val pb = math.abs(left - ul)
            val pc = math.abs(left + up - 2 * ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        filt(idx) = (((raw(idx) & 0xFF) - sub) & 0xFF).toByte
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(filt); defl.finish()
      val buf = new Array[Byte](filt.length + 128)
      val n = defl.deflate(buf); defl.end()
      val z = buf.take(n)
      val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
        .put(0.toByte).array()
      val idats =
        if (splitIdat) chunk("IDAT", z.take(3)) ++ chunk("IDAT", z.drop(3))
        else chunk("IDAT", z)
      Sig ++ chunk("IHDR", ihdr) ++ idats ++ chunk("IEND", Array.emptyByteArray)
    }
    // every filter type in one image (h=6 → filters 0,1,2,3,4,0); values
    // chosen to exercise byte wraparound in the filter deltas
    val rgb = png(5, 6, 2, y => y % 5, (x, y) => Array(40 * x + y, 7 + 40 * y, 200 + 9 * x))
    val s = PngPixelDecoder.decode(rgb)
    assert(s.nPixels == 30L)
    assert(math.abs(s.meanR - (0 to 4).map(40 * _).sum / 5.0 - 2.5) < 1e-12)
    assert(math.abs(s.meanG - 7.0 - 40 * 2.5) < 1e-12)
    assert(math.abs(s.meanB - 200.0 - 9 * 2.0) < 1e-12)
    // IDAT split across chunks concatenates into one zlib stream
    val split = PngPixelDecoder.decode(
      png(5, 6, 2, y => y % 5, (x, y) => Array(40 * x + y, 7 + 40 * y, 200 + 9 * x),
        splitIdat = true))
    assert(split == s)
    // RGBA: alpha channel excluded from the means
    val rgba = PngPixelDecoder.decode(
      png(3, 3, 6, _ => 4, (x, y) => Array(x, y, x + y, 255)))
    assert(rgba.nPixels == 9L && math.abs(rgba.meanR - 1.0) < 1e-12 &&
      math.abs(rgba.meanB - 2.0) < 1e-12)
    // grayscale pools the single channel into all three means
    val gray = PngPixelDecoder.decode(png(4, 2, 0, _ => 1, (x, y) => Array(10 * x + y)))
    assert(gray.nPixels == 8L && gray.meanR == gray.meanB &&
      math.abs(gray.meanR - (0 + 10 + 20 + 30) / 4.0 - 0.5) < 1e-12)
    // the staged-oracle form: stored (uncompressed) deflate block, zeroed
    // Adler and CRCs — the lenient raw-inflate path must still decode
    val w0 = 2; val h0 = 1
    val rb = 1 + w0 * 3
    val rawRow = Array[Byte](0, 10, 20, 30, 40, 50, 60)
    val stored = java.nio.ByteBuffer.allocate(2 + 5 + rb + 4)
      .put(0x78.toByte).put(0x01.toByte).put(0x01.toByte)
      .putShort(java.lang.Short.reverseBytes(rb.toShort))
      .putShort(java.lang.Short.reverseBytes((rb ^ 0xFFFF).toShort))
      .put(rawRow).putInt(0).array()
    val ihdr0 = java.nio.ByteBuffer.allocate(13).putInt(w0).putInt(h0)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    val storedPng = Sig ++
      java.nio.ByteBuffer.allocate(12 + 13).putInt(13)
        .put("IHDR".getBytes("US-ASCII")).put(ihdr0).putInt(0).array() ++
      java.nio.ByteBuffer.allocate(12 + stored.length).putInt(stored.length)
        .put("IDAT".getBytes("US-ASCII")).put(stored).putInt(0).array() ++
      java.nio.ByteBuffer.allocate(12).putInt(0)
        .put("IEND".getBytes("US-ASCII")).putInt(0).array()
    val sp = PngPixelDecoder.decode(storedPng)
    assert(sp.nPixels == 2L && math.abs(sp.meanR - 25.0) < 1e-12 &&
      math.abs(sp.meanG - 35.0) < 1e-12 && math.abs(sp.meanB - 45.0) < 1e-12)
    // rejections: never a throw — junk, palette, 16-bit, interlaced,
    // truncated IDAT, decompression bomb (tiny payload, huge raster), null
    assert(PngPixelDecoder.decode("not a png".getBytes) == PngPixelDecoder.Zero)
    val pal = png(2, 2, 2, _ => 0, (_, _) => Array(1, 2, 3))
    pal(25) = 3 // colorType → paletted
    assert(PngPixelDecoder.decode(pal) == PngPixelDecoder.Zero)
    val deep = png(2, 2, 2, _ => 0, (_, _) => Array(1, 2, 3))
    deep(24) = 16 // bit depth
    assert(PngPixelDecoder.decode(deep) == PngPixelDecoder.Zero)
    val adam = png(2, 2, 2, _ => 0, (_, _) => Array(1, 2, 3))
    adam(28) = 1 // interlaced
    assert(PngPixelDecoder.decode(adam) == PngPixelDecoder.Zero)
    val trunc = png(5, 6, 2, _ => 0, (_, _) => Array(9, 9, 9)).dropRight(20)
    assert(PngPixelDecoder.decode(trunc) == PngPixelDecoder.Zero)
    val bomb = png(2, 2, 2, _ => 0, (_, _) => Array(1, 2, 3))
    java.nio.ByteBuffer.wrap(bomb).putInt(16, 1 << 20).putInt(20, 1 << 20)
    assert(PngPixelDecoder.decode(bomb) == PngPixelDecoder.Zero) // 3 TiB declared
    assert(PngPixelDecoder.decode(null) == PngPixelDecoder.Zero)
    // dispatch: RasterDecoder routes PNG and BMP by magic; FrameDecoder's
    // full decode is now real for PNG (meta from the verified raster)
    import graft.operators.Multimodal.{FrameDecoder, RasterDecoder}
    assert(RasterDecoder.decode(rgb) == s)
    val fm = FrameDecoder.decode(rgb)
    assert(fm.width == 5 && fm.height == 6 && fm.format == "png")
  }

  // Real-encoder GIFs: ImageIO's writer emits genuine variable-width LZW
  // with dictionary growth and code-width bumps — decode must track the
  // table exactly; an indexed-color source makes the round-trip lossless,
  // so channel means compare strictly.
  test("GifPixelDecoder: LZW decode — encoder round-trip, staged form, KwKwK, rejections") {
    import graft.operators.Multimodal.{FrameDecoder, GifPixelDecoder, RasterDecoder}
    val pal16 = (0 until 16).map(i => (i * 16, (i * 7 + 3) % 256, (255 - i * 13) % 256))
    val cm = new java.awt.image.IndexColorModel(8, 16,
      pal16.map(_._1.toByte).toArray, pal16.map(_._2.toByte).toArray,
      pal16.map(_._3.toByte).toArray)
    val w = 40; val h = 25
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    val idx = Array.tabulate(w * h)(k => (k * 31 + 7) % 16)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, idx(y * w + x))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", baos))
    val real = baos.toByteArray
    val s = GifPixelDecoder.decode(real)
    assert(s.nPixels == w.toLong * h)
    assert(math.abs(s.meanR - idx.map(pal16(_)._1).sum.toDouble / (w * h)) < 1e-12)
    assert(math.abs(s.meanG - idx.map(pal16(_)._2).sum.toDouble / (w * h)) < 1e-12)
    assert(math.abs(s.meanB - idx.map(pal16(_)._3).sum.toDouble / (w * h)) < 1e-12)

    // the staged-oracle form: 128-entry GCT with arithmetic ramps, min code
    // size 7, one clear then aligned literal bytes then EOI — plus a
    // graphic-control extension in front of the descriptor (must be skipped)
    def staged(sw: Int, sh: Int, docId: Int, interlace: Boolean = false,
               gctBits: Int = 6, minCode: Int = 7): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write("GIF89a".getBytes("US-ASCII"))
      b.write(sw & 0xFF); b.write(sw >> 8); b.write(sh & 0xFF); b.write(sh >> 8)
      b.write(0x80 | 0x70 | gctBits); b.write(0); b.write(0)
      for (i <- 0 until (2 << gctBits)) {
        b.write((i * 2) % 256); b.write((i * 2 + 85) % 256); b.write((i * 2 + 170) % 256)
      }
      b.write(0x21); b.write(0xF9); b.write(4)             // graphic control ext
      b.write(0); b.write(0); b.write(0); b.write(0); b.write(0)
      b.write(0x2C); b.write(0); b.write(0); b.write(0); b.write(0)
      b.write(sw & 0xFF); b.write(sw >> 8); b.write(sh & 0xFF); b.write(sh >> 8)
      b.write(if (interlace) 0x40 else 0x00)
      b.write(minCode)
      b.write(sw * sh + 2)                                 // one data sub-block
      b.write(1 << minCode)                                // clear
      for (y <- 0 until sh; x <- 0 until sw) b.write((docId + x * 3 + y * 7) % 128)
      b.write((1 << minCode) + 1)                          // EOI
      b.write(0); b.write(0x3B)
      b.toByteArray
    }
    val st = GifPixelDecoder.decode(staged(5, 4, 17))
    assert(st.nPixels == 20L)
    val exp = for (y <- 0 until 4; x <- 0 until 5) yield (17 + x * 3 + y * 7) % 128
    assert(math.abs(st.meanR - exp.map(i => i * 2 % 256).sum / 20.0) < 1e-12)
    assert(math.abs(st.meanG - exp.map(i => (i * 2 + 85) % 256).sum / 20.0) < 1e-12)
    assert(math.abs(st.meanB - exp.map(i => (i * 2 + 170) % 256).sum / 20.0) < 1e-12)
    // interlace flag changes row layout, not membership — means identical
    assert(GifPixelDecoder.decode(staged(5, 4, 17, interlace = true)) == st)

    // KwKwK: min code 2, codes clear(4),1,6,end(5) — 6 names the entry
    // being defined (prev + its first byte) → pixels [1,1,1]
    def kwkwk: Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write("GIF89a".getBytes("US-ASCII"))
      b.write(3); b.write(0); b.write(1); b.write(0)
      b.write(0x80 | 0x01); b.write(0); b.write(0)         // GCT: 4 entries
      val p4 = Seq((9, 19, 29), (40, 50, 60), (1, 2, 3), (4, 5, 6))
      p4.foreach { case (r, g0, b0) => b.write(r); b.write(g0); b.write(b0) }
      b.write(0x2C); b.write(0); b.write(0); b.write(0); b.write(0)
      b.write(3); b.write(0); b.write(1); b.write(0); b.write(0)
      b.write(2)                                           // min code size
      b.write(2); b.write(0x8C); b.write(0x0B)             // packed 3-bit codes
      b.write(0); b.write(0x3B)
      b.toByteArray
    }
    val kw = GifPixelDecoder.decode(kwkwk)
    assert(kw.nPixels == 3L && kw.meanR == 40.0 && kw.meanG == 50.0 && kw.meanB == 60.0)

    // rejections: never a throw — junk, null, truncated stream, undefined
    // code, index beyond the color table, missing table, declared bomb
    assert(GifPixelDecoder.decode("not a gif".getBytes) == GifPixelDecoder.Zero)
    assert(GifPixelDecoder.decode(null) == GifPixelDecoder.Zero)
    val tr = staged(5, 4, 17)
    assert(GifPixelDecoder.decode(tr.dropRight(6)) == GifPixelDecoder.Zero)
    // undefined code: clear(4) then 7 > dictSize (first data byte is at
    // length-4: [..., blockLen, 0x8C, 0x0B, 0x00, 0x3B])
    val bad = kwkwk
    bad(bad.length - 4) = 0x3C.toByte // bits [001 111 ..] = clear, code 7
    assert(GifPixelDecoder.decode(bad) == GifPixelDecoder.Zero)
    // 4-entry table but min code 7 → literal 50 indexes past the table
    assert(GifPixelDecoder.decode(staged(2, 1, 50, gctBits = 1)) ==
      GifPixelDecoder.Zero)
    val noTable = staged(5, 4, 17)
    noTable(10) = (noTable(10) & 0x7F).toByte // clear GCT flag: indices dangle
    assert(GifPixelDecoder.decode(noTable) == GifPixelDecoder.Zero)
    // decompression bomb: huge declared image-descriptor dims → rejected
    // before any allocation (screen dims are informational, bomb the
    // descriptor's)
    assert({
      val bb = staged(5, 4, 17)
      val desc = 6 + 7 + 128 * 3 + 8 // header + GCT + ext, at 0x2C
      assert(bb(desc) == 0x2C.toByte)
      bb(desc + 5) = 0xFF.toByte; bb(desc + 6) = 0xFF.toByte
      bb(desc + 7) = 0xFF.toByte; bb(desc + 8) = 0xFF.toByte
      GifPixelDecoder.decode(bb) == GifPixelDecoder.Zero   // 4.3 G pixels
    })

    // dispatch: RasterDecoder routes GIF by magic; FrameDecoder's full
    // decode is now real for GIF (meta from the verified raster)
    assert(RasterDecoder.decode(real) == s)
    val fm = FrameDecoder.decode(real)
    assert(fm.width == w && fm.height == h && fm.format == "gif")
  }

  // JPEG via the JDK's built-in codec: the one genuinely codec-bound image
  // format, closed with javax.imageio (part of java.desktop, no external
  // library). Lossy — assertions are tolerance-based where the encoder
  // quantizes, exact where the same codec defines the reference.
  test("JpegPixelDecoder: JDK codec decode — solid tolerance, gradient identity, rejections") {
    import graft.operators.Multimodal.{FrameDecoder, JpegPixelDecoder, JpegStager, RasterDecoder}
    // solid color: constant chroma subsamples losslessly; channel means
    // land within 2 of the staged color (the q_multimodal_pixels_jpeg bound)
    val solid = JpegStager.solid(13, 11, 200, 85, 30)
    val s = JpegPixelDecoder.decode(solid)
    assert(s.nPixels == 143L)
    assert(math.abs(s.meanR - 200) <= 2 && math.abs(s.meanG - 85) <= 2 &&
      math.abs(s.meanB - 30) <= 2)
    // gradient: decode must EQUAL a reference pooling of the same codec's
    // ARGB output (identity against ImageIO.read, not a tolerance)
    val img = new java.awt.image.BufferedImage(
      64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 48; x <- 0 until 64)
      img.setRGB(x, y, ((x * 4) << 16) | ((y * 5) << 8) | ((x + y) & 0xFF))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpeg", bos))
    val jp = bos.toByteArray
    val g = JpegPixelDecoder.decode(jp)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jp))
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until 48; x <- 0 until 64) {
      val v = back.getRGB(x, y)
      sr += (v >> 16) & 0xFF; sg += (v >> 8) & 0xFF; sb += v & 0xFF
    }
    val n = 64.0 * 48
    assert(g.nPixels == 64L * 48 && g.meanR == sr / n && g.meanG == sg / n &&
      g.meanB == sb / n)
    // rejections: junk, null, truncated entropy stream (reader throws →
    // zero row), declared bomb (SOF dims gate BEFORE the codec runs)
    assert(JpegPixelDecoder.decode("not a jpeg".getBytes) == JpegPixelDecoder.Zero)
    assert(JpegPixelDecoder.decode(null) == JpegPixelDecoder.Zero)
    assert(JpegPixelDecoder.decode(jp.take(jp.length / 2)) == JpegPixelDecoder.Zero)
    val bomb = Array[Int](0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x0B, 0x08,
      0xEA, 0x60, 0xEA, 0x60, 0x01, 0x00, 0x00, 0x00).map(_.toByte)
    assert(JpegPixelDecoder.decode(bomb) == JpegPixelDecoder.Zero) // 3.6 G px
    // dispatch: RasterDecoder routes JPEG by magic; FrameDecoder's jpeg arm
    // is now raster-VERIFIED (video is the only remaining seam)
    assert(RasterDecoder.decode(jp) == g)
    val fm = FrameDecoder.decode(jp)
    assert(fm.width == 64 && fm.height == 48 && fm.format == "jpeg")
    assert(FrameDecoder.decode(jp.take(jp.length / 2)) ==
      graft.operators.Multimodal.MediaMeta(0, 0, 0, "jpeg"))
  }

  // MP4 container metadata: a pure ISO BMFF structure parse (no codec) —
  // box-size accounting, 16.16 fixed-point dims, stts sample summing, and
  // the corrupt-container rejections.
  test("HeaderDecoder: MP4 box walk — dims, multi-entry stts, v1/corrupt rejections") {
    import graft.operators.Multimodal.HeaderDecoder
    def be32(v: Int): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ typ.getBytes("US-ASCII") ++ payload
    val matrix = be32(0x00010000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000) ++ be32(0) ++ be32(0) ++ be32(0) ++ be32(0x40000000)
    def tkhd(w: Int, h: Int, version: Int = 0): Array[Byte] = box("tkhd",
      Array[Byte](version.toByte, 0, 0, 7) ++ be32(0) ++ be32(0) ++ be32(1) ++
      be32(0) ++ be32(4000) ++ new Array[Byte](8) ++ new Array[Byte](8) ++
      matrix ++ be32(w << 16) ++ be32(h << 16))
    // two stts entries: 30 + 12 samples — the sum is the frame count
    val stts = box("stts", be32(0) ++ be32(2) ++
      be32(30) ++ be32(1) ++ be32(12) ++ be32(1))
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++
      be32(4000) ++ be32(0x00010000) ++ Array[Byte](1, 0) ++ new Array[Byte](10) ++
      matrix ++ new Array[Byte](24) ++ be32(2))
    def mp4(tk: Array[Byte]): Array[Byte] =
      box("ftyp", "isom".getBytes ++ be32(0)) ++
        box("moov", mvhd ++ box("trak",
          tk ++ box("mdia", box("minf", box("stbl", stts)))))
    val good = mp4(tkhd(640, 360))
    val m = HeaderDecoder.decode(good)
    assert(m == graft.operators.Multimodal.MediaMeta(640, 360, 42, "mp4"))
    // FrameDecoder passes mp4 through as the documented UNVERIFIED seam
    assert(graft.operators.Multimodal.FrameDecoder.decode(good) == m)
    // v1 tkhd (64-bit times, different offsets) is skipped → no dims
    assert(HeaderDecoder.decode(mp4(tkhd(640, 360, version = 1))).format == "unknown")
    // truncated container: moov declares past EOF
    assert(HeaderDecoder.decode(good.dropRight(30)).format == "unknown")
    // 64-bit largesize box (size == 1) rejects
    val large = good.clone()
    System.arraycopy(be32(1), 0, large, 16, 4) // moov size → largesize marker
    assert(HeaderDecoder.decode(large).format == "unknown")
    // size < 8 (cursor would stall) rejects
    val stall = good.clone()
    System.arraycopy(be32(4), 0, stall, 16, 4)
    assert(HeaderDecoder.decode(stall).format == "unknown")
  }

  // MJPEG MP4: real frame decode through the sample tables — every frame
  // is an independent JPEG, so the JDK codec verifies video content with
  // no ffmpeg; the table walk (stsd/stsz/stsc/stco) must locate each
  // frame's byte range exactly.
  test("MjpegDecoder: sample-table walk + per-frame JDK decode, rejections") {
    import graft.operators.Multimodal.{FrameDecoder, HeaderDecoder, MjpegDecoder, MjpegStager}
    def be32(v: Int): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val colors = Seq((200, 40, 90), (10, 250, 130), (60, 60, 60))
    val mp4 = MjpegStager.stage(16, 12, colors)
    // header walk reads the same container: dims from tkhd, frames from stts
    val hm = HeaderDecoder.decode(mp4)
    assert(hm == graft.operators.Multimodal.MediaMeta(16, 12, 3, "mp4"))
    assert(MjpegDecoder.isMjpeg(mp4))
    // sample ranges: 3 contiguous frames in one chunk, each a JPEG (SOI)
    val ranges = MjpegDecoder.sampleRanges(mp4)
    assert(ranges.length == 3)
    assert(ranges.sliding(2).forall { case Array((o1, l1), (o2, _)) => o1 + l1 == o2 })
    assert(ranges.forall { case (o, _) =>
      (mp4(o.toInt) & 0xFF) == 0xFF && (mp4(o.toInt + 1) & 0xFF) == 0xD8 })
    // decoded frames pool: per-channel means within the solid-JPEG bound
    // of the staged colors' average
    val v = MjpegDecoder.decode(mp4)
    assert(v.nFramesDecoded == 3 && v.nPixels == 3L * 16 * 12)
    assert(math.abs(v.meanR - colors.map(_._1).sum / 3.0) <= 2)
    assert(math.abs(v.meanG - colors.map(_._2).sum / 3.0) <= 2)
    assert(math.abs(v.meanB - colors.map(_._3).sum / 3.0) <= 2)
    // FrameDecoder's video arm: MJPEG is now VERIFIED (meta on success,
    // zero row when a declared-MJPEG frame fails to decode)
    assert(FrameDecoder.decode(mp4) == hm)
    val corrupt = mp4.clone()
    // zero out the middle of frame 2's entropy stream
    val (o2, l2) = ranges(1)
    java.util.Arrays.fill(corrupt, o2.toInt + l2 / 2, o2.toInt + l2, 0.toByte)
    assert(MjpegDecoder.decode(corrupt) == MjpegDecoder.Zero)
    assert(FrameDecoder.decode(corrupt) ==
      graft.operators.Multimodal.MediaMeta(0, 0, 0, "mp4"))
    // non-MJPEG codec fourcc: isMjpeg false, decode Zero, FrameDecoder
    // passes the header metadata through (the documented ffmpeg seam)
    val h264 = mp4.clone()
    val stsdIdx = indexOfAscii(h264, "stsd")
    System.arraycopy("avc1".getBytes("US-ASCII"), 0, h264, stsdIdx + 16, 4)
    assert(!MjpegDecoder.isMjpeg(h264) && MjpegDecoder.decode(h264) == MjpegDecoder.Zero)
    assert(FrameDecoder.decode(h264) == hm)
    // corrupt tables: truncated payload (ranges escape), junk, null
    assert(MjpegDecoder.decode(mp4.take(mp4.length / 3)) == MjpegDecoder.Zero)
    assert(MjpegDecoder.decode("not an mp4".getBytes) == MjpegDecoder.Zero)
    assert(MjpegDecoder.decode(null) == MjpegDecoder.Zero)
    // chunk offset pointing past EOF rejects (no throw)
    val badOff = mp4.clone()
    val stcoIdx = indexOfAscii(badOff, "stco")
    System.arraycopy(be32(mp4.length + 100), 0, badOff, stcoIdx + 12, 4)
    assert(MjpegDecoder.decode(badOff) == MjpegDecoder.Zero)
  }

  private def indexOfAscii(p: Array[Byte], s: String): Int = {
    val pat = s.getBytes("US-ASCII")
    (0 to p.length - pat.length).find(i => pat.indices.forall(k => p(i + k) == pat(k))).get
  }

  // Perceptual image hash: the property that makes it the image-dedup
  // fingerprint — invariant under lossless re-encode, stable under lossy
  // re-encode, local under small edits.
  test("DHash + imageNearDup: re-encode invariance, one-pixel locality, pairs") {
    import graft.operators.Multimodal.DHash
    import java.awt.image.BufferedImage
    def img(w: Int, h: Int, f: (Int, Int) => Int): BufferedImage = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y) & 0xFF
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    def enc(im: BufferedImage, fmt: String): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(im, fmt, b))
      b.toByteArray
    }
    val base = img(18, 16, (x, y) => (x * 13 + y * 29) % 256)
    val png = enc(base, "png"); val bmp = enc(base, "bmp"); val jpg = enc(base, "jpeg")
    val hPng = DHash.hash(png).get
    // lossless re-encode (png == bmp pixels): IDENTICAL hash
    assert(DHash.hash(bmp).get == hPng)
    // lossy jpeg re-encode: near, not equal-by-luck-required
    assert(java.lang.Long.bitCount(hPng ^ DHash.hash(jpg).get) <= 6)
    // one-pixel edit feeds one cell → moves at most bit (0,0)
    val pert = img(18, 16, (x, y) =>
      if (x == 0 && y == 0) 120 else (x * 13 + y * 29) % 256)
    assert(java.lang.Long.bitCount(hPng ^ DHash.hash(enc(pert, "png")).get) <= 1)
    // rejections: junk, null, sub-grid raster, and a truncated-magic blob
    // (9 bytes of GIF header — must drop out, never throw from the task)
    assert(DHash.hash("not an image".getBytes).isEmpty)
    assert(DHash.hash(null).isEmpty)
    assert(DHash.hash(enc(img(4, 4, (_, _) => 9), "png")).isEmpty)
    assert(DHash.hash("GIF87a   ".getBytes("ISO-8859-1")).isEmpty)
    assert(graft.operators.Multimodal.HeaderDecoder
      .decode("GIF89a12".getBytes).format == "unknown")
    // pairs: cross-FORMAT dup found at Hamming 0; jpeg re-encode pairs
    // near; unrelated and undecodable rows pair with nothing
    import spark.implicits._
    val other = enc(img(18, 16, (x, y) => (x * 91 + y * 57 + 31) % 256), "png")
    val df = Seq((1L, png), (2L, bmp), (3L, jpg), (4L, other),
      (5L, "junk".getBytes)).toDF("id", "bin")
    val pairs = Dedup.imageNearDup(df, "id", "bin", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)))
    assert(pairs.exists(p => p._2 == 3L && p._3 <= 6L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  // Audio energy-profile hash: representation-invariant (the same waveform
  // at 8-bit and 16-bit depth hashes identically — amplitudes scale by an
  // exact factor, every window comparison is preserved), local under a
  // one-window edit.
  test("AudioHash: depth invariance, window locality, pairs, rejections") {
    import graft.operators.Multimodal.AudioHash
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def wav(samples: Array[Int], bits: Int): Array[Byte] = {
      val data = if (bits == 8) samples.map(v => (v & 0xFF).toByte)
        else samples.flatMap(v => le16((v - 128) * 256))
      val b = new java.io.ByteArrayOutputStream()
      b.write("RIFF".getBytes); b.write(le32(36 + data.length)); b.write("WAVE".getBytes)
      b.write("fmt ".getBytes); b.write(le32(16))
      b.write(le16(1)); b.write(le16(1)); b.write(le32(8000))
      b.write(le32(8000 * bits / 8)); b.write(le16(bits / 8)); b.write(le16(bits))
      b.write("data".getBytes); b.write(le32(data.length)); b.write(data.toArray)
      b.toByteArray
    }
    val base = Array.tabulate(130)(i => (37 + i * 7) % 256)
    val h8 = AudioHash.hash(wav(base, 8)).get
    // same waveform, 16-bit depth: amplitudes scale by exactly 256 →
    // identical comparisons, identical hash
    assert(AudioHash.hash(wav(base, 16)).get == h8)
    // one-window edit (samples 0-1 feed only window 0 → only bit 0)
    val pert = base.clone(); pert(0) = (pert(0) + 60) % 256; pert(1) = (pert(1) + 60) % 256
    assert(java.lang.Long.bitCount(h8 ^ AudioHash.hash(wav(pert, 8)).get) <= 1)
    // rejections: junk, null, too-short, non-PCM fmt code
    assert(AudioHash.hash("not a wav".getBytes).isEmpty)
    assert(AudioHash.hash(null).isEmpty)
    assert(AudioHash.hash(wav(base.take(40), 8)).isEmpty)
    val nonPcm = wav(base, 8); nonPcm(20) = 2 // fmt code 2 (ADPCM)
    assert(AudioHash.hash(nonPcm).isEmpty)
    // pairs: cross-DEPTH dup at Hamming 0; unrelated clip doesn't pair
    import spark.implicits._
    val other = Array.tabulate(130)(i => (i * 83 + 11) % 256)
    val df = Seq((1L, wav(base, 8)), (2L, wav(base, 16)), (3L, wav(pert, 8)),
      (4L, wav(other, 8)), (5L, "junk".getBytes)).toDF("id", "bin")
    val pairs = Dedup.audioNearDup(df, "id", "bin", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 <= 1L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("NfcNormalize: composes decomposed sequences, idempotent, null-safe, by name") {
    import graft.functions.GraftFns
    import spark.implicits._
    GraftFns.register(spark)
    val decomposed = "CAFe\u0301 and A\u030A" // e+COMBINING ACUTE, A+RING
    val composed = "CAF\u00E9 and \u00C5"
    val df = Seq(Some(decomposed), Some(composed), None).toDF("s")
    val out = df.select(TextFns.nfc(col("s")).as("n")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(out(0) == composed && out(1) == composed && out(2) == null)
    // by-name SQL resolves to the same expression
    df.createOrReplaceTempView("nfc_in")
    assert(spark.sql("SELECT nfc_normalize(s) FROM nfc_in WHERE s IS NOT NULL")
      .collect().map(_.getString(0)).toSeq == Seq(composed, composed))
    // codepoint length drops by the two composed pairs
    assert(decomposed.codePointCount(0, decomposed.length) ==
      composed.codePointCount(0, composed.length) + 2)
  }

  test("rolling hash is stable and collision-free on the corpus") {
    val d = Tables(spark, dir, "documents")
    val hashes = d.select(TextFns.rollingHash(col("text")).as("h")).collect().map(_.getLong(0))
    assert(hashes.distinct.length == hashes.length)
    val again = d.select(TextFns.rollingHash(col("text")).as("h")).collect().map(_.getLong(0))
    assert(hashes.toSeq == again.toSeq)
  }

  /** Both paths of [[Dedup.clusters]]: the default bound
    * takes the one-plan union-find, a zero bound the round loop. */
  private val clusterPaths = Seq(
    "" -> Dedup.UnionFindMaxBytes, " (round loop)" -> BigInt(0))

  for ((path, bound) <- clusterPaths)
  test("cluster resolution matches union-find on seeded random graphs; log-round chains" + path) {
    import spark.implicits._
    def clusters(edges: Seq[(Long, Long)]) = Dedup
      .clustersBounded(edges.toDF("a_id", "b_id"), "a_id", "b_id", 25, bound)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(x => x -> find(x)).toMap
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 60 + trial * 40
      val random = (0 until n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }
      // self-loops (a node of its own), duplicate and reversed edges
      val loops = (0 until 5).map(_ => rnd.nextInt(2 * n).toLong).map(v => (v, v))
      val edges = rnd.shuffle(random ++ loops ++ random.take(10) ++
        random.takeRight(10).map(_.swap))
      val got = clusters(edges)
      assert(got.length == got.map(_._1).distinct.length, s"trial $trial: duplicate ids")
      assert(got.toMap == unionFind(edges), s"trial $trial")
    }
    // 120-node path graph, shuffled: diameter 119 — the loop converges
    // only because of the pointer jump (plain hash-min would exhaust the
    // 25-round bound)
    val chain = rnd.shuffle((0L until 119L).map(i => (i, i + 1)))
    val labels = clusters(chain)
    assert(labels.length == 120 && labels.forall(_._2 == 0L))
    assert(graft.sql.ScaleWarnings.recentWarnings
      .forall(!_.contains("Dedup.clusters"))) // converged inside the bound
    // determinism
    assert(labels.sortBy(_._1).toSeq == clusters(chain).sortBy(_._1).toSeq)
  }

  test("clusters gate: the union-find bound splits on the pair plan's size estimate") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val size = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(Dedup.fitsUnionFind(edges, size))
    assert(!Dedup.fitsUnionFind(edges, size - 1))
    // an RDD-backed leaf has no size estimate: it never takes union-find
    val unknown = spark.createDataFrame(edges.rdd, edges.schema)
    assert(!Dedup.fitsUnionFind(unknown, Dedup.UnionFindMaxBytes))
    // the corpus pair plan of q_dedup_clusters sits under the bound
    val corpus = SparkEntry.queries("q_dedup_clusters")(spark, dir)
    assert(corpus.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r }.isEmpty,
      "q_dedup_clusters took the checkpointing round loop")
    // either side of the bound gives the same labels; only the loop
    // leaves a checkpointed RDD at the root of the plan
    def run(bound: BigInt) = Dedup.clustersBounded(edges, "a", "b", 25, bound)
    val (uf, loop) = (run(size), run(size - 1))
    assert(uf.collect().toSet == loop.collect().toSet)
    assert(uf.queryExecution.optimizedPlan.collectFirst {
      case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m }.nonEmpty)
    assert(loop.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r }.nonEmpty)
  }

  test("canonical per cluster: longest text wins, min-id tie-break, singletons survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa bbbb cccc", "s1"),   // cluster {1,2,3}: longest is 1 (tie w/ 2 → min id)
      (2L, "aaaa bbbb cccc", "s2"),
      (3L, "aaaa bbbb", "s3"),
      (7L, "zz", "s4"),               // cluster {7,8}: 8 longer
      (8L, "zzzz yyyy", "s5"),
      (9L, "solo document", "s6")     // unclustered singleton
    ).toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val labels = graft.operators.Dedup.clusters(pairs, "a_id", "b_id")
    val kept = graft.operators.Dedup.canonical(docs, "doc_id", "text", labels)
      .select("cluster_id", "keep_id", "n_members", "source")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(kept.toSeq == Seq(
      (1L, 1L, 3L, "s1"),   // ties on length → min id
      (7L, 8L, 2L, "s5"),   // longer text wins
      (9L, 9L, 1L, "s6")))  // singleton kept as itself
  }

  test("curation pipeline: wide text column never enters a shuffle (100 TB shape)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE wraps the plan in AdaptiveSparkPlanExec whose collect() doesn't
    // descend; audit the static plan
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q_pipeline_curation")(spark, dir)
      val shuffles = df.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.nonEmpty)
      // per-document text is consumed map-side; only (fp, source, predicted,
      // n_tokens)-width rows may cross the wire
      assert(shuffles.forall(s => !s.output.exists(_.name == "text")),
        shuffles.map(_.output.map(_.name).mkString(",")).mkString(" | "))
      // and the result is still correct
      val rows = df.collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getLong(2) > 0))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("minhash LSH: banding/candidate shuffles never carry token or signature arrays") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables(spark, dir, "documents")
      val df = graft.operators.Dedup.minHashLsh(
        docs, "doc_id", "text", numHashes = 32, bands = 8, threshold = 0.7)
      val shuffles = df.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.nonEmpty)
      // the ×bands explode and the candidate self-join move (band, band_key,
      // id, sz) rows only: signatures are projected away BEFORE any
      // exchange, raw text before everything. Token arrays may cross the
      // wire at most twice — the verification join's two sides (at this SF
      // they broadcast instead; at scale each side shuffles once, the
      // documented cost). More than that is the wide-shuffle regression the
      // SCALE.md contract forbids.
      assert(!shuffles.exists(_.output.exists(a =>
        a.name == "sig" || a.name == "text")),
        shuffles.map(_.output.map(_.name).mkString(",")).mkString(" | "))
      val toksShuffles = shuffles.count(_.output.exists(a =>
        a.name == "toks" || a.name == "a_toks" || a.name == "b_toks"))
      assert(toksShuffles <= 2, s"token arrays crossed $toksShuffles shuffles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("hashSplit/shardOrder: exhaustive, growth-stable split; reproducible shards") {
    import graft.operators.Sampling
    import spark.implicits._
    val d = Tables(spark, dir, "documents")
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val full = Sampling.hashSplit(d, "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // exhaustive: every doc gets exactly one label; rough proportions hold
    assert(full.size == d.count())
    assert(full.values.count(_ == "train").toDouble / full.size > 0.8)
    // GROWTH-STABLE: splitting only half the corpus assigns each doc the
    // SAME label it gets in the full corpus — eval sets never migrate
    val half = Sampling.hashSplit(d.filter(col("doc_id") % 2 === 0), "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(half.forall { case (id, s) => full(id) == s })
    // weights must sum to 1
    intercept[IllegalArgumentException](
      Sampling.hashSplit(d, "doc_id", Seq("a" -> 0.5, "b" -> 0.4)))
    // shardOrder: every row exactly once, positions contiguous from 1 per
    // shard, byte-identical across runs
    val sh1 = Sampling.shardOrder(d, "doc_id", 8)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect().sorted
    assert(sh1.length == full.size)
    sh1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    val sh2 = Sampling.shardOrder(d, "doc_id", 8)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect().sorted
    assert(sh1.toSeq == sh2.toSeq)
  }

  test("selectBudget: exact greedy prefix, boundary inclusion, zero budget") {
    import spark.implicits._
    import graft.operators.Sampling
    // scores 5,4,3,2,1 with cost 10 each: budget 30 keeps exactly the top 3
    val d = Seq((1L, 5L, 10L), (2L, 4L, 10L), (3L, 3L, 10L),
      (4L, 2L, 10L), (5L, 1L, 10L)).toDF("id", "score", "cost")
    def ids(budget: Long) = Sampling.selectBudget(d, "id", "score", "cost", budget)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids(30) == Seq(1L, 2L, 3L)) // boundary row INCLUDED (cum == budget)
    assert(ids(29) == Seq(1L, 2L))     // one under the boundary excludes it
    assert(ids(0) == Seq.empty)
    assert(ids(1000) == Seq(1L, 2L, 3L, 4L, 5L))
    // ties on score break by id: same-score rows admit lowest ids first
    val t = Seq((9L, 7L, 10L), (2L, 7L, 10L), (5L, 7L, 10L)).toDF("id", "score", "cost")
    assert(Sampling.selectBudget(t, "id", "score", "cost", 20L)
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 5L))
    intercept[IllegalArgumentException](
      Sampling.selectBudget(d, "id", "score", "cost", -1L))
  }

  test("Sampling: deterministic, growth-stable, exact strata counts, mixture proportions") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (1L to 2000L).map(i =>
      (i, s"s${i % 7}", if (i % 10 < 6) "en" else if (i % 10 < 8) "de" else "fr"))
      .toDF("doc_id", "source", "lang")
    // hashSample: rate approximately honored, and rerun-identical
    val s1 = Sampling.hashSample(docs, "doc_id", 0.3).select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.hashSample(docs, "doc_id", 0.3).select("doc_id").as[Long].collect().toSet
    assert(s1 == s2 && math.abs(s1.size / 2000.0 - 0.3) < 0.05)
    // growth stability: a doc's verdict never changes when the corpus
    // grows (the property rand(seed) does NOT have — it depends on row
    // order within partitions)
    val grown = Sampling.hashSample(docs.limit(500), "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(grown == s1.filter(_ <= 500))
    // stratifiedK: exactly k per stratum, subset-of-corpus, deterministic
    val strat = Sampling.stratifiedK(docs, Seq("source"), "doc_id", 10)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(strat.values.toSet == Set(10L) && strat.size == 7)
    // mixture: proportions land near target, no stratum oversampled, and
    // the largest-total property (the binding stratum samples ~fully)
    val mixed = Sampling.mixture(docs, "lang", "doc_id",
      Map("en" -> 0.2, "de" -> 0.4, "fr" -> 0.4))
    val byLang = mixed.groupBy("lang").count().as[(String, Long)].collect().toMap
    val total = byLang.values.sum.toDouble
    // binding stratum: de (400 docs / 0.4 weight = min ratio with fr)
    assert(math.abs(byLang("en") / total - 0.2) < 0.06)
    assert(math.abs(byLang("de") / total - 0.4) < 0.06)
    assert(math.abs(byLang("fr") / total - 0.4) < 0.06)
    assert(byLang("de") <= 400 && byLang("fr") <= 400)
    // weight-0 strata drop entirely
    val dropped = Sampling.mixture(docs, "lang", "doc_id", Map("en" -> 1.0))
    assert(dropped.select("lang").distinct().as[String].collect().toSeq == Seq("en"))
  }

  test("Sampling/Packing plans: gates are map-side, one stratum shuffle (100 TB shape)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.{Packing, Sampling}
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = (1L to 100L).map(i => (i, s"s${i % 3}", 100L)).toDF("doc_id", "source", "len")
      def shuffles(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
      // hashSample: pure filter over the scan — zero exchanges
      assert(shuffles(Sampling.hashSample(docs, "doc_id", 0.5)).isEmpty)
      // mixture: the corpus side must NOT shuffle — only post-aggregate
      // relations (one row per stratum) may exchange, and the corpus is
      // scanned exactly once for the counts (no doc_id/len in any exchange)
      val mixPlan = Sampling.mixture(docs, "source", "doc_id",
        Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2))
      val mixEx = shuffles(mixPlan)
      assert(mixEx.size <= 2 && mixEx.forall(s =>
        !s.output.exists(a => a.name == "doc_id" || a.name == "len")),
        mixPlan.queryExecution.executedPlan.toString.take(2000))
      // stratifiedK / offsetPack / binPack: exactly one exchange, on the
      // stratum key (binPack's fold is in-partition after the sort)
      Seq(Sampling.stratifiedK(docs, Seq("source"), "doc_id", 5),
          Packing.offsetPack(docs, Seq("source"), "doc_id", "len", 1000L),
          Packing.binPack(docs, Seq("source"), "doc_id", "len", 1000L))
        .foreach { df =>
          val ex = shuffles(df)
          assert(ex.size == 1 && ex.head.outputPartitioning.toString.contains("source"),
            df.queryExecution.executedPlan.toString.take(2000))
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("Packing.offsetPack: packs are contiguous, budget-filled, straddle-bounded") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1L to 1000L).map(i =>
      (i, s"s${i % 4}", 50L + rnd.nextInt(400)))
      .toDF("doc_id", "source", "len")
    val budget = 2048L
    val packed = graft.operators.Packing.offsetPack(docs, Seq("source"), "doc_id", "len", budget)
      .select($"source", $"doc_id", $"len", $"pack_id")
      .as[(String, Long, Long, Long)].collect()
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val byId = rows.sortBy(_._2)
      // replay the layout: each doc's start offset determines its pack
      var off = 0L
      byId.foreach { case (_, _, len, pack) =>
        assert(pack == off / budget)
        off += len
      }
      // packs are contiguous from 0, and every pack except the last spans
      // its budget (sum of lens >= budget - maxLen straddle slack)
      val packs = byId.map(_._4).distinct.sorted
      assert(packs.head == 0L && packs.toVector == (0L to packs.last).toVector)
      val maxLen = byId.map(_._3).max
      byId.groupBy(_._4).filter(_._1 < packs.last).foreach { case (_, ds) =>
        assert(ds.map(_._3).sum >= budget - maxLen)
      }
    }
  }

  test("Packing.binPack: no straddle, greedy-closed bins, partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // lengths include oversize docs (> budget) and zero-length docs
    val docs = (1L to 1200L).map { i =>
      val len = rnd.nextInt(10) match {
        case 0 => 0L
        case 9 => 2500L + rnd.nextInt(1000) // oversized: own bin
        case _ => 50L + rnd.nextInt(700)
      }
      (i, s"s${i % 5}", len)
    }.toDF("doc_id", "source", "len")
    val budget = 2048L
    def collect(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Packing.binPack(df, Seq("source"), "doc_id", "len", budget)
        .select($"source", $"doc_id", $"len", $"bin_id")
        .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val packed = collect(docs)
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val byId = rows.sortBy(_._2)
      // replay the reference left fold
      var bin = 0L; var fill = 0L
      byId.foreach { case (_, _, len, got) =>
        if (fill > 0L && fill + len > budget) { bin += 1; fill = len }
        else fill += len
        assert(got == bin)
      }
      // no bin with 2+ NONEMPTY docs exceeds the budget (an oversize doc
      // shares a bin only with zero-length docs, which add no content)
      byId.groupBy(_._4).foreach { case (_, ds) =>
        if (ds.count(_._3 > 0) > 1) assert(ds.map(_._3).sum <= budget)
      }
      // bins are contiguous from 0
      val bins = byId.map(_._4).distinct.sorted
      assert(bins.head == 0L && bins.toVector == (0L to bins.last).toVector)
    }
    // assignment is a pure function of the data — any input partitioning
    // (including a pathological single partition and a scrambled order)
    // yields the identical layout
    assert(collect(docs.repartition(1)).toSeq == packed.toSeq)
    assert(collect(docs.orderBy(org.apache.spark.sql.functions.rand(3)))
      .toSeq == packed.toSeq)
  }
}
