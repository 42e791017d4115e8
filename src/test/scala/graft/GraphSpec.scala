package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bloom, Graph}

/** Specs for the link-graph operators (Graph.pageRank / Graph.degrees) and
  * the bloom-pruned membership joins (Bloom.semiJoin / Bloom.antiJoin).
  *
  * Rank values are checked against HAND-COMPUTED fixed-point traces and a
  * driver-side reference (`referenceRank`) — the arithmetic is exact
  * integers, so equality is literal, not tolerance-based.
  */
class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // 1→2, 1→3, 2→1; node 3 is dangling (no out-edges).
  private def triangle = Seq((1L, 2L), (1L, 3L), (2L, 1L)).toDF("src", "dst")

  test("pageRank matches the hand-computed fixed-point trace") {
    // scale 1e6, damping 85 ⇒ base = 150000.
    // iter1: contrib(2)=contrib(3)=1e6 div 2 = 500000; contrib(1)=1e6.
    //   r1 = (1)->1000000, (2)->575000, (3)->575000
    // iter2: contrib(2)=contrib(3)=500000; contrib(1)=575000.
    //   r2(1) = 150000 + (85*575000) div 100 = 638750; r2(2)=r2(3)=575000
    val r1 = Graph.pageRank(triangle, "src", "dst", iters = 1,
        dampingPct = 85, scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 1000000L, 2L -> 575000L, 3L -> 575000L))
    val r2 = Graph.pageRank(triangle, "src", "dst", iters = 2,
        dampingPct = 85, scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 638750L, 2L -> 575000L, 3L -> 575000L))
  }

  test("pageRank iters=0 returns the uniform start vector; typed arg errors") {
    val r0 = Graph.pageRank(triangle, "src", "dst", iters = 0, scale = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r0 == Map(1L -> 7L, 2L -> 7L, 3L -> 7L))
    intercept[IllegalArgumentException](
      Graph.pageRank(triangle, "src", "dst", iters = -1))
    intercept[IllegalArgumentException](
      Graph.pageRank(triangle, "src", "dst", iters = 1, dampingPct = 101))
    intercept[IllegalArgumentException](
      Graph.pageRank(triangle, "src", "dst", iters = 1, scale = 0L))
  }

  test("pageRank total mass is conserved minus dangling/rounding leaks") {
    // With no dangling nodes and damping 100, mass only leaks via the
    // integer-division remainders — bounded by deg per node per iteration.
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val total = Graph.pageRank(cycle, "src", "dst", iters = 4,
        dampingPct = 100, scale = 1000000L)
      .agg(sum("rank")).first().getLong(0)
    assert(total == 3000000L) // deg=1 everywhere: div is exact, zero leak
  }

  test("weighted pageRank splits out-mass proportionally to edge weight") {
    // 1→2 w=3, 1→3 w=1, 2→1 w=2; scale 1e6, damping 85 ⇒ base 150000.
    // deg(1)=4, deg(2)=2. iter1: share(1)=250000 ⇒ contrib(2)=750000,
    // contrib(3)=250000; share(2)=500000 ⇒ contrib(1)=1000000.
    // r1 = (1000000, 787500, 362500)
    val wEdges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 2L))
      .toDF("src", "dst", "w")
    val r1 = graft.operators.Graph.pageRank(wEdges, "src", "dst", iters = 1,
        dampingPct = 85, scale = 1000000L, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 1000000L, 2L -> 787500L, 3L -> 362500L))
    // all-ones weights ≡ the unweighted path, bit for bit
    val ones = triangle.withColumn("w", lit(1L))
    val a = graft.operators.Graph.pageRank(ones, "src", "dst", iters = 3,
        scale = 1000000L, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = graft.operators.Graph.pageRank(triangle, "src", "dst", iters = 3,
        scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("trustRank injects mass only at seeds; far nodes stay at zero") {
    // chain 1→2→3→4; seed {1}; scale 1e6, damping 85 ⇒ base 150000.
    // r0 = (1e6, 0, 0, 0)
    // r1: contrib(2)=1e6; r1 = (150000, 850000, 0, 0)
    // r2: contrib(2)=150000, contrib(3)=850000;
    //     r2 = (150000, 127500, 722500, 0)   — node 4 still untouched
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("s")
    val r2 = graft.operators.Graph.trustRank(chain, "src", "dst", seeds, "s",
        iters = 2, dampingPct = 85, scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L, 4L -> 0L))
    // seeds not present in the graph are ignored, not invented as nodes
    val phantom = Seq(Tuple1(99L)).toDF("s")
    val rp = graft.operators.Graph.trustRank(chain, "src", "dst", phantom, "s",
        iters = 1, dampingPct = 85, scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rp == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    // seeds start at `scale` even when the base rounds to 0:
    // scale 10, damping 95 ⇒ base 0; r1: contrib(2) = 10 ⇒ (95*10) div 100 = 9
    val rz = graft.operators.Graph.trustRank(chain, "src", "dst", seeds, "s",
        iters = 1, dampingPct = 95, scale = 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rz == Map(1L -> 0L, 2L -> 9L, 3L -> 0L, 4L -> 0L))
    intercept[IllegalArgumentException](graft.operators.Graph.trustRank(
      chain, "src", "dst", seeds, "s", iters = 1, dampingPct = 100))
  }

  test("weighted pageRank rejects zero/negative/NULL weights with a typed per-row error") {
    // silent behavior would be NULL division → contributions vanish and
    // ranks come out wrong; the operator must fail loudly instead
    for (bad <- Seq(0L, -3L)) {
      val edges = Seq((1L, 2L, 5L), (2L, 1L, bad)).toDF("src", "dst", "w")
      val ex = intercept[Exception](Graph.pageRank(edges, "src", "dst",
        iters = 1, scale = 1000000L, weightCol = Some("w")).collect())
      assert(ex.getMessage.contains("positive"), ex.getMessage)
    }
    val withNull = Seq((1L, Some(5L)), (2L, None))
      .toDF("src", "w").withColumn("dst", col("src") + 1L)
    val exN = intercept[Exception](Graph.pageRank(withNull, "src", "dst",
      iters = 1, scale = 1000000L, weightCol = Some("w")).collect())
    assert(exN.getMessage.contains("positive"), exN.getMessage)
  }

  test("tolPm epsilon stopping halts early on a converged graph and is off by default") {
    // deg=1 cycle at damping 100: every generation equals the start vector
    // exactly, so the first delta check (i=8, comparing generations 7 and
    // 8) sees delta 0 and stops — the hard cap of 64 is not run.
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cRun = Graph.rankRun(cycle, "src", "dst", None, iters = 64,
        dampingPct = 100, scale = 1000000L, weightCol = None, tolPm = Some(1L))
    val converged = cRun.ranks
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cRun.iters == 8, s"expected early stop at 8, ran ${cRun.iters}")
    assert(converged == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    // without tolPm the same call runs all 64 iterations (and matches)
    val fRun = Graph.rankRun(cycle, "src", "dst", None, iters = 64,
        dampingPct = 100, scale = 1000000L, weightCol = None, tolPm = None)
    val full = fRun.ranks
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fRun.iters == 64)
    assert(full == converged)
    // trustRank: seed chain converges to the exact fixed point fast; the
    // epsilon stop returns the same ranks as the full run
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("s")
    val tRun = Graph.rankRun(chain, "src", "dst", Some(seeds.select(col("s").as("node"))),
        iters = 64, dampingPct = 85, scale = 1000000L, weightCol = None, tolPm = Some(1L))
    val tEps = tRun.ranks
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tIters = tRun.iters
    assert(tIters < 64, s"expected early stop, ran $tIters")
    val tFull = Graph.trustRank(chain, "src", "dst", seeds, "s", iters = 64,
        dampingPct = 85, scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tEps == tFull)
    intercept[IllegalArgumentException](Graph.pageRank(cycle, "src", "dst",
      iters = 1, tolPm = Some(0L)))
  }

  test("tolPm: a period-2 rank oscillation is NOT reported as converged") {
    // a↔b 2-cycle with a third node feeding a, damping 100 (no teleport
    // mass): ranks cycle (2s,s,0) ↔ (s,2s,0) forever with period 2 — a
    // checkpoint-SPAN delta (gen i vs i-8) reads 0 on every check because
    // 2 divides 8, falsely reporting convergence; the consecutive-
    // generation delta (i vs i-1) reads s and must run to the hard cap.
    val osc = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val run = Graph.rankRun(osc, "src", "dst", None, iters = 40,
        dampingPct = 100, scale = 1000000L, weightCol = None, tolPm = Some(1L))
    val r = run.ranks
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run.iters == 40,
      s"oscillation falsely converged at ${run.iters}")
    // gen 40 (even) == gen 2: a=s, b=2s, c=0
    assert(r == Map(1L -> 1000000L, 2L -> 2000000L, 3L -> 0L), r.toString)
  }

  test("degrees counts both directions with zero-filled missing sides") {
    val d = Graph.degrees(triangle, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(d == Map(
      1L -> ((2L, 1L, 3L)),
      2L -> ((1L, 1L, 2L)),
      3L -> ((0L, 1L, 1L))))
  }

  /** Driver-side reference of the documented rank formula over weighted
    * edges `(src, dst, w)` (w = 1 for unweighted runs): a node splits its
    * rank as `(rank div sum_out_w) * w`, dangling mass is dropped, parallel
    * edges count multiply, `next = b + (dampingPct * sum_in) div 100` with
    * `b = scale*(100-dampingPct)/100` on seeded nodes and 0 elsewhere, and
    * seeded nodes start at `scale`, the rest at 0 (`seeds = None` seeds
    * every node). With `tolPm`, at `i % 8 == 0 && i < iters` the loop stops
    * when no rank moved by more than `scale*tolPm/1000` from generation
    * i-1 to i. */
  private def referenceRank(edges: Seq[(Long, Long, Long)], seeds: Option[Set[Long]],
                            iters: Int, dampingPct: Int, scale: Long,
                            tolPm: Option[Long]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outW = edges.groupMapReduce(_._1)(_._3)(_ + _)
    val seeded: Long => Boolean = v => seeds.forall(_(v))
    val base = scale * (100 - dampingPct) / 100
    var rank = nodes.map(v => v -> (if (seeded(v)) scale else 0L)).toMap
    var i = 0
    var stop = false
    while (i < iters && !stop) {
      i += 1
      val in = edges.groupMapReduce(_._2) { case (s, _, w) => rank(s) / outW(s) * w }(_ + _)
      val next = nodes.map(v =>
        v -> ((if (seeded(v)) base else 0L) + dampingPct * in.getOrElse(v, 0L) / 100)).toMap
      if (i % 8 == 0 && i < iters)
        tolPm.foreach(t => stop = nodes.map(v => math.abs(next(v) - rank(v))).max <= scale * t / 1000)
      rank = next
    }
    rank
  }

  test("pageRank/trustRank match the naive reference on random graphs (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genGraph = for {
      nNodes <- Gen.choose(2, 12)
      nEdges <- Gen.choose(1, 30)
      es <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, nNodes - 1L), Gen.choose(0L, nNodes - 1L)))
      iters <- Gen.choose(0, 4)
      seedBits <- Gen.listOfN(nNodes, Gen.oneOf(true, false))
    } yield (es.distinct, iters, seedBits.zipWithIndex.collect { case (true, i) => i.toLong }.toSet)
    val prop = Prop.forAll(genGraph) { case (es, iters, seedSet) =>
      val edf = es.toDF("src", "dst")
      val got = graft.operators.Graph.pageRank(edf, "src", "dst", iters,
          dampingPct = 85, scale = 1000000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val unit = es.map { case (s, d) => (s, d, 1L) }
      val want = referenceRank(unit, None, iters, 85, 1000000L, None)
      val trustOk = if (seedSet.isEmpty) true else {
        val sdf = seedSet.toSeq.toDF("s")
        val gotT = graft.operators.Graph.trustRank(edf, "src", "dst", sdf, "s",
            iters, dampingPct = 85, scale = 1000000L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        gotT == referenceRank(unit, Some(seedSet), iters, 85, 1000000L, None)
      }
      got == want && trustOk
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("pageRank/trustRank match the driver-side reference across checkpoints, weights and tolPm (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // self-loops and parallel edges come from drawing endpoints with
    // replacement; node ids up to nNodes+2 as seeds include phantom seeds
    val genCase = for {
      nNodes <- Gen.choose(2, 8)
      nEdges <- Gen.choose(1, 16)
      es <- Gen.listOfN(nEdges, Gen.zip(Gen.choose(0L, nNodes - 1L),
        Gen.choose(0L, nNodes - 1L), Gen.choose(1L, 5L)))
      weighted <- Gen.oneOf(true, false)
      dampingPct <- Gen.oneOf(0, 50, 85, 100)
      iters <- Gen.oneOf(0, 1, 9, 17)
      tolPm <- Gen.oneOf(None, Some(1L), Some(200L))
      scale <- Gen.oneOf(1000L, 1000000L)
      seeds <- Gen.listOf(Gen.choose(0L, nNodes + 2L))
    } yield (es, weighted, dampingPct, iters, tolPm, scale, seeds.toSet)
    val prop = Prop.forAllNoShrink(genCase) {
      case c @ (es, weighted, dampingPct, iters, tolPm, scale, seeds) =>
        val edf = es.toDF("src", "dst", "w")
        val weightCol = if (weighted) Some("w") else None
        val refEdges = if (weighted) es else es.map { case (s, d, _) => (s, d, 1L) }
        def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val pr = asMap(Graph.pageRank(edf, "src", "dst", iters, dampingPct, scale,
          weightCol, tolPm))
        val prOk = pr == referenceRank(refEdges, None, iters, dampingPct, scale, tolPm)
        // trustRank rejects dampingPct = 100
        val trOk = dampingPct == 100 || asMap(Graph.trustRank(edf, "src", "dst",
            seeds.toSeq.toDF("s"), "s", iters, dampingPct, scale, weightCol, tolPm)) ==
          referenceRank(refEdges, Some(seeds), iters, dampingPct, scale, tolPm)
        Prop(prOk && trOk) :| s"case $c: pageRank ok=$prOk, trustRank ok=$trOk"
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(24)
      .withInitialSeed(org.scalacheck.rng.Seed(20261020L))
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("bloom semi/anti joins equal their plain forms, including dup keys and no-hit sets") {
    val big = (1L to 5000L).map(i => (i % 997L, i)).toDF("k", "row_id")
    val members = (0L to 200L).filter(_ % 3 == 0).map(k => Tuple1(k)).toDF("m")
      .union(Seq(Tuple1(50L)).toDF("m")) // duplicate member must not dup rows
    val plainSemi = big.join(members.select(col("m").as("k")).distinct(),
      Seq("k"), "left_semi")
    val plainAnti = big.join(members.select(col("m").as("k")).distinct(),
      Seq("k"), "left_anti")
    assert(canon(Bloom.semiJoin(big, "k", members, "m", 10000L)) == canon(plainSemi))
    assert(canon(Bloom.antiJoin(big, "k", members, "m", 10000L)) == canon(plainAnti))
    // empty membership set: semi = empty, anti = everything
    val none = Seq.empty[Long].toDF("m")
    assert(Bloom.semiJoin(big, "k", none, "m", 10L).count() == 0L)
    assert(Bloom.antiJoin(big, "k", none, "m", 10L).count() == big.count())
  }

  test("bloom joins stay exact when member and probe key types differ") {
    // XxHash64 hashes INT 5 and BIGINT 5 differently — without the cast
    // alignment the bloom would be seeded with hashes the probe never
    // produces (false negatives: semi drops members, anti passes blocked
    // rows). Members here are INT, probe keys BIGINT.
    val big = (1L to 2000L).map(i => (i % 97L, i)).toDF("k", "row_id")
    val membersInt = Seq(3, 9, 50, 96).toDF("m") // IntegerType
    assert(big.schema("k").dataType != membersInt.schema("m").dataType)
    val plainSemi = big.join(membersInt.select(col("m").cast("long").as("k")).distinct(),
      Seq("k"), "left_semi")
    val plainAnti = big.join(membersInt.select(col("m").cast("long").as("k")).distinct(),
      Seq("k"), "left_anti")
    assert(canon(Bloom.semiJoin(big, "k", membersInt, "m", 100L)) == canon(plainSemi))
    assert(canon(Bloom.antiJoin(big, "k", membersInt, "m", 100L)) == canon(plainAnti))
    assert(Bloom.semiJoin(big, "k", membersInt, "m", 100L).count() > 0L)
  }

  test("bloom prune actually shrinks the confirm-join input") {
    // 10k corpus keys, 10 members ⇒ the exact join should see only the
    // bloom-hit sliver, not the full corpus. We measure via the bloom
    // predicate itself (hits ≈ true members + fpp sliver ≪ corpus).
    val big = (1L to 10000L).map(i => (i, i)).toDF("k", "row_id")
    val members = (1L to 10L).map(k => Tuple1(k * 1000L)).toDF("m")
    val semi = Bloom.semiJoin(big, "k", members, "m", 1000L)
    assert(semi.count() == 10L)
  }
}
