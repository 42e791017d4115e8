package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation.
  *
  * Web-scale training pipelines carry a host/page link graph next to the
  * text: host-level PageRank is a standard document-quality prior (the
  * Common-Crawl-derived corpora rank hosts before sampling), and degree
  * stats feed spam/SEO gates. The reference engine has no graph surface at
  * all — this module is beyond-parity, built for the same 100 TB shape as
  * the rest of the library.
  *
  * Everything here is EXACT integer arithmetic (fixed-point ranks), so
  * results replay bit-identically in any engine — the DuckDB oracles
  * compare hashes, and floating-point PageRank would diverge in the last
  * ulp across summation orders. Determinism also makes incremental re-runs
  * diffable ([[Curation.corpusDiff]] works on rank snapshots).
  *
  * [[pageRank]] and [[trustRank]] differ only in which nodes get the base
  * term and the start mass; both run the one loop [[rankRun]], whose
  * generations [[Checkpoints.Generations]] checkpoints and frees.
  */
object Graph {

  /** Weighted propagation requires strictly positive weights: a source
    * whose out-weights sum to <= 0 (or a NULL weight) makes `rank div deg`
    * NULL under non-ANSI division and its contributions silently vanish
    * from `sum(c)` — wrong ranks instead of an error. Gate every weight
    * with a typed per-row error (codegen'd branch, same shape as
    * Layout.zOrderKey's domain check — no extra validation pass over the
    * edges).
    */
  private def positiveWeight(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNotNull && c > 0L, c).otherwise(raise_error(format_string(
      "graph edge weight must be a positive integer, got %s",
      coalesce(c.cast("string"), lit("NULL")))))

  /** Fixed-point PageRank over an edge relation `(srcCol, dstCol)`.
    *
    * Semantics (all integer, all deterministic):
    *  - ranks are scaled by `scale` (default 1e9: rank 1.0 = 1_000_000_000);
    *  - each node starts at `scale`;
    *  - one iteration: every node splits its rank equally over its
    *    out-edges (integer division — remainders are dropped, the standard
    *    fixed-point formulation), and
    *    `next = (100-dampingPct)*scale/100 + dampingPct*sum(contribs)/100`;
    *  - dangling nodes (no out-edges) keep receiving the base term; their
    *    outgoing mass is dropped, the common "leaked mass" simplification —
    *    exactness matters more here than the stochastic-matrix purity.
    *  - duplicate edges count multiply (they are parallel edges); callers
    *    wanting simple-graph semantics pass `edges.distinct()`.
    *  - `weightCol` makes edges weighted: a node's out-mass splits
    *    proportionally — contribution = `(rank div sum_out_weight) * w`,
    *    the per-unit-weight share times the edge weight. With all weights
    *    1 this is EXACTLY the unweighted formula, and since `w <=
    *    sum_out_weight` every operand stays within the unweighted BIGINT
    *    bound (no `rank*w` blowup). Weights must be positive.
    *
    * Scale shape: the edge relation is joined with the per-source degree
    * ONCE and persisted hash-partitioned on `src` — iterations then shuffle
    * only the narrow `(node, rank)` relation (two longs per node) to meet
    * it, plus one aggregation exchange on `dst`. The corpus-sized side
    * (edges) never re-shuffles. Every 8th generation and the result are
    * eagerly checkpointed (lineage stays flat — an iterative plan
    * otherwise embeds every previous round's tree), and the call frees its
    * intermediate generations once the result is materialized
    * ([[Checkpoints.Generations]]); `localCheckpoint` by default, reliable
    * DFS `checkpoint` when the context has a checkpoint dir (see
    * [[Checkpoints.flat]] for the cluster durability contract). Overflow headroom: `sum(contribs)` is bounded by
    * total mass ≈ n_nodes*scale, and the damping multiply adds two decimal
    * digits — safe in BIGINT up to ~9e16 node-mass, i.e. 9e7 nodes at the
    * default scale; trim `scale` for larger graphs (host graphs are ≤1e8
    * nodes at web scale).
    *
    * `tolPm` (optional) adds epsilon stopping for runs to convergence on an
    * unknown graph: at every checkpoint round, ONE max-abs-delta
    * aggregation between CONSECUTIVE generations (i vs i-1, both pinned
    * eagerly at the checkpoint round) stops the loop early when no node's
    * rank moved by more than `scale*tolPm/1000` in one step — a
    * consecutive delta, not a checkpoint-span delta, so a rank
    * oscillation whose period divides the checkpoint interval (possible
    * at dampingPct=100) can never masquerade as a fixed point. `iters`
    * remains the hard cap. Default None = fixed iteration count, bit-identical to the
    * pre-option behavior (the oracle rows pin this).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingPct: Int = 85,
               scale: Long = 1000000000L,
               weightCol: Option[String] = None,
               tolPm: Option[Long] = None): DataFrame = {
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    rankRun(edges, srcCol, dstCol, None, iters, dampingPct, scale, weightCol, tolPm).ranks
  }

  /** TrustRank — personalized PageRank with the teleport mass restricted
    * to a SEED set of trusted nodes (Gyöngyi et al., VLDB 2004): the spam-
    * demotion sibling of [[pageRank]]. Rank flows outward from hand-vetted
    * hosts; link farms far from any seed converge to ~0 instead of the
    * uniform base, which is exactly the gap spam exploits in plain
    * PageRank.
    *
    * Same exact fixed-point arithmetic and iteration shape as
    * [[pageRank]]; the only change is the base term — `base` for seed
    * nodes, 0 otherwise — and a seed-biased start vector (`scale` on
    * seeds, 0 elsewhere). Seeds are a node-sized relation (hand-curated
    * lists are thousands of rows): they broadcast into the spine join and
    * add nothing to the per-iteration exchanges; seeds that are not graph
    * nodes are ignored. `weightCol` weights the propagation exactly as in
    * [[pageRank]].
    */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String,
                iters: Int, dampingPct: Int = 85,
                scale: Long = 1000000000L,
                weightCol: Option[String] = None,
                tolPm: Option[Long] = None): DataFrame = {
    require(dampingPct >= 0 && dampingPct < 100,
      s"dampingPct must be in [0,100) — at 100 no trust mass is ever " +
        s"injected and every rank is 0; got $dampingPct")
    val seedSet = seeds.select(col(seedCol).cast("long").as("node")).distinct()
    rankRun(edges, srcCol, dstCol, Some(seedSet), iters, dampingPct, scale, weightCol,
      tolPm).ranks
  }

  /** What [[rankRun]] returns: the `(node, rank)` result and the number of
    * iterations run, below `iters` when `tolPm` stopped the loop early. */
  private[graft] final case class RankRun(ranks: DataFrame, iters: Int)

  /** The rank loop behind [[pageRank]] and [[trustRank]]. `seeds` (one
    * `node` column) gets the base term and starts at `scale`, every other
    * node gets no base and starts at 0; None seeds every node.
    */
  private[graft] def rankRun(edges: DataFrame, srcCol: String, dstCol: String,
                             seeds: Option[DataFrame], iters: Int, dampingPct: Int,
                             scale: Long, weightCol: Option[String],
                             tolPm: Option[Long]): RankRun = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(scale > 0, s"scale must be positive, got $scale")
    tolPm.foreach(t => require(t > 0, s"tolPm must be positive, got $t"))
    val gen = new Checkpoints.Generations(edges.sparkSession.sparkContext)
    // unweighted runs carry NO weight column: `(rank div deg) * 1` ==
    // `rank div deg`, so dropping the constant narrows the persisted edge
    // relation and the per-iteration arithmetic (round 16, guide §2.3)
    val weighted = weightCol.isDefined
    val e = edges.select(Seq(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")) ++
      weightCol.map(c => positiveWeight(col(c).cast("long")).as("w")).toSeq: _*)
    // degree folded in as a WINDOW over the src partition (round 17):
    // the per-src count/sum is computed on the src exchange with no join,
    // and the persisted relation stays hashpartitioning(src)
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val eDeg = gen.persist(e.withColumn("deg",
      if (weighted) sum(col("w")).over(wSrc) else count(lit(1)).over(wSrc)))
    // node spine from the PERSISTED degree relation — deriving it from
    // `e` would re-execute the caller's (unpersisted, often join-shaped)
    // edge plan a second time. explode, not union-of-two-selects: one
    // cache scan instead of two (round 16, guide §2.4).
    val nodes = eDeg.select(explode(array(col("src"), col("dst"))).as("node")).distinct()
    val seeded = seeds.fold(nodes.withColumn("seed", lit(true)))(s =>
      nodes.join(broadcast(s.withColumn("seed", lit(true))), Seq("node"), "left_outer"))
    val base = scale * (100 - dampingPct) / 100
    // the start vector is explicit: at dampingPct = 100 the base is 0
    // everywhere, yet pageRank still starts every node at `scale`
    val spine = gen.persist(seeded.select(col("node"),
      when(col("seed"), lit(base)).otherwise(lit(0L)).as("b"),
      when(col("seed"), lit(scale)).otherwise(lit(0L)).as("start")))
    // per-edge contributions UNION one row per node carrying its base, ONE
    // aggregation: nodes with no in-edges still get a row and no join
    // re-attaches the base. A contribution row carries dampingPct*c and
    // the node row 100*b, so `sum div 100` is exactly
    // b + (dampingPct * sum(c)) div 100: every term is non-negative and
    // 100*b is a multiple of 100.
    val cExpr = if (weighted) expr("(rank div deg) * w") else expr("rank div deg")
    def step(r: DataFrame): DataFrame =
      eDeg.join(r.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"), (cExpr * dampingPct).as("c"))
        .union(spine.select(col("node"), (col("b") * 100).as("c")))
        .groupBy("node").agg(expr("sum(c) div 100").as("rank"))
    // iterations CHAIN LAZILY (plan depth is linear in iters), with an
    // eager checkpoint every few rounds and at the end: lineage stays flat
    // on long runs without one job barrier per iteration, and a typical
    // 5-10 round run executes as ONE job.
    val ckptEvery = 8
    var rank = spine.select(col("node"), col("start").as("rank"))
    var i = 0
    var converged = false
    // epsilon stopping (`tolPm`): at a checkpoint round, pin generation
    // i-1 too and compare CONSECUTIVE generations with one max-abs-delta
    // aggregation (a co-partitioned join of two (node, rank) relations, no
    // corpus touch). A span delta (i vs i-ckptEvery) would report any
    // oscillation whose period divides ckptEvery as converged, e.g. a
    // 2-cycle at dampingPct=100.
    while (i < iters && !converged) {
      i += 1
      if (i % ckptEvery == 0 && i < iters) {
        val prev = if (tolPm.isDefined) gen.pin(rank) else rank
        rank = gen.pin(step(prev))
        tolPm.foreach { tol =>
          val d = rank.join(prev.select(col("node"), col("rank").as("__pr")), "node")
            .agg(max(abs(col("rank") - col("__pr")))).head()
          converged = d.isNullAt(0) || d.getLong(0) <= scale * tol / 1000
        }
      } else rank = step(rank)
    }
    RankRun(gen.finish(rank), i)
  }

  /** Degree table for an edge relation: out-degree, in-degree, and total
    * per node (nodes missing from a side count 0). One aggregation per
    * direction over the narrow key columns — text/payloads never shuffle.
    * The spam-gate companion to [[pageRank]]: host out-degree >> in-degree
    * is the classic link-farm signature.
    */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // One pass, one exchange (round 16): each edge explodes into two
    // (node, out, in) contribution rows summed in a single aggregation —
    // the former per-direction groupBys consumed the (often join-shaped)
    // edge plan TWICE and met in a full-outer join (14-Exchange plan at
    // sf0.1; guide §2.4 duplicate-subtree removal). Same rows out: a node
    // missing from a side sums a 0 contribution, exactly the old
    // full-outer + coalesce(0) padding.
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    e.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("o"), lit(0L).as("i")),
        struct(col("dst").as("node"), lit(0L).as("o"), lit(1L).as("i")))).as("c"))
      .groupBy(col("c.node").as("node"))
      .agg(sum(col("c.o")).as("out_deg"), sum(col("c.i")).as("in_deg"))
      .withColumn("total_deg", col("out_deg") + col("in_deg"))
  }
}
