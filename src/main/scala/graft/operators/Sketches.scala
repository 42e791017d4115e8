package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.streaming.StateCodec

/** Bounded-state sketches for corpus-scale cardinality and frequency —
  * the two questions every 100 TB curation run asks first ("how many
  * distinct urls/users/tokens?", "which keys dominate?") whose exact
  * answers are themselves big-data problems (an exact distinct shuffles
  * every distinct key; an exact top-k groupBy shuffles every key's
  * count).
  *
  * Both operators here follow this repo's determinism discipline: no RNG,
  * no engine-private hash — the portable md5 convention (Sampling.scala),
  * so a SQL engine replays the sketch BIT-EXACTLY and the DuckDB oracle
  * hash-compares the actual output, not a tolerance band.
  *
  *  - [[kmvDistinct]]: KMV / bottom-k distinct estimation (Bar-Yossef et
  *    al. 2002): keep the k smallest distinct 60-bit hashes; the k-th
  *    smallest value estimates cardinality as `(k-1)·2^60 / kth`. State =
  *    k longs per task, exchange = ≤ k longs per partition, estimate error
  *    ~ 1/√k. Exact when fewer than k distinct values exist.
  *  - [[heavyHitters]]: EXACT heavy hitters with a Misra-Gries pruning
  *    pass (the classic 1982 k-counter stream summary): pass 1 runs MG
  *    per partition (bounded k counters), whose survivor union PROVABLY
  *    contains every key with global count > N/(k+1) — if
  *    `count(x)·(k+1) > Σ n_p` then by pigeonhole some partition has
  *    `count_p(x)·(k+1) > n_p`, which MG's decrement argument keeps.
  *    Pass 2 recounts ONLY the ≤ k·partitions candidates (broadcast
  *    gate) and applies the exact threshold — so the OUTPUT is
  *    exact (the sketch only prunes), and the full-corpus groupBy the
  *    oracle runs never happens on the Spark side.
  *
  * The per-partition kernels are `mapPartitions` folds — justified under
  * the repo's preference order because both algorithms are DEFINED by
  * their bounded in-task state (a k-entry ordered set / k counters),
  * which no composition of relational operators expresses without giving
  * up the state bound (e.g. `distinct().orderBy().limit(k)` is
  * relational KMV but exchanges EVERY distinct key).
  */
object Sketches {

  /** Portable 60-bit key hash: top 15 hex digits of md5 — positive in a
    * BIGINT in every engine (the 16-digit form would need unsigned
    * semantics DuckDB and Spark disagree on). */
  private def hash60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  private val Two60: Double = 1152921504606846976.0 // 2^60, exact in double

  /** Largest double magnitude whose floor fits a BIGINT — just inside
    * 2^63 (the next representable double above is out of range). Beyond
    * it, `floor(v).cast(long)` saturates/overflows SILENTLY; the repo's
    * convention (Layout.zValue) is a typed per-row error instead. */
  private val LongDomainD: Double = 9.2233720368547676E18

  /** `floor(val·scale)` as a guarded BIGINT bucket: NULL stays NULL,
    * in-domain values bucket normally, out-of-domain values raise a typed
    * per-row error carrying the offending value (never a silent
    * saturated bucket). */
  private def guardedBucket(valCol: org.apache.spark.sql.Column,
                            scale: Int): org.apache.spark.sql.Column = {
    val v = valCol.cast("double") * scale
    when(v.isNull, lit(null).cast("long"))
      .when(abs(v) <= LongDomainD && !isnan(v), floor(v).cast("long"))
      .otherwise(raise_error(format_string(
        s"quantiles: value·scale=%s outside the 64-bit bucket domain — " +
          s"lower `scale` or pre-clip the column", v)).cast("long"))
  }

  /** The k smallest DISTINCT md5-60 hashes of `keyCol` — the KMV sketch
    * relation (≤ k rows, column `hv`). A k-entry TreeSet fold per
    * partition, then a global merge over ≤ k·partitions values.
    * NULL keys are ignored (the SQL distinct-count convention:
    * `count(DISTINCT x)` never counts NULL) — `md5(NULL)` is NULL, which
    * the primitive-long fold below cannot carry anyway, so the skip is
    * both the defined semantics and the crash guard. */
  private def bottomK(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val hashed = df.select(hash60(col(keyCol)).as("hv"))
      .filter(col("hv").isNotNull)
    val bottom = hashed.select(col("hv")).as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        val set = new java.util.TreeSet[java.lang.Long]()
        it.foreach { h =>
          if (set.size < k) set.add(h)
          else if (h < set.last()) {
            if (set.add(h)) set.pollLast()
          }
        }
        import scala.jdk.CollectionConverters._
        set.iterator().asScala.map(_.longValue())
      }(Encoders.scalaLong)
      .toDF("hv")
    bottom.distinct().orderBy(col("hv")).limit(k)
  }

  /** The KMV sketch RELATION of `keyCol` — ≤ k rows, single column `hv`
    * (the k smallest distinct portable md5-60 hashes). This is the
    * persistable form: write it as parquet next to a corpus snapshot, and
    * later [[kmvMerge]] it with new crawls' sketches and read the union
    * cardinality off [[kmvEstimate]] WITHOUT rescanning old corpora — the
    * incremental-crawl bookkeeping shape (a 100 TB corpus's sketch is k
    * longs). NULL keys are ignored (distinct-count convention).
    */
  def kmvSketch(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    bottomK(df, keyCol, k)
  }

  /** Merge two KMV sketch relations (column `hv`, built with the same k):
    * union → distinct → re-truncate to the k smallest. KMV's closure
    * property (Beyer et al. 2007): the bottom-k of A ∪ B is computable
    * from the two bottom-k synopses alone, so the merged relation IS the
    * sketch of the concatenated corpora — bit-exactly, associatively,
    * without touching either corpus. Output: a sketch relation again
    * (composable: fold a whole directory of sketches).
    */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    a.select(col("hv")).unionByName(b.select(col("hv")))
      .distinct().orderBy(col("hv")).limit(k)
  }

  /** Distinct-count estimate from a sketch RELATION alone (no corpus):
    * same row contract as [[kmvDistinct]] — `(k_used, kth_hash,
    * est_distinct)`, exact when the sketch saw everything (k_used < k).
    */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    sketch.select(col("hv"))
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth_hash"))
      .select(
        col("k_used"),
        coalesce(col("kth_hash"), lit(0L)).as("kth_hash"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(round(lit((k - 1).toDouble) * lit(Two60) /
            col("kth_hash").cast("double")).cast("long"))
          .as("est_distinct"))
  }

  /** Per-group KMV distinct estimate — "distinct users per domain", the
    * datacard question [[kmvDistinct]] can't answer globally. One
    * mapPartitions fold holds a bounded k-entry TreeSet PER GROUP (state ≤
    * k·|groups| longs per task — groups are datacard dimensions: languages,
    * domains, event types), emitting ≤ k hashes per (partition, group);
    * a group-partitioned row_number window then keeps each group's k
    * smallest and one aggregation applies the estimator. NULL group keys
    * form their own group (GROUP BY parity); NULL member keys are ignored
    * (distinct-count convention). Output: one row per group
    * `(key STRING, k_used, kth_hash, est_distinct)`.
    */
  def kmvDistinctBy(df: DataFrame, groupCol: String, keyCol: String,
                    k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // tuple-encoder field names (_1, _2): Dataset.as matches by name
    val hashed = df.select(col(groupCol).cast("string").as("_1"),
        hash60(col(keyCol)).as("_2"))
      .filter(col("_2").isNotNull)
    val perPart = hashed.as[(String, Long)](Encoders.product[(String, Long)])
      .mapPartitions { it =>
        val sets = scala.collection.mutable.HashMap
          .empty[String, java.util.TreeSet[java.lang.Long]]
        it.foreach { case (g, h) =>
          val set = sets.getOrElseUpdate(g, new java.util.TreeSet[java.lang.Long]())
          if (set.size < k) set.add(h)
          else if (h < set.last()) {
            if (set.add(h)) set.pollLast()
          }
        }
        import scala.jdk.CollectionConverters._
        sets.iterator.flatMap { case (g, set) =>
          set.iterator().asScala.map(h => (g, h.longValue()))
        }
      }(Encoders.product[(String, Long)])
      .toDF("key", "hv").dropDuplicates("key", "hv")
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("hv"))
    perPart.withColumn("__rn", row_number().over(wK))
      .filter(col("__rn") <= k)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth_hash"))
      .select(
        col("key"), col("k_used"), col("kth_hash"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(round(lit((k - 1).toDouble) * lit(Two60) /
            col("kth_hash").cast("double")).cast("long"))
          .as("est_distinct"))
      .orderBy(col("key"))
  }

  /** KMV bottom-k distinct estimate of `keyCol`. Output: ONE row
    * `(k_used BIGINT, kth_hash BIGINT, est_distinct BIGINT)` —
    * `k_used` < k means the sketch saw every distinct value and
    * `est_distinct` is exact; otherwise
    * `est_distinct = round((k-1)·2^60 / kth_hash)`.
    */
  def kmvDistinct(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    bottomK(df, keyCol, k)
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth_hash"))
      .select(
        col("k_used"),
        coalesce(col("kth_hash"), lit(0L)).as("kth_hash"),
        when(col("k_used") < k, col("k_used")) // saw everything: exact
          .otherwise(round(lit((k - 1).toDouble) * lit(Two60) /
            col("kth_hash").cast("double")).cast("long"))
          .as("est_distinct"))
  }

  /** KMV set-overlap estimate between two key columns — union cardinality,
    * Jaccard, and intersection size WITHOUT ever joining the corpora
    * (Beyer et al. 2007's KMV synopses): the bottom-k of A ∪ B is
    * computable from the two sketches alone (k smallest of the merged
    * hash sets), `est_union` follows the [[kmvDistinct]] estimator, the
    * Jaccard estimate is the fraction of the merged bottom-k present in
    * BOTH sketches, and `est_intersection = n_both·est_union div k_used`.
    * When the union has fewer than k distinct values everything is exact.
    * Output: ONE row `(k_used, n_both, est_union, est_intersection,
    * jaccard_pm)` — jaccard in integer per-mille, fully deterministic.
    *
    * The 100 TB use: "how much of crawl B is already in corpus A" costs
    * two independent bottom-k scans (k longs per partition each), not a
    * distinct-key join.
    */
  def kmvOverlap(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
                 k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // each sketch feeds the merge AND the containment join — materialize
    // the ≤k-row relations eagerly so the corpus scans run exactly once
    // (an unmaterialized ka would re-scan corpus A per consumer)
    val ka = bottomK(a, aCol, k).localCheckpoint(true)
    val kb = bottomK(b, bCol, k).localCheckpoint(true)
    val merged = ka.unionByName(kb).distinct().orderBy(col("hv")).limit(k)
      .localCheckpoint(true)
    val nBoth = merged.join(ka, Seq("hv"), "left_semi")
      .join(kb, Seq("hv"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    val est0 = merged
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth_hash"))
      .crossJoin(broadcast(nBoth))
      .select(
        col("k_used"), col("n_both"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(round(lit((k - 1).toDouble) * lit(Two60) /
            col("kth_hash").cast("double")).cast("long"))
          .as("est_union"))
      .select(
        col("k_used"), col("n_both"), col("est_union"),
        when(col("k_used") > 0,
          expr("(n_both * est_union) div k_used")).otherwise(lit(0L))
          .as("est_intersection"),
        when(col("k_used") > 0,
          expr("(n_both * 1000) div k_used")).otherwise(lit(0L))
          .as("jaccard_pm"))
    // one output row — materialize it and free the sketch blocks (the
    // selectBudget lifetime discipline)
    val res = est0.localCheckpoint(true)
    ka.unpersist(); kb.unpersist(); merged.unpersist()
    res
  }

  /** EXACT quantiles of the `scale`-quantized value — the histogram
    * method: bucket = `floor(val·scale)`, so all heavy work is bounded by
    * the number of DISTINCT buckets (price grids, score grids, length
    * distributions — thousands to millions), never by the row count. The
    * quantile contract is integer-deterministic: the `q‰` quantile is the
    * smallest bucket whose cumulative count reaches
    * `max(1, ceil(q·N/1000))` — any engine replays it bit-for-bit (no
    * interpolation, no floating accumulation).
    *
    * Plan shape: one map-side-combined bucket aggregation (the only
    * corpus-sized exchange, already narrowed to distinct buckets by the
    * partial agg), then a two-level prefix sum over the BUCKET relation
    * (coarse group = `bucket >> k` from one min/max probe, per-group
    * running-sum windows on one hash exchange, broadcast ≤4096-row
    * coarse-group offsets — no range shuffle, no single-task global
    * window even when buckets run to millions), then a tiny
    * targets-cross-buckets min. Output: one row per requested quantile
    * `(q_pm BIGINT, bucket BIGINT, value DOUBLE = bucket/scale)`.
    */
  def quantiles(df: DataFrame, valCol: String, qsPm: Seq[Int],
                scale: Int = 100): DataFrame =
    // one implementation: the corpus-input form IS the sketch form over a
    // freshly-built histogram (bucket agg = the only corpus-sized stage,
    // already narrowed map-side by the partial agg)
    quantilesFromHist(histSketch(df, valCol, scale), qsPm, scale)

  /** Per-group [[quantiles]]: the same integer-deterministic histogram
    * quantiles computed independently for every value of `keyCol` — the
    * "token-length p95 per language" shape every corpus datacard needs.
    * Here the cumulative sum needs NO two-level trick: the window is
    * PARTITIONED BY the group key, so it parallelizes across groups
    * natively and each task holds one group's buckets. Output: one row
    * per (group, quantile): `(key STRING, q_pm, bucket, value)`.
    */
  def quantilesBy(df: DataFrame, keyCol: String, valCol: String,
                  qsPm: Seq[Int], scale: Int = 100): DataFrame = {
    require(qsPm.nonEmpty && qsPm.forall(q => q >= 1 && q <= 1000),
      s"quantiles must be in [1,1000] per-mille, got $qsPm")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val buckets = df
      .select(col(keyCol).cast("string").as("key"),
        guardedBucket(col(valCol), scale).as("bucket"))
      .filter(col("bucket").isNotNull && col("key").isNotNull)
      .groupBy(col("key"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("bucket"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    val cum = buckets
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    // per-group quantile selection as ONE aggregation on the key
    // partition (round 17): each requested quantile is a
    // `min(bucket | cum >= its per-key target)` aggregate — the per-key
    // target derives from the windowed `n` column in-row, so no
    // cross-join against a targets relation and no (key, q_pm) regroup
    // exchange (cum is already partitioned by key from the windows; the
    // groupBy(key) reuses that partitioning). stack() unpivots each
    // key's aggregate row back to (key, q_pm, bucket, value) rows.
    val qs = qsPm.distinct.sorted
    val sels = qs.map(q =>
      min(when(col("cum") >= greatest(lit(1L),
        expr(s"(CAST($q AS BIGINT) * n + 999) div 1000")), col("bucket")))
        .as(s"__b_$q"))
    val stackArgs = qs.map(q => s"CAST($q AS BIGINT), __b_$q").mkString(", ")
    cum.groupBy(col("key")).agg(sels.head, sels.tail: _*)
      .selectExpr("key", s"stack(${qs.size}, $stackArgs) AS (q_pm, bucket)")
      .select(col("key"), col("q_pm"), col("bucket"),
        (col("bucket").cast("double") / scale).as("value"))
      .orderBy(col("key"), col("q_pm"))
  }

  /** The histogram sketch RELATION of `valCol` at `scale` — one row per
    * distinct bucket `(bucket BIGINT, cnt BIGINT)`. The persistable
    * quantile state: write it next to a corpus snapshot and
    * [[histMerge]] it with new crawls' histograms; unlike probabilistic
    * quantile sketches, bucket histograms merge EXACTLY (counts add), so
    * [[quantilesFromHist]] over the merged relation equals [[quantiles]]
    * over the concatenated corpora bit-for-bit. Size = distinct buckets
    * (a price grid, a length distribution) — KBs to MBs at any corpus
    * scale. Same guarded bucketing as [[quantiles]].
    */
  def histSketch(df: DataFrame, valCol: String, scale: Int = 100): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    df.select(guardedBucket(col(valCol), scale).as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Merge two histogram sketch relations (same scale): bucket counts ADD
    * — exact, associative, commutative. Output: a histogram relation
    * again (composable over a whole directory of snapshots). */
  def histMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("bucket"), col("cnt"))
      .unionByName(b.select(col("bucket"), col("cnt")))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** [[quantiles]] evaluated over a histogram sketch RELATION instead of
    * the corpus — same integer-deterministic contract (smallest bucket
    * whose cumulative count reaches ceil(q·N/1000)), same two-level
    * prefix-sum plan shape, zero corpus touch. With [[histMerge]] this is
    * the incremental-crawl percentile path: p99 of the merged corpus from
    * two bucket relations alone.
    */
  def quantilesFromHist(hist: DataFrame, qsPm: Seq[Int],
                        scale: Int = 100): DataFrame = {
    require(qsPm.nonEmpty && qsPm.forall(q => q >= 1 && q <= 1000),
      s"quantiles must be in [1,1000] per-mille, got $qsPm")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val spark = hist.sparkSession
    // cache the bucket relation: it feeds three consumers (min/max probe,
    // coarse-group totals, the prefix-sum pass) — without the cache each
    // would re-run the upstream corpus scan/aggregation. Buckets cast to
    // long up front: the probe and shift arithmetic below are long-typed
    // (an int-bucket hist relation would otherwise throw on getLong).
    val histC = hist.select(col("bucket").cast("long").as("bucket"), col("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Two-level prefix sum WITHOUT a range shuffle (round 16): coarse
    // group = bucket >> k, with k sized from one min/max probe so that
    // <= 4096 coarse groups span the range. shiftright is an arithmetic
    // shift = exact floor division by 2^k for every long (negative
    // buckets included), and it is monotone in bucket, so global bucket
    // order == (coarse group, bucket) order. This replaces the former
    // repartitionByRange pipeline — whose sampling pass, second persist
    // layer, and per-range-partition totals collect cost three extra
    // jobs and a full extra exchange of the histogram (guide §2.4) —
    // with: one min/max probe, one <=4096-row coarse-totals collect
    // (same driver-size contract as the old per-partition collect), and
    // a single hash exchange on the coarse key whose per-group windows
    // parallelize like quantilesBy's.
    val mm = histC.agg(min(col("bucket")), max(col("bucket"))).head()
    val k =
      if (mm.isNullAt(0)) 0
      else {
        val span = BigInt(mm.getLong(1)) - BigInt(mm.getLong(0))
        var s = 0
        while ((span >> s) > 4095) s += 1
        s
      }
    val withCg = histC.withColumn("__cg", shiftright(col("bucket"), k))
    val gtots = withCg.groupBy(col("__cg")).agg(sum(col("cnt")).as("__gt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = gtots.map(_._2).sum
    import spark.implicits._
    val offsets = gtots
      .scanLeft((0L, 0L, 0L)) { case ((_, off, tot), (cg, gt)) =>
        (cg, off + tot, gt)
      }.drop(1).map { case (cg, off, _) => (cg, off) }.toSeq
      .toDF("__cg", "__off")
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cg")).orderBy(col("bucket"))
    val cum = withCg
      .withColumn("__cum", sum(col("cnt")).over(wIn))
      .join(broadcast(offsets), Seq("__cg"))
      .select(col("bucket"), (col("__off") + col("__cum")).as("cum"))
    // quantile selection as ONE aggregation (round 17, guide §2.3/2.4):
    // the targets are DRIVER constants (n came off the ≤4096-row coarse
    // totals), so `min(bucket | cum >= target)` per requested quantile
    // folds map-side over the cum relation — the former cum×targets
    // broadcast join emitted up to |targets|× the bucket relation into a
    // re-grouping exchange. stack() unpivots the single aggregate row
    // back to the (q_pm, bucket, value) row contract; empty input yields
    // zero rows exactly as the old inner join did.
    val targets = qsPm.distinct.sorted
      .map(q => (q.toLong, math.max(1L, (q.toLong * n + 999) / 1000)))
    val res =
      if (n == 0L) {
        Seq.empty[(Long, Long)].toDF("q_pm", "bucket")
          .select(col("q_pm"), col("bucket"),
            (col("bucket").cast("double") / scale).as("value"))
      } else {
        val sels = targets.map { case (q, t) =>
          min(when(col("cum") >= t, col("bucket"))).as(s"__b_$q") }
        val stackArgs = targets
          .map { case (q, _) => s"CAST($q AS BIGINT), __b_$q" }.mkString(", ")
        cum.agg(sels.head, sels.tail: _*)
          .selectExpr(s"stack(${targets.size}, $stackArgs) AS (q_pm, bucket)")
          .select(col("q_pm"), col("bucket"),
            (col("bucket").cast("double") / scale).as("value"))
          .orderBy(col("q_pm"))
          .localCheckpoint(true)
      }
    histC.unpersist()
    res
  }

  /** Exact heavy hitters of `keyCol`: every key with
    * `count·(k+1) > N` (strictly), with its EXACT count — computed with a
    * Misra-Gries pruning pass so no full-corpus groupBy runs. NULL keys
    * count as their own group, exactly like the SQL `GROUP BY` the oracle
    * replays (a dominant NULL lang IS a datacard finding, not noise).
    * Output: `(key STRING, cnt BIGINT)`, unordered: every caller orders
    * or packs the rows itself, and a sort here would be a second range
    * exchange under their sort (`EliminateSorts` does not look through
    * the `Union` of `q_sketch_heavy`).
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // NO spreadForCompute here (round 17, measured +97% on
    // q_sketch_heavy): the input is often an already-EXPLODED token
    // relation — corpus-sized even when the scan was one split — and a
    // round-robin exchange of every token row (plus its
    // sort-before-repartition pass) costs far more than the single-task
    // MG fold it parallelizes.
    val keys = df.select(col(keyCol).cast("string").as("key"))
    // pass 1: per-partition Misra-Gries; the partition row count rides on
    // an `is_tot` flag column (NOT a null-key sentinel — a genuine NULL
    // key surviving MG must stay distinguishable from the total row)
    val mg = keys.select(col("key")).as[String](Encoders.STRING)
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        var nP = 0L
        it.foreach { s =>
          nP += 1
          counters.get(s) match {
            case Some(c) => counters(s) = c + 1
            case None if counters.size < k => counters(s) = 1L
            case None =>
              // decrement-all step; drop zeroed counters
              counters.keys.toArray.foreach { kk =>
                val c = counters(kk) - 1
                if (c == 0) counters.remove(kk) else counters(kk) = c
              }
          }
        }
        counters.keysIterator.map(kk => (kk, 0L, false)) ++
          Iterator((null: String, nP, true))
      }(Encoders.product[(String, Long, Boolean)])
      .toDF("key", "n_p", "is_tot")
    // ONE aggregate over the MG rows yields the total and the candidate
    // set together, so the MG pass appears once in the plan. A candidate
    // rides as struct(key): collect_set skips NULLs, and the struct keeps
    // a NULL key.
    val gate = mg
      .agg(sum(when(col("is_tot"), col("n_p"))).as("__n"),
        collect_set(when(!col("is_tot"), struct(col("key")))).as("__c"))
      .select(explode(col("__c")).as("__c"), col("__n"))
      .select(col("__c.key").as("__ck"), col("__n"))
    // pass 2: exact recount of the candidate slice only; the gate is
    // ≤ k·partitions rows, each carrying the total — broadcast it, the
    // corpus stays map-side. Null-safe equality so a NULL candidate key
    // gates its group through (plain equality would drop every NULL row).
    keys.join(broadcast(gate), col("key") <=> col("__ck"))
      .groupBy(col("key"), col("__n")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > col("__n"))
      .select(col("key"), col("cnt"))
  }

  /** Per-group exact heavy hitters — "heavy tokens per language", the
    * per-group form of [[heavyHitters]]: within every group g, every key
    * with `count·(k+1) > N_g` (N_g = the group's row count), exact counts.
    * Pass 1 runs Misra-Gries PER (partition, group) — bounded k counters
    * per group per task, the same pigeonhole coverage proof applied
    * group-wise — and carries each (partition, group) row count on flag
    * rows; pass 2 recounts only the ≤ k·partitions candidates per group
    * (null-safe two-column broadcast gate, so NULL groups and NULL keys
    * stay real groups — GROUP BY parity) and applies each group's own exact
    * threshold. No full-corpus groupBy ever runs. Output:
    * `(grp STRING, key STRING, cnt BIGINT)`, group asc then count desc.
    */
  def heavyHittersBy(df: DataFrame, groupCol: String, keyCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // no spreadForCompute — see heavyHitters (round 17, measured)
    val keys = df.select(col(groupCol).cast("string").as("_1"),
      col(keyCol).cast("string").as("_2"))
    val mg = keys.as[(String, String)](Encoders.product[(String, String)])
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.HashMap[String, Long]]
        val nG = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { case (g, s) =>
          nG(g) = nG.getOrElse(g, 0L) + 1
          val cs = counters.getOrElseUpdate(g,
            scala.collection.mutable.HashMap.empty[String, Long])
          cs.get(s) match {
            case Some(c) => cs(s) = c + 1
            case None if cs.size < k => cs(s) = 1L
            case None =>
              cs.keys.toArray.foreach { kk =>
                val c = cs(kk) - 1
                if (c == 0) cs.remove(kk) else cs(kk) = c
              }
          }
        }
        counters.iterator.flatMap { case (g, cs) =>
          cs.keysIterator.map(kk => (g, kk, 0L, false))
        } ++ nG.iterator.map { case (g, n) => (g, null: String, n, true) }
      }(Encoders.product[(String, String, Long, Boolean)])
      .toDF("grp", "key", "n_p", "is_tot")
    // per group, ONE aggregate over the MG rows yields N_g and the
    // candidate set (see heavyHitters); the gate is ≤ |groups|·k·
    // partitions rows, each carrying its group's total — broadcast it
    val gate = mg.groupBy(col("grp"))
      .agg(sum(when(col("is_tot"), col("n_p"))).as("__n"),
        collect_set(when(!col("is_tot"), struct(col("key")))).as("__c"))
      .select(col("grp").as("__cg"), explode(col("__c")).as("__c"), col("__n"))
      .select(col("__cg"), col("__c.key").as("__ck"), col("__n"))
    keys.toDF("grp", "key")
      .join(broadcast(gate),
        col("grp") <=> col("__cg") && col("key") <=> col("__ck"))
      .groupBy(col("grp"), col("key"), col("__n")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > col("__n"))
      .select(col("grp"), col("key"), col("cnt"))
      .orderBy(col("grp"), col("cnt").desc, col("key"))
  }

  // ---- streaming faces (round 14): windowed sketch aggregates ----
  //
  // The incremental-crawl datacard as a STREAM: per (group, tumbling
  // event-time window), carry the bounded sketch state in
  // `flatMapGroupsWithState` and emit ONE finalized row when the
  // watermark proves the window complete (EventTimeTimeout at window end
  // — exactly the CEP kernels' timer discipline). State bound: ≤ k
  // entries per key×window, evicted on emission — the 100 TB shape is
  // |active windows| × |groups| × k longs, independent of stream length.

  /** Input row for the windowed sketch kernels: composite group key as a
    * string (to_json of the key struct — parsed back by the SQL layer),
    * the window start, the md5-60 member hash (KMV) and the raw member
    * key string (Misra-Gries). */
  final case class SkWinEvent(gk: String, winStartUs: Long,
                              hv: Option[Long], skey: String)
  /** Bottom-k state: sorted ascending, ≤ k values. */
  final case class KmvWinState(hvs: Seq[Long])
  object KmvWinState {
    implicit val codec: StateCodec[KmvWinState] =
      StateCodec.product[KmvWinState]((w, s) => w.seq(s.hvs))(r => KmvWinState(r.seq[Long]()))
  }
  final case class KmvWinOut(gk: String, winStartUs: Long, kUsed: Long,
                             kthHash: Long, estDistinct: Long)
  /** Misra-Gries state: ≤ k (key, counter) pairs. */
  final case class MgWinState(keys: Seq[String], cnts: Seq[Long])
  object MgWinState {
    implicit val codec: StateCodec[MgWinState] = StateCodec.product[MgWinState] {
      (w, s) => w.seq(s.keys); w.seq(s.cnts)
    }(r => MgWinState(r.seq[String](), r.seq[Long]()))
  }
  final case class MgWinOut(gk: String, winStartUs: Long, hh: Seq[String])

  private def sketchWinInput(df: DataFrame, groupCols: Seq[String],
                             keyCol: String, windowUs: Long, lateness: String) = {
    import org.apache.spark.sql.Dataset
    val gkCol =
      if (groupCols.isEmpty) lit("")
      else to_json(struct(groupCols.map(col): _*))
    implicit val enc = Encoders.product[SkWinEvent]
    df.withColumn("eventTime", col("ts"))
      .withWatermark("eventTime", lateness)
      .withColumn("gk", gkCol)
      .withColumn("winStartUs",
        (floor(unix_micros(col("ts")).cast("double") / windowUs).cast("long") *
          windowUs))
      .withColumn("hv", hash60(col(keyCol)))
      .withColumn("skey", col(keyCol).cast("string"))
      .as[SkWinEvent]: Dataset[SkWinEvent]
  }

  private def ceilMs(us: Long): Long = (us + 999L) / 1000L

  /** Misra-Gries survivors ordered count-desc then key, NULL-SAFE: a NULL
    * member key is a real MG counter ("NULL keys count as their own
    * group"), and a bare String sort would NPE on a count tie — NULL
    * sorts first among equal counts (Spark's nulls-first ascending). */
  private def mgOrdered(keys: Seq[String], cnts: Seq[Long]): Seq[String] =
    keys.zip(cnts)
      .sortBy { case (kk, c) => (-c, if (kk == null) "" else "\u0001" + kk) }
      .map(_._1)

  /** Streaming windowed KMV distinct estimate: one row per
    * (group, window) with the SAME estimator arithmetic as
    * [[kmvDistinctBy]] — the result over a replayed stream is bit-equal
    * to the batch operator per window (bottom-k is deterministic and
    * mergeable; late events within the watermark fold into the same
    * bounded set). Output: (gk, winStartUs, kUsed, kthHash, estDistinct).
    */
  def kmvDistinctStreamWindowed(df: DataFrame, groupCols: Seq[String],
      keyCol: String, k: Int, windowUs: Long, lateness: String): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val keyEnc = Encoders.product[(String, Long)]
    implicit val stEnc = Encoders.BINARY
    val codec = KmvWinState.codec
    implicit val outEnc = Encoders.product[KmvWinOut]
    sketchWinInput(df, groupCols, keyCol, windowUs, lateness)
      .groupByKey(e => (e.gk, e.winStartUs))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, Long), it: Iterator[SkWinEvent], state: GroupState[Array[Byte]]) =>
          val (gk, win) = key
          if (state.hasTimedOut) {
            val hvs = state.getOption.map(codec.decode(_).hvs).getOrElse(Nil)
            state.remove()
            if (hvs.isEmpty) Iterator.empty
            else {
              val kth = hvs.last
              val est =
                if (hvs.size < k) hvs.size.toLong
                else math.round((k - 1).toDouble * 1152921504606846976.0 / kth.toDouble)
              Iterator(KmvWinOut(gk, win, hvs.size.toLong, kth, est))
            }
          } else {
            val set = new java.util.TreeSet[java.lang.Long]()
            state.getOption.foreach(codec.decode(_).hvs.foreach(h => set.add(h)))
            it.foreach(e => e.hv.foreach { h =>
              if (set.size < k) set.add(h)
              else if (h < set.last()) { if (set.add(h)) set.pollLast() }
            })
            import scala.jdk.CollectionConverters._
            state.update(codec.encode(
              KmvWinState(set.iterator().asScala.map(_.longValue()).toSeq)))
            state.setTimeoutTimestamp(math.max(ceilMs(win + windowUs),
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }.toDF()
  }

  /** Streaming windowed heavy hitters: per (group, window) Misra-Gries
    * with k counters, emitting the surviving candidates ordered by MG
    * count desc then key when the watermark closes the window. The MG
    * guarantee transfers: any key with in-window frequency > N_win/(k+1)
    * is in the emitted list. Counts are MG lower bounds, so (unlike the
    * two-pass batch operator, which recounts exactly) the ORDER among
    * emitted candidates is approximate once decrements occur; with ≤ k
    * distinct keys in a window no decrement happens and the list is
    * exact. Output: (gk, winStartUs, hh ARRAY<STRING>).
    */
  def heavyHittersStreamWindowed(df: DataFrame, groupCols: Seq[String],
      keyCol: String, k: Int, windowUs: Long, lateness: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val keyEnc = Encoders.product[(String, Long)]
    implicit val stEnc = Encoders.BINARY
    val codec = MgWinState.codec
    implicit val outEnc = Encoders.product[MgWinOut]
    sketchWinInput(df, groupCols, keyCol, windowUs, lateness)
      .groupByKey(e => (e.gk, e.winStartUs))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, Long), it: Iterator[SkWinEvent], state: GroupState[Array[Byte]]) =>
          val (gk, win) = key
          if (state.hasTimedOut) {
            val st = state.getOption.fold(MgWinState(Nil, Nil))(codec.decode)
            state.remove()
            if (st.keys.isEmpty) Iterator.empty
            else {
              Iterator(MgWinOut(gk, win, mgOrdered(st.keys, st.cnts)))
            }
          } else {
            val counters = scala.collection.mutable.HashMap.empty[String, Long]
            state.getOption.map(codec.decode).foreach(s => s.keys.zip(s.cnts).foreach {
              case (kk, c) => counters(kk) = c })
            it.foreach { e =>
              val s = e.skey
              counters.get(s) match {
                case Some(c) => counters(s) = c + 1
                case None if counters.size < k => counters(s) = 1L
                case None =>
                  counters.keys.toArray.foreach { kk =>
                    val c = counters(kk) - 1
                    if (c == 0) counters.remove(kk) else counters(kk) = c
                  }
              }
            }
            val (ks, cs) = counters.toSeq.unzip
            state.update(codec.encode(MgWinState(ks, cs)))
            state.setTimeoutTimestamp(math.max(ceilMs(win + windowUs),
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }.toDF()
  }

  // ------------------------------------------------------------------
  // Composable multi-sketch streaming kernel (round 15)
  // ------------------------------------------------------------------

  /** Input row for [[multiSketchStreamWindowed]]: composite group key,
    * ONE covering window start per row (hopping windows are enumerated
    * MAP-SIDE by a single inline explode — never a per-section union,
    * which would duplicate the stateful operator and lose event-time
    * timeout emissions), and one slot per configured section:
    *  - `hvs`: md5-60 member hash per KMV spec (Long.MinValue = NULL
    *    member — legit hashes live in [0, 2^60));
    *  - `skeys`: member key string per Misra-Gries spec (NULL keys count
    *    as their own group, same as the batch operator);
    *  - `buks`/`bukn`: histogram bucket id + null mask per hist spec
    *    (bucket ids span the full BIGINT domain, so a sentinel cannot
    *    encode NULL);
    *  - `avd`/`avl`/`avn`: plain-aggregate operand in a double lane and
    *    a long lane plus null mask (the long lane keeps integral sums
    *    and extrema EXACT — a double lane alone silently loses precision
    *    past 2^53). */
  final case class MsWinEvent(gk: String, winStartUs: Long,
      hvs: Seq[Long], skeys: Seq[String], buks: Seq[Long], bukn: Seq[Boolean],
      avd: Seq[Double], avl: Seq[Long], avn: Seq[Boolean])

  /** Per-(group, window) state: ≤ k entries per sketch section plus O(1)
    * per plain aggregate — total live state is
    * |open windows| × |groups| × (Σ sketch k + Σ hist distinct buckets
    * + |aggs|), independent of stream length; hopping windows multiply
    * |open windows| by ⌈size/slide⌉. */
  final case class MsWinState(
      kmv: Seq[Seq[Long]],
      mgKeys: Seq[Seq[String]], mgCnts: Seq[Seq[Long]],
      hb: Seq[Seq[Long]], hc: Seq[Seq[Long]],
      an: Seq[Long], asd: Seq[Double], asl: Seq[Long],
      amnd: Seq[Double], amxd: Seq[Double], amnl: Seq[Long], amxl: Seq[Long])
  object MsWinState {
    implicit val codec: StateCodec[MsWinState] = StateCodec.product[MsWinState] { (w, s) =>
      w.seq(s.kmv); w.seq(s.mgKeys); w.seq(s.mgCnts); w.seq(s.hb); w.seq(s.hc)
      w.seq(s.an); w.seq(s.asd); w.seq(s.asl)
      w.seq(s.amnd); w.seq(s.amxd); w.seq(s.amnl); w.seq(s.amxl)
    }(r => MsWinState(r.seq[Seq[Long]](), r.seq[Seq[String]](), r.seq[Seq[Long]](),
      r.seq[Seq[Long]](), r.seq[Seq[Long]](), r.seq[Long](), r.seq[Double](),
      r.seq[Long](), r.seq[Double](), r.seq[Double](), r.seq[Long](), r.seq[Long]()))
  }

  /** One row per (group, window) at watermark close: per-section results
    * positionally aligned with the spec lists. `kmvEst` −1 = no non-NULL
    * member seen (NULL downstream); `hq` NaN = empty histogram; plain
    * aggregates carry both lanes plus a null flag — the caller picks the
    * lane by (fn, operand integrality). */
  final case class MsWinOut(gk: String, winStartUs: Long,
      kmvEst: Seq[Long], hh: Seq[Seq[String]], hq: Seq[Seq[Double]],
      aggL: Seq[Long], aggD: Seq[Double], aggNull: Seq[Boolean])

  /** Streaming windowed MULTI-sketch + plain-aggregate kernel: every
    * sketch aggregate (KMV distinct, Misra-Gries heavy hitters, histogram
    * quantiles) and plain aggregate (count/sum/avg/min/max) of ONE
    * windowed streaming query evaluated in ONE `flatMapGroupsWithState`
    * pass — the datacard shape `SELECT source, kmv_distinct(url, 1024),
    * heavy_hitters(domain, 32), count(*) … WINDOW('timeBatch', '1 hour')`
    * as a single stateful operator instead of three queries.
    *
    * Section arithmetic is IDENTICAL to the single-section kernels /
    * batch operators ([[kmvDistinctBy]], [[heavyHittersBy]],
    * [[quantilesBy]]), so a replayed stream is bit-equal to the batch
    * query per window (late events inside the watermark fold into the
    * same bounded state). `slideUs` < `windowUs` runs HOPPING windows:
    * each event's ⌈size/slide⌉ covering window starts are enumerated
    * map-side; `slideUs` == `windowUs` is tumbling.
    *
    * @param kmvSpecs  (member column, k) per kmv_distinct
    * @param mgSpecs   (member column, k) per heavy_hitters
    * @param histSpecs (value column, scale, q per-milles) — one entry per
    *                  DISTINCT (column, scale): the bucket map is shared
    *                  across that entry's quantiles, exactly like the
    *                  batch hist-batching path
    * @param aggSpecs  (fn, operand column or "*", operand is integral)
    */
  def multiSketchStreamWindowed(df: DataFrame, groupCols: Seq[String],
      kmvSpecs: Seq[(String, Int)], mgSpecs: Seq[(String, Int)],
      histSpecs: Seq[(String, Int, Seq[Int])],
      aggSpecs: Seq[(String, String, Boolean)],
      windowUs: Long, slideUs: Long, lateness: String): DataFrame = {
    require(windowUs > 0 && slideUs > 0,
      s"window/slide must be positive, got ($windowUs, $slideUs)")
    kmvSpecs.foreach { case (_, k) => require(k >= 2, s"k must be >= 2, got $k") }
    mgSpecs.foreach { case (_, k) => require(k >= 1, s"k must be >= 1, got $k") }
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Dataset
    implicit val evEnc = Encoders.product[MsWinEvent]
    implicit val keyEnc = Encoders.product[(String, Long)]
    implicit val stEnc = Encoders.BINARY
    val codec = MsWinState.codec
    implicit val outEnc = Encoders.product[MsWinOut]
    val gkCol =
      if (groupCols.isEmpty) lit("")
      else to_json(struct(groupCols.map(col): _*))
    val tUs = unix_micros(col("ts"))
    val lastStart =
      (floor(tUs.cast("double") / slideUs).cast("long") * slideUs)
    val winsCol =
      if (slideUs == windowUs) array(lastStart) // tumbling: exactly one window
      else {
        // hop: candidate starts lastStart, lastStart−slide, …; keep those
        // still covering t (handles slide ∤ size and slide > size, where an
        // event may fall in NO window — explode then drops the row, the
        // same containment rule as Spark's window())
        val n = ((windowUs + slideUs - 1) / slideUs).toInt
        filter(
          sequence(lastStart - lit((n - 1).toLong * slideUs), lastStart,
            lit(slideUs)),
          ws => tUs < ws + lit(windowUs))
      }
    def arrOr(cols: Seq[org.apache.spark.sql.Column],
              empty: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (cols.isEmpty) empty else array(cols: _*)
    val input: Dataset[MsWinEvent] = df
      .withColumn("eventTime", col("ts"))
      .withWatermark("eventTime", lateness)
      .withColumn("gk", gkCol)
      // section columns (md5 hashes, casts, buckets) are computed BEFORE
      // the window explode — a hopping window would otherwise re-evaluate
      // every hash/bucket expression once per covering window
      .withColumn("hvs", arrOr(kmvSpecs.map { case (c, _) =>
        coalesce(hash60(col(c)), lit(Long.MinValue)) }, typedLit(Seq.empty[Long])))
      .withColumn("skeys", arrOr(mgSpecs.map { case (c, _) =>
        col(c).cast("string") }, typedLit(Seq.empty[String])))
      // one named bucket column per hist spec: buks and bukn both read it,
      // so the guarded bucket expression evaluates once per row
      .withColumns(histSpecs.zipWithIndex.map { case ((c, scale, _), i) =>
        s"__buk$i" -> guardedBucket(col(c), scale) }.toMap)
      .withColumn("buks", arrOr(histSpecs.indices.map(i =>
        coalesce(col(s"__buk$i"), lit(0L))), typedLit(Seq.empty[Long])))
      .withColumn("bukn", arrOr(histSpecs.indices.map(i =>
        col(s"__buk$i").isNull), typedLit(Seq.empty[Boolean])))
      .withColumn("avd", arrOr(aggSpecs.map {
        case ("count", "*", _) => lit(1.0)
        case (_, c, _) => coalesce(col(c).cast("double"), lit(0.0))
      }, typedLit(Seq.empty[Double])))
      .withColumn("avl", arrOr(aggSpecs.map {
        case ("count", "*", _) => lit(1L)
        case (_, c, true) => coalesce(col(c).cast("long"), lit(0L))
        case _ => lit(0L)
      }, typedLit(Seq.empty[Long])))
      .withColumn("avn", arrOr(aggSpecs.map {
        case ("count", "*", _) => lit(false)
        case (_, c, _) => col(c).isNull
      }, typedLit(Seq.empty[Boolean])))
      .withColumn("winStartUs", explode(winsCol))
      .as[MsWinEvent]
    val nKmv = kmvSpecs.size; val nMg = mgSpecs.size
    val nHist = histSpecs.size; val nAgg = aggSpecs.size
    val kmvKs = kmvSpecs.map(_._2).toArray
    val mgKs = mgSpecs.map(_._2).toArray
    val histScales = histSpecs.map(_._2).toArray
    val histQs = histSpecs.map(_._3.toArray).toArray
    val aggFns = aggSpecs.map(_._1).toArray
    input
      .groupByKey(e => (e.gk, e.winStartUs))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, Long), it: Iterator[MsWinEvent], state: GroupState[Array[Byte]]) =>
          val (gk, win) = key
          if (state.hasTimedOut) {
            val st = state.getOption.map(codec.decode)
            state.remove()
            st match {
              case None => Iterator.empty
              case Some(s) =>
                // KMV: same estimator arithmetic as kmvDistinctBy
                val kmvEst = (0 until nKmv).map { i =>
                  val hvs = s.kmv(i); val k = kmvKs(i)
                  if (hvs.isEmpty) -1L
                  else if (hvs.size < k) hvs.size.toLong
                  else math.round((k - 1).toDouble * Two60 / hvs.last.toDouble)
                }
                // MG: surviving candidates, count desc then key (null-safe)
                val hh = (0 until nMg).map { i =>
                  mgOrdered(s.mgKeys(i), s.mgCnts(i))
                }
                // hist: smallest bucket whose cumulative count reaches
                // ceil(q·N/1000) — the quantilesBy contract verbatim
                val hq = (0 until nHist).map { i =>
                  val buckets = s.hb(i).zip(s.hc(i)).sortBy(_._1)
                  val n = s.hc(i).sum
                  histQs(i).toSeq.map { qpm =>
                    if (n == 0L) Double.NaN
                    else {
                      val target = math.max(1L, (qpm.toLong * n + 999L) / 1000L)
                      var cum = 0L; var v = Double.NaN
                      val itB = buckets.iterator
                      while (itB.hasNext && cum < target) {
                        val (b, c) = itB.next(); cum += c
                        if (cum >= target) v = b.toDouble / histScales(i)
                      }
                      v
                    }
                  }
                }
                val aggL = new Array[Long](nAgg)
                val aggD = new Array[Double](nAgg)
                val aggNull = new Array[Boolean](nAgg)
                var j = 0
                while (j < nAgg) {
                  val n = s.an(j)
                  aggFns(j) match {
                    case "count" => aggL(j) = n; aggD(j) = n.toDouble
                    case "sum" => aggL(j) = s.asl(j); aggD(j) = s.asd(j)
                      aggNull(j) = n == 0L
                    case "avg" =>
                      aggNull(j) = n == 0L
                      if (n > 0L) aggD(j) = s.asd(j) / n
                    case "min" => aggL(j) = s.amnl(j); aggD(j) = s.amnd(j)
                      aggNull(j) = n == 0L
                    case "max" => aggL(j) = s.amxl(j); aggD(j) = s.amxd(j)
                      aggNull(j) = n == 0L
                  }
                  j += 1
                }
                Iterator(MsWinOut(gk, win, kmvEst, hh, hq,
                  aggL.toSeq, aggD.toSeq, aggNull.toSeq))
            }
          } else {
            val s0 = state.getOption.map(codec.decode).getOrElse(MsWinState(
              Seq.fill(nKmv)(Nil), Seq.fill(nMg)(Nil), Seq.fill(nMg)(Nil),
              Seq.fill(nHist)(Nil), Seq.fill(nHist)(Nil),
              Seq.fill(nAgg)(0L), Seq.fill(nAgg)(0.0), Seq.fill(nAgg)(0L),
              Seq.fill(nAgg)(Double.PositiveInfinity),
              Seq.fill(nAgg)(Double.NegativeInfinity),
              Seq.fill(nAgg)(Long.MaxValue), Seq.fill(nAgg)(Long.MinValue)))
            val kmvSets = Array.tabulate(nKmv) { i =>
              val set = new java.util.TreeSet[java.lang.Long]()
              s0.kmv(i).foreach(h => set.add(h)); set
            }
            val mgMaps = Array.tabulate(nMg) { i =>
              val m = scala.collection.mutable.HashMap.empty[String, Long]
              s0.mgKeys(i).zip(s0.mgCnts(i)).foreach { case (kk, c) => m(kk) = c }
              m
            }
            val histMaps = Array.tabulate(nHist) { i =>
              val m = scala.collection.mutable.HashMap.empty[Long, Long]
              s0.hb(i).zip(s0.hc(i)).foreach { case (b, c) => m(b) = c }
              m
            }
            val an = s0.an.toArray; val asd = s0.asd.toArray
            val asl = s0.asl.toArray
            val amnd = s0.amnd.toArray; val amxd = s0.amxd.toArray
            val amnl = s0.amnl.toArray; val amxl = s0.amxl.toArray
            it.foreach { e =>
              var i = 0
              while (i < nKmv) {
                val h = e.hvs(i)
                if (h != Long.MinValue) {
                  val set = kmvSets(i); val k = kmvKs(i)
                  if (set.size < k) set.add(h)
                  else if (h < set.last()) { if (set.add(h)) set.pollLast() }
                }
                i += 1
              }
              i = 0
              while (i < nMg) {
                val m = mgMaps(i); val sKey = e.skeys(i); val k = mgKs(i)
                m.get(sKey) match {
                  case Some(c) => m(sKey) = c + 1
                  case None if m.size < k => m(sKey) = 1L
                  case None =>
                    m.keys.toArray.foreach { kk =>
                      val c = m(kk) - 1
                      if (c == 0) m.remove(kk) else m(kk) = c
                    }
                }
                i += 1
              }
              i = 0
              while (i < nHist) {
                if (!e.bukn(i)) {
                  val m = histMaps(i); val b = e.buks(i)
                  m(b) = m.getOrElse(b, 0L) + 1L
                }
                i += 1
              }
              var j = 0
              while (j < nAgg) {
                if (!e.avn(j)) {
                  an(j) += 1L
                  asd(j) += e.avd(j); asl(j) += e.avl(j)
                  if (e.avd(j) < amnd(j)) amnd(j) = e.avd(j)
                  if (e.avd(j) > amxd(j)) amxd(j) = e.avd(j)
                  if (e.avl(j) < amnl(j)) amnl(j) = e.avl(j)
                  if (e.avl(j) > amxl(j)) amxl(j) = e.avl(j)
                }
                j += 1
              }
            }
            import scala.jdk.CollectionConverters._
            val mgPairs = mgMaps.toSeq.map(_.toSeq)
            val histPairs = histMaps.toSeq.map(_.toSeq)
            state.update(codec.encode(MsWinState(
              kmvSets.toSeq.map(_.iterator().asScala.map(_.longValue()).toSeq),
              mgPairs.map(_.map(_._1)), mgPairs.map(_.map(_._2)),
              histPairs.map(_.map(_._1)), histPairs.map(_.map(_._2)),
              an.toSeq, asd.toSeq, asl.toSeq,
              amnd.toSeq, amxd.toSeq, amnl.toSeq, amxl.toSeq)))
            state.setTimeoutTimestamp(math.max(ceilMs(win + windowUs),
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }.toDF()
  }
}
