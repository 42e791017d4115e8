package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deliberate key-salting for skewed equi-joins — the manual counterpart to
  * AQE's skew-join split. AQE rebalances only what it can observe (sort-merge
  * join partitions at runtime); a salted join is the tool when the skew is
  * known ahead of time, when the join feeds a grouped aggregation whose
  * shuffle AQE won't re-split, or when the plan must be stable across runs
  * (benchmarked pipelines). Semantics are proven equal to the plain join by
  * the q_join_salted oracle and the SkewSpec hot-key property.
  */
object Skew {

  /** Spread an UNDER-PARALLELIZED relation before compute-heavy map work
    * (round 17; guide §2.5's input-skew rule — "one huge unsplittable
    * file … repartition immediately after the read"): a corpus that
    * arrives in fewer scan splits than the session has cores (a single
    * small parquet file, one unsplittable row group) serializes every
    * tokenize/hash/decode pass stacked directly on the scan into one
    * task. When the physical partition count is under half the default
    * parallelism, round-robin the rows across the cores; otherwise this
    * is the identity — any real multi-file table at scale already splits,
    * so NO extra pass over raw text is added at 100 TB, where that
    * exchange would be the dominant cost. A streaming input is returned
    * unchanged: `.rdd` cannot run on it.
    */
  def spreadForCompute(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming || df.rdd.getNumPartitions * 2 >= want) df
    else df.repartition(want)
  }

  /** Equi-join `big ⋈ small` on `keys`, with the big side's rows of ANY one
    * key spread across `salts` shuffle partitions:
    *
    *  - big rows get `__salt = pmod(xxhash64(<all columns>), salts)` — a
    *    deterministic spread derived from the whole row, so a hot key's
    *    rows land on `salts` different reducers (salting by the key alone
    *    would be a no-op: same key ⇒ same salt);
    *  - the small side replicates `salts`× with one literal salt per copy
    *    (an explode of a `salts`-element array — the small side is small by
    *    contract, that is what makes it the replicated side);
    *  - the join adds `__salt` to the equi-keys, so each big row still
    *    meets exactly the small rows of its key — once.
    *
    * Join types preserving plain-join semantics under small-side
    * replication: inner, left_outer (big side preserved, unmatched small
    * rows never emitted), left_semi, left_anti. right/full would emit each
    * unmatched SMALL row `salts` times — rejected with a typed error.
    *
    * At 100 TB: the alternative broadcast(small) avoids the shuffle
    * entirely when small fits in executor memory — salting is for the case
    * where small is too big to broadcast but the big side's key histogram
    * is skewed enough to stall a plain shuffle join's hottest reducer.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    require(keys.nonEmpty, "salted join needs at least one equi-key")
    val allowed = Set("inner", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "left_anti", "leftanti")
    require(allowed(joinType.toLowerCase),
      s"salted join preserves semantics only for $allowed joins; " +
        s"'$joinType' would replicate unmatched small-side rows $salts times")
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(salts.toLong)))
    val saltedSmall = small.withColumn("__salt",
      explode(typedlit((0L until salts.toLong).toSeq)))
    saltedBig.join(saltedSmall, keys :+ "__salt", joinType).drop("__salt")
  }
}
