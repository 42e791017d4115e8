package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-provided parquet tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed parquet directories; the
  * loader surface stays the same (`spark.read.parquet(dir)` handles a
  * directory of part files transparently). All queries go through this so
  * column pruning + predicate pushdown reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoized ANALYZED plans per (session, dir, table): `spark.read.parquet`
  // re-reads footers for schema inference on every call — a driver-side
  // fixed cost (one ~30-100 ms job per call, guide §7.3) paid hundreds of
  // times across a corpus run. The memo holds only the lazy DataFrame
  // (schema + file index); every action still scans the parquet files, so
  // this caches PLANNING, never results. The memoized DataFrames point
  // back at their session, so each session's entry is dropped when its
  // application ends (`SparkSession.stop`). [[clear]] drops every
  // entry for callers that regenerate a parquet dir in-process (the
  // memoized file index would otherwise serve stale/deleted file lists).
  private val memo = new java.util.HashMap[
    SparkSession, scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()

  /** Drop all memoized plans (use when a table directory is rewritten
    * within one JVM — the cached file index does not watch the FS). */
  def clear(): Unit = memo.synchronized(memo.clear())

  /** Whether [[apply]] holds memoized plans for `spark`. */
  private[graft] def memoizes(spark: SparkSession): Boolean =
    memo.synchronized(memo.containsKey(spark))

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = memo.synchronized {
      var m = memo.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
        memo.put(spark, m)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
            memo.synchronized(memo.remove(spark))
        })
      }
      m
    }
    perSession.getOrElseUpdate((dir, name), {
      // events.ts varies by generator vintage: parquet TIMESTAMP(NANOS)
      // (which Spark 4 refuses to read natively — read as long nanos) or
      // TIMESTAMP(MICROS) without timezone (read as TIMESTAMP_NTZ).
      // Normalize both to a micro-precision TimestampType column; every
      // entry point pins the session timezone to UTC, so the NTZ cast is
      // micros-identical and matches DuckDB's naive timestamps.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      } else df
    })
  }

  /** Register every table as a temp view (for spark.sql-expressed queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Write a driver table as a BUCKETED managed table — the write-once,
    * join-forever-shuffle-free path for fact-fact joins (SCALE.md's join
    * section): two tables bucketed on the same key with the same bucket
    * count hash-partition identically at WRITE time, so every later
    * equi-join or aggregation on that key plans with ZERO
    * ShuffleExchange — the per-query fact-fact shuffle (the dominant
    * exchange at 100 TB: both sides corpus-sized) is paid once, at
    * ingest. `sortBy` on the key additionally pre-orders each bucket file
    * so the join can run as a zip merge.
    *
    * Sizing at 100 TB: nBuckets ≈ table_bytes / target_task_bytes
    * (128-256 MB) — thousands of buckets for a fact table; both join
    * sides MUST use the same count (Spark joins bucketed tables
    * shuffle-free only on equal bucket counts; a mismatch silently
    * re-shuffles one side).
    *
    * Returns the registered table name (default `<name>_bucketed`). Reads
    * go through `spark.table(...)` — bucketing metadata lives in the
    * catalog, not the parquet footer, which is why this writes a managed
    * table instead of a bare directory.
    */
  def writeBucketed(spark: SparkSession, dir: String, name: String,
                    bucketCol: String, nBuckets: Int,
                    tableName: Option[String] = None,
                    sorted: Boolean = true): String = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val tbl = tableName.getOrElse(s"${name}_bucketed")
    val w0 = apply(spark, dir, name).write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
    (if (sorted) w0.sortBy(bucketCol) else w0).saveAsTable(tbl)
    tbl
  }
}
