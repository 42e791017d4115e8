package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Registry gate (round 16, VERDICT r15 #2): every `SparkEntry.queries`
  * entry must compile AND run end-to-end on sf0.001 inside `sbt test`.
  * Round 15 shipped q_sketch_sql_global compile-broken because a query
  * added after the driver's correctness pass had no hard gate — Bench
  * swallowed the throw into a silent `-1.0` and the only red was the next
  * round's driver run. This spec closes that window: a throwing registry
  * entry fails the build, with every failure named in one assertion
  * message. Full materialization (noop write), not plan-only — runtime-only
  * failures (bad kernel state schema, a mis-typed collect) must gate too.
  *
  * The same pass is the build-job guard: building a DataFrame should run
  * no Spark job (a query compiles to a lazy plan). Each builder runs under
  * its own job group, and a listener counts the jobs each group starts;
  * only the builders on [[RegistrySpec.BuildJobAllowList]] may start any.
  */
class RegistrySpec extends AnyFunSuite {
  import RegistrySpec._

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val sfDir = "/root/testdata/sf0.001"

  private def assumeData(): Unit =
    assume(new java.io.File(s"$sfDir/events.parquet").exists() ||
      new java.io.File(s"$sfDir/events").exists(), s"testdata missing at $sfDir")

  /** Job starts per job group, counted by a listener. */
  private final class GroupJobs extends SparkListener {
    private val counts = new ConcurrentHashMap[String, Integer]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => counts.merge(g, 1, (a: Integer, b: Integer) => a + b))
    def apply(group: String): Int = Option(counts.get(group)).fold(0)(_.intValue)
  }

  /** One pass over the registry, in name order: each entry is built under
    * the job group `build:<name>` and executed to the noop sink outside
    * it. Yields (name, build jobs, failure). Every entry is built once,
    * uncounted, beforehand: the work a JVM does once per data dir (the
    * parquet footer reads of `Tables`, the staged CSV/JSON/ORC files, the
    * embedded Kafka broker's topic) is fixture set-up, not builder work.
    */
  private lazy val registryPass: Seq[(String, Int, Option[String])] = {
    val sc = spark.sparkContext
    SparkEntry.queries.values.foreach(fn => scala.util.Try(fn(spark, sfDir)))
    spark.catalog.clearCache()
    val jobs = new GroupJobs
    sc.addSparkListener(jobs)
    try {
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val r =
          try {
            sc.setJobGroup(s"build:$name", name)
            val df = try fn(spark, sfDir) finally sc.clearJobGroup()
            df.write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | "))
          }
        spark.catalog.clearCache()
        name -> r
      }
      // the listener bus delivers in order but asynchronously: once a
      // marker job's start has arrived, every builder's job start has too
      sc.setJobGroup("build-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (jobs("build-marker") == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs("build-marker") == 1, "listener never saw the marker job")
      failures.map { case (name, f) => (name, jobs(s"build:$name"), f) }
    } finally sc.removeSparkListener(jobs)
  }

  test("every SparkEntry registry entry runs on sf0.001") {
    assumeData()
    val failures = registryPass.flatMap(_._3)
    assert(failures.isEmpty,
      s"\n${failures.size} registry entr${if (failures.size == 1) "y" else "ies"} failed:\n" +
        failures.mkString("\n"))
  }

  test("no registry builder runs a Spark job outside the build-job allow-list") {
    assumeData()
    val counts = registryPass.map(r => r._1 -> r._2).toMap
    val unknown = BuildJobAllowList.keySet -- counts.keySet
    val offenders = counts.toSeq.sorted.collect {
      case (name, n) if n > 0 && !BuildJobAllowList.contains(name) =>
        s"$name: $n job(s) while building its DataFrame, and it is not on the allow-list"
    }
    val stale = BuildJobAllowList.toSeq.sortBy(_._1).collect {
      case (name, (listed, _)) if counts.get(name).contains(0) =>
        s"$name: listed at $listed job(s) but built with none — drop it from the allow-list"
    }
    val problems = offenders ++ stale ++ unknown.toSeq.sorted.map(n => s"$n: not a registry entry")
    assert(problems.isEmpty, problems.mkString("\n", "\n", "\n") +
      s"(all builders with jobs: ${counts.filter(_._2 > 0).toSeq.sorted.mkString(", ")})")
  }

  test("entry() smoke: flagship query returns rows") {
    assume(new java.io.File(sfDir).exists())
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

object RegistrySpec {
  /** Builders that still run Spark jobs while building their DataFrame,
    * as `name -> (jobs measured at sf0.001, why)`. The list can only
    * shrink: the guard fails on a builder that fires a job and is not
    * listed, and on a listed builder that fires none.
    */
  val BuildJobAllowList: Map[String, (Int, String)] = {
    val pairMining = "the builder wraps the mined pairs in Checkpoints.flat " +
      "(an eager checkpoint runs the whole plan); Skew.spreadForCompute " +
      "reads `.rdd` partition counts"
    val rankLoop = "Graph rank iterations: Checkpoints.flat per generation " +
      "plus a convergence `.head()`"
    val histQuantiles = "Sketches.quantilesFromHist: min/max `.head()`, " +
      "coarse-totals `collect()`, eager localCheckpoint of the result"
    val centroids = "collects the named centroid/codebook vectors to the driver"
    Map(
      "q_dedup_cross" -> (17, pairMining),
      "q_dedup_jaccard" -> (13, pairMining),
      "q_dedup_minhash" -> (12, pairMining),
      "q_dedup_semantic" -> (4, "Dedup.semantic: corpus `count()` and centroid `collect()`"),
      "q_dedup_semantic_2l" -> (5, "Dedup.semanticTwoLevel: corpus `count()` and centroid `collect()`s"),
      "q_dedup_semantic_auto" -> (8, "Dedup.semanticAuto: corpus `count()` picks the path, then centroid `collect()`s"),
      "q_graph_pagerank" -> (19, rankLoop),
      "q_graph_pagerank_w" -> (15, rankLoop),
      "q_graph_trustrank" -> (21, rankLoop),
      "q_sample_budget" -> (9, "Sampling.selectBudget: eager localCheckpoint of the result, " +
        "so the range-partitioned persist can be freed"),
      "q_sim_ivf" -> (1, centroids),
      "q_sim_ivfpq" -> (2, centroids),
      "q_sim_kmeans" -> (5, "Similarity.kmeansAssignQuantized: seed and per-iteration centroid `collect()`s"),
      "q_sim_pq" -> (1, centroids),
      "q_sketch_hist_merge" -> (11, histQuantiles),
      "q_sketch_overlap" -> (12, "Sketches.kmvOverlap: three eager localCheckpoints"),
      "q_sketch_quantiles" -> (10, histQuantiles),
      "q_sketch_sql_global" -> (10, "hist_quantile lowers to " + histQuantiles),
      "q_text_bpe_encode" -> (2, "Tokenizer.bpeTrain collects word counts to learn the merges"))
  }
}
