package perfbench

import java.nio.file.Paths

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.queries._

/** `batch_corpus`: one query of each family of the `SparkEntry.queries`
  * corpus run as a closed loop with one client — one query at a time to
  * the `noop` sink, in name order, in one timed pass: each query's first
  * execution in the JVM, which is what a batch job sees.
  * Every execution carries a `Dataset.observe` of its row count and
  * order-insensitive digest, checked against the values pinned in
  * `expected/batch_corpus.json`.
  */
object BatchCorpus {
  val Families: Seq[(String, QueryFamily)] = Seq(
    "agg" -> AggQueries, "cep" -> CepQueries, "connector" -> ConnectorQueries,
    "core" -> CoreQueries, "curation" -> CurationQueries, "dedup" -> DedupQueries,
    "graph" -> GraphQueries, "join" -> JoinQueries, "misc" -> MiscQueries,
    "rollup" -> RollupQueries, "sampling" -> SamplingQueries, "search" -> SearchQueries,
    "similarity" -> SimilarityQueries, "sketch" -> SketchQueries, "text" -> TextQueries,
    "window" -> WindowQueries)

  final case class Q(family: String, name: String, fn: (SparkSession, String) => DataFrame)

  /** The first query in name order of each family. */
  def selected: Seq[Q] = Families.map { case (f, fam) =>
    val d = fam.defs.minBy(_.name)
    Q(f, d.name, d.fn)
  }

  /** The query's DataFrame with its (row count, digest) observed: the sum
    * over rows of [[Digest.rowHash]], collected by the same execution.
    */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val obs = Observation()
    (named.observe(obs, count(lit(1)).as("rows"),
      sum(Digest.rowHash(named).cast("decimal(38,0)")).as("digest")), obs)
  }

  private def digestOf(obs: Observation): (Long, String) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long],
      Option(m("digest")).map(_.asInstanceOf[java.math.BigDecimal].toBigInteger.toString)
        .getOrElse("0"))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run once, untimed, after set-up, so the first timed query does not
    * pay the engine's own JIT warm-up alone: the last join query in name
    * order, which is not timed.
    */
  val WarmUp: Q = {
    val d = JoinQueries.defs.maxBy(_.name)
    Q("join", d.name, d.fn)
  }

  def run(o: Opts): Outcome = {
    // the production hash families, as the corpus bench measures them
    sys.props("graft.hash.family") = "fast"
    val queries = selected
    // setup_s is the median of 3 set-ups (session start + the 10 tables
    // loaded); the first also gives the cold start from JVM start
    val setupNs = ArrayBuffer.empty[Long]
    var coldS = 0.0
    var spark: SparkSession = null
    for (_ <- 1 to 3) {
      if (spark != null) Main.stop(spark)
      val (s, ns) = Main.timedNs {
        val s = Main.session(o, o.cores)
        Tables.names.foreach(n => Tables(s, o.data, n).schema)
        s
      }
      if (spark == null) coldS = Main.sinceJvmStartS()
      spark = s
      setupNs += ns
    }
    Main.log(f"set-ups: ${setupNs.map(x => f"${x / 1e9}%.2f").mkString(", ")} s, cold start $coldS%.2f s")
    val expected = o.record.fold(Expected.load(Paths.get(o.expected)))(_ => Map.empty)
    val recorded = ArrayBuffer.empty[(String, Long, String)]
    var attempted = 0L
    var failed = 0L

    /** Build, execute and check one query; wall ns, or -1 if it failed. */
    def execute(q: Q, t: Option[Tracer]): Long = {
      attempted += 1
      def body(): (Long, String) = t match {
        case None =>
          spark.sparkContext.setJobGroup(s"perfbench:${q.name}", q.name)
          val (df, obs) = observed(q.fn(spark, o.data))
          noop(df)
          digestOf(obs)
        case Some(tr) =>
          val (df, obs) = tr.span("build", q.name) {
            spark.sparkContext.setJobGroup(tr.group("build"), q.name)
            observed(q.fn(spark, o.data))
          }
          val got = tr.span("execute", q.name) {
            spark.sparkContext.setJobGroup(tr.group("execute"), q.name)
            noop(df)
            digestOf(obs)
          }
          tr.count("query.executions")
          tr.count("query.rows_out", got._1)
          got
      }
      val res = try {
        Some(Main.timedNs(t.fold(body())(_.span("query", q.name)(body()))))
      } catch {
        case e: Throwable =>
          System.err.println(s"[batch_corpus] ${q.name} failed: $e")
          None
      }
      spark.catalog.clearCache()
      res match {
        case Some((got, ns)) if o.record.isDefined =>
          recorded += ((q.name, got._1, got._2)); ns
        case Some((got, ns)) if expected.get(q.name).contains(got) =>
          Main.log(f"${q.name} ${ns / 1e6}%.0f ms"); ns
        case other =>
          failed += 1
          System.err.println(s"[batch_corpus] ${q.name}: got ${other.map(_._1)}, " +
            s"expected ${expected.get(q.name)}")
          -1L
      }
    }

    noop(WarmUp.fn(spark, o.data))
    spark.catalog.clearCache()
    Main.log("engine warm-up done")

    // A fixed order: each query's first execution pays JIT warm-up that
    // depends on which queries ran before it, so a seed-permuted order
    // swung the slowest query 5.4-9.8 s between seeds on a 4-core local[4]
    // run. The seed leaves this workload unchanged.
    val order = queries.sortBy(_.name)
    val metrics =
      if (!o.trace) {
        // one timed pass: each query's first execution
        val (res, wallNs) = Main.timedNs(order.map(q => execute(q, None)))
        val ms = res.filter(_ >= 0).map(_ / 1e6)
        (Seq(
          ("setup_s", Stats.median(setupNs.map(_ / 1e9).toSeq), "s"),
          ("throughput_per_s", order.size / (wallNs / 1e9), "1/s"),
          // 16 samples: Harrell-Davis estimates, not single order statistics
          ("latency_p50_ms", Stats.hdQuantile(ms, 0.5), "ms"),
          ("latency_p99_ms", Stats.hdQuantile(ms, 0.99), "ms")), None)
      } else traced(o, spark, order, execute, coldS)
    Main.log(s"timed pass done, $failed failed")
    o.record.foreach { dir =>
      Expected.save(Paths.get(o.expected), recorded.toSeq)
      // each query's output and oracle SQL, for tools/oracle_check.py
      queries.foreach(q => q.fn(spark, o.data).write.mode("overwrite").parquet(s"$dir/${q.name}"))
      val oracle = SparkEntry.oracleSql.filter(kv => queries.exists(_.name == kv._1))
      Main.write(Paths.get(dir, "oracle_sql.json"),
        Json.pretty(ListMap(oracle.toSeq.sortBy(_._1): _*)))
    }

    Main.stop(spark)
    Outcome(attempted, failed, metrics._1, metrics._2)
  }

  /** The timed pass traced (layer metrics), then half the queries run
    * once plain and once traced, alternating which goes first, for
    * `trace.overhead_frac` — the first pass runs cold, so it cannot be its
    * own reference.
    */
  private def traced(o: Opts, spark: SparkSession, order: Seq[Q],
                     execute: (Q, Option[Tracer]) => Long, coldS: Double)
      : (Seq[(String, Double, String)], Option[AnyRef]) = {
    val t = new Tracer(s"batch_corpus-${o.seed}")
    t.attach(spark)
    val res = t.span("workload", "batch_corpus")(order.map(q => (q, execute(q, Some(t)))))
    t.detach(spark)
    val t2 = new Tracer(s"batch_corpus-${o.seed}-overhead")
    val pairs = order.take(order.size / 2).zipWithIndex.map { case (q, i) =>
      def plain() = Main.timedNs(execute(q, None))._2.toDouble
      def withTrace() = {
        t2.attach(spark)
        try Main.timedNs(execute(q, Some(t2)))._2.toDouble finally t2.detach(spark)
      }
      if (i % 2 == 0) { val p = plain(); (p, withTrace()) }
      else { val w = withTrace(); (plain(), w) }
    }
    val root = t.spans.find(_.kind == "workload").get
    val ph = t.phaseMs(root.startMs, root.endMs)
    val famS = Families.map { case (f, _) =>
      (s"family.${f}_s", res.filter(r => r._1.family == f && r._2 >= 0).map(_._2 / 1e9).sum, "s")
    }
    val metrics = Layers.complete(
      Seq(
        ("queries.build_ms", t.spans.filter(_.kind == "build").map(_.durMs).sum, "ms"),
        ("queries.build_jobs", t.jobs.values.count(_.group.contains(":build:")).toDouble, "count"),
        ("catalyst.analysis_ms", ph.getOrElse("analysis", 0.0), "ms"),
        ("catalyst.optimization_ms", ph.getOrElse("optimization", 0.0), "ms"),
        ("catalyst.planning_ms", ph.getOrElse("planning", 0.0), "ms"),
        ("trace.overhead_frac", pairs.map(_._2).sum / pairs.map(_._1).sum - 1.0, "frac"),
        ("setup.cold_s", coldS, "s")) ++
      t.execMetrics(t.jobs.values.toSeq, root.durMs, o.cores) ++ famS ++
      Kernels.all(spark, o) ++ Layers.selfTimes(t))
    (metrics, Some(t.document(metrics)))
  }
}

/** Pinned per-query (rows, digest) of the batch workload. */
object Expected {
  def load(p: java.nio.file.Path): Map[String, (Long, String)] = {
    val qs = Json.tree(p).get("queries")
    val it = qs.fieldNames()
    val out = Map.newBuilder[String, (Long, String)]
    while (it.hasNext) {
      val k = it.next()
      out += k -> ((qs.get(k).get("rows").asLong(), qs.get(k).get("digest").asText()))
    }
    out.result()
  }

  def save(p: java.nio.file.Path, rows: Seq[(String, Long, String)]): Unit =
    Main.write(p, Json.pretty(ListMap("queries" -> ListMap(rows.sortBy(_._1).map {
      case (k, n, d) => k -> ListMap("rows" -> n, "digest" -> d)
    }: _*))) + "\n")
}
