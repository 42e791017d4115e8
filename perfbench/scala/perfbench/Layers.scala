package perfbench

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.{HostCalib, Tables}
import graft.sources.EmbeddedKafkaBroker
import graft.streaming.{Cep, PatternSpec, Step, WinEvent, Windows}

/** The per-layer metrics every traced run reports, in report order. A
  * layer the workload does not exercise reads 0 (no micro-batches in
  * `batch_corpus`, no query families in the stream workloads).
  */
object Layers {
  val Families: Seq[String] = BatchCorpus.Families.map(_._1)
  val SpanKinds: Seq[String] =
    Seq("workload", "query", "build", "execute", "drain", "paced", "trigger", "job")

  val All: Seq[(String, String)] = Seq(
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.core_busy_frac" -> "frac",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.input_bytes" -> "bytes", "exec.skew_max" -> "ratio",
    "exec.drain_1t_eps" -> "1/s") ++
    Families.map(f => s"family.${f}_s" -> "s") ++ Seq(
    "streaming.window_eps" -> "1/s", "streaming.cep_eps" -> "1/s",
    "sql.compile_ms" -> "ms", "sql.bind_sources_ms" -> "ms", "setup.cold_s" -> "s",
    "microbatch.batches" -> "count", "microbatch.trigger_p50_ms" -> "ms",
    "microbatch.latest_offset_ms" -> "ms", "microbatch.query_planning_ms" -> "ms",
    "microbatch.add_batch_ms" -> "ms", "microbatch.wal_commit_ms" -> "ms",
    "microbatch.commit_offsets_ms" -> "ms",
    "state.rows_total" -> "count", "state.memory_bytes" -> "bytes",
    "state.update_ms" -> "ms", "state.commit_ms" -> "ms",
    "sources.fetch_decode_mb_s" -> "MB/s", "sources.rows_in" -> "count",
    "sources.lag_events" -> "count",
    "gen.offered_eps" -> "1/s", "gen.late_p99_ms" -> "ms",
    "host.calib_mops" -> "Mops", "trace.overhead_frac" -> "frac") ++
    SpanKinds.map(k => s"self.${k}_ms" -> "ms")

  /** Every metric of [[All]], measured value or 0; an undeclared name is
    * a bug in the benchmark and fails the run.
    */
  def complete(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val known = All.map(_._1).toSet
    val unknown = measured.map(_._1).filterNot(known)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    val m = measured.map(x => x._1 -> x._2).toMap
    All.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  def selfTimes(t: Tracer): Seq[(String, Double, String)] = {
    val s = t.selfTimeMs()
    SpanKinds.map(k => (s"self.${k}_ms", s.getOrElse(k, 0.0), "ms"))
  }
}

/** Layer throughputs timed directly, outside any workload loop. */
object Kernels {
  /** Window and CEP kernel events/s over the batch `events` table (warm,
    * as the corpus bench's kernel floors measure them), Kafka fetch+decode
    * MB/s, and the host calibration probe.
    */
  def all(spark: SparkSession, o: Opts, broker: Option[EmbeddedKafkaBroker] = None)
      : Seq[(String, Double, String)] = {
    implicit val weEnc = Encoders.product[WinEvent]
    val events = Tables(spark, o.data, "events")
    val n = events.count().toDouble
    val win = events.select(
      col("user_id").cast("string").as("key"), unix_micros(col("ts")).as("tsUs"),
      col("event_id").as("eventId"), col("value"),
      typedlit(Seq.empty[Double]).as("vals"), typedlit(Seq.empty[String]).as("svals")).as[WinEvent]
    val spec = PatternSpec(
      Seq(Step.simple("a")(_.etype == "signup"), Step.simple("b")(_.etype == "purchase")),
      strict = false, every = true, withinUs = Some(86400000000L))
    def eps(run: => Unit): Double = {
      run // warm-up
      n / (Main.timedNs(run)._2 / 1e9)
    }
    val winEps = eps(Windows.length(win, 10).write.format("noop").mode("overwrite").save())
    val cepEps = eps(Cep.detect(Cep.fromEvents(events), spec)
      .write.format("noop").mode("overwrite").save())
    val b = broker.getOrElse(StreamApp.backlogBroker(o.seed))
    val mbs = try StreamApp.fetchDecodeMbS(b) finally if (broker.isEmpty) b.close()
    Seq(
      ("streaming.window_eps", winEps, "1/s"),
      ("streaming.cep_eps", cepEps, "1/s"),
      ("sources.fetch_decode_mb_s", mbs, "MB/s"),
      ("host.calib_mops", HostCalib.mops(o.cores, targetSec = 0.2, trials = 2), "Mops"))
  }
}
