package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.spark.sql.SparkSession

/** What one workload run hands back: the counts for the result line, the
  * metrics (end-to-end with tracing off, per-layer with tracing on) and
  * the trace document written next to the result.
  */
final case class Outcome(attempted: Long, failed: Long,
                         metrics: Seq[(String, Double, String)],
                         trace: Option[AnyRef] = None)

/** Options shared by every workload, parsed from the JVM arguments that
  * `run.py` passes.
  */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String, out: String, expected: String,
                      cores: Int, record: Option[String])

object Main {
  val Workloads: Seq[String] = Seq("batch_corpus", "stream_app")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.get("trace").contains("1"), kv("data"), kv("work"), kv("out"), kv("expected"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv.get("record"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val outcome = o.workload match {
      case "batch_corpus" => BatchCorpus.run(o)
      case "stream_app" => StreamApp.run(o)
    }
    outcome.trace.foreach(t => write(Paths.get(o.work, "trace.json"), Json.write(t)))
    val bad = outcome.metrics.filterNot(m => java.lang.Double.isFinite(m._2)).map(_._1)
    require(bad.isEmpty, s"metrics without a finite value: ${bad.mkString(", ")}")
    write(Paths.get(o.out), Json.write(ListMap(
      "correct" -> (outcome.failed == 0 && outcome.attempted > 0),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> Json.metrics(outcome.metrics))))
  }

  private val t0Ns = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0Ns) / 1e9}%.1fs] $msg")

  def write(p: Path, s: String): Unit = {
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(UTF_8))
  }

  /** One local session shaped like the corpus bench: `local[cores]`,
    * shuffle partitions = cores, AQE on, UTC, every scratch directory
    * inside the run's work directory.
    */
  def session(o: Opts, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        Paths.get(o.work, "checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stop the active session and clear Spark's per-JVM session pointers so
    * the next [[session]] starts a fresh context.
    */
  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Seconds from the JVM's start to now: a run's cold start, reported as
    * `setup.cold_s`.
    */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def timedNs[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, System.nanoTime() - t0)
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Harrell-Davis estimate of quantile q: a Beta((n+1)q, (n+1)(1-q))
    * weighted mean of all order statistics. From few samples it is
    * steadier than the one or two order statistics [[quantile]] uses.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val n = s.size
    val beta = new BetaDistribution(null, (n + 1) * q, (n + 1) * (1 - q))
    s.indices.map { i =>
      (beta.cumulativeProbability((i + 1).toDouble / n) -
        beta.cumulativeProbability(i.toDouble / n)) * s(i)
    }.sum
  }
}

/** JSON through Jackson's Scala module: maps, sequences, numbers, strings
  * and booleans are written as they are.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: AnyRef): String = mapper.writeValueAsString(v)
  def pretty(v: AnyRef): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
  def tree(p: Path): JsonNode = mapper.readTree(p.toFile)
  /** `{"name": {"value": v, "unit": u}, ...}` in the given order. */
  def metrics(ms: Seq[(String, Double, String)]): ListMap[String, ListMap[String, Any]] =
    ListMap(ms.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
}
