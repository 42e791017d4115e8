package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: `kind` names the layer boundary (workload, query,
  * build, execute, drain, trigger, job), `parent` is the enclosing span's
  * id (-1 at the root). Times are epoch milliseconds, fractional.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spark job as seen by the listener, tagged with the job group the
  * benchmark set on the submitting thread.
  */
final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long,
                        stages: Seq[Int])

/** Per-stage task aggregates. */
final class StageRec {
  val durations = ArrayBuffer.empty[Long]
  var runMs, gcMs, shuffleRead, shuffleWrite, spill, input = 0L
}

/** In-memory recorder for one traced run. Spans come from the benchmark's
  * own calls into the system ([[span]]); jobs, stages and tasks from a
  * public `SparkListener`; Catalyst phase times from a
  * `QueryExecutionListener` (`QueryExecution.tracker`); micro-batch
  * progress from a `StreamingQueryListener`. Nothing is written until
  * [[document]] hands over the whole record at the end of the run.
  */
final class Tracer(val runId: String) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  private val spanBuf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Time `f` as a span nested under the innermost open span. Only the
    * thread that submits the work opens spans.
    */
  def span[A](kind: String, name: String)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = nowMs
    try f finally {
      stack = stack.tail
      val s = Span(id, parent, kind, name, t0, nowMs)
      synchronized(spanBuf += s)
    }
  }

  /** Record a span measured elsewhere (e.g. a micro-batch trigger). */
  def addSpan(parent: Int, kind: String, name: String, startMs: Double, endMs: Double): Unit =
    synchronized {
      nextId += 1
      spanBuf += Span(nextId, parent, kind, name, startMs, endMs)
    }

  def currentSpan: Int = stack.headOption.getOrElse(-1)
  def spans: Seq[Span] = synchronized(spanBuf.toList)

  private val countMap = TrieMap.empty[String, Double]
  def count(name: String, v: Double = 1.0): Unit = countMap.synchronized {
    countMap(name) = countMap.getOrElse(name, 0.0) + v
  }
  def counts: Map[String, Double] = countMap.readOnlySnapshot().toMap

  /** Job groups set by Spark itself (a streaming query's run id) mapped
    * to the span the benchmark opened around them.
    */
  val groupSpan = TrieMap.empty[String, Int]
  /** Source lag samples, one per micro-batch progress event. */
  val lagSamples = ArrayBuffer.empty[Double]

  // ---- Spark scheduler events ----
  val jobs = TrieMap.empty[Int, JobRec]
  val stages = TrieMap.empty[Int, StageRec]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val group = Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(j.jobId) = JobRec(j.jobId, group, j.time, -1L, j.stageIds)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobs.get(j.jobId).foreach(_.endMs = j.time)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val st = stages.getOrElseUpdate(te.stageId, new StageRec)
      st.synchronized {
        if (te.taskInfo != null) st.durations += te.taskInfo.duration
        val m = te.taskMetrics
        if (m != null) {
          st.runMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          st.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  // ---- Catalyst phases of executed plans ----
  /** (phase, startMs, endMs) for every executed QueryExecution. */
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def take(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.foreach { case (p, s) => phases += ((p, s.startTimeMs, s.endTimeMs)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = take(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = take(qe)
  }

  // ---- micro-batch progress ----
  /** (query name, progress, wall ms when the listener saw it). */
  val progress = ArrayBuffer.empty[(String, StreamingQueryProgress, Double)]
  /** Hook run on each progress event (the stream workload samples the
    * broker's log end there to measure source lag).
    */
  @volatile var onProgress: StreamingQueryProgress => Unit = _ => ()
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      onProgress(p)
      progress.synchronized(progress += ((Option(p.name).getOrElse(""), p, nowMs)))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach after giving the asynchronous listener bus time to deliver
    * the last events of the traced section.
    */
  def detach(spark: SparkSession): Unit = {
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Sum of each Catalyst phase over executions that started inside
    * `[fromMs, toMs]`.
    */
  def phaseMs(fromMs: Double, toMs: Double): Map[String, Double] =
    phases.synchronized(phases.toList)
      .filter { case (_, s, _) => s >= fromMs - 1 && s <= toMs + 1 }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(x => (x._3 - x._2).toDouble).sum }

  /** Executor-side aggregates over the given jobs' stages. */
  def execMetrics(js: Seq[JobRec], wallMs: Double, cores: Int): Seq[(String, Double, String)] = {
    val sts = js.flatMap(_.stages).distinct.flatMap(stages.get)
    def sum(f: StageRec => Long): Double = sts.map(s => s.synchronized(f(s))).sum.toDouble
    val tasks = sts.map(s => s.synchronized(s.durations.size)).sum
    val taskMs = sum(_.runMs)
    val skew = sts.flatMap { s =>
      val d = s.synchronized(s.durations.sorted.toList)
      // tiny stages make the ratio pure noise: judge stages with >=2 tasks
      // and >=50 ms of task time
      if (d.size >= 2 && d.sum >= 50) Some(d.last.toDouble / math.max(d(d.size / 2), 1L))
      else None
    }
    Seq(
      ("exec.jobs", js.size.toDouble, "count"),
      ("exec.stages", sts.size.toDouble, "count"),
      ("exec.tasks", tasks.toDouble, "count"),
      ("exec.task_ms", taskMs, "ms"),
      ("exec.gc_ms", sum(_.gcMs), "ms"),
      ("exec.core_busy_frac", if (wallMs > 0) taskMs / (wallMs * cores) else 0.0, "frac"),
      ("exec.shuffle_read_bytes", sum(_.shuffleRead), "bytes"),
      ("exec.shuffle_write_bytes", sum(_.shuffleWrite), "bytes"),
      ("exec.spill_bytes", sum(_.spill), "bytes"),
      ("exec.input_bytes", sum(_.input), "bytes"),
      ("exec.skew_max", if (skew.isEmpty) 1.0 else skew.max, "ratio"))
  }

  /** Self time per span kind: each span's duration minus the union of its
    * children's intervals; Spark jobs are children of the span they were
    * submitted under (by job group = that span's id).
    */
  def selfTimeMs(): Map[String, Double] = {
    val all = spans ++ jobs.values.filter(_.endMs > 0).flatMap { j =>
      groupSpan.get(j.group).orElse(
        scala.util.Try(j.group.split(':').last.toInt).toOption).map(p =>
        Span(-j.id - 1, p, "job", s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble))
    }
    val children = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val ivs = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0.0
        var (cs, ce) = (Double.NaN, Double.NaN)
        ivs.foreach { case (a, b) =>
          if (cs.isNaN || a > ce) {
            if (!cs.isNaN) covered += ce - cs
            cs = a; ce = b
          } else ce = math.max(ce, b)
        }
        if (!cs.isNaN) covered += ce - cs
        s.durMs - covered
      }.sum
    }
  }

  /** The job group to set while running under the current span, so the
    * listener can attribute jobs to it.
    */
  def group(label: String): String = s"$runId:$label:$currentSpan"

  /** The whole record, for [[Json.write]]. */
  def document(metrics: Seq[(String, Double, String)]): AnyRef = ListMap(
    "run" -> runId,
    "spans" -> spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "run" -> runId)),
    "jobs" -> jobs.values.toSeq.sortBy(_.id).map(j => ListMap("id" -> j.id, "group" -> j.group,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages)),
    "counts" -> ListMap(counts.toSeq.sortBy(_._1): _*),
    "metrics" -> Json.metrics(metrics))
}
