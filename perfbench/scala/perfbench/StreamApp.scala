package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.sources.{EmbeddedKafkaBroker, KafkaClient}
import graft.sql.{AppRuntime, GraftApp}

/** `stream_app`: one declared app fed through the in-process Kafka
  * broker's wire protocol — a `kafka` source with the json mapper, a
  * per-user `length(10)` ALL EVENTS kernel query and an
  * `EVERY (signup -> purchase) WITHIN 1 DAY` pattern — measured two ways
  * in one run:
  *
  *  - drain: with both queries up, each burst appends [[BurstEvents]]
  *    seeded events and waits until both have processed them
  *    (throughput);
  *  - paced: an open loop on a second copy of the app — events appended
  *    at [[PacedRate]] events/s, each stamped with its due time, while
  *    both queries run with the default trigger (latency under load).
  *
  * Every output is checked: its multiset must equal `GraftApp.run` over a
  * batch DataFrame of the same generated events.
  */
object StreamApp {
  val Topic = "events"
  val Partitions = 4
  /** Records per record batch the broker serves (a consumer-sized batch,
    * not the broker's 2-record test default).
    */
  val FetchBatchSize = 500
  /** Events per second of the paced loop: about a sixth of the app's
    * drain rate on a 4-core host (~6,000 events/s), so per-trigger costs
    * dominate. At 5,000 events/s the backlog grew whenever the shared host
    * slowed (p99 4.2 s against 2.0 s); at 2,500 a run with 8% CPU steal
    * had a p50 latency 50% above a quiet run's, because a slower trigger
    * collects more events for the next one.
    */
  val PacedRate = 1000
  /** Ramp-up at the start of the paced window, not measured. */
  val PacedWarmMs = 2000L
  /** Width of the sub-windows (by due time) whose latency quantiles are
    * reduced to their median.
    */
  val SubWindowMs = 1000L
  /** Events per drain burst. */
  val BurstEvents = 10000
  /** Untimed drain bursts between the set-ups and the measured ones. The
    * JIT keeps speeding the drain up for 15+ bursts (4-core local[4]: 1.8 s
    * per burst after 1, 1.2-1.4 s after 15); with 1 the measured bursts
    * sped up from burst to burst, with 3 runs still differed by 40%.
    */
  val WarmBursts = 5
  // The generated events follow the sf0.1 `events` table: 1,500 users,
  // each about equally active (per-user counts 45-99, coefficient of
  // variation 0.12, the Poisson value for uniform users); the five event
  // types at 20% each; `value` exponential with mean 50, in cents;
  // event-time gaps exponential with mean 30 days / 100,000 events.
  val Users = 1500
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
  val MeanValue = 50.0
  val MeanGapMs: Double = 30 * 86400000.0 / 100000
  val TsBaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  final case class Ev(id: Long, tsMs: Long, user: Long, etype: String, value: Double,
                      dueMs: Long) {
    def json: String = {
      val ts = java.time.Instant.ofEpochMilli(tsMs).toString.replace('T', ' ').stripSuffix("Z")
      s"""{"event_id":$id,"ts":"$ts","user_id":$user,"event_type":"$etype",""" +
        s""""value":$value,"due_ms":$dueMs}"""
    }
    def partition: Int = (user % Partitions).toInt
  }

  /** Seeded event source shaped like the `events` table (see [[Users]]);
    * user ids start at `userBase`. Event times strictly increase, as in
    * the table (gaps of at least 1 ms).
    */
  final class Gen(seed: Long, userBase: Long = 0L) {
    private val rng = new scala.util.Random(seed)
    private var tsMs = TsBaseMs
    private def exp(mean: Double): Double = -mean * math.log(1.0 - rng.nextDouble())
    def next(id: Long, dueMs: Long): Ev = {
      tsMs += math.max(1L, math.round(exp(MeanGapMs)))
      Ev(id, tsMs, userBase + rng.nextInt(Users), EventTypes(rng.nextInt(EventTypes.size)),
        math.round(exp(MeanValue) * 100) / 100.0, dueMs)
    }
  }

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("due_ms", LongType)))

  def appSql(port: Int): String =
    s"""CREATE STREAM events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
       |  event_type STRING, value DOUBLE, due_ms BIGINT)
       |  WITH ('type'='source', 'format'='kafka', 'brokers'='127.0.0.1:$port',
       |        'topic'='$Topic', 'map.format'='json', 'allow.lateness'='1 minute');
       |CREATE STREAM win_out (user_id BIGINT, event_id BIGINT, value DOUBLE,
       |  due_ms BIGINT, op INT);
       |CREATE STREAM matches (user_id BIGINT, signup_id BIGINT, purchase_id BIGINT,
       |  due_ms BIGINT);
       |PARTITION WITH (user_id OF events) BEGIN
       |  INSERT ALL EVENTS INTO win_out
       |  SELECT user_id, event_id, value, due_ms, op FROM events WINDOW('length', 10)
       |END;
       |INSERT INTO matches
       |SELECT e1.user_id AS user_id, e1.event_id AS signup_id,
       |       e2.event_id AS purchase_id, e2.due_ms AS due_ms
       |FROM PATTERN (EVERY (e1=events[event_type = 'signup']
       |                     -> e2=events[event_type = 'purchase']))
       |WITHIN 1 DAY
       |PARTITION BY user_id;""".stripMargin

  val Outputs: Seq[String] = Seq("win_out", "matches")

  /** Rows whose due time a result's latency is measured from: every
    * arrival's Current row of the window, and every match (stamped with
    * the purchase that completed it).
    */
  private def latencyRow(out: String): org.apache.spark.sql.Column =
    if (out == "win_out") col("op") === 1 else lit(true)

  /** Per-row hash plus the latency columns, shared by the stream sink and
    * the batch reference.
    */
  private def hashed(df: DataFrame, out: String): DataFrame =
    df.select(Digest.rowHash(df).as("h"), col("due_ms"), latencyRow(out).as("lat"))

  /** Everything the sink of one output received; guarded by its lock. */
  final class SinkLog {
    var rows = 0L
    var sum = BigInt(0)
    /** (receipt ms, due ms) of latency rows. */
    val lat = ArrayBuffer.empty[(Long, Long)]
    def digest: (Long, String) = synchronized((rows, sum.toString))
  }

  /** The compiled app on one session, bound to one broker. */
  final class App(val spark: SparkSession, val broker: EmbeddedKafkaBroker,
                  val env: Map[String, DataFrame], val bindNs: Long, val compileNs: Long)

  private def compile(spark: SparkSession, broker: EmbeddedKafkaBroker): App = {
    val sql = appSql(broker.port)
    val spec = GraftApp.parse(sql)
    val (srcs, bindNs) = Main.timedNs(AppRuntime.bindSources(spark, spec))
    val (env, compileNs) = Main.timedNs(GraftApp.run(spark, sql, srcs))
    new App(spark, broker, env, bindNs, compileNs)
  }

  private def newBroker(): EmbeddedKafkaBroker = {
    val b = new EmbeddedKafkaBroker(Topic, Partitions, saslPlain = None)
    b.fetchBatchSize = FetchBatchSize
    b
  }

  private val querySeq = new AtomicLong(0)

  /** Start both outputs' sinks from the earliest offsets; each sink logs
    * row digests and, for latency rows, (receipt, due) pairs.
    */
  private def start(app: App, o: Opts, logs: Map[String, SinkLog]): Seq[StreamingQuery] =
    Outputs.map { out =>
      val log = logs(out)
      val name = s"$out-${querySeq.incrementAndGet()}"
      hashed(app.env(out), out).writeStream
        .queryName(name)
        .option("checkpointLocation", Paths.get(o.work, "checkpoints", name).toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect()
          val now = System.currentTimeMillis()
          var s = BigInt(0)
          val lat = ArrayBuffer.empty[(Long, Long)]
          rows.foreach { r =>
            s += BigInt(r.getLong(0))
            if (r.getBoolean(2)) lat += ((now, r.getLong(1)))
          }
          log.synchronized {
            log.rows += rows.length
            log.sum += s
            log.lat ++= lat
          }
          ()
        }
        .start()
    }

  /** Expected (rows, digest) per output: the same app over a batch
    * DataFrame of the same events.
    */
  private def expected(spark: SparkSession, evs: Seq[Ev]): Map[String, (Long, String)] = {
    val rows = evs.map(e => Row(e.id, new java.sql.Timestamp(e.tsMs), e.user, e.etype,
      e.value, e.dueMs))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, Partitions), Schema)
    val env = GraftApp.run(spark, appSql(0), Map("events" -> df))
    Outputs.map { out =>
      val r = hashed(env(out), out).agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
      out -> ((r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0")))
    }.toMap
  }

  /** The app set up `reps` times on `spark`; returns the last (kept)
    * app and each set-up's seconds. One set-up is: broker start,
    * `GraftApp.parse`, `AppRuntime.bindSources`, `GraftApp.run`, both
    * queries started and their first trigger done.
    */
  private def setups(o: Opts, spark: SparkSession, reps: Int): (App, Seq[Double]) = {
    var app: App = null
    val secs = (1 to reps).map { _ =>
      if (app != null) app.broker.close()
      val (a, ns) = Main.timedNs {
        val a = compile(spark, newBroker())
        val qs = start(a, o, Outputs.map(_ -> new SinkLog).toMap)
        qs.foreach(_.processAllAvailable())
        qs.foreach(_.stop())
        a
      }
      app = a
      ns / 1e9
    }
    Main.log(s"set-ups: ${secs.map(x => f"$x%.2f").mkString(", ")} s")
    (app, secs)
  }

  private def check(label: String, got: Map[String, (Long, String)],
                    want: Map[String, (Long, String)]): Int =
    Outputs.count { out =>
      val bad = got(out) != want(out)
      if (bad) System.err.println(s"[$label] $out: got ${got(out)}, expected ${want(out)}")
      bad
    }

  /** The drain side: the app's queries stay up; each [[burst]] appends a
    * seeded backlog and waits until both queries have processed it.
    */
  final class Drainer(val app: App, o: Opts, gen: Gen) {
    val logs: Map[String, SinkLog] = Outputs.map(_ -> new SinkLog).toMap
    val evs = ArrayBuffer.empty[Ev]
    /** Cumulative (rows, digest) per output after each burst. */
    val digests = ArrayBuffer.empty[Map[String, (Long, String)]]
    private val qs = start(app, o, logs)
    qs.foreach(_.processAllAvailable())

    /** Seconds from the append to both queries having caught up. */
    def burst(t: Option[Tracer], name: String): Double = {
      val base = evs.size.toLong
      val es = (0 until BurstEvents).map(k => gen.next(base + k, 0L))
      def body(): Double = {
        val t0 = System.nanoTime()
        preload(app.broker, es)
        qs.foreach(_.processAllAvailable())
        (System.nanoTime() - t0) / 1e9
      }
      val secs = t.fold(body()) { tr =>
        tr.count("drain.events_appended", es.size)
        tr.span("drain", name)(body())
      }
      evs ++= es
      digests += logs.map { case (k, l) => k -> l.digest }
      secs
    }

    def trace(t: Tracer): Unit = qs.foreach(q => t.groupSpan(q.runId.toString) = t.currentSpan)
    def stop(): Unit = qs.foreach(_.stop())
  }

  /** What one paced window produced. */
  final case class Paced(evs: Seq[Ev], logs: Map[String, SinkLog], fromDue: Long,
                         toDue: Long, late: Seq[Double], genSecs: Double) {
    /** Latencies (receipt minus due time, ms) of the results whose due
      * time is in `[fromDue, toDue)`, by [[SubWindowMs]] sub-window.
      */
    def latencies: Map[Long, Seq[Double]] =
      logs.values.toSeq.flatMap(l => l.synchronized(l.lat.toList)).collect {
        case (recv, due) if due >= fromDue && due < toDue =>
          ((due - fromDue) / SubWindowMs, (recv - due).toDouble)
      }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }

    /** Quantile `q` of the latencies in each sub-window, reduced to the
      * median over the sub-windows: a slow stretch of the host moves a few
      * sub-windows, not the result.
      */
    def subWindowQuantile(q: Double): Double =
      Stats.median(latencies.values.map(Stats.quantile(_, q)).toSeq)
  }

  /** Open loop on `app` (empty topic): events appended at [[PacedRate]]
    * events/s, each stamped with the time it was due, for [[PacedWarmMs]]
    * of ramp-up and then `measureMs` measured; returns once both queries
    * have delivered every result.
    */
  private def pace(app: App, o: Opts, measureMs: Long, gen: Gen,
                   t: Option[Tracer]): Paced = {
    val warm = PacedWarmMs * PacedRate / 1000
    val total = warm + measureMs * PacedRate / 1000
    val logs = Outputs.map(_ -> new SinkLog).toMap
    val qs = start(app, o, logs)
    t.foreach(tr => qs.foreach(q => tr.groupSpan(q.runId.toString) = tr.currentSpan))
    val evs = ArrayBuffer.empty[Ev]
    val late = ArrayBuffer.empty[Double]
    val t0Ms = System.currentTimeMillis() + 200
    def due(i: Long): Long = t0Ms + i * 1000 / PacedRate
    val genNs = Main.timedNs {
      var i = 0L
      while (i < total) {
        val now = System.currentTimeMillis()
        if (now < due(i)) Thread.sleep(math.min(due(i) - now, 5))
        else {
          // append every event already due, in one step
          val batch = ArrayBuffer.empty[Ev]
          while (i < total && due(i) <= now) { batch += gen.next(i, due(i)); i += 1 }
          preload(app.broker, batch.toSeq)
          val at = System.currentTimeMillis()
          evs ++= batch
          late ++= batch.map(e => (at - e.dueMs).toDouble)
        }
      }
    }._2
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    Paced(evs.toSeq, logs, due(warm), due(total), late.toSeq, genNs / 1e9)
  }

  def run(o: Opts): Outcome = {
    val spark = Main.session(o, o.cores)
    // the first set-up is cold: the drainer's app, both queries up and
    // their first trigger done. Drain and paced events use disjoint users,
    // so one batch reference over their union checks both sides.
    val drainer = new Drainer(compile(spark, newBroker()), o, new Gen(o.seed))
    val coldS = Main.sinceJvmStartS()
    drainer.burst(None, "warm-up")
    Main.log(f"cold start $coldS%.2f s, warm-up burst drained")
    // setup_s: the median of 3 warm set-ups; the last one's app (empty
    // topic) is paced
    val (pacedApp, setupSecs) = setups(o, spark, 3)
    for (i <- 1 to WarmBursts) drainer.burst(None, s"warm-up $i")

    // --seconds/2 drain bursts (at least 3), then a paced window with
    // --seconds x 800 ms measured (at --seconds 10: 5 bursts, 8 s paced)
    val bursts = math.max(3, o.seconds / 2)
    val pacedMs = o.seconds * 800L
    val tracer = if (o.trace) Some(new Tracer(s"stream_app-${o.seed}")) else None
    tracer.foreach(watchLag(_, Seq(drainer.app.broker, pacedApp.broker)))
    // traced runs alternate traced and plain bursts, for
    // trace.overhead_frac
    val plain = ArrayBuffer.empty[Double]
    def measure(): (Seq[Double], Paced) = {
      val secs = (0 until bursts).flatMap { r =>
        tracer match {
          case None => Some(drainer.burst(None, s"burst $r"))
          case Some(tr) if r % 2 == 0 =>
            tr.attach(spark)
            drainer.trace(tr)
            try Some(drainer.burst(tracer, s"burst $r")) finally tr.detach(spark)
          case Some(_) =>
            plain += drainer.burst(None, s"plain $r")
            None
        }
      }
      Main.log(s"drain bursts: ${secs.map(x => f"$x%.2f").mkString(", ")} s")
      val pacedGen = new Gen(o.seed + 1, Users)
      val paced = tracer match {
        case None => pace(pacedApp, o, pacedMs, pacedGen, None)
        case Some(tr) =>
          tr.attach(spark)
          try tr.span("paced", "paced window")(pace(pacedApp, o, pacedMs, pacedGen, tracer))
          finally tr.detach(spark)
      }
      (secs, paced)
    }
    val (secs, paced) = tracer.fold(measure())(_.span("workload", "stream_app")(measure()))
    drainer.stop()
    val all = paced.latencies.values.flatten.toSeq
    Main.log(f"paced: ${all.size} results, overall p50 ${Stats.quantile(all, 0.5)}%.0f / " +
      f"p99 ${Stats.quantile(all, 0.99)}%.0f ms, sub-window medians p50 " +
      f"${paced.subWindowQuantile(0.5)}%.0f / p99 ${paced.subWindowQuantile(0.99)}%.0f ms; " +
      "sub-window p50s " + paced.latencies.toSeq.sortBy(_._1)
        .map(x => f"${Stats.quantile(x._2, 0.5)}%.0f").mkString(" "))
    val (want, refNs) = Main.timedNs(expected(spark, drainer.evs.toSeq ++ paced.evs))
    val got = Outputs.map { out =>
      val (d, p) = (drainer.logs(out).digest, paced.logs(out).digest)
      out -> ((d._1 + p._1, (BigInt(d._2) + BigInt(p._2)).toString))
    }.toMap
    var attempted = Outputs.size.toLong
    var failed = check("stream_app", got, want).toLong
    Main.log(f"outputs checked against the batch reference (${refNs / 1e9}%.1f s), $failed failed")

    val metrics = tracer match {
      case None =>
        Seq(
          ("setup_s", Stats.median(setupSecs), "s"),
          ("throughput_per_s", BurstEvents / Stats.median(secs), "1/s"),
          ("latency_p50_ms", paced.subWindowQuantile(0.5), "ms"),
          ("latency_p99_ms", paced.subWindowQuantile(0.99), "ms"))
      case Some(tr) =>
        val layers = Seq(
          ("trace.overhead_frac", Stats.mean(secs) / Stats.mean(plain.toSeq) - 1.0, "frac"),
          ("gen.offered_eps", paced.evs.size / paced.genSecs, "1/s"),
          ("gen.late_p99_ms", Stats.quantile(paced.late, 0.99), "ms"),
          ("sql.bind_sources_ms", pacedApp.bindNs / 1e6, "ms"),
          ("sql.compile_ms", pacedApp.compileNs / 1e6, "ms"),
          ("setup.cold_s", coldS, "s")) ++
          streamLayers(tr, o) ++ Kernels.all(spark, o, Some(drainer.app.broker)) ++
          Layers.selfTimes(tr)
        Main.stop(spark)
        // single-thread baseline: the first two bursts again at local[1];
        // their outputs must match the main drain's after the same bursts
        val one = new Drainer(compile(Main.session(o, 1), newBroker()), o, new Gen(o.seed))
        one.burst(None, "1t warm-up")
        val oneSecs = one.burst(None, "1t")
        one.stop()
        attempted += Outputs.size
        failed += check("stream_app 1t", one.digests.last, drainer.digests(1))
        Main.stop(one.app.spark); one.app.broker.close()
        Layers.complete(layers :+ (("exec.drain_1t_eps", BurstEvents / oneSecs, "1/s")))
    }
    if (!o.trace) Main.stop(spark)
    drainer.app.broker.close(); pacedApp.broker.close()
    Outcome(attempted, failed, metrics, tracer.map(_.document(metrics)))
  }

  /** Append `evs` to their partitions as one step: holding the broker's
    * lock keeps a trigger's offset snapshot from seeing part of them, so a
    * burst is consumed by one micro-batch, not split across two.
    */
  def preload(broker: EmbeddedKafkaBroker, evs: Seq[Ev]): Unit = broker.synchronized {
    evs.groupBy(_.partition).foreach { case (p, es) => broker.seed(p, es.map(_.json): _*) }
  }

  private def offsetSum(json: String): Long =
    """"\d+"\s*:\s*(\d+)""".r.findAllMatchIn(Option(json).getOrElse("")).map(_.group(1).toLong).sum

  /** Source lag at each progress event: records in the log that the
    * trigger had not yet consumed when it finished.
    */
  private def watchLag(tr: Tracer, brokers: Seq[EmbeddedKafkaBroker]): Unit =
    tr.onProgress = (p: StreamingQueryProgress) => p.sources.headOption.foreach { s =>
      // the broker this query reads: the one its source description names
      brokers.find(b => s.description.contains(s":${b.port}/")).foreach { b =>
        val logEnd = (0 until Partitions).map(i => b.synchronized(b.logs(i).size.toLong)).sum
        tr.lagSamples.synchronized(tr.lagSamples += (logEnd - offsetSum(s.endOffset)).toDouble)
      }
    }

  /** Micro-batch, state-store and source metrics from the traced
    * section's progress events; triggers become spans under the workload.
    */
  private def streamLayers(tr: Tracer, o: Opts): Seq[(String, Double, String)] = {
    val ps = tr.progress.synchronized(tr.progress.toList).map(_._2)
    val withData = ps.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val root = tr.spans.find(_.kind == "workload").map(_.id).getOrElse(-1)
    ps.foreach { p =>
      tr.count("trigger.rows_in", p.numInputRows)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      tr.addSpan(root, "trigger", s"${p.name} batch ${p.batchId}", start,
        start + d(p, "triggerExecution"))
    }
    val lastPer = ps.groupBy(_.name).values.map(_.last).toSeq
    val states = lastPer.flatMap(_.stateOperators)
    val allStates = ps.flatMap(_.stateOperators)
    val wall = tr.spans.find(_.kind == "workload").map(_.durMs).getOrElse(
      ps.map(p => d(p, "triggerExecution")).sum)
    val lag = tr.lagSamples.synchronized(tr.lagSamples.toList)
    Seq(
      ("microbatch.batches", ps.size.toDouble, "count"),
      ("microbatch.trigger_p50_ms",
        if (withData.isEmpty) 0.0 else Stats.median(withData.map(d(_, "triggerExecution"))), "ms"),
      ("microbatch.latest_offset_ms", ps.map(d(_, "latestOffset")).sum, "ms"),
      ("microbatch.query_planning_ms", ps.map(d(_, "queryPlanning")).sum, "ms"),
      ("microbatch.add_batch_ms", ps.map(d(_, "addBatch")).sum, "ms"),
      ("microbatch.wal_commit_ms", ps.map(d(_, "walCommit")).sum, "ms"),
      ("microbatch.commit_offsets_ms", ps.map(d(_, "commitOffsets")).sum, "ms"),
      ("state.rows_total", states.map(_.numRowsTotal.toDouble).sum, "count"),
      ("state.memory_bytes", states.map(_.memoryUsedBytes.toDouble).sum, "bytes"),
      ("state.update_ms", allStates.map(_.allUpdatesTimeMs.toDouble).sum, "ms"),
      ("state.commit_ms", allStates.map(_.commitTimeMs.toDouble).sum, "ms"),
      ("sources.rows_in", ps.map(_.numInputRows.toDouble).sum, "count"),
      ("sources.lag_events", if (lag.isEmpty) 0.0 else Stats.median(lag), "count")) ++
      tr.execMetrics(tr.jobs.values.toSeq, wall, o.cores)
  }

  /** MB/s of `KafkaClient.fetch` (wire read plus record-batch decode)
    * over every partition of the broker's topic, median of 3 passes.
    */
  def fetchDecodeMbS(broker: EmbeddedKafkaBroker): Double = {
    val bytes = (0 until Partitions).map(p => broker.values(p).map(_.getBytes(UTF_8).length.toLong).sum).sum
    val c = new KafkaClient("127.0.0.1", broker.port)
    c.connect()
    try {
      val secs = (1 to 4).map { _ =>
        Main.timedNs((0 until Partitions).foreach(p => c.fetch(Topic, p, 0L)))._2 / 1e9
      }.drop(1)
      bytes / 1e6 / Stats.median(secs)
    } finally c.close()
  }

  /** A broker preloaded with the drain backlog of `seed`, for kernels
    * measured outside the stream workloads.
    */
  def backlogBroker(seed: Long): EmbeddedKafkaBroker = {
    val b = newBroker()
    val gen = new Gen(seed)
    preload(b, (0L until BurstEvents).map(i => gen.next(i, 0L)))
    b
  }
}

/** Row digests shared by the batch and stream checks. */
object Digest {
  /** xxhash64 of every column: floating-point columns narrowed to float
    * (the last bit of a double sum must not flip a check), maps rendered
    * as strings (xxhash64 takes no maps).
    */
  def rowHash(df: DataFrame): org.apache.spark.sql.Column =
    xxhash64(df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType => c.cast(FloatType)
        case _: MapType => c.cast(StringType)
        case _ => c
      }
    }: _*)
}
