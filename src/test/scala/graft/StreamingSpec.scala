package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** AppRunner-style harness (reference tests/common/mod.rs:31-70): feed
  * events through MemoryStream, processAllAvailable, collect from a memory
  * sink, assert exact rows. Fixtures mirror the compatibility corpus's
  * cseEventStream shape (FIXTURES.md §1) — (symbol, price) becomes
  * (key, value).
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private var sinkId = 0
  /** Run a streaming transform over staged input batches, collect all
    * output rows after each batch is processed.
    */
  private def runStream(batches: Seq[Seq[WinEvent]])(
      f: org.apache.spark.sql.Dataset[WinEvent] => org.apache.spark.sql.Dataset[WinOut]): Seq[WinOut] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[WinEvent]
    sinkId += 1
    val name = s"win_sink_$sinkId"
    val q: StreamingQuery = f(in.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.table(name).as[WinOut].collect().toSeq
    } finally q.stop()
  }

  private def ev(id: Long, v: Double, key: String = "k", tsUs: Long = -1): WinEvent =
    WinEvent(key, if (tsUs < 0) id * 1000000L else tsUs, id, v)

  test("length(2) window emits Current then Expired of the evicted oldest") {
    // reference: compatibility/windows.rs lengthWindowTest shape
    val out = runStream(Seq(Seq(ev(1, 10), ev(2, 20)), Seq(ev(3, 30), ev(4, 40))))(
      ds => Windows.length(ds, 2))
    val got = out.sortBy(o => (o.eventId, -o.op)).map(o => (o.eventId, o.op))
    assert(got == Seq((1L, 1), (1L, -1), (2L, 1), (2L, -1), (3L, 1), (4L, 1)))
    // incremental sum over the changelog = window content sum
    val windowSum = out.map(o => o.value * o.op).sum
    assert(windowSum == 30.0 + 40.0)
  }

  test("lengthBatch(2) flushes complete batches, expiring the previous batch") {
    val out = runStream(Seq(Seq(ev(1, 1), ev(2, 2), ev(3, 3)), Seq(ev(4, 4))))(
      ds => Windows.lengthBatch(ds, 2))
    val current = out.filter(_.op == 1).map(_.eventId).sorted
    val expired = out.filter(_.op == -1).map(_.eventId).sorted
    assert(current == Seq(1L, 2L, 3L, 4L)) // two flushed batches
    assert(expired == Seq(1L, 2L))          // first batch retracted at second flush
  }

  test("time window expires by event time across micro-batches") {
    val out = runStream(Seq(
      Seq(ev(1, 1, tsUs = 0L), ev(2, 2, tsUs = 500000L)),
      Seq(ev(3, 3, tsUs = 1600000L))))( // 1.6s: evicts ts<=0.6s → events 1,2
      ds => Windows.time(ds, durUs = 1000000L))
    assert(out.count(_.op == 1) == 3)
    assert(out.filter(_.op == -1).map(_.eventId).sorted == Seq(1L, 2L))
  }

  test("sort window keeps top-2 by value and ejects the worst") {
    val out = runStream(Seq(Seq(ev(1, 50), ev(2, 80), ev(3, 60), ev(4, 90))))(
      ds => Windows.sortTopN(ds, 2, descending = true))
    val ejected = out.filter(_.op == -1).map(_.eventId)
    assert(ejected == Seq(1L, 3L)) // 50 ejected by 60's arrival, 60 by 90's
  }

  test("firstUnique window passes only the first event per key across batches") {
    val out = runStream(Seq(
      Seq(ev(1, 10, key = "IBM"), ev(2, 20, key = "MSFT")),
      Seq(ev(3, 30, key = "IBM"))))( // later IBM swallowed, even cross-batch
      ds => Windows.firstUnique(ds))
    assert(out.map(o => (o.key, o.eventId, o.op)).sortBy(_._2) ==
      Seq(("IBM", 1L, 1), ("MSFT", 2L, 1)))
  }

  test("delay window releases events once event time passes the delay") {
    val out = runStream(Seq(
      Seq(ev(1, 1, tsUs = 0L), ev(2, 2, tsUs = 500000L)),   // nothing due yet
      Seq(ev(3, 3, tsUs = 1700000L))))(                      // 1.7s: releases ts<=0.7s
      ds => Windows.delay(ds, 1000000L)) // 1s delay
    assert(out.map(o => (o.eventId, o.op)) == Seq((1L, 1), (2L, 1)))
  }

  test("frequent window: Misra-Gries tracks top-k values, decrements evict") {
    val out = runStream(Seq(
      Seq(ev(1, 1.0), ev(2, 1.0), ev(3, 2.0)),  // 1.0 tracked (cnt 2), 2.0 tracked (cnt 1)
      Seq(ev(4, 3.0)),                           // full: decrement → 2.0 dies, 3.0 discarded
      Seq(ev(5, 1.0))))(                         // 1.0 still tracked → replace
      ds => Windows.frequent(ds, 2))
    val got = out.map(o => (o.eventId, o.op))
    assert(got == Seq((1L, 1), (1L, -1), (2L, 1), (3L, 1), (3L, -1), (2L, -1), (5L, 1)))
  }

  test("CEP streaming: partial match carries across micro-batches, WITHIN prunes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CepEvent]
    val spec = PatternSpec(
      steps = Seq(
        Step.simple("a")(_.etype == "A"),
        Step.simple("b")(_.etype == "B")),
      strict = false, every = true, withinUs = Some(1000000L))
    val q = Cep.detectStream(in.toDS(), Seq(spec)).writeStream
      .format("memory").queryName("cep_sink").outputMode("append").start()
    def e(id: Long, t: String, tsUs: Long) = CepEvent("u1", tsUs, id, t, id.toDouble)
    try {
      in.addData(Seq(e(1, "A", 0L)));                   q.processAllAvailable()
      in.addData(Seq(e(2, "B", 500000L)));              q.processAllAvailable() // match across batches
      in.addData(Seq(e(3, "A", 1000000L)));             q.processAllAvailable()
      in.addData(Seq(e(4, "B", 2500000L)));             q.processAllAvailable() // WITHIN exceeded → no match
      val matches = spark.table("cep_sink").as[CepMatch].collect()
      assert(matches.length == 1)
      assert(matches.head.steps.map(_.events.head.eventId) == Seq(1L, 2L))
    } finally q.stop()
  }

  test("STREAMING SQL pattern: FROM PATTERN over a streaming input, " +
       "cross-batch match, typed slot resolution, per-key isolation") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)] // (sec, user, kind, v)
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, k1 STRING, v2 DOUBLE);
        |INSERT INTO Out
        |SELECT e1.user_id AS user_id, e1.kind AS k1, e2.v AS v2
        |FROM PATTERN (EVERY (e1=E[kind = 'a'] -> e2=E[kind = 'b' AND v > 2 * e1.v]))
        |WITHIN 1 HOUR
        |PARTITION BY user_id;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("sqlpat_sink")
      .outputMode("append").start()
    try {
      in.addData((1L, 7L, "a", 10.0)); q.processAllAvailable() // partial only
      assert(spark.table("sqlpat_sink").count() == 0)
      // cross-batch: b qualifies (25 > 2*10) for user 7; user 8's b has no a
      in.addData((2L, 7L, "b", 25.0), (3L, 8L, "b", 99.0)); q.processAllAvailable()
      val rows = spark.table("sqlpat_sink").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((7L, "a", 25.0)))
      // non-qualifying b (not > 2*v1) leaves the partial waiting
      in.addData((4L, 9L, "a", 50.0)); q.processAllAvailable()
      in.addData((5L, 9L, "b", 60.0)); q.processAllAvailable() // 60 < 100
      in.addData((6L, 9L, "b", 200.0)); q.processAllAvailable() // qualifies
      val rows2 = spark.table("sqlpat_sink").collect().map(r => (r.getLong(0), r.getDouble(2)))
      assert(rows2.toSet == Set((7L, 25.0), (9L, 200.0)))
    } finally q.stop()
  }

  test("STREAMING SQL pattern: unbounded A+ collects across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Int)] // (sec, user, val)
    val events = in.toDS().toDF("sec", "user_id", "val")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "val")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, val INT);
        |CREATE STREAM Out (user_id BIGINT, n BIGINT, total BIGINT);
        |INSERT INTO Out
        |SELECT e.user_id AS user_id, count(e) AS n, sum(e.val) AS total
        |FROM PATTERN (EVERY e=E[val < 50]+ -> stop=E[val = 99])
        |WITHIN 1 HOUR
        |PARTITION BY user_id;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("aplus_sink")
      .outputMode("append").start()
    try {
      // the collected run spans TWO micro-batches before the stop marker
      in.addData((1L, 7L, 1)); q.processAllAvailable()
      assert(spark.table("aplus_sink").count() == 0)
      in.addData((2L, 7L, 2), (3L, 7L, 99)); q.processAllAvailable()
      val rows = spark.table("aplus_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(identity)
      // batch ≡ streaming: the same prefix set as the batch kernel
      assert(rows.toSeq == Seq((7L, 1L, 1L), (7L, 1L, 2L), (7L, 2L, 3L)))
    } finally q.stop()
  }

  test("STREAMING SQL pattern: A* zero-or-more matches with and without As") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Int)] // (sec, user, val)
    val events = in.toDS().toDF("sec", "user_id", "val")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "val")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, val INT);
        |CREATE STREAM Out (user_id BIGINT, n BIGINT, total BIGINT, stopv INT);
        |INSERT INTO Out
        |SELECT z.user_id AS user_id, count(e) AS n, sum(e.val) AS total,
        |       z.val AS stopv
        |FROM PATTERN (EVERY e=E[val < 50]* -> z=E[val = 99])
        |WITHIN 1 HOUR
        |PARTITION BY user_id;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("astar_sink")
      .outputMode("append").start()
    try {
      // user 8: stop with ZERO prior As → the zero-branch match (n=0,
      // total NULL); user 7: one A then stop → zero-branch AND A+ branch
      in.addData((1L, 7L, 3), (2L, 8L, 99)); q.processAllAvailable()
      in.addData((3L, 7L, 99)); q.processAllAvailable()
      val rows = spark.table("astar_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3))).sortBy(identity)
      assert(rows.toSeq == Seq((7L, 0L, -1L, 99), (7L, 1L, 3L, 99),
        (8L, 0L, -1L, 99)))
    } finally q.stop()
  }

  test("STREAMING SQL pattern: three-way AND matches any arrival order") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)] // (sec, user, kind, v)
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, av DOUBLE, bv DOUBLE, cv DOUBLE);
        |INSERT INTO Out
        |SELECT e1.user_id AS user_id, e1.v AS av, e2.v AS bv, e3.v AS cv
        |FROM PATTERN (e1=E[kind = 'a'] AND e2=E[kind = 'b'] AND e3=E[kind = 'c'])
        |WITHIN 1 HOUR
        |PARTITION BY user_id;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("and3_sink")
      .outputMode("append").start()
    try {
      // user 7 arrives c, a, b across batches — only the c→a→b ordering
      // variant completes, binding each alias to its kind
      in.addData((1L, 7L, "c", 3.0)); q.processAllAvailable()
      in.addData((2L, 7L, "a", 1.0)); q.processAllAvailable()
      assert(spark.table("and3_sink").count() == 0)
      in.addData((3L, 7L, "b", 2.0)); q.processAllAvailable()
      val rows = spark.table("and3_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      assert(rows.toSeq == Seq((7L, 1.0, 2.0, 3.0)))
    } finally q.stop()
  }

  test("STREAMING SQL tumbling window aggregation: cross-batch accumulation e2e") {
    // the window clause compiles to native window() — the same app text
    // runs batch (GraftAppSpec) and streaming; here a late second batch
    // lands in an ALREADY-SEEN window and the aggregate updates
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)] // (sec, v)
    val events = in.toDS().toDF("sec", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, v DOUBLE);
        |CREATE STREAM Out (n BIGINT, total DOUBLE);
        |INSERT INTO Out SELECT count(v) AS n, sum(v) AS total FROM E
        |WINDOW('tumbling', '10 seconds') GROUP BY window;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("sqlwin_sink")
      .outputMode("complete").start()
    try {
      in.addData((1L, 1.0), (5L, 2.0), (12L, 10.0)); q.processAllAvailable()
      assert(spark.table("sqlwin_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet == Set((2L, 3.0), (1L, 10.0)))
      in.addData((7L, 4.0)); q.processAllAvailable() // updates window [0,10)
      assert(spark.table("sqlwin_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet == Set((3L, 7.0), (1L, 10.0)))
    } finally q.stop()
  }

  test("STREAMING SQL trailing NOT: guard event kills; watermark flush emits") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)] // (sec, user, kind, v)
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, v1 DOUBLE);
        |INSERT INTO Out
        |SELECT e1.user_id AS user_id, e1.v AS v1
        |FROM PATTERN (EVERY (e1=E[kind = 'a'] -> NOT E[kind = 'b'] FOR 10 SECONDS))
        |PARTITION BY user_id;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("sqlabs_sink")
      .outputMode("append").start()
    try {
      // user 7: 'a' then a 'b' IN A LATER BATCH within 10s → killed
      in.addData((1L, 7L, "a", 10.0));  q.processAllAvailable()
      in.addData((5L, 7L, "b", 0.0));   q.processAllAvailable()
      // user 8: 'a' never followed by 'b'
      in.addData((20L, 8L, "a", 50.0)); q.processAllAvailable()
      assert(spark.table("sqlabs_sink").count() == 0) // deadline not reached
      // far-future other-key events advance the watermark past user 8's
      // deadline; the next batch fires the EventTimeTimeout flush
      in.addData((100L, 9L, "x", 0.0)); q.processAllAvailable()
      in.addData((101L, 9L, "x", 0.0)); q.processAllAvailable()
      val rows = spark.table("sqlabs_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((8L, 50.0)))
    } finally q.stop()
  }

  test("STREAMING SQL mid-chain NOT: guard event in a LATER batch kills the " +
      "gapped partial; the next step's own event does not") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)] // (sec, user, kind, v)
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, v1 DOUBLE, v2 DOUBLE);
        |INSERT INTO Out
        |SELECT e1.user_id AS user_id, e1.v AS v1, e2.v AS v2
        |FROM PATTERN (e1=E[kind = 'a'] -> NOT E[kind = 'b'] -> e2=E[kind = 'c'])
        |PARTITION BY user_id;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("sqlmid_sink")
      .outputMode("append").start()
    val fed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Double)]
    def feed(rows: (Long, Long, String, Double)*): Unit = {
      fed ++= rows; in.addData(rows); q.processAllAvailable()
    }
    try {
      // user 7: a … b … c across THREE batches → the cross-batch guard
      // event kills the partial sitting in the gap
      feed((1L, 7L, "a", 10.0))
      feed((2L, 7L, "b", 0.0))
      feed((3L, 7L, "c", 30.0))
      assert(spark.table("sqlmid_sink").count() == 0)
      // user 8: a then c in a later batch, no b between → match; the c
      // ADVANCES the partial out of the gap rather than killing it
      feed((10L, 8L, "a", 1.0))
      feed((12L, 8L, "c", 2.0))
      val rows = spark.table("sqlmid_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((8L, 1.0, 2.0)))
      // user 9: a → c matches; a b AFTER the c must not retract anything
      feed((20L, 9L, "a", 5.0), (21L, 9L, "c", 6.0))
      feed((25L, 9L, "b", 0.0))
      val rows2 = spark.table("sqlmid_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(rows2 == Set((8L, 1.0, 2.0), (9L, 5.0, 6.0)))
      // batch ↔ streaming parity: the batch lowering (anti-join) over the
      // same accumulated events agrees with the NFA's MidGuard discipline
      val batchDf = fed.toSeq.toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batchRows = graft.sql.GraftApp.run(spark, app, Map("E" -> batchDf))("Out")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(batchRows == rows2)
    } finally q.stop()
  }

  test("STREAMING SQL mid-chain NOT … FOR: guard narrowed to the FOR window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, v2 DOUBLE);
        |INSERT INTO Out SELECT e1.user_id AS user_id, e2.v AS v2
        |FROM PATTERN (e1=E[kind = 'a'] -> NOT E[kind = 'b'] FOR 5 SECONDS -> e2=E[kind = 'c'])
        |PARTITION BY user_id;""".stripMargin
    val q = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
      .writeStream.format("memory").queryName("sqlmidfor_sink")
      .outputMode("append").start()
    try {
      // user 1: b lands INSIDE the 5s window after a → killed
      in.addData((1L, 1L, "a", 0.0));   q.processAllAvailable()
      in.addData((3L, 1L, "b", 0.0));   q.processAllAvailable()
      in.addData((100L, 1L, "c", 9.0)); q.processAllAvailable()
      // user 2: b lands in the gap but PAST the FOR window → match survives
      in.addData((1L, 2L, "a", 0.0));   q.processAllAvailable()
      in.addData((30L, 2L, "b", 0.0));  q.processAllAvailable()
      in.addData((100L, 2L, "c", 7.0)); q.processAllAvailable()
      val rows = spark.table("sqlmidfor_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((2L, 7.0)))
    } finally q.stop()
  }

  test("STREAMING SQL ALLOW LATENESS: late cross-batch events still reach " +
      "the NFA; without it the watermark drops them") {
    implicit val sqlCtx = spark.sqlContext
    def run(latenessClause: String, sink: String): (MemoryStream[(Long, Long, String, Double)], StreamingQuery) = {
      val in = MemoryStream[(Long, Long, String, Double)]
      val events = in.toDS().toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val app =
        s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
           |CREATE STREAM Out (user_id BIGINT, v2 DOUBLE);
           |INSERT INTO Out SELECT e1.user_id AS user_id, e2.v AS v2
           |FROM PATTERN (e1=E[kind = 'a'] -> e2=E[kind = 'b'])
           |PARTITION BY user_id WITHIN 20 SECONDS$latenessClause;""".stripMargin
      val q = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      (in, q)
    }
    // WITH lateness 30s: watermark after the t=100 batch sits at 70; the
    // late-by-5s pair (95, 96) in the next batch is admitted → match
    val (inLate, qLate) = run(" ALLOW LATENESS 30 SECONDS", "late_ok_sink")
    try {
      inLate.addData((100L, 99L, "x", 0.0)); qLate.processAllAvailable()
      inLate.addData((95L, 1L, "a", 0.0), (96L, 1L, "b", 4.0)); qLate.processAllAvailable()
      val got = spark.table("late_ok_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == Seq((1L, 4.0)))
    } finally qLate.stop()
    // WITHOUT lateness (strict in-order contract): watermark = 100 after the
    // first batch; the same late pair is dropped before the NFA → no match
    val (inStrict, qStrict) = run("", "late_drop_sink")
    try {
      inStrict.addData((100L, 99L, "x", 0.0)); qStrict.processAllAvailable()
      inStrict.addData((95L, 1L, "a", 0.0), (96L, 1L, "b", 4.0)); qStrict.processAllAvailable()
      assert(spark.table("late_drop_sink").count() == 0)
    } finally qStrict.stop()
  }

  test("STREAMING SQL WITHIN: idle-key partials purge on watermark timeout; " +
      "fresh in-window pairs still match") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, v2 DOUBLE);
        |INSERT INTO Out SELECT e1.user_id AS user_id, e2.v AS v2
        |FROM PATTERN (EVERY (e1=E[kind = 'a'] -> e2=E[kind = 'b']))
        |PARTITION BY user_id WITHIN 10 SECONDS;""".stripMargin
    val q = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
      .writeStream.format("memory").queryName("sqlwithin_sink")
      .outputMode("append").start()
    try {
      // u1 seeds a partial, then goes idle; far-future other-key events
      // advance the watermark past u1's 10s deadline → EventTimeTimeout
      // fires and clears u1's state (the reference's TimerWheel role)
      in.addData((1L, 1L, "a", 0.0));    q.processAllAvailable()
      in.addData((100L, 9L, "x", 0.0));  q.processAllAvailable()
      in.addData((101L, 9L, "x", 0.0));  q.processAllAvailable()
      // u1's b — in-window by data time, but the partial is gone (and the
      // event is late vs the watermark): no match
      in.addData((5L, 1L, "b", 1.0));    q.processAllAvailable()
      assert(spark.table("sqlwithin_sink").count() == 0)
      // a FRESH in-window pair after the purge matches normally — the
      // timeout cleared state without poisoning the key
      in.addData((200L, 1L, "a", 0.0), (205L, 1L, "b", 7.0)); q.processAllAvailable()
      val rows = spark.table("sqlwithin_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((1L, 7.0)))
    } finally q.stop()
  }

  test("OUTPUT EVERY n EVENTS: FIRST on arrival, LAST on chunk completion, " +
      "ALL flushed whole — counter state carries across batches") {
    // chunks of 3 per key; the chunk boundary falls INSIDE batch 2 so the
    // cross-batch counter is load-bearing
    val batches = Seq(Seq(ev(1, 10), ev(2, 20)), Seq(ev(3, 30), ev(4, 40)), Seq(ev(5, 50)))
    val first = runStream(batches)(ds => Windows.outputEveryN(ds, 3, RateBehavior.First))
    assert(first.map(_.eventId).sorted == Seq(1L, 4L)) // chunk heads, open chunk included
    val last = runStream(batches)(ds => Windows.outputEveryN(ds, 3, RateBehavior.Last))
    assert(last.map(_.eventId).sorted == Seq(3L)) // only the complete chunk emits
    val all = runStream(batches)(ds => Windows.outputEveryN(ds, 3, RateBehavior.All))
    assert(all.map(_.eventId).sorted == Seq(1L, 2L, 3L)) // chunk flushed at event 3
    // kernel-level state resume: the counter (and ALL's open-chunk buffer)
    // carries between calls exactly like micro-batches
    val (o1, s1) = WindowKernels.everyNEvents(
      Seq(ev(1, 1), ev(2, 2)), RateBuffer(0L, Nil), 3, RateBehavior.All)
    assert(o1.isEmpty && s1.pending.size == 2)
    val (o2, s2) = WindowKernels.everyNEvents(
      Seq(ev(3, 3)), s1, 3, RateBehavior.All)
    assert(o2.map(_.eventId) == Seq(1L, 2L, 3L) && s2.pending.isEmpty)
  }

  test("ALLOW LATENESS without WITHIN or trailing NOT warns it is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def app(tail: String) =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out (user_id BIGINT);
         |INSERT INTO Out SELECT e1.user_id AS user_id
         |FROM PATTERN (e1=E[kind = 'a'] -> e2=E[kind = 'b'])
         |PARTITION BY user_id$tail;""".stripMargin
    // lateness on the plain NoTimeout path: no watermark exists → warn
    graft.sql.ScaleWarnings.reset()
    graft.sql.GraftApp.run(spark, app(" ALLOW LATENESS 10 SECONDS"), Map("E" -> events))
    assert(graft.sql.ScaleWarnings.recentWarnings.exists(_.contains("ALLOW LATENESS")))
    // with WITHIN the clause is load-bearing (watermark delay) → silent
    graft.sql.ScaleWarnings.reset()
    graft.sql.GraftApp.run(spark,
      app(" WITHIN 20 SECONDS ALLOW LATENESS 10 SECONDS"), Map("E" -> events))
    assert(!graft.sql.ScaleWarnings.recentWarnings.exists(_.contains("ALLOW LATENESS")))
  }

  test("CEP remove-on-drain: resolved guards and drained keys leave ZERO state rows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CepEvent]
    val spec = PatternSpec(Seq(Step.simple("a")(_.etype == "A")))
    val guards = Seq(Cep.TrailingAbsent(_.etype == "B", forUs = 10000000L)) // 10s
    val q = Cep.detectStream(in.toDS(), Seq(spec),
        Cep.StreamMode(lateness = Some("0 seconds"), guards = guards))
      .writeStream.format("memory").queryName("drain_sink").outputMode("append").start()
    def e(key: String, id: Long, t: String, tsUs: Long) = CepEvent(key, tsUs, id, t, 0.0)
    def stateRows: Long = q.lastProgress.stateOperators.head.numRowsTotal
    try {
      // u1: base match pends awaiting its 10s guard deadline → 1 state row
      // (ts sits above the initial watermark 0 — an event AT the watermark
      // is dropped before the NFA, see numRowsDroppedByWatermark)
      in.addData(Seq(e("u1", 1, "A", 1000000L))); q.processAllAvailable()
      assert(stateRows == 1)
      // guard event resolves the pending match (kills it) → state drains to 0
      in.addData(Seq(e("u1", 2, "B", 5000000L))); q.processAllAvailable()
      assert(spark.table("drain_sink").count() == 0)
      assert(stateRows == 0)
      // u2: match pends, then the watermark passes its deadline → flushed as
      // a match AND its state entry removed (no empty shells linger)
      in.addData(Seq(e("u2", 3, "A", 20000000L)));  q.processAllAvailable()
      assert(stateRows == 1)
      in.addData(Seq(e("u3", 4, "X", 100000000L))); q.processAllAvailable()
      in.addData(Seq(e("u3", 5, "X", 101000000L))); q.processAllAvailable()
      val matches = spark.table("drain_sink").as[CepMatch].collect()
      assert(matches.map(_.key).toSeq == Seq("u2"))
      assert(stateRows == 0)
    } finally q.stop()
  }

  test("watermarked stream-stream join: cross-batch time-range join equals the batch form") {
    // reference join_processor.rs:18-214 buffers each side per key/window;
    // the Spark-native twin is a watermarked stream-stream join with a
    // time-range condition (state bounded by the watermark + range, vs the
    // reference's per-side unbounded buffers — SURVEY §2.3 divergence note)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val pIn = MemoryStream[(Long, Long, Long)] // (id, user, sec)
    val vIn = MemoryStream[(Long, Long, Long)]
    def shape(df: org.apache.spark.sql.DataFrame, pfx: String) =
      df.toDF(s"${pfx}_id", s"${pfx}_user", s"${pfx}_sec")
        .withColumn(s"${pfx}_ts", timestamp_seconds(col(s"${pfx}_sec")))
        .withWatermark(s"${pfx}_ts", "5 seconds")
    val cond = "p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL 10 SECONDS AND p_ts"
    val q = shape(pIn.toDF(), "p").join(shape(vIn.toDF(), "v"), expr(cond))
      .select(col("p_id"), col("v_id"))
      .writeStream.format("memory").queryName("ssj_sink").outputMode("append").start()
    val ps = Seq((1L, 7L, 100L), (2L, 8L, 120L), (3L, 7L, 130L))
    val vs = Seq((11L, 7L, 95L), (12L, 7L, 98L), (13L, 8L, 111L),
      (14L, 8L, 130L), (15L, 7L, 125L))
    try {
      // spread across batches so matches form cross-batch in BOTH directions
      pIn.addData(ps(0)); vIn.addData(vs(0)); q.processAllAvailable()
      vIn.addData(vs(1)); q.processAllAvailable()            // view joins batch-1 purchase
      pIn.addData(ps(1)); vIn.addData(vs(2)); q.processAllAvailable()
      vIn.addData(vs(3), vs(4)); pIn.addData(ps(2)); q.processAllAvailable()
      val got = spark.table("ssj_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch form over the same events decides the expected pairs
      import spark.implicits._
      val pb = ps.toDF("p_id", "p_user", "p_sec")
        .withColumn("p_ts", timestamp_seconds(col("p_sec")))
      val vb = vs.toDF("v_id", "v_user", "v_sec")
        .withColumn("v_ts", timestamp_seconds(col("v_sec")))
      val want = pb.join(vb, expr(cond)).select(col("p_id"), col("v_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty && got == want)
    } finally q.stop()
  }

  test("lossyCounting window: Manku-Motwani tracks at support, bucket boundary prunes") {
    // support 0.4, error 0.2 → bucket width 5, qualify at cnt >= 0.2·n.
    // v=1 stays hot; v=2/v=3 are singletons the n=5 boundary prunes
    // (cnt+Δ=1 ≤ bucket) — their retained events retract.
    val out = runStream(Seq(
      Seq(ev(1, 1.0), ev(2, 1.0), ev(3, 2.0)),
      Seq(ev(4, 3.0), ev(5, 1.0))))(
      ds => Windows.lossyCounting(ds, 0.4, 0.2))
    assert(out.map(o => (o.eventId, o.op)) == Seq(
      (1L, 1), (1L, -1), (2L, 1), (3L, 1),          // batch 1
      (4L, 1), (2L, -1), (5L, 1), (3L, -1), (4L, -1))) // batch 2: e5 replaces e2, boundary prunes
  }

  test("lossyCounting EventTimeTimeout: idle key retracts emitted events, state removed") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[WinEvent]
    val q = Windows.lossyCountingWithTimeout(in.toDS(), 0.4, 0.2,
        idleTtlUs = 10000000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("wt_lossy_sink").outputMode("append").start()
    def stateRows: Long = q.lastProgress.stateOperators.head.numRowsTotal
    try {
      in.addData(Seq(WinEvent("k1", 1000000L, 1, 7.0), WinEvent("k1", 2000000L, 2, 7.0)))
      q.processAllAvailable()
      assert(stateRows == 1)
      in.addData(Seq(WinEvent("k2", 50000000L, 3, 9.0))); q.processAllAvailable()
      in.addData(Seq(WinEvent("k2", 51000000L, 4, 9.0))); q.processAllAvailable()
      val rows = spark.table("wt_lossy_sink").as[WinOut].collect().toSeq
      // k1's retained emitted event (e2 — e1 was replaced) retracts on idle
      assert(rows.filter(r => r.key == "k1" && r.op == -1).map(_.eventId).toSet == Set(1L, 2L))
      assert(rows.filter(r => r.key == "k1").map(_.op).sum == 0) // net zero after flush
      assert(stateRows == 1) // only k2 remains
    } finally q.stop()
  }

  test("window EventTimeTimeout: idle keys flush through the changelog, ZERO state rows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[WinEvent]
    val q = Windows.timeWithTimeout(in.toDS(), durUs = 10000000L, // 10s window
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("wt_time_sink").outputMode("append").start()
    def stateRows: Long = q.lastProgress.stateOperators.head.numRowsTotal
    try {
      // k1 gets two events; nothing ever expires them via arrivals
      in.addData(Seq(WinEvent("k1", 1000000L, 1, 1.0), WinEvent("k1", 2000000L, 2, 2.0)))
      q.processAllAvailable()
      assert(stateRows == 1)
      // k2 advances the watermark far past k1's (newest + dur) deadline;
      // the NEXT batch fires k1's timeout: its events emit Expired and the
      // state entry is removed — the timer-wheel expiry no newer k1
      // arrival would ever produce
      in.addData(Seq(WinEvent("k2", 50000000L, 3, 3.0))); q.processAllAvailable()
      in.addData(Seq(WinEvent("k2", 51000000L, 4, 4.0))); q.processAllAvailable()
      val rows = spark.table("wt_time_sink").as[WinOut].collect().toSeq
      assert(rows.filter(r => r.key == "k1" && r.op == -1).map(_.eventId).toSet == Set(1L, 2L))
      assert(stateRows == 1) // only k2 remains live
    } finally q.stop()
  }

  test("outputEveryN EventTimeTimeout: idle ALL-chunk flushes, counter keys free") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[WinEvent]
    val q = Windows.outputEveryNWithTimeout(in.toDS(), n = 3, RateBehavior.All,
        idleTtlUs = 5000000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("wt_rate_sink").outputMode("append").start()
    def stateRows: Long = q.lastProgress.stateOperators.head.numRowsTotal
    try {
      // two of a three-event chunk arrive, then the key goes idle
      in.addData(Seq(WinEvent("k1", 1000000L, 1, 1.0), WinEvent("k1", 2000000L, 2, 2.0)))
      q.processAllAvailable()
      assert(spark.table("wt_rate_sink").count() == 0) // chunk still open
      assert(stateRows == 1)
      in.addData(Seq(WinEvent("k2", 60000000L, 3, 3.0))); q.processAllAvailable()
      in.addData(Seq(WinEvent("k2", 61000000L, 4, 4.0))); q.processAllAvailable()
      // idle TTL fired: the open chunk flushed (admitted events are not
      // silently dropped), k1's entry removed
      val k1 = spark.table("wt_rate_sink").as[WinOut].collect().filter(_.key == "k1")
      assert(k1.map(_.eventId).toSet == Set(1L, 2L) && k1.forall(_.op == 1))
      assert(stateRows == 1) // k2's open chunk only
    } finally q.stop()
  }

  test("OUTPUT SNAPSHOT streaming form: complete mode re-emits whole state per trigger") {
    // snapshot_output_rate.rs semantics on a stream = complete-mode agg: every
    // trigger emits EVERY key's current state, not just changed keys
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[(Long, Double)] // (user, value)
    sinkId += 1
    val name = s"snap_sink_$sinkId"
    val q = in.toDS().toDF("user_id", "value")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      in.addData((1L, 10.0), (2L, 5.0)); q.processAllAvailable()
      val snap1 = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(snap1 == Set((1L, 1L, 10.0), (2L, 1L, 5.0)))
      // second interval touches only user 1 — the snapshot still carries
      // user 2's unchanged state (whole-state emit)
      in.addData((1L, 30.0)); q.processAllAvailable()
      val snap2 = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(snap2 == Set((1L, 2L, 40.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("CEP streaming absent pattern: B in a later batch kills; timeout flush emits") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CepEvent]
    val spec = PatternSpec(Seq(Step.simple("e1")(_.etype == "A")))
    val guards = Seq(Cep.TrailingAbsent(_.etype == "B", forUs = 10000000L)) // 10s
    val q = Cep.detectStream(in.toDS(), Seq(spec),
        Cep.StreamMode(lateness = Some("0 seconds"), guards = guards))
      .writeStream.format("memory").queryName("absent_sink").outputMode("append").start()
    def e(key: String, id: Long, t: String, tsUs: Long) = CepEvent(key, tsUs, id, t, 0.0)
    try {
      // u1: A then B arrives in a LATER batch inside the window → no emit.
      // Both sit above the initial watermark (0): an event AT it is
      // dropped as late and would never reach the kernel
      in.addData(Seq(e("u1", 1, "A", 1000000L)));      q.processAllAvailable()
      in.addData(Seq(e("u1", 2, "B", 5000000L)));      q.processAllAvailable()
      // u2: A never followed by B
      in.addData(Seq(e("u2", 3, "A", 20000000L)));     q.processAllAvailable()
      assert(spark.table("absent_sink").count() == 0)  // deadline not reached yet
      // far-future other-key event advances the watermark past u2's
      // deadline; the next batch fires the EventTimeTimeout flush
      in.addData(Seq(e("u3", 4, "X", 100000000L)));    q.processAllAvailable()
      in.addData(Seq(e("u3", 5, "X", 101000000L)));    q.processAllAvailable()
      val matches = spark.table("absent_sink").as[CepMatch].collect()
      assert(matches.map(m => (m.key, m.steps.head.events.head.eventId)).toSeq ==
        Seq(("u2", 3L)))
      // in-batch conclusive deadline: A then much-later event, same key
      in.addData(Seq(e("u4", 6, "A", 102000000L), e("u4", 7, "X", 120000000L)))
      q.processAllAvailable()
      assert(spark.table("absent_sink").count() == 2)
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks (join_processor.rs semantics, bounded)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val left = MemoryStream[(Long, Long, String)]  // (id, tsSec, val)
    val right = MemoryStream[(Long, Long, String)] // (id, tsSec, category)
    val l = left.toDS().toDF("l_id", "l_sec", "l_val")
      .withColumn("l_ts", timestamp_seconds(col("l_sec")))
      .withWatermark("l_ts", "10 seconds")
    val r = right.toDS().toDF("r_id", "r_sec", "r_cat")
      .withColumn("r_ts", timestamp_seconds(col("r_sec")))
      .withWatermark("r_ts", "10 seconds")
    // equi key + time bound: right within 5s after left — the watermark
    // bound is what the reference's unbounded join buffers lack
    // (SURVEY §7.4 risk 5)
    val joined = l.join(r,
      expr("l_id = r_id AND r_ts >= l_ts AND r_ts <= l_ts + interval 5 seconds"))
    val q = joined.select("l_id", "l_val", "r_cat").writeStream
      .format("memory").queryName("jsink").outputMode("append").start()
    try {
      left.addData((1L, 100L, "a"), (2L, 200L, "b"))
      right.addData((1L, 103L, "X"), (2L, 290L, "Y"), (3L, 100L, "Z"))
      q.processAllAvailable()
      val got = spark.table("jsink").collect()
        .map(row => (row.getLong(0), row.getString(1), row.getString(2))).toSet
      assert(got == Set((1L, "a", "X"))) // id2: outside window; id3: no left
    } finally q.stop()
  }

  test("CEP event-time timeout clears idle-key partials once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CepEvent]
    val spec = PatternSpec(
      Seq(Step.simple("a")(_.etype == "A"), Step.simple("b")(_.etype == "B")),
      strict = false, every = true, withinUs = Some(10000000L)) // 10s
    val q = Cep.detectStream(in.toDS(), Seq(spec),
        Cep.StreamMode(lateness = Some("0 seconds")))
      .writeStream.format("memory").queryName("cep_to_sink").outputMode("append").start()
    def e(key: String, id: Long, t: String, tsUs: Long) = CepEvent(key, tsUs, id, t, 0.0)
    try {
      in.addData(Seq(e("u1", 1, "A", 0L)));             q.processAllAvailable()
      // other-key event advances the watermark far past u1's 10s deadline;
      // the following batch fires u1's EventTimeTimeout and clears state
      in.addData(Seq(e("u2", 2, "A", 100000000L)));     q.processAllAvailable()
      in.addData(Seq(e("u2", 3, "X", 101000000L)));     q.processAllAvailable()
      // B for u1 inside WITHIN by data time, but the partial is gone
      in.addData(Seq(e("u1", 4, "B", 5000000L)));       q.processAllAvailable()
      assert(spark.table("cep_to_sink").count() == 0)
    } finally q.stop()

    // control: plain detectStream (no timeout) would have matched
    val control = Cep.runNfa(
      Seq(e("u1", 1, "A", 0L), e("u1", 4, "B", 5000000L)),
      NfaState(Nil, done = false), spec)._1
    assert(control.length == 1)
  }

  test("CEP strict vs relaxed on the same input") {
    val events = Seq(
      CepEvent("u", 0L, 1, "A", 1), CepEvent("u", 1L, 2, "X", 2),
      CepEvent("u", 2L, 3, "B", 3))
    val relaxed = Cep.runNfa(events,
      NfaState(Nil, done = false),
      PatternSpec(Seq(Step.simple("a")(_.etype == "A"), Step.simple("b")(_.etype == "B"))))._1
    val strict = Cep.runNfa(events,
      NfaState(Nil, done = false),
      PatternSpec(Seq(Step.simple("a")(_.etype == "A"), Step.simple("b")(_.etype == "B")),
        strict = true))._1
    assert(relaxed.length == 1) // X is skipped
    assert(strict.isEmpty)      // X kills the in-flight sequence
  }

  test("CEP every=false matches exactly once") {
    val events = (1L to 6L).map(i =>
      CepEvent("u", i, i, if (i % 2 == 1) "A" else "B", i.toDouble))
    val every = Cep.runNfa(events, NfaState(Nil, done = false),
      PatternSpec(Seq(Step.simple("a")(_.etype == "A"), Step.simple("b")(_.etype == "B"))))._1
    val once = Cep.runNfa(events, NfaState(Nil, done = false),
      PatternSpec(Seq(Step.simple("a")(_.etype == "A"), Step.simple("b")(_.etype == "B")),
        every = false))._1
    assert(every.length == 3)
    assert(once.length == 1)
  }

  test("CEP EVERY true-overlapping vs non-EVERY first-sequence-wins " +
      "(pattern_every_overlapping_test.rs)") {
    // A1@1s, A2@2s, B3@3s against `A -> B`
    val events = Seq(
      CepEvent("u", 1000000L, 1, "A", 1), CepEvent("u", 2000000L, 2, "A", 2),
      CepEvent("u", 3000000L, 3, "B", 3))
    val steps = Seq(Step.simple("e1")(_.etype == "A"), Step.simple("e2")(_.etype == "B"))
    // EVERY: true overlapping instances — BOTH A1-B3 and A2-B3
    // (test_true_every_overlapping_multiple_a_before_b :786)
    val every = Cep.runNfa(events, NfaState(Nil, done = false), PatternSpec(steps))._1
    assert(every.map(m => (m.startUs, m.endUs)).toSet ==
      Set((1000000L, 3000000L), (2000000L, 3000000L)))
    // without EVERY: single-instance — exactly A1-B3; A2 neither seeds a
    // second instance nor replaces the in-flight one
    // (test_pattern_without_every_no_overlapping :194)
    val once = Cep.runNfa(events, NfaState(Nil, done = false),
      PatternSpec(steps, every = false))._1
    assert(once.map(m => (m.startUs, m.endUs)) == Seq((1000000L, 3000000L)))
    assert(once.head.steps.head.events.map(_.eventId) == Seq(1L))
  }

  test("CEP EVERY with count quantifier slides per the reference grammar spec " +
      "(PATTERN_GRAMMAR_V1.2 Test 2.9)") {
    // EVERY (A{3} -> B) over A1..A5, B6: the reference's grammar spec mandates
    // sliding instances [A1A2A3], [A2A3A4], [A3A4A5], each completed by B6 —
    // its own engine marks this intended-but-unimplemented
    // (pattern_every_overlapping_test.rs:1203 #[ignore]); the NFA here
    // implements the spec'd behavior.
    val events = (1L to 5L).map(i =>
      CepEvent("u", i * 1000000L, i, "A", i.toDouble)) :+
      CepEvent("u", 6000000L, 6, "B", 6)
    val spec = PatternSpec(Seq(
      Step.count("e1", 3)(_.etype == "A"), Step.simple("e2")(_.etype == "B")))
    val ms = Cep.runNfa(events, NfaState(Nil, done = false), spec)._1
    assert(ms.map(_.steps.head.events.map(_.eventId)).toSet ==
      Set(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L), Seq(3L, 4L, 5L)))
    assert(ms.forall(_.steps.last.events.map(_.eventId) == Seq(6L)))
  }

  test("CEP EVERY chain restart and WITHIN expiry under EVERY " +
      "(pattern_every_overlapping_test.rs:440,549)") {
    // EVERY (A -> B -> C) over A,B,C,A,B,C → two block matches (:549)
    val abc = Seq("A", "B", "C", "A", "B", "C").zipWithIndex.map {
      case (t, i) => CepEvent("u", (i + 1) * 1000000L, i + 1L, t, i) }
    val chain = PatternSpec(Seq(
      Step.simple("e1")(_.etype == "A"), Step.simple("e2")(_.etype == "B"),
      Step.simple("e3")(_.etype == "C")))
    assert(Cep.runNfa(abc, NfaState(Nil, done = false), chain)._1
      .map(m => (m.startUs, m.endUs)) ==
      Seq((1000000L, 3000000L), (4000000L, 6000000L)))
    // EVERY + WITHIN 5s: A@0→B@1s matches; A@2s→B@10s exceeds the bound.
    // The reference's test asserts 2 (it documents WITHIN/EVERY expiry as an
    // open TODO, :437-448 "should be 1 match"); the NFA implements the
    // intended semantics: the late pair is expired.
    val timed = Seq(
      CepEvent("u", 0L, 1, "A", 1), CepEvent("u", 1000000L, 2, "B", 2),
      CepEvent("u", 2000000L, 3, "A", 3), CepEvent("u", 10000000L, 4, "B", 4))
    val withinSpec = PatternSpec(Seq(
      Step.simple("e1")(_.etype == "A"), Step.simple("e2")(_.etype == "B")),
      withinUs = Some(5000000L))
    assert(Cep.runNfa(timed, NfaState(Nil, done = false), withinSpec)._1
      .map(m => (m.startUs, m.endUs)) == Seq((0L, 1000000L)))
  }

  test("CEP WITHIN n EVENTS: count-bounded partial expiry") {
    // A then B, but B must arrive within 2 subsequent events of the A
    val spec = PatternSpec(
      Seq(Step.simple("a")(_.etype == "A"), Step.simple("b")(_.etype == "B")),
      strict = false, every = true, withinEvents = Some(2L))
    def mk(types: String*): Seq[CepEvent] = types.zipWithIndex.map {
      case (t, i) => CepEvent("u", i.toLong, i.toLong, t, 0.0) }
    // B is the 2nd event after A → within bound
    assert(Cep.runNfa(mk("A", "X", "B"), NfaState(Nil, done = false), spec)._1.length == 1)
    // B is the 3rd event after A → expired
    assert(Cep.runNfa(mk("A", "X", "X", "B"), NfaState(Nil, done = false), spec)._1.isEmpty)
  }

  test("CEP NFA partial overflow is counted and surfaced, not silent") {
    import spark.implicits._
    // EVERY + relaxed + a hot key that only ever seeds: every A advances a
    // partial to the b step and no B ever arrives — state grows one partial
    // per event until the cap
    val spec = PatternSpec(
      Seq(Step.simple("a")(_.etype == "A"), Step.simple("b")(_.etype == "B")),
      strict = false, every = true, maxPartials = 8)
    val events = (1 to 100).map(i => CepEvent("k", i * 1000L, i.toLong, "A", 0.0))
    val (_, st) = Cep.runNfa(events, NfaState(Nil, done = false), spec)
    assert(st.partials.size == 8)
    assert(st.dropped == 100 - 8) // events 9..100 each shed one partial
    // distributed surface: the accumulator totals drops across keys
    val acc = spark.sparkContext.longAccumulator("cepDroppedPartials")
    Cep.detect(events.toDS(), spec, Some(acc)).count()
    assert(acc.value == 100 - 8)
    // under the cap → exactly zero
    val acc0 = spark.sparkContext.longAccumulator
    Cep.detect(events.take(5).toDS(), spec, Some(acc0)).count()
    assert(acc0.value == 0L)
  }

  test("detectSorted (chunked secondary-sort NFA) equals detect on random keyed events") {
    val rnd = new scala.util.Random(11)
    val events = (1 to 3000).map { i =>
      CepEvent(s"k${rnd.nextInt(7)}", rnd.nextInt(500).toLong * 1000L, i.toLong,
        if (rnd.nextBoolean()) "A" else "B", rnd.nextInt(100).toDouble)
    }
    val spec = PatternSpec(
      Seq(Step.simple("a")(_.etype == "A"), Step.simple("b")(_.etype == "B")),
      strict = false, every = true, withinUs = Some(60000000L))
    def norm(ds: org.apache.spark.sql.Dataset[CepMatch]) =
      ds.collect().map(m => (m.key, m.startUs, m.endUs,
        m.steps.map(s => (s.step, s.events.map(_.eventId))))).toSet
    val oneShot = norm(Cep.detect(events.toDS(), spec))
    // tiny chunks force many per-key folds — the hot-key memory bound path
    val chunked = norm(Cep.detectSorted(events.toDS(), spec, chunkSize = 64))
    assert(oneShot.nonEmpty && chunked == oneShot)
  }

  test("Windows.foldSorted (chunked) equals the one-shot kernel on random keyed events") {
    val rnd = new scala.util.Random(13)
    val events = (1 to 2000).map { i =>
      WinEvent(s"k${rnd.nextInt(5)}", rnd.nextInt(300).toLong * 1000000L, i.toLong,
        rnd.nextInt(50).toDouble)
    }
    def norm(ds: org.apache.spark.sql.Dataset[WinOut]) =
      ds.collect().map(o => (o.key, o.tsUs, o.eventId, o.value, o.op)).toSet
    val oneShot = norm(Windows.length(events.toDS(), 5))
    val chunked = norm(Windows.foldSorted(events.toDS(), chunkSize = 32)(
      WindowKernels.length(_, _, 5)))
    assert(oneShot.nonEmpty && chunked == oneShot)
  }

  test("CEP count quantifier collects e1[0..2] and supports collection aggregation") {
    val events = Seq(
      CepEvent("u", 1L, 1, "E", 10), CepEvent("u", 2L, 2, "E", 20),
      CepEvent("u", 3L, 3, "E", 30))
    val m = Cep.runNfa(events, NfaState(Nil, done = false),
      PatternSpec(Seq(Step.count("e", 3)(_.etype == "E")), strict = true))._1
    assert(m.length == 1)
    val collected = m.head.steps.head.events
    assert(collected.map(_.eventId) == Seq(1L, 2L, 3L)) // e1[i] indexed access
    assert(collected.map(_.value).sum == 60.0)          // sum(e1.value)
  }

  test("streaming exact dedup: cross-batch drop within horizon, state evicted past it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)] // (sec, doc_id, text)
    val docs = in.toDS().toDF("sec", "doc_id", "text")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "doc_id", "text")
    val out = graft.operators.Dedup.streamingExact(docs, "text", "ts", "10 seconds")
    assert(out.isStreaming)
    assert(out.columns.toSeq == Seq("ts", "doc_id", "text")) // digest col hidden
    val q = out.writeStream.format("memory").queryName("sdedup_sink")
      .outputMode("append").start()
    def ids() = spark.table("sdedup_sink").collect().map(_.getLong(1)).sorted.toSeq
    try {
      in.addData((1L, 1L, "alpha"), (2L, 2L, "beta")); q.processAllAvailable()
      // same canonical text in a LATER batch (case/whitespace-normalized
      // duplicate) is dropped while its digest is in state
      in.addData((3L, 3L, "  ALPHA "), (4L, 4L, "gamma")); q.processAllAvailable()
      assert(ids() == Seq(1L, 2L, 4L))
      // advance the watermark well past the horizon: digest state for the
      // old entries is evicted, so a far-future repeat re-admits (the
      // documented horizon contract of dropDuplicatesWithinWatermark)
      in.addData((100L, 5L, "delta")); q.processAllAvailable()
      in.addData((101L, 6L, "alpha")); q.processAllAvailable()
      assert(ids() == Seq(1L, 2L, 4L, 5L, 6L))
    } finally q.stop()
  }

  test("streaming near-dup vs ground truth on a seeded random corpus") {
    implicit val sqlCtx = spark.sqlContext
    // 20 base docs of 25 words from a 200-word vocab (expected cross-doc
    // Jaccard ~0.07), each base followed by 0-2 one-word-mutated copies
    // (J ~0.92): every copy must be flagged against ITS family, no
    // cross-family flags, no base flagged
    val rnd = new scala.util.Random(42)
    val vocab = Array.tabulate(200)(i => s"w$i")
    def doc(): Array[String] = Array.fill(25)(vocab(rnd.nextInt(vocab.length)))
    val families = (0 until 20).map { f =>
      val base = doc()
      val copies = (0 until rnd.nextInt(3)).map { _ =>
        val c = base.clone(); c(rnd.nextInt(c.length)) = vocab(rnd.nextInt(vocab.length)); c
      }
      (f, base, copies)
    }
    // ids: base f -> f*10, copies f*10+1.. ; later ids arrive later
    val rows = families.flatMap { case (f, base, copies) =>
      (base +: copies).zipWithIndex.map { case (words, i) =>
        (100L + f * 10L + i, f * 10L + i, words.mkString(" "))
      }
    }.sortBy(_._2)
    val in = MemoryStream[(Long, Long, String)]
    val docs = in.toDS().toDF("sec", "id", "text")
      .selectExpr("id", "text", "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts")
    val verdicts = graft.operators.Dedup.streamingNearDup(
      docs, "id", "text", "ts", "1 hour",
      numHashes = 64, bands = 32, threshold = 0.6)
    val q = verdicts.writeStream.format("memory").queryName("neardup_gt_sink")
      .outputMode("append").start()
    try {
      in.addData(rows); q.processAllAvailable()
      val resolved = graft.operators.Dedup
        .resolveNearDupVerdicts(spark.table("neardup_gt_sink"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      families.foreach { case (f, _, copies) =>
        val baseId = f * 10L
        assert(resolved(baseId) == None, s"base $baseId wrongly flagged")
        copies.indices.foreach { i =>
          val id = baseId + i + 1
          val dupOf = resolved(id)
          assert(dupOf.isDefined, s"copy $id not flagged")
          // flagged against its own family (base or an earlier copy)
          assert(dupOf.get >= baseId && dupOf.get < id,
            s"copy $id flagged against ${dupOf.get} outside family $f")
        }
      }
    } finally q.stop()
  }

  test("streaming near-dup: cross-batch LSH flag, same-batch pair, horizon expiry") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)] // (sec, id, text)
    val docs = in.toDS().toDF("sec", "id", "text")
      .selectExpr("id", "text", "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts")
    val verdicts = graft.operators.Dedup.streamingNearDup(
      docs, "id", "text", "ts", "30 seconds",
      numHashes = 32, bands = 16, threshold = 0.6)
    assert(verdicts.isStreaming)
    val q = verdicts.writeStream.format("memory").queryName("neardup_sink")
      .outputMode("append").start()
    def resolved(): Map[Long, Option[Long]] =
      graft.operators.Dedup.resolveNearDupVerdicts(spark.table("neardup_sink"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "green ships sail slowly beyond the ancient harbor wall at dawn"
    val near = base.replace("dawn", "dusk") // one token differs → J ≈ 0.9
    val other = "completely different content describing distributed query " +
      "engines aggregating massive corpora with partitioned shuffles and joins"
    val otherNear = other.replace("joins", "scans")
    try {
      in.addData((1L, 1L, base), (2L, 2L, other)); q.processAllAvailable()
      // near-dup of doc1 arrives in a LATER micro-batch: bucket state flags it
      in.addData((3L, 3L, near)); q.processAllAvailable()
      assert(resolved() == Map(1L -> None, 2L -> None, 3L -> Some(1L)))
      // same-batch near-dup pair: earliest arrival admitted, the other flagged
      in.addData((4L, 4L, otherNear), (5L, 5L, other + " addendum"))
      q.processAllAvailable()
      val r2 = resolved()
      assert(r2(4L) == Some(2L) && r2(5L) == Some(2L))
      // push the watermark past the horizon, then replay base: bucket
      // members expired → re-admitted, not flagged
      in.addData((200L, 6L, "entirely fresh unrelated prose about watermark " +
        "advancement in structured streaming state stores")); q.processAllAvailable()
      in.addData((201L, 7L, base)); q.processAllAvailable()
      val r3 = resolved()
      assert(r3(6L) == None && r3(7L) == None)
    } finally q.stop()
  }

  test("STREAMING SQL kernel window: GraftApp-compiled length changelog, " +
       "idle.ttl drains the quiet key's state, post-TTL arrival starts fresh") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)] // (sec, user, tag, v)
    val events = in.toDS().toDF("sec", "user_id", "tag", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "tag", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, tag STRING, v DOUBLE)
        |  WITH ('idle.ttl'='10 seconds');
        |CREATE STREAM Out (user_id BIGINT, tag STRING, v DOUBLE, op INT);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT ALL EVENTS INTO Out SELECT user_id, tag, v, op
        |  FROM E WINDOW('length', 2)
        |END;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("sqlker_sink")
      .outputMode("append").start()
    def stateRows: Long = q.lastProgress.stateOperators.head.numRowsTotal
    def rows(): Seq[(Long, String, Double, Int)] =
      spark.table("sqlker_sink").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    try {
      // user 7: third arrival overflows length(2) → 'a' evicts (op −1),
      // payload columns restored through the slots with their types
      in.addData((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0), (3L, 7L, "c", 3.0))
      q.processAllAvailable()
      assert(rows().count(_._4 == 1) == 3)
      assert(rows().filter(_._4 == -1) == Seq((7L, "a", 1.0, -1)))
      assert(stateRows == 1)
      // user 9's far-future events advance the watermark past user 7's
      // idle deadline; the NEXT batch fires the timeout: retained b and c
      // retract through the changelog and the state entry is REMOVED
      in.addData((60L, 9L, "x", 9.0)); q.processAllAvailable()
      in.addData((61L, 9L, "y", 9.5)); q.processAllAvailable()
      assert(rows().filter(t => t._1 == 7L && t._4 == -1).map(_._2).toSet ==
        Set("a", "b", "c"))
      assert(stateRows == 1) // user 9 only — user 7 drained
      // post-TTL arrival starts the key FRESH: its window refills from
      // empty (no eviction), proving the old buffer is gone not dormant
      in.addData((62L, 7L, "d", 4.0)); q.processAllAvailable()
      assert(rows().filter(t => t._1 == 7L && t._2 == "d") ==
        Seq((7L, "d", 4.0, 1)))
      assert(stateRows == 2)
    } finally q.stop()
  }

  test("STREAMING SQL time window via GraftApp: timer-accurate expiry fires " +
       "from the watermark, no same-key arrival needed; CURRENT is the default") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)] // (sec, user, v)
    val events = in.toDS().toDF("sec", "user_id", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, v DOUBLE);
        |CREATE STREAM Cur (user_id BIGINT, v DOUBLE);
        |CREATE STREAM Chg (user_id BIGINT, v DOUBLE, op INT);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT INTO Cur SELECT user_id, v FROM E WINDOW('time', '10 seconds');
        |  INSERT ALL EVENTS INTO Chg SELECT user_id, v, op
        |  FROM E WINDOW('time', '10 seconds')
        |END;""".stripMargin
    val env = graft.sql.GraftApp.run(spark, app, Map("E" -> events))
    val qc = env("Cur").writeStream.format("memory").queryName("sqltime_cur")
      .outputMode("append").start()
    val qa = env("Chg").writeStream.format("memory").queryName("sqltime_chg")
      .outputMode("append").start()
    def chgStateRows: Long = qa.lastProgress.stateOperators.head.numRowsTotal
    try {
      def feed(rows: (Long, Long, Double)*): Unit = {
        in.addData(rows); qc.processAllAvailable(); qa.processAllAvailable()
      }
      feed((1L, 7L, 1.0), (2L, 7L, 2.0))
      // default surface = CURRENT events only (no op column, +1 rows)
      assert(spark.table("sqltime_cur").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet == Set((7L, 1.0), (7L, 2.0)))
      assert(chgStateRows == 1)
      // watermark passes (newest k7 arrival + 10 s) via another key's
      // events → k7's retained events emit Expired and its state drops:
      // the NoTimeout form would hold them forever absent a k7 arrival
      feed((60L, 9L, 9.0)); feed((61L, 9L, 9.5))
      val expired = spark.table("sqltime_chg").collect()
        .filter(r => r.getInt(2) == -1).map(r => (r.getLong(0), r.getDouble(1)))
      assert(expired.toSet == Set((7L, 1.0), (7L, 2.0)))
      assert(chgStateRows == 1) // k9 only
      // the CURRENT-only surface never saw a retraction row
      assert(spark.table("sqltime_cur").columns.toSeq == Seq("user_id", "v"))
    } finally { qc.stop(); qa.stop() }
  }

  test("STREAMING SQL changelog aggregation: update-mode sum(v*op) over the " +
       "GraftApp kernel changelog IS the live window aggregate per key") {
    // the pattern the kernel surface's error message prescribes: aggregates
    // run DOWNSTREAM of the ±1 changelog — incremental add/remove, the
    // reference's aggregator protocol
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)] // (sec, user, v)
    val events = in.toDS().toDF("sec", "user_id", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, v DOUBLE);
        |CREATE STREAM Chg (user_id BIGINT, v DOUBLE, op INT);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT ALL EVENTS INTO Chg SELECT user_id, v, op
        |  FROM E WINDOW('length', 3)
        |END;""".stripMargin
    val chg = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Chg")
    val winSum = chg.groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.sum($"v" * $"op").as("win_sum"))
    val q = winSum.writeStream.format("memory").queryName("sqlagg_sink")
      .outputMode("complete").start()
    def sums(): Map[Long, Double] = spark.table("sqlagg_sink").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    try {
      in.addData((1L, 7L, 1.0), (2L, 7L, 2.0), (3L, 8L, 10.0))
      q.processAllAvailable()
      assert(sums() == Map(7L -> 3.0, 8L -> 10.0))
      // u7's 4th arrival evicts v=1 (op −1): live sum = 2+3+4, across
      // micro-batches, with no reprocessing of the earlier events
      in.addData((4L, 7L, 3.0), (5L, 7L, 4.0)); q.processAllAvailable()
      assert(sums() == Map(7L -> 9.0, 8L -> 10.0))
    } finally q.stop()
  }

  test("STREAMING SQL sort window via GraftApp: top-n retention, worst ejects " +
       "as Expired, criteria ride the value/vals comparand slots") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)] // (sec, user, tag, v)
    val events = in.toDS().toDF("sec", "user_id", "tag", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "tag", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, tag STRING, v DOUBLE);
        |CREATE STREAM Out (tag STRING, v DOUBLE, op INT);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT ALL EVENTS INTO Out SELECT tag, v, op
        |  FROM E WINDOW('sort', 2, v desc)
        |END;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    val q = outDf.writeStream.format("memory").queryName("sqlsort_sink")
      .outputMode("append").start()
    def rows(): Seq[(String, Double, Int)] = spark.table("sqlsort_sink")
      .collect().toSeq.map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
    try {
      // u7 keeps the 2 LARGEST v: 5 then 9 admit; 7 admits and ejects 5
      in.addData((1L, 7L, "a", 5.0), (2L, 7L, "b", 9.0), (3L, 7L, "c", 7.0))
      q.processAllAvailable()
      assert(rows().count(_._3 == 1) == 3)
      assert(rows().filter(_._3 == -1) == Seq(("a", 5.0, -1)))
      // a smaller v is admitted (Current) and immediately ejected as the
      // worst retained — the reference sort-window overflow protocol
      in.addData((4L, 7L, "d", 1.0)); q.processAllAvailable()
      assert(rows().filter(t => t._1 == "d").toSet ==
        Set(("d", 1.0, 1), ("d", 1.0, -1)))
    } finally q.stop()
  }

  test("batch ≡ streaming for INSERT ALL EVENTS over a length window: the " +
       "same app text yields the same multiset through both lowerings") {
    // batch compiles the EXPIRED/ALL row_number rewrite; streaming compiles
    // the length kernel changelog — the result-level contract is identical
    implicit val sqlCtx = spark.sqlContext
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, tag STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, tag STRING, v DOUBLE);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT ALL EVENTS INTO Out SELECT user_id, tag, v
        |  FROM E WINDOW('length', 2)
        |END;""".stripMargin
    val rows = Seq( // distinct ts per key: order is unambiguous in both modes
      (1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0), (3L, 7L, "c", 3.0),
      (4L, 7L, "d", 4.0), (5L, 8L, "x", 9.0), (6L, 8L, "y", 8.0))
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val batchIn = rows.toDF("sec", "user_id", "tag", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "tag", "v")
    val batchOut = shape(graft.sql.GraftApp.run(spark, app, Map("E" -> batchIn))("Out"))
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "tag", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "tag", "v")
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    val q = outDf.writeStream.format("memory").queryName("sqlpar_sink")
      .outputMode("append").start()
    try {
      // split across micro-batches to exercise cross-batch kernel state
      in.addData(rows.take(3)); q.processAllAvailable()
      in.addData(rows.drop(3)); q.processAllAvailable()
      val streamOut = shape(spark.table("sqlpar_sink"))
      assert(streamOut == batchOut)
    } finally q.stop()
  }

  test("STREAMING SQL kernel window rejects aggregates/ORDER BY with typed errors") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)]
    val events = in.toDS().toDF("sec", "user_id", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "v")
    def app(body: String) =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, v DOUBLE);
         |CREATE STREAM Out (a DOUBLE);
         |$body;""".stripMargin
    val e1 = intercept[graft.sql.GraftApp.SqlError] {
      graft.sql.GraftApp.run(spark,
        app("INSERT INTO Out SELECT sum(v) AS a FROM E WINDOW('length', 3)"),
        Map("E" -> events))
    }
    assert(e1.getMessage.contains("changelog"))
    val e2 = intercept[graft.sql.GraftApp.SqlError] {
      graft.sql.GraftApp.run(spark,
        app("INSERT INTO Out SELECT v AS a FROM E WINDOW('length', 3) ORDER BY a"),
        Map("E" -> events))
    }
    assert(e2.getMessage.contains("unbounded"))
    // sort criteria ride the comparand slots (doubles, or carried string
    // slots for string/timestamp/date/boolean) — a BINARY criterion fits
    // neither and is a typed error, not a silent null-cast crash
    val inTag = MemoryStream[(Long, Long, String)]
    val tagEvents = inTag.toDS().toDF("sec", "user_id", "tag")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id",
        "CAST(tag AS BINARY) AS tag")
    val e3 = intercept[graft.sql.GraftApp.SqlError] {
      graft.sql.GraftApp.run(spark,
        """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, tag STRING);
          |CREATE STREAM Out (a BIGINT);
          |INSERT INTO Out SELECT user_id AS a FROM E WINDOW('sort', 2, tag desc);""".stripMargin,
        Map("E" -> tagEvents))
    }
    assert(e3.getMessage.contains("cannot order by criterion"))
    // 'op' is the changelog's reserved output column
    val inOp = MemoryStream[(Long, Long, Double)]
    val opEvents = inOp.toDS().toDF("sec", "op", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "op", "v")
    val e4 = intercept[graft.sql.GraftApp.SqlError] {
      graft.sql.GraftApp.run(spark,
        """CREATE STREAM E (ts TIMESTAMP, op BIGINT, v DOUBLE);
          |CREATE STREAM Out (a DOUBLE);
          |INSERT INTO Out SELECT v AS a FROM E WINDOW('length', 3);""".stripMargin,
        Map("E" -> opEvents))
    }
    assert(e4.getMessage.contains("reserves"))
    // a non-atomic column cannot ride the string slots WHEN REFERENCED
    // (unreachable from DDL — the type grammar is atomic-only — but input
    // binding validates column NAMES, not types, so a caller can hand one
    // in); an IGNORED non-atomic column is fine — it is simply not carried
    val inArr = MemoryStream[(Long, Double)]
    val arrEvents = inArr.toDS().toDF("sec", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "v",
        "array(v) AS vs")
    val e5 = intercept[graft.sql.GraftApp.SqlError] {
      graft.sql.GraftApp.run(spark,
        """CREATE STREAM E (ts TIMESTAMP, v DOUBLE, vs STRING);
          |CREATE STREAM Out (a STRING);
          |INSERT INTO Out SELECT vs AS a FROM E WINDOW('length', 3);""".stripMargin,
        Map("E" -> arrEvents))
    }
    assert(e5.getMessage.contains("non-atomic"))
    // un-referenced: compiles (the slot projection leaves the array behind)
    graft.sql.GraftApp.run(spark,
      """CREATE STREAM E (ts TIMESTAMP, v DOUBLE, vs STRING);
        |CREATE STREAM Out (a DOUBLE);
        |INSERT INTO Out SELECT v AS a FROM E WINDOW('length', 3);""".stripMargin,
      Map("E" -> arrEvents))
    // HAVING with an aggregate is rejected like aggregate select items
    val e6 = intercept[graft.sql.GraftApp.SqlError] {
      graft.sql.GraftApp.run(spark,
        app("INSERT INTO Out SELECT v AS a FROM E WINDOW('length', 3) HAVING sum(v) > 2"),
        Map("E" -> events))
    }
    assert(e6.getMessage.contains("HAVING with aggregates"))
  }

  test("STREAMING SQL kernel window: NULL event-time rows drop instead of " +
       "killing the query (the mapper's null-padded malformed lines)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)] // (sec, user, v); sec<0 = null ts
    val events = in.toDS().toDF("sec", "user_id", "v")
      .selectExpr(
        "CASE WHEN sec >= 0 THEN CAST(timestamp_seconds(sec) AS TIMESTAMP) END AS ts",
        "user_id", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, v DOUBLE);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT INTO Out SELECT user_id, v FROM E WINDOW('length', 2)
        |END;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    val q = outDf.writeStream.format("memory").queryName("sqlnullts_sink")
      .outputMode("append").start()
    try {
      in.addData((1L, 7L, 1.0), (-1L, 7L, 666.0), (2L, 7L, 2.0))
      q.processAllAvailable() // would throw at the encoder without the drop
      val got = spark.table("sqlnullts_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((7L, 1.0), (7L, 2.0)))
    } finally q.stop()
  }

  test("STREAMING SQL stream-stream join: the windowed JOIN lowers to the " +
       "watermarked interval join; cross-batch matches in BOTH probe " +
       "directions equal the batch time-range join") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val pIn = MemoryStream[(Long, Long, Long)] // (sec, user, pid)
    val vIn = MemoryStream[(Long, Long, Long)] // (sec, user, vid)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("sec", "user_id", "id")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "id")
    val app =
      """CREATE STREAM P (ts TIMESTAMP, user_id BIGINT, id BIGINT)
        |  WITH ('allow.lateness'='10 seconds');
        |CREATE STREAM V (ts TIMESTAMP, user_id BIGINT, id BIGINT)
        |  WITH ('allow.lateness'='10 seconds');
        |CREATE STREAM Out (pid BIGINT, vid BIGINT);
        |INSERT INTO Out SELECT P.id AS pid, V.id AS vid
        |FROM P JOIN V WINDOW('time', '10 seconds') ON P.user_id = V.user_id;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app,
      Map("P" -> shape(pIn.toDF()), "V" -> shape(vIn.toDF())))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("sqlssj_sink")
      .outputMode("append").start()
    val ps = Seq((100L, 7L, 1L), (112L, 7L, 2L))
    val vs = Seq((95L, 7L, 11L), (105L, 7L, 12L), (111L, 8L, 13L))
    try {
      // purchase first, then an OLDER view in a later batch (left probes
      // right's 10s buffer); then a later purchase finds the view already
      // buffered (right probes left) — matches form cross-batch both ways
      pIn.addData(ps(0)); q.processAllAvailable()
      vIn.addData(vs(0), vs(1)); q.processAllAvailable()
      pIn.addData(ps(1)); vIn.addData(vs(2)); q.processAllAvailable()
      val got = spark.table("sqlssj_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the batch time-range join over the same events decides expectations:
      // V within (10s before, 0 after) of P — the un-windowed P side holds
      // only the arriving event, so later views never match earlier purchases
      val pb = ps.toDF("sec", "user_id", "id")
        .selectExpr("timestamp_seconds(sec) AS p_ts", "user_id AS p_user", "id AS pid")
      val vb = vs.toDF("sec", "user_id", "id")
        .selectExpr("timestamp_seconds(sec) AS v_ts", "user_id AS v_user", "id AS vid")
      val want = pb.join(vb, expr("p_user = v_user AND " +
          "v_ts BETWEEN p_ts - INTERVAL 10 SECONDS AND p_ts"))
        .select(col("pid"), col("vid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want == Set((1L, 11L), (2L, 12L)) && got == want)
    } finally q.stop()
    // typed guards: no time window on either side; count window on a side
    val e1 = intercept[graft.sql.GraftApp.SqlError] {
      graft.sql.GraftApp.run(spark,
        """CREATE STREAM P (ts TIMESTAMP, user_id BIGINT, id BIGINT);
          |CREATE STREAM V (ts TIMESTAMP, user_id BIGINT, id BIGINT);
          |CREATE STREAM Out (pid BIGINT);
          |INSERT INTO Out SELECT P.id AS pid
          |FROM P JOIN V ON P.user_id = V.user_id;""".stripMargin,
        Map("P" -> shape(pIn.toDF()), "V" -> shape(vIn.toDF())))
    }
    assert(e1.getMessage.contains("WINDOW('time'"))
    val e2 = intercept[graft.sql.GraftApp.SqlError] {
      graft.sql.GraftApp.run(spark,
        """CREATE STREAM P (ts TIMESTAMP, user_id BIGINT, id BIGINT);
          |CREATE STREAM V (ts TIMESTAMP, user_id BIGINT, id BIGINT);
          |CREATE STREAM Out (pid BIGINT);
          |INSERT INTO Out SELECT P.id AS pid
          |FROM P JOIN V WINDOW('length', 5) ON P.user_id = V.user_id;""".stripMargin,
        Map("P" -> shape(pIn.toDF()), "V" -> shape(vIn.toDF())))
    }
    assert(e2.getMessage.contains("streaming-legal"))
  }

  test("STREAMING SQL kernel state carries ONLY select-referenced columns " +
       "(CepEvent.svals discipline) and restores them typed") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, String, Double, Long)]
    val events = in.toDS().toDF("sec", "user_id", "text", "tag", "v", "n")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "text", "tag", "v", "n")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, text STRING,
        |  tag STRING, v DOUBLE, n BIGINT);
        |CREATE STREAM Out (user_id BIGINT, v DOUBLE, op INT);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT ALL EVENTS INTO Out SELECT user_id, v, op
        |  FROM E WINDOW('length', 2)
        |END;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    // plan-level: the svals array construction has exactly the 2 referenced
    // slots (user_id, v) — the wide text column does NOT ride the state store
    val arities = outDf.queryExecution.analyzed.collect {
      case p => p.expressions.flatMap(_.collect {
        case al: org.apache.spark.sql.catalyst.expressions.Alias
            if al.name == "svals" &&
              al.child.isInstanceOf[org.apache.spark.sql.catalyst.expressions.CreateArray] =>
          al.child.children.size
      })
    }.flatten
    assert(arities == Seq(2), s"svals slot arities: $arities")
    // e2e: values restore through the slots with their declared types
    val q = outDf.writeStream.format("memory").queryName("sqlproj_sink")
      .outputMode("append").start()
    try {
      in.addData((1L, 7L, "long document text", "a", 1.5, 10L),
        (2L, 7L, "more text", "b", 2.5, 20L),
        (3L, 7L, "even more", "c", 3.5, 30L))
      q.processAllAvailable()
      val rows = spark.table("sqlproj_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      assert(rows.count(_._3 == 1) == 3)
      assert(rows.filter(_._3 == -1).toSeq == Seq((7L, 1.5, -1)))
    } finally q.stop()
  }

  test("STREAMING SQL kernel HAVING filters the changelog exactly like the " +
       "batch per-event lowering (no silent divergence)") {
    implicit val sqlCtx = spark.sqlContext
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, v DOUBLE);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT INTO Out SELECT user_id, v FROM E WINDOW('length', 2)
        |  HAVING v > 2
        |END;""".stripMargin
    val rows = Seq((1L, 7L, 1.0), (2L, 7L, 3.0), (3L, 7L, 5.0), (4L, 8L, 2.0))
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("sec", "user_id", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "v")
    val in = MemoryStream[(Long, Long, Double)]
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> shape(in.toDF())))("Out")
    val q = outDf.writeStream.format("memory").queryName("sqlhav_sink")
      .outputMode("append").start()
    try {
      in.addData(rows.take(2)); in.addData(rows.drop(2)); q.processAllAvailable()
      val got = spark.table("sqlhav_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((7L, 3.0), (7L, 5.0)))
    } finally q.stop()
  }

  test("STREAMING SQL sort window on a STRING criterion: carried-slot " +
       "byte-order comparison; net changelog state equals the batch top-n") {
    implicit val sqlCtx = spark.sqlContext
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, tag STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, tag STRING, v DOUBLE, op INT);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT ALL EVENTS INTO Out SELECT user_id, tag, v, op
        |  FROM E WINDOW('sort', 2, tag desc)
        |END;""".stripMargin
    // streaming emits the ±1 changelog; its NET content (Current minus
    // Expired) must equal the batch lowering's final retained top-n —
    // the changelog-contract parity between the two surfaces
    val rows = Seq(
      (1L, 7L, "alpha", 1.0), (2L, 7L, "zulu", 2.0), (3L, 7L, "mike", 3.0),
      (4L, 7L, "yankee", 4.0), (5L, 8L, "bravo", 5.0))
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("sec", "user_id", "tag", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "tag", "v")
    val batchApp =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, tag STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, tag STRING, v DOUBLE);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT INTO Out SELECT user_id, tag, v
        |  FROM E WINDOW('sort', 2, tag desc)
        |END;""".stripMargin
    val batchWant = graft.sql.GraftApp.run(spark, batchApp,
        Map("E" -> shape(rows.toDF())))("Out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(batchWant == Set((7L, "zulu", 2.0), (7L, "yankee", 4.0), (8L, "bravo", 5.0)))
    val in = MemoryStream[(Long, Long, String, Double)]
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> shape(in.toDF())))("Out")
    val q = outDf.writeStream.format("memory").queryName("sqlsortstr_sink")
      .outputMode("append").start()
    try {
      in.addData(rows.take(2)); q.processAllAvailable()
      in.addData(rows.drop(2)); q.processAllAvailable()
      val got = spark.table("sqlsortstr_sink").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      val net = got.groupBy(t => (t._1, t._2, t._3))
        .view.mapValues(_.map(_._4).sum).filter(_._2 > 0).keySet.toSet
      assert(net == batchWant)
      // ejection order pins the byte-order comparison: 'alpha' (smallest
      // under desc) ejects first, then 'mike'
      assert(got.filter(_._4 == -1).map(_._2).toSeq == Seq("alpha", "mike"))
    } finally q.stop()
  }

  test("STREAMING frequent window: a NULL column and the literal string " +
       "'null' are distinct whole-row attribute values (sentinel rendering)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    // same ts/user/v — the rows differ ONLY in tag: NULL vs the string 'null'
    val events = in.toDS().toDF("sec", "user_id", "tag", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id",
        "CASE WHEN tag = 'NULL_SENTINEL' THEN NULL ELSE tag END AS tag", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, tag STRING, v DOUBLE);
        |CREATE STREAM Out (tag STRING, op INT);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT ALL EVENTS INTO Out SELECT tag, op FROM E WINDOW('frequent', 1)
        |END;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    val q = outDf.writeStream.format("memory").queryName("sqlnulldist_sink")
      .outputMode("append").start()
    try {
      // k=1: the NULL-tag row is tracked; the 'null'-tag row must be a
      // DIFFERENT value → slot full → decrement evicts the first, and the
      // arrival is DISCARDED (no Current). Were NULL rendered as the string
      // 'null' (the old mkString), the second row would merge into the
      // tracked entry and emit Current.
      in.addData((1L, 7L, "NULL_SENTINEL", 1.0), (1L, 7L, "null", 1.0))
      q.processAllAvailable()
      val got = spark.table("sqlnulldist_sink").collect()
        .map(r => (Option(r.getString(0)), r.getInt(1)))
      assert(got.toSet == Set((None, 1), (None, -1)))
      assert(!got.contains((Some("null"), 1)))
    } finally q.stop()
  }

  test("STREAMING SQL changelog chaining: a second query consumes the first " +
       "kernel's EXPIRED events end-to-end; batch and streaming agree") {
    implicit val sqlCtx = spark.sqlContext
    // complex_event.rs Current/Expired chaining: query 2 reads query 1's
    // changelog stream and keeps only evictions — the reference's
    // expired-event consumer shape, fully declared in app SQL
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, v DOUBLE);
        |CREATE STREAM Chg (user_id BIGINT, v DOUBLE, op INT);
        |CREATE STREAM Evicted (user_id BIGINT, v DOUBLE);
        |PARTITION WITH (user_id OF E) BEGIN
        |  INSERT ALL EVENTS INTO Chg SELECT user_id, v, op
        |  FROM E WINDOW('length', 2)
        |END;
        |INSERT INTO Evicted SELECT user_id, v FROM Chg WHERE op = -1;""".stripMargin
    val rows = Seq(
      (1L, 7L, 1.0), (2L, 7L, 2.0), (3L, 7L, 3.0), (4L, 7L, 4.0), (5L, 8L, 9.0))
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("sec", "user_id", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "v")
    // batch form: the ALL-EVENTS rewrite + the op filter — length(2) over
    // u7's 4 events evicts v=1 and v=2 (the reference window semantics
    // CompatSpec pins)
    val batchWant = graft.sql.GraftApp.run(spark, app,
        Map("E" -> shape(rows.toDF())))("Evicted")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(batchWant == Set((7L, 1.0), (7L, 2.0)))
    val in = MemoryStream[(Long, Long, Double)]
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> shape(in.toDF())))("Evicted")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("sqlchain_sink")
      .outputMode("append").start()
    try {
      in.addData(rows.take(3)); q.processAllAvailable() // cross-batch eviction
      in.addData(rows.drop(3)); q.processAllAvailable()
      val got = spark.table("sqlchain_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == batchWant)
    } finally q.stop()
  }

  test("window kernel runs unchanged on the RocksDB state store (the 100 TB state path)") {
    // HDFSBackedStateStore holds every key's state in executor heap; at
    // 100 TB key cardinality the deployment answer is the RocksDB provider
    // (spilling state to local disk). The kernels must not depend on
    // provider internals -- prove the same changelog comes back.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val was = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = runStream(Seq(Seq(ev(1, 10), ev(2, 20)), Seq(ev(3, 30))))(
        ds => Windows.length(ds, 2))
      val got = out.sortBy(o => (o.eventId, -o.op)).map(o => (o.eventId, o.op))
      assert(got == Seq((1L, 1), (1L, -1), (2L, 1), (3L, 1)))
    } finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("round-8 curation ops run AT INGEST: map stages and the classifier " +
       "aggregate compile on streams, batch ≡ streaming on the same rows") {
    import graft.operators.Curation
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "<p>the quick brown fox</p><script>x()</script>",
        "HTTPS://WWW.A.Example.COM:443/p?utm_source=x&k=1"),
      (2L, "<b>lazy &amp; dog</b>", "http://b.example.org/q"),
      (3L, "<div>fox fox fox</div>", "https://A.example.com/r"))
    val batchDf = spark.createDataFrame(rows).toDF("id", "html", "url")
    def mapStage(df: org.apache.spark.sql.DataFrame) =
      Curation.htmlStats(df, "id", "html")
        .join(df.select(col("id"), Curation.urlDomain(col("url")).as("domain")), "id")
        .select(col("id"), col("clean_text"), col("n_tags"), col("text_ratio"),
          col("domain"))
    // map stages: pure projections — append mode, row-for-row parity
    val in = MemoryStream[(Long, String, String)]
    val q = mapStage(in.toDS().toDF("id", "html", "url"))
      .writeStream.format("memory").queryName("cur_ingest").outputMode("append")
      .start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      val streamed = spark.table("cur_ingest").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
          r.getString(4))).sortBy(_._1)
      val batch = mapStage(batchDf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
          r.getString(4))).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.head._2 == "the quick brown fox") // script subtree gone
      assert(streamed.head._5 == "a.example.com")
    } finally q.stop()
    // the classifier AGGREGATE (explode → broadcast model join → per-doc
    // sum) compiles in update mode; ids arrive whole, so the final table
    // state equals the batch scores
    val weights = spark.range(64).select(col("id").as("bucket"),
      ((col("id") * 2654435761L) % 2001 - 1000).as("weight"))
    val in2 = MemoryStream[(Long, String)]
    val q2 = Curation.classifierScore(
        in2.toDS().toDF("id", "txt"), "id", "txt", weights, 64)
      .writeStream.format("memory").queryName("clf_ingest").outputMode("update")
      .start()
    try {
      in2.addData((1L, "the quick brown fox"), (2L, "lazy dog"))
      q2.processAllAvailable()
      in2.addData((3L, "fox fox"))
      q2.processAllAvailable()
      val streamed = spark.table("clf_ingest").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val batch = Curation.classifierScore(
          spark.createDataFrame(Seq((1L, "the quick brown fox"), (2L, "lazy dog"),
            (3L, "fox fox"))).toDF("id", "txt"), "id", "txt", weights, 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
    } finally q2.stop()
  }

  test("retrieval index + BPE encode run AT INGEST: word-count state in " +
       "update mode and map-side encode in append mode, batch ≡ streaming") {
    import graft.operators.Tokenizer
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"), (3L, "alpha"))
    val batchDf = spark.createDataFrame(rows).toDF("doc_id", "text")
    // word counts — the inverted-index/vocabulary statistic — maintain
    // incrementally in update mode; final state equals the batch table
    val in = MemoryStream[(Long, String)]
    val q = Tokenizer.wordCounts(in.toDS().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("wc_ingest").outputMode("update")
      .start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      // update mode emits one row per changed key per batch — latest wins
      val streamed = spark.table("wc_ingest").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (w, vs) => (w, vs.map(_._2).max) }.toSeq.sorted
      val batch = Tokenizer.wordCounts(batchDf, "text").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(streamed == batch)
      assert(batch == Seq(("alpha", 3L), ("beta", 2L), ("gamma", 1L)))
    } finally q.stop()
    // BPE encode with a trained merge table is pure map-side — append
    // mode, row-for-row parity with batch on the same rows
    val merges = Seq(("a", "l"), ("al", "p"), ("b", "e"))
    val in2 = MemoryStream[(Long, String)]
    val q2 = Tokenizer.bpeEncode(in2.toDS().toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .writeStream.format("memory").queryName("bpe_ingest").outputMode("append")
      .start()
    try {
      in2.addData(rows: _*); q2.processAllAvailable()
      val streamed = spark.table("bpe_ingest").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toList, r.getLong(2)))
        .sortBy(_._1)
      val batch = Tokenizer.bpeEncode(batchDf, "doc_id", "text", merges)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toList, r.getLong(2)))
        .sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.head._2.take(2) == List("alp", "h")) // merges applied
    } finally q2.stop()
  }

  test("STREAMING MATCH_RECOGNIZE: the MR spelling inherits the NFA lowering") {
    // desugar → PatternStmt → the same streaming per-key NFA; the match
    // completes ACROSS micro-batches
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)] // (sec, user, kind, v)
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, b_v DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES A.v AS a_v, B.v AS b_v
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b' AND B.v > A.v
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_sink")
      .outputMode("append").start()
    try {
      in.addData((1L, 7L, "a", 1.0)); q.processAllAvailable()
      assert(spark.table("mr_sink").count() == 0) // partial match held
      in.addData((2L, 7L, "b", 5.0)); q.processAllAvailable()
      val rows = spark.table("mr_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((7L, 1.0, 5.0)))
    } finally q.stop()
  }

  test("STREAMING MATCH_RECOGNIZE: PREV/NEXT and skip-past reject typed (batch-only)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def mk(measures: String, rowsMode: String, pattern: String, defB: String): String =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES $measures
         |  $rowsMode AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN ($pattern) WITHIN INTERVAL '1' HOUR
         |  DEFINE A AS A.kind = 'a', $defB
         |);""".stripMargin
    val nav = intercept[graft.sql.GraftApp.SqlError](graft.sql.GraftApp.run(
      spark, mk("PREV(A.v) AS a_v", "ONE ROW PER MATCH", "A B", "B AS B.kind = 'b'"),
      Map("E" -> events)))
    assert(nav.getMessage.contains("batch-only"))
    val navDef = intercept[graft.sql.GraftApp.SqlError](graft.sql.GraftApp.run(
      spark, mk("A.v AS a_v", "ONE ROW PER MATCH", "A B",
        "B AS B.kind = 'b' AND B.v > PREV(B.v)"),
      Map("E" -> events)))
    assert(navDef.getMessage.contains("batch-only"))
    // ALL ROWS PER MATCH streams for single chains AND (round 13) for
    // zero-min multi-variant forms under a WITHIN; WITHOUT the WITHIN the
    // multi-variant form has no shared-counter hygiene — typed
    val allRowsOpt = intercept[graft.sql.GraftApp.SqlError](graft.sql.GraftApp.run(
      spark, mk("A.v AS a_v", "ALL ROWS PER MATCH", "A B?", "B AS B.kind = 'b'")
        .replace(" WITHIN INTERVAL '1' HOUR", ""),
      Map("E" -> events)))
    assert(allRowsOpt.getMessage.contains("WITHIN"))
    // with the WITHIN it compiles to a streaming plan
    assert(graft.sql.GraftApp.run(
      spark, mk("A.v AS a_v", "ALL ROWS PER MATCH", "A B?", "B AS B.kind = 'b'"),
      Map("E" -> events))("Out").isStreaming)
    // streaming SKIP PAST LAST ROW works WITH a WITHIN (see its own test);
    // without one there is no flush deadline — typed
    val skipPastNoWithin = intercept[graft.sql.GraftApp.SqlError](graft.sql.GraftApp.run(
      spark, mk("A.v AS a_v", "ONE ROW PER MATCH", "A B", "B AS B.kind = 'b'")
        .replace("AFTER MATCH SKIP TO NEXT ROW", "AFTER MATCH SKIP PAST LAST ROW")
        .replace(" WITHIN INTERVAL '1' HOUR", ""),
      Map("E" -> events)))
    assert(skipPastNoWithin.getMessage.contains("WITHIN"))
    // SKIP TO FIRST/LAST streams (round 13) but, like SKIP PAST, needs a
    // WITHIN flush deadline — typed without one
    val skipToNoWithin = intercept[graft.sql.GraftApp.SqlError](graft.sql.GraftApp.run(
      spark, mk("A.v AS a_v", "ONE ROW PER MATCH", "A B", "B AS B.kind = 'b'")
        .replace("AFTER MATCH SKIP TO NEXT ROW", "AFTER MATCH SKIP TO LAST B")
        .replace(" WITHIN INTERVAL '1' HOUR", ""),
      Map("E" -> events)))
    assert(skipToNoWithin.getMessage.contains("WITHIN"))
  }

  test("STREAMING MATCH_RECOGNIZE reluctant B+?: fewest repetitions, immediate-ish emission, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, n_b BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n_b
        |  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B+?) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_rel_sink")
      .outputMode("append").start()
    def snap() = spark.table("mr_rel_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    try {
      // a b b b: the held candidate is the RELUCTANT n_b=1 parse; later Bs
      // do not replace it (lex-MIN wins). The hold still waits for the
      // stay-partial to die (leftmost safety), then flushes n_b=1.
      in.addData((1000L, 7L, "a", 0.0), (1010L, 7L, "b", 1.0),
        (1020L, 7L, "b", 2.0), (1030L, 7L, "b", 3.0))
      q.processAllAvailable()
      in.addData((1040L, 7L, "x", 0.0)); q.processAllAvailable()
      assert(snap() == Seq((7L, 1L)), s"got ${snap()}")
      // batch parity on the full tape
      val tape = Seq((1000L, 7L, "a", 0.0), (1010L, 7L, "b", 1.0),
        (1020L, 7L, "b", 2.0), (1030L, 7L, "b", 3.0), (1040L, 7L, "x", 0.0))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(batch == snap(), s"batch $batch vs stream ${snap()}")
    } finally q.stop()
  }

  test("STREAMING MATCH_RECOGNIZE SKIP TO LAST: partial-overlap resume, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    // A matches 'x' OR 'u': the resume row (LAST U, a 'u') can anchor the
    // NEXT match — the partial-overlap case SKIP TO exists for
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, n_d BIGINT, n_u BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.v AS a_v, count(D.v) AS n_d, count(U.v) AS n_u
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO LAST U
        |  PATTERN (A D+ U+) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS A.kind = 'x' OR A.kind = 'u',
        |         D AS D.kind = 'd', U AS U.kind = 'u'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_skipto_sink")
      .outputMode("append").start()
    def snap() = spark.table("mr_skipto_sink").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val tapeRows = Seq((1000L, 7L, "x", 1.0), (1010L, 7L, "d", 2.0),
      (1020L, 7L, "d", 3.0), (1030L, 7L, "u", 4.0), (1040L, 7L, "u", 5.0),
      (1050L, 7L, "d", 6.0), (1060L, 7L, "u", 7.0), (1070L, 7L, "q", 0.0))
    try {
      // feed in two batches (state crosses the micro-batch boundary mid-
      // pattern), then advance the watermark on another key to flush
      in.addData(tapeRows.take(4): _*); q.processAllAvailable()
      in.addData(tapeRows.drop(4): _*); q.processAllAvailable()
      in.addData((1200L, 9L, "q", 0.0)); q.processAllAvailable()
      in.addData((1210L, 9L, "q", 0.0)); q.processAllAvailable()
      // match 1: A=x@1000, D+={d,d}, U+={u,u} greedy; resume at LAST U
      // (u@1040, v=5.0) which anchors match 2: A=u@1040, D+={d@1050},
      // U+={u@1060} — the two matches SHARE the resume row
      assert(snap() == Seq((7L, 1.0, 2L, 2L), (7L, 5.0, 1L, 1L)),
        s"got ${snap()}")
      // batch parity over the identical tape
      val tape = (tapeRows ++ Seq((1200L, 9L, "q", 0.0), (1210L, 9L, "q", 0.0)))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(batch == snap(), s"batch $batch vs stream ${snap()}")
    } finally q.stop()
  }

  test("STREAMING MATCH_RECOGNIZE SKIP PAST LAST ROW: greedy non-overlapping, held until safe, watermark flush") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, n_b BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n_b
        |  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_skip_sink")
      .outputMode("append").start()
    def snap() = spark.table("mr_skip_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    try {
      // a b b: the n_b=1 and n_b=2 completions are HELD — the stay-partial
      // at the same start could still extend greedier
      in.addData((1000L, 7L, "a", 0.0), (1010L, 7L, "b", 1.0), (1020L, 7L, "b", 2.0))
      q.processAllAvailable()
      assert(snap() == Nil, s"emitted while extendable: ${snap()}")
      // a non-b event kills the stay branch in strict mode -> the greedy
      // n_b=2 match flushes; the x row also seeds nothing
      in.addData((1030L, 7L, "x", 0.0)); q.processAllAvailable()
      assert(snap() == Seq((7L, 2L)))
      // second A-run held at the tape end, then the watermark passes the
      // WITHIN window (a later event on ANOTHER key advances it) and the
      // timeout sweep flushes the held greedy match
      in.addData((1040L, 7L, "a", 0.0), (1050L, 7L, "b", 3.0)); q.processAllAvailable()
      assert(snap() == Seq((7L, 2L)), "tail candidate must still be held")
      in.addData((1600L, 9L, "x", 0.0)); q.processAllAvailable()
      // one more empty-ish tick lets the timeout fire after the watermark
      // update propagates
      in.addData((1610L, 9L, "x", 0.0)); q.processAllAvailable()
      assert(snap() == Seq((7L, 1L), (7L, 2L)))
      // batch parity on the full tape (batch selection + the same WITHIN)
      val tape = Seq((1000L, 7L, "a", 0.0), (1010L, 7L, "b", 1.0), (1020L, 7L, "b", 2.0),
        (1030L, 7L, "x", 0.0), (1040L, 7L, "a", 0.0), (1050L, 7L, "b", 3.0),
        (1600L, 9L, "x", 0.0), (1610L, 9L, "x", 0.0))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(batch == snap())
    } finally q.stop()
  }

  test("STREAMING MATCH_RECOGNIZE ALL ROWS PER MATCH: per-event rows across micro-batches, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   n_b BIGINT, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n_b
        |  ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_allrows_sink")
      .outputMode("append").start()
    def snap() = spark.table("mr_allrows_sink").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4),
        r.getLong(5), r.getString(6)))
      .sortBy(t => (t._1, t._5, t._3))
    try {
      // batch 1: a b — the n_b=1 match emits its two rows
      in.addData((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0)); q.processAllAvailable()
      assert(snap().toSeq == Seq(
        (7L, "a", 1.0, 1L, 1L, "A"), (7L, "b", 2.0, 1L, 1L, "B")))
      // batch 2: another b — the n_b=2 match emits THREE rows, including
      // the two events buffered in state from batch 1 (cross-batch replay)
      in.addData((3L, 7L, "b", 3.0)); q.processAllAvailable()
      val got = snap()
      assert(got.toSeq == Seq(
        (7L, "a", 1.0, 1L, 1L, "A"), (7L, "b", 2.0, 1L, 1L, "B"),
        (7L, "a", 1.0, 2L, 2L, "A"),
        (7L, "b", 2.0, 2L, 2L, "B"), (7L, "b", 3.0, 2L, 2L, "B")))
      // parity: the batch lowering over the same tape yields the same rows
      // (same numbering here — completion order equals start order when
      // matches share a start)
      val tape = Seq((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0), (3L, 7L, "b", 3.0))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect()
        .map(r => (r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4),
          r.getLong(5), r.getString(6)))
        .sortBy(t => (t._1, t._5, t._3))
      assert(got.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("STREAMING MATCH_RECOGNIZE: CLASSIFIER()/MATCH_NUMBER() + {- v -} exclusion stream; WITH UNMATCHED typed batch-only") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   cls STRING, mn BIGINT, mr_match_number BIGINT,
        |                   mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn
        |  ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ({- A -} B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_clsex_sink")
      .outputMode("append").start()
    def snap() = spark.table("mr_clsex_sink").collect()
      .map(r => (r.getString(2), r.getDouble(3), r.getString(4), r.getLong(5),
        r.getLong(6), r.getString(7)))
      .sortBy(t => (t._5, t._2))
    try {
      // the excluded anchor A never emits; the markers alias the appended
      // columns exactly, across micro-batches
      in.addData((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0)); q.processAllAvailable()
      assert(snap().toSeq == Seq(("b", 2.0, "B", 1L, 1L, "B")))
      in.addData((3L, 7L, "b", 3.0)); q.processAllAvailable()
      val got = snap()
      assert(got.toSeq == Seq(("b", 2.0, "B", 1L, 1L, "B"),
        ("b", 2.0, "B", 2L, 2L, "B"), ("b", 3.0, "B", 2L, 2L, "B")))
      // batch parity on the same tape
      val tape = Seq((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0), (3L, 7L, "b", 3.0))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect()
        .map(r => (r.getString(2), r.getDouble(3), r.getString(4), r.getLong(5),
          r.getLong(6), r.getString(7)))
        .sortBy(t => (t._5, t._2))
      assert(got.toSeq == batch.toSeq)
    } finally q.stop()

    // WITH UNMATCHED ROWS streams under a WITHIN (round 13); WITHOUT one
    // no row's eligibility is ever provable — typed
    val unmatchedApp = app.replace("PATTERN ({- A -} B+)", "PATTERN (A B+)")
      .replace("ALL ROWS PER MATCH", "ALL ROWS PER MATCH WITH UNMATCHED ROWS")
    val err2 = intercept[graft.sql.GraftApp.SqlError](
      graft.sql.GraftApp.run(spark,
        unmatchedApp.replace(" WITHIN INTERVAL '1' HOUR", ""), Map("E" -> events)))
    assert(err2.getMessage.contains("WITHIN"))
  }

  test("STREAMING MATCH_RECOGNIZE WITH UNMATCHED ROWS: watermark-proved eligibility, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   n_b BIGINT, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n_b
        |  ALL ROWS PER MATCH WITH UNMATCHED ROWS
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_unm_sink")
      .outputMode("append").start()
    def snap() = spark.table("mr_unm_sink").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getDouble(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) null else r.getString(6)))
      .sortBy(t => (t._1, t._3)).toSeq
    // tape: x a b a q — 'x', the second 'a', and 'q' are never claimed
    val tapeRows = Seq((1000L, 7L, "x", 1.0), (1010L, 7L, "a", 2.0),
      (1020L, 7L, "b", 3.0), (1030L, 7L, "a", 4.0), (1040L, 7L, "q", 5.0))
    try {
      in.addData(tapeRows: _*); q.processAllAvailable()
      // the match emits immediately; unmatched rows wait on the watermark
      assert(snap() == Seq(
        (7L, "a", 2.0, 1L, 1L, "A"), (7L, "b", 3.0, 1L, 1L, "B")),
        s"got ${snap()}")
      // advance the watermark past every deadline via another key
      in.addData((1300L, 9L, "q", 0.0)); q.processAllAvailable()
      in.addData((1310L, 9L, "q", 0.0)); q.processAllAvailable()
      val got = snap()
      assert(got == Seq(
        (7L, "x", 1.0, -1L, -1L, null), (7L, "a", 2.0, 1L, 1L, "A"),
        (7L, "b", 3.0, 1L, 1L, "B"), (7L, "a", 4.0, -1L, -1L, null),
        (7L, "q", 5.0, -1L, -1L, null)), s"got $got")
      // batch parity over the same user-7 rows (same app, batch tape)
      val tape = tapeRows
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect()
        .map(r => (r.getLong(1), r.getString(2), r.getDouble(3),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5),
          if (r.isNullAt(6)) null else r.getString(6)))
        .sortBy(t => (t._1, t._3)).toSeq
      assert(batch == got, s"batch $batch vs stream $got")
    } finally q.stop()
  }

  test("STREAMING MATCH_RECOGNIZE ALL ROWS with alternation: per-row classifier, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   c_v DOUBLE, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES C.v AS c_v
        |  ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ((A | B) C) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_altrows_sink")
      .outputMode("append").start()
    def grab(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getDouble(3), r.getDouble(4), r.getLong(5), r.getString(6)))
      .sortBy(t => (t._3, t._1))
    try {
      in.addData((1L, 7L, "a", 1.0), (2L, 7L, "c", 2.0)); q.processAllAvailable()
      in.addData((3L, 7L, "b", 3.0), (4L, 7L, "c", 4.0)); q.processAllAvailable()
      val got = grab(spark.table("mr_altrows_sink").collect())
      assert(got.toSeq == Seq(
        (1.0, 2.0, 1L, "A"), (2.0, 2.0, 1L, "C"),
        (3.0, 4.0, 2L, "B"), (4.0, 4.0, 2L, "C")))
      val tape = Seq((1L, 7L, "a", 1.0), (2L, 7L, "c", 2.0),
        (3L, 7L, "b", 3.0), (4L, 7L, "c", 4.0))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = grab(graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect())
      assert(got.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("STREAMING EMIT ALL ROWS with trailing NOT: conclusive-flush numbering leaves no gap for killed matches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   v1 DOUBLE, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out
        |SELECT e1.v AS v1
        |FROM PATTERN (EVERY (e1=E[kind = 'a'] -> e2=E[kind = 'c'] -> NOT E[kind = 'b'] FOR 10 SECONDS))
        |PARTITION BY user_id EMIT ALL ROWS;""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_absrows_sink")
      .outputMode("append").start()
    def snap() = spark.table("mr_absrows_sink").collect()
      .map(r => (r.getString(2), r.getDouble(3), r.getLong(5), r.getString(6)))
      .sortBy(t => (t._3, t._2)).toSeq
    val tapeRows = Seq((1L, 7L, "a", 1.0), (2L, 7L, "c", 2.0),
      (5L, 7L, "b", 0.0), // kills the first match inside its FOR window
      (20L, 7L, "a", 3.0), (21L, 7L, "c", 4.0),
      (40L, 7L, "a", 5.0), (41L, 7L, "c", 6.0))
    try {
      in.addData(tapeRows: _*); q.processAllAvailable()
      // nothing conclusive yet (deadlines 31s / 51s not passed)... except
      // the killed match, which will NEVER emit
      in.addData((100L, 9L, "x", 0.0)); q.processAllAvailable()
      in.addData((101L, 9L, "x", 0.0)); q.processAllAvailable()
      val got = snap()
      // two surviving matches, numbered 1 and 2 — the killed first match
      // leaves NO gap (conclusive-flush numbering)
      assert(got == Seq(
        ("a", 3.0, 1L, "e1"), ("c", 4.0, 1L, "e2"),
        ("a", 5.0, 2L, "e1"), ("c", 6.0, 2L, "e2")), s"got $got")
      // batch parity on the same tape
      val tape = (tapeRows ++ Seq((100L, 9L, "x", 0.0), (101L, 9L, "x", 0.0)))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect().map(r => (r.getString(2), r.getDouble(3), r.getLong(5), r.getString(6)))
        .sortBy(t => (t._3, t._2)).toSeq
      assert(batch == got, s"batch $batch vs stream $got")
    } finally q.stop()
  }

  test("STREAMING MATCH_RECOGNIZE ALL ROWS over zero-min patterns: variant classifier, shared match numbers, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    // B? expands to the [A B C] / [A C] variant pair — round 12 rejected
    // this shape typed on streams
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   b_v DOUBLE, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES B.v AS b_v
        |  ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B? C) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_multirows_sink")
      .outputMode("append").start()
    def grab(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getString(2), r.getDouble(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4), r.getLong(5), r.getString(6)))
      .sortBy(t => (t._4, t._2))
    // tape: a b c (the WITH-B variant), x, a c (the no-B variant) — the
    // two matches are disjoint, so completion order equals start order
    // and the batch/stream numbering coincides
    val tapeRows = Seq((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0), (3L, 7L, "c", 3.0),
      (4L, 7L, "x", 0.0), (5L, 7L, "a", 4.0), (6L, 7L, "c", 5.0))
    try {
      in.addData(tapeRows.take(3): _*); q.processAllAvailable()
      in.addData(tapeRows.drop(3): _*); q.processAllAvailable()
      val got = grab(spark.table("mr_multirows_sink").collect())
      assert(got.toSeq == Seq(
        ("a", 1.0, 2.0, 1L, "A"), ("b", 2.0, 2.0, 1L, "B"), ("c", 3.0, 2.0, 1L, "C"),
        ("a", 4.0, -1.0, 2L, "A"), ("c", 5.0, -1.0, 2L, "C")), s"got ${got.toSeq}")
      val tape = tapeRows
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = grab(graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect())
      assert(got.toSeq == batch.toSeq, s"batch ${batch.toSeq} vs stream ${got.toSeq}")
    } finally q.stop()

    // group repetition (D U){1,2} (round 13): the per-k variants ride the
    // same multi-variant streaming kernel — parity with batch
    val inG = MemoryStream[(Long, Long, String, Double)]
    val eventsG = inG.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val appG =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, n_d BIGINT, s_u DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(D.v) AS n_d, sum(U.v) AS s_u
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A (D U){1,2} C) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd',
        |         U AS U.kind = 'u', C AS C.kind = 'c'
        |);""".stripMargin
    val outG = graft.sql.GraftApp.run(spark, appG, Map("E" -> eventsG))("Out")
    assert(outG.isStreaming)
    val qG = outG.writeStream.format("memory").queryName("mr_grp_sink")
      .outputMode("append").start()
    val tapeG = Seq((1L, 7L, "a", 0.0), (2L, 7L, "d", 1.0), (3L, 7L, "u", 2.0),
      (4L, 7L, "d", 3.0), (5L, 7L, "u", 4.0), (6L, 7L, "c", 0.0))
    try {
      inG.addData(tapeG.take(3): _*); qG.processAllAvailable()
      inG.addData(tapeG.drop(3): _*); qG.processAllAvailable()
      val gotG = spark.table("mr_grp_sink").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getDouble(2))).sorted.toSeq
      assert(gotG == Seq((7L, 2L, 6.0)), s"got $gotG")
      val batchG = graft.sql.GraftApp.run(spark, appG, Map("E" ->
        tapeG.toDF("sec", "user_id", "kind", "v")
          .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
            "user_id", "kind", "v")))("Out")
        .selectExpr("user_id", "CAST(n_d AS BIGINT)", "s_u")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(batchG == gotG, s"batch $batchG vs stream $gotG")
    } finally qG.stop()

    // unbounded loop group (A (D U)+ C) (round 13): single-variant
    // streaming chain with the loop-back edge, cross-batch state
    val inL = MemoryStream[(Long, Long, String, Double)]
    val eventsL = inL.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val appL =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, n_d BIGINT, s_u DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(D.v) AS n_d, sum(U.v) AS s_u
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A (D U)+ C) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd',
        |         U AS U.kind = 'u', C AS C.kind = 'c'
        |);""".stripMargin
    val outL = graft.sql.GraftApp.run(spark, appL, Map("E" -> eventsL))("Out")
    assert(outL.isStreaming)
    val qL = outL.writeStream.format("memory").queryName("mr_loop_sink")
      .outputMode("append").start()
    val tapeL = Seq((1L, 7L, "a", 0.0), (2L, 7L, "d", 1.0), (3L, 7L, "u", 2.0),
      (4L, 7L, "d", 3.0), (5L, 7L, "u", 4.0), (6L, 7L, "d", 5.0),
      (7L, 7L, "u", 6.0), (8L, 7L, "c", 0.0))
    try {
      inL.addData(tapeL.take(5): _*); qL.processAllAvailable()
      inL.addData(tapeL.drop(5): _*); qL.processAllAvailable()
      val gotL = spark.table("mr_loop_sink").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getDouble(2))).sorted.toSeq
      // three iterations, one match (k<3 dies mid-loop on the next d)
      assert(gotL == Seq((7L, 3L, 12.0)), s"got $gotL")
      val batchL = graft.sql.GraftApp.run(spark, appL, Map("E" ->
        tapeL.toDF("sec", "user_id", "kind", "v")
          .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
            "user_id", "kind", "v")))("Out")
        .selectExpr("user_id", "CAST(n_d AS BIGINT)", "s_u")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(batchL == gotL, s"batch $batchL vs stream $gotL")
    } finally qL.stop()

    // quantified member (D U+)+ split ACROSS micro-batches (round 14):
    // the iteration frame (iters/iterBase/iterHist) rides NfaState through
    // the state-store encoder — batch 1 ends MID-iteration-2 with a
    // nonempty iterBase, batch 2 continues the same U+ run and closes
    val inQ = MemoryStream[(Long, Long, String, Double)]
    val eventsQ = inQ.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val appQ = appL
      .replace("PATTERN (A (D U)+ C)", "PATTERN (A (D U+)+ C)")
      .replace("count(D.v) AS n_d, sum(U.v) AS s_u",
        "count(D.v) AS n_d, count(U.v) AS s_u")
    val outQ = graft.sql.GraftApp.run(spark, appQ, Map("E" -> eventsQ))("Out")
    sinkId += 1; val nameQ = s"mr_quant_sink_$sinkId"
    val qQ = outQ.writeStream.format("memory").queryName(nameQ)
      .outputMode("append").start()
    // a d u u u d u | (batch cut MID-iteration-2, iterBase nonempty) u c
    val tapeQ = Seq((1L, 7L, "a", 0.0), (2L, 7L, "d", 1.0), (3L, 7L, "u", 2.0),
      (4L, 7L, "u", 3.0), (5L, 7L, "u", 4.0), (6L, 7L, "d", 5.0),
      (7L, 7L, "u", 6.0), (8L, 7L, "u", 7.0), (9L, 7L, "c", 0.0))
    try {
      inQ.addData(tapeQ.take(7): _*); qQ.processAllAvailable()
      inQ.addData(tapeQ.drop(7): _*); qQ.processAllAvailable()
      val gotQ = spark.table(nameQ).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
          r.getAs[Number](2).longValue)).sorted.toSeq
      // 2 iterations (3-run + 2-run of u's), 5 u's total
      assert(gotQ == Seq((7L, 2L, 5L)), s"got $gotQ")
      val batchQ = graft.sql.GraftApp.run(spark, appQ, Map("E" ->
        tapeQ.toDF("sec", "user_id", "kind", "v")
          .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
            "user_id", "kind", "v")))("Out")
        .selectExpr("user_id", "CAST(n_d AS BIGINT)", "CAST(s_u AS BIGINT)")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(batchQ == gotQ, s"batch $batchQ vs stream $gotQ")
    } finally qQ.stop()

    // zero-or-more B*: overlapping presence-pair matches SHARE the anchor;
    // the shared counter numbers them per key in completion order, and the
    // row contents (ignoring numbering order) must be the batch's
    val in2 = MemoryStream[(Long, Long, String, Double)]
    val events2 = in2.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app2 = app.replace("PATTERN (A B? C)", "PATTERN (A B*)")
      .replace(", C AS C.kind = 'c'", "")
    val outDf2 = graft.sql.GraftApp.run(spark, app2, Map("E" -> events2))("Out")
    val q2 = outDf2.writeStream.format("memory").queryName("mr_multirows2_sink")
      .outputMode("append").start()
    try {
      in2.addData((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0), (3L, 7L, "b", 3.0))
      q2.processAllAvailable()
      val got2 = grab(spark.table("mr_multirows2_sink").collect())
      // 3 matches: [a], [a b], [a b b] — 1 + 2 + 3 = 6 rows; per-row
      // classifier resolves the variant; numbers are per completion
      assert(got2.length == 6, s"got ${got2.toSeq}")
      assert(got2.map(_._4).distinct.sorted.toSeq == Seq(1L, 2L, 3L))
      val grouped = got2.groupBy(_._4).map { case (_, rs) =>
        rs.map(t => (t._1, t._2, t._5)).sortBy(_._2).toSeq }.toSet
      assert(grouped == Set(
        Seq(("a", 1.0, "A")),
        Seq(("a", 1.0, "A"), ("b", 2.0, "B")),
        Seq(("a", 1.0, "A"), ("b", 2.0, "B"), ("b", 3.0, "B"))), s"got $grouped")
      // batch multiset parity (numbering differs only in tie order)
      val tape2 = Seq((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0), (3L, 7L, "b", 3.0))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch2 = grab(graft.sql.GraftApp.run(spark, app2, Map("E" -> tape2))("Out")
        .collect())
      val bGrouped = batch2.groupBy(_._4).map { case (_, rs) =>
        rs.map(t => (t._1, t._2, t._5)).sortBy(_._2).toSeq }.toSet
      assert(grouped == bGrouped, s"batch $bGrouped vs stream $grouped")
    } finally q2.stop()
  }

  test("STREAMING MATCH_RECOGNIZE RUNNING over OR alternatives: per-alternative slots, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    // RUNNING count(A.v)/sum(B.v) where A and B are ALTERNATIVES of the
    // head step: the step buffer holds whichever alternative matched, and
    // the fold must attribute it per row (round 12 rejected this typed;
    // batch resolves it via the per-row classifier)
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   rca BIGINT, rsb DOUBLE, mr_match_number BIGINT,
        |                   mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES RUNNING count(A.v) AS rca, RUNNING sum(B.v) AS rsb
        |  ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ((A | B) C) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_runor_sink")
      .outputMode("append").start()
    def grab(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getDouble(3), r.getLong(4),
        if (r.isNullAt(5)) -1.0 else r.getDouble(5), r.getLong(6), r.getString(7)))
      .sortBy(t => (t._4, t._1))
    try {
      in.addData((1L, 7L, "a", 1.0), (2L, 7L, "c", 2.0)); q.processAllAvailable()
      in.addData((3L, 7L, "b", 3.0), (4L, 7L, "c", 4.0)); q.processAllAvailable()
      val got = grab(spark.table("mr_runor_sink").collect())
      // match 1 (a c): A row -> rca=1, rsb NULL; C row -> rca=1, rsb NULL
      // match 2 (b c): B row -> rca=0, rsb=3.0; C row -> rca=0, rsb=3.0
      assert(got.toSeq == Seq(
        (1.0, 1L, -1.0, 1L, "A"), (2.0, 1L, -1.0, 1L, "C"),
        (3.0, 0L, 3.0, 2L, "B"), (4.0, 0L, 3.0, 2L, "C")),
        s"got ${got.toSeq}")
      val tape = Seq((1L, 7L, "a", 1.0), (2L, 7L, "c", 2.0),
        (3L, 7L, "b", 3.0), (4L, 7L, "c", 4.0))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = grab(graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect())
      assert(got.toSeq == batch.toSeq, s"batch ${batch.toSeq} vs stream ${got.toSeq}")
    } finally q.stop()
  }

  test("STREAMING MATCH_RECOGNIZE RUNNING: prefix re-aggregation from buffered state, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   rc BIGINT, rs DOUBLE, n_b BIGINT,
        |                   mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES RUNNING count(B.v) AS rc, RUNNING sum(B.v) AS rs,
        |           FINAL count(B.v) AS n_b
        |  ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    val q = outDf.writeStream.format("memory").queryName("mr_running_sink")
      .outputMode("append").start()
    def grab(df: Array[org.apache.spark.sql.Row]) = df
      .map(r => (r.getDouble(3), r.getLong(4),
        if (r.isNullAt(5)) -1.0 else r.getDouble(5), r.getLong(6), r.getLong(7)))
      .sortBy(t => (t._4, t._1))
    try {
      // two batches so the second match replays state buffered in batch 1
      in.addData((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0)); q.processAllAvailable()
      in.addData((3L, 7L, "b", 4.0)); q.processAllAvailable()
      val got = grab(spark.table("mr_running_sink").collect())
      // match 1 (a,b1): rc 0,1; match 2 (a,b1,b2): rc 0,1,2 — RUNNING
      // grows per row, FINAL stays the whole-match constant
      assert(got.toSeq == Seq(
        (1.0, 0L, -1.0, 1L, 1L), (2.0, 1L, 2.0, 1L, 1L),
        (1.0, 0L, -1.0, 2L, 2L), (2.0, 1L, 2.0, 2L, 2L), (4.0, 2L, 6.0, 2L, 2L)))
      // parity with the batch lowering on the same tape
      val tape = Seq((1L, 7L, "a", 1.0), (2L, 7L, "b", 2.0), (3L, 7L, "b", 4.0))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = grab(graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect())
      assert(got.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("STREAMING MATCH_RECOGNIZE RUNNING over a LOOP GROUP: event-id-bounded prefix, parity with batch") {
    // round 14: the prefix aggregate bounds V's buffered events by EVENT
    // ID (not buffer position), so loop groups — whose per-step buffers
    // interleave across iterations — stream RUNNING correctly. Tape:
    // a d(1) u(2) d(3) u(4) — at the iteration-2 d row, RUNNING sum(U.v)
    // must be 2 (only u(2) precedes it), though U's buffer will also hold
    // u(4).
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDS().toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   rs DOUBLE, rcd BIGINT,
        |                   mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES RUNNING sum(U.v) AS rs, RUNNING count(D.v) AS rcd
        |  ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A (D U)+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd', U AS U.kind = 'u'
        |);""".stripMargin
    val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
    assert(outDf.isStreaming)
    sinkId += 1; val name = s"mr_loop_run_sink_$sinkId"
    val q = outDf.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def grab(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(6), r.getDouble(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4), r.getLong(5),
        r.getString(7)))
      .sortBy(t => (t._1, t._2))
    try {
      in.addData((1L, 7L, "a", 1.0), (2L, 7L, "d", 1.5), (3L, 7L, "u", 2.0))
      q.processAllAvailable()
      in.addData((4L, 7L, "d", 3.0), (5L, 7L, "u", 4.0))
      q.processAllAvailable()
      val got = grab(spark.table(name).collect())
      // the 2-iteration match's d(3.0) row: rs = 2.0 (only u(2.0) is at-
      // or-before it), rcd = 2 — a positional slice would read 6.0 there
      val m2 = got.filter(x => x._5 == "D" && x._2 == 3.0)
      assert(m2.exists(x => x._3 == 2.0 && x._4 == 2L), s"got $got")
      // full parity with the batch lowering on the same tape
      val tape = Seq((1L, 7L, "a", 1.0), (2L, 7L, "d", 1.5), (3L, 7L, "u", 2.0),
        (4L, 7L, "d", 3.0), (5L, 7L, "u", 4.0))
        .toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val batch = grab(graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
        .collect())
      assert(got.toSeq == batch.toSeq, s"stream ${got.toSeq} vs batch ${batch.toSeq}")
    } finally q.stop()
  }

  test("streaming windowed kmv_distinct: per-window parity with the batch operator, late fold-in") {
    // round 14: the incremental-crawl datacard as a stream — tumbling
    // 10 s windows, watermark 5 s; a window's row emits only when the
    // watermark proves it complete, and a late event inside the lateness
    // folds into the SAME bounded bottom-k state.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    def df0 = in.toDF().toDF("sec", "user_id", "doc_id").selectExpr(
      "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "doc_id")
    val k = 16
    val out = graft.operators.Sketches.kmvDistinctStreamWindowed(
      df0, Seq("user_id"), "doc_id", k, 10000000L, "5 seconds")
    sinkId += 1; val name = s"kmv_sink_$sinkId"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window [0,10): user 1 → 30 distinct docs (k=16 ⇒ genuine
      // estimate), user 2 → docs 1..5; window [10,20): user 1 → 3 docs
      in.addData((1 to 30).map(i => (1L + i % 8, 1L, i.toLong)) ++
        (1 to 5).map(i => (2L, 2L, i.toLong)): _*)
      q.processAllAvailable()
      in.addData((12L, 1L, 101L), (12L, 1L, 102L), (13L, 1L, 103L),
        (8L, 2L, 6L)) // late for window 0, inside the 5 s lateness
      q.processAllAvailable()
      assert(spark.table(name).count() == 0) // watermark 13-5=8 < 10: open
      in.addData((60L, 9L, 1L)) // sentinel pushes the watermark past both
      q.processAllAvailable()
      val got = spark.table(name)
        .selectExpr("gk", "winStartUs", "kUsed", "kthHash", "estDistinct")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(x => (x._2, x._1)).toSeq
      assert(got.size == 3)
      // batch parity: the SAME operator arithmetic per (user, window) on
      // the full replayed data (late row included)
      val allRows = ((1 to 30).map(i => (1L + i % 8, 1L, i.toLong)) ++
        (1 to 5).map(i => (2L, 2L, i.toLong)) ++
        Seq((12L, 1L, 101L), (12L, 1L, 102L), (13L, 1L, 103L), (8L, 2L, 6L)))
        .toDF("sec", "user_id", "doc_id")
        .selectExpr("sec", "user_id", "doc_id",
          "CAST(FLOOR(sec / 10) AS BIGINT) * 10000000 AS win")
      val want = graft.operators.Sketches.kmvDistinctBy(
          allRows.selectExpr(
            "concat(to_json(named_struct('user_id', user_id)), '|', win) AS gw",
            "doc_id"),
          "gw", "doc_id", k)
        .collect().map { r =>
          val Array(gk, win) = r.getString(0).split("\\|")
          (gk, win.toLong, r.getLong(1), r.getLong(2), r.getLong(3))
        }.sortBy(x => (x._2, x._1)).toSeq
      assert(got == want, s"stream $got vs batch $want")
      // the 30+3-distinct window really estimated (kUsed == k)
      assert(got.exists(x => x._3 == k && x._5 != x._3))
    } finally q.stop()
  }

  test("streaming sketch SQL lowering: kmv_distinct over WINDOW('timeBatch') GROUP BY") {
    // the app-text face a migrating user writes: replaces round-13's
    // typed "batch-surface" error for the windowed-stream case
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val sdf = in.toDF().toDF("sec", "user_id", "doc_id").selectExpr(
      "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "doc_id")
    val app =
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT);
        |CREATE STREAM Out (win_start TIMESTAMP, user_id BIGINT, du BIGINT);
        |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du
        |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY user_id;""".stripMargin
    val out = graft.sql.GraftApp.run(spark, app, Map("S" -> sdf))("Out")
    sinkId += 1; val name = s"kmvsql_sink_$sinkId"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData((1 to 7).map(i => (i.toLong, 1L, i.toLong)) ++
        Seq((2L, 2L, 10L), (3L, 2L, 10L)): _*)
      in.addData((60L, 9L, 1L)) // close window 0
      q.processAllAvailable()
      val got = spark.table(name)
        .selectExpr("unix_micros(win_start)", "user_id", "du")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._2).toSeq
      // < k distinct per group ⇒ exact counts
      assert(got == Seq((0L, 1L, 7L), (0L, 2L, 1L)))
    } finally q.stop()

    // remaining typed gates (round 15 made multi-sketch, hist_quantile,
    // and plain aggregates compose — see the composable test below):
    // windowless sketch on a stream; a non-aggregate expression item
    def errOf(a: String) = intercept[graft.sql.GraftApp.SqlError](
      graft.sql.GraftApp.run(spark, a, Map("S" -> sdf))).getMessage
    assert(errOf(
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT);
        |CREATE STREAM Out (win_start TIMESTAMP, u BIGINT, du BIGINT);
        |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du
        |FROM S GROUP BY user_id;""".stripMargin)
      .contains("event-time window"))
    assert(errOf(
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT);
        |CREATE STREAM Out (win_start TIMESTAMP, u BIGINT, du BIGINT, x BIGINT);
        |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du,
        |  doc_id * 2 AS x
        |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY user_id;""".stripMargin)
      .contains("count/sum/avg/min/max"))
  }

  test("streaming windowed heavy_hitters: MG survivors per window, exact under k distinct") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    def df0 = in.toDF().toDF("sec", "user_id", "token").selectExpr(
      "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "token")
    val out = graft.operators.Sketches.heavyHittersStreamWindowed(
      df0, Seq("user_id"), "token", 3, 10000000L, "0 seconds")
    sinkId += 1; val name = s"hh_sink_$sinkId"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // ≤ k distinct per window ⇒ Misra-Gries never decrements ⇒ counts
      // exact ⇒ the emitted order is the exact frequency order. User 3's
      // window holds a NULL token TIED on count with a real one — NULL
      // keys are their own MG counter and must sort (first) without
      // NPEing (review r15)
      in.addData(Seq.fill(5)((1L, 1L, "a")) ++ Seq.fill(2)((2L, 1L, "b")) ++
        Seq((3L, 1L, "c")) ++ Seq.fill(3)((4L, 2L, "z")) ++
        Seq((5L, 3L, null: String), (6L, 3L, "m")): _*)
      in.addData((60L, 9L, "s")) // close window 0
      q.processAllAvailable()
      val got = spark.table(name)
        .selectExpr("gk", "winStartUs", "hh")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getSeq[String](2).toList)).sortBy(_._1).toSeq
      assert(got == Seq(
        ("""{"user_id":1}""", 0L, List("a", "b", "c")),
        ("""{"user_id":2}""", 0L, List("z")),
        ("""{"user_id":3}""", 0L, List(null, "m"))))
    } finally q.stop()
  }
  test("composable streaming sketches (round 15): multi-sketch + plain aggregates in ONE windowed query, late fold-in") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, Double)]
    val sdf = in.toDF().toDF("sec", "user_id", "doc_id", "value").selectExpr(
      "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "doc_id", "value")
    // the datacard shape that was three queries + a typed error in r14:
    // two sketch families + hist_quantile + count/sum/avg/max in ONE query
    val app =
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT, value DOUBLE)
        |  WITH ('allow.lateness'='5 seconds');
        |CREATE STREAM Out (win_start TIMESTAMP, user_id BIGINT, du BIGINT,
        |                   hhl ARRAY<STRING>, n BIGINT, sv DOUBLE, av DOUBLE,
        |                   p50 DOUBLE, mx BIGINT);
        |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du,
        |  heavy_hitters(doc_id, 3) AS hhl, count(*) AS n, sum(value) AS sv,
        |  avg(value) AS av, hist_quantile(value, 500) AS p50,
        |  max(doc_id) AS mx
        |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY user_id;""".stripMargin
    val out = graft.sql.GraftApp.run(spark, app, Map("S" -> sdf))("Out")
    assert(out.isStreaming)
    sinkId += 1; val name = s"ms_sink_$sinkId"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window [0,10): user 1 → docs 1..6 (doc 1 thrice — the heavy
      // hitter), user 2 → doc 10 twice; window [10,20): user 1 → one doc
      val w0 = Seq((1L, 1L, 1L, 2.0), (2L, 1L, 1L, 4.0), (3L, 1L, 1L, 6.0),
        (4L, 1L, 2L, 1.0), (5L, 1L, 3L, 3.0), (6L, 1L, 4L, 5.0),
        (2L, 2L, 10L, 7.5), (3L, 2L, 10L, 8.5))
      in.addData(w0: _*)
      in.addData((12L, 1L, 99L, 1.0)) // window [10,20); watermark 12-5=7
      q.processAllAvailable()
      val late = (8L, 1L, 5L, 9.0) // late for window 0, inside lateness
      in.addData(late)
      q.processAllAvailable()
      assert(spark.table(name).count() == 0) // window 0 still open
      in.addData((60L, 9L, 1L, 0.0)) // sentinel closes both windows
      q.processAllAvailable()
      val got = spark.table(name)
        .selectExpr("unix_micros(win_start) AS w", "user_id", "du",
          "array_join(hhl, ',') AS hhl", "n", "sv", "av", "p50", "mx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
          r.getDouble(7), r.getLong(8)))
        .sortBy(x => (x._1, x._2)).toSeq
      // expected, window 0 / user 1 (docs 1,1,1,2,3,4 + late 5; values
      // 2,4,6,1,3,5 + 9): du = 5 exact (k=16 > distinct), MG k=3 with 5
      // distinct decrements — doc 1 (3 occurrences vs runner-ups’ 1)
      // must survive and lead; n=7, sv=30, av=30/7, p50: N=7 target
      // ceil(3.5)=4 → 4th of sorted buckets [100,200,300,400,500,600,900]
      // = 400 → 4.0; mx = 5
      val u1 = got.find(x => x._1 == 0L && x._2 == 1L).get
      assert(u1._3 == 5L, s"du $got")
      assert(u1._4.startsWith("1"), s"MG survivor order $got")
      assert(u1._5 == 7L && u1._6 == 30.0 && math.abs(u1._7 - 30.0 / 7) < 1e-12)
      assert(u1._8 == 4.0, s"p50 $got")
      assert(u1._9 == 5L)
      // window 0 / user 2: two identical docs
      val u2 = got.find(x => x._1 == 0L && x._2 == 2L).get
      assert(u2._3 == 1L && u2._4 == "10" && u2._5 == 2L && u2._6 == 16.0 &&
        u2._8 == 7.5 && u2._9 == 10L)
      // window [10,20) / user 1: the single row
      val u3 = got.find(x => x._1 == 10000000L && x._2 == 1L).get
      assert(u3._3 == 1L && u3._5 == 1L && u3._9 == 99L)
      assert(got.size == 3) // the sentinel's own window [60,70) never closes

      // cross-check the kmv/hist sections against the BATCH operators on
      // the replayed tape (same arithmetic by construction)
      val all = (w0 :+ (12L, 1L, 99L, 1.0) :+ late)
        .toDF("sec", "user_id", "doc_id", "value")
        .selectExpr("sec", "user_id", "doc_id", "value",
          "concat(CAST(user_id AS STRING), '|', CAST(FLOOR(sec / 10) AS STRING)) AS gw")
      val kmvWant = graft.operators.Sketches.kmvDistinctBy(all, "gw", "doc_id", 16)
        .collect().map(r => (r.getString(0), r.getLong(3))).toMap
      assert(got.filter(_._1 == 0L).forall(x =>
        kmvWant(s"${x._2}|0") == x._3), s"kmv batch parity $kmvWant vs $got")
      val qWant = graft.operators.Sketches.quantilesBy(all, "gw", "value", Seq(500), 100)
        .collect().map(r => (r.getString(0), r.getDouble(3))).toMap
      assert(got.filter(_._1 == 0L).forall(x =>
        qWant(s"${x._2}|0") == x._8), s"hist batch parity $qWant vs $got")
    } finally q.stop()
  }

  test("streaming GLOBAL sketch + plain aggregates (round 16): no GROUP BY lowers to a single-group kernel, parity with the batch global form") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)]
    val sdf = in.toDF().toDF("sec", "user_id", "value").selectExpr(
      "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "value")
    // the whole-corpus datacard one-liner, windowed and streaming: the
    // q_sketch_sql_global select list with NO GROUP BY — one state entry
    // per open window
    val app =
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, value DOUBLE);
        |CREATE STREAM Out (win_start TIMESTAMP, n BIGINT, du BIGINT,
        |                   mx DOUBLE, p50 DOUBLE);
        |INSERT INTO Out SELECT count(*) AS n, kmv_distinct(user_id, 64) AS du,
        |  max(value) AS mx, hist_quantile(value, 500) AS p50
        |FROM S WINDOW('timeBatch', '10 seconds');""".stripMargin
    val out = graft.sql.GraftApp.run(spark, app, Map("S" -> sdf))("Out")
    assert(out.isStreaming)
    sinkId += 1; val name = s"gms_sink_$sinkId"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val w0 = Seq((1L, 1L, 2.0), (2L, 2L, 4.0), (3L, 3L, 6.25), (4L, 1L, 1.0),
        (5L, 2L, 3.0), (6L, 4L, 5.0), (7L, 5L, 7.5))
      in.addData(w0: _*)
      in.addData((12L, 6L, 1.0)) // window [10,20)
      in.addData((60L, 9L, 0.0)) // sentinel closes both
      q.processAllAvailable()
      val got = spark.table(name)
        .selectExpr("unix_micros(win_start) AS w", "n", "du", "mx", "p50")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
      assert(got.size == 2, s"$got")
      // parity oracle: the BATCH global form (GraftApp batch lowering, the
      // q_sketch_sql_global path) on the window-0 tape — the two surfaces
      // must agree value-for-value on the same events
      val batchApp =
        """CREATE STREAM events (ts TIMESTAMP, user_id BIGINT, value DOUBLE);
          |CREATE STREAM Out (n BIGINT, du BIGINT, mx DOUBLE, p50 DOUBLE);
          |INSERT INTO Out SELECT count(*) AS n, kmv_distinct(user_id, 64) AS du,
          |  max(value) AS mx, hist_quantile(value, 500) AS p50
          |FROM events;""".stripMargin
      val tape0 = w0.toDF("sec", "user_id", "value").selectExpr(
        "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "value")
      val want0 = graft.sql.GraftApp.run(spark, batchApp,
        Map("events" -> tape0))("Out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).head
      val g0 = got.head
      assert(g0._1 == 0L &&
        (g0._2, g0._3, g0._4, g0._5) == want0,
        s"streaming ${got.head} vs batch $want0")
      // window [10,20): the single row
      assert(got(1) == ((10000000L, 1L, 1L, 1.0, 1.0)), s"$got")
    } finally q.stop()
  }

  test("streaming sketches over HOPPING windows (round 15): map-side window enumeration, one stateful operator") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val sdf = in.toDF().toDF("sec", "user_id", "doc_id").selectExpr(
      "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "doc_id")
    val app =
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT);
        |CREATE STREAM Out (win_start TIMESTAMP, user_id BIGINT, du BIGINT,
        |                   n BIGINT);
        |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du,
        |  count(*) AS n
        |FROM S WINDOW('sliding', '10 seconds', '5 seconds')
        |GROUP BY user_id;""".stripMargin
    val out = graft.sql.GraftApp.run(spark, app, Map("S" -> sdf))("Out")
    // plan hygiene: the hop must be ONE inline explode feeding ONE
    // stateful operator — a per-offset union would duplicate the state
    // store and lose event-time timeout emissions
    val planStr = out.queryExecution.analyzed.toString
    assert("flatMapGroupsWithState|FlatMapGroupsWithState".r
      .findAllIn(planStr).size <= 1, planStr)
    sinkId += 1; val name = s"hop_sink_$sinkId"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // events at t=3 (windows [-5,5) and [0,10)), t=7 (windows [0,10)
      // and [5,15)), t=12 (windows [5,15) and [10,20))
      in.addData((3L, 1L, 100L), (7L, 1L, 200L), (12L, 1L, 200L))
      in.addData((60L, 9L, 1L)) // close everything
      q.processAllAvailable()
      val got = spark.table(name)
        .selectExpr("unix_micros(win_start) AS w", "user_id", "du", "n")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(_._2 == 1L).sortBy(_._1).toSeq
      assert(got == Seq(
        (-5000000L, 1L, 1L, 1L),  // [-5,5): t=3
        (0L, 1L, 2L, 2L),         // [0,10): t=3, t=7
        (5000000L, 1L, 1L, 2L),   // [5,15): t=7, t=12 — doc 200 twice, ONE distinct
        (10000000L, 1L, 1L, 1L)), // [10,20): t=12
        s"hop windows $got")
    } finally q.stop()
  }
  test("STREAMING MATCH_RECOGNIZE round-15 surfaces: nested variable groups and quantified PERMUTE, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    // variable-count nested group ((D U){1,2} C)+ across micro-batches —
    // the nested iteration frame (innerIters/innerBase) rides the NFA
    // state between batches
    locally {
      val in = MemoryStream[(Long, Long, String, Double)]
      val events = in.toDS().toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val app =
        """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
          |CREATE STREAM Out (user_id BIGINT, n_d BIGINT, n_c BIGINT, s_u DOUBLE);
          |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES count(D.v) AS n_d, count(C.v) AS n_c, sum(U.v) AS s_u
          |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A ((D U){1,2} C)+) WITHIN INTERVAL '1' HOUR
          |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd', U AS U.kind = 'u',
          |         C AS C.kind = 'c');""".stripMargin
      val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
      assert(outDf.isStreaming)
      sinkId += 1; val name = s"mr_nest_sink_$sinkId"
      val q = outDf.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      def grab(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._2, x._3)).toSeq
      try {
        // split MID-INNER-ITERATION: iteration 2's (d u) crosses batches
        in.addData((1L, 7L, "a", 0.0), (2L, 7L, "d", 1.0), (3L, 7L, "u", 2.0))
        q.processAllAvailable()
        in.addData((4L, 7L, "d", 3.0), (5L, 7L, "u", 4.0), (6L, 7L, "c", 0.0),
          (7L, 7L, "d", 5.0), (8L, 7L, "u", 6.0), (9L, 7L, "c", 0.0))
        q.processAllAvailable()
        val got = grab(spark.table(name).collect())
        val tape = Seq((1L, 7L, "a", 0.0), (2L, 7L, "d", 1.0), (3L, 7L, "u", 2.0),
          (4L, 7L, "d", 3.0), (5L, 7L, "u", 4.0), (6L, 7L, "c", 0.0),
          (7L, 7L, "d", 5.0), (8L, 7L, "u", 6.0), (9L, 7L, "c", 0.0))
          .toDF("sec", "user_id", "kind", "v")
          .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
            "user_id", "kind", "v")
        val batch = grab(graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
          .collect())
        assert(got == batch, s"stream $got vs batch $batch")
        // j=1 (2 pairs in iteration 1) and j=2 (plus the 1-pair iteration)
        assert(got == Seq((7L, 2L, 1L, 6.0), (7L, 3L, 2L, 12.0)), s"$got")
      } finally q.stop()
    }
    // ZERO-MIN nested group across micro-batches (round 16): the
    // zero-iteration tail fork is derived per event, so state carries
    // nothing new — a bare-C outer iteration completes in a LATER batch
    locally {
      val in = MemoryStream[(Long, Long, String, Double)]
      val events = in.toDS().toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val app =
        """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
          |CREATE STREAM Out (user_id BIGINT, n_d BIGINT, n_c BIGINT, s_u DOUBLE);
          |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES count(D.v) AS n_d, count(C.v) AS n_c, sum(U.v) AS s_u
          |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A ((D U)* C)+) WITHIN INTERVAL '1' HOUR
          |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd', U AS U.kind = 'u',
          |         C AS C.kind = 'c');""".stripMargin
      val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
      assert(outDf.isStreaming)
      sinkId += 1; val name = s"mr_zm_sink_$sinkId"
      val q = outDf.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      def grab(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
        .sortBy(x => (x._2, x._3)).toSeq
      try {
        // batch 1 ends right AFTER the anchor: the bare-C derivation
        // completes in batch 2
        in.addData((1L, 7L, "a", 0.0))
        q.processAllAvailable()
        in.addData((2L, 7L, "c", 0.0), (3L, 7L, "d", 1.0), (4L, 7L, "u", 2.0),
          (5L, 7L, "c", 0.0))
        q.processAllAvailable()
        val got = grab(spark.table(name).collect())
        val tape = Seq((1L, 7L, "a", 0.0), (2L, 7L, "c", 0.0), (3L, 7L, "d", 1.0),
          (4L, 7L, "u", 2.0), (5L, 7L, "c", 0.0))
          .toDF("sec", "user_id", "kind", "v")
          .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
            "user_id", "kind", "v")
        val batch = grab(graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
          .collect())
        assert(got == batch, s"stream $got vs batch $batch")
        assert(got == Seq((7L, 0L, 1L, -1.0), (7L, 1L, 2L, 2.0)), s"$got")
      } finally q.stop()
    }
    // quantified PERMUTE across micro-batches: the reversed arm's looped
    // chain completes twice, split mid-iteration
    locally {
      val in = MemoryStream[(Long, Long, String, Double)]
      val events = in.toDS().toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val app =
        """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
          |CREATE STREAM Out (user_id BIGINT, n_d BIGINT, d1 DOUBLE, u1 DOUBLE);
          |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES count(D.v) AS n_d, FIRST(D.v) AS d1, FIRST(U.v) AS u1
          |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A PERMUTE(D, U){1,2}) WITHIN INTERVAL '1' HOUR
          |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd', U AS U.kind = 'u');""".stripMargin
      val outDf = graft.sql.GraftApp.run(spark, app, Map("E" -> events))("Out")
      assert(outDf.isStreaming)
      sinkId += 1; val name = s"mr_pq_sink_$sinkId"
      val q = outDf.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      def grab(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._2).toSeq
      try {
        in.addData((1L, 7L, "a", 0.0), (2L, 7L, "u", 2.0), (3L, 7L, "d", 1.0))
        q.processAllAvailable()
        in.addData((4L, 7L, "u", 4.0), (5L, 7L, "d", 3.0))
        q.processAllAvailable()
        val got = grab(spark.table(name).collect())
        val tape = Seq((1L, 7L, "a", 0.0), (2L, 7L, "u", 2.0), (3L, 7L, "d", 1.0),
          (4L, 7L, "u", 4.0), (5L, 7L, "d", 3.0))
          .toDF("sec", "user_id", "kind", "v")
          .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
            "user_id", "kind", "v")
        val batch = grab(graft.sql.GraftApp.run(spark, app, Map("E" -> tape))("Out")
          .collect())
        assert(got == batch, s"stream $got vs batch $batch")
        assert(got == Seq((7L, 1L, 1.0, 2.0), (7L, 2L, 1.0, 2.0)), s"$got")
      } finally q.stop()
    }
  }
  test("streaming sketch HAVING over plain aggregates filters emitted windows (round 15)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val sdf = in.toDF().toDF("sec", "user_id", "doc_id").selectExpr(
      "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "doc_id")
    val app =
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT);
        |CREATE STREAM Out (win_start TIMESTAMP, user_id BIGINT, du BIGINT, n BIGINT);
        |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du, count(*) AS n
        |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY user_id
        |HAVING count(*) >= 3;""".stripMargin
    val out = graft.sql.GraftApp.run(spark, app, Map("S" -> sdf))("Out")
    sinkId += 1; val name = s"hav_sink_$sinkId"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // user 1: 4 events (passes), user 2: 2 events (filtered)
      in.addData((1L, 1L, 10L), (2L, 1L, 11L), (3L, 1L, 10L), (4L, 1L, 12L),
        (2L, 2L, 20L), (3L, 2L, 21L))
      in.addData((60L, 9L, 1L)) // close window 0
      q.processAllAvailable()
      val got = spark.table(name)
        .selectExpr("user_id", "du", "n")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq((1L, 3L, 4L)), s"$got")
    } finally q.stop()
    // UNALIASED count(*): the output column is literally named
    // "count(*)" — HAVING must resolve it as a column reference, not
    // re-parse an aggregate call (review r15)
    locally {
      val in2 = MemoryStream[(Long, Long, Long)]
      val sdf2 = in2.toDF().toDF("sec", "user_id", "doc_id").selectExpr(
        "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "doc_id")
      val app2 =
        """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT);
          |CREATE STREAM Out (win_start TIMESTAMP, user_id BIGINT, du BIGINT,
          |                   n BIGINT);
          |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du, count(*)
          |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY user_id
          |HAVING count(*) >= 3;""".stripMargin
      val out2 = graft.sql.GraftApp.run(spark, app2, Map("S" -> sdf2))("Out")
      sinkId += 1; val n2 = s"hav2_sink_$sinkId"
      val q2 = out2.writeStream.format("memory").queryName(n2)
        .outputMode("append").start()
      try {
        in2.addData((1L, 1L, 10L), (2L, 1L, 11L), (3L, 1L, 12L), (2L, 2L, 20L))
        in2.addData((60L, 9L, 1L))
        q2.processAllAvailable()
        val got2 = spark.table(n2).selectExpr("user_id", "du", "`count(*)`")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got2 == Seq((1L, 3L, 3L)), s"$got2")
      } finally q2.stop()
    }
    // HAVING over a sketch alias stays typed
    val err = intercept[graft.sql.GraftApp.SqlError](graft.sql.GraftApp.run(spark,
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT);
        |CREATE STREAM Out (win_start TIMESTAMP, user_id BIGINT, du BIGINT);
        |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du
        |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY user_id
        |HAVING du > 5;""".stripMargin, Map("S" -> sdf))).getMessage
    assert(err.contains("sketch aggregate"))
    // HAVING over an aggregate NOT in the select list dies typed
    val err2 = intercept[graft.sql.GraftApp.SqlError](graft.sql.GraftApp.run(spark,
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT);
        |CREATE STREAM Out (win_start TIMESTAMP, user_id BIGINT, du BIGINT);
        |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du
        |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY user_id
        |HAVING sum(doc_id) > 5;""".stripMargin, Map("S" -> sdf))).getMessage
    assert(err2.contains("not in the"), err2)
    // a sketch call inside an EXPRESSION is a typed error, not an
    // index-out-of-bounds (review r15: anchored classification regex)
    val err3 = intercept[graft.sql.GraftApp.SqlError](graft.sql.GraftApp.run(spark,
      """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, doc_id BIGINT);
        |CREATE STREAM Out (win_start TIMESTAMP, user_id BIGINT, du BIGINT, x BIGINT);
        |INSERT INTO Out SELECT user_id, kmv_distinct(doc_id, 16) AS du,
        |  kmv_distinct(doc_id, 16) * 2 AS x
        |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY user_id;""".stripMargin,
      Map("S" -> sdf))).getMessage
    assert(err3.contains("count/sum/avg/min/max"), err3)
    // string literals in HAVING survive substitution (ADVICE r15): a raw
    // aggregate spelling or a select ALIAS appearing INSIDE a quoted
    // literal must not be rewritten into placeholder/backticked column
    // references — substitutions run on the quote-masked text only
    locally {
      val in3 = MemoryStream[(Long, String, Long)]
      val sdf3 = in3.toDF().toDF("sec", "k", "doc_id").selectExpr(
        "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "k", "doc_id")
      val app3 =
        """CREATE STREAM S (ts TIMESTAMP, k STRING, doc_id BIGINT);
          |CREATE STREAM Out (win_start TIMESTAMP, k STRING, du BIGINT, n BIGINT);
          |INSERT INTO Out SELECT k, kmv_distinct(doc_id, 16) AS du, count(*) AS n
          |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY k
          |HAVING n >= 2 AND k <> 'count(*)' AND k <> 'n';""".stripMargin
      val out3 = graft.sql.GraftApp.run(spark, app3, Map("S" -> sdf3))("Out")
      sinkId += 1; val n3 = s"hav3_sink_$sinkId"
      val q3 = out3.writeStream.format("memory").queryName(n3)
        .outputMode("append").start()
      try {
        // "a": 3 events (passes); "n": 2 events (killed by k <> 'n');
        // "count(*)": 2 events (killed by the literal comparison)
        in3.addData((1L, "a", 10L), (2L, "a", 11L), (3L, "a", 12L),
          (2L, "n", 20L), (3L, "n", 21L),
          (4L, "count(*)", 30L), (5L, "count(*)", 31L))
        in3.addData((60L, "z", 1L))
        q3.processAllAvailable()
        val got3 = spark.table(n3).selectExpr("k", "du", "n")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got3 == Seq(("a", 3L, 3L)), s"$got3")
      } finally q3.stop()
    }
    // DECIMAL operands stay typed (ADVICE r15): the kernel's numeric lanes
    // are long/double — a silent double coercion would lose exactness past
    // 2^53 where the batch surface keeps Spark's exact decimal sum
    locally {
      val sdfD = sdf.selectExpr("ts", "user_id",
        "CAST(doc_id AS DECIMAL(20,2)) AS d")
      val errD = intercept[graft.sql.GraftApp.SqlError](graft.sql.GraftApp.run(spark,
        """CREATE STREAM S (ts TIMESTAMP, user_id BIGINT, d DECIMAL(20,2));
          |CREATE STREAM Out (win_start TIMESTAMP, user_id BIGINT, du BIGINT, s DOUBLE);
          |INSERT INTO Out SELECT user_id, kmv_distinct(user_id, 16) AS du,
          |  sum(d) AS s
          |FROM S WINDOW('timeBatch', '10 seconds') GROUP BY user_id;""".stripMargin,
        Map("S" -> sdfD))).getMessage
      assert(errD.contains("DECIMAL"), errD)
    }
  }
}
