package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.GraftApp

/** EventFlux-SQL front-end spec — the M1 end-to-end slice from SURVEY §7.2
  * (filter app), plus chained streams, group-by/having, window clause, and
  * the DDL-first error surface. Fixture shapes follow FIXTURES.md (In/Out
  * (a INT), StockStream).
  */
class GraftAppSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("M1 slice: filter query end-to-end") {
    val app =
      """CREATE STREAM In (a INT);
        |CREATE STREAM Out (a INT);
        |INSERT INTO Out SELECT a FROM In WHERE a > 5;""".stripMargin
    val in = Seq(1, 6, 3, 9, 5, 7).toDF("a")
    val out = GraftApp.run(spark, app, Map("In" -> in))("Out")
    assert(out.as[Int].collect().sorted.toSeq == Seq(6, 7, 9))
  }

  test("projection with expressions and aliases") {
    val app =
      """CREATE STREAM StockStream (symbol STRING, price DOUBLE, volume INT);
        |CREATE STREAM Out (symbol STRING, notional DOUBLE);
        |INSERT INTO Out SELECT upper(symbol) AS symbol, price * volume AS notional
        |FROM StockStream WHERE volume >= 10;""".stripMargin
    val in = Seq(("ibm", 10.0, 10), ("msft", 2.0, 5)).toDF("symbol", "price", "volume")
    val out = GraftApp.run(spark, app, Map("StockStream" -> in))("Out")
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("IBM", 100.0)))
  }

  test("group by + having + order by + limit") {
    val app =
      """CREATE STREAM S (sym STRING, v DOUBLE);
        |CREATE STREAM Out (sym STRING, total DOUBLE);
        |INSERT INTO S SELECT sym, v FROM S0;
        |CREATE STREAM S0 (sym STRING, v DOUBLE);""".stripMargin
    // definition-first: S0 referenced before declaration must fail
    val err = intercept[GraftApp.SqlError] {
      GraftApp.run(spark, app, Map("S0" -> Seq(("a", 1.0)).toDF("sym", "v")))
    }
    assert(err.getMessage.contains("undefined stream"))

    val app2 =
      """CREATE STREAM S (sym STRING, v DOUBLE);
        |CREATE STREAM Out (sym STRING, total DOUBLE);
        |INSERT INTO Out SELECT sym, sum(v) AS total FROM S
        |GROUP BY sym HAVING sum(v) > 3 ORDER BY total DESC LIMIT 2;""".stripMargin
    val in = Seq(("a", 2.0), ("a", 3.0), ("b", 1.0), ("c", 9.0)).toDF("sym", "v")
    val out = GraftApp.run(spark, app2, Map("S" -> in))("Out")
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("c", 9.0), ("a", 5.0)))
  }

  test("chained streams: INSERT INTO target feeds later FROM, fan-in unions") {
    val app =
      """CREATE STREAM In (a INT);
        |CREATE STREAM Mid (a INT);
        |CREATE STREAM Out (n BIGINT);
        |INSERT INTO Mid SELECT a FROM In WHERE a > 2;
        |INSERT INTO Mid SELECT a FROM In WHERE a < 0;
        |INSERT INTO Out SELECT count(a) AS n FROM Mid;""".stripMargin
    val in = Seq(-5, 1, 3, 4).toDF("a")
    val out = GraftApp.run(spark, app, Map("In" -> in))("Out")
    assert(out.as[Long].head() == 3L) // {3,4} union {-5}
  }

  test("tumbling window clause lowers to native window()") {
    val app =
      """CREATE STREAM E (ts TIMESTAMP, v DOUBLE);
        |CREATE STREAM Out (n BIGINT, total DOUBLE);
        |INSERT INTO Out SELECT count(v) AS n, sum(v) AS total FROM E
        |WINDOW('tumbling', '1 hour') GROUP BY window;""".stripMargin
    val in = Seq(
      ("2024-01-01 00:10:00", 1.0), ("2024-01-01 00:50:00", 2.0),
      ("2024-01-01 01:10:00", 10.0)).toDF("ts_s", "v")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "v")
    val out = GraftApp.run(spark, app, Map("E" -> in))("Out")
    assert(out.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((2L, 3.0), (1L, 10.0)))
  }

  test("JOIN ON compiles: inner and left outer with qualified refs (examples/join.eventflux shape)") {
    val app =
      """CREATE STREAM LeftStream (id INT, val STRING);
        |CREATE STREAM RightStream (rid INT, category STRING);
        |CREATE STREAM Out (id INT, val STRING, category STRING);
        |INSERT INTO Out SELECT LeftStream.id AS id, val, category
        |FROM LeftStream JOIN RightStream ON LeftStream.id = RightStream.rid
        |WHERE category != 'x' ORDER BY id;""".stripMargin
    val l = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "val")
    val r = Seq((1, "cat1"), (3, "x"), (4, "cat4")).toDF("rid", "category")
    val out = GraftApp.run(spark, app, Map("LeftStream" -> l, "RightStream" -> r))("Out")
    assert(out.collect().map(row => (row.getInt(0), row.getString(1), row.getString(2))).toSeq ==
      Seq((1, "a", "cat1")))

    val appLeft = app.replace("JOIN RightStream", "LEFT JOIN RightStream")
      .replace("WHERE category != 'x' ", "")
    val out2 = GraftApp.run(spark, appLeft, Map("LeftStream" -> l, "RightStream" -> r))("Out")
    assert(out2.collect().map(row => (row.getInt(0), Option(row.getString(2)))).toSeq ==
      Seq((1, Some("cat1")), (2, None), (3, Some("x"))))
  }

  test("PARTITION WITH folds the key into grouped queries (per-key isolation)") {
    val app =
      """CREATE STREAM S (sym STRING, region STRING, v DOUBLE);
        |CREATE STREAM Out (region STRING, sym STRING, total DOUBLE);
        |PARTITION WITH (region OF S) BEGIN
        |  INSERT INTO Out SELECT sym, sum(v) AS total FROM S GROUP BY sym
        |END;""".stripMargin
    val in = Seq(("a", "eu", 1.0), ("a", "us", 2.0), ("a", "eu", 4.0), ("b", "us", 8.0))
      .toDF("sym", "region", "v")
    val out = GraftApp.run(spark, app, Map("S" -> in))("Out")
    val got = out.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    // per-region state isolation: ("a","eu") and ("a","us") aggregate apart
    assert(got == Set(("eu", "a", 5.0), ("us", "a", 2.0), ("us", "b", 8.0)))
  }

  test("PARTITION WITH shards per-event WINDOW('length') frames per key " +
       "(golden vs the keyed Windows.length kernel)") {
    val app =
      """CREATE STREAM S (ts TIMESTAMP, k STRING, x DOUBLE);
        |CREATE STREAM Out (k STRING, x DOUBLE, s DOUBLE);
        |PARTITION WITH (k OF S) BEGIN
        |  INSERT INTO Out SELECT k, x, sum(x) AS s FROM S WINDOW('length', 3)
        |END;""".stripMargin
    // interleaved keys: an unpartitioned frame would mix them
    val rows = Seq((1, "a", 1.0), (2, "b", 10.0), (3, "a", 2.0), (4, "b", 20.0),
      (5, "a", 4.0), (6, "a", 8.0), (7, "b", 40.0), (8, "b", 80.0))
    val in = rows.toDF("sec", "k", "x")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "k", "x")
    val out = GraftApp.run(spark, app, Map("S" -> in))("Out")
    val got = out.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet

    // oracle: the keyed length kernel's changelog, folded into per-arrival
    // window sums (op=+1 adds, op=-1 evicts)
    val kernelIn = rows.map { case (sec, k, x) =>
      graft.streaming.WinEvent(k, sec * 1000000L, sec.toLong, x) }
    val expected = kernelIn.groupBy(_.key).flatMap { case (k, evs) =>
      val (outs, _) = graft.streaming.WindowKernels.length(
        evs.sortBy(_.tsUs), graft.streaming.WindowKernels.EmptyBuffer, 3)
      // snapshot per arrival = sum after the arrival's full effect
      // (Current + the eviction it triggers)
      var sum = 0.0
      val buf = Seq.newBuilder[(String, Double, Double)]
      var pending: Option[Double] = None
      outs.foreach { o =>
        if (o.op == 1) { pending.foreach(v => buf += ((k, v, sum))); pending = Some(o.value) }
        sum += o.value * o.op
      }
      pending.foreach(v => buf += ((k, v, sum)))
      buf.result()
    }.toSet
    assert(got == expected)
  }

  // -- partitions.rs:partition_test36_multi_key (adapted: no lengthBatch
  //    window — the point is multi-key isolation) + implicit aggregation
  //    (partition_test2_sum_aggregation shape: no GROUP BY in the block)
  test("PARTITION WITH multi-key and implicit per-key aggregation") {
    val app =
      """CREATE STREAM S (region STRING, product STRING, amount INT);
        |CREATE STREAM Out (region STRING, product STRING, total BIGINT);
        |PARTITION WITH (region OF S, product OF S) BEGIN
        |  INSERT INTO Out SELECT region, product, sum(amount) AS total FROM S
        |END;""".stripMargin
    val in = Seq(("US", "A", 100), ("US", "A", 200), ("US", "B", 5), ("EU", "A", 7))
      .toDF("region", "product", "amount")
    val out = GraftApp.run(spark, app, Map("S" -> in))("Out")
    val got = out.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("US", "A", 300L), ("US", "B", 5L), ("EU", "A", 7L)))
  }

  // -- partitions.rs:partition_test36_multi_key, full form: lengthBatch
  //    window inside a multi-key partition block (complete batches only)
  test("PARTITION WITH multi-key + WINDOW('lengthBatch') emits complete batches per key") {
    val app =
      """CREATE STREAM S (ts TIMESTAMP, region STRING, product STRING, amount INT);
        |CREATE STREAM Out (region STRING, product STRING, total BIGINT);
        |PARTITION WITH (region OF S, product OF S) BEGIN
        |  INSERT INTO Out SELECT region, product, sum(amount) AS total FROM S
        |  WINDOW('lengthBatch', 2)
        |END;""".stripMargin
    // US/A: 3 events → one complete batch (100+200); the 3rd stays buffered.
    // EU/B: 1 event → no complete batch.
    val in = Seq((1, "US", "A", 100), (2, "US", "A", 200), (3, "US", "A", 999), (4, "EU", "B", 5))
      .toDF("sec", "region", "product", "amount")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "region", "product", "amount")
    val out = GraftApp.run(spark, app, Map("S" -> in))("Out")
    assert(out.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("US", "A", 300L)))
  }

  // -- aggregations.rs:aggregation_test_min_max_string +
  //    aggregation_test_having_order (both ignored in the reference)
  test("string min/max aggregation and ORDER BY on aggregate alias") {
    val app =
      """CREATE STREAM S (sym STRING, v DOUBLE);
        |CREATE STREAM Out (sym STRING, total DOUBLE, lo STRING);
        |INSERT INTO Out SELECT sym, sum(v) AS total, min(sym) AS lo FROM S
        |GROUP BY sym HAVING sum(v) > 1.0 ORDER BY total DESC;""".stripMargin
    val in = Seq(("b", 2.0), ("a", 5.0), ("c", 0.5), ("b", 1.0)).toDF("sym", "v")
    val out = GraftApp.run(spark, app, Map("S" -> in))("Out")
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq ==
      Seq(("a", 5.0, "a"), ("b", 3.0, "b")))
  }

  // range partitions (range_partition_type.rs): cond AS 'label' OR … OF S —
  // events route to labeled partitions; unmatched events are dropped
  test("PARTITION WITH range partitioning labels and guards") {
    val app =
      """CREATE STREAM S (sym STRING, price DOUBLE);
        |CREATE STREAM Out (pkey STRING, n BIGINT, total DOUBLE);
        |PARTITION WITH (price < 100 AS 'low' OR price >= 200 AS 'high' OF S) BEGIN
        |  INSERT INTO Out SELECT count(sym) AS n, sum(price) AS total FROM S
        |END;""".stripMargin
    // 150 matches NO range → dropped entirely
    val in = Seq(("a", 50.0), ("b", 99.0), ("c", 150.0), ("d", 250.0))
      .toDF("sym", "price")
    val out = GraftApp.run(spark, app, Map("S" -> in))("Out")
    val got = out.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("low", 2L, 149.0), ("high", 1L, 250.0)))
  }

  test("expression GROUP BY keys (year(ts)) compile") {
    val app =
      """CREATE STREAM S (ts TIMESTAMP, v DOUBLE);
        |CREATE STREAM Out (y BIGINT, total DOUBLE);
        |INSERT INTO Out SELECT year(ts) AS y, sum(v) AS total FROM S
        |GROUP BY year(ts) ORDER BY y;""".stripMargin
    val in = Seq(("2023-05-01 00:00:00", 1.0), ("2023-06-01 00:00:00", 2.0),
      ("2024-01-01 00:00:00", 4.0)).toDF("ts_s", "v")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "v")
    val out = GraftApp.run(spark, app, Map("S" -> in))("Out")
    assert(out.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((2023, 3.0), (2024, 4.0)))
  }

  test("HAVING resolves aggregates at expression level (case/whitespace-insensitive, " +
       "hidden aggs, typed error on unknowns)") {
    val in = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 1.0), ("c", 1.0))
      .toDF("sym", "v")
    def run(having: String) = GraftApp.run(spark,
      s"""CREATE STREAM S (sym STRING, v DOUBLE);
         |CREATE STREAM Out (sym STRING, total DOUBLE);
         |INSERT INTO Out SELECT sym, sum(v) AS total FROM S
         |GROUP BY sym HAVING $having ORDER BY sym;""".stripMargin,
      Map("S" -> in))("Out").collect().map(_.getString(0)).toSeq
    assert(run("sum(v) > 2.5") == Seq("a", "b"))        // exact text
    assert(run("SUM( V )   >  2.5") == Seq("a", "b"))   // case + whitespace variant
    assert(run("total > 2.5") == Seq("a", "b"))         // output alias
    assert(run("count(v) >= 2 AND sum(v) > 2.5") == Seq("a", "b")) // hidden agg
    assert(run("max(v) = 10.0") == Seq("b"))            // hidden agg only
    intercept[Exception] { run("wibble > 1") }          // unknown column → typed
  }

  test("LIMIT/OFFSET in the SQL surface: skip then take after ORDER BY") {
    val app =
      """CREATE STREAM S (x INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM S ORDER BY x LIMIT 3 OFFSET 2;""".stripMargin
    val in = (1 to 10).map(Tuple1(_)).toDF("x")
    val out = GraftApp.run(spark, app, Map("S" -> in))("Out")
    assert(out.collect().map(_.getInt(0)).toSeq == Seq(3, 4, 5))
    // OFFSET without LIMIT
    val app2 = app.replace("LIMIT 3 OFFSET 2", "OFFSET 8")
    val out2 = GraftApp.run(spark, app2, Map("S" -> in))("Out")
    assert(out2.collect().map(_.getInt(0)).toSeq == Seq(9, 10))
  }

  test("${ENV} expansion in WITH clause values (bare, :- and : defaults)") {
    val env = Map("HOST" -> "h1", "EMPTY" -> "").get _
    assert(GraftApp.expandEnv("amqp://${HOST}:5672", env) == "amqp://h1:5672")
    assert(GraftApp.expandEnv("${MISSING:-fallback}", env) == "fallback")
    assert(GraftApp.expandEnv("${EMPTY:fallback}", env) == "fallback")
    assert(GraftApp.expandEnv("${HOST:fallback}", env) == "h1")
    val err = intercept[GraftApp.SqlError](GraftApp.expandEnv("${MISSING}", env))
    assert(err.getMessage.contains("MISSING"))
    // end to end: WITH clause values expand at parse time
    val spec = GraftApp.parse(
      "CREATE STREAM S (a INT) WITH ('type'='source','format'='rate','rowsPerSecond'='${MISSING:-7}');")
    assert(spec.streams("S").options("rowsPerSecond") == "7")
  }

  // INSERT [CURRENT|EXPIRED|ALL] EVENTS (window_definition.rs
  // OutputEventType; grammar v1.2 'INSERT ALL EVENTS INTO SessionLogs')
  test("INSERT EXPIRED/ALL EVENTS over a length window") {
    def app(mode: String) =
      s"""CREATE STREAM S (ts TIMESTAMP, x INT);
         |CREATE STREAM Out (x INT);
         |INSERT $mode INTO Out SELECT x FROM S WINDOW('length', 2) ORDER BY x;""".stripMargin
    val in = (1 to 5).map(i => (i, i)).toDF("sec", "x")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "x")
    // current (default): every arrival
    val cur = GraftApp.run(spark, app("EVENTS".replace("EVENTS", "")), Map("S" -> in))("Out")
    assert(cur.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    // expired: everything evicted from the last-2 window
    val exp = GraftApp.run(spark, app("EXPIRED EVENTS"), Map("S" -> in))("Out")
    assert(exp.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // all: arrivals plus expirations
    val all = GraftApp.run(spark, app("ALL EVENTS"), Map("S" -> in))("Out")
    assert(all.collect().map(_.getInt(0)).toSeq == Seq(1, 1, 2, 2, 3, 3, 4, 5))
    // aggregates with EXPIRED → typed error
    val err = intercept[GraftApp.SqlError] {
      GraftApp.run(spark,
        """CREATE STREAM S (ts TIMESTAMP, x INT);
          |CREATE STREAM Out (n BIGINT);
          |INSERT EXPIRED EVENTS INTO Out SELECT count(x) AS n FROM S WINDOW('length', 2);""".stripMargin,
        Map("S" -> in))
    }
    assert(err.getMessage.contains("aggregates"))
  }

  test("examples/round2_demo.sql parses and runs end to end") {
    val app = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/round2_demo.sql")))
    val events = Seq(
      (1L, 1, 7L, "view", 10.0), (2L, 2, 7L, "purchase", 15.0),
      (3L, 3, 7L, "purchase", 25.0), (4L, 4, 8L, "view", 5.0))
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "event_type", "value", "CAST(NULL AS STRING) AS props")
    val spec = GraftApp.parse(app)
    assert(spec.triggers.map(_.name) == Seq("Heartbeat"))
    val (env, close) = GraftApp.runTracked(spark, app, Map(
      "events" -> events,
      "balances" -> Seq((7L, 1.0)).toDF("user_id", "bal"),
      "adjustments" -> Seq((7L, 2.0), (9L, 3.0)).toDF("user_id", "bal")))
    // DML: updated 7, inserted 9
    assert(env("balances").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((7L, 2.0), (9L, 3.0)))
    // pattern: user 7's view(10) → first purchase > 20 is event 3
    assert(env("TrendAlerts").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((7L, 1L, 3L)))
    // range partition: small = value<10 (1 row), large = the rest
    assert(env("BandTotals").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet ==
      Set(("small", 1L, 5.0), ("large", 3L, 50.0)))
    close()
  }

  test("examples/round9_demo.sql parses: connector surface declarations") {
    // network endpoints are placeholders — this demo is parse-level (the
    // specs drive identical apps against in-process brokers/servers)
    val app = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/round9_demo.sql")))
    val spec = GraftApp.parse(app)
    val byName = spec.streams
    assert(byName("Trades").options("format") == "kafka")
    assert(byName("TradesRaw").options("format") == "kafka")
    assert(byName("Signals").options("max.buffered") == "50000")
    assert(byName("Signals").options("overflow") == "block")
    assert(byName("SecureTicks").options("tls") == "true")
    assert(byName("BigTrades").options("checkpointLocation").nonEmpty)
    assert(byName("PagerAlerts").options("url").startsWith("https://"))
  }

  test("examples/round11_demo.sql parses: MR ALL ROWS / navigation surface") {
    val app = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/round11_demo.sql")))
    val spec = GraftApp.parse(app)
    assert(spec.streams.contains("trades"))
    val patTargets = spec.patterns.map(_.target).toSet
    for (o <- Seq("rallyRows", "breakouts", "seqRows"))
      assert(patTargets.contains(o), s"missing pattern target $o")
    // the two ALL ROWS statements carry the flag; the nav statement not
    assert(spec.patterns.filter(p =>
      Set("rallyRows", "seqRows")(p.target)).forall(_.allRows))
    assert(!spec.patterns.find(_.target == "breakouts").get.allRows)
  }

  test("examples/round13_demo.sql parses: reluctant, streaming MR modes, sketch SQL") {
    val app = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/round13_demo.sql")))
    val spec = GraftApp.parse(app)
    val byTarget = spec.patterns.map(p => p.target -> p).toMap
    // UP+? = reluctant one-or-more under the ANSI default skip mode
    val conf = byTarget("confirmations")
    assert(conf.skipPast && conf.variants.head.last.reluctant)
    assert(conf.variants.head.last.min == 1 && conf.variants.head.last.max == Int.MaxValue)
    // H? expands to the variant pair; ALL ROWS set
    val legs = byTarget("legs")
    assert(legs.allRows && legs.variants.size == 2)
    // WITH UNMATCHED ROWS
    assert(byTarget("audited").allRowsUnmatched)
    // the sketch query is a plain (non-pattern) SELECT — it parses as a
    // query statement, and its compiled form is pinned by q_sketch_sql +
    // CompatSpec; here just assert the app parses whole
    assert(spec.queries.exists(_.target == "symbol_card"))
    // bounded group repetition runs the loop machine (round 14): ONE
    // looped variant, members keep their aliases, the group's last member
    // carries the loop-back edge gated at [minIters, maxIters]
    val ladders = byTarget("ladders")
    assert(ladders.variants.size == 1)
    val lchain = ladders.variants.head
    assert(lchain.size == 4)
    assert(lchain.map(_.aliases.head) == Seq("ENTRY", "LEG", "REC", "BREAK"))
    val lrec = lchain(2)
    assert(lrec.looped && lrec.loopBack == 1 && lrec.minIters == 1 &&
      lrec.maxIters == 2)
    assert(lchain(1).looped && lchain(1).loopBack == -1)
  }

  test("examples/round15_demo.sql parses: nested variable groups, quantified PERMUTE, MAP, composable datacard") {
    val app = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/round15_demo.sql")))
    val spec = GraftApp.parse(app)
    val byTarget = spec.patterns.map(p => p.target -> p).toMap
    // ((DIP UP){1,3} BRK)+: inner members carry the nested frame
    val wedges = byTarget("wedges").variants.head
    assert(wedges.map(_.aliases.head) == Seq("OPEN1", "DIP", "UP", "BRK"))
    assert(wedges(1).inner && wedges(2).inner && wedges(2).innerLoopBack == 1)
    assert(wedges(2).innerMinIters == 1 && wedges(2).innerMaxIters == 3)
    assert(wedges(3).looped && wedges(3).loopBack == 2 &&
      wedges(3).maxIters == Int.MaxValue && !wedges(3).inner)
    // PERMUTE(FILL, HEDGE){1,2}: one looped chain per ordering
    val paired = byTarget("paired")
    assert(paired.variants.size == 2)
    assert(paired.variants.map(_.map(_.aliases.head)).toSet ==
      Set(Seq("OPEN1", "FILL", "HEDGE"), Seq("OPEN1", "HEDGE", "FILL")))
    assert(paired.variants.forall(v => v.last.looped && v.last.loopBack == 1 &&
      v.last.minIters == 1 && v.last.maxIters == 2))
    // (DIP UP+)+?: reluctant group with a variable-count member
    val scalps = byTarget("scalps").variants.head
    assert(scalps.forall(_.reluctant) && scalps.last.loopBack == 1)
    assert(scalps(1).min == 1 && scalps(1).max == Int.MaxValue)
    // MAP DDL column declared
    assert(spec.streams("tagged").schema("kv").dataType ==
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.DoubleType))
  }

  test("examples/round14_demo.sql parses: group quantifier matrix, STRUCT, multi-key sketch") {
    val app = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/round14_demo.sql")))
    val spec = GraftApp.parse(app)
    val byTarget = spec.patterns.map(p => p.target -> p).toMap
    // (DIP UP+)+: quantified member inside the loop group
    val rallies = byTarget("rallies")
    val rchain = rallies.variants.head
    assert(rchain(2).looped && rchain(2).min == 1 && rchain(2).max == Int.MaxValue)
    assert(rchain(2).loopBack == 1 && rchain(2).maxIters == Int.MaxValue)
    // ((LO HI){2} BRK)+: inner group inlined with __i suffixes
    val ladders = byTarget("ladders2")
    assert(ladders.variants.head.map(_.aliases.head)
      == Seq("LO__1", "HI__1", "LO__2", "HI__2", "BRK"))
    assert(ladders.variants.head.last.loopBack == 4)
    // reluctant under SKIP TO NEXT ROW: the flag rides the query
    val fu = byTarget("first_ups")
    assert(fu.skipNext && fu.variants.head.last.reluctant)
    // STRUCT DDL parsed
    import org.apache.spark.sql.types._
    assert(spec.streams("enriched").schema("tick").dataType ==
      StructType(Seq(StructField("kind", StringType), StructField("px", DoubleType))))
    // the multi-key sketch query parses as a plain query statement
    assert(spec.queries.exists(_.target == "symbol_kind_card"))
  }

  test("examples/round12_demo.sql parses: skip modes + alternation surface") {
    val app = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/round12_demo.sql")))
    val spec = GraftApp.parse(app)
    val byTarget = spec.patterns.map(p => p.target -> p).toMap
    // omitted AFTER MATCH = the ANSI default = SKIP PAST LAST ROW
    assert(byTarget("rallies").skipPast && byTarget("rallies").skipTo.isEmpty)
    assert(byTarget("vShapes").skipTo.contains((false, "U")))
    val entries = byTarget("entries")
    assert(!entries.skipPast && entries.skipTo.isEmpty)
    // (DIP | HALT) lowered to one OR step with both aliases
    assert(entries.variants.head.head.aliases == Seq("DIP", "HALT"))
    // SUBSET MOVE = (D, U) expanded into member forms in the measures
    val swings = byTarget("swings")
    val nMoves = swings.selectItems.find(_._2.contains("n_moves")).get._1
    assert(nMoves.contains("count(D.price)") && nMoves.contains("U.price"))
    // ALL ROWS toolkit: exclusion + markers + RUNNING
    val rallyRows = byTarget("rallyRows")
    assert(rallyRows.allRows && rallyRows.allRowsExcluding == Seq("DIP"))
    assert(rallyRows.selectItems.exists(_._1.trim == "__mr_classifier"))
    assert(rallyRows.selectItems.exists(_._1.trim == "__mr_match_number"))
    assert(rallyRows.selectItems.exists(_._1.contains("__mr_running_count")))
    // PERMUTE(DIP, HALT) = the 2 arrival-order variants of the AND element
    val straddles = byTarget("straddles")
    assert(straddles.variants.size == 2)
    assert(straddles.variants.map(_.map(_.aliases.head)).toSet ==
      Set(Seq("DIP", "HALT"), Seq("HALT", "DIP")))
  }

  test("examples/round10_demo.sql parses: round-10 SQL surface") {
    val app = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/round10_demo.sql")))
    val spec = GraftApp.parse(app)
    // every construct present: OUTPUT rate, cron window, partition block,
    // A*/AND patterns, USING/NATURAL joins, SELECT-form aggregation,
    // ad-hoc subscription
    assert(spec.streams.contains("stockStream"))
    val outNames = (spec.queries.map(_.target) ++ spec.patterns.map(_.target) ++
      spec.stmts.collect { case GraftApp.AggQueryStmt(q) => q }.map(_.target)).toSet
    for (o <- Seq("outputStream", "tickerStream", "minuteRoll",
        "calmThenSpike", "tripleConfirm", "enriched", "enrichedNatural",
        "hourly"))
      assert(outNames.contains(o), s"missing query output $o")
    assert(outNames.exists(_.startsWith("__adhoc")), "ad-hoc SELECT missing")
    assert(spec.aggs.contains("StockAgg"))
  }

  test("runTracked cleanup unpersists the pattern ordering cache") {
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING);
        |CREATE STREAM Out (user_id BIGINT);
        |INSERT INTO Out SELECT e1.user_id AS user_id
        |FROM PATTERN (e1=E[kind = 'a'] -> e2=E[kind = 'b'])
        |PARTITION BY user_id;""".stripMargin
    val in = Seq((1, 7L, "a"), (2, 7L, "b")).toDF("sec", "user_id", "kind")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "kind")
    spark.catalog.clearCache()
    // scope the assertion to THIS runTracked's persists: other suites in
    // the shared JVM may legitimately hold persistent RDDs (e.g. the
    // result checkpoint of Graph.pageRank, or of Dedup.clusters on its
    // round-loop path above the union-find bound)
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val (env, close) = GraftApp.runTracked(spark, app, Map("E" -> in))
    assert(env("Out").collect().map(_.getLong(0)).toSeq == Seq(7L))
    // the compiler persisted the per-key ordering; cleanup must release it
    def mine = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
    assert(mine.nonEmpty)
    close()
    assert(mine.isEmpty)
  }

  test("unpartitioned pattern and per-event frame log the single-task warning") {
    import graft.sql.ScaleWarnings
    val in = Seq((1, 7L, "a"), (2, 7L, "b")).toDF("sec", "user_id", "kind")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "kind")
    val patApp =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING);
        |CREATE STREAM Out (user_id BIGINT);
        |INSERT INTO Out SELECT e1.user_id AS user_id
        |FROM PATTERN (e1=E[kind = 'a'] -> e2=E[kind = 'b'])%s;""".stripMargin
    // unpartitioned pattern → warning
    ScaleWarnings.reset()
    GraftApp.run(spark, patApp.format(""), Map("E" -> in))("Out").collect()
    assert(ScaleWarnings.recentWarnings.exists(_.contains("ONE task")))
    // partitioned → silent
    ScaleWarnings.reset()
    GraftApp.run(spark, patApp.format("\nPARTITION BY user_id"), Map("E" -> in))("Out").collect()
    assert(ScaleWarnings.recentWarnings.isEmpty)
    // unpartitioned per-event frame → warning
    val frameApp =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING);
        |CREATE STREAM Out (user_id BIGINT, n BIGINT);
        |INSERT INTO Out SELECT user_id, count(kind) AS n FROM E WINDOW('length', 2);""".stripMargin
    ScaleWarnings.reset()
    GraftApp.run(spark, frameApp, Map("E" -> in))("Out").collect()
    assert(ScaleWarnings.recentWarnings.exists(_.contains("ONE task")))
  }

  test("bounded cache table: max_size trims FIFO, DML composes, no column leaks") {
    // cache_table.rs:20-37 — max_size + trim_if_needed pop the OLDEST
    // inserted rows once the table exceeds the bound
    val base =
      """CREATE STREAM S1 (id BIGINT, v DOUBLE);
        |CREATE STREAM S2 (id BIGINT, v DOUBLE);
        |CREATE STREAM S3 (id BIGINT, v DOUBLE);
        |CREATE TABLE T (id BIGINT, v DOUBLE) WITH ('max_size'='2');
        |INSERT INTO T SELECT id, v FROM S1;
        |INSERT INTO T SELECT id, v FROM S2;
        |INSERT INTO T SELECT id, v FROM S3;""".stripMargin
    def one(id: Long, v: Double) = Seq((id, v)).toDF("id", "v")
    val in = Map("S1" -> one(1, 10), "S2" -> one(2, 20), "S3" -> one(3, 30))
    val t = GraftApp.run(spark, base, in)("T")
    assert(t.columns.toSeq == Seq("id", "v")) // the hidden sequence never leaks
    // 3 single-row inserts into max_size=2 → the first insert is evicted
    assert(t.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((2L, 20.0), (3L, 30.0)))
    // DML composes: an upsert's NEW row counts as the newest insertion and
    // evicts the oldest kept row (id=2); its UPDATE half replaces in place
    val upApp = base + "\n" +
      """CREATE STREAM S4 (id BIGINT, v DOUBLE);
        |UPDATE OR INSERT INTO T SELECT id, v FROM S4 ON T.id = S4.id;""".stripMargin
    val t2 = GraftApp.run(spark, upApp, in + ("S4" -> one(4, 40)))("T")
    assert(t2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((3L, 30.0), (4L, 40.0)))
    // update-in-place keeps size and order (no eviction)
    val t3 = GraftApp.run(spark, upApp, in + ("S4" -> one(3, 99)))("T")
    assert(t3.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((2L, 20.0), (3L, 99.0)))
    // DELETE shrinks below the bound without refilling
    val delApp = base + "\n" +
      """CREATE STREAM D (id BIGINT);
        |DELETE FROM T FROM D WHERE T.id = D.id;""".stripMargin
    val t4 = GraftApp.run(spark, delApp, in + ("D" -> Seq(Tuple1(3L)).toDF("id")))("T")
    assert(t4.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == Set((2L, 20.0)))
    // a non-positive max_size raises typed
    val err = intercept[GraftApp.SqlError](GraftApp.run(spark,
      "CREATE TABLE B (id BIGINT) WITH ('max_size'='0');", Map.empty))
    assert(err.getMessage.contains("max_size"))
  }

  test("UPDATE with a multi-match delta raises instead of fanning out") {
    val app =
      """CREATE TABLE T (id BIGINT, bal DOUBLE);
        |CREATE STREAM S (id BIGINT, bal DOUBLE);
        |UPDATE T SET T.bal = S.bal FROM S ON T.id = S.id;""".stripMargin
    // keyed delta (one row per id) updates cleanly
    val ok = GraftApp.run(spark, app, Map(
      "T" -> Seq((1L, 1.0), (2L, 2.0)).toDF("id", "bal"),
      "S" -> Seq((1L, 9.0)).toDF("id", "bal")))("T")
    assert(ok.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 9.0), (2L, 2.0)))
    // two delta rows for id=1 → loud failure, not silent duplication
    val err = intercept[Exception] {
      GraftApp.run(spark, app, Map(
        "T" -> Seq((1L, 1.0), (2L, 2.0)).toDF("id", "bal"),
        "S" -> Seq((1L, 9.0), (1L, 8.0)).toDF("id", "bal")))("T").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("multiple delta rows")))
  }

  test("undeclared type and bad input schema produce typed errors") {
    val bad = "CREATE STREAM X (a WIBBLE);"
    assert(intercept[GraftApp.SqlError](GraftApp.parse(bad)).getMessage.contains("unknown type"))
    val app = "CREATE STREAM In (a INT); CREATE STREAM Out (a INT);" +
      "INSERT INTO Out SELECT a FROM In;"
    val err = intercept[GraftApp.SqlError] {
      GraftApp.run(spark, app, Map("In" -> Seq((1, 2)).toDF("x", "y")))
    }
    assert(err.getMessage.contains("columns"))
  }

  test("lossyCounting window: SQL batch form filters at support; typed param errors") {
    import spark.implicits._
    val base = """CREATE STREAM E (ts TIMESTAMP, id BIGINT, t STRING);
                 |CREATE STREAM Out (id BIGINT, t STRING);
                 |""".stripMargin
    // 10 events: 'a'×6 (0.6), 'b'×3 (0.3), 'c'×1 — support 0.25 keeps a and b
    val in = (1 to 10).map(i =>
      ("2024-01-01 00:00:0" + (i % 10), i.toLong,
        if (i <= 6) "a" else if (i <= 9) "b" else "c"))
      .toDF("s", "id", "t").selectExpr("CAST(s AS TIMESTAMP) AS ts", "id", "t")
    val app = base +
      """INSERT INTO Out SELECT id, t FROM E
        |WINDOW('lossyCounting', 0.25, 0.1, t) ORDER BY id;""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (1 to 9).map(i => (i.toLong, if (i <= 6) "a" else "b")))
    val e1 = intercept[GraftApp.SqlError](GraftApp.run(spark, base +
      "INSERT INTO Out SELECT id, t FROM E WINDOW('lossyCounting', 1.5, 0.1, t);",
      Map("E" -> in))("Out"))
    assert(e1.getMessage.contains("support must be in (0,1)"))
    val e2 = intercept[GraftApp.SqlError](GraftApp.run(spark, base +
      "INSERT INTO Out SELECT id, t FROM E WINDOW('lossyCounting', 0.2, 0.3, t);",
      Map("E" -> in))("Out"))
    assert(e2.getMessage.contains("error must be in (0, support)"))
    val e3 = intercept[GraftApp.SqlError](GraftApp.run(spark, base +
      "INSERT INTO Out SELECT id, t FROM E WINDOW('lossyCounting', 0.2);",
      Map("E" -> in))("Out"))
    assert(e3.getMessage.contains("needs (support, error"))
  }

  test("CREATE AGGREGATION: cascade query runs; typed errors for bad grains/columns/clauses") {
    import spark.implicits._
    val base = """CREATE STREAM E (ts TIMESTAMP, k STRING, v DOUBLE);
                 |CREATE STREAM Out (k STRING, h STRING, cnt BIGINT, sum_v DOUBLE);
                 |""".stripMargin
    val in = Seq(
      ("2024-03-01 10:05:00", "a", 1.0), ("2024-03-01 10:45:00", "a", 2.0),
      ("2024-03-01 11:05:00", "a", 4.0), ("2024-03-01 10:20:00", "b", 8.0),
      ("2024-03-02 09:00:00", "a", 16.0) // outside the WITHIN range
    ).toDF("s", "k", "v").selectExpr("CAST(s AS TIMESTAMP) AS ts", "k", "v")
    val app = base +
      """CREATE AGGREGATION ByK FROM E GROUP BY k AGGREGATE v BY ts EVERY minute TO hour;
        |INSERT INTO Out SELECT k, date_format(bucket, 'HH') AS h, cnt, sum_v
        |FROM ByK WITHIN '2024-03-01' AND '2024-03-02' PER 'hour' ORDER BY k, h;""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(("a", "10", 2L, 3.0), ("a", "11", 1L, 4.0), ("b", "10", 1L, 8.0)))
    // PER grain not materialized by the definition
    val e1 = intercept[GraftApp.SqlError](GraftApp.parse(base +
      """CREATE AGGREGATION ByK FROM E GROUP BY k AGGREGATE v BY ts EVERY minute TO hour;
        |INSERT INTO Out SELECT k FROM ByK WITHIN '2024' AND '2025' PER 'day';""".stripMargin))
    assert(e1.getMessage.contains("not among"))
    // non-coarsening EVERY range
    val e2 = intercept[GraftApp.SqlError](GraftApp.parse(base +
      "CREATE AGGREGATION ByK FROM E GROUP BY k AGGREGATE v BY ts EVERY day TO minute;"))
    assert(e2.getMessage.contains("coarsening"))
    // unknown aggregated column
    val e3 = intercept[GraftApp.SqlError](GraftApp.parse(base +
      "CREATE AGGREGATION ByK FROM E GROUP BY k AGGREGATE missing BY ts EVERY minute;"))
    assert(e3.getMessage.contains("not in stream"))
    // trailing junk after PER
    val e4 = intercept[GraftApp.SqlError](GraftApp.parse(base +
      """CREATE AGGREGATION ByK FROM E GROUP BY k AGGREGATE v BY ts EVERY minute;
        |INSERT INTO Out SELECT k FROM ByK WITHIN '2024' AND '2025' PER 'minute' LIMIT 3;""".stripMargin))
    assert(e4.getMessage.contains("ORDER BY only"))
  }

  test("CREATE AGGREGATION SELECT-form spelling + direct-query rejection") {
    import spark.implicits._
    // type_validation_test.rs:525-545 spelling: SELECT items + AGGREGATE
    // BY ts EVERY sec...min (Siddhi grain abbreviations); declared aliases
    // are visible to the WITHIN … PER query; same cascade as the FROM form
    val base = """CREATE STREAM Stock (ts TIMESTAMP, symbol STRING, price DOUBLE);
                 |CREATE STREAM Out (symbol STRING, avgPrice DOUBLE);
                 |""".stripMargin
    val in = Seq(
      ("2024-03-01 10:00:01", "IBM", 10.0), ("2024-03-01 10:00:02", "IBM", 20.0),
      ("2024-03-01 10:00:59", "WSO2", 50.0)
    ).toDF("s", "symbol", "price").selectExpr("CAST(s AS TIMESTAMP) AS ts", "symbol", "price")
    val app = base +
      """CREATE AGGREGATION StockAgg
        |SELECT symbol, AVG(price) as avgPrice
        |FROM Stock
        |GROUP BY symbol
        |AGGREGATE BY ts EVERY sec...min;
        |INSERT INTO Out SELECT symbol, avgPrice
        |FROM StockAgg WITHIN '2024-03-01' AND '2024-03-02' PER 'minute'
        |ORDER BY symbol;""".stripMargin
    val got = GraftApp.run(spark, app, Map("Stock" -> in))("Out")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("IBM", 15.0), ("WSO2", 50.0)))
    // the 'second' grain is materialized too
    val perSec = GraftApp.run(spark, app.replace("PER 'minute'", "PER 'second'"),
      Map("Stock" -> in))("Out")
    assert(perSec.count() == 3)
    // direct SELECT on the aggregation (no WITHIN … PER): typed rejection
    // naming the aggregation (type_validation_test.rs:541 intent)
    val eDirect = intercept[GraftApp.SqlError](GraftApp.parse(base +
      """CREATE AGGREGATION StockAgg
        |SELECT symbol, AVG(price) as avgPrice FROM Stock
        |GROUP BY symbol AGGREGATE BY ts EVERY sec...min;
        |INSERT INTO Out SELECT symbol, avgPrice FROM StockAgg;""".stripMargin))
    assert(eDirect.getMessage.contains("aggregation 'StockAgg'"))
    // two different value columns: typed error
    val eTwo = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM S (ts TIMESTAMP, a DOUBLE, b DOUBLE);
        |CREATE AGGREGATION X SELECT sum(a) AS sa, sum(b) AS sb FROM S
        |AGGREGATE BY ts EVERY minute;""".stripMargin))
    assert(eTwo.getMessage.contains("one value column"))
  }

  test("WITH ctes: chained bodies, statement-local scoping, typed errors") {
    val app =
      """CREATE STREAM S (sym STRING, price DOUBLE);
        |CREATE STREAM Out (sym STRING, n BIGINT);
        |CREATE STREAM Out2 (sym STRING);
        |WITH Hot AS (SELECT sym, price FROM S WHERE price > 10),
        |     Agg AS (SELECT sym, count(price) AS n FROM Hot GROUP BY sym)
        |INSERT INTO Out SELECT sym, n FROM Agg WHERE n >= 2;
        |-- same CTE name again: statement-local, must NOT union with the first
        |WITH Hot AS (SELECT sym, price FROM S WHERE price < 0)
        |INSERT INTO Out2 SELECT sym FROM Hot;""".stripMargin
    val in = Seq(("a", 11.0), ("a", 12.0), ("b", 99.0), ("c", -5.0), ("c", 1.0))
      .toDF("sym", "price")
    val res = GraftApp.run(spark, app, Map("S" -> in))
    assert(res("Out").collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 2L)))
    assert(res("Out2").as[String].collect().toSeq == Seq("c"))
    // CTE shadowing a declared stream is a typed error, not a silent rebind
    val e1 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM S (a INT);
        |CREATE STREAM Out (a INT);
        |WITH S AS (SELECT a FROM S) INSERT INTO Out SELECT a FROM S;""".stripMargin))
    assert(e1.getMessage.contains("shadows"))
    val e2 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM S (a INT);
        |WITH X AS (SELECT a FROM S;""".stripMargin))
    assert(e2.getMessage.toLowerCase.contains("unbalanced"))
    val e3 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM S (a INT);
        |WITH X AS (SELECT a FROM S), X AS (SELECT a FROM S) INSERT INTO X SELECT a FROM X;""".stripMargin))
    assert(e3.getMessage.contains("duplicate CTE"))
    // a CTE body sees earlier ctes only — forward refs are undefined streams
    val e4 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM S (a INT);
        |CREATE STREAM Out (a INT);
        |WITH X AS (SELECT a FROM Y), Y AS (SELECT a FROM S)
        |INSERT INTO Out SELECT a FROM X;""".stripMargin))
    assert(e4.getMessage.contains("undefined stream"))
  }

  test("IN (SELECT …) subqueries: semi over stream, anti, table membership") {
    val app =
      """CREATE STREAM Trades (sym STRING, qty INT);
        |CREATE STREAM HighVol (sym STRING, volume INT);
        |CREATE TABLE Blocked (sym STRING);
        |CREATE STREAM Out (sym STRING, qty INT);
        |CREATE STREAM Clean (sym STRING);
        |INSERT INTO Out SELECT sym, qty FROM Trades
        |WHERE qty > 0 AND sym IN (SELECT sym FROM HighVol WHERE volume > 1000);
        |INSERT INTO Clean SELECT sym FROM Trades
        |WHERE sym NOT IN (SELECT sym FROM Blocked);""".stripMargin
    val trades = Seq(("ibm", 5), ("msft", -1), ("aapl", 3), ("ibm", 2)).toDF("sym", "qty")
    val hv = Seq(("ibm", 2000), ("aapl", 10)).toDF("sym", "volume")
    val blocked = Seq("aapl").toDF("sym")
    val res = GraftApp.run(spark, app,
      Map("Trades" -> trades, "HighVol" -> hv, "Blocked" -> blocked))
    assert(res("Out").collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("ibm", 5), ("ibm", 2)))
    assert(res("Clean").as[String].collect().sorted.toSeq ==
      Seq("ibm", "ibm", "msft"))
    // under OR a semi-join is not equivalent → typed error
    val e1 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM A (x INT);
        |CREATE STREAM B (x INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A
        |WHERE x > 3 OR x IN (SELECT x FROM B);""".stripMargin))
    assert(e1.getMessage.contains("top-level AND conjunct"))
    val e2 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM A (x INT);
        |CREATE STREAM B (x INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A
        |WHERE x IN (SELECT x FROM B GROUP BY x);""".stripMargin))
    assert(e2.getMessage.contains("GROUP BY"))
  }

  test("UNION / UNION ALL between INSERT branches; SELECT DISTINCT") {
    val app =
      """CREATE STREAM A (x INT);
        |CREATE STREAM B (x INT);
        |CREATE STREAM U (x INT);
        |CREATE STREAM UA (x INT);
        |CREATE STREAM D (x INT);
        |INSERT INTO U SELECT x FROM A UNION SELECT x FROM B;
        |INSERT INTO UA SELECT x FROM A UNION ALL SELECT x FROM B;
        |INSERT INTO D SELECT DISTINCT x FROM A;""".stripMargin
    val a = Seq(1, 2, 2).toDF("x")
    val b = Seq(2, 3).toDF("x")
    val res = GraftApp.run(spark, app, Map("A" -> a, "B" -> b))
    assert(res("U").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(res("UA").as[Int].collect().sorted.toSeq == Seq(1, 2, 2, 2, 3))
    assert(res("D").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // mixed UNION / UNION ALL in one statement: typed, never misgrouped
    val e1 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM A (x INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A UNION SELECT x FROM A UNION ALL SELECT x FROM A;""".stripMargin))
    assert(e1.getMessage.contains("mixed UNION"))
    // a UNION branch that is not a SELECT is typed
    val e2 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM A (x INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A UNION DELETE FROM A;""".stripMargin))
    assert(e2.getMessage.contains("branch"))
  }

  test("examples/round6_demo.sql parses and runs end to end") {
    val app = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/round6_demo.sql")))
    val events = Seq(
      (1L, 10, 7L, "purchase", 500.0), (2L, 20, 7L, "view", 10.0),
      (3L, 30, 8L, "purchase", 100.0), (4L, 40, 8L, "error", 950.0),
      (5L, 50, 9L, "cancel", 20.0), (6L, 60, 8L, "error", 30.0))
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "event_type", "value",
        // one dense props payload (3 tokens), one sparse, rest NULL
        """CASE event_id WHEN 6 THEN 'tag alpha beta'
          |  WHEN 5 THEN 'solo' ELSE CAST(NULL AS STRING) END AS props""".stripMargin)
    val (env, close) = GraftApp.runTracked(spark, app, Map(
      "events" -> events,
      "allowlist" -> Seq(8L).toDF("user_id")))
    try {
      // CTE + IN: only user 7 has a >400 purchase; all their activity shows
      assert(env("BigSpenderActivity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
        Seq((7L, 1L, "purchase"), (7L, 2L, "view")))
      // UNION distinct: user 8 errored twice but appears once
      assert(env("FlaggedUsers").as[Long].collect().sorted.toSeq == Seq(8L, 9L))
      // NOT IN over the allowlist table: 8's 950.0 event is suppressed
      assert(env("Suspect").collect().isEmpty)
      // aggregation cascade: every event lands in the epoch hour bucket
      assert(env("HourlyTotals").collect()
        .map(r => (r.getString(0), r.getDouble(2))).toSet ==
        Set(("purchase", 600.0), ("view", 10.0), ("error", 980.0), ("cancel", 20.0)))
      assert(env("EventKinds").as[String].collect().sorted.toSeq ==
        Seq("cancel", "error", "purchase", "view"))
      // GraftFns by name in app SQL: only doc-like props pass the gate
      assert(env("DenseProps").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((6L, 3L)))
    } finally close()
  }

  test("unconsumed text after FROM is a typed error, never silently dropped") {
    def bad(stmt: String): Unit = {
      val e = intercept[GraftApp.SqlError](GraftApp.parse(
        s"""CREATE STREAM A (x INT);
           |CREATE STREAM Out (x INT);
           |$stmt""".stripMargin))
      assert(e.getMessage.contains("unconsumed text") ||
        e.getMessage.contains("branch") || e.getMessage.contains("malformed"),
        e.getMessage)
    }
    bad("INSERT INTO Out SELECT x FROM A GARBAGE TEXT;")
    bad("INSERT INTO Out SELECT x FROM A sample 5 WHERE x > 1;")
    // a recognized-but-misplaced keyword still dies in its own typed parse
    val e = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM A (x INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A LIMIT 5 nonsense;""".stripMargin))
    assert(e.getMessage.contains("expected an integer"))
    // and the legitimate full-clause query still parses
    GraftApp.parse(
      """CREATE STREAM A (x INT, k STRING);
        |CREATE STREAM Out (k STRING, n BIGINT);
        |INSERT INTO Out SELECT k, count(x) AS n FROM A
        |WHERE x > 0 GROUP BY k HAVING count(x) > 1 ORDER BY k LIMIT 3 OFFSET 1;""".stripMargin)
  }

  test("EXISTS subqueries: correlated semi/anti; typed under OR and bad shapes") {
    val app =
      """CREATE STREAM Orders (user_id BIGINT, amount DOUBLE);
        |CREATE STREAM Refunds (user_id BIGINT, amount DOUBLE);
        |CREATE STREAM Flagged (user_id BIGINT, amount DOUBLE);
        |CREATE STREAM Clean (user_id BIGINT);
        |INSERT INTO Flagged SELECT user_id, amount FROM Orders
        |WHERE amount > 10.0
        |  AND EXISTS (SELECT user_id FROM Refunds
        |              WHERE Refunds.user_id = Orders.user_id
        |                AND Refunds.amount >= Orders.amount);
        |INSERT INTO Clean SELECT user_id FROM Orders
        |WHERE NOT EXISTS (SELECT user_id FROM Refunds
        |                  WHERE Refunds.user_id = Orders.user_id);""".stripMargin
    val orders = Seq((7L, 50.0), (7L, 500.0), (8L, 20.0), (9L, 5.0))
      .toDF("user_id", "amount")
    val refunds = Seq((7L, 60.0)).toDF("user_id", "amount")
    val res = GraftApp.run(spark, app,
      Map("Orders" -> orders, "Refunds" -> refunds))
    // user 7: refund 60 covers the 50 order (flagged), not the 500 one
    assert(res("Flagged").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((7L, 50.0)))
    assert(res("Clean").as[Long].collect().sorted.toSeq == Seq(8L, 9L))
    // uncorrelated EXISTS = non-empty gate
    val app2 =
      """CREATE STREAM A (x INT);
        |CREATE STREAM B (y INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A WHERE EXISTS (SELECT y FROM B);""".stripMargin
    assert(GraftApp.run(spark, app2,
      Map("A" -> Seq(1, 2).toDF("x"), "B" -> Seq(9).toDF("y")))("Out")
      .as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(GraftApp.run(spark, app2,
      Map("A" -> Seq(1, 2).toDF("x"),
          "B" -> spark.emptyDataset[Int].toDF("y")))("Out")
      .as[Int].collect().isEmpty)
    // under OR: typed, never a mis-lowered semi join
    val e1 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM A (x INT);
        |CREATE STREAM B (y INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A
        |WHERE x > 3 OR EXISTS (SELECT y FROM B);""".stripMargin))
    assert(e1.getMessage.contains("top-level AND conjunct"))
    val e2 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM A (x INT);
        |CREATE STREAM B (y INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A
        |WHERE EXISTS (SELECT y FROM B GROUP BY y);""".stripMargin))
    assert(e2.getMessage.contains("GROUP BY"))
  }

  test("review fixes: window DISTINCT, exists() HOF under OR, shared column names") {
    // SELECT DISTINCT is honored on the per-event window path (was
    // silently dropped)
    val winApp =
      """CREATE STREAM S (ts TIMESTAMP, sym STRING);
        |CREATE STREAM Out (sym STRING);
        |INSERT INTO Out SELECT DISTINCT sym FROM S WINDOW('length', 3);""".stripMargin
    val in = Seq((1, "a"), (2, "a"), (3, "b"))
      .toDF("sec", "sym")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "sym")
    assert(GraftApp.run(spark, winApp, Map("S" -> in))("Out")
      .as[String].collect().sorted.toSeq == Seq("a", "b"))
    // Spark's higher-order exists(array, lambda) under OR is a plain
    // expression, not a subquery — must compile, not die typed
    val hofApp =
      """CREATE STREAM S (id INT, flag INT, tags STRING);
        |CREATE STREAM Out (id INT);
        |INSERT INTO Out SELECT id FROM S
        |WHERE flag = 1 OR exists(split(tags, ','), t -> t = 'spam');""".stripMargin
    val hofIn = Seq((1, 0, "x,spam"), (2, 0, "clean"), (3, 1, "zz"))
      .toDF("id", "flag", "tags")
    assert(GraftApp.run(spark, hofApp, Map("S" -> hofIn))("Out")
      .as[Int].collect().sorted.toSeq == Seq(1, 3))
    // a column that shares a CTE's name is NOT mangled — only source
    // positions (FROM/JOIN/qualified) rewrite
    val cteApp =
      """CREATE STREAM Events (status STRING, k INT);
        |CREATE STREAM Keys (k INT);
        |CREATE STREAM Out (status STRING, k INT);
        |WITH status AS (SELECT k FROM Keys WHERE k > 0)
        |INSERT INTO Out SELECT status, k FROM Events
        |WHERE status = 'open' AND k IN (SELECT k FROM status);""".stripMargin
    val ev = Seq(("open", 1), ("open", -5), ("closed", 1)).toDF("status", "k")
    val keys = Seq(1, 2).toDF("k")
    assert(GraftApp.run(spark, cteApp, Map("Events" -> ev, "Keys" -> keys))("Out")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("open", 1)))
    // a column named like a dialect type survives expressions untouched
    val typeApp =
      """CREATE STREAM S (object STRING);
        |CREATE STREAM Out (object STRING, s STRING);
        |INSERT INTO Out SELECT object, CAST(object AS VARCHAR) AS s FROM S;""".stripMargin
    assert(GraftApp.run(spark, typeApp,
      Map("S" -> Seq("blob").toDF("object")))("Out")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("blob", "blob")))
  }

  test("expr IN Table membership: reference spelling, NULL semantics, typed errors") {
    // in_expression_executor.rs: NULL value → false (row dropped for IN,
    // kept for NOT IN); membership against the single-column table
    val app =
      """CREATE STREAM S (sym STRING, v INT);
        |CREATE TABLE Watch (sym STRING);
        |CREATE STREAM Hits (sym STRING, v INT);
        |CREATE STREAM Misses (sym STRING);
        |INSERT INTO Hits SELECT sym, v FROM S WHERE v > 0 AND sym IN Watch;
        |INSERT INTO Misses SELECT sym FROM S WHERE sym NOT IN Watch;""".stripMargin
    val s = Seq(("ibm", 1), ("aapl", 2), (null, 3), ("ibm", -1)).toDF("sym", "v")
    val watch = Seq("ibm").toDF("sym")
    val res = GraftApp.run(spark, app, Map("S" -> s, "Watch" -> watch))
    assert(res("Hits").collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("ibm", 1)))
    // NULL is not a member → NOT IN keeps it (Not(In) = Not(false))
    assert(res("Misses").as[String].collect().toSet == Set("aapl", null))
    // `NOT x IN t` prefix form ≡ `x NOT IN t` (query-api Not(In) shape)
    val app2 = app.replace("sym NOT IN Watch", "NOT sym IN Watch")
    assert(GraftApp.run(spark, app2, Map("S" -> s, "Watch" -> watch))("Misses")
      .as[String].collect().toSet == Set("aapl", null))
    // membership against a STREAM or a multi-column table: typed
    val e1 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM A (x INT);
        |CREATE STREAM B (x INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A WHERE x IN B;""".stripMargin))
    assert(e1.getMessage.contains("needs a TABLE"))
    val e2 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM A (x INT);
        |CREATE TABLE T (x INT, y INT);
        |CREATE STREAM Out (x INT);
        |INSERT INTO Out SELECT x FROM A WHERE x IN T;""".stripMargin))
    assert(e2.getMessage.contains("exactly one column"))
  }

  test("WITH + UNION compose; cte over table join still works") {
    val app =
      """CREATE STREAM S (k STRING, v INT);
        |CREATE STREAM T (k STRING, v INT);
        |CREATE STREAM Out (k STRING);
        |WITH Big AS (SELECT k, v FROM S WHERE v > 10)
        |INSERT INTO Out SELECT k FROM Big UNION SELECT k FROM T;""".stripMargin
    val s = Seq(("a", 20), ("b", 5)).toDF("k", "v")
    val t = Seq(("c", 1), ("a", 2)).toDF("k", "v")
    val res = GraftApp.run(spark, app, Map("S" -> s, "T" -> t))
    assert(res("Out").as[String].collect().sorted.toSeq == Seq("a", "c"))
  }

  // ---- MATCH_RECOGNIZE (ANSI/Flink spelling of the same CEP engine) ----

  private def mrEvents = Seq(
    (1, 7L, "a", 1.0), (2, 7L, "b", 2.0), (3, 7L, "b", 3.0), (4, 7L, "c", 4.0),
    (5, 8L, "a", 1.0), (6, 8L, "c", 9.0), // no b run → no match
    (7, 9L, "a", 5.0), (8, 9L, "b", 6.0), (9, 9L, "c", 7.0))
    .toDF("sec", "user_id", "kind", "v")
    .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
      "user_id", "kind", "v")

  test("MATCH_RECOGNIZE: lowers onto the CEP engine, equal to the native spelling") {
    val mr =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, start_v DOUBLE, n_b BIGINT,
        |                   b_last DOUBLE, end_v DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES A.v AS start_v, count(B.v) AS n_b, LAST(B.v) AS b_last,
        |           C.v AS end_v
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+ C) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b',
        |         C AS C.kind = 'c' AND C.v > A.v
        |);""".stripMargin
    val native =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, start_v DOUBLE, n_b BIGINT,
        |                   b_last DOUBLE, end_v DOUBLE);
        |INSERT INTO Out
        |SELECT A.user_id AS user_id, A.v AS start_v, count(B.v) AS n_b,
        |       B[last].v AS b_last, C.v AS end_v
        |FROM SEQUENCE (EVERY (A=E[kind = 'a'] -> B=E[kind = 'b']+
        |  -> C=E[kind = 'c' AND v > A.v]))
        |WITHIN 1 HOUR PARTITION BY user_id;""".stripMargin
    def rows(app: String) = GraftApp.run(spark, app, Map("E" -> mrEvents))("Out")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(t => (t._1, t._2))
    val got = rows(mr)
    assert(got.toSeq == rows(native).toSeq)
    assert(got.toSeq == Seq((7L, 1.0, 2L, 3.0, 4.0), (9L, 5.0, 1L, 6.0, 7.0)))
  }

  test("MATCH_RECOGNIZE: quantifiers {n,m}/?, unpartitioned, no DEFINE for a var") {
    // D has no DEFINE → always-true step; B{1,2}; optional trailing F?
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (n_b BIGINT, d_v DOUBLE, delta DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES count(B.v) AS n_b, D.v AS d_v, D.v - FIRST(B.v) AS delta
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (B{1,2} D) WITHIN INTERVAL '1' HOUR
        |  DEFINE B AS B.kind = 'b'
        |);""".stripMargin
    val in = Seq((1, 7L, "b", 1.0), (2, 7L, "b", 2.0), (3, 7L, "x", 3.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted
    // b,b,x: B={b1},D=b2 (D is unconstrained); B={b2},D=x; B={b1,b2},D=x
    // delta = D.v - B[0].v: 2-1, 3-2, 3-1 (arithmetic over navigation refs)
    assert(got.toSeq == Seq((1L, 2.0, 1.0), (1L, 3.0, 1.0), (2L, 3.0, 2.0)))
  }

  test("MATCH_RECOGNIZE SKIP PAST LAST ROW: greedy leftmost non-overlapping, the ANSI default") {
    def tape(rows: Seq[(Int, Long, String, Double)]) = rows
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def mr(measures: String, skip: String, pattern: String, define: String,
           out: String, within: String = "WITHIN INTERVAL '1' HOUR") =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out ($out);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES $measures
         |  ONE ROW PER MATCH $skip
         |  PATTERN ($pattern) $within
         |  DEFINE $define);""".stripMargin

    // 1. chained pairs: 5 consecutive qualifying rows — TO NEXT ROW emits
    // every adjacent pair (4); PAST LAST ROW pairs them off (1,2),(3,4)
    val run5 = tape((1 to 5).map(i => (i, 7L, "p", i.toDouble)))
    def pairs(skip: String) = GraftApp.run(spark,
      mr("A.v AS a_v, B.v AS b_v", skip, "A B",
        "A AS A.kind = 'p', B AS B.kind = 'p'", "a_v DOUBLE, b_v DOUBLE"),
      Map("E" -> run5))("Out")
      .select("a_v", "b_v")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).sorted
    val everyP = pairs("AFTER MATCH SKIP TO NEXT ROW")
    val pastP = pairs("AFTER MATCH SKIP PAST LAST ROW")
    assert(everyP.toSeq == Seq((1.0, 2.0), (2.0, 3.0), (3.0, 4.0), (4.0, 5.0)))
    assert(pastP.toSeq == Seq((1.0, 2.0), (3.0, 4.0)))
    // the non-overlapping set is a subset of the overlapping one
    assert(pastP.toSet.subsetOf(everyP.toSet))
    // omitted AFTER MATCH = the ANSI default = SKIP PAST LAST ROW
    assert(pairs("").toSeq == pastP.toSeq)

    // 2. greedy trailing quantifier: a b b b b a b b — B+ consumes the
    // WHOLE streak (4 then 2), not the every-mode prefix enumeration
    val streaks = tape(Seq((1, 8L, "a", 0.0), (2, 8L, "b", 1.0), (3, 8L, "b", 2.0),
      (4, 8L, "b", 3.0), (5, 8L, "b", 4.0), (6, 8L, "a", 0.0),
      (7, 8L, "b", 5.0), (8, 8L, "b", 6.0)))
    def nb(skip: String) = GraftApp.run(spark,
      mr("count(B.v) AS n_b", skip, "A B+",
        "A AS A.kind = 'a', B AS B.kind = 'b'", "n_b BIGINT"),
      Map("E" -> streaks))("Out")
      .select("n_b")
      .collect().map(_.getLong(0)).sorted
    assert(nb("AFTER MATCH SKIP TO NEXT ROW").toSeq == Seq(1L, 1L, 2L, 2L, 3L, 4L))
    assert(nb("AFTER MATCH SKIP PAST LAST ROW").toSeq == Seq(2L, 4L))

    // 3. interior quantifier greediness: A{1,2} B{1,2} over x x x picks
    // (2,1) — the left quantifier maximizes first; over x x x x picks (2,2)
    for ((n, want) <- Seq(3 -> (2L, 1L), 4 -> (2L, 2L))) {
      val xs = tape((1 to n).map(i => (i, 9L, "x", i.toDouble)))
      val got = GraftApp.run(spark,
        mr("count(A.v) AS n_a, count(B.v) AS n_b",
          "AFTER MATCH SKIP PAST LAST ROW", "A{1,2} B{1,2}",
          "A AS A.kind = 'x', B AS B.kind = 'x'", "n_a BIGINT, n_b BIGINT"),
        Map("E" -> xs))("Out")
        .select("n_a", "n_b")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == Seq(want), s"n=$n got ${got.toSeq}")
    }

    // 4. failed attempt retries at the NEXT row (not the naive single-
    // instance machine): a a b — the attempt at row 1 dies at row 2, and
    // the match (a@2, b@3) must still be found
    val retry = tape(Seq((1, 11L, "a", 1.0), (2, 11L, "a", 2.0), (3, 11L, "b", 3.0)))
    val gotR = GraftApp.run(spark,
      mr("A.v AS a_v, B.v AS b_v", "AFTER MATCH SKIP PAST LAST ROW", "A B",
        "A AS A.kind = 'a', B AS B.kind = 'b'", "a_v DOUBLE, b_v DOUBLE"),
      Map("E" -> retry))("Out")
      .select("a_v", "b_v")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(gotR.toSeq == Seq((2.0, 3.0)))

    // typed gates: zero-min quantifiers, relaxed PATTERN, non-EVERY
    def errOf(app: String, env: Map[String, org.apache.spark.sql.DataFrame]) =
      intercept[GraftApp.SqlError](GraftApp.run(spark, app, env)).getMessage
    assert(errOf(mr("A.v AS a_v", "AFTER MATCH SKIP PAST LAST ROW", "A B?",
      "A AS A.kind = 'a'", "a_v DOUBLE"), Map("E" -> retry))
      .contains("zero-min"))
    val nativeRelaxed =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (a_v DOUBLE);
        |INSERT INTO Out SELECT A.v AS a_v
        |FROM PATTERN (EVERY (A=E[kind = 'a'] -> B=E[kind = 'b']))
        |WITHIN 1 HOUR PARTITION BY user_id SKIP PAST LAST ROW;""".stripMargin
    assert(errOf(nativeRelaxed, Map("E" -> retry)).contains("SEQUENCE"))
    val nativeNoEvery =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (a_v DOUBLE);
        |INSERT INTO Out SELECT A.v AS a_v
        |FROM SEQUENCE ((A=E[kind = 'a'] -> B=E[kind = 'b']))
        |WITHIN 1 HOUR PARTITION BY user_id SKIP PAST LAST ROW;""".stripMargin
    assert(errOf(nativeNoEvery, Map("E" -> retry)).contains("EVERY"))
  }

  test("MATCH_RECOGNIZE group repetition (A B){n,m}: per-repetition expansion, auto-SUBSET measures") {
    def tape(rows: Seq[(Int, String, Double)]) = rows.map { case (s, k, v) => (s, 7L, k, v) }
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def mr(measures: String, pattern: String, define: String, out: String,
           rows: String = "ONE ROW PER MATCH") =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out ($out);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES $measures
         |  $rows AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN ($pattern) WITHIN INTERVAL '1' HOUR
         |  DEFINE $define);""".stripMargin

    // (D U){1,2}: one step-order variant per repetition count; measures
    // over D/U union the repetitions (count sums, sum NULL-safe, FIRST
    // coalesces in chain order, LAST in reverse). U's DEFINE references
    // ITS OWN repetition's D.
    val defs = "A AS A.kind = 'a', D AS D.kind = 'd', " +
      "U AS U.kind = 'u' AND U.v > D.v, C AS C.kind = 'c'"
    def run(t: org.apache.spark.sql.DataFrame) = GraftApp.run(spark,
      mr("count(D.v) AS n_d, sum(U.v) AS s_u, FIRST(D.v) AS d0, LAST(U.v) AS uz",
        "A (D U){1,2} C", defs,
        "n_d BIGINT, s_u DOUBLE, d0 DOUBLE, uz DOUBLE"),
      Map("E" -> t))("Out")
      .selectExpr("CAST(n_d AS BIGINT) AS n_d", "s_u", "d0", "uz")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    // k=1: a d(1) u(2) c
    assert(run(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0), (4, "c", 0.0))))
      == Seq((1L, 2.0, 1.0, 2.0)))
    // k=2: a d(1) u(2) d(3) u(4) c — one match, repetitions unioned
    assert(run(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 3.0), (5, "u", 4.0), (6, "c", 0.0))))
      == Seq((2L, 6.0, 1.0, 4.0)))
    // same-repetition binding: second U NOT above its own D -> no k=2
    // match, and k=1 dies at the second d (C expected) -> nothing
    assert(run(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 5.0), (5, "u", 4.0), (6, "c", 0.0)))) == Seq())

    // optional group (H){0,1}: present and absent variants
    def runOpt(t: org.apache.spark.sql.DataFrame) = GraftApp.run(spark,
      mr("count(H.v) AS n_h", "A (H){0,1} C",
        "A AS A.kind = 'a', H AS H.kind = 'h', C AS C.kind = 'c'", "n_h BIGINT"),
      Map("E" -> t))("Out")
      .selectExpr("CAST(n_h AS BIGINT) AS n_h").collect().map(_.getLong(0)).toSeq
    assert(runOpt(tape(Seq((1, "a", 0.0), (2, "c", 0.0)))) == Seq(0L))
    assert(runOpt(tape(Seq((1, "a", 0.0), (2, "h", 1.0), (3, "c", 0.0)))) == Seq(1L))

    // round 14: the loop machine removed the repetition cap — {1,9}
    // compiles as one looped variant and matches 3 iterations directly
    val wide = GraftApp.run(spark,
      mr("count(D.v) AS n_d", "A (D U){1,9} C", defs, "n_d BIGINT"),
      Map("E" -> tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
        (4, "d", 3.0), (5, "u", 4.0), (6, "d", 5.0), (7, "u", 6.0),
        (8, "c", 0.0)))))("Out")
      .selectExpr("CAST(n_d AS BIGINT)").collect().map(_.getLong(0)).toSeq
    assert(wide == Seq(3L))
    // round 14: ALL ROWS PER MATCH composes with bounded groups (members
    // are ordinary collection steps — classifier is the member alias)
    val allRows = GraftApp.run(spark,
      mr("count(D.v) AS n_d", "A (D U){1,2} C", defs, "n_d BIGINT",
        rows = "ALL ROWS PER MATCH"),
      Map("E" -> tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
        (4, "c", 0.0)))))("Out")
    assert(allRows.count() == 4)
    assert(allRows.select("mr_classifier").collect().map(_.getString(0)).toSeq
      == Seq("A", "D", "U", "C"))
    // typed gates
    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape(Seq((1, "a", 0.0)))))).getMessage
    val defsNoC = "A AS A.kind = 'a', D AS D.kind = 'd', U AS U.kind = 'u'"
    assert(errOf(mr("count(D.v) AS n_d", "A (D D){1,2} C",
      defsNoC + ", C AS C.kind = 'c'", "n_d BIGINT")).contains("duplicate"))
    assert(errOf(mr("count(D.v) AS n_d", "A (D U){1,2} D", defsNoC, "n_d BIGINT"))
      .contains("unique"))
    // a non-group DEFINE referencing a group member is ambiguous
    assert(errOf(mr("count(D.v) AS n_d", "A (D U){1,2} C",
      defs.replace("C AS C.kind = 'c'", "C AS C.kind = 'c' AND C.v > D.v"),
      "n_d BIGINT")).contains("outside its group"))
  }

  test("MATCH_RECOGNIZE unbounded loop groups (A B)+: loop-back NFA edge, collection measures") {
    def tape(rows: Seq[(Int, String, Double)]) = rows.map { case (s, k, v) => (s, 7L, k, v) }
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def mr(measures: String, pattern: String, define: String, out: String,
           skip: String = "AFTER MATCH SKIP TO NEXT ROW",
           within: String = "WITHIN INTERVAL '1' HOUR") =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out ($out);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES $measures
         |  ONE ROW PER MATCH $skip
         |  PATTERN ($pattern) $within
         |  DEFINE $define);""".stripMargin
    val defs = "A AS A.kind = 'a', D AS D.kind = 'd', " +
      "U AS U.kind = 'u', C AS C.kind = 'c'"
    def run(t: org.apache.spark.sql.DataFrame, pattern: String = "A (D U)+ C",
            skip: String = "AFTER MATCH SKIP TO NEXT ROW") = GraftApp.run(spark,
      mr("count(D.v) AS n_d, sum(U.v) AS s_u, FIRST(D.v) AS d0, LAST(U.v) AS uz",
        pattern, defs, "n_d BIGINT, s_u DOUBLE, d0 DOUBLE, uz DOUBLE", skip),
      Map("E" -> t))("Out")
      .selectExpr("CAST(n_d AS BIGINT) AS n_d", "s_u", "d0", "uz")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    // one iteration: a d u c
    assert(run(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0), (4, "c", 0.0))))
      == Seq((1L, 2.0, 1.0, 2.0)))
    // three iterations, one match — unbounded where {1,2} would stop at 2
    assert(run(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 3.0), (5, "u", 4.0), (6, "d", 5.0), (7, "u", 6.0), (8, "c", 0.0))))
      == Seq((3L, 12.0, 1.0, 6.0)))
    // trailing loop group + SKIP PAST: greedy consumes ALL iterations
    val defsNoC = "A AS A.kind = 'a', D AS D.kind = 'd', U AS U.kind = 'u'"
    val greedy = GraftApp.run(spark,
      mr("count(D.v) AS n_d, sum(U.v) AS s_u, FIRST(D.v) AS d0, LAST(U.v) AS uz",
        "A (D U)+", defsNoC, "n_d BIGINT, s_u DOUBLE, d0 DOUBLE, uz DOUBLE",
        skip = "AFTER MATCH SKIP PAST LAST ROW"),
      Map("E" -> tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
        (4, "d", 3.0), (5, "u", 4.0), (6, "x", 0.0)))))("Out")
      .selectExpr("CAST(n_d AS BIGINT) AS n_d", "s_u", "d0", "uz")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(greedy == Seq((2L, 6.0, 1.0, 4.0)))
    // optional loop group (D U)*: absent variant
    val opt = GraftApp.run(spark,
      mr("count(D.v) AS n_d", "A (D U)* C", defs, "n_d BIGINT"),
      Map("E" -> tape(Seq((1, "a", 0.0), (2, "c", 0.0)))))("Out")
      .selectExpr("CAST(coalesce(n_d, 0) AS BIGINT)").collect().map(_.getLong(0)).toSeq
    assert(opt == Seq(0L))
    // (D U){2,}: minimum TWO iterations before the group may close
    def runMin2(t: org.apache.spark.sql.DataFrame) = GraftApp.run(spark,
      mr("count(D.v) AS n_d", "A (D U){2,} C", defs, "n_d BIGINT"),
      Map("E" -> t))("Out")
      .selectExpr("CAST(n_d AS BIGINT)").collect().map(_.getLong(0)).sorted.toSeq
    assert(runMin2(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "c", 0.0)))) == Seq()) // one iteration < 2
    assert(runMin2(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 3.0), (5, "u", 4.0), (6, "c", 0.0)))) == Seq(2L))
    assert(runMin2(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 3.0), (5, "u", 4.0), (6, "d", 5.0), (7, "u", 6.0),
      (8, "c", 0.0)))) == Seq(3L))

    // round 14: cross-member refs in UNBOUNDED loops bind per iteration —
    // each U compares against ITS OWN iteration's D (a first-iteration
    // anchor would wrongly pass u(4) > d(1) below and emit a 2-iteration
    // match; per-iteration binding kills the whole match at u(4) <= d(5))
    val defsIter = defs.replace("U AS U.kind = 'u'",
      "U AS U.kind = 'u' AND U.v > D.v")
    def runIter(t: org.apache.spark.sql.DataFrame) = GraftApp.run(spark,
      mr("count(D.v) AS n_d, sum(U.v) AS s_u, FIRST(D.v) AS d0, LAST(U.v) AS uz",
        "A (D U)+ C", defsIter, "n_d BIGINT, s_u DOUBLE, d0 DOUBLE, uz DOUBLE"),
      Map("E" -> t))("Out")
      .selectExpr("CAST(n_d AS BIGINT) AS n_d", "s_u", "d0", "uz")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    // every U above its own D: both iterations bind
    assert(runIter(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 3.0), (5, "u", 4.0), (6, "c", 0.0)))) == Seq((2L, 6.0, 1.0, 4.0)))
    // second U above the FIRST D but not its own: no match at all (strict
    // contiguity also kills the 1-iteration parse at the second d)
    assert(runIter(tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 5.0), (5, "u", 4.0), (6, "c", 0.0)))) == Seq())

    // reluctant GROUP quantifier (round 14): (D U)+? prefers the FEWEST
    // iterations per start under skip selection — on d u d u d u x the
    // greedy form emits ONE 3-iteration match, the reluctant form THREE
    // 1-iteration matches (SKIP PAST resumes after each short match)
    val defsDU = "D AS D.kind = 'd', U AS U.kind = 'u'"
    val relTape = tape(Seq((1, "d", 1.0), (2, "u", 2.0), (3, "d", 3.0),
      (4, "u", 4.0), (5, "d", 5.0), (6, "u", 6.0), (7, "x", 0.0)))
    def runRel(pat: String) = GraftApp.run(spark,
      mr("count(D.v) AS n_d", pat, defsDU, "n_d BIGINT",
        skip = "AFTER MATCH SKIP PAST LAST ROW"),
      Map("E" -> relTape))("Out")
      .selectExpr("CAST(n_d AS BIGINT)").collect().map(_.getLong(0)).toSeq
    assert(runRel("(D U)+") == Seq(3L))
    assert(runRel("(D U)+?") == Seq(1L, 1L, 1L))
    assert(runRel("(D U){1,2}?") == Seq(1L, 1L, 1L))
    assert(runRel("(D U){2,3}?") == Seq(2L)) // minIters floor still binds

    // typed gates: WITHIN required; SKIP TO a loop member; reluctant
    // group with a variable-count member
    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape(Seq((1, "a", 0.0)))))).getMessage
    assert(errOf(mr("count(D.v) AS n_d", "A (D U)+ C", defs, "n_d BIGINT",
      within = "")).contains("WITHIN"))
    assert(errOf(mr("count(D.v) AS n_d", "A (D U)+ C", defs, "n_d BIGINT",
      skip = "AFTER MATCH SKIP TO LAST U")).contains("loop group"))

    // round 15: reluctant group repetition with a VARIABLE-count member
    // is now DEFINED — two-level preference: fewest ITERATIONS first,
    // then fewest member rows. (D U+)+? on d u u d u x: iteration floor 1,
    // preferred parse per start = 1 iteration with ONE u; SKIP PAST
    // resumes after it, so the second pair matches separately. The greedy
    // form takes everything in one 2-iteration match.
    def runRelVar(pat: String) = GraftApp.run(spark,
      mr("count(D.v) AS n_d, count(U.v) AS n_u", pat, defsDU,
        "n_d BIGINT, n_u BIGINT",
        skip = "AFTER MATCH SKIP PAST LAST ROW"),
      Map("E" -> tape(Seq((1, "d", 1.0), (2, "u", 2.0), (3, "u", 3.0),
        (4, "d", 4.0), (5, "u", 5.0), (6, "x", 0.0)))))("Out")
      .selectExpr("CAST(n_d AS BIGINT)", "CAST(n_u AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(runRelVar("(D U+)+") == Seq((2L, 3L)))
    assert(runRelVar("(D U+)+?") == Seq((1L, 1L), (1L, 1L)))
    // iteration floor 2: the preferred parse must still reach 2
    // iterations — (d|u,u)(d|u) is the fewest-rows 2-iteration parse
    assert(runRelVar("(D U+){2,3}?") == Seq((2L, 3L)))
  }

  test("STRUCT<...> DDL columns: struct build, field access, nesting (round 14)") {
    import spark.implicits._
    val e = Seq((1, 7L, "a", 1.5), (2, 7L, "b", 2.5), (3, 8L, "a", 3.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    // build a struct into a STRUCT-typed intermediate stream, then project
    // fields back out of it in a chained query
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Mid (ts TIMESTAMP, user_id BIGINT,
        |                   s STRUCT<k: STRING, vv DOUBLE>);
        |CREATE STREAM Out (user_id BIGINT, k2 STRING, vv2 DOUBLE);
        |INSERT INTO Mid SELECT ts, user_id,
        |  named_struct('k', kind, 'vv', v * 2) AS s FROM E;
        |INSERT INTO Out SELECT user_id, s.k AS k2, s.vv AS vv2 FROM Mid
        |WHERE s.vv > 3;""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> e))("Out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._3).toSeq
    assert(got == Seq((7L, "b", 5.0), (8L, "a", 6.0)))
    // declared shape: colon and whitespace field separators, nesting,
    // ARRAY<STRUCT<...>>
    val spec = GraftApp.parse(
      """CREATE STREAM N (a STRUCT<x: BIGINT, y STRUCT<p: STRING, q DOUBLE>>,
        |                 b ARRAY<STRUCT<m: BIGINT>>, c BIGINT);""".stripMargin)
    val n = spec.streams("N").schema
    import org.apache.spark.sql.types._
    assert(n("a").dataType == StructType(Seq(StructField("x", LongType),
      StructField("y", StructType(Seq(StructField("p", StringType),
        StructField("q", DoubleType)))))))
    assert(n("b").dataType == ArrayType(StructType(Seq(StructField("m", LongType)))))
    assert(n("c").dataType == LongType)
    // MAP<k, v> (the reference roadmap names STRUCT/MAP together) — nested
    // value types compose; map_from/element access are native Spark
    val m = GraftApp.parse(
      "CREATE STREAM M (a MAP<STRING, DOUBLE>, b MAP<BIGINT, ARRAY<STRING>>);")
      .streams("M").schema
    assert(m("a").dataType == MapType(StringType, DoubleType))
    assert(m("b").dataType == MapType(LongType, ArrayType(StringType)))
    val mapp =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Mid (user_id BIGINT, kv MAP<STRING, DOUBLE>);
        |CREATE STREAM Out (user_id BIGINT, got DOUBLE);
        |INSERT INTO Mid SELECT user_id, map(kind, v) AS kv FROM E;
        |INSERT INTO Out SELECT user_id, kv['a'] AS got FROM Mid
        |WHERE kv['a'] IS NOT NULL;""".stripMargin
    val mGot = GraftApp.run(spark, mapp, Map("E" -> e))("Out")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._2).toSeq
    assert(mGot == Seq((7L, 1.5), (8L, 3.0)))
    // typed errors: unknown field type, unbalanced angles, bad map arity
    def errOf(ddl: String) =
      intercept[GraftApp.SqlError](GraftApp.parse(ddl)).getMessage
    assert(errOf("CREATE STREAM X (a STRUCT<x: WAT>);").contains("unknown type"))
    assert(errOf("CREATE STREAM X (a STRUCT<x: BIGINT);").contains("unbalanced"))
    assert(errOf("CREATE STREAM X (a MAP<STRING>);").contains("key, value"))
  }

  test("MATCH_RECOGNIZE quantified group members + one-level nesting (round 14)") {
    def tape(rows: Seq[(Int, String, Double)]) = rows.map { case (s, k, v) => (s, 7L, k, v) }
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def mr(measures: String, pattern: String, define: String, out: String) =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out ($out);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES $measures
         |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN ($pattern) WITHIN INTERVAL '1' HOUR
         |  DEFINE $define);""".stripMargin
    val defs = "A AS A.kind = 'a', D AS D.kind = 'd', " +
      "U AS U.kind = 'u', C AS C.kind = 'c'"
    def run(t: org.apache.spark.sql.DataFrame, pattern: String) = GraftApp.run(spark,
      mr("count(D.v) AS n_d, count(U.v) AS n_u, round(sum(U.v), 6) AS s_u",
        pattern, defs, "n_d BIGINT, n_u BIGINT, s_u DOUBLE"),
      Map("E" -> t))("Out")
      .selectExpr("CAST(n_d AS BIGINT)", "CAST(n_u AS BIGINT)", "s_u")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2)).toSeq

    // (D U+)+: inner U+ gated PER ITERATION — one view, a RUN of u's
    val t1 = tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "u", 3.0), (5, "u", 4.0), (6, "c", 0.0)))
    assert(run(t1, "A (D U+)+ C") == Seq((1L, 3L, 9.0)))
    // two iterations with different run lengths
    val t2 = tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 3.0), (5, "u", 4.0), (6, "u", 5.0), (7, "c", 0.0)))
    assert(run(t2, "A (D U+)+ C") == Seq((2L, 3L, 11.0)))
    // bounded member U{1,2}: a 3-run exceeds the per-iteration max — the
    // iteration cannot close before the run ends, so no match on t1
    assert(run(t1, "A (D U{1,2})+ C") == Seq())
    assert(run(t2, "A (D U{1,2})+ C") == Seq((2L, 3L, 11.0)))

    // one-level nesting ((D U){2} C)+: inner exact group inlines per
    // repetition; measures over D/U union the inlined aliases
    val t3 = tape(Seq((1, "a", 0.0),
      (2, "d", 1.0), (3, "u", 2.0), (4, "d", 3.0), (5, "u", 4.0), (6, "c", 0.0),
      (7, "d", 5.0), (8, "u", 6.0), (9, "d", 7.0), (10, "u", 8.0), (11, "c", 0.0),
      (12, "e", 0.0)))
    val nested = GraftApp.run(spark,
      mr("count(D.v) AS n_d, count(U.v) AS n_u, round(sum(U.v), 6) AS s_u",
        "A ((D U){2} C)+ E", defs + ", E AS E.kind = 'e'",
        "n_d BIGINT, n_u BIGINT, s_u DOUBLE"),
      Map("E" -> t3))("Out")
      .selectExpr("CAST(n_d AS BIGINT)", "CAST(n_u AS BIGINT)", "s_u")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(nested == Seq((4L, 4L, 20.0)))

    // (H)+ normalizes to the plain H+ token — degenerate single-member
    // loop groups and plain quantifiers are equal BY CONSTRUCTION (the
    // round-13 advice asked for the equivalence to be structural)
    def parseOf(pat: String) = GraftApp.parse(
      mr("count(D.v) AS n_d", pat,
        "A AS A.kind = 'a', D AS D.kind = 'd', C AS C.kind = 'c'",
        "n_d BIGINT")).patterns.head.variants
    assert(parseOf("A (D)+ C") == parseOf("A D+ C"))
    assert(parseOf("A (D){2,3} C") == parseOf("A D{2,3} C"))

    // near-miss fuzz: every unsupported shape dies typed, never silent
    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape(Seq((1, "a", 0.0)))))).getMessage
    // nesting depth 2
    assert(errOf(mr("count(D.v) AS n_d", "A (((D U){2} C){2} U)+ E",
      defs + ", E AS E.kind = 'e'", "n_d BIGINT")).nonEmpty)
    // variable inner count is round-15 SURFACE now (nested iteration
    // frame) — see the dedicated variable-count nested-group test
    // reluctant member quantifier
    assert(errOf(mr("count(D.v) AS n_d", "A (D U+?)+ C", defs, "n_d BIGINT"))
      .contains("reluctant"))
    // zero-min member quantifier
    assert(errOf(mr("count(D.v) AS n_d", "A (D U*)+ C", defs, "n_d BIGINT"))
      .contains("zero-min"))
    // member + group quantifier on a single-member group
    assert(errOf(mr("count(D.v) AS n_d", "A (D+){2} C",
      "A AS A.kind = 'a', D AS D.kind = 'd', C AS C.kind = 'c'",
      "n_d BIGINT")).contains("compose"))
    // ADVICE r14: the NESTED inner-member regex used to DROP a trailing
    // reluctant '?' (lowering ((D U+?){2} C)+ as greedy U+) — both the
    // reluctant mark and a bare optional member now die typed
    assert(errOf(mr("count(D.v) AS n_d", "A ((D U+?){2} C)+ E",
      defs + ", E AS E.kind = 'e'", "n_d BIGINT")).contains("reluctant"))
    // bare optional member U? never reaches the lowering — the group
    // tokenizer itself rejects the shape (typed, message differs)
    assert(errOf(mr("count(D.v) AS n_d", "A ((D U?){2} C)+ E",
      defs + ", E AS E.kind = 'e'", "n_d BIGINT")).contains("not supported"))
  }

  test("MATCH_RECOGNIZE variable-count NESTED groups ((D U){1,3} C)+ (round 15)") {
    def tape(rows: Seq[(Int, String, Double)]) = rows.map { case (s, k, v) => (s, 7L, k, v) }
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def mr(measures: String, pattern: String, define: String, out: String) =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out ($out);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES $measures
         |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN ($pattern) WITHIN INTERVAL '1' HOUR
         |  DEFINE $define);""".stripMargin
    val defs = "A AS A.kind = 'a', D AS D.kind = 'd', " +
      "U AS U.kind = 'u', C AS C.kind = 'c', X AS X.kind = 'e'"
    def run(t: org.apache.spark.sql.DataFrame, pattern: String,
            define: String = defs) = GraftApp.run(spark,
      mr("count(D.v) AS n_d, count(U.v) AS n_u, count(C.v) AS n_c, " +
        "round(sum(U.v), 6) AS s_u", pattern, define,
        "n_d BIGINT, n_u BIGINT, n_c BIGINT, s_u DOUBLE"),
      Map("E" -> t))("Out")
      .selectExpr("CAST(n_d AS BIGINT)", "CAST(n_u AS BIGINT)",
        "CAST(n_c AS BIGINT)", "s_u")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2)).toSeq

    // two outer iterations with DIFFERENT inner counts: iter 1 runs the
    // inner group once (d u c), iter 2 twice (d u d u c) — strict
    // contiguity + disjoint predicates make the parse unique
    val t1 = tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0), (4, "c", 0.0),
      (5, "d", 3.0), (6, "u", 4.0), (7, "d", 5.0), (8, "u", 6.0), (9, "c", 0.0),
      (10, "e", 0.0)))
    assert(run(t1, "A ((D U){1,3} C)+ X") == Seq((3L, 3L, 2L, 12.0)))
    // inner ceiling {1,2}: three consecutive (d u) pairs before the c
    // exceed the inner max — no match on that outer iteration's shape
    val t2 = tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 3.0), (5, "u", 4.0), (6, "d", 5.0), (7, "u", 6.0), (8, "c", 0.0),
      (9, "e", 0.0)))
    assert(run(t2, "A ((D U){1,2} C)+ X") == Seq())
    assert(run(t2, "A ((D U){1,3} C)+ X") == Seq((3L, 3L, 1L, 12.0)))
    // unbounded inner +: same tape matches with (D U)+ inside
    assert(run(t2, "A ((D U)+ C)+ X") == Seq((3L, 3L, 1L, 12.0)))
    // quantified member INSIDE the nested group: U+ gated per INNER
    // iteration — d u u u c parses as one inner iteration with 3 u's
    val t3 = tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "u", 3.0), (5, "u", 4.0), (6, "c", 0.0), (7, "e", 0.0)))
    assert(run(t3, "A ((D U+){1,2} C)+ X") == Seq((1L, 3L, 1L, 9.0)))
    // per-INNER-iteration cross-member ref: U must beat ITS OWN inner
    // iteration's D. d(5) u(3): 3 > 5 fails — no match; with the second
    // pair rising it matches and binds pairwise
    val defsRef = "A AS A.kind = 'a', D AS D.kind = 'd', " +
      "U AS U.kind = 'u' AND U.v > D.v, C AS C.kind = 'c', X AS X.kind = 'e'"
    val tRefBad = tape(Seq((1, "a", 0.0), (2, "d", 5.0), (3, "u", 3.0),
      (4, "c", 0.0), (5, "e", 0.0)))
    assert(run(tRefBad, "A ((D U){1,2} C)+ X", defsRef) == Seq())
    val tRefOk = tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 5.0), (5, "u", 6.0), (6, "c", 0.0), (7, "e", 0.0)))
    // pairwise binding: u(2)>d(1) and u(6)>d(5) — a first-iteration-only
    // anchor would reject u(6) vs d(1)? no, 6>1 passes; the DISCRIMINATING
    // case is u BELOW the first d: d(5) u(6) d(1) u(2) — u(2) > d(1) holds
    // per-iteration but fails against the first d(5)
    assert(run(tRefOk, "A ((D U){1,2} C)+ X", defsRef) == Seq((2L, 2L, 1L, 8.0)))
    val tRefIter = tape(Seq((1, "a", 0.0), (2, "d", 5.0), (3, "u", 6.0),
      (4, "d", 1.0), (5, "u", 2.0), (6, "c", 0.0), (7, "e", 0.0)))
    assert(run(tRefIter, "A ((D U){1,2} C)+ X", defsRef) == Seq((2L, 2L, 1L, 8.0)))

    // round 16 lifted the zero-min and depth-2 gates — those forms now
    // COMPILE (their behavior is pinned by the round-16 suites); the one
    // remaining typed gate here is the reluctant OUTER group over a
    // nested group (third preference level)
    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape(Seq((1, "a", 0.0)))))).getMessage
    def mrOf(pat: String) = mr("count(D.v) AS n_d", pat, defs, "n_d BIGINT")
    GraftApp.run(spark, mrOf("A ((D U){0,2} C)+ X"),
      Map("E" -> tape(Seq((1, "a", 0.0)))))
    // round 16 also lifted the reluctant-outer-over-nested gate (the
    // hist-stream preference with the outer direction) — compiles now
    GraftApp.run(spark, mrOf("A ((D U){1,2} C)+? X"),
      Map("E" -> tape(Seq((1, "a", 0.0)))))
    // multi-member VARIABLE-count groups two levels deep stay typed (the
    // genuine third-frame case)
    assert(errOf(mrOf("A (((D U){1,2} C){1,2} X)+")).nonEmpty)
  }

  test("MATCH_RECOGNIZE quantified PERMUTE: PERMUTE(D, U){1,2} runs the engine PERMUTE-loop (round 15)") {
    def tape(rows: Seq[(Int, String, Double)]) = rows.map { case (s, k, v) => (s, 7L, k, v) }
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def mr(pattern: String) = {
      val defC = if (pattern.contains("C")) ",\n         C AS C.kind = 'c'" else ""
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out (n_d BIGINT, n_u BIGINT, d1 DOUBLE, u1 DOUBLE);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES count(D.v) AS n_d, count(U.v) AS n_u,
         |           FIRST(D.v) AS d1, FIRST(U.v) AS u1
         |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN ($pattern) WITHIN INTERVAL '1' HOUR
         |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd', U AS U.kind = 'u'$defC);""".stripMargin
    }
    def run(t: org.apache.spark.sql.DataFrame, pattern: String) =
      GraftApp.run(spark, mr(pattern), Map("E" -> t))("Out")
        .selectExpr("CAST(n_d AS BIGINT)", "CAST(n_u AS BIGINT)", "d1", "u1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._3)).toSeq
    // d-first arm, 1 and 2 iterations (prefix matches under NEXT ROW)
    val tDu = tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 3.0), (5, "u", 4.0), (6, "c", 0.0)))
    assert(run(tDu, "A PERMUTE(D, U){1,2} C") == Seq((2L, 2L, 1.0, 2.0)))
    // u-first arm binds the REVERSED ordering variant
    val tUd = tape(Seq((1, "a", 0.0), (2, "u", 2.0), (3, "d", 1.0), (4, "c", 0.0)))
    assert(run(tUd, "A PERMUTE(D, U){1,2} C") == Seq((1L, 1L, 1.0, 2.0)))
    // MIXED orders across iterations do NOT match: the interleaving is
    // chosen per match and repeats (documented PERMUTE-loop semantics)
    val tMix = tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "u", 4.0), (5, "d", 3.0), (6, "c", 0.0)))
    assert(run(tMix, "A PERMUTE(D, U){1,2} C") == Seq())
    // ending ON the loop: both iteration counts emit per anchor
    assert(run(tDu, "A PERMUTE(D, U){1,2}") == Seq((1L, 1L, 1.0, 2.0), (2L, 2L, 1.0, 2.0)))
    // unbounded +: WITHIN-gated, three iterations
    val tDu3 = tape(Seq((1, "a", 0.0), (2, "d", 1.0), (3, "u", 2.0),
      (4, "d", 3.0), (5, "u", 4.0), (6, "d", 5.0), (7, "u", 6.0), (8, "c", 0.0)))
    assert(run(tDu3, "A PERMUTE(D, U)+ C") == Seq((3L, 3L, 1.0, 2.0)))
    // {1} normalizes to the plain PERMUTE element (structural equality)
    assert(GraftApp.parse(mr("A PERMUTE(D, U){1} C")).patterns.head.variants ==
      GraftApp.parse(mr("A PERMUTE(D, U) C")).patterns.head.variants)
    // typed gates: zero-min, reluctant, operand cap
    def errOf(pat: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, mr(pat), Map("E" -> tDu))).getMessage
    assert(errOf("A PERMUTE(D, U)? C").contains("zero-min"))
    assert(errOf("A PERMUTE(D, U)* C").contains("zero-min"))
    assert(errOf("A PERMUTE(D, U){0,2} C").contains("zero-min"))
    assert(errOf("A PERMUTE(D, U)+? C").contains("reluctant"))
  }

  test("conflicting AFTER MATCH resume modes on the engine surface die typed (ADVICE r14)") {
    import spark.implicits._
    val tape = Seq((1, 7L, "a", 1.0), (2, 7L, "b", 2.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    // spelling SKIP PAST LAST ROW *and* SKIP TO NEXT ROW with a reluctant
    // quantifier used to silently resolve to NEXT ROW's resume = start + 1
    def app(skips: String) =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out (n_b BIGINT);
         |INSERT INTO Out SELECT count(B.v) AS n_b
         |FROM SEQUENCE (EVERY (A=E[kind = 'a'] -> B=E[kind = 'b']+?))
         |WITHIN 1 HOUR PARTITION BY user_id $skips;""".stripMargin
    def errOf(a: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, a, Map("E" -> tape))).getMessage
    assert(errOf(app("SKIP PAST LAST ROW SKIP TO NEXT ROW"))
      .contains("exactly one AFTER MATCH resume mode"))
    assert(errOf(app("SKIP TO LAST B SKIP TO NEXT ROW"))
      .contains("exactly one AFTER MATCH resume mode"))
    // each mode alone still compiles and runs
    assert(GraftApp.run(spark, app("SKIP PAST LAST ROW"), Map("E" -> tape))("Out")
      .count() == 1L)
    assert(GraftApp.run(spark, app("SKIP TO NEXT ROW"), Map("E" -> tape))("Out")
      .count() == 1L)
  }

  test("MATCH_RECOGNIZE reluctant quantifiers: +? / {n,m}? prefer the fewest repetitions under skip selection") {
    def tape(rows: Seq[(Int, String, Double)]) = rows.map { case (s, k, v) => (s, 7L, k, v) }
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def mr(measures: String, pattern: String, define: String, out: String,
           skip: String = "AFTER MATCH SKIP PAST LAST ROW") =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out ($out);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES $measures
         |  ONE ROW PER MATCH $skip
         |  PATTERN ($pattern) WITHIN INTERVAL '1' HOUR
         |  DEFINE $define);""".stripMargin

    // 1. trailing B+? vs B+ on the same tape: a b b b a b — greedy takes
    // the whole streak (3,1); reluctant stops at the first B (1,1) and
    // resumes earlier, but the extra b rows cannot anchor, so the SAME
    // match count with DIFFERENT extents (exactly ANSI's difference)
    val t1 = tape(Seq((1, "a", 0.0), (2, "b", 1.0), (3, "b", 2.0),
      (4, "b", 3.0), (5, "a", 0.0), (6, "b", 4.0)))
    def nb(pat: String) = GraftApp.run(spark,
      mr("count(B.v) AS n_b", pat, "A AS A.kind = 'a', B AS B.kind = 'b'",
        "n_b BIGINT"), Map("E" -> t1))("Out")
      .select("n_b").collect().map(_.getLong(0)).sorted.toSeq
    assert(nb("A B+") == Seq(1L, 3L))
    assert(nb("A B+?") == Seq(1L, 1L))

    // 2. interior reluctant: A{1,2}? B{1,2} over x x x — greedy parse is
    // (2,1); reluctant-first backtracking prefers a=1, then b max = (1,2)
    val t2 = tape((1 to 3).map(i => (i, "x", i.toDouble)))
    def ab(pat: String) = GraftApp.run(spark,
      mr("count(A.v) AS n_a, count(B.v) AS n_b", pat,
        "A AS A.kind = 'x', B AS B.kind = 'x'", "n_a BIGINT, n_b BIGINT"),
      Map("E" -> t2))("Out")
      .select("n_a", "n_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ab("A{1,2} B{1,2}") == Seq((2L, 1L)))
    assert(ab("A{1,2}? B{1,2}") == Seq((1L, 2L)))

    // 3. mid-chain B+? where B's predicate overlaps C's: B absorbs ANY
    // positive value (including c rows) — reluctant stops at the FIRST c,
    // greedy runs to the LAST completable one
    val t3 = tape(Seq((1, "a", 0.0), (2, "p", 1.0), (3, "p", 2.0),
      (4, "c", 3.0), (5, "p", 4.0), (6, "c", 5.0)))
    def bc(pat: String) = GraftApp.run(spark,
      mr("count(B.v) AS n_b", pat,
        "A AS A.kind = 'a', B AS B.v > 0, C AS C.kind = 'c'", "n_b BIGINT"),
      Map("E" -> t3))("Out")
      .select("n_b").collect().map(_.getLong(0)).toSeq
    assert(bc("A B+ C") == Seq(4L))  // B = {p,p,c,p}, C = c@6
    assert(bc("A B+? C") == Seq(2L)) // B = {p,p}, C = c@4

    // 4. round 14 — reluctance composes with SKIP TO NEXT ROW: one
    // preferred (fewest-repetition) parse per START, overlapping starts
    // allowed. Same-kind anchors make the modes observably different:
    // b b b under (A B+?) with A = B = 'b' — NEXT ROW emits both pairs
    // (b1,b2) and (b2,b3); SKIP PAST consumes b2 and emits only (b1,b2).
    val tb = tape(Seq((1, "b", 1.0), (2, "b", 2.0), (3, "b", 3.0)))
    def bb(skipMode: String) = GraftApp.run(spark,
      mr("count(B.v) AS n_b", "A B+?", "A AS A.kind = 'b', B AS B.kind = 'b'",
        "n_b BIGINT", skip = skipMode), Map("E" -> tb))("Out")
      .select("n_b").collect().map(_.getLong(0)).toSeq
    assert(bb("AFTER MATCH SKIP TO NEXT ROW") == Seq(1L, 1L))
    assert(bb("AFTER MATCH SKIP PAST LAST ROW") == Seq(1L))
    // without ANY skip mode on the engine surface reluctance stays typed
    // (nothing selects a preferred parse in the EVERY enumeration)
    val err = intercept[GraftApp.SqlError](GraftApp.run(spark,
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (n_b BIGINT);
        |INSERT INTO Out SELECT count(B.v) AS n_b FROM SEQUENCE (EVERY (
        |  A=E[kind = 'a'] -> B=E[kind = 'b']+?)) WITHIN 1 HOUR;""".stripMargin,
      Map("E" -> t1)))
    assert(err.getMessage.contains("skip mode"))

    // 5. composes with SKIP TO LAST: resume at the reluctant B's row
    val t5 = tape(Seq((1, "a", 0.0), (2, "b", 1.0), (3, "b", 2.0)))
    val got5 = GraftApp.run(spark,
      mr("count(B.v) AS n_b", "A B+?", "A AS A.kind = 'a', B AS B.kind = 'b'",
        "n_b BIGINT", skip = "AFTER MATCH SKIP TO LAST B"),
      Map("E" -> t5))("Out")
      .select("n_b").collect().map(_.getLong(0)).toSeq
    assert(got5 == Seq(1L)) // resume at b@2: no further anchor
  }

  test("MATCH_RECOGNIZE SKIP PAST LAST ROW: adversarial monotone streak is linear, not quadratic") {
    // one key, one DIP then 10^4 monotone UP rows: the EVERY match set for
    // (A B+) is 10^4 matches totalling ~5*10^7 collected events — the
    // enumerate-then-filter shape materializes all of it to select ONE
    // greedy match. The incremental consume-on-match machine holds one
    // partial + one candidate, so this completes in seconds; a quadratic
    // crawl blows the suite timeout (and the old shape OOMs well before
    // 10^5). Correctness: exactly one match, B count = the full streak.
    val n = 10000
    val rows = (0, 7L, "a", 0.0) +: (1 to n).map(i => (i, 7L, "b", i.toDouble))
    val streak = rows.toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (n_b BIGINT, last_v DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n_b, LAST(B.v) AS last_v
        |  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B+) WITHIN INTERVAL '30' DAY
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val t0 = System.nanoTime()
    val got = GraftApp.run(spark, app, Map("E" -> streak))("Out")
      .select("n_b", "last_v")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(got.toSeq == Seq((n.toLong, n.toDouble)))
    // generous wall bound — the point is catching a reversion to the
    // enumerate-everything shape (minutes/OOM), not micro-benchmarking
    assert(sec < 60.0, s"monotone streak took ${sec}s — quadratic reversion?")
  }

  test("MATCH_RECOGNIZE: ALL ROWS PER MATCH composes with SKIP PAST LAST ROW; alternation composes with skip-past") {
    // a b b b: skip-past keeps ONLY the greedy n_b=3 match; ALL ROWS
    // explodes exactly its 4 rows (the every-mode would emit 1+2+3+4 rows
    // across three matches)
    val tape = Seq((1, 7L, "a", 1.0), (2, 7L, "b", 2.0), (3, 7L, "b", 3.0),
      (4, 7L, "b", 4.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   n_b BIGINT, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n_b
        |  ALL ROWS PER MATCH
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> tape))("Out")
      .select("v", "n_b", "mr_match_number", "mr_classifier")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1.0, 3L, 1L, "A"), (2.0, 3L, 1L, "B"),
      (3.0, 3L, 1L, "B"), (4.0, 3L, 1L, "B")))

    // alternation head + skip-past: (A|B) C pairs off without overlap and
    // the unmatched alternative reads NULL
    val tape2 = Seq((1, 7L, "a", 1.0), (2, 7L, "c", 2.0), (3, 7L, "b", 3.0),
      (4, 7L, "c", 4.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app2 =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, b_v DOUBLE, c_v DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.v AS a_v, B.v AS b_v, C.v AS c_v
        |  ONE ROW PER MATCH
        |  PATTERN ((A | B) C) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c');""".stripMargin
    val got2 = GraftApp.run(spark, app2, Map("E" -> tape2))("Out")
      .select("a_v", "b_v", "c_v")
      .collect().map(r => (
        if (r.isNullAt(0)) -1.0 else r.getDouble(0),
        if (r.isNullAt(1)) -1.0 else r.getDouble(1), r.getDouble(2)))
      .sortBy(_._3)
    assert(got2.toSeq == Seq((1.0, -1.0, 2.0), (-1.0, 3.0, 4.0)))
  }

  test("MATCH_RECOGNIZE SUBSET: union variables expand over members in MEASURES") {
    // a(10) b(2) b(4) c(6): strict A B+ C has exactly one parse
    val tape = Seq((1, 7L, "a", 10.0, 101L), (2, 7L, "b", 2.0, 102L),
      (3, 7L, "b", 4.0, 103L), (4, 7L, "c", 6.0, 104L))
      .toDF("sec", "user_id", "kind", "v", "id")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v", "id")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE, id BIGINT);
        |CREATE STREAM Out (user_id BIGINT, n_u BIGINT, s_u DOUBLE, v_min DOUBLE,
        |                   v_max DOUBLE, v_avg DOUBLE, u_first BIGINT,
        |                   u_last BIGINT, u_bare DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(U.v) AS n_u, sum(U.v) AS s_u, min(U.v) AS v_min,
        |           max(U.v) AS v_max, avg(U.v) AS v_avg, FIRST(U.id) AS u_first,
        |           LAST(U.id) AS u_last, U.v AS u_bare
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+ C) WITHIN INTERVAL '1' HOUR
        |  SUBSET U = (B, C)
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c');""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> tape))("Out").collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
      r.getDouble(5), r.getLong(6), r.getLong(7), r.getDouble(8)) ==
      ((3L, 12.0, 2.0, 6.0, 4.0, 102L, 104L, 6.0)))

    // scalar + collection members mix: W = (A, B) — A contributes one row
    val app2 =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE, id BIGINT);
        |CREATE STREAM Out (user_id BIGINT, n_w BIGINT, s_w DOUBLE,
        |                   w_first DOUBLE, w_last DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(W.v) AS n_w, sum(W.v) AS s_w,
        |           FIRST(W.v) AS w_first, LAST(W.v) AS w_last
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  SUBSET W = (A, B)
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    val got2 = GraftApp.run(spark, app2, Map("E" -> tape))("Out").collect()
    assert(got2.length == 1)
    val r2 = got2.head
    assert((r2.getLong(1), r2.getDouble(2), r2.getDouble(3), r2.getDouble(4)) ==
      ((3L, 16.0, 10.0, 4.0)))

    // typed gates
    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape))).getMessage
    assert(errOf(app.replace("U = (B, C)", "U = (B, X)"))
      .contains("not a pattern variable"))
    assert(errOf(app.replace("U = (B, C)", "B = (A, C)")).contains("collides"))
    assert(errOf(app2.replace("B AS B.kind = 'b'", "B AS B.v > W.v"))
      .contains("MEASURES only"))
    assert(errOf(app.replace("FIRST(U.id)", "FIRST(U.id, 2)"))
      .contains("logical offsets"))
  }

  test("MATCH_RECOGNIZE CLASSIFIER()/MATCH_NUMBER() and pattern exclusion {- v -}") {
    val tape = Seq((1, 7L, "a", 1.0), (2, 7L, "b", 2.0), (3, 7L, "b", 4.0))
      .toDF("sec", "user_id", "kind", "v")
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
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    val rows = GraftApp.run(spark, app, Map("E" -> tape))("Out").collect()
    // every-mode: (a,b1) and (a,b1,b2) = 5 rows; the measures alias the
    // appended columns exactly
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[String]("cls") == r.getAs[String]("mr_classifier"))
      assert(r.getAs[Long]("mn") == r.getAs[Long]("mr_match_number"))
    }

    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape))).getMessage
    assert(errOf(app.replace("ALL ROWS PER MATCH", "ONE ROW PER MATCH"))
      .contains("ALL ROWS"))
    assert(errOf(app.replace("CLASSIFIER() AS cls", "concat(CLASSIFIER(), 'x') AS cls"))
      .contains("entire expression"))

    // exclusion {- A -}: A still anchors (and numbers) the match; only B
    // rows are emitted
    val appEx =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   n_b BIGINT, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n_b
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ({- A -} B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    val ex = GraftApp.run(spark, appEx, Map("E" -> tape))("Out")
      .select("v", "n_b", "mr_match_number", "mr_classifier")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._3, t._1))
    assert(ex.toSeq == Seq((2.0, 1L, 1L, "B"),
      (2.0, 2L, 2L, "B"), (4.0, 2L, 2L, "B")))

    // ONE ROW exclusion is ANSI's defined no-op
    val one =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, n_b BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n_b
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A {- B+ -}) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    val gotOne = GraftApp.run(spark, one, Map("E" -> tape))("Out")
      .select("n_b").as[Long].collect().sorted.toSeq
    assert(gotOne == Seq(1L, 2L))

    // engine grammar: EXCLUDING an unknown variable is typed
    val native =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   n_b BIGINT, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT count(B.v) AS n_b
        |FROM SEQUENCE (EVERY (A=E[kind = 'a'] -> B=E[kind = 'b']+))
        |WITHIN 1 HOUR PARTITION BY user_id EMIT ALL ROWS EXCLUDING (Z);""".stripMargin
    assert(errOf(native).contains("not a pattern step variable"))
  }

  test("MATCH_RECOGNIZE RUNNING/FINAL semantics keywords") {
    val tape = Seq((1, 7L, "a", 1.0), (2, 7L, "b", 2.0), (3, 7L, "b", 4.0))
      .toDF("sec", "user_id", "kind", "v")
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
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> tape))("Out")
      .selectExpr("v", "rc", "coalesce(rs, -1.0) AS rs", "n_b", "mr_match_number")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._5, t._1))
    // match 1 = (a, b1); match 2 = (a, b1, b2): the RUNNING prefix grows
    // per row while FINAL stays the whole-match constant
    assert(got.toSeq == Seq(
      (1.0, 0L, -1.0, 1L, 1L), (2.0, 1L, 2.0, 1L, 1L),
      (1.0, 0L, -1.0, 2L, 2L), (2.0, 1L, 2.0, 2L, 2L), (4.0, 2L, 6.0, 2L, 2L)))

    // exclusion feeds RUNNING (ANSI: output-only): dropping A leaves the
    // B rows' running counts unchanged
    val exApp = app.replace("PATTERN (A B+)", "PATTERN ({- A -} B+)")
    val ex = GraftApp.run(spark, exApp, Map("E" -> tape))("Out")
      .select("v", "rc", "mr_match_number")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1))
    assert(ex.toSeq == Seq((2.0, 1L, 1L), (2.0, 1L, 2L), (4.0, 2L, 2L)))

    // ONE ROW: RUNNING coincides with FINAL at the match's final row — the
    // keyword strips and both spellings agree
    val one =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, r_n BIGINT, f_n BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES RUNNING count(B.v) AS r_n, FINAL count(B.v) AS f_n
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    val gotOne = GraftApp.run(spark, one, Map("E" -> tape))("Out")
      .select("r_n", "f_n").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gotOne.forall(t => t._1 == t._2) && gotOne.length == 2)

    // typed gates: RUNNING beyond the aggregate forms
    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape))).getMessage
    assert(errOf(app.replace("RUNNING count(B.v)", "RUNNING LAST(B.v)"))
      .contains("RUNNING supports"))
  }

  test("MATCH_RECOGNIZE ALL ROWS WITH UNMATCHED ROWS: unclaimed input rows join with NULLs") {
    val tape = Seq((1, 7L, "a", 1.0), (2, 7L, "b", 2.0), (3, 7L, "b", 4.0),
      (4, 7L, "c", 9.0))
      .toDF("sec", "user_id", "kind", "v")
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
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> tape))("Out")
      .selectExpr("kind", "v", "coalesce(n_b, -1) AS n_b",
        "coalesce(mr_match_number, -1) AS mn",
        "coalesce(mr_classifier, '-') AS cls")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .sortBy(t => (t._4, t._2))
    // matches (a,b1) and (a,b1,b2) emit 5 rows; the c row is unmatched
    assert(got.toSeq == Seq(
      ("c", 9.0, -1L, -1L, "-"),
      ("a", 1.0, 1L, 1L, "A"), ("b", 2.0, 1L, 1L, "B"),
      ("a", 1.0, 2L, 2L, "A"), ("b", 2.0, 2L, 2L, "B"), ("b", 4.0, 2L, 2L, "B")))

    // SHOW/OMIT EMPTY MATCHES: ANSI no-ops here (first variable required)
    GraftApp.run(spark, app.replace("WITH UNMATCHED ROWS", "OMIT EMPTY MATCHES"),
      Map("E" -> tape))
    GraftApp.run(spark, app.replace("WITH UNMATCHED ROWS", "SHOW EMPTY MATCHES"),
      Map("E" -> tape))

    // typed gates: exclusion conflict; ONE ROW modifier
    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape))).getMessage
    assert(errOf(app.replace("PATTERN (A B+)", "PATTERN ({- A -} B+)"))
      .contains("mutually exclusive"))
    assert(errOf(app.replace("ALL ROWS PER MATCH WITH UNMATCHED ROWS",
      "ONE ROW PER MATCH WITH UNMATCHED ROWS")).contains("modify ALL ROWS"))
  }

  test("MATCH_RECOGNIZE ALL ROWS with alternation: per-row classifier resolves the matched alternative") {
    // a c b c: (A|B) C matches (a,c1) and (b,c2) — the head row's
    // classifier names WHICH alternative bound it
    val tape = Seq((1, 7L, "a", 1.0), (2, 7L, "c", 2.0), (3, 7L, "b", 3.0),
      (4, 7L, "c", 4.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   c_v DOUBLE, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES C.v AS c_v
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ((A | B) C) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c');""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> tape))("Out")
      .select("v", "c_v", "mr_match_number", "mr_classifier")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._3, t._1))
    assert(got.toSeq == Seq(
      (1.0, 2.0, 1L, "A"), (2.0, 2.0, 1L, "C"),
      (3.0, 4.0, 2L, "B"), (4.0, 4.0, 2L, "C")))

    // engine-level EXCLUDING of one ALTERNATIVE drops only its rows
    val native =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
        |                   c_v DOUBLE, mr_match_number BIGINT, mr_classifier STRING);
        |INSERT INTO Out SELECT C.v AS c_v
        |FROM SEQUENCE (EVERY (A=E[kind = 'a'] OR B=E[kind = 'b'] -> C=E[kind = 'c']))
        |WITHIN 1 HOUR PARTITION BY user_id EMIT ALL ROWS EXCLUDING (B);""".stripMargin
    val ex = GraftApp.run(spark, native, Map("E" -> tape))("Out")
      .select("v", "mr_classifier")
      .collect().map(r => (r.getDouble(0), r.getString(1))).sortBy(_._1)
    assert(ex.toSeq == Seq((1.0, "A"), (2.0, "C"), (4.0, "C")))
  }

  test("MATCH_RECOGNIZE PERMUTE: every member ordering via the engine's n-ary AND") {
    // b a a b: strict adjacency matches (b,a) as B->A and (a,b) as A->B
    val tape = Seq((1, 7L, "b", 2.0), (2, 7L, "a", 1.0), (3, 7L, "a", 3.0),
      (4, 7L, "b", 4.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, b_v DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.v AS a_v, B.v AS b_v
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (PERMUTE(A, B)) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> tape))("Out")
      .select("a_v", "b_v")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1.0, 2.0), (3.0, 4.0)))

    // 3-way: one tape ordering matches exactly one of the 6 variants once
    val tape3 = Seq((1, 7L, "c", 9.0), (2, 7L, "a", 1.0), (3, 7L, "b", 2.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val app3 =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, b_v DOUBLE, c_v DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.v AS a_v, B.v AS b_v, C.v AS c_v
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (PERMUTE(A, B, C)) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c');""".stripMargin
    val got3 = GraftApp.run(spark, app3, Map("E" -> tape3))("Out")
      .select("a_v", "b_v", "c_v")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(got3.toSeq == Seq((1.0, 2.0, 9.0)))

    // round 14: PERMUTE composes as a CHAIN ELEMENT — the AND element
    // interleaves only its own operands; the surrounding chain keeps order
    val tapeMid = Seq((1, 7L, "x", 0.5), (2, 7L, "b", 2.0), (3, 7L, "a", 1.0),
      (4, 7L, "z", 5.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val appMid =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, b_v DOUBLE, z_v DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.v AS a_v, B.v AS b_v, Z.v AS z_v
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (X PERMUTE(A, B) Z) WITHIN INTERVAL '1' HOUR
        |  DEFINE X AS X.kind = 'x', A AS A.kind = 'a', B AS B.kind = 'b',
        |         Z AS Z.kind = 'z');""".stripMargin
    val gotMid = GraftApp.run(spark, appMid, Map("E" -> tapeMid))("Out")
      .select("a_v", "b_v", "z_v")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(gotMid == Seq((1.0, 2.0, 5.0))) // B-then-A interleaving bound
    // chain order around the element is NOT permuted: z before the pair
    // does not match
    val tapeBad = Seq((1, 7L, "x", 0.5), (2, 7L, "z", 5.0), (3, 7L, "b", 2.0),
      (4, 7L, "a", 1.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    assert(GraftApp.run(spark, appMid, Map("E" -> tapeBad))("Out").count() == 0)

    // typed gates: PERMUTE×group, quantified PERMUTE, SUBSET member
    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape))).getMessage
    assert(errOf(app.replace("PATTERN (PERMUTE(A, B))",
      "PATTERN (PERMUTE(A, B) (D U)+)")).contains("group repetition"))
    // quantified PERMUTE is round-15 surface (PERMUTE-loop) — the
    // remaining typed quantifier forms are zero-min and reluctant
    assert(errOf(app.replace("PATTERN (PERMUTE(A, B))",
      "PATTERN (PERMUTE(A, B)?)")).contains("zero-min quantified PERMUTE"))
    assert(errOf(app.replace("MEASURES A.v AS a_v",
      "MEASURES LAST(U.v) AS a_v").replace("PATTERN (PERMUTE(A, B)) WITHIN INTERVAL '1' HOUR",
      "PATTERN (PERMUTE(A, B)) WITHIN INTERVAL '1' HOUR SUBSET U = (A, B)"))
      .contains("no fixed chain order"))
  }

  test("MATCH_RECOGNIZE SKIP TO FIRST/LAST: partial-overlap resume at the variable's row") {
    // the textbook V-shape: A (any row) + strictly-down run + strictly-up
    // run; values 10 8 6 9 12 7 11 hold two Vs sharing the peak 12
    val tape = Seq(10.0, 8.0, 6.0, 9.0, 12.0, 7.0, 11.0).zipWithIndex
      .map { case (v, i) => (i + 1, 7L, v) }
      .toDF("sec", "user_id", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts", "user_id", "v")
    def mr(skip: String) =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, v DOUBLE);
         |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, n_d BIGINT, n_u BIGINT);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES A.v AS a_v, count(D.v) AS n_d, count(U.v) AS n_u
         |  ONE ROW PER MATCH $skip
         |  PATTERN (A D+ U+) WITHIN INTERVAL '1' HOUR
         |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v));""".stripMargin
    def rows(skip: String) = GraftApp.run(spark, mr(skip), Map("E" -> tape))("Out")
      .select("a_v", "n_d", "n_u")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sorted
    // SKIP TO LAST U: the second V starts AT the first V's peak (12)
    assert(rows("AFTER MATCH SKIP TO LAST U").toSeq ==
      Seq((10.0, 2L, 2L), (12.0, 1L, 1L)).sorted)
    // SKIP PAST LAST ROW: the peak is consumed — the second V's would-be
    // anchor lands mid-descent where D+ can no longer complete: one match
    assert(rows("AFTER MATCH SKIP PAST LAST ROW").toSeq == Seq((10.0, 2L, 2L)))
    // SKIP TO FIRST D: resume INSIDE the previous match — the overlapping
    // truncated V (anchor 8, one down-step) is found, then the second V
    assert(rows("AFTER MATCH SKIP TO FIRST D").toSeq ==
      Seq((10.0, 2L, 2L), (8.0, 1L, 2L), (12.0, 1L, 1L)).sorted)
    // gates: head alias, unknown alias, streaming
    def errOf(app: String) = intercept[GraftApp.SqlError](
      GraftApp.run(spark, app, Map("E" -> tape))).getMessage
    assert(errOf(mr("AFTER MATCH SKIP TO FIRST A")).contains("first variable"))
    assert(errOf(mr("AFTER MATCH SKIP TO LAST Q")).contains("not a pattern variable"))
  }

  test("MATCH_RECOGNIZE alternation (A|B): lowers to the engine's OR step, equal to the native spelling") {
    // a c | b c | x c: (A|B) binds signup-or-view; the unmatched
    // alternative's measures are NULL; x anchors nothing
    val in = Seq((1, 7L, "a", 1.0), (2, 7L, "c", 2.0), (3, 7L, "b", 3.0),
      (4, 7L, "c", 4.0), (5, 7L, "x", 5.0), (6, 7L, "c", 6.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val mr =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, b_v DOUBLE, c_v DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.v AS a_v, B.v AS b_v, C.v AS c_v
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ((A | B) C) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
        |);""".stripMargin
    val native =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, b_v DOUBLE, c_v DOUBLE);
        |INSERT INTO Out
        |SELECT coalesce(A.user_id, B.user_id) AS user_id, A.v AS a_v,
        |       B.v AS b_v, C.v AS c_v
        |FROM SEQUENCE (EVERY (A=E[kind = 'a'] OR B=E[kind = 'b'] -> C=E[kind = 'c']))
        |WITHIN 1 HOUR PARTITION BY user_id;""".stripMargin
    def rows(app: String) = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1.0 else r.getDouble(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2),
        r.getDouble(3))).sortBy(_._4)
    val got = rows(mr)
    assert(got.toSeq == rows(native).toSeq)
    assert(got.toSeq == Seq((7L, 1.0, -1.0, 2.0), (7L, -1.0, 3.0, 4.0)))
  }

  test("MATCH_RECOGNIZE: the faithful-subset boundaries are typed errors") {
    def mk(clause: String): String =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out (a DOUBLE);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE ($clause);""".stripMargin
    def err(clause: String): String =
      intercept[GraftApp.SqlError](
        GraftApp.run(spark, mk(clause), Map("E" -> mrEvents))).getMessage
    val base = """ORDER BY ts MEASURES A.v AS a AFTER MATCH SKIP TO NEXT ROW
                 |PATTERN (A B) DEFINE A AS A.kind = 'a'""".stripMargin
    // every ANSI skip mode is now supported (round 12); what remains typed:
    // resuming at the chain's own head (ANSI's runtime-error case, caught
    // at compile), unknown variables, and garbled forms
    assert(err(base.replace("AFTER MATCH SKIP TO NEXT ROW",
      "AFTER MATCH SKIP TO FIRST A")).contains("first variable"))
    assert(err(base.replace("AFTER MATCH SKIP TO NEXT ROW",
      "AFTER MATCH SKIP TO LAST Z")).contains("not a pattern variable"))
    assert(err(base.replace("AFTER MATCH SKIP TO NEXT ROW",
      "AFTER MATCH SKIP SOMEWHERE")).contains("AFTER MATCH"))
    assert(err(base.replace("ORDER BY ts", "ORDER BY v")).contains("event-time"))
    assert(err(base.replace("ORDER BY ts ", "")).contains("ORDER BY"))
    // single-level (A|B) alternation is SUPPORTED since round 12 (see the
    // alternation test); sequence grouping and quantified alternation stay
    // typed rejections
    assert(err(base.replace("PATTERN (A B)", "PATTERN ((A B) C)"))
      .contains("alternation"))
    assert(err(base.replace("PATTERN (A B)", "PATTERN ((A|B)+ C)"))
      .contains("quantified alternation"))
    assert(err(base.replace("PATTERN (A B)", "PATTERN ((A|A) C)"))
      .contains("duplicate alternative"))
    // FIRST/LAST stay DEFINE rejections; PREV over an expression (not a
    // single column of the defining variable) is outside the subset
    assert(err(base.replace("A AS A.kind = 'a'",
      "A AS FIRST(A.v) < A.v")).contains("FIRST"))
    assert(err(base.replace("A AS A.kind = 'a'",
      "A AS PREV(A.v + 1) < A.v")).contains("PREV"))
    assert(err(base.replace("A AS A.kind = 'a'",
      "A AS PREV(B.v) < A.v")).contains("PREV"))
    assert(err(base.replace("DEFINE A AS A.kind = 'a'",
      "DEFINE Z AS Z.v > 0")).contains("not a pattern variable"))
    assert(err(base.replace("PATTERN (A B)", "PATTERN (A? B)"))
      .contains("must be required"))
    // outer SELECT must be *
    val sel = intercept[GraftApp.SqlError](GraftApp.run(spark,
      mk(base).replace("SELECT *", "SELECT a"), Map("E" -> mrEvents)))
    assert(sel.getMessage.contains("SELECT *"))
    // review findings: silently-dropped header text must be typed errors
    assert(err(base.replace("ORDER BY ts", "ORDER BY ts DESC"))
      .contains("DESC")) // residue check — DESC is not silently ascending
    assert(err(base.replace("ORDER BY ts", "ORDER BY ts, v"))
      .contains("unrecognized")) // extra sort keys likewise
    assert(err(base.replace("DEFINE A AS A.kind = 'a'",
      "DEFINE A AS A.v > 100, A AS A.kind = 'a'"))
      .contains("duplicate DEFINE")) // last-wins toMap would drop a pred
  }

  test("MATCH_RECOGNIZE text inside literals/identifiers stays out of the parser") {
    // a string literal mentioning the keyword must not drag the statement
    // into the MR parser (the bare-substring guard rejected this before)
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (note STRING);
        |INSERT INTO Out SELECT 'see MATCH_RECOGNIZE docs' AS note FROM E;""".stripMargin
    val out = GraftApp.run(spark, app, Map("E" -> mrEvents))("Out")
    assert(out.collect().length == mrEvents.count())
    // and WITHIN-shaped text inside a DEFINE literal stays in the predicate
    // (the clause regex used to excise it and invent a real WITHIN bound)
    val lit =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (k STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES A.kind AS k
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A)
        |  DEFINE A AS A.kind = 'WITHIN 5 MINUTES'
        |);""".stripMargin
    import spark.implicits._
    val in = Seq((1, 7L, "WITHIN 5 MINUTES", 1.0), (2, 7L, "x", 2.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val got = GraftApp.run(spark, lit, Map("E" -> in))("Out")
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("WITHIN 5 MINUTES")) // literal survived intact
  }

  test("MATCH_RECOGNIZE: rewrites never touch string literals (review finding)") {
    // the DEFINE self-reference strip and the MEASURES FIRST/LAST lowering
    // are quote-masked: a pattern-variable prefix or navigation spelling
    // INSIDE a literal must pass through verbatim, and a literal 'PREV('
    // must not trip the navigation rejection
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (k STRING, tag STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES A.kind AS k, 'LAST(B.v) A. PREV(x)' AS tag
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A)
        |  DEFINE A AS A.kind = 'A.x'
        |);""".stripMargin
    import spark.implicits._
    val in = Seq((1, 7L, "A.x", 1.0), (2, 7L, "x", 2.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getString(0), r.getString(1)))
    // without masking, DEFINE would compare against 'x' (stripped literal)
    // and match the wrong event; the MEASURES literal would be mangled into
    // indexed-access spellings
    assert(got.toSeq == Seq(("A.x", "LAST(B.v) A. PREV(x)")))
  }

  test("MATCH_RECOGNIZE: ALL ROWS PER MATCH emits one row per matched event") {
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING,
        |                   v DOUBLE, n_b BIGINT, mr_match_number BIGINT,
        |                   mr_classifier STRING);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES count(B.v) AS n_b
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val got = GraftApp.run(spark, app, Map("E" -> mrEvents))("Out")
      .collect().map(r => (r.getLong(1), r.getDouble(3), r.getLong(4),
        r.getLong(5), r.getString(6)))
      .sortBy(t => (t._1, t._3, t._2))
    // user 7: match {A=1.0, B=[2.0]} and {A=1.0, B=[2.0,3.0]} (EVERY emits
    // both prefixes); user 9: {A=5.0, B=[6.0]} — measures are FINAL
    // (constant across a match's rows), classifier names the variable,
    // mr_match_number groups rows back into matches (numbered per
    // partition by event position: the 1-length prefix is match 1)
    assert(got.toSeq == Seq(
      (7L, 1.0, 1L, 1L, "A"), (7L, 2.0, 1L, 1L, "B"),
      (7L, 1.0, 2L, 2L, "A"), (7L, 2.0, 2L, 2L, "B"), (7L, 3.0, 2L, 2L, "B"),
      (9L, 5.0, 1L, 1L, "A"), (9L, 6.0, 1L, 1L, "B")))
  }

  test("MATCH_RECOGNIZE: PREV/NEXT physical navigation in DEFINE and MEASURES") {
    // DEFINE with PREV: b-events only count when STRICTLY rising vs the
    // physically previous row; MEASURES PREV/NEXT reach outside the match
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, rise_v DOUBLE, before_a DOUBLE,
        |                   after_b DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES B.v AS rise_v, PREV(A.v) AS before_a, NEXT(B.v) AS after_b
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b' AND B.v > PREV(B.v)
        |);""".stripMargin
    // user 7 rows: a(1), b(0.5) [not rising], a(2), b(7) [rising], c(9)
    val in = Seq(
      (1, 7L, "a", 1.0), (2, 7L, "b", 0.5), (3, 7L, "a", 2.0),
      (4, 7L, "b", 7.0), (5, 7L, "c", 9.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
    // only A=a@3, B=b@4 matches (b@2 is not rising: 0.5 < 1.0);
    // PREV(A.v) = the row before a@3 = b@2's 0.5; NEXT(B.v) = c@5's 9.0
    assert(got.toSeq == Seq((7L, 7.0, 0.5, 9.0)))
  }

  test("pattern column references: unknown columns die typed, in the user's vocabulary") {
    // previously Spark's AnalysisException leaked INTERNAL join aliases
    // (__nav_prev_A_1.nosuch); the round-11 gate validates refs against
    // the stream schema at compile
    def mk(measures: String, defA: String): String =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out (user_id BIGINT, x DOUBLE);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES $measures
         |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN (A B) WITHIN INTERVAL '1' HOUR
         |  DEFINE $defA, B AS B.kind = 'b');""".stripMargin
    def err(app: String): String =
      intercept[GraftApp.SqlError](
        GraftApp.run(spark, app, Map("E" -> mrEvents))).getMessage
    val e1 = err(mk("A.nosuch AS x", "A AS A.kind = 'a'"))
    assert(e1.contains("unknown column 'A.nosuch'") && e1.contains("stream columns"))
    val e2 = err(mk("A.v AS x", "A AS A.nosuch = 'a'"))
    assert(e2.contains("unknown column 'nosuch'"))
    val e3 = err(mk("PREV(A.nosuch) AS x", "A AS A.kind = 'a'"))
    assert(e3.contains("unknown column 'A.nosuch'"))
    assert(!e3.contains("__nav"), "internal alias leaked into the error")
    // valid spellings the gate must NOT reject: niladic function names,
    // lambda-bound variables, struct-ish two-part refs on non-aliases
    val ok =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, x DOUBLE, y TIMESTAMP);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES aggregate(array(A.v, 1.0), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t) AS x,
        |           current_timestamp AS y
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin
    assert(GraftApp.run(spark, ok, Map("E" -> mrEvents))("Out").count() >= 0)
  }

  test("MATCH_RECOGNIZE property: matches + navigation equal a brute-force reference") {
    // 20 deterministic trials of random per-user event tapes; the MR
    // query (strict A B+ within 1h, EVERY) with PREV/NEXT measures is
    // compared against an independent in-process enumeration — not the
    // native-spelling (that equality is pinned elsewhere), an actual
    // second implementation of the semantics
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, n_b BIGINT,
        |                   b_last DOUBLE, before_a DOUBLE, after_b DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES A.v AS a_v, count(B.v) AS n_b, LAST(B.v) AS b_last,
        |           PREV(A.v) AS before_a, NEXT(B.v) AS after_b
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val H = 3600L
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      // unique, sorted timestamps per user (no tie ambiguity); gaps can
      // exceed the 1h WITHIN so the horizon actually gates
      val evs = (for {
        u <- 1L to 2L
        i <- 0 until (5 + rnd.nextInt(14))
      } yield (u, i)).foldLeft(Vector.empty[(Long, Long, String, Double)]) {
        case (acc, (u, i)) =>
          val prevTs = acc.filter(_._2 == u).lastOption.map(_._1).getOrElse(0L)
          val ts = prevTs + 60L + rnd.nextInt(3) * 2000L
          acc :+ ((ts, u, Seq("a", "b", "c")(rnd.nextInt(3)), rnd.nextInt(50).toDouble))
      }
      val in = evs.toDF("sec", "user_id", "kind", "v")
        .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
          "user_id", "kind", "v")
      val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getDouble(3),
          if (r.isNullAt(4)) -1e9 else r.getDouble(4),
          if (r.isNullAt(5)) -1e9 else r.getDouble(5)))
        .sortBy(t => (t._1, t._2, t._3, t._4)).toSeq
      // brute force: per user, every (a at i, b-run prefix i+1..i+k)
      val want = (for {
        u <- Seq(1L, 2L)
        tape = evs.filter(_._2 == u)
        i <- tape.indices if tape(i)._3 == "a"
        k <- 1 to tape.size
        if i + k < tape.size && (1 to k).forall(j => tape(i + j)._3 == "b")
        if tape(i + k)._1 - tape(i)._1 <= H
      } yield (u, tape(i)._4, k.toLong, tape(i + k)._4,
        if (i > 0) tape(i - 1)._4 else -1e9,
        if (i + k + 1 < tape.size) tape(i + k + 1)._4 else -1e9))
        .sortBy(t => (t._1, t._2, t._3, t._4))
      assert(got == want, s"seed $seed: got ${got.size}, want ${want.size}")
    }
  }

  test("MATCH_RECOGNIZE: FIRST/LAST logical offsets and partition-edge NULLs") {
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, b0 DOUBLE, b_penult DOUBLE,
        |                   b_second DOUBLE, before_a DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES FIRST(B.v) AS b0, LAST(B.v, 1) AS b_penult,
        |           FIRST(B.v, 1) AS b_second, PREV(A.v, 1) AS before_a
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B{3}) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |);""".stripMargin
    val in = Seq(
      (1, 7L, "a", 1.0), (2, 7L, "b", 2.0), (3, 7L, "b", 3.0), (4, 7L, "b", 4.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))
    // B = [2,3,4]: FIRST=2, LAST(,1)=3 (penultimate), FIRST(,1)=3 (second);
    // PREV(A.v,1): a@1 is the partition's first row → NULL, not an error
    assert(got.toSeq == Seq((2.0, 3.0, 3.0, null)))
  }
  test("CREATE FUNCTION: expression UDFs compile through Catalyst (round 16)") {
    // basic: used in SELECT, WHERE, and HAVING; stays a pure expression
    val app =
      """CREATE FUNCTION discounted(p, d) AS 'p * (1 - d)';
        |CREATE FUNCTION tagof(s) AS 'CASE WHEN s >= 100 THEN ''big'' ELSE ''small'' END';
        |CREATE STREAM S (sym STRING, price DOUBLE, disc DOUBLE);
        |CREATE STREAM Out (sym STRING, net DOUBLE, tag STRING);
        |INSERT INTO Out SELECT sym, discounted(price, disc) AS net,
        |  tagof(discounted(price, disc)) AS tag
        |FROM S WHERE discounted(price, disc) > 5;""".stripMargin
    val in = Seq(("a", 200.0, 0.25), ("b", 10.0, 0.5), ("c", 8.0, 0.9))
      .toDF("sym", "price", "disc")
    val got = GraftApp.run(spark, app, Map("S" -> in))("Out")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(("a", 150.0, "big")))
    // a function referencing an EARLIER function inlines eagerly
    val app2 =
      """CREATE FUNCTION sq(x) AS 'x * x';
        |CREATE FUNCTION hyp(a, b) AS 'sqrt(sq(a) + sq(b))';
        |CREATE STREAM S (a DOUBLE, b DOUBLE);
        |CREATE STREAM Out (h DOUBLE);
        |INSERT INTO Out SELECT hyp(a, b) AS h FROM S;""".stripMargin
    val got2 = GraftApp.run(spark, app2,
      Map("S" -> Seq((3.0, 4.0)).toDF("a", "b")))("Out")
      .collect().map(_.getDouble(0)).toSeq
    assert(got2 == Seq(5.0))
    // the function name is gone from the session registry after the run
    assert(spark.sessionState.functionRegistry.lookupFunctionBuilder(
      org.apache.spark.sql.catalyst.FunctionIdentifier("hyp")).isEmpty)
    // works in aggregate position operands too
    val app3 =
      """CREATE FUNCTION net(p, d) AS 'p * (1 - d)';
        |CREATE STREAM S (k STRING, p DOUBLE, d DOUBLE);
        |CREATE STREAM Out (k STRING, t DOUBLE);
        |INSERT INTO Out SELECT k, sum(net(p, d)) AS t FROM S GROUP BY k
        |HAVING sum(net(p, d)) > 1;""".stripMargin
    val got3 = GraftApp.run(spark, app3,
      Map("S" -> Seq(("x", 10.0, 0.5), ("x", 20.0, 0.5), ("y", 1.0, 0.5))
        .toDF("k", "p", "d")))("Out")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got3 == Seq(("x", 15.0)))
    def err(a: String): String =
      intercept[GraftApp.SqlError](GraftApp.parse(a)).getMessage
    // typed error surface
    assert(err("CREATE FUNCTION f(a) AS 'a + 1'; CREATE FUNCTION f(b) AS 'b';")
      .contains("duplicate function"))
    assert(err("CREATE FUNCTION max(a) AS 'a';").contains("shadows a builtin"))
    assert(err("CREATE FUNCTION f(a) AS 'a + missing';")
      .contains("not a parameter"))
    assert(err("CREATE FUNCTION f(a) AS 'f(a)';").contains("reference itself"))
    assert(err("CREATE FUNCTION f(a) AS 'S.a';")
      .contains("qualified references"))
    assert(err("CREATE FUNCTION f(a, a) AS 'a';").contains("duplicate parameter"))
    assert(err("CREATE FUNCTION kmv_distinct(a) AS 'a';").contains("sketch"))
    // arity mismatch dies at compile (analysis), typed
    val e = intercept[Exception](GraftApp.run(spark,
      """CREATE FUNCTION f(a, b) AS 'a + b';
        |CREATE STREAM S (x INT);
        |CREATE STREAM Out (y INT);
        |INSERT INTO Out SELECT f(x) AS y FROM S;""".stripMargin,
      Map("S" -> Seq(1).toDF("x"))))
    assert(e.getMessage.contains("2 argument"), e.getMessage)
  }
  test("MATCH_RECOGNIZE depth-2 nested groups (round 16): (((B){1,2} C)+ D)+") {
    // member classes disjoint (view/click/error) so the parse per
    // (anchor, end) is tape-determined; pattern ends ON the outer group so
    // EVERY emits one row per completed outer-iteration count j
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_id DOUBLE, n_b BIGINT, n_c BIGINT, n_d BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES A.v AS a_id, count(B.v) AS n_b, count(C.v) AS n_c,
        |           count(D.v) AS n_d
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A (((B){1,2} C)+ D)+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'signup', B AS B.kind = 'view',
        |         C AS C.kind = 'click', D AS D.kind = 'error'
        |);""".stripMargin
    // user 7: A, [B C][B B C] D, [B C] D  -> j=1: b3 c2 d1; j=2: b4 c3 d2
    // user 8: A, B B B C D -> 3 views exceed {1,2}: NO match
    val in = Seq(
      (1, 7L, "signup", 0.0), (2, 7L, "view", 1.0), (3, 7L, "click", 2.0),
      (4, 7L, "view", 3.0), (5, 7L, "view", 4.0), (6, 7L, "click", 5.0),
      (7, 7L, "error", 6.0), (8, 7L, "view", 7.0), (9, 7L, "click", 8.0),
      (10, 7L, "error", 9.0),
      (1, 8L, "signup", 0.0), (2, 8L, "view", 1.0), (3, 8L, "view", 2.0),
      (4, 8L, "view", 3.0), (5, 8L, "click", 4.0), (6, 8L, "error", 5.0))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(x => (x._1, x._5)).toSeq
    assert(got == Seq((7L, 0.0, 3L, 2L, 1L), (7L, 0.0, 4L, 3L, 2L)), s"$got")
    // depth-3 stays typed
    val e3 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, n BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A ((((B){2}){1,2} C)+ D)+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c',
        |         D AS D.kind = 'd'
        |);""".stripMargin)).getMessage
    assert(e3.contains("not supported") || e3.contains("nested"), e3)
    // multi-member depth-2 stays typed on the MR surface (the PATTERN()
    // engine surface takes its exact-count form with explicit __i refs)
    val e4 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, n BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(B.v) AS n
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A (((B X){2} C)+ D)+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', X AS X.kind = 'x',
        |         C AS C.kind = 'c', D AS D.kind = 'd'
        |);""".stripMargin)).getMessage
    assert(e4.contains("not supported"), e4)
  }
  test("depth-2 normalization property: (((B)q C)+ D)+ == ((Bq C)+ D)+ over random tapes") {
    // the depth-2 single-member group must be EXACTLY the hand-normalized
    // quantified member — compare full MR outputs over random tapes (30
    // tapes ride one run as 30 partition keys)
    val rng = new scala.util.Random(0xD2D2)
    def app(pat: String) =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out (user_id BIGINT, a_id DOUBLE, n_b BIGINT, n_c BIGINT, n_d BIGINT);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts
         |  MEASURES A.v AS a_id, count(B.v) AS n_b, count(C.v) AS n_c,
         |           count(D.v) AS n_d
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN ($pat) WITHIN INTERVAL '1' HOUR
         |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b',
         |         C AS C.kind = 'c', D AS D.kind = 'd'
         |);""".stripMargin
    val kinds = Vector("a", "b", "c", "d")
    val rows = (0 until 30).flatMap { u =>
      val n = 6 + rng.nextInt(9)
      (0 until n).map(i => (i + 1, u.toLong, kinds(rng.nextInt(4)), (u * 100 + i).toDouble))
    }
    val in = rows.toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def run(pat: String): Seq[(Long, Double, Long, Long, Long)] =
      GraftApp.run(spark, app(pat), Map("E" -> in))("Out")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_.toString).toSeq
    for ((q2, q1) <- Seq(("(B){1,2}", "B{1,2}"), ("(B){2}", "B{2}"),
        ("(B)+", "B+"), ("(B){2,3}", "B{2,3}"))) {
      val d2 = run(s"A (($q2 C)+ D)+")
      val d1 = run(s"A (($q1 C)+ D)+")
      assert(d2 == d1, s"$q2 vs $q1: ${d2.size} vs ${d1.size} rows")
      assert(d2.nonEmpty || q2 != "(B){1,2}", s"$q2 produced no matches at all")
    }
  }
  test("quantified PERMUTE over 4 operands (round 16): per-match ordering repeats across iterations") {
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, n_w BIGINT, w1 DOUBLE, s DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES count(W.v) AS n_w, FIRST(W.v) AS w1, sum(X.v) AS s
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A PERMUTE(W, X, Y, Z){1,2}) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', W AS W.kind = 'w', X AS X.kind = 'x',
        |         Y AS Y.kind = 'y', Z AS Z.kind = 'z'
        |);""".stripMargin
    // user 1: A then z y x w | z y x w  -> same ordering twice: j=1 AND j=2
    // user 2: A then z y x w | w x y z  -> ordering CHANGES: only j=1
    // user 3: A then w w y z            -> not a permutation: no match
    val rows =
      Seq((1, "a", 0.0), (2, "z", 1.0), (3, "y", 2.0), (4, "x", 3.0), (5, "w", 4.0),
        (6, "z", 5.0), (7, "y", 6.0), (8, "x", 7.0), (9, "w", 8.0)).map(t => (t._1, 1L, t._2, t._3)) ++
      Seq((1, "a", 0.0), (2, "z", 1.0), (3, "y", 2.0), (4, "x", 3.0), (5, "w", 4.0),
        (6, "w", 5.0), (7, "x", 6.0), (8, "y", 7.0), (9, "z", 8.0)).map(t => (t._1, 2L, t._2, t._3)) ++
      Seq((1, "a", 0.0), (2, "w", 1.0), (3, "w", 2.0), (4, "y", 3.0), (5, "z", 4.0))
        .map(t => (t._1, 3L, t._2, t._3))
    val in = rows.toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(got == Seq((1L, 1L, 4.0, 3.0), (1L, 2L, 4.0, 10.0), (2L, 1L, 4.0, 3.0)),
      s"$got")
    // 5 operands stay typed (120 variants)
    val e5 = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, n BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(W.v) AS n
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A PERMUTE(V, W, X, Y, Z){1,2}) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', V AS V.kind = 'v', W AS W.kind = 'w',
        |         X AS X.kind = 'x', Y AS Y.kind = 'y', Z AS Z.kind = 'z'
        |);""".stripMargin)).getMessage
    assert(e5.contains("120"), e5)
  }
  test("reluctant quantifier inside a nested group (round 16): ((A B)+? C)+ prefers fewest inner iterations") {
    def app(q: String) =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out (user_id BIGINT, na BIGINT, nb BIGINT, nc BIGINT);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts
         |  MEASURES count(A.v) AS na, count(B.v) AS nb, count(C.v) AS nc
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN (S ((A B)$q C)+) WITHIN INTERVAL '1' HOUR
         |  DEFINE S AS S.kind = 's', A AS A.kind = 'a' OR A.kind = 'x',
         |         B AS B.kind = 'b' OR B.kind = 'x',
         |         C AS C.kind = 'c' OR C.kind = 'x'
         |);""".stripMargin
    // tape s x x x x c: the reluctant inner loop leaves after ONE (A B)
    // pair (C binds the third x); the greedy form consumes TWO pairs and
    // binds C to the final c
    val in = Seq((1, "s", 0.0), (2, "x", 1.0), (3, "x", 2.0), (4, "x", 3.0),
      (5, "x", 4.0), (6, "c", 5.0))
      .map(t => (t._1, 1L, t._2, t._3))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def run(q: String): Seq[(Long, Long, Long, Long)] =
      GraftApp.run(spark, app(q), Map("E" -> in))("Out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(run("+?") == Seq((1L, 1L, 1L, 1L)), s"reluctant ${run("+?")}")
    // all-greedy SKIP TO NEXT ROW is the EVERY enumeration (no preference
    // to select): BOTH parses emit — the contrast that shows the
    // reluctant form genuinely selected one
    assert(run("+").toSet == Set((1L, 1L, 1L, 1L), (1L, 2L, 2L, 1L)),
      s"greedy ${run("+")}")
    assert(run("{1,2}?") == Seq((1L, 1L, 1L, 1L)), s"range-reluctant ${run("{1,2}?")}")
    // typed gates: vacuous exact-count '?', variable member under inner '?',
    // and reluctance without a skip mode
    def err(q: String, skip: String = "AFTER MATCH SKIP TO NEXT ROW"): String =
      intercept[GraftApp.SqlError](GraftApp.parse(
        s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
           |CREATE STREAM Out (user_id BIGINT, na BIGINT);
           |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
           |  PARTITION BY user_id ORDER BY ts
           |  MEASURES count(A.v) AS na
           |  ONE ROW PER MATCH $skip
           |  PATTERN (S ((A B)$q C)+) WITHIN INTERVAL '1' HOUR
           |  DEFINE S AS S.kind = 's', A AS A.kind = 'a',
           |         B AS B.kind = 'b', C AS C.kind = 'c'
           |);""".stripMargin)).getMessage
    assert(err("{2}?").contains("vacuous"), err("{2}?"))
    val eVar = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, na BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(A.v) AS na
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (S ((A{1,2} B)+? C)+) WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS S.kind = 's', A AS A.kind = 'a',
        |         B AS B.kind = 'b', C AS C.kind = 'c'
        |);""".stripMargin)).getMessage
    assert(eVar.contains("variable-count"), eVar)
  }
  test("multiple loop groups in one MR pattern (round 16): independent iteration frames") {
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, nb BIGINT, ne BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES count(B.v) AS nb, count(EE.v) AS ne
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A (B C)+ D (EE F)+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c',
        |         D AS D.kind = 'd', EE AS EE.kind = 'e', F AS F.kind = 'f'
        |);""".stripMargin
    val in = Seq((1, "a"), (2, "b"), (3, "c"), (4, "b"), (5, "c"), (6, "d"),
      (7, "e"), (8, "f"))
      .map(t => (t._1, 1L, t._2, t._1.toDouble))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L)), s"$got")
    // the ANSI default SKIP PAST LAST ROW (greedy selection) composes too
    val appSkip = app.replace("AFTER MATCH SKIP TO NEXT ROW\n", "")
    val got2 = GraftApp.run(spark, appSkip, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got2 == Seq((1L, 2L, 1L)), s"skip-past $got2")
  }
  test("zero-min nested groups (round 16): ((D U)* C)+ admits zero-iteration outers") {
    val app =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a_id DOUBLE, n_d BIGINT, n_c BIGINT, s_u DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES A.v AS a_id, count(D.v) AS n_d, count(C.v) AS n_c,
        |           sum(U.v) AS s_u
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A ((D U)* C)+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd', U AS U.kind = 'u',
        |         C AS C.kind = 'c'
        |);""".stripMargin
    // tape a c c d u c: bare, bare, pair -> rows per outer count j=1..3;
    // the j=1 and j=2 matches have EMPTY D/U buffers (n_d=0, s_u NULL)
    val in = Seq((1, "a"), (2, "c"), (3, "c"), (4, "d"), (5, "u"), (6, "c"))
      .map(t => (t._1, 1L, t._2, t._1.toDouble))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val got = GraftApp.run(spark, app, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4)))
      .sortBy(_._3).toSeq
    assert(got == Seq((1L, 0L, 1L, -1.0), (1L, 0L, 2L, -1.0), (1L, 1L, 3L, 5.0)),
      s"$got")
    // naming a member of the zero-min inner group (D.v) keeps the
    // zero-iteration matches, with D.v NULL there (ANSI: an unmatched
    // variable's columns are NULL) — the plain ref is a left lookup
    val native =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (a_v DOUBLE, d_v DOUBLE, n_c BIGINT);
        |INSERT INTO Out SELECT A.v AS a_v, D.v AS d_v, count(C.v) AS n_c
        |FROM SEQUENCE (EVERY (A=E[kind='a'] -> ((D=E[kind='d'] -> U=E[kind='u'])*
        |  -> C=E[kind='c'])+)) WITHIN 1 HOUR PARTITION BY user_id;""".stripMargin
    val gotD = GraftApp.run(spark, native, Map("E" -> in))("Out")
      .collect().map(r => (r.getDouble(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2)))
      .sortBy(_._3).toSeq
    assert(gotD == Seq((1.0, None, 1L), (1.0, None, 2L), (1.0, Some(4.0), 3L)),
      s"$gotD")
    // typed gates: trailing zero-min inner group; reluctant zero-min
    def err(pat: String): String =
      intercept[GraftApp.SqlError](GraftApp.parse(
        s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
           |CREATE STREAM Out (user_id BIGINT, n BIGINT);
           |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
           |  PARTITION BY user_id ORDER BY ts
           |  MEASURES count(D.v) AS n
           |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
           |  PATTERN ($pat) WITHIN INTERVAL '1' HOUR
           |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd', U AS U.kind = 'u',
           |         C AS C.kind = 'c'
           |);""".stripMargin)).getMessage
    assert(err("A (C (D U)*)+").contains("END"), err("A (C (D U)*)+"))
  }
  test("a quoted paren in a step predicate parses (pattern dialect and MATCH_RECOGNIZE)") {
    val in = Seq((1, "a)"), (2, "b"))
      .map(t => (t._1, 1L, t._2, t._1.toDouble))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    val native =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (a DOUBLE, b DOUBLE);
        |INSERT INTO Out SELECT A.v AS a, B.v AS b
        |FROM SEQUENCE (EVERY (A=E[kind = 'a)'] -> B=E[kind = 'b']))
        |PARTITION BY user_id;""".stripMargin
    val mr =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, a DOUBLE, b DOUBLE);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.v AS a, B.v AS b
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B)
        |  DEFINE A AS A.kind = 'a)', B AS B.kind = 'b');""".stripMargin
    def ab(app: String): Seq[(Double, Double)] =
      GraftApp.run(spark, app, Map("E" -> in))("Out").select("a", "b")
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(ab(native) == Seq((1.0, 2.0)), s"${ab(native)}")
    assert(ab(mr) == Seq((1.0, 2.0)), s"${ab(mr)}")
  }
  test("reluctant OUTER group over a nested group (round 16): ((A B)+ C)+? prefers fewest outer iterations") {
    def app(q: String) =
      s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
         |CREATE STREAM Out (user_id BIGINT, na BIGINT, nc BIGINT);
         |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts
         |  MEASURES count(A.v) AS na, count(C.v) AS nc
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN (S ((A B)+ C)+$q) WITHIN INTERVAL '1' HOUR
         |  DEFINE S AS S.kind = 's', A AS A.kind = 'a' OR A.kind = 'x',
         |         B AS B.kind = 'b' OR B.kind = 'x',
         |         C AS C.kind = 'c' OR C.kind = 'x'
         |);""".stripMargin
    // tape s x x x x x x (all-ambiguous): parses from the anchor are
    // (A1B2 C3), (A1B2 A3B4 C5), and (A1B2 C3)(A4B5 C6)
    val in = Seq((1, "s", 0.0), (2, "x", 1.0), (3, "x", 2.0), (4, "x", 3.0),
      (5, "x", 4.0), (6, "x", 5.0), (7, "x", 6.0))
      .map(t => (t._1, 1L, t._2, t._3))
      .toDF("sec", "user_id", "kind", "v")
      .selectExpr("CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id", "kind", "v")
    def run(q: String): Set[(Long, Long, Long)] =
      GraftApp.run(spark, app(q), Map("E" -> in))("Out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // backtracking with greedy INNER: the inner loop takes both pairs
    // before leaving (A1 B2 A3 B4 C5), then the reluctant OUTER completes
    // at the first opportunity - one outer iteration
    assert(run("?") == Set((1L, 2L, 1L)), s"reluctant ${run("?")}")
    // greedy EVERY enumerates all three parses
    assert(run("") == Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 2L, 2L)),
      s"greedy ${run("")}")
    // BOTH reluctant: inner and outer '?' compose (fewest inner, then
    // complete at the first outer opportunity)
    val both =
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, na BIGINT, nc BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(A.v) AS na, count(C.v) AS nc
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (S ((A B)+? C)+?) WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS S.kind = 's', A AS A.kind = 'a' OR A.kind = 'x',
        |         B AS B.kind = 'b' OR B.kind = 'x',
        |         C AS C.kind = 'c' OR C.kind = 'x'
        |);""".stripMargin
    val gotBoth = GraftApp.run(spark, both, Map("E" -> in))("Out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotBoth == Set((1L, 1L, 1L)), s"both $gotBoth")
    // variable member counts under the outer '?' stay typed
    val eVar = intercept[GraftApp.SqlError](GraftApp.parse(
      """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
        |CREATE STREAM Out (user_id BIGINT, na BIGINT);
        |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES count(A.v) AS na
        |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (S ((A{1,2} B)+ C)+?) WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS S.kind = 's', A AS A.kind = 'a', B AS B.kind = 'b',
        |         C AS C.kind = 'c'
        |);""".stripMargin)).getMessage
    assert(eVar.contains("variable-count"), eVar)
  }
}
