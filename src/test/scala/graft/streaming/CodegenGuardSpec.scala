package graft.streaming

import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches

/** No micro-batch of a stateful streaming kernel compiles code once the
  * query is warm. A case-class state encoder broke this: Spark binds the
  * state deserializer again for every batch, outside the logical plan, so
  * its `MapObjects` lambda ids are new each time and the generated class
  * misses the codegen cache (one Janino compile per state type per batch).
  * The kernels keep their state in one binary column ([[StateCodec]]).
  *
  * `CodegenMetrics.METRIC_COMPILATION_TIME` counts every compile in the
  * JVM; suites run one at a time in the test JVM, so nothing else compiles
  * while a query here runs. The watermarked kernels run with a lateness
  * longer than the event time fed, so the watermark stays at 0: Spark
  * inlines the watermark into its late-row predicate as a literal and
  * compiles a new predicate whenever the watermark moves, which is not
  * the kernels' state.
  */
class CodegenGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Keys = 40
  private val BatchUs = 10000000L // each batch is 10 s of event time
  private val Lateness = "1 hour"

  /** Run `out` over batches 0..6 fed by `feed`; the 5 batches after 2
    * warm-up batches must compile nothing. */
  private def assertNoCompiles(out: DataFrame)(feed: Int => Unit): Unit = {
    val q = out.writeStream.format("noop").outputMode("append").start()
    try {
      def batch(i: Int): Unit = { feed(i); q.processAllAvailable() }
      (0 until 2).foreach(batch)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (2 until 7).foreach(batch)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"$compiled class(es) compiled over 5 warm batches")
    } finally q.stop()
  }

  test("Windows.length: warm micro-batches compile no code") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[WinEvent]
    assertNoCompiles(Windows.length(in.toDS(), 10).toDF()) { b =>
      in.addData((0 until Keys * 3).map { i =>
        WinEvent(s"k${i % Keys}", b * BatchUs + i, b * 1000L + i, i.toDouble,
          svals = Seq(s"s$i"))
      })
    }
  }

  test("Cep.detectStream EVERY with a lateness: warm micro-batches compile no code") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val spec = PatternSpec(Seq(Step.simple("A")(_.etype == "A"),
      Step.simple("B")(_.etype == "B")), withinUs = Some(1000000L))
    val in = MemoryStream[CepEvent]
    val out = Cep.detectStream(in.toDS(), Seq(spec),
      Cep.StreamMode(lateness = Some(Lateness)))
    assertNoCompiles(out) { b =>
      in.addData((0 until Keys * 3).map { i =>
        // every key gets an A, a B and a dangling A, so each batch matches
        // and leaves a partial in the key's state
        CepEvent(s"u${i % Keys}", b * BatchUs + i * 1000L, b * 1000L + i,
          if (i / Keys == 1) "B" else "A", i.toDouble)
      })
    }
  }

  test("Sketches.heavyHittersStreamWindowed: warm micro-batches compile no code") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String, String)]
    val df = in.toDF().toDF("ts", "grp", "member")
    val out = Sketches.heavyHittersStreamWindowed(df, Seq("grp"), "member", k = 4,
      windowUs = BatchUs, lateness = Lateness)
    assertNoCompiles(out) { b =>
      in.addData((0 until Keys * 3).map { i =>
        (new Timestamp((b * BatchUs + i * 1000L) / 1000L), s"g${i % 4}", s"m${i % 7}")
      })
    }
  }
}
