// dev measurement tool (run via: sbt "runMain graft.tools.SkipStreakBench [sizes…]")
package graft.tools

import org.apache.spark.sql.SparkSession

/** SCALE.md evidence for the round-13 incremental skip scan
  * ([[graft.streaming.Cep.detect]] with a skip selection): one key, one anchor, then N
  * monotone quantifier rows — the adversarial shape where the old
  * enumerate-then-filter machine materializes the full EVERY match set
  * (O(N²) collected events: N matches of sizes 1..N) to select ONE greedy
  * match, while the consume-on-match machine holds one partial + one
  * candidate. Wall time across sizes is the asymptotic check: near-flat
  * growth (job overhead + linear scan) vs the old quadratic crawl.
  */
object SkipStreakBench {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10000, 100000, 1000000)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def app(n: Int): Unit = {
      // spark.range keeps the streak distributed — a driver-local Seq rides
      // the serialized plan into every task and OOMs the tool, not the op
      val streak = spark.range(0, n + 1).selectExpr(
        "CAST(timestamp_seconds(id) AS TIMESTAMP) AS ts",
        "CAST(7 AS BIGINT) AS user_id",
        "IF(id = 0, 'a', 'b') AS kind",
        "CAST(id AS DOUBLE) AS v")
      val measures = sys.props.getOrElse("streak.measures",
        "count(B.v) AS n_b, LAST(B.v) AS last_v")
      val outCols = sys.props.getOrElse("streak.out", "n_b BIGINT, last_v DOUBLE")
      val sql =
        s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
          |CREATE STREAM Out ($outCols);
          |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES $measures
          |  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A B+) WITHIN INTERVAL '30' DAY
          |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
          |);""".stripMargin
      val out = graft.sql.GraftApp.run(spark, sql, Map("E" -> streak))("Out")
        .collect()
      require(out.length == 1, s"want 1 greedy match, got ${out.length}")
    }
    app(1000) // warm: JIT + codegen
    sizes.foreach { n =>
      val t0 = System.nanoTime(); app(n)
      println(f"STREAK n=$n%d sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }
}
