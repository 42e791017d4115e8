package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The json mapper parses an auto-mapped, all-atomic declaration once per
  * line (`from_json`), and must give exactly the rows and fault routing of
  * the per-column `get_json_object(line, '$.<name>').cast` extracts plus
  * the '$' validity probe, which [[reference]] spells out. The table
  * covers every class of line the one parse could misread.
  */
class AppRuntimeJsonSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(StructField("s", StringType),
    StructField("n", IntegerType), StructField("d", DoubleType),
    StructField("b", BooleanType), StructField("l", LongType),
    StructField("t", TimestampType)))

  private val ordinary = Seq(
    """{"s":"a","n":1,"d":2.5,"b":true,"l":9,"t":"2024-01-01 00:00:01"}""",
    """{"event_id":7,"s":"signup","n":-3,"d":1.0E-3}""",
    """ {"s":"x", "n": 1 } """,
    """{"s":{"x": 1},"n":{"x":1}}""", // nested object in a scalar column
    """{"s":[1, 2]}""",
    """{"s":1,"n":"7","d":"1.5","b":"true"}""", // number in STRING, strings in numeric
    """{"s":1.50,"d":1e2,"n":1.9,"b":1}""",
    """{"n":"x","l":9223372036854775808,"n2":true}""", // unparseable casts → null
    """{"S":"a","N":1}""", // keys match case-sensitively
    """{"s":null,"n":null}""",
    """{"s":"a"} trailing""",
    """{"s":"line""" + "\n" + """break"}""", // raw control character in a string
    "{}")

  private val untrusted = Seq(
    "", null, "null", "[]", "42", "\"s\"", "true",
    """{"s":""", """{"s":"a",}""", """{s:"a"}""", """{"n":01}""",
    """{"s":"a","s":"b"}""", // duplicate key: the extracts take the first
    "{\"s\":\"a\",\"\\u0073\":\"b\"}", // the same key, escaped
    """{"s":"\"q","n":2}""", """{'s':'a'}""", """{"s":"it's"}""",
    """{"d":NaN}""", """{"s":NaN}""", """{"s":-Infinity}""",
    """[{"s":"a"},{"s":"b"}]""", """{"s":"a" /*c*/}""",
    """{"s":"\"s\""}""", // the key spelled in a value: a false negative
    """{"o":{"s":1},"s":2}""") // a nested key of the same name: one too

  private def lines: DataFrame = {
    import spark.implicits._
    (ordinary ++ untrusted).toDF("value")
  }

  private def decl(onError: Option[String]) = GraftApp.StreamDef("events", schema,
    Map("type" -> "source", "map.format" -> "json") ++ onError.map("on.error" -> _),
    isTable = false)

  /** The per-column mapping: one `get_json_object` per column and the
    * '$' probe, routed by `on.error`. */
  private def reference(raw: DataFrame, onError: Option[String])
      : (DataFrame, Option[DataFrame]) = {
    val m = raw.select((col("value").as("__line") +: schema.fields.toSeq.map(f =>
      get_json_object(col("value"), "$." + f.name).cast(f.dataType).as(f.name))): _*)
    val bad = get_json_object(col("__line"), "$").isNull
    val good = if (onError.exists(Set("drop", "stream"))) m.filter(!bad) else m
    (good.select(schema.fieldNames.map(col).toIndexedSeq: _*),
      onError.filter(_ == "stream").map(_ => m.filter(bad).select(col("__line").as("value"))))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  /** ANSI off: a failing cast raises under ANSI on both paths alike, which
    * would hide the rows this table compares. */
  private def ansiOff[A](f: => A): A = {
    val was = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try f
    finally was.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
      spark.conf.set("spark.sql.ansi.enabled", _))
  }

  Seq(None, Some("log"), Some("drop"), Some("stream")).foreach { onError =>
    test(s"json mapper one parse == per-column extracts, on.error=${onError.getOrElse("absent")}") {
      ansiOff {
        val (good, faults) = AppRuntime.mapLines(lines, decl(onError))
        val (refGood, refFaults) = reference(lines, onError)
        assert(rows(good) == rows(refGood))
        assert(faults.map(rows) == refFaults.map(rows))
        if (onError.contains("stream")) assert(rows(faults.get).nonEmpty)
      }
    }
  }

  test("json mapper trusts the one parse exactly on the ordinary object lines") {
    import spark.implicits._
    def trusted(ls: Seq[String]): Seq[Boolean] =
      ls.toDF("l").select(col("l"), AppRuntime.parseJsonOnce(col("l"), schema).as("r"))
        .select(AppRuntime.trustedJsonLine(col("l"), col("r"), schema))
        .collect().toSeq.map(_.getBoolean(0))
    assert(ordinary.zip(trusted(ordinary)).filterNot(_._2).isEmpty)
    assert(untrusted.zip(trusted(untrusted)).filter(_._2).isEmpty)
  }
}
