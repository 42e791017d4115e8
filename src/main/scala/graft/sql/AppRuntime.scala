package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** WITH-clause connector auto-attach (SURVEY §2.1; reference
  * auto_attach_from_sql_definitions, eventflux_app_runtime.rs:996-1040):
  * streams declared `WITH ('type'='source', 'format'=…, …)` become
  * readStream sources; `WITH ('type'='sink', 'format'=…, …)` targets get a
  * writeStream started on the compiled pipeline. Remaining namespaced
  * options pass through to the connector verbatim.
  *
  * This makes a fully-declared EventFlux-SQL app runnable end to end with
  * no host code: sources → queries → sinks.
  */
object AppRuntime {

  private val Reserved = Set("type", "format", "path")
  /** Mapper-layer option prefixes — consumed here, never passed to the
    * transport connector.
    */
  private def mapperOption(k: String): Boolean =
    k == "map.format" || k == "on.error" ||
      k.startsWith("json.") || k.startsWith("csv.")

  /** Declarative line mapping for text transports (the reference's
    * SourceMapper layer, json_mapper.rs:17-40 / csv_mapper.rs): a declared
    * multi-column schema turns raw lines into typed columns.
    *  - `'map.format'='json'` (or any `'json.mapping.<attr>'` key): each
    *    attribute extracts via JSONPath — explicit `json.mapping.<attr>`
    *    path, else auto-mapped `$.<attr>` (the reference's top-level
    *    auto-map) — then casts to the declared type.
    *  - default: csv-split (positional).
    */
  /** Mapped rows plus, when `'on.error'` routes faults, the raw lines the
    * mapper could not parse (stream_junction.rs OnErrorAction at the one
    * seam where per-event faults exist in a declarative engine — the
    * mapper): 'stream' → faults become the `!Name` source; 'drop' →
    * discarded; 'log'/absent → the null-padded row passes through (the
    * pre-round-6 behavior, kept as the default).
    */
  private[sql] def mapLines(raw: DataFrame, sd: GraftApp.StreamDef)
      : (DataFrame, Option[DataFrame]) = {
    import org.apache.spark.sql.functions.{col, from_csv, from_json, get_json_object, lit, when}
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField}
    if (sd.schema.fieldNames.toSeq == Seq("value")) return (raw, None)
    val onError = sd.options.get("on.error").map(_.toLowerCase)
    val (mapped, badLine) =
      if (sd.options.get("map.format").contains("json") ||
          sd.options.keys.exists(_.startsWith("json.mapping."))) {
        def nested(t: DataType): Boolean = t match {
          case _: StructType | _: ArrayType | _: MapType => true
          case _ => false
        }
        // per column: the JSONPath extract, cast to the declared type;
        // nested declared types (STRUCT/ARRAY columns, round 14): the
        // JSONPath extract returns the sub-object's JSON text — parse it
        // into the declared shape ($.a.b maps into a struct field)
        def extract(f: StructField) = {
          val path = sd.options.getOrElse(s"json.mapping.${f.name}", s"$$.${f.name}")
          val extracted = get_json_object(col("value"), path)
          if (nested(f.dataType)) from_json(extracted, f.dataType)
          else extracted.cast(f.dataType)
        }
        // a line that is not valid JSON extracts nothing — '$' itself nulls
        val invalid = get_json_object(col("value"), "$").isNull
        val parseOnce = !sd.options.keys.exists(_.startsWith("json.mapping.")) &&
          !sd.schema.fields.exists(f => nested(f.dataType))
        // one parse: a trusted line casts the parse's strings, any other
        // line takes the per-column extracts (CASE WHEN evaluates only the
        // branch it picks)
        val trusted = trustedJsonLine(col("value"), col("__r"), sd.schema)
        def once(c: Column, perColumn: Column) =
          if (parseOnce) when(trusted, c).otherwise(perColumn) else perColumn
        val lines =
          if (parseOnce) raw.select(col("value"), parseJsonOnce(col("value"), sd.schema).as("__r"))
          else raw
        (lines.select((col("value").as("__line") +: sd.schema.fields.map { f =>
          once(col(s"__r.${f.name}").cast(f.dataType), extract(f)).as(f.name)
        }.toIndexedSeq :+ once(lit(false), invalid).as("__bad")): _*), col("__bad"))
      } else {
        // PERMISSIVE parse with a corrupt-record column: a malformed line
        // (wrong arity / untypeable field) lands there verbatim
        val withCorrupt = StructType(sd.schema.fields :+
          StructField("__corrupt", StringType))
        val m = raw.select(col("value").as("__line"),
            from_csv(col("value"), withCorrupt,
              Map("mode" -> "PERMISSIVE",
                "columnNameOfCorruptRecord" -> "__corrupt")).as("r"))
          .select((col("__line") +: col("r.__corrupt").as("__bad") +:
            sd.schema.fieldNames.map(f => col(s"r.$f")).toIndexedSeq): _*)
        (m, col("__bad").isNotNull)
      }
    val good = onError match {
      case Some("drop") | Some("stream") => mapped.filter(!badLine)
      case _ => mapped // log/absent: null-padded row passes through
    }
    val faults = onError match {
      case Some("stream") => Some(mapped.filter(badLine).select(col("__line").as("value")))
      case _ => None
    }
    (good.select(sd.schema.fieldNames.map(col).toIndexedSeq: _*), faults)
  }

  /** The json mapper's one parse per line, for a declaration whose
    * columns are all auto-mapped and atomic: one `from_json` of every
    * declared field as a STRING, plus a corrupt-record column `__corrupt`.
    * The parser options match `get_json_object`'s: NaN/Infinity are not
    * numbers, raw control characters are allowed in strings.
    */
  private[sql] def parseJsonOnce(line: Column, schema: StructType): Column = {
    import org.apache.spark.sql.functions.from_json
    import org.apache.spark.sql.types.{StringType, StructField}
    from_json(line, StructType(schema.fields.map(f => StructField(f.name, StringType)) :+
      StructField("__corrupt", StringType)), Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "__corrupt", "allowNonNumericNumbers" -> "false",
      "allowUnquotedControlChars" -> "true"))
  }

  /** Whether the [[parseJsonOnce]] result `parsed` of `line` answers it
    * exactly as the per-column `get_json_object(line, '$.<name>')` extracts
    * do. The parse must have produced an object (not null, no `__corrupt`):
    * an empty, invalid or non-object line is the extracts' and the '$'
    * probe's to classify. And no declared key may be duplicated, since
    * `get_json_object` takes a duplicated key's FIRST value and `from_json`
    * its last: the line has no backslash and no single quote (so every key
    * is a plain double-quoted name) and each declared key's quoted name
    * occurs at most once. A false negative costs only the per-column
    * extracts for that line. AppRuntimeJsonSpec pins the parity.
    */
  private[sql] def trustedJsonLine(line: Column, parsed: Column, schema: StructType): Column = {
    import org.apache.spark.sql.functions.udf
    import org.apache.spark.sql.types.BooleanType
    // one scan per key with the JDK's String.indexOf: Spark's instr/locate
    // walk the line by characters and cost more than the parse itself. A
    // Java UDF, because a typed Scala UDF resolves its input encoders at
    // every analysis, and a streaming query re-analyzes each micro-batch
    val keys = schema.fieldNames.map("\"" + _ + "\"")
    val plainKeys = udf(new org.apache.spark.sql.api.java.UDF1[String, Boolean] {
      def call(l: String): Boolean =
        l != null && l.indexOf('\\') < 0 && l.indexOf('\'') < 0 &&
          keys.forall { q => val i = l.indexOf(q); i < 0 || l.indexOf(q, i + 1) < 0 }
    }, BooleanType)
    parsed.isNotNull && parsed.getField("__corrupt").isNull && plainKeys(line)
  }

  /** Build source DataFrames for every WITH('type'='source') stream; a
    * source with `'on.error'='stream'` additionally binds its `!Name`
    * fault stream (raw unparseable lines). The session's streaming
    * queries commit local checkpoints through
    * [[graft.streaming.LocalCheckpointFiles]] unless it names another
    * checkpoint file manager.
    */
  def bindSources(spark: SparkSession, spec: GraftApp.AppSpec): Map[String, DataFrame] = {
    graft.streaming.LocalCheckpointFiles.install(spark)
    spec.streams.toSeq.flatMap {
      case (name, sd) if sd.options.get("type").contains("source") =>
        val fmt = sd.options.getOrElse("format",
          throw GraftApp.SqlError(s"source '$name' needs a 'format' option"))
        // 'websocket'/'rabbitmq' bind the in-repo RFC 6455 / AMQP 0-9-1
        // DataSource-V2 providers (graft.sources) — resolved by class
        // name, no service registry needed
        val readFmt = fmt match {
          case "websocket" => classOf[graft.sources.WebSocketSourceProvider].getName
          case "rabbitmq" | "amqp" => classOf[graft.sources.AmqpSourceProvider].getName
          case "kafka" => classOf[graft.sources.KafkaSourceProvider].getName
          case "http" => classOf[graft.sources.HttpSourceProvider].getName
          case other => other
        }
        var reader = spark.readStream.format(readFmt)
        sd.options.filterNot(kv => Reserved.contains(kv._1) || mapperOption(kv._1))
          .foreach { case (k, v) => reader = reader.option(k, v) }
        // 'path' is Reserved (file sources consume it via load(p)), but for
        // the network providers it is the HTTP-resource option — forward it
        // explicitly or the websocket handshake silently GETs '/'
        if (fmt == "websocket" || fmt == "rabbitmq" || fmt == "amqp" ||
            fmt == "http")
          sd.options.get("path").foreach(p => reader = reader.option("path", p))
        (fmt, sd.options.get("path")) match {
          case ("rate", _) => Seq(name -> reader.load()) // fixed (timestamp, value) schema
          case ("kafka", _) =>
            // graft.sources.Kafka: the real Kafka wire protocol with
            // partition-parallel replayable offsets. Physical columns are
            // (key, value, partition, offset, ts_ms); a declared schema
            // drawn from those projects directly (metadata access), any
            // other schema engages the line mappers over `value`
            val raw = reader.load()
            val phys = raw.columns.toSet
            if (sd.schema.fieldNames.forall(phys.contains))
              Seq(name -> raw.select(
                sd.schema.fieldNames.map(org.apache.spark.sql.functions.col)
                  .toIndexedSeq: _*))
            else {
              val (good, faults) = mapLines(raw, sd)
              Seq(name -> good) ++ faults.map(s"!$name" -> _)
            }
          case ("socket", _) | ("websocket", _) | ("rabbitmq", _) | ("amqp", _) |
               ("http", _) =>
            // network text sources (websocket_source.rs: the real RFC 6455
            // transport; rabbitmq_source.rs: the real AMQP 0-9-1 consumer;
            // 'http' = the webhook receiver; 'socket' = the raw-TCP dev
            // surrogate): fixed value:string wire schema; a declared
            // multi-column schema engages the declarative line mapper
            // (json/csv)
            val (good, faults) = mapLines(reader.load(), sd)
            Seq(name -> good) ++ faults.map(s"!$name" -> _)
          case (_, Some(p)) => Seq(name -> reader.schema(sd.schema).load(p))
          case _ => Seq(name -> reader.schema(sd.schema).load())
        }
      case _ => Nil
    }.toMap
  }

  /** Bind JDBC-backed tables (jdbc_table.rs:18): `CREATE TABLE T (…) WITH
    * ('store'='jdbc', 'url'=…, 'dbtable'=…)` loads its initial contents
    * through Spark's JDBC source (predicate pushdown + partitioned reads
    * come free); [[writeTableJdbc]] persists a table's current state back.
    * The DML algebra stays engine-side (TableOps) — JDBC is storage, not
    * compute, exactly the reference's Table-trait split.
    */
  def bindJdbcTables(spark: SparkSession, spec: GraftApp.AppSpec): Map[String, DataFrame] =
    spec.streams.collect {
      case (name, sd) if sd.isTable && sd.options.get("store").contains("jdbc") =>
        val url = sd.options.getOrElse("url",
          throw GraftApp.SqlError(s"jdbc table '$name' needs a 'url' option"))
        val dbtable = sd.options.getOrElse("dbtable", name)
        var reader = spark.read.format("jdbc")
          .option("url", url).option("dbtable", dbtable)
        sd.options.filterNot(kv => Reserved.contains(kv._1) ||
            Set("store", "url", "dbtable").contains(kv._1))
          .foreach { case (k, v) => reader = reader.option(k, v) }
        // JDBC column names surface per the database's case folding; align
        // them to the declared schema (names are validated by runTracked)
        val raw = reader.load()
        val renamed = raw.toDF(sd.schema.fieldNames.toIndexedSeq: _*)
        name -> renamed
    }

  /** Persist a table's current state back to its JDBC store (overwrite =
    * the reference's full-table ownership; truncate keeps the DDL). The
    * state usually derives FROM the same store (load → DML → persist), so
    * the plan is materialized eagerly first — otherwise the overwrite
    * truncates the table and the lazy plan re-reads it empty. Table state
    * is bounded (a lookup relation, not a fact stream), so executor-local
    * checkpoint blocks are the right cost.
    */
  def writeTableJdbc(df: DataFrame, url: String, dbtable: String): Unit = {
    val materialized = df.localCheckpoint(true)
    try materialized.write.format("jdbc")
      .option("url", url).option("dbtable", dbtable)
      .option("truncate", "true")
      .mode("overwrite").save()
    finally materialized.unpersist()
  }

  /** Build source DataFrames for every CREATE TRIGGER (trigger_runtime.rs):
    * periodic/cron triggers lower to the rate source (one partition — a
    * trigger is a metronome, not a data stream; downstream shuffles fan
    * out); AT START is a one-row batch input emitted at app start.
    */
  def bindTriggers(spark: SparkSession, spec: GraftApp.AppSpec): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions._
    spec.triggers.map { t =>
      val df = t.mode match {
        case "start" =>
          spark.range(1).select(current_timestamp().as("triggered_time"))
        case _ =>
          // 100 ms tick resolution: a 10-rows/sec rate filtered to every
          // round(ms/100)-th tick — exact for multiples of 100 ms,
          // <=50 ms deviation otherwise (integer-divide pacing was off by
          // up to 2x for periods like 600 or 1500 ms)
          val ms = math.max(t.everyMs.get, 100L)
          val everyTicks = math.max(1L, (ms + 50L) / 100L)
          val paced = spark.readStream.format("rate")
            .option("rowsPerSecond", "10")
            .option("numPartitions", "1")
            .load()
            .filter(col("value") % lit(everyTicks) === 0)
            .select(col("timestamp").as("triggered_time"))
          // calendar-restricted crons (`0 0 1 * *`): the paced tick fires
          // at the wildcarded sub-period (daily here); the gate keeps only
          // ticks whose date matches dom/mon/dow
          t.cron.flatMap(GraftApp.cronCalendarGate)
            .map(paced.filter).getOrElse(paced)
      }
      t.name -> df
    }.toMap
  }

  /** Start a writeStream for every WITH('type'='sink') stream that a query
    * targets; returns the running queries (caller awaits/stops). Batch
    * outputs (e.g. fed only by an AT START trigger) register as a temp view
    * under the sink name instead of a streaming query.
    */
  /** Sink-side mapper layer (the reference's SinkMapper duals of the source
    * mapping, json_mapper.rs sink half):
    *  - `'json.template'='…{{attr}}…'`: template serialization — `{{attr}}`
    *    placeholders substitute the column's value (NULL renders as the
    *    JSON literal `null`), everything else passes through verbatim;
    *  - `'map.format'='json'`: whole-row `to_json` serialization;
    *  - `'map.format'='csv'`: positional comma-join.
    * Each produces a single `value` string column — the wire shape text
    * transports expect.
    */
  private def mapSinkRows(df: DataFrame, sd: GraftApp.StreamDef): DataFrame = {
    import org.apache.spark.sql.functions._
    sd.options.get("json.template") match {
      case Some(tpl) =>
        val ph = "\\{\\{([A-Za-z_][A-Za-z0-9_]*)\\}\\}".r
        val parts = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Column]
        var last = 0
        ph.findAllMatchIn(tpl).foreach { m =>
          if (m.start > last) parts += lit(tpl.substring(last, m.start))
          parts += coalesce(col(m.group(1)).cast("string"), lit("null"))
          last = m.end
        }
        if (last < tpl.length) parts += lit(tpl.substring(last))
        df.select(concat(parts.toSeq: _*).as("value"))
      case None if sd.options.get("map.format").contains("json") =>
        df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))
      case None if sd.options.get("map.format").contains("csv") =>
        df.select(concat_ws(",",
          df.columns.map(c => col(c).cast("string")).toIndexedSeq: _*).as("value"))
      case None => df
    }
  }

  def startSinks(spec: GraftApp.AppSpec, env: Map[String, DataFrame]): Seq[StreamingQuery] =
    spec.streams.toSeq.flatMap {
      case (name, sd) if sd.options.get("type").contains("sink") && env.contains(name) =>
        if (!env(name).isStreaming) {
          mapSinkRows(env(name), sd).createOrReplaceTempView(name)
          None
        } else {
          // typed state-schema gate: a checkpoint from another build fails
          // HERE with an actionable message, not in Spark's state-store
          // schema check mid-batch (StateSchema scaladoc)
          sd.options.get("checkpointLocation").foreach(p =>
            graft.streaming.StateSchema.guard(env(name).sparkSession, p))
          val fmt = sd.options.getOrElse("format", "console")
          if (fmt == "websocket" || fmt == "rabbitmq" || fmt == "amqp" ||
              fmt == "kafka" || fmt == "http") {
            // network sinks: rows (reduced to one string column by the sink
            // mappers) go out as RFC 6455 text frames / AMQP publishes
            def req(k: String): String = sd.options.getOrElse(k,
              throw GraftApp.SqlError(s"$fmt sink '$name' needs a '$k' option"))
            val fw: org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] =
              if (fmt == "websocket")
                new graft.sources.WebSocketForeachWriter(req("host"), req("port").toInt,
                  sd.options.getOrElse("path", "/"),
                  tls = sd.options.get("tls").exists(_.trim.equalsIgnoreCase("true")),
                  trustStore = sd.options.get("tls.truststore").map(p =>
                    p -> sd.options.getOrElse("tls.truststore.password", "")))
              else if (fmt == "kafka")
                new graft.sources.KafkaForeachWriter(req("brokers"), req("topic"),
                  tls = sd.options.get("tls").exists(_.trim.equalsIgnoreCase("true")),
                  trustStore = sd.options.get("tls.truststore").map(p =>
                    p -> sd.options.getOrElse("tls.truststore.password", "")),
                  sasl = sd.options.get("sasl.user").map(u =>
                    u -> sd.options.getOrElse("sasl.pass",
                      throw GraftApp.SqlError(
                        "'sasl.user' is set but 'sasl.pass' is missing"))),
                  // produce-side batch compression (round 12: all five
                  // protocol codecs pure-JVM); unknown values fail typed
                  codec = sd.options.get("compression").map(c =>
                    try graft.sources.KafkaForeachWriter.codecOf(c)
                    catch { case e: IllegalArgumentException =>
                      throw GraftApp.SqlError(e.getMessage) }).getOrElse(0))
              else if (fmt == "http")
                new graft.sources.HttpForeachWriter(req("url"),
                  sd.options.getOrElse("content.type", "text/plain"))
              else
                new graft.sources.AmqpForeachWriter(req("host"), req("port").toInt,
                  req("queue"), sd.options.getOrElse("vhost", "/"),
                  sd.options.getOrElse("user", "guest"),
                  sd.options.getOrElse("pass", "guest"),
                  tls = sd.options.get("tls").exists(_.trim.equalsIgnoreCase("true")),
                  trustStore = sd.options.get("tls.truststore").map(p =>
                    p -> sd.options.getOrElse("tls.truststore.password", "")))
            // transport options are consumed above; everything else
            // (checkpointLocation, trigger intervals, …) must still reach
            // the writer — silently dropping them would lose checkpoints
            val transportKeys = Set("host", "port", "queue", "vhost", "user",
              "pass", "tls", "tls.truststore", "tls.truststore.password",
              "brokers", "topic", "url", "content.type",
              "sasl.user", "sasl.pass", "compression")
            var writer = mapSinkRows(env(name), sd).writeStream
              .foreach(fw)
              .outputMode(sd.options.getOrElse("outputMode", "append"))
              .queryName(name)
            sd.options.filterNot(kv => Reserved.contains(kv._1) ||
                kv._1 == "outputMode" || mapperOption(kv._1) ||
                transportKeys.contains(kv._1))
              .foreach { case (k, v) => writer = writer.option(k, v) }
            Some(writer.start())
          } else {
            var writer = mapSinkRows(env(name), sd).writeStream.format(fmt)
              .outputMode(sd.options.getOrElse("outputMode", "append"))
              .queryName(name)
            sd.options.filterNot(kv => Reserved.contains(kv._1) ||
                kv._1 == "outputMode" || mapperOption(kv._1))
              .foreach { case (k, v) => writer = writer.option(k, v) }
            Some(writer.start())
          }
        }
      case _ => None
    }

  /** Run a fully-declared app: auto-attach sources and triggers, compile
    * queries, start sinks.
    */
  def start(spark: SparkSession, appSql: String,
            extraInputs: Map[String, DataFrame] = Map.empty): Seq[StreamingQuery] = {
    val spec = GraftApp.parse(appSql)
    val env = GraftApp.run(spark, appSql,
      bindSources(spark, spec) ++ bindTriggers(spark, spec) ++
        bindJdbcTables(spark, spec) ++ extraInputs)
    startSinks(spec, env)
  }
}
