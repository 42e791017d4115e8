package graft.sql

import scala.util.matching.Regex

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal EventFlux-SQL application front end (SURVEY §3.1): a multi-
  * statement app — `CREATE STREAM/TABLE …; INSERT INTO … SELECT … FROM …
  * [WHERE] [WINDOW(…)] [GROUP BY] [HAVING] [ORDER BY] [LIMIT];` — compiled
  * to chained DataFrame pipelines.
  *
  * Design (deliberately different from the reference's processor-chain
  * runtime, src/sql_compiler/converter.rs): statements parse to an
  * [[AppSpec]]; each query lowers to declarative DataFrame transforms with
  * every scalar expression handed to Spark's own SQL expression parser —
  * Catalyst owns analysis, optimization, and codegen (the reference has no
  * optimizer at all; GRAMMAR.md:695-707). Streams chain by name: an INSERT
  * INTO target makes `target` visible as a source for later queries,
  * mirroring the junction fan-in (stream_junction.rs:40-58) — multiple
  * inserts into one stream union.
  *
  * DDL-first like the reference (catalog.rs:144-165): queries against
  * undeclared streams fail at compile time with a typed error.
  */
object GraftApp {

  // ---- spec model (mirror of the reference's query_api surface we cover)

  final case class StreamDef(name: String, schema: StructType,
                             options: Map[String, String], isTable: Boolean)

  final case class WindowClause(kind: String, params: Seq[String])

  /** joinType ∈ inner/left_outer/right_outer/full_outer; cond is a Spark
    * SQL boolean expr over `<source>.<col>` / `<joinStream>.<col>`.
    * `window` is the side's buffer window (`JOIN B WINDOW('length', n) ON`):
    * in the reference every arrival probes the opposite side's *windowed*
    * buffer (join_processor.rs:18-214), so the window bounds join state.
    */
  final case class JoinClause(joinType: String, stream: String, cond: String,
                              window: Option[WindowClause] = None,
                              alias: Option[String] = None,
                              // `USING (c1, …)` column list / NATURAL JOIN
                              // marker — resolved to an equality ON at
                              // compile, when both sides' schemas are known
                              // (the reference rejects both spellings,
                              // converter.rs:631-634 — beyond-parity)
                              using: Seq[String] = Nil,
                              natural: Boolean = false) {
    /** The name qualified refs use: the AS alias when present. */
    def label: String = alias.getOrElse(stream)
  }

  /** `lhs [NOT] IN (SELECT expr FROM src [WHERE …])` extracted from a
    * top-level WHERE conjunct (reference roadmap GRAMMAR.md:812-820).
    * Compiles to a left_semi / left_anti join — membership over streams
    * AND tables (the passive-state read is exactly the reference's
    * table-membership test). NOT IN is the anti-join: a NULL in the
    * subquery does not annihilate the result (standard SQL NOT-IN NULL
    * annihilation is never what a stream filter wants; divergence pinned
    * by spec).
    */
  /** `tableForm` marks the reference's own spelling `expr [NOT] IN Table`
    * (query_api/expression/condition/in_op.rs; executor
    * in_expression_executor.rs: NULL value → false, membership against the
    * single-column table) — resolved to the table's column at statement
    * level, then identical lowering. */
  final case class InSubquery(lhs: String, negated: Boolean,
                              selectExpr: String, source: String,
                              where: Option[String],
                              tableForm: Boolean = false)

  /** `[NOT] EXISTS (SELECT … FROM src [WHERE cond])` as a top-level WHERE
    * conjunct: the select list is irrelevant (per SQL), `cond` may
    * correlate with the outer query via qualified refs (`src.col =
    * Outer.col`) — it becomes the semi/anti join condition directly; no
    * cond means "src is non-empty". */
  final case class ExistsSubquery(negated: Boolean, source: String,
                                  where: Option[String])

  final case class QuerySpec(
      target: String, source: String,
      selectItems: Seq[(String, Option[String])], // (expr, alias)
      joins: Seq[JoinClause],
      where: Option[String],
      window: Option[WindowClause],
      groupBy: Seq[String],
      having: Option[String],
      orderBy: Seq[String],
      limit: Option[Int],
      offset: Option[Int] = None,
      partitionKeys: Seq[String] = Nil, // PARTITION WITH keys (§2.9)
      outputEvents: String = "current", // INSERT [CURRENT|EXPIRED|ALL] EVENTS
      sourceWindow: Option[WindowClause] = None, // FROM src WINDOW(…) JOIN …
      distinct: Boolean = false, // SELECT DISTINCT …
      inSubqueries: Seq[InSubquery] = Nil, // WHERE … IN (SELECT …) conjuncts
      existsSubqueries: Seq[ExistsSubquery] = Nil, // WHERE [NOT] EXISTS (…)
      sourceAlias: Option[String] = None, // FROM src AS a (joins.rs AS-alias)
      outputRate: Option[OutputRateSpec] = None) { // OUTPUT … EVERY … (§2.10)
    /** The name qualified refs use for the source side. */
    def sourceLabel: String = sourceAlias.getOrElse(source)
  }

  /** `OUTPUT [ALL|FIRST|LAST] EVERY n EVENTS | d <unit>` / `OUTPUT
    * SNAPSHOT EVERY d <unit>` (output_rate.rs:10-22 Events/Time/Snapshot
    * variants + per_events/per_time/per_snapshot factories — query-API
    * only in the reference; its SQL tests sit behind `#[ignore = "… not
    * yet supported"]`, compatibility/aggregations.rs:789+). kind ∈
    * events|time|snapshot; n = event count for events, microseconds
    * otherwise; behavior ∈ all|first|last (snapshot implies all).
    */
  final case class OutputRateSpec(kind: String, behavior: String, n: Long)

  /** CREATE TRIGGER (trigger_definition.rs): mode ∈ start/every/cron.
    * `everyMs` is resolved for both EVERY and the supported cron forms.
    */
  final case class TriggerDef(name: String, mode: String,
                              everyMs: Option[Long], cron: Option[String])

  /** Table DML (§2.10): `UPDATE t SET … FROM s WHERE/ON cond`,
    * `DELETE FROM t FROM s WHERE/ON cond`, `UPDATE OR INSERT INTO t
    * SELECT … FROM s ON cond` (update_table_processor.rs:12, update_set.rs,
    * delete_table_processor.rs — roadmap syntax in the reference, lowered
    * here onto the TableOps merge algebra).
    */
  final case class DmlSpec(kind: String, table: String, source: String,
                           setClauses: Seq[(String, String)],
                           selectItems: Seq[(String, Option[String])],
                           cond: String)

  /** `CREATE AGGREGATION` definition (aggregation_definition.rs:13-24:
    * input stream + group keys + aggregated attribute + time-period range):
    * lowered onto Rollups.cascade at query time. `grains` is the contiguous
    * EVERY <from> TO <to> slice of Rollups.Grains.
    */
  final case class AggDef(name: String, source: String, keys: Seq[String],
                          valueCol: String, tsCol: String, grains: Seq[String],
                          // SELECT-form definitions (`CREATE AGGREGATION n
                          // SELECT k, AVG(v) AS a …`) record alias →
                          // cascade-column so WITHIN … PER queries can
                          // reference the declared names
                          aliases: Seq[(String, String)] = Nil)

  /** `INSERT INTO t SELECT … FROM <agg> WITHIN 'from' AND 'to' PER 'grain'`
    * — the reference's on-demand `query_aggregation(agg_id, within, per)`
    * (eventflux_app_runtime.rs:982-993) as a statement. Select items see
    * the cascade columns: the group keys, `bucket`, and cnt/sum_v/min_v/
    * max_v/avg_v.
    */
  final case class AggQuerySpec(target: String, selectItems: Seq[(String, Option[String])],
                                agg: String, from: String, to: String, per: String,
                                orderBy: Seq[String])

  /** Statements that execute against the env, in declared order. */
  sealed trait Stmt
  final case class QueryStmt(q: QuerySpec) extends Stmt
  final case class PatternStmt(p: PatternCompiler.PatternQuery) extends Stmt
  final case class DmlStmt(d: DmlSpec) extends Stmt
  final case class AggQueryStmt(q: AggQuerySpec) extends Stmt

  /** Expression function: `body` is already parse-validated and has every
    * reference to an EARLIER user function inlined, so registering it can
    * never recurse (self/forward references are typed parse errors).
    */
  final case class FnDef(name: String, params: Seq[String],
      body: org.apache.spark.sql.catalyst.expressions.Expression)

  final case class AppSpec(streams: Map[String, StreamDef], queries: Seq[QuerySpec],
                           patterns: Seq[PatternCompiler.PatternQuery] = Nil,
                           triggers: Seq[TriggerDef] = Nil,
                           stmts: Seq[Stmt] = Nil,
                           aggs: Map[String, AggDef] = Map.empty,
                           fns: Seq[FnDef] = Nil)

  final case class SqlError(msg: String) extends RuntimeException(msg)

  // ---- parsing (regex statement-shape parser; expressions delegate to Spark)

  private val CreateRe: Regex =
    """(?is)\s*CREATE\s+(STREAM|TABLE)\s+(\w+)\s*\((.*?)\)\s*(?:WITH\s*\((.*?)\))?\s*""".r
  /** `CREATE FUNCTION name(p1, p2, …) AS '<expression>'` (round 16,
    * VERDICT r15 #9): the declarative analogue of the reference's script
    * UDF stub (script_function_executor.rs:12) — the body is a SQL scalar
    * expression over the named parameters, compiled through the same
    * Catalyst expression parser as every select/filter item, so it stays
    * codegen'd (no interpreter, no serialization boundary). Escape a
    * literal quote inside the body as `''`.
    */
  private val CreateFnRe: Regex =
    """(?is)\s*CREATE\s+FUNCTION\s+(\w+)\s*\(\s*([^)]*?)\s*\)\s+AS\s+'(.*)'\s*""".r
  private val InsertRe: Regex =
    """(?is)\s*INSERT\s+(?:(CURRENT|EXPIRED|ALL)\s+EVENTS\s+)?INTO\s+(\w+)\s+SELECT\s+(.*?)\s+FROM\s+(!?\w+)\s*(.*)""".r
  private val PatternPrefixRe: Regex =
    """(?is)\s*INSERT\s+INTO\s+(\w+)\s+SELECT\s+(.*?)\s+FROM\s+(PATTERN|SEQUENCE)\s*\(""".r
  private val AggRe: Regex =
    ("""(?is)\s*CREATE\s+AGGREGATION\s+(\w+)\s+FROM\s+(\w+)\s+""" +
      """(?:GROUP\s+BY\s+(.*?)\s+)?AGGREGATE\s+(\w+)\s+BY\s+(\w+)\s+""" +
      """EVERY\s+(\w+?)(?:\s+TO\s+(\w+)|\s*\.\.\.\s*(\w+))?\s*""").r
  /** The reference grammar's SELECT-form spelling (type_validation_test.rs
    * :525-545): `CREATE AGGREGATION n SELECT k…, FN(v) [AS a]… FROM s
    * [GROUP BY k…] AGGREGATE BY ts EVERY g1...g2` — same AggDef, aliases
    * recorded for WITHIN … PER queries.
    */
  private val AggSelectRe: Regex =
    ("""(?is)\s*CREATE\s+AGGREGATION\s+(\w+)\s+SELECT\s+(.*?)\s+FROM\s+(\w+)\s+""" +
      """(?:GROUP\s+BY\s+(.*?)\s+)?AGGREGATE\s+BY\s+(\w+)\s+""" +
      """EVERY\s+(\w+?)(?:\s*\.\.\.\s*(\w+))?\s*""").r
  /** Siddhi-style grain abbreviations → Rollups.Grains spellings. */
  private def normalizeGrain(g: String): String = g.toLowerCase match {
    case "sec" | "secs" | "seconds" => "second"
    case "min" | "mins" | "minutes" => "minute"
    case "hours" => "hour"
    case "days" => "day"
    case "months" => "month"
    case "years" => "year"
    case other => other
  }
  private val AggQueryRe: Regex =
    ("""(?is)\s*INSERT\s+INTO\s+(\w+)\s+SELECT\s+(.*?)\s+FROM\s+(\w+)\s+""" +
      """WITHIN\s+'([^']+)'\s+AND\s+'([^']+)'\s+PER\s+'(\w+)'\s*(.*?)\s*""").r
  private val WindowRe: Regex =
    """(?is)WINDOW\s*\(\s*'(\w+)'\s*(?:,\s*([^)]*))?\)""".r

  private val WindowBareRe: Regex =
    """(?is)\bWINDOW\s+(\w+)\s*\(\s*([^)]*)\)""".r

  private val OutputRateRe: Regex =
    ("(?is)\\bOUTPUT\\s+(?:(ALL|FIRST|LAST|SNAPSHOT)\\s+)?EVERY\\s+" +
      "(\\d+)\\s*(EVENTS?|MILLISECONDS?|SECONDS?|MINUTES?|HOURS?|DAYS?)\\b").r

  private val TypeMap: Map[String, DataType] = Map(
    "STRING" -> StringType, "VARCHAR" -> StringType,
    "INT" -> IntegerType, "INTEGER" -> IntegerType,
    "BIGINT" -> LongType, "LONG" -> LongType,
    "FLOAT" -> FloatType, "DOUBLE" -> DoubleType,
    "BOOL" -> BooleanType, "BOOLEAN" -> BooleanType,
    "TIMESTAMP" -> TimestampType, "BINARY" -> BinaryType, "OBJECT" -> BinaryType,
    "TEXT" -> StringType) // app_runner_windows.rs:209 spells STRING as TEXT

  /** Column type in a CREATE STREAM/TABLE: a [[TypeMap]] scalar,
    * `ARRAY<type>` (round 13), or `STRUCT<name: type, …>` (round 14 —
    * the reference's own roadmap, feat/struct_type/STRUCT_TYPE.md,
    * specifies struct() composite returns; Spark has the types natively).
    * ARRAY/STRUCT nest recursively; field separators may be `:` or
    * whitespace.
    */
  private def parseColType(raw: String, where: String): DataType = {
    val t = raw.trim
    val up = t.toUpperCase
    def innerOf(kw: String): String = {
      val open = t.indexOf('<')
      if (open < 0) throw SqlError(s"$kw type needs <…> in $where: '$t'")
      var depth = 0; var i = open
      while (i < t.length) {
        t.charAt(i) match {
          case '<' => depth += 1
          case '>' => depth -= 1; if (depth == 0) return t.substring(open + 1, i)
          case _ =>
        }
        i += 1
      }
      throw SqlError(s"unbalanced <…> in $kw type in $where: '$t'")
    }
    if (up.startsWith("ARRAY") && up.takeWhile(_ != '<').trim == "ARRAY")
      org.apache.spark.sql.types.ArrayType(parseColType(innerOf("ARRAY"), where))
    else if (up.startsWith("MAP") && up.takeWhile(_ != '<').trim == "MAP") {
      val parts = splitAngleAware(innerOf("MAP"))
      if (parts.size != 2) throw SqlError(
        s"MAP type needs exactly <key, value> in $where: '$t'")
      org.apache.spark.sql.types.MapType(
        parseColType(parts(0), where), parseColType(parts(1), where))
    } else if (up.startsWith("STRUCT") && up.takeWhile(_ != '<').trim == "STRUCT") {
      val fields = splitAngleAware(innerOf("STRUCT")).map { f =>
        val fm = """(?s)^\s*(\w+)\s*:?\s*(.+)$""".r.findFirstMatchIn(f)
          .getOrElse(throw SqlError(
            s"bad STRUCT field '$f' in $where — expected name[:] type"))
        StructField(fm.group(1), parseColType(fm.group(2), where))
      }
      if (fields.isEmpty) throw SqlError(s"empty STRUCT<> in $where")
      StructType(fields)
    } else {
      // first token is the type; trailing modifiers (PRIMARY KEY — the
      // reference corpus spells them) are tolerated like before
      val head = up.split("\\s+").head
      TypeMap.getOrElse(head,
        throw SqlError(s"unknown type '$head' in $where"))
    }
  }

  /** Split a column/field list on commas OUTSIDE angle brackets —
    * `a STRUCT<x: INT, y: STRING>, b BIGINT` is two columns. */
  private def splitAngleAware(raw: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < raw.length) {
      raw.charAt(i) match {
        case '<' => depth += 1
        case '>' => depth -= 1
        case ',' if depth == 0 => out += raw.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += raw.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // the block terminator is an END followed by `;` (or end of app text) —
  // a CASE expression's END inside a block query is followed by an alias /
  // FROM / `,`, so the lookahead skips it (partitions.rs range-partition
  // apps carry CASE WHEN inside their SELECTs)
  private val PartitionRe: Regex =
    """(?is)PARTITION\s+WITH\s*\((.*?)\)\s+BEGIN\s+(.*?)\s+END(?=\s*(?:;|$))\s*;?""".r

  /** The reference's value/range-partition spelling (compatibility/
    * tables.rs:75 partition_test1, :524 range form): `PARTITION BY
    * key[, key…] OF stream BEGIN … END` or `PARTITION BY cond AS 'label'
    * [OR …] OF stream BEGIN … END` — same semantics as PARTITION WITH
    * (spec OF stream, …), one stream for every spec.
    */
  private val PartitionByRe: Regex =
    """(?is)PARTITION\s+BY\s+(.+?)\s+OF\s+(\w+)\s+BEGIN\s+(.*?)\s+END(?=\s*(?:;|$))\s*;?""".r

  private val TriggerRe: Regex =
    """(?is)\s*CREATE\s+TRIGGER\s+(\w+)\s+AT\s+(.+?)\s*""".r

  /** `WINDOW('session', [ts,] gap [, key…])`: the duration param is the
    * gap; anything before it is the event-time column, anything after it
    * partition keys (session_window_test2 shape).
    */
  private def sessionParams(w: WindowClause): (String, String, Seq[String]) = {
    val durRe = """(?i)^\d+\s*(millisecond|second|minute|hour|day)s?$""".r
    val gi = w.params.indexWhere(p => durRe.findFirstIn(p.trim).isDefined)
    if (gi < 0) throw SqlError(s"session window needs a gap duration, got ${w.params}")
    val ts = if (gi > 0) w.params(gi - 1) else "ts"
    (ts, w.params(gi), w.params.drop(gi + 1))
  }

  private val AggCallRe: Regex =
    "(?i)^(sum|avg|count|min|max|stddev|stddev_pop|first|last)\\s*\\(".r

  /** Expression-level aggregate detection (round 16, VERDICT r15 #1): parse
    * the item with Catalyst and walk for an aggregate function call, so
    * scalar-wrapped aggregates (`round(max(x), 6)`) classify correctly —
    * the `^`-anchored AggCallRe saw only bare calls and mis-classified the
    * global sketch+aggregate mix. Strings Catalyst cannot parse as a single
    * expression (`*`, graft-only fragments) fall back to the prefix regex;
    * their own compile paths surface typed errors later.
    */
  private def hasAggCall(e: String): Boolean = {
    val t = e.trim
    if (t.isEmpty || t == "*") false
    else try {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(t)
        .exists {
          case f: UnresolvedFunction =>
            AggFnNames.contains(f.nameParts.last.toLowerCase)
          case _ => false
        }
    } catch {
      case scala.util.control.NonFatal(_) => AggCallRe.findFirstIn(t).isDefined
    }
  }

  /** Window kinds whose lowering emits a groupable `window` bucket column. */
  private val BucketWindowKinds: Set[String] =
    Set("tumbling", "timebatch", "externaltimebatch", "sliding", "hop",
      "session", "lengthbatch")

  private val UpsertRe: Regex =
    """(?is)\s*UPDATE\s+OR\s+INSERT\s+INTO\s+(\w+)\s+SELECT\s+(.*?)\s+FROM\s+(\w+)\s+ON\s+(.*?)\s*""".r
  private val UpdateRe: Regex =
    """(?is)\s*UPDATE\s+(\w+)\s+SET\s+(.*?)\s+FROM\s+(\w+)\s+(?:WHERE|ON)\s+(.*?)\s*""".r
  private val DeleteRe: Regex =
    """(?is)\s*DELETE\s+FROM\s+(\w+)\s+FROM\s+(\w+)\s+(?:WHERE|ON)\s+(.*?)\s*""".r

  /** One partition key of a PARTITION WITH block: a value key (`attr OF S`,
    * multiple keys comma-separated, value_partition_type.rs) or a RANGE key
    * (`cond AS 'label' OR cond AS 'label' … OF S`,
    * range_partition_type.rs) — the key expression becomes a CASE label and
    * `guard` drops events matching no range.
    */
  final case class PartitionKeySpec(stream: String, keyExpr: String,
                                    alias: Option[String], guard: Option[String])

  /** One partition spec (value key or range condition list) against its
    * stream — shared by the WITH and BY spellings.
    */
  private def partitionKeySpec(spec0: String, stream: String): PartitionKeySpec = {
    val spec = spec0.trim
    if (spec.matches("\\w+")) PartitionKeySpec(stream, spec, None, None)
    else {
      // range partition: cond AS 'label' [OR …]
      val partRe = """(?is)^(.*?)\s+AS\s+'([^']*)'$""".r
      val parts = PatternCompiler.splitTopLevelWord(spec, "OR").map {
        case partRe(cond, label) => (cond.trim, label)
        case other => throw SqlError(
          s"bad range partition element '$other' (want: cond AS 'label')")
      }
      val caseExpr = parts.map { case (c, l) => s"WHEN ($c) THEN '$l'" }
        .mkString("CASE ", " ", " END")
      val guard = parts.map { case (c, _) => s"($c)" }.mkString(" OR ")
      PartitionKeySpec(stream, caseExpr, Some("pkey"), Some(guard))
    }
  }

  private def parsePartitionKeys(raw: String): Seq[PartitionKeySpec] = {
    val ofRe = """(?is)^(.*?)\s+OF\s+(\w+)$""".r
    splitTopLevel(raw).map {
      case ofRe(spec0, stream) => partitionKeySpec(spec0, stream)
      case other => throw SqlError(s"bad partition key '$other' (want: key OF Stream)")
    }
  }

  /** Strip `-- …` line comments (outside single-quoted literals). */
  private def stripComments(sql: String): String =
    sql.split("\n", -1).map { line =>
      var inQ = false; var i = 0; var cut = -1
      while (i < line.length && cut < 0) {
        val c = line.charAt(i)
        if (c == '\'') inQ = !inQ
        else if (!inQ && c == '-' && i + 1 < line.length && line.charAt(i + 1) == '-') cut = i
        i += 1
      }
      if (cut >= 0) line.substring(0, cut) else line
    }.mkString("\n")

  def parse(appSql0: String): AppSpec = {
    val appSql = stripComments(appSql0)
    // PARTITION WITH (key OF Stream[, key OF Stream…]) BEGIN … END (§2.9):
    // every query in the block whose source matches gets the partition keys
    // folded into its grouping / frame spec — the Spark-native form of
    // per-key state isolation (groupBy already shards state per key; the
    // block just adds the keys to every key set).
    // statements keep their DECLARED order across block boundaries (the
    // reference contract: each statement sees everything before it) — a
    // plain query may consume a partitioned block's target and vice versa
    val orderedStmts = {
      val buf = Seq.newBuilder[(String, Seq[PartitionKeySpec])]
      def addPlain(text: String): Unit =
        text.split(";").map(_.trim).filter(_.nonEmpty)
          .foreach(s => buf += ((s, Seq.empty[PartitionKeySpec])))
      var pos = 0
      // both partition spellings, processed in source order: the WITH form
      // (this SQL surface's native §2.9 syntax) and the reference's BY …
      // OF … form (compatibility/tables.rs:75) — one key list, one stream
      val blocks: Seq[(Int, Int, Seq[PartitionKeySpec], String)] =
        (PartitionRe.findAllMatchIn(appSql).map(m =>
          (m.start, m.end, parsePartitionKeys(m.group(1)), m.group(2))) ++
         PartitionByRe.findAllMatchIn(appSql).map { m =>
           val stream = m.group(2)
           val keys = splitTopLevel(m.group(1)).map(_.trim).filter(_.nonEmpty)
             .map(partitionKeySpec(_, stream))
           if (keys.isEmpty) throw SqlError("PARTITION BY needs at least one key")
           (m.start, m.end, keys, m.group(3))
         }).toSeq.sortBy(_._1)
      blocks.foreach { case (start, end, keys, body) =>
        addPlain(appSql.substring(pos, start))
        body.split(";").map(_.trim).filter(_.nonEmpty)
          .foreach(s => buf += ((s, keys)))
        pos = end
      }
      addPlain(appSql.substring(pos))
      buf.result()
    }
    var streams = Map.empty[String, StreamDef]
    var aggs = Map.empty[String, AggDef]
    var fns = Seq.empty[FnDef]
    val queries = Seq.newBuilder[QuerySpec]
    val patterns = Seq.newBuilder[PatternCompiler.PatternQuery]
    val triggers = Seq.newBuilder[TriggerDef]
    val stmts = Seq.newBuilder[Stmt]
    def requireDefined(name: String): Unit =
      if (!streams.contains(name))
        throw SqlError(s"undefined stream/table '$name' (definition first)")
    // shared validation for both CREATE AGGREGATION spellings
    def mkAggDef(name: String, source: String, keys: Seq[String],
                 valueCol: String, tsCol: String, gFrom: String,
                 gTo: Option[String], aliases: Seq[(String, String)]): AggDef = {
      if (streams.contains(name) || aggs.contains(name)) throw SqlError(
        s"duplicate stream/table/trigger/aggregation definition '$name'")
      requireDefined(source)
      val sd = streams(source)
      (keys :+ valueCol :+ tsCol).foreach { c =>
        if (!sd.schema.fieldNames.contains(c)) throw SqlError(
          s"aggregation '$name': column '$c' not in stream '$source'")
      }
      val g1 = normalizeGrain(gFrom)
      val g2 = gTo.map(normalizeGrain).getOrElse(g1)
      val gi = graft.operators.Rollups.Grains.indexOf(g1)
      val gj = graft.operators.Rollups.Grains.indexOf(g2)
      if (gi < 0 || gj < 0) throw SqlError(
        s"aggregation '$name': grains must be one of ${graft.operators.Rollups.Grains.mkString(", ")}")
      if (gj < gi) throw SqlError(
        s"aggregation '$name': EVERY $gFrom TO ${gTo.getOrElse(gFrom)} is not a coarsening range")
      AggDef(name, source, keys, valueCol, tsCol,
        graft.operators.Rollups.Grains.slice(gi, gj + 1), aliases)
    }
    // ---- statement-local desugaring: WITH CTEs and top-level UNION [ALL]
    // (reference roadmap GRAMMAR.md:822-841). Both lower onto the existing
    // chained-INSERT algebra — a CTE is a named single-use stream; a UNION
    // branch is a fan-in INSERT (distinct = SELECT DISTINCT * over an
    // internal fan-in stream). Names are mangled per statement so the same
    // CTE name in two statements never unions across them.
    var synth = 0
    def freshName(tag: String, base: String): String = {
      synth += 1; s"__${tag}${synth}_$base"
    }
    def registerSynth(name: String): Unit =
      streams += name -> StreamDef(name, StructType(Nil), Map.empty, isTable = false)
    // NOTE: branches combine through the dialect's fan-in (unionByName),
    // so columns pair BY NAME, not by SQL's positional rule — consistent
    // with multi-INSERT chaining, where every branch aliases to the
    // target's declared columns. Branches with disjoint aliases fail at
    // analysis rather than silently mispairing.
    def desugarUnion(stmt: String): Seq[String] = {
      val parts = splitTopLevelKeyword(stmt, "UNION").map(_.trim)
      if (parts.lengthCompare(1) == 0) return Seq(stmt)
      val headRe = ("(?is)^(INSERT\\s+(?:(CURRENT|EXPIRED|ALL)\\s+EVENTS\\s+)?" +
        "INTO\\s+)(\\w+)(\\s+SELECT\\b.*)$").r
      val head = headRe.findFirstMatchIn(parts.head).getOrElse(
        throw SqlError("UNION is supported between the SELECT branches of an " +
          s"INSERT INTO statement — got '${parts.head.take(60)}'"))
      if (head.group(2) != null)
        throw SqlError("INSERT … EVENTS cannot combine with UNION — the " +
          "changelog modifier is per-query, not per-branch")
      val target = head.group(3)
      // the split drops only the UNION token: a branch that was `UNION ALL`
      // still starts with ALL
      val allFlags = parts.tail.map(p => "(?is)^ALL\\b".r.findFirstIn(p).isDefined)
      if (allFlags.distinct.lengthCompare(1) > 0)
        throw SqlError("mixed UNION and UNION ALL in one statement is not " +
          "supported — split into separate statements")
      val branches = parts.tail.map(p => "(?is)^ALL\\b\\s*".r.replaceFirstIn(p, "").trim)
      branches.foreach { b =>
        if (!b.matches("(?is)^SELECT\\b.*"))
          throw SqlError(s"each UNION branch must be a SELECT query — got '${b.take(60)}'")
      }
      if (allFlags.head) {
        // UNION ALL ≡ the existing fan-in: every branch inserts the target
        parts.head +: branches.map(b => s"INSERT INTO $target $b")
      } else {
        val u = freshName("union", target)
        registerSynth(u)
        (s"${head.group(1)}$u${head.group(4)}" +:
          branches.map(b => s"INSERT INTO $u $b")) :+
          s"INSERT INTO $target SELECT DISTINCT * FROM $u"
      }
    }
    def desugarCte(stmt: String): Seq[String] = {
      val pre = "(?is)^\\s*WITH\\s+".r.findPrefixMatchOf(stmt)
      if (pre.isEmpty) return Seq(stmt)
      var rest = stmt.substring(pre.get.end)
      var defs = Seq.empty[(String, String)]
      var more = true
      while (more) {
        val h = "(?is)^(\\w+)\\s+AS\\s*\\(".r.findPrefixMatchOf(rest).getOrElse(
          throw SqlError("malformed WITH clause — expected: WITH Name AS " +
            "(SELECT …) [, Name2 AS (…)] INSERT INTO …"))
        val name = h.group(1)
        val i = PatternCompiler.closeParen(rest, h.end)
        if (i < 0)
          throw SqlError(s"unbalanced parentheses in WITH clause for '$name'")
        val body = rest.substring(h.end, i - 1).trim
        if (!body.matches("(?is)^SELECT\\b.*"))
          throw SqlError(s"CTE '$name' body must be a SELECT query")
        if (defs.exists(_._1.equalsIgnoreCase(name)))
          throw SqlError(s"duplicate CTE name '$name'")
        if (streams.contains(name) || aggs.contains(name))
          throw SqlError(s"CTE '$name' shadows a declared stream/table/" +
            "aggregation — pick another name")
        defs :+= (name -> body)
        rest = rest.substring(i)
        "(?s)^\\s*,\\s*".r.findPrefixMatchOf(rest) match {
          case Some(cm) => rest = rest.substring(cm.end)
          case None => more = false
        }
      }
      if (rest.trim.isEmpty)
        throw SqlError("WITH must be followed by a statement that uses the CTEs")
      val mangled = defs.map { case (n, _) => n -> freshName("cte", n) }.toMap
      defs.foreach { case (n, _) => registerSynth(mangled(n)) }
      // Rewrite the CTE name ONLY where it stands as a stream source —
      // after FROM/JOIN or qualifying a column (`Name.col`) — so a COLUMN
      // of another stream that merely shares the name survives untouched.
      def rwSource(text: String, n: String): String = {
        val quoted = java.util.regex.Pattern.quote(n)
        replaceOutsideQuotes(
          replaceOutsideQuotes(text,
            ("(?i)(?<=\\b(?:FROM|JOIN)\\s{1,20})" + quoted + "\\b").r, mangled(n)),
          ("(?i)\\b" + quoted + "\\b(?=\\s*\\.)").r, mangled(n))
      }
      // a CTE body sees EARLIER ctes only (forward/self references stay
      // unmangled and fail as undefined streams — typed, like the reference)
      val cteStmts = defs.zipWithIndex.map { case ((n, body), i) =>
        val b2 = defs.take(i).map(_._1).foldLeft(body)(rwSource)
        s"INSERT INTO ${mangled(n)} $b2"
      }
      val tail = defs.map(_._1).foldLeft(rest.trim)(rwSource)
      cteStmts :+ tail
    }
    // bare `SELECT … FROM s;` statement (sql_with_end_to_end.rs:409 — the
    // reference's ad-hoc subscription form, no INSERT INTO): desugar to an
    // INSERT into a synthesized output stream; run() exposes it in the
    // result map like any derived stream
    def adhocSelect(stmt: String): String =
      if ("""(?is)^\s*SELECT\b""".r.findFirstIn(stmt).isDefined)
        s"INSERT INTO ${freshName("adhoc", "select")} $stmt"
      else stmt
    def expandStmt(stmt: String): Seq[String] =
      desugarCte(stmt).flatMap(desugarUnion).map(adhocSelect)
        .map(desugarMatchRecognize)
    // expansion happens per statement IN ORDER (not as a prepass), so a
    // CTE's shadow check and requireDefined see every earlier CREATE
    orderedStmts
      .foreach { case (stmt0, part) =>
        expandStmt(stmt0).foreach { stmt =>
      parsePatternInsert(stmt) match {
        case Some(pq0) =>
          pq0.allAlts.foreach(a => requireDefined(a.stream))
          // enclosing PARTITION WITH block folds in as the pattern key
          // (explicit PARTITION BY wins; patterns take a single key); range
          // guards become per-stream event pre-filters so out-of-range
          // events never reach the NFA
          val patKeys = part.filter(k => pq0.allAlts.exists(_.stream.equalsIgnoreCase(k.stream)))
          val guards = patKeys.flatMap(k => k.guard.map(k.stream -> _)).toMap
          val pq0g = if (guards.isEmpty) pq0 else pq0.copy(sourceFilters = guards)
          val pq = (pq0g.partitionBy, patKeys) match {
            case (None, Seq(k)) => pq0g.copy(partitionBy = Some(k.keyExpr))
            case (None, ks) if ks.size > 1 =>
              throw SqlError("patterns support a single partition key")
            case _ => pq0g
          }
          patterns += pq
          stmts += PatternStmt(pq)
        case None => stmt match {
          // CREATE TRIGGER Name AT START | AT EVERY n unit | AT '<cron>'
          // (trigger_definition.rs; TriggerTestCase ports). The trigger
          // name becomes a stream with a single triggered_time column.
          case TriggerRe(name, atRaw) =>
            if (streams.contains(name)) throw SqlError(
              s"duplicate stream/table/trigger definition '$name'")
            val t = parseTriggerAt(name, atRaw.trim)
            triggers += t
            streams += name -> StreamDef(name,
              StructType(Seq(StructField("triggered_time", TimestampType))),
              Map("type" -> "trigger"), isTable = false)
          case CreateFnRe(name, paramsRaw, bodyRaw) =>
            import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
            val lower = name.toLowerCase
            if (fns.exists(_.name == lower)) throw SqlError(
              s"duplicate function definition '$name'")
            if (Set("kmv_distinct", "hist_quantile", "heavy_hitters")(lower))
              throw SqlError(s"function name '$name' collides with a sketch " +
                "aggregate — pick another name")
            if (org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
                .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(lower)))
              throw SqlError(s"function name '$name' shadows a builtin — " +
                "pick another name")
            val params = paramsRaw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            params.foreach(p => if (!p.matches("\\w+")) throw SqlError(
              s"function '$name': parameter '$p' must be a plain identifier"))
            if (params.map(_.toLowerCase).distinct.size != params.size)
              throw SqlError(s"function '$name': duplicate parameter names")
            val bodyText = bodyRaw.replace("''", "'")
            val raw = try {
              org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                .parseExpression(bodyText)
            } catch {
              case e: org.apache.spark.sql.catalyst.parser.ParseException =>
                throw SqlError(s"function '$name': cannot parse body " +
                  s"'${bodyText.trim}': " + e.getMessage.linesIterator
                    .find(_.trim.nonEmpty).getOrElse("syntax error").trim)
            }
            // references to EARLIER user functions inline eagerly, so the
            // registered body is self-contained (no registry recursion; a
            // self or forward reference survives the pass and dies typed)
            val earlier = fns.map(f => f.name -> f).toMap
            val expanded = raw.transformUp {
              case uf: UnresolvedFunction
                  if earlier.contains(uf.nameParts.last.toLowerCase) =>
                applyFn(earlier(uf.nameParts.last.toLowerCase), uf.arguments)
            }
            expanded.foreach {
              case uf: UnresolvedFunction
                  if uf.nameParts.last.equalsIgnoreCase(name) =>
                throw SqlError(s"function '$name' may not reference itself — " +
                  "expression functions are non-recursive")
              case _ => ()
            }
            // free variables must be parameters: anything else would bind
            // to whatever column happens to be in scope at the call site
            val pset = params.map(_.toLowerCase).toSet
            expanded.foreach {
              case a: UnresolvedAttribute
                  if a.nameParts.size == 1 && !pset(a.nameParts.head.toLowerCase) =>
                throw SqlError(s"function '$name': body references " +
                  s"'${a.nameParts.head}' which is not a parameter")
              case a: UnresolvedAttribute if a.nameParts.size > 1 =>
                throw SqlError(s"function '$name': body may not use " +
                  s"qualified references ('${a.nameParts.mkString(".")}')")
              case _ => ()
            }
            fns :+= FnDef(lower, params, expanded)
          case CreateRe(kind, name, colsRaw, withRaw) =>
            if (streams.contains(name)) throw SqlError(
              s"duplicate stream/table/trigger definition '$name'")
            val fields = splitAngleAware(colsRaw).map { c =>
              val parts = c.split("\\s+", 2)
              if (parts.length < 2) throw SqlError(s"bad column def '$c' in $name")
              StructField(parts(0), parseColType(parts(1).trim, name))
            }.toArray
            val opts = Option(withRaw).map(parseWith).getOrElse(Map.empty)
            // mapper fault routing (stream_junction.rs:31-37 OnErrorAction;
            // fault streams carry the reference's `!` prefix,
            // query_api/constants.rs FAULT_STREAM_FLAG): 'stream' implicitly
            // defines `!Name (value STRING)` holding the raw unparseable
            // lines; 'drop' discards them; 'log' (default) passes the
            // null-padded row through. STORE's bespoke error store is
            // Spark-side a sink on the fault stream — spell it that way.
            opts.get("on.error").foreach { v =>
              if (!Set("log", "drop", "stream").contains(v.toLowerCase))
                throw SqlError(s"stream '$name': on.error must be log, drop " +
                  s"or stream (got '$v'; for store semantics attach a sink " +
                  "to the !-fault stream)")
              // fault routing exists only at the mapper seam, and bindSources
              // engages the mapper only for line transports (socket): any
              // other declared source format would register a `!Name` stream
              // that never receives data — reject at parse time, not at run
              if (v.equalsIgnoreCase("stream") &&
                  opts.get("type").contains("source") &&
                  !opts.get("format").forall(_ == "socket"))
                throw SqlError(s"stream '$name': on.error='stream' needs a " +
                  "line-mapped transport (format 'socket'); format " +
                  s"'${opts.getOrElse("format", "?")}' bypasses the mapper, " +
                  s"so the !$name fault stream would never be fed")
              if (v.equalsIgnoreCase("stream"))
                streams += s"!$name" -> StreamDef(s"!$name",
                  StructType(Seq(StructField("value", StringType))),
                  Map.empty, isTable = false)
            }
            streams += name -> StreamDef(name, StructType(fields), opts,
              isTable = kind.equalsIgnoreCase("TABLE"))
          case AggRe(name, source, keysRaw, valueCol, tsCol, gFrom, gTo, gToDots) =>
            aggs += name -> mkAggDef(name, source,
              Option(keysRaw).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
              valueCol, tsCol, gFrom, Option(gTo).orElse(Option(gToDots)), Nil)
          case AggSelectRe(name, select, source, keysRaw, tsCol, gFrom, gTo) =>
            // SELECT-form: key items must be GROUP BY keys; agg items must
            // all target ONE value column (the cascade carries one measure
            // set); aliases map onto the cascade columns for later queries
            val keys = Option(keysRaw).toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            val fnToCascade = Map("sum" -> "sum_v", "avg" -> "avg_v",
              "min" -> "min_v", "max" -> "max_v", "count" -> "cnt")
            val aggItemRe = """(?is)^(sum|avg|min|max|count)\s*\(\s*(\w+|\*)\s*\)(?:\s+AS\s+(\w+))?$""".r
            var valueCol: Option[String] = None
            val aliases = Seq.newBuilder[(String, String)]
            splitTopLevel(select).map(_.trim).foreach {
              case aggItemRe(fn, c, al) =>
                if (!c.equals("*")) {
                  valueCol.filter(_ != c).foreach(v => throw SqlError(
                    s"aggregation '$name': one value column per aggregation " +
                      s"— got both '$v' and '$c' (define a second aggregation)"))
                  if (c != "*") valueCol = Some(c)
                } else if (!fn.equalsIgnoreCase("count")) throw SqlError(
                  s"aggregation '$name': $fn(*) is not a measure — name a column")
                Option(al).foreach(a => aliases += a -> fnToCascade(fn.toLowerCase))
              case item if keys.exists(_.equalsIgnoreCase(item)) => ()
              case item => throw SqlError(
                s"aggregation '$name': select item '$item' must be a GROUP BY " +
                  "key or sum/avg/min/max/count(col) [AS alias]")
            }
            aggs += name -> mkAggDef(name, source, keys,
              valueCol.getOrElse(throw SqlError(
                s"aggregation '$name' needs at least one aggregated column")),
              tsCol, gFrom, Option(gTo), aliases.result())
          case AggQueryRe(target, select, aggName, from, to, per, rest)
              if aggs.contains(aggName) =>
            val ad = aggs(aggName)
            if (!ad.grains.contains(per.toLowerCase)) throw SqlError(
              s"aggregation '$aggName' materializes ${ad.grains.mkString(", ")} — " +
                s"PER '$per' is not among them")
            val orderBy = rest.trim match {
              case "" => Nil
              case r => "(?is)^ORDER\\s+BY\\s+(.*)$".r.findFirstMatchIn(r)
                .map(m => splitTopLevel(m.group(1)))
                .getOrElse(throw SqlError(
                  s"aggregation query supports ORDER BY only, got '${r.take(40)}'"))
            }
            stmts += AggQueryStmt(AggQuerySpec(target,
              splitTopLevel(select).map(parseSelectItem), aggName,
              from, to, per.toLowerCase, orderBy))
          case UpsertRe(table, select, source, cond) =>
            requireDefined(table); requireDefined(source)
            val items = splitTopLevel(select).map(parseSelectItem)
            stmts += DmlStmt(DmlSpec("upsert", table, source, Nil, items, cond.trim))
          case UpdateRe(table, setRaw, source, cond) =>
            requireDefined(table); requireDefined(source)
            val sets = splitTopLevel(setRaw).map { s =>
              s.split("=", 2) match {
                case Array(c, e) => (c.trim, e.trim)
                case _ => throw SqlError(s"bad SET clause '$s'")
              }
            }
            stmts += DmlStmt(DmlSpec("update", table, source, sets, Nil, cond.trim))
          case DeleteRe(table, source, cond) =>
            requireDefined(table); requireDefined(source)
            stmts += DmlStmt(DmlSpec("delete", table, source, Nil, Nil, cond.trim))
          case InsertRe(outEvents, target, select, source, rest) =>
            // a direct SELECT on an aggregation (no WITHIN … PER) has no
            // defined grain/range — rejected like the reference intends
            // (type_validation_test.rs:541 "Direct aggregation query
            // should be rejected")
            if (aggs.contains(source)) throw SqlError(
              s"aggregation '$source' must be queried with WITHIN 'from' " +
                "AND 'to' PER 'grain' — a direct SELECT on an aggregation " +
                "has no defined grain or range")
            requireDefined(source)
            val q00 = parseQuery(target, select, source, rest)
              .copy(outputEvents = Option(outEvents).map(_.toLowerCase).getOrElse("current"))
            // resolve `expr IN Table` membership (in_expression_executor.rs)
            // to the table's single column; subquery form passes through
            q00.existsSubqueries.foreach(s => requireDefined(s.source))
            val q0 = q00.copy(inSubqueries = q00.inSubqueries.map { s =>
              requireDefined(s.source)
              if (!s.tableForm) s
              else {
                val sd = streams(s.source)
                if (!sd.isTable) throw SqlError(
                  s"'${s.lhs} IN ${s.source}': ${s.source} is a stream — " +
                    s"membership needs a TABLE, or spell IN (SELECT col FROM ${s.source})")
                if (sd.schema.fields.length != 1) throw SqlError(
                  s"IN ${s.source}: membership table must have exactly one " +
                    s"column (${s.source} has ${sd.schema.fieldNames.mkString(", ")}) — " +
                    s"use IN (SELECT <col> FROM ${s.source})")
                s.copy(selectExpr = sd.schema.fieldNames.head, tableForm = false)
              }
            })
            // partition keys fold into the key set (and output) of grouped
            // queries over the partitioned stream; per-event window frames
            // read partitionAttr directly (per-key state isolation, §2.9);
            // range guards drop events matching no range
            val qKeys = part.filter(_.stream.equalsIgnoreCase(source))
            val q = if (qKeys.isEmpty) q0 else {
              var q1 = q0.copy(partitionKeys = qKeys.map(_.keyExpr))
              val guards = qKeys.flatMap(_.guard)
              if (guards.nonEmpty) {
                val g = guards.map(g0 => s"($g0)").mkString(" AND ")
                q1 = q1.copy(where = Some(q1.where.map(w => s"($w) AND $g").getOrElse(g)))
              }
              // keys the user did not already select are added to the output
              val newKeys = qKeys.filterNot(k =>
                q0.selectItems.exists(_._1.trim.equalsIgnoreCase(k.keyExpr)))
              val keyItems = newKeys.map(k => (k.keyExpr, k.alias))
              val hasAgg = q0.selectItems.exists { case (e, _) => hasAggCall(e) }
              if (q0.groupBy.nonEmpty)
                q1.copy(groupBy = qKeys.map(_.keyExpr) ++ q0.groupBy,
                  selectItems = keyItems ++ q0.selectItems)
              else if (hasAgg && !q0.window.exists(w => Set("length", "time")(w.kind)))
                // partitioned aggregation without GROUP BY = implicit
                // per-key grouping (the reference's per-partition state);
                // windows that EMIT a bucket column contribute it to the key
                // set (unique/firstUnique/delay/frequent produce rows, not
                // buckets)
                q1.copy(groupBy = qKeys.map(_.keyExpr) ++
                    (if (q0.window.exists(w => BucketWindowKinds(w.kind))) Seq("window") else Nil),
                  selectItems = keyItems ++ q0.selectItems)
              else q1
            }
            queries += q
            stmts += QueryStmt(q)
          case other =>
            throw SqlError(s"unsupported statement: ${other.take(60)}")
        }
      }
    }
    }
    AppSpec(streams, queries.result(), patterns.result(), triggers.result(),
      stmts.result(), aggs, fns)
  }

  /** Apply an expression function: substitute each parameter reference in
    * the (pre-validated, pre-inlined) body with the corresponding argument
    * expression. Pure tree substitution — hygiene holds because parse
    * rejected every free variable that is not a parameter.
    */
  private def applyFn(f: FnDef,
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    if (args.size != f.params.size) throw SqlError(
      s"function '${f.name}' takes ${f.params.size} argument(s), got ${args.size}")
    val idx = f.params.map(_.toLowerCase).zipWithIndex.toMap
    f.body.transformUp {
      case a: UnresolvedAttribute
          if a.nameParts.size == 1 && idx.contains(a.nameParts.head.toLowerCase) =>
        args(idx(a.nameParts.head.toLowerCase))
    }
  }

  /** Register an app's expression functions in the session registry for the
    * duration of `body` (compilation is eager analysis, so resolved plans
    * keep the substituted trees after the names are dropped — the same
    * scoping discipline as RefFns.withShadowing).
    */
  private def withAppFns[T](spark: SparkSession, fns: Seq[FnDef])(body: => T): T = {
    if (fns.isEmpty) return body
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    fns.foreach { f =>
      if (reg.lookupFunctionBuilder(FunctionIdentifier(f.name)).isDefined)
        throw SqlError(s"function name '${f.name}' shadows an existing " +
          "session function — pick another name")
    }
    fns.foreach(f =>
      reg.createOrReplaceTempFunction(f.name, args => applyFn(f, args), "built-in"))
    try body
    finally fns.foreach(f => reg.dropFunction(FunctionIdentifier(f.name)))
  }

  private def parseSelectItem(item: String): (String, Option[String]) = {
    val asRe = "(?is)^(.*?)\\s+AS\\s+(\\w+)$".r
    item.trim match {
      case asRe(e, a) => (e.trim, Some(a))
      case e => (e, None)
    }
  }

  /** Phase offset of a fixed-period cron below its repeating unit — the
    * fixed lower-order digits (`0 30 * * * *` = hourly at :30 → 30 min).
    * Callers mod by the period; `*`/`*／n` fields contribute 0.
    */
  private[graft] def cronPhaseMs(c: String): Long = {
    val fs = c.trim.split("\\s+")
    if (fs.length != 5 && fs.length != 6) return 0L
    val (sec, rest) = if (fs.length == 6) (fs.head, fs.tail) else ("0", fs)
    def d(s: String) = if (s.matches("\\d+")) s.toLong else 0L
    d(sec) * 1000L + d(rest(0)) * 60000L + d(rest(1)) * 3600000L
  }

  /** Derive a fixed firing period from a standard 5-field (min hour dom mon
    * dow) or 6-field (sec first) cron expression (trigger_runtime accepts
    * full cron; the Spark-native trigger is a paced rate source, so only
    * fixed-period schedules are expressible). Calendar-aligned fields
    * (day-of-month/month/day-of-week restrictions) have no fixed period →
    * None. Phase offsets (`15 * * * *` = hourly AT :15) pace the period
    * only; the first fire aligns to stream start, like AT EVERY.
    */
  private[graft] def cronPeriodMs(c: String): Option[Long] = {
    val fs = c.trim.split("\\s+")
    if (fs.length != 5 && fs.length != 6) return None
    val (sec, rest) = if (fs.length == 6) (fs.head, fs.tail) else ("0", fs)
    val Array(min, hour, dom, mon, dow) = rest
    if (dom != "*" || mon != "*" || dow != "*") return None
    def star(s: String) = s == "*"
    def fixed(s: String) = s.matches("\\d+")
    val every = """\*/(\d+)""".r
    // `*/n` is only a FIXED period when n divides the field's modulus: real
    // cron fires `*/7 * * * *` at :00,:07,…,:56 then RESETS on the hour (an
    // irregular 4-min gap), so a paced 7-min source would drift off the
    // schedule. Require 60 % n == 0 (sec/min) and 24 % n == 0 (hours).
    def divides(n: Long, modulus: Long) = n > 0 && modulus % n == 0
    (sec, min, hour) match {
      case (every(n), m, h) if star(m) && star(h) && divides(n.toLong, 60) =>
        Some(n.toLong * 1000L)
      case (s, m, h) if star(s) && star(m) && star(h) => Some(1000L)
      case (s, every(n), h) if fixed(s) && star(h) && divides(n.toLong, 60) =>
        Some(n.toLong * 60000L)
      case (s, m, h) if fixed(s) && star(m) && star(h) => Some(60000L)
      case (s, m, every(n)) if fixed(s) && fixed(m) && divides(n.toLong, 24) =>
        Some(n.toLong * 3600000L)
      case (s, m, h) if fixed(s) && fixed(m) && star(h) => Some(3600000L)
      case (s, m, h) if fixed(s) && fixed(m) && fixed(h) => Some(86400000L)
      case _ => None
    }
  }

  /** Split a cron into (sec, min, hour, dom, mon, dow) — sec synthesized
    * for 5-field forms. None when the field count is wrong.
    */
  private def cronFields(c: String): Option[(String, String, String, String, String, String)] = {
    val fs = c.trim.split("\\s+")
    if (fs.length != 5 && fs.length != 6) None
    else {
      val (sec, rest) = if (fs.length == 6) (fs.head, fs.tail) else ("0", fs)
      Some((sec, rest(0), rest(1), rest(2), rest(3), rest(4)))
    }
  }

  /** Calendar gate for dom/mon/dow-restricted crons (trigger_runtime.rs
    * accepts full cron): the paced source ticks at the sub-period derivable
    * with the calendar fields wildcarded, and this predicate keeps only
    * ticks whose DATE matches them — `0 0 1 * *` = a daily tick gated to
    * the 1st of the month. Supported field shapes: `*`, a value, a comma
    * list (dow 0-7, 0 and 7 both Sunday). Returns None when no calendar
    * field is restricted; raises typed on unsupported shapes (ranges,
    * steps) so they cannot silently degrade to `*`.
    */
  private[graft] def cronCalendarGate(c: String): Option[Column] = {
    val (_, _, _, dom, mon, dow) = cronFields(c).getOrElse(return None)
    def field(which: String, s: String, lo: Int, hi: Int): Option[Seq[Int]] =
      if (s == "*") None
      else if (s.matches("\\d+(,\\d+)*")) {
        val vs = s.split(",").toSeq.map(_.toInt)
        vs.find(v => v < lo || v > hi).foreach(v => throw SqlError(
          s"cron '$c': $which value $v outside [$lo,$hi]"))
        Some(vs)
      } else throw SqlError(s"cron '$c': unsupported $which field '$s' " +
        "(calendar fields support *, a value, or a comma list)")
    val ts = col("triggered_time")
    val conds = Seq(
      field("day-of-month", dom, 1, 31).map(v => dayofmonth(ts).isin(v: _*)),
      field("month", mon, 1, 12).map(v => month(ts).isin(v: _*)),
      // cron dow 0-7 (0=7=Sunday) → Spark dayofweek 1=Sunday..7=Saturday
      field("day-of-week", dow, 0, 7).map(v =>
        dayofweek(ts).isin(v.map(x => x % 7 + 1).distinct: _*))).flatten
    conds.reduceOption(_ && _)
  }

  /** The cron with its calendar fields wildcarded — the pacing sub-period
    * of a calendar-gated schedule.
    */
  private def calendarWild(c: String): String =
    cronFields(c).map { case (sec, min, hour, _, _, _) =>
      (if (c.trim.split("\\s+").length == 6) Seq(sec) else Nil) ++
        Seq(min, hour, "*", "*", "*")
    }.map(_.mkString(" ")).getOrElse(c)

  private def parseTriggerAt(name: String, atRaw: String): TriggerDef = {
    val everyRe = """(?is)^EVERY\s+(\d+)\s+(\w+)$""".r
    // bare `AT EVERY 5000` — the reference's TimeUtil reads unitless
    // numbers as milliseconds (tables.rs trigger_test1_periodic)
    val everyBareRe = """(?is)^EVERY\s+(\d+)$""".r
    val cronRe = """(?s)^'(.*)'$""".r
    // `AT CRON '…'` (triggers.rs trigger_test8_sql_cron) ≡ `AT '…'` — the
    // CRON keyword is optional noise in the reference grammar
    val atRaw1 = """(?is)^CRON\s+(.*)$""".r.findFirstMatchIn(atRaw)
      .map(_.group(1).trim).getOrElse(atRaw)
    atRaw1 match {
      case a if a.equalsIgnoreCase("START") => TriggerDef(name, "start", None, None)
      case everyBareRe(n) =>
        val ms = n.toLong
        if (ms <= 0) throw SqlError(s"trigger $name: AT EVERY needs a positive period")
        TriggerDef(name, "every", Some(ms), None)
      case everyRe(n, unit) =>
        val ms = parseDurationUs(s"$n $unit") / 1000L
        if (ms <= 0) throw SqlError(s"trigger $name: AT EVERY needs a positive period")
        TriggerDef(name, "every", Some(ms), None)
      // quoted `AT 'start'` (compatibility/tables.rs:139 trigger_test2) ≡
      // the bare AT START spelling — fire once at app start
      case cronRe(c) if c.trim.equalsIgnoreCase("start") =>
        TriggerDef(name, "start", None, None)
      case cronRe(c) => cronPeriodMs(c) match {
        case Some(ms) => TriggerDef(name, "cron", Some(ms), Some(c.trim))
        case None =>
          // calendar-restricted (dom/mon/dow) crons pace at the wildcarded
          // sub-period and gate each tick on the calendar (cronCalendarGate
          // raises typed on field shapes it cannot honor)
          (cronCalendarGate(c), cronPeriodMs(calendarWild(c))) match {
            case (Some(_), Some(ms)) => TriggerDef(name, "cron", Some(ms), Some(c.trim))
            case _ => throw SqlError(
              s"unsupported cron '${c.trim}' in trigger $name: no fixed period is " +
              "derivable (*/n steps need n to divide the field's modulus — " +
              "60 for sec/min, 24 for hours — or real cron's end-of-cycle " +
              "reset makes the gaps irregular; use AT EVERY or a dividing " +
              "*/n form)")
          }
      }
      case other => throw SqlError(s"bad trigger schedule '$other' in $name")
    }
  }

  /** Parse `INSERT INTO t SELECT … FROM PATTERN/SEQUENCE (…) [WITHIN n u]
    * [WHERE …] [PARTITION BY attr]` (WITHIN may also sit inside the parens,
    * per the reference grammar's examples).
    */
  private def parsePatternInsert(stmt: String): Option[PatternCompiler.PatternQuery] =
    PatternPrefixRe.findPrefixMatchOf(stmt).map { m =>
      val (target, select, mode) = (m.group(1), m.group(2), m.group(3))
      // balanced close paren (grouping parens may nest inside)
      val i = PatternCompiler.closeParen(stmt, m.end)
      if (i < 0) throw SqlError(s"unbalanced parens in pattern: ${stmt.take(60)}")
      var stepsRaw = stmt.substring(m.end, i - 1)
      var rest = stmt.substring(i)
      // WITHIN inside the parens (trailing) or after them
      var within: Option[(String, String)] = None
      val withinTrailRe = """(?is)^(.*?)\s+WITHIN\s+(\d+)\s+(\w+)\s*$""".r
      stepsRaw match {
        case withinTrailRe(body, n, u) => stepsRaw = body; within = Some((n, u))
        case _ =>
      }
      // WHERE body runs to PARTITION BY / WITHIN / ALLOW LATENESS / end
      var where: Option[String] = None
      """(?is)\bWHERE\b""".r.findFirstMatchIn(rest).foreach { w =>
        val tail = rest.substring(w.end)
        val stop = Seq("PARTITION\\s+BY", "WITHIN", "ALLOW\\s+LATENESS")
          .flatMap(k => ("(?is)\\b" + k + "\\b").r.findFirstMatchIn(tail).map(_.start))
          .minOption.getOrElse(tail.length)
        where = Some(tail.substring(0, stop).trim).filter(_.nonEmpty)
        rest = rest.substring(0, w.start) + tail.substring(stop)
      }
      // ALLOW LATENESS d: the streaming lowering's watermark delay (how far
      // out-of-order cross-batch events may arrive and still reach the NFA)
      var lateness: Option[String] = None
      """(?is)\bALLOW\s+LATENESS\s+(\d+)\s+(\w+)""".r.findFirstMatchIn(rest).foreach { lm =>
        val (n, unit) = (lm.group(1), lm.group(2))
        parseDurationUs(s"$n $unit") // unit validation; raises typed on junk
        lateness = Some(s"$n $unit")
        rest = rest.substring(0, lm.start) + rest.substring(lm.end)
      }
      """(?is)\bWITHIN\s+(\d+)\s+(\w+)""".r.findFirstMatchIn(rest).foreach { wm =>
        within = Some((wm.group(1), wm.group(2)))
        rest = rest.substring(0, wm.start) + rest.substring(wm.end)
      }
      var partitionBy: Option[String] = None
      """(?is)\bPARTITION\s+BY\s+(\w+)""".r.findFirstMatchIn(rest).foreach { pm =>
        partitionBy = Some(pm.group(1))
        rest = rest.substring(0, pm.start) + rest.substring(pm.end)
      }
      // EMIT ALL ROWS [EXCLUDING (v, …)]: one output row per matched EVENT
      // (the lowering target of MATCH_RECOGNIZE's ALL ROWS PER MATCH);
      // EXCLUDING names step variables whose rows are omitted from the
      // OUTPUT only (ANSI's {- v -} pattern exclusion — the variables still
      // match, anchor WITHIN, and feed RUNNING measures)
      var allRows = false
      var allRowsExcluding: Seq[String] = Nil
      var allRowsUnmatched = false
      """(?is)\bEMIT\s+ALL\s+ROWS(\s+EXCLUDING\s*\(([^)]*)\))?(\s+WITH\s+UNMATCHED)?""".r
        .findFirstMatchIn(rest).foreach { em =>
          allRows = true
          Option(em.group(2)).foreach { lst =>
            allRowsExcluding = lst.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            if (allRowsExcluding.isEmpty) throw SqlError(
              "EXCLUDING needs at least one pattern variable: EXCLUDING (v [, …])")
          }
          allRowsUnmatched = em.group(3) != null
          if (allRowsUnmatched && allRowsExcluding.nonEmpty) throw SqlError(
            "EXCLUDING and WITH UNMATCHED are mutually exclusive (ANSI: an " +
              "excluded row is matched, so its absence from the output would " +
              "be indistinguishable from an unmatched row)")
          rest = rest.substring(0, em.start) + rest.substring(em.end)
        }
      // SKIP PAST LAST ROW: greedy leftmost non-overlapping match subset
      // (the lowering target of MATCH_RECOGNIZE's default skip mode;
      // batch only, SEQUENCE+EVERY — PatternCompiler gates typed)
      var skipPast = false
      """(?is)\bSKIP\s+PAST\s+LAST\s+ROW\b""".r.findFirstMatchIn(rest).foreach { sm =>
        skipPast = true
        rest = rest.substring(0, sm.start) + rest.substring(sm.end)
      }
      // SKIP TO NEXT ROW (round 14): the EVERY enumeration by default; with
      // a reluctant quantifier it selects one preferred parse per start
      var skipNext = false
      """(?is)\bSKIP\s+TO\s+NEXT\s+ROW\b""".r.findFirstMatchIn(rest).foreach { sm =>
        skipNext = true
        rest = rest.substring(0, sm.start) + rest.substring(sm.end)
      }
      // SKIP TO FIRST/LAST <var>: same greedy selection, resume AT the
      // named variable's first/last row (partial overlap allowed)
      var skipTo: Option[(Boolean, String)] = None
      """(?is)\bSKIP\s+TO\s+(FIRST|LAST)\s+(\w+)""".r.findFirstMatchIn(rest).foreach { sm =>
        skipTo = Some((sm.group(1).equalsIgnoreCase("FIRST"), sm.group(2)))
        rest = rest.substring(0, sm.start) + rest.substring(sm.end)
      }
      // every clause above excised itself from `rest` — anything left is a
      // clause this grammar does not have (OUTPUT rates, ORDER BY, a typo):
      // silently ignoring it would change the query's meaning
      val residue = rest.replace(";", " ").trim
      if (residue.nonEmpty)
        throw SqlError(s"unrecognized text after pattern clause: '${residue.take(60)}' — " +
          "pattern queries support WHERE, WITHIN, ALLOW LATENESS, PARTITION " +
          "BY, EMIT ALL ROWS [EXCLUDING (v, …)], SKIP PAST LAST ROW, " +
          "SKIP TO NEXT ROW, SKIP TO FIRST|LAST <var>")
      val (variants, every, absents) = PatternCompiler.parseSteps(stepsRaw)
      val (withinUs, withinEvents) = within
        .map { case (n, u) => PatternCompiler.parseWithin(n, u) }
        .getOrElse((None, None))
      val items = splitTopLevel(select).map(parseSelectItem)
      PatternCompiler.PatternQuery(target, items,
        strict = mode.equalsIgnoreCase("SEQUENCE"), every = every,
        variants = variants, withinUs = withinUs, withinEvents = withinEvents,
        where = where, partitionBy = partitionBy, absents = absents,
        lateness = lateness, allRows = allRows, skipPast = skipPast,
        skipTo = skipTo, skipNext = skipNext,
        allRowsExcluding = allRowsExcluding,
        allRowsUnmatched = allRowsUnmatched)
    }

  /** ANSI/Flink-style `MATCH_RECOGNIZE` — a second SQL spelling for the
    * SAME CEP engine (beyond-reference: the reference has only its own
    * PATTERN/SEQUENCE grammar; SURVEY §2.8 recommends exposing the
    * MATCH_RECOGNIZE shape). Desugars
    *
    *   INSERT INTO t SELECT * FROM s MATCH_RECOGNIZE (
    *     [PARTITION BY k] ORDER BY ts
    *     MEASURES expr AS a [, …]
    *     [ONE ROW PER MATCH] AFTER MATCH SKIP TO NEXT ROW
    *     PATTERN (A B+ C{2,3} …) [WITHIN [INTERVAL] 'n' unit]
    *     [DEFINE A AS pred [, …]])
    *
    * onto the engine's strict-contiguity grammar:
    *   INSERT INTO t SELECT key, measures FROM SEQUENCE (EVERY (A=s[...]
    *   -> B=s[...]+ -> …)) WITHIN n unit PARTITION BY k
    *
    * Faithful subset, everything else a TYPED error (never silent):
    *  - ORDER BY must name the event-time column `ts` (the engine's only
    *    ordering — rows enter the NFA in event-time order);
    *  - AFTER MATCH SKIP TO NEXT ROW emits every overlapping match (the
    *    reference's EVERY); SKIP PAST LAST ROW — ANSI's DEFAULT, applied
    *    when the clause is omitted, so Flink/Trino queries paste
    *    unchanged — emits the greedy leftmost non-overlapping subset
    *    (round 12; batch AND streams — streaming needs a time WITHIN to
    *    bound the lookahead hold; no zero-min quantifiers — typed gates
    *    in PatternCompiler); SKIP TO FIRST|LAST <variable> (round 12) is the
    *    partial-overlap resume AT the variable's row (consecutive
    *    V-shapes share their peak under SKIP TO LAST UP) — resuming at
    *    the chain's own head is ANSI's runtime-error case, rejected at
    *    compile;
    *  - single-level alternation `(A|B)` (round 12) lowers to the engine's
    *    n-ary OR step — alias/classifier kept per alternative, unmatched
    *    alternatives NULL in MEASURES; quantified alternation and any
    *    other grouping stay typed rejections pointing to the engine
    *    spelling (OR/AND steps);
    *  - ALL ROWS PER MATCH (round 11) lowers to the engine's EMIT ALL
    *    ROWS: one output row per matched EVENT — the stream's own columns
    *    plus `mr_classifier` plus the MEASURES with FINAL semantics
    *    (constant across a match's rows). Streams too (round 12, single
    *    chain): the NFA's buffered svals explode per event, with
    *    `mr_match_number` = the per-key completion ordinal carried in the
    *    state store; zero-min/AND forms stay batch-only, typed;
    *  - MEASURES FIRST(V.x [, k])/LAST(V.x [, k]) lower to the engine's
    *    V[k].x / V[last-k].x (ANSI logical offsets; past the collected
    *    count is NULL); count/sum/avg/min/max(V.x) pass through to the
    *    collection aggregations; DEFINE self-references (`A.x` inside A's
    *    predicate) become bare columns, other variables stay qualified —
    *    the engine's cross-step reference form;
    *  - PREV(V.x [, k])/NEXT(V.x [, k]) (round 11) are ANSI physical
    *    offsets. In DEFINE they anchor at the CURRENT candidate row and
    *    lower to lag/lead windows over the pattern's per-key order; in
    *    MEASURES they anchor at the variable's LAST matched row and lower
    *    to physical-offset join-backs on the per-key row_number. Partition
    *    edges yield NULL (ANSI's unmatched navigation), and both forms are
    *    batch-only (a stream has no materialized physical order);
    *  - SUBSET u = (A, B) (round 12) declares ANSI union variables,
    *    resolved in MEASURES by textual distribution over the members
    *    (which a chain visits in event-time order): count sums the member
    *    counts, sum/min/max/avg combine NULL-safely (all-absent stays
    *    NULL), FIRST/LAST coalesce in chain/reverse-chain order, and a
    *    bare u.x is ANSI's LAST(u.x). Logical offsets (FIRST(u.x, k>0)),
    *    PREV/NEXT over unions, and DEFINE references are typed errors;
    *  - CLASSIFIER()/MATCH_NUMBER() (round 12) in MEASURES alias the
    *    mr_classifier/mr_match_number columns ALL ROWS appends — per-row
    *    values, so they need ALL ROWS PER MATCH and must be a measure's
    *    entire expression (compose downstream);
    *  - RUNNING/FINAL semantics keywords (round 12): measures without a
    *    keyword are FINAL (the documented divergence from ANSI's
    *    ALL-ROWS-defaults-to-RUNNING — write RUNNING explicitly for the
    *    per-prefix form). `RUNNING agg(V.x)` (count/sum/min/max/avg) in
    *    ALL ROWS re-aggregates per output row — batch as a window over
    *    the exploded match rows; STREAMS too (a match's rows all emit at
    *    completion, so the per-row value is a prefix fold over the NFA's
    *    buffered arrays, no retraction involved). In ONE ROW both
    *    keywords strip (they coincide at the match's final row, per
    *    ANSI). FINAL always strips (it names the implemented semantics);
    *  - PERMUTE(A, B[, C]) (round 12, ANSI): every ordering of the member
    *    variables, as the ENTIRE pattern — lowers to the engine's n-ary
    *    AND element, whose compile expands exactly the arrival-order
    *    variants over ONE shared NFA pass (strict SEQUENCE keeps members
    *    adjacent, ANSI's concatenation-permutation semantics). Chains
    *    around PERMUTE, quantified PERMUTE, and SUBSET over its members
    *    are typed errors;
    *  - {- V[quant] -} pattern exclusion (round 12, ANSI): V matches
    *    normally — anchors, WITHIN, measures and RUNNING all see its
    *    rows — but its rows are omitted from ALL ROWS output (lowered to
    *    the engine's EMIT ALL ROWS EXCLUDING clause). In ONE ROW mode
    *    exclusion is ANSI's defined no-op;
    *  - ALL ROWS PER MATCH WITH UNMATCHED ROWS (round 12, ANSI): also
    *    emit every input row NO match claimed, measures and
    *    classifier/number NULL (an anti-join on the same per-key shuffle;
    *    batch-only, and mutually exclusive with {- v -} per ANSI). SHOW /
    *    OMIT EMPTY MATCHES both accept as no-ops: the first variable must
    *    be required, so empty matches cannot arise and the modes coincide.
    */
  private val MatchRecognizeRe =
    """(?is)^\s*INSERT\s+INTO\s+(\w+)\s+SELECT\s+(.*?)\s+FROM\s+(\w+)\s+MATCH_RECOGNIZE\s*\(""".r

  /** Same-length copy with single-quoted spans (and the quotes) blanked —
    * clause-keyword regexes run on the mask so a literal like
    * 'retry WITHIN 5 MINUTES' can never be parsed as a clause; content is
    * then sliced from the ORIGINAL by the mask match's positions.
    */
  private def maskQuotes(s: String): String = {
    val out = s.toCharArray
    var inQ = false
    var i = 0
    while (i < out.length) {
      if (out(i) == '\'') { inQ = !inQ; out(i) = ' ' }
      else if (inQ) out(i) = ' '
      i += 1
    }
    new String(out)
  }

  /** Regex rewrite applied only OUTSIDE single-quoted spans: matches are
    * located on the quote-masked text (length-preserving, so offsets map
    * 1:1 onto the original) and the replacement is spliced into the
    * original — a pattern-variable prefix or keyword inside a string
    * literal survives untouched. Group text is taken from the masked match,
    * which is identical to the original for anything outside quotes.
    */
  private def rewriteOutsideQuotes(orig: String, re: scala.util.matching.Regex)(
      repl: scala.util.matching.Regex.Match => String): String = {
    val mask = maskQuotes(orig)
    val sb = new StringBuilder
    var pos = 0
    re.findAllMatchIn(mask).foreach { m =>
      sb.append(orig.substring(pos, m.start)).append(repl(m))
      pos = m.end
    }
    sb.append(orig.substring(pos)).toString()
  }

  private[sql] def desugarMatchRecognize(stmt: String): String = {
    // keyword detection on the quote-masked text with word boundaries: a
    // string literal mentioning MATCH_RECOGNIZE, or an identifier like
    // match_recognizer, must NOT drag the statement into this parser
    if ("""(?i)\bMATCH_RECOGNIZE\b""".r.findFirstIn(maskQuotes(stmt)).isEmpty)
      return stmt
    val m = MatchRecognizeRe.findPrefixMatchOf(stmt).getOrElse(throw SqlError(
      "MATCH_RECOGNIZE must appear as INSERT INTO t SELECT * FROM stream " +
        s"MATCH_RECOGNIZE (...): ${stmt.trim.take(80)}"))
    val (target, outerSel, stream) = (m.group(1), m.group(2).trim, m.group(3))
    if (outerSel != "*") throw SqlError(
      "MATCH_RECOGNIZE output columns are the PARTITION BY key plus the " +
        "MEASURES aliases — write SELECT * and project in a downstream query")
    val i = PatternCompiler.closeParen(stmt, m.end)
    if (i < 0) throw SqlError(s"unbalanced parens in MATCH_RECOGNIZE: ${stmt.take(60)}")
    val body = stmt.substring(m.end, i - 1)
    val residue = stmt.substring(i).replace(";", " ").trim
    if (residue.nonEmpty) throw SqlError(
      s"unrecognized text after MATCH_RECOGNIZE: '${residue.take(60)}'")
    // split at PATTERN ( … ): header before, tail after — keyword located
    // on the quote-masked body
    val pm = """(?is)\bPATTERN\s*\(""".r.findFirstMatchIn(maskQuotes(body))
      .getOrElse(throw SqlError("MATCH_RECOGNIZE needs a PATTERN (...) clause"))
    val header = body.substring(0, pm.start)
    val j = PatternCompiler.closeParen(body, pm.end)
    if (j < 0) throw SqlError("unbalanced parens in PATTERN (...)")
    val patternRaw = body.substring(pm.end, j - 1).trim

    // ---- clause excision: every recognized clause is CUT OUT of a working
    // copy, keyword-matched on the quote mask, content sliced from the
    // original; whatever text remains at the end is a typed error — the
    // never-silent contract (ORDER BY ts DESC leaves 'DESC' behind, a
    // misspelled clause leaves itself behind)
    var hOrig = header
    var hMask = maskQuotes(header)
    def excise(re: scala.util.matching.Regex): Option[IndexedSeq[String]] =
      re.findFirstMatchIn(hMask).map { mm =>
        val gs = (1 to mm.groupCount).map(g =>
          if (mm.start(g) < 0) null else hOrig.substring(mm.start(g), mm.end(g)))
        hOrig = hOrig.substring(0, mm.start) + hOrig.substring(mm.end)
        hMask = hMask.substring(0, mm.start) + hMask.substring(mm.end)
        gs
      }

    val partitionBy = excise(
      """(?is)\bPARTITION\s+BY\s+(.+?)\s*(?=\bORDER\s+BY\b|\bMEASURES\b|\bONE\s+ROW\b|\bALL\s+ROWS\b|\bAFTER\s+MATCH\b|$)""".r)
      .map(_.head.trim.stripSuffix(","))
    partitionBy.foreach { p =>
      if (splitTopLevel(p).size > 1)
        throw SqlError("patterns support a single partition key")
    }
    val orderBy = excise("""(?is)\bORDER\s+BY\s+(\w+)(\s+ASC\b)?""".r)
      .getOrElse(throw SqlError(
        "MATCH_RECOGNIZE needs ORDER BY ts — rows enter the pattern in " +
          "event-time order (the engine's only ordering)")).head
    if (!orderBy.equalsIgnoreCase("ts")) throw SqlError(
      s"ORDER BY $orderBy: only the event-time column `ts` orders a pattern " +
        "(per-event order is the stream's time attribute)")
    val measuresRaw = excise(
      """(?is)\bMEASURES\s+(.+?)\s*(?=\bONE\s+ROW\b|\bALL\s+ROWS\b|\bAFTER\s+MATCH\b|$)""".r)
      .map(_.head.trim).getOrElse(throw SqlError(
        "MATCH_RECOGNIZE needs a MEASURES clause (the output columns)"))
    // ALL ROWS PER MATCH lowers to the engine's EMIT ALL ROWS: one row per
    // matched EVENT — the stream's own columns + mr_classifier + the
    // MEASURES with FINAL semantics (constant per match). Batch surface;
    // the streaming lowering rejects it with a pointer (PatternCompiler).
    val allRows = excise("""(?is)\bALL\s+ROWS\s+PER\s+MATCH""".r).isDefined
    // ALL ROWS modifiers (round 12): WITH UNMATCHED ROWS emits the input
    // rows no match claimed, measures/classifier/number NULL (ANSI; batch
    // only — the engine lowering unions an anti-join). SHOW/OMIT EMPTY
    // MATCHES both accept as no-ops: the first pattern variable must be
    // required (min >= 1), so an empty match cannot arise and the two
    // ANSI modes coincide.
    val unmatchedRows = excise("""(?is)\bWITH\s+UNMATCHED\s+ROWS""".r).isDefined
    val emptyMode = excise("""(?is)\b(SHOW|OMIT)\s+EMPTY\s+MATCHES""".r).isDefined
    if ((unmatchedRows || emptyMode) && !allRows) throw SqlError(
      "WITH UNMATCHED ROWS / SHOW|OMIT EMPTY MATCHES modify ALL ROWS PER " +
        "MATCH — ONE ROW PER MATCH emits one row per match by definition")
    excise("""(?is)\bONE\s+ROW\s+PER\s+MATCH""".r)
    // skip mode (round 12): SKIP TO NEXT ROW = every overlapping match
    // (the engine's EVERY); SKIP PAST LAST ROW — or NO clause, since it is
    // ANSI's default, so Flink/Trino queries paste unchanged — = greedy
    // leftmost non-overlapping matches (the engine's SKIP PAST LAST ROW
    // clause). Any other AFTER MATCH form is a typed error.
    val skipToNext = excise("""(?is)\bAFTER\s+MATCH\s+SKIP\s+TO\s+NEXT\s+ROW""".r).isDefined
    val skipPastExplicit =
      excise("""(?is)\bAFTER\s+MATCH\s+SKIP\s+PAST\s+LAST\s+ROW""".r).isDefined
    // SKIP TO FIRST/LAST <var> (round 12): partial-overlap resume at the
    // variable's row — lowers to the engine's SKIP TO clause
    val skipToVar = excise(
      """(?is)\bAFTER\s+MATCH\s+SKIP\s+TO\s+(FIRST|LAST)\s+(\w+)""".r)
      .map(gs => (gs(0).equalsIgnoreCase("FIRST"), gs(1)))
    if (!skipToNext && !skipPastExplicit && skipToVar.isEmpty &&
        """(?is)\bAFTER\s+MATCH\b""".r.findFirstIn(hMask).isDefined)
      throw SqlError(
        "unsupported AFTER MATCH form — supported: SKIP TO NEXT ROW (every " +
          "overlapping match), SKIP PAST LAST ROW (greedy non-overlapping, " +
          "the ANSI default when the clause is omitted), and SKIP TO " +
          "FIRST|LAST <variable> (partial-overlap resume)")
    if (Seq(skipToNext, skipPastExplicit, skipToVar.isDefined).count(identity) > 1)
      throw SqlError("multiple AFTER MATCH clauses — specify one skip mode")
    // explicit PAST LAST ROW or the ANSI default when no clause is given
    val skipPast = !skipToNext && skipToVar.isEmpty
    val hdrResidue = hOrig.replaceAll("""[\s,]+""", " ").trim
    if (hdrResidue.nonEmpty) throw SqlError(
      s"unrecognized MATCH_RECOGNIZE header text: '${hdrResidue.take(60)}' — " +
        "supported: PARTITION BY, ORDER BY ts [ASC], MEASURES, ONE ROW PER " +
        "MATCH, ALL ROWS PER MATCH [WITH UNMATCHED ROWS | SHOW|OMIT EMPTY " +
        "MATCHES], AFTER MATCH SKIP TO NEXT ROW | SKIP PAST LAST ROW | " +
        "SKIP TO FIRST|LAST <var>")

    // ---- tail: WITHIN / DEFINE (same discipline)
    var tOrig = body.substring(j)
    var tMask = maskQuotes(tOrig)
    var withinStr = ""
    """(?is)\bWITHIN\b""".r.findFirstMatchIn(tMask).foreach { km =>
      // keyword found outside quotes; arguments parsed from the ORIGINAL
      // anchored there (the INTERVAL 'n' form legitimately quotes n)
      val anchored = """(?is)^WITHIN\s+(?:INTERVAL\s+'(\d+)'\s+(\w+)|(\d+)\s+(\w+))""".r
      val wm = anchored.findPrefixMatchOf(tOrig.substring(km.start)).getOrElse(
        throw SqlError(s"bad WITHIN clause: '${tOrig.substring(km.start).take(40)}' — " +
          "expected WITHIN [INTERVAL] 'n' unit"))
      val (n, u) = if (wm.group(1) != null) (wm.group(1), wm.group(2))
        else (wm.group(3), wm.group(4))
      withinStr = s" WITHIN $n $u"
      tOrig = tOrig.substring(0, km.start) + tOrig.substring(km.start + wm.end)
      tMask = tMask.substring(0, km.start) + tMask.substring(km.start + wm.end)
    }
    // SUBSET u = (A, B) [, w = (…)] (round 12): ANSI union variables —
    // resolved in MEASURES only (each reference expands over the members,
    // which a chain visits in event-time order). Parsed here (either side
    // of DEFINE positionally); members validated against the pattern
    // variables once tokens are parsed below.
    var subsets = Map.empty[String, Seq[String]]
    """(?is)\bSUBSET\b""".r.findFirstMatchIn(tMask).foreach { sm =>
      val after = tOrig.substring(sm.end)
      val afterMask = tMask.substring(sm.end)
      val stop = """(?is)\bDEFINE\b""".r.findFirstMatchIn(afterMask)
        .map(_.start).getOrElse(after.length)
      val listStr = after.substring(0, stop)
      tOrig = tOrig.substring(0, sm.start) + after.substring(stop)
      tMask = tMask.substring(0, sm.start) + afterMask.substring(stop)
      val itemRe = """(?is)^\s*(\w+)\s*=\s*\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s*$""".r
      splitTopLevel(listStr).foreach { item =>
        val im = itemRe.findFirstMatchIn(item).getOrElse(throw SqlError(
          s"bad SUBSET item '${item.trim.take(40)}' — expected name = (VAR [, …])"))
        val (name, members) = (im.group(1), im.group(2).split(",").map(_.trim).toSeq)
        if (subsets.contains(name)) throw SqlError(
          s"duplicate SUBSET '$name' — each union variable is declared once")
        members.groupBy(identity).collectFirst { case (v, vs) if vs.size > 1 => v }
          .foreach(v => throw SqlError(
            s"duplicate member '$v' in SUBSET $name"))
        subsets += name -> members
      }
    }
    val defines = """(?is)\bDEFINE\b""".r.findFirstMatchIn(tMask) match {
      case Some(dm) =>
        val list = tOrig.substring(dm.end)
        tOrig = tOrig.substring(0, dm.start)
        val pairs = splitTopLevel(list).map { item =>
          """(?is)^\s*(\w+)\s+AS\s+(.+)$""".r.findFirstMatchIn(item) match {
            case Some(im) => im.group(1) -> im.group(2).trim
            case None => throw SqlError(s"bad DEFINE item '$item' — expected VAR AS predicate")
          }
        }
        pairs.groupBy(_._1).collectFirst { case (v, ps) if ps.size > 1 => v }
          .foreach(v => throw SqlError(
            s"duplicate DEFINE for pattern variable '$v' — each variable " +
              "takes one predicate (AND the conditions instead)"))
        pairs.toMap
      case None => Map.empty[String, String]
    }
    if (tOrig.trim.nonEmpty) throw SqlError(
      s"unrecognized MATCH_RECOGNIZE clause: '${tOrig.trim.take(60)}'")

    // ---- pattern tokens: VAR[quant], an (A|B) alternation group (round
    // 12) lowering to ONE engine OR step — each alternative keeps its own
    // alias (classifier) and DEFINE predicate — or an ANSI exclusion
    // {- VAR[quant] -} (round 12): the variable matches normally (anchors,
    // WITHIN, measures, RUNNING all see its rows) but its rows are omitted
    // from ALL ROWS PER MATCH output (in ONE ROW mode exclusion is ANSI's
    // defined no-op). Nested/sequence grouping and QUANTIFIED alternation
    // stay typed errors: the engine's OR steps take no count quantifier
    // (compileBatch rejects it too).
    // a quantifier may carry ANSI's reluctant marker (`+?`, `{n,m}?`,
    // `??`, `*?`): lex-MIN parse preference under skip-mode selection
    // round 13 adds bounded GROUP repetition `(A B){n,m}` (space-separated
    // members, {n[,m]} quantifier REQUIRED — the k-th repetition's steps
    // are aliased V__k and measures over V distribute via auto-SUBSETs)
    // round 14: group members may carry their own quantifiers
    // ((A B+){1,2} — per-iteration counts on the loop machine), and a
    // group body may nest ONE inner exact-count group (((A B){2} C)+,
    // inlined by the engine with __i alias suffixes)
    // round 16: DEPTH-2 single-member groups — (((A){1,2} B)+ C)+ — the
    // innermost (A){n,m} normalizes to A{n,m} engine-side, so a second
    // nesting level needs no third iteration frame; multi-member groups
    // two levels down stay outside the grammar (the PATTERN() surface
    // takes their exact-count form with explicit __i references)
    val atomQ = """\w+(?:[+*]\??|\{\d+(?:,\d*)?\}\??)?"""
    val paren2 = s"""\\(\\s*$atomQ\\s*\\)\\s*(?:[+*]\\??|\\{\\d+(?:,\\d*)?\\}\\??)"""
    val innerMember = s"""(?:$atomQ|$paren2)"""
    // the inner-group quantifier takes ANSI's reluctant marker (round 16:
    // `((A B)+? C)+` — fewest inner iterations under skip-mode selection)
    val grpMember = s"""(?:$atomQ|\\(\\s*$innerMember(?:\\s+$innerMember)*\\s*\\)\\s*(?:[+*]\\??|\\{\\d+(?:,\\d*)?\\}\\??))"""
    val grpRe =
      ("""(?i)PERMUTE\s*\(\s*(\w+(?:\s*,\s*\w+)+)\s*\)\s*(\+\??|\*\??|\?\??|\{\d+(?:,\d*)?\}\??)?""" +
        """|\{-\s*(\w+)\s*(\+\??|\*\??|\?\??|\{\d+(?:,\d*)?\}\??)?\s*-\}""" +
        """|\(\s*(\w+(?:\s*\|\s*\w+)+)\s*\)\s*(\+\??|\*\??|\?\??|\{\d+(?:,\d*)?\}\??)?""" +
        """|(\w+)\s*(\+\??|\*\??|\?\??|\{\d+(?:,\d*)?\}\??)?""" +
        s"""|\\(\\s*($grpMember(?:\\s+$grpMember)*)\\s*\\)\\s*(\\{\\d+(?:,\\d*)?\\}\\??|\\+\\??|\\*\\??)""").r
    /** `memberRaw`: for group tokens, each member's raw spelling including
      * its own quantifier and inner-group parens, aligned with `vars`
      * flattened in order (inner-group members appear individually).
      */
    final case class MrTok(vars: Seq[String], quant: Option[String],
                           excluded: Boolean, permute: Boolean = false,
                           group: Boolean = false,
                           memberRaw: Seq[String] = Nil,
                           innerGroups: Seq[(Seq[String], Int)] = Nil)
    val covered = new StringBuilder
    val toks: Seq[MrTok] =
      grpRe.findAllMatchIn(patternRaw).map { gm =>
        covered.append(gm.matched)
        if (gm.group(1) != null) {
          // PERMUTE(A, B[, C]) (round 12, ANSI): every ordering of the
          // members — lowers to the engine's n-ary AND element, whose
          // compile expands exactly the arrival-order variants (one shared
          // NFA pass; strict SEQUENCE keeps the members adjacent).
          // QUANTIFIED PERMUTE (round 15): `PERMUTE(A, B){1,2}` / `+` /
          // `{n,}` lowers to the engine's PERMUTE-loop — one looped chain
          // per ordering, so the interleaving is chosen PER MATCH and
          // repeats across iterations (documented semantics; a
          // per-iteration re-permutation would need cross-iteration
          // variant re-expansion). Zero-min and reluctant forms stay
          // typed.
          val pq = Option(gm.group(2)).map(_.replaceAll("\\s", ""))
            .filterNot(_ == "{1}") // {1} ≡ unquantified
          pq.foreach { q =>
            if (q.length > 1 && q.endsWith("?")) throw SqlError(
              s"reluctant quantified PERMUTE '…$q' is not supported — " +
                "drop the trailing '?'")
            if (q == "?" || q == "*" || q.startsWith("{0")) throw SqlError(
              s"zero-min quantified PERMUTE '…$q' is not supported — " +
                "an optional PERMUTE needs an empty variant; restructure " +
                "with alternation or {1,m}")
            if (q != "+" && !q.matches("""\{[1-9]\d*(?:,\d*)?\}""")) throw SqlError(
              s"bad PERMUTE quantifier '…$q' — supported: +, {n}, {n,}, {n,m} with n >= 1")
          }
          val ms = gm.group(1).split(",").map(_.trim).toSeq
          ms.groupBy(identity).collectFirst { case (v, vs) if vs.size > 1 => v }
            .foreach(v => throw SqlError(
              s"duplicate variable '$v' in PERMUTE(${gm.group(1).trim})"))
          MrTok(ms, pq, excluded = false, permute = true)
        } else if (gm.group(3) != null)
          MrTok(Seq(gm.group(3)), Option(gm.group(4)), excluded = true)
        else if (gm.group(5) != null) {
          if (gm.group(6) != null) throw SqlError(
            s"quantified alternation '(${gm.group(5).trim})${gm.group(6)}' is " +
              "not supported — engine OR steps take no count quantifier")
          val alts = gm.group(5).split("\\|").map(_.trim).toSeq
          alts.groupBy(identity).collectFirst { case (a, as) if as.size > 1 => a }
            .foreach(a => throw SqlError(
              s"duplicate alternative '$a' in alternation (${gm.group(5).trim})"))
          MrTok(alts, None, excluded = false)
        } else if (gm.group(9) != null) {
          // group repetition (A B){n,m} / (A B+)+ / ((A B){2} C)+ — all
          // forms run the engine's loop machine (round 14); members keep
          // their aliases as real collection steps, member quantifiers
          // gate per iteration, inner exact-count groups inline with __i
          // suffixes (their measures union via auto-SUBSETs below)
          val memberToks = ("""(?i)""" + grpMember).r
            .findAllIn(gm.group(9)).map(_.trim).toSeq
          val inner = Seq.newBuilder[(Seq[String], Int)]
          // recursive name extraction (round 16): splits paren members on
          // the member grammar instead of scanning bare \w+ (which also
          // captured quantifier DIGITS as phantom variables), and descends
          // into depth-2 single-member groups
          def namesOf(t: String): Seq[String] =
            if (t.startsWith("(")) {
              val body = t.substring(1, t.lastIndexOf(')'))
              ("""(?i)""" + innerMember).r.findAllIn(body)
                .map(_.trim).toSeq.flatMap(namesOf)
            } else Seq(t.replaceAll("""[+*{?].*$""", ""))
          val names = memberToks.flatMap { t =>
            if (t.startsWith("(")) {
              val ns = namesOf(t)
              // EXACT count {k}: the engine inlines with __i suffixes —
              // record for the auto-SUBSET measures union. VARIABLE count
              // ({n,m}, {n,}, +) runs the engine's NESTED iteration frame
              // (round 15): members stay real collection steps under their
              // own names, so no suffix bookkeeping is needed.
              """\{(\d+)\}\s*$""".r.findFirstMatchIn(t)
                .map(_.group(1).toInt).foreach(k => inner += ((ns, k)))
              ns
            } else Seq(t.replaceAll("""[+*{].*$""", ""))
          }
          names.groupBy(identity).collectFirst { case (v, vs) if vs.size > 1 => v }
            .foreach(v => throw SqlError(
              s"duplicate variable '$v' in group (${gm.group(9).trim})"))
          MrTok(names, Option(gm.group(10)), excluded = false, group = true,
            memberRaw = memberToks, innerGroups = inner.result())
        } else MrTok(Seq(gm.group(7)), Option(gm.group(8)), excluded = false)
      }.toSeq
    // the scan skips anything unmatchable — require full coverage so a
    // nested group / stray paren is a typed error, never silently dropped
    if (covered.toString.replaceAll("\\s", "") != patternRaw.replaceAll("\\s", ""))
      throw SqlError("pattern grouping beyond single-level alternation " +
        "(A|B) is not supported in MATCH_RECOGNIZE — the engine grammar " +
        "covers OR/AND steps: FROM PATTERN (a=S[...] OR b=S[...] -> ...)")
    if (toks.isEmpty) throw SqlError("empty PATTERN")
    defines.keys.find(v => !toks.exists(_.vars.contains(v))).foreach(v =>
      throw SqlError(s"DEFINE names '$v' which is not a pattern variable"))
    // quantifier base = the token minus a trailing reluctant marker ("+?"
    // -> "+"; a bare "?" IS the quantifier and stays)
    def qBase(q: String): String =
      if (q.length > 1 && q.endsWith("?")) q.dropRight(1) else q
    toks.headOption.filter(_.quant.map(qBase).exists(q => q == "?" || q == "*" || q.startsWith("{0")))
      .foreach { t => throw SqlError(
        s"first pattern variable '${t.vars.head}' must be required (min >= 1) — " +
          "the match and its partition key anchor on it") }
    val excludedVars = toks.filter(_.excluded).flatMap(_.vars)
    // PERMUTE composes as a CHAIN ELEMENT (round 14): the engine's AND
    // element interleaves only ITS OWN operands — the surrounding chain
    // keeps its order, so `A PERMUTE(B, C) D` lowers to
    // `A -> (B AND C) -> D` (one arrival-order variant per interleaving,
    // all folded in one shared NFA pass). Group repetition still does not
    // compose (a looped AND element would need per-iteration variant
    // re-expansion), and PERMUTE members take no quantifier (parse gate
    // above).
    if (toks.exists(_.permute) && toks.exists(_.group)) throw SqlError(
      "PERMUTE(…) does not compose with group repetition (A B){n,m} / " +
        "(A B)+ in one pattern — split the query")

    // SUBSET validation (needs the parsed pattern variables): names must
    // not shadow variables, members must be variables, and union variables
    // resolve in MEASURES only — a DEFINE reference is a typed error, not
    // a silent misparse.
    subsets.foreach { case (name, members) =>
      if (toks.exists(_.vars.contains(name))) throw SqlError(
        s"SUBSET '$name' collides with a pattern variable of the same name")
      members.find(v => !toks.exists(_.vars.contains(v))).foreach(v =>
        throw SqlError(s"SUBSET $name names '$v' which is not a pattern variable"))
      members.find(v => toks.exists(t => t.permute && t.vars.contains(v)))
        .foreach(v => throw SqlError(
          s"SUBSET $name over PERMUTE variable '$v' is not supported — " +
            "PERMUTE members have no fixed chain order for FIRST/LAST to " +
            "coalesce over"))
      defines.foreach { case (dv, p) =>
        if (("(?i)\\b" + name + "\\s*\\.").r.findFirstIn(maskQuotes(p)).isDefined)
          throw SqlError(s"SUBSET '$name' referenced in DEFINE ($dv) — union " +
            "variables resolve in MEASURES only; spell the member predicates out")
      }
    }
    // ---- group repetition bookkeeping (round 14): EVERY group form —
    // (A B)+, (A B)*, (A B){n,m} — runs the engine's loop machine. Members
    // keep their aliases as real collection steps (buffers accumulate per
    // iteration), so measures aggregate/navigate them directly — no
    // per-repetition suffix machinery, no auto-SUBSET join-back fan-out,
    // no repetition cap. The one remaining suffix surface is inner
    // exact-count groups (((A B){2} C)+): the engine inlines them as
    // looped members A__1 B__1 A__2 B__2, and measures over A union the
    // inline aliases via auto-SUBSETs.
    val groupToks = toks.filter(_.group)
    val groupVars: Set[String] = groupToks.flatMap(_.vars).toSet
    val innerAliases: Set[String] = groupToks.flatMap(_.innerGroups.flatMap {
      case (ns, k) => ns.flatMap(n => (1 to k).map(i => s"${n}__$i"))
    }).toSet
    if (groupToks.nonEmpty) {
      // member names must be unique across the whole pattern: measures
      // reference them directly
      groupToks.foreach { t =>
        t.vars.foreach { v =>
          if (toks.exists(t2 => (t2 ne t) && t2.vars.contains(v))) throw SqlError(
            s"group member '$v' also appears elsewhere in the pattern — " +
              "member names must be unique")
        }
      }
      // DEFINE scope: a member's predicate may reference itself, its own
      // group's members (bound to the SAME iteration by the engine's
      // iteration-anchored comparands — the ANSI per-repetition reading),
      // or non-group variables. A reference from OUTSIDE the group is
      // ambiguous (first iteration's event vs ANSI's running-last) and
      // stays a typed rejection.
      defines.foreach { case (dv, p) =>
        val ownGroup = groupToks.find(_.vars.contains(dv))
          .map(_.vars.toSet).getOrElse(Set.empty[String])
        (groupVars -- ownGroup - dv).find(o =>
          ("(?i)\\b" + o + "\\s*\\.").r.findFirstIn(maskQuotes(p)).isDefined)
          .foreach(o => throw SqlError(
            s"DEFINE $dv references group member '$o' from outside its " +
              "group — the binding across iterations is ambiguous (first " +
              "vs latest); reference a non-group variable instead"))
      }
      // auto-SUBSETs for INNER group members: v in MEASURES = union of
      // v__1..v__k over the engine's inlined per-inner-repetition aliases
      groupToks.foreach(_.innerGroups.foreach { case (ns, k) =>
        ns.foreach(v => subsets += v -> (1 to k).map(i => s"${v}__$i"))
      })
      // a single-member group that normalizes to a SCALAR step ((H){0,1},
      // (H){1}) registers a self-SUBSET so aggregate measures over it
      // rewrite to the NULL-aware scalar forms (count → CASE WHEN, sum →
      // the value) instead of reaching Spark as a group-less aggregate
      groupToks.filter(t => t.vars.size == 1 && t.innerGroups.isEmpty)
        .foreach { t =>
          val v = t.vars.head
          val collByQuant = t.quant.map(qBase).exists {
            case "+" | "*" => true
            case q if q.startsWith("{") =>
              val parts = q.stripPrefix("{").stripSuffix("}").split(",", -1)
              if (parts.length == 1) parts(0).trim.toInt > 1
              else parts(1).trim.isEmpty || parts(1).trim.toInt > 1
            case _ => false
          }
          if (!collByQuant && !subsets.contains(v)) subsets += v -> Seq(v)
        }
    }

    // member metadata: a count-quantified member reads through the engine's
    // collection forms (count(v.x), v[0].x, v[last].x); a max-1 member
    // (`?` / {0,1} / {1}) through plain scalar refs, which NULL out via the
    // variant padding when the optional member is omitted from a match
    // members of a MULTI-member group are looped collection steps; a
    // single-member group (H){0,1} normalizes to the plain quantifier in
    // the engine, so its collection-ness follows the generic quant rule
    val collGroupVars: Set[String] =
      groupToks.filter(_.vars.size > 1).flatMap(_.vars).toSet
    def isColl(v: String): Boolean =
      collGroupVars.contains(v) || innerAliases.contains(v) ||
      toks.find(_.vars.contains(v)).flatMap(_.quant).map(qBase).exists {
        case "+" | "*" => true
        case "?" => false
        case q if q.startsWith("{") =>
          val parts = q.stripPrefix("{").stripSuffix("}").split(",", -1)
          if (parts.length == 1) parts(0).trim.toInt > 1 // {n}
          else parts(1).trim.isEmpty || parts(1).trim.toInt > 1 // {n,} {n,m}
        case _ => false
      }
    // SUBSET reference expansion over the members, which a chain visits in
    // pattern order = event-time order; each aggregate distributes over the
    // members' own collection/scalar forms (all-NULL stays NULL — ANSI's
    // empty-aggregate contract), FIRST/LAST coalesce in chain/reverse-chain
    // order, and a bare U.x is ANSI's LAST(U.x).
    def sMemberOrder(ms: Seq[String]): Seq[String] =
      ms.sortBy(v => toks.indexWhere(_.vars.contains(v)))
    def sCount(v: String, x: String) =
      if (isColl(v)) s"count($v.$x)"
      else s"(CASE WHEN $v.$x IS NOT NULL THEN 1 ELSE 0 END)"
    def sSum(v: String, x: String) = if (isColl(v)) s"sum($v.$x)" else s"$v.$x"
    def sMinMax(fn: String, v: String, x: String) =
      if (isColl(v)) s"$fn($v.$x)" else s"$v.$x"
    def subsetAgg(fn: String, ms0: Seq[String], x: String): String = {
      val ms = sMemberOrder(ms0)
      def sumExpr = {
        val parts = ms.map(sSum(_, x))
        if (parts.size == 1) parts.head
        else s"(CASE WHEN ${parts.map(p => s"$p IS NULL").mkString(" AND ")} " +
          s"THEN NULL ELSE ${parts.map(p => s"coalesce($p, 0)").mkString(" + ")} END)"
      }
      def cntExpr = s"(${ms.map(sCount(_, x)).mkString(" + ")})"
      fn.toLowerCase match {
        case "count" => cntExpr
        case "sum" => sumExpr
        case "avg" => s"($sumExpr * 1.0 / nullif($cntExpr, 0))"
        case mm => // min | max: least/greatest skip NULLs (absent members)
          val parts = ms.map(sMinMax(mm, _, x))
          if (parts.size == 1) parts.head
          else s"${if (mm == "min") "least" else "greatest"}(${parts.mkString(", ")})"
      }
    }
    def subsetNav(first: Boolean, ms0: Seq[String], x: String): String = {
      val ms = sMemberOrder(ms0)
      val parts =
        if (first) ms.map(v => if (isColl(v)) s"$v[0].$x" else s"$v.$x")
        else ms.reverse.map(v => if (isColl(v)) s"$v[last].$x" else s"$v.$x")
      if (parts.size == 1) parts.head else s"coalesce(${parts.mkString(", ")})"
    }
    def expandSubsets(e0: String): String = {
      var e = e0
      subsets.foreach { case (u, ms) =>
        ("(?i)\\b(PREV|NEXT)\\s*\\(\\s*" + u + "\\s*\\.").r
          .findFirstIn(maskQuotes(e)).foreach(_ => throw SqlError(
            s"PREV/NEXT over SUBSET '$u' is not supported — physical " +
              "navigation anchors at a single variable's row"))
        e = rewriteOutsideQuotes(e,
          ("(?i)\\b(count|sum|avg|min|max)\\s*\\(\\s*" + u +
            "\\s*\\.\\s*(\\w+)\\s*\\)").r)(m =>
          subsetAgg(m.group(1), ms, m.group(2)))
        e = rewriteOutsideQuotes(e,
          ("(?i)\\b(FIRST|LAST)\\s*\\(\\s*" + u +
            "\\s*\\.\\s*(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)").r) { m =>
          Option(m.group(3)).filter(_ != "0").foreach(k => throw SqlError(
            s"${m.group(1).toUpperCase}($u.${m.group(2)}, $k): logical offsets " +
              "over a SUBSET union are not supported — index the member variable"))
          subsetNav(m.group(1).equalsIgnoreCase("FIRST"), ms, m.group(2))
        }
        e = rewriteOutsideQuotes(e, ("(?i)\\b" + u + "\\s*\\.\\s*(\\w+)").r)(m =>
          subsetNav(first = false, ms, m.group(1)))
      }
      e
    }

    // DEFINE predicate: self-references become bare columns (the engine's
    // step-filter form); other variables stay qualified (cross-step refs)
    def lowerPred(v: String, p: String): String = {
      // keyword detection and every rewrite run on the quote-masked text: a
      // literal like 'A.x' or 'PREV(' inside a string must neither trip the
      // rejection nor be rewritten
      """(?i)\b(FIRST|LAST)\s*\(""".r.findFirstIn(maskQuotes(p)).foreach(f =>
        throw SqlError(s"${f.trim} in DEFINE is not supported — step predicates see " +
          "the current event plus earlier steps by name (cross-step " +
          "references like `B.x > A.x`)"))
      // self-references become bare columns FIRST, so PREV(B.price) inside
      // B's predicate reads PREV(price) below
      val bare = rewriteOutsideQuotes(p, s"(?i)\\b$v\\s*\\.\\s*".r)(_ => "")
      // PREV(x[, k]) / NEXT(x[, k]): ANSI physical offsets relative to the
      // CURRENT candidate row, per partition in event-time order — lowered
      // to lag/lead over the tagged union's per-key row_number (__key/__id
      // are the pattern compiler's internal order columns, present wherever
      // step flags are evaluated). Out-of-range (partition edge) yields
      // NULL, so the comparison is false — ANSI's unmatched-navigation
      // contract. Batch-only: the streaming lowering rejects OVER in step
      // predicates with a typed pointer.
      val lowered = rewriteOutsideQuotes(bare,
        """(?i)\b(PREV|NEXT)\s*\(\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r) { m =>
        val fn = if (m.group(1).equalsIgnoreCase("PREV")) "lag" else "lead"
        val k = Option(m.group(3)).getOrElse("1")
        s"$fn(${m.group(2)}, $k) OVER (PARTITION BY __key ORDER BY __id)"
      }
      // anything PREV/NEXT-shaped still left (an expression or another
      // variable's column inside the call) is outside the faithful subset —
      // reject rather than let Spark fail on an undefined function
      """(?i)\b(PREV|NEXT)\s*\(""".r.findFirstIn(maskQuotes(lowered)).foreach(f =>
        throw SqlError(s"${f.trim} in DEFINE must navigate a single column of " +
          s"the variable being defined — PREV($v.col [, k]) or PREV(col [, k])"))
      lowered
    }
    val steps = toks.map {
      case MrTok(ms, pq, _, true, _, _, _) => // PERMUTE: one engine n-ary AND element
        val el = ms.map { v =>
          val pred = defines.get(v).map(p => s"[${lowerPred(v, p)}]").getOrElse("")
          s"$v=$stream$pred"
        }.mkString(" AND ")
        // quantified (round 15): the engine PERMUTE-loop spelling
        pq.map(q => s"($el)$q").getOrElse(el)
      case t @ MrTok(_, Some(q), _, _, true, _, _) =>
        // group repetition → the engine loop machine; member quantifiers
        // and inner exact groups pass through in engine spelling
        {
          // recursive emission (round 16): inner groups keep their
          // quantifiers verbatim — exact {k} inlines engine-side, variable
          // {n,m}/{n,}/+ runs the nested iteration frame (round 15), and a
          // depth-2 single-member group ((A){1,2}) normalizes engine-side
          def emitTok(tok: String): String =
            if (tok.startsWith("(")) {
              val iq = tok.substring(tok.lastIndexOf(')') + 1).replaceAll("\\s", "")
              val body = tok.substring(1, tok.lastIndexOf(')'))
              val toks2 = ("""(?i)""" + innerMember).r
                .findAllIn(body).map(_.trim).toSeq
              // full coverage: a body chunk the member grammar cannot
              // place must die typed, never drop silently
              if (toks2.mkString.replaceAll("\\s", "") !=
                  body.replaceAll("\\s", ""))
                throw SqlError(s"unsupported nested-group member in " +
                  s"'$tok' — members are variables with optional " +
                  "quantifiers or single-member depth-2 groups")
              s"(${toks2.map(emitTok).mkString(" -> ")})$iq"
            } else {
              val m = """^(\w+)([+*]|\{\d+(?:,\d*)?\})?(\??)$""".r
                .findFirstMatchIn(tok.replaceAll("\\s", "")).getOrElse(
                  throw SqlError(s"bad nested-group member '$tok'"))
              val v = m.group(1); val mq = Option(m.group(2)).getOrElse("")
              // a trailing '?' after the member quantifier is the
              // reluctant mark — previously the regex silently dropped
              // it, lowering `((D U+?){2} C)+` as greedy U+ (ADVICE r14);
              // reluctant members get the same typed rejection the engine
              // gives them in non-nested groups
              if (m.group(3).nonEmpty) throw SqlError(
                if (mq.nonEmpty)
                  s"reluctant member quantifier '$v$mq?' inside a nested " +
                    "group is not supported — reluctance on group MEMBERS " +
                    "conflates iteration count with member count; make the " +
                    "member greedy or lift it out of the group"
                else
                  s"optional member '$v?' inside a nested group is not " +
                    "supported — spell the optionality as alternation or " +
                    "lift the member out of the group")
              val pred = defines.get(v).map(p => s"[${lowerPred(v, p)}]").getOrElse("")
              s"$v=$stream$pred$mq"
            }
          t.memberRaw.map { tok =>
            if (tok.startsWith("(")) emitTok(tok)
            else {
              val v = tok.replaceAll("""[+*{].*$""", "")
              val mq = tok.stripPrefix(v)
              val pred = defines.get(v).map(p => s"[${lowerPred(v, p)}]").getOrElse("")
              s"$v=$stream$pred$mq"
            }
          }.mkString("(", " -> ", s")$q")
        }
      case MrTok(Seq(v), q, _, _, _, _, _) =>
        val pred = defines.get(v).map(p => s"[${lowerPred(v, p)}]").getOrElse("")
        val quant = q.getOrElse("") match {
          case "" => ""
          case "?" => "{0,1}"
          case "??" => "{0,1}?" // reluctant optionality (zero-min gates apply)
          case s0 => s0 // + * {n} {n,m} {n,} [+ reluctant ?] — engine spelling
        }
        s"$v=$stream$pred$quant"
      case MrTok(alts, _, _, _, _, _, _) => // alternation: one engine OR step, alias per branch
        alts.map { v =>
          val pred = defines.get(v).map(p => s"[${lowerPred(v, p)}]").getOrElse("")
          s"$v=$stream$pred"
        }.mkString(" OR ")
    }

    // MEASURES: FIRST/LAST navigation lowers to indexed access; collection
    // aggregations pass through (the engine resolves count/sum/avg/min/max)
    val items = splitTopLevel(measuresRaw).map { item =>
      val im = """(?is)^(.*?)\s+AS\s+(\w+)\s*$""".r.findFirstMatchIn(item)
        .getOrElse(throw SqlError(s"bad MEASURES item '$item' — expected expr AS alias"))
      // semantics keywords (round 12): FINAL is the implemented semantics
      // for measures on the per-match relation (constant per match) — the
      // keyword strips. RUNNING in ONE ROW coincides with FINAL at the
      // match's final row (ANSI) — strips too. RUNNING in ALL ROWS is the
      // per-prefix form: RUNNING agg(V.x) lowers to an internal marker the
      // EMIT ALL ROWS lowering evaluates as a window over the exploded
      // match rows; any other RUNNING shape is a typed error.
      var e0 = rewriteOutsideQuotes(im.group(1),
        """(?i)\bFINAL\s+(?=(?:count|sum|min|max|avg|first|last|prev|next)\s*\()""".r)(
        _ => "")
      if (allRows) {
        e0 = rewriteOutsideQuotes(e0,
          """(?i)\bRUNNING\s+(count|sum|min|max|avg)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)""".r) { m =>
          val v = m.group(2)
          if (subsets.contains(v)) throw SqlError(
            s"RUNNING over SUBSET '$v' is not supported — expand per member")
          s"__mr_running_${m.group(1).toLowerCase}($v.${m.group(3)})"
        }
      } else {
        e0 = rewriteOutsideQuotes(e0,
          """(?i)\bRUNNING\s+(?=(?:count|sum|min|max|avg|first|last)\s*\()""".r)(
          _ => "")
      }
      """(?i)\bRUNNING\b""".r.findFirstIn(maskQuotes(e0)).foreach(_ =>
        throw SqlError("RUNNING supports count|sum|min|max|avg over a single " +
          "pattern variable column (RUNNING agg(V.col)) and, in ONE ROW PER " +
          "MATCH, the FINAL-coinciding aggregate/navigation forms"))
      // CLASSIFIER() / MATCH_NUMBER() (round 12): aliases of the
      // mr_classifier / mr_match_number columns EMIT ALL ROWS appends —
      // per-row values, so they need ALL ROWS PER MATCH and must be the
      // measure's entire expression (compose downstream).
      if ("""(?i)\b(CLASSIFIER|MATCH_NUMBER)\s*\(""".r
          .findFirstIn(maskQuotes(e0)).isDefined) {
        if (!allRows) throw SqlError(
          "CLASSIFIER()/MATCH_NUMBER() need ALL ROWS PER MATCH (they are " +
            "per-row values; ONE ROW emits one row per match)")
        val t = e0.trim
        if (t.matches("""(?i)CLASSIFIER\s*\(\s*\)""")) e0 = "__mr_classifier"
        else if (t.matches("""(?i)MATCH_NUMBER\s*\(\s*\)""")) e0 = "__mr_match_number"
        else throw SqlError(
          "CLASSIFIER()/MATCH_NUMBER() must be a measure's entire expression " +
            "(no arguments, no composition — alias it and compose downstream)")
      }
      e0 = expandSubsets(e0)
      // FIRST/LAST take ANSI's optional logical offset: FIRST(V.x, k) is
      // the k-th row of V from the start (V[k].x), LAST(V.x, k) the k-th
      // from the end (V[last-k].x); past the collected count yields NULL.
      // PREV/NEXT pass through — the engine select grammar lowers them to
      // physical-offset joins anchored at the variable's last matched row.
      val expr0 = {
        val a = rewriteOutsideQuotes(e0,
          """(?i)\bFIRST\s*\(\s*(\w+)\s*\.\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r)(m =>
          Option(m.group(3)) match {
            case Some(k) => s"${m.group(1)}[$k].${m.group(2)}"
            case None => s"${m.group(1)}[0].${m.group(2)}"
          })
        rewriteOutsideQuotes(a,
          """(?i)\bLAST\s*\(\s*(\w+)\s*\.\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r)(m =>
          Option(m.group(3)) match {
            case Some(k) if k != "0" => s"${m.group(1)}[last-$k].${m.group(2)}"
            case _ => s"${m.group(1)}[last].${m.group(2)}"
          })
      }
      s"$expr0 AS ${im.group(2)}"
    }
    // ALL ROWS mode: the matched event's own columns carry the partition
    // key, so no key item is injected; the engine appends them (plus
    // mr_classifier) via EMIT ALL ROWS
    val keyItem = if (allRows) None else partitionBy.map { k =>
      val MrTok(vs0, q0, _, _, grp0, raw0, _) = toks.head
      // an alternation head binds exactly one alternative per match (the
      // others join NULL) — coalesce picks the matched one's key; a head
      // GROUP's first iteration's first member is always present (an
      // inner-group head reads its first inlined repetition's alias)
      val spelled =
        if (grp0 && raw0.headOption.exists(_.startsWith("(")))
          s"${vs0.head}__1[0].$k"
        else if (grp0 && (vs0.size > 1 || isColl(vs0.head)))
          s"${vs0.head}[0].$k" // group: first collected
        else if (grp0) s"${vs0.head}.$k" // single-member {1} ≡ plain scalar
        else if (vs0.size > 1) vs0.map(v => s"$v.$k").mkString("coalesce(", ", ", ")")
        else if (q0.isDefined) s"${vs0.head}[0].$k"
        else s"${vs0.head}.$k"
      s"$spelled AS $k"
    }
    val select = (keyItem.toSeq ++ items).mkString(", ")
    val partStr = partitionBy.map(k => s" PARTITION BY $k").getOrElse("")
    // exclusions reach the engine only in ALL ROWS mode — in ONE ROW mode
    // ANSI defines {- v -} as a no-op (nothing is emitted per row anyway)
    if (allRows && unmatchedRows && excludedVars.nonEmpty) throw SqlError(
      "{- v -} exclusion and WITH UNMATCHED ROWS are mutually exclusive " +
        "(ANSI: an excluded row is matched — omitting it would be " +
        "indistinguishable from an unmatched row)")
    val emitStr =
      if (!allRows) ""
      else " EMIT ALL ROWS" +
        (if (excludedVars.nonEmpty) s" EXCLUDING (${excludedVars.mkString(", ")})" else "") +
        (if (unmatchedRows) " WITH UNMATCHED" else "")
    val skipStr =
      if (skipPast) " SKIP PAST LAST ROW"
      else skipToVar.map { case (isFirst, v) =>
        s" SKIP TO ${if (isFirst) "FIRST" else "LAST"} $v"
      }.getOrElse(if (skipToNext) " SKIP TO NEXT ROW" else "")
    s"INSERT INTO $target SELECT $select FROM SEQUENCE (EVERY (" +
      steps.mkString(" -> ") + s"))$withinStr$partStr$emitStr$skipStr;"
  }

  /** Split a WITH-clause body on commas OUTSIDE single quotes — option
    * values (json templates, JSONPaths, cron specs) legitimately contain
    * commas.
    */
  private def splitWithItems(raw: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inQ = false
    raw.foreach {
      case '\'' => inQ = !inQ; sb += '\''
      case ',' if !inQ => out += sb.toString(); sb.clear()
      case c => sb += c
    }
    out += sb.toString()
    out.result()
  }

  // keys appear single-quoted ('format'), double-quoted ("timer.interval" —
  // sql_with_end_to_end.rs:39) or bare (type = 'source'); all three
  // normalize to the bare key, else a quoted spelling silently misses the
  // option lookup
  private def stripKeyQuotes(k: String): String = {
    val t = k.trim
    if (t.length >= 2 && ((t.head == '\'' && t.last == '\'') ||
        (t.head == '"' && t.last == '"'))) t.substring(1, t.length - 1)
    else t
  }

  private def parseWith(raw: String): Map[String, String] =
    splitWithItems(raw).map(_.trim).filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(stripKeyQuotes(k) ->
          expandEnv(v.trim.stripPrefix("'").stripSuffix("'")))
        case _ => None
      }
    }.toMap

  /** `${VAR}` / `${VAR:-default}` / `${VAR:default}` expansion in WITH
    * clause values (reference config loader semantics: bare form errors
    * when unset; `:` form also falls back when set-but-empty).
    */
  private[graft] def expandEnv(s: String,
      env: String => Option[String] = sys.env.get): String =
    """\$\{([^}]+)\}""".r.replaceAllIn(s, m => {
      val e = m.group(1)
      val resolved =
        if (e.contains(":-")) {
          val Array(v, d) = e.split(":-", 2); env(v).getOrElse(d)
        } else if (e.contains(":")) {
          val Array(v, d) = e.split(":", 2); env(v).filter(_.nonEmpty).getOrElse(d)
        } else env(e).getOrElse(
          throw SqlError(s"environment variable '$e' not set (WITH clause)"))
      java.util.regex.Matcher.quoteReplacement(resolved)
    })

  private def parseQuery(target: String, select: String, source: String,
                         rest0: String): QuerySpec = {
    var rest = rest0
    def mkWin(kind: String, raw: String): WindowClause =
      // cron params are ONE quoted expression whose fields may themselves
      // contain commas (`0 0,30 * * * *`) — never comma-split them
      if (kind.equalsIgnoreCase("cron"))
        WindowClause("cron",
          Option(raw).map(r => Seq(r.trim.stripPrefix("'").stripSuffix("'")))
            .getOrElse(Nil))
      else WindowClause(kind.toLowerCase,
        Option(raw).map(_.split(",").map(_.trim.stripPrefix("'").stripSuffix("'")).toSeq)
          .getOrElse(Nil))
    // JOIN chain with optional per-side buffer windows (windowed joins,
    // join_processor.rs:18-214 — each arrival probes the opposite side's
    // WINDOWED buffer): `FROM A [WINDOW(…)] [type] JOIN B [WINDOW(…)] ON
    // cond`, repeated (three-way+ joins, joins.rs:join_test27). A WINDOW
    // right after the source is its join buffer only when a JOIN follows;
    // otherwise WINDOW(…) is the query's own window clause. Each ON body
    // runs to the next JOIN keyword or a query clause keyword.
    // optional FROM-side alias: `FROM cseEventStream AS a …` (joins.rs
    // aliased-join cases) — consumed ahead of the side window / join chain
    var sourceAlias: Option[String] = None
    """(?is)^\s*AS\s+(\w+)\b""".r.findPrefixMatchOf(rest).foreach { m =>
      sourceAlias = Some(m.group(1))
      rest = rest.substring(m.end)
    }
    var sourceWindow: Option[WindowClause] = None
    if ("""(?is)\bJOIN\b""".r.findFirstIn(rest).isDefined) {
      val sideWinRe = """(?is)^\s*WINDOW\s*\(\s*'(\w+)'\s*(?:,\s*([^)]*))?\)""".r
      sideWinRe.findPrefixMatchOf(rest).foreach { m =>
        sourceWindow = Some(mkWin(m.group(1), m.group(2)))
        rest = rest.substring(m.end)
      }
    }
    // head (join type + stream + optional buffer window) parses first; the
    // ON body is OPTIONAL — a bare `JOIN B [WINDOW(…)]` with no ON is the
    // reference's CROSS join form (joins.rs:join_test5_cross_join), lowered
    // as condition TRUE over the two buffers.
    val joinHeadRe = ("(?is)^\\s*(?:(INNER|LEFT|RIGHT|FULL)(?:\\s+OUTER)?\\s+|(NATURAL)\\s+)?JOIN\\s+(\\w+)" +
      "(?:\\s+AS\\s+(\\w+))?\\s*" +
      "(?:WINDOW\\s*\\(\\s*'(\\w+)'\\s*(?:,\\s*([^)]*))?\\))?").r
    val onRe = """(?is)^\s*ON\s+""".r
    val usingRe = """(?is)^\s*USING\s*\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)""".r
    val joins = Seq.newBuilder[JoinClause]
    var more = true
    while (more) {
      joinHeadRe.findPrefixMatchOf(rest) match {
        case Some(m) =>
          val jt = Option(m.group(1)).map(_.toUpperCase) match {
            case Some("LEFT") => "left_outer"
            case Some("RIGHT") => "right_outer"
            case Some("FULL") => "full_outer"
            case _ => "inner"
          }
          val natural = m.group(2) != null
          val alias = Option(m.group(4))
          val win = Option(m.group(5)).map(k => mkWin(k, m.group(6)))
          val afterHead = rest.substring(m.end)
          (onRe.findPrefixMatchOf(afterHead), usingRe.findPrefixMatchOf(afterHead)) match {
            case (Some(onM), _) =>
              if (natural) throw SqlError(
                "NATURAL JOIN derives its condition from the common columns " +
                  "— drop the ON clause (or drop NATURAL)")
              val tail = afterHead.substring(onM.end)
              val stopIdx = Seq("JOIN", "WHERE", "GROUP\\s+BY", "HAVING", "ORDER\\s+BY",
                  "LIMIT", "OFFSET", "WINDOW")
                .flatMap(n => ("(?is)\\b(?:(?:INNER|LEFT|RIGHT|FULL)\\s+(?:OUTER\\s+)?|NATURAL\\s+)?" + n + "\\b")
                  .r.findFirstMatchIn(tail).map(_.start))
                .minOption.getOrElse(tail.length)
              joins += JoinClause(jt, m.group(3), tail.substring(0, stopIdx).trim,
                win, alias)
              rest = tail.substring(stopIdx)
            case (None, Some(um)) =>
              // `JOIN R USING (c1, …)` — the reference rejects this
              // spelling (converter.rs:631); lowered at compile to the
              // equality conjunction over the named columns, each resolved
              // against exactly one earlier side
              if (natural) throw SqlError(
                "NATURAL JOIN derives its condition from the common columns " +
                  "— drop the USING clause (or drop NATURAL)")
              joins += JoinClause(jt, m.group(3), "", win, alias,
                using = um.group(1).split(",").map(_.trim).toSeq)
              rest = afterHead.substring(um.end)
            case (None, None) =>
              // NATURAL JOIN: condition resolved at compile from the
              // common columns of the two sides (converter.rs:634 rejects)
              if (natural) {
                joins += JoinClause(jt, m.group(3), "", win, alias, natural = true)
                rest = afterHead
              } else {
                // the reference's ON-less form is ONLY the bare (cross) JOIN
                // (joins.rs:join_test5_cross_join); an outer-join keyword with
                // a dropped ON is a malformed query — lowering it to an
                // always-true condition would silently cross-product
                if (jt != "inner")
                  throw SqlError("malformed JOIN clause — " +
                    s"${m.group(1).toUpperCase} OUTER JOIN requires an ON " +
                    "condition (only the bare cross JOIN may omit ON)")
                joins += JoinClause(jt, m.group(3), "TRUE", win, alias)
                rest = afterHead
              }
          }
        case None => more = false
      }
    }
    // a JOIN token the chain parser could not consume is a malformed join
    // — silently dropping it would run the query WITHOUT the join (wrong
    // results); the reference rejects these at parse too
    // (join_validation_test.rs: USING clause, NATURAL JOIN)
    val restNoLits = rest.replaceAll("'[^']*'", "''")
    if ("""(?is)\bJOIN\b""".r.findFirstIn(restNoLits).isDefined) {
      if ("""(?is)\bUSING\b""".r.findFirstIn(restNoLits).isDefined)
        throw SqlError("malformed JOIN … USING clause — expected " +
          "USING (col[, col…]) with plain column names")
      throw SqlError("malformed JOIN clause — expected " +
        "[INNER|LEFT|RIGHT|FULL [OUTER]|NATURAL] JOIN <stream> " +
        "[WINDOW(…)] [ON <cond> | USING (cols)]")
    }
    // clause keywords match at paren-depth 0 only — a keyword inside an
    // IN (SELECT …) subquery belongs to the subquery, not this query
    def atTopLevel(text: String)(m: Regex.Match): Boolean = {
      var depth = 0; var inQ = false
      text.substring(0, m.start).foreach { c =>
        if (c == '\'') inQ = !inQ
        else if (!inQ && c == '(') depth += 1
        else if (!inQ && c == ')') depth -= 1
      }
      depth == 0 && !inQ
    }
    var window: Option[WindowClause] = None
    WindowRe.findAllMatchIn(rest).find(atTopLevel(rest)).foreach { m =>
      window = Some(mkWin(m.group(1), m.group(2)))
      rest = rest.substring(0, m.start) + rest.substring(m.end)
    }
    // bare-kind spelling `WINDOW kind('params')` (the reference's cron
    // window form, app_runner_windows.rs:235 `WINDOW cron('*/1 * * * * *')`)
    // — same WindowClause, tried only when the quoted form didn't match
    if (window.isEmpty)
      WindowBareRe.findAllMatchIn(rest).find(atTopLevel(rest)).foreach { m =>
        window = Some(mkWin(m.group(1), m.group(2)))
        rest = rest.substring(0, m.start) + rest.substring(m.end)
      }
    // OUTPUT rate clause (see OutputRateSpec scaladoc): parse + excise
    // here like WINDOW; a leftover OUTPUT keyword after excision is a
    // malformed clause — silently ignoring it would emit at full rate.
    var outputRate: Option[OutputRateSpec] = None
    OutputRateRe.findAllMatchIn(rest).find(atTopLevel(rest)).foreach { m =>
      val behavior = Option(m.group(1)).map(_.toLowerCase).getOrElse("all")
      val num = m.group(2)
      val unit = m.group(3).toLowerCase
      outputRate = Some(
        if (unit.startsWith("event")) {
          if (behavior == "snapshot") throw SqlError(
            "OUTPUT SNAPSHOT is time-driven (snapshot_output_rate.rs) — " +
              "EVERY <duration>, not EVENTS")
          OutputRateSpec("events", behavior,
            intOf(num, "OUTPUT EVERY n EVENTS", min = 1).toLong)
        } else {
          val us = parseDurationUs(s"$num $unit")
          if (behavior == "snapshot") OutputRateSpec("snapshot", "all", us)
          else OutputRateSpec("time", behavior, us)
        })
      rest = rest.substring(0, m.start) + rest.substring(m.end)
    }
    if ("""(?is)\bOUTPUT\b""".r.findFirstIn(rest.replaceAll("'[^']*'", "''"))
        .isDefined)
      throw SqlError("malformed OUTPUT rate clause — supported: OUTPUT " +
        "[ALL|FIRST|LAST] EVERY <n> EVENTS | EVERY <d> " +
        "<milliseconds|seconds|minutes|hours|days>, and OUTPUT SNAPSHOT " +
        "EVERY <d> <time unit>")
    def grab(kw: String, next: Seq[String]): Option[String] = {
      ("(?is)\\b" + kw + "\\b").r.findAllMatchIn(rest).find(atTopLevel(rest)).map { m =>
        var body = rest.substring(m.end)
        next.flatMap(n => ("(?is)\\b" + n + "\\b").r.findAllMatchIn(body)
            .find(atTopLevel(body)).map(_.start))
          .minOption.foreach(s => body = body.substring(0, s))
        body.trim
      }
    }
    // anything between FROM <source> and the first clause keyword is
    // unconsumed text — silently dropping it would run a DIFFERENT query
    // than the author wrote (the wrong-results class the pattern parser
    // already rejects); ORDER/LIMIT/OFFSET junk dies in their own typed
    // parses, this closes the gap before the first keyword
    locally {
      val firstKw = Seq("WHERE", "GROUP\\s+BY", "HAVING", "ORDER\\s+BY",
          "LIMIT", "OFFSET")
        .flatMap(n => ("(?is)\\b" + n + "\\b").r.findAllMatchIn(rest)
          .find(atTopLevel(rest)).map(_.start))
        .minOption.getOrElse(rest.length)
      val junk = rest.substring(0, firstKw).trim
      if (junk.nonEmpty)
        throw SqlError(s"unconsumed text after FROM $source: '${junk.take(40)}'")
    }
    val where0 = grab("WHERE", Seq("GROUP\\s+BY", "HAVING", "ORDER\\s+BY", "LIMIT", "OFFSET"))
    val groupBy = grab("GROUP\\s+BY", Seq("HAVING", "ORDER\\s+BY", "LIMIT", "OFFSET"))
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    val having = grab("HAVING", Seq("ORDER\\s+BY", "LIMIT", "OFFSET"))
    val orderBy = grab("ORDER\\s+BY", Seq("LIMIT", "OFFSET"))
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    val limit = grab("LIMIT", Seq("OFFSET")).map(intOf(_, "LIMIT"))
    val offset = grab("OFFSET", Nil).map(intOf(_, "OFFSET"))
    // IN (SELECT …) subqueries (ref roadmap GRAMMAR.md:812-820): extracted
    // from top-level WHERE conjuncts only — under an OR a semi-join is not
    // equivalent, so that spelling is a typed error, not a wrong answer
    val (where, inSubs, exSubs) = extractInSubqueries(where0)
    val (dis, select2) = "(?is)^DISTINCT\\s+(.*)$".r.findFirstMatchIn(select.trim) match {
      case Some(m) => (true, m.group(1))
      case None => (false, select)
    }
    val items = splitTopLevel(select2).map(parseSelectItem)
    QuerySpec(target, source, items, joins.result(), where, window, groupBy, having,
      orderBy, limit, offset, sourceWindow = sourceWindow,
      distinct = dis, inSubqueries = inSubs, existsSubqueries = exSubs,
      sourceAlias = sourceAlias, outputRate = outputRate)
  }

  /** Split on a keyword at paren-depth 0 outside single quotes; returns
    * segment list (the keyword itself is dropped). */
  private def splitTopLevelKeyword(s: String, kw: String): Seq[String] = {
    val re = ("(?is)\\b" + kw + "\\b").r
    val cuts = re.findAllMatchIn(s).filter { m =>
      var depth = 0; var inQ = false
      s.substring(0, m.start).foreach { c =>
        if (c == '\'') inQ = !inQ
        else if (!inQ && c == '(') depth += 1
        else if (!inQ && c == ')') depth -= 1
      }
      depth == 0 && !inQ
    }.map(m => (m.start, m.end)).toSeq
    if (cuts.isEmpty) Seq(s)
    else {
      val bounds = ((0, 0) +: cuts) :+ ((s.length, s.length))
      bounds.sliding(2).map { case Seq((_, a), (b, _)) => s.substring(a, b) }.toSeq
    }
  }

  /** Pull `lhs [NOT] IN (SELECT expr FROM src [WHERE …])` conjuncts out of
    * the WHERE clause; the remainder (other conjuncts AND'd back together)
    * stays the filter. A subquery under OR or with clauses beyond
    * SELECT/FROM/WHERE raises typed errors.
    */
  private def extractInSubqueries(where: Option[String])
      : (Option[String], Seq[InSubquery], Seq[ExistsSubquery]) = {
    val conjRe = "(?is)^(.*?)\\s+(NOT\\s+)?IN\\s*\\(\\s*(SELECT\\b.*)\\)$".r
    val existsRe = "(?is)^(NOT\\s+)?EXISTS\\s*\\(\\s*(SELECT\\b.*)\\)$".r
    val subRe = "(?is)^SELECT\\s+(.+?)\\s+FROM\\s+(\\w+)(?:\\s+WHERE\\s+(.+))?$".r
    def subqueryKeywordGuard(body: String, what: String): Unit =
      Seq("GROUP\\s+BY", "ORDER\\s+BY", "JOIN", "LIMIT", "HAVING",
          "WINDOW").foreach { kw =>
        if (splitTopLevelKeyword(body, kw).lengthCompare(1) > 0)
          throw SqlError(s"$what supports SELECT <expr> FROM " +
            s"<stream> [WHERE …] only — drop the ${kw.replace("\\s+", " ")} " +
            "(route richer shapes through a WITH cte)")
      }
    where match {
      case None => (None, Nil, Nil)
      case Some(w) =>
        val conjuncts = splitTopLevelKeyword(w, "AND").map(_.trim).filter(_.nonEmpty)
        val exists = Seq.newBuilder[ExistsSubquery]
        val (subs, keep) = conjuncts.partitionMap { c =>
          // a conjunct with a top-level OR is never a pure membership term —
          // the lazy lhs match would otherwise swallow `a OR b` as the lhs
          val hasTopOr = splitTopLevelKeyword(c, "OR").lengthCompare(1) > 0
          // require `(SELECT` after EXISTS: Spark's higher-order
          // exists(array, lambda) is a plain expression, not a subquery
          if (hasTopOr &&
              ("(?is)\\bIN\\s*\\(\\s*SELECT\\b".r.findFirstIn(c).isDefined ||
               "(?is)\\bEXISTS\\s*\\(\\s*SELECT\\b".r.findFirstIn(c).isDefined))
            throw SqlError("IN/EXISTS (SELECT …) is supported only as a " +
              s"top-level AND conjunct of WHERE — rewrite '${c.take(60)}'")
          if (hasTopOr) Right(c)
          else existsRe.findFirstMatchIn(c).filter(m => balancedParens(m.group(2))) match {
            case Some(m) =>
              val body = m.group(2).trim
              subqueryKeywordGuard(body, "EXISTS subquery")
              subRe.findFirstMatchIn(body) match {
                case Some(s) =>
                  exists += ExistsSubquery(m.group(1) != null, s.group(2),
                    Option(s.group(3)).map(_.trim))
                  Left(Option.empty[InSubquery]) // consumed into `exists`
                case None => throw SqlError(
                  s"EXISTS supports (SELECT … FROM <stream> [WHERE …]) — got '${body.take(60)}'")
              }
            case None => conjRe.findFirstMatchIn(c) match {
            case Some(m) if balancedParens(m.group(3)) =>
              val body = m.group(3).trim
              m.group(1).trim match {
                case "" => throw SqlError(s"IN (SELECT …) needs a left-hand expression: '$c'")
                case lhs =>
                  subqueryKeywordGuard(body, "IN subquery")
                  subRe.findFirstMatchIn(body) match {
                    case Some(s) =>
                      Left(Some(InSubquery(lhs, m.group(2) != null, s.group(1).trim,
                        s.group(2), Option(s.group(3)).map(_.trim))))
                    case None => throw SqlError(
                      s"IN subquery supports SELECT <expr> FROM <stream> [WHERE …] — got '${body.take(60)}'")
                  }
              }
            case _ =>
              if ("(?is)\\bIN\\s*\\(\\s*SELECT\\b".r.findFirstIn(c).isDefined)
                throw SqlError("IN (SELECT …) is supported only as a top-level " +
                  s"AND conjunct of WHERE — rewrite '${c.take(60)}'")
              // the reference's own membership spelling: expr [NOT] IN Table
              // (both negation forms: `x NOT IN t` and `NOT x IN t` — the
              // query-api shape is Not(In(x, t)))
              "(?is)^(.+?)\\s+(NOT\\s+)?IN\\s+(\\w+)$".r.findFirstMatchIn(c) match {
                case Some(t) =>
                  val (lhs, notPfx) =
                    "(?is)^NOT\\s+(.+)$".r.findFirstMatchIn(t.group(1).trim) match {
                      case Some(n) => (n.group(1).trim, true)
                      case None => (t.group(1).trim, false)
                    }
                  Left(Some(InSubquery(lhs, (t.group(2) != null) ^ notPfx,
                    "", t.group(3), None, tableForm = true)))
                case None => Right(c)
              }
            }
          }
        }
        (if (keep.isEmpty) None else Some(keep.mkString(" AND ")),
          subs.flatten, exists.result())
    }
  }

  /** Regex replacement that never touches single-quoted literals. */
  private def replaceOutsideQuotes(text: String, re: Regex, repl: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      val q = text.indexOf('\'', i)
      if (q < 0) {
        sb.append(re.replaceAllIn(text.substring(i),
          java.util.regex.Matcher.quoteReplacement(repl)))
        i = text.length
      } else {
        sb.append(re.replaceAllIn(text.substring(i, q),
          java.util.regex.Matcher.quoteReplacement(repl)))
        val q2 = text.indexOf('\'', q + 1)
        val end = if (q2 < 0) text.length else q2 + 1
        sb.append(text.substring(q, end)); i = end
      }
    }
    sb.toString
  }

  /** Whole-word, case-insensitive identifier replacement that never touches
    * single-quoted literals — the CTE name-mangling rewriter. */
  private def replaceIdentOutsideQuotes(text: String, name: String, repl: String): String =
    replaceOutsideQuotes(text,
      ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r, repl)

  private def balancedParens(s: String): Boolean = {
    var depth = 0; var inQ = false
    s.foreach { c =>
      if (c == '\'') inQ = !inQ
      else if (!inQ && c == '(') depth += 1
      else if (!inQ && c == ')') { depth -= 1; if (depth < 0) return false }
    }
    depth == 0 && !inQ
  }

  /** Parse a simple duration literal ("10 seconds", "1 hour") to micros. */
  /** User-supplied integer (LIMIT/OFFSET/window params): a malformed or
    * missing number is a typed compile error, never a NumberFormatException
    * leaking out of the compiler (found by ParserFuzzSpec).
    */
  /** User-supplied SQL expression → Column with TYPED parse failure: Spark's
    * raw ParseException names internal grammar states; app authors get the
    * offending text (the reference's parser errors are typed the same way).
    */
  private def uexpr(s0: String): org.apache.spark.sql.Column = {
    // dialect type spellings in CAST positions (CAST(x AS VARCHAR)):
    // bare VARCHAR ≡ STRING, OBJECT ≡ BINARY — the TypeMap parity the DDL
    // already has. Anchored on the preceding AS so a COLUMN named
    // `object`/`varchar` is never rewritten; sized VARCHAR(n) untouched
    val s = replaceOutsideQuotes(
      replaceOutsideQuotes(s0,
        "(?i)(?<=\\bAS\\s{1,20})VARCHAR\\b(?!\\s*\\()".r, "STRING"),
      "(?i)(?<=\\bAS\\s{1,20})OBJECT\\b(?!\\s*\\()".r, "BINARY")
    try {
      // Column construction is lazy in Spark 4 — force the parse NOW so a
      // syntax error fails this statement's compile, not a later analysis
      val parsed =
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(s)
      val rewritten = rewriteArrivalOrderAggs(parsed)
      if (rewritten eq parsed) expr(s)
      else org.apache.spark.sql.graftbridge.Bridge.column(rewritten)
    } catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw SqlError(s"cannot parse expression '${s.trim}': " +
          e.getMessage.linesIterator.find(_.trim.nonEmpty).getOrElse("syntax error").trim)
    }
  }

  /** The reference's first/last aggregators keep the FIRST/LAST ARRIVED
    * value (aggregator/mod.rs:1655-1840, a VecDeque in arrival order);
    * arrival order in the batch model is the `ts` column. Spark's
    * First/Last are partition-order-dependent — stable per layout, silently
    * different under another shuffle: the worst wrong-results mode. The
    * parser builds First/Last AST nodes directly (dedicated grammar rule —
    * a FunctionRegistry shadow never sees them), so app compiles rewrite
    * the parsed tree: first(x) → min_by(x, ts), last(x) → max_by(x, ts).
    * In the per-event frame path the rewrite lands INSIDE the ts-ordered
    * frame, where min_by/max_by over the frame rows are exactly the frame's
    * first/last arrivals. Apps without a ts column fail resolution — the
    * same event-order contract the window lowering enforces.
    *
    * Two refinements for exact reference parity:
    *  - NULLS ARE VALUES: the reference's First/Last process_add pushes
    *    ANY Some(v) — and a null attribute arrives as
    *    Some(AttributeValue::Null), not None (aggregator/mod.rs:1696-1705,
    *    1804-1811; value.rs AttributeValue::Null) — so a null first/last
    *    arrival IS the answer. The ordering key is therefore the bare
    *    struct (ts, c): the struct is never null, so min_by/max_by never
    *    skip a row, and a null-valued first arrival returns null exactly
    *    as the reference does.
    *  - DUPLICATE-ts DETERMINISM: bare ts ties resolve in partition order
    *    (the nondeterminism class this rewrite exists to kill), so the
    *    ordering is the struct (ts, c): equal-ts rows tie-break on the
    *    value itself — stable under any shuffle. Within one ts the
    *    reference's arrival order is unobservable in the batch model, so a
    *    deterministic value-order tie-break is the faithful choice
    *    (nulls sort first in Spark's struct ordering — still total).
    */
  private def rewriteArrivalOrderAggs(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{First, Last, MaxBy, MinBy}
    def arrivalKey(c: Expression): Expression =
      CreateNamedStruct(Seq(
        Literal("ts"), UnresolvedAttribute("ts"), Literal("v"), c))
    e.transform {
      case First(c, _) => MinBy(c, arrivalKey(c))
      case Last(c, _) => MaxBy(c, arrivalKey(c))
    }
  }

  /** Typed integer parse with a lower bound: LIMIT/OFFSET take >= 0,
    * window sizes >= 1 — a negative here would otherwise surface later as
    * an untyped Spark IllegalArgumentException (the leak class the typed
    * parse surface exists to eliminate).
    */
  private def intOf(s: String, what: String, min: Int = 0): Int = {
    val t = s.trim
    if (!t.matches("-?\\d+")) throw SqlError(s"$what: expected an integer, got '$t'")
    val v = try t.toInt catch { case _: NumberFormatException =>
      throw SqlError(s"$what: integer out of range: '$t'") }
    if (v < min) throw SqlError(s"$what: must be >= $min, got $v")
    v
  }

  private def doubleOf(s: String, what: String): Double = {
    val t = s.trim
    if (!t.matches("-?\\d+(\\.\\d+)?")) throw SqlError(
      s"$what: expected a number, got '$t'")
    t.toDouble
  }

  private def parseDurationUs(s: String): Long = {
    val m = """(?i)\s*(\d+)\s*(millisecond|second|minute|hour|day)s?\s*""".r
    s.trim match {
      case m(n, unit) =>
        val mult = unit.toLowerCase match {
          case "millisecond" => 1000L
          case "second" => 1000000L
          case "minute" => 60000000L
          case "hour" => 3600000000L
          case "day" => 86400000000L
        }
        n.toLong * mult
      case other => throw SqlError(s"bad duration '$other'")
    }
  }

  /** Split a select list on commas that are not inside parentheses/quotes. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inQ = false; var cur = new StringBuilder
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case '(' if !inQ => depth += 1; cur += '('
      case ')' if !inQ => depth -= 1; cur += ')'
      case ',' if !inQ && depth == 0 => out += cur.toString; cur = new StringBuilder
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // ---- compilation to DataFrames (batch; streaming DFs compile the same
  //      way for native windows — kernels in graft.streaming cover the rest)

  /** Run the app over bound inputs; returns every stream's DataFrame
    * (inputs + each INSERT INTO target, multiple inserts union'd).
    */
  def run(spark: SparkSession, appSql: String,
          inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    runTracked(spark, appSql, inputs)._1

  /** Like [[run]], also returning a cleanup thunk that unpersists every
    * intermediate the compiler cached (pattern event orderings). Call it
    * after the outputs are fully consumed.
    */
  def runTracked(spark: SparkSession, appSql: String,
                 inputs: Map[String, DataFrame]): (Map[String, DataFrame], () => Unit) = {
    graft.functions.RefFns.register(spark) // reference-spelled builtins
    graft.functions.GraftFns.register(spark) // LLM-ops scalar extensions
    // The reference's math executors are lenient: division by zero yields
    // NULL, never an error (divide.rs:82-87), and numeric conversion
    // truncates rather than raising. Spark 4 defaults to ANSI mode, which
    // turns x/0 into a runtime error — compile this app's expressions with
    // ANSI off so the plans bake in the reference's null-on-zero semantics
    // (eval mode is captured at analysis time, so restoring the flag after
    // compilation does not affect the returned frames).
    //
    // CONCURRENCY CONTRACT: both this ANSI toggle and the RefFns shadowing
    // scope mutate shared session state for the compile duration — GraftApp
    // compilation is single-threaded per SparkSession; run concurrent
    // compiles on separate sessions (spark.newSession()).
    graft.functions.RefFns.withShadowing(spark) {
      val ansiWas = spark.conf.getOption("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try runTracked0(spark, appSql, inputs)
      finally ansiWas match {
        case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
        case None => spark.conf.unset("spark.sql.ansi.enabled")
      }
    }
  }

  private def runTracked0(spark: SparkSession, appSql: String,
                 inputs: Map[String, DataFrame]): (Map[String, DataFrame], () => Unit) = {
    val spec = parse(appSql)
    withAppFns(spark, spec.fns) { runTracked1(spark, spec, inputs) }
  }

  private def runTracked1(spark: SparkSession, spec: AppSpec,
                 inputs: Map[String, DataFrame]): (Map[String, DataFrame], () => Unit) = {
    val persisted = scala.collection.mutable.Buffer.empty[DataFrame]
    var env: Map[String, DataFrame] = inputs
    // bounded cache tables (cache_table.rs:20-37 `max_size` +
    // `trim_if_needed` FIFO): a shadow frame per bounded table carries a
    // hidden insertion-sequence column; every statement that grows the
    // table trims it back to the newest max_size rows. The public env never
    // sees the sequence column.
    val bounded: Map[String, Int] = spec.streams.collect {
      case (n, sd) if sd.isTable && sd.options.contains("max_size") =>
        val sz = sd.options("max_size")
        if (!sz.matches("\\d+") || sz.toInt <= 0)
          throw SqlError(s"table '$n': max_size must be a positive integer, got '$sz'")
        n -> sz.toInt
    }
    val shadow = scala.collection.mutable.Map.empty[String, DataFrame]
    var insSeq = 0L
    // FIFO trim: keep the newest n rows — insertion sequence first, then
    // the data columns lexicographically (a deterministic tie-break inside
    // one statement's delta, where arrival order has no batch meaning).
    // orderBy+limit plans as TakeOrdered: a distributed top-n over at most
    // (n + delta) rows, never a global sort materialization.
    def trimFifo(sh: DataFrame, n: Int): DataFrame = {
      val ord = col("__ins").desc +:
        sh.columns.filterNot(_ == "__ins").toSeq.map(c => col(c).desc)
      sh.orderBy(ord: _*).limit(n)
    }
    // route a new delta for table t through its bounded shadow
    def boundedAppend(t: String, delta: DataFrame): DataFrame = {
      insSeq += 1
      val stamped = delta.withColumn("__ins", lit(insSeq))
      // seed from caller-bound initial table data (sequence 0) if present
      val base = shadow.get(t).orElse(env.get(t).map(_.withColumn("__ins", lit(0L))))
      val sh = base.map(_.unionByName(stamped)).getOrElse(stamped)
      val trimmed = trimFifo(sh, bounded(t))
      shadow(t) = trimmed
      trimmed.drop("__ins")
    }
    // validate bound inputs against declared schemas (names + arity)
    inputs.foreach { case (name, df) =>
      spec.streams.get(name).foreach { sd =>
        val declared = sd.schema.fieldNames.toSeq
        if (df.columns.toSeq != declared)
          throw SqlError(s"input '$name' columns ${df.columns.toSeq} != declared $declared")
      }
    }
    // statements run in declared order: a DML statement sees the table
    // state produced by everything before it, and later reads see the DML
    spec.stmts.foreach {
      case QueryStmt(q) =>
        // tables are passive state: joinable from a stream, never a query
        // source themselves (type_validation_test.rs test_1_7)
        if (spec.streams.get(q.source).exists(_.isTable))
          throw SqlError(s"direct query on table '${q.source}' — " +
            "tables are passive state; JOIN them from a stream")
        val src0 = env.getOrElse(q.source,
          throw SqlError(s"stream '${q.source}' has no bound data"))
        // STREAM-STREAM join (both sides unbounded): the batch bufferWindow
        // (final-state buffer contents) is not streaming-legal — lower to
        // the watermarked time-range join instead (see streamStreamJoin);
        // the source-side WINDOW clause then bounds the source's buffer
        // duration rather than materializing it.
        def optsOf(name: String): Map[String, String] =
          spec.streams.get(name).map(_.options).getOrElse(Map.empty)
        val hasStreamJoin = src0.isStreaming &&
          q.joins.exists(j => env.get(j.stream).exists(_.isStreaming))
        val src =
          if (hasStreamJoin) watermarkSide(src0, q.source, optsOf(q.source))
          else q.sourceWindow.map(bufferWindow(src0, _)).getOrElse(src0)
        // JOIN chain: every side aliased by its stream name so ON conditions
        // and select items can use Stream.col qualified references
        // (join_input_stream.rs's two-sided naming). Window-bounded sides
        // probe each other's buffer contents (window-then-join batch form);
        // a length-bounded side is ≤ n rows by construction — broadcast it.
        val joined = q.joins.zipWithIndex.foldLeft(src.as(q.sourceLabel)) {
          case (acc, (j0, ji)) =>
          val right0 = env.getOrElse(j0.stream,
            throw SqlError(s"stream '${j0.stream}' has no bound data"))
          // USING (cols) / NATURAL: resolve to the equality-ON conjunction
          // now that both sides' schemas are known — each column must bind
          // exactly one earlier side (ambiguity is a typed error, like the
          // ANSI forms). NATURAL takes ALL common columns — including `ts`
          // if both sides carry it, the standard (and documented) footgun.
          val j = if (j0.using.isEmpty && !j0.natural) j0 else {
            val leftSides: Seq[(String, Seq[String])] =
              (q.sourceLabel -> env.get(q.source).map(_.columns.toSeq).getOrElse(Nil)) +:
              q.joins.take(ji).map(p =>
                p.label -> env.get(p.stream).map(_.columns.toSeq).getOrElse(Nil))
            val rightCols = right0.columns.toSeq
            def leftFor(c: String): String = {
              val cands = leftSides.filter(_._2.exists(_.equalsIgnoreCase(c))).map(_._1)
              if (cands.isEmpty) throw SqlError(
                s"USING column '$c' not found on the left side of the join")
              if (cands.distinct.size > 1) throw SqlError(
                s"join column '$c' is ambiguous on the left side " +
                  s"(${cands.distinct.mkString(", ")}) — spell the condition with ON")
              cands.head
            }
            val cols =
              if (j0.natural) {
                val leftAll = leftSides.flatMap(_._2)
                val common = rightCols.filter(c => leftAll.exists(_.equalsIgnoreCase(c)))
                if (common.isEmpty) throw SqlError(
                  s"NATURAL JOIN with '${j0.stream}': the sides share no columns")
                common
              } else j0.using.map { c =>
                if (!rightCols.exists(_.equalsIgnoreCase(c)))
                  throw SqlError(s"USING column '$c' not found in '${j0.stream}'")
                c
              }
            j0.copy(cond = cols.map(c => s"${leftFor(c)}.$c = ${j0.label}.$c")
              .mkString(" AND "))
          }
          if (acc.isStreaming && right0.isStreaming)
            streamStreamJoin(acc, q, j, right0, optsOf(j.stream))
          else {
            val right1 = j.window.map(bufferWindow(right0, _)).getOrElse(right0)
            val right = if (j.window.exists(_.kind == "length")) broadcast(right1) else right1
            TypeGuard.check(acc.sparkSession, j.cond,
              StructType(acc.schema.fields ++ right.schema.fields),
              checkUndefined = false)
            acc.join(right.as(j.label), uexpr(j.cond), j.joinType)
          }
        }
        // IN (SELECT …) conjuncts: membership as semi/anti join. Tables are
        // legal here — reading passive state for a membership test is the
        // reference's `IN table` shape, not a query-on-table.
        val withIns = q.inSubqueries.foldLeft(joined) { (acc, sq) =>
          val sub0 = env.getOrElse(sq.source,
            throw SqlError(s"stream '${sq.source}' has no bound data"))
          val sub = sq.where.map(w => sub0.filter(uexpr(w))).getOrElse(sub0)
            .select(uexpr(sq.selectExpr).as("__in_val"))
          acc.join(sub, uexpr(sq.lhs) === col("__in_val"),
            if (sq.negated) "left_anti" else "left_semi")
        }
        // [NOT] EXISTS conjuncts: the subquery's WHERE (qualified refs —
        // `Sub.col = Outer.col`) IS the semi/anti join condition, so
        // correlation falls out of the aliasing; no condition = non-empty
        val withSubs = q.existsSubqueries.foldLeft(withIns) { (acc, sq) =>
          val sub0 = env.getOrElse(sq.source,
            throw SqlError(s"stream '${sq.source}' has no bound data"))
          acc.join(sub0.as(sq.source),
            sq.where.map(uexpr).getOrElse(lit(true)),
            if (sq.negated) "left_anti" else "left_semi")
        }
        val out = compileQuery(withSubs, q,
          spec.streams.get(q.source).map(_.options).getOrElse(Map.empty))
        env += q.target -> (if (bounded.contains(q.target)) boundedAppend(q.target, out)
          else env.get(q.target).map(_.unionByName(out)).getOrElse(out))
      case PatternStmt(p) =>
        // pattern steps fire on event arrival; a passive table never
        // "arrives" (type_validation_test.rs test_1_9)
        p.allAlts.map(_.stream).distinct
          .find(s => spec.streams.get(s).exists(_.isTable))
          .foreach(t => throw SqlError(
            s"table '$t' cannot appear as a pattern step — patterns match STREAM events"))
        val out = PatternCompiler.compile(spark, p, env, persisted += _)
        env += p.target -> (if (bounded.contains(p.target)) boundedAppend(p.target, out)
          else env.get(p.target).map(_.unionByName(out)).getOrElse(out))
      case DmlStmt(d) if bounded.contains(d.table) =>
        // DML against the SHADOW so kept rows retain their insertion order
        // (delete/update preserve __ins through the join; an upsert's new
        // rows are stamped with a fresh sequence), then trim
        insSeq += 1
        val shTable = shadow.getOrElse(d.table, env.getOrElse(d.table,
          throw SqlError(s"table '${d.table}' has no bound data"))
          .withColumn("__ins", lit(0L)))
        val next = execDml(env + (d.table -> shTable), d, stampSeq = Some(insSeq))
        val trimmed = trimFifo(next, bounded(d.table))
        shadow(d.table) = trimmed
        env += d.table -> trimmed.drop("__ins")
      case DmlStmt(d) =>
        env += d.table -> execDml(env, d)
      case AggQueryStmt(a) =>
        // CREATE AGGREGATION query: build the grain cascade over the source
        // (within pushed to the raw scan — partition/filter pruning at the
        // parquet level), read the PER grain in [from, to), project, order
        val ad = spec.aggs(a.agg)
        val src = env.getOrElse(ad.source,
          throw SqlError(s"stream '${ad.source}' has no bound data"))
        val cascade = graft.operators.Rollups.cascade(src, ad.tsCol, ad.keys,
          ad.valueCol, ad.grains, within = Some((a.from, a.to)))
        val base0 = graft.operators.Rollups.query(cascade, a.per, a.from, a.to)
        // SELECT-form definitions declared aliases (AVG(v) AS a) — expose
        // them alongside the cascade columns
        val base = ad.aliases.foldLeft(base0) { case (df, (al, cc)) =>
          df.withColumn(al, col(cc))
        }
        var out = base.selectExpr(a.selectItems.map { case (e, al) =>
          al.map(x => s"($e) AS $x").getOrElse(e)
        }: _*)
        if (a.orderBy.nonEmpty)
          out = out.orderBy(a.orderBy.map { o =>
            val (e, desc) = if (o.toUpperCase.endsWith(" DESC")) (o.dropRight(5), true)
              else if (o.toUpperCase.endsWith(" ASC")) (o.dropRight(4), false)
              else (o, false)
            if (desc) expr(e).desc else expr(e).asc
          }: _*)
        env += a.target -> env.get(a.target).map(_.unionByName(out)).getOrElse(out)
    }
    (env, () => persisted.foreach(_.unpersist()))
  }

  /** Execute one table-DML statement against the env (batch semantics; in a
    * streaming app these run per micro-batch inside foreachBatch — see
    * ConnectorSpec's upsert test). One equi-ish join each; the delta side is
    * usually the small one (broadcast at scale).
    */
  private def execDml(env: Map[String, DataFrame], d: DmlSpec,
                      stampSeq: Option[Long] = None): DataFrame = {
    val table = env.getOrElse(d.table, throw SqlError(s"table '${d.table}' has no bound data"))
    val src = env.getOrElse(d.source, throw SqlError(s"stream '${d.source}' has no bound data"))
    d.kind match {
      case "delete" =>
        // DELETE FROM t FROM s WHERE cond (delete_table_processor.rs)
        table.as(d.table).join(src.as(d.source), uexpr(d.cond), "left_anti")
      case "update" =>
        // UPDATE t SET c = expr … (update_table_processor.rs): matched rows
        // take the SET expressions, unmatched pass through. A non-keyed ON
        // condition matching SEVERAL delta rows per table row would silently
        // fan the table out — that raises at execution instead (reference
        // deltas are keyed); the guard rides on the SET columns so column
        // pruning cannot drop it.
        val tableR = table.withColumn("__rid", monotonically_increasing_id())
        val joined = tableR.as(d.table)
          .join(src.withColumn("__m", lit(1)).as(d.source), uexpr(d.cond), "left_outer")
        val wr = org.apache.spark.sql.expressions.Window.partitionBy(col("__rid"))
        val counted = joined.withColumn("__nm", sum(col("__m")).over(wr))
        val sets = d.setClauses.map { case (c, e) => c.split("\\.").last.toLowerCase -> e }.toMap
        val cols = table.columns.map { c =>
          sets.get(c.toLowerCase) match {
            case Some(e) =>
              when(col("__nm") > 1, raise_error(lit(
                s"UPDATE ${d.table}: multiple delta rows matched one table " +
                "row (non-keyed ON condition) — dedup the delta or key the " +
                "condition")).cast(table.schema(c).dataType))
                .when(col("__m").isNotNull, uexpr(e))
                .otherwise(col(s"${d.table}.$c")).as(c)
            case None => col(s"${d.table}.$c").as(c)
          }
        }
        counted.select(cols.toSeq: _*)
      case "upsert" =>
        // UPDATE OR INSERT INTO t SELECT … ON cond → TableOps.upsert keyed
        // by the table-side columns of the ON equalities
        val delta0 = src.as(d.source).select(d.selectItems.map {
          case (e, Some(a)) => uexpr(e).as(a)
          case (e, None) => uexpr(e)
        }: _*)
        // bounded-table path: new rows carry a fresh insertion sequence so
        // FIFO eviction can order them against the kept rows
        val delta =
          if (table.columns.contains("__ins"))
            delta0.withColumn("__ins", lit(stampSeq.getOrElse(0L)))
          else delta0
        val eqRe = """(?i)\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*""".r
        val keys = d.cond.split("(?i)\\bAND\\b").toSeq.map {
          case eqRe(q1, c1, q2, c2) =>
            if (q1.equalsIgnoreCase(d.table)) c1
            else if (q2.equalsIgnoreCase(d.table)) c2
            else throw SqlError(s"ON condition must reference ${d.table}: '$q1.$c1 = $q2.$c2'")
          case other => throw SqlError(
            s"UPDATE OR INSERT ON supports qualified equality conjunctions, got '$other'")
        }
        if (delta.columns.toSet != table.columns.toSet)
          throw SqlError(s"upsert delta columns ${delta.columns.toSeq} must match " +
            s"table ${d.table} columns ${table.columns.toSeq}")
        graft.operators.TableOps.upsert(table, delta, keys)
    }
  }

  private def compileQuery(src: DataFrame, q: QuerySpec,
                           streamOpts: Map[String, String] = Map.empty): DataFrame = {
    var df = src
    q.where.foreach { w =>
      TypeGuard.check(df.sparkSession, w, df.schema, checkUndefined = true)
      df = df.filter(uexpr(w))
    }
    // OUTPUT rate clause (output_rate.rs Events/Time/Snapshot variants):
    // batch result-level lowering on the post-WHERE event stream (the
    // reference rate-limits the query's OUTPUT stream; for the per-event
    // shapes supported here output events are 1:1 with these arrivals).
    //  - ALL = identity: batching is delivery cadence, unobservable in
    //    final results — the reference's own test asserts every row has
    //    arrived by shutdown (app_runner_output_rate.rs:51-64).
    //  - SNAPSHOT = identity: the final batch IS the last snapshot
    //    (snapshot re-emission cadence has no final-result footprint).
    //  - FIRST/LAST cut the per-key arrival order into n-event blocks /
    //    d-wide time buckets — exactly the oracle-checked q_rate_events /
    //    q_rate_limit forms (FIRST emits at block START so an open
    //    trailing block emits; LAST only on completed blocks, matching
    //    EventsOutputRate: 6 events EVERY 3 → FIRST {1,4}, LAST {3,6},
    //    compatibility/aggregations.rs:817-868).
    q.outputRate.filter(r => r.behavior == "first" || r.behavior == "last")
      .foreach { r =>
      val hasAgg = q.groupBy.nonEmpty ||
        q.selectItems.exists(it => hasAggCall(it._1))
      if (hasAgg) throw SqlError(
        "OUTPUT FIRST/LAST applies to per-event queries in the batch " +
          "surface — aggregated shapes re-emit state per arrival, which " +
          "the batch result model cannot observe (stream through " +
          "Windows.outputEveryN, or use ALL/SNAPSHOT)")
      if (df.isStreaming) throw SqlError(
        "OUTPUT FIRST/LAST EVERY … on a streaming source is the keyed-state " +
          "kernel's job (Windows.outputEveryN) — the rank lowering here is " +
          "batch-only")
      if (!df.columns.contains("ts")) throw SqlError(
        "OUTPUT FIRST/LAST EVERY … needs a 'ts' TIMESTAMP column for arrival order")
      if (q.partitionKeys.isEmpty)
        ScaleWarnings.warn(s"OUTPUT ${r.behavior.toUpperCase} EVERY … INTO " +
          s"'${q.target}' has no partition keys: the arrival ordering runs " +
          "as ONE task — wrap the query in PARTITION WITH (key OF stream) " +
          "to shard the rate limiter per key")
      val W = org.apache.spark.sql.expressions.Window
      // deterministic arrival order: ts, then every remaining column —
      // the same duplicate-ts tie rule the EXPIRED/ALL lowering uses
      val tieCols = col("ts") +: df.columns.filterNot(_ == "ts").map(col).toSeq
      if (r.kind == "events") {
        val base = W.partitionBy(q.partitionKeys.map(uexpr): _*)
        val rn = row_number().over(base.orderBy(tieCols.map(_.asc): _*))
        val want = if (r.behavior == "first") 1L else 0L
        df = df.withColumn("__rate_rn", rn.cast("long"))
          .filter(col("__rate_rn") % r.n === lit(want)).drop("__rate_rn")
      } else { // time buckets of width r.n micros over event time
        val keys = q.partitionKeys.map(uexpr) :+ expr(s"unix_micros(ts) div ${r.n}")
        val ord = if (r.behavior == "first") tieCols.map(_.asc)
          else tieCols.map(_.desc)
        df = df.withColumn("__rate_rn",
            row_number().over(W.partitionBy(keys: _*).orderBy(ord: _*)))
          .filter(col("__rate_rn") === 1).drop("__rate_rn")
      }
    }
    // Sketch aggregate spellings (round 13): kmv_distinct(col, k),
    // hist_quantile(col, q_pm[, scale]), heavy_hitters(col, k) — the SQL
    // face of the graft.operators.Sketches family, lowered to the
    // OPERATORS (bounded per-(partition,group) state, KB-sized exchange),
    // NOT to a collect_set-style expression that would hold a group's
    // distinct set in memory. One row per group; group coverage follows
    // GROUP BY parity via a distinct-key spine left-joined to each
    // sketch's result (quantiles drop all-NULL groups, KMV drops NULL
    // member keys — the spine restores the group row with a NULL measure).
    locally {
      val sketchRe =
        """(?i)^(kmv_distinct|hist_quantile|heavy_hitters)\s*\(\s*(\w+)\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)$""".r
      val sk = q.selectItems.flatMap { case (e, a) =>
        sketchRe.findFirstMatchIn(e.trim).map(m =>
          (m.group(1).toLowerCase, m.group(2), m.group(3).toInt,
            Option(m.group(4)).map(_.toInt), a.getOrElse(e.trim)))
      }
      if (sk.nonEmpty) {
        // shared (batch + streaming) validation: plain-column GROUP BY
        // keys, sketch param ranges, member-column existence
        q.groupBy.filterNot(_.matches("\\w+")).foreach(g =>
          throw SqlError(s"sketch aggregates need plain column GROUP BY " +
            s"keys, got '$g' — materialize the expression upstream"))
        sk.foreach { case (fn, c, p1, p2, _) =>
          if (!df.columns.exists(_.equalsIgnoreCase(c))) throw SqlError(
            s"$fn references unknown column '$c'")
          fn match {
            case "kmv_distinct" => if (p1 < 2) throw SqlError(
              s"kmv_distinct(col, k): k must be >= 2, got $p1")
            case "hist_quantile" =>
              if (p1 < 1 || p1 > 1000) throw SqlError(
                s"hist_quantile(col, q_pm): q_pm is per-mille in [1,1000], got $p1")
              if (p2.exists(_ < 1)) throw SqlError(
                s"hist_quantile(col, q_pm, scale): scale must be >= 1, got ${p2.get}")
            case _ => if (p1 < 1) throw SqlError(
              s"heavy_hitters(col, k): k must be >= 1, got $p1")
          }
        }
        if (df.isStreaming) {
          // streaming face (round 14; round 15 composable): windowed sketch
          // aggregates — plus plain count/sum/avg/min/max riding the same
          // state — over bounded flatMapGroupsWithState state (≤ k entries
          // per sketch per group×window, evicted when the watermark closes
          // the window); tumbling AND hopping windows
          return compileStreamingSketch(df, q, sk, streamOpts)
        }
        if (q.window.isDefined) throw SqlError(
          "sketch aggregates do not compose with WINDOW clauses in the " +
            "batch surface — drop the window or use the plain aggregate " +
            "family (on a STREAMING source, WINDOW('timeBatch', d) runs " +
            "the windowed sketch kernels)")
        // HAVING composes over the NON-sketch aggregates (round 14): it is
        // evaluated as one boolean aggregate in the normal-agg pass and
        // prunes the group spine. HAVING over a sketch value stays typed —
        // the sketch results are operator relations, not group aggregates.
        q.having.foreach { h =>
          sk.map(_._5).find(a =>
            ("(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\b").r
              .findFirstIn(h).isDefined).foreach(a => throw SqlError(
            s"HAVING references sketch aggregate '$a' — HAVING composes " +
              "with the plain aggregates only; filter sketch values " +
              "downstream (INSERT INTO a stream and SELECT ... WHERE)"))
        }
        val gKeys = q.groupBy
        // multi-key GROUP BY (round 14): the per-group operators take one
        // group column, so composite keys ride a single injective string —
        // to_json over the key struct (field names disambiguate NULLs) —
        // materialized identically on the sketch input and the spine, so
        // the join-back is exact and the OUTPUT keys keep their original
        // columns and types from the spine.
        val compositeKey: Option[Column] =
          if (gKeys.size <= 1) None
          else Some(to_json(struct(gKeys.map(col): _*)))
        val dfSk = compositeKey.map(k => df.withColumn("__gk", k)).getOrElse(df)
        // the operators' group column name: the single key itself, or the
        // composite string
        val gOpt: Option[String] =
          if (gKeys.isEmpty) None
          else if (gKeys.size == 1) Some(gKeys.head)
          else Some("__gk")
        import graft.operators.Sketches
        def sketchOf(fn: String, c: String, p1: Int, p2: Option[Int],
                     alias: String): DataFrame = (fn, gOpt) match {
          case ("kmv_distinct", Some(g)) =>
            Sketches.kmvDistinctBy(dfSk, g, c, p1)
              .select(col("key").as("__skk"), col("est_distinct").as(alias))
          case ("kmv_distinct", None) =>
            Sketches.kmvDistinct(df, c, p1).select(col("est_distinct").as(alias))
          case ("hist_quantile", _) =>
            throw new IllegalStateException("hist_quantile handled batched") // see histBatches
          case ("heavy_hitters", Some(g)) =>
            // per-group key LIST, count-desc then key (the operator's own
            // order), packed so the result is one row per group
            Sketches.heavyHittersBy(dfSk, g, c, p1)
              .groupBy(col("grp").as("__skk"))
              .agg(expr("transform(array_sort(collect_list(" +
                "named_struct('nc', -cnt, 'k', key))), x -> x.k)").as(alias))
          case ("heavy_hitters", None) =>
            Sketches.heavyHitters(df, c, p1)
              .agg(expr("transform(array_sort(collect_list(" +
                "named_struct('nc', -cnt, 'k', key))), x -> x.k)").as(alias))
        }
        // hist_quantile calls sharing (column, scale) — the p50/p95/p99
        // datacard shape — batch into ONE quantilesBy/quantiles pass (one
        // corpus-side bucket aggregation instead of one per quantile),
        // pivoted to per-alias columns in a single tiny aggregation
        val histGroups: Seq[DataFrame] = sk
          .filter(_._1 == "hist_quantile")
          .groupBy { case (_, c, _, p2, _) => (c, p2.getOrElse(100)) }
          .toSeq.map { case ((c, scale), items) =>
            val qs = items.map(_._3).distinct
            val aliasCols = items.map { case (_, _, qpm, _, alias) =>
              max(when(col("q_pm") === qpm, col("value"))).as(alias)
            }
            gOpt match {
              case Some(g) =>
                Sketches.quantilesBy(dfSk, g, c, qs, scale)
                  .groupBy(col("key").as("__skk"))
                  .agg(aliasCols.head, aliasCols.tail: _*)
              case None =>
                Sketches.quantiles(df, c, qs, scale)
                  .agg(aliasCols.head, aliasCols.tail: _*)
            }
          }
        val result = gOpt match {
          case Some(g) =>
            val keyNames = if (compositeKey.isDefined) gKeys else Seq(g)
            def isKeyRef(e: String) = keyNames.exists(_.equalsIgnoreCase(e.trim))
            // a non-trivial expression aliased to a group key (e.g.
            // `upper(etype) AS etype` with GROUP BY etype) would silently
            // resolve to the RAW spine key below — reject it instead
            q.selectItems.foreach { case (e, a) =>
              a.filter(al => keyNames.exists(_.equalsIgnoreCase(al))).foreach { al =>
                if (!e.trim.equalsIgnoreCase(al) &&
                    sketchRe.findFirstMatchIn(e.trim).isEmpty) throw SqlError(
                  s"select item '${e.trim}' is aliased to the GROUP BY key " +
                    s"'$al' — with sketch aggregates the key column passes " +
                    "through unchanged; alias the expression to a different " +
                    "name or transform the key upstream")
              }
            }
            // non-sketch aggregates ride the normal grouped pass; HAVING
            // evaluates there too (one boolean aggregate) and prunes the
            // spine's groups
            val normal = q.selectItems.filter { case (e, a) =>
              sketchRe.findFirstMatchIn(e.trim).isEmpty &&
                !isKeyRef(e) && !a.exists(al => keyNames.exists(_.equalsIgnoreCase(al)))
            }
            val skk0Expr = compositeKey.getOrElse(col(g).cast("string"))
            // group spine: every input group appears once, original types
            // (multi-key: all key columns plus the composite join string).
            // When plain aggregates or a HAVING ride the query, the normal
            // grouped aggregation IS a full group spine (groupBy emits
            // exactly the distinct key set) — computing it AS the spine
            // removes the former select-distinct corpus pass and its
            // join-back (round 17, guide §2.4: one corpus aggregation
            // instead of distinct + groupBy + broadcast join).
            val spine =
              if (normal.nonEmpty || q.having.isDefined) {
                val aggCols = normal.map { case (e, a) => uexpr(e).as(a.getOrElse(e)) } ++
                  q.having.map { h =>
                    // alias-aware: HAVING may name a normal select alias
                    val resolved = normal.foldLeft(h) { case (acc, (e, a)) =>
                      a.map(al => acc.replaceAll(
                        "(?i)\\b" + java.util.regex.Pattern.quote(al) + "\\b",
                        java.util.regex.Matcher.quoteReplacement(s"($e)"))).getOrElse(acc)
                    }
                    uexpr(resolved).cast("boolean").as("__having")
                  }
                // grouping by the RAW key columns: HAVING may reference a
                // GROUP BY key (`HAVING etype <> 'x'`) and grouping columns
                // are legal inside agg expressions (ADVICE r14); the join
                // string is derived from the keys post-agg (injective)
                df.groupBy(keyNames.map(col): _*)
                  .agg(aggCols.head, aggCols.tail: _*)
                  .withColumn("__skk0", skk0Expr)
              } else df.select(keyNames.map(col): _*).distinct()
                .withColumn("__skk0", skk0Expr)
            // each sketch result is ≤ |groups| rows — broadcast explicitly
            // rather than trusting size estimation over the operator plans
            var joined = sk.filter(_._1 != "hist_quantile")
              .foldLeft(spine) { case (acc, (fn, c, p1, p2, alias)) =>
                acc.join(broadcast(sketchOf(fn, c, p1, p2, alias)),
                  col("__skk0") <=> col("__skk"), "left").drop("__skk")
              }
            joined = histGroups.foldLeft(joined) { (acc, h) =>
              acc.join(broadcast(h), col("__skk0") <=> col("__skk"), "left")
                .drop("__skk")
            }
            if (q.having.isDefined)
              joined = joined.filter(col("__having")).drop("__having")
            val outCols = q.selectItems.map { case (e, a) =>
              if (isKeyRef(e)) {
                val kn = keyNames.find(_.equalsIgnoreCase(e.trim)).get
                col(kn).as(a.getOrElse(kn))
              } else col(sketchRe.findFirstMatchIn(e.trim)
                .map(_ => a.getOrElse(e.trim)).getOrElse(a.getOrElse(e)))
            }
            joined.select(outCols: _*)
          case None =>
            // GLOBAL form (round 15: plain aggregates COMPOSE — the
            // datacard one-liner `SELECT count(*), kmv_distinct(u, 64)
            // FROM t`): each sketch result and the single normal-agg
            // frame are 1-row relations, so the join-back is a chain of
            // 1×1 cross joins — no spine needed
            if (q.having.isDefined) throw SqlError(
              "HAVING needs a GROUP BY — the global sketch form emits one " +
                "row; filter it downstream")
            val normalG = q.selectItems.filter { case (e, _) =>
              sketchRe.findFirstMatchIn(e.trim).isEmpty }
            normalG.find { case (e, _) => !hasAggCall(e) }.foreach { case (e, _) =>
              throw SqlError(
                s"select item '${e.trim}' is not an aggregate — without " +
                  "GROUP BY every non-sketch item must aggregate (count/" +
                  "sum/avg/...)")
            }
            val normalDf =
              if (normalG.isEmpty) None
              else Some(df.agg(
                normalG.map { case (e, a) => uexpr(e).as(a.getOrElse(e)) }.head,
                normalG.map { case (e, a) => uexpr(e).as(a.getOrElse(e)) }.tail: _*))
            val outNames = q.selectItems.map { case (e, a) =>
              sketchRe.findFirstMatchIn(e.trim)
                .map(_ => a.getOrElse(e.trim)).getOrElse(a.getOrElse(e))
            }
            (sk.filter(_._1 != "hist_quantile")
              .map { case (fn, c, p1, p2, alias) => sketchOf(fn, c, p1, p2, alias) }
              ++ histGroups ++ normalDf)
              .reduce(_.crossJoin(_))
              // declared select order (the hist batch may have reordered)
              .select(outNames.map(col): _*)
        }
        return finishOrderLimit(if (q.distinct) result.dropDuplicates() else result, q)
      }
    }
    // STREAMING kernel windows: per-event window kinds over an unbounded
    // input lower to the graft.streaming keyed-state kernels — the batch
    // frame/rank rewrites below are not streaming-legal. Time-horizon kinds
    // run the EventTimeTimeout form unconditionally (timer-accurate expiry,
    // the reference's timer wheel); count-shaped kinds take an idle TTL from
    // the source stream's WITH ('idle.ttl'='…') so quiet keys shed state
    // through the changelog.
    if (df.isStreaming && q.window.exists(w => StreamKernelKinds(w.kind)))
      return compileStreamingKernel(df, q, streamOpts)
    // INSERT EXPIRED/ALL EVENTS (window_definition.rs OutputEventType):
    // batch result-level form for count windows — an event EXPIRED iff it
    // is not among the last n arrivals of its partition key. EXPIRED emits
    // only evicted events; ALL emits every arrival plus its expiration.
    if (q.outputEvents != "current") {
      val w0 = q.window.getOrElse(throw SqlError(
        s"${q.outputEvents.toUpperCase} EVENTS needs a window"))
      if (w0.kind != "length") throw SqlError(
        s"${q.outputEvents.toUpperCase} EVENTS is supported for WINDOW('length') " +
        "in the batch surface (streaming kernels emit the ±1 changelog)")
      if (q.selectItems.exists(it => hasAggCall(it._1)))
        throw SqlError("EXPIRED/ALL EVENTS emits event rows; aggregates are not applicable")
      if (!df.columns.contains("ts"))
        throw SqlError("EXPIRED/ALL EVENTS needs a 'ts' TIMESTAMP column for event order")
      val n = intOf(w0.params.last, "window('length')", min = 1)
      if (q.partitionKeys.isEmpty)
        ScaleWarnings.warn(s"${q.outputEvents.toUpperCase} EVENTS over " +
          "window('length') has no partition keys: the global event ordering " +
          "runs as ONE task — wrap the query in PARTITION WITH (key OF " +
          "stream) to shard eviction per key")
      // the ±1 changelog marker is part of the EXPIRED/ALL surface in BOTH
      // lowerings (the streaming kernel emits it as WinOut.op) — same
      // reserved-name contract as the streaming path
      if (df.columns.exists(_.equalsIgnoreCase("op")))
        throw SqlError(s"${q.outputEvents.toUpperCase} EVENTS reserves the " +
          "output column name 'op' for the ±1 changelog marker; rename the " +
          "stream's 'op' attribute")
      val ordCols = (col("ts") +: df.columns.filterNot(_ == "ts").map(col).toSeq).map(_.desc)
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy(q.partitionKeys.map(expr): _*).orderBy(ordCols: _*)
      val evicted = df.withColumn("__rne", row_number().over(w1))
        .filter(col("__rne") > n).drop("__rne")
        .withColumn("op", lit(-1))
      df = if (q.outputEvents == "expired") evicted
        else df.withColumn("op", lit(1)).unionByName(evicted)
    }
    // per-event windows (length/time): aggregates become frame window
    // functions emitting one row per event — the reference's per-arrival
    // window-state output (window/mod.rs:63-644). Handled before the
    // grouped path since there is no GROUP BY here.
    q.window.filter(w => Set("length", "time", "externaltime").contains(w.kind)).foreach { w =>
      // externalTime (window/mod.rs:196-644 external variant): time over a
      // DECLARED attribute — `WINDOW('externalTime', tsAttr, dur)`. The
      // attribute is the reference's LONG epoch-millis convention (or a
      // TIMESTAMP column); the ordering/range timeline is that attribute,
      // not the stream's own ts.
      val (ordExpr, unitDiv) = w.kind match {
        case "externaltime" =>
          if (w.params.size < 2) throw SqlError(
            "window('externalTime') needs (tsAttr, duration)")
          val attr = w.params.head.trim
          val f = df.schema.fields.find(_.name.equalsIgnoreCase(attr)).getOrElse(
            throw SqlError(s"window('externalTime'): '$attr' is not a stream attribute"))
          f.dataType match {
            case org.apache.spark.sql.types.TimestampType => (s"unix_micros($attr)", 1L)
            case org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.IntegerType => (attr, 1000L) // epoch millis
            case other => throw SqlError(
              s"window('externalTime'): '$attr' must be LONG millis or TIMESTAMP, got $other")
          }
        case _ =>
          if (!df.columns.contains("ts"))
            throw SqlError(s"window('${w.kind}') needs a 'ts' TIMESTAMP column for event order")
          ("unix_micros(ts)", 1L)
      }
      val frame = w.kind match {
        case "length" =>
          val n = intOf(w.params.last, "window('length')", min = 1)
          s"ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW"
        case _ =>
          val units = parseDurationUs(w.params.last) / unitDiv
          s"RANGE BETWEEN $units PRECEDING AND CURRENT ROW"
      }
      // PARTITION WITH shards the frame per key — per-key window state
      // isolation (§2.9, value_partition_type.rs); without it the frame is
      // one global ordering (inherently serial, like the reference's
      // single-threaded junction)
      if (q.partitionKeys.isEmpty)
        ScaleWarnings.warn(s"per-event window('${w.kind}') INTO '${q.target}' " +
          "has no partition keys: the global event ordering runs as ONE task " +
          "regardless of cluster size — wrap the query in PARTITION WITH " +
          "(key OF stream) to shard the frame per key")
      val over =
        if (q.partitionKeys.nonEmpty)
          s"OVER (PARTITION BY ${q.partitionKeys.mkString(", ")} ORDER BY $ordExpr $frame)"
        else s"OVER (ORDER BY $ordExpr $frame)"
      val items = q.selectItems.map { case (e, a) =>
        // aggregate items become frame-windowed; plain columns pass through
        val isAgg = "(?i)^(sum|avg|count|min|max|stddev|stddev_pop|first|last)\\s*\\(".r
          .findFirstIn(e.trim).isDefined
        (if (isAgg) s"${e.trim} $over" else e, a)
      }
      val cols = items.map {
        case (e, Some(a)) => uexpr(e).as(a)
        case (e, None) => uexpr(e)
      }
      // ORDER BY / OFFSET / LIMIT apply to per-event frame output too —
      // and SELECT DISTINCT dedups the frame output like any projection
      // (silently ignoring it here would be the wrong-results class the
      // FROM-junk guard exists to kill)
      val frameOut = df.select(cols: _*)
      return finishOrderLimit(
        if (q.distinct) frameOut.dropDuplicates() else frameOut, q)
    }
    q.window.foreach { w => df = applyWindow(df, w, q.partitionKeys) }
    // session windows with inline partition keys + aggregates and no GROUP
    // BY group implicitly per (keys, session)
    val groupByEff = q.window match {
      case Some(w) if w.kind == "session" && q.groupBy.isEmpty &&
          q.selectItems.exists(it => hasAggCall(it._1)) =>
        val keys = sessionParams(w)._3
        if (keys.nonEmpty) keys :+ "window" else q.groupBy
      case _ => q.groupBy
    }
    var having = q.having
    df =
      if (groupByEff.nonEmpty) {
        val groupSet = groupByEff.map(_.trim.toLowerCase).toSet
        // a group key may name a select item's ALIAS (`SELECT L.cat AS cat
        // … GROUP BY cat`, app_runner_joins.rs join_with_group_by): the key
        // then means that item's expression — grouping by an aggregate's
        // alias is circular and typed
        val aliasExpr: Map[String, String] = q.selectItems.collect {
          case (e, Some(a)) if e.trim.toLowerCase != a.trim.toLowerCase =>
            a.trim.toLowerCase -> e.trim
        }.toMap
        aliasExpr.foreach { case (a, e) =>
          if (groupSet.contains(a) && hasAggCall(e))
            throw SqlError(s"GROUP BY '$a' references an aggregate select alias")
        }
        val (_, aggItems) = q.selectItems.partition {
          case (e, a) => groupSet.contains(e.trim.toLowerCase) ||
            a.exists(x => groupSet.contains(x.trim.toLowerCase))
        }
        // expression group keys (year(ts), window, …) are materialized as
        // columns first, so they can be re-referenced after aggregation
        var pre = df
        val keyCol: Map[String, String] = groupByEff.map(_.trim).zipWithIndex.map {
          case (k, i) =>
            val kl = k.toLowerCase
            if (aliasExpr.contains(kl)) {
              val n = s"__gk$i"
              pre = pre.withColumn(n, uexpr(aliasExpr(kl)))
              kl -> n
            } else if (k.matches("\\w+")) kl -> k
            else {
              val n = s"__gk$i"
              pre = pre.withColumn(n, uexpr(k))
              kl -> n
            }
        }.toMap
        val keyCols = groupByEff.map(k => col(keyCol(k.trim.toLowerCase)))
        if (aggItems.isEmpty) {
          pre.select(keyCols: _*).distinct()
        } else {
          // aggregates aliased up front; grouping columns are retained by
          // Spark and re-projected below in declared select order
          val aggCols = aggItems.map { case (e, a) => uexpr(e).as(a.getOrElse(e)) }
          // HAVING: expression-level resolve against the aggregated plan
          // (per-group post-filter semantics, select_processor.rs:330) —
          // aggregate calls matching a select item map to its alias;
          // aggregates NOT in the select list become hidden agg columns
          val (havingCol, hiddenAggs) = having match {
            case Some(h) => resolveHaving(pre.sparkSession, h, aggItems)
            case None => (None, Nil)
          }
          having = None // consumed here; don't re-filter after the select
          val allAggs = aggCols ++ hiddenAggs
          var grouped = pre.groupBy(keyCols: _*).agg(allAggs.head, allAggs.tail: _*)
          havingCol.foreach(c => grouped = grouped.filter(c))
          val finalCols = q.selectItems.map { case (e, a) =>
            keyCol.get(e.trim.toLowerCase)
              .orElse(a.flatMap(x => keyCol.get(x.trim.toLowerCase))) match {
              case Some(n) => col(n).as(a.getOrElse(if (n.startsWith("__gk")) "gk" else e))
              case None => col(a.getOrElse(e))
            }
          }
          grouped.select(finalCols: _*)
        }
      } else {
        // bare-identifier select items must exist in the input — typed,
        // like the reference's parse-time attribute validation
        // (type_validation_e2e_test.rs test_1_3 rejects `SELECT symbol1`);
        // complex expressions stay Catalyst's to resolve
        q.selectItems.foreach { case (e, _) =>
          val t = e.trim
          if (t.matches("[A-Za-z_][A-Za-z_0-9]*") &&
              !Set("null", "true", "false", "current_timestamp",
                "current_date").contains(t.toLowerCase) &&
              !df.columns.exists(_.equalsIgnoreCase(t)))
            throw SqlError(s"unknown attribute '$t' in SELECT — the input " +
              s"provides: ${df.columns.mkString(", ")}")
        }
        df.select(q.selectItems.map {
          case ("*", _) => col("*")
          case (e, Some(a)) => uexpr(e).as(a)
          case (e, None) => uexpr(e)
        }: _*)
      }
    having.foreach { h =>
      TypeGuard.check(df.sparkSession, h, df.schema, checkUndefined = false)
      df = df.filter(uexpr(h))
    }
    // SELECT DISTINCT dedups the projected rows (then ORDER BY/LIMIT) —
    // one exact-dedup shuffle on the full select list
    if (q.distinct) df = df.dropDuplicates()
    finishOrderLimit(df, q)
  }

  private def finishOrderLimit(df0: DataFrame, q: QuerySpec): DataFrame = {
    var df = df0
    if (q.orderBy.nonEmpty)
      df = df.orderBy(q.orderBy.map { o =>
        val (e, desc) = if (o.toUpperCase.endsWith(" DESC")) (o.dropRight(5), true)
          else if (o.toUpperCase.endsWith(" ASC")) (o.dropRight(4), false)
          else (o, false)
        if (desc) uexpr(e).desc else uexpr(e).asc
      }: _*)
    // OFFSET before LIMIT (select_processor.rs:396-419 applies skip-then-take)
    q.offset.foreach(n => df = df.offset(n))
    q.limit.foreach(n => df = df.limit(n))
    df
  }

  private val AggFnNames = Set(
    "sum", "avg", "mean", "count", "min", "max", "stddev", "stddev_pop",
    "stddev_samp", "variance", "var_pop", "var_samp", "first", "last",
    "median", "min_by", "max_by", "approx_count_distinct", "collect_list")

  /** Resolve a HAVING expression against the aggregated plan: parse it,
    * replace every aggregate-call subtree that structurally matches a select
    * aggregate (case/whitespace-insensitive) with that item's output alias,
    * and turn unmatched aggregate calls into hidden agg columns evaluated
    * alongside the select aggregates. Returns (filter, hidden agg columns).
    * Anything else (unknown columns, malformed exprs) surfaces as Spark's
    * own typed AnalysisException at resolution.
    */
  private def resolveHaving(spark: SparkSession, h: String,
      aggItems: Seq[(String, Option[String])]): (Option[Column], Seq[Column]) = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.graftbridge.Bridge
    val parser = spark.sessionState.sqlParser
    def normalize(e: Expression): Expression = e.transform {
      case f: UnresolvedFunction => f.copy(nameParts = f.nameParts.map(_.toLowerCase))
      case a: UnresolvedAttribute => UnresolvedAttribute(a.nameParts.map(_.toLowerCase))
    }
    val selectAggs: Seq[(Expression, String)] = aggItems.map { case (e, a) =>
      (normalize(parser.parseExpression(e)), a.getOrElse(e))
    }
    val hidden = Seq.newBuilder[Column]
    var hiddenN = 0
    val rewritten = parser.parseExpression(h).transform {
      case f: UnresolvedFunction if AggFnNames.contains(f.nameParts.last.toLowerCase) =>
        selectAggs.find(_._1 == normalize(f)) match {
          case Some((_, alias)) => UnresolvedAttribute.quoted(alias)
          case None =>
            val name = s"__having_$hiddenN"; hiddenN += 1
            hidden += Bridge.column(f).as(name)
            UnresolvedAttribute.quoted(name)
        }
    }
    (Some(Bridge.column(rewritten)), hidden.result())
  }

  /** Window kinds that lower to graft.streaming kernels when the input is
    * unbounded (the batch rewrites for these are frame/rank plans Spark
    * cannot run incrementally).
    */
  private val StreamKernelKinds = Set("length", "lengthbatch", "time",
    "externaltime", "delay", "sort", "unique", "firstunique", "frequent",
    "lossycounting")

  /** Streaming sketch aggregates (round 14; COMPOSABLE round 15): any mix
    * of `kmv_distinct(col, k)` / `heavy_hitters(col, k)` /
    * `hist_quantile(col, q_pm[, scale])` sketch aggregates AND plain
    * `count/sum/avg/min/max` aggregates over a TUMBLING or HOPPING
    * event-time window on a streaming source — the incremental-crawl
    * datacard (`SELECT source, kmv_distinct(url, 1024),
    * heavy_hitters(domain, 32), count(*) …`) as ONE stateful query.
    *
    * Lowers to ONE bounded flatMapGroupsWithState kernel
    * ([[graft.operators.Sketches.multiSketchStreamWindowed]]): total live
    * state = |open windows| × |groups| × (Σ sketch k + Σ histogram
    * distinct buckets + |plain aggs|), independent of stream length;
    * hopping multiplies |open windows| by ⌈size/slide⌉. Rows are removed
    * when the watermark passes the window end, at which point the
    * window's FINAL row emits (append mode — late events inside
    * `allow.lateness` still fold in). Output: `win_start TIMESTAMP`
    * first, then the declared select items; group keys ride the kernel
    * as a to_json composite and parse back to their original types.
    *
    * The exact round-14 single-sketch tumbling shapes keep lowering to
    * the round-14 single-section kernels so existing checkpoints stay
    * compatible (state schema unchanged); every composable shape is new
    * surface with no prior checkpoints.
    */
  private def compileStreamingSketch(df: DataFrame,
      q: QuerySpec, sk: Seq[(String, String, Int, Option[Int], String)],
      streamOpts: Map[String, String]): DataFrame = {
    val w = q.window.getOrElse(throw SqlError(
      "sketch aggregates on a STREAMING source need an event-time window — " +
        "add WINDOW('timeBatch', '<duration>') or WINDOW('sliding', size, " +
        "slide) (or stream into a table and query that in batch)"))
    val (sizeP, slideP): (String, String) = w.kind match {
      case "timebatch" | "tumbling" => (w.params.last, w.params.last)
      case "sliding" | "hop" => w.params match {
        case Seq(s, sl) => (s, sl)
        case Seq(t, s, sl) if t.trim.equalsIgnoreCase("ts") => (s, sl)
        case _ => throw SqlError(
          s"window('${w.kind}') needs (size, slide), got ${w.params}")
      }
      case other => throw SqlError(
        s"streaming sketch aggregates take WINDOW('timeBatch', d) or " +
          s"WINDOW('sliding', size, slide); window('$other') is not " +
          "supported — per-window finalization needs event-time buckets")
    }
    if (!df.columns.contains("ts")) throw SqlError(
      "streaming sketch aggregates need a 'ts' TIMESTAMP column (event time)")
    if (q.orderBy.nonEmpty || q.limit.isDefined || q.offset.isDefined)
      throw SqlError(
        "ORDER BY/LIMIT are undefined on the unbounded per-window stream " +
          "— apply them to a downstream batch read")
    val windowUs = parseDurationUs(sizeP)
    val slideUs = parseDurationUs(slideP)
    if (slideUs <= 0 || windowUs <= 0) throw SqlError(
      s"window size/slide must be positive durations, got ($sizeP, $slideP)")
    val keys = q.groupBy
    val keyFields = keys.map(k =>
      df.schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw SqlError(s"GROUP BY key '$k' not found in the stream schema")))
    if (keys.isEmpty)
      // the GLOBAL form is a single state key — state stays KB-bounded
      // (Σ sketch k + buckets), but every event shuffles to ONE task;
      // fine to ~10^5 events/s per window, after that add a coarse
      // GROUP BY (e.g. a source/shard column) and merge downstream with
      // the batch merge operators (kmvMerge/quantilesFromHist)
      ScaleWarnings.warn("GLOBAL streaming sketch (no GROUP BY) funnels " +
        "every event through one state key — at high rates add a coarse " +
        "GROUP BY shard and merge per-shard sketches downstream")
    val lateness = streamOpts.getOrElse("allow.lateness", "0 seconds")
    import graft.operators.Sketches

    // classify every select item: GROUP BY key | sketch aggregate | plain
    // aggregate (count/sum/avg/min/max). Anything else is typed. The
    // sketch regex is the caller's ANCHORED form — a loose prefix match
    // would classify `kmv_distinct(x, 16) * 2` as a sketch item and
    // index past the extracted sk list
    val skRe =
      """(?i)^(kmv_distinct|hist_quantile|heavy_hitters)\s*\(\s*(\w+)\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)$""".r
    val aggRe = """(?i)^(count|sum|avg|min|max)\s*\(\s*(\*|\w+)\s*\)$""".r
    sealed trait Item
    final case class KeyItem(kn: String, alias: Option[String]) extends Item
    final case class SketchItem(skIdx: Int) extends Item
    final case class AggItem(aggIdx: Int) extends Item
    var skSeen = 0
    val aggsB = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Boolean, String)] // fn, col, isIntegral, alias
    var aggSeen = 0
    def isIntegralType(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def isNumericType(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }
    val items: Seq[Item] = q.selectItems.map { case (e, a) =>
      val et = e.trim
      if (skRe.findFirstIn(et).isDefined) { skSeen += 1; SketchItem(skSeen - 1) }
      else keys.find(_.equalsIgnoreCase(et)) match {
        case Some(kn) => KeyItem(kn, a)
        case None => aggRe.findFirstMatchIn(et) match {
          case Some(m) =>
            val fn = m.group(1).toLowerCase
            val operand = m.group(2)
            if (operand == "*") {
              if (fn != "count") throw SqlError(
                s"$fn(*) is not defined — only count(*) takes '*'")
              aggsB += (("count", "*", false, a.getOrElse(et)))
            } else {
              val f = df.schema.fields.find(_.name.equalsIgnoreCase(operand))
                .getOrElse(throw SqlError(
                  s"$fn references unknown column '$operand'"))
              if (fn != "count" && !isNumericType(f.dataType)) throw SqlError(
                s"streaming $fn takes a numeric operand, got '${f.name}' " +
                  s"(${f.dataType.simpleString}) — aggregate non-numeric " +
                  "columns on the batch surface")
              // DECIMAL operands stay typed (ADVICE r15): the streaming
              // kernel's numeric lanes are long/double, so a decimal would
              // silently lose exactness past 2^53 while the batch surface
              // keeps Spark's exact decimal sum — make the tradeoff the
              // user's explicit choice, not a silent coercion
              if (fn != "count" &&
                  f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
                throw SqlError(
                  s"streaming $fn over DECIMAL '${f.name}' would run in the " +
                    "double lane and lose exactness past 2^53 — CAST(" +
                    s"${f.name} AS DOUBLE) to accept that explicitly, or " +
                    "aggregate on the batch surface (exact decimal arithmetic)")
              aggsB += ((fn, f.name, isIntegralType(f.dataType), a.getOrElse(et)))
            }
            aggSeen += 1; AggItem(aggSeen - 1)
          case None => throw SqlError(
            s"streaming sketch select items must be GROUP BY keys, sketch " +
              s"aggregates, or plain count/sum/avg/min/max aggregates — " +
              s"got '$et'")
        }
      }
    }
    val aggs = aggsB.toSeq

    // round-14 shapes keep the round-14 kernels (checkpoint compatibility)
    val tumbling = slideUs == windowUs &&
      (w.kind == "timebatch" || w.kind == "tumbling")
    if (sk.size == 1 && aggs.isEmpty && tumbling && q.having.isEmpty &&
        sk.head._1 != "hist_quantile") {
      val (fn, c, p1, _, alias) = sk.head
      val kdf = fn match {
        case "kmv_distinct" =>
          Sketches.kmvDistinctStreamWindowed(df, keys, c, p1, windowUs, lateness)
            .withColumnRenamed("estDistinct", "__sv")
        case _ =>
          Sketches.heavyHittersStreamWindowed(df, keys, c, p1, windowUs, lateness)
            .withColumnRenamed("hh", "__sv")
      }
      val withKeys =
        if (keys.isEmpty) kdf
        else kdf.withColumn("__gkp",
          from_json(col("gk"), org.apache.spark.sql.types.StructType(keyFields)))
      val outCols = timestamp_micros(col("winStartUs")).as("win_start") +:
        items.map {
          case SketchItem(_) => col("__sv").as(alias)
          case KeyItem(kn, a) => col(s"__gkp.$kn").as(a.getOrElse(kn))
          case AggItem(_) => throw new IllegalStateException("aggs empty here")
        }
      return withKeys.select(outCols: _*)
    }

    // composable path: ONE multi-section kernel. Build the per-section
    // spec lists in select-item order; hist items sharing (column, scale)
    // share one bucket map (the batch hist-batching shape).
    val kmvSpecs = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val mgSpecs = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val histKeys = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Int)] // col, scale, q_pm (per item)
    // per sketch item: (kind, index into its section, hist q index)
    val skSlots = sk.map { case (fn, c, p1, p2, _) =>
      val cn = df.columns.find(_.equalsIgnoreCase(c)).get
      fn match {
        case "kmv_distinct" => kmvSpecs += ((cn, p1)); ("kmv", kmvSpecs.size - 1, -1)
        case "heavy_hitters" => mgSpecs += ((cn, p1)); ("mg", mgSpecs.size - 1, -1)
        case "hist_quantile" =>
          histKeys += ((cn, p2.getOrElse(100), p1)); ("hist", histKeys.size - 1, -1)
      }
    }
    val histItems = histKeys.toSeq
    val histGroups: Seq[(String, Int, Seq[Int])] = histItems
      .map { case (c, s, _) => (c, s) }.distinct.map { case (c, s) =>
        (c, s, histItems.filter(h => h._1 == c && h._2 == s).map(_._3).distinct.sorted)
      }
    // per hist ITEM: (group index, q index inside the group)
    val histSlot: Seq[(Int, Int)] = histItems.map { case (c, s, qpm) =>
      val gi = histGroups.indexWhere(g => g._1 == c && g._2 == s)
      (gi, histGroups(gi)._3.indexOf(qpm))
    }
    val kdf = Sketches.multiSketchStreamWindowed(df, keys,
      kmvSpecs.toSeq, mgSpecs.toSeq, histGroups,
      aggs.map(a => (a._1, a._2, a._3)), windowUs, slideUs, lateness)
    val withKeys =
      if (keys.isEmpty) kdf
      else kdf.withColumn("__gkp",
        from_json(col("gk"), org.apache.spark.sql.types.StructType(keyFields)))
    var histSeen = -1
    val outCols = timestamp_micros(col("winStartUs")).as("win_start") +:
      items.map {
        case KeyItem(kn, a) => col(s"__gkp.$kn").as(a.getOrElse(kn))
        case SketchItem(i) =>
          val alias = sk(i)._5
          skSlots(i) match {
            case ("kmv", ki, _) =>
              val v = col("kmvEst").getItem(ki)
              when(v === -1L, lit(null).cast("long")).otherwise(v).as(alias)
            case ("mg", mi, _) => col("hh").getItem(mi).as(alias)
            case ("hist", hi, _) =>
              val (gi, qi) = histSlot(hi)
              val v = col("hq").getItem(gi).getItem(qi)
              when(isnan(v), lit(null).cast("double")).otherwise(v).as(alias)
          }
        case AggItem(j) =>
          val (fn, _, isIntegral, alias) = aggs(j)
          val nul = col("aggNull").getItem(j)
          fn match {
            case "count" => col("aggL").getItem(j).as(alias)
            case "avg" =>
              when(nul, lit(null).cast("double"))
                .otherwise(col("aggD").getItem(j)).as(alias)
            case _ if isIntegral =>
              when(nul, lit(null).cast("long"))
                .otherwise(col("aggL").getItem(j)).as(alias)
            case _ =>
              when(nul, lit(null).cast("double"))
                .otherwise(col("aggD").getItem(j)).as(alias)
          }
      }
    val result = withKeys.select(outCols: _*)
    // HAVING over plain aggregates / GROUP BY keys (round 15): the kernel
    // already computed every value, so HAVING is a post-kernel filter on
    // the emitted per-window rows. HAVING over a SKETCH value stays typed
    // (same discipline as the batch path).
    q.having match {
      case None => result
      case Some(h) =>
        // boundary-safe alias reference: identifiers use \b; non-identifier
        // aliases (an UNALIASED `count(*)` select item names its output
        // column "count(*)") match literally — \b after ')' never fires
        def refHit(a: String, text: String): Boolean =
          (if (a.matches("\\w+")) ("(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\b").r
           else ("(?i)" + java.util.regex.Pattern.quote(a)).r)
            .findFirstIn(text).isDefined
        sk.map(_._5).find(refHit(_, maskQuotes(h))).foreach(a => throw SqlError(
          s"HAVING references sketch aggregate '$a' — HAVING composes " +
            "with the plain aggregates only; filter sketch values " +
            "downstream (INSERT INTO a stream and SELECT ... WHERE)"))
        // raw aggregate spellings AND alias references resolve to the
        // kernel's output columns (the batch resolution in reverse: the
        // values are precomputed). Substitution goes through unique
        // placeholders first so one item's replacement can never be
        // re-matched by another pass, then the placeholders become
        // BACKTICKED column references — an unaliased item's output
        // column is literally named "count(*)" and must not re-parse as
        // an aggregate call.
        // every substitution runs OUTSIDE quoted spans (ADVICE r15): a
        // string literal like `HAVING k <> 'avg(value)'` must survive
        // untouched — matches locate on the quote-masked text, splice into
        // the original
        var resolved = h
        aggs.zipWithIndex.foreach { case ((fn, operand, _, alias), i) =>
          val op = if (operand == "*") "\\*"
            else java.util.regex.Pattern.quote(operand)
          resolved = rewriteOutsideQuotes(resolved,
            s"(?i)\\b$fn\\s*\\(\\s*$op\\s*\\)".r)(_ => s"__hv${i}__")
          if (alias.matches("\\w+"))
            resolved = rewriteOutsideQuotes(resolved,
              ("(?i)\\b" + java.util.regex.Pattern.quote(alias) + "\\b").r)(
              _ => s"__hv${i}__")
        }
        // anything aggregate-shaped left is NOT in the select list — the
        // kernel never computed it, so reject typed instead of letting
        // Spark fail on an aggregate inside filter()
        """(?i)\b(count|sum|avg|min|max|kmv_distinct|hist_quantile|heavy_hitters)\s*\("""
          .r.findFirstIn(maskQuotes(resolved))
          .foreach(f => throw SqlError(
            s"HAVING references aggregate '${f.trim}(' which is not in the " +
              "select list — streaming sketch HAVING filters the computed " +
              "per-window columns; add the aggregate as a select item"))
        aggs.zipWithIndex.foreach { case ((_, _, _, alias), i) =>
          resolved = rewriteOutsideQuotes(resolved, s"__hv${i}__".r)(
            _ => s"`$alias`")
        }
        result.filter(uexpr(resolved).cast("boolean"))
    }
  }

  /** STREAMING lowering for kernel-shaped windows: the source row rides
    * through the keyed-state kernel as string slots (svals — the same
    * carry-through mechanism as the CEP streaming lowering's CepEvent.svals)
    * and is restored, cast back to the declared types, on the emitted
    * changelog row; `op` (+1 Current / −1 Expired) is selectable. INSERT
    * [CURRENT|EXPIRED|ALL] EVENTS filters the changelog.
    *
    * State discipline (the reference's timer wheel, timers/timer_wheel.rs,
    * re-expressed as EventTimeTimeout):
    *  - time/externalTime/delay: ALWAYS the *WithTimeout kernel with the
    *    window duration as the horizon — when the watermark passes (newest
    *    arrival + d), retained events are provably expired/released and the
    *    key's state-store entry is removed.
    *  - count-shaped kinds (length/lengthBatch/sort/unique/firstUnique/
    *    frequent/lossyCounting): `WITH ('idle.ttl'='<duration>')` on the
    *    source stream opts into idle-key shedding (retract-then-remove);
    *    without it the NoTimeout kernel runs and a ScaleWarning flags the
    *    keys-ever-seen state growth.
    * `WITH ('allow.lateness'='<duration>')` sets the watermark delay
    * (disorder tolerance); default 0 = strict in-order contract.
    */
  private def compileStreamingKernel(df: DataFrame, q: QuerySpec,
      streamOpts: Map[String, String]): DataFrame = {
    import graft.streaming.{Windows, WinEvent, WinOut, WindowKernels}
    val w = q.window.get
    implicit val weEnc: org.apache.spark.sql.Encoder[WinEvent] =
      org.apache.spark.sql.Encoders.product[WinEvent]
    if (q.groupBy.nonEmpty ||
        q.selectItems.exists(it => hasAggCall(it._1)))
      throw SqlError(s"window('${w.kind}') on a STREAMING input emits the " +
        "per-event ±1 changelog; aggregate it downstream in update mode " +
        "(sum(x * op) per key) — GROUP BY/aggregates are not part of the " +
        "streaming kernel surface")
    if (q.orderBy.nonEmpty || q.limit.isDefined || q.offset.isDefined)
      throw SqlError("ORDER BY/LIMIT/OFFSET are undefined on an unbounded " +
        "changelog — apply them to a downstream batch read")
    val fields = df.schema.fields.toSeq
    def nonAtomic(t: DataType): Boolean = t match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType | NullType => true
      case _ => false
    }
    def fieldIdx(name: String, what: String): Int = {
      val i = fields.indexWhere(_.name.equalsIgnoreCase(name))
      if (i < 0) throw SqlError(s"$what: '$name' is not a stream attribute")
      i
    }
    // the changelog's op column is part of this surface's output contract —
    // a source attribute of the same name would collide ambiguously
    if (fields.exists(_.name.equalsIgnoreCase("op")))
      throw SqlError(s"window('${w.kind}') on a STREAMING input reserves " +
        "the output column name 'op' for the ±1 changelog marker; rename " +
        "the stream's 'op' attribute")
    // the event-time column driving the kernel's timeline and watermark
    val (tsName, tsExpr): (String, Column) = w.kind match {
      case "externaltime" =>
        if (w.params.size < 2) throw SqlError(
          "window('externalTime') needs (tsAttr, duration)")
        val f = fields(fieldIdx(w.params.head.trim, "window('externalTime')"))
        f.dataType match {
          case TimestampType => (f.name, unix_micros(col(f.name)))
          case LongType | IntegerType => (f.name, col(f.name).cast("long") * lit(1000L))
          case other => throw SqlError(s"window('externalTime'): '${f.name}' " +
            s"must be LONG millis or TIMESTAMP, got $other")
        }
      case _ =>
        if (!df.columns.contains("ts"))
          throw SqlError(s"window('${w.kind}') needs a 'ts' TIMESTAMP column " +
            "for event order")
        ("ts", unix_micros(col("ts")))
    }
    // a NULL event time has no place on the event-time timeline (the
    // mapper's 'log' default null-pads malformed lines) — drop such rows
    // here; they would otherwise kill the query at the non-nullable
    // WinEvent.tsUs encoder
    val dfTs = df.filter(col(tsName).isNotNull)
    // unique windows key by the unique attribute (per-key length(1)); the
    // PARTITION WITH keys compose in front
    val extraKey = w.kind match {
      case "unique" | "firstunique" =>
        val a = w.params.last.trim
        fieldIdx(a, s"window('${w.kind}')"); Seq(a)
      case _ => Nil
    }
    if (q.partitionKeys.isEmpty && extraKey.isEmpty)
      ScaleWarnings.warn(s"streaming window('${w.kind}') INTO '${q.target}' " +
        "has no partition keys: all window state lives under one key = one " +
        "task — wrap the query in PARTITION WITH (key OF stream) to shard " +
        "state per key")
    val keyParts = (q.partitionKeys ++ extraKey)
      .map(a => coalesce(uexpr(a).cast("string"), lit("\u0000")))
    val keyCol = if (keyParts.isEmpty) lit("app") else concat_ws("\u0001", keyParts: _*)
    // sort criteria: NUMERIC criteria become the kernel's double comparand
    // slots (value/vals; NULL → -Infinity reproduces Spark's default null
    // ordering — first under asc, last under desc); string/timestamp/date/
    // boolean criteria — whose string rendering orders correctly byte-wise —
    // compare via their carried string slot (SortKey.sslot), so a streaming
    // sort window now orders every atomic type the batch lowering does
    def isNumericCrit(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | _: DecimalType => true
      case _ => false
    }
    def isStringyCrit(t: DataType): Boolean = t match {
      case StringType | TimestampType | DateType | BooleanType => true
      case _ => false
    }
    def critType(a: String): DataType =
      fields(fieldIdx(a, "window('sort')")).dataType
    val sortCrits: Seq[(String, Boolean)] =
      if (w.kind == "sort") {
        val crits = parseSortCriteria(w, df.columns.toSeq)
        crits.foreach { case (a, _) =>
          val t = critType(a)
          if (!isNumericCrit(t) && !isStringyCrit(t))
            throw SqlError("window('sort') on a STREAMING input cannot " +
              s"order by criterion '$a' of type ${t.sql} — use a numeric, " +
              "string, timestamp, date or boolean attribute")
        }
        crits
      } else Nil
    val stringCrits: Seq[String] =
      sortCrits.collect { case (a, _) if isStringyCrit(critType(a)) => a }
    // frequent/lossyCounting attribute parameter, validated here so its
    // column joins the carried slots below
    val explicitAttr: Option[String] = w.kind match {
      case "frequent" if w.params.size > 1 => Some(w.params(1).trim)
      case "lossycounting" if w.params.size > 2 => Some(w.params(2).trim)
      case _ => None
    }
    explicitAttr.foreach(a => fieldIdx(a, s"window('${w.kind}')"))
    // slot projection (the CepEvent.svals discipline, Cep.scala:40-46): only
    // columns the query's output or the kernel itself references ride the
    // state store — a window over a wide documents stream selecting
    // (ts, user_id) must not drag the text column through RocksDB per
    // buffered event. `SELECT *` and the default whole-row frequent/
    // lossyCounting attribute carry everything (the row IS the value there).
    val needsWholeRow =
      (w.kind == "frequent" || w.kind == "lossycounting") && explicitAttr.isEmpty
    val selectAll = q.selectItems.exists(_._1.trim == "*")
    val idRe = "[A-Za-z_][A-Za-z_0-9]*".r
    val referenced: Set[String] =
      (q.selectItems.flatMap(it => idRe.findAllIn(it._1).map(_.toLowerCase)) ++
        q.having.toSeq.flatMap(h => idRe.findAllIn(h).map(_.toLowerCase)) ++
        explicitAttr.map(_.toLowerCase) ++
        stringCrits.map(_.toLowerCase)).toSet
    val carried: Seq[StructField] =
      if (selectAll || needsWholeRow) fields
      else fields.filter(f => referenced.contains(f.name.toLowerCase))
    // carried rows ride the kernel as STRING slots; a non-atomic CARRIED
    // column (array/struct/map/binary) does not round-trip through a string
    // cast — it would restore as NULL silently, the wrong-results class.
    // Un-referenced columns are simply not carried, so a binary blob column
    // on the stream is fine as long as the window query ignores it.
    carried.find(f => nonAtomic(f.dataType)).foreach { f =>
      throw SqlError(s"window('${w.kind}') on a STREAMING input carries " +
        s"referenced rows as string slots; column '${f.name}' has " +
        s"non-atomic type ${f.dataType.sql} which cannot ride them — " +
        "project it away or serialize it (to_json) before the window")
    }
    def carryIdx(name: String, what: String): Int = {
      val i = carried.indexWhere(_.name.equalsIgnoreCase(name))
      if (i < 0) throw SqlError(s"$what: '$name' is not a carried stream attribute")
      i
    }
    def critSlot(a: String): Column =
      coalesce(uexpr(a).cast("double"), lit(Double.NegativeInfinity))
    val numericCrits: Seq[String] =
      sortCrits.collect { case (a, _) if isNumericCrit(critType(a)) => a }
    // double slots number the numeric criteria in order (slot 0 = value,
    // k >= 1 = vals(k-1)); stringy criteria point at their carried slot
    var dslot = -1
    val sortKeys: Seq[WindowKernels.SortKey] = sortCrits.map { case (a, asc) =>
      if (isNumericCrit(critType(a))) {
        dslot += 1; WindowKernels.SortKey(dslot, asc)
      } else WindowKernels.SortKey(-1, asc, sslot = carryIdx(a, "window('sort')"))
    }
    val valueCol =
      if (numericCrits.nonEmpty) critSlot(numericCrits.head) else lit(0.0)
    val valsCol =
      if (numericCrits.size > 1)
        array(numericCrits.tail.map(critSlot): _*)
      else typedlit(Seq.empty[Double])
    val svalsCol =
      if (carried.isEmpty) typedlit(Seq.empty[String])
      else array(carried.map(f => col(f.name).cast("string")): _*)
    val evs = dfTs.select(
        keyCol.as("key"), tsExpr.as("tsUs"),
        // same-timestamp tie-break within a micro-batch (arrival ids are
        // not resolvable in streaming — slots carry the data)
        xxhash64(dfTs.columns.map(col).toIndexedSeq: _*).as("eventId"),
        valueCol.as("value"), valsCol.as("vals"), svalsCol.as("svals"))
      .as[WinEvent]
    val lateness = streamOpts.getOrElse("allow.lateness", "0 seconds")
    val idleTtlUs: Option[Long] = streamOpts.get("idle.ttl").map(parseDurationUs)
    def ttlOrWarn(run: Long => org.apache.spark.sql.Dataset[WinOut],
                  noTtl: => org.apache.spark.sql.Dataset[WinOut]) =
      idleTtlUs match {
        case Some(ttl) => run(ttl)
        case None =>
          ScaleWarnings.warn(s"streaming window('${w.kind}') INTO " +
            s"'${q.target}' has no idle TTL: a key that goes quiet keeps " +
            "its state forever (state grows with keys-ever-seen) — add " +
            "WITH ('idle.ttl'='<duration>') on the source stream to shed " +
            "idle keys through the changelog")
          noTtl
      }
    // default frequent/lossyCounting attribute = the whole row, rendered
    // from the string slots joined on the u0001 separator. NULL slots use a
    // dedicated u0000 sentinel so a NULL column cannot merge with a literal
    // 'null' string value; the grouping is over the STRING rendering (a 1.0
    // double and a '1.0' string merge here) where the batch lowering groups
    // the raw row struct — documented divergence of the slot carry-through.
    def defaultAttrOf(e: WinEvent): String = {
      val nul = 0.toChar.toString
      e.svals.map(s => if (s == null) nul else s).mkString(1.toChar.toString)
    }
    val out: org.apache.spark.sql.Dataset[WinOut] = w.kind match {
      case "length" =>
        val n = intOf(w.params.last, "window('length')", min = 1)
        ttlOrWarn(Windows.lengthWithTimeout(evs, n, _, lateness),
          Windows.length(evs, n))
      case "lengthbatch" =>
        val n = intOf(w.params.last, "window('lengthBatch')", min = 1)
        ttlOrWarn(Windows.lengthBatchWithTimeout(evs, n, _, lateness),
          Windows.lengthBatch(evs, n))
      case "time" | "externaltime" =>
        Windows.timeWithTimeout(evs, parseDurationUs(w.params.last), lateness)
      case "delay" =>
        val p = w.params.last.trim
        val us = if (p.matches("\\d+")) p.toLong * 1000L else parseDurationUs(p)
        Windows.delayWithTimeout(evs, us, lateness)
      case "sort" =>
        val n = intOf(w.params.head, "window('sort')", min = 1)
        ttlOrWarn(Windows.sortTopNMultiWithTimeout(evs, n, sortKeys, _, lateness),
          Windows.sortTopNMulti(evs, n, sortKeys))
      case "unique" =>
        ttlOrWarn(Windows.uniqueWithTimeout(evs, _, lateness), Windows.unique(evs))
      case "firstunique" =>
        ttlOrWarn(Windows.firstUniqueWithTimeout(evs, _, lateness),
          Windows.firstUnique(evs))
      case "frequent" =>
        val k = intOf(w.params.head, "window('frequent')", min = 1)
        val attrOf: WinEvent => String =
          if (w.params.size > 1) {
            val i = carryIdx(w.params(1).trim, "window('frequent')")
            e => String.valueOf(e.svals(i))
          } else defaultAttrOf
        ttlOrWarn(Windows.frequentWithTimeout(evs, k, _, lateness, attrOf),
          Windows.frequent(evs, k, attrOf))
      case "lossycounting" =>
        if (w.params.size < 2) throw SqlError(
          "window('lossyCounting') needs (support, error[, attr])")
        val support = doubleOf(w.params.head, "window('lossyCounting') support")
        val error = doubleOf(w.params(1), "window('lossyCounting') error")
        if (support <= 0 || support >= 1) throw SqlError(
          s"window('lossyCounting'): support must be in (0,1), got $support")
        if (error <= 0 || error >= support) throw SqlError(
          s"window('lossyCounting'): error must be in (0, support), got $error")
        val attrOf: WinEvent => String =
          if (w.params.size > 2) {
            val i = carryIdx(w.params(2).trim, "window('lossyCounting')")
            e => String.valueOf(e.svals(i))
          } else defaultAttrOf
        ttlOrWarn(Windows.lossyCountingWithTimeout(evs, support, error, _,
            lateness, attrOf),
          Windows.lossyCounting(evs, support, error, attrOf))
      case other => throw SqlError(s"window('$other') has no streaming lowering")
    }
    val changelog = q.outputEvents match {
      case "expired" => out.filter(col("op") === -1)
      case "all" => out
      case _ => out.filter(col("op") === 1)
    }
    // restore the CARRIED source columns from the slots, typed; op stays
    // selectable (un-carried columns were never referenced by the query)
    val restored = carried.zipWithIndex.map { case (f, i) =>
      expr(s"CAST(svals[${i}] AS ${f.dataType.sql})").as(f.name)
    } :+ col("op")
    val base = changelog.toDF().select(restored: _*)
    var res = base.select(q.selectItems.map {
      case ("*", _) => col("*")
      case (e, Some(a)) => uexpr(e).as(a)
      case (e, None) => uexpr(e)
    }: _*)
    // HAVING without GROUP BY is a post-select filter in the batch lowering
    // (select_processor.rs:330 semantics) — the streaming changelog applies
    // the same filter so the two surfaces cannot silently diverge.
    // Aggregate-bearing HAVING is rejected like aggregate select items: the
    // kernel emits per-event rows, aggregation belongs downstream.
    q.having.foreach { h =>
      if (hasAggCall(h))
        throw SqlError(s"HAVING with aggregates on window('${w.kind}') over " +
          "a STREAMING input: the kernel emits the per-event ±1 changelog — " +
          "aggregate it downstream in update mode (sum(x * op) per key)")
      TypeGuard.check(df.sparkSession, h, res.schema, checkUndefined = false)
      res = res.filter(uexpr(h))
    }
    if (q.distinct) {
      ScaleWarnings.warn(s"SELECT DISTINCT INTO '${q.target}' on a streaming " +
        "changelog keeps every distinct row in state forever — bound it " +
        "with a watermark-aware downstream dedup if the key space is open")
      res = res.dropDuplicates()
    }
    res
  }

  /** Parse `WINDOW('sort', n, attr [asc|desc], …)` criteria. Two accepted
    * spellings (sort_window_validation_test.rs): inline `attr [asc|desc]`
    * and the reference's separate quoted order param `attr, 'asc'|'desc'`.
    * Criteria must be real attributes — constants and order-string typos
    * are compile errors, not silent ASC.
    */
  private def parseSortCriteria(w: WindowClause, columns: Seq[String]): Seq[(String, Boolean)] = {
    val critBuf = scala.collection.mutable.Buffer.empty[(String, Boolean)]
    def dirOf(tok: String, raw: String): Boolean = tok.toLowerCase match {
      case "asc" => true
      case "desc" => false
      case _ => throw SqlError(
        s"window('sort'): order must be asc or desc, got '$raw'")
    }
    def isCol(a: String) = columns.exists(_.equalsIgnoreCase(a))
    w.params.tail.map(_.trim).filter(_.nonEmpty).foreach { p =>
      val parts = p.split("\\s+")
      val head = parts.head
      // a lone asc/desc param (the reference's `attr, 'desc'` spelling —
      // quotes are stripped at parse) orders the PREVIOUS criterion
      if (parts.length == 1 && !isCol(head) &&
          (head.equalsIgnoreCase("asc") || head.equalsIgnoreCase("desc"))) {
        if (critBuf.isEmpty) throw SqlError(
          s"window('sort'): order token '$head' before any sort attribute")
        critBuf.update(critBuf.length - 1, (critBuf.last._1, dirOf(head, head)))
      } else {
        if (parts.length > 2) throw SqlError(s"bad sort criterion '$p'")
        val asc = parts.length < 2 || dirOf(parts(1), parts(1))
        if (!isCol(head)) {
          // a letters-only non-column after a criterion is a mistyped
          // order word — say so (sort_window_validation_test.rs)
          if (critBuf.nonEmpty && head.matches("(?i)[a-z]+")) throw SqlError(
            s"window('sort'): order must be asc or desc, got '$head'")
          throw SqlError(s"window('sort'): '$head' is not a stream " +
            "attribute (constants cannot be sort criteria)")
        }
        critBuf += ((head, asc))
      }
    }
    if (critBuf.isEmpty)
      throw SqlError("window('sort') needs (n, attr [asc|desc], …)")
    critBuf.toSeq
  }

  /** Watermark a streaming join side on its 'ts' column, delay taken from
    * the stream's `WITH ('allow.lateness'='<duration>')` (default 0 =
    * strict in-order contract — same knob as the kernel/CEP lowerings).
    * Spark requires BOTH sides watermarked for an append-mode stream-stream
    * join; the watermark + time bound are what let it evict join state,
    * which the reference's unbounded per-side buffers never do
    * (SURVEY §7.4 risk 5).
    */
  private def watermarkSide(df: DataFrame, stream: String,
                            opts: Map[String, String]): DataFrame = {
    if (!df.columns.contains("ts"))
      throw SqlError(s"streaming join side '$stream' needs a 'ts' TIMESTAMP " +
        "column (the watermark/event-time timeline)")
    df.withWatermark("ts", opts.getOrElse("allow.lateness", "0 seconds"))
  }

  /** A streaming join side's buffer duration in microseconds: WINDOW('time',
    * d) → d; no window → 0 (the side holds only the arriving event); any
    * other kind is typed-rejected — count-shaped buffers have no watermark
    * bound, so Spark could never evict their join state.
    */
  private def streamWindowUs(w: Option[WindowClause], side: String): Long = w match {
    case None => 0L
    case Some(wc) if wc.kind == "time" => parseDurationUs(wc.params.last)
    case Some(wc) => throw SqlError("streaming stream-stream join: " +
      s"WINDOW('${wc.kind}') cannot bound side '$side' — only " +
      "WINDOW('time', d) is streaming-legal (a count-shaped buffer has no " +
      "event-time bound for state eviction); count-bounded joins run in " +
      "the batch surface")
  }

  /** STREAMING lowering of the windowed stream-stream join
    * (join_processor.rs:18-214): each arrival probes the OPPOSITE side's
    * window buffer — a left arrival matches right events at most dRight
    * older (right's buffer), a right arrival matches left events at most
    * dLeft older (left's buffer). The union of the two probe directions is
    * one symmetric time-range condition
    * `right.ts ∈ [left.ts − dRight, left.ts + dLeft]`, which with both
    * sides watermarked is exactly Spark's streaming interval join — state
    * bounded by watermark + range, sharded by the equi-keys Catalyst
    * extracts from the ON condition. An un-windowed side holds only the
    * arriving event (duration 0); at least one side must carry a time
    * window or no join state could ever be evicted. Inner/left/right/full
    * outer all lower directly (Spark supports outer interval joins; NULL
    * pads emit once the watermark proves no match can arrive).
    *
    * Result-level note: the BATCH form of a windowed join is the
    * final-buffer-contents snapshot (bufferWindow); the streaming form
    * emits every cross-arrival match over the run — the same batch/stream
    * duality as the window kernels' changelog surface.
    */
  private def streamStreamJoin(acc: DataFrame, q: QuerySpec, j: JoinClause,
                               right0: DataFrame,
                               rightOpts: Map[String, String]): DataFrame = {
    val dLeftUs = streamWindowUs(q.sourceWindow, q.source)
    val dRightUs = streamWindowUs(j.window, j.stream)
    if (dLeftUs + dRightUs == 0L)
      throw SqlError("streaming stream-stream join needs WINDOW('time', d) " +
        s"on at least one side of '${q.source}' JOIN '${j.stream}' — " +
        "without a time bound the join state is unbounded (the reference's " +
        "join buffers are window-bounded too, join_processor.rs:18-214)")
    val right = watermarkSide(right0, j.stream, rightOpts).as(j.label)
    TypeGuard.check(acc.sparkSession, j.cond,
      StructType(acc.schema.fields ++ right.schema.fields),
      checkUndefined = false)
    val lTs = col(s"${q.sourceLabel}.ts")
    val rTs = col(s"${j.label}.ts")
    val bound = rTs >= lTs - expr(s"INTERVAL $dRightUs MICROSECOND") &&
      rTs <= lTs + expr(s"INTERVAL $dLeftUs MICROSECOND")
    acc.join(right, uexpr(j.cond) && bound, j.joinType)
  }

  /** Join-side buffer window: the batch result-level CONTENTS of the side's
    * window buffer (join_processor.rs:18-214 — every arrival probes the
    * opposite side's windowed buffer; final-state form here, consistent with
    * the repo's other batch window semantics). `length` keeps the last n
    * arrivals (ts order, full-row tie-break — a total-order bounded buffer
    * is inherently one task, but its output is ≤ n rows and broadcasts);
    * `time` keeps events within d of the side's max event time (scalar max
    * broadcast, scan stays distributed); `unique`/`firstUnique` delegate to
    * the window lowering.
    */
  private def bufferWindow(df: DataFrame, w: WindowClause): DataFrame = w.kind match {
    case "length" =>
      val n = intOf(w.params.last, "window('length')", min = 1)
      if (!df.columns.contains("ts"))
        throw SqlError("join-side window('length') needs a 'ts' TIMESTAMP column")
      val ordCols = (col("ts") +: df.columns.filterNot(_ == "ts").map(col).toSeq).map(_.desc)
      // "last n arrivals" is a global top-n: orderBy().limit(n) plans
      // TakeOrderedAndProject — per-partition partial top-n, then one merge
      // of n rows. The previous row_number() over an unpartitioned Window
      // funneled the ENTIRE side through one task before filtering; at
      // fact-stream scale that single sort is the job's tail.
      df.orderBy(ordCols: _*).limit(n)
    case "time" =>
      val us = parseDurationUs(w.params.last)
      if (!df.columns.contains("ts"))
        throw SqlError("join-side window('time') needs a 'ts' TIMESTAMP column")
      df.crossJoin(broadcast(df.agg(max(col("ts")).as("__mx"))))
        .filter(col("ts") > col("__mx") - expr(s"INTERVAL $us MICROSECOND"))
        .drop("__mx")
    case "unique" | "firstunique" => applyWindow(df, w)
    case other => throw SqlError(
      s"window '$other' cannot bound a join side (use length/time/unique/firstUnique)")
  }

  /** WINDOW('type', params) lowering (converter.rs:642-726 mapping):
    * tumbling/timeBatch/externalTimeBatch → `window()`; sliding/hop →
    * `window(size, slide)`; session → `session_window`. Count/sort/time
    * per-event windows are the streaming kernels (graft.streaming.Windows)
    * — in this SQL surface they require an aggregating GROUP BY downstream,
    * which the batch equivalents express directly.
    */
  private def applyWindow(df: DataFrame, w: WindowClause,
                          partitionKeys: Seq[String] = Nil): DataFrame = w.kind match {
    // lengthBatch (tumbling count): bucket rows per partition key in event
    // order; only COMPLETE batches surface (the reference flushes on the
    // n-th event; the incomplete tail stays buffered). The bucket id is the
    // `window` column, groupable downstream.
    case "lengthbatch" =>
      val n = intOf(w.params.last, "window('lengthBatch')", min = 1)
      if (!df.columns.contains("ts"))
        throw SqlError("window('lengthBatch') needs a 'ts' TIMESTAMP column for event order")
      if (partitionKeys.isEmpty)
        ScaleWarnings.warn("window('lengthBatch') has no partition keys: the " +
          "global event ordering runs as ONE task — wrap the query in " +
          "PARTITION WITH (key OF stream) to shard batches per key")
      val partCols = partitionKeys.map(a => uexpr(a))
      val ordCols = col("ts") +: df.columns.filterNot(_ == "ts").map(col).toSeq
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy(partCols: _*).orderBy(ordCols: _*)
      val bucketed = df
        .withColumn("window", ((row_number().over(w1) - 1) / n).cast("long"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(partCols :+ col("window"): _*)
      bucketed.withColumn("__bsz", count(lit(1)).over(w2))
        .filter(col("__bsz") === n).drop("__bsz")
    case "tumbling" | "timebatch" | "externaltimebatch" =>
      val ts = if (w.params.size > 1) w.params.head.trim else "ts"
      val dur = w.params.last
      // the reference's external time attribute is LONG epoch millis
      // (event.rs timestamp convention) — lift it to TIMESTAMP for window()
      val tsCol = df.schema.fields.find(_.name.equalsIgnoreCase(ts)) match {
        case Some(f) if f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.IntegerType =>
          timestamp_millis(col(ts))
        case Some(_) => col(ts)
        case None => throw SqlError(s"window('${w.kind}'): '$ts' is not a stream attribute")
      }
      df.withColumn("window", window(tsCol, dur))
    // cron window (`WINDOW cron('<6-field cron>')`, app_runner_windows.rs
    // :235 cron_window test): the window flushes its buffer at each cron
    // firing — for FIXED-period crons the batch result-level form is a
    // tumbling bucket of that period aligned to the epoch grid the cron
    // fires on (cronPeriodMs resolves `*/n` second/minute forms). Calendar
    // crons (`0 0 1 * *`) have no constant period; their flush times are
    // trigger-driven, which the batch model cannot replay — typed error
    // pointing at the trigger surface (AppRuntime cron triggers).
    case "cron" =>
      val c = w.params.headOption.getOrElse(
        throw SqlError("window cron(…) needs a cron expression"))
      cronPeriodMs(c) match {
        case Some(ms) =>
          if (!df.columns.contains("ts"))
            throw SqlError("window cron(…) needs a 'ts' TIMESTAMP column")
          // phase-align the buckets to the cron grid: `0 30 * * * *` is
          // hourly AT :30, so buckets run [k·P+φ, (k+1)·P+φ)
          val phase = cronPhaseMs(c) % ms
          df.withColumn("window",
            window(col("ts"), s"$ms milliseconds", s"$ms milliseconds",
              s"$phase milliseconds"))
        case None => throw SqlError(
          s"window cron('$c') has no fixed period — calendar crons are " +
            "trigger-driven: CREATE TRIGGER t AT '<cron>' and join the tick " +
            "stream, or use the streaming runtime's cron window")
      }
    case "sliding" | "hop" =>
      val (ts, size, slide) = w.params match {
        case Seq(s, sl) => ("ts", s, sl)
        case Seq(t, s, sl) => (t, s, sl)
        case _ => throw SqlError(s"sliding window needs (size, slide), got ${w.params}")
      }
      df.withColumn("window", window(col(ts), size, slide))
    case "session" =>
      val (ts, gap, _) = sessionParams(w)
      df.withColumn("window", session_window(col(ts), gap))
    // unique / firstUnique (UniqueWindowTestCase / FirstUniqueWindowTestCase
    // — roadmap syntax in the reference): keep the latest / first event per
    // unique attribute. Ordered by ts, tie-broken by every remaining column
    // so the pick is deterministic for distinct rows.
    case "unique" | "firstunique" =>
      val key = w.params.last
      if (!df.columns.contains("ts"))
        throw SqlError(s"window('${w.kind}') needs a 'ts' TIMESTAMP column for event order")
      val ordCols = col("ts") +: df.columns.filterNot(c => c == "ts" || c.equalsIgnoreCase(key))
        .map(col).toSeq
      val ord = if (w.kind == "unique") ordCols.map(_.desc) else ordCols.map(_.asc)
      val win = org.apache.spark.sql.expressions.Window.partitionBy(col(key)).orderBy(ord: _*)
      df.withColumn("__rn", row_number().over(win)).filter(col("__rn") === 1).drop("__rn")
    // frequent window (FrequentWindowTestCase roadmap): batch result-level
    // form = EXACT top-k most frequent attribute values (count desc, value
    // asc tie-break), which the streaming Misra-Gries kernel
    // (Windows.frequent) approximates with O(k) state. Default attribute =
    // the whole row. TakeOrdered(k) + broadcast semi-join — no global sort.
    case "frequent" =>
      val k = intOf(w.params.head, "window('frequent')", min = 1)
      val attr = if (w.params.size > 1) col(w.params(1)) else struct(df.columns.map(col): _*)
      val topk = df.groupBy(attr.as("__fa")).agg(count(lit(1)).as("__cnt"))
        .orderBy(col("__cnt").desc, col("__fa")).limit(k)
      df.join(broadcast(topk.select(col("__fa"))), attr === col("__fa"), "left_semi")
    // lossyCounting window `WINDOW('lossyCounting', support, error[, attr])`
    // — the reference registers the name but its processor is a pass-through
    // stub (window/mod.rs:1654-1741); the batch result-level form is the
    // EXACT answer the sketch approximates: events whose attribute's
    // frequency is at least support × N. The streaming form
    // (Windows.lossyCounting) is real Manku-Motwani with a hard error
    // bound. Aggregate + two broadcasts — no wide shuffle.
    case "lossycounting" =>
      if (w.params.size < 2) throw SqlError(
        "window('lossyCounting') needs (support, error[, attr])")
      val support = doubleOf(w.params.head, "window('lossyCounting') support")
      val error = doubleOf(w.params(1), "window('lossyCounting') error")
      if (support <= 0 || support >= 1) throw SqlError(
        s"window('lossyCounting'): support must be in (0,1), got $support")
      if (error <= 0 || error >= support) throw SqlError(
        s"window('lossyCounting'): error must be in (0, support), got $error")
      val attr = if (w.params.size > 2) col(w.params(2)) else struct(df.columns.map(col): _*)
      val totals = df.agg(count(lit(1)).cast("double").as("__n"))
      val heavy = df.groupBy(attr.as("__fa")).agg(count(lit(1)).as("__cnt"))
        .crossJoin(broadcast(totals))
        .filter(col("__cnt") >= col("__n") * support)
        .select(col("__fa"))
      df.join(broadcast(heavy), attr === col("__fa"), "left_semi")
    // sort window (sort_window_processor.rs:25-45 — length + an
    // OrderByEventComparator list): retain the n best rows under the
    // lexicographic criteria chain `WINDOW('sort', n, attr [asc|desc], …)`,
    // ties broken by ts then every remaining column (deterministic pick);
    // per partition key when inside PARTITION WITH. Batch result-level form
    // of the streaming kernel Windows.sortTopNMulti.
    case "sort" =>
      val n = intOf(w.params.head, "window('sort')", min = 1)
      val crits = parseSortCriteria(w, df.columns.toSeq)
      if (!df.columns.contains("ts"))
        throw SqlError("window('sort') needs a 'ts' TIMESTAMP column for order tie-break")
      if (partitionKeys.isEmpty)
        ScaleWarnings.warn("window('sort') has no partition keys: the global " +
          "ranking runs as ONE task — wrap the query in PARTITION WITH " +
          "(key OF stream) to shard the sort per key")
      val critCols = crits.map { case (a, asc) =>
        if (asc) uexpr(a).asc else uexpr(a).desc }
      val used = crits.map(_._1.toLowerCase).toSet
      val tieCols = col("ts") +:
        df.columns.filterNot(c => c == "ts" || used(c.toLowerCase)).map(col).toSeq
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(partitionKeys.map(expr): _*)
        .orderBy(critCols ++ tieCols.map(_.asc): _*)
      df.withColumn("__rn", row_number().over(win)).filter(col("__rn") <= n).drop("__rn")
    // delay window (DelayWindowTestCase roadmap): events surface durUs of
    // event time later — batch result-level form shifts the event time; the
    // streaming buffer form is Windows.delay. Bare numeric param = millis.
    case "delay" =>
      val p = w.params.last.trim
      val us = if (p.matches("\\d+")) p.toLong * 1000L else parseDurationUs(p)
      if (!df.columns.contains("ts"))
        throw SqlError("window('delay') needs a 'ts' TIMESTAMP column")
      df.withColumn("ts", col("ts") + expr(s"INTERVAL $us MICROSECOND"))
    case other =>
      throw SqlError(s"window '$other' is a streaming kernel " +
        "(graft.streaming.Windows); in the batch SQL surface 'length'/'time' " +
        "lower to per-event frames, others need the Scala API")
  }
}
