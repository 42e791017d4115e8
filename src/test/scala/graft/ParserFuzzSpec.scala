package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.{GraftApp, PatternCompiler}

/** Robustness fuzz over the SQL front end: whatever garbage an app text
  * contains, the compiler must either parse it or fail with the TYPED
  * [[GraftApp.SqlError]] — never a MatchError / NullPointerException /
  * StringIndexOutOfBounds leaking compiler internals (the reference's
  * parser returns typed errors for malformed apps too; parser_tests.rs).
  */
class ParserFuzzSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }

  private val tokens: Gen[String] = Gen.oneOf(
    "CREATE", "STREAM", "TABLE", "INSERT", "INTO", "SELECT", "FROM",
    "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT", "OFFSET",
    "WINDOW", "PATTERN", "SEQUENCE", "EVERY", "NOT", "FOR", "WITHIN",
    "PARTITION", "WITH", "JOIN", "ON", "LEFT", "OUTPUT", "FIRST",
    "SNAPSHOT", "EVENTS", "ALLOW", "LATENESS", "TRIGGER", "AT",
    "UPDATE", "DELETE", "SET", "VALUES", "BEGIN", "END", "AS",
    "USING", "NATURAL",
    "(", ")", ",", ";", "->", "=", "<", ">", "*", "'abc'", "\"q\"",
    "123", "4.5", "-7", "x", "y1", "foo", "ts", "TIMESTAMP", "BIGINT",
    "DOUBLE", "STRING", "INT", "[", "]", "{", "}", "<3>", "e1", ".",
    "sum", "count", "avg", "length", "time", "'length'", "'5 seconds'",
    "", "  ", "\n")

  private val soup: Gen[String] = for {
    n <- Gen.choose(0, 60)
    ts <- Gen.listOfN(n, tokens)
  } yield ts.mkString(" ")

  /** Mutate a VALID app: truncate at a random point, or splice junk in —
    * near-miss inputs exercise deeper compiler stages than pure noise.
    */
  private val validApp =
    """CREATE STREAM In (ts TIMESTAMP, k STRING, v DOUBLE);
      |CREATE STREAM Out (k STRING, total DOUBLE);
      |INSERT INTO Out SELECT k, sum(v) AS total FROM In
      |WHERE v > 0 GROUP BY k HAVING sum(v) > 1 ORDER BY k LIMIT 5;""".stripMargin

  private val nearMiss: Gen[String] = for {
    cut <- Gen.choose(0, validApp.length)
    junk <- Gen.oneOf("", ")", "((", "SELECT", "WINDOW('sort')", "->", "'", ";;")
    mode <- Gen.oneOf(0, 1, 2)
  } yield mode match {
    case 0 => validApp.substring(0, cut)
    case 1 => validApp.substring(0, cut) + junk + validApp.substring(cut)
    case 2 => junk + validApp
  }

  /** Same near-miss treatment over the round-6 desugared surface: WITH
    * ctes, UNION branches, IN (SELECT …) membership. */
  private val validCteApp =
    """CREATE STREAM In (k STRING, v DOUBLE);
      |CREATE STREAM Aux (k STRING);
      |CREATE STREAM Out (k STRING, total DOUBLE);
      |WITH Hot AS (SELECT k, v FROM In WHERE v > 0),
      |     Named AS (SELECT k FROM Aux)
      |INSERT INTO Out SELECT k, sum(v) AS total FROM Hot
      |WHERE k IN (SELECT k FROM Named)
      |  AND EXISTS (SELECT k FROM Aux WHERE Aux.k = Hot.k) GROUP BY k
      |UNION ALL SELECT k, v FROM In WHERE v < -100;""".stripMargin

  private val cteNearMiss: Gen[String] = for {
    cut <- Gen.choose(0, validCteApp.length)
    junk <- Gen.oneOf("", ")", "((", "WITH", "AS (", "UNION", "UNION ALL",
      "IN (SELECT", "EXISTS (", "NOT EXISTS", "SELECT", "'", ",", ";;")
    mode <- Gen.oneOf(0, 1, 2)
  } yield mode match {
    case 0 => validCteApp.substring(0, cut)
    case 1 => validCteApp.substring(0, cut) + junk + validCteApp.substring(cut)
    case 2 => junk + validCteApp
  }

  /** Near-miss treatment over the round-10 MATCH_RECOGNIZE surface. */
  private val validMrApp =
    """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
      |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, n_b BIGINT);
      |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
      |  PARTITION BY user_id ORDER BY ts
      |  MEASURES A.v AS a_v, count(B.v) AS n_b
      |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
      |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin

  private val mrNearMiss: Gen[String] = for {
    cut <- Gen.choose(0, validMrApp.length)
    junk <- Gen.oneOf("", ")", "((", "MEASURES", "PATTERN (", "DEFINE",
      "AFTER MATCH", "SKIP PAST LAST ROW", "ALL ROWS PER MATCH", "PREV(",
      "|", "?", "{0,", "ORDER BY", "'", ",", ";;")
    mode <- Gen.oneOf(0, 1, 2)
  } yield mode match {
    case 0 => validMrApp.substring(0, cut)
    case 1 => validMrApp.substring(0, cut) + junk + validMrApp.substring(cut)
    case 2 => junk + validMrApp
  }

  private def typedOnly(app: String): Boolean =
    try { GraftApp.parse(app); true }
    catch {
      case _: GraftApp.SqlError => true
      case _: Throwable => false
    }

  test("random token soup: parse succeeds or raises the typed SqlError") {
    check(Prop.forAll(soup)(typedOnly _))
  }

  test("near-miss mutations of a valid app: typed errors only") {
    check(Prop.forAll(nearMiss)(typedOnly _))
  }

  test("near-miss mutations of a WITH/UNION/IN-subquery app: typed errors only") {
    check(Prop.forAll(cteNearMiss)(typedOnly _))
  }

  test("MATCH_RECOGNIZE near-misses: typed errors only (and the base parses)") {
    assert(typedOnly(validMrApp))
    GraftApp.parse(validMrApp) // the unmutated text must parse clean
    check(Prop.forAll(mrNearMiss)(typedOnly _))
  }

  /** Round-11 MR surface (ALL ROWS PER MATCH + PREV/NEXT + FIRST/LAST
    * offsets) gets the same near-miss treatment. */
  private val validMrRowsApp =
    """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
      |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING,
      |                   v DOUBLE, n_b BIGINT, pv DOUBLE, lp DOUBLE,
      |                   mr_match_number BIGINT, mr_classifier STRING);
      |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
      |  PARTITION BY user_id ORDER BY ts
      |  MEASURES count(B.v) AS n_b, PREV(A.v, 2) AS pv, LAST(B.v, 1) AS lp
      |  ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B+) WITHIN INTERVAL '1' HOUR
      |  DEFINE A AS A.kind = 'a',
      |         B AS B.kind = 'b' AND B.v > PREV(B.v));""".stripMargin

  private val mrRowsNearMiss: Gen[String] = for {
    cut <- Gen.choose(0, validMrRowsApp.length)
    junk <- Gen.oneOf("", ")", "ALL ROWS", "PER MATCH", "PREV(", "NEXT(",
      "PREV(v,", "LAST(", ", -1)", "EMIT", "EMIT ALL ROWS", "FIRST(B.v,",
      "OVER (", "mr_classifier", "'", ",", ";;")
    mode <- Gen.oneOf(0, 1, 2)
  } yield mode match {
    case 0 => validMrRowsApp.substring(0, cut)
    case 1 => validMrRowsApp.substring(0, cut) + junk + validMrRowsApp.substring(cut)
    case 2 => junk + validMrRowsApp
  }

  test("MATCH_RECOGNIZE ALL ROWS / navigation near-misses: typed errors only") {
    assert(typedOnly(validMrRowsApp))
    GraftApp.parse(validMrRowsApp)
    check(Prop.forAll(mrRowsNearMiss)(typedOnly _))
  }

  /** Round-12 MR surface (alternation + the omitted-AFTER-MATCH ANSI
    * default = SKIP PAST LAST ROW) gets the same near-miss treatment. */
  private val validMrSkipApp =
    """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
      |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, b_v DOUBLE, n_c BIGINT);
      |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
      |  PARTITION BY user_id ORDER BY ts
      |  MEASURES A.v AS a_v, B.v AS b_v, count(C.v) AS n_c
      |  ONE ROW PER MATCH
      |  PATTERN ((A | B) C+) WITHIN INTERVAL '1' HOUR
      |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c');""".stripMargin

  private val mrSkipNearMiss: Gen[String] = for {
    cut <- Gen.choose(0, validMrSkipApp.length)
    junk <- Gen.oneOf("", ")", "(A|", "|B)", "(A|A)", "(A|B)+", "((A|B))",
      "SKIP PAST", "LAST ROW", "AFTER MATCH SKIP TO FIRST A", "|", "(",
      "'", ",", ";;")
    mode <- Gen.oneOf(0, 1, 2)
  } yield mode match {
    case 0 => validMrSkipApp.substring(0, cut)
    case 1 => validMrSkipApp.substring(0, cut) + junk + validMrSkipApp.substring(cut)
    case 2 => junk + validMrSkipApp
  }

  test("MATCH_RECOGNIZE alternation / skip-past near-misses: typed errors only") {
    assert(typedOnly(validMrSkipApp))
    GraftApp.parse(validMrSkipApp) // omitted AFTER MATCH = the ANSI default, parses clean
    check(Prop.forAll(mrSkipNearMiss)(typedOnly _))
  }

  /** Round-12b MR surface (SUBSET, CLASSIFIER/MATCH_NUMBER, RUNNING/FINAL,
    * {- v -} exclusion, PERMUTE) gets the same near-miss treatment. */
  private val validMr12bApp =
    """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
      |CREATE STREAM Out (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE,
      |                   cls STRING, mn BIGINT, rc BIGINT, s_u DOUBLE,
      |                   mr_match_number BIGINT, mr_classifier STRING);
      |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
      |  PARTITION BY user_id ORDER BY ts
      |  MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn,
      |           RUNNING count(B.v) AS rc, FINAL sum(U.v) AS s_u
      |  ALL ROWS PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN ({- A -} B+ C) WITHIN INTERVAL '1' HOUR
      |  SUBSET U = (B, C)
      |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c');""".stripMargin

  private val validMrPermuteApp =
    """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
      |CREATE STREAM Out (user_id BIGINT, a_v DOUBLE, b_v DOUBLE);
      |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
      |  PARTITION BY user_id ORDER BY ts
      |  MEASURES A.v AS a_v, B.v AS b_v
      |  ONE ROW PER MATCH
      |  PATTERN (PERMUTE(A, B)) WITHIN INTERVAL '1' HOUR
      |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b');""".stripMargin

  private val mr12bNearMiss: Gen[String] = for {
    base <- Gen.oneOf(validMr12bApp, validMrPermuteApp)
    cut <- Gen.choose(0, base.length)
    junk <- Gen.oneOf("", "SUBSET", "SUBSET U = ()", "U = (B", "SUBSET U = (B, X)",
      "PERMUTE(", "PERMUTE(A)", "PERMUTE(A, A)", "PERMUTE(A, B)+", "{-", "-}",
      "{- A", "{- (A|B) -}", "RUNNING", "FINAL", "RUNNING LAST(B.v)",
      "CLASSIFIER(", "CLASSIFIER(A)", "MATCH_NUMBER()", "EXCLUDING", "(A|B)",
      "'", ",", ";;")
    mode <- Gen.oneOf(0, 1, 2)
  } yield mode match {
    case 0 => base.substring(0, cut)
    case 1 => base.substring(0, cut) + junk + base.substring(cut)
    case 2 => junk + base
  }

  test("MATCH_RECOGNIZE SUBSET / RUNNING / exclusion / PERMUTE near-misses: typed errors only") {
    assert(typedOnly(validMr12bApp) && typedOnly(validMrPermuteApp))
    GraftApp.parse(validMr12bApp)
    GraftApp.parse(validMrPermuteApp)
    check(Prop.forAll(mr12bNearMiss)(typedOnly _))
  }

  /** Round-13 MR surface (reluctant quantifiers `+?` / `{n,m}?`) gets the
    * same near-miss treatment: double markers, marker without quantifier,
    * marker on the wrong side, and reluctance under SKIP TO NEXT ROW must
    * all die typed.
    */
  private val validMrReluctantApp =
    """CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE);
      |CREATE STREAM Out (user_id BIGINT, n_b BIGINT, n_c BIGINT);
      |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
      |  PARTITION BY user_id ORDER BY ts
      |  MEASURES count(B.v) AS n_b, count(C.v) AS n_c
      |  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A B+? C{1,2}?) WITHIN INTERVAL '1' HOUR
      |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c');""".stripMargin

  private val mrReluctantNearMiss: Gen[String] = for {
    cut <- Gen.choose(0, validMrReluctantApp.length)
    junk <- Gen.oneOf("", "+??", "?+", "{1,2}??", "??", "B+?", "?{1,2}",
      "+? +?", "AFTER MATCH SKIP TO NEXT ROW", "(A|B)+?", "PERMUTE(A, B)+?",
      "(A B)", "(A B){1,9}", "(A B){2,1}", "(A B){", "){1,2}", "(A B){1,2}+",
      "(A A){1,2}", "((A B) C){1,2}", "(A B+){1,2}", "(A B)+?", "(A B)++",
      "(A A)+", "(A B+)+",
      "'", ",", ";;")
    mode <- Gen.oneOf(0, 1, 2)
  } yield mode match {
    case 0 => validMrReluctantApp.substring(0, cut)
    case 1 => validMrReluctantApp.substring(0, cut) + junk + validMrReluctantApp.substring(cut)
    case 2 => junk + validMrReluctantApp
  }

  test("MATCH_RECOGNIZE reluctant-quantifier near-misses: typed errors only") {
    assert(typedOnly(validMrReluctantApp))
    GraftApp.parse(validMrReluctantApp)
    check(Prop.forAll(mrReluctantNearMiss)(typedOnly _))
  }

  /** Round-14 grammar: quantified group members, one-level nesting,
    * STRUCT/MAP DDL — truncations, junk splices, and targeted malformed
    * shapes (deeper nesting, variable inner counts, dangling angles) must
    * die typed.
    */
  private val validGroupQuantApp =
    """CREATE STREAM E (ts TIMESTAMP, k BIGINT, kind STRING, v DOUBLE,
      |                 s STRUCT<a: BIGINT, b: STRING>, m MAP<STRING, DOUBLE>);
      |CREATE STREAM Out (k BIGINT, n_d BIGINT, n_u BIGINT);
      |INSERT INTO Out SELECT * FROM E MATCH_RECOGNIZE (
      |  PARTITION BY k ORDER BY ts
      |  MEASURES count(D.v) AS n_d, count(U.v) AS n_u
      |  ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A ((D U){2} C)+ Z) WITHIN INTERVAL '1' HOUR
      |  DEFINE A AS A.kind = 'a', D AS D.kind = 'd',
      |         U AS U.kind = 'u' AND U.v > D.v,
      |         C AS C.kind = 'c', Z AS Z.kind = 'z'
      |);""".stripMargin

  private val groupQuantNearMiss: Gen[String] = for {
    cut <- Gen.choose(0, validGroupQuantApp.length)
    junk <- Gen.oneOf("", ")", "){3,}", "(((", "STRUCT<", "MAP<STRING>",
      "STRUCT<x: WAT>", "ARRAY<STRUCT<", "U+?", "D*", "{0,2}",
      "(((A B){2} C){2} D)+", "((D U){1,3} C)+", "(D+){2}", ">>", "{2,1}")
    mode <- Gen.oneOf(0, 1, 2)
  } yield mode match {
    case 0 => validGroupQuantApp.substring(0, cut)
    case 1 => validGroupQuantApp.substring(0, cut) + junk +
      validGroupQuantApp.substring(cut)
    case 2 => validGroupQuantApp + "\n" + junk
  }

  test("group-quantifier / nested-group / STRUCT-MAP DDL near-misses: typed errors only") {
    assert(typedOnly(validGroupQuantApp))
    GraftApp.parse(validGroupQuantApp)
    check(Prop.forAll(groupQuantNearMiss)(typedOnly _))
  }

  /** CREATE AGGREGATION + WITHIN…PER statements (round 6) get the same
    * near-miss treatment: truncations and junk splices of a valid
    * aggregation app must die typed, never leak compiler internals.
    */
  private val validAggApp =
    """CREATE STREAM E (ts TIMESTAMP, k STRING, v DOUBLE);
      |CREATE STREAM Out (k STRING, cnt BIGINT);
      |CREATE AGGREGATION ByK FROM E GROUP BY k AGGREGATE v BY ts EVERY minute TO day;
      |INSERT INTO Out SELECT k, cnt FROM ByK
      |WITHIN '2024-01-01' AND '2024-02-01' PER 'day' ORDER BY k;""".stripMargin

  private val aggNearMiss: Gen[String] = for {
    cut <- Gen.choose(0, validAggApp.length)
    junk <- Gen.oneOf("", ")", "PER", "PER 'week'", "EVERY day TO minute",
      "AGGREGATE missing BY ts", "WITHIN", "AND", "'", ";;", "LIMIT 3")
    mode <- Gen.oneOf(0, 1, 2)
  } yield mode match {
    case 0 => validAggApp.substring(0, cut)
    case 1 => validAggApp.substring(0, cut) + junk + validAggApp.substring(cut)
    case 2 => validAggApp + "\n" + junk
  }

  test("aggregation statement near-misses: typed errors only") {
    check(Prop.forAll(aggNearMiss)(typedOnly _))
  }

  private val patternAtoms: Gen[String] = Gen.oneOf(
    "e1=S", "e2=S[v > 1]", "NOT S", "NOT S FOR 5 SECONDS", "EVERY",
    "->", "OR", "AND", "(", ")", "e1=S<3>", "e1=S<2:4>", "e1=S{3}",
    "S{1,2}", "[", "]", "<", ">", "<3", "3>", "{", "}", "=", "e1",
    "S", "", "FOR", "5 SECONDS", "WITHIN", "e1[0].v", ",")

  private val patternSoup: Gen[String] = for {
    n <- Gen.choose(0, 14)
    ts <- Gen.listOfN(n, patternAtoms)
  } yield
    s"""CREATE STREAM S (ts TIMESTAMP, v DOUBLE);
       |CREATE STREAM Out (v DOUBLE);
       |INSERT INTO Out SELECT e1.v AS v
       |FROM PATTERN (${ts.mkString(" ")}) WITHIN 1 HOURS;""".stripMargin

  test("pattern clause soup: typed errors only") {
    check(Prop.forAll(patternSoup)(typedOnly _))
  }

  test("quantifier spellings: valid forms compile, malformed forms reject typed") {
    def app(q: String, within: String = " WITHIN 1 HOURS") =
      s"""CREATE STREAM S (ts TIMESTAMP, v DOUBLE);
         |CREATE STREAM Out (n BIGINT);
         |INSERT INTO Out SELECT count(e) AS n
         |FROM PATTERN (EVERY e=S[v > 1]$q -> z=S[v = 0])$within;""".stripMargin
    // valid spellings (unbounded ones under WITHIN; zero-min forms since
    // round 10 — they expand to a presence/absence variant pair)
    Seq("<2>", "<2:3>", "{2}", "{2,3}", "+", "{2,}", "<2:>",
        "*", "{0,}", "{0,3}", "<0:>").foreach { q =>
      GraftApp.parse(app(q)) // must not throw
    }
    // malformed spellings: typed only ({0} is max=0 — rejected)
    Seq("{,3}", "{3,2}", "{a}", "++", "**", "{0}", "{2", "2}").foreach { q =>
      val ok = try { GraftApp.parse(app(q)); false }
        catch { case _: GraftApp.SqlError => true; case _: Throwable => false }
      assert(ok, s"quantifier '$q' should be a typed rejection")
    }
    // (the WITHIN gate on unbounded forms fires at COMPILE, not parse —
    // CompatSpec's unbounded-quantifier test pins that typed rejection)
  }

  /** A string literal that holds pattern syntax: parens, brackets, `->`,
    * ` AND `, ` OR ` (at least one of them). */
  private val syntaxLiteral: Gen[String] = for {
    n <- Gen.choose(0, 4)
    parts <- Gen.listOfN(n, Gen.oneOf("(", ")", "[", "]", "->", " AND ", " OR ", "x"))
    special <- Gen.oneOf("(", ")", "[", "]", "->", " AND ", " OR ")
    at <- Gen.choose(0, n)
  } yield parts.patch(at, Seq(special), 0).mkString("'", "", "'")

  /** Pattern shapes, each with one step predicate comparing to `'x'`: a
    * chain, an OR step, an AND element, a `(A B)+` group, a NOT … FOR
    * guard. */
  private val literalShapes = Seq(
    "A=S[k = 'x'] -> B=S[k = 'b']",
    "A=S[k = 'x'] OR B=S[k = 'b'] -> C=S[k = 'c']",
    "A=S[k = 'x'] AND B=S[k = 'b']",
    "(A=S[k = 'x'] -> B=S[k = 'b'])+ -> C=S[k = 'c']",
    "A=S[k = 'a'] -> NOT N=S[k = 'x'] FOR 5 SECONDS -> B=S[k = 'b']")

  test("a string literal holding pattern syntax parses to the same PatternQuery") {
    def parsed(body: String): PatternCompiler.PatternQuery =
      GraftApp.parse(
        s"""CREATE STREAM S (ts TIMESTAMP, k STRING, v DOUBLE);
           |CREATE STREAM Out (a DOUBLE);
           |INSERT INTO Out SELECT A.v AS a
           |FROM SEQUENCE (EVERY ($body)) WITHIN 1 HOURS PARTITION BY k;""".stripMargin)
        .patterns.head
    // the query with `lit` in place of 'x', mapped back to 'x'
    def unsubst(q: PatternCompiler.PatternQuery, lit: String): PatternCompiler.PatternQuery = {
      def alt(a: PatternCompiler.StepAlt) = a.copy(pred = a.pred.map(_.replace(lit, "'x'")))
      q.copy(variants = q.variants.map(_.map(st => st.copy(alts = st.alts.map(alt)))),
        absents = q.absents.map(a => a.copy(alt = alt(a.alt))))
    }
    val bases = literalShapes.map(sh => sh -> parsed(sh))
    check(Prop.forAll(syntaxLiteral) { lit =>
      bases.forall { case (shape, base) =>
        val q = parsed(shape.replace("'x'", lit))
        q.allAlts.exists(_.pred.exists(_.contains(lit))) && unsubst(q, lit) == base
      }
    })
  }

  private val trailingJunk: Gen[String] = for {
    n <- Gen.choose(1, 5)
    ts <- Gen.listOfN(n, Gen.oneOf("OUTPUT", "LAST", "EVERY 5 EVENTS",
      "ORDER BY k", "LIMIT 3", "GROUP BY k", "WINDOWX", "foo", "->"))
  } yield ts.mkString(" ")

  test("pattern statements with trailing junk: rejected, never silently dropped") {
    val valid =
      """CREATE STREAM S (ts TIMESTAMP, v DOUBLE);
        |CREATE STREAM Out (v DOUBLE);
        |INSERT INTO Out SELECT e1.v AS v
        |FROM PATTERN (EVERY (e1=S[v > 1])) WITHIN 1 HOURS PARTITION BY v""".stripMargin
    check(Prop.forAll(trailingJunk) { junk =>
      try { GraftApp.parse(s"$valid $junk;"); false } // junk must not be ignored
      catch { case _: GraftApp.SqlError => true; case _: Throwable => false }
    })
  }
}
