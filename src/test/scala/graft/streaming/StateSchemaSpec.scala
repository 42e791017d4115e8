package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{NearDupBucketState, NearDupMember}
import graft.operators.Sketches.{KmvWinState, MgWinState, MsWinState}
import graft.streaming.Cep.{AbsentChainState, MultiSeqState, RowRef, SkipCand, SkipNfaState,
  UnmatchedNfaState}
import graft.streaming.WindowKernels.WinBuffer

/** Pins the state every `flatMapGroupsWithState` kernel keeps, under
  * [[StateSchema.Version]] 15:
  *  - each state type's [[StateCodec]] bytes for a fixed sample (the
  *    on-disk layout: a failing pin means the layout changed, so the change
  *    must bump [[StateSchema.Version]] — every older checkpoint is then
  *    rejected at query start — and re-pin the hex below);
  *  - decode(encode(s)) == s over seeded samples, doubles compared by their
  *    raw bits (NaN payloads, -0.0), with null strings, empty seqs and Long
  *    extremes;
  *  - a typed [[StateCodec.DecodeError]] on every truncation and on
  *    garbled length prefixes;
  *  - the logical field shape each codec serializes, as the v14 case-class
  *    encoder schema (`StructType.json`; shared sub-structs are spelled
  *    once and spliced in). A codec is written by hand, so a field added
  *    to a state class with a default value would compile and silently not
  *    persist: that schema pin fails first.
  */
class StateSchemaSpec extends AnyFunSuite {

  private val cepEvent =
    """{"type":"struct","fields":[{"name":"key","type":"string","nullable":true,"metadata":{}},""" +
    """{"name":"tsUs","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"eventId","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"etype","type":"string","nullable":true,"metadata":{}},""" +
    """{"name":"value","type":"double","nullable":false,"metadata":{}},""" +
    """{"name":"vals","type":{"type":"array","elementType":"double","containsNull":false},"nullable":true,"metadata":{}},""" +
    """{"name":"svals","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}}]}"""
  private val partial =
    """{"type":"struct","fields":[{"name":"stepIdx","type":"integer","nullable":false,"metadata":{}},""" +
    """{"name":"startUs","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"startSeq","type":"long","nullable":false,"metadata":{}},""" +
    s"""{"name":"collected","type":{"type":"array","elementType":{"type":"array","elementType":$cepEvent,"containsNull":true},"containsNull":true},"nullable":true,"metadata":{}},""" +
    """{"name":"iters","type":"integer","nullable":false,"metadata":{}},""" +
    """{"name":"iterBase","type":{"type":"array","elementType":"integer","containsNull":false},"nullable":true,"metadata":{}},""" +
    """{"name":"iterHist","type":{"type":"array","elementType":"integer","containsNull":false},"nullable":true,"metadata":{}},""" +
    """{"name":"innerIters","type":"integer","nullable":false,"metadata":{}},""" +
    """{"name":"innerBase","type":{"type":"array","elementType":"integer","containsNull":false},"nullable":true,"metadata":{}}]}"""
  private val nfaState =
    s"""{"type":"struct","fields":[{"name":"partials","type":{"type":"array","elementType":$partial,"containsNull":true},"nullable":true,"metadata":{}},""" +
    """{"name":"done","type":"boolean","nullable":false,"metadata":{}},""" +
    """{"name":"seq","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"dropped","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"matchSeq","type":"long","nullable":false,"metadata":{}}]}"""
  private val cepMatch =
    """{"type":"struct","fields":[{"name":"key","type":"string","nullable":true,"metadata":{}},""" +
    """{"name":"startUs","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"endUs","type":"long","nullable":false,"metadata":{}},""" +
    s"""{"name":"steps","type":{"type":"array","elementType":{"type":"struct","fields":[{"name":"step","type":"string","nullable":true,"metadata":{}},{"name":"events","type":{"type":"array","elementType":$cepEvent,"containsNull":true},"nullable":true,"metadata":{}}]},"containsNull":true},"nullable":true,"metadata":{}},""" +
    """{"name":"matchSeq","type":"long","nullable":false,"metadata":{}}]}"""
  private val skipCand =
    s"""{"type":"struct","fields":[{"name":"m","type":$cepMatch,"nullable":true,"metadata":{}},""" +
    """{"name":"startSeq","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"endSeq","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"counts","type":{"type":"array","elementType":"long","containsNull":false},"nullable":true,"metadata":{}},""" +
    """{"name":"groupIters","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"hist","type":{"type":"array","elementType":"integer","containsNull":false},"nullable":true,"metadata":{}}]}"""
  private val skipNfaState =
    s"""{"type":"struct","fields":[{"name":"nfa","type":$nfaState,"nullable":true,"metadata":{}},""" +
    """{"name":"pos","type":"long","nullable":false,"metadata":{}},""" +
    s"""{"name":"cands","type":{"type":"array","elementType":$skipCand,"containsNull":true},"nullable":true,"metadata":{}}]}"""
  private val winEvent =
    """{"type":"struct","fields":[{"name":"key","type":"string","nullable":true,"metadata":{}},""" +
    """{"name":"tsUs","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"eventId","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"value","type":"double","nullable":false,"metadata":{}},""" +
    """{"name":"vals","type":{"type":"array","elementType":"double","containsNull":false},"nullable":true,"metadata":{}},""" +
    """{"name":"svals","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}}]}"""

  private val pinned: Seq[(String, StructType, String)] = Seq(
    ("NfaState", Encoders.product[NfaState].schema,
      nfaState),
    ("MultiNfaState", Encoders.product[MultiNfaState].schema,
      s"""{"type":"struct","fields":[{"name":"states","type":{"type":"array","elementType":$nfaState,"containsNull":true},"nullable":true,"metadata":{}}]}"""),
    ("MultiSeqState", Encoders.product[MultiSeqState].schema,
      s"""{"type":"struct","fields":[{"name":"states","type":{"type":"array","elementType":$nfaState,"containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"shared","type":"long","nullable":false,"metadata":{}}]}"""),
    ("SkipNfaState", Encoders.product[SkipNfaState].schema,
      skipNfaState),
    ("UnmatchedNfaState", Encoders.product[UnmatchedNfaState].schema,
      s"""{"type":"struct","fields":[{"name":"skip","type":$skipNfaState,"nullable":true,"metadata":{}},""" +
      s"""{"name":"pending","type":{"type":"array","elementType":$cepEvent,"containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"claimed","type":{"type":"array","elementType":{"type":"struct","fields":[{"name":"tsUs","type":"long","nullable":false,"metadata":{}},{"name":"eventId","type":"long","nullable":false,"metadata":{}}]},"containsNull":true},"nullable":true,"metadata":{}}]}"""),
    ("AbsentChainState", Encoders.product[AbsentChainState].schema,
      s"""{"type":"struct","fields":[{"name":"nfa","type":$nfaState,"nullable":true,"metadata":{}},""" +
      s"""{"name":"pending","type":{"type":"array","elementType":$cepMatch,"containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"seq","type":"long","nullable":false,"metadata":{}}]}"""),
    ("WinBuffer", Encoders.product[WinBuffer].schema,
      s"""{"type":"struct","fields":[{"name":"events","type":{"type":"array","elementType":$winEvent,"containsNull":true},"nullable":true,"metadata":{}},""" +
      s"""{"name":"prev","type":{"type":"array","elementType":$winEvent,"containsNull":true},"nullable":true,"metadata":{}}]}"""),
    ("RateBuffer", Encoders.product[RateBuffer].schema,
      """{"type":"struct","fields":[{"name":"cnt","type":"long","nullable":false,"metadata":{}},""" +
      s"""{"name":"pending","type":{"type":"array","elementType":$winEvent,"containsNull":true},"nullable":true,"metadata":{}}]}"""),
    ("FreqState", Encoders.product[FreqState].schema,
      s"""{"type":"struct","fields":[{"name":"entries","type":{"type":"array","elementType":{"type":"struct","fields":[{"name":"attr","type":"string","nullable":true,"metadata":{}},{"name":"cnt","type":"long","nullable":false,"metadata":{}},{"name":"ev","type":$winEvent,"nullable":true,"metadata":{}}]},"containsNull":true},"nullable":true,"metadata":{}}]}"""),
    ("LossyState", Encoders.product[LossyState].schema,
      """{"type":"struct","fields":[{"name":"n","type":"long","nullable":false,"metadata":{}},""" +
      s"""{"name":"entries","type":{"type":"array","elementType":{"type":"struct","fields":[{"name":"attr","type":"string","nullable":true,"metadata":{}},{"name":"cnt","type":"long","nullable":false,"metadata":{}},{"name":"delta","type":"long","nullable":false,"metadata":{}},{"name":"ev","type":$winEvent,"nullable":true,"metadata":{}},{"name":"emitted","type":"boolean","nullable":false,"metadata":{}}]},"containsNull":true},"nullable":true,"metadata":{}}]}"""),
    ("NearDupBucketState", Encoders.product[NearDupBucketState].schema,
      """{"type":"struct","fields":[{"name":"members","type":{"type":"array","elementType":{"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{}},{"name":"tsUs","type":"long","nullable":false,"metadata":{}},{"name":"sig","type":{"type":"array","elementType":"long","containsNull":false},"nullable":true,"metadata":{}}]},"containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"saturatedDrops","type":"long","nullable":false,"metadata":{}}]}"""),
    ("KmvWinState", Encoders.product[KmvWinState].schema,
      """{"type":"struct","fields":[{"name":"hvs","type":{"type":"array","elementType":"long","containsNull":false},"nullable":true,"metadata":{}}]}"""),
    ("MgWinState", Encoders.product[MgWinState].schema,
      """{"type":"struct","fields":[{"name":"keys","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"cnts","type":{"type":"array","elementType":"long","containsNull":false},"nullable":true,"metadata":{}}]}"""),
    ("MsWinState", Encoders.product[MsWinState].schema,
      """{"type":"struct","fields":[{"name":"kmv","type":{"type":"array","elementType":{"type":"array","elementType":"long","containsNull":false},"containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"mgKeys","type":{"type":"array","elementType":{"type":"array","elementType":"string","containsNull":true},"containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"mgCnts","type":{"type":"array","elementType":{"type":"array","elementType":"long","containsNull":false},"containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"hb","type":{"type":"array","elementType":{"type":"array","elementType":"long","containsNull":false},"containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"hc","type":{"type":"array","elementType":{"type":"array","elementType":"long","containsNull":false},"containsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"an","type":{"type":"array","elementType":"long","containsNull":false},"nullable":true,"metadata":{}},""" +
      """{"name":"asd","type":{"type":"array","elementType":"double","containsNull":false},"nullable":true,"metadata":{}},""" +
      """{"name":"asl","type":{"type":"array","elementType":"long","containsNull":false},"nullable":true,"metadata":{}},""" +
      """{"name":"amnd","type":{"type":"array","elementType":"double","containsNull":false},"nullable":true,"metadata":{}},""" +
      """{"name":"amxd","type":{"type":"array","elementType":"double","containsNull":false},"nullable":true,"metadata":{}},""" +
      """{"name":"amnl","type":{"type":"array","elementType":"long","containsNull":false},"nullable":true,"metadata":{}},""" +
      """{"name":"amxl","type":{"type":"array","elementType":"long","containsNull":false},"nullable":true,"metadata":{}}]}"""))

  test("state schema version is 15") {
    assert(StateSchema.Version == 15)
  }

  pinned.foreach { case (name, schema, json) =>
    test(s"state schema v14: $name encoder schema is pinned") {
      assert(schema.json == json)
    }
  }

  // ---- v15 binary state: one codec per state type ----

  /** Seeded sample states: every primitive draws its edge values often. */
  private final class Gen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    def long(): Long = rnd.nextInt(5) match {
      case 0 => Long.MinValue
      case 1 => Long.MaxValue
      case 2 => 0L
      case _ => rnd.nextLong()
    }
    def int(): Int = rnd.nextInt(4) match {
      case 0 => Int.MinValue
      case 1 => Int.MaxValue
      case _ => rnd.nextInt()
    }
    def double(): Double = rnd.nextInt(7) match {
      case 0 => Double.NaN
      case 1 => java.lang.Double.longBitsToDouble(0x7ff8dead0000beefL) // NaN payload
      case 2 => -0.0
      case 3 => Double.NegativeInfinity
      case 4 => Double.MinPositiveValue
      case _ => rnd.nextGaussian() * 1e6
    }
    def bool(): Boolean = rnd.nextBoolean()
    def string(): String = rnd.nextInt(5) match {
      case 0 => null
      case 1 => ""
      case 2 => "\u00fc\u20ac\ud83d\ude00"
      case _ => rnd.alphanumeric.take(rnd.nextInt(12)).mkString
    }
    def seq[A](g: => A): Seq[A] = Seq.fill(rnd.nextInt(4))(g)

    def winEvent(): WinEvent =
      WinEvent(string(), long(), long(), double(), seq(double()), seq(string()))
    def cepEvent(): CepEvent =
      CepEvent(string(), long(), long(), string(), double(), seq(double()), seq(string()))
    def cepMatch(): CepMatch =
      CepMatch(string(), long(), long(), seq(Collected(string(), seq(cepEvent()))), long())
    def nfa(): NfaState = NfaState(
      seq(Partial(int(), long(), long(), seq(seq(cepEvent())), int(), seq(int()),
        seq(int()), int(), seq(int()))),
      bool(), long(), long(), long())
    def skip(): SkipNfaState = SkipNfaState(nfa(), long(),
      seq(SkipCand(cepMatch(), long(), long(), seq(long()), long(), seq(int()))))
  }

  /** Equality with doubles compared by raw bits (NaN payloads, -0.0). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: Product, y: Product) =>
      x.getClass == y.getClass &&
        x.productIterator.zip(y.productIterator).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  private case class Case[S](name: String, codec: StateCodec[S], sample: S,
                             hex: String, gen: Gen => S) {
    def encode(s: Any): Array[Byte] = codec.encode(s.asInstanceOf[S])
  }
  private def caseOf[S](name: String, sample: S, hex: String)(gen: Gen => S)(
      implicit c: StateCodec[S]): Case[S] = Case(name, c, sample, hex, gen)

  private val ev = CepEvent("u1", 5L, 7L, "buy", -0.0, Seq(1.5), Seq(null, "x"))
  private val we = WinEvent("k", 1L, 2L, 3.5, Nil, Seq("s"))
  private val nfa = NfaState(Seq(Partial(1, 10L, 2L, Seq(Seq(ev), Nil), 1, Seq(0, 1))),
    done = false, seq = 3L, matchSeq = 1L)
  private val m = CepMatch("u1", 5L, 9L, Seq(Collected("A", Seq(ev))), 2L)
  private val skip = SkipNfaState(nfa, 4L, Seq(SkipCand(m, 1L, 2L, Seq(1L), hist = Seq(2))))

  private val cases: Seq[Case[_]] = Seq(
    caseOf("NfaState", nfa,
      "0000000100000001000000000000000a00000000000000020000000200000001" +
      "0000000275310000000000000005000000000000000700000003627579800000" +
      "0000000000000000013ff800000000000000000002ffffffff00000001780000" +
      "0000000000010000000200000000000000010000000000000000000000000000" +
      "0000000000000300000000000000000000000000000001")(_.nfa()),
    caseOf("MultiNfaState", MultiNfaState(Seq(nfa, NfaState(Nil, done = true))),
      "000000020000000100000001000000000000000a000000000000000200000002" +
      "0000000100000002753100000000000000050000000000000007000000036275" +
      "798000000000000000000000013ff800000000000000000002ffffffff000000" +
      "0178000000000000000100000002000000000000000100000000000000000000" +
      "0000000000000000000003000000000000000000000000000000010000000001" +
      "000000000000000000000000000000000000000000000000")(
      g => MultiNfaState(g.seq(g.nfa()))),
    caseOf("MultiSeqState", MultiSeqState(Seq(nfa), Long.MaxValue),
      "000000010000000100000001000000000000000a000000000000000200000002" +
      "0000000100000002753100000000000000050000000000000007000000036275" +
      "798000000000000000000000013ff800000000000000000002ffffffff000000" +
      "0178000000000000000100000002000000000000000100000000000000000000" +
      "0000000000000000000003000000000000000000000000000000017fffffffff" +
      "ffffff")(
      g => MultiSeqState(g.seq(g.nfa()), g.long())),
    caseOf("SkipNfaState", skip,
      "0000000100000001000000000000000a00000000000000020000000200000001" +
      "0000000275310000000000000005000000000000000700000003627579800000" +
      "0000000000000000013ff800000000000000000002ffffffff00000001780000" +
      "0000000000010000000200000000000000010000000000000000000000000000" +
      "0000000000000300000000000000000000000000000001000000000000000400" +
      "0000010000000275310000000000000005000000000000000900000001000000" +
      "0141000000010000000275310000000000000005000000000000000700000003" +
      "6275798000000000000000000000013ff800000000000000000002ffffffff00" +
      "0000017800000000000000020000000000000001000000000000000200000001" +
      "0000000000000001ffffffffffffffff0000000100000002")(_.skip()),
    caseOf("UnmatchedNfaState", UnmatchedNfaState(skip, Seq(ev), Seq(RowRef(5L, 7L))),
      "0000000100000001000000000000000a00000000000000020000000200000001" +
      "0000000275310000000000000005000000000000000700000003627579800000" +
      "0000000000000000013ff800000000000000000002ffffffff00000001780000" +
      "0000000000010000000200000000000000010000000000000000000000000000" +
      "0000000000000300000000000000000000000000000001000000000000000400" +
      "0000010000000275310000000000000005000000000000000900000001000000" +
      "0141000000010000000275310000000000000005000000000000000700000003" +
      "6275798000000000000000000000013ff800000000000000000002ffffffff00" +
      "0000017800000000000000020000000000000001000000000000000200000001" +
      "0000000000000001ffffffffffffffff00000001000000020000000100000002" +
      "7531000000000000000500000000000000070000000362757980000000000000" +
      "00000000013ff800000000000000000002ffffffff0000000178000000010000" +
      "0000000000050000000000000007")(
      g => UnmatchedNfaState(g.skip(), g.seq(g.cepEvent()), g.seq(RowRef(g.long(), g.long())))),
    caseOf("AbsentChainState", AbsentChainState(nfa, Seq(m), 6L),
      "0000000100000001000000000000000a00000000000000020000000200000001" +
      "0000000275310000000000000005000000000000000700000003627579800000" +
      "0000000000000000013ff800000000000000000002ffffffff00000001780000" +
      "0000000000010000000200000000000000010000000000000000000000000000" +
      "0000000000000300000000000000000000000000000001000000010000000275" +
      "3100000000000000050000000000000009000000010000000141000000010000" +
      "0002753100000000000000050000000000000007000000036275798000000000" +
      "000000000000013ff800000000000000000002ffffffff000000017800000000" +
      "000000020000000000000006")(
      g => AbsentChainState(g.nfa(), g.seq(g.cepMatch()), g.long())),
    caseOf("WinBuffer", WinBuffer(Seq(we), Nil),
      "00000001000000016b00000000000000010000000000000002400c0000000000" +
      "000000000000000001000000017300000000")(
      g => WinBuffer(g.seq(g.winEvent()), g.seq(g.winEvent()))),
    caseOf("RateBuffer", RateBuffer(2L, Seq(we)),
      "000000000000000200000001000000016b000000000000000100000000000000" +
      "02400c00000000000000000000000000010000000173")(
      g => RateBuffer(g.long(), g.seq(g.winEvent()))),
    caseOf("FreqState", FreqState(Seq(FreqEntry("3.5", 4L, we))),
      "0000000100000003332e350000000000000004000000016b0000000000000001" +
      "0000000000000002400c00000000000000000000000000010000000173")(
      g => FreqState(g.seq(FreqEntry(g.string(), g.long(), g.winEvent())))),
    caseOf("LossyState", LossyState(9L, Seq(LossyEntry(null, 4L, 1L, we, emitted = true))),
      "000000000000000900000001ffffffff00000000000000040000000000000001" +
      "000000016b00000000000000010000000000000002400c000000000000000000" +
      "0000000001000000017301")(
      g => LossyState(g.long(), g.seq(
        LossyEntry(g.string(), g.long(), g.long(), g.winEvent(), g.bool())))),
    caseOf("NearDupBucketState",
        NearDupBucketState(Seq(NearDupMember(1L, 2L, Seq(-1L, 3L))), 0L),
      "000000010000000000000001000000000000000200000002ffffffffffffffff" +
      "00000000000000030000000000000000")(
      g => NearDupBucketState(g.seq(NearDupMember(g.long(), g.long(), g.seq(g.long()))),
        g.long())),
    caseOf("KmvWinState", KmvWinState(Seq(1L, Long.MaxValue)),
      "0000000200000000000000017fffffffffffffff")(
      g => KmvWinState(g.seq(g.long()))),
    caseOf("MgWinState", MgWinState(Seq("a", null), Seq(2L, 1L)),
      "000000020000000161ffffffff00000002000000000000000200000000000000" +
      "01")(
      g => MgWinState(g.seq(g.string()), g.seq(g.long()))),
    caseOf("MsWinState", MsWinState(Seq(Seq(1L)), Seq(Seq("a")), Seq(Seq(2L)), Nil, Nil,
        Seq(1L), Seq(2.5), Seq(2L), Seq(2.5), Seq(2.5), Seq(2L), Seq(2L)),
      "0000000100000001000000000000000100000001000000010000000161000000" +
      "0100000001000000000000000200000000000000000000000100000000000000" +
      "0100000001400400000000000000000001000000000000000200000001400400" +
      "0000000000000000014004000000000000000000010000000000000002000000" +
      "010000000000000002")(
      g => MsWinState(g.seq(g.seq(g.long())), g.seq(g.seq(g.string())),
        g.seq(g.seq(g.long())), g.seq(g.seq(g.long())), g.seq(g.seq(g.long())),
        g.seq(g.long()), g.seq(g.double()), g.seq(g.long()), g.seq(g.double()),
        g.seq(g.double()), g.seq(g.long()), g.seq(g.long()))))

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  test("every pinned encoder schema has a codec case") {
    assert(cases.map(_.name).sorted == pinned.map(_._1).sorted)
  }

  cases.foreach { c =>
    test(s"state codec v15: ${c.name} bytes are pinned") {
      assert(hex(c.encode(c.sample)) == c.hex)
    }

    test(s"state codec v15: ${c.name} decode(encode(s)) == s, doubles bit-exact") {
      (1L to 200L).foreach { seed =>
        val s = c.gen(new Gen(seed))
        val back = c.codec.decode(c.encode(s))
        assert(same(back, s), s"seed $seed: $back != $s")
      }
    }

    test(s"state codec v15: ${c.name} truncated or garbled blob is a typed DecodeError") {
      val full = c.encode(c.sample)
      (0 until full.length).foreach { n =>
        intercept[StateCodec.DecodeError](c.codec.decode(full.take(n)))
      }
      intercept[StateCodec.DecodeError](c.codec.decode(full :+ 0.toByte))
      // a garbled 4-byte window is never an allocation or an untyped error:
      // it decodes to some state or fails typed
      (0 to full.length - 4).foreach { at =>
        Seq(0xff, 0x7f, 0x80).foreach { b =>
          val bad = full.clone()
          (at until at + 4).foreach(i => bad(i) = b.toByte)
          try c.codec.decode(bad)
          catch { case _: StateCodec.DecodeError => () }
        }
      }
    }
  }

  test("a v14 checkpoint fails at query start with the typed CheckpointVersionMismatch") {
    import java.nio.file.Files
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    val dir = Files.createTempDirectory("graft-ckpt-v14")
    Files.writeString(dir.resolve("graft-state-version.json"), "{\"version\":14}")
    val e = intercept[StateSchema.CheckpointVersionMismatch](
      StateSchema.guard(spark, dir.toString))
    assert(e.getMessage.contains("v14") && e.getMessage.contains("this build is v15"))
  }
}
