package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.NearDupBucketState
import graft.operators.Sketches.{KmvWinState, MgWinState, MsWinState}
import graft.streaming.Cep.{AbsentChainState, MultiSeqState, SkipNfaState, UnmatchedNfaState}
import graft.streaming.WindowKernels.WinBuffer

/** Pins the encoder schema of every `flatMapGroupsWithState` state class
  * to the shape shipped under [[StateSchema.Version]] 14. Checkpoints keep
  * restoring only while these schemas stay put: a failing case means a
  * state shape changed, so the change must bump [[StateSchema.Version]]
  * (every older checkpoint is then rejected at query start) and re-pin the
  * literal below. The literals are `StructType.json`; shared sub-structs
  * are spelled once and spliced in.
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

  test("state schema version is 14") {
    assert(StateSchema.Version == 14)
  }

  pinned.foreach { case (name, schema, json) =>
    test(s"state schema v14: $name encoder schema is pinned") {
      assert(schema.json == json)
    }
  }
}
