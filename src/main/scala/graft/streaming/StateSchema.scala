package graft.streaming

import org.apache.spark.sql.SparkSession

/** Streaming kernel state-schema versioning.
  *
  * The `flatMapGroupsWithState` kernels store their state as one binary
  * column written by each state type's [[StateCodec]] (WinEvent buffers,
  * CEP partial-match buffers, comparand slots, sketch counters); any change
  * to those shapes or codecs breaks checkpoint compatibility, and Spark
  * would surface that as an opaque failure deep in the first micro-batch.
  * This object turns that into a TYPED, actionable
  * error at query-start time: every checkpoint directory the app runtime
  * uses gets a `graft-state-version.json` marker, and a restart against a
  * marker from another build fails with "written by v7, this build is v8 —
  * restart fresh" BEFORE any executor work.
  *
  * [[Version]] must be bumped on every state-shape or codec change (the
  * bumps so far: round 7 svals carry-through, round 8 svals projection +
  * sort-window string comparand, round 9 checkpointed sources, round 10
  * multi-variant patterns consolidate V per-variant NFA kernels into one
  * MultiNfaState kernel, round 11(schema v11, shipped round 12): NfaState
  * grows the per-key `matchSeq` match-completion counter backing streaming
  * EMIT ALL ROWS' mr_match_number, round 13 (v12): AbsentChainState
  * grows the conclusive-emission ordinal `seq` so guard-killed matches
  * never gap mr_match_number, plus the new MultiSeqState/UnmatchedNfaState
  * states (the multi-variant all-rows and unmatched-rows modes of
  * `Cep.detectStream`), round 14 (v13): Partial grows the loop-group
  * iteration frame `iters`/`iterBase`/`iterHist` backing quantified group
  * members and bounded groups on the loop machine, round 15 (v14): Partial
  * grows the NESTED iteration frame `innerIters`/`innerBase` backing
  * variable-count nested groups `((A B){1,3} C)+`, v15 = current: every
  * state type is stored as one BINARY column through its [[StateCodec]]
  * instead of a case-class encoder, so no micro-batch compiles a state
  * deserializer; the logical shapes are the v14 ones).
  * StateSchemaSpec pins every state codec's bytes to this version.
  * Library users driving the kernels directly (not through AppRuntime)
  * can call [[guard]] themselves.
  */
object StateSchema {

  /** Current state-schema generation of the streaming kernels. */
  val Version: Int = 15

  private val MarkerName = "graft-state-version.json"

  final case class CheckpointVersionMismatch(msg: String)
    extends RuntimeException(msg)

  /** Validate (or stamp) the version marker in `checkpointDir`.
    *  - marker present, same version → ok;
    *  - marker present, other version → typed [[CheckpointVersionMismatch]];
    *  - no marker but the directory already has content → a checkpoint from
    *    a pre-versioning build → typed mismatch;
    *  - fresh/empty directory → write the marker for this build.
    * Uses the Hadoop FileSystem of the path, so any checkpoint store Spark
    * can use (local, HDFS, object store) works.
    */
  def guard(spark: SparkSession, checkpointDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(root, MarkerName)
    if (fs.exists(marker)) {
      // a marker that cannot be read or parsed (corrupt, checksum-invalid
      // after an out-of-band edit) is the same actionable condition as a
      // version mismatch — never let an opaque IO error escape instead
      val body =
        try {
          val in = fs.open(marker)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        } catch {
          case e: java.io.IOException =>
            throw CheckpointVersionMismatch(
              s"checkpoint at $checkpointDir has an unreadable $MarkerName " +
                s"(${e.getClass.getSimpleName}) — restart from a fresh " +
                "checkpoint")
        }
      val v = "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
        .map(_.group(1).toInt)
        .getOrElse(throw CheckpointVersionMismatch(
          s"checkpoint at $checkpointDir has an unreadable $MarkerName — " +
            "restart from a fresh checkpoint"))
      if (v != Version)
        throw CheckpointVersionMismatch(
          s"checkpoint at $checkpointDir was written by state-schema v$v, " +
            s"this build is v$Version — streaming kernel state is not " +
            "compatible across versions; restart the query from a fresh " +
            "checkpoint location")
    } else if (fs.exists(root) && fs.listStatus(root).nonEmpty) {
      throw CheckpointVersionMismatch(
        s"checkpoint at $checkpointDir predates state-schema versioning " +
          s"(no $MarkerName marker; this build is v$Version) — restart the " +
          "query from a fresh checkpoint location")
    } else {
      fs.mkdirs(root)
      val out = fs.create(marker, true)
      try out.write(s"""{"version":$Version}""".getBytes("UTF-8"))
      finally out.close()
    }
  }
}
