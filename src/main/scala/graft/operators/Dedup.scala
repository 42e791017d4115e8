package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VectorFns}
import graft.streaming.StateCodec

/** One LSH-banded row of a streaming document: `bucket` is the 64-bit band
  * key (xxhash64 of the band's signature slice + band index), `sig` the full
  * MinHash signature carried for in-bucket verification.
  */
final case class NearDupBandRow(bucket: Long, band: Int, id: Long, tsUs: Long,
                                sig: Seq[Long])

/** A bucket-resident document: admitted (non-duplicate) doc whose signature
  * future arrivals in this bucket verify against.
  */
final case class NearDupMember(id: Long, tsUs: Long, sig: Seq[Long])
object NearDupMember {
  implicit val codec: StateCodec[NearDupMember] = StateCodec.product[NearDupMember] {
    (w, m) => w.long(m.id); w.long(m.tsUs); w.seq(m.sig)
  }(r => NearDupMember(r.long(), r.long(), r.seq[Long]()))
}

/** Keyed state for one LSH bucket. `saturatedDrops` counts arrivals that
  * could not be recorded past maxBucketSize (skew guard).
  */
final case class NearDupBucketState(members: Seq[NearDupMember],
                                    saturatedDrops: Long)
object NearDupBucketState {
  implicit val codec: StateCodec[NearDupBucketState] =
    StateCodec.product[NearDupBucketState] { (w, s) =>
      w.seq(s.members); w.long(s.saturatedDrops)
    }(r => NearDupBucketState(r.seq[NearDupMember](), r.long()))
}

/** Per-band verdict: `dupOf`/`estJaccard` set iff a bucket member within
  * the horizon verified as a near-duplicate of this arrival.
  */
final case class NearDupVerdict(id: Long, tsUs: Long, band: Int,
                                dupOf: Option[Long], estJaccard: Option[Double])

/** Deduplication operators for a document corpus, designed for the 100 TB
  * shape: never all-pairs over the corpus — candidate generation always goes
  * through a hash/band bucket (shuffle key) so the quadratic step is bounded
  * to within-bucket pairs, and every stage is a plain shuffle-once groupBy
  * or equi-join that AQE can skew-split.
  */
object Dedup {

  /** Exact dedup: canonical-text digest → representative id + multiplicity.
    * One shuffle on the digest; at scale this is the classic hash-dedup.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFns.fingerprint(col(textCol)).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Connected components over a near-duplicate pair graph — the cluster-
    * resolution stage between pair mining (jaccardPairs / minHashLsh /
    * simHashPairs) and "keep one canonical doc per cluster": every node
    * gets the minimum doc id reachable from it as `cluster_id`. Output:
    * `(id BIGINT, cluster_id BIGINT)`, one row per node. A self-loop makes
    * its node a singleton cluster; a pair with a NULL end is ignored.
    *
    * Graphs whose pair plan passes [[fitsUnionFind]] resolve as ONE lazy
    * plan, the local-then-merge union-find of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SoCC'14): every partition folds
    * its pairs into a union-find forest rooted at the smaller id and emits
    * `(node, localRoot)`; `repartition(1)` brings those star edges to one
    * task, whose second union-find gives every node its component's
    * minimum id. Building the DataFrame runs no Spark job; executing it is
    * one pass over the pairs plus one exchange of at most two rows per
    * pair. Larger graphs fall back to [[clustersByRounds]], whose rounds
    * `maxIter` bounds.
    */
  def clusters(pairs: DataFrame, aCol: String, bCol: String,
               maxIter: Int = 25): DataFrame =
    clustersBounded(pairs, aCol, bCol, maxIter, UnionFindMaxBytes)

  /** [[clusters]] with the union-find bound as an argument: a bound of 0
    * forces the round loop. */
  private[graft] def clustersBounded(pairs: DataFrame, aCol: String, bCol: String,
                                     maxIter: Int, unionFindMaxBytes: BigInt): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    if (fitsUnionFind(edges, unionFindMaxBytes)) clustersByUnionFind(edges)
    else clustersByRounds(edges, maxIter)
  }

  /** Largest pair plan, in Spark's estimated bytes, that [[clusters]]
    * resolves with the single-task union-find merge. The merge task holds
    * one map entry per node (~50 bytes), and the estimate of a two-long
    * pair relation is ~24 bytes per pair, so at the bound an exact
    * estimate means ~1.4 M pairs and at most ~140 MB in the merge task.
    */
  val UnionFindMaxBytes: BigInt = BigInt(32L << 20)

  /** The path gate of [[clusters]]: whether the `(a, b)` pair plan's
    * `optimizedPlan.stats.sizeInBytes` is at most `maxBytes`. Reading the
    * estimate runs no job: it comes from the leaves (file sizes, local
    * relations) scaled by projected row width.
    *
    * What it guarantees: a plan Spark cannot size takes the round loop
    * (a `createDataFrame(rdd)` leaf reports `spark.sql.defaultSizeInBytes`,
    * `Long.MaxValue` by default).
    * What it does not: the estimate follows input BYTES, not pair count.
    * Without column statistics a filter or aggregate keeps its child's
    * size and an `explode` does not grow it, so a pair plan mined from a
    * corpus is over-estimated and does not track its pair count (the
    * `q_dedup_clusters` edge plan reads 169,875 B for 122 pairs at sf0.1
    * and 18,717 B for 4,118 pairs at sf0.001), while a small input
    * exploded into many pairs can pass the gate with more pairs than the
    * bound implies.
    */
  private[graft] def fitsUnionFind(edges: DataFrame, maxBytes: BigInt): Boolean =
    edges.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes

  /** Union-find over long-id pairs in which every root is the smallest id
    * of its set (union links the larger root under the smaller; `find`
    * splits paths as it walks). Yields `(node, root)` for every node seen.
    */
  private def unionFind(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var v = x
      var p = parent.getOrElseUpdate(v, v)
      while (p != v) {
        val gp = parent(p)
        parent(v) = gp
        v = p
        p = gp
      }
      v
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(x => (x, find(x)))
  }

  private def clustersByUnionFind(edges: DataFrame): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    edges.as[(Long, Long)](enc)
      .mapPartitions(unionFind)(enc)
      .repartition(1)
      .mapPartitions(unionFind)(enc)
      .toDF("id", "cluster_id")
  }

  /** The fallback of [[clusters]] above its union-find bound: iterative
    * label propagation, each round taking (a) the min label over graph
    * neighbors and (b) a POINTER JUMP (label := label of the current
    * label). The jump halves label-chain depth every round, so
    * convergence is O(log diameter) rounds instead of O(diameter) — plain
    * hash-min on a 400-node chain would need 400 shuffling rounds; this
    * needs ~10. Per round: one join on the symmetric edge list + one
    * self-join on the (id, label) relation, both narrow (two longs per
    * row). Each generation is checkpointed through a
    * [[Checkpoints.Generations]] tracker, keeping lineage flat across
    * iterations, and freed once the result is checkpointed;
    * convergence is detected by an any-label-changed probe on the
    * checkpointed frame, so building the result runs Spark jobs.
    *
    * At 100 TB the edge list (mined duplicate pairs) is orders of magnitude
    * smaller than the corpus, and near-dup components are shallow — the
    * rounds bound is a safety rail, with a loud warning if exhausted.
    */
  private def clustersByRounds(edges: DataFrame, maxIter: Int): DataFrame = {
    val gen = new Checkpoints.Generations(edges.sparkSession.sparkContext)
    // explode both directions from ONE scan: union(pairs, pairs-flipped)
    // would re-execute the caller's pair-mining plan once per branch
    // (round 16, guide §2.4 — same fix as the graph symmetrization)
    val sym = gen.persist(edges
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    // eager localCheckpoint per generation: materializes AND truncates the
    // logical plan — a persist() alone leaves lineage growing exponentially
    // across iterations (each round's plan embeds the previous round's
    // whole tree, OOMing the driver on plan strings well before data does)
    // init = the first propagate round for free: label(v) = min(v, N(v))
    var labels = gen.pin(sym
      .groupBy(col("src").as("id")).agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("label")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbr = sym
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nl"))
      val propagated = labels.join(nbr, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // two pointer jumps per round (both fused into the same job):
      // label-chain depth divides by ~4 per round, so rounds ≈ log4(diameter)
      def jump(cur: DataFrame): DataFrame = cur.as("x")
        .join(cur.select(col("id").as("lid"), col("label").as("ll")).as("y"),
          col("x.label") === col("y.lid"), "left_outer")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("ll"), col("x.label"))).as("label"))
      // the change flag rides INSIDE the checkpointed frame (computed in
      // the same job as the round itself); the convergence probe is then a
      // limit-1 scan of the materialized RDD, not an extra join job
      val next = gen.pin(jump(jump(propagated)).as("n")
        .join(labels.select(col("id"), col("label").as("old")).as("o"), "id")
        .select(col("id"), col("label"), (col("label") < col("old")).as("chg")))
      val changed = next.filter(col("chg")).limit(1).count() > 0
      labels = next.select(col("id"), col("label"))
      converged = !changed
      iter += 1
    }
    if (!converged) graft.sql.ScaleWarnings.warn(
      s"Dedup.clusters: not converged after $maxIter rounds — component " +
        "diameter exceeds the bound; labels are a valid refinement but may " +
        "split true components. Raise maxIter.")
    // re-checkpoint the final generation, then free the intermediate ones
    // (they otherwise stay registered until GC — executor memory held
    // hostage to driver garbage timing)
    gen.finish(labels.select(col("id"), col("label").as("cluster_id")))
  }

  /** Keep one canonical document per near-dup cluster — the final stage of
    * the dedup pipeline (pairs → clusters → canonical). Unclustered docs
    * (no mined duplicate partner) are their own cluster. Canonical = the
    * longest text, ties broken by the smallest id — a deterministic,
    * content-quality-biased pick. One broadcast-or-shuffle join (clusters
    * is node-ids only, tiny next to the corpus) + one groupBy over
    * (cluster, id, length) triples; the text itself rides only the final
    * semi-join fetch of winners.
    */
  def canonical(docs: DataFrame, idCol: String, textCol: String,
                clusterLabels: DataFrame): DataFrame = {
    val lab = clusterLabels.select(col("id").as("__cid"), col("cluster_id"))
    val slim = docs.select(col(idCol).cast("long").as("__id"),
        length(col(textCol)).cast("long").as("__len"))
      .join(lab, col("__id") === col("__cid"), "left_outer")
      .select(col("__id"), col("__len"),
        coalesce(col("cluster_id"), col("__id")).as("cluster_id"))
    val winners = slim.groupBy(col("cluster_id"))
      .agg(max_by(col("__id"), struct(col("__len"), -col("__id"))).as("keep_id"),
        count(lit(1)).as("n_members"))
    val keepCols = Seq(col("cluster_id"), col("keep_id"), col("n_members")) ++
      docs.columns.filter(_ != idCol).map(docs(_))
    docs.join(winners, docs(idCol) === winners("keep_id"))
      .select(keepCols: _*)
  }

  /** Streaming exact dedup over an ingest stream: first occurrence of each
    * canonical-text digest passes, re-arrivals within the watermark horizon
    * are dropped. State is the digest set bounded by the watermark —
    * Spark's `dropDuplicatesWithinWatermark` evicts entries once the
    * event-time watermark passes them, so state stays proportional to the
    * dedup horizon, not the stream's lifetime (the unbounded-state cliff a
    * naive dropDuplicates hits on an infinite corpus feed).
    *
    * `tsCol` must be the event-time column; `horizon` is a Spark duration
    * string ("10 minutes"). Batch DataFrames take the exact() path instead.
    */
  def streamingExact(df: DataFrame, textCol: String, tsCol: String,
                     horizon: String): DataFrame = {
    require(df.isStreaming, "streamingExact needs a streaming DataFrame; use exact() for batch")
    df.withColumn("__digest", TextFns.fingerprint(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")
  }

  /** Token-set Jaccard pairs within a blocking key, via PREFIX FILTERING
    * (the AllPairs/PPJoin family): order each doc's tokens by block-level
    * rarity, index only the first |d| - ceil(t*|d|) + 1 tokens, enumerate
    * pairs sharing a prefix token, verify candidates exactly.
    *
    * Exactness: for J(A,B) >= t the overlap o satisfies o >= ceil(t*|A|);
    * the globally smallest shared token has at most |A| - o non-shared
    * tokens before it in A's rarity order, so it sits inside A's prefix --
    * and symmetrically inside B's. Every qualifying pair therefore collides
    * on at least one prefix token; exact verification removes false
    * positives, so the output equals brute force.
    *
    * Scale rationale: the candidate self-join runs over prefix tokens only
    * (the rarest ~(1-t) fraction of each doc), so bucket sizes are the
    * doc-frequencies of RARE tokens -- far below the full inverted index's
    * co-occurrence row count; verification joins the deduped candidate
    * pairs back to the id->tokens relation once per side. The block bound
    * remains the scale contract: pairs only within a block (language,
    * shard, LSH bucket), never across the corpus.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, threshold: Double,
                   onPersist: DataFrame => Unit = _ => ()): DataFrame = {
    require(threshold >= 0.0, "threshold must be non-negative")
    // spread before the tokenize (round 17): a single-split corpus scan
    // would run the whole token-set build as ONE task (Skew.spreadForCompute
    // is the identity on any already-split input)
    val t = Skew.spreadForCompute(df).select(
        col(idCol).as("id"), col(blockCol).as("blk"),
        array_sort(TextFns.tokenSet(col(textCol))).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    onPersist(t)
    val ex = t.select(col("blk"), col("id"), explode(col("toks")).as("tk"))
    // global order = (block doc-frequency asc, token): rarest-first
    // prefixes minimize candidate bucket sizes (classic AllPairs ordering)
    val dfRel = ex.groupBy(col("blk"), col("tk")).agg(count(lit(1)).as("dfc"))
    // persisted: BOTH sides of the candidate self-join consume this
    // relation, and the join broadcasts one side, so without the cache the
    // whole prefix pipeline (explode + doc-freq join + collect_list
    // re-group) executes once per side (plan-audited round 16; guide §2.4
    // duplicate-subtree removal). Freed with `t` by the caller/clearCache.
    val prefixes = ex.join(dfRel, Seq("blk", "tk"))
      .groupBy(col("blk"), col("id"))
      .agg(array_sort(collect_list(struct(col("dfc"), col("tk")))).as("st"))
      .withColumn("plen",
        (size(col("st")) - ceil(lit(threshold) * size(col("st"))) + 1).cast("int"))
      .select(col("blk"), col("id"), size(col("st")).as("sz"),
        explode(slice(transform(col("st"), s => s.getField("tk")),
          lit(1), col("plen"))).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    onPersist(prefixes)
    val a = prefixes.select(col("blk"), col("tk"), col("id").as("a_id"), col("sz").as("a_sz"))
    val b = prefixes.select(col("blk"), col("tk"), col("id").as("b_id"), col("sz").as("b_sz"))
    // LENGTH FILTER (PPJoin): J(A,B) <= min/max of the set sizes, so a pair
    // with least(sz) <= t*greatest(sz) can never pass `jac > t` — prune it
    // BEFORE the dedup and the two token joins of the verify stage. The
    // size rides the prefix rows as one int; no extra shuffle.
    val cands = a.join(b, Seq("blk", "tk")).filter(col("a_id") < col("b_id"))
      .filter(least(col("a_sz"), col("b_sz")) >
        lit(threshold) * greatest(col("a_sz"), col("b_sz")))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    cands
      .join(t.select(col("id").as("a_id"), col("toks").as("a_toks")), Seq("a_id"))
      .join(t.select(col("id").as("b_id"), col("toks").as("b_toks")), Seq("b_id"))
      .withColumn("jac", TextFns.sortedJaccard(col("a_toks"), col("b_toks")))
      .filter(col("jac") > threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** MinHash + LSH near-dup detection:
    * shingle/tokenize → k-slot minhash signature → band keys → bucket join
    * candidates → exact Jaccard verification. Candidate generation is
    * linear in corpus size (explode by #bands, shuffle on band key); only
    * same-bucket pairs are verified.
    */
  /** (id, toks, sig) relation shared by [[minHashLsh]] and
    * [[crossCorpusNearDup]]. Shingles (word n-grams) are the discriminative
    * unit for near-dup detection; bare unigram sets degenerate on
    * vocabulary-limited corpora (every doc shares the vocab → identical
    * signatures → quadratic buckets — observed live: 877s vs 3s at sf0.1).
    * Two hash families, same LSH machinery — MinHash only needs a uniform
    * per-slot hash, so the family is a free parameter:
    *  - fast (default): the native codegen'd TextFns.minHashSignature
    *    (xxhash64-derived slots) — the engine-local throughput choice;
    *  - portable: slot i = lexicographic MIN of md5("i:" || unit) hex
    *    strings — any engine with md5 (DuckDB, Trino, Postgres) reproduces
    *    signatures, band keys, candidates and verified pairs bit-exactly,
    *    which is what gives the q_dedup_minhash/q_dedup_cross oracles teeth.
    */
  private def sigBase(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int, shingleSize: Option[Int],
                      portable: Boolean): DataFrame = {
    val unit = array_sort(shingleSize
      .map(n => array_distinct(TextFns.shingles(col(textCol), n)))
      .getOrElse(TextFns.tokenSet(col(textCol))))
    val sigExpr =
      if (portable)
        array((0 until numHashes).map { i =>
          array_min(transform(col("toks"), s => md5(concat(lit(i + ":"), s))))
        }: _*)
      else TextFns.minHashSignature(col("toks"), numHashes)
    // spread before the shingle/minhash build (round 17) — identity on
    // already-split inputs, parallelizes the single-file local scan
    Skew.spreadForCompute(df)
      .select(col(idCol).as("id"), unit.as("toks")).withColumn("sig", sigExpr)
  }

  /** NARROW banded relation (band, band_key, id, sz): token arrays never
    * enter the ×bands explode or any candidate-join shuffle.
    */
  private def bandedRel(base: DataFrame, bands: Int, r: Int,
                        portable: Boolean): DataFrame = {
    val bandKeyExpr =
      if (portable) concat_ws("|", slice(col("sig"), col("band") * r + 1, lit(r)))
      else hash(slice(col("sig"), col("band") * r + 1, lit(r)), col("band")).cast("string")
    base.withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key", bandKeyExpr)
      .select(col("band"), col("band_key"), col("id"), size(col("toks")).as("sz"))
  }

  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 128, bands: Int = 32,
                 threshold: Double = 0.7,
                 shingleSize: Option[Int] = None,
                 maxBucketSize: Int = 2000,
                 onPersist: DataFrame => Unit = _ => (),
                 portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val base = sigBase(df, idCol, textCol, numHashes, shingleSize, portable)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    onPersist(base)
    val allBanded = bandedRel(base, bands, r, portable)
    // Skew guard: drop buckets above maxBucketSize before the candidate
    // join — a huge bucket means an exact-dup cluster (handled by
    // Dedup.exact) or a degenerate band; joining it is O(bucket^2).
    val bucketSizes = allBanded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select(col("band"), col("band_key"))
    // persisted: BOTH candidate-join sides consume this relation and the
    // join broadcasts one side, so without the cache the band explode +
    // skew-guard join executes once per side (round 16, same rationale as
    // jaccardPairs' prefix persist). Freed with `base` by clearCache.
    val banded = allBanded.join(bucketSizes, Seq("band", "band_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    onPersist(banded)
    val a = banded.select(col("band"), col("band_key"), col("id").as("a_id"), col("sz").as("a_sz"))
    val b = banded.select(col("band"), col("band_key"), col("id").as("b_id"), col("sz").as("b_sz"))
    // LENGTH FILTER (as in jaccardPairs): J <= min/max set sizes, so prune
    // size-incompatible bucket pairs before the verify joins
    val cands = a.join(b, Seq("band", "band_key")).filter(col("a_id") < col("b_id"))
      .filter(least(col("a_sz"), col("b_sz")) >
        lit(threshold) * greatest(col("a_sz"), col("b_sz")))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    // Exact-Jaccard verification by joining the deduped candidate PAIRS back
    // to the id→tokens relation: each side's tokens shuffle once total,
    // not once per band bucket occurrence.
    val toksRel = base.select(col("id"), col("toks"))
    cands
      .join(toksRel.select(col("id").as("a_id"), col("toks").as("a_toks")), Seq("a_id"))
      .join(toksRel.select(col("id").as("b_id"), col("toks").as("b_toks")), Seq("b_id"))
      .withColumn("jac", TextFns.sortedJaccard(col("a_toks"), col("b_toks")))
      .filter(col("jac") > threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** CROSS-corpus near-dup — flag incoming documents that near-duplicate
    * an EXISTING reference corpus (the "dedup the new crawl against what
    * we already trained on" pass; the self-join form is [[minHashLsh]]).
    * Same portable/fast MinHash families and banding; candidates come from
    * a new×ref band join (never new×new or ref×ref), the skew guard drops
    * buckets whose COMBINED population exceeds `maxBucketSize`, and exact
    * Jaccard verifies each candidate.
    *
    * Output: one verdict row per NEW doc — (new_id, is_dup, dup_of,
    * best_jac), where dup_of = MIN matching ref id and best_jac = MAX
    * verified Jaccard (deterministic aggregates, not an arbitrary argmax;
    * NULLs when no match). 100 TB shape: the reference side's signatures
    * are computed once and (in production) persisted as a table; the band
    * join shuffles ids only; re-running on each new crawl increment
    * re-reads the signature table, not the reference text.
    */
  def crossCorpusNearDup(newDocs: DataFrame, refDocs: DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 128, bands: Int = 32,
                         threshold: Double = 0.7,
                         shingleSize: Option[Int] = None,
                         maxBucketSize: Int = 2000,
                         portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val baseN = sigBase(newDocs, idCol, textCol, numHashes, shingleSize, portable).persist(lvl)
    val baseR = sigBase(refDocs, idCol, textCol, numHashes, shingleSize, portable).persist(lvl)
    val bN = bandedRel(baseN, bands, r, portable)
    val bR = bandedRel(baseR, bands, r, portable)
    val okBuckets = bN.select(col("band"), col("band_key"))
      .unionAll(bR.select(col("band"), col("band_key")))
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select(col("band"), col("band_key"))
    val a = bN.join(okBuckets, Seq("band", "band_key"))
      .select(col("band"), col("band_key"), col("id").as("new_id"), col("sz").as("a_sz"))
    val b = bR.select(col("band"), col("band_key"), col("id").as("ref_id"), col("sz").as("b_sz"))
    val cands = a.join(b, Seq("band", "band_key"))
      .filter(least(col("a_sz"), col("b_sz")) >
        lit(threshold) * greatest(col("a_sz"), col("b_sz")))
      .select(col("new_id"), col("ref_id"))
      .dropDuplicates("new_id", "ref_id")
    val matches = cands
      .join(baseN.select(col("id").as("new_id"), col("toks").as("a_toks")), Seq("new_id"))
      .join(baseR.select(col("id").as("ref_id"), col("toks").as("b_toks")), Seq("ref_id"))
      .withColumn("jac", TextFns.sortedJaccard(col("a_toks"), col("b_toks")))
      .filter(col("jac") > threshold)
      .groupBy(col("new_id"))
      .agg(min(col("ref_id")).as("dup_of"), max(col("jac")).as("best_jac"))
    newDocs.select(col(idCol).as("new_id"))
      .join(matches, Seq("new_id"), "left")
      .select(col("new_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("best_jac"))
  }

  /** SEMANTIC dedup over an embedding column (the SemDeDup shape, Abbas et
    * al. 2023): coarse-cluster the corpus by nearest centroid, flag
    * within-cluster pairs above a cosine threshold, keep the lowest-id
    * representative. Paraphrases and re-encodings that token-level MinHash
    * can't see land in the same cluster and score high cosine — this is
    * the dedup pass that runs AFTER lexical dedup in a curation stack.
    *
    * Determinism/oracle contract mirrors [[Similarity.ivfTopKQuantized]]:
    * centroids are DATA-DERIVED (the quantized vectors of `centroidIds`),
    * assignment is exact quantized cosine with the (sim DESC, list ASC)
    * tie rule, pair similarity is exact quantized cosine — any engine
    * reproduces clusters, matches and verdicts bit-for-bit.
    *
    * Output: one row per corpus vector — (vec_id, cluster, is_dup, dup_of,
    * best_sim); dup_of = MIN lower-id match, best_sim = MAX verified
    * cosine (NULLs when kept). 100 TB shape: centroids are driver-held
    * literals (KBs) so assignment is a map-side projection; the all-pairs
    * step is confined within clusters — nlist scales with the corpus
    * (SemDeDup uses ~sqrt(N) clusters) to bound per-cluster population,
    * and the one shuffle is on the cluster key.
    */
  /** The SemDeDup nlist contract IN CODE: with nlist clusters over N
    * vectors, assignment costs N·nlist cosines and the within-cluster pair
    * stage costs ≈ N²/nlist — nlist = √N equalizes the two at O(N^1.5·dim),
    * the single-level optimum (and SemDeDup's ~√N operating point; per-
    * vector candidate sets grow only ∝ √N). Truly linear pair work needs
    * FIXED cluster population (nlist ∝ N), which makes flat assignment
    * quadratic — that regime wants hierarchical/IVF coarse assignment, out
    * of scope for the single-level operator. This is the derivation
    * [[semanticAuto]] uses and the bound [[semantic]] warns against;
    * measured: 10× corpus with nlist scaled by this rule = 1.2× wall vs
    * 2.5× (pairs ×100) with nlist held fixed (SCALE.md round-9 row).
    */
  def nlistFor(corpusCount: Long): Int =
    math.max(1, math.ceil(math.sqrt(math.max(0L, corpusCount).toDouble)).toInt)

  /** Population bound above which [[semanticAuto]] switches to
    * [[semanticTwoLevel]]: below ~10⁸ vectors the coarse level's extra
    * shuffle outweighs the O(N^{4/3}) vs O(N^{3/2}) asymptotic win, and
    * the single level's √N driver centroid list (≤10⁴ vectors) is still
    * trivially collectable; above it both arguments flip (the
    * [[semanticTwoLevel]] scaladoc's operating-point note, now enforced
    * in code rather than left to the caller).
    */
  val TwoLevelAbove: Long = 100000000L

  /** [[semantic]] with the nlist ∝ √N contract applied automatically:
    * counts the corpus, derives nlist = ⌈√N⌉, and picks centroid ids
    * deterministically as the MIN id of each of ⌈√N⌉ PORTABLE-HASH buckets
    * (`u32(md5('cent:'||id)) % nlist` — the repo's md5 unit-hash
    * convention, Sampling.scala). Hash bucketing, not id-range striping:
    * the bucket count is ≤ nlist BY CONSTRUCTION for any id space —
    * sparse, negative, or beyond 2^53 — where range stripes could occupy
    * far more than √N stripes and defeat the contract, and the arithmetic
    * is pure integer (no double division, no trunc-vs-floor divergence).
    * One narrow hash-agg over the id column, no sort; the collect is
    * ≤ ⌈√N⌉ longs. Use the explicit-centroid overload when a trained
    * k-means codebook (Similarity.trainCentroids) is available.
    *
    * Above `twoLevelAbove` vectors (default [[TwoLevelAbove]] = 10⁸) the
    * call auto-selects [[semanticTwoLevel]] — same verdict contract, the
    * O(N^{4/3}) coarse→fine path whose fine codebook never rides the
    * driver — and says so via ScaleWarnings. Cluster labels differ
    * between the paths by documented design (list indices vs fine
    * centroid corpus ids).
    */
  def semanticAuto(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, scale: Int = 10000,
                   twoLevelAbove: Long = TwoLevelAbove): DataFrame = {
    val n = corpus.count()
    require(n > 0, "semanticAuto needs a non-empty corpus")
    if (n >= twoLevelAbove) {
      graft.sql.ScaleWarnings.warn(
        s"semanticAuto: $n vectors >= two-level cutover $twoLevelAbove — " +
          "selecting semanticTwoLevel (coarse->fine IVF, O(N^(4/3)) work, " +
          "fine codebook stays distributed); single-level at nlist=sqrt(N) " +
          s"would collect ${nlistFor(n)} driver centroids and pay O(N^1.5)")
      return semanticTwoLevel(corpus, idCol, vecCol, threshold, scale,
        precount = Some(n))
    }
    val k = nlistFor(n)
    val ids = corpus
      .select(col(idCol).cast("long").as("id"))
      .withColumn("bucket",
        pmod(conv(substring(md5(concat(lit("cent:"), col("id").cast("string"))),
          1, 8), 16, 10).cast("long"), lit(k.toLong)))
      .groupBy(col("bucket")).agg(min(col("id")).as("id"))
      .select(col("id")).collect().map(_.getLong(0)).toSeq.sorted
    semantic(corpus, idCol, vecCol, threshold, ids, scale)
  }

  /** Quantize + argmax-cosine assignment against a driver-held centroid
    * list: (vec_id, qv, cluster) with cluster = the argmax centroid's
    * LIST INDEX under the (sim DESC, list ASC) tie rule. The imperative
    * per-partition loop (not a Catalyst array_max over nlist structs) is
    * deliberate: with nlist ∝ √N the expression tree would grow with the
    * corpus and optimizer/codegen cost dominates (the q_sim_pq lesson,
    * SCALE.md); the loop evaluates the identical exact long sums and one
    * double divide, bit-for-bit. Centroid norms hoist out of the row loop.
    */
  private def assignQ(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: Seq[Seq[Long]], scale: Int): DataFrame = {
    val centArr: Array[Array[Long]] = cents.map(_.toArray).toArray
    val centNorm: Array[Long] = centArr.map(c => c.map(y => y * y).sum)
    val eSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType)))
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .mapPartitions { it =>
        it.map { r =>
          if (r.isNullAt(1)) org.apache.spark.sql.Row(r.getLong(0), null, null)
          else {
            val raw = r.getSeq[Number](1)
            val qv = new Array[Long](raw.length)
            var i = 0
            while (i < qv.length) {
              qv(i) = math.floor(raw(i).doubleValue() * scale + 0.5).toLong
              i += 1
            }
            var na = 0L; i = 0
            while (i < qv.length) { na += qv(i) * qv(i); i += 1 }
            var best = 0; var bestSim = Double.NegativeInfinity
            var j = 0
            while (j < centArr.length) {
              val c = centArr(j)
              val n = math.min(qv.length, c.length)
              var d = 0L; var t = 0
              while (t < n) { d += qv(t) * c(t); t += 1 }
              // truncated-norm edge: if dims differ, norms over min(n) only
              val (nav, nbv) =
                if (n == qv.length && n == c.length) (na, centNorm(j))
                else {
                  var a2 = 0L; var b2 = 0L; var u = 0
                  while (u < n) { a2 += qv(u) * qv(u); b2 += c(u) * c(u); u += 1 }
                  (a2, b2)
                }
              val sim =
                if (nav == 0L || nbv == 0L) 0.0
                else d.toDouble / (math.sqrt(nav.toDouble) * math.sqrt(nbv.toDouble))
              if (sim > bestSim) { bestSim = sim; best = j }
              j += 1
            }
            org.apache.spark.sql.Row(r.getLong(0), qv.toSeq, best.toLong)
          }
        }
      }(org.apache.spark.sql.Encoders.row(eSchema))
  }

  def semantic(corpus: DataFrame, idCol: String, vecCol: String,
               threshold: Double, centroidIds: Seq[Long],
               scale: Int = 10000): DataFrame = {
    require(centroidIds.nonEmpty, "need at least one centroid id")
    val centRows = corpus
      .filter(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).cast("long").as("id"),
        VectorFns.quantize(col(vecCol), scale).as("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val cents: Seq[Seq[Long]] = centroidIds.map(id => centRows.getOrElse(id,
      throw new IllegalArgumentException(s"centroid id $id not in corpus")))
    // persist: quantize + nlist cosine evaluations per vector (assignQ) is
    // the expensive map stage, and `e` feeds BOTH self-join sides plus the
    // verdict spine — without it Spark recomputes the assignment 3x
    // (the minHashLsh sigBase rationale)
    val e = assignQ(corpus, idCol, vecCol, cents, scale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // enforce the nlist ∝ √N contract (see nlistFor): count() here is NOT
    // an extra pass — it materializes the persisted assignment every
    // downstream stage reads anyway. The bound is on expected cluster
    // POPULATION (pairs/cluster = pop²/2): pop ≤ 4·√N ⇔ 16·nlist² ≥ N
    // accepts any nlist down to √N/4; below that the within-cluster pair
    // stage is measurably quadratic (SCALE.md's fixed-nlist 10× row:
    // 2.3× wall, pairs ×100).
    val nVecs = e.count()
    if (16L * centroidIds.size * centroidIds.size < nVecs)
      graft.sql.ScaleWarnings.warn(
        s"semantic dedup: nlist=${centroidIds.size} for $nVecs vectors — " +
          "within-cluster pairing is quadratic in cluster population " +
          s"(expected ${nVecs / centroidIds.size}/cluster); pass nlist ≈ " +
          s"sqrt(N) = ${nlistFor(nVecs)} centroids (Dedup.nlistFor / " +
          "semanticAuto) to balance assignment and pairing at the " +
          "single-level optimum")
    val a = e.select(col("cluster"), col("vec_id").as("a_id"), col("qv").as("a_qv"))
    val b = e.select(col("cluster"), col("vec_id").as("b_id"), col("qv").as("b_qv"))
    val matches = a.join(b, Seq("cluster")).filter(col("b_id") < col("a_id"))
      .withColumn("sim", VectorFns.cosineQ(col("a_qv"), col("b_qv")))
      .filter(col("sim") > threshold)
      .groupBy(col("a_id"))
      .agg(min(col("b_id")).as("dup_of"), max(col("sim")).as("best_sim"))
    e.select(col("vec_id"), col("cluster"))
      .join(matches.withColumnRenamed("a_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("best_sim"))
  }

  /** TWO-LEVEL SemDeDup — the scale path past the single-level O(N^1.5)
    * optimum ([[nlistFor]] derivation). Coarse→fine IVF-style assignment:
    *
    *   level 1: K coarse centroids, flat argmax assignment     → N·K cosines
    *   level 2: ≤K fine centroids chosen WITHIN each coarse
    *            cell, assignment by a coarse-key join (the fine
    *            codebook is never driver-collected)             → ≤N·K cosines
    *   pairing: within fine cells, population ≈ N/K²            → N²/K² pairs
    *
    * Total 2NK + N²/K², minimized at K = ⌈N^(1/3)⌉ → **O(N^(4/3))** vs the
    * single-level N^(3/2): at 10¹² docs that is ~10^16 → ~10^16/10^2, two
    * orders less work, and — unlike single-level at nlist=√N — the fine
    * codebook (K² ≤ N^(2/3) centroids) stays DISTRIBUTED (coarse-keyed
    * relation), only the K ≤ N^(1/3) coarse centroids ride the driver.
    *
    * Determinism contract (same family as [[semanticAuto]], every step
    * engine-replayable): coarse centroid ids = min id per
    * `u32(md5('cent:'||id)) % K` bucket; fine centroid ids = min id per
    * (coarse cell, `u32(md5('cent2:'||id)) % K`) bucket; both assignments
    * are exact quantized cosine with the (sim DESC, centroid-id ASC) tie
    * rule; `cluster` in the output is the fine centroid's vec_id (globally
    * unique — it IS a corpus id). Same output schema/verdict contract as
    * [[semantic]]: (vec_id, cluster, is_dup, dup_of, best_sim).
    *
    * Single-level [[semanticAuto]] stays the default operating point:
    * below ~10⁸ vectors the coarse level's extra shuffle outweighs the
    * asymptotic win, and its cluster labels are centroid list indices the
    * existing oracle replays. Use this when the corpus outgrows √N driver
    * centroids or the N^1.5 budget.
    */
  def semanticTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, scale: Int = 10000,
                       kOverride: Option[Int] = None,
                       precount: Option[Long] = None): DataFrame = {
    // precount: semanticAuto already counted the corpus for the cutover
    // decision — don't pay the scan twice
    val n = precount.getOrElse(corpus.count())
    require(n > 0, "semanticTwoLevel needs a non-empty corpus")
    val k = kOverride.getOrElse(
      math.max(1, math.ceil(math.cbrt(n.toDouble)).toInt))
    // coarse centroids: ≤k hash-bucket min ids, driver-held (≤ N^(1/3))
    val coarseIds = corpus
      .select(col(idCol).cast("long").as("id"))
      .withColumn("bucket",
        pmod(conv(substring(md5(concat(lit("cent:"), col("id").cast("string"))),
          1, 8), 16, 10).cast("long"), lit(k.toLong)))
      .groupBy(col("bucket")).agg(min(col("id")).as("id"))
      .select(col("id")).collect().map(_.getLong(0)).toSeq.sorted
    val centRows = corpus
      .filter(col(idCol).isin(coarseIds: _*))
      .select(col(idCol).cast("long").as("id"),
        VectorFns.quantize(col(vecCol), scale).as("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val cents: Seq[Seq[Long]] = coarseIds.map(centRows(_))
    // level 1: flat assignment; persist — feeds fine-centroid selection,
    // the fine assignment join, and the verdict spine
    val e1 = assignQ(corpus, idCol, vecCol, cents, scale)
      .withColumnRenamed("cluster", "coarse")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // level 2 centroids: min id per (coarse, hash bucket) — a RELATION,
    // joined back to e1 for the vectors; never collected
    val fineIds = e1
      .withColumn("b2",
        pmod(conv(substring(md5(concat(lit("cent2:"),
          col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long"),
          lit(k.toLong)))
      .groupBy(col("coarse"), col("b2")).agg(min(col("vec_id")).as("fid"))
      .select(col("coarse"), col("fid"))
    val fineCents = fineIds
      .join(e1.select(col("vec_id").as("fid"), col("qv").as("fqv")), "fid")
    // fine assignment: coarse-key join fans each vector out to its cell's
    // ≤k fine centroids; exact quantized cosine; (sim DESC, fid ASC) pick
    val cand = e1.join(fineCents, Seq("coarse"))
      .withColumn("sim_f", VectorFns.cosineQ(col("qv"), col("fqv")))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("sim_f").desc, col("fid").asc)
    val e2 = cand
      .withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("qv"), col("fid").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pairing + verdict spine — identical contract to semantic()
    val a = e2.select(col("cluster"), col("vec_id").as("a_id"), col("qv").as("a_qv"))
    val b = e2.select(col("cluster"), col("vec_id").as("b_id"), col("qv").as("b_qv"))
    val matches = a.join(b, Seq("cluster")).filter(col("b_id") < col("a_id"))
      .withColumn("sim", VectorFns.cosineQ(col("a_qv"), col("b_qv")))
      .filter(col("sim") > threshold)
      .groupBy(col("a_id"))
      .agg(min(col("b_id")).as("dup_of"), max(col("sim")).as("best_sim"))
    e2.select(col("vec_id"), col("cluster"))
      .join(matches.withColumnRenamed("a_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("best_sim"))
  }

  /** Streaming near-duplicate detection at ingest: MinHash+LSH banding
    * with the bucket membership held in watermark-bounded keyed state —
    * the streaming twin of [[minHashLsh]], for "drop near-dups as the
    * corpus feed arrives" pipelines.
    *
    * Shape: one pass computes the signature (native [[TextFns.minHashSignature]]
    * expression), an explode emits `bands` slim (bucket, id, ts, sig) rows,
    * and a `flatMapGroupsWithState` keyed by the 64-bit bucket hash holds
    * each bucket's admitted members. An arrival is verified against the
    * bucket's members by ESTIMATED Jaccard — the fraction of agreeing
    * signature slots, concentrated within ±~1/sqrt(numHashes) of the true
    * value — and flagged with the earliest qualifying member id. Flagged
    * arrivals are NOT recorded (the canonical member stays), so state per
    * bucket is proportional to DISTINCT near-dup classes in the horizon,
    * not arrivals.
    *
    * State hygiene: members expire once the event-time watermark passes
    * `ts + horizon` (no future in-horizon arrival can match them — mirrors
    * [[streamingExact]]'s dropDuplicatesWithinWatermark bound); idle buckets
    * drop their state entirely via EventTimeTimeout. `maxBucketSize` is the
    * skew guard: a saturated bucket (degenerate band or an exact-dup storm;
    * the batch path drops such buckets too) stops recording members, counts
    * the drops, and keeps verifying against what it holds.
    *
    * Output: one verdict row PER BAND (id, ts_us, band, dup_of, est_jaccard)
    * — all of a document's band rows emit in the micro-batch it arrives in,
    * so the per-document decision is batch-local: resolve with
    * [[resolveNearDupVerdicts]] inside `foreachBatch` (Spark does not allow
    * further stateful operators downstream of flatMapGroupsWithState).
    *
    * 100 TB shape: state shards by bucket hash across executors; shuffles
    * carry (bucket, id, ts, sig) — ~numHashes×8 bytes per row, never token
    * arrays; per admitted doc the cluster-wide state is bands×(16 +
    * 8×numHashes) bytes within the horizon, linear and watermark-evicted.
    */
  def streamingNearDup(df: DataFrame, idCol: String, textCol: String,
                       tsCol: String, horizon: String,
                       numHashes: Int = 128, bands: Int = 32,
                       threshold: Double = 0.7,
                       shingleSize: Option[Int] = None,
                       maxBucketSize: Int = 2000): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(df.isStreaming, "streamingNearDup needs a streaming DataFrame; " +
      "use minHashLsh() for batch")
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val r = numHashes / bands
    val horizonUs = durationUs(horizon)
    val unit = array_sort(shingleSize
      .map(n => array_distinct(TextFns.shingles(col(textCol), n)))
      .getOrElse(TextFns.tokenSet(col(textCol))))
    val banded = df.select(
        col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol).cast("timestamp")).as("tsUs"),
        col(tsCol).cast("timestamp").as("eventTime"),
        TextFns.minHashSignature(unit, numHashes).as("sig"))
      .withWatermark("eventTime", horizon)
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bucket",
        xxhash64(slice(col("sig"), col("band") * r + 1, lit(r)), col("band")))
      .select(col("bucket"), col("band"), col("id"), col("tsUs"), col("sig"),
        col("eventTime"))
    implicit val rowEnc: Encoder[NearDupBandRow] = Encoders.product[NearDupBandRow]
    implicit val stEnc: Encoder[Array[Byte]] = Encoders.BINARY
    val codec = NearDupBucketState.codec
    implicit val outEnc: Encoder[NearDupVerdict] = Encoders.product[NearDupVerdict]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    def estJac(a: Seq[Long], b: Seq[Long]): Double = {
      var eq = 0; var i = 0
      while (i < numHashes) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / numHashes
    }
    val ds = banded.as[NearDupBandRow](rowEnc)
    ds.groupByKey(_.bucket).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (_: Long, it: Iterator[NearDupBandRow], state: GroupState[Array[Byte]]) =>
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        def live(ms: Seq[NearDupMember]): Seq[NearDupMember] =
          ms.filter(m => m.tsUs + horizonUs >= wmUs)
        if (state.hasTimedOut) {
          val st = state.getOption.fold(NearDupBucketState(Nil, 0L))(codec.decode)
          val kept = live(st.members)
          if (kept.isEmpty) state.remove()
          else {
            state.update(codec.encode(st.copy(members = kept)))
            state.setTimeoutTimestamp(math.max(
              (kept.map(_.tsUs + horizonUs).max + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          Iterator.empty
        } else {
          val st = state.getOption.fold(NearDupBucketState(Nil, 0L))(codec.decode)
          var members = live(st.members).toVector
          var drops = st.saturatedDrops
          val out = Vector.newBuilder[NearDupVerdict]
          // deterministic arrival order inside the micro-batch
          it.toSeq.sortBy(e => (e.tsUs, e.id)).foreach { e =>
            val hit = members.iterator
              .filter(m => e.tsUs - m.tsUs <= horizonUs && m.tsUs - e.tsUs <= horizonUs)
              .map(m => (m, estJac(m.sig, e.sig)))
              .filter(_._2 >= threshold)
              .reduceOption((x, y) => if (x._1.tsUs <= y._1.tsUs) x else y)
            hit match {
              case Some((m, j)) =>
                out += NearDupVerdict(e.id, e.tsUs, e.band, Some(m.id), Some(j))
              case None =>
                out += NearDupVerdict(e.id, e.tsUs, e.band, None, None)
                if (members.size < maxBucketSize)
                  members :+= NearDupMember(e.id, e.tsUs, e.sig)
                else drops += 1L
            }
          }
          if (drops > st.saturatedDrops && st.saturatedDrops == 0L)
            graft.sql.ScaleWarnings.warn(
              s"streamingNearDup: bucket saturated past maxBucketSize=" +
                s"$maxBucketSize — new members unrecorded (degenerate band " +
                "or exact-dup storm; raise maxBucketSize or pre-dedup exactly)")
          // a memberless bucket holds nothing verifiable — drop the state
          // entirely (keeping a drops-counter shell would leak one entry
          // per ever-saturated bucket, with no timeout to reap it; the
          // worst cost of forgetting is a repeated saturation warning)
          if (members.isEmpty) state.remove()
          else {
            state.update(codec.encode(NearDupBucketState(members, drops)))
            state.setTimeoutTimestamp(math.max(
              (members.map(_.tsUs + horizonUs).max + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
        }
    }.toDF("id", "ts_us", "band", "dup_of", "est_jaccard")
  }

  /** Batch-local resolution of [[streamingNearDup]] verdict rows to one
    * decision per document: a doc is a near-duplicate iff ANY band flagged
    * it; `dup_of` is the earliest-admitted flagging member (min id among
    * qualifying bands' hits ties the knot deterministically). Run inside
    * `foreachBatch` — every band row of a doc lands in the same micro-batch.
    *
    * DUP_OF-CHAIN CONTRACT: a doc can be admitted as a bucket member by the
    * bands that did not flag it even when another band did — so a later
    * arrival's `dup_of` may name a doc that was itself dropped as a dup.
    * Within the batch this resolver pointer-jumps such chains to their
    * kept root (log-depth rounds); chains that cross micro-batches cannot
    * be chased here (the earlier drop is not in this batch) — consumers
    * keeping a global id→dup_of map should chase ids, or accept transitive
    * drops. `est_jaccard` always refers to the DIRECT match, not the root.
    */
  def resolveNearDupVerdicts(verdicts: DataFrame): DataFrame = {
    val base = verdicts.groupBy(col("id"), col("ts_us"))
      .agg(min(col("dup_of")).as("dup_of"),
        max(col("est_jaccard")).as("est_jaccard"))
    // pointer-jump within the batch: adopt the parent's dup_of while the
    // parent itself resolved as a dup (chain depth halves per round; 4
    // rounds covers depth-16 chains — deeper means a degenerate bucket)
    var cur = base
    for (_ <- 0 until 4) {
      // parent relation deduplicated to ONE row per id (earliest ts_us):
      // rows are keyed by (id, ts_us), but the jump joins on id alone — a
      // same-id-two-timestamps batch would otherwise fan out per parent
      // row, compounding up to 16x over the 4 rounds
      val parents = cur.groupBy(col("id").as("__pid"))
        .agg(min_by(col("dup_of"), col("ts_us")).as("__pdup"))
      cur = cur.as("x")
        .join(parents.as("p"),
          col("x.dup_of") === col("__pid"), "left_outer")
        .select(col("x.id").as("id"), col("x.ts_us").as("ts_us"),
          coalesce(col("__pdup"), col("x.dup_of")).as("dup_of"),
          col("x.est_jaccard").as("est_jaccard"))
    }
    cur.withColumn("is_dup", col("dup_of").isNotNull)
  }

  /** Spark duration string → microseconds (the subset the streaming dedup
    * horizons use).
    */
  private def durationUs(s: String): Long = {
    val m = "(?i)^\\s*(\\d+)\\s*(millisecond|second|minute|hour|day)s?\\s*$".r
      .findFirstMatchIn(s).getOrElse(throw new IllegalArgumentException(
        s"bad duration '$s' — expected 'n milliseconds|seconds|minutes|hours|days'"))
    val n = m.group(1).toLong
    n * (m.group(2).toLowerCase match {
      case "millisecond" => 1000L
      case "second" => 1000000L
      case "minute" => 60L * 1000000L
      case "hour" => 3600L * 1000000L
      case "day" => 86400L * 1000000L
    })
  }

  /** SimHash near-dup: 64-bit signature, 4×16-bit band blocking, Hamming
    * verification via bit_count(xor). A pair within Hamming distance d<=3
    * shares at least one of the 4 bands (pigeonhole) → recall 1.0 for d<=3.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    simHashBandedPairs(df.select(col(idCol).as("id"),
      TextFns.simHash(TextFns.tokens(col(textCol))).as("sh")), maxHamming)

  /** Portable SimHash family: each token's 64-bit fingerprint is the first
    * 16 hex digits of md5(token) (bit j = bit (3 - j%4) of hex digit j/4),
    * summed with ±1 weights per occurrence; signature bit j is 1 iff the
    * column sum is >= 0. Pure md5 + ascii + shift arithmetic, so any SQL
    * engine reproduces the packed signature — and therefore the banded
    * candidate pairs — bit-exactly (the q_dedup_simhash oracle path). The
    * default family (TextFns.simHash, one-pass native expression) remains
    * the engine-local throughput choice.
    */
  def simHashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        explode(TextFns.tokens(col(textCol))).as("tk"))
      .withColumn("h", md5(col("tk")))
    // hex digit value without needle-column instr: ascii arithmetic
    def digit(pos: Int) = {
      val a = ascii(substring(col("h"), pos + 1, 1))
      when(a <= 57, a - 48).otherwise(a - 87)
    }
    val aggCols = (0 until 64).map { j =>
      val bit = shiftright(digit(j / 4), 3 - j % 4).bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"c$j")
    }
    val sums = tok.groupBy(col("id")).agg(aggCols.head, aggCols.tail: _*)
    val sh = (0 until 64).map { j =>
      shiftleft(when(col(s"c$j") >= 0, 1L).otherwise(0L), j)
    }.reduce((a, b) => a.bitwiseOR(b))
    simHashBandedPairs(sums.select(col("id"), sh.as("sh")), maxHamming)
  }

  /** Exact substring-duplication statistics at token-window granularity —
    * the Spark-shaped counterpart of suffix-array substring dedup (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"): a
    * length-k token window slides at stride 1 over each document; a window
    * whose exact text occurs in more than one document marks a duplicated
    * span. Output per document: total windows, windows inside
    * cross-document duplicated spans, and the duplicated fraction — the
    * signal used to drop or trim boilerplate-heavy documents.
    *
    * Plan shape (the 100 TB contract): explode to (window, doc) pairs, ONE
    * exchange on the window key; the per-window doc-count agg and the
    * flag-back join both reuse that partitioning; the final per-doc rollup
    * shuffles only (doc_id, two counts). At corpus scale the window string
    * would be xxhash64(window) so the exchange carries 8-byte keys — the
    * string form is kept because the DuckDB oracle replays it exactly, and
    * the plans are identical either way.
    */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    require(k >= 2, s"window must be >= 2 tokens, got $k")
    val toks = Skew.spreadForCompute(df)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("t"))
      .withColumn("n", size(col("t")))
    val wins = toks.filter(col("n") >= k)
      .select(col(idCol), explode(transform(sequence(lit(0), col("n") - k),
        i => concat_ws(" ", slice(col("t"), i + 1, lit(k))))).as("win"))
    // per-(window, doc) multiplicity, then per-window doc count as a WINDOW
    // over the aggregated pairs — pairs has exactly one row per (win, doc),
    // so count(*) over (partition by win) IS the distinct doc count. The
    // former groupBy(win) + join-back consumed `pairs` twice, re-executing
    // the corpus-wide window explode once per consumer (two identical
    // 7.6 MB exchange stages, plan-audited round 16; guide §2.4).
    val pairs = wins.groupBy(col("win"), col(idCol)).agg(count(lit(1)).as("c"))
    val wWin = org.apache.spark.sql.expressions.Window.partitionBy(col("win"))
    val perDoc = pairs.withColumn("ndocs", count(lit(1)).over(wWin))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_windows"),
           sum(when(col("ndocs") > 1, col("c")).otherwise(0L)).as("n_dup_windows"))
    toks.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio",
        when(col("n_windows") > 0,
          col("n_dup_windows").cast("double") / col("n_windows")).otherwise(0.0))
  }

  /** IMAGE near-dup by perceptual hash: [[Multimodal.DHash]] fingerprints
    * (map-side, one decoder pass over the blob scan — blobs never shuffle)
    * banded through the same 4×16-bit blocking + Hamming verify as
    * [[simHashPairs]]. Catches re-encodes/resizes/small edits that
    * byte-digest dedup can't see — the image half of corpus dedup.
    * Undecodable payloads drop out (no fingerprint, no pairs).
    */
  def imageNearDup(df: DataFrame, idCol: String, binCol: String,
                   maxHamming: Int = 6): DataFrame =
    fingerprintNearDup(df, idCol, binCol, Multimodal.DHash.hash, maxHamming)

  /** AUDIO near-dup by [[Multimodal.AudioHash]] — same shape as
    * [[imageNearDup]] over the 1-D energy-profile fingerprint.
    */
  def audioNearDup(df: DataFrame, idCol: String, binCol: String,
                   maxHamming: Int = 6): DataFrame =
    fingerprintNearDup(df, idCol, binCol, Multimodal.AudioHash.hash, maxHamming)

  private def fingerprintNearDup(df: DataFrame, idCol: String, binCol: String,
                                 hashFn: Array[Byte] => Option[Long],
                                 maxHamming: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val pruned = df.select(col(idCol).cast("long").as("id"), col(binCol).as("bin"))
    val schema = StructType(Seq(StructField("id", LongType), StructField("sh", LongType)))
    val base = pruned.mapPartitions { it =>
      it.flatMap { r =>
        hashFn(r.getAs[Array[Byte]](1)).map(h => Row(r.getLong(0), h))
      }
    }(Encoders.row(schema))
    simHashBandedPairs(base, maxHamming)
  }

  /** Exact substring-span REMOVAL — the remove half of the suffix-array
    * dedup family ([[substringDupStats]] is the measure half): every token
    * covered by a k-token window whose exact text occurs in `minDocs`+
    * DISTINCT documents is dropped from every document, and the survivors
    * re-join in order. The standard pass for boilerplate spans (license
    * headers, navigation chrome) that repeat verbatim across a crawl.
    *
    * Output: one row per doc — (id, clean_text, n_tokens, n_removed);
    * whitespace collapses to single spaces in `clean_text` (tokens are the
    * unit). Docs shorter than k tokens pass through untouched.
    *
    * Scale shape: same as substringDupStats — ONE wide exchange on the
    * window key (the doc-frequency agg and the flag-back join reuse its
    * partitioning; at corpus scale the key becomes xxhash64), the coverage
    * explode is narrow (id, pos), and the reassembly is the one doc-keyed
    * shuffle.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int, minDocs: Int = 2): DataFrame = {
    require(k >= 1, s"window size k must be >= 1, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = Skew.spreadForCompute(df)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("t"))
    val wins = base.filter(size(col("t")) >= k)
      .select(col(idCol), explode(transform(sequence(lit(0), size(col("t")) - k),
        i => struct(i.as("i"),
          concat_ws(" ", slice(col("t"), i + 1, lit(k))).as("win")))).as("w"))
      .select(col(idCol), col("w.i").as("i"), col("w.win").as("win"))
    // duplicate-window flagging as ONE pipeline: collapse to one row per
    // (win, doc) carrying the doc's hit positions, count docs per window
    // with a window function, and re-explode the qualifying positions. The
    // former groupBy(win) count_distinct + join-back consumed `wins` twice,
    // re-executing the corpus-wide window explode once per consumer (two
    // identical 7.6 MB exchange stages, plan-audited round 16; guide §2.4).
    val g = wins.groupBy(col("win"), col(idCol))
      .agg(collect_list(col("i")).as("is"))
    val wWin = org.apache.spark.sql.expressions.Window.partitionBy(col("win"))
    val removedPos = g.withColumn("nd", count(lit(1)).over(wWin))
      .filter(col("nd") >= minDocs)
      .select(col(idCol), explode(col("is")).as("i"))
      .select(col(idCol), explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .distinct()
    val rem = removedPos.groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("rem"))
    base.join(rem, Seq(idCol), "left")
      .select(col(idCol), col("t"),
        coalesce(col("rem"), array().cast("array<int>")).as("rem"))
      .select(col(idCol),
        concat_ws(" ",
          filter(col("t"), (_, idx) => !array_contains(col("rem"), idx)))
          .as("clean_text"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("rem")).cast("long").as("n_removed"))
  }

  /** Shared 4×16-bit band blocking + Hamming verification over a packed
    * (id, sh: long) signature relation — see [[simHashPairs]] scaladoc for
    * the pigeonhole recall argument.
    */
  private def simHashBandedPairs(base: DataFrame, maxHamming: Int): DataFrame = {
    val banded = base.withColumn("band", explode(sequence(lit(0), lit(3))))
      .withColumn("band_key",
        expr("shiftrightunsigned(sh, band * 16)").bitwiseAND(lit(0xFFFFL)))
    val a = banded.select(col("band"), col("band_key"), col("id").as("a_id"), col("sh").as("a_sh"))
    val b = banded.select(col("band"), col("band_key"), col("id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, Seq("band", "band_key")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Entity-name fuzzy pairs (record linkage — the edit-distance sibling
    * of the token-set [[jaccardPairs]]): the join runs over the DISTINCT-
    * NAME dictionary (names with multiplicities), never row-level — at
    * corpus scale the dictionary is orders of magnitude smaller than the
    * table, and the output multiplicity is the count product. Blocking =
    * the LAST name token (the head noun in entity names) + the Levenshtein
    * length-band lower bound `|len(a)−len(b)| ≤ d`; verification is the
    * exact edit distance (both engines implement classic Levenshtein, so
    * the relation is oracle-replayable). Blocking is the documented recall
    * trade: pairs whose head token itself is misspelled need a second pass
    * blocked on another key (first token, phonetic key) unioned in.
    */
  def fuzzyNamePairs(df: DataFrame, nameCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // the self-join's two sides share an identical aggregation subplan, so
    // Spark's ReuseExchange serves both from ONE shuffle — no persist (a
    // cache here would sit in the session's CacheManager until clearCache,
    // leaking for library callers that compose operators)
    val n = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .select(col("name"), col("cnt"),
        element_at(split(col("name"), " "), -1).as("blk"),
        length(col("name")).as("ln"))
    val a = n.select(col("name").as("a_name"), col("cnt").as("a_cnt"),
      col("blk"), col("ln").as("a_ln"))
    val b = n.select(col("name").as("b_name"), col("cnt").as("b_cnt"),
      col("blk"), col("ln").as("b_ln"))
    a.join(b, Seq("blk"))
      .filter(col("a_name") < col("b_name") &&
        abs(col("a_ln") - col("b_ln")) <= maxDist)
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a_name"), col("b_name"), col("dist"),
        (col("a_cnt") * col("b_cnt")).as("n_pairs"))
  }
}
