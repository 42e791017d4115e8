package graft.queries

import org.apache.spark.sql.functions._
import graft.{RunMode, Tables}
import graft.functions.VectorFns
import graft.operators.Dedup

/** Deduplication over `documents`/`embeddings` (beyond-reference LLM-data
  * operators). Exact dedup, blocked Jaccard, and quantized-cosine near-dup
  * carry full DuckDB oracles; MinHash-LSH and SimHash use engine-specific
  * hash families, so they get rows-only checks plus a ScalaTest spec that
  * cross-validates LSH candidates against the exact Jaccard operator.
  */
object DedupQueries extends QueryFamily {

  def defs: Seq[QueryDef] = Seq(

    // Exact dedup by canonical-text digest (hash groupBy — one shuffle).
    QueryDef(
      "q_dedup_exact",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        Dedup.exact(d, "doc_id", "text")
          .orderBy(col("digest"))
      },
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest,
             |  min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Token-set Jaccard pairs, blocked by language (all-pairs only within a
    // block — the scale contract; cross-corpus pairs go through LSH).
    QueryDef(
      "q_dedup_jaccard",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        // checkpoint-then-sort (round 17): a bare orderBy's sampling pass
        // RECOMPUTES the whole candidate+verify pipeline (observed 2.7x in
        // r16), and the former repartition(1)+sortWithinPartitions fix
        // serialized the final sort into ONE task — 5.4 s (51% of the
        // query) at sf1 where the pair relation is 38 MB. Eagerly
        // materializing the pipeline once lets the range sort sample and
        // sort the RESULT in parallel with no recompute. Same rows, same
        // total (a_id, b_id) order.
        graft.operators.Checkpoints.flat(
            Dedup.jaccardPairs(d, "doc_id", "text", "source", 0.6))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    list_distinct(string_split_regex(trim(text), '\s+')) AS toks
             |  FROM documents)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
             |    / CAST(len(a.toks) + len(b.toks)
             |           - len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE) AS jac
             |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
             |WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
             |    / CAST(len(a.toks) + len(b.toks)
             |           - len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE) > 0.6
             |ORDER BY a_id, b_id""".stripMargin)),

    // MinHash + LSH near-dup pairs with a FULL cross-engine oracle: the
    // portable md5-lexicographic hash family (see Dedup.minHashLsh scaladoc)
    // lets DuckDB recompute signatures, band buckets, skew-guarded
    // candidates and exact-Jaccard verification bit-for-bit. The fast
    // xxhash64 family stays covered by DedupSpec's recall cross-validation.
    QueryDef(
      "q_dedup_minhash",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        // checkpoint-then-sort — see q_dedup_jaccard
        graft.operators.Checkpoints.flat(
          Dedup.minHashLsh(d, "doc_id", "text", numHashes = 16, bands = 4,
            threshold = 0.6, shingleSize = Some(3), maxBucketSize = 500,
            // Verify: portable family (bit-exact DuckDB oracle). Bench:
            // production xxhash64 family, so the measured cost is the
            // production plan's (RunMode scaladoc).
            portable = !RunMode.productionHash))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(minHashOracle)),

    // CROSS-corpus near-dup: docs >= 250 are the "incoming crawl", docs
    // < 250 the "already-trained reference"; every incoming doc gets a
    // deterministic verdict (is_dup, min matching ref id, max Jaccard).
    // Same portable family + parameters as q_dedup_minhash, so DuckDB
    // replays signatures, the new x ref band join, the combined-bucket skew
    // guard, and the exact-Jaccard verify bit-for-bit.
    QueryDef(
      "q_dedup_cross",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        // checkpoint-then-sort — see q_dedup_jaccard
        graft.operators.Checkpoints.flat(Dedup.crossCorpusNearDup(
            d.filter(col("doc_id") >= 250), d.filter(col("doc_id") < 250),
            "doc_id", "text", numHashes = 16, bands = 4, threshold = 0.6,
            shingleSize = Some(3), maxBucketSize = 500,
            portable = !RunMode.productionHash))
          .orderBy(col("new_id"))
      },
      Some(crossCorpusOracle)),

    // SimHash near-dup pairs within Hamming distance 3, portable md5-bit
    // fingerprint family — full oracle (banding + Hamming verify recomputed
    // by DuckDB); the native one-pass SimHash64 expression stays spec-level.
    QueryDef(
      "q_dedup_simhash",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        // Same family gate as q_dedup_minhash above.
        (if (RunMode.productionHash) Dedup.simHashPairs(d, "doc_id", "text", maxHamming = 3)
         else Dedup.simHashPairsPortable(d, "doc_id", "text", maxHamming = 3))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(simHashOracle)),

    // SEMANTIC dedup (SemDeDup): coarse-cluster embeddings by nearest
    // data-derived centroid (vec_ids 10..17, the q_sim_ivf convention),
    // flag within-cluster pairs above quantized-cosine 0.4, keep the
    // lowest id. Every vector gets a verdict row; DuckDB replays
    // assignment (sim DESC, list ASC tie rule), pairing, and the
    // deterministic (min dup_of, max best_sim) aggregates exactly.
    QueryDef(
      "q_dedup_semantic",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Dedup.semantic(e, "vec_id", "embedding", threshold = 0.4,
            centroidIds = (10L until 18L))
          .orderBy(col("vec_id"))
      },
      Some(semanticOracle)),

    // SemDeDup with the nlist ∝ √N contract APPLIED (Dedup.semanticAuto):
    // nlist = ⌈√N⌉ derived from the corpus count, centroids = the MIN id
    // of each ⌈N/nlist⌉-wide id stripe — every step (count, stripe
    // selection, assignment, pairing) is engine-replayable, so the oracle
    // recomputes the WHOLE auto path at any SF. This is the scale-path
    // twin of q_dedup_semantic's fixed-nlist convention.
    QueryDef(
      "q_dedup_semantic_auto",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Dedup.semanticAuto(e, "vec_id", "embedding", threshold = 0.4)
          .orderBy(col("vec_id"))
      },
      Some(semanticAutoOracle)),

    // TWO-LEVEL SemDeDup (round 10 — the O(N^(4/3)) scale path): coarse
    // K=⌈N^⅓⌉ hash-bucket centroids, fine centroids per coarse cell as a
    // relation, pairing within fine cells. Every step is deterministic
    // (md5 buckets, exact quantized cosine, pinned tie rules), so DuckDB
    // replays the full coarse→fine→pair cascade bit-for-bit.
    QueryDef(
      "q_dedup_semantic_2l",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Dedup.semanticTwoLevel(e, "vec_id", "embedding", threshold = 0.4)
          .orderBy(col("vec_id"))
      },
      Some(semanticTwoLevelOracle)),

    // Embedding-cosine near-dup, blocked by label, quantized for exact
    // cross-engine parity (see VectorFns.quantize scaladoc).
    QueryDef(
      "q_dedup_cosine",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            VectorFns.quantize(col("embedding"), 10000).as("qv"))
        val a = e.select(col("label"), col("vec_id").as("a_id"), col("qv").as("a_qv"))
        val b = e.select(col("label"), col("vec_id").as("b_id"), col("qv").as("b_qv"))
        a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
          .withColumn("sim", VectorFns.cosineQ(col("a_qv"), col("b_qv")))
          .filter(col("sim") > 0.3)
          .select(col("a_id"), col("b_id"), col("sim"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
             |  FROM embeddings),
             |p AS (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS DOUBLE) AS dot,
             |    CAST(list_sum(list_transform(a.qv, x -> x * x)) AS DOUBLE) AS na,
             |    CAST(list_sum(list_transform(b.qv, x -> x * x)) AS DOUBLE) AS nb
             |  FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id)
             |SELECT a_id, b_id, dot / (sqrt(na) * sqrt(nb)) AS sim
             |FROM p WHERE dot / (sqrt(na) * sqrt(nb)) > 0.3
             |ORDER BY a_id, b_id""".stripMargin)),

    // Cluster resolution: connected components over a duplicate-pair graph
    // (docs sharing a shingle with doc-frequency exactly 2 — deterministic
    // edges both engines can mine), labels = min reachable doc id. Spark
    // side runs the lazy local-then-merge union-find; the oracle
    // computes ground truth via a recursive transitive-closure CTE.
    QueryDef(
      "q_dedup_clusters",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        // one shuffle: per-doc shingle dedup happens in memory
        // (array_distinct before the explode), so (doc_id, sh) rows are
        // already unique — no distinct shuffle, and count(*) per shingle
        // == countDistinct(doc_id) without the distinct-agg expand
        val sh = d.select(col("doc_id"),
            explode(array_distinct(
              graft.functions.TextFns.shingles(col("text"), 3))).as("sh"))
        val edges = sh.groupBy(col("sh"))
          .agg(count(lit(1)).as("n"),
            min(col("doc_id")).as("a_id"), max(col("doc_id")).as("b_id"))
          .filter(col("n") === 2)
          .select(col("a_id"), col("b_id")).distinct()
        Dedup.clusters(edges, "a_id", "b_id")
          .orderBy(col("id"))
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |    array_to_string(toks[i.i + 1 : i.i + 3], ' ') AS sh
             |  FROM t CROSS JOIN LATERAL (
             |    SELECT unnest(range(0, greatest(len(toks) - 3, 0) + 1)) AS i) i),
             |e2 AS (
             |  SELECT min(doc_id) a, max(doc_id) b FROM sh
             |  GROUP BY sh HAVING count(DISTINCT doc_id) = 2),
             |edges AS (
             |  SELECT DISTINCT a AS src, b AS dst FROM e2
             |  UNION SELECT DISTINCT b, a FROM e2),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
             |SELECT id, min(r) AS cluster_id FROM reach
             |GROUP BY id ORDER BY id""".stripMargin)),

    // Exact substring duplication at token-window granularity — the Spark
    // shape of suffix-array substring dedup (Lee et al.): 8-token windows
    // at stride 1; a window whose exact text occurs in >1 document marks a
    // duplicated span, rolled up per doc as counts + fraction. DuckDB
    // replays the identical windows via list slicing.
    QueryDef(
      "q_dedup_substring",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        Dedup.substringDupStats(d, "doc_id", "text", 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             |  FROM documents),
             |sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
             |wins AS (
             |  SELECT doc_id, array_to_string(t[g.i + 1 : g.i + 8], ' ') AS win
             |  FROM sized CROSS JOIN LATERAL (
             |    SELECT unnest(range(0, n - 7)) AS i) g
             |  WHERE n >= 8),
             |pairs AS (SELECT doc_id, win, count(*) AS c FROM wins GROUP BY doc_id, win),
             |stats AS (SELECT win, count(*) AS ndocs FROM pairs GROUP BY win),
             |perdoc AS (
             |  SELECT p.doc_id,
             |    CAST(sum(p.c) AS BIGINT) AS n_windows,
             |    CAST(sum(CASE WHEN s.ndocs > 1 THEN p.c ELSE 0 END) AS BIGINT)
             |      AS n_dup_windows
             |  FROM pairs p JOIN stats s USING (win) GROUP BY p.doc_id)
             |SELECT d.doc_id,
             |  coalesce(n_windows, 0) AS n_windows,
             |  coalesce(n_dup_windows, 0) AS n_dup_windows,
             |  CASE WHEN coalesce(n_windows, 0) > 0
             |       THEN CAST(n_dup_windows AS DOUBLE) / n_windows
             |       ELSE 0.0 END AS dup_ratio
             |FROM sized d LEFT JOIN perdoc USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // The REMOVE half of substring dedup: tokens covered by any 8-token
    // window occurring in >= 2 distinct docs are dropped, survivors
    // re-join in order. DuckDB replays windows → dup set → coverage →
    // ordered reassembly token-for-token.
    QueryDef(
      "q_dedup_substring_rm",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        Dedup.substringDedup(d, "doc_id", "text", 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             |  FROM documents),
             |sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
             |wins AS (
             |  SELECT doc_id, g.i AS i, array_to_string(t[g.i + 1 : g.i + 8], ' ') AS win
             |  FROM sized CROSS JOIN LATERAL (
             |    SELECT unnest(range(0, n - 7)) AS i) g
             |  WHERE n >= 8),
             |dup AS (
             |  SELECT win FROM (
             |    SELECT win, count(DISTINCT doc_id) AS nd FROM wins GROUP BY win)
             |  WHERE nd >= 2),
             |cover AS (
             |  SELECT DISTINCT w.doc_id, w.i + o.o AS pos
             |  FROM wins w JOIN dup USING (win)
             |  CROSS JOIN (SELECT unnest(range(0, 8)) AS o) o),
             |rem AS (SELECT doc_id, count(*) AS n_removed FROM cover GROUP BY doc_id),
             |tokpos AS (
             |  SELECT doc_id, p.i AS pos, t[p.i + 1] AS tok
             |  FROM sized CROSS JOIN LATERAL (SELECT unnest(range(0, n)) AS i) p),
             |keptagg AS (
             |  SELECT tp.doc_id,
             |    coalesce(string_agg(CASE WHEN c.pos IS NULL THEN tp.tok END,
             |                        ' ' ORDER BY tp.pos), '') AS clean_text
             |  FROM tokpos tp
             |  LEFT JOIN cover c ON c.doc_id = tp.doc_id AND c.pos = tp.pos
             |  GROUP BY tp.doc_id)
             |SELECT s.doc_id,
             |  coalesce(k.clean_text, '') AS clean_text,
             |  CAST(s.n AS BIGINT) AS n_tokens,
             |  coalesce(r.n_removed, 0) AS n_removed
             |FROM sized s
             |LEFT JOIN keptagg k USING (doc_id)
             |LEFT JOIN rem r USING (doc_id)
             |ORDER BY doc_id""".stripMargin))
  )

  /** DuckDB replica of the portable-family minHashLsh pipeline (H=16, B=4,
    * R=4, t=0.6, 3-shingles, maxBucketSize=500): same signatures (md5-min
    * strings), same '|'-joined band keys, same skew guard, same length
    * filter, same exact-Jaccard verify. Generated, not hand-written — the
    * per-slot/per-band SQL is mechanical.
    */
  private def minHashOracle: String = {
    val H = 16; val B = 4; val R = 4; val T = "0.6"; val MAXB = 500
    val sigs = (0 until H).map(i =>
      s"list_min(list_transform(shs, s -> md5('$i:' || s))) AS s$i").mkString(",\n    ")
    val bands = (0 until B).map(b =>
      s"($b, " + (0 until R).map(k => s"s${b * R + k}").mkString(" || '|' || ") + ")")
      .mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |shd AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(toks)-3,0)+1),
       |     i -> array_to_string(toks[i+1:i+3], ' '))) AS shs
       |  FROM t),
       |sig AS (
       |  SELECT doc_id, shs, len(shs) AS sz,
       |    $sigs
       |  FROM shd),
       |banded AS (
       |  SELECT doc_id, sz, b.* FROM sig, LATERAL (VALUES $bands) b(band, bkey)),
       |ok_buckets AS (
       |  SELECT band, bkey FROM banded GROUP BY band, bkey HAVING count(*) <= $MAXB),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM banded a JOIN banded b USING (band, bkey)
       |  JOIN ok_buckets USING (band, bkey)
       |  WHERE a.doc_id < b.doc_id
       |    AND least(a.sz, b.sz) > $T * greatest(a.sz, b.sz)),
       |verified AS (
       |  SELECT c.a_id, c.b_id,
       |    CAST(len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) AS DOUBLE)
       |      / CAST(sa.sz + sb.sz - len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) AS DOUBLE) AS jac
       |  FROM cands c JOIN sig sa ON sa.doc_id = c.a_id JOIN sig sb ON sb.doc_id = c.b_id)
       |SELECT a_id, b_id, jac FROM verified WHERE jac > $T ORDER BY a_id, b_id""".stripMargin
  }

  /** DuckDB replica of Dedup.semantic (centroids = corpus vectors 10..17,
    * threshold 0.4, scale 1e4): same quantization, same (sim DESC, list
    * ASC) assignment tie rule, same within-cluster pairing and verdict
    * aggregates. The quantized-cosine SQL matches VectorFns.cosineQ
    * (BIGINT dot/norms, one double division).
    */
  private def semanticOracle: String = {
    def qcos(a: String, b: String): String =
      s"""CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1]*z[2])) AS DOUBLE)
         |     / (sqrt(CAST(list_sum(list_transform($a, x -> x*x)) AS DOUBLE))
         |        * sqrt(CAST(list_sum(list_transform($b, x -> x*x)) AS DOUBLE)))""".stripMargin
    s"""WITH q0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id - 10 AS list, qv AS cv FROM q0 WHERE vec_id >= 10 AND vec_id < 18),
       |csim AS (
       |  SELECT v.vec_id, c.list,
       |    ${qcos("v.qv", "c.cv")} AS sim
       |  FROM q0 v CROSS JOIN cents c),
       |assign AS (
       |  SELECT vec_id, CAST(list AS BIGINT) AS cluster FROM (
       |    SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list) AS rn
       |    FROM csim) WHERE rn = 1),
       |e AS (SELECT a.vec_id, a.cluster, v.qv FROM assign a JOIN q0 v USING (vec_id)),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${qcos("a.qv", "b.qv")} AS sim
       |  FROM e a JOIN e b ON a.cluster = b.cluster AND b.vec_id < a.vec_id),
       |m AS (
       |  SELECT a_id, min(b_id) AS dup_of, max(sim) AS best_sim
       |  FROM pairs WHERE sim > 0.4 GROUP BY a_id)
       |SELECT e.vec_id, e.cluster, m.dup_of IS NOT NULL AS is_dup, m.dup_of, m.best_sim
       |FROM e LEFT JOIN m ON m.a_id = e.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replica of [[graft.operators.Dedup.semanticAuto]]: derives
    * nlist = ⌈√N⌉ and the id-stripe centroids from the corpus itself, then
    * replays assignment/pairing/verdicts exactly like [[semanticOracle]].
    * Centroid list index = rank of the (sorted) stripe-min ids, matching
    * semanticAuto's sorted `ids` ordering.
    */
  private def semanticAutoOracle: String = {
    def qcos(a: String, b: String): String =
      s"""CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1]*z[2])) AS DOUBLE)
         |     / (sqrt(CAST(list_sum(list_transform($a, x -> x*x)) AS DOUBLE))
         |        * sqrt(CAST(list_sum(list_transform($b, x -> x*x)) AS DOUBLE)))""".stripMargin
    s"""WITH q0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |p AS (
       |  SELECT count(*) AS n, CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM q0),
       |cids AS (
       |  SELECT min(vec_id) AS id FROM q0, p
       |  GROUP BY CAST('0x' || substr(md5('cent:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % k),
       |cents AS (
       |  SELECT row_number() OVER (ORDER BY c.id) - 1 AS list, v.qv AS cv
       |  FROM cids c JOIN q0 v ON v.vec_id = c.id),
       |csim AS (
       |  SELECT v.vec_id, c.list,
       |    ${qcos("v.qv", "c.cv")} AS sim
       |  FROM q0 v CROSS JOIN cents c),
       |assign AS (
       |  SELECT vec_id, CAST(list AS BIGINT) AS cluster FROM (
       |    SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list) AS rn
       |    FROM csim) WHERE rn = 1),
       |e AS (SELECT a.vec_id, a.cluster, v.qv FROM assign a JOIN q0 v USING (vec_id)),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${qcos("a.qv", "b.qv")} AS sim
       |  FROM e a JOIN e b ON a.cluster = b.cluster AND b.vec_id < a.vec_id),
       |m AS (
       |  SELECT a_id, min(b_id) AS dup_of, max(sim) AS best_sim
       |  FROM pairs WHERE sim > 0.4 GROUP BY a_id)
       |SELECT e.vec_id, e.cluster, m.dup_of IS NOT NULL AS is_dup, m.dup_of, m.best_sim
       |FROM e LEFT JOIN m ON m.a_id = e.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replica of [[Dedup.semanticTwoLevel]]: coarse centroids = min
    * id per `u32(md5('cent:'||id)) % K` bucket with K = ⌈N^⅓⌉, coarse
    * assignment by exact quantized-cosine argmax (sim DESC, list ASC),
    * fine centroids = min id per (coarse, `u32(md5('cent2:'||id)) % K`)
    * bucket, fine assignment (sim DESC, fid ASC), pairs within fine cells
    * above threshold, keep-lowest-id verdicts.
    */
  private def semanticTwoLevelOracle: String = {
    def qcos(a: String, b: String): String =
      s"""CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1]*z[2])) AS DOUBLE)
         |     / (sqrt(CAST(list_sum(list_transform($a, x -> x*x)) AS DOUBLE))
         |        * sqrt(CAST(list_sum(list_transform($b, x -> x*x)) AS DOUBLE)))""".stripMargin
    s"""WITH q0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |p AS (
       |  SELECT count(*) AS n, CAST(ceil(cbrt(count(*))) AS BIGINT) AS k FROM q0),
       |cids AS (
       |  SELECT min(vec_id) AS id FROM q0, p
       |  GROUP BY CAST('0x' || substr(md5('cent:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % k),
       |cents AS (
       |  SELECT row_number() OVER (ORDER BY c.id) - 1 AS list, v.qv AS cv
       |  FROM cids c JOIN q0 v ON v.vec_id = c.id),
       |csim AS (
       |  SELECT v.vec_id, c.list,
       |    ${qcos("v.qv", "c.cv")} AS sim
       |  FROM q0 v CROSS JOIN cents c),
       |assign AS (
       |  SELECT vec_id, CAST(list AS BIGINT) AS coarse FROM (
       |    SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list) AS rn
       |    FROM csim) WHERE rn = 1),
       |e1 AS (SELECT a.vec_id, a.coarse, v.qv FROM assign a JOIN q0 v USING (vec_id)),
       |fids AS (
       |  SELECT coarse, min(vec_id) AS fid FROM e1, p
       |  GROUP BY coarse,
       |    CAST('0x' || substr(md5('cent2:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % k),
       |fcents AS (
       |  SELECT f.coarse, f.fid, v.qv AS fqv FROM fids f JOIN q0 v ON v.vec_id = f.fid),
       |fsim AS (
       |  SELECT a.vec_id, f.fid,
       |    ${qcos("a.qv", "f.fqv")} AS sim
       |  FROM e1 a JOIN fcents f ON f.coarse = a.coarse),
       |e2 AS (
       |  SELECT s.vec_id, s.cluster, v.qv FROM (
       |    SELECT vec_id, fid AS cluster FROM (
       |      SELECT vec_id, fid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, fid) AS rn
       |      FROM fsim) WHERE rn = 1) s JOIN q0 v USING (vec_id)),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${qcos("a.qv", "b.qv")} AS sim
       |  FROM e2 a JOIN e2 b ON a.cluster = b.cluster AND b.vec_id < a.vec_id),
       |m AS (
       |  SELECT a_id, min(b_id) AS dup_of, max(sim) AS best_sim
       |  FROM pairs WHERE sim > 0.4 GROUP BY a_id)
       |SELECT e2.vec_id, e2.cluster, m.dup_of IS NOT NULL AS is_dup, m.dup_of, m.best_sim
       |FROM e2 LEFT JOIN m ON m.a_id = e2.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replica of the portable-family crossCorpusNearDup pipeline
    * (same H=16/B=4/R=4/t=0.6/3-shingles/maxBucketSize=500 as
    * [[minHashOracle]], split at doc_id 250): signatures over the whole
    * corpus, new x ref band join, COMBINED-population skew guard,
    * exact-Jaccard verify, then the per-new-doc deterministic verdict
    * (min ref id, max Jaccard) over the full incoming spine.
    */
  private def crossCorpusOracle: String = {
    val H = 16; val B = 4; val R = 4; val T = "0.6"; val MAXB = 500; val SPLIT = 250
    val sigs = (0 until H).map(i =>
      s"list_min(list_transform(shs, s -> md5('$i:' || s))) AS s$i").mkString(",\n    ")
    val bands = (0 until B).map(b =>
      s"($b, " + (0 until R).map(k => s"s${b * R + k}").mkString(" || '|' || ") + ")")
      .mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |shd AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(toks)-3,0)+1),
       |     i -> array_to_string(toks[i+1:i+3], ' '))) AS shs
       |  FROM t),
       |sig AS (
       |  SELECT doc_id, shs, len(shs) AS sz,
       |    $sigs
       |  FROM shd),
       |banded AS (
       |  SELECT doc_id, sz, b.* FROM sig, LATERAL (VALUES $bands) b(band, bkey)),
       |ok_buckets AS (
       |  SELECT band, bkey FROM banded GROUP BY band, bkey HAVING count(*) <= $MAXB),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
       |  FROM banded a JOIN banded b USING (band, bkey)
       |  JOIN ok_buckets USING (band, bkey)
       |  WHERE a.doc_id >= $SPLIT AND b.doc_id < $SPLIT
       |    AND least(a.sz, b.sz) > $T * greatest(a.sz, b.sz)),
       |verified AS (
       |  SELECT c.new_id, c.ref_id,
       |    CAST(len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) AS DOUBLE)
       |      / CAST(sa.sz + sb.sz - len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) AS DOUBLE) AS jac
       |  FROM cands c JOIN sig sa ON sa.doc_id = c.new_id JOIN sig sb ON sb.doc_id = c.ref_id),
       |m AS (
       |  SELECT new_id, min(ref_id) AS dup_of, max(jac) AS best_jac
       |  FROM verified WHERE jac > $T GROUP BY new_id)
       |SELECT d.doc_id AS new_id,
       |  m.dup_of IS NOT NULL AS is_dup, m.dup_of, m.best_jac
       |FROM documents d LEFT JOIN m ON m.new_id = d.doc_id
       |WHERE d.doc_id >= $SPLIT
       |ORDER BY new_id""".stripMargin
  }

  /** DuckDB replica of simHashPairsPortable: md5-hex per-token fingerprints
    * (bit j = bit (3 - j%4) of hex digit j/4, via ascii arithmetic), ±1
    * column sums, sign bits, 4×16-bit banding, Hamming <= 3 verify.
    */
  private def simHashOracle: String = {
    val sums = (0 until 64).map { j =>
      val digit = s"(CASE WHEN ascii(substr(h, ${j / 4 + 1}, 1)) <= 57 " +
        s"THEN ascii(substr(h, ${j / 4 + 1}, 1)) - 48 " +
        s"ELSE ascii(substr(h, ${j / 4 + 1}, 1)) - 87 END)"
      s"sum(CASE WHEN ($digit >> ${3 - j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS c$j"
    }.mkString(",\n    ")
    val bits = (0 until 64).map(j => s"CASE WHEN c$j >= 0 THEN 1 ELSE 0 END").mkString(", ")
    val bandvals = (0 until 4).map(b =>
      s"($b, " + (0 until 16).map(j => s"(bits[${16 * b + j + 1}] << $j)").mkString(" + ") + ")")
      .mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tk FROM documents),
       |hs AS (SELECT doc_id, md5(tk) AS h FROM tok),
       |sums AS (SELECT doc_id, $sums FROM hs GROUP BY doc_id),
       |sig AS (SELECT doc_id, [$bits] AS bits FROM sums),
       |banded AS (SELECT doc_id, bits, b.* FROM sig, LATERAL (VALUES $bandvals) b(band, bkey)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.bits AS ab, b.bits AS bb
       |  FROM banded a JOIN banded b USING (band, bkey) WHERE a.doc_id < b.doc_id),
       |ham AS (
       |  SELECT a_id, b_id,
       |    CAST(len(list_filter(range(1, 65), i -> ab[i] != bb[i])) AS BIGINT) AS hamming
       |  FROM cands)
       |SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin
  }
}
