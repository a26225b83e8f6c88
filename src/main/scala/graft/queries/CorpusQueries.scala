package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.functions.TextAnalysis

/** LLM-corpus operators: dedup (exact/MinHash/SimHash/semantic/
  * ExactSubstr), similarity search, text analysis, sampling/packing,
  * and the corpus-assembly capstones.
  *
  * One slice of [[Queries.all]] — the registry map, oracle pairing,
  * and determinism rules live there; this file only contributes
  * entries. */
private[graft] object CorpusQueries {
  import Queries.t

  val all: Seq[(String, Queries.Q, Option[String])] = Seq(

    // ── Text analysis over the documents table ─────────────────────────

    ("q39_token_count", (s: SparkSession, d: String) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents ORDER BY doc_id""")),


    ("q40_subtoken_count", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .select(col("event_id"), TextAnalysis.subTokenCount(col("props")).as("n_subtokens"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id,
        len(regexp_extract_all(props, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens
      FROM events ORDER BY event_id""")),


    ("q41_fingerprint_groups", (s: SparkSession, d: String) => {
      Dedup.fingerprintGroups(t(s, d, "documents"), col("text"), col("doc_id"))
        .orderBy(col("fingerprint"))
    }, Some("""
      SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint,
        count(*) AS n_dups, min(doc_id) AS keep_id
      FROM documents GROUP BY 1 ORDER BY fingerprint""")),


    ("q42_exact_keep_first", (s: SparkSession, d: String) => {
      Dedup.exactKeepFirst(t(s, d, "documents"), col("text"), col("doc_id"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id FROM documents
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
      ORDER BY doc_id""")),


    ("q43_detect_language", (s: SparkSession, d: String) => {
      // Stage the token array first (the shinglesOf performance
      // contract) so the argmax tree references an attribute, not ~8
      // inlined re-tokenizations.
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokens(TextAnalysis.normalized(col("text"))).as("__ws"))
        .select(col("doc_id"), TextAnalysis.detectLanguageFrom(col("__ws")).as("detected"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH sc AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      scores AS (
        SELECT doc_id,
          len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','mit','ein','für'))) AS de,
          len(list_filter(ws, w -> w IN ('the','and','of','to','in','is','that','for','with'))) AS en,
          len(list_filter(ws, w -> w IN ('el','la','de','que','los','por','una','con','para'))) AS es,
          len(list_filter(ws, w -> w IN ('le','la','les','des','est','que','pour','dans','une'))) AS fr
        FROM sc)
      SELECT doc_id,
        CASE WHEN de >= en AND de >= es AND de >= fr AND de > 0 THEN 'de'
             WHEN en >= es AND en >= fr AND en > 0 THEN 'en'
             WHEN es >= fr AND es > 0 THEN 'es'
             WHEN fr > 0 THEN 'fr'
             ELSE 'und' END AS detected
      FROM scores ORDER BY doc_id""")),


    ("q44_quality_features", (s: SparkSession, d: String) => {
      val q = TextAnalysis.qualityFeatures(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"),
          q.getField("n_chars").as("n_chars"), q.getField("n_tokens").as("n_tokens"),
          q.getField("mean_token_len").as("mean_token_len"),
          q.getField("punct_ratio").as("punct_ratio"),
          q.getField("stopword_ratio").as("stopword_ratio"),
          q.getField("upper_ratio").as("upper_ratio"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH b AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN ('the','and','of','to','in','is','that','for','with'))) AS BIGINT) AS n_stop,
          CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
          CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper
        FROM documents)
      SELECT doc_id, n_chars, n_tokens,
        CASE WHEN n_tokens > 0 THEN CAST(n_chars AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
        CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
        CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stopword_ratio,
        CASE WHEN n_chars > 0 THEN CAST(n_upper AS DOUBLE) / n_chars ELSE 0.0 END AS upper_ratio
      FROM b ORDER BY doc_id""")),


    // Multimodal plumbing: opaque binary column + content hash (the
    // decode step is stubbed; the Spark-side schema/partitioning is real).
    ("q45_binary_fingerprint", (s: SparkSession, d: String) => {
      t(s, d, "documents")
        .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("content_sha"))
        .orderBy(col("doc_id"))
    }, Some("SELECT doc_id, sha256(text) AS content_sha FROM documents ORDER BY doc_id")),


    // ── Similarity / ANN over the embeddings table ─────────────────────

    ("q46_cosine_topk", (s: SparkSession, d: String) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      s AS (
        SELECT query_id, neighbor_id,
          list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
      r AS (
        SELECT query_id, neighbor_id, round(cos, 4) AS cosine,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM s)
      SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
      ORDER BY query_id, rank""")),


    ("q47_near_dup_pairs_exact", (s: SparkSession, d: String) => {
      Similarity.nearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.35, bucketed = false)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
      ORDER BY id_a, id_b""")),


    // MinHash/LSH with a DuckDB oracle: near-dups are synthesized by
    // unioning a mutated copy of each doc (append 3 words), so the
    // banding join must find every (id, id+100000) pair.
    ("q54_minhash_pairs", (s: SparkSession, d: String) => {
      val base = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val mutated = base.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz yy xx")).as("text"))
      Dedup.minHashPairs(base.unionByName(mutated), col("text"), col("doc_id"),
          numHashes = 12, bands = 4, shingleWidth = 3, threshold = 0.3,
          fastHash = false)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some {
      val seeds = (0 until 12).map(i => s"list_min(list_transform(sh, s -> md5('$i|' || s)))")
        .mkString("[", ", ", "]")
      s"""
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text || ' zz yy xx' AS text
        FROM documents WHERE doc_id < 200),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
      shingled AS (SELECT doc_id,
        CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' ')) END AS sh
        FROM w),
      sig AS (SELECT doc_id, $seeds AS sig FROM shingled),
      banded AS (
        SELECT doc_id, sig, t.b AS band,
          md5(array_to_string(sig[t.b*3+1:t.b*3+3], ' ')) AS bucket
        FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
      pairs AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
          len(list_filter(generate_series(1, 12), i -> l.sig[i] = r.sig[i])) / 12.0 AS est
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
      SELECT id_a, id_b, round(est, 4) AS est_jaccard FROM pairs
      WHERE est >= 0.3 ORDER BY id_a, id_b"""
    }),


    // SimHash banded Hamming pairs. xxhash64 isn't expressible in the
    // oracle dialect, so the (deterministic, sf0.01) pair set is pinned
    // as VALUES literals (regenerate: tools/gen_values_oracle.py).
    ("q55_simhash_pairs", (s: SparkSession, d: String) => {
      val base = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val mutated = base.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz yy xx")).as("text"))
      Dedup.simHashPairs(base.unionByName(mutated), col("text"), col("doc_id"),
          bits = 64, bands = 4, maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, Some("""
      SELECT * FROM (VALUES
        (1, 100001, 1),
        (5, 100005, 3),
        (8, 100008, 3),
        (9, 100009, 3),
        (10, 100010, 2),
        (18, 100018, 3),
        (23, 100023, 3),
        (40, 100040, 3),
        (41, 100041, 3),
        (49, 100049, 3),
        (50, 100050, 2),
        (51, 100051, 3),
        (54, 100054, 3),
        (58, 100058, 2),
        (60, 100060, 2),
        (61, 185, 0),
        (61, 100061, 2),
        (66, 100066, 3),
        (72, 100072, 2),
        (73, 100073, 1),
        (77, 100077, 2),
        (80, 100080, 3),
        (81, 100081, 2),
        (84, 100084, 3),
        (87, 100087, 3),
        (91, 100091, 2),
        (93, 100093, 3),
        (95, 100095, 3),
        (98, 100098, 3),
        (102, 100102, 1),
        (103, 100103, 2),
        (113, 100113, 3),
        (117, 100117, 3),
        (118, 100118, 2),
        (124, 100124, 1),
        (126, 100126, 2),
        (128, 100128, 3),
        (132, 100132, 2),
        (141, 100141, 3),
        (143, 100143, 2),
        (151, 100151, 3),
        (152, 178, 3),
        (155, 100155, 3),
        (162, 100162, 3),
        (171, 100171, 3),
        (173, 100173, 1),
        (176, 100176, 3),
        (182, 100182, 2),
        (185, 100061, 2),
        (189, 100189, 3)
      ) AS t(id_a, id_b, hamming)
      ORDER BY id_a""")),


    // Exact shingle-set Jaccard scored only for given candidate pairs
    // (the 100 TB path: candidates come from MinHash, not all-pairs).
    ("q56_jaccard_candidates", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val candidates = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(docs.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      Dedup.ngramJaccardFor(docs, col("text"), col("doc_id"), candidates)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      shingled AS (SELECT doc_id, list_distinct(
          CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(generate_series(1, len(ws) - 2),
                      i -> array_to_string(ws[i:i+2], ' ')) END) AS sh
        FROM w),
      cand AS (
        SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b FROM documents a
        WHERE EXISTS (SELECT 1 FROM documents b WHERE b.doc_id = a.doc_id + 1))
      SELECT c.id_a, c.id_b,
        round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
          (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
      FROM cand c
      JOIN shingled sa ON sa.doc_id = c.id_a
      JOIN shingled sb ON sb.doc_id = c.id_b
      ORDER BY id_a, id_b""")),


    ("q48_lsh_buckets", (s: SparkSession, d: String) => {
      val e = t(s, d, "embeddings")
      Similarity.lshBuckets(e, "vec_id", "embedding", e.filter(col("vec_id") < 8), 8)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))
    }, Some("""
      WITH a AS (SELECT vec_id AS aid, embedding::DOUBLE[] AS av FROM embeddings WHERE vec_id < 8),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      SELECT e.vec_id,
        string_agg(CASE WHEN list_dot_product(e.v, a.av) >= 0 THEN '1' ELSE '0' END, '' ORDER BY a.aid) AS bucket
      FROM e CROSS JOIN a GROUP BY e.vec_id ORDER BY e.vec_id""")),


    // IVF-style ANN: corpus partitioned into 16 inverted lists by
    // nearest-centroid; queries probe their 2 nearest cells.
    ("q63_ivf_topk", (s: SparkSession, d: String) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8).select(col("vec_id")), k = 5,
        numCells = 16, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH cent AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ranked AS (
        SELECT e.vec_id, cent.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.v, cent.cv) /
              (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv)))
            DESC, cent.cid ASC) AS rk
        FROM e CROSS JOIN cent),
      assigned AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
      probes AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk <= 2 AND vec_id < 8),
      scored AS (
        SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
          list_dot_product(q.v, c.v) /
            (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
        FROM probes p
        JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.vec_id
        JOIN e q ON q.vec_id = p.vec_id
        JOIN e c ON c.vec_id = a.vec_id),
      r AS (
        SELECT query_id, neighbor_id, round(cos, 4) AS cosine,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
      ORDER BY query_id, rank""")),


    // Skew-salted join: semantically identical to the plain equi-join
    // (which is exactly what the oracle checks), physically spread over
    // `salts` reducers per key.
    ("q66_salted_join", (s: SparkSession, d: String) => {
      graft.operators.Skew.saltedJoin(
        t(s, d, "lineitem").select(col("l_partkey"), col("l_quantity")),
        t(s, d, "part").select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey", salts = 8)
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }, Some("""
      SELECT p_brand, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        COUNT(*) AS n
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY p_brand ORDER BY p_brand""")),


    // Gopher-style quality gate over documents: pass/fail + reasons.
    ("q67_quality_filter", (s: SparkSession, d: String) => {
      val q = TextAnalysis.qualityFilter(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), q.getField("passes").as("passes"),
          concat_ws(",", q.getField("reject_reasons")).as("reasons"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH f AS (
        SELECT doc_id,
          length(text) AS n_chars,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
          len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
          len(list_filter(
            regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '),
            x -> x IN ('the','and','of','to','in','is','that','for','with'))) AS n_stop
        FROM documents),
      m AS (
        SELECT doc_id, n_tokens,
          CASE WHEN n_tokens > 0 THEN CAST(n_chars AS DOUBLE)/n_tokens ELSE 0 END AS mtl,
          CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END AS pr,
          CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0 END AS sr
        FROM f),
      r AS (
        SELECT doc_id, list_filter([
          CASE WHEN n_tokens < 50 THEN 'too_few_tokens' END,
          CASE WHEN n_tokens > 100000 THEN 'too_many_tokens' END,
          CASE WHEN mtl < 3.0 THEN 'mean_token_too_short' END,
          CASE WHEN mtl > 10.0 THEN 'mean_token_too_long' END,
          CASE WHEN pr > 0.2 THEN 'punct_heavy' END,
          CASE WHEN sr < 0.01 THEN 'no_stopwords' END], x -> x IS NOT NULL) AS reasons
        FROM m)
      SELECT doc_id, len(reasons) = 0 AS passes,
        COALESCE(array_to_string(reasons, ','), '') AS reasons
      FROM r ORDER BY doc_id""")),


    // End-to-end near-dup dedup: MinHash candidates → keep-first drop.
    // Survivors = docs that never collide with a lower id.
    ("q68_dedup_corpus", (s: SparkSession, d: String) => {
      val base = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val mutated = base.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz yy xx")).as("text"))
      val corpus = base.unionByName(mutated)
      val pairs = Dedup.minHashPairs(corpus, col("text"), col("doc_id"),
        numHashes = 12, bands = 4, shingleWidth = 3, threshold = 0.3,
          fastHash = false)
      Dedup.dedupCorpus(corpus, pairs, col("doc_id"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some {
      val seeds = (0 until 12).map(i => s"list_min(list_transform(sh, s -> md5('$i|' || s)))")
        .mkString("[", ", ", "]")
      s"""
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text || ' zz yy xx' AS text
        FROM documents WHERE doc_id < 200),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
      shingled AS (SELECT doc_id,
        CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' ')) END AS sh
        FROM w),
      sig AS (SELECT doc_id, $seeds AS sig FROM shingled),
      banded AS (
        SELECT doc_id, sig, t.b AS band,
          md5(array_to_string(sig[t.b*3+1:t.b*3+3], ' ')) AS bucket
        FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
      pairs AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
          len(list_filter(generate_series(1, 12), i -> l.sig[i] = r.sig[i])) / 12.0 AS est
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
      drops AS (SELECT DISTINCT id_b FROM pairs WHERE est >= 0.3)
      SELECT doc_id FROM base WHERE doc_id NOT IN (SELECT id_b FROM drops)
      ORDER BY doc_id"""
    }),


    // Transitive near-dup clustering: MinHash candidate pairs →
    // connected components (min-label propagation + pointer jumping,
    // O(log n) rounds — see Dedup.connectedComponents). The oracle
    // rebuilds the same md5 MinHash pairs as q54 and closes them with a
    // recursive transitive-reachability CTE.
    ("q74_dup_clusters", (s: SparkSession, d: String) => {
      val base = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val mutated = base.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz yy xx")).as("text"))
      val pairs = Dedup.minHashPairs(base.unionByName(mutated), col("text"),
        col("doc_id"), numHashes = 12, bands = 4, shingleWidth = 3,
        threshold = 0.3, fastHash = false)
      Dedup.connectedComponents(pairs).orderBy(col("id"))
    }, Some {
      val seeds = (0 until 12).map(i => s"list_min(list_transform(sh, s -> md5('$i|' || s)))")
        .mkString("[", ", ", "]")
      s"""
      WITH RECURSIVE base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text || ' zz yy xx' AS text
        FROM documents WHERE doc_id < 200),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
      shingled AS (SELECT doc_id,
        CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' ')) END AS sh
        FROM w),
      sig AS (SELECT doc_id, $seeds AS sig FROM shingled),
      banded AS (
        SELECT doc_id, sig, t.b AS band,
          md5(array_to_string(sig[t.b*3+1:t.b*3+3], ' ')) AS bucket
        FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
      pairs AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
          len(list_filter(generate_series(1, 12), i -> l.sig[i] = r.sig[i])) / 12.0 AS est
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
      sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs WHERE est >= 0.3
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs WHERE est >= 0.3),
      reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT reach.id, s.b FROM reach JOIN sym s ON reach.r = s.a)
      SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id"""
    }),


    // Quality-policy cluster dedup: keep the LONGEST member of each
    // near-dup component (the mutated +' zz yy xx' variants win over
    // their originals — the opposite of q74's min-id policy).
    ("q76_dedup_best_per_cluster", (s: SparkSession, d: String) => {
      val base = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val mutated = base.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz yy xx")).as("text"))
      val corpus = base.unionByName(mutated)
      val pairs = Dedup.minHashPairs(corpus, col("text"), col("doc_id"),
        numHashes = 12, bands = 4, shingleWidth = 3, threshold = 0.3,
          fastHash = false)
      Dedup.dedupCorpusClustersBy(corpus, pairs, col("doc_id"),
          length(col("text")))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some {
      val seeds = (0 until 12).map(i => s"list_min(list_transform(sh, s -> md5('$i|' || s)))")
        .mkString("[", ", ", "]")
      s"""
      WITH RECURSIVE base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text || ' zz yy xx' AS text
        FROM documents WHERE doc_id < 200),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
      shingled AS (SELECT doc_id,
        CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' ')) END AS sh
        FROM w),
      sig AS (SELECT doc_id, $seeds AS sig FROM shingled),
      banded AS (
        SELECT doc_id, sig, t.b AS band,
          md5(array_to_string(sig[t.b*3+1:t.b*3+3], ' ')) AS bucket
        FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
      pairs AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
          len(list_filter(generate_series(1, 12), i -> l.sig[i] = r.sig[i])) / 12.0 AS est
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
      sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs WHERE est >= 0.3
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs WHERE est >= 0.3),
      reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT reach.id, s.b FROM reach JOIN sym s ON reach.r = s.a),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
      SELECT doc_id FROM (
        SELECT b.doc_id,
          row_number() OVER (
            PARTITION BY coalesce(c.component, b.doc_id)
            ORDER BY length(b.text) DESC, b.doc_id) AS rn
        FROM base b LEFT JOIN comp c ON b.doc_id = c.id)
      WHERE rn = 1 ORDER BY doc_id"""
    }),


    // Stratified token-budget sampling: deterministic md5-ordered
    // prefix per language while the running token total fits the
    // budget (Sampling.sampleToTokenBudget).
    ("q77_token_budget_sample", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Sampling.sampleToTokenBudget(docs, col("n_tokens"),
          col("doc_id"), col("lang"), budgetPerStratum = 2000L)
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang, n_tokens FROM (
        SELECT doc_id, lang, n_tokens,
          sum(n_tokens) OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        FROM (SELECT doc_id, lang,
                len(string_split(text, ' ')) AS n_tokens FROM documents))
      WHERE running <= 2000 ORDER BY doc_id""")),


    // PII scrub (TextAnalysis.redactPii): ordered regex rewrite chain
    // (email → IPv4 → phone) with typed placeholders + audit counts.
    // PII is injected per-doc since the corpus carries none; both
    // engines then apply identical RE2-subset patterns.
    ("q78_redact_pii", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or +1 (555) 010-"), col("doc_id"),
          lit(" via 192.168.0.1")).as("text"))
      docs.select(col("doc_id"),
          graft.functions.TextAnalysis.redactPii(col("text")).as("redacted"),
          graft.functions.TextAnalysis.piiCounts(col("text")).as("c"))
        .select(col("doc_id"), col("redacted"),
          col("c.emails").as("emails"), col("c.ips").as("ips"),
          col("c.phones").as("phones"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH injected AS (
        SELECT doc_id,
          concat(text, ' contact user', CAST(doc_id AS VARCHAR),
            '@example.com or +1 (555) 010-',
            CAST(doc_id AS VARCHAR), ' via 192.168.0.1') AS text
        FROM documents),
      steps AS (
        SELECT doc_id, text,
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email
        FROM injected),
      steps2 AS (
        SELECT *, regexp_replace(after_email,
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS after_ip
        FROM steps)
      SELECT doc_id,
        regexp_replace(after_ip,
          '\+?[0-9][0-9()\-\s.]{7,}[0-9]', '<PHONE>', 'g') AS redacted,
        len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS emails,
        len(regexp_extract_all(after_email,
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS ips,
        len(regexp_extract_all(after_ip,
          '\+?[0-9][0-9()\-\s.]{7,}[0-9]')) AS phones
      FROM steps2 ORDER BY doc_id""")),


    // Repetition signal: duplicate-shingle ratio over staged token
    // arrays (Gopher-style repetitive-text detector).
    ("q79_repetition_ratio", (s: SparkSession, d: String) => {
      import graft.functions.TextAnalysis
      val ws = t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
      val sh = ws.select(col("doc_id"), TextAnalysis.shinglesOf(col("ws")).as("sh"))
      sh.select(col("doc_id"),
          round(TextAnalysis.duplicateShingleRatio(col("sh")), 4).as("dup_ratio"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH w AS (SELECT doc_id,
        list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        FROM documents),
      shingled AS (SELECT doc_id,
        CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' ')) END AS sh
        FROM w)
      SELECT doc_id,
        round(CASE WHEN len(sh) > 0
          THEN 1.0 - len(list_distinct(sh)) / CAST(len(sh) AS DOUBLE)
          ELSE 0.0 END, 4) AS dup_ratio
      FROM shingled ORDER BY doc_id""")),


    // Corpus-level TF-IDF rarity (TfIdf.docRarity): per-term addends
    // quantized to DECIMAL(18,6) so the fold is associative and the
    // oracle replays it exactly.
    ("q80_doc_rarity", (s: SparkSession, d: String) => {
      graft.operators.TfIdf.docRarity(t(s, d, "documents"),
          col("text"), col("doc_id"))
        .select(col("id").as("doc_id"), round(col("rarity"), 4).as("rarity"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH norm AS (SELECT doc_id,
        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n]', '', 'g'),
          '\s+', ' ', 'g')) AS t
        FROM documents),
      toks AS (SELECT doc_id,
        unnest(list_filter(string_split(t, ' '), x -> x <> '')) AS term
        FROM norm),
      tc AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(cnt) AS len FROM tc GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      dfreq AS (SELECT term,
        CAST(round(ln((n.n + 1.0) / (count(*) + 1.0)) + 1.0, 6)
          AS DECIMAL(18,6)) AS idf6
        FROM tc CROSS JOIN n GROUP BY term, n.n),
      s AS (SELECT doc_id, sum(cnt * idf6) AS s
        FROM tc JOIN dfreq USING (term) GROUP BY doc_id)
      SELECT doc_id, round(CAST(s AS DOUBLE) / CAST(len AS DOUBLE), 4) AS rarity
      FROM s JOIN dl USING (doc_id) ORDER BY doc_id""")),


    // Sequence packing (Sampling.packSequences): per-language token
    // streams in deterministic md5 order, cut into 2048-token training
    // sequences; a document's pack is its START offset's sequence
    // (with-splitting pretraining packing). Window-replayable: the
    // oracle reproduces the running sum exactly.
    ("q95_pack_sequences", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Sampling.packSequences(docs, col("n_tokens"),
          col("doc_id"), col("lang"), seqLen = 2048L)
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang, n_tokens,
        CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
        CAST((cum - n_tokens) % 2048 AS BIGINT) AS pack_offset
      FROM (SELECT doc_id, lang, n_tokens,
              sum(n_tokens) OVER (PARTITION BY lang
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM (SELECT doc_id, lang,
                    len(string_split(text, ' ')) AS n_tokens FROM documents))
      ORDER BY doc_id""")),


    // Weighted source mix (Sampling.weightedMix): the "60% en / 20% de
    // / 20% fr" recipe knob — per-stratum quotas from the weight map,
    // filled in deterministic md5 order; unlisted strata drop out.
    ("q96_weighted_mix", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
      graft.operators.Sampling.weightedMix(docs, col("doc_id"), col("lang"),
          Map("en" -> 0.6, "de" -> 0.2, "fr" -> 0.2), total = 200L)
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents WHERE lang IN ('en', 'de', 'fr'))
      WHERE (lang = 'en' AND rn <= 120)
         OR (lang = 'de' AND rn <= 40)
         OR (lang = 'fr' AND rn <= 40)
      ORDER BY doc_id""")),


    // Embedding near-dup CLUSTERS end-to-end: exact cosine pairs
    // (q47's operator in oracle mode) fed into connected components
    // (q74's operator) — the full "semantic dedup" composition over
    // the embeddings table. The oracle replays pairs as an all-pairs
    // cosine join and the clustering as a recursive reachability CTE.
    // At scale the same composition runs with bucketed = true (LSH
    // candidate generation) — identical downstream clustering.
    ("q97_embedding_clusters", (s: SparkSession, d: String) => {
      val pairs = Similarity.nearDupPairs(t(s, d, "embeddings"),
        "vec_id", "embedding", threshold = 0.35, bucketed = false)
      Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
        .orderBy(col("id"))
    }, Some("""
      WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35),
      sym AS (SELECT id_a AS a, id_b AS b FROM p
              UNION SELECT id_b AS a, id_a AS b FROM p),
      reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT reach.id, s.b FROM reach JOIN sym s ON reach.r = s.a)
      SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""")),


    // Winnowing rolling-window fingerprint (TextAnalysis
    // .winnowFingerprintOf, the MOSS selection scheme): min md5 per
    // sliding window over the shingle-hash sequence, dedup + sort.
    // Shingle and token staging mirror q74's oracle shapes exactly, so
    // the selection replays bit-for-bit in SQL.
    ("q99_winnow_fingerprint", (s: SparkSession, d: String) => {
      import graft.functions.TextAnalysis
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokens(TextAnalysis.normalized(col("text"))).as("ws"))
        .select(col("doc_id"), TextAnalysis.shinglesOf(col("ws"), 3).as("sh"))
        .select(col("doc_id"), TextAnalysis.winnowFingerprintOf(col("sh"), 4).as("fp"))
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          element_at(col("fp"), 1).as("fp_first"),
          element_at(col("fp"), -1).as("fp_last"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH nm AS (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' ')) END AS sh FROM nm),
      hs AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs FROM sh),
      sel AS (SELECT doc_id,
        CASE WHEN len(hs) < 4 THEN [list_min(hs)]
             ELSE list_transform(generate_series(1, len(hs) - 3),
                    i -> list_min(hs[i:i+3])) END AS sel FROM hs),
      fp AS (SELECT doc_id, list_sort(list_distinct(sel)) AS fp FROM sel)
      SELECT doc_id, CAST(len(fp) AS INTEGER) AS n_fp,
        fp[1] AS fp_first, fp[-1] AS fp_last
      FROM fp ORDER BY doc_id""")),


    // Capstone corpus-assembly composition: quality gate (q67's
    // thresholds) → exact keep-first dedup (q42) → per-language token
    // budget sample (q77) → sequence packing (q95), chained as ONE
    // declarative plan — the operators compose because each is a
    // filter/window over the previous stage's frame, and the oracle
    // chains the same four replays.
    ("q100_corpus_assembly", (s: SparkSession, d: String) => {
      import graft.operators.{Dedup, Sampling}
      val gated = t(s, d, "documents")
        .filter(TextAnalysis.qualityFilter(col("text")).getField("passes"))
      val deduped = Dedup.exactKeepFirst(gated, col("text"), col("doc_id"))
      val withTok = deduped.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val sampled = Sampling.sampleToTokenBudget(withTok, col("n_tokens"),
        col("doc_id"), col("lang"), budgetPerStratum = 3000L)
      Sampling.packSequences(sampled, col("n_tokens"), col("doc_id"),
          col("lang"), seqLen = 1024L)
        .orderBy(col("doc_id"))
    }, Some("""
      WITH f AS (
        SELECT doc_id,
          length(text) AS n_chars,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_toks,
          len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
          len(list_filter(
            regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '),
            x -> x IN ('the','and','of','to','in','is','that','for','with'))) AS n_stop
        FROM documents),
      pass AS (
        SELECT doc_id FROM f
        WHERE n_toks >= 50 AND n_toks <= 100000
          AND (CASE WHEN n_toks > 0 THEN CAST(n_chars AS DOUBLE)/n_toks ELSE 0 END) >= 3.0
          AND (CASE WHEN n_toks > 0 THEN CAST(n_chars AS DOUBLE)/n_toks ELSE 0 END) <= 10.0
          AND (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END) <= 0.2
          AND (CASE WHEN n_toks > 0 THEN CAST(n_stop AS DOUBLE)/n_toks ELSE 0 END) >= 0.01),
      ded AS (
        SELECT doc_id, lang, text FROM (
          SELECT d.doc_id, d.lang, d.text,
            row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) AS rn
          FROM documents d JOIN pass USING (doc_id))
        WHERE rn = 1),
      tok AS (SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM ded),
      samp AS (
        SELECT doc_id, lang, n_tokens FROM (
          SELECT doc_id, lang, n_tokens,
            sum(n_tokens) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
          FROM tok)
        WHERE running <= 3000),
      packed AS (
        SELECT doc_id, lang, n_tokens,
          sum(n_tokens) OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM samp)
      SELECT doc_id, lang, n_tokens,
        CAST((cum - n_tokens) // 1024 AS BIGINT) AS pack_id,
        CAST((cum - n_tokens) % 1024 AS BIGINT) AS pack_offset
      FROM packed ORDER BY doc_id""")),


    // Benchmark decontamination (Dedup.benchmarkOverlap): every 50th
    // document plays the evaluation set; each corpus document reports
    // how many of its distinct 3-shingles appear in that set, the
    // contaminated fraction, and which benchmark rows matched (the
    // corpus near-dup structure makes partial overlaps, not just the
    // 100% self-hits). The oracle replays the same normalized-shingle
    // overlap; bench ids travel as a sorted comma-joined string so the
    // hash compare stays scalar.
    ("q105_decontaminate", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      graft.operators.Dedup.benchmarkOverlap(docs, col("text"), col("doc_id"),
          bench, col("text"), col("doc_id"), shingleWidth = 3)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_overlap"),
          round(col("overlap_frac"), 4).as("overlap_frac"),
          concat_ws(",", col("bench_ids")).as("bench_ids"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH nw AS (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
      sh AS (SELECT doc_id, list_distinct(
           CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                ELSE list_transform(generate_series(1, len(ws) - 2),
                       i -> array_to_string(ws[i:i+2], ' ')) END) AS sh FROM nw),
      ex AS (SELECT doc_id, unnest(sh) AS w FROM sh),
      bex AS (SELECT DISTINCT doc_id AS bid, unnest(sh) AS w FROM sh
              WHERE doc_id % 50 = 0),
      hits AS (SELECT e.doc_id, e.w, b.bid FROM ex e LEFT JOIN bex b USING (w)),
      agg AS (SELECT doc_id,
          count(DISTINCT w) AS n_shingles,
          count(DISTINCT CASE WHEN bid IS NOT NULL THEN w END) AS n_overlap,
          list_sort(list_distinct(list_filter(list(bid), x -> x IS NOT NULL))) AS bids
        FROM hits GROUP BY doc_id)
      SELECT doc_id, n_shingles, n_overlap,
        round(CAST(n_overlap AS DOUBLE) / greatest(n_shingles, 1), 4) AS overlap_frac,
        COALESCE(array_to_string(bids, ','), '') AS bench_ids
      FROM agg ORDER BY doc_id""")),


    // Corpus-wide line dedup (Dedup.lineDedup — the C4/RefinedWeb
    // boilerplate scrub): the synthetic docs carry no newlines, so the
    // fixture composes every 5 consecutive documents into one
    // multi-line document — the corpus's exact-duplicate texts become
    // the repeated "boilerplate" lines, dropped everywhere once they
    // occur more than twice, with surviving lines kept in order and
    // fully-boilerplate composites coming back empty (never missing).
    ("q106_line_dedup", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val comp = docs.groupBy((col("doc_id") / 5).cast("long").as("cid"))
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text"))).as("text"))
      graft.operators.Dedup.lineDedup(comp, col("text"), col("cid"),
          maxOccurrences = 2)
        .select(col("id").as("cid"), col("text"),
          length(col("text")).as("n_chars"))
        .orderBy(col("cid"))
    }, Some("""
      WITH comp AS (SELECT doc_id // 5 AS cid,
             string_agg(text, chr(10) ORDER BY doc_id) AS text
           FROM documents GROUP BY 1),
      lt AS (SELECT cid, string_split(text, chr(10)) AS ls FROM comp),
      ex AS (SELECT cid, unnest(generate_series(1, len(ls))) AS pos,
               unnest(ls) AS line FROM lt),
      freq AS (SELECT md5(line) AS h FROM ex GROUP BY 1
               HAVING count(DISTINCT cid) > 2),
      kept AS (SELECT e.cid, e.pos, e.line FROM ex e
               ANTI JOIN freq f ON md5(e.line) = f.h),
      re AS (SELECT cid, string_agg(line, chr(10) ORDER BY pos) AS text
             FROM kept GROUP BY cid)
      SELECT c.cid, COALESCE(r.text, '') AS text,
        length(COALESCE(r.text, '')) AS n_chars
      FROM comp c LEFT JOIN re r USING (cid) ORDER BY cid""")),


    // Capstone corpus assembly v2 — the round-6 operators composed as
    // one pipeline: boilerplate line scrub (q106's fixture) → length
    // gate → benchmark decontamination filter (drop > 50% overlap
    // against the q105 eval set) → per-stratum token-budget sample.
    // Like q100, every stage is a filter/aggregate over the previous
    // frame, and the oracle chains the same replays.
    ("q107_corpus_assembly_v2", (s: SparkSession, d: String) => {
      import graft.operators.{Dedup, Sampling}
      val docs = t(s, d, "documents")
      val comp = docs.groupBy((col("doc_id") / 5).cast("long").as("cid"))
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text"))).as("text"))
      val scrubbed = Dedup.lineDedup(comp, col("text"), col("cid"),
          maxOccurrences = 2)
        .filter(length(col("text")) > 0)
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val clean = scrubbed.join(
        Dedup.benchmarkOverlap(scrubbed, col("text"), col("id"),
            bench, col("text"), col("doc_id"), shingleWidth = 3)
          .filter(col("overlap_frac") <= 0.5)
          .select(col("id")),
        Seq("id"))
      val withTok = clean.select(col("id"),
        (col("id") % 4).as("stratum"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.sampleToTokenBudget(withTok, col("n_tokens"), col("id"),
          col("stratum"), budgetPerStratum = 2000L)
        .select(col("id").as("cid"), col("stratum"), col("n_tokens"))
        .orderBy(col("cid"))
    }, Some("""
      WITH comp AS (SELECT doc_id // 5 AS cid,
             string_agg(text, chr(10) ORDER BY doc_id) AS text
           FROM documents GROUP BY 1),
      lt AS (SELECT cid, string_split(text, chr(10)) AS ls FROM comp),
      lx AS (SELECT cid, unnest(generate_series(1, len(ls))) AS pos,
               unnest(ls) AS line FROM lt),
      lfreq AS (SELECT md5(line) AS h FROM lx GROUP BY 1
                HAVING count(DISTINCT cid) > 2),
      lkept AS (SELECT l.cid, l.pos, l.line FROM lx l
                ANTI JOIN lfreq f ON md5(l.line) = f.h),
      scrub AS (SELECT cid, string_agg(line, chr(10) ORDER BY pos) AS text
                FROM lkept GROUP BY cid),
      nz AS (SELECT cid, text FROM scrub WHERE length(text) > 0),
      nw AS (SELECT cid, string_split(trim(regexp_replace(regexp_replace(
               lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
             FROM nz),
      sh AS (SELECT cid, list_distinct(
             CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                  ELSE list_transform(generate_series(1, len(ws) - 2),
                         i -> array_to_string(ws[i:i+2], ' ')) END) AS sh FROM nw),
      ex AS (SELECT cid, unnest(sh) AS w FROM sh),
      bnw AS (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
               lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
             FROM documents WHERE doc_id % 50 = 0),
      bsh AS (SELECT DISTINCT unnest(
             CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                  ELSE list_transform(generate_series(1, len(ws) - 2),
                         i -> array_to_string(ws[i:i+2], ' ')) END) AS w FROM bnw),
      ov AS (SELECT e.cid,
               count(*) AS n_sh,
               count(*) FILTER (WHERE b.w IS NOT NULL) AS n_hit
             FROM ex e LEFT JOIN bsh b USING (w) GROUP BY e.cid),
      clean AS (SELECT n.cid, n.text FROM nz n JOIN ov o USING (cid)
                WHERE CAST(o.n_hit AS DOUBLE) / greatest(o.n_sh, 1) <= 0.5),
      tok AS (SELECT cid, cid % 4 AS stratum,
               CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                 x -> x <> '')) AS BIGINT) AS n_tokens
             FROM clean),
      samp AS (SELECT cid, stratum, n_tokens,
               sum(n_tokens) OVER (PARTITION BY stratum
                 ORDER BY md5(CAST(cid AS VARCHAR)), cid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
             FROM tok)
      SELECT cid, stratum, n_tokens FROM samp
      WHERE running <= 2000 ORDER BY cid""")),


    // Token-share weighted mix (Sampling.weightedTokenMix): the "70%
    // of the TOKENS from en, 30% from de" recipe — per-language token
    // budgets derived from weights, filled in deterministic md5 order,
    // unlisted languages dropped. Same window replay as q77 with a
    // per-stratum budget map.
    ("q108_weighted_token_mix", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Sampling.weightedTokenMix(docs, col("n_tokens"),
          col("doc_id"), col("lang"),
          Map("en" -> 0.7, "de" -> 0.3), totalTokens = 8000L)
        .orderBy(col("doc_id"))
    }, Some("""
      WITH tok AS (SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents WHERE lang IN ('en', 'de')),
      samp AS (SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
           FROM tok)
      SELECT doc_id, lang, n_tokens FROM samp
      WHERE running <= CASE lang WHEN 'en' THEN 5600 ELSE 2400 END
      ORDER BY doc_id""")),


    // Document-count stratified sample (Sampling.sampleNPerStratum):
    // the row-count sibling of q77 — previously spec-only; the oracle
    // replays the same md5-ordered row_number cap per language.
    ("q109_n_per_stratum", (s: SparkSession, d: String) => {
      graft.operators.Sampling.sampleNPerStratum(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("source")),
          col("doc_id"), col("lang"), perStratum = 30)
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
          row_number() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
      WHERE rn <= 30 ORDER BY doc_id""")),


    // Context-window chunking (Sampling.chunkDocuments): 12-token
    // windows sliding by 10 (overlap 2) — the retrieval/embedding
    // preprocessing cut for long documents. The oracle replays the
    // arithmetic: chunk count from ceil((n − overlap)/step), token
    // slices rejoined with single spaces, short docs whole, no
    // degenerate tail chunk.
    ("q111_chunk_documents", (s: SparkSession, d: String) => {
      graft.operators.Sampling.chunkDocuments(
          t(s, d, "documents").filter(col("doc_id") < 100),
          col("text"), col("doc_id"), maxTokens = 12, overlap = 2)
        .select(col("id").as("doc_id"), col("chunk_id"),
          col("chunk_text"), col("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, Some("""
      WITH w AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
           FROM documents WHERE doc_id < 100),
      n AS (SELECT doc_id, ws,
             greatest(1, CAST(ceil(CAST(len(ws) - 2 AS DOUBLE) / 10) AS BIGINT)) AS nc
           FROM w),
      ex AS (SELECT doc_id, ws,
             unnest(generate_series(0, nc - 1)) AS chunk_id FROM n),
      sl AS (SELECT doc_id, chunk_id,
             ws[chunk_id * 10 + 1 : chunk_id * 10 + 12] AS chunk FROM ex)
      SELECT doc_id, chunk_id,
        COALESCE(array_to_string(chunk, ' '), '') AS chunk_text,
        CAST(len(chunk) AS BIGINT) AS n_chunk_tokens
      FROM sl ORDER BY doc_id, chunk_id""")),


    // Pack assembly (Sampling.assemblePacks over q95's packing): one
    // row per (language, pack) with the pack's documents concatenated
    // in offset order — what actually ships to the trainer. The
    // oracle chains q95's window replay with an ordered string_agg.
    ("q112_assemble_packs", (s: SparkSession, d: String) => {
      import graft.operators.Sampling
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        col("text"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val packed = Sampling.packSequences(docs, col("n_tokens"),
        col("doc_id"), col("lang"), seqLen = 512L)
      Sampling.assemblePacks(packed, col("text"), col("lang"), sep = "\n")
        .select(col("stratum"), col("pack_id"),
          length(col("seq_text")).as("n_chars"), col("n_docs"))
        .orderBy(col("stratum"), col("pack_id"))
    }, Some("""
      WITH tok AS (SELECT doc_id, lang, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
      packed AS (SELECT doc_id, lang, text, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM tok),
      asg AS (SELECT lang AS stratum,
             CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
             (cum - n_tokens) % 512 AS pack_offset, text
           FROM packed)
      SELECT stratum, pack_id,
        length(string_agg(text, chr(10) ORDER BY pack_offset)) AS n_chars,
        count(*) AS n_docs
      FROM asg GROUP BY stratum, pack_id
      ORDER BY stratum, pack_id""")),


    // Calibrated token budgets (TextAnalysis.calibratedTokenCount →
    // Sampling.sampleToTokenBudget): the rate is MEASURED in-query via
    // tokenCalibrationRate on a held-out sample (every 7th doc, with
    // whitespace-words × 1.3 playing the "real tokenizer" counts),
    // then drives a per-language budget sample. The oracle recomputes
    // the same rate as an exact ratio of sums and replays the proxy
    // regex + ceil + md5 cumsum — so the full measure→scale→budget
    // path is pinned end-to-end, not just the multiplication.
    ("q119_calibrated_budget_sample", (s: SparkSession, d: String) => {
      import graft.functions.TextAnalysis
      val docs = t(s, d, "documents")
      val sample = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      val rate = TextAnalysis.tokenCalibrationRate(sample, col("text"),
        ceil(size(split(col("text"), " ")) * lit(1.3)))
      val withTok = docs.select(col("doc_id"), col("lang"),
        TextAnalysis.calibratedTokenCount(col("text"), rate).as("est_tokens"))
      graft.operators.Sampling.sampleToTokenBudget(withTok, col("est_tokens"),
          col("doc_id"), col("lang"), budgetPerStratum = 3000L)
        .orderBy(col("doc_id"))
    }, Some("""
      WITH proxy AS (SELECT doc_id, lang,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
               AS n_proxy,
             CAST(ceil(len(string_split(text, ' ')) * CAST(1.3 AS DOUBLE))
               AS BIGINT) AS n_actual
           FROM documents),
      rate AS (SELECT CAST(sum(n_actual) AS DOUBLE) / sum(n_proxy) AS r
               FROM proxy WHERE doc_id % 7 = 0),
      est AS (SELECT doc_id, lang,
             CAST(ceil(n_proxy * (SELECT r FROM rate)) AS BIGINT) AS est_tokens
           FROM proxy)
      SELECT doc_id, lang, est_tokens FROM (
        SELECT doc_id, lang, est_tokens,
          sum(est_tokens) OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        FROM est)
      WHERE running <= 3000 ORDER BY doc_id""")),


    // URL canonicalization + per-domain cap (Urls.canonicalUrl /
    // domainOf → sampleNPerStratum): four deterministic URL shapes per
    // doc — uppercase scheme/host with www and default port, tracking
    // params out of order, a non-default port that must SURVIVE, and a
    // non-URL that must drop — then at most 5 docs per domain in md5
    // order. The oracle hand-DERIVES the expected canonical strings
    // from the construction arithmetic (independent truth, not a
    // replay of the same regexes) and replays only the md5 cap.
    ("q121_url_canonical_cap", (s: SparkSession, d: String) => {
      import graft.functions.Urls
      val m4 = pmod(col("doc_id"), lit(4))
      val site = pmod(col("doc_id"), lit(7))
      val urls = t(s, d, "documents").select(col("doc_id")).withColumn("url",
        when(m4 === 0, concat(lit("HTTP://WWW.Site"), site, lit(".com:80/a/b"),
          col("doc_id"), lit("/?utm_source=x&b=2&a=1#frag")))
        .when(m4 === 1, concat(lit("https://site"), site, lit(".com:443/path"),
          col("doc_id"), lit("?a=1&utm_campaign=y&fbclid=z")))
        .when(m4 === 2, concat(lit("https://Sub.site"), site,
          lit(".com:8443/p?z=9&ref=tw")))
        .otherwise(concat(lit("not a url "), col("doc_id"))))
      val canon = urls.select(col("doc_id"),
          Urls.domainOf(col("url")).as("domain"),
          Urls.canonicalUrl(col("url")).as("canonical"))
        .filter(col("canonical").isNotNull)
      graft.operators.Sampling.sampleNPerStratum(canon, col("doc_id"),
          col("domain"), perStratum = 5)
        .orderBy(col("doc_id"))
    }, Some("""
      WITH u AS (SELECT doc_id,
          CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'site' || (doc_id % 7) || '.com'
            WHEN 1 THEN 'site' || (doc_id % 7) || '.com'
            WHEN 2 THEN 'sub.site' || (doc_id % 7) || '.com'
          END AS domain,
          CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'http://site' || (doc_id % 7) || '.com/a/b' ||
              doc_id || '?a=1&b=2'
            WHEN 1 THEN 'https://site' || (doc_id % 7) || '.com/path' ||
              doc_id || '?a=1'
            WHEN 2 THEN 'https://sub.site' || (doc_id % 7) || '.com:8443/p?z=9'
          END AS canonical
        FROM documents WHERE doc_id % 4 < 3)
      SELECT doc_id, domain, canonical FROM (
        SELECT doc_id, domain, canonical,
          row_number() OVER (PARTITION BY domain
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM u)
      WHERE rn <= 5 ORDER BY doc_id""")),


    // Domain blocklist scrub + per-domain accounting
    // (Urls.scrubDomains / domainStats): same deterministic URL
    // construction as q121; blocking site3.com must ALSO remove
    // sub.site3.com (suffix-chain semantics) while sub.site5.com
    // blocks only itself; survivors aggregate to per-domain doc
    // counts, total text length, and corpus share. The oracle derives
    // the domains and the block decision from the construction
    // arithmetic — the suffix logic is replayed as explicit CASE
    // conditions, not the chain-explode join.
    ("q122_domain_scrub_stats", (s: SparkSession, d: String) => {
      import graft.functions.Urls
      val m4 = pmod(col("doc_id"), lit(4))
      val site = pmod(col("doc_id"), lit(7))
      val urls = t(s, d, "documents")
        .select(col("doc_id"), length(col("text")).as("w")).withColumn("url",
          when(m4 === 0, concat(lit("HTTP://WWW.Site"), site, lit(".com:80/a/b"),
            col("doc_id"), lit("/?utm_source=x&b=2&a=1#frag")))
          .when(m4 === 1, concat(lit("https://site"), site, lit(".com:443/path"),
            col("doc_id"), lit("?a=1&utm_campaign=y&fbclid=z")))
          .when(m4 === 2, concat(lit("https://Sub.site"), site,
            lit(".com:8443/p?z=9&ref=tw")))
          .otherwise(concat(lit("not a url "), col("doc_id"))))
        .filter(Urls.canonicalUrl(col("url")).isNotNull)
      val blocklist = {
        import s.implicits._
        Seq("site3.com", "sub.site5.com").toDF("domain")
      }
      val kept = Urls.scrubDomains(urls, col("doc_id"), col("url"), blocklist)
      Urls.domainStats(kept, col("url"), col("w"))
        .select(col("domain"), col("docs"), col("weight"),
          round(col("weight_share"), 6).as("weight_share"))
        .orderBy(col("domain"))
    }, Some("""
      WITH u AS (SELECT doc_id, length(text) AS w,
          CASE WHEN doc_id % 4 = 2
            THEN 'sub.site' || (doc_id % 7) || '.com'
            ELSE 'site' || (doc_id % 7) || '.com' END AS domain
        FROM documents WHERE doc_id % 4 < 3),
      kept AS (SELECT * FROM u
        WHERE domain NOT IN ('site3.com', 'sub.site3.com', 'sub.site5.com')),
      agg AS (SELECT domain, count(*) AS docs,
          CAST(sum(w) AS BIGINT) AS weight
        FROM kept GROUP BY domain)
      SELECT domain, docs, weight,
        round(CAST(weight AS DOUBLE) / sum(weight) OVER (), 6) AS weight_share
      FROM agg ORDER BY domain""")),


    // Deterministic train/val/test assignment (Sampling.hashSplit):
    // the split label is a pure function of (seed, doc_id) — the hex
    // prefix of md5('graft|'||id) against precomputed fixed-width hex
    // thresholds — so ANY engine with md5 replays the exact
    // assignment, and membership never shifts as the corpus grows.
    // The oracle recomputes the label from the same contract.
    ("q123_hash_split", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      graft.operators.Sampling.hashSplit(docs, col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CASE WHEN substr(md5('graft|' || doc_id), 1, 8) < 'cccccccd'
               THEN 'train'
             WHEN substr(md5('graft|' || doc_id), 1, 8) < 'e6666666'
               THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""")),


    // Model-based quality filtering (TextAnalysis.qualityLogit): the
    // classifier-filter shape of modern corpus curation as one
    // codegen'd map-side projection. The linear model is plain IEEE
    // arithmetic in a FIXED evaluation order, so the oracle replays
    // the logit bit-for-bit — features, weights, decision rule.
    ("q129_quality_logit", (s: SparkSession, d: String) => {
      val logit = TextAnalysis.qualityLogit(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), logit.as("logit"), (logit > 0).as("kept"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH b AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN ('the','and','of','to','in','is','that','for','with'))) AS BIGINT) AS n_stop,
          CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
          CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper
        FROM documents),
      f AS (SELECT doc_id, n_tokens,
        CASE WHEN n_tokens > 0 THEN CAST(n_chars AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
        CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
        CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stopword_ratio,
        CASE WHEN n_chars > 0 THEN CAST(n_upper AS DOUBLE) / n_chars ELSE 0.0 END AS upper_ratio
        FROM b)
      SELECT doc_id,
        -1.2 + 4.0 * stopword_ratio + -3.0 * punct_ratio + -2.0 * upper_ratio
          + 0.1 * mean_token_len
          + 1.5 * (CAST(least(n_tokens, 256) AS DOUBLE) / 256.0) AS logit,
        (-1.2 + 4.0 * stopword_ratio + -3.0 * punct_ratio + -2.0 * upper_ratio
          + 0.1 * mean_token_len
          + 1.5 * (CAST(least(n_tokens, 256) AS DOUBLE) / 256.0)) > 0 AS kept
      FROM f ORDER BY doc_id""")),


    // Round-7 ingest capstone — the operators composed as a real
    // corpus-ingest pipeline: model-based quality gate (logit > 0,
    // cheapest first) → incremental near-dup dedup against the
    // PERSISTED corpus signature index → deterministic hash split.
    // The oracle chains all three replays: bit-exact logit, md5
    // MinHash banded probes (corpus + within-batch keep-first over
    // the FILTERED batch), and the md5 split thresholds.
    ("q131_ingest_capstone", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q131_store") + "/t"
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      graft.sinks.SnapshotStore.commit(s,
        graft.operators.Dedup.minHashIndex(corpus, col("text"), col("doc_id"),
          numHashes = 12, bands = 4, shingleWidth = 3, fastHash = false),
        root, "band")
      val batch = docs.filter(col("doc_id") >= 100)
        .select(col("doc_id"), col("text"))
        .withColumn("logit", TextAnalysis.qualityLogit(col("text")))
        .filter(col("logit") > 0)
      val deduped = graft.operators.Dedup.dedupIncremental(batch,
        col("text"), col("doc_id"),
        graft.sinks.SnapshotStore.read(s, root),
        numHashes = 12, bands = 4, shingleWidth = 3,
        threshold = 0.3, fastHash = false)
      graft.operators.Sampling.hashSplit(deduped, col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("logit"), col("split"))
        .orderBy(col("doc_id"))
    }, Some {
      val seeds = (0 until 12).map(i => s"list_min(list_transform(sh, s -> md5('$i|' || s)))")
        .mkString("[", ", ", "]")
      s"""
      WITH b AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN ('the','and','of','to','in','is','that','for','with'))) AS BIGINT) AS n_stop,
          CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
          CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper
        FROM documents WHERE doc_id >= 100),
      lg AS (SELECT doc_id,
        -1.2 + 4.0 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)
          + -3.0 * (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END)
          + -2.0 * (CASE WHEN n_chars > 0 THEN CAST(n_upper AS DOUBLE) / n_chars ELSE 0.0 END)
          + 0.1 * (CASE WHEN n_tokens > 0 THEN CAST(n_chars AS DOUBLE) / n_tokens ELSE 0.0 END)
          + 1.5 * (CAST(least(n_tokens, 256) AS DOUBLE) / 256.0) AS logit
        FROM b),
      keepb AS (
        SELECT d.doc_id, d.text, lg.logit FROM documents d
        JOIN lg ON d.doc_id = lg.doc_id WHERE lg.logit > 0),
      alld AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL SELECT doc_id, text FROM keepb),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM alld),
      shingled AS (SELECT doc_id,
        CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' ')) END AS sh
        FROM w),
      sig AS (SELECT doc_id, $seeds AS sig FROM shingled),
      banded AS (
        SELECT doc_id, sig, t.b AS band,
          md5(array_to_string(sig[t.b*3+1:t.b*3+3], ' ')) AS bucket
        FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
      vs_corpus AS (
        SELECT DISTINCT l.doc_id FROM banded l
        JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
        WHERE l.doc_id >= 100 AND r.doc_id < 100
          AND len(list_filter(generate_series(1, 12),
                i -> l.sig[i] = r.sig[i])) / 12.0 >= 0.3),
      within AS (
        SELECT DISTINCT l.doc_id FROM banded l
        JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
        WHERE l.doc_id >= 100 AND r.doc_id >= 100 AND l.doc_id > r.doc_id
          AND len(list_filter(generate_series(1, 12),
                i -> l.sig[i] = r.sig[i])) / 12.0 >= 0.3)
      SELECT doc_id, logit,
        CASE WHEN substr(md5('graft|' || doc_id), 1, 8) < 'cccccccd'
               THEN 'train'
             WHEN substr(md5('graft|' || doc_id), 1, 8) < 'e6666666'
               THEN 'val'
             ELSE 'test' END AS split
      FROM keepb
      WHERE doc_id NOT IN (SELECT doc_id FROM vs_corpus)
        AND doc_id NOT IN (SELECT doc_id FROM within)
      ORDER BY doc_id"""
    }),


    // Luhn-gated credit-card redaction (TextAnalysis.redactCreditCards
    // over the native LuhnValid expression): each doc carries a
    // 16-digit derived number — spaced into groups for every %3==0 id
    // — and ONLY checksum-valid runs may redact to <CC>; invalid runs
    // (order-id lookalikes) must pass through untouched. The Spark
    // side runs the full regex→Luhn-filter→fold pipeline; the oracle
    // independently recomputes the checksum digit-by-digit from the
    // construction arithmetic and replays the replacement decision.
    ("q132_card_redaction", (s: SparkSession, d: String) => {
      val num = (lit(4000000000000000L) + col("doc_id") * lit(987654321L))
        .cast("string")
      val card = when(pmod(col("doc_id"), lit(3)) === 0,
        concat_ws(" ", substring(num, 1, 4), substring(num, 5, 4),
          substring(num, 9, 4), substring(num, 13, 4))).otherwise(num)
      t(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("ref#"), col("doc_id").cast("string"),
            lit(" card "), card, lit(" end")).as("text2"))
        .select(col("doc_id"),
          TextAnalysis.redactCreditCards(col("text2")).as("redacted"))
        .withColumn("valid",
          graft.expressions.LuhnValid.column(
            (lit(4000000000000000L) + col("doc_id") * lit(987654321L))
              .cast("string")))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH n AS (
        SELECT doc_id,
          CAST(4000000000000000 + doc_id * 987654321 AS VARCHAR) AS num
        FROM documents),
      c AS (
        SELECT doc_id, num,
          CASE WHEN doc_id % 3 = 0
            THEN substr(num,1,4) || ' ' || substr(num,5,4) || ' ' ||
                 substr(num,9,4) || ' ' || substr(num,13,4)
            ELSE num END AS card
        FROM n),
      t2 AS (
        SELECT doc_id, num, card,
          'ref#' || doc_id || ' card ' || card || ' end' AS text2
        FROM c),
      lv AS (
        SELECT *, (list_sum(list_transform(generate_series(1, 16),
            i -> CASE WHEN (16 - i) % 2 = 1
                   THEN CASE WHEN 2 * CAST(substr(num, i, 1) AS INT) > 9
                          THEN 2 * CAST(substr(num, i, 1) AS INT) - 9
                          ELSE 2 * CAST(substr(num, i, 1) AS INT) END
                   ELSE CAST(substr(num, i, 1) AS INT) END)) % 10 = 0) AS valid
        FROM t2)
      SELECT doc_id,
        CASE WHEN valid THEN replace(text2, card, '<CC>') ELSE text2 END AS redacted,
        valid
      FROM lv ORDER BY doc_id""")),


    // E50: Okapi BM25 ranked retrieval (TfIdf.bm25) for a 3-term
    // query over the documents corpus. IDF quantized once per term,
    // per-(doc,term) addends are fixed-parenthesization IEEE doubles
    // quantized to DECIMAL(18,6), the per-doc fold is an exact decimal
    // sum — the oracle replays every step (binary-exact k1=1.5,
    // b=0.75 keep the SQL literals drift-free).
    ("q140_bm25_retrieval", (s: SparkSession, d: String) => {
      graft.operators.TfIdf.bm25(t(s, d, "documents"),
          col("text"), col("doc_id"), Seq("spark", "vector", "merge"))
        .select(col("id").as("doc_id"), col("bm25"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH w AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(regexp_replace(
          lower(text), '[^a-z0-9 \t\n]', '', 'g'), '\s+', ' ', 'g')), ' '),
          x -> x <> '') AS ws
        FROM documents),
      d AS (SELECT doc_id, len(ws) AS dl FROM w),
      stats AS (SELECT count(*) AS n, sum(dl) AS s FROM d),
      toks AS (SELECT doc_id, unnest(ws) AS term FROM w),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
      dfreq AS (SELECT term,
        CAST(round(ln(1.0 + (n - count(*) + CAST(0.5 AS DOUBLE)) / (count(*) + 0.5)), 6)
          AS DECIMAL(18,6)) AS idf6
        FROM tf CROSS JOIN stats GROUP BY term, n),
      a AS (SELECT tf.doc_id,
        CAST(round(CAST(idf6 AS DOUBLE) *
          ((tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 * dl /
            (CAST(s AS DOUBLE) / n)))), 6) AS DECIMAL(18,6)) AS addend
        FROM tf JOIN d USING (doc_id) JOIN dfreq USING (term)
        CROSS JOIN stats)
      SELECT doc_id, CAST(sum(addend) AS DOUBLE) AS bm25
      FROM a GROUP BY doc_id ORDER BY doc_id""")),


    // E51: Gopher line-duplication signals. Fixture: every doc_id%3==0
    // doc repeats its whole text as a second line (dup 0.5), %3==1
    // docs append a unique line (dup 0), %3==2 stay single-line. The
    // oracle replays the trimmed-nonempty-line list arithmetic.
    ("q141_repetition_signals", (s: SparkSession, d: String) => {
      val m3 = pmod(col("doc_id"), lit(3))
      val fixture = t(s, d, "documents").select(col("doc_id"),
        when(m3 === 0, concat(col("text"), lit("\n"), col("text")))
          .when(m3 === 1, concat(col("text"), lit("\nwholly unique closing line")))
          .otherwise(col("text")).as("text"))
      fixture.select(col("doc_id"),
          graft.operators.Repetition.signals(col("text")).as("s"))
        .select(col("doc_id"), col("s.dup_line_frac").as("dup_line_frac"),
          col("s.dup_line_char_frac").as("dup_line_char_frac"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH fx AS (SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || text
             WHEN doc_id % 3 = 1 THEN text || chr(10) || 'wholly unique closing line'
             ELSE text END AS text
        FROM documents),
      l AS (SELECT doc_id,
        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
          x -> x <> '') AS lines
        FROM fx),
      m AS (SELECT doc_id, lines, list_distinct(lines) AS dlines FROM l),
      c AS (SELECT doc_id,
        CAST(len(lines) AS DOUBLE) AS nl, CAST(len(dlines) AS DOUBLE) AS dn,
        CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
          AS DOUBLE) AS tot,
        CAST(coalesce(list_sum(list_transform(dlines, x -> length(x))), 0)
          AS DOUBLE) AS dist
        FROM m)
      SELECT doc_id,
        CASE WHEN nl > 0 THEN round(1.0 - dn / nl, 4) ELSE 0.0 END
          AS dup_line_frac,
        CASE WHEN tot > 0 THEN round((tot - dist) / tot, 4) ELSE 0.0 END
          AS dup_line_char_frac
      FROM c ORDER BY doc_id""")),


    // E51: per-doc top-bigram character share (keyword-stuffing
    // signal). Winner ties break to the lexicographically greatest
    // shingle — pinned in both engines via the same two-key ordering.
    ("q142_top_bigram_share", (s: SparkSession, d: String) => {
      graft.operators.Repetition.topNgramCharShare(
          t(s, d, "documents"), col("text"), col("doc_id"), n = 2)
        .select(col("id").as("doc_id"), col("top_ngram"),
          col("occurrences"), col("char_share"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH norm AS (SELECT doc_id,
        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n]', '', 'g'),
          '\s+', ' ', 'g')) AS t
        FROM documents),
      w AS (SELECT doc_id, length(t) AS chars,
        list_filter(string_split(t, ' '), x -> x <> '') AS ws
        FROM norm),
      sh AS (SELECT doc_id, chars,
        unnest(CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
          ELSE list_transform(generate_series(1, len(ws) - 1),
            i -> array_to_string(ws[i:i+1], ' ')) END) AS sh
        FROM w),
      cnt AS (SELECT doc_id, chars, sh, count(*) AS cnt
        FROM sh GROUP BY 1, 2, 3)
      SELECT doc_id, sh AS top_ngram, cnt AS occurrences,
        CASE WHEN chars > 0
          THEN round(cnt * length(sh) / CAST(chars AS DOUBLE), 4)
          ELSE 0.0 END AS char_share
      FROM cnt
      QUALIFY row_number() OVER (PARTITION BY doc_id
        ORDER BY cnt DESC, sh DESC) = 1
      ORDER BY doc_id""")),


    // E52: int8-quantized ANN scan (Similarity.quantizedTopK) — five
    // query vectors against the full embeddings corpus. The oracle
    // recomputes the symmetric max-abs quantization (scale =
    // max|v|/127, codes = round-half-away(v/scale)), the exact
    // integer code dot, and the (qdot × qscale) × cscale ranking with
    // the same tie-break. qdot is exact integer arithmetic; only the
    // rank (not the rescaled float) is emitted.
    ("q143_int8_ann", (s: SparkSession, d: String) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 7)
      graft.operators.Similarity.quantizedTopK(
          queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("qdot"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH cc AS (SELECT vec_id,
        CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
          / 127.0 AS scale,
        embedding FROM embeddings),
      codes AS (SELECT vec_id, scale,
        CASE WHEN scale = 0
          THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
          ELSE list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) END AS c
        FROM cc),
      q AS (SELECT vec_id AS query_id, scale AS qs, c AS qc
        FROM codes WHERE vec_id % 100 = 7),
      p AS (SELECT q.query_id, n.vec_id AS neighbor_id,
        CAST(list_sum(list_transform(generate_series(1, len(n.c)),
          i -> n.c[i] * q.qc[i])) AS BIGINT) AS qdot,
        q.qs, n.scale AS ns
        FROM codes n CROSS JOIN q WHERE n.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, qdot,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY (CAST(qdot AS DOUBLE) * qs) * ns DESC, neighbor_id)
          AS INT) AS rank
      FROM p
      QUALIFY rank <= 5
      ORDER BY query_id, rank""")),


    // E54: one-row corpus profile — counts, normalized vocabulary,
    // and EXACT type-1 token-count percentiles from the length
    // histogram (no sketch). The oracle forces DOUBLE in ceil(p×n) to
    // mirror Spark's driver-side double arithmetic exactly.
    ("q145_corpus_profile", (s: SparkSession, d: String) => {
      graft.operators.Stats.corpusProfile(t(s, d, "documents"), col("text"))
        .withColumn("k", lit(1)).orderBy(col("k")).drop("k")
    }, Some("""
      WITH lens AS (SELECT CAST(len(list_filter(string_split_regex(text, '\s+'),
          x -> x <> '')) AS BIGINT) AS l FROM documents),
      hist AS (SELECT l, count(*) AS c FROM lens GROUP BY 1),
      t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
            CAST(sum(l * c) AS BIGINT) AS tot FROM hist),
      cum AS (SELECT l, sum(c) OVER (ORDER BY l) AS cc FROM hist),
      norm AS (SELECT trim(regexp_replace(regexp_replace(lower(text),
          '[^a-z0-9 \t\n]', '', 'g'), '\s+', ' ', 'g')) AS st FROM documents),
      voc AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM
        (SELECT unnest(list_filter(string_split(st, ' '), x -> x <> ''))
          AS term FROM norm))
      SELECT t.n AS n_docs, t.tot AS total_tokens, voc.v AS vocab_size,
        CAST((SELECT min(l) FROM cum
          WHERE cc >= ceil(CAST(0.5 AS DOUBLE) * t.n)) AS BIGINT) AS p50_tokens,
        CAST((SELECT min(l) FROM cum
          WHERE cc >= ceil(CAST(0.9 AS DOUBLE) * t.n)) AS BIGINT) AS p90_tokens,
        CAST((SELECT min(l) FROM cum
          WHERE cc >= ceil(CAST(0.99 AS DOUBLE) * t.n)) AS BIGINT) AS p99_tokens
      FROM t, voc""")),


    // E55: Zipf-head term frequencies — top-15 normalized corpus
    // terms, ties lexicographic.
    ("q146_term_frequencies", (s: SparkSession, d: String) => {
      graft.operators.Stats.termFrequencies(
        t(s, d, "documents"), col("text"), k = 15)
    }, Some("""
      WITH norm AS (SELECT trim(regexp_replace(regexp_replace(lower(text),
          '[^a-z0-9 \t\n]', '', 'g'), '\s+', ' ', 'g')) AS st FROM documents),
      toks AS (SELECT unnest(list_filter(string_split(st, ' '), x -> x <> ''))
        AS term FROM norm)
      SELECT term, count(*) AS occurrences FROM toks
      GROUP BY term ORDER BY occurrences DESC, term LIMIT 15""")),


    // E50 through the index (TextIndex.bm25ViaIndex — ranked search's
    // skipping-index analog): the q140 query scored while reading ONLY
    // candidate files; N/avgdl/df come from the index build's stats,
    // so the scores are IDENTICAL to full-scan BM25 — the oracle is
    // q140's verbatim. The pruned-scan property itself is spec-pinned
    // (TextIndexSpec counts input files).
    ("q152_bm25_via_index", (s: SparkSession, d: String) => {
      val idx = DevRun.fixtureRoot("q152_idx") + "/bm25idx"
      graft.operators.TextIndex.buildBm25Index(
        s, s"$d/documents.parquet", "text", idx)
      graft.operators.TextIndex.bm25ViaIndex(
          s, s"$d/documents.parquet", idx, "text", "doc_id",
          Seq("spark", "vector", "merge"))
        .select(col("id").as("doc_id"), col("bm25"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH w AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(regexp_replace(
          lower(text), '[^a-z0-9 \t\n]', '', 'g'), '\s+', ' ', 'g')), ' '),
          x -> x <> '') AS ws
        FROM documents),
      d AS (SELECT doc_id, len(ws) AS dl FROM w),
      stats AS (SELECT count(*) AS n, sum(dl) AS s FROM d),
      toks AS (SELECT doc_id, unnest(ws) AS term FROM w),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
      dfreq AS (SELECT term,
        CAST(round(ln(1.0 + (n - count(*) + CAST(0.5 AS DOUBLE)) / (count(*) + 0.5)), 6)
          AS DECIMAL(18,6)) AS idf6
        FROM tf CROSS JOIN stats GROUP BY term, n),
      a AS (SELECT tf.doc_id,
        CAST(round(CAST(idf6 AS DOUBLE) *
          ((tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 * dl /
            (CAST(s AS DOUBLE) / n)))), 6) AS DECIMAL(18,6)) AS addend
        FROM tf JOIN d USING (doc_id) JOIN dfreq USING (term)
        CROSS JOIN stats)
      SELECT doc_id, CAST(sum(addend) AS DOUBLE) AS bm25
      FROM a GROUP BY doc_id ORDER BY doc_id""")),


    // E52 ∘ L9: quantized IVF (Similarity.ivfTopKQuantized — the faiss
    // IVFx,SQ8 shape). The oracle composes q63's cell/probe replay
    // with q143's int8 arithmetic: centroids are the first 16 vectors,
    // each vector joins its nearest cell, queries probe their 2
    // nearest cells, and scoring is the EXACT integer code dot
    // rescaled by both max-abs scales, neighbor-id tie-break.
    ("q153_ivf_quantized", (s: SparkSession, d: String) => {
      val e = s.read.parquet(s"$d/embeddings.parquet")
      graft.operators.Similarity.ivfTopKQuantized(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8).select(col("vec_id")), k = 5,
          numCells = 16, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("qdot"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH cent AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ranked AS (
        SELECT e.vec_id, cent.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.v, cent.cv) /
              (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv)))
            DESC, cent.cid ASC) AS rk
        FROM e CROSS JOIN cent),
      assigned AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
      probes AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk <= 2 AND vec_id < 8),
      cc AS (SELECT vec_id,
        CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
          / 127.0 AS scale,
        embedding FROM embeddings),
      codes AS (SELECT vec_id, scale,
        CASE WHEN scale = 0
          THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
          ELSE list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) END AS c
        FROM cc),
      p AS (SELECT pr.vec_id AS query_id, a.vec_id AS neighbor_id,
        CAST(list_sum(list_transform(generate_series(1, len(n.c)),
          i -> n.c[i] * q.c[i])) AS BIGINT) AS qdot,
        q.scale AS qs, n.scale AS ns
        FROM probes pr
        JOIN assigned a ON a.cell = pr.cell AND a.vec_id <> pr.vec_id
        JOIN codes q ON q.vec_id = pr.vec_id
        JOIN codes n ON n.vec_id = a.vec_id)
      SELECT query_id, neighbor_id, qdot,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY (CAST(qdot AS DOUBLE) * qs) * ns DESC, neighbor_id)
          AS INT) AS rank
      FROM p
      QUALIFY rank <= 5
      ORDER BY query_id, rank""")),


    // SemDeDup (Abbas et al. 2023): embedding-space semantic dedup —
    // IVF-cell clustering bounds the quadratic pairwise comparison,
    // then greedy keep-first suppresses rows with a lower-id same-cell
    // neighbor above the cosine threshold. The oracle recomputes the
    // centroid assignment (q153's replay), every within-cell pair
    // cosine, and the min-id suppressor.
    ("q166_sem_dedup", (s: SparkSession, d: String) => {
      Similarity.semDedup(t(s, d, "embeddings"), "vec_id", "embedding",
          numCells = 16, threshold = 0.35)
        .orderBy(col("id"))
    }, Some("""
      WITH cent AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ranked AS (
        SELECT e.vec_id, cent.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.v, cent.cv) /
              (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv)))
            DESC, cent.cid ASC) AS rk
        FROM e CROSS JOIN cent),
      assigned AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
      sup AS (
        SELECT a.vec_id AS id, min(b.vec_id) AS dup_of
        FROM assigned a
        JOIN assigned b ON a.cell = b.cell AND b.vec_id < a.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE list_dot_product(ea.v, eb.v) /
          (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.35
        GROUP BY a.vec_id)
      SELECT a.vec_id AS id, a.cell, s.dup_of, s.dup_of IS NULL AS kept
      FROM assigned a LEFT JOIN sup s ON s.id = a.vec_id
      ORDER BY id""")),


    // Cross-document duplicated-span profile (Lee et al. 2022's
    // ExactSubstr signal as a per-document statistic): 5-token sliding
    // windows, a position is duplicated when its span occurs in ≥2
    // DISTINCT documents (the C4 cross-doc convention). Oracle stages
    // tokens/shingles exactly like q99 and replays the counts.
    ("q167_dup_spans", (s: SparkSession, d: String) => {
      Dedup.dupSpanStats(t(s, d, "documents"), col("text"), col("doc_id"),
          width = 5)
        .orderBy(col("id"))
    }, Some("""
      WITH nm AS (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(generate_series(1, len(ws) - 4),
                    i -> array_to_string(ws[i:i+4], ' ')) END AS sh FROM nm),
      sp AS (SELECT doc_id, unnest(sh) AS span FROM sh),
      freq AS (SELECT span, count(DISTINCT doc_id) AS n FROM sp GROUP BY span),
      per AS (SELECT s.doc_id, count(*) AS n_spans,
          sum(CASE WHEN f.n >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM sp s JOIN freq f ON f.span = s.span
        GROUP BY s.doc_id)
      SELECT doc_id AS id, CAST(n_spans AS BIGINT) AS n_spans,
        CAST(n_dup AS BIGINT) AS n_dup_spans,
        CAST(n_dup AS DOUBLE) / n_spans AS dup_span_ratio
      FROM per ORDER BY id""")),


    // ExactSubstr REMOVAL (Lee et al. 2022 — the surgery half of
    // q167's signal): every token covered by a 5-token span occurring
    // in ≥2 DISTINCT documents is deleted; the cleaned text is the
    // surviving normalized tokens in order (empty when everything was
    // covered — short duplicated documents empty whole). The oracle
    // restages tokens/spans exactly like q167, derives the duplicated
    // START set, expands coverage windows, and rebuilds the text with
    // an ordered string_agg — any off-by-one in window coverage or
    // ordering breaks the hash.
    ("q174_remove_dup_spans", (s: SparkSession, d: String) => {
      Dedup.removeDupSpans(t(s, d, "documents"), col("text"), col("doc_id"),
          width = 5)
        .orderBy(col("id"))
    }, Some("""
      WITH nm AS (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
      sh AS (SELECT doc_id, len(ws) AS lw,
          CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(generate_series(1, len(ws) - 4),
                      i -> array_to_string(ws[i:i+4], ' ')) END AS sh FROM nm),
      sp AS (SELECT doc_id, lw, u.s AS s, sh[u.s] AS span
             FROM sh, unnest(generate_series(1, len(sh))) AS u(s)),
      dupset AS (SELECT span FROM (SELECT span, count(DISTINCT doc_id) AS n
             FROM sp GROUP BY span) WHERE n >= 2),
      dup AS (SELECT sp.doc_id, sp.s, sp.lw FROM sp JOIN dupset d ON d.span = sp.span),
      covd AS (SELECT DISTINCT doc_id, u.p AS p
             FROM dup, unnest(generate_series(s, least(s + 4, lw))) AS u(p)),
      toks AS (SELECT doc_id, u.p AS p, ws[u.p] AS tok
             FROM nm, unnest(generate_series(1, len(ws))) AS u(p)),
      kept AS (SELECT t.doc_id, t.p, t.tok FROM toks t
             LEFT JOIN covd c ON c.doc_id = t.doc_id AND c.p = t.p
             WHERE c.p IS NULL),
      reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
             count(*) AS n_kept FROM kept GROUP BY doc_id)
      SELECT n.doc_id AS id, coalesce(r.clean_text, '') AS clean_text,
        CAST(len(n.ws) AS BIGINT) AS n_tokens,
        CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
      FROM nm n LEFT JOIN reb r ON r.doc_id = n.doc_id
      ORDER BY id"""))
  )
}
