package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB): every variant here avoids the O(n²) all-pairs
  * trap — exact dedup is one hash-aggregate shuffle on a fingerprint;
  * MinHash and SimHash reduce near-dup detection to equi-joins on band
  * buckets (shuffle on small keys, AQE-skew-safe), and only candidate
  * pairs inside a bucket are scored. The only quadratic code path is
  * [[ngramJaccardPairs]] without a candidate restriction — kept as the
  * small-data oracle/baseline.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per exact-content group.
    * One hash aggregate; at 100 TB this is a single shuffle keyed by a
    * 128-bit fingerprint (no skew: fingerprints are uniform). */
  def exactKeepFirst(df: DataFrame, text: Column, id: Column): DataFrame = {
    val w = Window.partitionBy(md5(text)).orderBy(id.asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-duplicate groups: fingerprint → group size + surviving id.
    * Map-side partial aggregation makes this cheap even when almost
    * every document is unique. */
  def exactGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(text).as("fingerprint"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keep_id"))

  /** Near-case/punctuation dedup via normalized fingerprint (lowercase,
    * strip punct, collapse whitespace). */
  def fingerprintGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(text).as("fingerprint"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keep_id"))

  /** MinHash signature column: `numHashes` independent min-hashes over
    * word `w`-shingles. Each hash family member is min(md5(seed ‖ "|" ‖
    * shingle)) — md5 is a well-mixed hash, the per-seed prefix makes the
    * families independent, and taking the lexicographic min of the hex
    * digest is equivalent to a min over a uniform 128-bit permutation.
    * Pure built-ins → codegen'd, shuffle-free (computed map-side). */
  def minHashSignature(text: Column, numHashes: Int = 16, shingleWidth: Int = 3,
                       fastHash: Boolean = false): Column =
    minHashSignatureOf(TextAnalysis.tokens(TextAnalysis.normalized(text)),
      numHashes, shingleWidth, fastHash)

  /** [[minHashSignature]] over a pre-materialized token-array column —
    * the fast path (see TextAnalysis.shinglesOf's performance
    * contract). */
  def minHashSignatureOf(ws: Column, numHashes: Int = 16, shingleWidth: Int = 3,
                         fastHash: Boolean = false): Column = {
    // Single fold over the shingle array: the shingle expression is
    // evaluated ONCE per row and each hash subtree once per
    // (shingle, seed) — the naive per-seed `transform` form duplicates
    // the whole shingle pipeline numHashes times in the plan (measured
    // ~50× slower at 48 hashes). `least` ignores nulls, so a
    // null-initialised accumulator is the identity.
    //
    // Hash families: md5-hex (default) is reproducible in any engine —
    // the DuckDB oracle replicates it bit-for-bit. xxhash64
    // (`fastHash`) is the production path: a native long hash, ~5×
    // cheaper per (shingle, seed), same estimator statistics.
    if (fastHash) {
      val seeds = array((0 until numHashes).map(i => lit(i.toLong)): _*)
      aggregate(
        TextAnalysis.shinglesOf(ws, shingleWidth),
        array_repeat(lit(null).cast("long"), numHashes),
        (acc, s) => zip_with(acc, seeds, (a, seed) => least(a, xxhash64(seed, s))))
    } else {
      val seeds = array((0 until numHashes).map(i => lit(s"$i|")): _*)
      aggregate(
        TextAnalysis.shinglesOf(ws, shingleWidth),
        array_repeat(lit(null).cast("string"), numHashes),
        (acc, s) => zip_with(acc, seeds, (a, seed) => least(a, md5(concat(seed, s)))))
    }
  }

  /** Stage (id, token-array) as real columns so downstream shingle
    * lambdas see attribute references (per-element re-evaluation of the
    * tokenizer is the dominant cost otherwise). */
  private def tokenized(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(id.as("id"),
      TextAnalysis.tokens(TextAnalysis.normalized(text)).as("__ws"))
      // Materialization barrier: every consumer explodes shingles (or
      // tokens) out of __ws, and without a real stage boundary
      // Catalyst's CollapseProject inlines normalize+split INTO the
      // generate stage, re-evaluating the whole tokenizer chain per
      // emitted element — measured 70.5 s → 1.9 s (36×) on a 25k-doc
      // span profile when this barrier went in. One token-array
      // shuffle, keyed by id so the per-id aggregates downstream
      // reuse the partitioning.
      //
      // The partition count is explicit (the shuffle-partitions count
      // AQE would start from): AQE coalesces a keys-only repartition by
      // BYTES, and a few MB of token arrays collapse into one
      // partition, so the shingle/hash stage after it — whose cost is
      // per shingle, not per byte — ran as a single task. A
      // repartition with a count is never coalesced, so that stage
      // runs one task per partition, on every core. It does so for
      // every caller whatever the input size: a session with a large
      // shuffle-partitions count runs that many (mostly empty) tasks
      // even for a small streaming batch.
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("id"))

  /** (id, shingle) rows — the relational form of the shingle set.
    * Signature computation over this shape runs as codegen'd hash
    * aggregates (per-id partial aggregation collapses map-side, so the
    * shuffle moves ~one row per document, not per shingle). The
    * HOF-fold form of the same computation is interpreted per element
    * and measures 5-10× slower. */
  private def shingleRows(df: DataFrame, text: Column, id: Column,
                          shingleWidth: Int = 3): DataFrame =
    tokenized(df, text, id).select(col("id"),
      explode(array_distinct(TextAnalysis.shinglesOf(col("__ws"), shingleWidth))).as("w"))

  /** Banded MinHash signature index rows: one row per (document,
    * band) with columns `(id, sig, band, bucket)`. This is BOTH the
    * internal first stage of [[minHashPairs]] and the PERSISTABLE
    * corpus dedup index for [[dedupIncremental]]: write these rows
    * out (e.g. `SnapshotStore.mergeCommit` partitioned by `band`) and
    * each future ingest batch deduplicates against the corpus by
    * equi-joining them — no re-shingling of old documents, ever.
    *
    * Signature values are xxhash64 longs under `fastHash` (the
    * production path) or md5 hex strings otherwise (the portable
    * encoding an external engine can replay); an index must be probed
    * with the SAME (numHashes, bands, shingleWidth, fastHash) it was
    * built with — the parameters are part of the index's identity. */
  def minHashIndex(
      df: DataFrame, text: Column, id: Column,
      numHashes: Int = 16, bands: Int = 4,
      shingleWidth: Int = 3, fastHash: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // Relational signature: numHashes codegen'd min-aggregates over the
    // exploded shingle rows (identical values to minHashSignatureOf —
    // min ignores duplicate shingles).
    val hashAggs = (0 until numHashes).map { i =>
      if (fastHash) min(xxhash64(lit(i.toLong), col("w"))).as(s"__h$i")
      else min(md5(concat(lit(s"$i|"), col("w")))).as(s"__h$i")
    }
    val sig = shingleRows(df, text, id, shingleWidth)
      .groupBy(col("id"))
      .agg(hashAggs.head, hashAggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"))
    val bucketOf = (b: Int) =>
      if (fastHash) xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).cast("string")
      else md5(concat_ws(" ", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
    sig.select(
      col("id"), col("sig"),
      posexplode(array((0 until bands).map(bucketOf): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Estimated Jaccard from two equal-length MinHash signatures: the
    * fraction of agreeing slots. */
  private def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v))
      .cast("double") / lit(numHashes.toDouble)

  /** Incremental near-dup dedup: the ingest-time form of
    * [[minHashPairs]] + [[dedupCorpus]] for a GROWING corpus. A new
    * batch is deduplicated (1) against the persisted signature
    * `index` of everything already accepted and (2) within itself
    * keep-first — a batch document is dropped iff some index document
    * or a SMALLER-id batch document matches at ≥ `threshold`. Returns
    * the surviving rows of `newDocs`; append
    * `minHashIndex(survivors, ...)` to the index afterwards (same
    * parameters — see [[minHashIndex]]) to accept them.
    *
    * Like [[dedupCorpus]], keep-first is local: a batch doc whose only
    * smaller match was itself dropped (by the index or an even
    * smaller doc) is still dropped — near-duplication is treated as
    * transitive toward the corpus, which is the conservative direction
    * for training data (never admit a doc that chains to an accepted
    * one).
    *
    * Scale shape: old documents are never re-shingled — the corpus
    * side of the join is the stored index rows (one per doc × band).
    * Both probes are equi-joins on (band, bucket): batch×index
    * shuffles |batch|×bands + |index|×bands rows (partition the
    * stored index by `band` and only matching buckets move), and the
    * within-batch probe is [[minHashPairs]]'s own shape. Nothing is
    * ever quadratic in the corpus. */
  def dedupIncremental(
      newDocs: DataFrame, text: Column, id: Column, index: DataFrame,
      numHashes: Int = 16, bands: Int = 4,
      shingleWidth: Int = 3, threshold: Double = 0.5,
      fastHash: Boolean = true): DataFrame = {
    require(Seq("band", "bucket", "sig").forall(index.columns.contains),
      s"index needs (band, bucket, sig) columns — got ${index.columns.mkString(", ")}; " +
        "build it with minHashIndex (and probe with the index's own parameters)")
    require(!newDocs.columns.contains("__drop"),
      "dedupIncremental reserves the __drop column name; rename it in newDocs")
    // The batch's signatures feed three consumers (the corpus probe
    // and both within-batch join sides). Over the uncached batches the
    // callers pass (a streaming micro-batch, a filtered query), AQE
    // reuses one exchange for all three, so they are computed once
    // without the truncation minHashPairs needs (DedupWorkOnceSpec).
    val newIdx = minHashIndex(newDocs, text, id, numHashes, bands, shingleWidth, fastHash)
    val probe = newIdx.select(col("band"), col("bucket"),
      col("id").as("__nid"), col("sig").as("__nsig"))
    val vsCorpus = probe.hint("shuffle_hash")
      .join(index.select(col("band"), col("bucket"), col("sig").as("__isig")),
        Seq("band", "bucket"))
      .filter(estJaccard(col("__nsig"), col("__isig"), numHashes) >= threshold)
      .select(col("__nid").as("__drop"))
    val l = newIdx.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = newIdx.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    val within = l.hint("shuffle_hash").join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(estJaccard(col("sig_a"), col("sig_b"), numHashes) >= threshold)
      .select(col("id_b").as("__drop"))
    newDocs.join(vsCorpus.unionByName(within).distinct(),
      id === col("__drop"), "left_anti")
  }

  /** MinHash/LSH candidate pairs: band the signature, bucket-join, then
    * estimate Jaccard as the fraction of agreeing signature slots and
    * keep pairs ≥ `threshold`.
    *
    * Scale path: the join is an equi-join on (band_index, band_hash) —
    * documents only meet if they collide in some band, so the shuffle
    * moves (doc × bands) rows, not doc² pairs. `bands × rowsPerBand`
    * must equal `numHashes`.
    *
    * `fastHash = true` (the default — the production path) hashes with
    * native codegen'd xxhash64 (~5× cheaper per shingle than the md5
    * string path). Pass `fastHash = false` only when an external SQL
    * engine must replay the signatures bit-for-bit (md5-hex is the
    * portable encoding; the oracle queries pin it).
    *
    * The banded signature rows are computed when this is called (one
    * truncation job); the returned pair relation is lazy. */
  def minHashPairs(
      df: DataFrame, text: Column, id: Column,
      numHashes: Int = 16, bands: Int = 4,
      shingleWidth: Int = 3, threshold: Double = 0.5,
      fastHash: Boolean = true): DataFrame = {
    // Both join sides read the signatures. Spark plans no
    // ReusedExchange across this self-join when its input is cached
    // (measured on 4.1.2: the tokenizer and the signature aggregate
    // each ran once per side), so the banded rows are materialized
    // first and both sides read them.
    val banded = Checkpoints.truncate(
      minHashIndex(df, text, id, numHashes, bands, shingleWidth, fastHash))
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.hint("shuffle_hash").join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
  }

  /** SimHash signature as a long (`bits` ≤ 64). Each distinct word
    * 3-shingle votes ±1 per bit position according to its xxhash64; the
    * sign of each bit-sum forms the signature. Shingles (not words) are
    * the feature set so small-vocabulary corpora still discriminate.
    * Computed entirely map-side: one native hash per shingle and ONE
    * fold accumulating every bit's vote count in an array — the
    * per-bit-aggregate form re-evaluates the hash array `bits` times in
    * the plan (measured ~50× slower at 48 bits on the bench corpus). */
  def simHash(text: Column, bits: Int = 64): Column =
    simHashOf(TextAnalysis.tokens(TextAnalysis.normalized(text)), bits)

  /** [[simHash]] over a pre-materialized token-array column — the fast
    * path (see TextAnalysis.shinglesOf's performance contract). */
  def simHashOf(ws: Column, bits: Int = 64): Column = {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    val powers = array((0 until bits).map(b => lit(1L << b)): _*)
    val hashes = transform(array_distinct(TextAnalysis.shinglesOf(ws)),
      w => xxhash64(w))
    val votes = aggregate(hashes, array_repeat(lit(0L), bits),
      (acc, h) => zip_with(acc, powers,
        (a, p) => a + when(h.bitwiseAND(p) =!= 0L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0L, p).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash near-dup pairs: band the signature into `bands` chunks,
    * equi-join on (band, chunk), keep pairs with Hamming distance ≤
    * `maxHamming`. By pigeonhole, any pair within distance `bands - 1`
    * shares at least one exact chunk, so recall is exact for
    * maxHamming < bands.
    *
    * Bucket-width tradeoff: each band's bucket space is 2^(bits/bands)
    * values — band too finely (many bands over few bits) and every
    * bucket holds n / 2^(bits/bands) rows, degrading the equi-join
    * toward all-pairs. The 64-bit / 4-band default gives 16-bit chunks
    * (65k buckets per band) with exact recall to Hamming 3 — the
    * standard web-dedup configuration. */
  def simHashPairs(
      df: DataFrame, text: Column, id: Column,
      bits: Int = 64, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    // Checked before the signatures are materialized below.
    requireBanding(bits, bands)
    // Relational signature: per-bit vote sums as codegen'd aggregates
    // over exploded shingle rows (identical values to simHashOf).
    val h = shingleRows(df, text, id).select(col("id"), xxhash64(col("w")).as("h"))
    val bitAggs = (0 until bits).map(b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0L, 1).otherwise(-1)).as(s"__b$b"))
    // Materialized once for both sides of hammingPairs' self-join
    // (see minHashPairs).
    val sigs = Checkpoints.truncate(h.groupBy(col("id"))
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("id"),
        (0 until bits).map(b => when(col(s"__b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("sig")))
    hammingPairs(sigs, col("id"), col("sig"), bits, bands, maxHamming)
  }

  /** Banded Hamming near-dup pairs over PRECOMPUTED ≤64-bit
    * signatures — the [[simHashPairs]] join machinery generalized to
    * any bit signature (image pHash via
    * [[Multimodal.perceptualHashes]], audio fingerprints): band each
    * signature into `bands` chunks, equi-join on (band, chunk), keep
    * pairs within `maxHamming`. Pigeonhole-exact when
    * `maxHamming < bands` (a pair within the threshold differs in
    * fewer bands than exist, so SOME band chunk matches exactly);
    * more bands = exactness at higher thresholds, at the price of
    * more index rows — the standard recall/cost dial. Null
    * signatures (undecodable media) drop out here, not as task
    * failures. Never an all-pairs product: candidates are
    * Σ|bucket|², bounded by the band-chunk collision structure. */
  def hammingPairs(sigs: DataFrame, id: Column, sig: Column,
                   bits: Int = 64, bands: Int = 4,
                   maxHamming: Int = 3): DataFrame = {
    requireBanding(bits, bands)
    val chunk = bits / bands
    val mask = if (chunk == 64) -1L else (1L << chunk) - 1
    val s = sigs.select(id.as("id"), sig.as("sig"))
      .where(col("sig").isNotNull)
    val banded = s.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * chunk).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    val l = banded.select(col("band"), col("chunk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("chunk"), col("id").as("id_b"), col("sig").as("sig_b"))
    // Each side reads `sigs` again: no ReusedExchange is planned
    // across this self-join over a cached input (see minHashPairs), so
    // a caller whose signatures are costly materializes them first.
    l.hint("shuffle_hash").join(r, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  private def requireBanding(bits: Int, bands: Int): Unit = {
    require(bits >= 2 && bits <= 64, s"bits must be in [2,64], got $bits")
    // A non-positive band count that happens to divide bits would
    // build ZERO bands and return a silently EMPTY pair set — total
    // recall loss, the worst possible failure mode for a dedup API.
    require(bands >= 1 && bands <= bits,
      s"bands must be in [1,$bits], got $bands")
    require(bits % bands == 0,
      s"bands ($bands) must divide bits ($bits): a remainder would leave the top " +
        "bits outside every band and silently void the pigeonhole recall guarantee")
  }

  /** Apply a near-dup pair set to the corpus: keep-first policy — any
    * document that collides with a LOWER-id document is dropped
    * (`pairs` carries id_a < id_b, so dropping the id_b side removes
    * exactly the non-canonical members; no connected-components pass
    * needed for this policy). One anti-join — the standard final step
    * after [[minHashPairs]]/[[simHashPairs]] at corpus scale.
    *
    * Keep-first keeps every LOCAL minimum: a doc survives iff it has no
    * smaller direct neighbor. When similarity is transitive only
    * through a larger id — pairs (1,3),(2,3) — both 1 and 2 survive
    * even though they sit in one near-dup cluster. For strict
    * one-per-cluster retention use [[dedupCorpusClusters]]. */
  def dedupCorpus(df: DataFrame, pairs: DataFrame, id: Column): DataFrame =
    df.join(pairs.select(col("id_b").as("__drop")).distinct(),
      id === col("__drop"), "left_anti")

  /** Connected components of the undirected candidate-pair graph
    * (`id_a`/`id_b` columns): every node maps to the minimum id in its
    * component — the transitive closure of the near-dup relation.
    *
    * Scale design (100 TB): min-label propagation with pointer jumping
    * — labels start at the least of each node's id and its neighbours'
    * ids, then each round sets label(u) ← min(label(u), min over
    * neighbours' labels), then label(u) ← label(label(u)). The jump
    * halves label chains, giving O(log n) rounds like the alternating
    * large-star/small-star algorithm; each round is two shuffles keyed
    * by node id over |V|+|E| rows, never an all-pairs product. Lineage
    * is truncated every round (Checkpoints.truncate — local by
    * default, reliable under `graft.checkpointDir`) so the plan cannot
    * grow with the iteration count. Convergence detection piggybacks
    * on the checkpoint job via `observe` (CollectMetrics): the
    * changed-label count is a metric of the materialization action
    * itself, so a round costs exactly its two shuffles — no per-round
    * driver-side count job. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsIters(pairs, maxIter)._1

  /** [[connectedComponents]] plus the executed round count — exposed
    * for the worst-case specs that pin the O(log n) claim (a path
    * graph must converge in ~⌈log₂ n⌉ rounds, not n). */
  private[graft] def connectedComponentsIters(
      pairs: DataFrame, maxIter: Int): (DataFrame, Int) = {
    val sym = pairs
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .distinct()
      .persist()
    // Seeded labels: the aggregation that builds the node list also
    // takes each node's least neighbour, so round 1 starts from the
    // one-hop minimum instead of spending a round finding it (a clique
    // or a star around its least id then converges in one round).
    var labels = Checkpoints.truncate(
      sym.groupBy(col("a").as("id"))
        .agg(min(col("b")).as("__nmin"))
        .select(col("id"), least(col("id"), col("__nmin")).as("component")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = sym
        .join(labels.select(col("id").as("b"), col("component").as("__nc")), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("__nc")).as("__nmin"))
      val stepped = labels
        .join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("__nmin"), col("component")))
            .as("component"))
      // Pointer jump: labels are node ids, so each label's own label
      // exists; following it halves chains (left_outer only guards the
      // degenerate empty-graph case). The pre-round label rides along
      // as __old so convergence needs no extra |V|-row join.
      val jumped = stepped
        .join(stepped.select(col("id").as("__jid"), col("component").as("__jc")),
          stepped("component") === col("__jid"), "left_outer")
        .select(col("id"), col("__old"),
          coalesce(col("__jc"), col("component")).as("component"))
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
      val next = Checkpoints.truncate(jumped.observe(obs,
        sum(when(col("component") =!= col("__old"), 1L).otherwise(0L))
          .as("changed")))
      // The eager checkpoint materialized the plan, so the metric is
      // already resolved — get() returns without scheduling anything.
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = next.drop("__old")
      iter += 1
    }
    sym.unpersist()
    (labels, iter)
  }

  /** Cluster-level corpus dedup: transitive-closure the pair set with
    * [[connectedComponents]] and keep exactly the minimum-id document
    * per component (every doc whose component label differs from its
    * own id is dropped — one anti-join after the CC rounds). */
  def dedupCorpusClusters(df: DataFrame, pairs: DataFrame, id: Column): DataFrame = {
    val drops = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__drop"))
    df.join(drops, id === col("__drop"), "left_anti")
  }

  /** Cluster-level dedup with a QUALITY policy: keep the best document
    * per near-dup component by `prefer` (descending; ties break on the
    * lowest id) instead of the lowest id — e.g. keep the longest or
    * highest-quality-score member of each cluster.
    *
    * Scale shape: only documents that appear in a pair enter the
    * per-component window (two broadcast-size semi/anti-joins split the
    * corpus); the untouched majority of a 100 TB corpus never shuffles.
    * The window partitions by component — near-dup clusters are small,
    * so no skew. */
  def dedupCorpusClustersBy(df: DataFrame, pairs: DataFrame, id: Column,
                            prefer: Column): DataFrame = {
    val comps = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("component").as("__component"))
    val paired = df.join(comps, id === col("__cc_id"), "inner")
    val unpaired = df.join(comps, id === col("__cc_id"), "left_anti")
    val w = Window.partitionBy(col("__component")).orderBy(prefer.desc, id.asc)
    val best = paired.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__cc_id", "__component")
    unpaired.unionByName(best)
  }

  /** Exact n-gram (shingle-set) Jaccard similarity for pairs. Without a
    * candidate set this is O(n²) via the shingle-level self-join —
    * correct but quadratic; at scale feed it MinHash candidates instead
    * (restrict to the output of [[minHashPairs]]). */
  def ngramJaccardPairs(df: DataFrame, text: Column, id: Column, threshold: Double): DataFrame = {
    // Shingle expression INLINE in the generator (see dupSpanStats:
    // naming it first invites InferFiltersFromGenerate to clone the
    // chain into a pushed-down interpreted filter).
    val words = tokenized(df, text, id)
      .select(col("id"),
        size(array_distinct(TextAnalysis.shinglesOf(col("__ws")))).as("n"),
        explode(array_distinct(TextAnalysis.shinglesOf(col("__ws")))).as("w"))
    val l = words.select(col("w"), col("id").as("id_a"), col("n").as("n_a"))
    val r = words.select(col("w"), col("id").as("id_b"), col("n").as("n_b"))
    l.join(r, "w")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("common"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact shingle-set Jaccard scored ONLY for the given candidate
    * pairs — the 100 TB path: feed it [[minHashPairs]] output so cost
    * is linear in candidates × shingles-per-doc, never doc².
    * `candidates` carries (id_a, id_b); pairs with no shingle overlap
    * score 0. */
  def ngramJaccardFor(df: DataFrame, text: Column, id: Column,
                      candidates: DataFrame): DataFrame = {
    // Same inline-generator discipline as ngramJaccardPairs.
    val words = tokenized(df, text, id)
    val sizes = words.select(col("id"),
      size(array_distinct(TextAnalysis.shinglesOf(col("__ws")))).as("n"))
    val exploded = words.select(col("id"),
      explode(array_distinct(TextAnalysis.shinglesOf(col("__ws")))).as("w"))
    val cand = candidates.select(col("id_a"), col("id_b"))
    val common = cand
      .join(exploded.select(col("id").as("id_a"), col("w")), Seq("id_a"))
      .join(exploded.select(col("id").as("id_b"), col("w")), Seq("id_b", "w"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
    cand
      .join(common, Seq("id_a", "id_b"), "left_outer")
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (coalesce(col("common"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("common"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  /** Corpus-wide LINE deduplication — the C4/RefinedWeb boilerplate
    * scrub: lines that repeat across many documents (nav menus, cookie
    * banners, licence headers) are dropped EVERYWHERE once their
    * corpus-wide occurrence count exceeds `maxOccurrences`, and each
    * document is reassembled from its surviving lines in original
    * order. Documents whose every line was boilerplate come back as an
    * empty string (chain a length gate downstream), so the output
    * keeps exactly one row per input document.
    *
    * Scale (100 TB): three shuffles, all equi-keyed and skew-free —
    * the line-frequency hash aggregate and the anti-join both key on
    * md5(line) (uniform 128-bit, and ~32 bytes crossing the exchange
    * instead of the line text), and the per-document reassembly keys
    * on the id. The frequent-line set is only the lines OVER the
    * threshold, so the anti-join's build side stays far smaller than
    * the corpus. Nothing is quadratic and no driver-side collection
    * exists. The exploded line frame is consumed twice (frequency
    * pass + keep pass) — inherent to the operator; on a very large
    * corpus persist the input (or let the snapshot store's skipping
    * scan absorb the second read) rather than recomputing upstream
    * transforms. */
  def lineDedup(docs: DataFrame, text: Column, id: Column,
                maxOccurrences: Long, sep: String = "\n"): DataFrame = {
    require(maxOccurrences >= 1, s"maxOccurrences must be >= 1, got $maxOccurrences")
    val lines = docs.select(id.as("id"),
        posexplode(split(text, java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .withColumn("__h", md5(col("line").cast("binary")))
    // Cross-DOCUMENT frequency (the C4/RefinedWeb convention): a line
    // repeated many times inside one document is that document's own
    // structure, not corpus boilerplate — count distinct ids, not
    // occurrences. Spark plans this as a two-key partial-aggregate
    // (dedupe on (__h, id), then count), still skew-free on md5.
    val frequent = lines.groupBy(col("__h"))
      .agg(countDistinct(col("id")).as("__n"))
      .filter(col("__n") > maxOccurrences)
      .select(col("__h"))
    val rebuilt = lines.join(frequent, Seq("__h"), "left_anti")
      .groupBy(col("id"))
      .agg(concat_ws(sep, transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line"))).as("text"))
    docs.select(id.as("id")).join(rebuilt, Seq("id"), "left")
      .withColumn("text", coalesce(col("text"), lit("")))
  }

  /** Benchmark decontamination — the train/eval-overlap hygiene gate a
    * pretraining corpus runs before training (the published GPT-3-style
    * n-gram overlap check): for each document, how many of its distinct
    * word `shingleWidth`-shingles appear anywhere in the evaluation set
    * `bench`, the contaminated fraction, and which benchmark rows
    * matched. Flag-then-filter: callers drop documents above a fraction
    * threshold (or with any overlap at all) and keep the report for the
    * audit trail.
    *
    * Output: (id, n_shingles, n_overlap, overlap_frac, bench_ids) —
    * `bench_ids` sorted and de-duplicated for determinism. Documents
    * shorter than `shingleWidth` tokens contribute one whole-text
    * shingle (the [[minHashPairs]] convention), so nothing silently
    * skips the check.
    *
    * Scale (100 TB): eval suites are thousands of rows next to the
    * corpus, so the benchmark's (shingle → matching ids) map builds in
    * one pass over the SMALL side and BROADCASTS pre-aggregated —
    * joining it to a doc shingle is 1:1, so corpus rows never multiply
    * even when one shingle matches many benchmark entries. The only
    * data-sized shuffle is the per-document aggregation, which
    * partially aggregates map-side. No corpus×bench comparison beyond
    * shingle-hash equality ever materializes. */
  def benchmarkOverlap(docs: DataFrame, text: Column, id: Column,
                       bench: DataFrame, benchText: Column, benchId: Column,
                       shingleWidth: Int = 8): DataFrame = {
    val docSh = shingleRows(docs, text, id, shingleWidth)
    // (shingle → sorted matching bench ids), tiny by construction.
    val benchByShingle = shingleRows(bench, benchText, benchId, shingleWidth)
      .select(col("id").as("__bid"), col("w")).distinct()
      .groupBy(col("w"))
      .agg(sort_array(collect_set(col("__bid"))).as("__bids"))
    docSh.join(broadcast(benchByShingle), Seq("w"), "left_outer")
      .groupBy(col("id"))
      .agg(
        // shingleRows emits DISTINCT shingles per id and the broadcast
        // side is one row per shingle, so plain counts are exact.
        count(lit(1)).as("n_shingles"),
        count(col("__bids")).as("n_overlap"),
        // collect_list skips the unmatched nulls; a fully-clean doc
        // gets an EMPTY list (never null), flattened to an empty array.
        sort_array(array_distinct(flatten(collect_list(col("__bids"))))).as("bench_ids"))
      .withColumn("overlap_frac",
        col("n_overlap").cast("double") / greatest(col("n_shingles"), lit(1L)))
      .select(col("id"), col("n_shingles"), col("n_overlap"),
        col("overlap_frac"), col("bench_ids"))
  }

  /** Cross-document duplicated-span profile (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — the ExactSubstr signal as a per-document
    * statistic): slide a `width`-token window over each document's
    * normalized tokens; a window POSITION is duplicated when its
    * exact token span also occurs in at least one OTHER document
    * (distinct-document counting, [[lineDedup]]'s C4 convention — a
    * phrase repeated within one document is that document's own
    * structure). Returns (id, n_spans, n_dup_spans, dup_span_ratio);
    * callers gate on the ratio (boilerplate-heavy documents score
    * high) or feed the flagged spans to removal.
    *
    * Scale shape — three deliberate choices, each measured:
    * (1) tokenization is cut off from the shingle explode by a REAL
    * materialization barrier (`repartition` on the id) — separate
    * `select` stages are NOT enough, Catalyst's CollapseProject merges
    * them back and the generate/HOF stage then re-evaluates the whole
    * normalize+split chain PER EMITTED SPAN (measured 70.5 s → 1.9 s
    * at 25k docs, 36×, when the barrier went in; the barrier's one
    * token-array shuffle is the price and it is an order of magnitude
    * below the blowup it prevents); (2) the exploded frame is
    * traversed ONCE: spans reduce to per-(doc, hash) counts (map-side
    * partial combine on 16-byte skew-free md5 keys), a count window
    * over the hash yields the distinct-document frequency — rows are
    * unique per (doc, hash), so COUNT(*) over the hash IS the
    * distinct-doc count, no second derivation of the corpus and no
    * join back; (3) the final rollup is a per-document hash
    * aggregate. Documents shorter than `width` tokens contribute
    * their whole text as one span ([[TextAnalysis.shinglesOf]]'s
    * short-document contract). */
  def dupSpanStats(docs: DataFrame, text: Column, id: Column,
                   width: Int = 8): DataFrame = {
    val perDocSpan = docs
      .select(id.as("id"), TextAnalysis.normalized(text).as("__nm"))
      .select(col("id"), TextAnalysis.tokens(col("__nm")).as("__ws"))
      .repartition(col("id")) // barrier — see scale note (1)
      // The shingle expression stays INLINE in the generator — naming
      // it first (`.as("__sh")` then explode the attribute) lets
      // InferFiltersFromGenerate add `size(__sh) > 0` which predicate
      // pushdown then re-inflates into the FULL tokenize+shingle chain
      // evaluated per input row below the barrier (measured 75 s vs
      // 3.5 s at 25k docs — the filter's interpreted re-evaluation
      // dwarfed the real work). Expensive inline generators are exempt
      // from that inference.
      .select(col("id"),
        explode(TextAnalysis.shinglesOf(col("__ws"), width)).as("__span"))
      .select(col("id"), md5(col("__span").cast("binary")).as("__h"))
      .groupBy(col("id"), col("__h")).agg(count(lit(1)).as("__k"))
    // Distinct-document frequency per hash as an AGGREGATE, not a
    // window: rows are unique per (doc, hash) so COUNT(*) per hash is
    // the distinct-doc count, and groupBy partial-combines map-side —
    // a corpus-ubiquitous boilerplate span ("all rights reserved" in
    // 10^8 docs) reduces to one row per map task instead of
    // serializing the whole partition through a single window task.
    // The join back is skew-splittable by AQE; a window never is.
    val docFreq = perDocSpan.groupBy(col("__h"))
      .agg(count(lit(1)).as("__docs"))
    val withDocs = perDocSpan.join(docFreq, Seq("__h"))
    withDocs.groupBy(col("id")).agg(
        sum(col("__k")).as("n_spans"),
        sum(when(col("__docs") >= 2, col("__k")).otherwise(lit(0L)))
          .as("n_dup_spans"))
      .select(col("id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans"))
          .as("dup_span_ratio"))
  }

  /** ExactSubstr REMOVAL (the second half of Lee et al. 2022,
    * arXiv:2107.06499 — [[dupSpanStats]] is the signal, this is the
    * surgery): delete from each document every token covered by a
    * duplicated span — a `width`-token window whose exact token
    * sequence occurs in at least one OTHER document (distinct-document
    * counting, the C4 convention — self-repetition is document
    * structure, not corpus duplication). Returns
    * (id, clean_text, n_tokens, n_kept): the cleaned text is the
    * surviving tokens of the NORMALIZED form, space-joined, empty when
    * every token was covered. A document shorter than `width` tokens
    * is one whole-text span — duplicated means the whole document
    * empties, exactly exact-dedup for short texts.
    *
    * Scale shape: spans travel as md5 hashes (16-byte skew-free keys);
    * the duplicated-span set comes from one distinct + count aggregate
    * over (doc, hash); flagging starts is a semi join on the hash;
    * coverage expands each duplicated START into ≤ `width` positions
    * (rows ∝ duplicated content, not the corpus) and dedups them; the
    * kept-token set is an anti join on (id, position); and the rebuild
    * is one per-document sort-aggregate. Nothing is quadratic and no
    * span STRING ever shuffles — the widest shuffles are keyed by doc
    * id or span hash with map-side partial aggregation. */
  def removeDupSpans(docs: DataFrame, text: Column, id: Column,
                     width: Int = 8): DataFrame = {
    val base = docs
      .select(id.as("id"), TextAnalysis.normalized(text).as("__nm"))
      .select(col("id"), TextAnalysis.tokens(col("__nm")).as("__ws"))
      // Materialization barrier (see dupSpanStats scale note (1)):
      // without it CollapseProject inlines normalize+split into the
      // two generate stages below and re-evaluates them per emitted
      // span/token. `base` feeds THREE consumers, so the shuffled
      // staging also keeps the token arrays computed once per doc.
      .repartition(col("id"))
      .withColumn("__n", size(col("__ws")))
    val spans = base
      .select(col("id"), col("__n"),
        posexplode(TextAnalysis.shinglesOf(col("__ws"), width)))
      .select(col("id"), col("__n"), col("pos").as("__s"),
        md5(col("col").cast("binary")).as("__h"))
    // Distinct-document frequency per span hash; ≥2 = duplicated.
    val dupHashes = spans.select(col("id"), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= 2)
    val dupStarts = spans.join(dupHashes, Seq("__h"), "left_semi")
    // Every position a duplicated window covers. `least` handles the
    // short-document whole-text span (start 0, n-1 < width-1).
    val covered = dupStarts
      .select(col("id"), explode(sequence(col("__s"),
        least(col("__s") + lit(width - 1), col("__n") - 1))).as("__p"))
      .distinct()
    val toks = base.select(col("id"), posexplode(col("__ws")))
      .select(col("id"), col("pos").as("__p"), col("col").as("__tok"))
    val kept = toks.join(covered, Seq("id", "__p"), "left_anti")
    val rebuilt = kept.groupBy(col("id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__p"), col("__tok")))),
        x => x("__tok")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    base.select(col("id"), col("__n"))
      .join(rebuilt, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("__n").cast("long").as("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
