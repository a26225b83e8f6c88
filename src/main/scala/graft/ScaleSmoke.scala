package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress harness: amplifies the test corpus N× (distinct-but-
  * similar replicas, so dedup candidate structure stays realistic) and
  * times the operators whose scale behavior matters most. Run with
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.ScaleSmoke 20"
  * and compare against amplification=1 — the LSH/IVF paths should grow
  * ~linearly in rows (candidate pairs are bucket-bounded), never
  * quadratically.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val amp = args.headOption.map(_.toInt).getOrElse(20)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevRun.session()

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val reps = spark.range(amp).select(col("id").as("rep"))
    // Each replica keeps the duplicate-cluster structure but is not an
    // exact copy of another replica (suffix differs).
    val docs = docs0.crossJoin(reps)
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"))

    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val embs = emb0.crossJoin(reps)
      .select((col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        transform(col("embedding"),
          x => x + col("rep").cast("float") * lit(0.0001f)).as("embedding"))

    def time(name: String)(body: => Long): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val n = body
      (name, (System.nanoTime() - t0) / 1e9, n)
    }

    import graft.operators.{Dedup, Sampling, Similarity}

    // Snapshot-store base table (written OUTSIDE the timed merge so the
    // measurement isolates the incremental commit cost).
    val snapRoot = DevRun.fixtureRoot("scale_snap") + "/t"
    val incIdxRoot = DevRun.fixtureRoot("scale_incidx") + "/t"
    val docs0Count = docs0.count()
    val snapBase = docs
      .withColumn("part", pmod(col("doc_id"), lit(16)))
      .withColumn("v", lit(1))
    graft.sinks.SnapshotStore.commit(spark, snapBase, snapRoot, "part")

    // Range-laid snapshot for the data-skipping measurement: files
    // carry narrow disjoint doc_id ranges (the post-Z-order layout),
    // so a selective read should PLAN a small fraction of them.
    val skipRoot = DevRun.fixtureRoot("scale_skip") + "/t"
    graft.sinks.SnapshotStore.commit(spark,
      docs.withColumn("part", lit("x"))
        .repartitionByRange(64, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      skipRoot, "part")
    var skipFiles = (0, 0) // (candidates planned, total files)
    var bloomFiles = (0, 0, 0) // (candidates before bloom, total, after bloom)
    var bm25TableDir = "" // set by bm25_index_build, read by bm25_via_index
    var bm25IndexDir = ""
    var deleteWhereRoot = "" // set by delete_where_setup
    var mpRoot = ""; var cdcRootOne = ""; var cdcRootTwo = "" // round-10 setups
    var dvRootRewrite = ""; var dvRootMor = "" // set by dv_setup
    var bkPlainL = ""; var bkPlainR = "" // round-12 bucketed-join probes
    var bkClusL = ""; var bkClusR = ""
    var pqBooks: DataFrame = null; var pqIndexDf: DataFrame = null // round-11 PQ
    var hllSrcRoot = ""; var hllSkRoot = "" // round-11 sketch sync
    var ruRollRoot = "" // round-11 rollup sync
    var hkRoot = ""; var hkR1 = ""; var hkR2 = ""; var hkR3 = "" // round-13 hook pricing
    var asyncV9 = 0L // round-15 async probe: the data commit the drain row verifies

    // Skewed event log for the as-of measurement: 80% of facts on one
    // hot key, timestamps spread over amp×12 hours, dims every 50th.
    val asofFacts = docs.select(
      when(pmod(col("doc_id"), lit(5)) < 4, lit(0L))
        .otherwise(pmod(col("doc_id"), lit(97))).as("k"),
      timestamp_micros(pmod(col("doc_id") * 7919L, lit(amp * 12L * 3600L))
        * 1000000L).as("ts"),
      col("doc_id").as("fact_id"))
    val asofDims = asofFacts.filter(pmod(col("fact_id"), lit(50)) === 0)
      .select(col("k"), col("ts"), (col("fact_id") % 1000).cast("double").as("lvl"))

    // Pre-quantized ANN sides for the steady-state scan probe —
    // materialized here so the timed probe pays only the integer scan.
    def int8CodesOf(df: DataFrame, prefix: String): DataFrame = df
      .select(col("vec_id").as(s"${prefix}_id"), col("embedding").as("__v"),
        graft.functions.Vectors.int8Scale(col("embedding"))
          .as(s"${prefix}_scale"))
      .select(col(s"${prefix}_id"), col(s"${prefix}_scale"),
        graft.functions.Vectors.int8Codes(col("__v"),
          col(s"${prefix}_scale")).as(s"${prefix}_codes"))
    val int8Corpus = int8CodesOf(embs, "neighbor").persist()
    val int8Queries = int8CodesOf(
      emb0.filter(pmod(col("vec_id"), lit(100)) === 7), "query").persist()
    int8Corpus.count(); int8Queries.count()

    val results = Seq(
      // The same selective predicate through the plain all-files read
      // vs the stats-skipping FileIndex: identical answers, the
      // skipping path opens only the files whose ranges intersect.
      time("snapshot_scan_full") {
        graft.sinks.SnapshotStore.read(spark, skipRoot)
          .filter(col("doc_id") >= 2000 && col("doc_id") < 4000).count()
      },
      time("snapshot_scan_skipping") {
        val (t, idx) = graft.sinks.SnapshotStore.tableWithIndex(spark, skipRoot)
        val n = t.filter(col("doc_id") >= 2000 && col("doc_id") < 4000).count()
        skipFiles = (idx.lastCandidateFiles, idx.totalFiles)
        n
      },
      time("exact_groups") {
        Dedup.exactGroups(docs, col("text"), col("doc_id"))
          .filter(col("n_dups") > 1).count()
      },
      time("minhash_pairs") {
        Dedup.minHashPairs(docs, col("text"), col("doc_id"),
          numHashes = 12, bands = 4, threshold = 0.5, fastHash = true).count()
      },
      time("simhash_pairs") {
        Dedup.simHashPairs(docs, col("text"), col("doc_id"),
          bits = 64, bands = 4, maxHamming = 3).count()
      },
      time("ivf_topk") {
        Similarity.ivfTopK(embs, "vec_id", "embedding",
          embs.filter(col("vec_id") < 64).select(col("vec_id")),
          k = 10, numCells = 64, nprobe = 2).count()
      },
      time("lsh_bucketed_topk") {
        Similarity.bucketedTopK(embs, "vec_id", "embedding",
          embs.filter(col("vec_id") < 64).select(col("vec_id")),
          k = 10, numAnchors = 10).count()
      },
      // Transitive clustering over the full banded-LSH pair graph —
      // the O(log n)-round min-label loop on ~1M pairs at 20×.
      time("cc_clusters") {
        val pairs = Dedup.minHashPairs(docs, col("text"), col("doc_id"),
          numHashes = 12, bands = 4, threshold = 0.5, fastHash = true)
        Dedup.connectedComponents(pairs)
          .filter(col("id") =!= col("component")).count()
      },
      // Adversarial CC worst case: a single 1M-node PATH component —
      // the deepest graph per edge. Pointer jumping must close it in
      // ~⌈log₂ 1M⌉ = 20 rounds (each two shuffles); naive propagation
      // would take a million. The printed value encodes rounds so a
      // regression to linear behavior is visible in the numbers, not
      // just the wall time: value = rounds × 10^7 + nodes, so 20 rounds
      // over 10^6 nodes prints 201000000.
      time("cc_chain_1m") {
        val n = 1000000L
        val chain = spark.range(n - 1)
          .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
        val (labels, iters) = Dedup.connectedComponentsIters(chain, maxIter = 40)
        val wrong = labels.filter(col("component") =!= 0L).count()
        require(wrong == 0, s"chain failed to collapse: $wrong stragglers")
        iters.toLong * 10000000L + n
      },
      // Incremental snapshot merge: 1 of 16 partitions touched — cost
      // must track the batch, not the table.
      time("snapshot_merge_incremental") {
        val incr = snapBase.filter(col("part") === 3).withColumn("v", lit(2))
        graft.sinks.SnapshotStore.mergeCommit(spark, incr, snapRoot,
          "doc_id", "v", "part")
        graft.sinks.SnapshotStore.read(spark, snapRoot,
          Some(Seq("3"))).count()
      },
      // Row-level change feed after the 1-of-16-partition merge: the
      // manifest diff restricts the scan to partition 3's files at
      // both versions, so the diff must cost a partition, not the
      // table — the CDC claim, measured.
      time("cdc_changes_narrow") {
        graft.sinks.SnapshotStore.changes(spark, snapRoot, 1L, 2L, "doc_id")
          .count()
      },
      // Keyed delete via the PROBE path (key list carries no partition
      // column): one column-pruned (key, part) semi-join over the
      // current snapshot finds the single touched partition, then only
      // that partition rewrites.
      time("delete_commit_probe") {
        val doomed = snapBase.filter(col("part") === 3 &&
          pmod(col("doc_id"), lit(10)) === 0).select(col("doc_id"))
        graft.sinks.SnapshotStore.deleteCommit(spark, doomed, snapRoot,
          "doc_id", "part")
        graft.sinks.SnapshotStore.read(spark, snapRoot, Some(Seq("3"))).count()
      },
      // Incremental dedup: the index over the FULL amplified corpus is
      // built+committed once (dedup_index_build); each ingest batch
      // then probes it WITHOUT re-shingling the corpus
      // (dedup_incremental_batch) — batch cost must track the batch
      // and the index join, never corpus shingling.
      time("dedup_index_build") {
        val idx = Dedup.minHashIndex(docs, col("text"), col("doc_id"),
          numHashes = 12, bands = 4, fastHash = true)
        graft.sinks.SnapshotStore.commit(spark, idx, incIdxRoot, "band")
        1L
      },
      time("dedup_incremental_batch") {
        // Batch = one un-amplified corpus worth: half near-dups of
        // indexed docs (suffix mutation), half fresh synthetic text.
        val nearDups = docs0.select((col("doc_id") + 900000000L).as("doc_id"),
          concat(col("text"), lit(" ingest mut")).as("text"))
        val fresh = spark.range(docs0Count).select(
          (col("id") + 950000000L).as("doc_id"),
          concat(lit("unique ingest document number "), col("id"),
            lit(" about topic "), pmod(col("id") * 7919L, lit(1000L)),
            lit(" with novel content words")).as("text"))
        Dedup.dedupIncremental(nearDups.unionByName(fresh),
          col("text"), col("doc_id"),
          graft.sinks.SnapshotStore.read(spark, incIdxRoot),
          numHashes = 12, bands = 4, threshold = 0.5, fastHash = true).count()
      },
      // Stratified token-budget sample (8 strata, the multi-strata
      // default path of the hierarchical cumsum); budget scales with
      // amplification so the kept fraction stays comparable.
      time("token_budget_sample") {
        val strat = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(8)).as("stratum"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        Sampling.sampleToTokenBudget(strat, col("n_tokens"), col("doc_id"),
          col("stratum"), budgetPerStratum = 2000L * amp).count()
      },
      // Hot-stratum sampling crossover: 500k×amp documents ALL in ONE
      // stratum (the "70% of the corpus is web" shape) — the
      // single-window reference serializes them through one task's
      // sort, the hierarchical sampler cumsums per md5-prefix shard in
      // parallel and stitches with broadcast offsets. Same output
      // (spec-pinned); this measures the skew effect. Synthetic rows
      // keep the measurement about the cumsum, not text tokenizing;
      // the budget keeps ~half so the filter stays realistic.
      time("sample_plain_hotstratum") {
        val strat = spark.range(500000L * amp).select(
          col("id").as("doc_id"), lit("web").as("stratum"),
          (pmod(col("id") * 2654435761L, lit(900L)) + lit(100L)).as("n_tokens"))
        Sampling.sampleToTokenBudgetPlain(strat, col("n_tokens"),
          col("doc_id"), col("stratum"),
          budgetPerStratum = 137500L * amp * 1000L).count()
      },
      time("sample_bucketed_hotstratum") {
        val strat = spark.range(500000L * amp).select(
          col("id").as("doc_id"), lit("web").as("stratum"),
          (pmod(col("id") * 2654435761L, lit(900L)) + lit(100L)).as("n_tokens"))
        Sampling.sampleToTokenBudget(strat, col("n_tokens"),
          col("doc_id"), col("stratum"),
          budgetPerStratum = 137500L * amp * 1000L).count()
      },
      // Point lookup on a hash-ordered snapshot: min/max stats cannot
      // prune (every file spans the key domain) — the bloom sidecar
      // skips by content. Build cost is one scan of the un-bloomed
      // files; lookup cost drops to the true-positive files.
      time("bloom_point_nobloom") {
        val (t, idx) = graft.sinks.SnapshotStore.tableWithIndex(spark, snapRoot)
        val n = t.filter(col("doc_id") === 4242L).count()
        bloomFiles = (idx.lastCandidateFiles, idx.totalFiles, bloomFiles._3)
        n
      },
      time("bloom_build") {
        graft.sinks.SnapshotStore.addBloomFilters(spark, snapRoot, Seq("doc_id"))
        1L
      },
      time("bloom_point_lookup") {
        val (t, idx) = graft.sinks.SnapshotStore.tableWithIndex(spark, snapRoot)
        val n = t.filter(col("doc_id") === 4242L).count()
        bloomFiles = (bloomFiles._1, idx.totalFiles, idx.lastCandidateFiles)
        n
      },
      // Hot-key as-of join: 80% of facts share ONE key, so the plain
      // as-of serializes that key into a single window task while the
      // bucketed variant splits it across hour buckets. Same results
      // (spec-pinned); this measures the skew effect.
      time("asof_plain_hotkey") {
        graft.operators.RangeJoin.asofJoin(asofFacts, asofDims,
          "k", "ts", "ts", Seq("lvl")).filter(col("lvl").isNotNull).count()
      },
      time("asof_bucketed_hotkey") {
        graft.operators.RangeJoin.asofJoinBucketed(asofFacts, asofDims,
          "k", "ts", "ts", Seq("lvl"), bucketWidthMicros = 3600L * 1000000L)
          .filter(col("lvl").isNotNull).count()
      },
      // Auto-selection: at this skew the sampler must land on the
      // bucketed side of the measured crossover by itself (the
      // count-per-key probe is included in the time).
      time("asof_auto_hotkey") {
        graft.operators.RangeJoin.asofJoinAuto(asofFacts, asofDims,
          "k", "ts", "ts", Seq("lvl")).filter(col("lvl").isNotNull).count()
      },
      // Benchmark decontamination at corpus scale: a 250-doc eval set
      // against the full amplified corpus — the bench side broadcasts
      // pre-aggregated, so cost should track the corpus shingle pass.
      time("decontaminate") {
        Dedup.benchmarkOverlap(docs, col("text"), col("doc_id"),
          docs0.filter(col("doc_id") < 250), col("text"), col("doc_id"),
          shingleWidth = 8).filter(col("n_overlap") > 0).count()
      },
      // Corpus-wide line dedup: 5-line composite docs over the whole
      // amplified corpus; the within-replica dup clusters provide the
      // repeated "boilerplate" lines.
      time("line_dedup") {
        val comp = docs
          .groupBy(pmod(col("doc_id"), lit(20000L)).as("gid"))
          .agg(concat_ws("\n", collect_list(col("text"))).as("text"))
        Dedup.lineDedup(comp, col("text"), col("gid"), maxOccurrences = 4)
          .filter(length(col("text")) > 0).count()
      },
      // Domain blocklist scrub with a MILLION-entry blocklist — too
      // big to broadcast, so this exercises the shuffled-hash semi
      // join path plus the anti-join back; URLs are synthesized so
      // ~1/16 of docs land under blocked domains (some via subdomain
      // suffix match).
      time("domain_scrub_1m_blocklist") {
        val urld = docs.select(col("doc_id"), concat(
          when(pmod(col("doc_id"), lit(3)) === 0, lit("https://sub.d"))
            .otherwise(lit("https://d")),
          pmod(col("doc_id"), lit(4000000L)), lit(".example.com/p/"),
          col("doc_id")).as("url"))
        val blocklist = spark.range(1000000L)
          .select(concat(lit("d"), col("id") * 16L, lit(".example.com"))
            .as("domain"))
        graft.functions.Urls.scrubDomains(urld, col("doc_id"), col("url"),
          blocklist).count()
      },
      // Deterministic split assignment over the full corpus: pure
      // map-side md5 + hex compare — this is the per-row floor.
      time("hash_split") {
        Sampling.hashSplit(docs.select(col("doc_id")), col("doc_id"),
          Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01))
          .filter(col("split") =!= "train").count()
      },
      // BM25 over the amplified corpus: doc lengths map-side, only
      // query-term occurrences reach the (doc, term) aggregate — the
      // cost should track corpus size, never corpus × vocabulary.
      time("bm25_retrieval") {
        graft.operators.TfIdf.bm25(docs, col("text"), col("doc_id"),
          Seq("spark", "vector", "merge")).count()
      },
      // Gopher repetition gate: map-side line signals + the per-doc
      // top-bigram aggregate (explode → hash agg → one window). Every
      // 4th doc is line-spammed (self-duplicated line) so the gate
      // has realistic drop AND pass traffic.
      time("repetition_gate") {
        graft.operators.Repetition.gate(
          docs.select(col("doc_id"),
            when(pmod(col("doc_id"), lit(4)) === 0,
              concat_ws("\n", col("text"), col("text")))
              .otherwise(col("text")).as("text")),
          col("text"), col("doc_id")).count()
      },
      // Quantized ANN scan vs the float brute-force baseline on the
      // same query set: the integer-MAC path should at least match
      // the float scan single-node and wins at the memory tier.
      time("ann_brute_float") {
        Similarity.bruteForceTopK(
          emb0.filter(pmod(col("vec_id"), lit(100)) === 7), embs,
          "vec_id", "embedding", k = 10).count()
      },
      time("ann_brute_int8") {
        Similarity.quantizedTopK(
          emb0.filter(pmod(col("vec_id"), lit(100)) === 7), embs,
          "vec_id", "embedding", k = 10).count()
      },
      // Steady-state quantized scan: codes pre-materialized outside the
      // timed region (the production shape — quantization amortized at
      // ingest), so this measures the pure integer-MAC scan tier
      // against ann_brute_float.
      time("ann_brute_int8_codes") {
        Similarity.quantizedTopKCodes(int8Queries, int8Corpus, k = 10).count()
      },
      // Quantized IVF (faiss IVFx,SQ8), inline: includes the one-off
      // assignment+quantization pass — the ingest cost.
      time("ivf_quantized_inline") {
        Similarity.ivfTopKQuantized(embs, "vec_id", "embedding",
          embs.filter(col("vec_id") < 64).select(col("vec_id")),
          k = 10, numCells = 64, nprobe = 2).count()
      },
      // Steady state: quantized inverted lists pre-materialized (the
      // production shape — assignment+quantization amortized at
      // ingest); the timed probe pays only cell ranking for 64 queries
      // plus the integer-MAC scan of the probed lists. Compare
      // ivf_topk, whose per-query work includes the full float corpus
      // assignment every time.
      time("ivf_quantized_steady") {
        val cents = Similarity.ivfCentroids(embs, "vec_id", "embedding", 64)
        val index = Similarity.ivfQuantizedIndex(
          embs, "vec_id", "embedding", cents).persist()
        index.count() // materialize OUTSIDE the probe measurement
        val t0 = System.nanoTime()
        val n = Similarity.ivfTopKQuantizedCodes(index, cents,
          embs.filter(col("vec_id") < 64), "vec_id", "embedding",
          k = 10, nprobe = 2).count()
        val probeSec = (System.nanoTime() - t0) / 1e9
        index.unpersist()
        // Encode the probe-only seconds (ms) in the value so the
        // steady-state cost is visible even though time() wraps the
        // whole block: value = probe_ms * 10^6 + rows.
        (probeSec * 1000).toLong * 1000000L + n
      },
      // BM25 through the skipping index: build once (bm25_index_build,
      // corpus-sized like any index build), then the ranked query reads
      // only candidate files + index rows — compare bm25_retrieval
      // (the full-scan path on the same corpus/query).
      time("bm25_index_build") {
        val dir = DevRun.fixtureRoot("scale_bm25ix")
        bm25IndexDir = s"$dir/index"
        val tableDir = s"$dir/table"
        docs.repartitionByRange(64, col("doc_id"))
          .sortWithinPartitions(col("doc_id"))
          .write.parquet(tableDir)
        bm25TableDir = tableDir
        graft.operators.TextIndex.buildBm25Index(
          spark, tableDir, "text", bm25IndexDir)
        1L
      },
      time("bm25_via_index") {
        graft.operators.TextIndex.bm25ViaIndex(spark, bm25TableDir,
          bm25IndexDir, "text", "doc_id", Seq("spark", "vector", "merge"))
          .count()
      },
      // Snapshot restore on the amplified table: pure metadata commit —
      // must stay ~constant as data grows.
      time("snapshot_restore_metadata") {
        val v = graft.sinks.SnapshotStore.restore(spark, snapRoot, 1L)
        graft.sinks.SnapshotStore.history(spark, snapRoot).count() + v
      },
      // One-pass expectations report over the amplified corpus (width
      // = |rules|, one scan).
      time("expectations_report") {
        graft.operators.Expectations.report(docs, Seq(
          graft.operators.Expectations.Expectation("nonempty",
            length(col("text")) > 0),
          graft.operators.Expectations.Expectation("id_set",
            col("doc_id").isNotNull),
          graft.operators.Expectations.Expectation("short",
            length(col("text")) < 400))).count()
      },
      // Feed-archive mode: N capture files in one directory → one task
      // per file (wholeTextFiles), rows union. Validates the "scales
      // from one sample file to a feed archive with no code change"
      // claim with an actual measurement.
      time("midocean_unified_dir") {
        val sample = new java.io.File(
          "/root/reference/sample data/MidOcean Sample Data.jsonc")
        if (!sample.exists()) 0L
        else {
          val dir = java.nio.file.Paths.get(DevRun.fixtureRoot("scale_feed"))
          val text = java.nio.file.Files.readString(sample.toPath)
          (0 until math.min(amp, 20)).foreach { i =>
            java.nio.file.Files.writeString(dir.resolve(s"capture_$i.jsonc"),
              text.replace("\"AR1", s"\"R${i}AR1")) // distinct master codes
          }
          graft.suppliers.MidOcean.unified(spark, dir.toString)
            .agg(count(col("product_id"))).collect()(0).getLong(0)
        }
      },
      // Predicate DELETE on the amplified 16-partition snapshot table,
      // matching rows in ONE partition: the probe runs through the
      // file-skipping index (part is constant per file, so stats prune
      // 15/16 of the files before any row is read) and only the
      // matched partition rewrites. Setup (a fresh table commit) is
      // timed separately so the delete row measures the DML alone.
      time("delete_where_setup") {
        val dir = DevRun.fixtureRoot("scale_delw")
        deleteWhereRoot = s"$dir/t"
        graft.sinks.SnapshotStore.commit(spark, snapBase,
          deleteWhereRoot, "part")
        1L
      },
      time("delete_where_narrow") {
        graft.sinks.SnapshotStore.deleteWhere(spark, deleteWhereRoot,
          "part = 3 AND doc_id % 7 = 0")
      },
      // Partition-ONLY predicate: the whole delete is one manifest
      // write — zero data files read or written (the entries just
      // leave the manifest). Compare against delete_where_narrow,
      // which must open partition 3 to find matching rows.
      time("delete_partition_metadata") {
        graft.sinks.SnapshotStore.deleteWhere(spark, deleteWhereRoot,
          "part = 5")
      },
      // Merge-on-read delete vs rewrite on a TABLE-WIDE sparse
      // predicate (every partition holds a match — the rewrite path's
      // worst case and the DV path's design case): same fresh table,
      // same predicate, then the post-delete read overhead of the
      // broadcast anti-join, and the purge that retires it.
      time("dv_setup") {
        val d1 = DevRun.fixtureRoot("scale_dvr")
        val d2 = DevRun.fixtureRoot("scale_dvm")
        dvRootRewrite = s"$d1/t"; dvRootMor = s"$d2/t"
        graft.sinks.SnapshotStore.commit(spark, snapBase, dvRootRewrite, "part")
        graft.sinks.SnapshotStore.commit(spark, snapBase, dvRootMor, "part")
        2L
      },
      time("delete_sparse_rewrite") {
        graft.sinks.SnapshotStore.deleteWhere(spark, dvRootRewrite,
          "doc_id % 211 = 13")
      },
      time("delete_sparse_dv") {
        graft.sinks.SnapshotStore.deleteWhereDv(spark, dvRootMor,
          "doc_id % 211 = 13")
      },
      time("read_after_rewrite") {
        graft.sinks.SnapshotStore.read(spark, dvRootRewrite).count()
      },
      time("read_after_dv") {
        graft.sinks.SnapshotStore.read(spark, dvRootMor).count()
      },
      time("dv_purge") {
        graft.sinks.SnapshotStore.purgeDeletionVectors(spark, dvRootMor)
      },
      time("read_after_purge") {
        graft.sinks.SnapshotStore.read(spark, dvRootMor).count()
      },
      // SemDeDup at 20×: cell-confined pairwise cosine — Σ|cell|², not
      // n²; the equi-join on cell id is the only corpus-sized shuffle.
      time("sem_dedup") {
        Similarity.semDedup(embs, "vec_id", "embedding",
          numCells = 64, threshold = 0.35).filter(col("kept")).count()
      },
      // Cross-document duplicated-span profile at 20×: spans shuffle
      // as md5 hashes with map-side partial aggregation.
      time("dup_span_stats") {
        Dedup.dupSpanStats(docs, col("text"), col("doc_id"), width = 5)
          .agg(sum(col("n_dup_spans"))).collect()(0).getLong(0)
      },
      // ---- Round 10 probes ----
      // Hot-span skew: every document carries the SAME boilerplate
      // sentence, so one span hash covers the whole corpus. The
      // aggregate+join shape partial-combines the hot hash map-side;
      // the old window-over-hash shape (measured inline below for
      // comparison) serializes the hot hash through ONE task and can
      // never partial-aggregate.
      time("dup_span_hot_agg") {
        val hot = docs.select(col("doc_id"),
          concat(lit("all rights reserved by the publisher today here "),
            col("text")).as("text"))
        Dedup.dupSpanStats(hot, col("text"), col("doc_id"), width = 8)
          .agg(sum(col("n_dup_spans"))).collect()(0).getLong(0)
      },
      time("dup_span_hot_window") {
        // The pre-round-10 formulation, reproduced for the delta: the
        // per-(doc,hash) frame is identical; only the frequency step
        // differs (window over the span hash).
        val hot = docs.select(col("doc_id"),
          concat(lit("all rights reserved by the publisher today here "),
            col("text")).as("text"))
        val perDocSpan = hot
          .select(col("doc_id").as("id"),
            graft.functions.TextAnalysis.normalized(col("text")).as("__nm"))
          .select(col("id"),
            graft.functions.TextAnalysis.tokens(col("__nm")).as("__ws"))
          .repartition(col("id"))
          .select(col("id"), explode(
            graft.functions.TextAnalysis.shinglesOf(col("__ws"), 8)).as("__span"))
          .select(col("id"), md5(col("__span").cast("binary")).as("__h"))
          .groupBy(col("id"), col("__h")).agg(count(lit(1)).as("__k"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
        perDocSpan.withColumn("__docs", count(lit(1)).over(w))
          .groupBy(col("id")).agg(
            sum(when(col("__docs") >= 2, col("__k")).otherwise(lit(0L)))
              .as("n_dup_spans"))
          .agg(sum(col("n_dup_spans"))).collect()(0).getLong(0)
      },
      // Multi-column partitioning: a merge into ONE (part, bucket)
      // cell of a 64-cell table — rewrite bounded by the cell, the
      // other 63 cells' files carried by reference (the probe value is
      // the number of NEW data files in the committed manifest).
      time("multipart_setup") {
        val dir = DevRun.fixtureRoot("scale_mp")
        mpRoot = s"$dir/t"
        // bucket from a hash INDEPENDENT of part (doc_id mod 16 pins
        // doc_id mod 4, so a correlated bucket would leave most cells
        // empty).
        val mp = snapBase.withColumn("bucket",
          pmod(expr("doc_id div 16"), lit(4)))
        graft.sinks.SnapshotStore.commit(spark, mp, mpRoot,
          Seq("part", "bucket"))
      },
      time("multipart_merge_one_cell") {
        val mp = snapBase.withColumn("bucket",
          pmod(expr("doc_id div 16"), lit(4)))
        val before = graft.sinks.SnapshotStore.manifest(spark, mpRoot, 1L).toSet
        graft.sinks.SnapshotStore.mergeCommit(spark,
          mp.filter(col("part") === 3 && col("bucket") === 2)
            .withColumn("v", lit(2)),
          mpRoot, "doc_id", "v", Seq("part", "bucket"))
        graft.sinks.SnapshotStore.manifest(spark, mpRoot, 2L)
          .count(e => !before.contains(e)).toLong
      },
      // The CDC-apply primitive: updates to one slice + deletes of
      // another as ONE atomic commit (upsertDeleteCommit) vs the
      // chained two-commit spelling — same final content, one write
      // pass over the touched partitions instead of two. Setup commits
      // are untimed-separated (the first measurement of this pair once
      // absorbed the corpus' first materialization and inverted the
      // comparison).
      time("cdc_setup") {
        val da = DevRun.fixtureRoot("scale_cdc1")
        val db = DevRun.fixtureRoot("scale_cdc2")
        cdcRootOne = s"$da/t"; cdcRootTwo = s"$db/t"
        graft.sinks.SnapshotStore.commit(spark, snapBase, cdcRootOne, "part")
        graft.sinks.SnapshotStore.commit(spark, snapBase, cdcRootTwo, "part")
        2L
      },
      time("cdc_apply_two_commits") {
        graft.sinks.SnapshotStore.mergeCommitOrdered(spark,
          snapBase.filter(pmod(col("doc_id"), lit(11)) === 0)
            .withColumn("v", lit(2)),
          cdcRootTwo, "doc_id", Nil, "part")
        graft.sinks.SnapshotStore.deleteCommit(spark,
          snapBase.filter(pmod(col("doc_id"), lit(13)) === 0)
            .select(col("doc_id")),
          cdcRootTwo, "doc_id", "part")
      },
      time("cdc_apply_one_commit") {
        graft.sinks.SnapshotStore.upsertDeleteCommit(spark, cdcRootOne,
          snapBase.filter(pmod(col("doc_id"), lit(11)) === 0)
            .withColumn("v", lit(2)),
          Some(snapBase.filter(pmod(col("doc_id"), lit(13)) === 0)
            .select(col("doc_id"))),
          "doc_id", "part")
      },
      // Key-probe file skipping (round 11): the keyed delete's
      // partition probe with a 3-key doomed set, on the range-laid
      // table whose stats sidecar can prove absence. The keys don't
      // exist, so BOTH probes conclude "nothing touched" and commit
      // nothing — the timing isolates pure PROBE cost: the full path
      // scans every file's key column; the pruned path reads the
      // sidecar, certifies zero candidate files, and never launches a
      // scan. At 100 TB this is the difference between a GDPR point
      // delete paying a table scan per OCC attempt and paying a
      // metadata read. Row value = files the probe scanned.
      time("key_probe_full_scan") {
        spark.conf.set("spark.graft.probeKeyLimit", "0")
        try graft.sinks.SnapshotStore.deleteCommit(spark,
          spark.range(-3, 0).select(col("id").as("doc_id")), skipRoot,
          "doc_id", "part")
        finally spark.conf.unset("spark.graft.probeKeyLimit")
        graft.sinks.SnapshotStore.manifest(spark, skipRoot, 1L).size.toLong
      },
      time("key_probe_pruned") {
        graft.sinks.SnapshotStore.deleteCommit(spark,
          spark.range(-3, 0).select(col("id").as("doc_id")), skipRoot,
          "doc_id", "part")
        graft.sinks.SnapshotStore.lastProbeCandidates.get().toLong
      },
      // Product quantization at 20x: ingest (codebooks + codes over
      // the amplified corpus) is the one-off; the ADC probe then
      // scores 64 queries x corpus as m=8 table lookups per vector
      // instead of a 64-float kernel per vector. Compare
      // ivf_quantized_steady (the int8 full-kernel sibling): PQ moves
      // 8 ints + 1 float per touched vector vs 64 int8 codes.
      time("pq_ingest_build") {
        val books = Similarity.pqCodebooks(embs, "vec_id", "embedding",
          m = 8, ks = 16)
        pqBooks = books.persist(); pqBooks.count()
        pqIndexDf = Similarity.pqIndex(embs, "vec_id", "embedding", pqBooks)
          .persist()
        pqIndexDf.count()
      },
      time("pq_adc_probe") {
        Similarity.pqTopK(pqIndexDf, pqBooks,
          emb0.filter(pmod(col("vec_id"), lit(100)) === 7)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 10).count()
      },
      time("ivf_pq_probe") {
        Similarity.ivfTopKPQ(embs, "vec_id", "embedding",
          emb0.filter(pmod(col("vec_id"), lit(100)) === 7)
            .select(col("vec_id")),
          k = 10, numCells = 64, nprobe = 2, m = 8, ks = 16).count()
      },
      // Metadata-priced aggregates (round 11): the same global
      // MIN/MAX/COUNT on the 64-file range-laid table, answered (a)
      // from the stats sidecar (bare SQL — the MetadataCountRule path;
      // zero data files opened) vs (b) by the scan (an IsNotNull
      // filter breaks the bare-plan shape without changing the
      // result: doc_id is never null). At 100 TB (a) stays a sidecar
      // read while (b) scales with the table.
      time("meta_agg_sidecar") {
        spark.conf.set("spark.sql.catalog.g_scale",
          classOf[graft.sinks.GraftCatalog].getName)
        spark.sql(s"""SELECT count(*) AS n, min(doc_id) AS mn,
          max(doc_id) AS mx FROM g_scale.`$skipRoot`""").collect()(0).getLong(0)
      },
      time("meta_agg_scan") {
        graft.sinks.SnapshotStore.read(spark, skipRoot)
          .filter(col("doc_id").isNotNull)
          .agg(count(lit(1)), min(col("doc_id")), max(col("doc_id")))
          .collect()(0).getLong(0)
      },
      // HLL sketch sync (round 11): the initial build prices as one
      // corpus scan (the one-off); the insert-only sync prices by the
      // 1% delta window (sketch the delta, union it into the stored
      // rows); the delete sync rebuilds ONLY the one touched group
      // (1/16 of the corpus, bounded by the group semi-join). At
      // 100 TB the dashboards refresh at delta price, never corpus.
      time("hll_setup") {
        hllSrcRoot = DevRun.fixtureRoot("scale_hll") + "/t"
        hllSkRoot = DevRun.fixtureRoot("scale_hllsk") + "/t"
        // The held-out window lives in ONE partition (part 4; doc_id ≡
        // 100 mod 400 ⊂ part 4), so the later append prices as a
        // single-partition delta — the shape the change feed bounds.
        graft.sinks.SnapshotStore.commit(spark,
          snapBase.filter(pmod(col("doc_id"), lit(400)) =!= 100)
            .withColumn("author", pmod(col("doc_id"), lit(997))),
          hllSrcRoot, "part")
      },
      time("hll_sync_full_build") {
        graft.operators.Sketches.hllSync(spark, hllSrcRoot, hllSkRoot,
          Seq("doc_id"), Seq("part"), Seq("author", "doc_id"))
      },
      time("hll_append_setup") {
        graft.sinks.SnapshotStore.appendCommit(spark,
          snapBase.filter(pmod(col("doc_id"), lit(400)) === 100)
            .withColumn("author", pmod(col("doc_id"), lit(997))),
          hllSrcRoot, "part")
      },
      time("hll_sync_insert_delta") {
        graft.operators.Sketches.hllSync(spark, hllSrcRoot, hllSkRoot,
          Seq("doc_id"), Seq("part"), Seq("author", "doc_id"))
      },
      // Delete keys ≡ 19 mod 400 — all inside part 3 (19 mod 16 = 3),
      // so the rebuild must touch exactly one group.
      time("hll_delete_setup") {
        graft.sinks.SnapshotStore.deleteCommit(spark,
          snapBase.filter(pmod(col("doc_id"), lit(400)) === 19)
            .select(col("doc_id")),
          hllSrcRoot, "doc_id", "part")
      },
      time("hll_sync_delete_rebuild") {
        graft.operators.Sketches.hllSync(spark, hllSrcRoot, hllSkRoot,
          Seq("doc_id"), Seq("part"), Seq("author", "doc_id"))
      },
      // Incremental rollup (round 11): a sum-only rollup over the same
      // source — SUM/COUNT are group-invertible, so even an UPDATE
      // window maintains additively from the pre-image feed: no
      // rebuild scan exists in the plan at all. The delta sync prices
      // by the one touched partition's diff, never the corpus.
      time("rollup_build") {
        ruRollRoot = DevRun.fixtureRoot("scale_roll") + "/t"
        graft.operators.Rollup.sync(spark, hllSrcRoot, ruRollRoot,
          Seq("doc_id"), Seq("part"), Seq("author"))
      },
      time("rollup_update_setup") {
        graft.sinks.SnapshotStore.upsertDeleteCommit(spark, hllSrcRoot,
          snapBase.filter(pmod(col("doc_id"), lit(400)) === 100)
            .withColumn("author", pmod(col("doc_id") + 1, lit(997))),
          None, "doc_id", "part")
      },
      time("rollup_sync_update_delta") {
        graft.operators.Rollup.sync(spark, hllSrcRoot, ruRollRoot,
          Seq("doc_id"), Seq("part"), Seq("author"))
      },
      // Transparent MV rewrite (round 12): the same dashboard
      // aggregate over the amplified source, (a) as the raw scan and
      // (b) answered from the maintained rollup via RollupRewriteRule.
      // At 100 TB (a) scales with the corpus while (b) is a read of
      // group-count-many rows — the require() pins that the rewrite
      // really fired, so the measured number can never silently be a
      // second scan.
      time("mv_dashboard_scan") {
        graft.sinks.SnapshotStore.table(spark, hllSrcRoot)
          .groupBy("part")
          .agg(count(lit(1)).as("n"), sum(col("author")).as("sa"))
          .collect().length.toLong
      },
      time("mv_dashboard_rewrite") {
        spark.conf.set(graft.sinks.RollupRewrite.RegistryConf, ruRollRoot)
        try {
          val agg = graft.sinks.SnapshotStore.table(spark, hllSrcRoot)
            .groupBy("part")
            .agg(count(lit(1)).as("n"), sum(col("author")).as("sa"))
          require(DevRun.readsOnly(agg, ruRollRoot),
            "MV rewrite did not fire — the probe would time a scan")
          agg.collect().length.toLong
        } finally spark.conf.unset(graft.sinks.RollupRewrite.RegistryConf)
      },
      // Hash-bucketed co-located join (round 12): the same big x big
      // join over the amplified corpus, (a) both sides plain (two
      // shuffles of every payload byte) vs (b) both sides bucketed on
      // the key (ZERO exchanges — require-pinned). The delta IS the
      // shuffle; at 100 TB it is the difference between moving the
      // table over the network per join and never moving it.
      time("bucket_join_setup") {
        bkPlainL = DevRun.fixtureRoot("scale_bkpl") + "/t"
        bkPlainR = DevRun.fixtureRoot("scale_bkpr") + "/t"
        bkClusL = DevRun.fixtureRoot("scale_bkcl") + "/t"
        bkClusR = DevRun.fixtureRoot("scale_bkcr") + "/t"
        val left = docs.withColumn("part", lit("x"))
        val right = docs.select(col("doc_id"),
            length(col("text")).as("doc_len"))
          .withColumn("part", lit("x"))
        graft.sinks.SnapshotStore.commit(spark, left, bkPlainL, "part")
        graft.sinks.SnapshotStore.commit(spark, right, bkPlainR, "part")
        graft.sinks.SnapshotStore.commit(spark, left, bkClusL, "part")
        graft.sinks.SnapshotStore.commit(spark, right, bkClusR, "part")
        graft.sinks.SnapshotStore.bucketTable(spark, bkClusL, Seq("doc_id"), 32)
        graft.sinks.SnapshotStore.bucketTable(spark, bkClusR, Seq("doc_id"), 32)
      },
      time("join_shuffled") {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        // Aggregating over text keeps the payload column alive through
        // the join, so the shuffled variant really moves the bytes.
        try graft.sinks.SnapshotStore.table(spark, bkPlainL)
          .join(graft.sinks.SnapshotStore.table(spark, bkPlainR), "doc_id")
          .agg(sum(col("doc_len")), sum(length(col("text"))))
          .collect().length.toLong
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      },
      time("join_cobucketed") {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        try {
          val j = graft.sinks.SnapshotStore.table(spark, bkClusL)
            .join(graft.sinks.SnapshotStore.table(spark, bkClusR), "doc_id")
          require(!j.queryExecution.executedPlan.toString.contains("Exchange"),
            "co-bucketed join planned an exchange — probe would mis-measure")
          j.agg(sum(col("doc_len")), sum(length(col("text"))))
            .collect().length.toLong
        } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      },
      // Post-commit hook pricing (round 13): auto-sync and
      // auto-compact ride the WRITER's commit path synchronously —
      // this A/B makes the "maintenance rides the writer" trade a
      // measured number. Same-size append batches (≡ k mod 1000
      // slices of the amplified corpus) against the same table with
      // 0, 1, and 3 registered auto-sync rollups, then with
      // auto-compact below and at its threshold.
      time("hook_setup") {
        hkRoot = DevRun.fixtureRoot("scale_hook") + "/t"
        def enrich(df: DataFrame) = df
          .withColumn("part", pmod(col("doc_id"), lit(16)))
          .withColumn("author", pmod(col("doc_id"), lit(997)))
          .withColumn("g2", pmod(col("doc_id"), lit(7)))
          .withColumn("g3", pmod(col("doc_id"), lit(13)))
        graft.sinks.SnapshotStore.commit(spark,
          enrich(docs.filter(pmod(col("doc_id"), lit(10)) > 4)),
          hkRoot, "part")
        val base = DevRun.fixtureRoot("scale_hookr")
        hkR1 = s"$base/r1"; hkR2 = s"$base/r2"; hkR3 = s"$base/r3"
        graft.operators.Rollup.sync(spark, hkRoot, hkR1,
          Seq("doc_id"), Seq("part"), Seq("author"))
        graft.operators.Rollup.sync(spark, hkRoot, hkR2,
          Seq("doc_id"), Seq("g2"), Seq("author"))
        graft.operators.Rollup.sync(spark, hkRoot, hkR3,
          Seq("doc_id"), Seq("g3"), Seq("author"))
      }) ++ {
      // 10%-of-corpus batches, deliberately fragmented (6 tasks → up
      // to 6 files per touched partition per append), so the
      // at-threshold probe deterministically crosses minFiles=4 at
      // every scale — an unfragmented tiny batch would never trip it.
      def hookBatch(k: Int) = docs
        .filter(pmod(col("doc_id"), lit(10)) === k)
        .repartition(6)
        .withColumn("part", pmod(col("doc_id"), lit(16)))
        .withColumn("author", pmod(col("doc_id"), lit(997)))
        .withColumn("g2", pmod(col("doc_id"), lit(7)))
        .withColumn("g3", pmod(col("doc_id"), lit(13)))
      def append(k: Int): Long = graft.sinks.SnapshotStore
        .appendCommit(spark, hookBatch(k), hkRoot, "part")
      Seq(
        time("commit_append_0_rollups") { append(0) },
        {
          graft.operators.Rollup.enableAutoSync(spark, hkRoot, hkR1)
          time("commit_append_1_rollup") { append(1) }
        },
        {
          graft.operators.Rollup.enableAutoSync(spark, hkRoot, hkR2)
          graft.operators.Rollup.enableAutoSync(spark, hkRoot, hkR3)
          time("commit_append_3_rollups") { append(2) }
        },
        {
          // Unregister so the compaction probes price ONLY the
          // auto-compact hook, not three rollup syncs on top.
          graft.sinks.SnapshotStore.setProperties(spark, hkRoot,
            Seq("graft.rollup.autoSync" -> "",
              "graft.autoCompact.minFiles" -> "100000"))
          time("commit_autocompact_below") { append(3) }
        },
        {
          // Clustering-on-write rider on the same batch shape: the
          // FIRST pass under a fresh registration is the one full
          // cluster the table needs (primed untimed via append(5));
          // the timed append prices the STEADY STATE — the commit
          // pays its own delta's range shuffle, per commit, flat in
          // table size (compare commit_append_0_rollups).
          graft.sinks.SnapshotStore.setProperties(spark, hkRoot,
            Seq(graft.sinks.SnapshotStore.AutoClusterProp -> "doc_id"))
          append(5) // priming full pass, untimed
          val t6 = time("commit_autocluster_rider") {
            val v = append(6)
            val cur = graft.sinks.SnapshotStore
              .currentVersion(spark, hkRoot).get
            require(cur > v && graft.sinks.SnapshotStore
                .tablePropertiesMap(spark, hkRoot)
                .get(graft.sinks.SnapshotStore.ClusteredAtProp)
                .contains(cur.toString),
              s"cluster rider did not fire (v=$v cur=$cur)")
            cur
          }
          graft.sinks.SnapshotStore.setProperties(spark, hkRoot,
            Seq(graft.sinks.SnapshotStore.AutoClusterProp -> ""))
          t6
        },
        {
          graft.sinks.SnapshotStore.setProperties(spark, hkRoot,
            Seq("graft.autoCompact.minFiles" -> "4"))
          time("commit_autocompact_fires") {
            val v = append(4)
            val cur = graft.sinks.SnapshotStore
              .currentVersion(spark, hkRoot).get
            // The hook runs synchronously inside the commit path, so
            // the layout commit must already exist — without this pin
            // the probe could silently time a below-threshold no-op.
            require(cur > v, {
              val sizes = graft.sinks.SnapshotStore.manifest(spark, hkRoot, v)
                .groupBy(_.partition).view.mapValues(_.size).toMap
              val props = graft.sinks.SnapshotStore
                .tablePropertiesMap(spark, hkRoot)
              s"auto-compact did not fire (v=$v cur=$cur sizes=$sizes " +
                s"props=$props) — the probe would mis-measure"
            })
            cur
          }
        },
        {
          // ALL HOOKS ARMED on ONE commit (the round-13 verdict's
          // unpriced composition, What's-wrong #3): auto-cluster +
          // auto-analyze (prior ANALYZE + driftPct=1, so a 10% batch
          // always crosses) + 3 auto-sync rollups, every rider firing
          // synchronously inside a single append — the joint worst
          // case, vs commit_append_0_rollups as the bare baseline.
          // auto-compact stays registered but auto-cluster SUBSUMES it
          // (the postCommit gate), so the riders are: one delta range
          // shuffle + one stats scan + one property commit + 3 window
          // diffs. The fresh cluster registration's first full pass is
          // primed untimed (append(7)) — steady state is the number.
          graft.sinks.SnapshotStats.analyze(spark, hkRoot)
          graft.sinks.SnapshotStore.setProperties(spark, hkRoot, Seq(
            graft.sinks.SnapshotStore.AutoClusterProp -> "doc_id",
            graft.sinks.SnapshotStore.AutoAnalyzeProp -> "1",
            "graft.rollup.autoSync" -> Seq(hkR1, hkR2, hkR3).mkString(",")))
          append(7) // priming cluster pass, untimed
          val rowsBefore = graft.sinks.SnapshotStore
            .tablePropertiesMap(spark, hkRoot)
            .get(graft.sinks.SnapshotStats.AnalyzedRowsProp)
          time("commit_all_hooks_armed") {
            val v = append(8)
            val cur = graft.sinks.SnapshotStore
              .currentVersion(spark, hkRoot).get
            val props = graft.sinks.SnapshotStore
              .tablePropertiesMap(spark, hkRoot)
            // Rider evidence, hook by hook. The tip is PAST the
            // cluster commit (the analyze rider publishes a property
            // commit after it — the pinned hook order), so the
            // clustering pin is "advanced past the data commit", not
            // "== tip".
            require(cur > v &&
              props.get(graft.sinks.SnapshotStore.ClusteredAtProp)
                .exists(_.toLong > v),
              s"all-hooks probe: cluster rider did not fire (v=$v cur=$cur)")
            require(props.get(graft.sinks.SnapshotStats.AnalyzedRowsProp)
                .exists(r => !rowsBefore.contains(r)),
              s"all-hooks probe: analyze rider did not re-base " +
                s"(before=$rowsBefore)")
            val rollCursor = graft.sinks.SnapshotStore
              .tablePropertiesMap(spark, hkR1)
              .get(graft.operators.Rollup.CursorProp)
            require(rollCursor.contains(cur.toString),
              s"all-hooks probe: rollup cursor $rollCursor is not at tip $cur")
            cur
          }
        },
        {
          // ASYNC RIDERS (round 15 — the design note, implemented):
          // the SAME fully-armed table with graft.maintenance.async —
          // the timed commit returns at ~bare latency (compare
          // commit_append_0_rollups; the +7 s of rider work is queued,
          // not paid on the writer), and the drain probe prices the
          // rider work happening off the writer path, with the same
          // per-rider evidence as the synchronous probe.
          graft.sinks.SnapshotStore.setProperties(spark, hkRoot, Seq(
            graft.sinks.SnapshotStore.MaintenanceAsyncProp -> "true"))
          // Settle the property commit's own queued pass so the timed
          // append prices exactly one commit's enqueue.
          graft.sinks.SnapshotStore.drainAsyncMaintenance()
          time("commit_all_hooks_async") {
            asyncV9 = append(9); asyncV9
          }
        },
        {
          val drained = time("async_riders_drain") {
            graft.sinks.SnapshotStore.drainAsyncMaintenance()
            val cur = graft.sinks.SnapshotStore
              .currentVersion(spark, hkRoot).get
            val props = graft.sinks.SnapshotStore
              .tablePropertiesMap(spark, hkRoot)
            require(cur > asyncV9 &&
              props.get(graft.sinks.SnapshotStore.ClusteredAtProp)
                .exists(_.toLong > asyncV9),
              s"async probe: cluster rider did not fire (v=$asyncV9 cur=$cur)")
            val rollCursor = graft.sinks.SnapshotStore
              .tablePropertiesMap(spark, hkR1)
              .get(graft.operators.Rollup.CursorProp)
            require(rollCursor.contains(cur.toString),
              s"async probe: rollup cursor $rollCursor is not at tip $cur")
            cur
          }
          // Back to the synchronous contract for anything after us.
          graft.sinks.SnapshotStore.setProperties(spark, hkRoot, Seq(
            graft.sinks.SnapshotStore.MaintenanceAsyncProp -> ""))
          drained
        })
    }

    var dfpFiles = (0, 0) // (candidate, total) — set by join_dfp_topslice
    var rtDfpFiles = (0, 0) // (candidate, total) — set by join_runtime_dfp_topslice
    val results13 = {
      // ROUND-13 probes: incremental clustering (maintenance ∝ delta,
      // not table), dynamic file pruning (join-time file skipping),
      // and the ANALYZE scan price. One RANGE-partitioned table on
      // doc_id serves all three (the monotonic-ingest-id layout),
      // amplified a further 5× so shuffle/scan work dominates the
      // fixed per-commit cost the probes are NOT about.
      val base = DevRun.fixtureRoot("scale_r13")
      val clRoot = s"$base/cl"
      val reps5 = spark.range(5).select(col("id").as("r5"))
      val docs5 = docs.crossJoin(reps5)
        .select((col("doc_id") * 8 + col("r5")).as("doc_id"),
          concat(col("text"), lit(" r"), col("r5")).as("text"))
      val maxId = docs5.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val width = maxId / 16 + 1
      val ranged = docs5.withColumn("part",
        (col("doc_id") / lit(width)).cast("long").cast("string"))
      // "Newest" 1% of keys — the date-sliced-dimension shape whose
      // filter only exists through the join.
      val dim = docs5.filter(col("doc_id") >= maxId - maxId / 100)
        .select(col("doc_id").as("dk"))
      Seq(
        time("cluster_setup_untimed") {
          graft.sinks.SnapshotStore.commit(spark,
            ranged.repartition(12), clRoot, "part")
        },
        // First pass = a full-table clustering (what every classic
        // OPTIMIZE ZORDER pays per maintenance window)…
        time("cluster_full_pass") {
          graft.sinks.SnapshotStore.clusterIncremental(spark, clRoot,
            "part", Seq("doc_id"))
        },
        time("cluster_delta_setup_untimed") {
          graft.sinks.SnapshotStore.appendCommit(spark,
            ranged.filter(pmod(col("doc_id"), lit(20)) === 3)
              .repartition(4), clRoot, "part")
        },
        // …the incremental pass prices only the 5% delta…
        time("cluster_incremental_delta") {
          graft.sinks.SnapshotStore.clusterIncremental(spark, clRoot,
            "part", Seq("doc_id"))
        },
        // …and the classic full rewrite on the SAME state is the
        // directly-comparable alternative the cost model replaces.
        time("cluster_full_same_state") {
          graft.sinks.SnapshotStore.compactZOrder(spark, clRoot,
            "part", Seq("doc_id"))
        },
        // The dim slice against the ranged fact, aggregating over the
        // WIDE column (text) so the probe measures data read, not
        // count-only metadata: the plain join scans every file's
        // text; DFP's key probe + In-list pushdown opens only the top
        // range's files.
        time("join_plain_topslice") {
          graft.sinks.SnapshotStore.table(spark, clRoot)
            .join(dim, col("doc_id") === col("dk"))
            .agg(sum(length(col("text")))).collect()(0).getLong(0)
        },
        time("join_dfp_topslice") {
          val (j, idx, _) = graft.operators.DynamicPruning
            .joinPrunedWithIndex(spark, clRoot, "doc_id", dim, "dk")
          val n = j.agg(sum(length(col("text")))).collect()(0).getLong(0)
          dfpFiles = (idx.lastCandidateFiles, idx.totalFiles)
          n
        },
        // The one scan column stats cost (rowCount/size need none).
        time("analyze_columns") {
          graft.sinks.SnapshotStats.analyze(spark, clRoot)._1
        },
        // ROUND-16: the RUNTIME half of transparent DFP (E139) — the
        // same top-slice dim as a MUTABLE plain-parquet directory,
        // which the plan-time path must refuse; the index rider
        // probes it at listFiles time with zero API calls. Same wide
        // aggregate, same pruning target as join_dfp_topslice.
        time("runtime_dfp_dim_setup_untimed") {
          dim.withColumn("tag", lit("hot"))
            .write.parquet(s"$base/dim_pq")
          0L
        },
        time("join_runtime_dfp_topslice") {
          val pdim = spark.read.parquet(s"$base/dim_pq")
            .filter(col("tag") === "hot")
          spark.conf.set(graft.sinks.DynamicPruningRule.EnabledConf, "true")
          // Amplification-proof bound: the top-slice dim holds ~1% of
          // the key space — above the 10k default at high amp, which
          // would silently over-limit and measure the plain join.
          spark.conf.set(graft.sinks.DynamicPruningRule.MaxKeysConf,
            math.max(graft.sinks.DynamicPruningRule.DefaultMaxKeys.toLong,
              maxId / 50).toString)
          try {
            val (fact, idx) =
              graft.sinks.SnapshotStore.tableWithIndex(spark, clRoot)
            val n = fact.join(pdim, col("doc_id") === col("dk"))
              .agg(sum(length(col("text")))).collect()(0).getLong(0)
            rtDfpFiles = (idx.lastCandidateFiles, idx.totalFiles)
            n
          } finally {
            spark.conf.unset(graft.sinks.DynamicPruningRule.EnabledConf)
            spark.conf.unset(graft.sinks.DynamicPruningRule.MaxKeysConf)
          }
        })
    }

    val nDocs = docs.count(); val nVecs = embs.count()
    val parts = (results ++ results13)
      .map { case (n, s, c) => s""""$n":{"sec":$s,"rows":$c}""" }
    println(s"""{"amplification":$amp,"docs":$nDocs,"vectors":$nVecs,"skip_candidate_files":${skipFiles._1},"skip_total_files":${skipFiles._2},"bloom_files_before":${bloomFiles._1},"bloom_files_total":${bloomFiles._2},"bloom_files_after":${bloomFiles._3},"dfp_candidate_files":${dfpFiles._1},"dfp_total_files":${dfpFiles._2},"runtime_dfp_candidate_files":${rtDfpFiles._1},"runtime_dfp_total_files":${rtDfpFiles._2},${parts.mkString(",")}}""")
    spark.stop()
  }
}
