package graft

/** Plan-shape regression tests: the physical-plan properties the 100 TB
  * story rests on, asserted against the actual optimized plans so a
  * refactor can't silently regress them. */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def available = new java.io.File(sfDir).exists()

  private def plan(name: String): String =
    Queries.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q01: filter pushed to the parquet scan; partial aggregation before shuffle") {
    assume(available)
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(800))
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(800))
  }

  test("q02: scan reads only the projected+filtered columns") {
    assume(available)
    val p = plan("q02_filter_project")
    // 5 output + 2 filter columns of lineitem's 16 — pruning must show
    // in ReadSchema (l_shipdate filtered, not all columns read).
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_comment"), "column pruning lost: l_comment read")
  }

  test("a small snapshot table auto-broadcasts: manifest-priced sizeInBytes drives join strategy") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = s"${java.nio.file.Files.createTempDirectory("planshape_bc")}/t"
    graft.sinks.SnapshotStore.commit(spark,
      (1 to 50).map(i => (i.toLong, s"dim$i", "x")).toDF("k", "name", "part"),
      root, "part")
    val big = spark.range(100000).select(col("id").as("k"),
      (col("id") % 7).as("v"))
    val joined = big.join(graft.sinks.SnapshotStore.read(spark, root), Seq("k"))
    val p = joined.queryExecution.executedPlan.toString
    // GraftFileIndex.sizeInBytes comes from the stats sidecar (zero
    // filesystem calls), so Catalyst sees the true small size and
    // picks the broadcast build side — the planning property a 100 TB
    // fact-dim join rests on.
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(joined.count() == 50)
  }

  test("q10: small part dimension joins via broadcast, not shuffle") {
    assume(available)
    val p = plan("q10_dim_join_brand")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q09: tiny tier table resolves as a broadcast nested-loop range join") {
    assume(available)
    val p = plan("q09_tier_pricing")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q54: banded self-join does not degrade to a cartesian product") {
    assume(available)
    val p = plan("q54_minhash_pairs")
    assert(!p.contains("CartesianProduct"), "minhash candidate join went quadratic")
    assert(!p.contains("BroadcastNestedLoopJoin"), "minhash candidate join went nested-loop")
  }

  test("q49: supplier dims join via broadcast; only single-row broadcast cross joins") {
    assume(new java.io.File("/root/reference/sample data/MidOcean Sample Data.jsonc").exists())
    val p = plan("q49_midocean_unified")
    // pricelist / positions / technique-name dims must broadcast.
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // The only nested-loop joins allowed are the broadcast single-row
    // attachments (global print options); a plain CartesianProduct
    // means a dim join lost its broadcast.
    assert(!p.contains("CartesianProduct"), "supplier dim join went cartesian")
  }

  test("q72: name search prunes to the three projected columns") {
    assume(available)
    val p = plan("q72_name_search")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("p_retailprice"), "column pruning lost: p_retailprice read")
    // contains() is not a parquet-pushable predicate — it must still sit
    // directly on the scan (codegen'd filter), i.e. BELOW the sort's
    // exchange in the tree (plans print top-down, so scan-side nodes
    // have larger string offsets).
    assert(p.indexOf("Filter") > p.indexOf("Exchange"),
      "name-search filter ran above the shuffle")
  }

  test("q73: stock fold partially aggregates before the shuffle") {
    assume(available)
    val p = plan("q73_stock_latest_batch")
    // max_by over a struct is sort-based; the partial aggregate must
    // still run map-side so one row per key crosses the exchange.
    val firstAgg = math.max(p.indexOf("SortAggregate"), p.indexOf("HashAggregate"))
    assert(firstAgg >= 0, p.take(800))
    assert(p.indexOf("partial") >= 0 && p.indexOf("partial") > p.indexOf("Exchange"),
      "no map-side partial aggregation in the stock fold")
  }

  test("q77: token-budget sample shards the stratum window; offsets broadcast back") {
    assume(available)
    val p = plan("q77_token_budget_sample")
    // The data-sized window must be keyed by (stratum, order-key
    // shard) — a bare-stratum window would serialize a hot stratum
    // through one task at 100 TB.
    assert(p.contains("__bk"), p.take(800))
    // Exactly three hash exchanges: the sharded window, the
    // shard-totals aggregate, and the offset window (the latter two
    // are metadata-sized: ≤ strata×buckets rows).
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 3, s"expected 3 exchanges, found $hashEx:\n${p.take(800)}")
    // Shard offsets come back via broadcast, never a shuffled join.
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "offset join lost its broadcast")
    assert(p.contains("Window"), p.take(400))
  }

  test("q76: quality-policy cluster dedup never goes quadratic") {
    assume(available)
    val p = plan("q76_dedup_best_per_cluster")
    assert(!p.contains("CartesianProduct"), "cluster dedup went cartesian")
    // The per-component keep-best window must exist, and the unpaired
    // majority bypasses it (union of window branch + anti-join branch).
    assert(p.contains("Window"), p.take(400))
    assert(p.contains("Union"), "unpaired-bypass union missing")
  }

  test("language-run merge is one hash aggregate, no join chain") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Minimal unified-shaped frame: the merge must stay a single
    // union + groupBy (one hashpartitioning exchange), NOT become
    // N-1 self-joins as languages are added.
    def run(lang: String) = Seq(("p1", s"name-$lang"), ("p2", s"n2-$lang"))
      .toDF("product_id", "name")
      .withColumn("localized", struct(
        map(lit(lang), col("name")).as("name"),
        lit(null).cast("map<string,string>").as("title")))
    val merged = graft.operators.Localize.mergeLanguageRuns(
      Seq("en" -> run("en"), "de" -> run("de"), "fr" -> run("fr")))
    val p = merged.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 merge exchange, found $hashEx:\n${p.take(800)}")
    assert(!p.contains("Join"), "language merge grew a join")
  }

  test("document chunking is shuffle-free (pure map-side)") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, ("tok " * 40).trim)).toDF("id", "text")
    val p = graft.operators.Sampling.chunkDocuments(docs, $"text", $"id",
        maxTokens = 8, overlap = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking grew a shuffle:\n${p.take(600)}")
  }

  test("decontamination broadcasts the benchmark; line dedup never goes quadratic") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"alpha beta gamma doc $i content"))
      .toDF("id", "text")
    val bench = Seq((1L, "alpha beta gamma")).toDF("bid", "btext")
    val p1 = graft.operators.Dedup.benchmarkOverlap(
        docs, $"text", $"id", bench, $"btext", $"bid", shingleWidth = 3)
      .queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin"), p1.take(600))
    assert(!p1.contains("SortMergeJoin"), "benchmark side lost its broadcast")
    assert(!p1.contains("CartesianProduct"))
    val p2 = graft.operators.Dedup.lineDedup(docs, $"text", $"id", 2)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"))
  }

  test("packing and weighted mix shard the stratum window; no shuffled join") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, if (i % 2 == 0) "en" else "de", 10L))
      .toDF("id", "lang", "tokens")
    def pin(p: String, what: String): Unit = {
      // Data-sized window keyed by (stratum, shard); three hash
      // exchanges total (window + tiny totals agg + tiny offset
      // window); shard offsets return via broadcast only.
      assert(p.contains("__bk"), s"$what window not sharded:\n${p.take(600)}")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashEx == 3, s"$what: expected 3 exchanges, found $hashEx:\n${p.take(600)}")
      assert(p.contains("BroadcastHashJoin"), s"$what offsets not broadcast:\n${p.take(600)}")
      assert(!p.contains("SortMergeJoin"), s"$what offset join lost its broadcast")
      assert(!p.contains("CartesianProduct"), s"$what went cartesian")
    }
    pin(graft.operators.Sampling.packSequences(
      docs, $"tokens", $"id", $"lang", 64L)
      .queryExecution.executedPlan.toString, "packSequences")
    pin(graft.operators.Sampling.weightedMix(
      docs, $"id", $"lang", Map("en" -> 0.5, "de" -> 0.5), 20L)
      .queryExecution.executedPlan.toString, "weightedMix")
  }

  test("hashSplit is shuffle-free; domain scrub explodes only the id projection") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, s"https://s$i.example.com/p", "x" * 50))
      .toDF("id", "url", "text")
    // hashSplit: one map-side projection — no exchange of any kind.
    val ps = graft.operators.Sampling.hashSplit(
        docs, $"id", Seq("train" -> 0.9, "test" -> 0.1))
      .queryExecution.executedPlan.toString
    assert(!ps.contains("Exchange"), s"hashSplit shuffled:\n${ps.take(600)}")
    // scrubDomains: the explode (Generate) must sit over a projection
    // of (id, chain) — the document payload (text) must not pass
    // through it — and the blocklist side must broadcast.
    val pd = graft.functions.Urls.scrubDomains(
        docs, $"id", $"url", Seq("bad.com").toDF("domain"))
      .queryExecution.executedPlan.toString
    val gen = pd.linesIterator.find(_.contains("Generate explode")).getOrElse("")
    assert(gen.nonEmpty, s"no explode found:\n${pd.take(600)}")
    assert(!gen.contains("text"), s"payload column entered the explode:\n$gen")
    assert(pd.contains("BroadcastHashJoin"), s"blocklist not broadcast:\n${pd.take(600)}")
    assert(!pd.contains("CartesianProduct"), "scrub went cartesian")
  }

  test("quality logit is map-side; incremental dedup probes stay equi-keyed, never cartesian") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = (1L to 200L)
      .map(i => (i, s"document number $i with several words of content here"))
      .toDF("id", "text")
    // Model-based quality filter: one projection, zero exchanges.
    val pq = docs.select(graft.functions.TextAnalysis.qualityLogit($"text"))
      .queryExecution.executedPlan.toString
    assert(!pq.contains("Exchange"), s"quality logit shuffled:\n${pq.take(600)}")
    // Incremental dedup: both the index probe and the within-batch
    // probe must be equi-joins on (band, bucket) — hash/merge, never
    // cartesian — or 100 TB ingest degrades to doc² work.
    val idx = Dedup.minHashIndex(docs.filter($"id" <= 100), $"text", $"id")
    val pd = Dedup.dedupIncremental(docs.filter($"id" > 100), $"text", $"id", idx)
      .queryExecution.executedPlan.toString
    assert(!pd.contains("CartesianProduct"), "incremental dedup went quadratic")
    assert(pd.contains("ShuffledHashJoin") || pd.contains("SortMergeJoin"),
      s"expected equi-join probes:\n${pd.take(800)}")
  }

  test("change feed joins per-key over the changed partitions only, never cartesian") {
    import spark.implicits._
    import graft.sinks.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("planshape_cdc")
      .resolve("t").toString
    val base = (1L to 50L).map(i => (i, s"s${i % 4}", i)).toDF("k", "part", "v")
    SnapshotStore.commit(spark, base, root, "part")
    SnapshotStore.mergeCommit(spark,
      Seq((2L, "s2", 99L)).toDF("k", "part", "v"), root, "k", "v", "part")
    val feed = SnapshotStore.changes(spark, root, 1L, 2L, "k")
    val p = feed.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "change feed went cartesian")
    // Only partition s2's files enter the diff — the other three
    // partitions were carried by reference and must not be scanned.
    val s2Files = SnapshotStore.manifest(spark, root, 2L)
      .filter(_.partition == "s2").map(_.path).toSet ++
      SnapshotStore.manifest(spark, root, 1L)
        .filter(_.partition == "s2").map(_.path).toSet
    val scanned = feed.inputFiles.toSet
    assert(scanned.nonEmpty && scanned.forall(f => s2Files.exists(f.endsWith)),
      s"change feed scanned untouched partitions: $scanned")
  }

  test("quantized IVF: centroid/query sides broadcast, probe is an equi-join, never cartesian") {
    assume(available)
    val p = plan("q153_ivf_quantized")
    // The centroid row and the probing query side are the only
    // broadcast relations; the corpus never broadcasts and the
    // cell-probe join must stay a hash equi-join on __cell.
    assert(!p.contains("CartesianProduct"), "quantized IVF went cartesian")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(800))
    // The scoring kernel is the NATIVE int8 dot (prettyName
    // vec_dot_int8), not an HOF aggregate.
    assert(p.contains("vec_dot_int8"),
      "quantized IVF lost the native kernel:\n" + p.take(1200))
  }

  test("BM25 via index: idf broadcasts, aggregates partial-combine, no cartesian") {
    assume(available)
    // The candidate-file-subset property itself is pinned on a 6-file
    // table in TextIndexSpec ("reads only candidate files") — the
    // sf0.001 documents table here is a single file, so this pin
    // covers the join/aggregate shape: the |terms|-row idf side must
    // broadcast, the per-(id, term) tf and per-id score aggregates
    // must partial-combine before their shuffles.
    val p = plan("q152_bm25_via_index")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "BM25 aggregates lost map-side combining:\n" + p.take(1200))
  }

  test("deletion-vector read: broadcast ANTI join over the scan, pushdown intact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sinks.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("planshape_dv")
      .resolve("t").toString
    val base = (1 to 100).map(i => (s"p$i", s"s${i % 4}", i))
      .toDF("product_id", "supplier", "qty")
    SnapshotStore.commit(spark, base, root, "supplier")
    SnapshotStore.deleteWhereDv(spark, root, "qty % 10 = 0")
    val q = SnapshotStore.table(spark, root).filter(col("qty") > 50)
    val p = q.queryExecution.executedPlan.toString
    // The DV side is tiny by contract: it must broadcast, the join
    // must be an ANTI join (never inner/cartesian), and the query's
    // own predicate must still reach the parquet scan underneath.
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "DV application lost the broadcast anti-join:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("PushedFilters: [IsNotNull(qty), GreaterThan(qty,50)")
      || p.contains("GreaterThan(qty,50)"),
      "predicate no longer pushed under the DV join:\n" + p.take(1200))
    assert(q.count() == 45) // 50 above-50 rows minus 60,70,80,90,100
  }

  test("ExactSubstr removal: keyed joins and partial aggregates, never quadratic") {
    assume(available)
    val p = plan("q174_remove_dup_spans")
    assert(!p.contains("CartesianProduct"),
      "span removal went cartesian:\n" + p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "span removal degraded to a nested-loop join:\n" + p.take(1200))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "span aggregates lost map-side combining:\n" + p.take(1200))
  }

  test("dupSpanStats: span frequency is an aggregate+join, never a window over the hash") {
    assume(available)
    // A Window partitioned by the span hash serializes a corpus-
    // ubiquitous boilerplate span into ONE task and cannot partial-
    // aggregate; the skew-safe shape is groupBy(hash).count (map-side
    // combine) joined back (AQE can skew-split a join, never a window).
    val p = plan("q167_dup_spans")
    assert(!p.contains("Window"),
      "span frequency regressed to a window over the span hash:\n" + p.take(1200))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "span frequency lost map-side combining:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "span frequency join degraded:\n" + p.take(1200))
  }
}
