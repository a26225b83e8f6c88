package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** File-skipping inverted word index for text search over a parquet
  * table — the scale path past a full-scan `contains()` (the reference
  * declares a Mongo text INDEX on name,
  * unified_product_schema.py:241; q72 is the scan-side parity, this is
  * the index-side parity).
  *
  * The index is (token, file): for each parquet data file, the
  * distinct normalized words of its rows' indexed column. Build cost
  * is one explode + distinct (a shuffle on (token, file)); index size
  * is bounded by per-file vocabulary, not row count. A word search
  * consults the index for candidate files, then scans ONLY those
  * files with the row predicate re-applied. Results are EXACT: the
  * index uses the same tokenizer as the predicate, so a file holding
  * a matching row necessarily indexes the token — skipping
  * non-candidates cannot drop rows.
  *
  * At 100 TB: the index is ~vocabulary × files rows — itself a
  * parquet table, range-laid-out on token so a one-token lookup
  * pushes into the scan (PushedFilters) and touches a few row groups.
  * The data scan shrinks from every file to the files that contain
  * the word — for selective words, orders of magnitude fewer bytes;
  * for stop-words it degrades gracefully to the full scan (never
  * worse than q72). Rebuild is incremental by construction: files are
  * immutable, so new data files only APPEND index rows (re-index the
  * new files, union).
  */
object TextIndex {

  /** Per-file PRESENCE marker: `explode_outer` emits a null token for
    * a document with no tokens, which coalesces to this sentinel — so
    * a file whose every row tokenizes to nothing (empty /
    * punctuation-only text) still records one index row and counts as
    * COVERED by [[searchWordInSnapshot]]'s guard. A real search word
    * can never equal it ([[TextAnalysis.wordSet]] tokens never carry
    * a NUL), and even a pathological query would only add candidate
    * slack — the row predicate re-applies either way. */
  private val CoveredSentinel = "\u0000__covered__"

  private def tokenRows(df: DataFrame, textCol: String): DataFrame =
    df.select(input_file_name().as("file"),
        explode_outer(TextAnalysis.wordSet(col(textCol))).as("tk"))
      .select(col("file"),
        coalesce(col("tk"), lit(CoveredSentinel)).as("token"))
      .distinct()

  /** Stage-and-swap for the one-shot OVERWRITE index builds: the job
    * writes a PRIVATE tmp directory (task-side committer v2 is safe
    * there — the dir is invisible until the swap below), and only a
    * COMPLETED tree replaces the live path. A mid-job failure leaves
    * the previous index fully intact (plus a tmp orphan the next
    * build sweeps) — it can never leave a PARTIAL live index, which
    * committer v2 writing straight into the live dir could: a reader
    * would silently search a half-built index (the round-16 audit's
    * failure-visibility hole).
    *
    * The swap itself is two renames (live → `.old-*`, tmp → live). A
    * crash between them leaves NO live index: readers in that window
    * see a missing path, not the previous index. The next build
    * restores the set-aside `.old-*` copy before it sweeps, so the
    * only copy is never deleted and a build that then fails still
    * leaves the previous index live. */
  private[graft] def overwriteViaSwap(spark: SparkSession, dest: String)
      (write: String => Unit): Unit = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val f = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def orphans(kind: String) =
      if (!f.exists(destPath.getParent)) Seq.empty
      else f.listStatus(destPath.getParent).toSeq
        .filter(_.getPath.getName.startsWith(s".${destPath.getName}.$kind-"))
    // A crash inside a previous swap window set the live index aside
    // and never published its replacement: put that copy back. (Every
    // build sweeps before it swaps, so there is at most one.)
    if (!f.exists(destPath))
      orphans("old").headOption.foreach { s =>
        if (!f.rename(s.getPath, destPath))
          throw new IllegalStateException(s"swap restore rename failed for $dest")
      }
    // Sweep orphans of previously crashed builds for this dest.
    (orphans("tmp") ++ orphans("old")).foreach(s => f.delete(s.getPath, true))
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(destPath.getParent,
      s".${destPath.getName}.tmp-$suffix")
    write(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(destPath.getParent,
      s".${destPath.getName}.old-$suffix")
    val had = f.exists(destPath)
    if (had && !f.rename(destPath, old))
      throw new IllegalStateException(s"swap set-aside rename failed for $dest")
    if (!f.rename(tmp, destPath))
      throw new IllegalStateException(s"swap publish rename failed for $dest")
    if (had) f.delete(old, true)
  }

  /** Build the (token, file) index for `tablePath`'s `textCol`,
    * written to `indexPath` range-laid-out on token (one-token
    * lookups then prune row groups via min/max stats). */
  def buildWordIndex(spark: SparkSession, tablePath: String,
                     textCol: String, indexPath: String): Unit =
    overwriteViaSwap(spark, indexPath) { tmp =>
      tokenRows(spark.read.parquet(tablePath), textCol)
        .repartitionByRange(col("token"))
        .sortWithinPartitions(col("token"))
        .write.mode("error")
          .options(graft.sinks.SnapshotStore.fastCommitterOptions)
          .parquet(tmp)
    }

  /** Incremental maintenance: index ONLY `newFiles` (data files added
    * since the last build — e.g. the new entries of a SnapshotStore
    * commit's manifest) and append their (token, file) rows. Data
    * files are immutable, so old index rows never go stale and the
    * append equals a full rebuild — the 100 TB maintenance story:
    * index cost tracks the incoming batch, not the table. */
  def appendToWordIndex(spark: SparkSession, newFiles: Seq[String],
                        textCol: String, indexPath: String): Unit = {
    if (newFiles.nonEmpty)
      tokenRows(spark.read.parquet(newFiles: _*), textCol)
        .repartitionByRange(col("token"))
        .sortWithinPartitions(col("token"))
        .write.mode("append")
        .options(graft.sinks.SnapshotStore.fastCommitterOptions)
        .parquet(indexPath)
  }

  /** Snapshot-store maintenance: index exactly the data files version
    * `version` ADDED over its predecessor (the manifest diff — carried
    * files are immutable and already indexed). Run after each commit
    * and the index tracks the table at batch cost. Note exact-dedup
    * caveat: a REPLACED partition's old files stay in the index until
    * a rebuild; [[searchWord]] re-applies the row predicate over the
    * CURRENT table read, so dropped files never resurrect rows —
    * stale index entries cost candidate-list slack, not correctness. */
  def appendForSnapshotVersion(spark: SparkSession, root: String,
                               version: Long, textCol: String,
                               indexPath: String): Unit = {
    import graft.sinks.SnapshotStore
    val cur = SnapshotStore.manifest(spark, root, version).map(_.path)
    // The predecessor manifest may have been vacuumed (first index
    // build on an old table): treat it as empty — indexing carried
    // files again only costs duplicate index rows, never correctness
    // (candidate lists are re-filtered row-level).
    val prev =
      if (version <= 1 ||
          !SnapshotStore.versions(spark, root).contains(version - 1))
        Set.empty[String]
      else SnapshotStore.manifest(spark, root, version - 1).map(_.path).toSet
    val fresh = cur.filterNot(prev)
      .map(p => new org.apache.hadoop.fs.Path(root, p).toString)
    appendToWordIndex(spark, fresh, textCol, indexPath)
  }

  /** Data files that may contain `word` — exact over-approximation
    * (no false negatives; a listed file may still have no matching
    * row when its matches were in other columns' rows). Driver-side
    * list, bounded by the table's file count. */
  def candidateFiles(spark: SparkSession, indexPath: String,
                     word: String): Seq[String] =
    spark.read.parquet(indexPath)
      .filter(col("token") === lit(word))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** [[searchWord]] against a snapshot-store table: candidates are
    * intersected with the CURRENT manifest first, so index entries for
    * files a later merge replaced (or vacuum deleted) are ignored
    * instead of read. Exactness still holds — replaced files' rows
    * live on in their replacement files, whose index rows were added
    * by [[appendForSnapshotVersion]] at that commit. */
  def searchWordInSnapshot(spark: SparkSession, root: String, indexPath: String,
                           textCol: String, word: String): DataFrame = {
    import graft.sinks.SnapshotStore
    val v = SnapshotStore.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val rel = SnapshotStore.manifest(spark, root, v).map(_.path)
    // COVERAGE GUARD (the ANN probes' rule, Similarity.liveSnapshotIndex):
    // a layout rewrite (compact / auto-compact / z-order / cluster-by)
    // between maintenance calls renames files; their content is
    // unindexed until appendForSnapshotVersion runs for that version
    // too. Searching through a gap would silently MISS matches in the
    // rewritten files — refuse loudly instead. (Token-less files count
    // as covered: the build records a per-file presence row via
    // [[CoveredSentinel]], so this guard only ever names files the
    // maintenance genuinely hasn't seen.)
    val indexed = spark.read.parquet(indexPath)
      .select(col("file")).distinct()
      .collect().map(_.getString(0))
    val uncovered = rel.filterNot(p => indexed.exists(_.endsWith(p)))
    require(uncovered.isEmpty,
      s"word index at $indexPath does not cover ${uncovered.size} live " +
        s"file(s) of $root v$v (e.g. ${uncovered.take(3).mkString(", ")}) — " +
        "run appendForSnapshotVersion for every version up to the current " +
        "one (layout rewrites rename files and need it too)")
    val live = candidateFiles(spark, indexPath, word)
      .filter(c => rel.exists(c.endsWith))
    if (live.isEmpty) SnapshotStore.table(spark, root, Some(v))
      .filter(array_contains(TextAnalysis.wordSet(col(textCol)), word)).limit(0)
    // Candidates read through the snapshot's full read boundary
    // (SnapshotStore.readFiles): a raw parquet read of the candidate
    // files would resurrect DV-deleted rows and expose physical
    // column names on a renamed table.
    else SnapshotStore.readFiles(spark, root, v, live)
      .filter(array_contains(TextAnalysis.wordSet(col(textCol)), word))
  }

  /** BM25 ranked retrieval through the index — the skipping-index
    * analog for ranked search: [[graft.operators.TfIdf.bm25]] scans
    * the whole corpus per query; this composition reads ONLY the
    * files containing a query term. The global statistics BM25 needs
    * (N, total length, per-term document frequency) are what a full
    * scan would otherwise recompute — so the index stores them at
    * build time: per-(token, file) DOC COUNTS (df is their sum —
    * index-sized, exact) and a one-row corpus-stats sidecar at
    * `<indexPath>_stats`. Scored docs are exactly the docs holding a
    * query term, and those live only in candidate files, so pruning
    * loses nothing: the result is row-identical (same decimal
    * quantization) to full-scan [[TfIdf.bm25]] as of the indexed
    * table state.
    *
    * At 100 TB: query cost ∝ candidate bytes (selective terms touch a
    * few files), stats cost ∝ index rows for the query terms; nothing
    * rescans the corpus. Tokenization is [[TfIdf.bm25]]'s
    * (`tokens ∘ normalized`), NOT [[buildWordIndex]]'s `wordSet` —
    * the index and the scorer must agree on what a term is. */
  def buildBm25Index(spark: SparkSession, tablePath: String,
                     textCol: String, indexPath: String): Unit = {
    // ONE corpus scan: each doc explodes into its distinct tokens PLUS
    // one sentinel row carrying its length, so the same shuffled
    // aggregate yields both the (token, file) doc counts and the
    // per-file (doc count, total length) the stats sidecar needs —
    // tokenization (the expensive part) runs once, not once per
    // output. The grouped result is index-sized (vocabulary × files),
    // so persisting it to split into the two writes is cheap at any
    // corpus size.
    val sentinel = "\u0000__corpus_stats__"
    val grouped = spark.read.parquet(tablePath)
      .select(input_file_name().as("file"),
        coalesce(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
          array()).as("ws"))
      .select(col("file"), size(col("ws")).as("dl"),
        explode(concat(array(lit(sentinel)), array_distinct(col("ws"))))
          .as("token"))
      .groupBy(col("token"), col("file"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_sum"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Each surface stages privately and swaps only when complete
      // (see [[overwriteViaSwap]]): no failure can leave a PARTIAL
      // live index or stats sidecar. A failure between the two swaps
      // leaves new index + old stats — both internally complete; the
      // re-run converges (one-shot build surface).
      overwriteViaSwap(spark, indexPath) { tmp =>
        grouped.filter(col("token") =!= sentinel)
          .select(col("token"), col("file"), col("n_docs"))
          .repartitionByRange(col("token"))
          .sortWithinPartitions(col("token"))
          .write.mode("error")
          .options(graft.sinks.SnapshotStore.fastCommitterOptions)
          .parquet(tmp)
      }
      overwriteViaSwap(spark, bm25StatsPath(indexPath)) { tmp =>
        grouped.filter(col("token") === sentinel)
          .select(sum(col("n_docs")).as("n"), sum(col("dl_sum")).as("total_dl"))
          .write.mode("error")
          .options(graft.sinks.SnapshotStore.fastCommitterOptions)
          .parquet(tmp)
      }
    } finally grouped.unpersist()
  }

  private def bm25StatsPath(indexPath: String): String =
    indexPath.stripSuffix("/") + "_stats"

  /** BM25 scores for `queryTerms` reading only the index's candidate
    * files — equal to `TfIdf.bm25(fullTable, …)` by construction (see
    * [[buildBm25Index]]). Result: (id, bm25) for every document
    * containing at least one query term. */
  def bm25ViaIndex(spark: SparkSession, tablePath: String, indexPath: String,
                   textCol: String, idCol: String, queryTerms: Seq[String],
                   k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val idx = spark.read.parquet(indexPath)
      .filter(col("token").isInCollection(terms))
    // Per-term document frequency: sum of per-file doc counts — an
    // index-rows aggregation, |terms| result rows.
    val dfByTerm = idx.groupBy(col("token").as("term"))
      .agg(sum(col("n_docs")).as("df"))
    val stats = spark.read.parquet(bm25StatsPath(indexPath)).first()
    // An index built over an empty corpus writes one all-null stats row
    // (sums over zero rows), so null-check before getLong — the intended
    // descriptive error, not an NPE.
    require(!stats.isNullAt(0) && stats.getLong(0) > 0,
      "empty corpus at index build time")
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val files = idx.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
    val base = spark.read.parquet(tablePath)
    if (files.isEmpty)
      return base.select(col(idCol).as("id"), lit(0.0).as("bm25")).limit(0)
    val target = new org.apache.hadoop.fs.Path(tablePath)
    val isDir = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(target).isDirectory
    val reader = if (isDir) spark.read.option("basePath", tablePath) else spark.read
    // tf and dl come from the candidate files only: every scored doc
    // contains a query term, so it lives in a candidate file.
    val tf = reader.parquet(files: _*)
      .select(col(idCol).as("id"),
        TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))).as("ws"))
      .select(col("id"), size(col("ws")).as("dl"),
        explode(filter(col("ws"), w => w.isInCollection(terms))).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // Identical arithmetic to TfIdf.bm25: Lucene idf quantized to 6
    // decimals per term, fixed-parenthesization tf normalization,
    // exact decimal accumulation.
    val idf6 = round(log(lit(1.0) +
        (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
      .cast("decimal(18,6)")
    val tfNorm = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    tf.join(broadcast(dfByTerm.select(col("term"), idf6.as("idf6"))), "term")
      .select(col("id"),
        round(col("idf6").cast("double") * tfNorm, 6)
          .cast("decimal(18,6)").as("addend"))
      .groupBy(col("id"))
      .agg(sum(col("addend")).as("s"))
      .select(col("id"), col("s").cast("double").as("bm25"))
  }

  /** Word search through the index: scan only candidate files with
    * the row predicate re-applied. Row-for-row equal to the full-scan
    * `array_contains(wordSet(textCol), word)`. */
  def searchWord(spark: SparkSession, tablePath: String, indexPath: String,
                 textCol: String, word: String): DataFrame = {
    val files = candidateFiles(spark, indexPath, word)
    val base = spark.read.parquet(tablePath)
    // basePath preserves Hive partition columns on a directory table;
    // a single-file table has none (and basePath rejects files).
    val target = new org.apache.hadoop.fs.Path(tablePath)
    val isDir = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(target).isDirectory
    val reader = if (isDir) spark.read.option("basePath", tablePath) else spark.read
    val pruned =
      if (files.isEmpty) base.limit(0)
      else reader.parquet(files: _*)
    pruned.filter(array_contains(TextAnalysis.wordSet(col(textCol)), word))
  }
}
