package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.TextIndex

/** File-skipping inverted word index: exactness (index search ==
  * full-scan predicate) and the actual skip (candidate files are a
  * strict subset for a word concentrated in one range of the data). */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val (tableDir, indexDir) = {
    // 400 docs in 8 range-partitioned files; the marker word
    // "zebrafish" exists only in ids 0-49 → exactly one file's range.
    val docs = (0 until 400).map { i =>
      val marker = if (i < 50) " zebrafish" else ""
      (i.toLong, s"alpha beta gamma doc $i$marker")
    }.toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tix").toString
    docs.repartitionByRange(8, $"id").write.parquet(s"$dir/table")
    TextIndex.buildWordIndex(spark, s"$dir/table", "text", s"$dir/index")
    (s"$dir/table", s"$dir/index")
  }

  test("index search returns exactly the full-scan predicate's rows") {
    val viaIndex = TextIndex
      .searchWord(spark, tableDir, indexDir, "text", "zebrafish")
      .select("id").as[Long].collect().sorted.toSeq
    val fullScan = spark.read.parquet(tableDir)
      .filter(array_contains(TextAnalysis.wordSet($"text"), "zebrafish"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaIndex == fullScan && viaIndex.size == 50)
  }

  test("a selective word skips most data files; a ubiquitous word degrades to full scan") {
    val allFiles = spark.read.parquet(tableDir).inputFiles.toSet
    assert(allFiles.size >= 4, s"fixture wrote too few files: ${allFiles.size}")
    val rare = TextIndex.candidateFiles(spark, indexDir, "zebrafish").toSet
    assert(rare.size < allFiles.size / 2,
      s"rare word should prune: ${rare.size} of ${allFiles.size}")
    // The pruned scan's actual input is exactly the candidate set.
    val scanned = TextIndex
      .searchWord(spark, tableDir, indexDir, "text", "zebrafish")
      .inputFiles.toSet
    assert(scanned == rare)
    val common = TextIndex.candidateFiles(spark, indexDir, "alpha").toSet
    assert(common == allFiles, "ubiquitous word must list every file")
  }

  test("a word absent from the corpus returns an empty frame with the table schema") {
    val out = TextIndex.searchWord(spark, tableDir, indexDir, "text", "nosuchword")
    assert(out.columns.toSeq == Seq("id", "text") && out.isEmpty)
  }

  test("the index lookup pushes the token predicate into the parquet scan") {
    val p = spark.read.parquet(indexDir)
      .filter($"token" === "zebrafish")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("EqualTo(token,zebrafish)"),
      p.take(600))
  }

  test("incremental append indexes only the new files; search sees old and new data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tix_incr").toString
    val old = Seq((1L, "alpha common"), (2L, "beta common")).toDF("id", "text")
    old.coalesce(1).write.parquet(s"$dir/table")
    TextIndex.buildWordIndex(spark, s"$dir/table", "text", s"$dir/index")
    val before = spark.read.parquet(s"$dir/table").inputFiles.toSet

    // New batch lands as additional immutable files.
    Seq((3L, "gamma common newword")).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/table")
    val newFiles = spark.read.parquet(s"$dir/table").inputFiles.toSet -- before
    assert(newFiles.nonEmpty)
    TextIndex.appendToWordIndex(spark, newFiles.toSeq, "text", s"$dir/index")

    val hitNew = TextIndex.searchWord(spark, s"$dir/table", s"$dir/index",
      "text", "newword").select("id").as[Long].collect().toSeq
    assert(hitNew == Seq(3L))
    val hitAll = TextIndex.searchWord(spark, s"$dir/table", s"$dir/index",
      "text", "common").select("id").as[Long].collect().sorted.toSeq
    assert(hitAll == Seq(1L, 2L, 3L))
    // Old-word search is untouched by the append (no stale rows).
    val hitOld = TextIndex.searchWord(spark, s"$dir/table", s"$dir/index",
      "text", "alpha").select("id").as[Long].collect().toSeq
    assert(hitOld == Seq(1L))
  }

  test("snapshot maintenance: index follows commits; replaced files never resurrect rows") {
    import graft.sinks.SnapshotStore
    val dir = java.nio.file.Files.createTempDirectory("graft_tix_snap").toString
    val root = s"$dir/store"; val idx = s"$dir/index"
    val v1 = SnapshotStore.commit(spark,
      Seq(("d1", "alpha stale", "a", 1), ("d2", "beta keep", "b", 1))
        .toDF("doc_id", "text", "part", "v"), root, "part")
    TextIndex.appendForSnapshotVersion(spark, root, v1, "text", idx)
    // Replace partition a: d1's text loses "stale", gains "fresh".
    val v2 = SnapshotStore.mergeCommit(spark,
      Seq(("d1", "alpha fresh", "a", 2)).toDF("doc_id", "text", "part", "v"),
      root, "doc_id", "v", "part")
    TextIndex.appendForSnapshotVersion(spark, root, v2, "text", idx)

    def hits(w: String) = TextIndex
      .searchWordInSnapshot(spark, root, idx, "text", w)
      .select("doc_id").as[String].collect().sorted.toSeq
    assert(hits("fresh") == Seq("d1"))
    assert(hits("keep") == Seq("d2"))
    // "stale" exists only in the REPLACED v1 file: its index entry is
    // dead (not in the live manifest) and must yield nothing — and not
    // attempt to read the dropped file after a vacuum either.
    SnapshotStore.vacuum(spark, root, keep = 1, retainMillis = 0)
    assert(hits("stale") == Seq.empty)
    // A word spanning versions still resolves through live files only.
    assert(hits("alpha") == Seq("d1"))
  }

  test("token-less files count as covered — search keeps working, misses nothing") {
    import graft.sinks.SnapshotStore
    val dir = java.nio.file.Files.createTempDirectory("graft_tix_tokless").toString
    val root = s"$dir/store"; val idx = s"$dir/index"
    val v1 = SnapshotStore.commit(spark,
      Seq(("d1", "alpha words", "a", 1)).toDF("doc_id", "text", "part", "v"),
      root, "part")
    TextIndex.appendForSnapshotVersion(spark, root, v1, "text", idx)
    // A whole data file of empty / punctuation-only / null docs:
    // explode-based indexing would record NO rows for it, and the
    // coverage guard would then refuse FOREVER (its own advice —
    // re-run the maintenance — cannot satisfy it). The presence
    // sentinel makes the file covered.
    val v2 = SnapshotStore.appendCommit(spark,
      Seq(("d2", "", "b", 1), ("d3", "!!! ... ###", "b", 1),
          ("d4", null, "b", 1)).toDF("doc_id", "text", "part", "v"),
      root, "part")
    TextIndex.appendForSnapshotVersion(spark, root, v2, "text", idx)
    def hits(w: String) = TextIndex
      .searchWordInSnapshot(spark, root, idx, "text", w)
      .select("doc_id").as[String].collect().sorted.toSeq
    assert(hits("alpha") == Seq("d1"),
      "search must keep working with token-less live files")
    assert(hits("nosuchword") == Seq.empty)
    // Exactness unharmed: a later real word in that partition indexes
    // and resolves normally.
    val v3 = SnapshotStore.appendCommit(spark,
      Seq(("d5", "gamma", "b", 1)).toDF("doc_id", "text", "part", "v"),
      root, "part")
    TextIndex.appendForSnapshotVersion(spark, root, v3, "text", idx)
    assert(hits("gamma") == Seq("d5"))
  }

  test("a layout rewrite between maintenance calls refuses loudly; indexing it restores search") {
    import graft.sinks.SnapshotStore
    val dir = java.nio.file.Files.createTempDirectory("graft_tix_guard").toString
    val root = s"$dir/store"; val idx = s"$dir/index"
    val v1 = SnapshotStore.commit(spark,
      Seq(("d1", "alpha one", "a", 1)).toDF("doc_id", "text", "part", "v"),
      root, "part")
    TextIndex.appendForSnapshotVersion(spark, root, v1, "text", idx)
    val v2 = SnapshotStore.appendCommit(spark,
      Seq(("d2", "alpha two", "a", 1)).toDF("doc_id", "text", "part", "v"),
      root, "part")
    TextIndex.appendForSnapshotVersion(spark, root, v2, "text", idx)
    // Compaction renames files — searching through the gap would
    // silently MISS matches in the rewritten files.
    val v3 = SnapshotStore.compact(spark, root,
      graft.sinks.ColSpec(Seq("part")))
    val e = intercept[IllegalArgumentException] {
      TextIndex.searchWordInSnapshot(spark, root, idx, "text", "alpha").count()
    }
    assert(e.getMessage.contains("does not cover"))
    // The layout version's manifest diff is exactly the rewritten
    // files — the per-version discipline covers it.
    TextIndex.appendForSnapshotVersion(spark, root, v3, "text", idx)
    assert(TextIndex.searchWordInSnapshot(spark, root, idx, "text", "alpha")
      .select("doc_id").as[String].collect().sorted.toSeq == Seq("d1", "d2"))
  }

  test("snapshot search applies deletion vectors — DV-deleted rows never resurrect") {
    import graft.sinks.SnapshotStore
    val dir = java.nio.file.Files.createTempDirectory("graft_tix_dv").toString
    val root = s"$dir/store"; val idx = s"$dir/index"
    val v1 = SnapshotStore.commit(spark,
      Seq(("d1", "alpha shared", "a", 1), ("d2", "alpha shared", "a", 1),
        ("d3", "beta other", "b", 1))
        .toDF("doc_id", "text", "part", "v"), root, "part")
    TextIndex.appendForSnapshotVersion(spark, root, v1, "text", idx)
    def hits(w: String) = TextIndex
      .searchWordInSnapshot(spark, root, idx, "text", w)
      .select("doc_id").as[String].collect().sorted.toSeq
    assert(hits("alpha") == Seq("d1", "d2"))
    // Merge-on-read delete of d1: the data FILE stays in the manifest
    // (so the index entry stays live) but carries a DV — the search
    // must read through it, not the raw file.
    SnapshotStore.deleteWhereDv(spark, root, "doc_id = 'd1'")
    assert(hits("alpha") == Seq("d2"))
    // After PURGE (files rewritten, DVs dropped) the index needs its
    // usual append for the new files; results unchanged.
    val vp = SnapshotStore.purgeDeletionVectors(spark, root)
    TextIndex.appendForSnapshotVersion(spark, root, vp, "text", idx)
    assert(hits("alpha") == Seq("d2"))
  }

  private lazy val (bm25TableDir, bm25IndexDir) = {
    // 300 docs, 6 files; "quasar" only in ids 0-39 (file 0's range),
    // "pulsar" in 0-39 ∪ 200-239 (two ranges), varying repetitions so
    // tf differs per doc; "alpha" everywhere.
    val docs = (0 until 300).map { i =>
      val extra =
        (if (i < 40) " quasar" * (1 + i % 3) + " pulsar" else "") +
          (if (i >= 200 && i < 240) " pulsar pulsar" else "")
      (i.toLong, s"alpha beta common words doc $i$extra")
    }.toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25ix").toString
    docs.repartitionByRange(6, $"id").write.parquet(s"$dir/table")
    TextIndex.buildBm25Index(spark, s"$dir/table", "text", s"$dir/index")
    (s"$dir/table", s"$dir/index")
  }

  test("bm25ViaIndex equals full-scan BM25 row-for-row (scores included)") {
    val terms = Seq("quasar", "pulsar")
    val full = graft.operators.TfIdf.bm25(
        spark.read.parquet(bm25TableDir), $"text", $"id", terms)
      .as[(Long, Double)].collect().toMap
    val pruned = TextIndex.bm25ViaIndex(
        spark, bm25TableDir, bm25IndexDir, "text", "id", terms)
      .as[(Long, Double)].collect().toMap
    assert(pruned == full,
      s"index-pruned BM25 diverged: ${pruned.size} vs ${full.size} docs")
    assert(full.keySet == ((0 until 40) ++ (200 until 240)).map(_.toLong).toSet)
  }

  test("bm25ViaIndex reads only candidate files (the plan pin)") {
    val allFiles = spark.read.parquet(bm25TableDir).inputFiles.toSet
    assert(allFiles.size >= 4)
    val scored = TextIndex.bm25ViaIndex(
      spark, bm25TableDir, bm25IndexDir, "text", "id", Seq("quasar", "pulsar"))
    val scanned = scored.inputFiles.toSet
      .filterNot(_.contains("index")) // the stats/idx reads are index-sized
    assert(scanned.size < allFiles.size,
      s"selective terms must prune the data scan: ${scanned.size}/${allFiles.size}")
    assert(scanned.subsetOf(allFiles))
    // A term absent from the corpus scans nothing and scores nothing.
    val none = TextIndex.bm25ViaIndex(
      spark, bm25TableDir, bm25IndexDir, "text", "id", Seq("nonexistentword"))
    assert(none.count() == 0)
  }

  test("a failed index rebuild never leaves a partial live index") {
    // The overwrite-mode builds run with task-side commit (committer
    // v2), which commits files AS TASKS FINISH — writing straight into
    // the live dir, a mid-job failure would leave a PARTIAL index a
    // later reader silently serves. The stage-and-swap contract: the
    // live path either keeps the complete OLD index or gets the
    // complete NEW one, never a mix, never a fragment.
    val dir = java.nio.file.Files.createTempDirectory("graft_tix_swap").toString
    val docs = (0 until 100).map(i => (i.toLong, s"alpha beta doc $i")).toDF("id", "text")
    docs.write.parquet(s"$dir/table")
    TextIndex.buildWordIndex(spark, s"$dir/table", "text", s"$dir/index")
    val before = spark.read.parquet(s"$dir/index").collect().toSet
    assert(before.nonEmpty)
    // Inject a rebuild that writes PARTIAL output, then dies mid-job —
    // exactly what a lost executor / killed driver leaves behind.
    val boom = intercept[RuntimeException] {
      TextIndex.overwriteViaSwap(spark, s"$dir/index") { tmp =>
        docs.limit(3).select(col("text").as("token"),
            lit("partial").as("file"))
          .write.mode("error")
          .options(graft.sinks.SnapshotStore.fastCommitterOptions)
          .parquet(tmp)
        throw new RuntimeException("simulated mid-rebuild crash")
      }
    }
    assert(boom.getMessage.contains("simulated"))
    // The live index is byte-for-byte the old one — no partial rows.
    val after = spark.read.parquet(s"$dir/index").collect().toSet
    assert(after == before, "failed rebuild mutated the live index")
    // And a subsequent successful rebuild converges (orphan swept).
    TextIndex.buildWordIndex(spark, s"$dir/table", "text", s"$dir/index")
    assert(TextIndex.searchWord(spark, s"$dir/table", s"$dir/index",
      "text", "alpha").count() == 100)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(n => n.contains(".tmp-") || n.contains(".old-"))
    assert(leftovers.isEmpty, s"swap left orphans: ${leftovers.mkString(", ")}")
  }

  test("a crash between the swap's two renames loses no index: the next build restores it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tix_window").toString
    val docs = (0 until 100).map(i => (i.toLong, s"alpha beta doc $i")).toDF("id", "text")
    docs.write.parquet(s"$dir/table")
    TextIndex.buildWordIndex(spark, s"$dir/table", "text", s"$dir/index")
    val before = spark.read.parquet(s"$dir/index").collect().toSet
    // The crash: the live index was set aside, its replacement never
    // published.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/index"),
      new org.apache.hadoop.fs.Path(s"$dir/.index.old-x")))
    // A rebuild that then fails must not have swept the only copy.
    intercept[RuntimeException] {
      TextIndex.overwriteViaSwap(spark, s"$dir/index") { _ =>
        throw new RuntimeException("simulated failed rebuild")
      }
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/index")),
      "the set-aside index was not restored")
    assert(spark.read.parquet(s"$dir/index").collect().toSet == before)
    TextIndex.buildWordIndex(spark, s"$dir/table", "text", s"$dir/index")
    assert(TextIndex.searchWord(spark, s"$dir/table", s"$dir/index",
      "text", "alpha").count() == 100)
  }
}
