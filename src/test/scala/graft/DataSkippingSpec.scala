package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sinks.{FileStats, SnapshotStore}

/** File-skipping stats: footer harvesting at commit, sidecar carry
  * across merges, and planning-time pruning through the snapshot
  * FileIndex — results must ALWAYS equal the unpruned read. */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("dataskip").toString

  /** 1000 rows range-laid-out on id into 4 files in one partition, so
    * each file holds a narrow disjoint id (and k) range. */
  private def rangedCommit(root: String): Unit = {
    val df = spark.range(1000)
      .select(col("id"), format_string("k%04d", col("id")).as("k"),
        (col("id") * 1.5).as("v"), lit("x").as("p"))
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions(col("id"))
    SnapshotStore.commit(spark, df, root, "p")
  }

  test("commit writes a stats sidecar with per-file ranges and row counts") {
    val root = freshRoot()
    rangedCommit(root)
    val stats = SnapshotStore.statsFor(spark, root, 1)
    assert(stats.size == 4, s"expected 4 files, got ${stats.keySet}")
    assert(stats.values.map(_.rows).sum == 1000)
    val idStats = stats.values.map(_.cols("id")).toSeq
    assert(idStats.forall(s => s.min.isDefined && s.max.isDefined && s.nulls == 0))
    assert(idStats.flatMap(_.min).map(_.toLong).min == 0)
    assert(idStats.flatMap(_.max).map(_.toLong).max == 999)
    // Files cover DISJOINT ranges (range layout makes skipping bite).
    val ranges = idStats.map(s => (s.min.get.toLong, s.max.get.toLong)).sortBy(_._1)
    assert(ranges.sliding(2).forall { case Seq((_, hi), (lo, _)) => hi < lo; case _ => true })
    // String and double columns carry stats too.
    assert(stats.values.forall(e => e.cols.contains("k") && e.cols.contains("v")))
  }

  test("numeric range filter plans only the matching files, same answer as full read") {
    val root = freshRoot()
    rangedCommit(root)
    val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
    val got = t.filter(col("id") >= 100 && col("id") < 150)
      .agg(count(lit(1)), sum(col("v"))).as[(Long, Double)].head()
    assert(idx.lastCandidateFiles < idx.totalFiles,
      s"no pruning: ${idx.lastCandidateFiles}/${idx.totalFiles}")
    val want = SnapshotStore.read(spark, root).filter(col("id") >= 100 && col("id") < 150)
      .agg(count(lit(1)), sum(col("v"))).as[(Long, Double)].head()
    assert(got == want && got._1 == 50)
  }

  test("string equality and prefix filters prune by file; point lookup hits one file") {
    val root = freshRoot()
    rangedCommit(root)
    val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
    assert(t.filter(col("k") === "k0123").count() == 1)
    assert(idx.lastCandidateFiles == 1, s"expected 1 candidate, got ${idx.lastCandidateFiles}")
    val (t2, idx2) = SnapshotStore.tableWithIndex(spark, root)
    assert(t2.filter(col("k").startsWith("k09")).count() == 100)
    assert(idx2.lastCandidateFiles < idx2.totalFiles)
  }

  test("a filter with no matching range plans zero files") {
    val root = freshRoot()
    rangedCommit(root)
    val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
    assert(t.filter(col("id") > 5000).count() == 0)
    assert(idx.lastCandidateFiles == 0)
  }

  test("non-ASCII string bounds are never pruned on (conservative)") {
    val root = freshRoot()
    val df = Seq(("ä1", 1L, "x"), ("ö2", 2L, "x")).toDF("k", "id", "p").coalesce(1)
    SnapshotStore.commit(spark, df, root, "p")
    val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
    assert(t.filter(col("k") === "zz").count() == 0)
    // The predicate value is ASCII but the file bounds aren't: the
    // comparison is undecided, so the file must be KEPT, not skipped.
    assert(idx.lastCandidateFiles == idx.totalFiles)
  }

  test("null-aware pruning: IsNotNull skips all-null files, IsNull skips fully-valued ones") {
    val root = freshRoot()
    val df = spark.range(100)
      .select(col("id"),
        when(col("id") < 0, col("id").cast("double")).as("n"), // all null
        lit("a").as("p"))
      .coalesce(1)
      .unionByName(spark.range(100, 200)
        .select(col("id"), col("id").cast("double").as("n"), lit("b").as("p"))
        .coalesce(1))
    SnapshotStore.commit(spark, df, root, "p")
    val (t1, idx1) = SnapshotStore.tableWithIndex(spark, root)
    assert(t1.filter(col("n").isNotNull).count() == 100)
    assert(idx1.lastCandidateFiles == 1)
    val (t2, idx2) = SnapshotStore.tableWithIndex(spark, root)
    assert(t2.filter(col("n").isNull).count() == 100)
    assert(idx2.lastCandidateFiles == 1)
    // A value predicate can't match an all-null file either.
    val (t3, idx3) = SnapshotStore.tableWithIndex(spark, root)
    assert(t3.filter(col("n") === 150.0).count() == 1)
    assert(idx3.lastCandidateFiles == 1)
  }

  test("NESTED struct-field predicates prune files; array-element predicates refuse conservatively") {
    val root = freshRoot()
    // supplier.id range-correlates with the layout; variants is an
    // array-of-structs (the reference's own nested index spec:
    // supplier.id / variants.sku — unified_product_schema.py:229-248).
    val df = spark.range(1000)
      .select(col("id"),
        struct(format_string("S%04d", col("id")).as("sid"),
          (col("id") % 25).as("nation")).as("supplier"),
        array(struct(format_string("V%04d", col("id")).as("sku"),
          (col("id") * 2).as("qty"))).as("variants"),
        lit("x").as("p"))
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions(col("id"))
    SnapshotStore.commit(spark, df, root, "p")
    // The sidecar harvested dot-path leaf stats.
    val stats = SnapshotStore.statsFor(spark, root, 1)
    assert(stats.values.forall(_.cols.contains("supplier.sid")),
      s"dot-path leaf stats missing: ${stats.values.head.cols.keySet}")
    val (t1, idx) = SnapshotStore.tableWithIndex(spark, root)
    // Struct-leaf point lookup: 1 of 4 files.
    val got = t1.filter(col("supplier.sid") === "S0123").collect()
    assert(got.length == 1 && got(0).getLong(0) == 123L)
    assert(idx.lastCandidateFiles == 1,
      s"supplier.sid lookup must open 1 file, opened ${idx.lastCandidateFiles}")
    // Struct-leaf range: strictly fewer than all files, values exact.
    val (t2, idx2) = SnapshotStore.tableWithIndex(spark, root)
    assert(t2.filter(col("supplier.sid") >= "S0900").count() == 100)
    assert(idx2.lastCandidateFiles == 1,
      s"supplier.sid range must prune: ${idx2.lastCandidateFiles}/4")
    // Array-element predicate: NOT translatable (a lambda, not a
    // comparison) — the conservative boundary keeps every file and
    // the row filter still answers exactly.
    val (t3, idx3) = SnapshotStore.tableWithIndex(spark, root)
    assert(t3.filter(exists(col("variants"),
      v => v.getField("sku") === "V0042")).count() == 1)
    assert(idx3.lastCandidateFiles == idx3.totalFiles,
      "an exists() predicate must refuse pruning, never guess")
  }

  test("NESTED-leaf Bloom: supplier.id point lookups skip on scattered layouts where min/max is powerless") {
    val root = freshRoot()
    // SCATTERED layout: every file spans nearly the whole sid range
    // (arrival order), so min/max cannot prune an in-range point
    // lookup — the exact case the reference indexes supplier.id for.
    // All sids are EVEN: an odd in-range probe is provably absent,
    // and only a Bloom can certify that per file.
    val df = (0 until 8000).map(i =>
        (i.toLong, ((i.toLong * 13) % 4986) * 2, (i % 8).toString))
      .toDF("k", "sid", "part")
      .select(col("k"), struct(col("sid").as("id")).as("supplier"),
        col("part"))
    SnapshotStore.commit(spark, df, root, "part")
    // Sized for a ZERO-candidate pin: at the default 10 bits/value the
    // per-file false-positive rate (~1.7%) makes one deterministic FP
    // across this many files likely; 32/6 drops it to ~2.5e-5.
    SnapshotStore.addBloomFilters(spark, root, Seq("supplier.id"),
      bitsPerValue = 32, k = 6)
    // Absent-but-in-range key: ZERO candidates via the nested bloom.
    val (t1, idx1) = SnapshotStore.tableWithIndex(spark, root)
    assert(t1.filter(col("supplier.id") === 4987L).count() == 0)
    assert(idx1.lastCandidateFiles == 0,
      s"nested bloom must certify absence: ${idx1.lastCandidateFiles} kept " +
        s"of ${idx1.totalFiles}")
    // Present key: found, and never a false negative.
    val (t2, idx2) = SnapshotStore.tableWithIndex(spark, root)
    val present = ((123L * 13) % 4986) * 2
    assert(t2.filter(col("supplier.id") === present).count() >= 1)
    assert(idx2.lastCandidateFiles >= 1)
    // A non-leaf / non-existent dot path is refused loudly.
    val e = intercept[IllegalArgumentException](
      SnapshotStore.addBloomFilters(spark, root, Seq("supplier.nope")))
    assert(e.getMessage.contains("supplier.nope"))
  }

  test("mergeCommit carries stats for untouched partitions and stats new files") {
    val root = freshRoot()
    SnapshotStore.commit(spark,
      Seq(("p1", "a", 1, 10L), ("p2", "b", 1, 20L)).toDF("product_id", "supplier", "version", "qty"),
      root, "supplier")
    SnapshotStore.mergeCommit(spark,
      Seq(("p1", "a", 2, 11L)).toDF("product_id", "supplier", "version", "qty"),
      root, "product_id", "version", "supplier")
    val m2 = SnapshotStore.manifest(spark, root, 2)
    val s2 = SnapshotStore.statsFor(spark, root, 2)
    assert(m2.forall(e => s2.contains(e.path)), "every v2 entry has stats")
    // The carried b file keeps the exact stats recorded at v1.
    val s1 = SnapshotStore.statsFor(spark, root, 1)
    val bPath = m2.find(_.partition == "b").get.path
    assert(s2(bPath) == s1(bPath))
    // Partition-value equality prunes to one partition's files via
    // stats alone (min == max == the partition value per file).
    val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
    assert(t.filter(col("supplier") === "b").count() == 1)
    assert(idx.lastCandidateFiles == 1)
  }

  test("schema evolution: table() reads pre-evolution files with typed nulls") {
    val root = freshRoot()
    SnapshotStore.commit(spark,
      Seq(("p1", "a", 1)).toDF("product_id", "supplier", "version"), root, "supplier")
    SnapshotStore.mergeCommit(spark,
      Seq(("p2", "b", 1, "new")).toDF("product_id", "supplier", "version", "extra"),
      root, "product_id", "version", "supplier")
    val t = SnapshotStore.table(spark, root)
    assert(t.columns.contains("extra"))
    val rows = t.select("product_id", "extra").as[(String, Option[String])].collect().toMap
    assert(rows == Map("p1" -> None, "p2" -> Some("new")))
  }

  test("planning performs no per-file filesystem listing when stats exist") {
    val root = freshRoot()
    rangedCommit(root)
    // Sizes in the index must come from the sidecar, matching the real
    // file lengths (they feed split planning).
    val idx = SnapshotStore.fileIndex(spark, root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotStore.manifest(spark, root, 1).foreach { e =>
      val real = f.getFileStatus(new org.apache.hadoop.fs.Path(root, e.path)).getLen
      val listed = idx.inputFiles.find(_.endsWith(e.path)).isDefined
      assert(listed)
      assert(SnapshotStore.statsFor(spark, root, 1)(e.path).len == real)
    }
  }

  test("Z-ordered snapshot prunes files on BOTH dimensions") {
    val root = freshRoot()
    // 64×64 grid; Z-order into 16 files → each file covers a small
    // hyper-rectangle, so single-dimension predicates on EITHER key
    // prune, which a plain sort on x would only give for x.
    val grid = spark.range(4096).select(
      pmod(col("id"), lit(64)).as("x"),
      (col("id") / 64).cast("long").as("y"),
      lit("g").as("p"))
    val laid = graft.operators.Layout.zorderBy(grid, col("x"), col("y"),
      numFiles = 16, bits = 8).withColumn("p", lit("g"))
    SnapshotStore.commit(spark, laid, root, "p")
    def candidates(pred: org.apache.spark.sql.Column): (Long, Int, Int) = {
      val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
      val n = t.filter(pred).count()
      (n, idx.lastCandidateFiles, idx.totalFiles)
    }
    val (nx, cx, total) = candidates(col("x") < 8)
    val (ny, cy, _) = candidates(col("y") < 8)
    val (nb, cb, _) = candidates(col("x") < 8 && col("y") < 8)
    assert(nx == 512 && ny == 512 && nb == 64)
    assert(total == 16)
    assert(cx < total && cy < total, s"x:$cx y:$cy of $total")
    assert(cb <= cx && cb <= cy, s"2-D predicate should prune at least as hard: $cb")
  }

  test("compactZOrder restores multi-dimensional skippability of an arrival-ordered table") {
    val root = freshRoot()
    // Hash-shuffled commit: every file spans nearly the full x/y range,
    // so stats skipping has nothing to bite on.
    val grid = spark.range(4096).select(
      pmod(col("id"), lit(64)).as("x"),
      (col("id") / 64).cast("long").as("y"),
      lit("g").as("p")).repartition(16)
    SnapshotStore.commit(spark, grid, root, "p")
    val (t0, i0) = SnapshotStore.tableWithIndex(spark, root)
    assert(t0.filter(col("x") < 8).count() == 512)
    val before = i0.lastCandidateFiles

    val v = SnapshotStore.compactZOrder(spark, root, "p", Seq("x", "y"),
      filesPerPartition = 16, bits = 8)
    assert(v == 2L)
    val (t1, i1) = SnapshotStore.tableWithIndex(spark, root)
    assert(t1.filter(col("x") < 8).count() == 512)
    assert(i1.lastCandidateFiles < before && i1.lastCandidateFiles < i1.totalFiles,
      s"before=$before after=${i1.lastCandidateFiles}/${i1.totalFiles}")
    // Content identical across the rewrite.
    val a = SnapshotStore.read(spark, root).select("x", "y")
      .as[(Long, Long)].collect().sorted.toSeq
    val b = grid.select("x", "y").as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  test("the table() scan keeps parquet row-group pushdown inside surviving files") {
    val root = freshRoot()
    rangedCommit(root)
    val plan = SnapshotStore.table(spark, root)
      .filter(col("id") >= 100 && col("id") < 150)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(id,100)"),
      plan.take(800))
  }

  test("date range predicates prune files (DATE stats are epoch-day ints)") {
    val root = freshRoot()
    val df = spark.range(365).select(
      date_add(lit("2025-01-01").cast("date"), col("id").cast("int")).as("d"),
      col("id"), lit("x").as("p"))
      .repartitionByRange(4, col("d")).sortWithinPartitions(col("d"))
    SnapshotStore.commit(spark, df, root, "p")
    val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
    val n = t.filter(col("d") >= lit("2025-06-01").cast("date") &&
      col("d") < lit("2025-06-15").cast("date")).count()
    assert(n == 14)
    assert(idx.lastCandidateFiles == 1,
      s"date range should hit one file: ${idx.lastCandidateFiles}/${idx.totalFiles}")
  }

  test("timestamp pruning: INT96 default stays conservative; MICROS opt-in prunes") {
    def commitTs(root: String): Unit = {
      val df = spark.range(240).select(
        expr("timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2025-04-15 00:00:00')").as("ts"),
        col("id"), lit("x").as("p"))
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
      SnapshotStore.commit(spark, df, root, "p")
    }
    def probe(root: String): (Long, Int, Int) = {
      val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
      val n = t.filter(col("ts") >= lit("2025-04-16 00:00:00").cast("timestamp") &&
        col("ts") < lit("2025-04-17 00:00:00").cast("timestamp")).count()
      (n, idx.lastCandidateFiles, idx.totalFiles)
    }
    // Default (INT96): no stats recorded for ts — correct, no pruning.
    val r1 = freshRoot(); commitTs(r1)
    val (n1, c1, tot1) = probe(r1)
    assert(n1 == 24 && c1 == tot1)
    // The documented 100 TB setting: micros-typed parquet timestamps
    // carry comparable stats, and the same query prunes.
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val r2 = freshRoot(); commitTs(r2)
      val (n2, c2, tot2) = probe(r2)
      assert(n2 == 24 && c2 < tot2, s"micros timestamps should prune: $c2/$tot2")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  test("bloom filters skip point lookups where min/max cannot (arrival-ordered keys)") {
    val root = freshRoot()
    // Hash-distributed high-cardinality skus: every file's min/max
    // range spans the whole domain, so stats alone prune nothing.
    val df = spark.range(4000).select(
      concat(lit("sku-"), format_string("%05d", pmod(col("id") * 2654435761L, lit(100000L)))).as("sku"),
      col("id"), lit("x").as("p")).repartition(8)
    SnapshotStore.commit(spark, df, root, "p")
    val probe = df.select("sku").as[String].head()

    val (t0, i0) = SnapshotStore.tableWithIndex(spark, root)
    assert(t0.filter(col("sku") === probe).count() >= 1)
    assert(i0.lastCandidateFiles == i0.totalFiles, "min/max can't prune this layout")

    SnapshotStore.addBloomFilters(spark, root, Seq("sku"))
    val (t1, i1) = SnapshotStore.tableWithIndex(spark, root)
    val n1 = t1.filter(col("sku") === probe).count()
    assert(n1 == t0.filter(col("sku") === probe).count())
    assert(i1.lastCandidateFiles < i1.totalFiles,
      s"bloom should prune: ${i1.lastCandidateFiles}/${i1.totalFiles}")
    // A value absent from the table planlists ~0 files (false positives
    // only ever KEEP files; at 8192 bits they are rare).
    val (t2, i2) = SnapshotStore.tableWithIndex(spark, root)
    assert(t2.filter(col("sku") === "sku-nope").count() == 0)
    assert(i2.lastCandidateFiles <= 1, s"absent key kept ${i2.lastCandidateFiles}")
    // IN-lists probe per value; a column without a bloom is untouched.
    val (t3, i3) = SnapshotStore.tableWithIndex(spark, root)
    assert(t3.filter(col("sku").isin(probe, "sku-nope")).count() == n1)
    assert(i3.lastCandidateFiles < i3.totalFiles)
  }

  test("bloom sidecars carry forward across mergeCommit for untouched files") {
    val root = freshRoot()
    SnapshotStore.commit(spark,
      Seq(("k1", "a", 1), ("k2", "b", 1)).toDF("sku", "part", "v")
        .repartition(2), root, "part")
    SnapshotStore.addBloomFilters(spark, root, Seq("sku"))
    val b1 = SnapshotStore.bloomFor(spark, root, 1)
    assert(b1.nonEmpty)
    // Touch only partition a; partition b's file (and bloom) carries.
    SnapshotStore.mergeCommit(spark,
      Seq(("k3", "a", 2)).toDF("sku", "part", "v"), root, "sku", "v", "part")
    SnapshotStore.addBloomFilters(spark, root, Seq("sku"))
    val b2 = SnapshotStore.bloomFor(spark, root, 2)
    val bPath = SnapshotStore.manifest(spark, root, 2).find(_.partition == "b").get.path
    assert(b2.contains(bPath) && b2(bPath) == b1(bPath), "carried bloom must be byte-identical")
    // And the new file got a bloom too: a k3 lookup prunes partition b.
    val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
    assert(t.filter(col("sku") === "k3").count() == 1)
    assert(idx.lastCandidateFiles == 1)
  }

  test("corrupt sidecars degrade to no-pruning reads, never failures") {
    val root = freshRoot()
    rangedCommit(root)
    // Garbage both sidecars in place.
    val dir = java.nio.file.Paths.get(root, "manifests")
    java.nio.file.Files.list(dir).forEach { p =>
      if (p.toString.endsWith(".stats"))
        java.nio.file.Files.write(p, "not\ta\tvalid\tsidecar".getBytes)
    }
    java.nio.file.Files.write(dir.resolve("v_000001.bloom"), "garbage".getBytes)
    assert(SnapshotStore.statsFor(spark, root, 1).isEmpty)
    assert(SnapshotStore.bloomFor(spark, root, 1).isEmpty)
    assert(SnapshotStore.schemaFor(spark, root, 1).isEmpty)
    // table() falls back to footer schema + full file listing and the
    // answer is still exact.
    val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
    assert(t.filter(col("id") >= 100 && col("id") < 150).count() == 50)
    assert(idx.lastCandidateFiles == idx.totalFiles)
  }

  test("float bounds compare in float precision — equality on a float column never skips its file") {
    val root = freshRoot()
    val df = spark.range(100)
      .select((col("id") / lit(10.0)).cast("float").as("f"), col("id"), lit("x").as("p"))
      .repartitionByRange(4, col("id"))
    SnapshotStore.commit(spark, df, root, "p")
    // 0.1f stringifies as "0.1" in the stats but widens to
    // 0.10000000149... as a double — the comparison must stay in
    // float-string precision or this lookup wrongly prunes every file.
    val (t, idx) = SnapshotStore.tableWithIndex(spark, root)
    assert(t.filter(col("f") === lit(0.1f)).count() == 1)
    assert(idx.lastCandidateFiles >= 1)
  }

  test("empty-string partition keys merge through the sentinel without duplication") {
    val root = freshRoot()
    SnapshotStore.commit(spark,
      Seq(("p1", "", 1), ("p2", "b", 1)).toDF("product_id", "supplier", "version"),
      root, "supplier")
    SnapshotStore.mergeCommit(spark,
      Seq(("p1", "", 2)).toDF("product_id", "supplier", "version"),
      root, "product_id", "version", "supplier")
    val rows = SnapshotStore.read(spark, root)
      .select("product_id", "version").as[(String, Int)].collect().sorted.toSeq
    assert(rows == Seq(("p1", 2), ("p2", 1)),
      s"empty-string partition duplicated or lost: $rows")
  }

  test("the graft-snapshot format plans through the skipping index, from Scala and SQL") {
    val root = freshRoot()
    rangedCommit(root)
    // Format read = same relation the Scala surface builds; the
    // resolved plan carries a GraftFileIndex, and a selective filter
    // prunes files exactly like SnapshotStore.table.
    val df = spark.read.format("graft-snapshot").load(root)
      .filter(col("id") >= 100 && col("id") < 150)
    assert(df.count() == 50)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val idx = df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
        .location.asInstanceOf[graft.sinks.GraftFileIndex]
    }.get
    assert(idx.lastCandidateFiles == 1 && idx.totalFiles == 4,
      s"format read should prune: ${idx.lastCandidateFiles}/${idx.totalFiles}")

    // Pure SQL: a temp view over the format gives SQL-only users the
    // same skipping path, plus option-driven time travel.
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_t USING `graft-snapshot` " +
      s"OPTIONS (path '$root')")
    assert(spark.sql("SELECT count(*) FROM snap_t WHERE id >= 100 AND id < 150")
      .as[Long].head() == 50)

    // Time travel + manifest-level partition pruning via options.
    SnapshotStore.mergeCommit(spark,
      spark.range(1000, 1010).select(col("id"),
        format_string("k%04d", col("id")).as("k"),
        (col("id") * 1.5).as("v"), lit("y").as("p")),
      root, "id", "v", "p")
    assert(spark.read.format("graft-snapshot").load(root).count() == 1010)
    assert(spark.read.format("graft-snapshot").option("version", "1")
      .load(root).count() == 1000)
    assert(spark.read.format("graft-snapshot").option("partitions", "y")
      .load(root).count() == 10)
    // Misconfiguration fails at load, with the option named.
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot").option("version", "nope").load(root)
    }
    assert(e.getMessage.contains("version"))

    // An unversioned view pins the snapshot current at CREATION time:
    // the relation (and its file index) resolve once, so a later commit
    // is invisible until the view is re-created. Documented contract on
    // SnapshotSource — this test is the pin.
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_pin USING `graft-snapshot` " +
      s"OPTIONS (path '$root')")
    val before = spark.sql("SELECT count(*) FROM snap_pin").as[Long].head()
    SnapshotStore.mergeCommit(spark,
      spark.range(2000, 2005).select(col("id"),
        format_string("k%04d", col("id")).as("k"),
        (col("id") * 1.5).as("v"), lit("z").as("p")),
      root, "id", "v", "p")
    assert(spark.sql("SELECT count(*) FROM snap_pin").as[Long].head() == before,
      "unversioned view must stay pinned to its creation-time snapshot")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_pin USING `graft-snapshot` " +
      s"OPTIONS (path '$root')")
    assert(spark.sql("SELECT count(*) FROM snap_pin").as[Long].head() == before + 5,
      "re-created view must observe the new commit")
  }

  test("translate covers the pushable subset and stays conservative elsewhere") {
    val id = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "id", org.apache.spark.sql.types.LongType)()
    val lit5 = org.apache.spark.sql.catalyst.expressions.Literal(5L)
    val f = FileStats.translate(
      org.apache.spark.sql.catalyst.expressions.GreaterThan(id, lit5))
    assert(f.contains(org.apache.spark.sql.sources.GreaterThan("id", 5L)))
    // Flipped operand order flips the comparison.
    val g = FileStats.translate(
      org.apache.spark.sql.catalyst.expressions.GreaterThan(lit5, id))
    assert(g.contains(org.apache.spark.sql.sources.LessThan("id", 5L)))
    // Unsupported shapes translate to None, never to a wrong filter.
    assert(FileStats.translate(
      org.apache.spark.sql.catalyst.expressions.Not(
        org.apache.spark.sql.catalyst.expressions.EqualTo(id, lit5))).isEmpty)
  }
}
