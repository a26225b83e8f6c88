package graft

import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** Column mapping (Delta's name mode): RENAME/DROP COLUMN as pure
  * metadata — parquet files keep their original "physical" names
  * forever; reads alias/project, writes translate back. Plus
  * metadata-only ADD COLUMN. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_cm",
      classOf[graft.sinks.GraftCatalog].getName)
  }

  private def seed(root: String): Unit =
    SnapshotStore.commit(spark,
      (1 to 12).map(i => (s"p$i", s"s${i % 3}", i))
        .toDF("product_id", "supplier", "qty"),
      root, "supplier")

  test("rename is metadata-only: same files, new logical name, old name gone") {
    val root = s"${freshDir()}/t"
    seed(root)
    val before = SnapshotStore.manifest(spark, root, 1L)
    val v = SnapshotStore.renameColumn(spark, root, "qty", "quantity")
    assert(v == 2L)
    assert(SnapshotStore.manifest(spark, root, 2L).map(_.path).sorted ==
      before.map(_.path).sorted)
    assert(SnapshotStore.manifestOperation(spark, root, 2L).contains("rename-column"))
    val df = SnapshotStore.read(spark, root)
    assert(df.columns.toSeq == Seq("product_id", "supplier", "quantity"))
    assert(df.agg(sum("quantity")).as[Long].head() == (1 to 12).sum)
    // Time travel BEFORE the rename still shows the old name.
    assert(SnapshotStore.readVersion(spark, root, 1L).columns.contains("qty"))
    // The physical parquet column is untouched: reading a data file
    // raw shows the original name.
    val rawFile = before.head.path
    assert(spark.read.parquet(
      new org.apache.hadoop.fs.Path(root, rawFile).toString)
      .columns.contains("qty"))
  }

  test("merge after a rename uses logical names and writes PHYSICAL files") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.renameColumn(spark, root, "qty", "quantity")
    // Merge under the NEW name; existing rows must align.
    SnapshotStore.mergeCommit(spark,
      Seq(("p1", "s1", 100), ("p99", "s1", 99))
        .toDF("product_id", "supplier", "quantity"),
      root, "product_id", "quantity", "supplier")
    val df = SnapshotStore.read(spark, root)
    assert(df.columns.toSeq == Seq("product_id", "supplier", "quantity"))
    assert(df.filter(col("product_id") === "p1")
      .select("quantity").as[Int].head() == 100)
    assert(df.count() == 13)
    // New files carry the PHYSICAL column name (qty), not the logical.
    val newFiles = SnapshotStore.manifest(spark, root, 3L).map(_.path)
      .filterNot(SnapshotStore.manifest(spark, root, 2L).map(_.path).toSet)
    assert(newFiles.nonEmpty)
    val rawNew = spark.read.parquet(
      new org.apache.hadoop.fs.Path(root, newFiles.head).toString)
    assert(rawNew.columns.contains("qty") && !rawNew.columns.contains("quantity"))
  }

  test("drop column is metadata-only; time travel resurrects; reserved name refused") {
    val root = s"${freshDir()}/t"
    seed(root)
    val before = SnapshotStore.manifest(spark, root, 1L)
    val v = SnapshotStore.dropColumn(spark, root, "qty")
    assert(v == 2L)
    assert(SnapshotStore.manifest(spark, root, 2L).map(_.path).sorted ==
      before.map(_.path).sorted)
    assert(SnapshotStore.read(spark, root).columns.toSeq ==
      Seq("product_id", "supplier"))
    assert(SnapshotStore.readVersion(spark, root, 1L).columns.contains("qty"))
    // Re-adding the dropped name is refused (old files still carry the
    // physical column — it would resurrect dropped data).
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.addColumn(spark, root, "qty", "INT")
    }
    assert(e.getMessage.contains("reserved"))
    // A merge whose batch carries the dropped name is refused too.
    val e2 = intercept[Exception] {
      SnapshotStore.mergeCommit(spark,
        Seq(("p1", "s1", 5, 1)).toDF("product_id", "supplier", "qty", "v"),
        root, "product_id", "v", "supplier")
    }
    assert(e2.getMessage.contains("reserved"))
  }

  test("rename partition column: #partcol follows; merge + OPTIMIZE still work") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.renameColumn(spark, root, "supplier", "vendor")
    assert(SnapshotStore.partitionColumn(spark, root, 2L).contains("vendor"))
    SnapshotStore.mergeCommit(spark,
      Seq(("p77", "s1", 7)).toDF("product_id", "vendor", "qty"),
      root, "product_id", "qty", "vendor")
    assert(SnapshotStore.read(spark, root).count() == 13)
    // Layout maintenance through the logical name (compact resolves
    // the physical partition name itself).
    val v = SnapshotStore.compact(spark, root, "vendor")
    assert(SnapshotStore.read(spark, root).count() == 13)
    assert(SnapshotStore.readVersion(spark, root, v)
      .columns.toSeq == Seq("product_id", "vendor", "qty"))
  }

  test("SQL surface: RENAME/DROP/ADD COLUMN via the graft catalog; non-graft passes through") {
    val root = s"${freshDir()}/t"
    seed(root)
    spark.sql(s"ALTER TABLE graft_cm.`$root` RENAME COLUMN qty TO quantity")
    assert(spark.sql(s"SELECT quantity FROM graft_cm.`$root` WHERE product_id = 'p3'")
      .as[Int].head() == 3)
    spark.sql(s"ALTER TABLE graft_cm.`$root` ADD COLUMN note STRING")
    val cols = spark.sql(s"SELECT * FROM graft_cm.`$root`").columns.toSeq
    assert(cols == Seq("product_id", "supplier", "quantity", "note"))
    assert(spark.sql(s"SELECT note FROM graft_cm.`$root`")
      .filter(col("note").isNotNull).count() == 0)
    spark.sql(s"ALTER TABLE graft_cm.`$root` DROP COLUMN note")
    assert(!spark.sql(s"SELECT * FROM graft_cm.`$root`").columns.contains("note"))
    // Non-graft ALTER flows to the session parser (fails on the
    // missing table, NOT on the graft grammar).
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE nosuch_tbl RENAME COLUMN a TO b")
    }
    assert(e.getMessage.toLowerCase.contains("table"))
  }

  test("DESCRIBE TABLE through the catalog shows logical (mapped) columns") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.renameColumn(spark, root, "qty", "quantity")
    SnapshotStore.dropColumn(spark, root, "product_id")
    val cols = spark.sql(s"DESCRIBE TABLE graft_cm.`$root`")
      .select("col_name").as[String].collect().toSet
    assert(cols.contains("quantity") && !cols.contains("qty"))
    assert(!cols.contains("product_id"))
  }

  test("filter pushdown survives the rename projection (catalog SQL read)") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.renameColumn(spark, root, "qty", "quantity")
    val q = spark.sql(s"SELECT product_id FROM graft_cm.`$root` WHERE quantity > 6")
    val plan = q.queryExecution.executedPlan.toString
    // The logical predicate must reach the parquet scan as the
    // PHYSICAL column.
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(qty,6)"),
      "predicate not pushed through the mapping projection:\n" + plan.take(1500))
    assert(q.count() == 6)
  }

  test("DV delete + update after a rename use logical names") {
    val root = s"${freshDir()}/t"
    seed(root)
    spark.sql(s"ALTER TABLE graft_cm.`$root` SET TBLPROPERTIES (" +
      "'graft.enableDeletionVectors' = 'true')")
    SnapshotStore.renameColumn(spark, root, "qty", "quantity")
    SnapshotStore.deleteWhereDv(spark, root, "quantity > 10")
    assert(SnapshotStore.read(spark, root).count() == 10)
    SnapshotStore.updateWhereDv(spark, root,
      Seq("quantity" -> "quantity + 1000"), Some("quantity <= 2"))
    val df = SnapshotStore.read(spark, root)
    assert(df.filter(col("quantity") >= 1000).count() == 2)
    assert(df.count() == 10)
  }

  test("CDC across a rename: metadata commit emits nothing; range diff uses new names") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.renameColumn(spark, root, "qty", "quantity") // v2
    SnapshotStore.mergeCommit(spark,
      Seq(("p1", "s1", 500)).toDF("product_id", "supplier", "quantity"),
      root, "product_id", "quantity", "supplier") // v3
    // The rename itself changes no content.
    assert(SnapshotStore.changes(spark, root, 1L, 2L, "product_id").count() == 0)
    // A range spanning the rename diffs under the NEW names.
    val feed = SnapshotStore.changes(spark, root, 1L, 3L, "product_id")
    assert(feed.columns.contains("quantity"))
    assert(feed.filter(col("_change_type") === "update")
      .select("quantity").as[Int].collect().toSeq == Seq(500))
  }

  test("restore snaps the mapping back; clone carries it") {
    val dir = freshDir()
    val root = s"$dir/t"
    seed(root)
    SnapshotStore.renameColumn(spark, root, "qty", "quantity") // v2
    // Restore to v1: the OLD name comes back.
    SnapshotStore.restore(spark, root, 1L) // v3
    assert(SnapshotStore.read(spark, root).columns.contains("qty"))
    // Forward again to the renamed state for the clone.
    SnapshotStore.restore(spark, root, 2L) // v4
    val cloneRoot = s"$dir/clone"
    SnapshotStore.cloneTo(spark, root, cloneRoot)
    assert(SnapshotStore.read(spark, cloneRoot).columns.contains("quantity"))
  }

  test("rename/drop refused when a CHECK constraint references the column; symlink GENERATE refused under mapping") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.addConstraint(spark, root, "qty_pos", "qty > 0")
    val e = intercept[IllegalStateException] {
      SnapshotStore.renameColumn(spark, root, "qty", "quantity")
    }
    assert(e.getMessage.contains("qty_pos"))
    val e2 = intercept[IllegalStateException] {
      SnapshotStore.dropColumn(spark, root, "qty")
    }
    assert(e2.getMessage.contains("qty_pos"))
    SnapshotStore.dropConstraint(spark, root, "qty_pos")
    SnapshotStore.renameColumn(spark, root, "qty", "quantity")
    val e3 = intercept[IllegalArgumentException] {
      SnapshotStore.writeSymlinkManifest(spark, root)
    }
    assert(e3.getMessage.contains("column mapping"))
  }

  test("streaming source pins the creation-time mapping") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, Seq(("p1", "a", 1))
      .toDF("product_id", "supplier", "qty"), root, "supplier")
    SnapshotStore.renameColumn(spark, root, "qty", "quantity")
    val q = spark.readStream.format("graft-snapshot")
      .option("startingVersion", "0")
      .load(root)
      .writeStream.format("memory").queryName("colmap_stream")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // New appends surface under the stream's pinned LOGICAL name.
      SnapshotStore.appendCommit(spark, Seq(("p2", "a", 2))
        .toDF("product_id", "supplier", "quantity"), root, "supplier")
      q.processAllAvailable()
      assert(spark.table("colmap_stream").columns.contains("quantity"))
      assert(spark.table("colmap_stream").count() == 2)
    } finally q.stop()
  }
}
