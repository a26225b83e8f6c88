package graft

import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** Merge-on-read deletes (Delta's deletion vectors): a predicate
  * delete that writes a position list instead of rewriting data files,
  * applied at read as a broadcast anti-join; REORG … APPLY (PURGE)
  * materializes; TBLPROPERTIES routes SQL DELETE between the modes. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  /** 12 rows over 3 partitions, 2+ files per partition (repartition
    * upstream forces multiple files per partition value). */
  private def seed(root: String): Unit = {
    val df = (1 to 12).map(i => (s"p$i", s"s${i % 3}", i))
      .toDF("product_id", "supplier", "qty").repartition(3)
    SnapshotStore.commit(spark, df, root, "supplier")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("product_id").as[String].collect().toSet

  test("DV delete works on partition values needing path escaping (URI vs raw form)") {
    val root = s"${freshDir()}/t"
    // Space, colon, percent, plus — each escapes differently on disk
    // (Hive) and in _metadata.file_path (URI). A raw/URI key mismatch
    // silently attaches NO deletion vector (a delete that 'succeeds'
    // while removing nothing).
    val df = Seq(("p1", "a b", 1), ("p2", "c:d", 2), ("p3", "e%f", 3),
      ("p4", "g+h", 4), ("p5", "plain", 5))
      .toDF("product_id", "supplier", "qty")
    SnapshotStore.commit(spark, df, root, "supplier")
    val v = SnapshotStore.deleteWhereDv(spark, root, "qty <= 4")
    assert(v == 2L)
    assert(SnapshotStore.manifest(spark, root, 2L).count(_.dv.nonEmpty) == 4,
      "every matched file must carry a DV, however its partition escapes")
    assert(ids(SnapshotStore.read(spark, root)) == Set("p5"))
    assert(ids(SnapshotStore.table(spark, root)) == Set("p5"))
    // And the update path shares the key scheme.
    SnapshotStore.updateWhereDv(spark, root,
      Seq("qty" -> "qty + 100"), Some("product_id = 'p5'"))
    assert(SnapshotStore.read(spark, root)
      .select("qty").as[Int].collect().toSeq == Seq(105))
  }

  test("deleteWhereDv removes rows without touching any data file") {
    val root = s"${freshDir()}/t"
    seed(root)
    val before = SnapshotStore.manifest(spark, root, 1L)
    val v = SnapshotStore.deleteWhereDv(spark, root, "qty >= 10")
    assert(v == 2L)
    val after = SnapshotStore.manifest(spark, root, 2L)
    // Data file paths are IDENTICAL — merge-on-read means zero rewrite.
    assert(after.map(_.path).sorted == before.map(_.path).sorted)
    assert(after.exists(_.dv.nonEmpty))
    assert(after.filter(_.dv.nonEmpty).map(_.dvRows).sum == 3L)
    assert(SnapshotStore.manifestOperation(spark, root, 2L).contains("delete-dv"))
    // Every read surface agrees: plain read, skipping-indexed table.
    assert(ids(SnapshotStore.read(spark, root)) ==
      (1 to 9).map(i => s"p$i").toSet)
    assert(ids(SnapshotStore.table(spark, root)) ==
      (1 to 9).map(i => s"p$i").toSet)
    // Time travel still sees the pre-delete rows.
    assert(SnapshotStore.readVersion(spark, root, 1L).count() == 12)
  }

  test("second DV delete on the same files unions positions; stale-only match is a no-op") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.deleteWhereDv(spark, root, "qty >= 10")
    // Overlapping predicate: qty >= 8 re-marks 10..12 and freshly
    // marks 8, 9 — union, not replacement.
    val v2 = SnapshotStore.deleteWhereDv(spark, root, "qty >= 8")
    assert(v2 == 3L)
    assert(ids(SnapshotStore.read(spark, root)) ==
      (1 to 7).map(i => s"p$i").toSet)
    assert(SnapshotStore.manifest(spark, root, 3L)
      .filter(_.dv.nonEmpty).map(_.dvRows).sum == 5L)
    // A predicate matching only already-deleted rows publishes nothing.
    assert(SnapshotStore.deleteWhereDv(spark, root, "qty = 11") == 3L)
    // And one matching nothing at all is likewise a no-op.
    assert(SnapshotStore.deleteWhereDv(spark, root, "qty > 99") == 3L)
  }

  test("merge onto a DV-carrying partition materializes; kept partitions keep DVs") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.deleteWhereDv(spark, root, "product_id in ('p3','p4')")
    // p3 is in s0 (3 % 3 = 0), p4 in s1. Merge a batch touching ONLY s1.
    val batch = Seq(("p4", "s1", 400), ("p99", "s1", 99))
      .toDF("product_id", "supplier", "qty")
    SnapshotStore.mergeCommit(spark, batch, root, "product_id", "qty", "supplier")
    val df = SnapshotStore.read(spark, root)
    // p3 stays deleted (its partition untouched, DV carried); p4 is
    // RE-INSERTED by the merge (upsert wins over the old tombstone).
    assert(!ids(df).contains("p3"))
    assert(df.filter(col("product_id") === "p4").select("qty")
      .as[Int].collect().toSeq == Seq(400))
    assert(ids(df).contains("p99"))
    // s1's rewritten files carry no DV; s0 still does.
    val m = SnapshotStore.manifest(spark, root,
      SnapshotStore.currentVersion(spark, root).get)
    assert(m.filter(_.partition == "s1").forall(_.dv.isEmpty))
    assert(m.filter(_.partition == "s0").exists(_.dv.nonEmpty))
  }

  test("change feed classifies DV-deleted rows as deletes") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.deleteWhereDv(spark, root, "qty >= 11")
    val ch = SnapshotStore.changes(spark, root, 1L, 2L, "product_id")
    val byType = ch.groupBy("_change_type").count().as[(String, Long)]
      .collect().toMap
    assert(byType == Map("delete" -> 2L))
    assert(ids(ch) == Set("p11", "p12"))
  }

  test("purgeDeletionVectors rewrites ONLY vectored files and drops DVs, content unchanged") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.deleteWhereDv(spark, root, "qty = 5")
    val before = SnapshotStore.manifest(spark, root, 2L)
    val vectored = before.filter(_.dv.nonEmpty).map(_.path).toSet
    val plain = before.filter(_.dv.isEmpty).map(_.path).toSet
    val liveBefore = SnapshotStore.read(spark, root).orderBy("qty").collect().toSeq
    val v = SnapshotStore.purgeDeletionVectors(spark, root)
    assert(v == 3L)
    val after = SnapshotStore.manifest(spark, root, 3L)
    assert(after.forall(_.dv.isEmpty))
    // Un-vectored files carried by reference; vectored ones replaced.
    assert(plain.subsetOf(after.map(_.path).toSet))
    assert(after.map(_.path).toSet.intersect(vectored).isEmpty)
    assert(SnapshotStore.read(spark, root).orderBy("qty").collect().toSeq
      == liveBefore)
    assert(SnapshotStore.manifestOperation(spark, root, 3L).contains("purge"))
    // Purge with nothing vectored is a no-op.
    assert(SnapshotStore.purgeDeletionVectors(spark, root) == 3L)
  }

  test("vacuum keeps referenced DV dirs, sweeps unreferenced ones") {
    val root = s"${freshDir()}/t"
    // ONE file per partition, so the second delete hits the same file
    // as the first and fully supersedes dv A with dv B.
    SnapshotStore.commit(spark,
      (1 to 12).map(i => (s"p$i", s"s${i % 3}", i))
        .toDF("product_id", "supplier", "qty").repartition(1),
      root, "supplier")
    SnapshotStore.deleteWhereDv(spark, root, "qty = 1")   // v2, dv A (file s1)
    SnapshotStore.deleteWhereDv(spark, root, "qty = 4")   // v3, dv B (same file, carries A's row)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dvRoot = new org.apache.hadoop.fs.Path(root, "dv")
    assert(f.listStatus(dvRoot).length == 2)
    // keep=2 keeps v2+v3 → both dv dirs referenced → both survive.
    SnapshotStore.vacuum(spark, root, keep = 2, retainMillis = 0L)
    assert(f.listStatus(dvRoot).length == 2)
    // keep=1 keeps only v3 → dv A unreferenced → swept; reads fine.
    SnapshotStore.vacuum(spark, root, keep = 1, retainMillis = 0L)
    assert(f.listStatus(dvRoot).length == 1)
    assert(ids(SnapshotStore.read(spark, root)) ==
      ((2 to 12).toSet - 4).map(i => s"p$i"))
  }

  test("history reports LIVE rows under DVs; symlink GENERATE refuses them") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.deleteWhereDv(spark, root, "qty <= 4")
    val h = SnapshotStore.history(spark, root)
      .select("version", "total_rows").as[(Long, Long)].collect().toMap
    assert(h == Map(1L -> 12L, 2L -> 8L))
    val e = intercept[IllegalArgumentException](
      SnapshotStore.writeSymlinkManifest(spark, root))
    assert(e.getMessage.contains("deletion vectors"))
    // After purge the export works again.
    SnapshotStore.purgeDeletionVectors(spark, root)
    SnapshotStore.writeSymlinkManifest(spark, root)
  }

  test("clone of a DV-bearing version reads correctly via absolute DV paths") {
    val dir = freshDir()
    val src = s"$dir/src"
    val dst = s"$dir/dst"
    seed(src)
    SnapshotStore.deleteWhereDv(spark, src, "qty % 2 = 0")
    SnapshotStore.cloneTo(spark, src, dst)
    assert(ids(SnapshotStore.read(spark, dst)) ==
      Seq(1, 3, 5, 7, 9, 11).map(i => s"p$i").toSet)
    // The clone's manifest carries the DV by absolute path.
    val m = SnapshotStore.manifest(spark, dst, 1L)
    assert(m.filter(_.dv.nonEmpty).forall(_.dv.startsWith("file:")))
  }

  test("SQL: TBLPROPERTIES routes DELETE through DVs; REORG purges; SHOW/UNSET lifecycle") {
    val root = s"${freshDir()}/t"
    spark.conf.set("spark.sql.catalog.graft_dv",
      classOf[graft.sinks.GraftCatalog].getName)
    seed(root)
    spark.sql(s"ALTER TABLE graft_dv.`$root` SET TBLPROPERTIES " +
      "('graft.enableDeletionVectors' = 'true', 'team' = 'data-eng')")
    assert(spark.sql(s"SHOW TBLPROPERTIES graft_dv.`$root`")
      .as[(String, String)].collect().toMap ==
      Map("graft.enableDeletionVectors" -> "true", "team" -> "data-eng"))
    // DELETE now lands as a DV commit: zero new data files.
    spark.sql(s"DELETE FROM graft_dv.`$root` WHERE qty > 10")
    val cur = SnapshotStore.currentVersion(spark, root).get
    assert(SnapshotStore.manifestOperation(spark, root, cur).contains("delete-dv"))
    // The catalog read surface applies the DVs.
    assert(spark.sql(s"SELECT count(*) FROM graft_dv.`$root`")
      .as[Long].head() == 10L)
    // And the format-options surface too.
    assert(spark.read.format("graft-snapshot").load(root).count() == 10L)
    spark.sql(s"REORG TABLE graft_dv.`$root` APPLY (PURGE)")
    assert(SnapshotStore.manifest(spark, root,
      SnapshotStore.currentVersion(spark, root).get).forall(_.dv.isEmpty))
    // UNSET flips subsequent DELETEs back to the rewrite path.
    spark.sql(s"ALTER TABLE graft_dv.`$root` UNSET TBLPROPERTIES ('graft.enableDeletionVectors')")
    spark.sql(s"DELETE FROM graft_dv.`$root` WHERE qty > 8")
    val cur2 = SnapshotStore.currentVersion(spark, root).get
    assert(SnapshotStore.manifestOperation(spark, root, cur2).contains("delete"))
    assert(!SnapshotStore.manifestOperation(spark, root, cur2).contains("delete-dv"))
    assert(spark.sql(s"SELECT count(*) FROM graft_dv.`$root`")
      .as[Long].head() == 8L)
    // UNSET of an unknown key fails loudly.
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE graft_dv.`$root` UNSET TBLPROPERTIES ('nope')"))
    assert(e.getMessage.contains("nope"))
  }

  test("updateWhereDv vectors old copies and appends updated rows — no file rewritten") {
    val root = s"${freshDir()}/t"
    seed(root)
    val before = SnapshotStore.manifest(spark, root, 1L).map(_.path).toSet
    val v = SnapshotStore.updateWhereDv(spark, root,
      Seq("qty" -> "qty + 100"), Some("qty >= 10"))
    assert(v == 2L)
    val after = SnapshotStore.manifest(spark, root, 2L)
    // Original files all carried (now DV'd); updated copies are NEW files.
    assert(before.subsetOf(after.map(_.path).toSet))
    assert(after.map(_.path).toSet.size > before.size)
    assert(after.filter(_.dv.nonEmpty).map(_.dvRows).sum == 3L)
    assert(SnapshotStore.manifestOperation(spark, root, 2L).contains("update-dv"))
    val got = SnapshotStore.read(spark, root).select("product_id", "qty")
      .as[(String, Int)].collect().toMap
    assert(got.size == 12)
    assert(got("p10") == 110 && got("p11") == 111 && got("p12") == 112)
    assert(got("p1") == 1)
    // An update matching only already-DELETED rows is a no-op: the
    // deleted row must not resurrect as an updated copy.
    SnapshotStore.deleteWhereDv(spark, root, "qty = 1")
    val v3 = SnapshotStore.currentVersion(spark, root).get
    assert(SnapshotStore.updateWhereDv(spark, root,
      Seq("qty" -> "0"), Some("qty = 1")) == v3)
    assert(SnapshotStore.read(spark, root).count() == 11)
  }

  test("updateWhereDv moves rows when the partition column is assigned") {
    val root = s"${freshDir()}/t"
    seed(root)
    SnapshotStore.updateWhereDv(spark, root,
      Seq("supplier" -> "'s9'"), Some("product_id = 'p7'"))
    val df = SnapshotStore.read(spark, root)
    assert(df.filter(col("product_id") === "p7").select("supplier")
      .as[String].collect().toSeq == Seq("s9"))
    val m = SnapshotStore.manifest(spark, root, 2L)
    assert(m.exists(_.partition == "s9"))
    // SQL routing: with the property set, UPDATE goes merge-on-read.
    spark.conf.set("spark.sql.catalog.graft_dvu",
      classOf[graft.sinks.GraftCatalog].getName)
    spark.sql(s"ALTER TABLE graft_dvu.`$root` SET TBLPROPERTIES " +
      "('graft.enableDeletionVectors' = 'true')")
    spark.sql(s"UPDATE graft_dvu.`$root` SET qty = 0 WHERE supplier = 's9'")
    val cur = SnapshotStore.currentVersion(spark, root).get
    assert(SnapshotStore.manifestOperation(spark, root, cur).contains("update-dv"))
    assert(SnapshotStore.read(spark, root)
      .filter(col("product_id") === "p7").select("qty")
      .as[Int].collect().toSeq == Seq(0))
  }

  test("properties carry forward across ordinary commits and into clones") {
    val dir = freshDir()
    val root = s"$dir/t"
    spark.conf.set("spark.sql.catalog.graft_dv2",
      classOf[graft.sinks.GraftCatalog].getName)
    seed(root)
    SnapshotStore.setProperties(spark, root, Seq("owner" -> "ai"))
    SnapshotStore.mergeCommit(spark,
      Seq(("p77", "s0", 77)).toDF("product_id", "supplier", "qty"),
      root, "product_id", "qty", "supplier")
    assert(SnapshotStore.tablePropertiesMap(spark, root) == Map("owner" -> "ai"))
    // Overwrite keeps other keys; clone carries the set.
    SnapshotStore.setProperties(spark, root, Seq("owner" -> "ml"))
    SnapshotStore.cloneTo(spark, root, s"$dir/c")
    assert(SnapshotStore.tablePropertiesMap(spark, s"$dir/c") ==
      Map("owner" -> "ml"))
  }

  test("non-graft ALTER/SHOW TBLPROPERTIES flow to the session parser untouched") {
    spark.sql("CREATE OR REPLACE TEMP VIEW dv_plain AS SELECT 1 AS x")
    // A TBLPROPERTIES statement against a non-graft identifier must
    // reach Spark's own resolution (and fail ITS way, not ours).
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE dv_plain SET TBLPROPERTIES ('a' = 'b')"))
    assert(!e.getMessage.contains("graft"))
  }
}
