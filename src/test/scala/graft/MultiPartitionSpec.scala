package graft

import graft.sinks.SnapshotStore

/** Multi-column partitioning and composite keys through the snapshot
  * store — the compound-index access patterns the reference declares
  * (unified_product_schema.py:244-248: (supplier.id, pricing.price),
  * (category.name, status)) expressed as a real partition spec, plus
  * composite natural keys like (supplier_id, sku). */
class MultiPartitionSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${freshDir()}/t"

  private def rows(rs: (String, String, String, Int)*) =
    rs.toDF("sku", "supplier", "status", "qty")

  test("commit + merge on a two-column spec: only the touched (supplier,status) partition rewrites") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(
      ("s1", "a", "active", 1), ("s2", "a", "draft", 1),
      ("s3", "b", "active", 1)), root, Seq("supplier", "status"))
    assert(SnapshotStore.partitionColumn(spark, root, 1L)
      .contains("supplier,status"))
    val m1 = SnapshotStore.manifest(spark, root, 1L)
    assert(m1.map(_.partition).toSet == Set("a/active", "a/draft", "b/active"))
    // Files land under nested __part=…/__part1=… directories.
    assert(m1.forall(e => e.path.contains("/__part=") &&
      e.path.contains("/__part1=")), m1.map(_.path).mkString("\n"))

    // Merge touching ONLY (a, active): every other partition's files
    // carry by reference.
    SnapshotStore.mergeCommit(spark, rows(("s1", "a", "active", 9)),
      root, "sku", "qty", Seq("supplier", "status"))
    val m2 = SnapshotStore.manifest(spark, root, 2L)
    val untouched1 = m1.filterNot(_.partition == "a/active").toSet
    assert(untouched1.subsetOf(m2.toSet),
      "untouched partitions were rewritten by a disjoint merge")
    assert(m2.filter(_.partition == "a/active").toSet
      .intersect(m1.filter(_.partition == "a/active").toSet).isEmpty)
    val got = SnapshotStore.read(spark, root)
      .select("sku", "qty").as[(String, Int)].collect().toSet
    assert(got == Set(("s1", 9), ("s2", 1), ("s3", 1)))
  }

  test("manifest-level pruning + null components + partition carry on comma-spelled spec") {
    val root = freshRoot()
    // Comma spelling of the same spec; a null status lands under the
    // Hive default-partition sentinel in the second component.
    SnapshotStore.commit(spark, Seq(
      ("s1", "a", Some("active"), 1), ("s2", "a", None, 1),
      ("s3", "b", Some("active"), 1))
      .toDF("sku", "supplier", "status", "qty"), root, "supplier,status")
    val parts = SnapshotStore.manifest(spark, root, 1L).map(_.partition).toSet
    assert(parts == Set("a/active", "a/__HIVE_DEFAULT_PARTITION__", "b/active"),
      parts.toString)
    // Manifest-level pruning on the composite value.
    assert(SnapshotStore.read(spark, root, Some(Seq("a/active")))
      .select("sku").as[String].collect().toSeq == Seq("s1"))
    // A merge of a null-status row must route to the sentinel
    // partition, not duplicate (the norm/manifest agreement).
    SnapshotStore.mergeCommit(spark, Seq(("s2", "a", None: Option[String], 7))
      .toDF("sku", "supplier", "status", "qty"),
      root, "sku", "qty", "supplier,status")
    val got = SnapshotStore.read(spark, root)
      .select("sku", "qty").as[(String, Int)].collect().toSet
    assert(got == Set(("s1", 1), ("s2", 7), ("s3", 1)))
  }

  test("values needing escaping round-trip through the composite encoding") {
    val root = freshRoot()
    SnapshotStore.commit(spark, Seq(
      ("s1", "a/b", "st%1", 1), ("s2", "a b", "c:d", 1))
      .toDF("sku", "supplier", "status", "qty"),
      root, Seq("supplier", "status"))
    val parts = SnapshotStore.manifest(spark, root, 1L).map(_.partition).toSet
    assert(parts == Set("a%2Fb/st%251", "a b/c:d"), parts.toString)
    parts.foreach { p =>
      val comps = SnapshotStore.decodePartValue(p, 2)
      assert(Set(Seq("a/b", "st%1"), Seq("a b", "c:d")).contains(comps), p)
    }
    val got = SnapshotStore.read(spark, root)
      .select("sku", "supplier", "status").as[(String, String, String)]
      .collect().toSet
    assert(got == Set(("s1", "a/b", "st%1"), ("s2", "a b", "c:d")))
  }

  test("composite-key merge, CDC classification, and keyed delete on (supplier, sku)") {
    val root = freshRoot()
    // sku alone is NOT unique — s1 exists under two suppliers.
    SnapshotStore.commit(spark, rows(
      ("s1", "a", "active", 1), ("s1", "b", "active", 1),
      ("s2", "a", "active", 1)), root, "supplier")
    // Composite merge: only (a, s1) updates; (b, s1) must survive.
    SnapshotStore.mergeCommit(spark, rows(("s1", "a", "active", 5)),
      root, Seq("supplier", "sku"), "qty", "supplier")
    val got = SnapshotStore.read(spark, root)
      .select("supplier", "sku", "qty").as[(String, String, Int)]
      .collect().toSet
    assert(got == Set(("a", "s1", 5), ("b", "s1", 1), ("a", "s2", 1)))
    // CDC on the composite key: exactly one update row, keyed by both.
    val feed = SnapshotStore.changes(spark, root, 1L, 2L, Seq("supplier", "sku"))
    val changes = feed.select("supplier", "sku", "_change_type")
      .as[(String, String, String)].collect().toSet
    assert(changes == Set(("a", "s1", "update")), changes.toString)
    // Composite keyed delete: removes (b, s1) only.
    SnapshotStore.deleteCommit(spark,
      Seq(("b", "s1")).toDF("supplier", "sku"), root,
      Seq("supplier", "sku"), "supplier")
    assert(SnapshotStore.read(spark, root)
      .select("supplier", "sku").as[(String, String)].collect().toSet ==
      Set(("a", "s1"), ("a", "s2")))
  }

  test("DML + maintenance over a multi-column spec: DELETE WHERE, UPDATE, DV delete, compact, OPTIMIZE WHERE") {
    val root = freshRoot()
    bindCatalog("graft_mp")
    SnapshotStore.commit(spark, rows(
      ("s1", "a", "active", 1), ("s2", "a", "draft", 2),
      ("s3", "b", "active", 3), ("s4", "b", "draft", 4)),
      root, Seq("supplier", "status"))
    // Predicate delete resolves the spec from the manifest header and
    // rewrites only the partitions holding matches.
    val m1 = SnapshotStore.manifest(spark, root, 1L)
    SnapshotStore.deleteWhere(spark, root, "qty = 2")
    val m2 = SnapshotStore.manifest(spark, root, 2L)
    assert(!m2.exists(_.partition == "a/draft"))
    assert(m1.filterNot(_.partition == "a/draft").toSet == m2.toSet)
    // UPDATE that MOVES a row across both partition components.
    SnapshotStore.updateWhere(spark, root,
      Seq("supplier" -> "'c'", "status" -> "'archived'"), Some("sku = 's4'"))
    val m3 = SnapshotStore.manifest(spark, root, 3L)
    assert(m3.exists(_.partition == "c/archived"), m3.map(_.partition).toString)
    // Merge-on-read DV delete: zero data files rewritten, row gone,
    // multi-level file keys resolve.
    val before = SnapshotStore.manifest(spark, root, 3L).map(_.path).toSet
    SnapshotStore.deleteWhereDv(spark, root, "sku = 's1'")
    assert(SnapshotStore.manifest(spark, root, 4L).map(_.path).toSet == before,
      "DV delete rewrote data files")
    assert(SnapshotStore.read(spark, root).select("sku")
      .as[String].collect().toSet == Set("s3", "s4"))
    // And purge materializes it.
    SnapshotStore.purgeDeletionVectors(spark, root)
    assert(SnapshotStore.read(spark, root).select("sku")
      .as[String].collect().toSet == Set("s3", "s4"))
    // OPTIMIZE WHERE over ONE of the partition columns compacts only
    // matching scopes (after an append fragments them).
    SnapshotStore.appendCommit(spark, rows(("s5", "b", "active", 5)),
      root, Seq("supplier", "status"))
    val pre = SnapshotStore.manifest(spark,
      root, SnapshotStore.currentVersion(spark, root).get)
    assert(pre.count(_.partition == "b/active") == 2)
    val out = spark.sql(
      s"OPTIMIZE graft_mp.`$root` WHERE supplier = 'b'").collect()
    val post = SnapshotStore.manifest(spark, root, out.head.getLong(1))
    assert(post.count(_.partition == "b/active") == 1,
      post.map(_.partition).mkString(","))
    // The untouched c/archived partition carried by reference.
    assert(pre.filter(_.partition == "c/archived").toSet ==
      post.filter(_.partition == "c/archived").toSet)
    assert(SnapshotStore.read(spark, root).select("sku")
      .as[String].collect().toSet == Set("s3", "s4", "s5"))
  }

  test("partition-only DELETE is metadata: whole partitions drop with zero data I/O") {
    val root = freshRoot()
    bindCatalog("graft_pdel")
    SnapshotStore.commit(spark, Seq(
      ("s1", "a", 0, 1), ("s2", "a", 1, 2), ("s3", "b", 0, 3), ("s4", "b", 1, 4))
      .toDF("sku", "supplier", "bucket", "qty"),
      root, Seq("supplier", "bucket"))
    val m1 = SnapshotStore.manifest(spark, root, 1L)
    // Typed comparison on one spec column: int literal vs the decoded
    // string component, cast through the recorded schema.
    spark.sql(s"DELETE FROM graft_pdel.`$root` WHERE bucket = 1").collect()
    val m2 = SnapshotStore.manifest(spark, root, 2L)
    assert(m2.toSet.subsetOf(m1.toSet), "metadata delete wrote new files")
    assert(m2.map(_.partition).toSet == Set("a/0", "b/0"))
    assert(SnapshotStore.read(spark, root).select("sku")
      .as[String].collect().toSet == Set("s1", "s3"))
    // Both spec columns in the predicate.
    SnapshotStore.deleteWhere(spark, root,
      "supplier = 'b' AND bucket = 0")
    assert(SnapshotStore.manifest(spark, root, 3L).map(_.partition).toSet ==
      Set("a/0"))
    // A predicate touching a DATA column takes the row-level path
    // (new files written for the touched partition).
    val m3 = SnapshotStore.manifest(spark, root, 3L).toSet
    SnapshotStore.deleteWhere(spark, root, "supplier = 'a' AND qty > 0")
    val m4 = SnapshotStore.manifest(spark, root, 4L)
    assert(SnapshotStore.read(spark, root).count() == 0)
    // SHOW PARTITIONS before/after shape (Hive's col=value rows).
    val parts = spark.sql(s"SHOW PARTITIONS graft_pdel.`$root`")
      .select("partition").as[String].collect().toSeq
    assert(parts.isEmpty || parts.forall(_.startsWith("supplier=")),
      parts.toString)
  }

  test("IS NULL on the partition column falls back to row semantics ('' is not null)") {
    val root = freshRoot()
    SnapshotStore.commit(spark, Seq(
      ("s1", Some("a"), 1), ("s2", None, 2), ("s3", Some(""), 3))
      .toDF("sku", "supplier", "qty"), root, "supplier")
    // null AND '' share the Hive sentinel partition; a metadata drop
    // of that partition would also delete the ''-keyed row, which
    // row-level three-valued logic keeps — so the fast path must
    // decline and the rewrite path must keep s3.
    SnapshotStore.deleteWhere(spark, root, "supplier IS NULL")
    val got = SnapshotStore.read(spark, root)
      .select("sku").as[String].collect().toSet
    assert(got == Set("s1", "s3"), got.toString)
  }

  test("partition-only DELETE under DV mode drops files instead of writing position lists") {
    val root = freshRoot()
    bindCatalog("graft_pdv")
    SnapshotStore.commit(spark, rows(
      ("s1", "a", "active", 1), ("s2", "b", "active", 2)),
      root, Seq("supplier", "status"))
    spark.sql(s"ALTER TABLE graft_pdv.`$root` SET TBLPROPERTIES " +
      "('graft.enableDeletionVectors' = 'true')").collect()
    spark.sql(s"DELETE FROM graft_pdv.`$root` WHERE supplier = 'a'").collect()
    val m = SnapshotStore.manifest(spark, root,
      SnapshotStore.currentVersion(spark, root).get)
    assert(m.forall(_.dv.isEmpty), "partition delete attached a DV")
    assert(m.map(_.partition).toSet == Set("b/active"))
    assert(SnapshotStore.read(spark, root).select("sku")
      .as[String].collect().toSeq == Seq("s2"))
  }

  test("CDC stream and history stay correct over multi-column partitions") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(("s1", "a", "active", 1)),
      root, Seq("supplier", "status"))
    SnapshotStore.mergeCommit(spark, rows(
      ("s1", "a", "active", 2), ("s2", "b", "draft", 1)),
      root, "sku", "qty", Seq("supplier", "status"))
    val feed = SnapshotStore.changes(spark, root, 1L, 2L, "sku")
      .select("sku", "_change_type").as[(String, String)].collect().toSet
    assert(feed == Set(("s1", "update"), ("s2", "insert")))
    val h = SnapshotStore.history(spark, root)
      .select("version", "operation", "n_partitions")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(h == Set((1L, "commit", 1), (2L, "merge", 2)), h.toString)
  }
}
