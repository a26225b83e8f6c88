package graft

import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** E75: CHECK constraints (Delta's `ALTER TABLE … ADD CONSTRAINT name
  * CHECK (expr)`) — recorded in the manifest as table metadata,
  * validated against existing data at ADD time, enforced by every
  * subsequent write path, carried across unrelated commits and
  * clones. */
class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${freshDir()}/t"

  private def table(rows: (String, String, Int)*) =
    rows.toDF("product_id", "supplier", "qty")

  test("ADD CONSTRAINT validates existing data and records table metadata") {
    val root = freshRoot()
    bindCatalog("graft_c1")
    table(("p1", "a", 5), ("p2", "b", -1))
      .write.format("graft-snapshot").option("partitionCol", "supplier")
      .save(root)
    // Existing violation → the statement fails, no version published.
    val e = intercept[IllegalStateException](
      spark.sql(s"ALTER TABLE graft_c1.`$root` ADD CONSTRAINT qty_pos " +
        "CHECK (qty > 0)"))
    assert(e.getMessage.contains("existing row"))
    assert(SnapshotStore.currentVersion(spark, root).contains(1L))
    // Clean the bad row, then ADD succeeds as a metadata-only commit.
    spark.sql(s"DELETE FROM graft_c1.`$root` WHERE qty < 0")
    val out = spark.sql(s"ALTER TABLE graft_c1.`$root` ADD CONSTRAINT " +
      "qty_pos CHECK (qty > 0)").collect()
    assert(out.head.getLong(1) == 3L)
    assert(SnapshotStore.tableConstraints(spark, root, 3L) ==
      Seq(("qty_pos", "qty > 0")))
    assert(SnapshotStore.manifest(spark, root, 3L).toSet ==
      SnapshotStore.manifest(spark, root, 2L).toSet)
  }

  test("writes violating a constraint fail loudly BEFORE publishing; valid and NULL rows pass") {
    val root = freshRoot()
    table(("p1", "a", 5)).write.format("graft-snapshot")
      .option("partitionCol", "supplier").save(root)
    SnapshotStore.addConstraint(spark, root, "qty_pos", "qty > 0")
    val e = intercept[IllegalStateException](
      SnapshotStore.mergeCommitOrdered(spark, table(("p2", "a", -3)),
        root, "product_id", Seq.empty, "supplier"))
    assert(e.getMessage.contains("qty_pos"))
    assert(SnapshotStore.currentVersion(spark, root).contains(2L))
    // A valid row and a NULL row (CHECK semantics: NULL passes) land.
    SnapshotStore.mergeCommitOrdered(spark,
      Seq(("p3", "a", Some(7)), ("p4", "b", None))
        .toDF("product_id", "supplier", "qty"),
      root, "product_id", Seq.empty, "supplier")
    assert(SnapshotStore.read(spark, root).count() == 3)
  }

  test("constraints survive unrelated commits and are enforced through the writer") {
    val root = freshRoot()
    table(("p1", "a", 5)).write.format("graft-snapshot")
      .option("partitionCol", "supplier").save(root)
    SnapshotStore.addConstraint(spark, root, "qty_pos", "qty > 0")
    SnapshotStore.mergeCommitOrdered(spark, table(("p2", "b", 9)),
      root, "product_id", Seq.empty, "supplier")
    val cur = SnapshotStore.currentVersion(spark, root).get
    assert(SnapshotStore.tableConstraints(spark, root, cur) ==
      Seq(("qty_pos", "qty > 0")))
    // df.write Append (the keyed-merge writer mode) enforces too.
    val e = intercept[Exception](
      table(("p3", "a", -2)).withColumn("v", lit(1))
        .write.format("graft-snapshot")
        .option("partitionCol", "supplier")
        .option("key", "product_id").option("versionCol", "v")
        .mode("append").save(root))
    assert(e.getMessage.contains("qty_pos") ||
      Option(e.getCause).exists(_.getMessage.contains("qty_pos")))
  }

  test("DROP CONSTRAINT re-allows writes; unknown names fail loudly") {
    val root = freshRoot()
    bindCatalog("graft_c2")
    table(("p1", "a", 5)).write.format("graft-snapshot")
      .option("partitionCol", "supplier").save(root)
    SnapshotStore.addConstraint(spark, root, "qty_pos", "qty > 0")
    intercept[IllegalArgumentException](
      spark.sql(s"ALTER TABLE graft_c2.`$root` DROP CONSTRAINT nope"))
    spark.sql(s"ALTER TABLE graft_c2.`$root` DROP CONSTRAINT qty_pos")
    SnapshotStore.mergeCommitOrdered(spark, table(("p2", "a", -3)),
      root, "product_id", Seq.empty, "supplier")
    assert(SnapshotStore.read(spark, root).count() == 2)
  }

  test("clone carries the source's constraints") {
    val src = freshRoot()
    val dst = freshRoot()
    table(("p1", "a", 5)).write.format("graft-snapshot")
      .option("partitionCol", "supplier").save(src)
    SnapshotStore.addConstraint(spark, src, "qty_pos", "qty > 0")
    SnapshotStore.cloneTo(spark, src, dst)
    assert(SnapshotStore.tableConstraints(spark, dst, 1L) ==
      Seq(("qty_pos", "qty > 0")))
    intercept[IllegalStateException](
      SnapshotStore.mergeCommitOrdered(spark, table(("p2", "a", -3)),
        dst, "product_id", Seq.empty, "supplier"))
  }

  test("non-graft ALTER TABLE flows to the session parser untouched") {
    val e = intercept[Exception](
      spark.sql("ALTER TABLE spark_catalog.default.no_such_tbl " +
        "ADD CONSTRAINT c CHECK (x > 0)"))
    assert(e.getMessage.contains("no_such_tbl") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }
}
