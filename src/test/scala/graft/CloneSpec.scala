package graft

import java.nio.file.Files

import graft.sinks.SnapshotStore

/** E53: shallow clone — a new table referencing the source's files by
  * absolute path, evolving independently. */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"clone$tag").resolve("t").toString

  private def table(rows: (String, String, Int)*) =
    rows.toDF("product_id", "supplier", "version")

  test("clone reads the source version with zero data files copied") {
    val src = fresh("src"); val dst = fresh("dst")
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "b", 1)), src, "supplier")
    assert(SnapshotStore.cloneTo(spark, src, dst) == 1L)
    val got = SnapshotStore.read(spark, dst)
      .select("product_id", "version").as[(String, Int)].collect().toSet
    assert(got == Set(("p1", 1), ("p2", 1)))
    // No data directory materialized under the clone.
    assert(!new java.io.File(dst, "data").exists())
    // Partition pruning still works through the cloned manifest.
    assert(SnapshotStore.read(spark, dst, Some(Seq("b"))).count() == 1)
  }

  test("clone evolves independently of the source (both directions)") {
    val src = fresh("src2"); val dst = fresh("dst2")
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "b", 1)), src, "supplier")
    SnapshotStore.cloneTo(spark, src, dst)
    // Merge into the CLONE: clone sees it, source does not.
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 2)), dst,
      "product_id", "version", "supplier")
    assert(SnapshotStore.read(spark, dst).filter($"product_id" === "p1")
      .select("version").as[Int].head() == 2)
    assert(SnapshotStore.read(spark, src).filter($"product_id" === "p1")
      .select("version").as[Int].head() == 1)
    // Merge into the SOURCE: clone keeps reading its own snapshot.
    SnapshotStore.mergeCommit(spark, table(("p2", "b", 3)), src,
      "product_id", "version", "supplier")
    assert(SnapshotStore.read(spark, dst).filter($"product_id" === "p2")
      .select("version").as[Int].head() == 1)
    // The clone's merge wrote its new files locally (data dir now exists).
    assert(new java.io.File(dst, "data").exists())
  }

  test("clone pins a historical version when asked") {
    val src = fresh("src3"); val dst = fresh("dst3")
    SnapshotStore.commit(spark, table(("p1", "a", 1)), src, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 2)), src,
      "product_id", "version", "supplier")
    SnapshotStore.cloneTo(spark, src, dst, Some(1L))
    assert(SnapshotStore.read(spark, dst).select("version").as[Int].head() == 1)
  }

  test("clone is tagged in history; cloning onto an existing table is rejected") {
    val src = fresh("src4"); val dst = fresh("dst4")
    SnapshotStore.commit(spark, table(("p1", "a", 1)), src, "supplier")
    SnapshotStore.cloneTo(spark, src, dst)
    assert(SnapshotStore.history(spark, dst)
      .select("operation").as[String].collect().toSeq == Seq("clone"))
    intercept[IllegalArgumentException] {
      SnapshotStore.cloneTo(spark, src, dst)
    }
  }

  test("vacuuming the clone never deletes source files") {
    val src = fresh("src5"); val dst = fresh("dst5")
    SnapshotStore.commit(spark, table(("p1", "a", 1)), src, "supplier")
    SnapshotStore.cloneTo(spark, src, dst)
    SnapshotStore.mergeCommit(spark, table(("p2", "a", 1)), dst,
      "product_id", "version", "supplier")
    SnapshotStore.vacuum(spark, dst, keep = 1, retainMillis = 0L)
    // Source still fully readable after the clone's vacuum.
    assert(SnapshotStore.read(spark, src).count() == 1)
    assert(SnapshotStore.read(spark, dst).count() == 2)
  }

  test("CREATE TABLE … SHALLOW CLONE SQL, with and without VERSION AS OF") {
    val src = fresh("sqlsrc"); val dst = fresh("sqldst")
    val dst2 = fresh("sqldst2")
    spark.conf.set("spark.sql.catalog.graft_clone",
      classOf[graft.sinks.GraftCatalog].getName)
    SnapshotStore.commit(spark, table(("p1", "a", 1)), src, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p2", "b", 2)), src,
      "product_id", "version", "supplier")
    val out = spark.sql(s"CREATE TABLE graft_clone.`$dst` SHALLOW CLONE " +
      s"graft_clone.`$src`").collect().head
    assert(out.getString(0) == dst && out.getLong(1) == 2L)
    assert(SnapshotStore.read(spark, dst).count() == 2)
    // Pinned clone of the historical version.
    spark.sql(s"CREATE TABLE graft_clone.`$dst2` SHALLOW CLONE " +
      s"graft_clone.`$src` VERSION AS OF 1")
    assert(SnapshotStore.read(spark, dst2)
      .select("product_id").as[String].collect().toSeq == Seq("p1"))
    // Cloning onto an existing table fails through SQL too.
    intercept[Exception](spark.sql(
      s"CREATE TABLE graft_clone.`$dst` SHALLOW CLONE graft_clone.`$src`"))
    // A non-graft CREATE TABLE flows to the session parser untouched.
    spark.sql("CREATE TABLE IF NOT EXISTS plain_ct (x INT) USING parquet " +
      s"LOCATION '${Files.createTempDirectory("plainct")}'")
    spark.sql("DROP TABLE IF EXISTS plain_ct")
  }

  test("VACUUM DRY RUN lists exactly what vacuum then deletes, deleting nothing itself") {
    val root = fresh("dry")
    spark.conf.set("spark.sql.catalog.graft_dry",
      classOf[graft.sinks.GraftCatalog].getName)
    SnapshotStore.commit(spark, table(("p1", "a", 1), ("p2", "b", 1)),
      root, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 2)), root,
      "product_id", "version", "supplier")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 3)), root,
      "product_id", "version", "supplier")
    // keep=2 (the default): v1's superseded partition-a files qualify.
    val listed = spark.sql(
      s"VACUUM graft_dry.`$root` RETAIN 0 HOURS DRY RUN")
      .as[String].collect().sorted.toSeq
    assert(listed.nonEmpty)
    // Dry run deleted nothing.
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(listed.forall(rel => f.exists(
      new org.apache.hadoop.fs.Path(root, rel))))
    // The real vacuum removes exactly the listed files.
    spark.sql(s"VACUUM graft_dry.`$root` RETAIN 0 HOURS")
    assert(listed.forall(rel => !f.exists(
      new org.apache.hadoop.fs.Path(root, rel))))
    assert(SnapshotStore.read(spark, root).count() == 2)
  }
}
