package graft.sinks

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** `FSCK REPAIR TABLE` ([[SnapshotStore.fsckRepair]], E144): a table
  * whose data (or DV) files were deleted out-of-band reads again
  * after dropping the dead references — visible data loss over a
  * broken table, Delta's repair semantics. */
class FsckSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${Files.createTempDirectory("fsck").toString}/t"

  private def rows(r: Range): DataFrame =
    r.map(i => (i.toLong, (i % 4).toString)).toDF("k", "part")

  private def deleteFiles(root: String, partition: String): Seq[String] = {
    val cur = SnapshotStore.currentVersion(spark, root).get
    val doomed = SnapshotStore.manifest(spark, root, cur)
      .filter(_.partition == partition).map(_.path)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach(p => f.delete(new Path(root, p), false))
    doomed
  }

  test("DRY RUN reports missing files without committing; REPAIR drops them and the table reads again") {
    val root = freshRoot()
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    SnapshotStore.commit(spark, rows(0 until 400), root, "part")
    val doomed = deleteFiles(root, "2")
    assert(doomed.nonEmpty)
    // Broken: a full scan trips over the missing split.
    intercept[Exception](SnapshotStore.read(spark, root).count())
    val dry = spark.sql(s"FSCK REPAIR TABLE graft.`$root` DRY RUN").collect()
    assert(dry.map(_.getString(0)).toSet == doomed.toSet,
      s"DRY RUN must list exactly the missing files, got ${dry.toSeq}")
    assert(dry.forall(!_.getBoolean(2)), "DRY RUN must not claim removal")
    assert(SnapshotStore.currentVersion(spark, root).contains(1L),
      "DRY RUN must not commit")
    val fixed = spark.sql(s"FSCK REPAIR TABLE graft.`$root`").collect()
    assert(fixed.map(_.getString(0)).toSet == doomed.toSet &&
      fixed.forall(_.getBoolean(2)))
    assert(SnapshotStore.currentVersion(spark, root).contains(2L))
    val remaining = SnapshotStore.read(spark, root)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(remaining == (0 until 400).filter(_ % 4 != 2).map(_.toLong).toSet,
      "the repaired table must hold exactly the surviving partitions")
  }

  test("a missing DELETION VECTOR drops its whole entry — deleted rows never resurrect") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(0 until 100), root, "part")
    // DV-delete a scatter inside partition '1', then lose the vector.
    SnapshotStore.deleteWhereDv(spark, root, "part = '1' AND k < 50")
    val cur = SnapshotStore.currentVersion(spark, root).get
    val dvEntries = SnapshotStore.manifest(spark, root, cur)
      .filter(e => e.partition == "1" && e.dv.nonEmpty)
    assert(dvEntries.nonEmpty)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ONE DV parquet directory serves every file the delete touched —
    // losing it dooms all of them.
    f.delete(new Path(root, dvEntries.head.dv), true)
    val (dropped, v) = SnapshotStore.fsckRepair(spark, root, dryRun = false)
    assert(dropped.map(_._1).toSet == dvEntries.map(_.path).toSet &&
      dropped.forall(_._2.contains("deletion vector")),
      s"every DV-less entry must drop whole, got $dropped")
    assert(v == cur + 1)
    val got = SnapshotStore.read(spark, root)
      .select("k").collect().map(_.getLong(0)).toSet
    // The DV-deleted rows must NEVER resurrect (dropping just the
    // vector instead of the whole entry would silently bring them
    // back) — and every row outside the doomed files survives.
    assert(!got.exists(k => k % 4 == 1 && k < 50),
      s"DV-deleted rows resurrected: ${got.filter(k => k % 4 == 1 && k < 50)}")
    assert((0 until 100).filter(_ % 4 != 1).map(_.toLong).toSet.subsetOf(got),
      "rows outside the doomed partition must all survive")
  }

  test("a healthy table is a version no-op with empty output") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(0 until 50), root, "part")
    val (dropped, v) = SnapshotStore.fsckRepair(spark, root, dryRun = false)
    assert(dropped.isEmpty && v == 1L)
    assert(SnapshotStore.currentVersion(spark, root).contains(1L))
  }
}
