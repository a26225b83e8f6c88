package graft.sinks

import java.nio.file.Files

/** The `#require` manifest protocol gate: advisory headers may be
  * skipped by readers that don't know them, but a manifest naming a
  * reader-MANDATORY feature this build doesn't support must refuse to
  * load — silently misreading (physical names after a rename,
  * resurrected DV rows, mis-decoded composite partitions) is the
  * failure class Delta closes with minReaderVersion/table features. */
class FeatureGateSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${Files.createTempDirectory("featgate")}/t"

  private def seed(root: String): Unit =
    SnapshotStore.commit(spark,
      Seq(("s1", "a", 1), ("s2", "b", 2)).toDF("sku", "supplier", "qty"),
      root, "supplier")

  private def manifestFile(root: String, v: Long): java.nio.file.Path =
    java.nio.file.Paths.get(root, "manifests", f"v_$v%06d.manifest")

  private def manifestText(root: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(manifestFile(root, v)), "UTF-8")

  test("an unknown #require feature refuses every read path loudly, naming it") {
    val root = freshRoot()
    seed(root)
    val mf = manifestFile(root, 1L)
    val text = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
    val lines = text.linesIterator.toSeq
    val (hdr, rest) = lines.span(_.startsWith("#"))
    java.nio.file.Files.write(mf,
      ((hdr :+ "#require\tfuturefeature") ++ rest).mkString("\n").getBytes("UTF-8"))
    // The local Hadoop FS keeps a checksum sidecar; the hand-edit
    // above must not fail THAT check (we're simulating a future
    // writer, which would produce a consistent pair).
    java.nio.file.Files.deleteIfExists(
      mf.getParent.resolve(s".${mf.getFileName}.crc"))
    val e = intercept[IllegalStateException] {
      SnapshotStore.read(spark, root).collect()
    }
    assert(e.getMessage.contains("futurefeature"), e.getMessage)
    assert(e.getMessage.contains("colmap"), "must name the supported set")
    val e2 = intercept[IllegalStateException] {
      SnapshotStore.manifest(spark, root, 1L)
    }
    assert(e2.getMessage.contains("futurefeature"), e2.getMessage)
  }

  test("feature headers are written when first used and derived per version") {
    val root = freshRoot()
    seed(root)
    // A fresh single-column DV-free table requires nothing.
    assert(!manifestText(root, 1L).contains("#require"))
    // DV delete publishes `#require dv`.
    SnapshotStore.setProperties(spark, root,
      Seq("graft.enableDeletionVectors" -> "true"))
    SnapshotStore.deleteWhereDv(spark, root, "qty = 1")
    val cur = SnapshotStore.currentVersion(spark, root).get
    assert(manifestText(root, cur).contains("#require\tdv"))
    // Purging the DVs lifts the requirement — derived, not carried.
    SnapshotStore.purgeDeletionVectors(spark, root)
    val cur2 = SnapshotStore.currentVersion(spark, root).get
    assert(!manifestText(root, cur2).contains("#require\tdv"))
    // A rename publishes `#require colmap`.
    SnapshotStore.renameColumn(spark, root, "qty", "quantity")
    val cur3 = SnapshotStore.currentVersion(spark, root).get
    assert(manifestText(root, cur3).contains("#require\tcolmap"))
  }

  test("multi-column partitioning publishes #require multipart") {
    val root = freshRoot()
    SnapshotStore.commit(spark,
      Seq(("s1", "a", "x", 1)).toDF("sku", "supplier", "status", "qty"),
      root, Seq("supplier", "status"))
    assert(manifestText(root, 1L).contains("#require\tmultipart"))
    // And this build, which supports all three, reads it fine.
    assert(SnapshotStore.read(spark, root).count() == 1)
  }
}
