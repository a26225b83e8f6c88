package graft

import java.nio.file.Files

import graft.sinks.SnapshotStore

/** `_last_checkpoint`: every Nth commit records a version pointer so
  * current-version resolution probes forward from the checkpoint
  * (O(commits since) manifest-existence checks) instead of listing the
  * whole manifests directory — the property that keeps per-trigger
  * metadata cost flat on a table with thousands of commits. The hint
  * is ONLY an optimization: absent, corrupt, or vacuum-overtaken all
  * degrade to the listing, never to a wrong answer. */
class ManifestCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def commitN(root: String, n: Int): Unit =
    (1 to n).foreach { i =>
      SnapshotStore.mergeCommit(spark,
        Seq((s"p$i", "a", i)).toDF("product_id", "supplier", "version"),
        root, "product_id", "version", "supplier")
    }

  test("checkpoint pointer bounds current-version resolution to forward probes") {
    val root = Files.createTempDirectory("mancp").resolve("t").toString
    spark.conf.set("spark.graft.checkpointInterval", "5")
    try {
      commitN(root, 12)
      // The pointer tracks the last multiple of the interval.
      assert(SnapshotStore.lastCheckpointVersion(spark, root) == Some(10L))
      assert(SnapshotStore.currentVersion(spark, root) == Some(12L))
      // Plant a bogus far-future manifest name: a LISTING-based
      // resolution would report 999; the probe walk (dense versions
      // from the checkpoint) never looks at it — proving resolution
      // reads O(interval) names, not the directory.
      val fake = java.nio.file.Paths.get(root, "manifests", "v_000999.manifest")
      java.nio.file.Files.writeString(fake, "#committer\tfake")
      assert(SnapshotStore.versions(spark, root).last == 999L)
      assert(SnapshotStore.currentVersion(spark, root) == Some(12L))
      java.nio.file.Files.delete(fake)
      // No pointer → listing fallback, same answer.
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(root, "manifests", "_last_checkpoint"))
      assert(SnapshotStore.currentVersion(spark, root) == Some(12L))
      // Corrupt pointer → fallback, same answer.
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "manifests", "_last_checkpoint"), "garbage")
      assert(SnapshotStore.currentVersion(spark, root) == Some(12L))
    } finally spark.conf.unset("spark.graft.checkpointInterval")
  }

  test("vacuum overtaking the checkpoint degrades to the listing, not a wrong tip") {
    val root = Files.createTempDirectory("mancp_vac").resolve("t").toString
    spark.conf.set("spark.graft.checkpointInterval", "5")
    try {
      commitN(root, 12)
      assert(SnapshotStore.lastCheckpointVersion(spark, root) == Some(10L))
      // keep=1 drops manifests v1..v11 — including the checkpointed
      // v10, so the probe's base is gone.
      SnapshotStore.vacuum(spark, root, keep = 1, retainMillis = 0)
      assert(SnapshotStore.currentVersion(spark, root) == Some(12L))
      // Reads and history still work off the retained tip.
      assert(SnapshotStore.read(spark, root).count() == 12)
      assert(SnapshotStore.history(spark, root)
        .select("version").as[Long].collect().toSeq == Seq(12L))
    } finally spark.conf.unset("spark.graft.checkpointInterval")
  }

  test("history and CDC are byte-identical with and without the pointer") {
    val root = Files.createTempDirectory("mancp_hist").resolve("t").toString
    spark.conf.set("spark.graft.checkpointInterval", "3")
    try {
      commitN(root, 7)
      def snapshot() = (
        SnapshotStore.history(spark, root).collect().toSeq,
        SnapshotStore.changes(spark, root, 5, 7, "product_id")
          .collect().toSeq.toSet)
      val withPointer = snapshot()
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(root, "manifests", "_last_checkpoint"))
      assert(snapshot() == withPointer)
    } finally spark.conf.unset("spark.graft.checkpointInterval")
  }
}
