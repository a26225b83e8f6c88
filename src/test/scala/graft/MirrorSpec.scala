package graft

import graft.operators.Replicate
import graft.sinks.SnapshotStore

/** CDC-driven table replication ([[Replicate.mirror]]): initial full
  * copy, incremental catch-up over the change feed, idempotent
  * re-application, and the convergence contract. */
class MirrorSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (String, String, Int)*) =
    rows.toDF("product_id", "supplier", "version")

  private def content(root: String): Set[(String, String, Int)] =
    SnapshotStore.read(spark, root)
      .select("product_id", "supplier", "version")
      .as[(String, String, Int)].collect().toSet

  test("initial copy seeds the replica and records the source version atomically") {
    val dir = freshDir()
    val src = s"$dir/src"; val dst = s"$dir/dst"
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "b", 1)), src, "supplier")
    val synced = Replicate.mirror(spark, src, dst, "product_id")
    assert(synced == 1L)
    assert(content(dst) == content(src))
    assert(SnapshotStore.tablePropertiesMap(spark, dst)
      .get(Replicate.SourceVersionProp).contains("1"))
    // The property rode the SAME commit as the rows.
    assert(SnapshotStore.currentVersion(spark, dst).contains(1L))
  }

  test("incremental sync applies inserts, updates, and deletes; converges; no-op when caught up") {
    val dir = freshDir()
    val src = s"$dir/src"; val dst = s"$dir/dst"
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "a", 1), ("p3", "b", 1)), src, "supplier")
    Replicate.mirror(spark, src, dst, "product_id")
    // Source evolves: update p2, insert p4, delete p3.
    SnapshotStore.mergeCommit(spark, table(("p2", "a", 2), ("p4", "c", 2)),
      src, "product_id", "version", "supplier")
    SnapshotStore.deleteCommit(spark, Seq("p3").toDF("product_id"),
      src, "product_id", "supplier")
    val synced = Replicate.mirror(spark, src, dst, "product_id")
    assert(synced == 3L)
    assert(content(dst) == content(src))
    assert(content(dst) == Set(("p1", "a", 1), ("p2", "a", 2), ("p4", "c", 2)))
    // Caught up: another mirror is a version no-op on the replica.
    val before = SnapshotStore.currentVersion(spark, dst)
    assert(Replicate.mirror(spark, src, dst, "product_id") == 3L)
    assert(SnapshotStore.currentVersion(spark, dst) == before)
  }

  test("re-applying a window converges (at-least-once + idempotence)") {
    val dir = freshDir()
    val src = s"$dir/src"; val dst = s"$dir/dst"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), src, "supplier")
    Replicate.mirror(spark, src, dst, "product_id")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 2), ("p5", "b", 2)),
      src, "product_id", "version", "supplier")
    Replicate.mirror(spark, src, dst, "product_id")
    // Simulate a crash BEFORE the property commit: rewind the recorded
    // version and re-apply the same window.
    SnapshotStore.setProperties(spark, dst,
      Seq(Replicate.SourceVersionProp -> "1"))
    Replicate.mirror(spark, src, dst, "product_id")
    assert(content(dst) == content(src))
    assert(SnapshotStore.tablePropertiesMap(spark, dst)
      .get(Replicate.SourceVersionProp).contains("2"))
  }

  test("mirrorStream replicates continuously; a batch's update-then-delete collapses") {
    val dir = freshDir()
    val src = s"$dir/src"; val dst = s"$dir/dst"
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "b", 1)), src, "supplier")
    val q = Replicate.mirrorStream(spark, src, dst, "product_id", s"$dir/ckpt")
    try {
      // Seeded before the stream started.
      assert(content(dst) == content(src))
      // Multiple source commits; the un-rationed stream may deliver
      // them in one micro-batch — p3 is inserted then deleted, so the
      // per-key collapse must yield NO p3 on the replica.
      SnapshotStore.mergeCommit(spark, table(("p3", "a", 2)), src,
        "product_id", "version", "supplier")
      SnapshotStore.mergeCommit(spark, table(("p1", "a", 3)), src,
        "product_id", "version", "supplier")
      SnapshotStore.deleteCommit(spark, Seq("p3").toDF("product_id"),
        src, "product_id", "supplier")
      q.processAllAvailable()
      assert(content(dst) == content(src))
      assert(content(dst) == Set(("p1", "a", 3), ("p2", "b", 1)))
      // Progress recorded: a later BATCH mirror takes over seamlessly.
      assert(SnapshotStore.tablePropertiesMap(spark, dst)
        .get(Replicate.SourceVersionProp).contains("4"))
      SnapshotStore.mergeCommit(spark, table(("p9", "b", 9)), src,
        "product_id", "version", "supplier")
      q.processAllAvailable()
      assert(content(dst) == content(src))
    } finally q.stop()
    SnapshotStore.mergeCommit(spark, table(("p10", "a", 10)), src,
      "product_id", "version", "supplier")
    assert(Replicate.mirror(spark, src, dst, "product_id") == 6L)
    assert(content(dst) == content(src))
  }

  test("a non-mirror destination is refused") {
    val dir = freshDir()
    val src = s"$dir/src"; val dst = s"$dir/dst"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), src, "supplier")
    SnapshotStore.commit(spark, table(("x1", "z", 9)), dst, "supplier")
    val e = intercept[IllegalArgumentException] {
      Replicate.mirror(spark, src, dst, "product_id")
    }
    assert(e.getMessage.contains("not a mirror"))
  }
}
