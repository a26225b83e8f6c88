package graft.sinks

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** Opt-in post-commit auto-compaction
  * (`graft.autoCompact.minFiles` → SnapshotStore.maybeAutoCompact):
  * high-frequency small commits must not accrete unbounded small
  * files between manual OPTIMIZE calls. Layout-only "compact"
  * versions ride after the data commit; content, change feeds, and
  * stream exactly-once are untouched. */
class AutoCompactSpec extends graft.SparkSpec {
  import spark.implicits._

  private def filesPerPartition(root: String): Map[String, Int] = {
    val v = SnapshotStore.currentVersion(spark, root).get
    SnapshotStore.manifest(spark, root, v)
      .groupBy(_.partition).map { case (p, es) => p -> es.size }
  }

  test("20 small appends stay file-bounded with the property; accrete without it") {
    val bounded = s"${freshDir()}/t"; val unbounded = s"${freshDir()}/t"
    def batch(i: Int) = Seq((i.toLong, s"p${i % 2}", i * 10))
      .toDF("id", "part", "qty")
    SnapshotStore.commit(spark, batch(0), bounded, "part")
    SnapshotStore.setProperties(spark, bounded,
      Seq("graft.autoCompact.minFiles" -> "4"))
    SnapshotStore.commit(spark, batch(0), unbounded, "part")
    (1 to 20).foreach { i =>
      SnapshotStore.appendCommit(spark, batch(i), bounded, "part")
      SnapshotStore.appendCommit(spark, batch(i), unbounded, "part")
    }
    val fb = filesPerPartition(bounded)
    val fu = filesPerPartition(unbounded)
    assert(fu.values.max > 4,
      s"without the property small files must accrete, got $fu")
    assert(fb.values.max <= 4,
      s"auto-compaction must bound per-partition files at the threshold, got $fb")
    // Content identical to the never-compacted sibling.
    assert(SnapshotStore.read(spark, bounded)
      .select("id", "qty").as[(Long, Int)].collect().toSet ==
      SnapshotStore.read(spark, unbounded)
        .select("id", "qty").as[(Long, Int)].collect().toSet)
    // The compactions are layout-only "compact" versions, so the
    // change feed across the whole window carries ONLY the logical
    // inserts — never a compaction echo.
    val last = SnapshotStore.currentVersion(spark, bounded).get
    val feed = SnapshotStore.changes(spark, bounded, 1L, last, Seq("id"))
    assert(feed.filter(col("_change_type") =!= "insert").isEmpty)
    assert(feed.count() == 20L)
    assert(SnapshotStore.versions(spark, bounded)
      .exists(v => SnapshotStore.manifestOperation(spark, bounded, v)
        .contains("compact")),
      "at least one auto-compact version must have been published")
  }

  test("a bucketed table's floor is one file per bucket: auto-compact converges instead of rewriting forever") {
    val root = s"${freshDir()}/t"
    def batch(i: Int) = Seq((i.toLong, "p", i)).toDF("id", "part", "qty")
    SnapshotStore.commit(spark, batch(0), root, "part")
    SnapshotStore.bucketTable(spark, root, Seq("id"), 8)
    // Threshold BELOW the bucket count: the effective floor must rise
    // to 8 or every commit would rewrite the partition forever.
    SnapshotStore.setProperties(spark, root,
      Seq("graft.autoCompact.minFiles" -> "2"))
    (1 to 12).foreach(i => SnapshotStore.appendCommit(spark, batch(i), root, "part"))
    val v = SnapshotStore.currentVersion(spark, root).get
    assert(filesPerPartition(root).values.max <= 8,
      s"bucketed auto-compact must bound at one file per bucket, got ${filesPerPartition(root)}")
    // Convergence witness: the LAST few commits must not each carry a
    // compact — once at the floor, appends alone cannot push a
    // partition over 8 files every time.
    val compacts = SnapshotStore.versions(spark, root).count(vv =>
      SnapshotStore.manifestOperation(spark, root, vv).contains("compact"))
    assert(compacts < 12, s"auto-compact must converge, saw $compacts compactions")
    assert(SnapshotStore.read(spark, root).count() == 13)
    // Layout preserved: files still bucket-stamped after compaction.
    assert(SnapshotStore.manifest(spark, root, v).forall(e =>
      SnapshotStore.bucketIdOf(
        new org.apache.hadoop.fs.Path(e.path).getName).isDefined))
  }

  test("a streaming snapshot sink stays file-bounded; re-delivery stays a no-op") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir(); val root = s"$dir/store"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Int, Timestamp)]
    def start() = input.toDF().toDF("sku", "qty", "modified_at")
      .withColumn("part", lit("stock"))
      .writeStream.format("graft-snapshot")
      .outputMode("append")
      .option("key", "sku").option("versionCol", "modified_at")
      .option("partitionCol", "part")
      .option("checkpointLocation", s"$dir/ckpt")
      .start(root)
    val q = start()
    try {
      input.addData(("s0", 0, new Timestamp(1000)))
      q.processAllAvailable()
      SnapshotStore.setProperties(spark, root,
        Seq("graft.autoCompact.minFiles" -> "3"))
      (1 to 10).foreach { i =>
        input.addData((s"s$i", i, new Timestamp(1000L + i)))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(filesPerPartition(root).values.max <= 3,
      s"micro-batch commits must auto-compact, got ${filesPerPartition(root)}")
    assert(SnapshotStore.read(spark, root).count() == 11L)
    // Restart on the same checkpoint: the re-delivered final batch
    // must not publish anything — auto-compaction only rides DATA
    // commits, so the version list is unchanged too.
    val before = SnapshotStore.currentVersion(spark, root)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(SnapshotStore.currentVersion(spark, root) == before,
      "a re-delivered batch must not commit (not even a compaction)")
    assert(SnapshotStore.read(spark, root)
      .select("sku", "qty").as[(String, Int)].collect().toSet ==
      (0 to 10).map(i => (s"s$i", i)).toSet)
  }
}
