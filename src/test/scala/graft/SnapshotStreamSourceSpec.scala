package graft

import graft.sinks.SnapshotStore

/** Streaming READ of a snapshot table (`readStream.format(
  * "graft-snapshot")` — the Delta streaming-source analog): appended
  * rows per version, layout-only commits silent, change commits
  * fail-or-skip, admission control via maxVersionsPerTrigger. */
class SnapshotStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (String, String, Int)*) =
    rows.toDF("product_id", "supplier", "version")

  private def drain(root: String, sinkName: String, ckpt: String,
                    options: Map[String, String] = Map.empty): org.apache.spark.sql.streaming.StreamingQuery = {
    var r = spark.readStream.format("graft-snapshot")
    options.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.load(root)
      .writeStream.format("memory").queryName(sinkName)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    q
  }

  test("replays appends; layout-only compaction emits nothing") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "a", 1), ("p3", "b", 1)), root, "supplier")
    SnapshotStore.appendCommit(spark,
      table(("p4", "b", 2), ("p5", "c", 2)), root, "supplier")
    // Layout-only: merges b's two files into one — a change commit by
    // file identity, but the op tag marks it content-preserving.
    SnapshotStore.compact(spark, root, "supplier")
    SnapshotStore.appendCommit(spark, table(("p6", "a", 4)), root, "supplier")
    drain(root, "snap_replay", s"$dir/ckpt",
      Map("startingVersion" -> "0"))
    val got = spark.table("snap_replay")
      .select("product_id", "version").as[(String, Int)].collect().toSet
    assert(got == Set(("p1", 1), ("p2", 1), ("p3", 1),
      ("p4", 2), ("p5", 2), ("p6", 4)))
  }

  test("an auto-clustered table streams cleanly: every data commit's zorder-incremental rider is skipped") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "b", 1)), root, "supplier")
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoClusterProp -> "product_id"))
    // Each append triggers the clustering rider — without the
    // layout-op classification the stream would die on its FIRST
    // append ("rewrote or removed data files").
    SnapshotStore.appendCommit(spark, table(("p3", "a", 2)), root, "supplier")
    SnapshotStore.appendCommit(spark, table(("p4", "c", 3)), root, "supplier")
    drain(root, "snap_autocluster", s"$dir/ckpt",
      Map("startingVersion" -> "0"))
    val got = spark.table("snap_autocluster")
      .select("product_id").as[String].collect().toSet
    assert(got == Set("p1", "p2", "p3", "p4"),
      "each delta must arrive exactly once, cluster riders silently skipped")
  }

  test("default start streams only future commits") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    val q = spark.readStream.format("graft-snapshot").load(root)
      .writeStream.format("memory").queryName("snap_future")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_future").isEmpty)
      SnapshotStore.appendCommit(spark, table(("p2", "b", 2)), root, "supplier")
      q.processAllAvailable()
      assert(spark.table("snap_future").select("product_id")
        .as[String].collect().toSeq == Seq("p2"))
    } finally q.stop()
  }

  test("a change commit fails the stream with actionable guidance") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "a", 1)), root, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 2)), root,
      "product_id", "version", "supplier")
    val e = intercept[Exception] {
      drain(root, "snap_fail", s"$dir/ckpt", Map("startingVersion" -> "0"))
    }
    assert(e.getMessage.contains("skipChangeCommits") ||
      Option(e.getCause).exists(_.getMessage.contains("skipChangeCommits")))
  }

  test("skipChangeCommits skips rewrites entirely; later appends still flow") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "a", 1)), root, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 2)), root,
      "product_id", "version", "supplier")            // v2: rewrite — skipped
    SnapshotStore.appendCommit(spark, table(("p9", "c", 3)), root, "supplier")
    drain(root, "snap_skip", s"$dir/ckpt",
      Map("startingVersion" -> "0", "skipChangeCommits" -> "true"))
    val got = spark.table("snap_skip")
      .select("product_id", "version").as[(String, Int)].collect().toSet
    // v1 baseline + v3 append; v2's rewrite (p1 -> version 2) skipped.
    assert(got == Set(("p1", 1), ("p2", 1), ("p9", 3)))
  }

  test("maxVersionsPerTrigger rations versions per micro-batch (both sources)") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    SnapshotStore.appendCommit(spark, table(("p2", "a", 2)), root, "supplier")
    SnapshotStore.appendCommit(spark, table(("p3", "a", 3)), root, "supplier")
    SnapshotStore.appendCommit(spark, table(("p4", "a", 4)), root, "supplier")
    val q = drain(root, "snap_ration", s"$dir/ckpt",
      Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "1"))
    assert(spark.table("snap_ration").count() == 4)
    // One version per data batch: 4 versions → 4 non-empty batches.
    assert(q.recentProgress.count(_.numInputRows > 0) == 4,
      q.recentProgress.map(_.numInputRows).mkString(","))
    // Same option on the change feed.
    val q2 = spark.readStream.format("graft-changes")
      .option("key", "product_id")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "2")
      .load(root)
      .writeStream.format("memory").queryName("feed_ration")
      .option("checkpointLocation", s"$dir/ckpt2")
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("feed_ration").count() == 4)
    assert(q2.recentProgress.count(_.numInputRows > 0) == 2,
      q2.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("Trigger.AvailableNow drains the backlog in rationed batches, then stops") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    SnapshotStore.appendCommit(spark, table(("p2", "a", 2)), root, "supplier")
    SnapshotStore.appendCommit(spark, table(("p3", "a", 3)), root, "supplier")
    val q = spark.readStream.format("graft-snapshot")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(root)
      .writeStream.format("memory").queryName("snap_avail")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow self-terminates once the start-time backlog drains.
    assert(q.awaitTermination(120000), "AvailableNow query did not stop")
    assert(spark.table("snap_avail").select("product_id")
      .as[String].collect().toSet == Set("p1", "p2", "p3"))
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      q.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("a lagging checkpoint overtaken by vacuum fails; evolution-lagged batches null-fill") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    (2 to 4).foreach(i => SnapshotStore.appendCommit(spark,
      table((s"p$i", "a", i)), root, "supplier"))
    SnapshotStore.vacuum(spark, root, keep = 1, retainMillis = 0)
    val src = org.apache.spark.sql.graft.SnapshotStreamSource.create(
      spark.sqlContext, Map("path" -> root, "startingVersion" -> "0"))
    val e = intercept[IllegalStateException] {
      src.getBatch(
        Some(org.apache.spark.sql.execution.streaming.runtime.LongOffset(1L)),
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(4L)).collect()
    }
    assert(e.getMessage.contains("snapshot stream gap"), e.getMessage)

    // Evolution null-fill: widen the table's recorded schema, start a
    // stream (pinned schema includes the new column), then append a
    // batch WITHOUT it — the batch must conform via typed nulls, not
    // crash the stream.
    val root2 = s"$dir/t2"
    SnapshotStore.commit(spark, Seq(("p1", "a", 1, "x"))
      .toDF("product_id", "supplier", "version", "flag"), root2, "supplier")
    val q = spark.readStream.format("graft-snapshot")
      .load(root2)
      .writeStream.format("memory").queryName("snap_evo")
      .option("checkpointLocation", s"$dir/ckpt2")
      .start()
    try {
      SnapshotStore.appendCommit(spark, table(("p2", "a", 2)), root2, "supplier")
      q.processAllAvailable()
      val got = spark.table("snap_evo")
        .select("product_id", "flag").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(got == Set(("p2", None)), s"unexpected: $got")
    } finally q.stop()
  }

  test("replay whose oldest retained version is a layout-only commit still emits the baseline") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "a", 1)), root, "supplier")    // v1
    SnapshotStore.appendCommit(spark, table(("p3", "a", 2)), root, "supplier") // v2
    SnapshotStore.compact(spark, root, "supplier")                 // v3: layout-only
    SnapshotStore.appendCommit(spark, table(("p4", "b", 4)), root, "supplier") // v4
    // keep=2 retains [v3, v4]: the oldest retained version is the
    // compact. A full replay must emit v3 as the whole-snapshot
    // baseline — the layout-op skip is only valid as a statement about
    // the v2->v3 transition, whose manifest is gone.
    SnapshotStore.vacuum(spark, root, keep = 2, retainMillis = 0)
    drain(root, "snap_layout_base", s"$dir/ckpt",
      Map("startingVersion" -> "0"))
    val got = spark.table("snap_layout_base")
      .select("product_id").as[String].collect().toSet
    assert(got == Set("p1", "p2", "p3", "p4"), s"unexpected: $got")

    // And the lagging-checkpoint shape across a layout-only oldest
    // version must still hit the gap error, not skip over the hole.
    val src = org.apache.spark.sql.graft.SnapshotStreamSource.create(
      spark.sqlContext, Map("path" -> root, "startingVersion" -> "0"))
    val e = intercept[IllegalStateException] {
      src.getBatch(
        Some(org.apache.spark.sql.execution.streaming.runtime.LongOffset(1L)),
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(4L)).collect()
    }
    assert(e.getMessage.contains("snapshot stream gap"), e.getMessage)
  }

  test("rationed replay against a vacuumed table spans the gap instead of dying on it") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    (2 to 6).foreach(i => SnapshotStore.appendCommit(spark,
      table((s"p$i", "a", i)), root, "supplier"))
    // Retained versions are [v5, v6]; a rationed replay from 0 must
    // ration over RETAINED versions (first batch = baseline v5), not
    // crawl highWater+1, +2, … through the vacuumed numbers and then
    // hit its own gap error once start is no longer None.
    SnapshotStore.vacuum(spark, root, keep = 2, retainMillis = 0)
    val q = drain(root, "snap_ration_vac", s"$dir/ckpt",
      Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "1"))
    assert(spark.table("snap_ration_vac").select("product_id")
      .as[String].collect().toSet == (1 to 6).map(i => s"p$i").toSet)
    // Two non-empty batches: the v5 baseline, then v6's append.
    assert(q.recentProgress.count(_.numInputRows > 0) == 2,
      q.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("startingTimestamp streams commits at or after the wall-clock (Delta CDF semantics)") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    val cutoff = SnapshotStore.commitTimestamp(spark, root, 1L).get + 1
    SnapshotStore.appendCommit(spark, table(("p2", "a", 2)), root, "supplier")
    SnapshotStore.appendCommit(spark, table(("p3", "b", 3)), root, "supplier")
    val ts = java.time.Instant.ofEpochMilli(cutoff).toString
    drain(root, "snap_ts", s"$dir/ckpt", Map("startingTimestamp" -> ts))
    // v1 predates the cutoff; v2/v3 are at-or-after it.
    assert(spark.table("snap_ts").select("product_id")
      .as[String].collect().toSet == Set("p2", "p3"))
    // Mutually exclusive with startingVersion (the source constructor
    // is where options resolve — stream start is lazy).
    val e = intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.SnapshotStreamSource.create(
        spark.sqlContext, Map("path" -> root,
          "startingVersion" -> "0", "startingTimestamp" -> ts))
    }
    assert(e.getMessage.contains("not both"), e.getMessage)
  }

  test("restart resumes exactly-once through the file sink") {
    val dir = freshDir()
    val root = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    def drainToFiles(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("startingVersion", "0")
        .load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    SnapshotStore.commit(spark, table(("p1", "a", 1), ("p2", "b", 1)),
      root, "supplier")
    drainToFiles()
    assert(spark.read.parquet(out).count() == 2)
    SnapshotStore.appendCommit(spark, table(("p3", "c", 2)), root, "supplier")
    drainToFiles()
    // Exactly-once: the baseline is NOT re-emitted on restart.
    assert(spark.read.parquet(out).select("product_id")
      .as[String].collect().toSet == Set("p1", "p2", "p3"))
  }
}
