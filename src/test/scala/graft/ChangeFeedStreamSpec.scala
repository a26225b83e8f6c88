package graft

import graft.sinks.SnapshotStore

/** Streaming consumption of the snapshot-store change feed
  * (`format("graft-changes")` — the Delta-CDF-streaming analog).
  * Batch `SnapshotStore.changes` is oracle-proven (q126/q135); these
  * specs pin that the STREAM delivers the same rows, version-tagged,
  * exactly once, and that no-op versions emit nothing. */
class ChangeFeedStreamSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (String, String, Int)*) =
    rows.toDF("product_id", "supplier", "version")

  /** Run the feed stream over whatever is committed right now and
    * collect everything it emits (AvailableNow-style: one
    * processAllAvailable drain). */
  private def drain(root: String, startingVersion: Long,
                    ckpt: String, sinkName: String): Unit = {
    val q = spark.readStream.format("graft-changes")
      .option("key", "product_id")
      .option("startingVersion", startingVersion.toString)
      .load(root)
      .writeStream.format("memory").queryName(sinkName)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  test("Trigger.AvailableNow drains the feed backlog in rationed batches, then stops") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p2", "a", 1)), root,
      "product_id", "version", "supplier")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 2)), root,
      "product_id", "version", "supplier")
    val q = spark.readStream.format("graft-changes")
      .option("key", "product_id")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(root)
      .writeStream.format("memory").queryName("feed_avail")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not stop")
    val got = spark.table("feed_avail")
      .select("product_id", "version", "_change_type", "_commit_version")
      .as[(String, Int, String, Long)].collect().toSet
    assert(got == Set(
      ("p1", 1, "insert", 1L), ("p2", 1, "insert", 2L),
      ("p1", 2, "update", 3L)))
    // Rationed to one version per micro-batch: three emitting batches.
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      q.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("full replay from version 0: inserts, updates, deletes, version-tagged") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "a", 1), ("p3", "b", 1)), root, "supplier")
    SnapshotStore.mergeCommit(spark,
      table(("p2", "a", 2), ("p4", "c", 2)), root,
      "product_id", "version", "supplier")
    SnapshotStore.deleteCommit(spark,
      Seq("p3").toDF("product_id"), root, "product_id", "supplier")

    drain(root, 0L, s"$dir/ckpt", "feed_replay")
    val got = spark.table("feed_replay")
      .select("product_id", "version", "_change_type", "_commit_version")
      .as[(String, Int, String, Long)].collect().toSet
    assert(got == Set(
      ("p1", 1, "insert", 1L), ("p2", 1, "insert", 1L), ("p3", 1, "insert", 1L),
      ("p2", 2, "update", 2L), ("p4", 2, "insert", 2L),
      ("p3", 1, "delete", 3L)))
  }

  test("restart resumes after the last committed version (exactly-once), no-op version emits nothing") {
    val dir = freshDir()
    val root = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    // The memory sink refuses checkpoint recovery (not fault-tolerant),
    // so the restart pin uses the file sink — the recovery-capable path
    // a real consumer would run.
    def drainToFiles(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("key", "product_id")
        .option("startingVersion", "0")
        .load(root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    SnapshotStore.commit(spark,
      table(("p1", "a", 1), ("p2", "a", 1)), root, "supplier")
    drainToFiles()
    assert(spark.read.parquet(out).count() == 2)

    // Between runs: one content commit + one layout-only commit.
    SnapshotStore.mergeCommit(spark, table(("p5", "b", 2)), root,
      "product_id", "version", "supplier")
    // Force a multi-file partition then compact it: content unchanged,
    // so this version must stream ZERO rows.
    SnapshotStore.mergeCommit(spark, table(("p6", "b", 3)), root,
      "product_id", "version", "supplier")
    val vCompact = SnapshotStore.compact(spark, root, "supplier")
    assert(vCompact == 4L)

    // Same checkpoint → resumes from offset 1, replays nothing: the
    // sink dir must hold the first run's 2 rows plus ONLY the two
    // post-restart inserts (the compact version emits zero rows).
    drainToFiles()
    val got = spark.read.parquet(out)
      .select("product_id", "_change_type", "_commit_version")
      .as[(String, String, Long)].collect().toSeq
    assert(got.size == 4, s"duplicate or missing replay rows: $got")
    assert(got.toSet == Set(
      ("p1", "insert", 1L), ("p2", "insert", 1L),
      ("p5", "insert", 2L), ("p6", "insert", 3L)),
      s"expected first-run inserts + two post-restart inserts (compact emits nothing), got $got")
  }

  test("default startingVersion streams only future commits") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    val q = spark.readStream.format("graft-changes")
      .option("key", "product_id")
      .load(root)
      .writeStream.format("memory").queryName("feed_future")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("feed_future").count() == 0)
      SnapshotStore.mergeCommit(spark, table(("p2", "a", 2)), root,
        "product_id", "version", "supplier")
      q.processAllAvailable()
      val got = spark.table("feed_future")
        .select("product_id", "_change_type", "_commit_version")
        .as[(String, String, Long)].collect().toSet
      assert(got == Set(("p2", "insert", 2L)))
    } finally q.stop()
  }

  test("restart with DEFAULT startingVersion delivers commits made during downtime") {
    val dir = freshDir()
    val root = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    def drainDefault(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("key", "product_id") // NO startingVersion option
        .load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    drainDefault() // default start: the existing snapshot is NOT replayed
    assert(spark.read.parquet(out).count() == 0)
    SnapshotStore.mergeCommit(spark, table(("p2", "a", 2)), root,
      "product_id", "version", "supplier")
    drainDefault() // run 2: v2 committed while stream was down
    // The checkpointed offset (1) governs the restart — a
    // startingVersion recomputed as "current at restart" (2) would
    // withhold v2 forever on a quiet table.
    val got = spark.read.parquet(out)
      .select("product_id", "_commit_version")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("p2", 2L)), s"downtime commit lost: $got")
  }

  test("a vacuumed predecessor version fails the stream instead of re-emitting the snapshot") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p2", "a", 2)), root,
      "product_id", "version", "supplier")
    SnapshotStore.mergeCommit(spark, table(("p3", "a", 3)), root,
      "product_id", "version", "supplier")
    // Drop manifests v1/v2 (keep = 1): the 2->3 diff is gone.
    SnapshotStore.vacuum(spark, root, keep = 1, retainMillis = 0)
    val q = spark.readStream.format("graft-changes")
      .option("key", "product_id").option("startingVersion", "2")
      .load(root)
      .writeStream.format("memory").queryName("feed_gap")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("change feed gap") ||
      Option(e.getCause).exists(_.getMessage.contains("change feed gap")),
      s"expected the vacuum-gap error, got: ${e.getMessage}")
  }

  test("startingVersion before the vacuumed range replays the oldest retained snapshot as inserts") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p2", "a", 2)), root,
      "product_id", "version", "supplier")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 3)), root,
      "product_id", "version", "supplier")
    SnapshotStore.vacuum(spark, root, keep = 2, retainMillis = 0)
    // Retained: v2, v3. A full replay (startingVersion=0) cannot diff
    // 1->2, but the request explicitly predates the retained range, so
    // the oldest retained snapshot (v2 = {p1@1, p2@2}) IS the replay
    // baseline — all 'insert' — and v3's real diff streams after it.
    drain(root, 0L, s"$dir/ckpt", "feed_postvacuum")
    val got = spark.table("feed_postvacuum")
      .select("product_id", "version", "_change_type", "_commit_version")
      .as[(String, Int, String, Long)].collect().toSet
    assert(got == Set(
      ("p1", 1, "insert", 2L), ("p2", 2, "insert", 2L),
      ("p1", 3, "update", 3L)), s"unexpected replay: $got")
  }

  test("rationed full replay against a vacuumed table spans the gap in one baseline batch") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    (2 to 6).foreach(i => SnapshotStore.mergeCommit(spark,
      table((s"p$i", "a", i)), root, "product_id", "version", "supplier"))
    SnapshotStore.vacuum(spark, root, keep = 2, retainMillis = 0) // keeps v5, v6
    // startingVersion=0 + maxVersionsPerTrigger=1: rationing must step
    // over the vacuumed numbers to the first RETAINED version (v5 =
    // baseline inserts), not crawl 1, 2, … in empty batches and then
    // fail its own gap check once start is no longer None.
    val q = spark.readStream.format("graft-changes")
      .option("key", "product_id").option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(root)
      .writeStream.format("memory").queryName("feed_ration_vac")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("feed_ration_vac")
      .select("product_id", "_change_type", "_commit_version")
      .as[(String, String, Long)].collect().toSet
    assert(got == (1 to 5).map(i => (s"p$i", "insert", 5L)).toSet +
      (("p6", "insert", 6L)), s"unexpected: $got")
    assert(q.recentProgress.count(_.numInputRows > 0) == 2,
      q.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("a lagging CHECKPOINTED stream overtaken by vacuum fails instead of re-delivering") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    (2 to 4).foreach(i => SnapshotStore.mergeCommit(spark,
      table((s"p$i", "a", i)), root, "product_id", "version", "supplier"))
    SnapshotStore.vacuum(spark, root, keep = 1, retainMillis = 0) // only v4 retained
    // Simulate the engine resuming a checkpoint at version 1 (start is
    // DEFINED — this is not a first start, so the baseline-replay path
    // must NOT fire; re-emitting the snapshot would re-deliver every
    // consumed row and mislabel the missed updates/deletes).
    val src = new org.apache.spark.sql.graft.ChangeFeedSource(
      spark.sqlContext, root, "product_id", startingVersion = 0L)
    val e = intercept[IllegalStateException] {
      src.getBatch(
        Some(org.apache.spark.sql.execution.streaming.runtime.LongOffset(1L)),
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(4L)).collect()
    }
    assert(e.getMessage.contains("change feed gap"), e.getMessage)
  }

  test("a lagging stream survives a guarded vacuum; force reproduces the unguarded behavior") {
    val dir = freshDir()
    val root = s"$dir/t"
    val ckpt = s"$dir/ckpt"; val out = s"$dir/out"
    // The memory sink refuses checkpoint recovery — resume through
    // the file sink, like a real consumer.
    def drainToFiles(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("key", "product_id").option("startingVersion", "0")
        .load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    // Checkpoint the reader at v1, then fall behind.
    drainToFiles()
    // The table opts into the retention floor (the streaming
    // deployment's posture), then keeps moving while the reader is
    // down.
    SnapshotStore.setProperties(spark, root,
      Seq("graft.vacuum.minRetainHours" -> "168"))
    SnapshotStore.mergeCommit(spark, table(("p2", "a", 1)), root,
      "product_id", "version", "supplier")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 2)), root,
      "product_id", "version", "supplier")
    val all = SnapshotStore.versions(spark, root)
    // RETAIN below the floor refuses loudly instead of deleting unread
    // history out from under the checkpoint.
    val e = intercept[IllegalStateException] {
      SnapshotStore.vacuum(spark, root, keep = 1, retainMillis = 0)
    }
    assert(e.getMessage.contains("minRetainHours"))
    // A compliant vacuum keeps every version younger than the floor
    // even under keep=1 — the lagging reader's window is safe.
    SnapshotStore.vacuum(spark, root, keep = 1,
      retainMillis = 169L * 3600 * 1000)
    assert(SnapshotStore.versions(spark, root) == all,
      "versions inside the floor window must survive a guarded vacuum")
    // The lagging stream resumes from its checkpoint and reads
    // everything it missed — no gap, no error.
    drainToFiles()
    val got = spark.read.parquet(out)
      .select("product_id", "version", "_change_type")
      .as[(String, Int, String)].collect().toSet
    assert(got == Set(("p1", 1, "insert"),
        ("p2", 1, "insert"), ("p1", 2, "update")),
      s"resumed stream must deliver the missed windows, got $got")
    // graft.vacuum.force reproduces today's unguarded deletion.
    SnapshotStore.setProperties(spark, root,
      Seq("graft.vacuum.force" -> "true"))
    SnapshotStore.vacuum(spark, root, keep = 1, retainMillis = 0)
    assert(SnapshotStore.versions(spark, root).size == 1,
      "force must restore the unguarded behavior")
  }

  test("preImages option streams update_preimage/update_postimage pairs, version-tagged") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1), ("p2", "a", 1)),
      root, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p1", "a", 2)), root,
      "product_id", "version", "supplier")
    val q = spark.readStream.format("graft-changes")
      .option("key", "product_id")
      .option("startingVersion", "1")
      .option("preImages", "true")
      .load(root)
      .writeStream.format("memory").queryName("feed_pre")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("feed_pre")
      .select($"product_id", $"version", $"_change_type", $"_commit_version")
      .as[(String, Int, String, Long)].collect().toSet
    assert(got == Set(
      ("p1", 1, "update_preimage", 2L),
      ("p1", 2, "update_postimage", 2L)), got)
  }

  test("a comma-spelled composite key streams per-(supplier, sku) changes") {
    val dir = freshDir()
    val root = s"$dir/t"
    // sku alone is ambiguous: s1 exists under two suppliers.
    Seq(("s1", "a", 1), ("s1", "b", 1))
      .toDF("sku", "supplier", "version")
      .createOrReplaceTempView("cfk_seed")
    SnapshotStore.commit(spark, spark.table("cfk_seed"), root, "supplier")
    SnapshotStore.mergeCommit(spark,
      Seq(("s1", "a", 2)).toDF("sku", "supplier", "version"),
      root, Seq("supplier", "sku"), "version", "supplier")
    val q = spark.readStream.format("graft-changes")
      .option("key", "supplier,sku")
      .option("startingVersion", "1")
      .load(root)
      .writeStream.format("memory").queryName("cfk_feed")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    // Key columns lead the feed schema in spec order.
    assert(spark.table("cfk_feed").columns.take(2).toSeq ==
      Seq("supplier", "sku"))
    val got = spark.table("cfk_feed")
      .select("supplier", "sku", "version", "_change_type")
      .as[(String, String, Int, String)].collect().toSet
    // Only (a, s1) changed; a sku-only key would also diff (b, s1).
    assert(got == Set(("a", "s1", 2, "update")), got.toString)
  }

  test("missing key / missing table surface as errors at stream construction") {
    val dir = freshDir()
    val root = s"$dir/t"
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-changes").option("key", "k").load(root).schema
    }
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-changes").option("key", "nope").load(root).schema
    }
  }

  test("startingTimestamp streams commits AT or AFTER the timestamp (Delta CDF form)") {
    val dir = freshDir()
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    SnapshotStore.mergeCommit(spark, table(("p2", "a", 2)), root,
      "product_id", "version", "supplier")
    SnapshotStore.mergeCommit(spark, table(("p3", "b", 3)), root,
      "product_id", "version", "supplier")
    val ts2 = SnapshotStore.commitTimestamp(spark, root, 2L).get
    def drainFrom(ts: String, sink: String): Set[(String, Long)] = {
      val q = spark.readStream.format("graft-changes")
        .option("key", "product_id")
        .option("startingTimestamp", ts)
        .load(root)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"$dir/ckpt_$sink")
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(sink).select("product_id", "_commit_version")
        .as[(String, Long)].collect().toSet
    }
    // Exactly v2's commit instant: v2 and v3 stream, v1 does not.
    assert(drainFrom(ts2.toString, "feed_ts_at") ==
      Set(("p2", 2L), ("p3", 3L)))
    // After every commit: nothing historical streams.
    assert(drainFrom((ts2 + 3600L * 1000).toString, "feed_ts_future").isEmpty)
    // Before the first commit: full replay.
    assert(drainFrom("1970-01-01 00:00:00", "feed_ts_all") ==
      Set(("p1", 1L), ("p2", 2L), ("p3", 3L)))
    // Both options together are rejected (createSource runs on the
    // stream thread, so the failure surfaces at the first drain).
    val q = spark.readStream.format("graft-changes")
      .option("key", "product_id")
      .option("startingVersion", "0")
      .option("startingTimestamp", ts2.toString)
      .load(root)
      .writeStream.format("memory").queryName("feed_ts_both")
      .option("checkpointLocation", s"$dir/ckpt_both").start()
    val e = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.toString.contains("not both") ||
      Option(e.getCause).exists(_.toString.contains("not both")))
  }
}
