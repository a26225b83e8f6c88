package graft.sinks

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Rollup

/** Async maintenance riders (`graft.maintenance.async = true`,
  * round 15 — the SCALE.md design note, implemented): the post-commit
  * hook chain moves off the writer thread onto the maintenance
  * worker. The design note's three breaks, each pinned here:
  * (1) read-your-own-writes — a lagging rollup DEGRADES to the scan
  * (answers right, reads slower) until the worker drains;
  * (2) ledger attribution — an async rider failure flushes as its
  * OWN property commit, so an idle table still surfaces it in
  * DESCRIBE DETAIL; (3) backpressure — commits that outrun the
  * worker COALESCE into one pass, bounding the queued debt. */
class AsyncMaintenanceSpec extends graft.SparkSpec {
  import spark.implicits._

  private def rowsDf(r: Range): DataFrame =
    r.map(i => (i.toLong, s"g${i % 4}", (i % 100).toLong, (i % 3).toString))
      .toDF("id", "g", "qty", "part")

  private def cursor(roll: String): Long =
    SnapshotStore.tablePropertiesMap(spark, roll)(Rollup.CursorProp).toLong

  private def srcV(src: String): Long =
    SnapshotStore.currentVersion(spark, src).get

  test("a lagging rollup degrades to the scan (right answers), and the drained worker restores the rewrite") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rowsDf(0 until 300), src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    Rollup.enableAutoSync(spark, src, roll)
    SnapshotStore.setProperties(spark, src,
      Seq(SnapshotStore.MaintenanceAsyncProp -> "true"))
    SnapshotStore.drainAsyncMaintenance()
    val gate = new CountDownLatch(1)
    SnapshotStore.asyncTestGate = Some(gate)
    try {
      // The commit returns with the worker GATED: the riders provably
      // did not run on the writer thread.
      SnapshotStore.appendCommit(spark, rowsDf(300 until 360), src, "part")
      assert(cursor(roll) < srcV(src),
        "with the worker gated, the commit must return BEFORE the sync — " +
          "riders off the writer thread is the whole point")
      // Design-note break #1, held deterministically: the stale-cursor
      // MV rewrite degrades to the SCAN and the answer is right.
      spark.conf.set(RollupRewrite.RegistryConf, roll)
      try {
        val q = SnapshotStore.table(spark, src).groupBy("g")
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
        assert(graft.DevRun.readsOnly(q, src),
          s"a lagging rollup must degrade to the scan: ${q.inputFiles.mkString(", ")}")
        val direct = SnapshotStore.read(spark, src).groupBy("g")
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
          .collect().map(_.toString).toSet
        assert(q.collect().map(_.toString).toSet == direct,
          "degraded reads still answer right")
      } finally spark.conf.unset(RollupRewrite.RegistryConf)
      gate.countDown()
      SnapshotStore.asyncTestGate = None
      SnapshotStore.drainAsyncMaintenance()
      assert(cursor(roll) == srcV(src), "the drained worker must sync the cursor")
      // The rewrite is back.
      spark.conf.set(RollupRewrite.RegistryConf, roll)
      try {
        val q2 = SnapshotStore.table(spark, src).groupBy("g")
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
        assert(graft.DevRun.readsOnly(q2, roll),
          s"the drained rollup must answer the dashboard again: ${q2.inputFiles.mkString(", ")}")
      } finally spark.conf.unset(RollupRewrite.RegistryConf)
    } finally { SnapshotStore.asyncTestGate = None; gate.countDown() }
  }

  test("commits that outrun the worker coalesce into ONE pass that self-heals from the recorded cursor") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rowsDf(0 until 200), src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    Rollup.enableAutoSync(spark, src, roll)
    SnapshotStore.setProperties(spark, src,
      Seq(SnapshotStore.MaintenanceAsyncProp -> "true"))
    SnapshotStore.drainAsyncMaintenance()
    // Calibrate what ONE drained pass costs on the rollup (a sync may
    // spend more than one rollup version), so the coalescing pin below
    // compares passes, not an assumed commit count.
    val calBefore = SnapshotStore.currentVersion(spark, roll).get
    SnapshotStore.appendCommit(spark, rowsDf(290 until 300), src, "part")
    SnapshotStore.drainAsyncMaintenance()
    val perPass = SnapshotStore.currentVersion(spark, roll).get - calBefore
    assert(perPass >= 1, "calibration pass must have synced")
    val rollVBefore = SnapshotStore.currentVersion(spark, roll).get
    val gate = new CountDownLatch(1)
    SnapshotStore.asyncTestGate = Some(gate)
    try {
      // THREE commits land while the worker is gated — the queue must
      // coalesce them (backpressure: debt is bounded by one pass per
      // root, not one per commit).
      SnapshotStore.appendCommit(spark, rowsDf(200 until 230), src, "part")
      SnapshotStore.appendCommit(spark, rowsDf(230 until 260), src, "part")
      SnapshotStore.appendCommit(spark, rowsDf(260 until 290), src, "part")
      gate.countDown()
      SnapshotStore.asyncTestGate = None
      SnapshotStore.drainAsyncMaintenance()
      // One pass, synced to the FINAL tip: the cursor-window sync
      // covers all three commits ("crashed worker" ≡ "not synced those
      // rounds" — the next pass self-heals from the recorded cursor).
      assert(cursor(roll) == srcV(src),
        "the coalesced pass must sync to the final tip")
      val rollVAfter = SnapshotStore.currentVersion(spark, roll).get
      assert(rollVAfter - rollVBefore == perPass,
        s"three coalesced windows must cost ONE pass ($perPass rollup " +
          s"versions), got ${rollVAfter - rollVBefore}")
      val direct = SnapshotStore.read(spark, src).groupBy("g")
        .agg(count(lit(1)).as("row_count"), sum(col("qty")).as("qty_sum"))
        .collect().map(_.toString).toSet
      assert(SnapshotStore.read(spark, roll)
        .select("g", "row_count", "qty_sum")
        .collect().map(_.toString).toSet == direct,
        "the coalesced sync must land the exact aggregate state")
    } finally { SnapshotStore.asyncTestGate = None; gate.countDown() }
  }

  test("an async rider failure flushes the ledger as its OWN commit — attribution survives idle tables") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rowsDf(0 until 100), src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    Rollup.enableAutoSync(spark, src, roll)
    SnapshotStore.setProperties(spark, src,
      Seq(SnapshotStore.MaintenanceAsyncProp -> "true"))
    SnapshotStore.drainAsyncMaintenance()
    // Destroy the rollup out from under the registration, then ONE
    // data commit — and never another: the table goes idle.
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }
    val hidden = new java.io.File(s"$dir/hidden")
    assert(new java.io.File(roll).renameTo(hidden))
    SnapshotStore.appendCommit(spark, rowsDf(100 until 130), src, "part")
    val vData = srcV(src)
    SnapshotStore.drainAsyncMaintenance()
    // Synchronous mode records the failure and waits for "the next
    // commit" — which never comes on an idle table. Async mode MUST
    // spend its own property commit (design-note break #2).
    val vFlushed = srcV(src)
    assert(vFlushed == vData + 1,
      "the async failure must flush as its own property commit")
    val err = SnapshotStore.tablePropertiesMap(spark, src)
      .get(SnapshotStore.MaintenanceErrorProp)
    assert(err.isDefined && err.get.contains("component=autoSync"),
      s"the flushed ledger must attribute the failing component, got $err")
    // Restore the rollup; the next commit's pass self-heals AND the
    // recovery-clear flushes as its own commit too — the false alarm
    // does not outlive the recovery just because the table is quiet.
    rm(new java.io.File(roll))
    assert(hidden.renameTo(new java.io.File(roll)))
    SnapshotStore.appendCommit(spark, rowsDf(130 until 140), src, "part")
    SnapshotStore.drainAsyncMaintenance()
    assert(!SnapshotStore.tablePropertiesMap(spark, src)
      .contains(SnapshotStore.MaintenanceErrorProp),
      "a clean async pass must flush the recovery clear without waiting " +
        "for a writer")
    assert(cursor(roll) == srcV(src),
      "the healed pass must sync the cursor across the failed window")
  }
}
