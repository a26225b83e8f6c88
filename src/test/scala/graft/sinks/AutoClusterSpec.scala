package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Clustering on write ([[SnapshotMaintenance.maybeAutoCluster]]):
  * with `graft.autoCluster.keys` set, every data commit immediately
  * z-orders its own delta — the table stays within one generation of
  * fully clustered with zero orchestration, failures degrade to an
  * unclustered delta (never a failed commit), and the rider composes
  * with the other hooks in the right order. */
class AutoClusterSpec extends graft.SparkSpec {
  import spark.implicits._

  private def rows(r: Range): DataFrame =
    r.map(i => (i.toLong, (i * 37 % 1000).toLong, s"g${i % 4}", (i % 2).toString))
      .toDF("x", "y", "g", "part").repartition(4)

  private def baseline(root: String): Option[String] =
    SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStore.ClusteredAtProp)

  test("every data commit clusters its own delta; the table never drifts from clustered") {
    val root = s"${freshDir()}/t"
    SnapshotStore.commit(spark, rows(0 until 2000), root, "part")
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoClusterProp -> "x"))
    // First data commit under the property: the day-one bulk gets the
    // one full pass it needs (half-delta promotion), riding the hook.
    SnapshotStore.appendCommit(spark, rows(2000 until 2400), root, "part")
    val tip1 = SnapshotStore.currentVersion(spark, root).get
    assert(baseline(root).contains(tip1.toString),
      "the hook must leave the tip AT the clustering baseline")
    // Subsequent appends: delta-only passes, still baseline == tip.
    SnapshotStore.appendCommit(spark, rows(2400 until 2600), root, "part")
    val tip2 = SnapshotStore.currentVersion(spark, root).get
    assert(tip2 > tip1 && baseline(root).contains(tip2.toString))
    // Skipping quality holds with zero manual OPTIMIZE calls.
    val (df, idx) = SnapshotStore.tableWithIndex(spark, root)
    assert(df.filter(col("x") >= 100 && col("x") <= 120).count() == 21)
    assert(idx.lastCandidateFiles * 2 < idx.totalFiles,
      s"auto-clustered table must skip: ${idx.lastCandidateFiles}/${idx.totalFiles}")
    assert(SnapshotStore.table(spark, root).count() == 2600)
  }

  test("composes with auto-sync: the rollup cursor tracks the tip PAST the cluster commit") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rows(0 until 500), src, "part")
    graft.operators.Rollup.sync(spark, src, roll,
      Seq("x"), Seq("g"), sumCols = Seq("y"))
    graft.operators.Rollup.enableAutoSync(spark, src, roll)
    SnapshotStore.setProperties(spark, src,
      Seq(SnapshotStore.AutoClusterProp -> "x"))
    SnapshotStore.appendCommit(spark, rows(500 until 700), src, "part")
    val tip = SnapshotStore.currentVersion(spark, src).get
    assert(baseline(src).contains(tip.toString))
    assert(SnapshotStore.tablePropertiesMap(spark, roll)
      .get(graft.operators.Rollup.CursorProp).map(_.toLong).contains(tip),
      "the rollup cursor must track the tip past the cluster commit")
  }

  test("a bad key leaves the data commit green and rides the error ledger; fixing clears") {
    val root = s"${freshDir()}/t"
    SnapshotStore.commit(spark, rows(0 until 300), root, "part")
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoClusterProp -> "no_such_col"))
    SnapshotStore.appendCommit(spark, rows(300 until 400), root, "part")
    assert(SnapshotStore.table(spark, root).count() == 400,
      "the data commit must land regardless")
    SnapshotStore.appendCommit(spark, rows(400 until 500), root, "part")
    assert(SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStore.MaintenanceErrorProp)
      .exists(_.startsWith("component=autoCluster;")))
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoClusterProp -> "x"))
    SnapshotStore.appendCommit(spark, rows(500 until 600), root, "part")
    SnapshotStore.appendCommit(spark, rows(600 until 700), root, "part")
    assert(!SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStore.MaintenanceErrorProp)
      .exists(_.startsWith("component=autoCluster;")),
      "a clean pass must clear the recorded failure")
  }

  test("clustering on write subsumes auto-compact: both properties set, ONE layout rider per commit") {
    val root = s"${freshDir()}/t"
    SnapshotStore.commit(spark, rows(0 until 500), root, "part")
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoClusterProp -> "x",
        "graft.autoCompact.minFiles" -> "2"))
    val before = SnapshotStore.currentVersion(spark, root).get
    SnapshotStore.appendCommit(spark, rows(500 until 700), root, "part")
    val tip = SnapshotStore.currentVersion(spark, root).get
    assert(tip == before + 2,
      s"expected data commit + ONE cluster rider, got ${tip - before} versions " +
        "(compact must stand down when clustering is registered)")
    assert(SnapshotStore.manifestOperation(spark, root, tip)
      .contains("zorder-incremental"))
    assert(baseline(root).contains(tip.toString))
  }

  test("a FAILING cluster pass falls back to auto-compact — the table never loses all layout maintenance") {
    val root = s"${freshDir()}/t"
    SnapshotStore.commit(spark, rows(0 until 300), root, "part")
    // Misconfigured cluster key + a compact threshold: the cluster
    // pass fails every commit (ledger-visible), but the round-13
    // ADVICE failure mode — neither clustering NOR compaction, the
    // table silently fragmenting — must not happen: compact takes
    // over when the cluster rider errors.
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoClusterProp -> "no_such_col",
        "graft.autoCompact.minFiles" -> "2"))
    // rows() repartitions to 4 upstream tasks × 2 partition values —
    // over the threshold without compaction.
    SnapshotStore.appendCommit(spark, rows(300 until 500), root, "part")
    val tip = SnapshotStore.currentVersion(spark, root).get
    val perPartition = SnapshotStore.manifest(spark, root, tip)
      .groupBy(_.partition).map(_._2.size)
    assert(perPartition.forall(_ <= 2),
      s"compact must take over when clustering fails: $perPartition files/partition")
    // The failure itself stays ledger-visible (compact's own recovery
    // must not clear ANOTHER component's pending error).
    SnapshotStore.appendCommit(spark, rows(500 until 600), root, "part")
    assert(SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStore.MaintenanceErrorProp)
      .exists(_.startsWith("component=autoCluster;")),
      "the cluster failure must still ride the ledger")
    assert(SnapshotStore.table(spark, root).count() == 600)
  }

  test("duplicate cluster keys land in the error ledger on the first commit") {
    val root = s"${freshDir()}/t"
    SnapshotStore.commit(spark, rows(0 until 300), root, "part")
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoClusterProp -> "x,x"))
    SnapshotStore.appendCommit(spark, rows(300 until 400), root, "part")
    assert(SnapshotStore.table(spark, root).count() == 400)
    SnapshotStore.appendCommit(spark, rows(400 until 500), root, "part")
    assert(SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStore.MaintenanceErrorProp)
      .exists(_.startsWith("component=autoCluster;")),
      "a duplicate-key misconfiguration must be ledger-visible, not a " +
        "baseline no manual OPTIMIZE will trust")
  }

  test("layout commits do not re-trigger the hook — no runaway version churn") {
    val root = s"${freshDir()}/t"
    SnapshotStore.commit(spark, rows(0 until 500), root, "part")
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoClusterProp -> "x"))
    SnapshotStore.appendCommit(spark, rows(500 until 600), root, "part")
    val tip = SnapshotStore.currentVersion(spark, root).get
    // A manual layout rewrite (compactEligible = false path) must not
    // spin another clustering pass on top of itself.
    val vz = SnapshotStore.compactZOrder(spark, root, "part", Seq("x"))
    assert(SnapshotStore.currentVersion(spark, root).contains(vz))
    assert(vz == tip + 1, "exactly ONE version for the manual rewrite")
  }
}
