package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** Self-healing optimizer statistics
  * ([[SnapshotMaintenance.maybeAutoAnalyze]]): a table that opted in
  * re-runs its last ANALYZE when the live row count drifts past the
  * threshold — growth or shrink — as a post-commit rider; a table
  * never analyzed stays untouched, failures ride the error ledger
  * without failing the data commit, and the rider cannot loop. */
class AutoAnalyzeSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${Files.createTempDirectory("autoanalyze").toString}/t"

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, s"g${i % 5}", (i % 2).toString))
      .toDF("k", "g", "part")

  private def analyzedVersion(root: String): Option[String] =
    SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStats.AnalyzedVersionProp)

  test("growth past the threshold refreshes stats with zero manual calls; below it stays put") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(0, 100), root, "part")
    SnapshotStats.analyze(spark, root)
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoAnalyzeProp -> "50"))
    val before = analyzedVersion(root).get
    // +10%: below the 50% threshold — no refresh.
    SnapshotStore.appendCommit(spark, rows(100, 110), root, "part")
    assert(analyzedVersion(root).contains(before))
    // Cumulative +60%: past it — the rider re-analyzes and the new
    // bounds cover the appended keys.
    SnapshotStore.appendCommit(spark, rows(110, 160), root, "part")
    assert(analyzedVersion(root).exists(_ != before),
      "drift past the threshold must refresh the recorded stats")
    val k = SnapshotStore.tablePropertiesMap(spark, root)
      .get("graft.stats.col.k").flatMap(SnapshotStats.decode)
    assert(k.exists(_.max.contains("159")),
      s"refreshed bounds must cover the appended keys: $k")
    assert(SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStats.AnalyzedRowsProp).contains("160"))
  }

  test("shrink drifts too: a mass delete refreshes") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(0, 200), root, "part")
    SnapshotStats.analyze(spark, root)
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoAnalyzeProp -> "30"))
    SnapshotStore.deleteWhere(spark, root, "k >= 100")
    assert(SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStats.AnalyzedRowsProp).contains("100"),
      "a 50% shrink must re-base the recorded stats")
  }

  test("a never-analyzed table is never auto-analyzed — refresh, not invention") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(0, 100), root, "part")
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoAnalyzeProp -> "10"))
    SnapshotStore.appendCommit(spark, rows(100, 400), root, "part")
    assert(analyzedVersion(root).isEmpty)
  }

  test("an explicit-column ANALYZE replays the same selection on refresh") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(0, 100), root, "part")
    SnapshotStats.analyze(spark, root, Some(Seq("k")))
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoAnalyzeProp -> "50"))
    SnapshotStore.appendCommit(spark, rows(100, 200), root, "part")
    val props = SnapshotStore.tablePropertiesMap(spark, root)
    assert(props.get(SnapshotStats.AnalyzedRowsProp).contains("200"))
    assert(props.contains("graft.stats.col.k"))
    assert(!props.contains("graft.stats.col.g"),
      "the refresh must replay the recorded selection, not widen it")
  }

  test("a rename after an explicit-column ANALYZE keeps self-healing — the replay maps through the mapping") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(0, 100), root, "part")
    SnapshotStats.analyze(spark, root, Some(Seq("k")))
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoAnalyzeProp -> "50"))
    SnapshotStore.renameColumn(spark, root, "k", "key")
    SnapshotStore.appendCommit(spark,
      (100 until 200).map(i => (i.toLong, s"g${i % 5}", (i % 2).toString))
        .toDF("key", "g", "part"), root, "part")
    val props = SnapshotStore.tablePropertiesMap(spark, root)
    assert(props.get(SnapshotStats.AnalyzedRowsProp).contains("200"),
      "the refresh must replay the renamed selection, not error forever")
    assert(!props.get(SnapshotStore.MaintenanceErrorProp)
      .exists(_.startsWith("component=autoAnalyze;")),
      s"no recurring ledger entry: ${props.get(SnapshotStore.MaintenanceErrorProp)}")
    assert(props.get("graft.stats.col.k").flatMap(SnapshotStats.decode)
      .exists(_.max.contains("199")),
      "refreshed stats stay keyed by the stable physical name")
  }

  test("an auto-analyze refresh commit does not strand registered rollup cursors") {
    val dir = Files.createTempDirectory("autoboth").toString
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rows(0, 100), src, "part")
    graft.operators.Rollup.sync(spark, src, roll,
      Seq("k"), Seq("g"), sumCols = Seq("k"))
    graft.operators.Rollup.enableAutoSync(spark, src, roll)
    SnapshotStats.analyze(spark, src)
    SnapshotStore.setProperties(spark, src,
      Seq(SnapshotStore.AutoAnalyzeProp -> "50"))
    // This append trips the drift refresh, whose property commit bumps
    // the source version AFTER the data commit — the rollup sync must
    // run against that TIP or the MV rewrite goes dark until the next
    // data commit.
    SnapshotStore.appendCommit(spark, rows(100, 200), src, "part")
    val tip = SnapshotStore.currentVersion(spark, src).get
    assert(SnapshotStore.tablePropertiesMap(spark, src)
      .get(SnapshotStats.AnalyzedRowsProp).contains("200"),
      "the refresh itself must have fired")
    assert(SnapshotStore.tablePropertiesMap(spark, roll)
      .get(graft.operators.Rollup.CursorProp).map(_.toLong).contains(tip),
      "the rollup cursor must track the tip PAST the analyze's property commit")
  }

  test("an absurd threshold fails loudly into the ledger — never an overflowed comparison") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(0, 100), root, "part")
    SnapshotStats.analyze(spark, root)
    // Unclamped, base * pct would overflow Long for large pct and turn
    // the drift comparison into noise (round-13 ADVICE); the bound
    // makes misconfiguration a ledger entry instead.
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoAnalyzeProp -> Long.MaxValue.toString))
    SnapshotStore.appendCommit(spark, rows(100, 300), root, "part")
    SnapshotStore.appendCommit(spark, rows(300, 310), root, "part")
    assert(SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStore.MaintenanceErrorProp)
      .exists(e => e.startsWith("component=autoAnalyze;") &&
        e.contains("100000")),
      "an out-of-bounds percent must ride the ledger with the bound in the message")
    assert(SnapshotStore.table(spark, root).count() == 310)
  }

  test("a malformed threshold records the failure without failing the commit; fixing it clears") {
    val root = freshRoot()
    SnapshotStore.commit(spark, rows(0, 100), root, "part")
    SnapshotStats.analyze(spark, root)
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoAnalyzeProp -> "lots"))
    SnapshotStore.appendCommit(spark, rows(100, 300), root, "part")
    assert(SnapshotStore.table(spark, root).count() == 300,
      "the data commit must land regardless")
    // The failure rides the NEXT successful commit's properties.
    SnapshotStore.appendCommit(spark, rows(300, 310), root, "part")
    val err = SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStore.MaintenanceErrorProp)
    assert(err.exists(_.startsWith("component=autoAnalyze;")), s"got $err")
    SnapshotStore.setProperties(spark, root,
      Seq(SnapshotStore.AutoAnalyzeProp -> "50"))
    SnapshotStore.appendCommit(spark, rows(310, 320), root, "part")
    SnapshotStore.appendCommit(spark, rows(320, 330), root, "part")
    assert(!SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStore.MaintenanceErrorProp)
      .exists(_.startsWith("component=autoAnalyze;")),
      "a clean pass must clear the recorded failure")
  }
}
