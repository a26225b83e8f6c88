package graft.sinks

/** Metadata-only COUNT(*) and the DV-adjusted row-count surface:
  * counts answered from the manifest + stats sidecar with zero data
  * files opened, and a scan fallback whenever the plan is not the
  * bare filterless count. */
class MetadataCountSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${freshDir()}/t"

  private def seed(root: String): Unit =
    SnapshotStore.commit(spark,
      (1 to 100).map(i => (s"s$i", if (i % 2 == 0) "a" else "b", i))
        .toDF("sku", "supplier", "qty"), root, "supplier")

  test("bare COUNT(*) is answered from metadata: LocalTableScan, no file scan") {
    val root = freshRoot(); bindCatalog("g_cnt")
    seed(root)
    val df = spark.sql(s"SELECT count(*) AS n FROM g_cnt.`$root`")
    assert(df.as[Long].head() == 100L)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("LocalTableScan"), phys)
    assert(!phys.contains("FileScan"), phys)
  }

  test("COUNT(*) WITH a filter is NOT rewritten and stays correct") {
    val root = freshRoot(); bindCatalog("g_cntf")
    seed(root)
    val df = spark.sql(
      s"SELECT count(*) AS n FROM g_cntf.`$root` WHERE qty > 50")
    assert(df.as[Long].head() == 50L)
    assert(df.queryExecution.executedPlan.toString.contains("FileScan"),
      "a filtered count must scan")
  }

  test("grouped and non-count aggregates are NOT rewritten") {
    val root = freshRoot(); bindCatalog("g_cntg")
    seed(root)
    assert(spark.sql(s"SELECT supplier, count(*) FROM g_cntg.`$root` " +
      "GROUP BY supplier ORDER BY supplier").collect().map(_.getLong(1))
      .toSeq == Seq(50L, 50L))
    assert(spark.sql(s"SELECT sum(qty) FROM g_cntg.`$root`")
      .head().getLong(0) == 5050L)
  }

  test("a DV-carrying read falls back to the scan and stays DV-correct; rowCount subtracts dvRows") {
    val root = freshRoot(); bindCatalog("g_cntdv")
    seed(root)
    SnapshotStore.setProperties(spark, root,
      Seq("graft.enableDeletionVectors" -> "true"))
    spark.sql(s"DELETE FROM g_cntdv.`$root` WHERE qty <= 10")
    val df = spark.sql(s"SELECT count(*) AS n FROM g_cntdv.`$root`")
    assert(df.as[Long].head() == 90L)
    // The DV anti-join sits above the relation, so the bare-count
    // pattern can't match — the plan must NOT be the local rewrite.
    assert(!df.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    // The metadata API answers the same 90 without any scan.
    assert(SnapshotStore.rowCount(spark, root).contains(90L))
  }

  test("rowCount is genuinely metadata-priced: answers after the data files are gone") {
    val root = freshRoot()
    seed(root)
    assert(SnapshotStore.rowCount(spark, root).contains(100L))
    // Remove every data file; only manifests/ and sidecars remain. A
    // count that touched ANY data file would now throw.
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(dataDir, true)
    assert(SnapshotStore.rowCount(spark, root).contains(100L))
  }

  test("bare MIN/MAX/COUNT(col) answer from metadata: LocalTableScan, no file scan") {
    val root = freshRoot(); bindCatalog("g_mm")
    // Two commits = two+ files; qty has nulls in the second batch so
    // COUNT(qty) must subtract recorded null counts across files.
    SnapshotStore.commit(spark,
      (1 to 50).map(i => (s"s$i", "a", Some(i))).toDF("sku", "supplier", "qty"),
      root, "supplier")
    SnapshotStore.appendCommit(spark,
      (51 to 100).map(i =>
        (s"s$i", "b", if (i % 5 == 0) None else Some(i)))
        .toDF("sku", "supplier", "qty"), root, "supplier")
    val df = spark.sql(
      s"""SELECT min(qty) AS mn, max(qty) AS mx, count(qty) AS c,
                 count(*) AS n, min(sku) AS smn, max(sku) AS smx
          FROM g_mm.`$root`""")
    assert(df.collect().head.toSeq ==
      Seq(1, 99, 90L, 100L, "s1", "s99"))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("LocalTableScan"), phys)
    assert(!phys.contains("FileScan"), phys)
  }

  test("a truncation-configured writer marks string bounds inexact: string MIN/MAX keeps the scan, numerics still rewrite") {
    val root = freshRoot(); bindCatalog("g_mmtr")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("parquet.statistics.truncate.length", 8)
    try SnapshotStore.commit(spark,
      (1 to 100).map(i => (f"sku_very_long_value_$i%03d", "a", i))
        .toDF("sku", "supplier", "qty"), root, "supplier")
    finally hconf.unset("parquet.statistics.truncate.length")
    // The sidecar recorded the column under the possibly-truncated
    // tag, so the bounds must never be returned as an ANSWER…
    val s = spark.sql(s"SELECT min(sku) AS mn, max(sku) AS mx FROM g_mmtr.`$root`")
    assert(s.queryExecution.executedPlan.toString.contains("FileScan"),
      "possibly-truncated string bounds must keep the scan")
    assert(s.collect().head.toSeq ==
      Seq("sku_very_long_value_001", "sku_very_long_value_100"))
    // …while numeric bounds (never truncated) and skipping still work:
    val n = spark.sql(s"SELECT min(qty) AS mn, count(*) AS c FROM g_mmtr.`$root`")
    assert(n.collect().head.toSeq == Seq(1, 100L))
    assert(n.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    // A truncated bound is still a valid OUTER bound — an out-of-range
    // string predicate prunes on it and stays row-correct.
    assert(SnapshotStore.read(spark, root)
      .filter($"sku" > "zzz").isEmpty)
  }

  test("MIN over an all-null column is metadata NULL; mixed answerable/unanswerable keeps the scan") {
    val root = freshRoot(); bindCatalog("g_mmn")
    SnapshotStore.commit(spark,
      (1 to 10).map(i => (s"s$i", "a", None: Option[Int]))
        .toDF("sku", "supplier", "qty"), root, "supplier")
    val df = spark.sql(s"SELECT min(qty) AS mn, max(qty) AS mx, " +
      s"count(qty) AS c FROM g_mmn.`$root`")
    assert(df.collect().head.toSeq == Seq(null, null, 0L))
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    // SUM has no metadata answer → the whole aggregate keeps the scan
    // (one unanswerable expression disables the rewrite, not just itself).
    val mixed = spark.sql(
      s"SELECT min(qty) AS mn, sum(qty) AS s FROM g_mmn.`$root`")
    assert(mixed.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(mixed.collect().head.toSeq == Seq(null, null))
  }

  test("MIN/MAX with a filter or DISTINCT or on a DV table keeps the scan and stays correct") {
    val root = freshRoot(); bindCatalog("g_mmf")
    seed(root)
    val f = spark.sql(s"SELECT max(qty) AS mx FROM g_mmf.`$root` WHERE qty < 7")
    assert(f.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(f.head().getInt(0) == 6)
    SnapshotStore.setProperties(spark, root,
      Seq("graft.enableDeletionVectors" -> "true"))
    spark.sql(s"DELETE FROM g_mmf.`$root` WHERE qty = 100")
    val dv = spark.sql(s"SELECT max(qty) AS mx FROM g_mmf.`$root`")
    assert(!dv.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(dv.head().getInt(0) == 99,
      "a DV'd max row must not survive through a stale metadata answer")
  }

  test("time travel answers from THAT version's sidecar, still metadata-only") {
    val root = freshRoot(); bindCatalog("g_cnttt")
    seed(root)
    spark.sql(s"DELETE FROM g_cnttt.`$root` WHERE supplier = 'a'")
    val cur = spark.sql(s"SELECT count(*) AS n, max(qty) AS mx FROM g_cnttt.`$root`")
    assert(cur.collect().head.toSeq == Seq(50L, 99),
      "current version: b-rows only (odd qty, max 99)")
    val v1 = spark.sql(
      s"SELECT count(*) AS n, max(qty) AS mx FROM g_cnttt.`$root` VERSION AS OF 1")
    assert(v1.collect().head.toSeq == Seq(100L, 100))
    Seq(cur, v1).foreach { df =>
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("LocalTableScan") && !phys.contains("FileScan"), phys)
    }
  }

  test("SHOW PARTITIONS row_count matches per-partition counts and tracks partition deletes") {
    val root = freshRoot(); bindCatalog("g_cntp")
    seed(root)
    val before = spark.sql(s"SHOW PARTITIONS g_cntp.`$root`")
      .as[(String, Long)].collect().toMap
    assert(before == Map("supplier=a" -> 50L, "supplier=b" -> 50L), before.toString)
    spark.sql(s"DELETE FROM g_cntp.`$root` WHERE supplier = 'a'")
    val after = spark.sql(s"SHOW PARTITIONS g_cntp.`$root`")
      .as[(String, Long)].collect().toMap
    assert(after == Map("supplier=b" -> 50L), after.toString)
    assert(SnapshotStore.rowCount(spark, root).contains(50L))
  }
}
