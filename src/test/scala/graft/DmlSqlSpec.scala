package graft

import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** DML completeness on snapshot tables: DELETE FROM / UPDATE / COPY
  * INTO — the statements Delta users type beyond MERGE — routed
  * through GraftSqlParser to SnapshotStore.deleteWhere / updateWhere /
  * copyInto. */
class DmlSqlSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (String, String, Int)*) =
    rows.toDF("product_id", "supplier", "qty")

  test("CTAS creates a snapshot table from a query; create-only; non-graft passes through") {
    val dir = freshDir()
    bindCatalog("graft_ctas")
    val root = s"$dir/t"
    table(("p1", "a", 1), ("p2", "b", 2), ("p3", "a", 3))
      .createOrReplaceTempView("ctas_src")
    val out = spark.sql(s"CREATE TABLE graft_ctas.`$root` " +
      "PARTITIONED BY (supplier) AS SELECT * FROM ctas_src WHERE qty < 3")
      .collect()
    assert(out.head.getLong(1) == 1L)
    assert(SnapshotStore.read(spark, root).select("product_id")
      .as[String].collect().toSet == Set("p1", "p2"))
    assert(SnapshotStore.partitionColumn(spark, root, 1L).contains("supplier"))
    // Create-only: a second CTAS onto the same root fails loudly.
    val e = intercept[IllegalStateException] {
      spark.sql(s"CREATE TABLE graft_ctas.`$root` " +
        "PARTITIONED BY (supplier) AS SELECT * FROM ctas_src")
    }
    assert(e.getMessage.contains("create-only"))
    // A query lacking the declared partition column fails loudly.
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE graft_ctas.`$dir/t2` " +
        "PARTITIONED BY (supplier) AS SELECT product_id FROM ctas_src")
    }
    assert(e2.getMessage.contains("partition column"))
    // Non-graft CTAS flows to the session parser untouched (plain
    // in-catalog managed table).
    spark.sql("CREATE TABLE ctas_plain_tbl AS SELECT 1 AS x")
    assert(spark.table("ctas_plain_tbl").count() == 1)
    spark.sql("DROP TABLE ctas_plain_tbl")
  }

  test("plain CREATE TABLE makes an empty v1; INSERT INTO fills it; create-only vs CTAS") {
    val dir = freshDir()
    bindCatalog("graft_ct")
    val root = s"$dir/t"
    val out = spark.sql(s"CREATE TABLE graft_ct.`$root` " +
      "(product_id STRING, supplier STRING, qty INT) " +
      "USING `graft-snapshot` PARTITIONED BY (supplier)").collect()
    assert(out.head.getLong(1) == 1L)
    // Empty but readable, with the declared schema and recorded spec.
    val empty = SnapshotStore.read(spark, root)
    assert(empty.columns.toSeq == Seq("product_id", "supplier", "qty"))
    assert(empty.count() == 0)
    assert(SnapshotStore.partitionColumn(spark, root, 1L).contains("supplier"))
    // INSERT INTO the empty table works immediately.
    spark.sql(s"INSERT INTO graft_ct.`$root` " +
      "VALUES ('p1', 'a', 1), ('p2', 'b', 2)").collect()
    assert(SnapshotStore.read(spark, root).select("product_id")
      .as[String].collect().toSet == Set("p1", "p2"))
    // Create-only: a second CREATE (or a CTAS) onto the same root fails.
    val e = intercept[IllegalStateException] {
      spark.sql(s"CREATE TABLE graft_ct.`$root` (x INT) " +
        "USING `graft-snapshot` PARTITIONED BY (x)").collect()
    }
    assert(e.getMessage.contains("create-only"))
    // Multi-column partition spec + missing-column validation.
    val root2 = s"$dir/t2"
    spark.sql(s"CREATE TABLE graft_ct.`$root2` " +
      "(sku STRING, supplier STRING, status STRING, qty DECIMAL(10,2)) " +
      "USING `graft-snapshot` PARTITIONED BY (supplier, status)").collect()
    assert(SnapshotStore.partitionColumn(spark, root2, 1L)
      .contains("supplier,status"))
    spark.sql(s"INSERT INTO graft_ct.`$root2` " +
      "VALUES ('s1', 'a', 'active', 1.50)").collect()
    assert(SnapshotStore.manifest(spark, root2, 2L)
      .map(_.partition).toSet == Set("a/active"))
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE graft_ct.`$dir/t3` (x INT) " +
        "USING `graft-snapshot` PARTITIONED BY (nope)").collect()
    }
    assert(e2.getMessage.contains("not in the declared schema"))
  }

  test("creation-time CLUSTER BY: DDL then INSERT writes bucketed with zero layout rewrites") {
    val dir = freshDir()
    bindCatalog("graft_cbct")
    val tRoot = s"$dir/orders"; val dRoot = s"$dir/cust"
    // Empty CREATE records the spec at v1 …
    spark.sql(s"CREATE TABLE graft_cbct.`$tRoot` " +
      "(o_id BIGINT, cust BIGINT, qty INT, part STRING) " +
      "USING `graft-snapshot` PARTITIONED BY (part) " +
      "CLUSTER BY (cust) INTO 4 BUCKETS").collect()
    assert(SnapshotStore.tablePropertiesMap(spark, tRoot)
      .contains(SnapshotStore.BucketSpecProp),
      "the CLUSTER BY spec must ride version 1")
    // … so the FIRST data commit already writes bucketed files.
    (0 until 200).map(i => (i.toLong, (i % 37).toLong, i % 10, s"p${i % 2}"))
      .toDF("o_id", "cust", "qty", "part").createOrReplaceTempView("cbct_src")
    spark.sql(s"INSERT INTO graft_cbct.`$tRoot` SELECT * FROM cbct_src")
    assert(SnapshotStore.manifest(spark, tRoot, 2L).forall(e =>
      SnapshotStore.bucketIdOf(new org.apache.hadoop.fs.Path(e.path)
        .getName).exists(_ < 4)),
      "the first INSERT must write bucket-stamped files")
    // CTAS with CLUSTER BY + SORTED BY: version 1's own data files
    // carry the layout in the same atomic commit.
    (0 until 37).map(i => (i.toLong, s"seg${i % 3}", "all"))
      .toDF("cust", "seg", "part").createOrReplaceTempView("cbct_cust")
    spark.sql(s"CREATE TABLE graft_cbct.`$dRoot` PARTITIONED BY (part) " +
      "CLUSTER BY (cust) SORTED BY (cust) INTO 4 BUCKETS " +
      "AS SELECT * FROM cbct_cust").collect()
    assert(SnapshotStore.manifest(spark, dRoot, 1L).forall(e =>
      SnapshotStore.bucketIdOf(new org.apache.hadoop.fs.Path(e.path)
        .getName).exists(_ < 4)),
      "CTAS CLUSTER BY must write version 1 already bucketed")
    // The co-bucketed join + bucket-keyed aggregation plans with ZERO
    // exchanges on bucketed scans — and NO cluster-by layout rewrite
    // ever ran (the whole point of the creation-time spelling).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val agg = SnapshotStore.table(spark, tRoot)
        .join(SnapshotStore.table(spark, dRoot), "cust")
        .groupBy("cust").agg(sum(col("qty")).as("s"), count(lit(1)).as("n"))
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"creation-time co-bucketed join+agg must plan shuffle-free:\n$p")
      assert(p.contains("Bucketed: true"), s"scans must be bucketed:\n$p")
      val direct = (0 until 200).groupBy(i => (i % 37).toLong)
        .map { case (c, is) => (c, is.map(_ % 10).sum.toLong, is.size.toLong) }
        .toSet
      assert(agg.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == direct)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    Seq(tRoot, dRoot).foreach { r =>
      val ops = spark.sql(s"DESCRIBE HISTORY graft_cbct.`$r`")
        .select("operation").as[String].collect().toSeq
      assert(!ops.contains("cluster-by"),
        s"no day-two layout rewrite may appear in $r's history: $ops")
    }
    // A CLUSTER BY column outside the schema refuses loudly.
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE graft_cbct.`$dir/bad` (x INT, part STRING) " +
        "USING `graft-snapshot` PARTITIONED BY (part) " +
        "CLUSTER BY (nope) INTO 4 BUCKETS").collect()
    }
    assert(e.getMessage.contains("nope"))
  }

  test("INSERT INTO accepts a parenthesized query AND named column lists") {
    val dir = freshDir()
    bindCatalog("graft_ins")
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    // A parenthesized query is valid SQL, not a column list.
    spark.sql(s"INSERT INTO graft_ins.`$root` " +
      "(SELECT 'p2', 'b', 2)").collect()
    assert(SnapshotStore.read(spark, root).count() == 2)
    // A named column list maps by name, null-fills the rest — here the
    // list is REORDERED relative to the table schema.
    spark.sql(s"INSERT INTO graft_ins.`$root` " +
      "(supplier, product_id) VALUES ('c', 'p3')").collect()
    val got = SnapshotStore.read(spark, root)
      .select("product_id", "supplier", "qty").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)))).toSet
    assert(got == Set(("p1", "a", Some(1)), ("p2", "b", Some(2)),
      ("p3", "c", None)), got.toString)
    // Omitting the partition column is refused (null-sentinel routing
    // is a bug, not a default); unknown names are refused.
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"INSERT INTO graft_ins.`$root` " +
        "(product_id, qty) VALUES ('p4', 4)").collect()
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"INSERT INTO graft_ins.`$root` " +
        "(product_id, supplier, nope) VALUES ('p4', 'd', 4)").collect()
    }
    assert(e2.getMessage.contains("unknown column"), e2.getMessage)
  }

  test("ALTER TABLE ADD COLUMNS: comma-bearing types parse; a list widens in ONE commit") {
    val dir = freshDir()
    bindCatalog("graft_addc")
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1)), root, "supplier")
    // Comma-bearing TYPES parse (decimal/map/struct).
    spark.sql(s"ALTER TABLE graft_addc.`$root` ADD COLUMN price DECIMAL(10,2)")
      .collect()
    spark.sql(s"ALTER TABLE graft_addc.`$root` ADD COLUMN tags MAP<STRING,STRING>")
      .collect()
    assert(SnapshotStore.table(spark, root).columns
      .count(Set("price", "tags")) == 2)
    // A multi-column list is ONE atomic metadata commit.
    val v = spark.sql(s"ALTER TABLE graft_addc.`$root` " +
      "ADD COLUMNS (a INT, b STRUCT<x: INT, y: STRING>)")
      .collect().head.getLong(1)
    assert(SnapshotStore.currentVersion(spark, root).contains(v))
    assert(SnapshotStore.table(spark, root).columns
      .count(Set("a", "b")) == 2)
    // Duplicate names within the list fail before any commit.
    val before = SnapshotStore.currentVersion(spark, root)
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE graft_addc.`$root` " +
        "ADD COLUMNS (c INT, c STRING)").collect()
    }
    assert(e.getMessage.contains("twice"), e.getMessage)
    assert(SnapshotStore.currentVersion(spark, root) == before)
  }

  test("TRUNCATE TABLE empties as metadata; time travel keeps history; no-op when empty") {
    val dir = freshDir()
    bindCatalog("graft_trunc")
    val root = s"$dir/t"
    SnapshotStore.commit(spark, table(("p1", "a", 1), ("p2", "b", 2)),
      root, "supplier")
    val v = spark.sql(s"TRUNCATE TABLE graft_trunc.`$root`")
      .collect().head.getLong(1)
    assert(v == 2L)
    assert(SnapshotStore.manifest(spark, root, 2L).isEmpty)
    assert(SnapshotStore.read(spark, root).count() == 0)
    // Files stayed on disk: v1 is still time-travelable.
    assert(SnapshotStore.readVersion(spark, root, 1L).count() == 2)
    // Empty table stays writable; truncating empty is a version no-op.
    assert(SnapshotStore.truncate(spark, root) == 2L)
    spark.sql(s"INSERT INTO graft_trunc.`$root` VALUES ('p3', 'c', 3)")
      .collect()
    assert(SnapshotStore.read(spark, root).select("product_id")
      .as[String].collect().toSeq == Seq("p3"))
  }

  test("DELETE FROM WHERE removes TRUE rows, keeps FALSE and NULL rows") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_dml1")
    // qty null for p3: predicate `qty > 10` is NULL there → row kept.
    Seq(("p1", "a", Some(20)), ("p2", "a", Some(5)), ("p3", "b", None))
      .toDF("product_id", "supplier", "qty")
      .write.format("graft-snapshot").option("partitionCol", "supplier")
      .save(root)
    val out = spark.sql(s"DELETE FROM graft_dml1.`$root` WHERE qty > 10")
      .collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L))
    val left = SnapshotStore.read(spark, root)
      .select("product_id").as[String].collect().toSet
    assert(left == Set("p2", "p3"))
  }

  test("DELETE rewrites only partitions holding a match; others carry by reference") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_dml2")
    table(("p1", "a", 1), ("p2", "b", 2), ("p3", "c", 3))
      .write.format("graft-snapshot").option("partitionCol", "supplier")
      .save(root)
    val before = SnapshotStore.manifest(spark, root, 1L)
      .filter(e => e.partition == "b" || e.partition == "c").toSet
    spark.sql(s"DELETE FROM graft_dml2.`$root` WHERE product_id = 'p1'")
    val after = SnapshotStore.manifest(spark, root, 2L)
    // Partition a vanished (all rows deleted); b and c kept the exact
    // same file paths — zero data movement outside the match.
    assert(!after.exists(_.partition == "a"))
    assert(after.filter(e => e.partition == "b" || e.partition == "c").toSet
      == before)
  }

  test("DELETE matching nothing is a version no-op; no WHERE empties the table") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_dml3")
    table(("p1", "a", 1), ("p2", "b", 2))
      .write.format("graft-snapshot").option("partitionCol", "supplier")
      .save(root)
    val noop = spark.sql(
      s"DELETE FROM graft_dml3.`$root` WHERE product_id = 'zzz'").collect()
    assert(noop.head.getLong(1) == 1L)
    val all = spark.sql(s"DELETE FROM graft_dml3.`$root`").collect()
    assert(all.head.getLong(1) == 2L)
    val readBack = SnapshotStore.read(spark, root)
    assert(readBack.count() == 0)
    // Schema survives the full delete (stats-sidecar contract).
    assert(readBack.columns.toSet == Set("product_id", "supplier", "qty"))
  }

  test("UPDATE assignments all see the OLD row (swap is a swap, not a copy)") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_dml4")
    Seq(("p1", "a", 1, 100), ("p2", "a", 2, 200))
      .toDF("product_id", "supplier", "qty", "price")
      .write.format("graft-snapshot").option("partitionCol", "supplier")
      .save(root)
    spark.sql(s"UPDATE graft_dml4.`$root` SET qty = price, price = qty " +
      "WHERE product_id = 'p1'")
    val got = SnapshotStore.read(spark, root)
      .select("product_id", "qty", "price").as[(String, Int, Int)]
      .collect().toSet
    assert(got == Set(("p1", 100, 1), ("p2", 2, 200)))
  }

  test("UPDATE SET/WHERE split is tokenizer-based: ' where ' inside a SET string does not split") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_dml_tok")
    Seq(("p1", "a", "x", 1), ("p2", "a", "y", 2))
      .toDF("product_id", "supplier", "note", "qty")
      .write.format("graft-snapshot").option("partitionCol", "supplier")
      .save(root)
    spark.sql(s"UPDATE graft_dml_tok.`$root` " +
      "SET note = ' where qty then when ' WHERE product_id = 'p1'")
    val got = SnapshotStore.read(spark, root)
      .select("product_id", "note").as[(String, String)].collect().toSet
    assert(got == Set(("p1", " where qty then when "), ("p2", "y")))
    // And OPTIMIZE's WHERE/ZORDER split skips strings the same way.
    val out = spark.sql(s"OPTIMIZE graft_dml_tok.`$root` " +
      "WHERE supplier != ' zorder by (x) ' ZORDER BY (product_id)").collect()
    assert(out.nonEmpty)
    // Double-quoted strings (Spark reads them as literals) and
    // escaped quotes don't split either.
    spark.sql(s"UPDATE graft_dml_tok.`$root` " +
      "SET note = \"x where y\" WHERE product_id = 'p2'")
    spark.sql(s"UPDATE graft_dml_tok.`$root` " +
      """SET note = 'don\'t where' WHERE product_id = 'p1'""")
    val got2 = SnapshotStore.read(spark, root)
      .select("product_id", "note").as[(String, String)].collect().toSet
    assert(got2 == Set(("p1", "don't where"), ("p2", "x where y")), got2)
  }

  test("UPDATE casts back to the column's type and leaves non-matching rows bit-stable") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_dml5")
    table(("p1", "a", 10), ("p2", "b", 20))
      .write.format("graft-snapshot").option("partitionCol", "supplier")
      .save(root)
    // 1.5 * qty is a double; the column stays Int (truncating cast).
    spark.sql(s"UPDATE graft_dml5.`$root` SET qty = qty * 1.5 " +
      "WHERE supplier = 'a'")
    val df = SnapshotStore.read(spark, root)
    assert(df.schema("qty").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(df.select("product_id", "qty").as[(String, Int)].collect().toSet
      == Set(("p1", 15), ("p2", 20)))
    // Partition b never matched → carried by reference.
    assert(SnapshotStore.manifest(spark, root, 2L)
      .filter(_.partition == "b").toSet ==
      SnapshotStore.manifest(spark, root, 1L)
        .filter(_.partition == "b").toSet)
  }

  test("UPDATE may move rows across partitions (SET on the partition column)") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_dml6")
    table(("p1", "a", 1), ("p2", "a", 2), ("p3", "b", 3))
      .write.format("graft-snapshot").option("partitionCol", "supplier")
      .save(root)
    spark.sql(s"UPDATE graft_dml6.`$root` SET supplier = 'b' " +
      "WHERE product_id = 'p1'")
    val got = SnapshotStore.read(spark, root)
      .select("product_id", "supplier").as[(String, String)].collect().toSet
    assert(got == Set(("p1", "b"), ("p2", "a"), ("p3", "b")))
    // The moved row's file lives under partition b in the manifest.
    val m = SnapshotStore.manifest(spark, root, 2L)
    assert(m.count(_.partition == "b") >= 2) // carried b file + new file
  }

  test("UPDATE rejects unknown columns and double assignment loudly") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_dml7")
    table(("p1", "a", 1)).write.format("graft-snapshot")
      .option("partitionCol", "supplier").save(root)
    val e1 = intercept[IllegalArgumentException](
      spark.sql(s"UPDATE graft_dml7.`$root` SET nope = 1"))
    assert(e1.getMessage.contains("unknown column 'nope'"))
    val e2 = intercept[IllegalArgumentException](
      spark.sql(s"UPDATE graft_dml7.`$root` SET qty = 1, qty = 2"))
    assert(e2.getMessage.contains("assigns a column twice"))
  }

  test("SET-list splitting respects parens and quoted strings") {
    val got = org.apache.spark.sql.graft.GraftSqlParser.assignments(
      "a = concat(x, ',', y), `b c` = 'w = 3' , d = (e >= 2)")
    assert(got == Seq(("a", "concat(x, ',', y)"), ("b c", "'w = 3'"),
      ("d", "(e >= 2)")))
    // Double-quoted strings and backslash escapes follow the lexer.
    assert(org.apache.spark.sql.graft.GraftSqlParser.assignments(
      """note = "a,b", k = 1""") == Seq(("note", "\"a,b\""), ("k", "1")))
    assert(org.apache.spark.sql.graft.GraftSqlParser.assignments(
      """note = 'don\'t, x'""") == Seq(("note", """'don\'t, x'""")))
  }

  test("DELETE/UPDATE on non-graft tables flow to the session parser untouched") {
    // No graft catalog named `spark_catalog` → our patterns must not
    // intercept; Spark's own analyzer reports the missing table.
    val e = intercept[Exception](
      spark.sql("DELETE FROM spark_catalog.default.no_such_tbl WHERE x = 1"))
    assert(e.getMessage.contains("no_such_tbl") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
    val e2 = intercept[Exception](
      spark.sql("UPDATE spark_catalog.default.no_such_tbl SET x = 1"))
    assert(e2.getMessage.contains("no_such_tbl") ||
      e2.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("COPY INTO loads each source file exactly once across re-runs") {
    val dir = freshDir()
    val root = s"$dir/t"
    val srcDir = s"$dir/incoming"
    bindCatalog("graft_dml8")
    // Two arrival waves of parquet files.
    table(("p1", "a", 1), ("p2", "b", 2)).repartition(1)
      .write.parquet(s"$srcDir/batch1")
    table(("p3", "a", 3)).repartition(1).write.parquet(s"$srcDir/batch2")
    // First COPY needs a table: create via the Scala API with partCol.
    val (v1, n1) = SnapshotStore.copyInto(spark, root, srcDir,
      partitionCol = Some("supplier"))
    assert(v1 == 1L && n1 == 2) // one data file per batch dir
    assert(SnapshotStore.read(spark, root).count() == 3)
    // Re-run with nothing new: version unchanged, zero files.
    val rerun = spark.sql(
      s"COPY INTO graft_dml8.`$root` FROM '$srcDir' FILEFORMAT = PARQUET")
      .collect().head
    assert(rerun.getLong(1) == 1L && rerun.getLong(2) == 0L)
    // Third wave arrives; only IT loads, rows append (no dedup — COPY
    // is an unkeyed append, same as Delta).
    table(("p4", "c", 4)).repartition(1).write.parquet(s"$srcDir/batch3")
    val second = spark.sql(
      s"COPY INTO graft_dml8.`$root` FROM '$srcDir' FILEFORMAT = PARQUET")
      .collect().head
    assert(second.getLong(1) == 2L && second.getLong(2) == 1L)
    assert(SnapshotStore.read(spark, root)
      .select("product_id").as[String].collect().toSet ==
      Set("p1", "p2", "p3", "p4"))
    // Append carried every v1 file by reference.
    val m1 = SnapshotStore.manifest(spark, root, 1L).toSet
    assert(m1.subsetOf(SnapshotStore.manifest(spark, root, 2L).toSet))
  }

  test("UPDATE can SET a column added by schema evolution in pre-evolution partitions") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_dml10")
    table(("p1", "a", 1), ("p2", "b", 2))
      .write.format("graft-snapshot").option("partitionCol", "supplier")
      .save(root)
    // Evolve: a merge touching ONLY partition a adds `flag`; partition
    // b's file predates the column.
    SnapshotStore.mergeCommitOrdered(spark,
      Seq(("p1", "a", 1, "x")).toDF("product_id", "supplier", "qty", "flag"),
      root, "product_id", Seq.empty, "supplier")
    spark.sql(s"UPDATE graft_dml10.`$root` SET flag = 'y' " +
      "WHERE product_id = 'p2'")
    val got = SnapshotStore.read(spark, root)
      .select("product_id", "flag").as[(String, String)].collect().toSet
    assert(got == Set(("p1", "x"), ("p2", "y")))
  }

  test("COPY INTO idempotence survives vacuum (the ledger carries forward)") {
    val dir = freshDir()
    val root = s"$dir/t"
    val srcDir = s"$dir/incoming"
    table(("p1", "a", 1), ("p2", "b", 2)).repartition(1)
      .write.parquet(s"$srcDir/batch1")
    val (v1, n1) = SnapshotStore.copyInto(spark, root, srcDir,
      partitionCol = Some("supplier"))
    assert(v1 == 1L && n1 == 1)
    // Push the copy commit out of the retained window.
    SnapshotStore.mergeCommit(spark, table(("p3", "a", 3)), root,
      "product_id", "qty", "supplier")
    SnapshotStore.mergeCommit(spark, table(("p4", "b", 4)), root,
      "product_id", "qty", "supplier")
    SnapshotStore.vacuum(spark, root, keep = 2, retainMillis = 0)
    // The re-fired COPY must STILL be a no-op: the loaded-file ledger
    // carries forward in every manifest, so vacuuming the manifest
    // that performed the load cannot re-enable double-loading.
    val (v2, n2) = SnapshotStore.copyInto(spark, root, srcDir)
    assert(n2 == 0, s"vacuum re-enabled double-loading ($n2 files reloaded)")
    assert(v2 == 3L)
    assert(SnapshotStore.read(spark, root).count() == 4)
  }

  test("COPY INTO a fresh table without a partition column fails loudly") {
    val dir = freshDir()
    table(("p1", "a", 1)).repartition(1).write.parquet(s"$dir/incoming")
    val e = intercept[IllegalStateException](
      SnapshotStore.copyInto(spark, s"$dir/t", s"$dir/incoming"))
    assert(e.getMessage.contains("partition column"))
  }

  test("INSERT INTO appends VALUES and SELECT rows positionally, carrying old files") {
    val root = s"${freshDir()}/t"
    bindCatalog("graft_ins")
    table(("p1", "a", 1)).write.format("graft-snapshot")
      .option("partitionCol", "supplier").save(root)
    val before = SnapshotStore.manifest(spark, root, 1L).map(_.path).toSet
    val out = spark.sql(s"INSERT INTO graft_ins.`$root` " +
      "VALUES ('p2', 'b', 2), ('p3', 'a', 3)").collect()
    assert(out.head.getLong(1) == 2L)
    // SELECT-shaped insert, with a cast (string '4' -> int qty).
    spark.sql(s"INSERT INTO graft_ins.`$root` " +
      "SELECT 'p4', 'c', '4'")
    val got = SnapshotStore.read(spark, root)
      .select("product_id", "supplier", "qty")
      .as[(String, String, Int)].collect().toSet
    assert(got == Set(("p1", "a", 1), ("p2", "b", 2), ("p3", "a", 3),
      ("p4", "c", 4)))
    // Appends carried v1's files by reference.
    assert(before.subsetOf(
      SnapshotStore.manifest(spark, root, 3L).map(_.path).toSet))
    assert(SnapshotStore.manifestOperation(spark, root, 2L).contains("append"))
    // Column-count mismatch fails loudly.
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO graft_ins.`$root` VALUES ('p5', 'x')"))
    assert(e.getMessage.contains("columns"))
    // A non-graft INSERT flows to the session parser untouched.
    spark.sql("CREATE OR REPLACE TEMP VIEW ins_plain AS SELECT 1 AS x")
    val e2 = intercept[Exception](spark.sql(
      "INSERT INTO ins_plain VALUES (2)"))
    assert(!e2.getMessage.contains("graft"))
  }
}
