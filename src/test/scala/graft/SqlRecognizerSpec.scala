package graft

import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** Tokenizer-based statement recognition (GraftSqlParser.recognize):
  * statements match as token sequences — quoted keywords, nested
  * type-DDL parens, and path-shaped backticked identifiers can never
  * confuse dispatch — plus the CLUSTER BY DDL surface over
  * SnapshotStore.bucketTable. */
class SqlRecognizerSpec extends SparkSpec {
  import spark.implicits._

  test("ALTER TABLE CLUSTER BY clusters, maintains, and unsets idempotently") {
    val dir = freshDir(); val root = s"$dir/t"
    bindCatalog("sqlrec")
    SnapshotStore.commit(spark,
      (0 until 200).map(i => (i.toLong, s"v$i", (i % 2).toString))
        .toDF("k", "v", "part"), root, "part")
    spark.sql(s"ALTER TABLE sqlrec.`$root` CLUSTER BY (k) INTO 8 BUCKETS")
    assert(SnapshotStore.tablePropertiesMap(spark, root)
      .get(SnapshotStore.BucketSpecProp).contains("8;k:BIGINT"))
    val cur = SnapshotStore.currentVersion(spark, root).get
    assert(SnapshotStore.manifest(spark, root, cur).forall(e =>
      SnapshotStore.bucketIdOf(
        new org.apache.hadoop.fs.Path(e.path).getName).exists(_ < 8)))
    // SQL INSERT rides the maintained layout.
    spark.sql(s"INSERT INTO sqlrec.`$root` VALUES (1000, 'x', '0')")
    val v2 = SnapshotStore.currentVersion(spark, root).get
    assert(SnapshotStore.manifest(spark, root, v2).forall(e =>
      SnapshotStore.bucketIdOf(
        new org.apache.hadoop.fs.Path(e.path).getName).isDefined))
    // CLUSTER BY NONE unsets; a second NONE is an idempotent no-op.
    spark.sql(s"ALTER TABLE sqlrec.`$root` CLUSTER BY NONE")
    assert(!SnapshotStore.tablePropertiesMap(spark, root)
      .contains(SnapshotStore.BucketSpecProp))
    val after = SnapshotStore.currentVersion(spark, root).get
    spark.sql(s"ALTER TABLE sqlrec.`$root` CLUSTER BY NONE")
    assert(SnapshotStore.currentVersion(spark, root).contains(after))
    assert(SnapshotStore.read(spark, root).count() == 201)
  }

  test("quoted keywords and path identifiers never confuse dispatch") {
    val dir = freshDir(); val root = s"$dir/weird.name-dir/t"
    bindCatalog("sqlrec2")
    SnapshotStore.commit(spark,
      Seq((1L, "WHERE; DROP TABLE", "p"), (2L, "WHEN MATCHED THEN", "p"),
        (3L, "plain", "p")).toDF("k", "v", "part"), root, "part")
    // String literals full of keywords (and an escaped quote) ride
    // through DELETE recognition untouched.
    spark.sql(s"DELETE FROM sqlrec2.`$root` " +
      "WHERE v = 'WHERE; DROP TABLE' OR v = 'it''s'")
    assert(SnapshotStore.read(spark, root).select("k").as[Long]
      .collect().toSet == Set(2L, 3L))
    // UPDATE with keyword-laden strings in SET and WHERE.
    spark.sql(s"UPDATE sqlrec2.`$root` SET v = 'SET WHERE USING ON' " +
      "WHERE v = 'WHEN MATCHED THEN'")
    assert(SnapshotStore.read(spark, root).filter(col("k") === 2L)
      .select("v").as[String].head() == "SET WHERE USING ON")
    // Statements survive newlines, odd spacing, and a trailing ';'.
    val hist = spark.sql(s"DESCRIBE   HISTORY\n  sqlrec2.`$root` ;").collect()
    assert(hist.length >= 3)
  }

  test("nested type-DDL parens parse in CREATE TABLE; non-graft statements delegate") {
    val dir = freshDir()
    bindCatalog("sqlrec3")
    spark.sql(s"CREATE TABLE sqlrec3.`$dir/t` (" +
      "k BIGINT, price DECIMAL(10,2), tags MAP<STRING, ARRAY<INT>>, " +
      "nested STRUCT<a: INT, b: DECIMAL(20,4)>) " +
      "USING graft_snapshot PARTITIONED BY (k)")
    val sc = SnapshotStore.read(spark, s"$dir/t").schema
    assert(sc.fieldNames.toSeq == Seq("k", "price", "tags", "nested"))
    assert(sc("price").dataType.sql == "DECIMAL(10,2)")
    // A DELETE aimed at a non-graft table flows to the session parser
    // (which errors with ITS table-not-found, not a graft error).
    val e = intercept[Exception] {
      spark.sql("DELETE FROM some_db.some_table WHERE x = 1")
    }
    assert(!e.getMessage.contains("graft"), e.getMessage)
    // A graft-catalog MERGE outside the supported grammar errors HERE
    // with the supported shapes.
    val m = intercept[IllegalArgumentException] {
      spark.sql(s"MERGE INTO sqlrec3.`$dir/t` WHEN MATCHED THEN DELETE")
    }
    assert(m.getMessage.contains("graft MERGE supports"))
    // A unit-less RETAIN must NOT silently mean hours — unrecognized,
    // it falls to the session parser, which has no VACUUM at all.
    val vErr = intercept[Exception] {
      spark.sql(s"VACUUM sqlrec3.`$dir/t` RETAIN 7")
    }
    assert(!vErr.getMessage.toLowerCase.contains("retain 7 hours"))
  }

  test("quoted commas, escaped quotes and angle-bracket types split as the lexer reads them") {
    bindCatalog("sqlrec4")
    // (k, note, tag, part), partitioned by part; CREATE cases start empty.
    def seeded(): String = {
      val root = s"${freshDir()}/t"
      SnapshotStore.commit(spark, Seq((1L, "n1", "t1", "p"), (2L, "n2", "t2", "p"))
        .toDF("k", "note", "tag", "part"), root, "part")
      root
    }
    def rowsOf(root: String): Set[(Long, String, String, String)] =
      SnapshotStore.read(spark, root).select(col("k").cast("long"),
        col("note"), col("tag"), col("part"))
        .as[(Long, String, String, String)].collect().toSet
    def fields(root: String): Seq[String] =
      SnapshotStore.read(spark, root).schema.fieldNames.toSeq
    // (seed a table?, statement with $t for the table, check)
    val cases: Seq[(Boolean, String, String => Unit)] = Seq(
      (true, """UPDATE $t SET note = "a,b" WHERE k = 1""", r =>
        assert(rowsOf(r) == Set((1L, "a,b", "t1", "p"), (2L, "n2", "t2", "p")))),
      (true, """UPDATE $t SET note = 'don\'t, x' WHERE k = 2""", r =>
        assert(rowsOf(r) == Set((1L, "n1", "t1", "p"), (2L, "don't, x", "t2", "p")))),
      (true, """MERGE INTO $t t USING (SELECT 3L AS k) s ON t.k = s.k
               |WHEN NOT MATCHED THEN INSERT (k, note, tag, part)
               |VALUES (s.k, "q,r", 'x', 'p')""".stripMargin, r =>
        assert(rowsOf(r).contains((3L, "q,r", "x", "p")) && rowsOf(r).size == 3)),
      (true, "ALTER TABLE $t ADD COLUMNS (c STRING COMMENT 'a, b')", r =>
        assert(fields(r) == Seq("k", "note", "tag", "part", "c"))),
      (true, "ALTER TABLE $t ADD COLUMNS (c1 INT COMMENT 'x < y', d1 INT)", r =>
        assert(fields(r) == Seq("k", "note", "tag", "part", "c1", "d1"))),
      (false, "CREATE TABLE $t (id INT, m MAP<STRING, INT> DEFAULT map('a', 1), " +
          "s STRING) USING graft-snapshot PARTITIONED BY (s)", r => {
        assert(fields(r) == Seq("id", "m", "s"))
        spark.sql(s"INSERT INTO sqlrec4.`$r` (id, s) VALUES (1, 'x')")
        assert(SnapshotStore.read(spark, r).select("m").as[Map[String, Int]]
          .collect().toSeq == Seq(Map("a" -> 1)))
      }),
      (false, """CREATE TABLE $t (id INT, note STRING DEFAULT 'it\'s x', s STRING)
                |USING graft-snapshot PARTITIONED BY (s)""".stripMargin, r => {
        assert(fields(r) == Seq("id", "note", "s"))
        spark.sql(s"INSERT INTO sqlrec4.`$r` (id, s) VALUES (1, 'x')")
        assert(SnapshotStore.read(spark, r).select("note").as[String]
          .collect().toSeq == Seq("it's x"))
      }),
      (true, """INSERT INTO $t (SELECT 9L, 'a', "x)", 'p')""", r =>
        assert(rowsOf(r).contains((9L, "a", "x)", "p")) && rowsOf(r).size == 3)),
      (true, "INSERT OVERWRITE $t PARTITION (part = 'a\\'b, c') SELECT 5L, 'n5', 't5'", r =>
        assert(rowsOf(r) == Set((1L, "n1", "t1", "p"), (2L, "n2", "t2", "p"),
          (5L, "n5", "t5", "a'b, c")))))
    cases.foreach { case (seed, stmt, check) =>
      val root = if (seed) seeded() else s"${freshDir()}/t"
      val sql = stmt.replace("$t", s"sqlrec4.`$root`")
      withClue(s"$sql: ") {
        spark.sql(sql)
        check(root)
      }
    }
  }
}
