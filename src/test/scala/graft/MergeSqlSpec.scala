package graft

import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** The richer `MERGE INTO` grammar: conditional WHEN clauses,
  * column-level SET, MATCHED-DELETE (the canonical Delta CDC-apply
  * statement), composite ON keys — all executed as ONE atomic
  * snapshot commit. */
class MergeSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${freshDir()}/t"

  private def table(rows: (String, String, Int)*) =
    rows.toDF("sku", "supplier", "qty")

  test("CDC-apply: MATCHED-AND-DELETE + column SET + INSERT * in one atomic commit") {
    val root = freshRoot()
    bindCatalog("g_cdc")
    SnapshotStore.commit(spark, table(
      ("s1", "a", 1), ("s2", "a", 2), ("s3", "b", 3)), root, "supplier")
    // The canonical CDC batch: a delete flag, updates, and an insert.
    Seq(("s1", "a", 0, true), ("s2", "a", 20, false), ("s4", "b", 40, false))
      .toDF("sku", "supplier", "qty", "deleted")
      .createOrReplaceTempView("cdc_batch")
    val before = SnapshotStore.currentVersion(spark, root).get
    val out = spark.sql(
      s"MERGE INTO g_cdc.`$root` t USING cdc_batch s ON t.sku = s.sku " +
        "WHEN MATCHED AND s.deleted THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET qty = s.qty " +
        "WHEN NOT MATCHED AND NOT s.deleted THEN INSERT *").collect()
    // ONE new version for the whole statement — a reader can never see
    // the updated-but-not-yet-deleted middle state.
    assert(out.head.getLong(1) == before + 1)
    assert(SnapshotStore.currentVersion(spark, root).contains(before + 1))
    val got = SnapshotStore.read(spark, root)
      .select("sku", "supplier", "qty").as[(String, String, Int)]
      .collect().toSet
    assert(got == Set(("s2", "a", 20), ("s3", "b", 3), ("s4", "b", 40)),
      got.toString)
    // The source-only `deleted` column must NOT leak into the table
    // (no SET *, so no schema evolution).
    assert(!SnapshotStore.read(spark, root).columns.contains("deleted"))
  }

  test("conditional UPDATE guards with s./t. expressions; first clause wins") {
    val root = freshRoot()
    bindCatalog("g_guard")
    SnapshotStore.commit(spark, table(("s1", "a", 5), ("s2", "a", 9)),
      root, "supplier")
    table(("s1", "a", 7), ("s2", "a", 3)).createOrReplaceTempView("guard_src")
    // Only rows where the source qty beats the target's update.
    spark.sql(s"MERGE INTO g_guard.`$root` t USING guard_src s " +
      "ON t.sku = s.sku " +
      "WHEN MATCHED AND s.qty > t.qty THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    val got = SnapshotStore.read(spark, root)
      .select("sku", "qty").as[(String, Int)].collect().toSet
    assert(got == Set(("s1", 7), ("s2", 9)), got.toString)
  }

  test("column-level SET evaluates against the OLD row (t. and s. both in scope)") {
    val root = freshRoot()
    bindCatalog("g_set")
    SnapshotStore.commit(spark, table(("s1", "a", 10)), root, "supplier")
    table(("s1", "a", 5)).createOrReplaceTempView("set_src")
    spark.sql(s"MERGE INTO g_set.`$root` t USING set_src s ON t.sku = s.sku " +
      "WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    assert(SnapshotStore.read(spark, root)
      .select("qty").as[Int].collect().toSeq == Seq(15))
  }

  test("composite ON key: t.supplier = s.supplier AND t.sku = s.sku") {
    val root = freshRoot()
    bindCatalog("g_comp")
    // sku alone is ambiguous: s1 exists under two suppliers.
    SnapshotStore.commit(spark, table(
      ("s1", "a", 1), ("s1", "b", 2)), root, "supplier")
    table(("s1", "a", 10), ("s9", "b", 90)).createOrReplaceTempView("comp_src")
    spark.sql(s"MERGE INTO g_comp.`$root` t USING comp_src s " +
      "ON t.supplier = s.supplier AND t.sku = s.sku " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    val got = SnapshotStore.read(spark, root)
      .select("sku", "supplier", "qty").as[(String, String, Int)]
      .collect().toSet
    assert(got == Set(("s1", "a", 10), ("s1", "b", 2), ("s9", "b", 90)),
      got.toString)
  }

  test("SET * schema evolution composes with a DELETE clause in one commit") {
    val root = freshRoot()
    bindCatalog("g_evo")
    SnapshotStore.commit(spark, table(
      ("s1", "a", 1), ("s2", "a", 2), ("s3", "b", 3)), root, "supplier")
    // Source carries a NEW column; SET * evolves the schema while a
    // guarded DELETE removes s3 — one atomic commit.
    Seq(("s1", "a", 10, "fresh"), ("s3", "b", 0, "stale"))
      .toDF("sku", "supplier", "qty", "note")
      .createOrReplaceTempView("evo_src")
    val v = spark.sql(s"MERGE INTO g_evo.`$root` t USING evo_src s " +
      "ON t.sku = s.sku " +
      "WHEN MATCHED AND s.note = 'stale' THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect().head.getLong(1)
    assert(v == 2L)
    val got = SnapshotStore.read(spark, root)
      .select("sku", "qty", "note")
      .collect().map(r => (r.getString(0), r.getInt(1),
        Option(r.getString(2)))).toSet
    // s1 evolved with the note; s2 carried (note null-fills); s3 gone.
    assert(got == Set(("s1", 10, Some("fresh")), ("s2", 2, None)),
      got.toString)
  }

  test("WHEN NOT MATCHED BY SOURCE: full-sync DELETE and t.-scoped UPDATE legs") {
    val root = freshRoot()
    bindCatalog("g_bsrc")
    SnapshotStore.commit(spark, table(
      ("s1", "a", 1), ("s2", "a", 2), ("s3", "b", 3), ("s4", "b", 4)),
      root, "supplier")
    table(("s1", "a", 10), ("s5", "b", 50)).createOrReplaceTempView("bsrc_src")
    // The full-sync statement: matched update, unmatched insert, and
    // rows absent from the source either archive (qty -1, guarded) or
    // delete.
    val out = spark.sql(s"MERGE INTO g_bsrc.`$root` t USING bsrc_src s " +
      "ON t.sku = s.sku " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND t.qty >= 4 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET qty = -1").collect()
    assert(out.head.getLong(1) == 2L, "one atomic commit")
    val got = SnapshotStore.read(spark, root)
      .select("sku", "qty").as[(String, Int)].collect().toSet
    // s1 updated, s5 inserted, s4 (qty 4) deleted, s2/s3 archived.
    assert(got == Set(("s1", 10), ("s5", 50), ("s2", -1), ("s3", -1)),
      got.toString)
  }

  test("INSERT (cols) VALUES (exprs): s.-scoped expressions, null-fill, partition guard") {
    val root = freshRoot()
    bindCatalog("g_insv")
    SnapshotStore.commit(spark, table(("s1", "a", 1)), root, "supplier")
    Seq(("s2", "b", 7), ("s1", "a", 9)).toDF("sku", "supplier", "qty")
      .createOrReplaceTempView("insv_src")
    spark.sql(s"MERGE INTO g_insv.`$root` t USING insv_src s " +
      "ON t.sku = s.sku " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT (sku, supplier, qty) " +
      "VALUES (s.sku, s.supplier, s.qty * 10)").collect()
    val got = SnapshotStore.read(spark, root)
      .select("sku", "qty").as[(String, Int)].collect().toSet
    assert(got == Set(("s1", 9), ("s2", 70)), got.toString)
    // Unlisted columns null-fill.
    Seq(("s3", "c", 3)).toDF("sku", "supplier", "qty")
      .createOrReplaceTempView("insv_src2")
    spark.sql(s"MERGE INTO g_insv.`$root` t USING insv_src2 s " +
      "ON t.sku = s.sku " +
      "WHEN NOT MATCHED THEN INSERT (sku, supplier) VALUES (s.sku, s.supplier)")
      .collect()
    val s3 = SnapshotStore.read(spark, root)
      .filter($"sku" === "s3").select("qty").collect()
    assert(s3.length == 1 && s3.head.isNullAt(0))
    // Omitting the partition column or miscounting values is refused.
    def bad(tail: String): String = intercept[Exception] {
      spark.sql(s"MERGE INTO g_insv.`$root` t USING insv_src2 s " +
        s"ON t.sku = s.sku $tail").collect()
    }.getMessage
    assert(bad("WHEN NOT MATCHED THEN INSERT (sku) VALUES (s.sku)")
      .contains("partition column"))
    assert(bad("WHEN NOT MATCHED THEN INSERT (sku, supplier) VALUES (s.sku)")
      .contains("values"))
  }

  test("BY SOURCE rejects shapeless actions loudly") {
    val root = freshRoot()
    bindCatalog("g_bsrcx")
    SnapshotStore.commit(spark, table(("s1", "a", 1)), root, "supplier")
    table(("s2", "a", 2)).createOrReplaceTempView("bsrcx_src")
    def bad(tail: String): String = intercept[Exception] {
      spark.sql(s"MERGE INTO g_bsrcx.`$root` t USING bsrcx_src s " +
        s"ON t.sku = s.sku $tail").collect()
    }.getMessage
    assert(bad("WHEN NOT MATCHED BY SOURCE THEN INSERT *")
      .contains("UPDATE SET col = expr or DELETE"))
    assert(bad("WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *")
      .contains("no source row"))
    // A stray s. reference in a BY SOURCE condition fails analysis
    // (there is no source side on the anti-joined frame).
    assert(bad("WHEN NOT MATCHED BY SOURCE AND s.qty > 0 THEN DELETE")
      .nonEmpty)
    // BY TARGET is the NOT MATCHED synonym.
    spark.sql(s"MERGE INTO g_bsrcx.`$root` t USING bsrcx_src s " +
      "ON t.sku = s.sku " +
      "WHEN NOT MATCHED BY TARGET THEN INSERT *").collect()
    assert(SnapshotStore.read(spark, root).count() == 2)
  }

  test("column-level SET of the partition column is refused with the operation that can move rows") {
    val root = freshRoot()
    bindCatalog("g_pset")
    SnapshotStore.commit(spark, table(("s1", "a", 1)), root, "supplier")
    table(("s1", "b", 2)).createOrReplaceTempView("pset_src")
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"MERGE INTO g_pset.`$root` t USING pset_src s " +
        "ON t.sku = s.sku " +
        "WHEN MATCHED THEN UPDATE SET supplier = s.supplier " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
    // Nothing committed by the refused statement.
    assert(SnapshotStore.versions(spark, root) == Seq(1L))
  }

  test("delete-only MERGE empties matched keys; no-match clauses are a version no-op") {
    val root = freshRoot()
    bindCatalog("g_del")
    SnapshotStore.commit(spark, table(("s1", "a", 1), ("s2", "a", 2)),
      root, "supplier")
    table(("s1", "a", 0)).createOrReplaceTempView("del_src")
    val v = spark.sql(s"MERGE INTO g_del.`$root` t USING del_src s " +
      "ON t.sku = s.sku WHEN MATCHED THEN DELETE").collect().head.getLong(1)
    assert(v == 2L)
    assert(SnapshotStore.read(spark, root).select("sku")
      .as[String].collect().toSeq == Seq("s2"))
    // Nothing matches now: the statement commits nothing.
    val v2 = spark.sql(s"MERGE INTO g_del.`$root` t USING del_src s " +
      "ON t.sku = s.sku WHEN MATCHED THEN DELETE").collect().head.getLong(1)
    assert(v2 == 2L, "an all-no-op MERGE must not publish an empty commit")
  }

  test("tokenizer recognizer: keywords inside strings and CASE expressions never split the statement") {
    val root = freshRoot()
    bindCatalog("g_tok")
    SnapshotStore.commit(spark, Seq(("s1", "a", 1, "x"), ("s2", "a", 2, "x"))
      .toDF("sku", "supplier", "qty", "note"), root, "supplier")
    Seq(("s1", "a", 10), ("s2", "a", 20), ("s3", "a", 30))
      .toDF("sku", "supplier", "qty").createOrReplaceTempView("tok_src")
    // The ON condition and a clause condition both contain CASE
    // WHEN…THEN…END at TOP LEVEL, a SET value contains the literal
    // ' when matched then ', and a condition contains ' then '.
    spark.sql(
      s"MERGE INTO g_tok.`$root` t USING tok_src s ON t.sku = s.sku " +
        "WHEN MATCHED AND CASE WHEN s.qty > 15 THEN true ELSE false END " +
        "THEN UPDATE SET qty = s.qty, note = ' when matched then ' " +
        "WHEN MATCHED AND t.note = ' then ' THEN DELETE " +
        "WHEN NOT MATCHED THEN INSERT (sku, supplier, qty, note) " +
        "VALUES (s.sku, s.supplier, CASE WHEN s.qty > 25 THEN -1 ELSE s.qty END, 'i')")
      .collect()
    val out = SnapshotStore.read(spark, root).orderBy("sku")
      .as[(String, String, Int, String)].collect().toSeq
    assert(out == Seq(("s1", "a", 1, "x"),
      ("s2", "a", 20, " when matched then "), ("s3", "a", -1, "i")), out)
  }

  test("null ON keys never match (Delta semantics): the null-keyed row survives a MATCHED DELETE") {
    val root = freshRoot()
    bindCatalog("g_nullk")
    SnapshotStore.commit(spark,
      Seq((Some("s1"), "a", 1), (None, "a", 2))
        .toDF("sku", "supplier", "qty"), root, "supplier")
    Seq((None: Option[String], "a", 9), (Some("s1"), "a", 9))
      .toDF("sku", "supplier", "qty").createOrReplaceTempView("nullk_src")
    // Conditional clause -> the general engine. Under a null-safe ON
    // the null target row would be classified MATCHED-DELETE, but the
    // keyed delete leg's equi-join removes nothing — the row would
    // silently survive a delete the statement claimed. Plain-equality
    // ON (Delta's) never matches it, so the statement's claim and its
    // effect agree: s1 deleted, the null-keyed row untouched.
    spark.sql(s"MERGE INTO g_nullk.`$root` t USING nullk_src s " +
      "ON t.sku = s.sku " +
      "WHEN MATCHED AND s.qty > 0 THEN DELETE").collect()
    val got = SnapshotStore.read(spark, root)
      .select(coalesce(col("sku"), lit("<null>")), col("qty"))
      .as[(String, Int)].collect().toSet
    assert(got == Set(("<null>", 2)), got.toString)
  }

  test("BY SOURCE clause selecting a null-keyed target row is refused loudly") {
    val root = freshRoot()
    bindCatalog("g_nullbs")
    SnapshotStore.commit(spark,
      Seq((Some("s1"), "a", 1), (None, "a", 2))
        .toDF("sku", "supplier", "qty"), root, "supplier")
    table(("s1", "a", 9)).createOrReplaceTempView("nullbs_src")
    // The null-keyed row is unmatched by definition; a BY SOURCE
    // DELETE would claim it but the keyed legs cannot address it.
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"MERGE INTO g_nullbs.`$root` t USING nullbs_src s " +
        "ON t.sku = s.sku " +
        "WHEN MATCHED THEN UPDATE SET qty = s.qty " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE").collect()
    }
    assert(e.getMessage.contains("null"), e.getMessage)
    assert(SnapshotStore.versions(spark, root) == Seq(1L))
    // Filtering the null keys out in the clause condition makes the
    // same statement legal — and leaves the null-keyed row in place.
    spark.sql(s"MERGE INTO g_nullbs.`$root` t USING nullbs_src s " +
      "ON t.sku = s.sku " +
      "WHEN MATCHED THEN UPDATE SET qty = s.qty " +
      "WHEN NOT MATCHED BY SOURCE AND t.sku IS NOT NULL THEN DELETE")
      .collect()
    val got = SnapshotStore.read(spark, root)
      .select(coalesce(col("sku"), lit("<null>")), col("qty"))
      .as[(String, Int)].collect().toSet
    assert(got == Set(("s1", 9), ("<null>", 2)), got.toString)
  }
}
