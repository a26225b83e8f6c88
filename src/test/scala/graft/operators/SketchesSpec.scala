package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** Mergeable HLL distinct sketches at rest ([[Sketches]]): profile /
  * estimate / global-union correctness against exact counts, and the
  * incremental sync's two paths (insert-only union vs touched-group
  * rebuild) with their carry and idempotence guarantees. */
class SketchesSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(prefix: String): String =
    s"${Files.createTempDirectory(prefix)}/t"

  private def src(n: Int) = (1 to n).map(i =>
    (i.toLong, s"g${i % 3}", s"u${i % 17}", s"d${i % 41}"))
    .toDF("id", "grp", "user", "doc")

  test("hllProfile + estimates match exact distinct counts per group; globalEstimates merges") {
    val df = src(500)
    val est = Sketches.estimates(
      Sketches.hllProfile(df, Seq("grp"), Seq("user", "doc")),
      Seq("grp"), Seq("user", "doc"))
      .orderBy("grp").collect()
    val exact = df.groupBy("grp")
      .agg(countDistinct($"user").as("u"), countDistinct($"doc").as("d"))
      .orderBy("grp").collect()
    assert(est.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      exact.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    // The global rollup is a sketch UNION — never a rescan — and at
    // these cardinalities it is exact too.
    val g = Sketches.globalEstimates(
      Sketches.hllProfile(df, Seq("grp"), Seq("user", "doc")),
      Seq("user", "doc")).head()
    assert((g.getLong(0), g.getLong(1)) == (17L, 41L))
  }

  test("hllSync: full build, insert-only union path, idempotence") {
    val srcRoot = freshRoot("sk_src"); val skRoot = freshRoot("sk_tab")
    SnapshotStore.commit(spark, src(300), srcRoot, "grp")
    val v1 = Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("user", "doc"))
    assert(v1 == 1L)
    assert(SnapshotStore.tablePropertiesMap(spark, skRoot)
      .get(Sketches.CursorProp).contains("1"))
    // Idempotent: same source version → no new sketch-table commit.
    assert(Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("user", "doc")) == 1L)
    assert(SnapshotStore.currentVersion(spark, skRoot).contains(1L))
    // Insert-only window: new users/docs appear, estimates track the
    // union of both windows exactly at these cardinalities.
    SnapshotStore.appendCommit(spark,
      (1001 to 1100).map(i => (i.toLong, s"g${i % 3}", s"w${i % 5}", s"d${i % 41}"))
        .toDF("id", "grp", "user", "doc"), srcRoot, "grp")
    assert(Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("user", "doc")) == 2L)
    assert(SnapshotStore.currentVersion(spark, skRoot).contains(2L))
    val est = Sketches.estimates(SnapshotStore.read(spark, skRoot),
      Seq("grp"), Seq("user", "doc"))
    val exact = SnapshotStore.read(spark, srcRoot).groupBy("grp")
      .agg(countDistinct($"user").as("user_distinct"),
        countDistinct($"doc").as("doc_distinct"))
    assert(est.orderBy("grp").collect().map(_.toSeq).toSeq ==
      exact.orderBy("grp").collect().map(_.toSeq).toSeq)
  }

  test("hllSync delete window: touched groups rebuild, untouched sketch rows carry byte-identical, vanished groups leave") {
    val srcRoot = freshRoot("sk_src2"); val skRoot = freshRoot("sk_tab2")
    SnapshotStore.commit(spark, src(300), srcRoot, "grp")
    Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("user", "doc"))
    val before = SnapshotStore.read(spark, skRoot)
      .select($"grp", $"user_hll").as[(String, Array[Byte])]
      .collect().toMap
    // Delete every g2 row (the group vanishes) and HALF of g1.
    SnapshotStore.deleteCommit(spark,
      src(300).filter($"grp" === "g2" || ($"grp" === "g1" && $"id" % 2 === 0))
        .select($"id"), srcRoot, "id", "grp")
    Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("user", "doc"))
    val after = SnapshotStore.read(spark, skRoot)
      .select($"grp", $"user_hll").as[(String, Array[Byte])]
      .collect().toMap
    assert(!after.contains("g2"), "a vanished group must leave the table")
    assert(java.util.Arrays.equals(after("g0"), before("g0")),
      "an untouched group's sketch must carry byte-identical")
    // The rebuilt group's estimates equal exact recomputation.
    val est = Sketches.estimates(SnapshotStore.read(spark, skRoot),
      Seq("grp"), Seq("user", "doc")).filter($"grp" === "g1").head()
    val exact = SnapshotStore.read(spark, srcRoot).filter($"grp" === "g1")
      .agg(countDistinct($"user"), countDistinct($"doc")).head()
    assert((est.getLong(1), est.getLong(2)) ==
      (exact.getLong(0), exact.getLong(1)))
  }

  test("a regrouping update marks the OLD group touched: its sketch rebuilds (pre-image fix)") {
    val srcRoot = freshRoot("sk_src4"); val skRoot = freshRoot("sk_tab4")
    // Group column (grp) is NOT the partition column, so regrouping is
    // an ordinary same-partition update.
    SnapshotStore.commit(spark,
      Seq((1L, "p0", "a", "u1"), (2L, "p0", "a", "u2"), (3L, "p0", "b", "u3"))
        .toDF("id", "part", "grp", "author"), srcRoot, "part")
    Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("author"))
    // id 2 moves a→b: only the update_preimage row carries grp=a, and
    // without it group a's sketch would keep counting u2 forever.
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      Seq((2L, "p0", "b", "u2")).toDF("id", "part", "grp", "author"),
      None, "id", "part")
    Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("author"))
    val est = Sketches.estimates(SnapshotStore.read(spark, skRoot),
      Seq("grp"), Seq("author")).orderBy("grp")
      .as[(String, Long)].collect().toSeq
    assert(est == Seq(("a", 1L), ("b", 2L)), est.toString)
    // And when the LAST row leaves a group, the group leaves the table.
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      Seq((1L, "p0", "b", "u1")).toDF("id", "part", "grp", "author"),
      None, "id", "part")
    Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("author"))
    assert(SnapshotStore.read(spark, skRoot).filter($"grp" === "a").isEmpty,
      "a fully-vacated group must leave the sketch table")
  }

  test(">1000 touched groups rebuild through the unhinted fallback; estimates stay exact") {
    val srcRoot = freshRoot("sk_big"); val skRoot = freshRoot("sk_bigtab")
    val n = 1100 // above GroupScope's default literal limit
    SnapshotStore.commit(spark,
      (1 to 2 * n).map(i => (i.toLong, s"p${i % 4}", s"g${i % n}", s"u$i"))
        .toDF("id", "part", "grp", "user"), srcRoot, "part")
    Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("user"))
    // Delete one row from EVERY group → rebuild window touches all
    // 1100 groups → GroupScope's unhinted semi-join fallback.
    SnapshotStore.deleteCommit(spark,
      (1 to n).map(i => Tuple1(i.toLong)).toDF("id"), srcRoot, "id", "part")
    Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("user"))
    // One distinct user per surviving row per group — exact at lgK 12.
    val est = Sketches.estimates(SnapshotStore.read(spark, skRoot),
      Seq("grp"), Seq("user"))
    assert(est.count() == n.toLong)
    assert(est.filter($"user_distinct" =!= 1L).isEmpty,
      "every rebuilt group holds exactly one distinct user")
  }

  test("a layout-only source window advances the sketch cursor via a metadata-only commit") {
    val srcRoot = freshRoot("sk_layout"); val skRoot = freshRoot("sk_laytab")
    SnapshotStore.commit(spark, src(40), srcRoot, "grp")
    SnapshotStore.appendCommit(spark,
      (41 to 80).map(i => (i.toLong, s"g${i % 3}", s"u${i % 17}", s"d${i % 41}"))
        .toDF("id", "grp", "user", "doc"), srcRoot, "grp")
    def sync() = Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("grp"), Seq("user"))
    sync()
    val v3 = SnapshotStore.compact(spark, srcRoot, "grp")
    assert(sync() == v3)
    assert(SnapshotStore.tablePropertiesMap(spark, skRoot)
      .get(Sketches.CursorProp).contains(v3.toString),
      "cursor must advance past a content-no-op window")
    val settled = SnapshotStore.currentVersion(spark, skRoot).get
    assert(sync() == v3)
    assert(SnapshotStore.currentVersion(spark, skRoot).contains(settled),
      "a caught-up cursor must not commit again")
  }

  test("hllSync refuses a null group value in the change window loudly") {
    val srcRoot = freshRoot("sk_src3"); val skRoot = freshRoot("sk_tab3")
    SnapshotStore.commit(spark,
      Seq((1L, "a", "u1")).toDF("id", "grp2", "user"), srcRoot, "grp2")
    Sketches.hllSync(spark, srcRoot, skRoot,
      Seq("id"), Seq("user"), Seq("id"))
    // Append a row whose GROUP column (user) is null.
    SnapshotStore.appendCommit(spark,
      Seq((2L, "a", null: String)).toDF("id", "grp2", "user"),
      srcRoot, "grp2")
    val e = intercept[IllegalArgumentException] {
      Sketches.hllSync(spark, srcRoot, skRoot,
        Seq("id"), Seq("user"), Seq("id"))
    }
    assert(e.getMessage.contains("null group"), e.getMessage)
  }

  test("hllSync after an update to an unsketched column equals a full rebuild and rewrites no file") {
    val srcRoot = freshRoot("sk_unsk"); val skRoot = freshRoot("sk_unsktab")
    SnapshotStore.commit(spark, src(300).withColumn("part", $"id" % 2), srcRoot, "part")
    def sync() = Sketches.hllSync(spark, srcRoot, skRoot, Seq("id"), Seq("grp"), Seq("user"))
    def estimates(df: org.apache.spark.sql.DataFrame) =
      Sketches.estimates(df, Seq("grp"), Seq("user")).orderBy("grp").collect().toSeq
    sync()
    val skV = SnapshotStore.currentVersion(spark, skRoot).get
    val files = SnapshotStore.manifest(spark, skRoot, skV)
    // `doc` is not sketched: the projected window is empty.
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      src(300).withColumn("part", $"id" % 2).filter($"id" <= 50L)
        .withColumn("doc", concat($"doc", lit("x"))), None, "id", "part")
    assert(sync() == SnapshotStore.currentVersion(spark, srcRoot).get)
    assert(SnapshotStore.currentVersion(spark, skRoot).contains(skV + 1))
    assert(SnapshotStore.manifest(spark, skRoot, skV + 1) == files)
    def rebuilt = Sketches.hllProfile(SnapshotStore.read(spark, srcRoot), Seq("grp"), Seq("user"))
    assert(estimates(SnapshotStore.read(spark, skRoot)) == estimates(rebuilt))
    // A window mixing an unsketched edit with a sketched one still
    // rebuilds the touched group.
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      Seq((7L, "g1", "brand_new_user", "d7", 1L), (8L, "g2", "u8", "dX", 0L))
        .toDF("id", "grp", "user", "doc", "part"), None, "id", "part")
    sync()
    assert(estimates(SnapshotStore.read(spark, skRoot)) == estimates(rebuilt))
  }
}
