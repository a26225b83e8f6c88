package graft.sinks

import java.nio.file.Files

/** The metadata-only DELETE fast path is sound ONLY for
  * deterministic, subquery-free partition predicates: it evaluates
  * the predicate once per partition VALUE, so a `rand()` that
  * references only partition columns would drop or keep WHOLE
  * partitions on one coin flip, and a subquery's inner references
  * hide from the expression-level column collect. This spec pins the
  * gate directly (package-private access). */
class MetadataDeleteGuardSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshTable(): (String, Long, Seq[String], Seq[SnapshotStore.ManifestEntry]) = {
    val root = s"${Files.createTempDirectory("metaguard")}/t"
    val df = Seq(("s1", "a", 1), ("s2", "a", 2), ("s3", "b", 3))
      .toDF("sku", "supplier", "qty")
    val v = SnapshotStore.commit(spark, df, root, "supplier")
    (root, v, Seq("supplier"), SnapshotStore.manifest(spark, root, v))
  }

  test("deterministic partition predicate takes the fast path") {
    val (root, v, partCols, entries) = freshTable()
    val doomed = SnapshotStore.partitionOnlyDoomed(
      spark, root, v, partCols, entries, "supplier = 'a'")
    assert(doomed.isDefined && doomed.get.size == 1, doomed.toString)
  }

  test("nondeterministic predicate referencing only partition columns is declined") {
    val (root, v, partCols, entries) = freshTable()
    val doomed = SnapshotStore.partitionOnlyDoomed(
      spark, root, v, partCols, entries, "supplier = 'a' OR rand() < 0.5")
    assert(doomed.isEmpty, doomed.toString)
    // And the row path it falls back to produces the row-correct
    // answer (rand() < 0.5 keeps/drops individual ROWS; here the
    // OR-arm decides only supplier-a rows deterministically when the
    // coin is irrelevant: use a never-true coin to make it exact).
    val del = SnapshotStore.deleteWhere(spark, root,
      "supplier = 'a' OR rand() >= 2.0")
    assert(del == v + 1)
    val got = SnapshotStore.read(spark, root).select("sku").as[String]
      .collect().toSet
    assert(got == Set("s3"), got.toString)
  }

  test("subquery predicates are declined by the gate") {
    val (root, v, partCols, entries) = freshTable()
    val doomed = SnapshotStore.partitionOnlyDoomed(
      spark, root, v, partCols, entries,
      "supplier IN (SELECT 'a')")
    assert(doomed.isEmpty, doomed.toString)
  }

  test("deterministicNoSubquery certifies exactly the sound class") {
    assert(SnapshotStore.deterministicNoSubquery(spark, "supplier = 'a'"))
    assert(SnapshotStore.deterministicNoSubquery(spark,
      "supplier IN ('a', 'b') AND supplier IS NOT NULL"))
    assert(!SnapshotStore.deterministicNoSubquery(spark, "rand() < 0.5"))
    assert(!SnapshotStore.deterministicNoSubquery(spark,
      "supplier = 'a' OR rand() < 0.5"))
    assert(!SnapshotStore.deterministicNoSubquery(spark,
      "supplier IN (SELECT 'a')"))
    assert(!SnapshotStore.deterministicNoSubquery(spark,
      "EXISTS (SELECT 1)"))
    assert(!SnapshotStore.deterministicNoSubquery(spark, "not ) sql ("))
  }
}
