package graft

/** Stress net for the thread-pooled full sync: repeated 3-supplier
  * concurrent runs into a fresh shared sink must all succeed (the
  * merge touches only each supplier's own partitions; a regression
  * here means the concurrent-write reasoning in Pipeline.runFullSync
  * broke). */
class ConcurrentSyncSpec extends SparkSpec {
  private val refDir = "/root/reference/sample data"
  private def available =
    new java.io.File(s"$refDir/MidOcean Sample Data.jsonc").exists()

  test("3-supplier concurrent sync is stable across repetitions") {
    assume(available)
    import graft.pipeline.{Pipeline, SupplierConfig}
    (1 to 2).foreach { i =>
      val sink = java.nio.file.Files
        .createTempDirectory(s"graft-csync$i").toString + "/products"
      val results = Pipeline.runFullSync(spark, Seq(
        SupplierConfig("midocean", s"$refDir/MidOcean Sample Data.jsonc"),
        SupplierConfig("laltex", s"$refDir/Laltex Sample Data.jsonc"),
        SupplierConfig("xd", s"$refDir/XD Sample Data.jsonc")), sink)
      assert(results.forall(_.status == "success"),
        s"run $i: ${results.map(r => s"${r.supplier}=${r.status}" +
          r.errorSamples.mkString("[", "; ", "]"))}")
      val n = spark.read.parquet(sink)
        .select("supplier_id").distinct().count()
      assert(n == 3, s"run $i: expected 3 supplier partitions, got $n")
    }
  }

  test("3-supplier concurrent sync through the atomic snapshot sink") {
    assume(available)
    import graft.pipeline.{Pipeline, SupplierConfig}
    import graft.sinks.SnapshotStore
    val sink = java.nio.file.Files
      .createTempDirectory("graft-csync-snap").toString + "/products"
    val results = Pipeline.runFullSync(spark, Seq(
      SupplierConfig("midocean", s"$refDir/MidOcean Sample Data.jsonc"),
      SupplierConfig("laltex", s"$refDir/Laltex Sample Data.jsonc"),
      SupplierConfig("xd", s"$refDir/XD Sample Data.jsonc")), sink,
      atomicSink = true)
    assert(results.forall(_.status == "success"),
      results.map(r => s"${r.supplier}=${r.status}" +
        r.errorSamples.mkString("[", "; ", "]")).toString)
    // Optimistic retry serializes the three commits: exactly 3 versions,
    // and the current snapshot holds all three suppliers' rows.
    assert(SnapshotStore.versions(spark, sink) == Seq(1L, 2L, 3L))
    val n = SnapshotStore.read(spark, sink)
      .select("supplier_id").distinct().count()
    assert(n == 3, s"expected 3 supplier partitions in snapshot, got $n")
    // statusReport auto-detects the snapshot layout.
    assert(Pipeline.statusReport(spark, sink).count() >= 3)
  }

  private def raceTwo(root: String,
                      a: => Long, b: => Long): (Long, Long) = {
    import java.util.concurrent.CyclicBarrier
    val barrier = new CyclicBarrier(2)
    @volatile var ra = -1L
    @volatile var rb = -1L
    @volatile var err: Throwable = null
    val ta = new Thread(() => try { barrier.await(); ra = a }
      catch { case t: Throwable => err = t })
    val tb = new Thread(() => try { barrier.await(); rb = b }
      catch { case t: Throwable => err = t })
    ta.start(); tb.start(); ta.join(120000); tb.join(120000)
    if (err != null) throw err
    (ra, rb)
  }

  test("disjoint-partition concurrent mergeCommits: both land, loser rebases without recompute") {
    import spark.implicits._
    import graft.sinks.SnapshotStore
    val root = java.nio.file.Files
      .createTempDirectory("graft-disjoint-race").resolve("t").toString
    SnapshotStore.commit(spark,
      Seq(("p1", "a", 1), ("p2", "b", 1)).toDF("product_id", "supplier", "version"),
      root, "supplier")
    val (ra, rb) = raceTwo(root,
      SnapshotStore.mergeCommit(spark,
        Seq(("p3", "a", 2)).toDF("product_id", "supplier", "version"),
        root, "product_id", "version", "supplier"),
      SnapshotStore.mergeCommit(spark,
        Seq(("p4", "b", 2)).toDF("product_id", "supplier", "version"),
        root, "product_id", "version", "supplier"))
    assert(Set(ra, rb) == Set(2L, 3L), s"expected versions 2 and 3, got $ra/$rb")
    // Content equals the sequential result: all four rows present.
    assert(SnapshotStore.read(spark, root)
      .select("product_id").as[String].collect().toSet ==
      Set("p1", "p2", "p3", "p4"))
    // Rebase evidence: when the loser actually raced (computed against
    // v1, lost v2), its fresh v3 files still live under its ORIGINAL
    // attempt directory data/v_2-* — a recompute would have written
    // data/v_3-*. (If the threads happened to serialize, the second
    // writer legitimately computed v3 directly; the race is then
    // vacuous and the check self-skips.)
    val v2Paths = SnapshotStore.manifest(spark, root, 2).map(_.path).toSet
    val freshV3 = SnapshotStore.manifest(spark, root, 3)
      .map(_.path).filterNot(v2Paths)
    assert(freshV3.nonEmpty)
    if (freshV3.exists(_.startsWith("data/v_2-")))
      assert(freshV3.forall(_.startsWith("data/v_2-")),
        s"rebased commit mixed attempt dirs: $freshV3")
  }

  test("concurrent upsertDeleteCommits: loser recomputes; both actions survive") {
    import spark.implicits._
    import graft.sinks.SnapshotStore
    val root = java.nio.file.Files
      .createTempDirectory("graft-udc-race").resolve("t").toString
    SnapshotStore.commit(spark,
      Seq(("p1", "a", 1), ("p2", "a", 1), ("p3", "a", 1))
        .toDF("product_id", "supplier", "version"),
      root, "supplier")
    // Writer A updates p1 and deletes p2; writer B updates p3. Same
    // partition — a true conflict, so the loser's retry loop must
    // recompute against the winner's snapshot, and the sequential
    // result must hold in either serialization.
    val (ra, rb) = raceTwo(root,
      SnapshotStore.upsertDeleteCommit(spark, root,
        Seq(("p1", "a", 2)).toDF("product_id", "supplier", "version"),
        Some(Seq("p2").toDF("product_id")), "product_id", "supplier"),
      SnapshotStore.upsertDeleteCommit(spark, root,
        Seq(("p3", "a", 3)).toDF("product_id", "supplier", "version"),
        None, "product_id", "supplier"))
    assert(Set(ra, rb) == Set(2L, 3L), s"expected versions 2 and 3, got $ra/$rb")
    assert(SnapshotStore.read(spark, root)
      .select("product_id", "version").as[(String, Int)].collect().toSet ==
      Set(("p1", 2), ("p3", 3)), "race lost an update or resurrected a delete")
  }

  test("same-partition concurrent mergeCommits: loser recomputes on top of the winner") {
    import spark.implicits._
    import graft.sinks.SnapshotStore
    val root = java.nio.file.Files
      .createTempDirectory("graft-conflict-race").resolve("t").toString
    SnapshotStore.commit(spark,
      Seq(("p1", "a", 1)).toDF("product_id", "supplier", "version"),
      root, "supplier")
    val (ra, rb) = raceTwo(root,
      SnapshotStore.mergeCommit(spark,
        Seq(("p2", "a", 2)).toDF("product_id", "supplier", "version"),
        root, "product_id", "version", "supplier"),
      SnapshotStore.mergeCommit(spark,
        Seq(("p3", "a", 2)).toDF("product_id", "supplier", "version"),
        root, "product_id", "version", "supplier"))
    assert(Set(ra, rb) == Set(2L, 3L), s"expected versions 2 and 3, got $ra/$rb")
    // A same-partition loser must MERGE the winner's rows, not clobber:
    // all three keys survive in partition a.
    assert(SnapshotStore.read(spark, root)
      .select("product_id").as[String].collect().toSet ==
      Set("p1", "p2", "p3"))
  }

  test("concurrent updateProperty list appends: both items survive") {
    import spark.implicits._
    import graft.sinks.SnapshotStore
    val root = java.nio.file.Files
      .createTempDirectory("graft-prop-race").resolve("t").toString
    SnapshotStore.commit(spark,
      Seq(("p1", "a", 1)).toDF("product_id", "supplier", "version"),
      root, "supplier")
    // The read-modify-write a rollup registry relies on: each writer
    // appends its own item to the same comma-joined list property.
    def append(item: String): Long =
      SnapshotStore.updateProperty(spark, root, "test.items") { old =>
        (old.toSeq.flatMap(_.split(",")).filter(_.nonEmpty) :+ item).mkString(",")
      }
    val (ra, rb) = raceTwo(root, append("x"), append("y"))
    assert(Set(ra, rb) == Set(2L, 3L), s"expected versions 2 and 3, got $ra/$rb")
    assert(SnapshotStore.tablePropertiesMap(spark, root).get("test.items")
      .map(_.split(",").toSet).contains(Set("x", "y")),
      "a lost race overwrote the winner's item")
  }

  test("concurrent appendCommits: both land on versions 2 and 3 with every row") {
    import spark.implicits._
    import graft.sinks.SnapshotStore
    val root = java.nio.file.Files
      .createTempDirectory("graft-append-race").resolve("t").toString
    SnapshotStore.commit(spark,
      Seq(("p1", "a", 1)).toDF("product_id", "supplier", "version"),
      root, "supplier")
    val (ra, rb) = raceTwo(root,
      SnapshotStore.appendCommit(spark,
        Seq(("p2", "a", 2), ("p3", "b", 2)).toDF("product_id", "supplier", "version"),
        root, "supplier"),
      SnapshotStore.appendCommit(spark,
        Seq(("p4", "a", 3), ("p5", "c", 3)).toDF("product_id", "supplier", "version"),
        root, "supplier"))
    assert(Set(ra, rb) == Set(2L, 3L), s"expected versions 2 and 3, got $ra/$rb")
    assert(SnapshotStore.read(spark, root)
      .select("product_id").as[String].collect().sorted.toSeq ==
      Seq("p1", "p2", "p3", "p4", "p5"))
  }
}
