package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** Incremental exact aggregates ([[Rollup]]): the pre-image change
  * feed, additive SUM/COUNT maintenance under arbitrary DML, the
  * MIN/MAX rebuild of groups that lose rows, NULL-sum restoration via
  * the non-null witness, group moves, and idempotence. The rollup
  * GROUP column is deliberately NOT the source's partition column —
  * the snapshot store refuses partition-moving upserts, but a data
  * column regrouping is an ordinary update, and the pre-image is what
  * lets the rollup subtract it from the old group. */
class RollupSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(prefix: String): String =
    s"${Files.createTempDirectory(prefix)}/t"

  private def rows(n: Int) = (1 to n).map(i =>
    (i.toLong, s"p${i % 2}", s"g${i % 3}", i * 10,
      if (i % 5 == 0) None else Some(i.toDouble)))
    .toDF("id", "part", "grp", "qty", "score")

  test("changes(preImages=true): updates emit pre+post rows; inserts and deletes one row") {
    val root = freshRoot("ru_cdf")
    SnapshotStore.commit(spark,
      Seq((1L, "p0", "a", 10), (2L, "p0", "b", 20))
        .toDF("id", "part", "grp", "qty"), root, "part")
    // v2: update id 1 (regroups a→b within its partition), delete
    // id 2, insert id 3.
    SnapshotStore.upsertDeleteCommit(spark, root,
      Seq((1L, "p0", "b", 11), (3L, "p0", "a", 30))
        .toDF("id", "part", "grp", "qty"),
      Some(Seq(Tuple1(2L)).toDF("id")), "id", "part")
    val feed = SnapshotStore.changes(spark, root, 1L, 2L, Seq("id"),
      preImages = true)
      .select($"id", $"grp", $"qty", $"_change_type")
      .as[(Long, String, Int, String)].collect().toSet
    assert(feed == Set(
      (1L, "a", 10, "update_preimage"), (1L, "b", 11, "update_postimage"),
      (2L, "b", 20, "delete"), (3L, "a", 30, "insert")), feed)
    // Default stays the single-row convention.
    val one = SnapshotStore.changes(spark, root, 1L, 2L, Seq("id"))
      .filter($"_change_type" === "update").count()
    assert(one == 1L)
  }

  test("sum-only rollup stays additive and exact under insert, update, delete; NULL sum restores") {
    val srcRoot = freshRoot("ru_src"); val rollRoot = freshRoot("ru_roll")
    SnapshotStore.commit(spark, rows(30), srcRoot, "part")
    def sync() = Rollup.sync(spark, srcRoot, rollRoot,
      Seq("id"), Seq("grp"), Seq("qty", "score"))
    assert(sync() == 1L)
    assert(sync() == 1L) // idempotent, no new rollup commit
    assert(SnapshotStore.currentVersion(spark, rollRoot).contains(1L))
    // Window 2: an update that REGROUPS id 3 from g0 to g1 (the
    // pre-image subtracts it from g0), a delete, and inserts.
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      Seq((3L, "p1", "g1", 999, Some(3.0)), (31L, "p1", "g1", 310, None),
        (32L, "p0", "g2", 320, Some(32.0)))
        .toDF("id", "part", "grp", "qty", "score"),
      Some(Seq(Tuple1(7L)).toDF("id")), "id", "part")
    sync()
    assert(SnapshotStore.currentVersion(spark, rollRoot).contains(2L),
      "one atomic rollup commit per window")
    val got = Rollup.view(SnapshotStore.read(spark, rollRoot),
      Seq("grp"), Seq("qty", "score")).orderBy("grp")
    val want = Rollup.view(Rollup.profile(SnapshotStore.read(spark, srcRoot),
      Seq("grp"), Seq("qty", "score")), Seq("grp"), Seq("qty", "score"))
      .orderBy("grp")
    assert(got.collect().map(_.toSeq).toSeq ==
      want.collect().map(_.toSeq).toSeq)
    // Window 3: delete EVERY g2 row (group leaves) and every non-null
    // score in g0 (its sum must return to NULL, not 0).
    val doomed = SnapshotStore.read(spark, srcRoot)
      .filter($"grp" === "g2" || ($"grp" === "g0" && $"score".isNotNull))
      .select($"id")
    SnapshotStore.deleteCommit(spark, doomed, srcRoot, "id", "part")
    sync()
    val after = SnapshotStore.read(spark, rollRoot)
    assert(after.filter($"grp" === "g2").isEmpty,
      "an emptied group must leave the rollup")
    val g0 = after.filter($"grp" === "g0")
      .select($"qty_sum", $"score_sum", $"score_nn").collect().head
    assert(!g0.isNullAt(0) && g0.isNullAt(1) && g0.getLong(2) == 0L,
      s"g0 score sum must restore to NULL via the _nn witness: $g0")
    // And the whole table still equals direct aggregation.
    val got3 = Rollup.view(after, Seq("grp"), Seq("qty", "score"))
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val want3 = Rollup.view(Rollup.profile(SnapshotStore.read(spark, srcRoot),
      Seq("grp"), Seq("qty", "score")), Seq("grp"), Seq("qty", "score"))
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(got3 == want3)
  }

  test("min/max rollup: gain-only groups merge additively; losing groups rebuild; untouched carry") {
    val srcRoot = freshRoot("ru_src2"); val rollRoot = freshRoot("ru_roll2")
    SnapshotStore.commit(spark, rows(30), srcRoot, "part")
    def sync() = Rollup.sync(spark, srcRoot, rollRoot,
      Seq("id"), Seq("grp"), Seq("qty"), Seq("score"))
    sync()
    val before = SnapshotStore.read(spark, rollRoot)
      .select($"grp", $"score_min", $"score_max")
      .as[(String, Option[Double], Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // g1 only GAINS a new global max (additive least/greatest path);
    // g0 LOSES its current max (id 27, score 27.0) so g0 must rebuild
    // to the next-largest.
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      Seq((40L, "p0", "g1", 400, Some(99.0)))
        .toDF("id", "part", "grp", "qty", "score"),
      Some(Seq(Tuple1(27L)).toDF("id")), "id", "part")
    sync()
    val after = SnapshotStore.read(spark, rollRoot)
      .select($"grp", $"score_min", $"score_max")
      .as[(String, Option[Double], Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(after("g1") == (before("g1")._1, Some(99.0)), after("g1").toString)
    assert(after("g0")._2 == Some(24.0),
      s"g0 lost its 27.0 max and must rebuild to 24.0: ${after("g0")}")
    assert(after("g2") == before("g2"), "untouched group must carry")
    // Whole-table equality against direct aggregation.
    assert(Rollup.view(SnapshotStore.read(spark, rollRoot),
      Seq("grp"), Seq("qty"), Seq("score"))
      .orderBy("grp").collect().map(_.toSeq).toSeq ==
      Rollup.view(Rollup.profile(SnapshotStore.read(spark, srcRoot),
        Seq("grp"), Seq("qty"), Seq("score")), Seq("grp"), Seq("qty"),
        Seq("score")).orderBy("grp").collect().map(_.toSeq).toSeq)
  }

  test("above the literal limit GroupScope falls back to an UNHINTED semi-join with equal rows") {
    val src = (1 to 60).map(i => (i, s"g${i % 30}")).toDF("v", "grp")
    val touched = (1 to 20).map(i => Tuple1(s"g$i")).toDF("grp")
    val fallback = GroupScope.scope(src, touched, Seq("grp"), limit = 10)
    // No ResolvedHint anywhere in the plan: a forced broadcast of an
    // unbounded touched set bypasses AQE's size check and OOMs the
    // driver at scale — the fallback must leave the strategy to AQE.
    val hinted = fallback.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.isEmpty, s"fallback path must carry no join hint: $hinted")
    // The USING semi-join fronts the join column; compare value sets
    // under a fixed projection.
    val literal = GroupScope.scope(src, touched, Seq("grp"), limit = 1000)
    assert(fallback.select("v", "grp").collect().toSet ==
      literal.select("v", "grp").collect().toSet)
  }

  test(">1000-group loss window drives the unhinted fallback; result equals direct rebuild") {
    val srcRoot = freshRoot("ru_big"); val rollRoot = freshRoot("ru_bigroll")
    val n = 1100 // above GroupScope's default literal limit
    val df = (1 to 2 * n).map(i =>
      (i.toLong, s"p${i % 4}", s"g${i % n}", i, Some(i.toDouble)))
      .toDF("id", "part", "grp", "qty", "score")
    SnapshotStore.commit(spark, df, srcRoot, "part")
    def sync() = Rollup.sync(spark, srcRoot, rollRoot,
      Seq("id"), Seq("grp"), Seq("qty"), Seq("score"))
    sync()
    // Delete one row from EVERY group: negGroups = 1100 > limit, so
    // both the anti-join and the rebuild scope run hint-free.
    SnapshotStore.deleteCommit(spark,
      (1 to n).map(i => Tuple1(i.toLong)).toDF("id"), srcRoot, "id", "part")
    sync()
    val got = Rollup.view(SnapshotStore.read(spark, rollRoot),
      Seq("grp"), Seq("qty"), Seq("score"))
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val want = Rollup.view(Rollup.profile(SnapshotStore.read(spark, srcRoot),
      Seq("grp"), Seq("qty"), Seq("score")), Seq("grp"), Seq("qty"),
      Seq("score")).orderBy("grp").collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("a layout-only source window advances the cursor via a metadata-only commit") {
    val srcRoot = freshRoot("ru_layout"); val rollRoot = freshRoot("ru_layroll")
    SnapshotStore.commit(spark, rows(10), srcRoot, "part")
    SnapshotStore.appendCommit(spark, rows(10).withColumn("id", $"id" + 100),
      srcRoot, "part")
    def sync() = Rollup.sync(spark, srcRoot, rollRoot,
      Seq("id"), Seq("grp"), Seq("qty"))
    sync()
    val rollV = SnapshotStore.currentVersion(spark, rollRoot).get
    // v3 on the source is compaction — a pure layout commit, so the
    // change window is a content no-op.
    val v3 = SnapshotStore.compact(spark, srcRoot, "part")
    assert(sync() == v3)
    assert(SnapshotStore.tablePropertiesMap(spark, rollRoot)
      .get(Rollup.CursorProp).contains(v3.toString),
      "cursor must advance past a content-no-op window")
    // Rows unchanged; the advance was metadata-only, and the next sync
    // early-returns instead of re-diffing the same empty window.
    assert(Rollup.view(SnapshotStore.read(spark, rollRoot),
      Seq("grp"), Seq("qty")).orderBy("grp").collect().map(_.toSeq).toSeq ==
      Rollup.view(Rollup.profile(SnapshotStore.read(spark, srcRoot),
        Seq("grp"), Seq("qty")), Seq("grp"), Seq("qty"))
        .orderBy("grp").collect().map(_.toSeq).toSeq)
    val settled = SnapshotStore.currentVersion(spark, rollRoot).get
    assert(settled > rollV)
    assert(sync() == v3)
    assert(SnapshotStore.currentVersion(spark, rollRoot).contains(settled),
      "a caught-up cursor must not commit again")
  }

  test("rebuild re-anchors a drifting float sum to the direct aggregation") {
    val srcRoot = freshRoot("ru_anchor"); val rollRoot = freshRoot("ru_anchorroll")
    SnapshotStore.commit(spark, rows(20), srcRoot, "part")
    Rollup.sync(spark, srcRoot, rollRoot, Seq("id"), Seq("grp"), Seq("score"))
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      Seq((21L, "p1", "g1", 210, Some(0.1))).toDF("id", "part", "grp", "qty", "score"),
      Some(Seq(Tuple1(2L)).toDF("id")), "id", "part")
    Rollup.sync(spark, srcRoot, rollRoot, Seq("id"), Seq("grp"), Seq("score"))
    val v = Rollup.rebuild(spark, srcRoot, rollRoot,
      Seq("grp"), Seq("score"))
    assert(v == SnapshotStore.currentVersion(spark, srcRoot).get)
    assert(SnapshotStore.tablePropertiesMap(spark, rollRoot)
      .get(Rollup.CursorProp).contains(v.toString))
    // After the re-anchor the stored sums are EXACTLY the direct
    // aggregation's (same reduction shape, not the maintained chain).
    assert(SnapshotStore.read(spark, rollRoot)
      .select($"grp", $"score_sum").orderBy("grp").collect().map(_.toSeq).toSeq ==
      Rollup.profile(SnapshotStore.read(spark, srcRoot), Seq("grp"), Seq("score"))
        .select($"grp", $"score_sum").orderBy("grp").collect().map(_.toSeq).toSeq)
    // And sync keeps working off the re-anchored cursor.
    SnapshotStore.appendCommit(spark,
      Seq((30L, "p0", "g0", 300, Some(3.0))).toDF("id", "part", "grp", "qty", "score"),
      srcRoot, "part")
    Rollup.sync(spark, srcRoot, rollRoot, Seq("id"), Seq("grp"), Seq("score"))
    assert(Rollup.view(SnapshotStore.read(spark, rollRoot), Seq("grp"), Seq("score"))
      .orderBy("grp").collect().map(_.toSeq).toSeq ==
      Rollup.view(Rollup.profile(SnapshotStore.read(spark, srcRoot),
        Seq("grp"), Seq("score")), Seq("grp"), Seq("score"))
        .orderBy("grp").collect().map(_.toSeq).toSeq)
  }

  test("rollup refuses a null group value in the window loudly") {
    val srcRoot = freshRoot("ru_src3"); val rollRoot = freshRoot("ru_roll3")
    SnapshotStore.commit(spark,
      Seq((1L, "a", "u1")).toDF("id", "part2", "user"), srcRoot, "part2")
    Rollup.sync(spark, srcRoot, rollRoot, Seq("id"), Seq("user"), Seq("id"))
    SnapshotStore.appendCommit(spark,
      Seq((2L, "a", null: String)).toDF("id", "part2", "user"),
      srcRoot, "part2")
    val e = intercept[IllegalArgumentException] {
      Rollup.sync(spark, srcRoot, rollRoot, Seq("id"), Seq("user"), Seq("id"))
    }
    assert(e.getMessage.contains("null group"), e.getMessage)
  }

  /** Rollup rows in a fixed order for whole-table equality. */
  private def sorted(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String]) =
    df.orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq

  test("changes over a column projection: rows unchanged in the named columns cancel") {
    val root = freshRoot("ru_proj")
    SnapshotStore.commit(spark,
      Seq((1L, "p0", "a", 10, 1.0), (2L, "p0", "b", 20, 2.0), (3L, "p0", "a", 30, 3.0))
        .toDF("id", "part", "grp", "qty", "price"), root, "part")
    // v2: id 1 changes only its price, id 2 moves groups, id 3 leaves,
    // id 4 arrives.
    SnapshotStore.upsertDeleteCommit(spark, root,
      Seq((1L, "p0", "a", 10, 9.0), (2L, "p0", "a", 20, 2.0), (4L, "p0", "b", 40, 4.0))
        .toDF("id", "part", "grp", "qty", "price"),
      Some(Seq(Tuple1(3L)).toDF("id")), "id", "part")
    def window(cols: Option[Seq[String]]) =
      SnapshotStore.changes(spark, root, 1L, 2L, Seq("id"), preImages = true, cols)
    val projected = window(Some(Seq("GRP", "qty", "not_a_column")))
    assert(projected.columns.toSeq == Seq("id", "grp", "qty", "_change_type"))
    assert(projected.as[(Long, String, Int, String)].collect().toSet == Set(
      (2L, "b", 20, "update_preimage"), (2L, "a", 20, "update_postimage"),
      (3L, "a", 30, "delete"), (4L, "b", 40, "insert")))
    // The unprojected window still reports the price-only update.
    assert(window(None).filter($"id" === 1L).count() == 2L)
    // Keys alone: presence only — inserts and deletes, never updates.
    assert(window(Some(Nil)).as[(Long, String)].collect().toSet ==
      Set((3L, "delete"), (4L, "insert")))
  }

  test("a price-only merge leaves the rollup's files as they were and adds one version") {
    val srcRoot = freshRoot("ru_price"); val rollRoot = freshRoot("ru_priceroll")
    val base = rows(30).withColumn("price", $"qty" * 1.5)
    SnapshotStore.commit(spark, base, srcRoot, "part")
    def sync() = Rollup.sync(spark, srcRoot, rollRoot,
      Seq("id"), Seq("grp"), Seq("qty"), Seq("score"))
    sync()
    val rollV = SnapshotStore.currentVersion(spark, rollRoot).get
    val files = SnapshotStore.manifest(spark, rollRoot, rollV)
    val before = sorted(SnapshotStore.read(spark, rollRoot), Seq("grp"))
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      base.filter($"id" <= 12L).withColumn("price", $"price" + 1), None, "id", "part")
    val srcV = SnapshotStore.currentVersion(spark, srcRoot).get
    assert(sync() == srcV)
    assert(SnapshotStore.currentVersion(spark, rollRoot).contains(rollV + 1),
      "an empty window costs exactly one metadata commit")
    assert(SnapshotStore.manifest(spark, rollRoot, rollV + 1) == files,
      "no data file of the rollup may be rewritten")
    assert(SnapshotStore.tablePropertiesMap(spark, rollRoot)
      .get(Rollup.CursorProp).contains(srcV.toString))
    assert(sorted(SnapshotStore.read(spark, rollRoot), Seq("grp")) == before)
  }

  test("a seeded DML sequence keeps sum and min/max rollups equal to the direct profile") {
    val srcRoot = freshRoot("ru_seq")
    val sumRoot = freshRoot("ru_seqsum"); val mmRoot = freshRoot("ru_seqmm")
    val n = 80
    SnapshotStore.commit(spark,
      (1 to n).map(i => (i.toLong, s"p${i % 2}", s"g${i % 4}", i, Option(i.toDouble), i * 0.5))
        .toDF("id", "part", "grp", "qty", "score", "price"), srcRoot, "part")
    val rollups = Seq(
      (sumRoot, Seq("qty", "score"), Seq.empty[String]),
      (mmRoot, Seq("qty"), Seq("score")))
    def syncAll(): Unit = rollups.foreach { case (r, s, m) =>
      Rollup.sync(spark, srcRoot, r, Seq("id"), Seq("grp"), s, m) }
    def check(step: String): Unit = rollups.foreach { case (r, s, m) =>
      assert(sorted(Rollup.view(SnapshotStore.read(spark, r), Seq("grp"), s, m), Seq("grp")) ==
        sorted(Rollup.view(Rollup.profile(SnapshotStore.read(spark, srcRoot), Seq("grp"), s, m),
          Seq("grp"), s, m), Seq("grp")), s"$r after $step")
    }
    syncAll()
    val rnd = new scala.util.Random(7)
    var nextId = n + 1
    (1 to 8).foreach { step =>
      val live = SnapshotStore.read(spark, srcRoot)
        .select($"id", $"part", $"grp", $"qty", $"score", $"price")
        .as[(Long, String, String, Int, Option[Double], Double)].collect().toSeq
      val picked = rnd.shuffle(live).take(6)
      val edited = picked.zipWithIndex.map { case ((id, part, grp, qty, score, price), k) =>
        k % 4 match {
          case 0 => (id, part, s"g${rnd.nextInt(5)}", qty, score, price) // regroup
          case 1 => (id, part, grp, qty + rnd.nextInt(50) - 25,         // sum edit
            if (rnd.nextBoolean()) None else score, price)
          case 2 => (id, part, grp, qty, score, price + 1.0)             // price only
          case _ => (id, part, grp, qty, score.map(_ + 100.0), price)    // new max
        }
      }
      val inserts = (0 until 2).map { _ =>
        nextId += 1
        (nextId.toLong, s"p${nextId % 2}", s"g${rnd.nextInt(5)}", nextId,
          Option(nextId.toDouble), 1.0)
      }
      // The current extremum of a random group leaves: a min/max loser.
      val g = s"g${rnd.nextInt(4)}"
      val loser = live.filter(r => r._3 == g && r._5.isDefined)
        .sortBy(-_._5.get).headOption.map(_._1).filterNot(picked.map(_._1).contains)
      SnapshotStore.upsertDeleteCommit(spark, srcRoot,
        (edited ++ inserts).toDF("id", "part", "grp", "qty", "score", "price"),
        Some(loser.toSeq.toDF("id")), "id", "part")
      syncAll()
      check(s"step $step")
    }
  }

  test("a rollup grouped by its own source key syncs inserts and deletes") {
    val srcRoot = freshRoot("ru_key"); val rollRoot = freshRoot("ru_keyroll")
    SnapshotStore.commit(spark, rows(10), srcRoot, "part")
    // No non-key column is left after the projection: the window is
    // key presence alone.
    def sync() = Rollup.sync(spark, srcRoot, rollRoot, Seq("id"), Seq("id"), Nil)
    sync()
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      rows(12).filter($"id" > 10L || $"id" === 1L).withColumn("qty", $"qty" + 1),
      Some(Seq(2L, 3L).toDF("id")), "id", "part")
    val v = SnapshotStore.currentVersion(spark, srcRoot).get
    assert(sync() == v)
    val got = SnapshotStore.read(spark, rollRoot).select($"id", $"row_count")
      .as[(Long, Long)].collect().toMap
    assert(got == ((1L to 12L).toSet -- Set(2L, 3L)).map(_ -> 1L).toMap)
  }
}
