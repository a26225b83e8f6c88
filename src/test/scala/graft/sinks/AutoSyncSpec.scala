package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Rollup

/** Self-maintaining rollups (`Rollup.enableAutoSync` → the
  * `graft.rollup.autoSync` source property → the post-commit hook):
  * once registered, every data commit to the source re-syncs the
  * rollup inline, so the transparent MV rewrite is ALWAYS eligible
  * between commits with zero outside orchestration. */
class AutoSyncSpec extends graft.SparkSpec {
  import spark.implicits._

  private def rowsDf(r: Range): DataFrame =
    r.map(i => (i.toLong, s"g${i % 4}", (i % 100).toLong, (i % 3).toString))
      .toDF("id", "g", "qty", "part")

  test("registered rollups stay cursor-fresh through appends, merges, and deletes") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rowsDf(0 until 300), src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    Rollup.enableAutoSync(spark, src, roll)
    def cursor(): Long = SnapshotStore.tablePropertiesMap(spark, roll)(
      Rollup.CursorProp).toLong
    def srcV(): Long = SnapshotStore.currentVersion(spark, src).get
    assert(cursor() == srcV())
    // Plain append — NO manual sync anywhere below.
    SnapshotStore.appendCommit(spark, rowsDf(300 until 360), src, "part")
    assert(cursor() == srcV(), "append must auto-sync")
    // Keyed merge.
    SnapshotStore.mergeCommitOrdered(spark,
      Seq((10L, "g0", 999L, "1")).toDF("id", "g", "qty", "part"),
      src, ColSpec(Seq("id")), Nil, ColSpec(Seq("part")))
    assert(cursor() == srcV(), "merge must auto-sync")
    // Keyed delete.
    SnapshotStore.deleteCommit(spark,
      (0 until 20).map(_.toLong).toDF("id"), src, "id", "part")
    assert(cursor() == srcV(), "delete must auto-sync")
    // Predicate delete through the FILE-REWRITE branch (no metadata
    // fast path, no DV routing) — the one data-commit exit that
    // historically skipped the hooks.
    SnapshotStore.deleteWhere(spark, src, "qty = 7")
    assert(cursor() == srcV(), "a rewriting predicate delete must auto-sync")
    // LAYOUT commits (OPTIMIZE/compact, z-order) bump the source
    // version without changing content — the hook must still advance
    // the cursor, or the MV rewrite silently stops firing until the
    // next data commit.
    SnapshotStore.compact(spark, src, ColSpec(Seq("part")))
    assert(cursor() == srcV(), "compaction must auto-sync the cursor")
    // Metadata-only commits bump the version too (SET TBLPROPERTIES,
    // constraints) — the cursor must follow or the rewrite goes dark.
    SnapshotStore.setProperties(spark, src, Seq("some.key" -> "v"))
    assert(cursor() == srcV(), "a property commit must auto-sync the cursor")
    SnapshotStore.addConstraint(spark, src, "qty_nonneg", "qty >= 0")
    assert(cursor() == srcV(), "a constraint commit must auto-sync the cursor")
    // The maintained state equals a direct aggregation AND feeds the
    // MV rewrite without any explicit sync call.
    spark.conf.set(RollupRewrite.RegistryConf, roll)
    try {
      val q = SnapshotStore.table(spark, src).groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
      assert(graft.DevRun.readsOnly(q, roll),
        s"auto-synced rollup must answer the dashboard query: ${q.inputFiles.mkString(", ")}")
      val direct = SnapshotStore.read(spark, src).groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
        .collect().map(_.toString).toSet
      assert(q.collect().map(_.toString).toSet == direct)
    } finally spark.conf.unset(RollupRewrite.RegistryConf)
  }

  test("frequency tables auto-sync (recorded FreqGuard derive) and stay rewrite-eligible") {
    import graft.operators.Frequencies
    val dir = freshDir()
    val src = s"$dir/src"; val fq = s"$dir/fq"
    def vals(r: Range): DataFrame =
      r.map(i => (i.toLong, s"g${i % 3}", s"v${i % 5}", (i % 2).toString))
        .toDF("id", "g", "v", "part")
    SnapshotStore.commit(spark, vals(0 until 200), src, "part")
    // Guard ENGAGED (the recordable case that used to record
    // derived=true and lose auto-sync forever), with a cap the flood
    // below exceeds.
    Frequencies.sync(spark, src, fq, Seq("id"), Seq("g"), "v",
      maxDistinctPerGroup = 100)
    Rollup.enableAutoSync(spark, src, fq)
    // Ordinary DML only: append, value edit (a move between frequency
    // rows), delete. ZERO manual syncs.
    SnapshotStore.appendCommit(spark, vals(200 until 260), src, "part")
    SnapshotStore.mergeCommitOrdered(spark,
      Seq((7L, "g1", "vMOVED", "1")).toDF("id", "g", "v", "part"),
      src, ColSpec(Seq("id")), Nil, ColSpec(Seq("part")))
    SnapshotStore.deleteCommit(spark,
      (0 until 10).map(_.toLong).toDF("id"), src, "id", "part")
    val cursor = SnapshotStore.tablePropertiesMap(spark, fq)(
      Rollup.CursorProp).toLong
    assert(cursor == SnapshotStore.currentVersion(spark, src).get,
      "guard-derived frequency table must auto-sync")
    val direct = SnapshotStore.read(spark, src).groupBy("g", "v")
      .agg(count(lit(1)).as("row_count"))
      .collect().map(_.toString).toSet
    assert(SnapshotStore.read(spark, fq).select("g", "v", "row_count")
      .collect().map(_.toString).toSet == direct)
    // The guard derive is content-identity → derived=false is recorded
    // → the MV rewrite still fires for the (g, v) count dashboard.
    spark.conf.set(RollupRewrite.RegistryConf, fq)
    try {
      val q = SnapshotStore.table(spark, src).groupBy("g", "v")
        .agg(count(lit(1)).as("n"))
      assert(graft.DevRun.readsOnly(q, fq),
        s"guarded frequency table must stay rewrite-eligible: ${q.inputFiles.mkString(", ")}")
    } finally spark.conf.unset(RollupRewrite.RegistryConf)
    // The replayed guard still GUARDS: an id-like value flood in a
    // later window fails the auto-sync (swallowed — the data commit
    // lands) and leaves the cursor stale rather than corrupting the
    // summary into a corpus-sized table.
    SnapshotStore.appendCommit(spark,
      (1000 until 1400).map(i => (i.toLong, "g0", s"unique$i", "0"))
        .toDF("id", "g", "v", "part"), src, "part")
    val stale = SnapshotStore.tablePropertiesMap(spark, fq)(
      Rollup.CursorProp).toLong
    assert(stale < SnapshotStore.currentVersion(spark, src).get,
      "a window violating the recorded guard must refuse to sync")
    intercept[IllegalArgumentException] { Rollup.syncFromProps(spark, fq) }
  }

  test("histograms auto-sync (recorded HistBin derive); rebin re-records the new parameters") {
    import graft.operators.Histograms
    val dir = freshDir()
    val src = s"$dir/src"; val hg = s"$dir/hg"
    def vals(r: Range): DataFrame =
      r.map(i => (i.toLong, s"g${i % 2}",
          if (i % 11 == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(i % 100), (i % 2).toString))
        .toDF("id", "g", "v", "part")
    SnapshotStore.commit(spark, vals(0 until 300), src, "part")
    Histograms.sync(spark, src, hg, Seq("id"), Seq("g"), "v", 0.0, 100.0, 10)
    Rollup.enableAutoSync(spark, src, hg)
    // Ordinary DML: append + bin-crossing value edit + delete — the
    // recorded (col, lo, hi, bins) must replay through the hook.
    SnapshotStore.appendCommit(spark, vals(300 until 400), src, "part")
    SnapshotStore.mergeCommitOrdered(spark,
      Seq((5L, "g1", java.lang.Double.valueOf(99.0), "1"))
        .toDF("id", "g", "v", "part"),
      src, ColSpec(Seq("id")), Nil, ColSpec(Seq("part")))
    SnapshotStore.deleteCommit(spark,
      (0 until 15).map(_.toLong).toDF("id"), src, "id", "part")
    assert(SnapshotStore.tablePropertiesMap(spark, hg)(
        Rollup.CursorProp).toLong ==
      SnapshotStore.currentVersion(spark, src).get,
      "HistBin-derived histogram must auto-sync")
    def directBins(lo: Double, hi: Double, nb: Int) =
      SnapshotStore.read(spark, src)
        .withColumn("bin", Histograms.binOf(col("v"), lo, hi, nb))
        .groupBy("g", "bin").agg(count(lit(1)).as("row_count"))
        .collect().map(_.toString).toSet
    assert(Histograms.bins(SnapshotStore.read(spark, hg), Seq("g"))
      .collect().map(_.toString).toSet == directBins(0.0, 100.0, 10))
    // Rebin to a new range/resolution: the NEW parameters must be
    // what subsequent auto-syncs replay, not the creation-time ones.
    Histograms.rebin(spark, src, hg, Seq("g"), "v", 0.0, 200.0, 20)
    SnapshotStore.appendCommit(spark, vals(400 until 450), src, "part")
    assert(SnapshotStore.tablePropertiesMap(spark, hg)(
        Rollup.CursorProp).toLong ==
      SnapshotStore.currentVersion(spark, src).get,
      "post-rebin windows must still auto-sync")
    assert(Histograms.bins(SnapshotStore.read(spark, hg), Seq("g"))
      .collect().map(_.toString).toSet == directBins(0.0, 200.0, 20),
      "auto-sync after rebin must bin with the re-recorded parameters")
  }

  test("registration validates the full self-description BEFORE touching the source") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rowsDf(0 until 50), src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    // Simulate a pre-srcKeys rollup (an older writer's table): blank
    // out the recorded srcKeys. Registration must refuse UP FRONT —
    // registering first would leave a permanently-registered rollup
    // whose every post-commit sync silently fails.
    SnapshotStore.setProperties(spark, roll,
      Seq("graft.rollup.srcKeys" -> ""))
    val e1 = intercept[IllegalArgumentException] {
      Rollup.enableAutoSync(spark, src, roll)
    }
    assert(e1.getMessage.contains("srcKeys"))
    assert(!SnapshotStore.tablePropertiesMap(spark, src)
      .contains("graft.rollup.autoSync"),
      "a refused registration must not touch the source")
    // Heal the description (a cursor-fresh sync early-returns, so
    // bump the source first), then: a WRONG source refuses with the
    // recorded source named, and still never registers.
    SnapshotStore.setProperties(spark, src, Seq("bump" -> "1"))
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    assert(SnapshotStore.tablePropertiesMap(spark, roll)(
      "graft.rollup.srcKeys") == "id")
    val e2 = intercept[IllegalArgumentException] {
      Rollup.enableAutoSync(spark, s"$dir/other", roll)
    }
    assert(e2.getMessage.contains(src))
    assert(!SnapshotStore.tablePropertiesMap(spark, src)
      .contains("graft.rollup.autoSync"))
  }

  test("metadata-only cursor advances re-assert the full meta set (healing)") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rowsDf(0 until 100), src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    // Clobber a recorded meta property (simulating a pre-srcKeys /
    // damaged rollup), then drive a LAYOUT-ONLY source window: the
    // no-content-delta sync path must still re-assert the meta set,
    // not just the cursor — else the table never heals until a
    // content window happens to arrive.
    SnapshotStore.setProperties(spark, roll,
      Seq("graft.rollup.srcKeys" -> "WRONG"))
    SnapshotStore.compact(spark, src, ColSpec(Seq("part")))
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    val props = SnapshotStore.tablePropertiesMap(spark, roll)
    assert(props("graft.rollup.srcKeys") == "id",
      "a metadata-only window must heal the recorded srcKeys")
    assert(props(Rollup.CursorProp).toLong ==
      SnapshotStore.currentVersion(spark, src).get)
  }

  test("a failing auto-sync leaves the data commit green AND surfaces in DESCRIBE DETAIL") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rowsDf(0 until 100), src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    Rollup.enableAutoSync(spark, src, roll)
    // Destroy the rollup out from under the registration: every
    // subsequent auto-sync fails (swallowed by design).
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }
    rm(new java.io.File(roll))
    // The data commit must land regardless …
    SnapshotStore.appendCommit(spark, rowsDf(100 until 130), src, "part")
    assert(SnapshotStore.read(spark, src).count() == 130)
    // … and the swallowed failure rides the NEXT successful commit as
    // a property (never a commit of its own: the version right after
    // the failing one is the next data commit).
    val vAfterFail = SnapshotStore.currentVersion(spark, src).get
    SnapshotStore.appendCommit(spark, rowsDf(130 until 140), src, "part")
    assert(SnapshotStore.currentVersion(spark, src).get == vAfterFail + 1,
      "the error record must not spend a commit of its own")
    val err = SnapshotStore.tablePropertiesMap(spark, src)
      .get(SnapshotStore.MaintenanceErrorProp)
    assert(err.isDefined && err.get.contains("component=autoSync") &&
      err.get.contains(s"version=$vAfterFail"),
      s"swallowed auto-sync failure must be recorded, got $err")
    // Operator surface: DESCRIBE DETAIL shows it.
    spark.conf.set("spark.sql.catalog.graft_aserr",
      classOf[GraftCatalog].getName)
    val detail = spark.sql(s"DESCRIBE DETAIL graft_aserr.`$src`")
      .select("maintenance_last_error").collect().head.getString(0)
    assert(detail != null && detail.contains("component=autoSync"))
    // RECOVERY clears the flag: rebuild the rollup, let one clean
    // hook pass run (queues the clear), and the following commit
    // drops the property — one transient failure must not alarm
    // DESCRIBE DETAIL forever.
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), sumCols = Seq("qty"))
    SnapshotStore.appendCommit(spark, rowsDf(140 until 150), src, "part")
    SnapshotStore.appendCommit(spark, rowsDf(150 until 160), src, "part")
    assert(!SnapshotStore.tablePropertiesMap(spark, src)
      .contains(SnapshotStore.MaintenanceErrorProp),
      "a clean auto-sync pass must clear the recorded failure")
    assert(SnapshotStore.tablePropertiesMap(spark, roll)(
      Rollup.CursorProp).toLong ==
      SnapshotStore.currentVersion(spark, src).get)
  }

  test("derive-hook rollups refuse registration; a broken registration degrades, never fails commits") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    SnapshotStore.commit(spark, rowsDf(0 until 50), src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"),
      sumCols = Seq("qty"), derive = df => df)
    val e = intercept[IllegalArgumentException] {
      Rollup.enableAutoSync(spark, src, roll)
    }
    assert(e.getMessage.contains("derive"))
    // A bogus registration (dangling rollup root) must not fail the
    // data commit — the hook degrades to a no-op.
    SnapshotStore.setProperties(spark, src,
      Seq("graft.rollup.autoSync" -> s"$dir/nonexistent"))
    SnapshotStore.appendCommit(spark, rowsDf(50 until 60), src, "part")
    assert(SnapshotStore.read(spark, src).count() == 60)
    // Self-registration is a guarded no-op, not an infinite loop.
    SnapshotStore.setProperties(spark, src,
      Seq("graft.rollup.autoSync" -> src))
    SnapshotStore.appendCommit(spark, rowsDf(60 until 70), src, "part")
    assert(SnapshotStore.read(spark, src).count() == 70)
  }

  /** (id, g, qty, v, color, price, part) */
  private type R = (Long, String, Long, Double, String, Double, String)

  test("a seeded DML sequence keeps auto-synced rollups, histograms and frequency tables exact") {
    import graft.operators.{Frequencies, Histograms}
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"; val hg = s"$dir/hg"; val fq = s"$dir/fq"
    def df(rs: Seq[R]): DataFrame =
      rs.toDF("id", "g", "qty", "v", "color", "price", "part")
    SnapshotStore.commit(spark, df((0 until 120).map(i =>
      (i.toLong, s"g${i % 3}", (i % 7).toLong, (i % 100).toDouble, s"c${i % 4}",
        i * 0.25, (i % 2).toString))), src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g"), Seq("qty"), Seq("v"))
    Histograms.sync(spark, src, hg, Seq("id"), Seq("g"), "v", 0.0, 100.0, 10)
    Frequencies.sync(spark, src, fq, Seq("id"), Seq("g"), "color",
      maxDistinctPerGroup = 50)
    Seq(roll, hg, fq).foreach(Rollup.enableAutoSync(spark, src, _))
    def cursor(t: String): Long =
      SnapshotStore.tablePropertiesMap(spark, t)(Rollup.CursorProp).toLong
    def srcV(): Long = SnapshotStore.currentVersion(spark, src).get
    def set(d: DataFrame): Set[String] = d.collect().map(_.toString).toSet
    def rollupExact(step: String): Unit = {
      val direct = Rollup.profile(SnapshotStore.read(spark, src), Seq("g"), Seq("qty"), Seq("v"))
      assert(set(Rollup.view(SnapshotStore.read(spark, roll), Seq("g"), Seq("qty"), Seq("v"))) ==
        set(Rollup.view(direct, Seq("g"), Seq("qty"), Seq("v"))), s"rollup after $step")
      assert(set(Histograms.bins(SnapshotStore.read(spark, hg), Seq("g"))) ==
        set(SnapshotStore.read(spark, src)
          .withColumn("bin", Histograms.binOf(col("v"), 0.0, 100.0, 10))
          .groupBy("g", "bin").agg(count(lit(1)).as("row_count"))), s"histogram after $step")
      assert(cursor(roll) == srcV() && cursor(hg) == srcV(), step)
    }
    def freqExact(step: String): Unit = {
      assert(set(SnapshotStore.read(spark, fq).select("g", "color", "row_count")) ==
        set(SnapshotStore.read(spark, src).groupBy("g", "color")
          .agg(count(lit(1)).as("row_count"))), s"frequencies after $step")
      assert(cursor(fq) == srcV(), step)
    }
    val rnd = new scala.util.Random(11)
    var nextId = 1000L
    (1 to 6).foreach { step =>
      val live = SnapshotStore.read(spark, src)
        .select("id", "g", "qty", "v", "color", "price", "part").as[R].collect().toSeq
      val picked = rnd.shuffle(live).take(6)
      val edited = picked.zipWithIndex.map { case ((id, g, qty, v, c, price, part), k) =>
        k match {
          case 0 => (id, s"g${rnd.nextInt(4)}", qty, v, c, price, part)      // regroup
          case 1 => (id, g, qty + 1 + rnd.nextInt(9), v, c, price, part)     // sum edit
          case 2 => (id, g, qty, (v + 10 + rnd.nextInt(30)) % 100, c, price, part) // bin cross
          case 3 => (id, g, qty, v, c, price + 1, part)                      // price only
          case 4 => (id, g, qty, v, s"c${rnd.nextInt(6)}", price, part)      // value move
          case _ => (id, g, qty, 150.0 + step, c, price, part)               // new max
        }
      }
      nextId += 1
      val insert = (nextId, s"g${rnd.nextInt(3)}", 3L, rnd.nextInt(100).toDouble, "c1", 1.0, "0")
      // The maximum of a random group leaves: a min/max loser.
      val g = s"g${rnd.nextInt(3)}"
      val loser = live.filter(_._2 == g).sortBy(-_._4).map(_._1)
        .find(id => !picked.exists(_._1 == id))
      SnapshotStore.upsertDeleteCommit(spark, src, df(edited :+ insert),
        Some(loser.toSeq.toDF("id")), "id", "part")
      rollupExact(s"step $step")
      freqExact(s"step $step")
    }
    // An edit to no maintained column: each derived table gains one
    // metadata version and keeps every data file.
    val tables = Seq(roll, hg, fq)
    val before = tables.map { t =>
      val v = SnapshotStore.currentVersion(spark, t).get
      (v, SnapshotStore.manifest(spark, t, v))
    }
    SnapshotStore.upsertDeleteCommit(spark, src,
      SnapshotStore.read(spark, src).filter(col("id") < 30L)
        .withColumn("price", col("price") * 2), None, "id", "part")
    tables.zip(before).foreach { case (t, (v, files)) =>
      assert(SnapshotStore.currentVersion(spark, t).contains(v + 1), t)
      assert(SnapshotStore.manifest(spark, t, v + 1) == files, t)
    }
    rollupExact("price-only merge")
    freqExact("price-only merge")
    // The recorded guard still sees the flood through the projected
    // window: the frequency table refuses it, the others keep up.
    SnapshotStore.appendCommit(spark, df((0 until 80).map(i =>
      (5000L + i, "g0", 1L, 50.0, s"flood$i", 1.0, "0"))), src, "part")
    assert(cursor(fq) < srcV(), "the FreqGuard flood must leave the cursor stale")
    rollupExact("flood")
  }
}
