package graft.operators

import java.nio.file.Files

import graft.sinks.SnapshotStore

/** The count-only rollup layers: exact frequency tables / top-k
  * ([[Frequencies]]) and equi-width histograms with interpolated
  * quantiles ([[Histograms]]), both maintained at delta price from
  * the pre-image feed. */
class FrequencyHistogramSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(prefix: String): String =
    s"${Files.createTempDirectory(prefix)}/t"

  test("frequency table maintains exactly under value edits and deletes; topK ranks with ties value-ascending") {
    val srcRoot = freshRoot("fq_src"); val fqRoot = freshRoot("fq_tab")
    SnapshotStore.commit(spark,
      (1 to 60).map(i => (i.toLong, s"p${i % 2}", s"lang${i % 4}"))
        .toDF("id", "part", "lang"), srcRoot, "part")
    def sync() = Frequencies.sync(spark, srcRoot, fqRoot,
      Seq("id"), Nil, "lang")
    sync()
    // A value EDIT moves the count between frequency rows — EVERY
    // lang0 row becomes lang9, so lang0's count reaches zero — and a
    // delete subtracts.
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      (1 to 60).filter(_ % 4 == 0)
        .map(i => (i.toLong, s"p${i % 2}", "lang9"))
        .toDF("id", "part", "lang"),
      Some(Seq(Tuple1(1L), Tuple1(5L)).toDF("id")), "id", "part")
    sync()
    val got = Frequencies.topK(SnapshotStore.read(spark, fqRoot),
      Nil, "lang", 3).select($"lang", $"row_count", $"rank")
      .as[(String, Long, Int)].collect().toSet
    val direct = SnapshotStore.read(spark, srcRoot).groupBy($"lang").count()
      .orderBy($"count".desc, $"lang".asc).limit(3)
      .as[(String, Long)].collect()
    assert(got.map(t => (t._1, t._2)) == direct.toSet, s"$got vs ${direct.toSeq}")
    // A value whose count reached zero LEAVES the frequency table —
    // a stale zero row would pollute any full-table reader.
    assert(SnapshotStore.read(spark, fqRoot).filter($"lang" === "lang0")
      .isEmpty, "lang0 vacated entirely and must leave the table")
  }

  test("histogram bins maintain exactly across bin-crossing updates; quantiles interpolate within one bin width") {
    val srcRoot = freshRoot("hg_src"); val hgRoot = freshRoot("hg_tab")
    val (lo, hi, nb) = (0.0, 100.0, 20)
    SnapshotStore.commit(spark,
      (1 to 200).map(i => (i.toLong, s"p${i % 2}", s"g${i % 2}",
        if (i % 50 == 0) None else Some(i % 100 + 0.5)))
        .toDF("id", "part", "grp", "v"), srcRoot, "part")
    def sync() = Histograms.sync(spark, srcRoot, hgRoot,
      Seq("id"), Seq("grp"), "v", lo, hi, nb)
    sync()
    // Updates push a slice of values across bin boundaries; deletes
    // remove another slice.
    SnapshotStore.upsertDeleteCommit(spark, srcRoot,
      (1 to 200).filter(i => i % 7 == 0 && i % 50 != 0)
        .map(i => (i.toLong, s"p${i % 2}", s"g${i % 2}",
          Some((i % 100 + 0.5 + 37) % 100)))
        .toDF("id", "part", "grp", "v"),
      Some(Seq(Tuple1(8L), Tuple1(16L)).toDF("id")), "id", "part")
    sync()
    // Bin counts equal a direct re-binning of the current source.
    val maintained = Histograms.bins(SnapshotStore.read(spark, hgRoot),
        Seq("grp")).orderBy($"grp", $"bin")
      .as[(String, Int, Long)].collect().toSeq
    val direct = SnapshotStore.read(spark, srcRoot)
      .withColumn("bin", Histograms.binOf($"v", lo, hi, nb))
      .groupBy($"grp", $"bin").count().orderBy($"grp", $"bin")
      .as[(String, Int, Long)].collect().toSeq
    assert(maintained == direct)
    // NULLs sit in the sentinel bin and stay out of quantiles.
    assert(maintained.exists(_._2 == Histograms.NullBin))
    val qs = Histograms.quantiles(SnapshotStore.read(spark, hgRoot),
        Seq("grp"), Seq(0.0, 0.5, 0.9, 1.0), lo, hi, nb)
      .as[(String, Double, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val width = (hi - lo) / nb
    // The contract bounds against the NEAREST-RANK order statistic
    // (percentile_disc) — the value the selected bin provably holds.
    val vals = SnapshotStore.read(spark, srcRoot).filter($"v".isNotNull)
      .select($"grp", $"v").as[(String, Double)].collect()
      .groupBy(_._1).map { case (g, a) => g -> a.map(_._2).sorted }
    def disc(g: String, q: Double): Double = {
      val a = vals(g)
      a(math.max(1, math.ceil(q * a.length).toInt) - 1)
    }
    for (g <- Seq("g0", "g1"); q <- Seq(0.0, 0.5, 0.9, 1.0)) {
      val est = qs((g, q)); val ex = disc(g, q)
      assert(math.abs(est - ex) <= width + 1e-9,
        s"quantile($g, $q): est $est vs nearest-rank $ex exceeds bin width $width")
    }
    // NaN rides the sentinel bin like NULL — never bin 0.
    val nanBins = Seq(Option(Double.NaN), None, Some(1.0)).toDF("x")
      .select(Histograms.binOf($"x", 0.0, 10.0, 5).as("b"))
      .as[Int].collect().toSeq
    assert(nanBins == Seq(Histograms.NullBin, Histograms.NullBin, 0), nanBins)
    // The global quantile re-aggregates the maintained bins across
    // groups and keeps the same nearest-rank bound.
    val allVals = vals.values.flatten.toArray.sorted
    def discAll(q: Double): Double =
      allVals(math.max(1, math.ceil(q * allVals.length).toInt) - 1)
    val gq = Histograms.globalQuantiles(SnapshotStore.read(spark, hgRoot),
        Seq(0.5, 0.9), lo, hi, nb)
      .as[(Double, Double)].collect().toMap
    Seq(0.5, 0.9).foreach { q =>
      assert(math.abs(gq(q) - discAll(q)) <= width + 1e-9,
        s"global quantile($q): ${gq(q)} vs ${discAll(q)}")
    }
  }

  test("frequency sync refuses an id-like value column loudly; opt-out and bounded domains pass") {
    val srcRoot = freshRoot("fq_guard"); val fqRoot = freshRoot("fq_guardtab")
    // 40 distinct ids per group — corpus-shaped for a tiny bound.
    SnapshotStore.commit(spark,
      (1 to 80).map(i => (i.toLong, s"p${i % 2}", s"g${i % 2}", s"id$i"))
        .toDF("id", "part", "grp", "v"), srcRoot, "part")
    val e = intercept[IllegalArgumentException] {
      Frequencies.sync(spark, srcRoot, fqRoot, Seq("id"), Seq("grp"), "v",
        maxDistinctPerGroup = 10)
    }
    assert(e.getMessage.contains("distinct") && e.getMessage.contains("opt out"),
      e.getMessage)
    assert(SnapshotStore.currentVersion(spark, fqRoot).isEmpty,
      "a refused first build must publish nothing")
    // Opt-out (0) builds; a bound ABOVE the domain passes too.
    val fq2 = freshRoot("fq_guardtab2")
    Frequencies.sync(spark, srcRoot, fq2, Seq("id"), Seq("grp"), "v",
      maxDistinctPerGroup = 0)
    assert(SnapshotStore.read(spark, fq2).count() == 80L)
    val fq3 = freshRoot("fq_guardtab3")
    Frequencies.sync(spark, srcRoot, fq3, Seq("id"), Seq("grp"), "v",
      maxDistinctPerGroup = 50)
    // The guard prices per WINDOW: a small follow-up window under the
    // bound passes even against the same table.
    SnapshotStore.appendCommit(spark,
      Seq((81L, "p1", "g1", "id81")).toDF("id", "part", "grp", "v"),
      srcRoot, "part")
    Frequencies.sync(spark, srcRoot, fq3, Seq("id"), Seq("grp"), "v",
      maxDistinctPerGroup = 10)
    assert(SnapshotStore.read(spark, fq3).count() == 81L)
  }

  test("rebin rewrites the bin table at a new range; maintained-then-rebinned equals built-fresh and sync continues") {
    val srcRoot = freshRoot("hg_rebin"); val hgRoot = freshRoot("hg_rebintab")
    // Values drift past the original hi=50: the clamped edge bin
    // accumulates everything above it.
    SnapshotStore.commit(spark,
      (1 to 100).map(i => (i.toLong, s"p${i % 2}", "g0", Some(i.toDouble)))
        .toDF("id", "part", "grp", "v"), srcRoot, "part")
    Histograms.sync(spark, srcRoot, hgRoot, Seq("id"), Seq("grp"), "v",
      0.0, 50.0, 10)
    SnapshotStore.appendCommit(spark,
      (101 to 160).map(i => (i.toLong, s"p${i % 2}", "g0", Some(i.toDouble)))
        .toDF("id", "part", "grp", "v"), srcRoot, "part")
    Histograms.sync(spark, srcRoot, hgRoot, Seq("id"), Seq("grp"), "v",
      0.0, 50.0, 10)
    // Re-bin to the drifted range…
    val v = Histograms.rebin(spark, srcRoot, hgRoot, Seq("grp"), "v",
      0.0, 200.0, 20)
    assert(v == SnapshotStore.currentVersion(spark, srcRoot).get)
    // …equals a table built fresh at that range over the same source…
    val freshRootT = freshRoot("hg_rebinfresh")
    Histograms.sync(spark, srcRoot, freshRootT, Seq("id"), Seq("grp"), "v",
      0.0, 200.0, 20)
    def binRows(r: String) = Histograms.bins(SnapshotStore.read(spark, r),
      Seq("grp")).orderBy($"grp", $"bin").as[(String, Int, Long)].collect().toSeq
    assert(binRows(hgRoot) == binRows(freshRootT))
    // …and subsequent sync at the NEW parameters continues incrementally.
    SnapshotStore.appendCommit(spark,
      Seq((161L, "p1", "g0", Some(180.0))).toDF("id", "part", "grp", "v"),
      srcRoot, "part")
    Histograms.sync(spark, srcRoot, hgRoot, Seq("id"), Seq("grp"), "v",
      0.0, 200.0, 20)
    Histograms.sync(spark, srcRoot, freshRootT, Seq("id"), Seq("grp"), "v",
      0.0, 200.0, 20)
    assert(binRows(hgRoot) == binRows(freshRootT))
    // The drifted tail is resolvable again: q=1.0 lands near 180, not
    // clamped at the old hi.
    val q = Histograms.quantiles(SnapshotStore.read(spark, hgRoot),
      Seq("grp"), Seq(1.0), 0.0, 200.0, 20)
      .select($"value").as[Double].head()
    assert(q > 170.0 && q <= 200.0, q.toString)
  }

  test("topKGlobal re-aggregates a grouped frequency table into one global ranking") {
    val srcRoot = freshRoot("fq_src2"); val fqRoot = freshRoot("fq_tab2")
    SnapshotStore.commit(spark,
      (1 to 90).map(i => (i.toLong, s"p${i % 2}", s"s${i % 3}", s"lang${i % 5}"))
        .toDF("id", "part", "site", "lang"), srcRoot, "part")
    Frequencies.sync(spark, srcRoot, fqRoot, Seq("id"), Seq("site"), "lang")
    val got = Frequencies.topKGlobal(SnapshotStore.read(spark, fqRoot),
      "lang", 2).select($"lang", $"row_count").as[(String, Long)]
      .collect().toSet
    val direct = SnapshotStore.read(spark, srcRoot).groupBy($"lang").count()
      .orderBy($"count".desc, $"lang".asc).limit(2)
      .as[(String, Long)].collect().toSet
    assert(got == direct, s"$got vs $direct")
  }
}
