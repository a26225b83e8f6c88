package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Rollup

/** Transparent MV rewrite onto maintained rollups
  * (RollupRewriteRule + spark.graft.rollups): aggregates over a
  * snapshot scan answer from the rollup table when it provably covers
  * the query — and NEVER when freshness, shape, or exactness is in
  * doubt. Every positive case cross-checks values against the direct
  * scan; every negative case pins that the source (not the rollup)
  * was scanned. */
class RollupRewriteSpec extends graft.SparkSpec {
  import spark.implicits._

  /** (value multiset, whether the plan read only the rollup, whether
    * it read only the source). */
  private def run(df: DataFrame, rollupRoot: String,
                  srcRoot: String): (Set[String], Boolean, Boolean) =
    (df.collect().map(_.toString).toSet,
      graft.DevRun.readsOnly(df, rollupRoot), graft.DevRun.readsOnly(df, srcRoot))

  /** Run `body` with exactly `roots` registered (empty = none),
    * restoring the previous registration afterwards — nests safely. */
  private def registered[A](roots: String*)(body: => A): A = {
    val prev = spark.conf.getOption(RollupRewrite.RegistryConf)
    if (roots.isEmpty) spark.conf.unset(RollupRewrite.RegistryConf)
    else spark.conf.set(RollupRewrite.RegistryConf, roots.mkString(","))
    try body finally prev match {
      case Some(v) => spark.conf.set(RollupRewrite.RegistryConf, v)
      case None => spark.conf.unset(RollupRewrite.RegistryConf)
    }
  }

  private def fixture(): (String, String) = {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/rollup"
    val rows = (0 until 400).map { i =>
      (i.toLong, s"g${i % 5}", s"s${i % 2}",
        if (i % 7 == 0) null else java.lang.Long.valueOf(i % 100),
        BigDecimal(i % 50).setScale(2),
        i * 0.5, (i % 30).toLong, s"p${i % 3}")
    }.toDF("id", "g1", "g2", "qty", "price", "weight", "score", "part")
      // One group (g1 = g4) carries ONLY null qty: SUM must stay NULL,
      // COUNT(qty) 0, AVG NULL through the rewrite.
      .withColumn("qty", when(col("g1") === "g4", lit(null)).otherwise(col("qty")))
    SnapshotStore.commit(spark, rows, src, "part")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("g1", "g2"),
      sumCols = Seq("qty", "price"), minMaxCols = Seq("score"))
    (src, roll)
  }

  test("covered aggregates answer from the rollup, exactly (incl. null groups, subset grouping, AVG)") {
    val (src, roll) = fixture()
    def query() = SnapshotStore.table(spark, src)
      .groupBy("g1")
      .agg(count(lit(1)).as("n"), count(col("qty")).as("nq"),
        sum(col("qty")).as("sq"), sum(col("price")).as("sp"),
        min(col("score")).as("mn"), max(col("score")).as("mx"),
        avg(col("qty")).as("aq"))
    val direct = query().collect().map(_.toString).toSet
    registered(roll) {
      val (got, usedRollup, usedSrc) = run(query(), roll, src)
      assert(usedRollup && !usedSrc, "covered query must scan the rollup only")
      assert(got == direct)
      // Subset grouping re-aggregates per-group state. NOTE: a
      // DataFrame caches its QueryExecution, so each probe builds a
      // FRESH frame — reusing one would freeze the first plan.
      def sub() = SnapshotStore.table(spark, src).groupBy("g2")
        .agg(sum(col("qty")).as("sq"), min(col("score")).as("mn"))
      val subDirect = registered() { sub().collect().map(_.toString).toSet }
      val (subGot, subRoll, _) = run(sub(), roll, src)
      assert(subRoll && subGot == subDirect)
      // Global (no grouping) also rewrites.
      val g = SnapshotStore.table(spark, src)
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("sq"))
      assert(run(g, roll, src)._2)
    }
  }

  test("filters on group columns rewrite; non-group filters keep the scan") {
    val (src, roll) = fixture()
    registered(roll) {
      def f() = SnapshotStore.table(spark, src).filter(col("g1") =!= "g2")
        .groupBy("g2").agg(count(lit(1)).as("n"))
      val direct = registered() { f().collect().map(_.toString).toSet }
      val (got, usedRollup, _) = run(f(), roll, src)
      assert(usedRollup && got == direct,
        "group-grain filters are representable against per-group rows")
      val ng = SnapshotStore.table(spark, src).filter(col("id") > 100)
        .groupBy("g1").agg(count(lit(1)).as("n"))
      val (_, ngRoll, ngSrc) = run(ng, roll, src)
      assert(!ngRoll && ngSrc, "row-grain filters must keep the source scan")
    }
  }

  test("staleness, uncovered aggregates, and derived rollups never rewrite") {
    val (src, roll) = fixture()
    registered(roll) {
      // Double sums are outside the rollup's exactness scope.
      val d = SnapshotStore.table(spark, src).groupBy("g1")
        .agg(sum(col("weight")).as("sw"))
      assert(!run(d, roll, src)._2)
      // DISTINCT aborts.
      val dd = SnapshotStore.table(spark, src).groupBy("g1")
        .agg(countDistinct(col("qty")).as("nd"))
      assert(!run(dd, roll, src)._2)
      // A new source commit makes the rollup stale: scan until synced.
      SnapshotStore.appendCommit(spark,
        Seq((9999L, "g0", "s0", java.lang.Long.valueOf(1L),
          BigDecimal(1).setScale(2), 1.0, 1L, "p0"))
          .toDF("id", "g1", "g2", "qty", "price", "weight", "score", "part"),
        src, "part")
      def q() = SnapshotStore.table(spark, src).groupBy("g1")
        .agg(count(lit(1)).as("n"))
      val (stale, staleRoll, staleSrc) = run(q(), roll, src)
      assert(!staleRoll && staleSrc, "stale rollup must not answer")
      assert(stale.exists(_.contains("81")), "fresh row must be counted")
      Rollup.sync(spark, src, roll, Seq("id"), Seq("g1", "g2"),
        sumCols = Seq("qty", "price"), minMaxCols = Seq("score"))
      val (synced, syncedRoll, _) = run(q(), roll, src)
      assert(syncedRoll && synced == stale,
        "synced rollup must answer with identical values")
      // Time travel to the OLD cursor version: version-pinned scans
      // rewrite only when the cursor matches that pin.
      val old = SnapshotStore.table(spark, src, Some(1L)).groupBy("g1")
        .agg(count(lit(1)).as("n"))
      assert(!run(old, roll, src)._2,
        "a scan pinned to a pre-cursor version must not rewrite")
    }
    // Derived rollups are never rewrite-eligible.
    val dir = freshDir()
    val src2 = s"$dir/src2"; val roll2 = s"$dir/roll2"
    SnapshotStore.commit(spark,
      (0 until 50).map(i => (i.toLong, s"g${i % 3}", i.toLong, "p"))
        .toDF("id", "g1", "qty", "part"), src2, "part")
    Rollup.sync(spark, src2, roll2, Seq("id"), Seq("g1"),
      sumCols = Seq("qty"), derive = df => df)
    registered(roll2) {
      val q = SnapshotStore.table(spark, src2).groupBy("g1")
        .agg(sum(col("qty")).as("s"))
      assert(!run(q, roll2, src2)._2)
    }
  }

  test("corrupted or dangling registrations keep the scan instead of failing the query") {
    val (src, roll) = fixture()
    // Corrupt the recorded cursor: probing must degrade, not throw.
    SnapshotStore.setProperties(spark, roll,
      Seq(graft.operators.Rollup.CursorProp -> "not-a-number"))
    registered(roll, s"${freshDir()}/missing") {
      def q() = SnapshotStore.table(spark, src).groupBy("g1")
        .agg(count(lit(1)).as("n"))
      val (got, usedRollup, usedSrc) = run(q(), roll, src)
      assert(!usedRollup && usedSrc)
      assert(got.nonEmpty)
    }
  }

  test("partition-pruned scans keep the scan when the partition column is not a group column") {
    val (src, roll) = fixture()
    registered(roll) {
      // `part` is NOT in the rollup's (g1, g2) group set — the subset
      // is not representable per-group, so the subset must be scanned.
      def pruned() = SnapshotStore.table(spark, src,
        partitions = Some(Seq("p0"))).groupBy("g1")
        .agg(count(lit(1)).as("n"))
      val direct = registered() { pruned().collect().map(_.toString).toSet }
      val (got, usedRollup, _) = run(pruned(), roll, src)
      assert(!usedRollup && got == direct,
        "a subset scan must aggregate the subset")
    }
  }

  test("partition-pruned scans rewrite when partition columns are group columns") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    val rows = (0 until 400).map(i =>
        (i.toLong, s"g${i % 5}", (i % 100).toLong, s"p${i % 3}"))
      .toDF("id", "g1", "qty", "part")
    SnapshotStore.commit(spark, rows, src, "part")
    // `part` IS a group column — the dashboard `WHERE part = 'x'
    // GROUP BY status` shape: the pruned subset is exactly the union
    // of whole groups, so the rewrite rebases the membership.
    Rollup.sync(spark, src, roll, Seq("id"), Seq("part", "g1"),
      sumCols = Seq("qty"))
    registered(roll) {
      def one() = SnapshotStore.table(spark, src,
          partitions = Some(Seq("p0"))).groupBy("g1")
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
      val oneDirect = registered() { one().collect().map(_.toString).toSet }
      val (got1, roll1, srcScan1) = run(one(), roll, src)
      assert(roll1 && !srcScan1,
        "a group-representable pruned scan must answer from the rollup")
      assert(got1 == oneDirect)
      // Multi-partition subsets rebase as a membership list.
      def two() = SnapshotStore.table(spark, src,
          partitions = Some(Seq("p0", "p2"))).groupBy("g1")
        .agg(sum(col("qty")).as("s"))
      val twoDirect = registered() { two().collect().map(_.toString).toSet }
      val (got2, roll2, _) = run(two(), roll, src)
      assert(roll2 && got2 == twoDirect)
      // Grouping BY the partition column itself also covers.
      def byPart() = SnapshotStore.table(spark, src,
          partitions = Some(Seq("p1"))).groupBy("part", "g1")
        .agg(count(lit(1)).as("n"))
      val byPartDirect = registered() {
        byPart().collect().map(_.toString).toSet }
      val (got3, roll3, _) = run(byPart(), roll, src)
      assert(roll3 && got3 == byPartDirect)
    }
  }

  test("column-mapping renames stay rewrite-eligible (physical names resolve to logical)") {
    val dir = freshDir()
    val src = s"$dir/src"; val roll = s"$dir/roll"
    val rows = (0 until 300).map(i =>
        (i.toLong, s"g${i % 4}", (i % 50).toLong, s"p${i % 2}"))
      .toDF("id", "grp", "qty", "part")
    SnapshotStore.commit(spark, rows, src, "part")
    // Rename BOTH a future group column and a future sum column: the
    // scan relation then carries physical names (grp, qty) while the
    // rollup records the logical ones (category, quantity).
    SnapshotStore.renameColumn(spark, src, "grp", "category")
    SnapshotStore.renameColumn(spark, src, "qty", "quantity")
    Rollup.sync(spark, src, roll, Seq("id"), Seq("category"),
      sumCols = Seq("quantity"))
    registered(roll) {
      def q() = SnapshotStore.table(spark, src).groupBy("category")
        .agg(count(lit(1)).as("n"), sum(col("quantity")).as("s"))
      val direct = registered() { q().collect().map(_.toString).toSet }
      val (got, usedRollup, usedSrc) = run(q(), roll, src)
      assert(usedRollup && !usedSrc,
        "a renamed table must stay rewrite-eligible")
      assert(got == direct)
      // Group-grain filters on the renamed column rebase too.
      def f() = SnapshotStore.table(spark, src)
        .filter(col("category") =!= "g1").groupBy("category")
        .agg(sum(col("quantity")).as("s"))
      val fDirect = registered() { f().collect().map(_.toString).toSet }
      val (fGot, fRoll, _) = run(f(), roll, src)
      assert(fRoll && fGot == fDirect)
    }
  }
}
