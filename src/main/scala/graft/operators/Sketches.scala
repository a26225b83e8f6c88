package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** Mergeable distinct-count sketches at rest — HLL (Apache
  * DataSketches, via Spark's native `hll_sketch_agg` family, codegen'd
  * aggregates, zero UDFs).
  *
  * The 100 TB shape: a `COUNT(DISTINCT c)` dashboard over a growing
  * corpus must not rescan the corpus per refresh. Instead, per-group
  * sketches are built ONCE over the data each commit touches and
  * merged at query time — union is associative and lossless for HLL,
  * so per-group sketches answer any rollup (per group, any subset of
  * groups, global) without touching data again. The reference prices
  * its stats calls on metadata (mongodb_loader.py:271-299); this is
  * the analog for distinct counts, where exact metadata is impossible
  * but a ~1% sketch is cheap and mergeable.
  *
  * [[hllSync]] maintains a sketch TABLE (itself a [[SnapshotStore]]
  * snapshot, hash-bucketed so high-cardinality groups don't explode
  * the partition space) incrementally from the source table's change
  * feed: insert-only windows UNION the delta's sketches into the
  * stored rows (priced by the change feed's touched partitions, never
  * the table — the E41/E68 incremental discipline); windows carrying
  * deletes or updates
  * rebuild ONLY the touched groups (HLL cannot subtract), bounded by
  * the group predicate. The source-version cursor rides the same
  * atomic commit as the sketch rows, so a crash replays the window
  * idempotently.
  *
  * Contract: group columns must be non-null (the same discipline the
  * store's partition columns enforce); [[hllSync]] fails loudly on a
  * null-group delta rather than silently desyncing.
  */
object Sketches {

  /** Sketch-table property carrying the last-synced source version. */
  val CursorProp = "graft.sketch.sourceVersion"
  /** Sketch-table property pinning lgK (unions must agree). */
  val LgKProp = "graft.sketch.lgK"

  private val Bucket = "__bucket"
  private val NumBuckets = 16

  private def sketchCol(c: String): String = s"${c}_hll"

  private def bucketOf(groupCols: Seq[String]): Column =
    pmod(xxhash64(groupCols.map(col): _*), lit(NumBuckets)).cast("int")

  /** Per-group HLL sketches of `cols`: one row per group, one binary
    * sketch per column. Build once per data window; merge forever. */
  def hllProfile(df: DataFrame, groupCols: Seq[String], cols: Seq[String],
                 lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty, "hllProfile needs at least one sketched column")
    val aggs = cols.map(c =>
      hll_sketch_agg(col(c), lit(lgK)).as(sketchCol(c)))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Distinct-count estimates from a sketch frame: the groups, then
    * one `<c>_distinct` long per sketched column. */
  def estimates(sketches: DataFrame, groupCols: Seq[String],
                cols: Seq[String]): DataFrame =
    sketches.select(groupCols.map(col) ++ cols.map(c =>
      hll_sketch_estimate(col(sketchCol(c))).as(s"${c}_distinct")): _*)

  /** Roll per-group sketches up to ONE global estimate per column —
    * the merge that makes sketches-at-rest pay: any rollup, no rescan. */
  def globalEstimates(sketches: DataFrame, cols: Seq[String]): DataFrame = {
    val unions = cols.map(c =>
      hll_sketch_estimate(hll_union_agg(col(sketchCol(c)), lit(false)))
        .as(s"${c}_distinct"))
    sketches.agg(unions.head, unions.tail: _*)
  }

  /** Incrementally maintain the sketch table at `sketchRoot` for
    * `srcRoot`, returning the synced source version. First call =
    * full build; later calls price by the CHANGE FEED (insert-only →
    * sketch the delta and union it in; deletes/updates → rebuild only
    * the touched groups). The cursor property rides the same atomic
    * commit as the rows. */
  def hllSync(spark: SparkSession, srcRoot: String, sketchRoot: String,
              srcKeys: Seq[String], groupCols: Seq[String],
              cols: Seq[String], lgK: Int = 12): Long = {
    require(groupCols.nonEmpty, "hllSync needs at least one group column")
    val cur = SnapshotStore.currentVersion(spark, srcRoot)
      .getOrElse(throw new IllegalStateException(
        s"hllSync: no committed source at $srcRoot"))
    val skCols = cols.map(sketchCol)
    def withBucket(df: DataFrame): DataFrame =
      df.select((groupCols ++ skCols).map(col): _*)
        .withColumn(Bucket, bucketOf(groupCols))
    // Source reads below are PINNED to the captured cursor version —
    // a concurrent source commit between the capture and a
    // latest-version read would bake cur+1 rows into state recorded
    // as cur, and the next window would re-apply them (see Rollup).
    SnapshotStore.currentVersion(spark, sketchRoot) match {
      case None =>
        val sk = hllProfile(SnapshotStore.readVersion(spark, srcRoot, cur),
          groupCols, cols, lgK)
        SnapshotStore.commit(spark, withBucket(sk), sketchRoot, Bucket,
          properties = Some(Seq(CursorProp -> cur.toString,
            LgKProp -> lgK.toString)))
        cur
      case Some(_) =>
        val props = SnapshotStore.tablePropertiesMap(spark, sketchRoot)
        val cursor = props.getOrElse(CursorProp, throw new IllegalStateException(
          s"$sketchRoot exists but carries no $CursorProp — not a sketch table")).toLong
        val storedLgK = props.getOrElse(LgKProp, lgK.toString).toInt
        if (cursor == cur) return cur
        require(cursor < cur,
          s"sketch cursor v$cursor is ahead of source v$cur — wrong source?")
        // Pre-images matter here too: an update that REGROUPS a row
        // must mark the OLD group touched (its sketch holds hashes of
        // rows that left), and the old group value only travels on the
        // update_preimage row. The window diffs only the group and
        // sketched columns (see Rollup.sync): an update to any other
        // column leaves every sketch as it was.
        val feed = SnapshotStore.changes(spark, srcRoot, cursor, cur,
          srcKeys, preImages = true, Some(groupCols ++ cols)).persist()
        try {
          // One job sizes the window, checks its group values and
          // picks the path.
          val probe = feed.agg(count(lit(1)),
            count_if(groupCols.map(col(_).isNull).reduce(_ || _)),
            count_if(col("_change_type") =!= "insert")).head()
          require(probe.getLong(1) == 0L,
            "hllSync: null group value in the change window — group " +
              "columns must be non-null")
          if (probe.getLong(0) == 0L) {
            SnapshotStore.setProperties(spark, sketchRoot,
              Seq(CursorProp -> cur.toString))
            return cur
          }
          val merged =
            props.filterNot(_._1 == CursorProp).toSeq :+ (CursorProp -> cur.toString)
          var committed = -1L
          val before = SnapshotStore.currentVersion(spark, sketchRoot)
          val hasDoom = probe.getLong(2) > 0L
          if (!hasDoom) {
            // Insert-only: sketch ONLY the delta, union into the stored
            // rows of the touched groups (a left join — untouched
            // groups carry by reference in the keyed upsert).
            val delta = hllProfile(feed.drop("_change_type"),
              groupCols, cols, storedLgK)
            val stored = SnapshotStore.read(spark, sketchRoot)
              .select((groupCols ++ skCols).map(col): _*)
              .select(groupCols.map(col) ++
                skCols.map(c => col(c).as(s"__old_$c")): _*)
            // Persist across upsertDeleteCommit's multiple consumers
            // (touched-partition collect + data write) — the few-group
            // result is tiny, and without it the delta-sketch + stored
            // join replays per action (same fix as Rollup.sync).
            val unioned = delta.join(stored, groupCols, "left")
              .select(groupCols.map(col) ++ cols.map { c =>
                val d = col(sketchCol(c)); val o = col(s"__old_${sketchCol(c)}")
                when(o.isNull, d).otherwise(hll_union(o, d)).as(sketchCol(c))
              }: _*).persist()
            try committed = SnapshotStore.upsertDeleteCommit(spark, sketchRoot,
              withBucket(unioned), None, groupCols, Bucket,
              properties = Some(merged))
            finally unioned.unpersist()
          } else {
            // Deletes/updates: HLL cannot subtract — rebuild exactly
            // the touched groups from the current snapshot; groups
            // with no surviving rows leave the sketch table. A small
            // touched set (the overwhelmingly common window) becomes a
            // literal predicate so partition pruning and stats
            // skipping bound the rebuild SCAN, not just the rows — a
            // semi-join alone would filter after reading every file.
            val touched = feed.select(groupCols.map(col): _*).distinct()
            // Persist: the rebuild scan feeds the upsert write, the
            // vanished-group anti-join, AND upsertDeleteCommit's
            // touched/probe collects — one source scan instead of one
            // per action.
            val rebuilt = hllProfile(
              GroupScope.scope(SnapshotStore.readVersion(spark, srcRoot, cur),
                touched, groupCols),
              groupCols, cols, storedLgK).persist()
            try {
              val vanished = touched.join(rebuilt, groupCols, "left_anti")
              committed = SnapshotStore.upsertDeleteCommit(spark, sketchRoot,
                withBucket(rebuilt), Some(vanished), groupCols, Bucket,
                properties = Some(merged))
            } finally rebuilt.unpersist()
          }
          // A merge that commits nothing RETURNS the unchanged version
          // without writing the property set — advance the cursor with
          // a metadata-only commit so later syncs stop re-diffing it.
          // Compared against the merge's RETURNED version (Rollup.sync's
          // convention): a second currentVersion read could see a
          // concurrent writer's commit and skip the advance forever.
          if (before.contains(committed))
            SnapshotStore.setProperties(spark, sketchRoot,
              Seq(CursorProp -> cur.toString))
          cur
        } finally feed.unpersist()
    }
  }
}
