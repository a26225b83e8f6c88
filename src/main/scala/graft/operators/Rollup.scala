package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** Incrementally-maintained EXACT aggregates — a materialized
  * `GROUP BY` table kept in sync with a snapshot table from its
  * change feed (incremental view maintenance, the Materialize /
  * DLT shape).
  *
  * The 100 TB contract: a SUM/COUNT dashboard over a mutating corpus
  * re-prices per COMMIT WINDOW, never per corpus. The update
  * pre-images the change feed emits ([[SnapshotStore.changes]] with
  * `preImages = true`, Delta CDF's convention) make the maintenance
  * exact under arbitrary DML: every removed row SUBTRACTS its old
  * contribution (sign −1 for `delete`/`update_preimage`) and every
  * added row adds its new one (+1 for `insert`/`update_postimage`) —
  * including updates that MOVE a row between groups, because the
  * pre-image carries the old group value.
  *
  * SUM and COUNT are group-invertible, so a sum-only rollup stays
  * FULLY additive under inserts, updates, and deletes. MIN/MAX are
  * not invertible — removing the extremum needs a re-look — so groups
  * that lose rows rebuild from the cursor's snapshot version (bounded
  * by a literal group predicate, so partition pruning and stats
  * skipping bound the rebuild scan); groups that only gain rows stay
  * additive via `least`/`greatest`.
  *
  * Exactness scope: "exact" holds for COUNT, MIN/MAX, and SUM over
  * INTEGRAL and DECIMAL columns, where subtract-then-add is truly
  * associative. A float/double sum column is maintained with the same
  * algebra, but IEEE addition is not associative, so its maintained
  * sum can DRIFT from a direct aggregation by accumulated rounding
  * over many windows — and sum-only rollups never rebuild, so the
  * drift is unbounded in principle. Treat float sums as approximate,
  * or store prices/quantities as DECIMAL (the reference's own domain
  * shape), or call [[rebuild]] periodically to re-anchor.
  *
  * Storage per group: `row_count`, then per sum column its non-null
  * count `<c>_nn` (the witness that keeps SUM's NULL semantics exact:
  * a group whose non-null count returns to zero goes back to NULL,
  * not 0) and `<c>_sum`; per min/max column `<c>_min`/`<c>_max`. The
  * rollup table is itself a snapshot table, hash-bucketed by group;
  * the source-version cursor rides each sync commit, so a crashed
  * sync replays idempotently. Group columns must be non-null (loud
  * check on the window, like [[Sketches]]). */
object Rollup {

  /** Rollup-table property carrying the last-synced source version. */
  val CursorProp = "graft.rollup.sourceVersion"

  /** The default (and sentinel) `derive`: reference-compared so the
    * recorded `graft.rollup.derived` flag is exact for callers who
    * never pass one. A caller-supplied derive — even a semantic
    * identity — records `true`, which keeps the transparent query
    * rewrite ([[graft.sinks.RollupRewriteRule]]) away: the rule cannot
    * replay arbitrary closures, so only underived rollups are
    * rewrite-eligible. Use a [[DeriveSpec]] instead wherever the
    * transformation is describable — recordable derives keep both
    * auto-sync and (for guard-only derives) the rewrite. */
  val Identity: DataFrame => DataFrame = identity

  /** A RECORDABLE derive — the declarative alternative to the `derive`
    * closure: the transformation is fully described by table
    * properties, so [[syncFromProps]] (and therefore post-commit
    * auto-sync) can REPLAY it across JVMs and sessions. A closure
    * records `graft.rollup.derived = true` and permanently loses
    * auto-sync; a spec records its parameters and keeps it. */
  sealed trait DeriveSpec {
    def apply(df: DataFrame): DataFrame
    /** True when the derive changes NO row content (a pure guard):
      * the recorded `graft.rollup.derived` flag stays `false` and the
      * transparent MV rewrite remains eligible. A content-deriving
      * spec (e.g. a computed bin column) records `true` — the rewrite
      * stays away, but auto-sync still replays it. */
    def contentIdentity: Boolean
    def props: Seq[(String, String)]
    /** The source columns the derive reads: the change window
      * [[sync]] diffs carries them besides the rollup's own columns. */
    def inputs: Seq[String]
  }

  /** The frequency-table high-cardinality guard
    * ([[Frequencies.sync]]): probes the window's distinct-value count
    * per group and refuses loudly above the cap. Content-identity —
    * the maintained rows are exactly the underived rollup's. */
  final case class FreqGuard(guardGroupCols: Seq[String], valueCol: String,
                             maxDistinctPerGroup: Int) extends DeriveSpec {
    require(maxDistinctPerGroup > 0,
      "FreqGuard with no cap is just the identity — pass no spec instead")
    override def contentIdentity: Boolean = true
    override def inputs: Seq[String] = guardGroupCols :+ valueCol
    override def props: Seq[(String, String)] = Seq(
      DeriveKindProp -> "freqGuard",
      DeriveValueColProp -> valueCol,
      // The guard's OWN group set, recorded explicitly: reconstructing
      // it as groupCols-minus-valueCol would silently weaken a guard
      // configured over a subset of the rollup's group columns.
      DeriveGuardGroupsProp -> guardGroupCols.mkString(","),
      DeriveMaxDistinctProp -> maxDistinctPerGroup.toString)
    override def apply(df: DataFrame): DataFrame = {
      val names = if (guardGroupCols.isEmpty) Seq("__g") else guardGroupCols
      val sel = (if (guardGroupCols.isEmpty) Seq(lit(1).as("__g"))
        else guardGroupCols.map(col)) :+ col(valueCol)
      val over = df.select(sel: _*).distinct()
        .groupBy(names.map(col): _*)
        .agg(count(lit(1)).as("__nv"))
        .filter(col("__nv") > maxDistinctPerGroup)
        .limit(1).count()
      require(over == 0L,
        s"frequency sync: a group carries more than $maxDistinctPerGroup " +
          s"distinct '$valueCol' values in this window — an id-like value " +
          "column makes the frequency table corpus-sized; bucket the " +
          "values or pass maxDistinctPerGroup = 0 to opt out")
      df
    }
  }

  /** The histogram bin derive ([[Histograms.sync]]): adds the computed
    * equi-width bin column. Content-deriving (`derived = true` — no MV
    * rewrite), but (col, lo, hi, bins) replay exactly, so the
    * histogram auto-syncs. */
  final case class HistBin(valueCol: String, binCol: String,
                           lo: Double, hi: Double, bins: Int) extends DeriveSpec {
    override def contentIdentity: Boolean = false
    override def inputs: Seq[String] = Seq(valueCol)
    override def props: Seq[(String, String)] = Seq(
      DeriveKindProp -> "histBin",
      DeriveValueColProp -> valueCol,
      DeriveBinColProp -> binCol,
      DeriveLoProp -> lo.toString, DeriveHiProp -> hi.toString,
      DeriveBinsProp -> bins.toString)
    override def apply(df: DataFrame): DataFrame =
      df.withColumn(binCol, Histograms.binOf(col(valueCol), lo, hi, bins))
  }

  private val DeriveKindProp = "graft.rollup.derive.kind"
  private val DeriveValueColProp = "graft.rollup.derive.valueCol"
  private val DeriveGuardGroupsProp = "graft.rollup.derive.guardGroups"
  private val DeriveMaxDistinctProp = "graft.rollup.derive.maxDistinct"
  private val DeriveBinColProp = "graft.rollup.derive.binCol"
  private val DeriveLoProp = "graft.rollup.derive.lo"
  private val DeriveHiProp = "graft.rollup.derive.hi"
  private val DeriveBinsProp = "graft.rollup.derive.bins"

  /** Rehydrate a recorded [[DeriveSpec]] from table properties. Loud
    * on an unknown kind or a garbled record (a newer writer, a
    * hand-edited property) — a silent None would make auto-sync
    * maintain the rollup WITHOUT its derive and corrupt it. */
  def deriveSpecFromProps(props: Map[String, String]): Option[DeriveSpec] =
    props.get(DeriveKindProp).map { kind =>
      def need(k: String): String = props.getOrElse(k,
        throw new IllegalStateException(
          s"recorded derive '$kind' is missing its $k property"))
      kind match {
        case "freqGuard" =>
          val v = need(DeriveValueColProp)
          // Records written before guardGroups existed fall back to
          // the old reconstruction (groupCols minus the value column)
          // — refusing would permanently break their auto-sync, the
          // exact failure the recordable derive exists to prevent.
          val guardGroups = props.get(DeriveGuardGroupsProp)
            .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
            .getOrElse(props.getOrElse("graft.rollup.groupCols", "")
              .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
              .filterNot(_ == v))
          FreqGuard(guardGroups, v, need(DeriveMaxDistinctProp).toInt)
        case "histBin" =>
          HistBin(need(DeriveValueColProp), need(DeriveBinColProp),
            need(DeriveLoProp).toDouble, need(DeriveHiProp).toDouble,
            need(DeriveBinsProp).toInt)
        case other => throw new IllegalStateException(
          s"unknown recorded derive kind '$other' — written by a newer " +
            "engine version? sync explicitly with the matching spec")
      }
    }

  /** Self-description recorded on the rollup table (re-asserted every
    * sync, so pre-existing rollups heal on their next window): what
    * the transparent query rewrite and the auto-sync replay need. */
  private def metaProps(srcRoot: String, srcKeys: Seq[String],
                        groupCols: Seq[String],
                        sumCols: Seq[String], minMaxCols: Seq[String],
                        derived: Boolean,
                        spec: Option[DeriveSpec]): Seq[(String, String)] = Seq(
    "graft.rollup.source" -> srcRoot,
    "graft.rollup.srcKeys" -> srcKeys.mkString(","),
    "graft.rollup.groupCols" -> groupCols.mkString(","),
    "graft.rollup.sumCols" -> sumCols.mkString(","),
    "graft.rollup.minMaxCols" -> minMaxCols.mkString(","),
    "graft.rollup.derived" -> derived.toString) ++
    spec.toSeq.flatMap(_.props)

  private val MetaKeys: Set[String] = Set(CursorProp,
    "graft.rollup.source", "graft.rollup.srcKeys", "graft.rollup.groupCols",
    "graft.rollup.sumCols", "graft.rollup.minMaxCols", "graft.rollup.derived",
    DeriveKindProp, DeriveValueColProp, DeriveGuardGroupsProp,
    DeriveMaxDistinctProp, DeriveBinColProp, DeriveLoProp, DeriveHiProp,
    DeriveBinsProp)

  /** Sync a rollup from its OWN recorded self-description — the form
    * the post-commit auto-sync hook calls
    * ([[graft.sinks.SnapshotStore]]'s `graft.rollup.autoSync` source
    * property). A recorded [[DeriveSpec]] replays; a closure-derived
    * rollup refuses loudly (a closure is not recordable), as does a
    * pre-srcKeys rollup until one manual [[sync]] re-asserts the full
    * description. Returns the synced source version. */
  def syncFromProps(spark: SparkSession, rollupRoot: String): Long = {
    val props = SnapshotStore.tablePropertiesMap(spark, rollupRoot)
    def need(k: String): String = props.getOrElse(k,
      throw new IllegalStateException(
        s"$rollupRoot carries no $k — not an auto-syncable rollup"))
    val spec = deriveSpecFromProps(props)
    if (spec.isEmpty)
      require(props.get("graft.rollup.derived").contains("false"),
        s"$rollupRoot was built with a derive hook — auto-sync cannot " +
          "replay a closure; sync it explicitly")
    def cols(k: String): Seq[String] =
      need(k).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    sync(spark, need("graft.rollup.source"), rollupRoot,
      cols("graft.rollup.srcKeys"), cols("graft.rollup.groupCols"),
      cols("graft.rollup.sumCols"), cols("graft.rollup.minMaxCols"),
      deriveSpec = spec)
  }

  /** Make `rollupRoot` SELF-MAINTAINING: record it in the source's
    * `graft.rollup.autoSync` property, so every subsequent data commit
    * to the source re-syncs it inline (the post-commit hook) — a
    * registered dashboard rollup is then always cursor-fresh and the
    * transparent MV rewrite fires on every read. Syncs once up front
    * (registration itself must not leave a stale window). */
  def enableAutoSync(spark: SparkSession, srcRoot: String,
                     rollupRoot: String): Unit = {
    // Validate the FULL recorded self-description BEFORE the
    // registration commit: a pre-srcKeys, wrong-source, or
    // closure-derived rollup must refuse HERE — registering first
    // would leave a permanently-registered rollup whose every
    // post-commit sync fails (swallowed by design), i.e. an MV that
    // silently never maintains. The sync itself runs AFTER the
    // registration commit — the property commit bumps the source
    // version, and the rollup must leave this call cursor-fresh, not
    // one behind.
    val props = SnapshotStore.tablePropertiesMap(spark, rollupRoot)
    if (deriveSpecFromProps(props).isEmpty)  // throws on garbled record
      require(props.get("graft.rollup.derived").contains("false"),
        s"$rollupRoot was built with a derive hook — auto-sync cannot " +
          "replay a closure; sync it explicitly")
    Seq("graft.rollup.source", "graft.rollup.srcKeys",
        "graft.rollup.groupCols", "graft.rollup.sumCols",
        "graft.rollup.minMaxCols", CursorProp).foreach(k =>
      require(props.contains(k),
        s"$rollupRoot carries no $k — run one explicit sync (which " +
          "records the full self-description) before enabling auto-sync"))
    // Present-but-empty is as unsyncable as absent for the two fields
    // the change feed cannot run without.
    Seq("graft.rollup.srcKeys", "graft.rollup.groupCols").foreach(k =>
      require(props(k).split(",").exists(_.trim.nonEmpty),
        s"$rollupRoot records an empty $k — run one explicit sync " +
          "before enabling auto-sync"))
    require(props("graft.rollup.source") == srcRoot,
      s"$rollupRoot is a rollup of ${props("graft.rollup.source")}, not " +
        s"$srcRoot — registering it here would never sync it")
    // CAS append: two sessions registering different rollups
    // concurrently must both land — a caller-side read-merge-set
    // would let the loser's retry overwrite the winner's entry, and
    // the erased rollup would silently never sync again.
    SnapshotStore.updateProperty(spark, srcRoot, "graft.rollup.autoSync") {
      cur =>
        val existing = cur.toSeq.flatMap(_.split(","))
          .map(_.trim).filter(_.nonEmpty)
        if (existing.contains(rollupRoot)) existing.mkString(",")
        else (existing :+ rollupRoot).mkString(",")
    }
    syncFromProps(spark, rollupRoot)
  }

  /** The one place the derive-closure-vs-spec choice resolves to
    * (function to apply, derived flag to record) — sync and rebuild
    * must agree on this rule or their recorded self-descriptions
    * diverge. */
  private def resolveDerive(derive: DataFrame => DataFrame,
                            deriveSpec: Option[DeriveSpec])
      : (DataFrame => DataFrame, Boolean) = {
    require(deriveSpec.isEmpty || (derive eq Identity),
      "pass a derive closure OR a recordable deriveSpec, not both")
    (deriveSpec.map(sp => sp.apply _).getOrElse(derive),
      deriveSpec.map(!_.contentIdentity).getOrElse(derive ne Identity))
  }

  private val Bucket = "__bucket"
  private val NumBuckets = 16

  private def bucketOf(groupCols: Seq[String]): Column =
    pmod(xxhash64(groupCols.map(col): _*), lit(NumBuckets)).cast("int")

  /** The maintained column names, in storage order. */
  private def aggNames(sumCols: Seq[String], minMaxCols: Seq[String]): Seq[String] =
    "row_count" +: (sumCols.flatMap(c => Seq(s"${c}_nn", s"${c}_sum")) ++
      minMaxCols.flatMap(c => Seq(s"${c}_min", s"${c}_max")))

  /** Direct aggregation in the rollup's storage schema — the full
    * build, the rebuild of touched groups, and the oracle shape. A
    * count-only rollup (no sum / min-max columns) is a FREQUENCY
    * table — `row_count` per group is itself additive and exact. */
  def profile(df: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
              minMaxCols: Seq[String] = Nil): DataFrame = {
    val aggs = count(lit(1)).as("row_count") +:
      (sumCols.flatMap(c => Seq(count(col(c)).as(s"${c}_nn"),
        sum(col(c)).as(s"${c}_sum"))) ++
        minMaxCols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Reader view: the maintained aggregates without the `_nn`
    * witnesses. */
  def view(rollup: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
           minMaxCols: Seq[String] = Nil): DataFrame =
    rollup.select((groupCols :+ "row_count").map(col) ++
      sumCols.map(c => col(s"${c}_sum")) ++
      minMaxCols.flatMap(c => Seq(col(s"${c}_min"), col(s"${c}_max"))): _*)

  /** Incrementally maintain the rollup at `rollupRoot` for `srcRoot`;
    * returns the synced source version.
    *
    * `derive` is applied row-wise to BOTH the change-feed window and
    * any rebuild/full-build read before aggregation — the hook that
    * lets group columns be COMPUTED (a histogram bin, a normalized
    * key) instead of physical. Contract: deterministic, row-wise, and
    * additive (it may add columns, never drop, rename, or re-key the
    * source's own); a pre-image row and its post-image derive
    * independently, which is exactly what keeps subtraction exact.
    *
    * Prefer `deriveSpec` over `derive` wherever the transformation is
    * describable: a [[DeriveSpec]] records its parameters as table
    * properties, so the post-commit auto-sync can replay it — a
    * closure cannot be recorded and permanently bars auto-sync. */
  def sync(spark: SparkSession, srcRoot: String, rollupRoot: String,
           srcKeys: Seq[String], groupCols: Seq[String],
           sumCols: Seq[String], minMaxCols: Seq[String] = Nil,
           derive: DataFrame => DataFrame = Identity,
           deriveSpec: Option[DeriveSpec] = None): Long = {
    require(groupCols.nonEmpty, "rollup sync needs at least one group column")
    val (deriveFn, derivedFlag) = resolveDerive(derive, deriveSpec)
    val cur = SnapshotStore.currentVersion(spark, srcRoot)
      .getOrElse(throw new IllegalStateException(
        s"rollup sync: no committed source at $srcRoot"))
    val names = aggNames(sumCols, minMaxCols)
    def withBucket(df: DataFrame): DataFrame =
      df.select((groupCols ++ names).map(col): _*)
        .withColumn(Bucket, bucketOf(groupCols))
    // Every source read below is PINNED to the captured cursor
    // version: the store supports concurrent writers, so a commit
    // landing between the cursor capture and a latest-version read
    // would bake cur+1's rows into state recorded as cur — and the
    // next window would apply those changes AGAIN.
    SnapshotStore.currentVersion(spark, rollupRoot) match {
      case None =>
        // The source read is consumed up to three times on this path —
        // an eager derive-guard probe (FreqGuard's distinct-count
        // action), the profile aggregation, and the commit's own
        // write — and without materialization each is a full source
        // scan. One persist turns that into one scan + cache reads
        // (measured in the q212 profile as repeated
        // resolveDerive→FreqGuard.apply stacks).
        val src = SnapshotStore.readVersion(spark, srcRoot, cur).persist()
        try SnapshotStore.commit(spark,
          withBucket(profile(
            deriveFn(src),
            groupCols, sumCols, minMaxCols)),
          rollupRoot, Bucket,
          properties = Some((CursorProp -> cur.toString) +:
            metaProps(srcRoot, srcKeys, groupCols, sumCols, minMaxCols,
              derivedFlag, deriveSpec)))
        finally src.unpersist()
        cur
      case Some(_) =>
        val props = SnapshotStore.tablePropertiesMap(spark, rollupRoot)
        val cursor = props.getOrElse(CursorProp,
          throw new IllegalStateException(
            s"$rollupRoot exists but carries no $CursorProp — not a rollup table"))
          .toLong
        if (cursor == cur) return cur
        require(cursor < cur,
          s"rollup cursor v$cursor is ahead of source v$cur — wrong source?")
        val meta = (CursorProp -> cur.toString) +:
          metaProps(srcRoot, srcKeys, groupCols, sumCols, minMaxCols,
            derivedFlag, deriveSpec)
        // The window diffs only the columns the rollup maintains, plus
        // a recorded derive's inputs: a row whose group, sum and
        // min/max values are unchanged would add and subtract the same
        // contribution to the same group, so it drops out of the diff
        // instead. A closure derive may read any column and gets them
        // all.
        val windowCols =
          if (deriveSpec.isEmpty && (derive ne Identity)) None
          else Some(groupCols ++ sumCols ++ minMaxCols ++
            deriveSpec.toSeq.flatMap(_.inputs))
        // Persist the RAW change window, then derive over the cached
        // frame: an eager derive guard (FreqGuard's distinct-count
        // action) otherwise executes the full CDC diff once on its
        // own BEFORE the persist below could serve it — the guard's
        // probe now materializes the cache that every later consumer
        // (null check, delta aggregation, rebuild scoping) reads.
        val window = SnapshotStore.changes(spark, srcRoot, cursor, cur,
          srcKeys, preImages = true, windowCols).persist()
        val feed = deriveFn(window)
        var mergedRowsCache: Option[DataFrame] = None
        try {
          // One job sizes the window and checks its group values.
          val probe = feed.agg(count(lit(1)),
            count_if(groupCols.map(col(_).isNull).reduce(_ || _))).head()
          require(probe.getLong(1) == 0L,
            "rollup sync: null group value in the change window — group " +
              "columns must be non-null")
          // An empty window (layout-only source commits, or edits to
          // columns the rollup does not maintain) only advances the
          // cursor: one metadata commit. The FULL meta set rides it
          // (not just the cursor), so a pre-srcKeys rollup heals on its
          // next window even when that window carries no content.
          if (probe.getLong(0) == 0L) {
            SnapshotStore.setProperties(spark, rollupRoot, meta)
            return cur
          }
          val merged = props.filterNot(p => MetaKeys(p._1)).toSeq ++ meta
          val sign = when(col("_change_type")
            .isin("insert", "update_postimage"), 1).otherwise(-1)
          // MIN/MAX are not invertible: groups losing rows rebuild.
          // A sum-only rollup has nothing to rebuild — fully additive.
          // The anti-join is deliberately UNHINTED: negGroups is
          // unbounded (a bulk delete touches millions of groups), so a
          // forced broadcast would bypass AQE's size check and OOM the
          // driver; AQE broadcasts on its own when it is small.
          val negGroups =
            if (minMaxCols.isEmpty) None
            else Some(feed.filter(sign < 0)
              .select(groupCols.map(col): _*).distinct())
          val additiveFeed = negGroups
            .map(n => feed.join(n, groupCols, "left_anti"))
            .getOrElse(feed)
          val deltaAggs = sum(sign).as("row_count") +:
            (sumCols.flatMap(c => Seq(
              sum(when(col(c).isNull, 0).otherwise(sign)).as(s"${c}_nn"),
              // Signed contribution via NEGATION, not sign * value:
              // decimal multiplication re-derives precision/scale
              // (DECIMAL(38,18) * INT → DECIMAL(38,6)), which would
              // drift the stored sum type and trip the schema guard;
              // unary minus preserves the type exactly.
              sum(when(col(c).isNull, lit(null))
                .otherwise(when(sign === 1, col(c)).otherwise(negate(col(c)))))
                .as(s"${c}_sum"))) ++
              minMaxCols.flatMap(c => Seq(
                min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))))
          val delta = additiveFeed.groupBy(groupCols.map(col): _*)
            .agg(deltaAggs.head, deltaAggs.tail: _*)
          val stored = SnapshotStore.read(spark, rollupRoot)
            .select(groupCols.map(col) ++
              names.map(c => col(c).as(s"__old_$c")): _*)
          def old(c: String) = col(s"__old_$c")
          val mergedRows = delta.join(stored, groupCols, "left").select(
            groupCols.map(col) ++ Seq(
              (coalesce(old("row_count"), lit(0L)) + col("row_count"))
                .as("row_count")) ++
            sumCols.flatMap { c =>
              val nn = coalesce(old(s"${c}_nn"), lit(0L)) + col(s"${c}_nn")
              // Decimal ADDITION re-derives precision/scale too
              // ((38,18)+(38,18) → (38,17) under precision loss) —
              // pin the merged sum back to the stored column's exact
              // type so the schema stays byte-stable across syncs.
              val sumType = stored.schema(s"__old_${c}_sum").dataType
              Seq(nn.as(s"${c}_nn"),
                when(nn === 0, lit(null))
                  .otherwise(coalesce(old(s"${c}_sum"), lit(0)) +
                    coalesce(col(s"${c}_sum"), lit(0)))
                  .cast(sumType).as(s"${c}_sum"))
            } ++
            minMaxCols.flatMap { c =>
              // Additive groups only GAIN rows here, so the true
              // extremum is the merge of old and incoming.
              Seq(least(old(s"${c}_min"), col(s"${c}_min")).as(s"${c}_min"),
                greatest(old(s"${c}_max"), col(s"${c}_max")).as(s"${c}_max"))
            }: _*)
          // The merged frame feeds FOUR downstream actions inside
          // upsertDeleteCommit (touched-partition collect, doomed-key
          // probe, survivor anti-join, the data write) — persist the
          // few-groups result once instead of replaying the
          // delta-agg + stored join per action. Unpersisted in the
          // shared finally.
          val mergedCached = mergedRows.persist()
          mergedRowsCache = Some(mergedCached)
          val keepAdditive = mergedCached.filter(col("row_count") =!= 0)
          val goneAdditive = mergedCached.filter(col("row_count") === 0)
            .select(groupCols.map(col): _*)
          val (rebuilt, goneRebuilt) = negGroups match {
            case None => (None, None)
            case Some(n) =>
              val rb = profile(
                GroupScope.scope(
                  deriveFn(SnapshotStore.readVersion(spark, srcRoot, cur)),
                  n, groupCols),
                groupCols, sumCols, minMaxCols)
              (Some(rb), Some(n.join(rb, groupCols, "left_anti")))
          }
          val upserts = rebuilt.foldLeft(keepAdditive)(_ unionByName _)
          val deletes = goneRebuilt.foldLeft(goneAdditive)(_ unionByName _)
          val before = SnapshotStore.currentVersion(spark, rollupRoot)
          val committed = SnapshotStore.upsertDeleteCommit(spark, rollupRoot,
            withBucket(upserts), Some(deletes), groupCols, Bucket,
            properties = Some(merged))
          // A window whose changes net to no group delta makes the
          // merge a no-op that never writes the property set — advance
          // the cursor with a metadata-only commit as above.
          if (before.contains(committed))
            SnapshotStore.setProperties(spark, rollupRoot, meta)
          cur
        } finally {
          window.unpersist()
          // Best-effort: mergedRows may not have been reached if an
          // earlier require threw; sweep via the plan-object handle.
          try mergedRowsCache.foreach(_.unpersist())
          catch { case scala.util.control.NonFatal(_) => () }
        }
    }
  }

  /** Re-anchor the rollup to a direct aggregation of the source's
    * CURRENT version — the periodic knob that bounds float/double sum
    * drift (see the exactness-scope note above). One full source
    * scan by design; every group is rewritten, vanished groups leave.
    * Returns the source version the rebuild reflects. */
  def rebuild(spark: SparkSession, srcRoot: String, rollupRoot: String,
              groupCols: Seq[String], sumCols: Seq[String],
              minMaxCols: Seq[String] = Nil,
              derive: DataFrame => DataFrame = Identity,
              deriveSpec: Option[DeriveSpec] = None): Long = {
    val (deriveFn, derivedFlag) = resolveDerive(derive, deriveSpec)
    val cur = SnapshotStore.currentVersion(spark, srcRoot)
      .getOrElse(throw new IllegalStateException(
        s"rollup rebuild: no committed source at $srcRoot"))
    val names = aggNames(sumCols, minMaxCols)
    val fresh = profile(deriveFn(SnapshotStore.readVersion(spark, srcRoot, cur)),
      groupCols, sumCols, minMaxCols)
      .select((groupCols ++ names).map(col): _*)
      .withColumn(Bucket, bucketOf(groupCols))
    val existing = SnapshotStore.tablePropertiesMap(spark, rollupRoot)
    // rebuild has no key argument — carry the recorded srcKeys through.
    val keys = existing.get("graft.rollup.srcKeys").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val props = existing
      .filterNot(p => MetaKeys(p._1)).toSeq ++
      ((CursorProp -> cur.toString) +:
        metaProps(srcRoot, keys, groupCols, sumCols, minMaxCols,
          derivedFlag, deriveSpec))
    val gone = SnapshotStore.read(spark, rollupRoot)
      .select(groupCols.map(col): _*)
      .join(fresh, groupCols, "left_anti")
    val before = SnapshotStore.currentVersion(spark, rollupRoot)
    val committed = SnapshotStore.upsertDeleteCommit(spark, rollupRoot,
      fresh, Some(gone), groupCols, Bucket, properties = Some(props))
    if (before.contains(committed))
      SnapshotStore.setProperties(spark, rollupRoot,
        (CursorProp -> cur.toString) +:
          metaProps(srcRoot, keys, groupCols, sumCols, minMaxCols,
            derivedFlag, deriveSpec))
    cur
  }
}
