package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => ConnectorOffset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sinks.SnapshotStore

/** `spark.readStream.format("graft-snapshot")` — the Delta streaming
  * SOURCE analog: stream a snapshot table's APPENDED rows, one
  * micro-batch per committed version (or several under
  * `maxVersionsPerTrigger`). Offsets are snapshot versions, exactly as
  * in [[ChangeFeedSource]], so exactly-once reduces to the engine's
  * offset log.
  *
  * {{{
  *   spark.readStream.format("graft-snapshot")
  *     .option("startingVersion", "0")        // 0 = replay; default = future only
  *     .option("skipChangeCommits", "true")   // Delta's option, same name
  *     .option("maxVersionsPerTrigger", "10") // admission control
  *     .load(root)
  * }}}
  *
  * Version classification (all from MANIFEST metadata — no data read
  * decides the shape):
  *  - layout-only ops (`compact` / `zorder` / `purge` /
  *    `set-properties` / `unset-properties`) emit NOTHING: content is
  *    unchanged by invariant — the `dataChange = false` files of
  *    Delta's OPTIMIZE, derived from the op tag instead of a per-file
  *    flag, so table maintenance never disturbs a running stream;
  *  - a version that only ADDED files (append / copy-into; file
  *    identity is (path, dv)) emits exactly the added files' rows — no
  *    CDC join, cost ∝ the appended data;
  *  - a version that removed or rewrote any file (merge / delete /
  *    update / restore / delete-dv) FAILS the stream — appended-rows
  *    semantics cannot represent it — unless `skipChangeCommits` is
  *    set, which skips the commit entirely (Delta's semantics for the
  *    same option: downstream sees appends only, never retractions).
  *
  * For the full row-level story (updates and deletes as typed change
  * rows) use `format("graft-changes")` — this source is the
  * append-fact-table fast path: schema = the table's schema, no feed
  * columns, and each batch is a bare file read.
  *
  * Same V1 `Source` architecture (and the same package-private
  * `Dataset.ofRows` / `LogicalRDD` re-leafing) as [[ChangeFeedSource]]
  * — batches stay lazily planned and execute distributed inside the
  * micro-batch job. */
class SnapshotStreamSource(
    sqlContext: SQLContext,
    root: String,
    startingVersion: Long,
    skipChangeCommits: Boolean,
    maxVersionsPerTrigger: Option[Long]) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession.asInstanceOf[ClassicSession]

  /** Column mapping pinned at stream creation (physical file names →
    * the table's logical names): added files are read RAW, so each
    * batch passes through this before conforming to [[schema]]. A
    * rename/drop mid-stream changes neither the files nor this pinned
    * view — the stream keeps its creation-time names, exactly like a
    * pinned schema; restart the stream to adopt new names. */
  private val pinnedMappingVersion: Option[Long] =
    SnapshotStore.currentVersion(spark, root)

  private val pinnedMapping: (Map[String, String], Set[String]) =
    pinnedMappingVersion
      .map(SnapshotStore.headerOrEmpty(spark, root, _).mapping)
      .getOrElse((Map.empty, Set.empty))

  /** Pinned at stream creation: the snapshot's recorded schema. */
  override val schema: StructType = SnapshotStreamSource.tableSchema(spark, root)

  @volatile private var highWater: Long = startingVersion

  /** Set by `Trigger.AvailableNow`: the table tip whose backlog this
    * run must drain — in rationed batches — before self-terminating;
    * commits landing mid-drain wait for the next run. Implementing
    * [[SupportsTriggerAvailableNow]] on the V1 `Source` (Spark's own
    * FileStreamSource pattern) keeps the source UNWRAPPED, so the
    * engine keeps calling [[latestOffset]] per batch; the generic
    * AvailableNowSourceWrapper would instead freeze the end offset at
    * one getOffset result, which under rationing is just the first
    * `maxVersionsPerTrigger` versions. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap =
      SnapshotStore.currentVersion(spark, root).orElse(Some(startingVersion))

  /** Admission-controlled tip. `start` and `limit` are deliberately
    * unused: the rationing reference point is `highWater`, re-seeded by
    * the engine's checkpointed-batch replay through [[getBatch]] on
    * restart (the authoritative V1 path), and the version budget comes
    * from the source's own `maxVersionsPerTrigger` option. */
  override def latestOffset(start: ConnectorOffset, limit: ReadLimit): ConnectorOffset =
    SnapshotStore.currentVersion(spark, root).map { cur =>
      val tip = availableNowCap.fold(cur)(math.min(_, cur))
      LongOffset(ChangeFeedSource.cappedEnd(
        spark, root, highWater, tip, maxVersionsPerTrigger)): ConnectorOffset
    }.orNull

  override def getOffset: Option[Offset] =
    SnapshotStore.currentVersion(spark, root).map { cur =>
      LongOffset(ChangeFeedSource.cappedEnd(
        spark, root, highWater, cur, maxVersionsPerTrigger))
    }

  private def ver(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong
  }

  /** Ops whose commits are content-preserving by construction.
    * `zorder-incremental` matters most: the auto-cluster hook emits
    * one after EVERY data commit, so misclassifying it as a data
    * rewrite would kill any stream over an auto-clustered table on
    * its first append. `cluster-by` (bucket layout) and `repartition`
    * (partition-spec evolution) are the same class — full
    * content-preserving rewrites (deletes materialize, rows carry). */
  private val layoutOps =
    Set("compact", "zorder", "zorder-incremental", "cluster-by",
      "repartition", "purge", "set-properties", "unset-properties")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(ver).getOrElse(startingVersion)
    val to = ver(end)
    highWater = math.max(highWater, to)
    val committed = SnapshotStore.versions(spark, root)
    val emit = committed.filter(v => v > from && v <= to)
    val feeds = emit.flatMap { v =>
      val op = SnapshotStore.header(spark, root, v).op.getOrElse("")
      // The missing-predecessor branch comes FIRST: the layout-op skip
      // is only a valid statement about the v-1 -> v TRANSITION, which
      // requires v-1's manifest to exist. When the oldest retained
      // version after vacuum happens to be a layout-only commit, a
      // replay must still emit it as the whole-snapshot baseline (its
      // content is the table), and a lagging checkpointed stream must
      // still hit the gap error instead of silently skipping the hole.
      if (!committed.contains(v - 1)) {
        if (v == 1L || (start.isEmpty && from < v - 1))
          // First commit, or the stream's FIRST batch (start = None)
          // explicitly starting over vacuumed history: the (oldest
          // retained) snapshot IS the baseline — emit it whole. Same
          // shape (and same lagging-checkpoint guard: a checkpointed
          // stream overtaken by vacuum must hit the gap error, not
          // re-deliver the snapshot) as the change feed's replay.
          // Presented under the stream's PINNED mapping (not v's own):
          // the baseline must conform to the pinned schema even when a
          // later rename separates them.
          Some(SnapshotStore.readVersion(spark, root, v,
            mappingVersion = pinnedMappingVersion))
        else throw new IllegalStateException(
          s"snapshot stream gap under $root: version ${v - 1} was vacuumed " +
            s"before the stream consumed the ${v - 1}->$v delta; restart " +
            s"with a fresh checkpoint and startingVersion < ${committed.min}, " +
            "or keep more history (SnapshotStore.vacuum keep)")
      } else if (layoutOps(op)) None
      else {
        val prev = SnapshotStore.manifest(spark, root, v - 1)
        val cur = SnapshotStore.manifest(spark, root, v)
        val curIds = cur.map(e => (e.path, e.dv)).toSet
        val prevIds = prev.map(e => (e.path, e.dv)).toSet
        val removed = prev.filterNot(e => curIds((e.path, e.dv)))
        if (removed.nonEmpty) {
          if (skipChangeCommits) None
          else throw new IllegalStateException(
            s"version $v of $root ${if (op.isEmpty) "rewrote" else s"($op) rewrote"} " +
              "or removed data files — appended-rows streaming cannot " +
              "represent updates/deletes. Use " +
              "option(\"skipChangeCommits\", \"true\") to skip such commits, " +
              "or format(\"graft-changes\") for the row-level change feed")
        } else {
          val added = cur.filterNot(e => prevIds((e.path, e.dv)))
          if (added.isEmpty) None
          else Some(SnapshotStore.presentLogical(
            spark.read.option("mergeSchema", "true").parquet(
              added.map(e => new Path(root, e.path).toString): _*),
            pinnedMapping))
        }
      }
    }.map { df =>
      // Conform to the pinned schema with typed null-fill: an appended
      // batch may predate an evolved column (appendCommit accepts any
      // evolution-compatible schema and normal reads null-fill through
      // the footer merge) — a bare select would crash the stream on a
      // commit every batch read path tolerates.
      val have = df.columns.toSet
      schema.fields.filterNot(f => have(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
        .select(schema.fieldNames.map(col).toSeq: _*)
    }
    feeds.reduceOption(_ unionByName _) match {
      case Some(df) =>
        val qe = df.queryExecution
        Dataset.ofRows(spark,
          LogicalRDD(qe.analyzed.output, qe.toRdd, isStreaming = true)(spark))
      case None =>
        spark.internalCreateDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
          schema, isStreaming = true)
    }
  }

  override def stop(): Unit = ()

  override def toString: String = s"SnapshotStreamSource[$root]"
}

object SnapshotStreamSource {
  def tableSchema(spark: org.apache.spark.sql.SparkSession,
                  root: String): StructType = {
    val cur = SnapshotStore.currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"graft-snapshot streaming needs at least one committed snapshot under $root"))
    // Logical view (column mapping applied); readVersion's schema is
    // already logical.
    SnapshotStore.logicalSchemaAt(spark, root, cur).getOrElse(
      SnapshotStore.readVersion(spark, root, cur).schema)
  }

  /** Option parse + construction, called from
    * [[graft.sinks.SnapshotSource]]'s `StreamSourceProvider` methods. */
  def create(sqlContext: SQLContext,
             parameters: Map[String, String]): SnapshotStreamSource = {
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot streaming needs a table root: .load(<root>)"))
    val spark = sqlContext.sparkSession
    val starting = ChangeFeedSourceProvider.resolveStarting(
      spark, root, parameters, "graft-snapshot")
    new SnapshotStreamSource(sqlContext, root, starting,
      parameters.get("skipChangeCommits").exists(_.equalsIgnoreCase("true")),
      ChangeFeedSourceProvider.maxVersionsOf(parameters))
  }
}
