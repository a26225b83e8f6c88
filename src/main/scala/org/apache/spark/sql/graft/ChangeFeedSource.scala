package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => ConnectorOffset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sinks.SnapshotStore

/** Streaming read of the [[graft.sinks.SnapshotStore]] row-level change
  * feed — the Delta CDF streaming-read analog, and the replacement for
  * the reference's MongoDB change-stream consumers (the change-stream
  * idiom around mongodb_loader.py's collection): every committed
  * version emits its CDC rows (`_change_type` insert/update/delete,
  * `_commit_version` tagging the emitting commit) into a Structured
  * Streaming query.
  *
  * {{{
  *   spark.readStream.format("graft-changes")
  *     .option("key", "doc_id")
  *     .option("startingVersion", "0")   // 0 = full replay; default = current
  *     .load(root)
  * }}}
  *
  * Offsets ARE snapshot versions: the stream's offset after processing
  * version N is `LongOffset(N)`, so exactly-once delivery reduces to
  * the engine's offset log — a version is emitted once, and a restart
  * resumes from the last committed version. `startingVersion = V`
  * streams commits with version > V; the default (the version current
  * at stream creation) streams only future commits; `0` replays the
  * table from its first commit (whose rows are all `insert` — there is
  * no parent version to diff against). When VACUUM has dropped early
  * manifests, a startingVersion before the retained range replays the
  * OLDEST RETAINED snapshot as `insert` rows and streams per-version
  * diffs from there — a full replay is always possible, just with the
  * pre-vacuum per-version detail collapsed into the baseline.
  *
  * A no-op version — a [[SnapshotStore.compact]] / compactZOrder that
  * rewrote layout but not content — emits ZERO rows: the feed diffs
  * content, and byte-carried rows never pass the null-safe struct
  * inequality inside [[SnapshotStore.changes]].
  *
  * ARCHITECTURE — V1 `Source`, not DSv2 `MicroBatchStream`, for the
  * same reason Delta's `DeltaSource` is: `getBatch` returns a lazily
  * planned DataFrame, so the per-version CDC join (manifest-diff-
  * bounded scan + full-outer key join) executes DISTRIBUTED inside the
  * micro-batch job. A DSv2 `PartitionReader` cannot nest a Spark job,
  * so going V2 would force either collecting the feed on the driver
  * (non-starter at scale) or persisting change files at commit time
  * (doubling every commit's write cost for a feed most tables never
  * consume). Compute-on-read is the right default; the batch surface
  * ([[SnapshotStore.changes]], q126/q135) shares the same plan.
  *
  * This file lives under `org.apache.spark.sql` (package-private
  * access to `Dataset.ofRows` / `LogicalRDD`) exactly as Delta's
  * `org.apache.spark.sql.delta` does — the supported way to hand the
  * engine a computed plan with `isStreaming = true`.
  *
  * Scale (100 TB): each micro-batch reads only the partitions whose
  * manifest file sets differ between consecutive versions
  * ([[SnapshotStore.changedPartitions]]); a commit that touched one
  * partition streams one partition's diff. State is nothing but the
  * offset long — no driver-side row buffering anywhere.
  */
class ChangeFeedSource(
    sqlContext: SQLContext,
    root: String,
    key: String,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long] = None,
    preImages: Boolean = false) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession.asInstanceOf[ClassicSession]

  /** Pinned at stream creation: snapshot columns (key first) then the
    * two feed columns. Batches conform to this by name, so a schema
    * evolution mid-stream surfaces as an analysis error, not silent
    * column drift. */
  override val schema: StructType = ChangeFeedSource.feedSchema(spark, root, key)

  /** Highest version already handed out in a batch — the reference
    * point `maxVersionsPerTrigger` rations from. Seeded with the
    * first-start position; on a RESTART the engine re-issues the last
    * committed batch through getBatch before asking for new offsets
    * (MicroBatchExecution's start-offset replay), which re-seeds this
    * from the checkpoint — so rationing never re-counts consumed
    * versions. */
  @volatile private var highWater: Long = startingVersion

  /** Pinned at stream creation: which version's column mapping the
    * baseline-replay paths read under, so a whole-snapshot replay
    * conforms to the pinned [[schema]] even across a later rename.
    * (Per-version diffs go through [[SnapshotStore.changes]], which
    * maps at the newer version — identical to this for any rename
    * visible at stream creation.) */
  private val pinnedMappingVersion: Option[Long] =
    SnapshotStore.currentVersion(spark, root)

  // NOTE: no startingVersion filter here. `startingVersion` gates only
  // a FIRST start (via getBatch's start=None default); on a restart
  // the engine's checkpointed offset governs, and filtering by a
  // startingVersion recomputed at restart (the no-option default =
  // "current at creation") would withhold every commit made while the
  // stream was down until some future commit happened to advance past
  // it.
  override def getOffset: Option[Offset] =
    SnapshotStore.currentVersion(spark, root).map { cur =>
      LongOffset(ChangeFeedSource.cappedEnd(
        spark, root, highWater, cur, maxVersionsPerTrigger))
    }

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

  private def ver(o: Offset): Long = o match {
    case LongOffset(v) => v
    // On restart the engine replays offsets from its log as
    // SerializedOffset(json); LongOffset.json is the bare number.
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(ver).getOrElse(startingVersion)
    val to = ver(end)
    highWater = math.max(highWater, to)
    val committed = SnapshotStore.versions(spark, root)
    val emit = committed.filter(v => v > from && v <= to)
    val feeds = emit.map { v =>
      val feed =
        if (committed.contains(v - 1))
          SnapshotStore.changes(spark, root, v - 1, v, key, preImages)
        else if (v == 1L) // genuine first commit: everything is an insert
          SnapshotStore.readVersion(spark, root, v,
              mappingVersion = pinnedMappingVersion)
            .withColumn("_change_type", lit("insert"))
        else if (start.isEmpty && from < v - 1)
          // v > 1 with no predecessor manifest AND this is the
          // stream's FIRST batch (start = None — the configured
          // startingVersion governs) asking to start EARLIER than the
          // vacuumed history (e.g. startingVersion=0 full replay
          // after old manifests were vacuumed): the oldest retained
          // snapshot IS the replay baseline, so emit it whole as
          // 'insert' rows — the streaming analog of reading the table
          // then following changes. Only this explicit-first-start
          // shape qualifies: a CHECKPOINTED stream that lagged while
          // vacuum overtook it must fall through to the gap error
          // below (re-emitting the snapshot would re-deliver every
          // consumed row and mislabel the missed updates/deletes).
          // The rows carry v as _commit_version (the oldest version
          // whose state they reflect).
          SnapshotStore.readVersion(spark, root, v,
              mappingVersion = pinnedMappingVersion)
            .withColumn("_change_type", lit("insert"))
        else
          // from == v-1: the stream already consumed up to v-1 and a
          // concurrent VACUUM then removed the manifest this diff
          // needs. Emitting the whole snapshot as 'insert' would
          // re-deliver every row and mislabel the real
          // updates/deletes — fail the stream instead (Delta CDF's
          // behavior when change data has been vacuumed). A fresh
          // checkpoint must start at or before the oldest RETAINED
          // version; startingVersion=0 then replays the oldest
          // retained snapshot as inserts, not the vacuumed per-version
          // diffs — advice a caller can actually follow.
          throw new IllegalStateException(
            s"change feed gap under $root: version ${v - 1} was vacuumed " +
              s"before the stream consumed the ${v - 1}->$v diff; " +
              "restart with a fresh checkpoint and startingVersion < " +
              s"${committed.min} (the oldest retained snapshot, version " +
              s"${committed.min}, then replays as 'insert' rows) " +
              "or keep more history (SnapshotStore.vacuum keep)")
      // Typed null-fill before conforming: a diff over early versions
      // may predate columns the pinned schema gained from later
      // evolution (the recorded schema is the running union).
      val stamped = feed.withColumn("_commit_version", lit(v))
      val have = stamped.columns.toSet
      schema.fields.filterNot(f => have(f.name))
        .foldLeft(stamped)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
        .select(schema.fields.map(f => col(f.name)).toSeq: _*)
    }
    feeds.reduceOption(_ unionByName _) match {
      case Some(df) =>
        // Re-leaf the computed plan as a streaming LogicalRDD: planning
        // stays lazy (toRdd plans now, executes inside the micro-batch
        // job), and the engine's isStreaming assertion is satisfied.
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

  override def toString: String = s"ChangeFeedSource[$root, key=$key]"
}

object ChangeFeedSource {
  /** Admission control (Delta's `maxFilesPerTrigger` analog, rationed
    * in VERSIONS — our commit granule): the offset to expose given the
    * high-water mark and the table tip. With no cap, the tip; with a
    * cap, the m-th committed version past the mark (never moving
    * backward). Bounds every micro-batch's work — a stream starting
    * against a long backlog (startingVersion=0 on a thousand-commit
    * table) processes m commits per trigger instead of one giant
    * catch-up batch. */
  private[graft] def cappedEnd(spark: org.apache.spark.sql.SparkSession,
                               root: String, highWater: Long, cur: Long,
                               max: Option[Long]): Long = max match {
    case None => math.max(cur, highWater)
    case Some(m) =>
      require(m > 0, s"maxVersionsPerTrigger must be positive, got $m")
      if (cur <= highWater) math.max(cur, highWater)
      // Pure arithmetic in the common case — NO manifest listing:
      // commits target exactly current+1, so RETAINED version numbers
      // are dense, and when highWater+1's manifest still exists the
      // m-th pending version is just highWater + m (capped at the
      // tip). This runs on EVERY trigger (getOffset/latestOffset); a
      // directory listing here would cost O(all versions) per trigger
      // on a long-lived table — the exact cost the _last_checkpoint
      // pointer exists to avoid. One exists() probe guards the
      // assumption.
      else if (SnapshotStore.manifestExists(spark, root, highWater + 1))
        math.max(math.min(highWater + m, cur), highWater)
      else {
        // The versions just past highWater were VACUUMED (a replay
        // from startingVersion=0 against a vacuumed table, or a
        // stream that lagged behind retention). Walking highWater+m
        // arithmetically would crawl the vacuumed number range in
        // empty batches and then — because the intermediate batches
        // make start.isDefined — land the first RETAINED version in
        // a batch that can no longer take the baseline branch,
        // killing the stream on its own gap error. Ration over the
        // RETAINED versions instead: end = the m-th retained version
        // past highWater, so the first batch spans the vacuumed gap
        // in one step and the baseline/gap logic in getBatch sees it
        // with start still None. The listing is paid only while
        // entering a vacuumed region — the next trigger's highWater
        // is a retained version and the arithmetic path resumes.
        val retained = SnapshotStore.versions(spark, root).filter(_ > highWater)
        if (retained.isEmpty) math.max(cur, highWater)
        else math.min(retained.take(m.min(Int.MaxValue).toInt).last, cur)
      }
  }

  /** Feed schema = snapshot schema with `key` first, plus the
    * `_change_type` / `_commit_version` feed columns. */
  def feedSchema(spark: org.apache.spark.sql.SparkSession, root: String,
                 key: String): StructType = {
    val cur = SnapshotStore.currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"graft-changes needs at least one committed snapshot under $root"))
    // Logical view (column mapping applied): the feed carries the
    // names users query by, not the files' physical names.
    val base = SnapshotStore.logicalSchemaAt(spark, root, cur).getOrElse(
      SnapshotStore.readVersion(spark, root, cur).schema)
    // `key` may be a comma-separated composite (a natural key like
    // supplier_id,sku) — key columns lead the feed schema in spec
    // order, mirroring SnapshotStore.changes' output.
    val keyCols = graft.sinks.ColSpec.parse(key).cols
    require(keyCols.nonEmpty, s"empty key column spec '$key'")
    keyCols.foreach(k => require(base.fieldNames.contains(k),
      s"key column '$k' missing from snapshot schema under $root"))
    val byName = base.fields.map(f => f.name -> f).toMap
    val ordered = keyCols.map(byName) ++
      base.fields.filterNot(f => keyCols.contains(f.name))
    StructType(ordered.toSeq :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
  }
}

/** `format("graft-changes")` registration (ServiceLoader via
  * META-INF/services, same as `graft-snapshot`). Options:
  *  - `path` (or `.load(root)`): snapshot table root — required
  *  - `key`: the table's unique key column — required
  *  - `startingVersion`: stream commits with version > this; default =
  *    version current at stream creation (future commits only); `0`
  *    replays from the first commit.
  *  - `startingTimestamp`: the Delta CDF form — stream every commit
  *    whose wall-clock is AT or AFTER this timestamp (resolved against
  *    the monotonic-clamped `#ts` headers; a timestamp after every
  *    commit streams future commits only). Mutually exclusive with
  *    `startingVersion`.
  *  - `maxVersionsPerTrigger`: admission control — at most this many
  *    committed versions per micro-batch (Delta's maxFilesPerTrigger
  *    analog, rationed in our commit granule), so a stream starting
  *    against a deep backlog drains in bounded batches.
  *  - `preImages`: Delta CDF's pre-image convention — each update
  *    emits an `update_preimage` row (from-version values) and an
  *    `update_postimage` row (to-version values) instead of a single
  *    `update` row, so downstream incremental consumers can subtract
  *    removed contributions exactly. Snapshot-replay baselines are
  *    unaffected (all `insert`). Default false. */
class ChangeFeedSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-changes"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-changes needs a table root: .load(<root>) or option(\"path\", <root>)"))

  private def keyOf(parameters: Map[String, String]): String =
    parameters.getOrElse("key", throw new IllegalArgumentException(
      "graft-changes needs the table's key column: option(\"key\", <col>)"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), ChangeFeedSource.feedSchema(
      sqlContext.sparkSession, rootOf(parameters), keyOf(parameters)))

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val root = rootOf(parameters)
    val spark = sqlContext.sparkSession
    val starting = ChangeFeedSourceProvider.resolveStarting(
      spark, root, parameters, "graft-changes")
    new ChangeFeedSource(sqlContext, root, keyOf(parameters), starting,
      ChangeFeedSourceProvider.maxVersionsOf(parameters),
      ChangeFeedSourceProvider.preImagesOf(parameters, "graft-changes"))
  }
}

object ChangeFeedSourceProvider {
  /** Shared `preImages` option parsing for the streaming source and
    * the batch CDC view: strictly 'true'/'false', loudly named
    * otherwise (the codebase's option-error convention). */
  def preImagesOf(parameters: Map[String, String], what: String): Boolean =
    parameters.get("preImages").map(_.trim.toLowerCase) match {
      case None => false
      case Some("true") => true
      case Some("false") => false
      case Some(other) => throw new IllegalArgumentException(
        s"$what option 'preImages' must be 'true' or 'false', got '$other'")
    }

  /** Shared starting-offset resolution for BOTH streaming sources:
    * `startingVersion` (exclusive — stream commits with version > V;
    * `0` = full replay) or `startingTimestamp` (Delta CDF semantics:
    * include every commit AT or AFTER the timestamp, resolved against
    * the monotonic-clamped `#ts` headers; unstamped pre-`#ts`
    * manifests count as older than any timestamp; a timestamp past
    * every commit streams future commits only). Mutually exclusive;
    * neither = future commits only (the version current at stream
    * creation). */
  private[graft] def resolveStarting(spark: org.apache.spark.sql.SparkSession,
                                     root: String,
                                     parameters: Map[String, String],
                                     what: String): Long =
    (parameters.get("startingVersion"),
        parameters.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        s"$what accepts startingVersion OR startingTimestamp, not both")
      case (Some(v), None) =>
        try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$what option 'startingVersion' must be a number, got '$v'")
        }
      case (None, Some(ts)) =>
        val millis = graft.sinks.SnapshotSource.parseTimestampMillis(ts)
        SnapshotStore.versions(spark, root)
          .find(v => SnapshotStore.header(spark, root, v).ts
            .exists(_ >= millis))
          .map(_ - 1)
          .getOrElse(SnapshotStore.currentVersion(spark, root).getOrElse(0L))
      case (None, None) =>
        SnapshotStore.currentVersion(spark, root).getOrElse(0L)
    }

  /** Shared option parse: `maxVersionsPerTrigger` — positive version
    * count per micro-batch (admission control; absent = unbounded). */
  private[graft] def maxVersionsOf(parameters: Map[String, String]): Option[Long] =
    parameters.get("maxVersionsPerTrigger").map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"option 'maxVersionsPerTrigger' must be a positive number, got '$v'")
      }
      require(n > 0,
        s"option 'maxVersionsPerTrigger' must be a positive number, got '$v'")
      n
    }
}
