package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** SQL/catalog surface for [[SnapshotStore]]: the `graft-snapshot`
  * data-source format. Until now manifest-driven file skipping was a
  * Scala-only API ([[SnapshotStore.table]]); this registration gives
  * pure-SQL users the same planning path:
  *
  * {{{
  *   spark.read.format("graft-snapshot")
  *     .option("version", "3")            // optional time travel
  *     .option("partitions", "a,b")       // optional manifest-level pruning
  *     .load(root)
  *
  *   -- or entirely in SQL:
  *   CREATE TEMPORARY VIEW products
  *   USING `graft-snapshot` OPTIONS (path '<root>', version '3');
  *   SELECT ... FROM products WHERE doc_id BETWEEN 100 AND 200;
  * }}}
  *
  * Deliberately a V1 `RelationProvider`, not a DSv2 `TableProvider`
  * (contrast [[graft.sources.PagedJsonSource]]): planning-time file
  * skipping lives in a Catalyst `FileIndex` ([[GraftFileIndex]]),
  * and the hook that consults a custom `FileIndex` is the V1
  * `HadoopFsRelation` → `FileSourceScanExec` path. A DSv2 `FileTable`
  * builds its own listing-based index internally, so going V2 here
  * would mean re-implementing the vectorized parquet reader to keep
  * skipping — this is the same reason Delta Lake's batch read surface
  * registers a `RelationProvider`. The relation Spark receives is
  * exactly what [[SnapshotStore.table]] builds, so `q91`-style
  * pruning counts and parquet pushdown are identical across the Scala
  * and SQL surfaces, and runtime filters (DPP and friends) see an
  * ordinary file-source relation.
  *
  * Snapshot pinning: `createRelation` resolves the manifest ONCE, at
  * view-creation (or `.load`) time. A view created WITHOUT a `version`
  * option therefore pins the snapshot that was current at creation —
  * commits made afterwards are invisible through that view until it is
  * re-created. This is NOT equivalent to calling
  * [[SnapshotStore.table]] per query (which always re-reads the latest
  * manifest); it is the read-your-creation-time semantics a V1
  * relation gives. Re-create the view (or pass an explicit `version`)
  * to observe newer commits — spec-pinned in DataSkippingSpec.
  *
  * Reference read-surface analog: collection scans in
  * mongodb_loader.py:247-299 (the reference's only query surface is
  * driver code; the format registration is what makes ours reachable
  * from plain SQL).
  */
class SnapshotSource extends RelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  /** Streaming read surface — `spark.readStream.format("graft-snapshot")`
    * (the Delta streaming-source analog): appended rows per committed
    * version, layout-only commits silent, change commits fail-or-skip.
    * See [[org.apache.spark.sql.graft.SnapshotStreamSource]]. */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[org.apache.spark.sql.types.StructType],
                            providerName: String,
                            parameters: Map[String, String]):
      (String, org.apache.spark.sql.types.StructType) =
    (shortName(), org.apache.spark.sql.graft.SnapshotStreamSource.tableSchema(
      sqlContext.sparkSession,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "graft-snapshot streaming needs a table root: .load(<root>)"))))

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[org.apache.spark.sql.types.StructType],
                            providerName: String,
                            parameters: Map[String, String]):
      org.apache.spark.sql.execution.streaming.Source =
    org.apache.spark.sql.graft.SnapshotStreamSource.create(sqlContext, parameters)

  /** Streaming write surface — `df.writeStream.format("graft-snapshot")`
    * (the Delta streaming-sink analog): every micro-batch is one
    * atomic keyed-merge commit, with marker-file batch dedup for a
    * true no-op on re-delivery. See
    * [[org.apache.spark.sql.graft.GraftSnapshotSink]]. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    def req(name: String, hint: String): String =
      parameters.getOrElse(name, throw new IllegalArgumentException(
        s"graft-snapshot streaming writes need option(\"$name\", <col>) — $hint"))
    new org.apache.spark.sql.graft.GraftSnapshotSink(
      sqlContext,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "graft-snapshot needs a table root: .start(<root>) or option(\"path\", <root>)")),
      req("key", "each micro-batch merges as a keyed upsert"),
      req("versionCol", "the merge must know which of two rows for a key is newer"),
      req("partitionCol", "snapshot tables are partition-carried by design"))
  }

  /** Write surface — `df.write.format("graft-snapshot")` (the Delta
    * writer analog), routing every mode through the store's atomic,
    * versioned commit paths so a DataFrame writer gets the same
    * crash-safety and partition-carry guarantees as the Scala API:
    *
    * {{{
    *   df.write.format("graft-snapshot")
    *     .option("partitionCol", "supplier")        // required
    *     .option("key", "product_id")               // Append = keyed merge
    *     .option("versionCol", "updated_at")        //   (last writer wins)
    *     .mode("append").save(root)
    * }}}
    *
    *  - `Overwrite` → [[SnapshotStore.commit]]: a full new snapshot
    *    version (the previous stays time-travelable — versioned
    *    overwrite, not destruction).
    *  - `Append` → [[SnapshotStore.mergeCommit]]: the K1 keyed upsert;
    *    requires `key` + `versionCol` because an unkeyed append into a
    *    keyed table would silently duplicate — the writer fails
    *    loudly instead.
    *  - `ErrorIfExists` (the writer default) → commit only if no
    *    snapshot exists yet.
    *  - `Ignore` → commit only if absent, silently no-op otherwise. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot needs a table root: .save(<root>) or OPTIONS (path '<root>')"))
    val partitionCol = parameters.getOrElse("partitionCol",
      throw new IllegalArgumentException(
        "graft-snapshot writes need option(\"partitionCol\", <col>) — " +
          "snapshot tables are partition-carried by design"))
    ColSpec.parse(partitionCol).cols.foreach(c =>
      require(data.columns.contains(c),
        s"partitionCol '$c' is not a column of the written frame"))
    mode match {
      case SaveMode.Overwrite =>
        // A full new version may legitimately re-partition the table
        // (the old layout stays time-travelable), so no partcol match
        // is enforced here.
        SnapshotStore.commit(spark, data, root, partitionCol)
      case SaveMode.Append =>
        val key = parameters.getOrElse("key", throw new IllegalArgumentException(
          "graft-snapshot append is a KEYED merge: option(\"key\", <col>) " +
            "required (plus option(\"versionCol\", <col>) for last-writer-wins)"))
        val versionCol = parameters.getOrElse("versionCol",
          throw new IllegalArgumentException(
            "graft-snapshot append needs option(\"versionCol\", <col>) — " +
              "the merge must know which of two rows for a key is newer"))
        // Merging under a DIFFERENT partition column than the table's
        // recorded one would route every incoming row past the
        // existing partitions (touched-set miss) and silently
        // duplicate every key — exactly what Append exists to prevent.
        // A table whose manifests predate the #partcol header cannot
        // be verified, so it fails loudly too (silently skipping the
        // check would readmit the exact failure the guard exists for)
        // unless the caller explicitly vouches for the column.
        SnapshotStore.currentVersion(spark, root).foreach { cur =>
          SnapshotStore.header(spark, root, cur).partcol match {
            case Some(recorded)
                if ColSpec.parse(recorded) != ColSpec.parse(partitionCol) =>
              throw new IllegalArgumentException(
                s"graft-snapshot append under $root must merge on the table's " +
                  s"recorded partition column '$recorded', got '$partitionCol' — " +
                  "a mismatched merge would duplicate keys instead of upserting")
            case Some(_) => () // recorded and matching — safe to merge
            case None =>
              val vouched = parameters.get("assumePartitionCol")
                .exists(_.equalsIgnoreCase("true"))
              if (!vouched) throw new IllegalArgumentException(
                s"snapshot table under $root predates partition-column " +
                  "recording (no #partcol manifest header), so append cannot " +
                  s"verify that '$partitionCol' matches the table's layout — " +
                  "a mismatched merge would silently duplicate every key. " +
                  "Pass option(\"assumePartitionCol\", \"true\") only if you " +
                  "are certain this is the column the table was committed " +
                  "under (any write through the current API records it).")
          }
        }
        SnapshotStore.mergeCommit(spark, data, root, key, versionCol, partitionCol)
      case SaveMode.ErrorIfExists =>
        // Decided inside the commit protocol (v1 manifest rename is
        // the arbiter) — a check-then-act on a pre-write snapshot
        // would let a concurrent creator slip a silent v2 through.
        SnapshotStore.commitIfAbsent(spark, data, root, partitionCol)
          .getOrElse(throw new IllegalStateException(
            s"snapshot table already exists under $root (mode ErrorIfExists); " +
              "use mode(\"overwrite\") for a new full version or " +
              "mode(\"append\") for a keyed merge"))
      case SaveMode.Ignore =>
        SnapshotStore.commitIfAbsent(spark, data, root, partitionCol)
    }
    createRelation(sqlContext, Map("path" -> root))
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val root = parameters.get("path").getOrElse(throw new IllegalArgumentException(
      "graft-snapshot needs a table root: .load(<root>) or OPTIONS (path '<root>')"))
    def versionOpt(name: String): Option[Long] = parameters.get(name).map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-snapshot option '$name' must be a number, got '$v'")
      }
    }
    // Pure-SQL CDC (the table_changes analog): changesFrom/changesTo
    // + key turn the view into the row-level change feed between the
    // two versions (SnapshotStore.changes — insert/update/delete in
    // `_change_type`, manifest-diff-bounded scan). A computed-join
    // relation, so no parquet pushdown INTO the feed — CDC reads are
    // full consumption by nature; filter downstream.
    (versionOpt("changesFrom"), versionOpt("changesTo")) match {
      case (Some(f), Some(t)) =>
        val key = parameters.getOrElse("key", throw new IllegalArgumentException(
          "graft-snapshot change feed needs the table's key column: OPTIONS (key '<col>')"))
        // `preImages 'true'` = Delta CDF's update_preimage/postimage
        // pair per update (same flag as the streaming source).
        val df = SnapshotStore.changes(sqlContext.sparkSession, root, f, t,
          graft.sinks.ColSpec.parse(key),
          org.apache.spark.sql.graft.ChangeFeedSourceProvider
            .preImagesOf(parameters, "graft-snapshot"))
        val ctx = sqlContext
        new BaseRelation with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: SQLContext = ctx
          override def schema: org.apache.spark.sql.types.StructType = df.schema
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
            df.rdd
        }
      case (None, None) =>
        val partitions = parameters.get("partitions")
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        val version = (versionOpt("version"), parameters.get("timestampAsOf")) match {
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            "graft-snapshot options 'version' and 'timestampAsOf' are " +
              "mutually exclusive — pin the snapshot one way")
          case (v @ Some(_), None) => v
          case (None, Some(raw)) => Some(SnapshotStore.versionAtTimestamp(
            sqlContext.sparkSession, root, SnapshotSource.parseTimestampMillis(raw)))
          case (None, None) => None
        }
        val spark0 = sqlContext.sparkSession
        val (rel, _, entries) = SnapshotStore.relationWithIndex(
          spark0, root, version, partitions)
        val v = version.orElse(SnapshotStore.currentVersion(spark0, root)).get
        val mapping = SnapshotStore.headerOrEmpty(spark0, root, v).mapping
        if (entries.forall(_.dv.isEmpty) &&
            mapping._1.isEmpty && mapping._2.isEmpty) rel
        else {
          // Deletion vectors / column mapping: the bare file relation
          // would resurrect deleted rows (or expose physical names),
          // so serve the transformed DataFrame as a computed scan
          // (same surface pattern as the CDC view). The scale path for
          // such tables is the Scala `SnapshotStore.table` (or the
          // catalog's `graft.`-qualified SQL), which keep the skipping
          // index UNDER the projection.
          val spark = spark0
          val df = SnapshotStore.presentLogical(SnapshotStore.applyDvs(spark, root,
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
              .baseRelationToDataFrame(rel), entries), mapping)
          val ctx = sqlContext
          new BaseRelation with org.apache.spark.sql.sources.TableScan {
            override def sqlContext: SQLContext = ctx
            override def schema: org.apache.spark.sql.types.StructType = df.schema
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              df.rdd
          }
        }
      case _ => throw new IllegalArgumentException(
        "graft-snapshot options changesFrom and changesTo must be provided together")
    }
  }
}

object SnapshotSource {
  /** `timestampAsOf` accepts epoch millis, ISO-8601 instants
    * (`2026-08-14T09:00:00Z`), naive timestamps (`2026-08-14 09:00:00`,
    * read as UTC — the session convention), and bare dates
    * (start-of-day UTC). */
  def parseTimestampMillis(raw: String): Long = {
    val s = raw.trim
    def fail() = throw new IllegalArgumentException(
      s"cannot parse timestampAsOf '$raw' — use epoch millis, " +
        "'yyyy-MM-dd', 'yyyy-MM-dd HH:mm:ss[.SSS]', or an ISO-8601 instant")
    try s.toLong catch { case _: NumberFormatException =>
      try java.time.Instant.parse(s).toEpochMilli catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDateTime.parse(s.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          catch { case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDate.parse(s).atStartOfDay()
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            catch { case _: java.time.format.DateTimeParseException => fail() }
          }
      }
    }
  }
}
