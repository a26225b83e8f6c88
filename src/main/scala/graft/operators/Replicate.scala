package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** Snapshot-table REPLICATION over the row-level change feed — the
  * Delta "CDF-driven mirror" pattern (readChangeFeed → MERGE into the
  * replica), and the snapshot-store analog of replaying a document
  * store's change stream into a second cluster (the reference's
  * MongoDB deployment idiom around mongodb_loader.py's collections).
  *
  * [[mirror]] is a CATCH-UP step: apply to `dstRoot` every change
  * committed to `srcRoot` since the last sync, then record the synced
  * source version as a destination table property
  * (`graft.mirror.sourceVersion`). Run it on any schedule — each call
  * costs ∝ the changes since the previous one, never the table.
  *
  * Crash-safety is AT-LEAST-ONCE + IDEMPOTENCE, not atomicity: a sync
  * applies (keyed merge) + (keyed delete) + (property commit) as
  * separate atomic commits, so a crash between them re-applies the
  * same change window on the next call — and both application legs
  * are idempotent (re-merging rows already at their target values
  * rewrites equal bytes; re-deleting absent keys is a no-op by
  * anti-join), so the replica CONVERGES. The property moves LAST,
  * exactly so an interrupted sync under-records rather than
  * over-records progress.
  *
  * Scale shape: the change window is manifest-diff-bounded
  * ([[SnapshotStore.changes]] — a sync after one narrow commit reads
  * one partition's diff), the merge rewrites only the partitions the
  * changes touch, and the delete probes through the column-pruned
  * semi-join. A replica of a 100 TB table tracking a trickle of
  * commits moves the trickle. */
object Replicate {

  /** Destination property recording the source version a replica has
    * fully applied. */
  val SourceVersionProp = "graft.mirror.sourceVersion"

  /** Catch `dstRoot` up to `srcRoot`'s current version. First call on
    * an empty destination seeds it with a full copy of the source's
    * current snapshot (the "initial snapshot" of every CDC pipeline);
    * later calls replay the change feed. `keyCol` is the table's
    * unique key (the change feed's join identity). Returns the source
    * version the replica now reflects. */
  def mirror(spark: SparkSession, srcRoot: String, dstRoot: String,
             keyCol: String): Long = {
    val srcCur = SnapshotStore.currentVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $srcRoot"))
    val partCol = SnapshotStore.header(spark, srcRoot, srcCur).partcol
      .getOrElse(throw new IllegalStateException(
        s"source $srcRoot records no partition column"))
    val synced: Option[Long] = SnapshotStore.currentVersion(spark, dstRoot)
      .flatMap(_ => SnapshotStore.tablePropertiesMap(spark, dstRoot)
        .get(SourceVersionProp).map(_.toLong))
    synced match {
      case None =>
        // Initial snapshot: full copy of the source tip. (An existing
        // destination WITHOUT the property is not a mirror — refuse
        // rather than silently merge into someone's table.)
        require(SnapshotStore.currentVersion(spark, dstRoot).isEmpty,
          s"$dstRoot already holds a snapshot but records no " +
            s"$SourceVersionProp — not a mirror of $srcRoot")
        // The property rides the SAME atomic commit as the copy: a
        // crash can never leave rows without the sync record.
        SnapshotStore.commit(spark,
          SnapshotStore.read(spark, srcRoot), dstRoot, partCol,
          properties = Some(Seq(SourceVersionProp -> srcCur.toString)))
        return srcCur
      case Some(v) if v >= srcCur => return v // already caught up
      case Some(v) =>
        val feed = SnapshotStore.changes(spark, srcRoot, v, srcCur, keyCol)
          .persist()
        try {
          val upserts = feed.filter(col("_change_type") =!= "delete")
            .drop("_change_type")
          val deletes = feed.filter(col("_change_type") === "delete")
            .select(graft.sinks.ColSpec.parse(keyCol).cols.map(col): _*)
          // The whole window — upserts, deletes, AND the progress
          // cursor — applies as ONE atomic commit (empty win order =
          // source-authoritative replace; the feed carries to-version
          // values and at most one row per key, the CDC contract). A
          // reader of the replica sees either the pre-sync snapshot or
          // the fully-synced one, and a crash can never leave rows
          // without the cursor or vice versa. A content no-op window
          // (both legs empty, or deletes of already-absent keys)
          // advances the cursor via a metadata-only commit instead.
          applyAtomic(spark, dstRoot, upserts, Some(deletes),
            keyCol, partCol, srcCur)
        } finally feed.unpersist()
    }
    srcCur
  }

  /** One atomic replica commit: upserts + deletes + the
    * [[SourceVersionProp]] cursor (merged into the existing property
    * set). Falls back to a metadata-only property commit when the
    * window changes no content.
    *
    * Single-writer contract: the merged property set is snapshotted
    * ONCE, before the commit — a retried commit (lost OCC race)
    * republishes that snapshot, so a table property set on the replica
    * CONCURRENTLY with a sync window can be reverted. The mirror is
    * the replica's only writer by design (any other writer would also
    * diverge the mirrored CONTENT, cursor aside); administrative
    * property changes belong on the source, where [[mirror]] carries
    * them forward. */
  private def applyAtomic(spark: SparkSession,
                          dstRoot: String,
                          upserts: org.apache.spark.sql.DataFrame,
                          deletes: Option[org.apache.spark.sql.DataFrame],
                          keyCol: String, partCol: String,
                          cursor: Long): Unit = {
    val merged = SnapshotStore.tablePropertiesMap(spark, dstRoot)
      .filterNot(_._1 == SourceVersionProp).toSeq :+
      (SourceVersionProp -> cursor.toString)
    val before = SnapshotStore.currentVersion(spark, dstRoot)
    val committed = SnapshotStore.upsertDeleteCommit(spark, dstRoot,
      upserts, deletes, keyCol, partCol, properties = Some(merged))
    if (before.contains(committed))
      SnapshotStore.setProperties(spark, dstRoot,
        Seq(SourceVersionProp -> cursor.toString))
  }

  /** Apply one CHANGE-FEED batch to a replica — the foreachBatch body
    * of [[mirrorStream]], public for custom streaming topologies. A
    * rationed micro-batch may span several source versions and so
    * carry SEVERAL rows per key; per-key only the LAST version's
    * change decides (update-then-delete within one batch = delete —
    * the standard CDC collapse). Both legs idempotent, property
    * commit last — same convergence contract as [[mirror]]. */
  def applyChangeBatch(spark: SparkSession, batch: org.apache.spark.sql.DataFrame,
                       dstRoot: String, keyCol: String): Unit = {
    if (batch.isEmpty) return
    val partCol = SnapshotStore.currentVersion(spark, dstRoot)
      .flatMap(SnapshotStore.header(spark, dstRoot, _).partcol)
      .getOrElse(throw new IllegalStateException(
        s"mirror destination $dstRoot records no partition column — " +
          "seed it with Replicate.mirror first"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.sinks.ColSpec.parse(keyCol).cols.map(col): _*)
      .orderBy(col("_commit_version").desc)
    val last = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn").persist()
    try {
      val upserts = last.filter(col("_change_type") =!= "delete")
        .drop("_change_type", "_commit_version")
      val deletes = last.filter(col("_change_type") === "delete")
        .select(graft.sinks.ColSpec.parse(keyCol).cols.map(col): _*)
      val maxV = last.agg(max(col("_commit_version"))).head().getLong(0)
      // One atomic commit per micro-batch (rows + cursor together) —
      // see [[applyAtomic]]; halves the replica's commit churn vs the
      // old merge-then-delete-then-properties chain.
      applyAtomic(spark, dstRoot, upserts, Some(deletes),
        keyCol, partCol, maxV)
    } finally last.unpersist()
  }

  /** CONTINUOUS replication: the streaming form of [[mirror]] — seed
    * the replica (initial full copy) if needed, then run the change
    * feed (`format("graft-changes")`) into [[applyChangeBatch]] via
    * foreachBatch. Exactly-once end-to-end comes from the same
    * two-layer contract as every snapshot stream: the engine's
    * checkpoint replays at-least-once, the keyed legs apply
    * idempotently. The replica stays a queryable snapshot table at
    * every instant (each micro-batch is atomic commits), and
    * [[SourceVersionProp]] tracks progress so a later BATCH
    * [[mirror]] call can take over from wherever the stream stopped.
    * Returns the started query; the caller owns its lifecycle. */
  def mirrorStream(spark: SparkSession, srcRoot: String, dstRoot: String,
                   keyCol: String, checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val seeded = mirror(spark, srcRoot, dstRoot, keyCol)
    spark.readStream.format("graft-changes")
      .option("key", keyCol)
      .option("startingVersion", seeded.toString)
      .load(srcRoot)
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        applyChangeBatch(spark, b, dstRoot, keyCol))
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
