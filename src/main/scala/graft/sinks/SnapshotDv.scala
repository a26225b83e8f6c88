package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion-vector machinery for [[SnapshotStore]]: the file
  * row-identity keys, position-list storage, merge-on-read
  * DELETE/UPDATE commands, and the purge that bounds read
  * amplification. Split from the core for size; composes back into
  * the single `SnapshotStore` object (same API). */
private[sinks] trait SnapshotDv { this: SnapshotStore.type =>

  /** Join-key column names of the merge-on-read anti-join wrapper
    * [[applyDvs]] builds — the shape signature [[DynamicPruningRule]]
    * uses to recognize (and traverse through) a DV-wrapped snapshot
    * scan. Renaming these is a plan-shape API change. */
  private[sinks] val DvFileCol = "__graft_dv_fn"
  private[sinks] val DvPosCol = "__graft_dv_pos"

  /** Row-identity key of a data file: its last TWO path components
    * (`__part=<value>/part-….parquet`). A bare file name is NOT unique
    * — one write job stamps the same task/job UUID name into every
    * partition directory it writes — but (partition dir, name) is
    * unique within a job, and the job UUID makes it unique across
    * jobs/versions. Hive-escaping keeps '/' out of partition dirs, so
    * the two-component split is stable.
    *
    * The key is produced in the SCAN'S encoding: `_metadata.file_path`
    * is a URI, so a Hive-escaped on-disk directory like `__part=a b`
    * (or `__part=c%3Ad`) surfaces as `__part=a%20b` / `__part=c%253Ad`
    * there, while manifest paths hold the raw on-disk bytes. Both
    * sides of every DV comparison must use ONE form — comparing raw
    * manifest components against URI components silently attached NO
    * deletion vector for any partition value needing escaping (a
    * predicate delete then "succeeded" while removing nothing). Each
    * component is URI-percent-encoded exactly as `java.net.URI`
    * renders a path segment ('+' and ':' stay literal, space → %20,
    * '%' → %25). */
  private[sinks] def dvKeyOf(path: String): String = {
    val parts = path.split("/")
    // From the FIRST `__part=` component onwards: under multi-column
    // partitioning a file's identity needs every partition level (one
    // write job stamps the same task/job file name into every leaf
    // directory, so `__part1=x/part-….parquet` alone is ambiguous
    // across `__part=a` vs `__part=b`). For single-column tables this
    // IS the historical last-two-components key, so DVs persisted by
    // earlier versions keep matching byte-for-byte.
    val i = parts.indexWhere(_.startsWith(s"$PartDir="))
    val tail = if (i >= 0) parts.drop(i)
               else parts.takeRight(math.min(2, parts.length))
    tail.map(c => new java.net.URI(null, null, "/" + c, null)
        .getRawPath.stripPrefix("/"))
      .mkString("/")
  }

  /** [[dvKeyOf]] as a Column over a scan's `_metadata.file_path` —
    * both sides of every DV comparison must use this one rule. */
  private[sinks] def dvKeyExpr(pathCol: Column): Column =
    regexp_extract(pathCol, s"($PartDir=.*)$$", 1)

  /** Write a deletion-vector position list sized by its cardinality:
    * one file for the sparse deletes DVs exist for, more when a huge
    * matched set would otherwise serialize through a single task
    * (~10M positions per output file; the position list is two narrow
    * columns, so each file stays small). `rows` comes from the
    * per-file counts the caller already collected — no extra pass. */
  private[sinks] def writeDvDir(spark: SparkSession, root: String, dvDir: String,
                         newDv: DataFrame, rows: Long): Unit = {
    val perFile = 10L * 1000 * 1000
    val parts = math.max(1L, (rows + perFile - 1) / perFile).toInt
    (if (parts == 1) newDv.coalesce(1) else newDv.repartition(parts))
      .write.options(SnapshotStore.fastCommitterOptions)
      .parquet(new Path(root, dvDir).toString)
  }

  /** The deletion-vector rows attached to `entries`, as one
    * DataFrame(file_key, pos) — or None when no entry carries a DV
    * (the overwhelmingly common case; callers must pay ZERO cost
    * then). A DV directory may hold rows for files whose entries have
    * since been rewritten or re-vectored under a newer directory, so
    * rows are filtered to the (directory, file) pairs THIS manifest
    * actually attaches. */
  private[sinks] def dvRowsFor(spark: SparkSession, root: String,
                        entries: Seq[ManifestEntry]): Option[DataFrame] = {
    val withDv = entries.filter(_.dv.nonEmpty)
    if (withDv.isEmpty) None
    else Some(withDv.groupBy(_.dv).map { case (dir, es) =>
      val files = es.map(e => dvKeyOf(e.path))
      spark.read.parquet(new Path(root, dir).toString)
        .filter(col("file_key").isin(files: _*))
        .select(col("file_key"), col("pos"))
    }.reduce(_ unionByName _))
  }

  /** Merge-on-read: drop the rows `entries`' deletion vectors mark
    * deleted. Data file names are globally unique (Spark writes
    * part-<task>-<UUID> names per job, disambiguated by partition
    * directory within a job — see [[dvKeyOf]]), so (file key, row
    * position) is a stable row identity, matched against the scan's
    * `_metadata.file_path` / `_metadata.row_index` columns — position
    * generation accounts for row-group skipping, so pushdown stays
    * on. The DV side is BROADCAST: its size is the table's deleted-row
    * count since the last rewrite of those files, bounded by running
    * [[purgeDeletionVectors]] (REORG … APPLY (PURGE)) — the same
    * contract as Delta's DV bitmaps, expressed as Spark's cheapest
    * join instead of a custom scan. No-DV tables skip all of this. */
  private[sinks] def applyDvs(spark: SparkSession, root: String,
                       df: DataFrame, entries: Seq[ManifestEntry]): DataFrame =
    dvRowsFor(spark, root, entries) match {
      case None => df
      case Some(dv) =>
        val cols = df.columns.toSeq
        df.withColumn(DvFileCol, dvKeyExpr(col("_metadata.file_path")))
          .withColumn(DvPosCol, col("_metadata.row_index"))
          .join(broadcast(dv.select(col("file_key").as(DvFileCol),
            col("pos").as(DvPosCol))),
            Seq(DvFileCol, DvPosCol), "left_anti")
          .select(cols.map(col): _*)
    }


  /** [[deleteWhere]] in MERGE-ON-READ form — Delta's deletion vectors:
    * instead of rewriting every partition holding a match, the commit
    * writes a small parquet of (file key, row position) pairs and
    * attaches it to the affected files' manifest entries; readers drop
    * those positions via a broadcast anti-join ([[applyDvs]]). Delete
    * cost becomes ∝ MATCHED ROWS, not matched partitions — the
    * production delete path for sparse deletes (GDPR erasure, spot
    * corrections) on a 100 TB table, where rewriting a partition to
    * remove three rows is absurd. The probe runs through the
    * file-skipping index, so a selective predicate opens only
    * candidate files.
    *
    * Positions are ORIGINAL file positions, so a second delete on an
    * already-vectored file unions with its existing DV (computed
    * against the raw scan — re-marking an already-deleted row is
    * idempotent by set union). A predicate matching no LIVE row is a
    * no-op returning the current version. Read amplification is
    * bounded by [[purgeDeletionVectors]], which rewrites vectored
    * files and drops their DVs (Delta's `REORG … APPLY (PURGE)`). */
  def deleteWhereDv(spark: SparkSession, root: String, predicate: String): Long = {
    val hit = coalesce(expr(predicate), lit(false))
    occ(spark, root, "delete-dv") { cur =>
      val partCols = requirePartitionCols(spark, root, cur)
      val entries = manifest(spark, root, cur)
      if (entries.isEmpty) NoOp(cur)
      // A partition-only predicate drops whole partitions as METADATA
      // even in DV mode (Delta's behavior: deletion vectors are for
      // sparse deletes; a full-partition match removes the files) —
      // writing position lists covering every row of a partition
      // would maximize read amplification for no write saving.
      else partitionOnlyDoomed(spark, root, cur, partCols, entries,
          predicate) match {
        case Some(doomed) =>
          if (doomed.isEmpty) NoOp(cur)
          else new Staged(entries.filterNot(e => doomed(e.partition)), Nil,
            "delete", partCols.mkString(","))
        case None => deleteDvRows(spark, root, cur, partCols, entries, hit)
      }
    }
  }

  /** [[deleteWhereDv]]'s row-level leg (position-list commit). */
  private def deleteDvRows(spark: SparkSession, root: String, cur: Long,
                           partCols: Seq[String], entries: Seq[ManifestEntry],
                           hit: Column): Attempt = {
    // Doomed positions over the RAW skipping-indexed scan (not
    // DV-applied): union semantics below make re-marking an
    // already-deleted position harmless, and the raw scan keeps the
    // probe one pass with no join under it.
    val (rel, _, _) = relationWithIndex(spark, root, Some(cur), None)
    val raw = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(rel)
    // Row identity (_metadata) materializes FIRST — hidden columns
    // only resolve against the scan frame — then the column mapping
    // presents logical names so the user's predicate resolves.
    val doomed = applyColumnMapping(raw
        .withColumn("__graft_fk", dvKeyExpr(col("_metadata.file_path")))
        .withColumn("__graft_pos", col("_metadata.row_index")),
        headerOrEmpty(spark, root, cur).mapping)
      .select(col("__graft_fk").as("file_key"),
        col("__graft_pos").as("pos"), hit.as("__hit"))
      .filter(col("__hit")).drop("__hit")
    val existing = dvRowsFor(spark, root, entries)
    // Fresh = positions not already deleted; an all-stale match set
    // (or no match at all) is a no-op, not an empty commit.
    val fresh = existing.map(e =>
      doomed.join(e, Seq("file_key", "pos"), "left_anti")).getOrElse(doomed)
    val newDv = existing.map(e => {
      val affected = fresh.select("file_key").distinct()
      // The new DV dir must hold each affected file's COMPLETE set:
      // carried prior positions ∪ fresh ones.
      fresh.unionByName(e.join(affected, Seq("file_key"), "left_semi"))
    }).getOrElse(fresh).persist()
    // Unpersisted on every attempt, won or lost: the publish reads
    // nothing from it once the DV dir is written.
    try {
      val counts: Map[String, Long] = newDv.groupBy("file_key").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (counts.isEmpty) NoOp(cur)
      else {
        val dvDir = s"dv/v_${cur + 1}-${java.util.UUID.randomUUID().toString.take(8)}"
        writeDvDir(spark, root, dvDir, newDv, counts.values.sum)
        val vectored = entries.map { e =>
          val fn = dvKeyOf(e.path)
          if (counts.contains(fn)) e.copy(dv = dvDir, dvRows = counts(fn)) else e
        }
        new Staged(vectored, Nil, "delete-dv", partCols.mkString(","))
      }
    } finally newDv.unpersist()
  }

  /** [[updateWhere]] in MERGE-ON-READ form (Delta's DV-backed UPDATE):
    * matched LIVE rows are deletion-vectored in their original files
    * and their updated copies land as NEW files — one atomic commit,
    * cost ∝ MATCHED ROWS (probe + small position list + a write of
    * just the updated rows), never the matched partitions. Assignments
    * evaluate against the OLD row and cast back to existing types,
    * exactly like [[updateWhere]]; updating the partition column moves
    * the new copies to their new partitions. Unlike delete's
    * idempotent re-marking, an already-deleted row must NOT spawn an
    * updated copy, so the matched set is anti-joined against the
    * existing DV positions first. A predicate matching no live row is
    * a no-op. */
  def updateWhereDv(spark: SparkSession, root: String,
                    assignments: Seq[(String, String)],
                    predicate: Option[String]): Long = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      s"UPDATE assigns a column twice: ${assignments.map(_._1).mkString(", ")}")
    val hit = coalesce(predicate.map(expr).getOrElse(lit(true)), lit(false))
    occ(spark, root, "update-dv") { cur =>
      val partCols = requirePartitionCols(spark, root, cur)
      val entries = manifest(spark, root, cur)
      if (entries.isEmpty) NoOp(cur)
      else updateDvAttempt(spark, root, cur, partCols, entries, assignments, hit)
    }
  }

  /** One [[updateWhereDv]] attempt against tip `cur`. */
  private def updateDvAttempt(spark: SparkSession, root: String, cur: Long,
                              partCols: Seq[String], entries: Seq[ManifestEntry],
                              assignments: Seq[(String, String)],
                              hit: Column): Attempt = {
    val rawRel = {
      val (rel, _, _) = relationWithIndex(spark, root, Some(cur), None)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .baseRelationToDataFrame(rel)
    }
    // _metadata first, then the mapping — same order as deleteWhereDv
    // — so assignments and predicate see LOGICAL columns.
    val raw = applyColumnMapping(rawRel
        .withColumn("__fk", dvKeyExpr(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index")),
      headerOrEmpty(spark, root, cur).mapping)
    val dataCols = raw.columns.toSeq.filterNot(Set("__fk", "__pos"))
    val types = raw.schema.map(f => f.name -> f.dataType).toMap
    assignments.foreach { case (c, _) => require(types.contains(c) &&
      c != "__fk" && c != "__pos",
      s"UPDATE SET targets unknown column '$c' " +
        s"(columns: ${dataCols.mkString(", ")})") }
    // Allocator-owned on every surface, same as [[updateWhere]].
    val identCols = header(spark, root, cur).identityColumns.toSet
    assignments.map(_._1).filter(identCols).foreach(c =>
      throw new IllegalArgumentException(
        s"UPDATE cannot SET identity column '$c' — GENERATED ALWAYS " +
          "AS IDENTITY is allocator-owned"))
    val matched = raw.filter(hit)
    val existing = dvRowsFor(spark, root, entries)
    val live = existing.map(e => matched.join(
        e.select(col("file_key").as("__fk"), col("pos").as("__pos")),
        Seq("__fk", "__pos"), "left_anti")).getOrElse(matched)
      .persist()
    // Unpersisted on every attempt, won or lost (see deleteDvRows).
    try {
      val fresh = live.select(col("__fk").as("file_key"),
        col("__pos").as("pos"))
      val newDv = existing.map(e => {
        val affected = fresh.select("file_key").distinct()
        fresh.unionByName(e.join(affected, Seq("file_key"), "left_semi"))
      }).getOrElse(fresh)
      val counts: Map[String, Long] = newDv.groupBy("file_key").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (counts.isEmpty) NoOp(cur)
      else {
        // Updated copies: assignments against the OLD row (all rows
        // here match by construction), cast back to existing types.
        val assign = assignments.toMap
        val assignedOnly = live.select(dataCols.map { c =>
          assign.get(c) match {
            case Some(e) => expr(e).cast(types(c)).as(c)
            case None => col(c)
          }
        }: _*)
        // Refresh generated columns the SET did not assign — a SET on
        // a generation input would otherwise strand the stale value
        // against its gen_ CHECK ([[SnapshotStore.recomputeGenerated]]).
        val updated = recomputeGenerated(spark, root, cur, assignedOnly,
          assign.keySet)
        enforceConstraints(spark, root, updated, cur, headerOrEmpty(spark, root, cur).props)
        val v = cur + 1
        val dvDir = s"dv/v_$v-${java.util.UUID.randomUUID().toString.take(8)}"
        writeDvDir(spark, root, dvDir, newDv, counts.values.sum)
        val carried = entries.map { e =>
          val fn = dvKeyOf(e.path)
          if (counts.contains(fn)) e.copy(dv = dvDir, dvRows = counts(fn)) else e
        }
        val copies = writeDataFiles(spark, updated, root, v, partCols)
        new Staged(carried, copies, "update-dv", partCols.mkString(","),
          Some(updated.schema))
      }
    } finally live.unpersist()
  }

  /** Rewrite every file carrying a deletion vector (materializing its
    * deletes) and drop the DVs — Delta's `REORG TABLE … APPLY (PURGE)`.
    * Bounds DV read amplification after a burst of merge-on-read
    * deletes; cost ∝ the VECTORED files only, never the table. Content
    * is unchanged by construction (the rewrite reads through the DVs),
    * so like compaction this skips constraint re-proof. Returns the
    * new version, or the current one when no file carries a DV. */
  def purgeDeletionVectors(spark: SparkSession, root: String): Long =
    occ(spark, root, "purge") { cur =>
      val partCols = requirePartitionCols(spark, root, cur)
      val (replaced, kept) = manifest(spark, root, cur).partition(_.dv.nonEmpty)
      if (replaced.isEmpty) NoOp(cur)
      else {
        val materialized = readEntriesAt(spark, root, replaced, cur) // DV-aware
        // Physical rewrite (see compact): no translation, physical names.
        val fresh = writeDataFiles(spark, materialized, root, cur + 1,
          partCols.map(physicalNameOf(headerOrEmpty(spark, root, cur).mapping._1, _)),
          translate = false)
        new Staged(kept, fresh, "purge", partCols.mkString(","),
          compactEligible = false)
      }
    }
}
