package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert

/** Content DML for [[SnapshotStore]]: the commit/append/merge/
  * upsert-delete/delete family — every path that publishes ROWS as a
  * new version through the OCC manifest protocol, plus the keyed
  * probe machinery that bounds what those paths read. Split from the
  * core for size; composes back into the single `SnapshotStore`
  * object (same API). */
private[sinks] trait SnapshotDml { this: SnapshotStore.type =>

  /** key → inherited-id projection for identity inheritance: ONE row
    * per key, deterministically (min per id column). The existing
    * side can legitimately hold duplicate rows per merge key (an
    * [[SnapshotStore.appendCommit]] history never deduplicated) — a
    * plain join against it would fan the incoming batch out BEFORE
    * [[Upsert.merge]] dedups, making which duplicate survives
    * order-dependent. Aggregating first keeps the join 1:1 and the
    * surviving id stable across replans. */
  private def inheritanceIds(existing: DataFrame, keys: Seq[String],
                             inheritCols: Seq[String]): DataFrame =
    existing.groupBy(keys.map(col): _*)
      .agg(min(inheritCols.head).as(inheritCols.head),
        inheritCols.tail.map(c => min(c).as(c)): _*)

  /** Commit `df` as a full new snapshot (CTAS / backup path).
    * `properties` (when given) REPLACES the table property set
    * atomically with this commit — the mirror's initial-copy leg
    * rides here so "rows landed" and "sync recorded" cannot tear.
    * Returns the committed version. */
  def commit(spark: SparkSession, df: DataFrame, root: String,
             partitionCols: ColSpec,
             properties: Option[Seq[(String, String)]] = None): Long =
    occ(spark, root, "commit", needsTable = false) { cur =>
      enforceConstraints(spark, root, df, cur, headerOrEmpty(spark, root, cur).props)
      val entries = writeDataFiles(spark, df, root, cur + 1, partitionCols.cols)
      new Staged(Nil, entries, "commit", partitionCols.header, Some(df.schema),
        h => h.copy(properties = properties.getOrElse(h.properties)))
    }

  /** CREATE-ONLY commit: publish `df` as version 1, or report that the
    * table already exists — decided INSIDE the commit protocol, not by
    * a check-then-act snapshot, so two concurrent creators cannot both
    * "win" (the manifest rename for v1 is the arbiter; the loser's
    * data files become vacuum-collected orphans). Returns None when a
    * snapshot existed (or came to exist concurrently). This is the
    * primitive behind the DataFrame writer's ErrorIfExists/Ignore
    * modes.
    *
    * `bucketBy = (bucketCols, sortCols, n)` is the CREATION-TIME
    * bucket spec (`CREATE TABLE … CLUSTER BY (k) [SORTED BY (s)] INTO
    * n BUCKETS`): version 1's files are written already bucketed
    * (sorted, when asked) and [[SnapshotStore.BucketSpecProp]] rides
    * the SAME atomic commit — every subsequent data commit maintains
    * the layout, and a DDL-first deployment never pays the day-two
    * [[SnapshotStore.bucketTable]] rewrite for what day one could
    * write directly. Column types are recorded from `df`'s schema
    * (the declared schema for an empty CREATE). */
  def commitIfAbsent(spark: SparkSession, df: DataFrame, root: String,
                     partitionCols: ColSpec,
                     bucketBy: Option[(Seq[String], Seq[String], Int)] = None,
                     generated: Seq[(String, String)] = Nil,
                     identity: Seq[(String, Long, Long, Boolean)] = Nil,
                     defaults: Seq[(String, String)] = Nil,
                     properties: Seq[(String, String)] = Nil): Option[Long] = {
    if (currentVersion(spark, root).isDefined) return None
    // Column DEFAULTs (E142): validated here, recorded with v1; the
    // same constraints the post-hoc ALTER path enforces.
    val defaultProps = defaults.map { case (c, e) =>
      val field = df.schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"DEFAULT column '$c' is not in the declared schema"))
      require(!generated.exists(_._1 == c) && !identity.exists(_._1 == c),
        s"'$c' is a generated/identity column — its value is computed, " +
          "a DEFAULT would never apply")
      require(!partitionCols.cols.contains(c),
        s"'$c' is a partition column — INSERT requires it listed, so " +
          "a DEFAULT could never fill it")
      validateDefault(spark, c, field.dataType, e)
      s"$DefaultPropPrefix$c" -> e
    }
    val bucketProps = bucketBy.map { case (cols, sortCols, n) =>
      require(n >= 2, s"INTO n BUCKETS needs n >= 2, got $n")
      require(cols.nonEmpty, "CLUSTER BY needs at least one column")
      val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = (cols ++ sortCols).filterNot(fields.contains)
      require(missing.isEmpty,
        s"CLUSTER BY/SORTED BY column(s) ${missing.mkString(", ")} not in " +
          s"the table schema (have: ${df.schema.fieldNames.mkString(", ")})")
      Seq(BucketSpecProp -> formatBucketSpec(n,
        cols.map(c => c -> fields(c).sql),
        sortCols.map(c => c -> fields(c).sql)))
    }
    // Generated columns ride version 1 twice: the recorded expression
    // (replayed by every later write) and a gen_ CHECK so explicit
    // values that contradict it are refused by the existing
    // constraint machinery — Delta's GENERATED ALWAYS AS contract.
    val genProps = generated.map { case (c, e) =>
      s"$GeneratedPropPrefix$c" -> e } ++
      // The creation session's zone is the contract zone-dependent
      // expressions are computed and derived under (GeneratedTzProp).
      (if (generated.nonEmpty)
        Seq(GeneratedTzProp -> spark.conf.get("spark.sql.session.timeZone"))
      else Nil)
    // Identity columns: version 1's OWN rows allocate HERE (a CTAS or
    // non-empty API create has data before the property exists, so the
    // writeDataFiles allocator — keyed off the PREDECESSOR's props —
    // cannot see it), and the recorded `last` is the post-allocation
    // mark. An empty create allocates nothing and records
    // `last = start − step`, so the first INSERT starts at `start`.
    // Declared type travels with the record — later writes have only
    // the incoming frame (which omits the column) to look at.
    // Same one-materialization discipline as writeDataFiles' own
    // allocator: the counting jobs and the write must see identical
    // rows.
    val cachedDf = if (identity.isEmpty) df
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dfId = cachedDf
    val identProps = identity.map { case (c, start, step, byDefault) =>
      require(step != 0, s"identity '$c': INCREMENT BY must be non-zero")
      val tpe = df.schema.find(_.name == c).map(_.dataType.sql).getOrElse(
        throw new IllegalArgumentException(
          s"identity column '$c' is not in the declared schema"))
      require(Set("INT", "BIGINT")(tpe.toUpperCase),
        s"identity column '$c' must be INT or BIGINT, got $tpe")
      val spec0 = IdentitySpec(c, start, step,
        Math.subtractExact(start, step), tpe, byDefault)
      val (d2, newLast) = assignIdentity(spark, dfId, spec0)
      dfId = d2
      formatIdentity(spec0.copy(last = newLast))
    }
    val genChecks = generated.map { case (c, e) =>
      s"gen_$c" -> s"`$c` <=> ($e)" }
    val entries =
      try writeDataFiles(spark, dfId, root, 1L, partitionCols.cols,
        bucketOverride = bucketBy.map { case (cols, _, n) => (n, cols) },
        sortWithin = bucketBy.toSeq.flatMap(_._2).map(col))
      finally if (identity.nonEmpty) cachedDf.unpersist(false)
    if (writeManifest(spark, root, 1L, entries, "commit", partitionCols.header,
        _.copy(properties = bucketProps.getOrElse(Nil) ++ genProps ++
            identProps ++ defaultProps ++ properties,
          constraints = genChecks))) {
      writeStats(spark, root, 1L, Nil, entries, Some(dfId.schema))
      postCommit(spark, root, 1L)
      Some(1L)
    } else None
  }

  /** Append `df`'s rows as a new snapshot version WITHOUT keyed
    * semantics: every existing file is carried by reference, the new
    * rows land as new files in their partitions. The unkeyed
    * counterpart of [[mergeCommit]] — fact/event tables where rows are
    * immutable observations, and the commit primitive behind
    * [[copyInto]]. Cost ∝ the appended batch at any table size (zero
    * existing data is read or rewritten). */
  def appendCommit(spark: SparkSession, df: DataFrame, root: String,
                   partitionCols: ColSpec,
                   operation: String = "append"): Long =
    occ(spark, root, "append-commit", needsTable = false) { cur =>
      appendAttempt(spark, df, root, partitionCols, cur, operation)
    }

  /** One [[appendCommit]] attempt against tip `cur` (0 = no table).
    * `edit` rides the same manifest (COPY INTO's loaded-file ledger —
    * a sidecar written after the rename could tear away from its
    * commit and break idempotence). */
  private[sinks] def appendAttempt(spark: SparkSession, df: DataFrame, root: String,
                                   partitionCols: ColSpec, cur: Long, operation: String,
                                   edit: ManifestHeader => ManifestHeader = identity): Staged = {
    enforceConstraints(spark, root, df, cur, headerOrEmpty(spark, root, cur).props)
    enforceSchemaCompatible(spark, root, df, cur)
    val kept = if (cur == 0) Nil else manifest(spark, root, cur)
    val fresh = writeDataFiles(spark, df, root, cur + 1, partitionCols.cols)
    new Staged(kept, fresh, operation, partitionCols.header, Some(df.schema), edit)
  }

  /** Source files already loaded into the table by [[copyInto]]: the
    * union of every version's `#copied` ledger, atomic with its
    * commit — so a file appears here if and only if its rows are in
    * the table, which is the idempotence invariant (a crash between
    * data write and manifest publish leaves the file unlisted AND its
    * rows unpublished; the retry re-copies and the orphan files are
    * vacuum-collected). */
  def copiedFiles(spark: SparkSession, root: String): Set[String] =
    versions(spark, root).flatMap(header(spark, root, _).copied).toSet

  /** `COPY INTO` — idempotent bulk file ingest (the Delta/Databricks
    * statement): list the data files under `source`, skip every file a
    * previous COPY already loaded (the `#copied` ledger), read only
    * the new ones, and append their rows as one atomic commit that
    * also records those file names. Re-running after new files arrive
    * loads exactly the delta; re-running with nothing new is a no-op
    * — the retryable-ingest contract pipelines want when a scheduler
    * may fire twice.
    *
    * Files are identified by qualified path; an upstream that
    * REWRITES a file in place under the same name is out of contract
    * (same as Delta's COPY INTO without FORCE). Listing is a driver
    * metadata walk bounded by the source directory; the read/append
    * is fully distributed. Returns (version, filesLoaded) — version
    * is the unchanged current version when no new files exist. */
  def copyInto(spark: SparkSession, root: String, source: String,
               format: String = "parquet",
               partitionCol: Option[String] = None): (Long, Int) = {
    val src = new Path(source)
    // The SOURCE's own FileSystem, not the table root's: COPY INTO
    // across schemes (staging on file:/, table on s3a://) must list
    // with the right connector or Hadoop rejects the path outright.
    val f = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(src), s"COPY INTO source $source does not exist")
    def walk(p: Path): Seq[Path] =
      f.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (s.isDirectory) walk(s.getPath)
        else Seq(s.getPath)
      }
    val listed = walk(src).map(f.makeQualified(_).toString).sorted
    // The ledger is RE-READ per attempt: a concurrent COPY of the same
    // source must not double-load — the loser of the manifest race
    // re-lists and skips whatever the winner recorded.
    var loaded = 0
    val v = occ(spark, root, "copy-into", needsTable = false) { cur =>
      val already = if (cur >= 1) copiedFiles(spark, root) else Set.empty[String]
      val fresh = listed.filterNot(already)
      loaded = fresh.size
      if (fresh.isEmpty) {
        if (cur == 0) throw new IllegalStateException(
          s"COPY INTO found no data files under $source and no existing " +
            s"table under $root")
        NoOp(cur)
      } else {
        val partCols = ColSpec.parse(
          Some(cur).filter(_ >= 1).flatMap(header(spark, root, _).partcol)
            .orElse(partitionCol).getOrElse(throw new IllegalStateException(
              s"COPY INTO a new table needs an explicit partition column " +
                s"(no existing manifest under $root records one)")))
        val df = spark.read.format(format).load(fresh: _*)
        partCols.cols.foreach(c => require(df.columns.contains(c),
          s"COPY INTO source files lack the table's partition column '$c'"))
        appendAttempt(spark, df, root, partCols, cur, "copy",
          h => h.copy(copied = h.copied.filterNot(fresh.contains) ++ fresh))
      }
    }
    (v, loaded)
  }

  /** K1 keyed merge as an atomic snapshot commit: last writer wins per
    * `keyCol` ordered by `versionCol` (Upsert.merge semantics), but
    * only partitions present in `incoming` are rewritten — every other
    * partition's files are carried into the new manifest by reference.
    * A crash anywhere leaves the previous snapshot fully readable.
    *
    * Optimistic concurrency with a DISJOINT-WRITER fast path: losing
    * the manifest rename means another writer committed first. When
    * every version committed since our base changed only partitions
    * DISJOINT from this merge's, the loser REBASES — it adopts the
    * winner's manifest for everything it didn't touch and republishes
    * its already-written data files at the next number, paying one
    * manifest write instead of a full merge recompute. Writers to
    * disjoint partitions therefore contend only on the version number
    * (Delta's partition-level conflict resolution). Only a TRUE
    * conflict — an intervening commit into one of our touched
    * partitions — recomputes the entire merge against the winner's
    * snapshot (a same-partition loser must merge on top of the
    * winner's rows). Lost attempts' data files become orphans that
    * [[vacuum]] collects. Returns the committed version. */
  def mergeCommit(spark: SparkSession, incoming: DataFrame, root: String,
                  keys: ColSpec, versionCol: String, partitionCols: ColSpec): Long =
    mergeCommitOrdered(spark, incoming, root, keys,
      Seq(col(versionCol).desc_nulls_last), partitionCols)

  /** [[mergeCommit]] with an explicit win order instead of a version
    * column. `orderBy` ranks rows per key (highest priority first);
    * after it, incoming beats existing (`Upsert.merge`'s source
    * tie-break). An EMPTY `orderBy` therefore means "incoming rows
    * always replace existing rows for their key" — exactly SQL
    * `MERGE INTO … WHEN MATCHED THEN UPDATE SET *` semantics, where
    * the source is authoritative and no version comparison exists.
    * Callers passing empty `orderBy` must ensure the incoming batch
    * has unique keys (SQL MERGE's own precondition): with no ordering,
    * two incoming rows for one key would race nondeterministically. */
  def mergeCommitOrdered(spark: SparkSession, incoming0: DataFrame, root: String,
                         keys: ColSpec, orderBy: Seq[Column], partitionCols: ColSpec): Long = {
    require(keys.nonEmpty, "mergeCommit needs at least one key column")
    require(partitionCols.nonEmpty, "mergeCommit needs a partition spec")
    // Generated columns materialize EARLY: the partition-touch probe
    // below selects the partition columns (possibly generated), and
    // the merge union must not null-fill an absent generated column.
    // ONE tip read feeds both this and constraint enforcement.
    val tip = tipVersionAndProps(spark, root)
    val tipProps = tip.map(_._2).getOrElse(Map.empty[String, String])
    val incoming = applyGenerated(spark, root, incoming0, tip)
    // Touched partitions: one small distinct-collect (bounded by the
    // partition cardinality of the incoming batch, e.g. suppliers),
    // computed ONCE — it depends only on `incoming`. NULL partition
    // values land on disk (and in the manifest) under Hive's
    // default-partition sentinel — and so do EMPTY STRINGS — so both
    // must normalize to it here too; otherwise rows with those keys
    // are both carried as "kept" AND re-merged, duplicating them on
    // every commit.
    val touched = incoming
      .select(partValueColumn(partitionCols.cols))
      .distinct().collect().map(_.getString(0)).toSet
    occ(spark, root, "merge-commit", needsTable = false) { cur =>
      enforceConstraints(spark, root, incoming, cur, tipProps)
      enforceSchemaCompatible(spark, root, incoming, cur)
      val (kept, merged) =
        if (cur == 0) (Seq.empty[ManifestEntry], incoming)
        else {
          val entries = manifest(spark, root, cur)
          val (replaced, keptEntries) = entries.partition(e => touched(e.partition))
          // No checkpoint needed: data files are append-only, so reading
          // the replaced files while writing the new version's files
          // cannot race (unlike overwrite-in-place sinks).
          // Existing rows surface LOGICALLY (column mapping applied)
          // so the key/order comparison and the union see one naming;
          // writeDataFiles translates back to physical names at write.
          val m = if (replaced.isEmpty) incoming
            else {
              val existing = applyColumnMapping(
                readEntriesAt(spark, root, replaced, cur),
                headerOrEmpty(spark, root, cur).mapping)
              // Identity inheritance (Delta's MERGE contract): an
              // incoming batch that OMITS an identity column inherits
              // the matched row's id — the update keeps the identity,
              // only genuinely new keys reach the write-path
              // allocator (as null slots). One equi-join on the keys
              // the merge already shuffles on, identity tables only.
              val inheritCols = identityColumns(tipProps).map(_.col)
                .filterNot(incoming.columns.contains)
              val incomingW =
                if (inheritCols.isEmpty) incoming
                else incoming.join(
                  inheritanceIds(existing, keys.cols, inheritCols),
                  keys.cols, "left")
              Upsert.merge(existing, incomingW, keys.cols, orderBy)
            }
          (keptEntries, m)
        }
      // Data files are version-stamped by path, so files written for
      // attempt version cur + 1 publish unchanged under any later
      // manifest number — what lets the rebase skip the recompute.
      val fresh = writeDataFiles(spark, merged, root, cur + 1, partitionCols.cols)
      new Staged(kept, fresh, "merge", partitionCols.header, Some(merged.schema),
        rebase = Some(mergeRebase(spark, root, touched, tipProps)))
    }
  }

  /** [[mergeCommitOrdered]]'s rebase check: after a lost publish, which
    * partitions did the interloping commits change since `base`, the
    * snapshot the merge was computed against? (A first-commit loser
    * has no base — every head partition counts.) Returns the carried
    * entries for a publish at `head` + 1 when none of them is in
    * `touched`, else None. A concurrent vacuum may have dropped the
    * base manifest or an intervening one out from under the diff; a
    * missing manifest is then indistinguishable from a true conflict,
    * so it degrades to the full recompute instead of failing the
    * writer with a raw FileNotFoundException. */
  private[sinks] def mergeRebase(spark: SparkSession, root: String, touched: Set[String],
                                 tipProps: Map[String, String])
                                (base: Long, head: Long): Option[Seq[ManifestEntry]] = {
    val interloperParts: Option[Set[String]] =
      try Some {
        if (base >= 1 && head > base)
          changedPartitions(spark, root, base, head).toSet
        else if (head >= 1) manifest(spark, root, head).map(_.partition).toSet
        else Set.empty[String]
      } catch { case _: java.io.FileNotFoundException => None }
    // Identity safety: the rebase republishes data files whose ids
    // were allocated against OUR base mark. If an interloper ALSO
    // allocated (its commit advanced any identity mark), those files
    // may carry the same ids — partition disjointness says nothing
    // about id disjointness — so the fast path is only sound when
    // every identity mark is unmoved between base and head. The
    // same holds for CHECK constraints: our rows were checked
    // against the base's set only. Anything else (moved marks, a
    // changed constraint set, unreadable manifests) degrades to the
    // full recompute, which re-allocates against the winner's mark
    // and re-checks against the winner's constraints.
    val identitySafe =
      identityColumns(tipProps).isEmpty || {
        try {
          def marks(at: Long): Map[String, Long] =
            if (at >= 1) identityColumns(header(spark, root, at).props)
              .map(s => s.col -> s.last).toMap
            else Map.empty
          marks(base) == marks(head)
        } catch { case scala.util.control.NonFatal(_) => false }
      }
    val constraintsSafe =
      try (if (base >= 1) header(spark, root, base).constraints else Nil) ==
        header(spark, root, head).constraints
      catch { case scala.util.control.NonFatal(_) => false }
    // Disjoint: our touched partitions are byte-identical between
    // base and head, so head-minus-touched plus our files IS the
    // sequential result. One manifest write, zero data movement.
    if (identitySafe && constraintsSafe &&
        interloperParts.exists(parts => !parts.exists(touched)))
      Some(manifest(spark, root, head).filterNot(e => touched(e.partition)))
    else None
  }

  /** One ATOMIC commit applying keyed upserts AND keyed deletes — the
    * execution primitive behind a SQL `MERGE INTO` whose WHEN MATCHED
    * clauses mix UPDATE and DELETE (Delta's canonical CDC-apply
    * statement): a reader sees either the pre-merge snapshot or the
    * fully-applied one, never the upserted-but-not-yet-deleted middle
    * that chaining [[mergeCommitOrdered]] + [[deleteCommit]] would
    * expose. Partitions touched by neither the upserts' values nor a
    * doomed key (probed with a column-pruned semi-join) carry by
    * reference. `upserts` follows [[mergeCommitOrdered]]'s empty-order
    * contract (source-authoritative, unique keys); a key in both
    * `upserts` and `deleteKeys` upserts (existing rows drop first,
    * then the merge applies — MERGE's per-row single-action contract
    * means callers never produce that shape). Returns the committed
    * version — unchanged when both legs are empty no-ops. */
  def upsertDeleteCommit(spark: SparkSession, root: String,
                         upserts0: DataFrame, deleteKeys: Option[DataFrame],
                         keys: ColSpec, partitionCols: ColSpec,
                         properties: Option[Seq[(String, String)]] = None): Long = {
    require(keys.nonEmpty, "upsertDeleteCommit needs at least one key column")
    require(partitionCols.nonEmpty, "upsertDeleteCommit needs a partition spec")
    // Same early-materialization rationale as [[mergeCommitOrdered]].
    val tip = tipVersionAndProps(spark, root)
    val tipProps = tip.map(_._2).getOrElse(Map.empty[String, String])
    val upserts = applyGenerated(spark, root, upserts0, tip)
    val upTouched = upserts.select(partValueColumn(partitionCols.cols))
      .distinct().collect().map(_.getString(0)).toSet
    val doomed = deleteKeys.map(_.select(keys.cols.map(col): _*).distinct())
    occ(spark, root, "merge") { cur =>
      enforceConstraints(spark, root, upserts, cur, tipProps)
      enforceSchemaCompatible(spark, root, upserts, cur)
      val entries = manifest(spark, root, cur)
      // Small delete-key sets prune the probe scan file-by-file via
      // the stats/bloom sidecars (see [[probeCandidateEntries]]).
      val delTouched: Set[String] = doomed.map { d =>
        val candidates = probeCandidateEntries(spark, root, cur, entries,
          d, keys.cols)
        if (candidates.isEmpty) Set.empty[String]
        else applyColumnMapping(readEntriesAt(spark, root, candidates, cur),
            headerOrEmpty(spark, root, cur).mapping)
          .select((keys.cols ++
            partitionCols.cols.filterNot(keys.contains)).map(col): _*)
          .join(d, keys.cols, "left_semi")
          .select(partValueColumn(partitionCols.cols)).distinct()
          .collect().map(_.getString(0)).toSet
      }.getOrElse(Set.empty)
      val touched = upTouched ++ delTouched
      val (replaced, kept) = entries.partition(e => touched(e.partition))
      if (replaced.isEmpty && upTouched.isEmpty) NoOp(cur)
      else {
        // `replaced` may be EMPTY with upserts into brand-new partitions
        // — reading a zero-entry file set is an error, not an empty
        // frame, so the existing side only materializes when needed.
        val merged =
          if (replaced.isEmpty) upserts
          else {
            val existing = applyColumnMapping(readEntriesAt(spark, root, replaced, cur),
              headerOrEmpty(spark, root, cur).mapping)
            val survivors = doomed match {
              case Some(d) => existing.join(d, keys.cols, "left_anti")
              case None => existing
            }
            // Identity inheritance — the same UPDATE-keeps-identity
            // contract [[mergeCommitOrdered]] applies: an id-omitting
            // upsert batch inherits the surviving row's id for matched
            // keys; only genuinely new keys reach the allocator.
            val inheritCols = identityColumns(tipProps).map(_.col)
              .filterNot(upserts.columns.contains)
            val upsertsW =
              if (inheritCols.isEmpty) upserts
              else upserts.join(
                inheritanceIds(survivors, keys.cols, inheritCols),
                keys.cols, "left")
            Upsert.merge(survivors, upsertsW, keys.cols, Nil)
          }
        val fresh = writeDataFiles(spark, merged, root, cur + 1, partitionCols.cols)
        new Staged(kept, fresh, "merge", partitionCols.header, Some(merged.schema),
          h => h.copy(properties = properties.getOrElse(h.properties)))
      }
    }
  }

  /** Loud type-compatibility gate for batches entering a table whose
    * recorded schema already carries their columns: a common column
    * must arrive with the SAME type or a safe [[widen]] partner —
    * narrower batches are widened by the union on write, wider
    * batches widen the RECORDED type (carried files keep reading via
    * the parquet widening conversions). Anything else (string↔int, a
    * restructured struct, array element flips) previously recorded
    * the new type and broke the CARRIED files' reads at some later
    * scan — failing the commit here names the column instead.
    * Reference anchor: the Pydantic coercion boundary,
    * unified_product_schema.py:145-207. */
  private[sinks] def enforceSchemaCompatible(spark: SparkSession, root: String,
                                      df: DataFrame, cur: Long): Unit =
    if (cur >= 1)
      schemaFor(spark, root, cur).foreach { prior =>
        val renames = headerOrEmpty(spark, root, cur).mapping._1
        val priorTypes = prior.fields.map(f => f.name -> f.dataType).toMap
        df.schema.fields.foreach { f =>
          priorTypes.get(renames.getOrElse(f.name, f.name)).foreach { pt =>
            require(widen(pt, f.dataType).isDefined,
              s"column '${f.name}' arrives as ${f.dataType.simpleString} " +
                s"but the table records ${pt.simpleString}; only safe " +
                "widenings (byte→short→int→long, float→double) evolve " +
                "implicitly — cast the batch explicitly")
          }
        }
      }

  /** Keys below this count are collected to the driver and used to
    * prune the partition-probe scan file-by-file
    * ([[probeCandidateEntries]]); above it the probe scans the
    * column-pruned table as before. 0 disables pruning. */
  private[sinks] def probeKeyLimit(spark: SparkSession): Int =
    try spark.conf.get("spark.graft.probeKeyLimit", "1000").toInt
    catch { case _: NumberFormatException => 1000 }

  /** Observability for specs/SCALE: file count the most recent keyed
    * probe actually scanned, or -1 when pruning didn't engage (large
    * key set, undecidable types, disabled). Last-writer-wins; never an
    * input to planning. */
  private[graft] val lastProbeCandidates =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Files of `entries` that MAY hold one of `doomed`'s keys, decided
    * from the stats/bloom sidecars when the key set is SMALL — Delta's
    * MERGE file-pruning shape, and the snapshot analog of the
    * reference's indexed `delete_many({_id: {$in: […]}})`
    * (mongodb_loader.py:226-245), which is a point operation, not a
    * collection scan. A 3-key GDPR delete on a 100 TB table probes the
    * few bloom-candidate files instead of every file's key column.
    *
    * One `limit(K+1)` collect decides applicability: a larger set, a
    * key type the stats can't order exactly, or a missing sidecar
    * falls back to the full `entries` (mayMatch=false PROVES absence,
    * so pruning is conservative-correct; anything undecidable keeps
    * the file). Composite keys prune on the FIRST key column alone —
    * also conservative. Null keys match nothing by the keyed-delete
    * contract and are dropped before pruning. */
  private[sinks] def probeCandidateEntries(spark: SparkSession, root: String,
                                    cur: Long, entries: Seq[ManifestEntry],
                                    doomed: DataFrame,
                                    keyCols: Seq[String]): Seq[ManifestEntry] = {
    val limit = probeKeyLimit(spark)
    if (limit <= 0) { lastProbeCandidates.set(-1); return entries }
    val head = try doomed.select(col(keyCols.head)).limit(limit + 1).collect()
               catch { case scala.util.control.NonFatal(_) =>
                 lastProbeCandidates.set(-1); return entries }
    if (head.length > limit) { lastProbeCandidates.set(-1); return entries }
    val nonNull = head.iterator.map(_.get(0)).filter(_ != null).toArray
    val values: Array[Any] = nonNull.collect {
      case v @ (_: String | _: Byte | _: Short | _: Int | _: Long |
                _: Float | _: Double) => v
      case d: java.math.BigDecimal => d
    }
    // Any key value outside the stats-decidable types means absence
    // can't be certified for it anywhere — scan the full set.
    if (values.length != nonNull.length) {
      lastProbeCandidates.set(-1); return entries
    }
    if (values.isEmpty) { lastProbeCandidates.set(0); return Nil }
    // Stats/blooms are keyed by PHYSICAL column names, literal dots
    // escaped ([[FileStats.statKey]]).
    val statsName = FileStats.statKey(Seq(headerOrEmpty(spark, root, cur).mapping._1
      .getOrElse(keyCols.head, keyCols.head)))
    val filter = org.apache.spark.sql.sources.In(statsName, values)
    val stats = statsFor(spark, root, cur)
    val blooms = bloomFor(spark, root, cur)
    val kept = entries.filter { e =>
      stats.get(e.path).forall(FileStats.mayMatch(_, filter)) &&
        blooms.get(e.path).forall(FileStats.mayMatchBloom(_, filter))
    }
    lastProbeCandidates.set(kept.size)
    kept
  }

  /** K3's keyed delete (`mongodb_loader.py:218-231`'s `delete_many`
    * by key list) as an atomic snapshot commit: every row of the
    * current snapshot whose `keyCol` appears in `keys` is removed in
    * one new version. Only partitions that ACTUALLY hold a doomed key
    * are rewritten — found by a column-pruned (key, partition)
    * semi-join probe of the current snapshot — and every other
    * partition's files are carried by reference, exactly like
    * [[mergeCommit]]. A partition whose rows are all deleted
    * disappears from the manifest; deleting the LAST row leaves a
    * valid empty snapshot (schema carried by the stats sidecar).
    *
    * When `keys` carries the partition column, the probe scan is
    * PRUNED to those partitions (manifest-level — unrelated
    * partitions are never listed), making delete cost ∝ the hinted
    * partitions instead of one table-wide two-column scan. The hint
    * is a scope, not a trust: within it the probe still decides
    * which partitions rewrite, so a hinted partition with no doomed
    * rows is NOT pointlessly rewritten — but a doomed key living
    * OUTSIDE the hinted partitions is out of scope and survives, by
    * contract (same co-location contract as mergeCommit's partition
    * routing; omit the column to delete table-wide).
    *
    * Null keys in `keys` match nothing (anti-join semantics), so a
    * sloppy key list cannot mass-delete null-keyed rows. Returns the
    * committed version — or the CURRENT version unchanged when no
    * partition holds any doomed key (an empty delete is a no-op, not
    * an empty commit). */
  def deleteCommit(spark: SparkSession, keys: DataFrame, root: String,
                   keyCols: ColSpec, partitionCols: ColSpec): Long = {
    require(keyCols.nonEmpty, "deleteCommit needs at least one key column")
    require(partitionCols.nonEmpty, "deleteCommit needs a partition spec")
    val doomed = keys.select(keyCols.cols.map(col): _*).distinct()
    // The scope hint needs the WHOLE partition tuple — a partial tuple
    // cannot name a manifest partition, so it scopes nothing.
    val scope: Option[Set[String]] =
      if (!partitionCols.cols.forall(keys.columns.contains)) None
      else Some(keys.select(partValueColumn(partitionCols.cols)).distinct()
        .collect().map(_.getString(0)).toSet)
    occ(spark, root, "delete-commit") { cur =>
      val entries = manifest(spark, root, cur)
      // Probe (always): which in-scope partitions actually contain a
      // doomed key. The hint only prunes the probe's scan; a SMALL
      // key set additionally prunes it file-by-file through the
      // stats/bloom sidecars ([[probeCandidateEntries]]), so a
      // point delete probes candidate files, not the table.
      val inScope = scope match {
        case Some(ps) => entries.filter(e => ps(e.partition))
        case None => entries
      }
      val candidates = probeCandidateEntries(spark, root, cur, inScope,
        doomed, keyCols.cols)
      val touched: Set[String] =
        if (candidates.isEmpty) Set.empty
        else applyColumnMapping(readEntriesAt(spark, root, candidates, cur),
            headerOrEmpty(spark, root, cur).mapping)
          .select((keyCols.cols ++
            partitionCols.cols.filterNot(keyCols.contains)).map(col): _*)
          .join(doomed, keyCols.cols, "left_semi")
          .select(partValueColumn(partitionCols.cols)).distinct()
          .collect().map(_.getString(0)).toSet
      val (replaced, kept) = entries.partition(e => touched(e.partition))
      if (replaced.isEmpty) NoOp(cur)
      else {
        val remaining = applyColumnMapping(readEntriesAt(spark, root, replaced, cur),
            headerOrEmpty(spark, root, cur).mapping)
          .join(doomed, keyCols.cols, "left_anti")
        val fresh = writeDataFiles(spark, remaining, root, cur + 1, partitionCols.cols)
        new Staged(kept, fresh, "delete", partitionCols.header, Some(remaining.schema))
      }
    }
  }

  /** `DELETE FROM t WHERE p` as an atomic snapshot commit (Delta's
    * predicate DELETE, the SQL spelling of K4's retention delete):
    * rows where `predicate` is TRUE are removed; FALSE and NULL rows
    * survive (SQL three-valued semantics). Only partitions that
    * actually contain a matching row are rewritten — found by a probe
    * through the file-skipping index ([[table]]), so a predicate over
    * an indexed column opens only candidate files, and the rewrite is
    * bounded by the matching partitions, not the table. A predicate
    * referencing ONLY partition columns short-circuits to a pure
    * METADATA commit ([[partitionOnlyDoomed]]): the doomed partitions'
    * entries leave the manifest, no data file is read or written —
    * `DELETE FROM t WHERE supplier = 'x'` on a 100 TB table is one
    * manifest write. A predicate
    * matching nothing returns the current version unchanged (no empty
    * commit). The table's partition column resolves from the
    * `#partcol` manifest header. */
  /** Column names a predicate references (top-level unresolved
    * attributes; qualified names take their LAST part). None when the
    * expression does not parse — callers then skip any
    * reference-based fast path and let the row-level path surface the
    * real error. */
  private[sinks] def predicateReferences(spark: SparkSession,
                                  predicate: String): Option[Set[String]] =
    try {
      val e = spark.sessionState.sqlParser.parseExpression(predicate)
      Some(e.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      }.toSet)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** True when `predicate` parses to a deterministic, subquery-free
    * expression. Determinism is decided on an ANALYZED condition over
    * a dummy frame of the predicate's own references (string-typed;
    * determinism doesn't depend on the types) — unresolved function
    * nodes report `deterministic` vacuously true, so rand() only
    * reveals itself after resolution. Anything that fails to parse or
    * analyze is NOT certified (callers fall back to the row path,
    * whose analysis errors stay loud). */
  private[sinks] def deterministicNoSubquery(spark: SparkSession,
                                             predicate: String): Boolean =
    try {
      val parsed = spark.sessionState.sqlParser.parseExpression(predicate)
      val hasSubquery = parsed.exists {
        case _: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => true
        case _ => false
      }
      if (hasSubquery) false
      else {
        val refs = parsed.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }.distinct
        val dummy = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(refs.map(c =>
            org.apache.spark.sql.types.StructField(c,
              org.apache.spark.sql.types.StringType))))
        dummy.filter(expr(predicate)).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition.deterministic
        }.getOrElse(false)
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** When `predicate` references ONLY partition columns, the rows it
    * deletes are exactly the full content of the partitions whose
    * VALUES satisfy it — so the delete is pure metadata: evaluate the
    * predicate against the decoded manifest partition values (typed
    * through the recorded schema; the Hive null-sentinel decodes to
    * real null) and drop those partitions' entries. Returns the
    * doomed partition VALUES, or None when the fast path does not
    * apply (non-partition references, unparseable, or a sentinel
    * partition matched — the sentinel conflates null and empty
    * string, which row-level three-valued logic distinguishes, so
    * those fall back to the rewrite). */
  private[sinks] def partitionOnlyDoomed(spark: SparkSession, root: String,
                                  cur: Long, partCols: Seq[String],
                                  entries: Seq[ManifestEntry],
                                  predicate: String): Option[Set[String]] = {
    val refs = predicateReferences(spark, predicate).getOrElse(return None)
    if (refs.isEmpty ||
        !refs.forall(r => partCols.exists(_.equalsIgnoreCase(r)))) return None
    // Referenced-columns alone don't make the fast path sound: it
    // evaluates the predicate ONCE PER PARTITION VALUE, which only
    // equals row-level filtering when the predicate is deterministic
    // and subquery-free (Delta's precondition for metadata-only
    // DELETE). `supplier = 'a' OR rand() < 0.5` references only
    // partition columns but would drop or keep WHOLE partitions on one
    // coin flip; a subquery's inner references also hide from the
    // expression-level collect above. Determinism is checked on the
    // ANALYZED condition — unresolved function nodes default to
    // deterministic, so the parse tree can't answer it.
    if (!deterministicNoSubquery(spark, predicate)) return None
    val types: Map[String, org.apache.spark.sql.types.DataType] =
      schemaFor(spark, root, cur)
        .map(ph => logicalSchema(ph, headerOrEmpty(spark, root, cur).mapping))
        .map(_.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
    val parts = entries.map(_.partition).distinct
    val rows = parts.map(pv => org.apache.spark.sql.Row.fromSeq(
      pv +: decodePartValue(pv, partCols.size)
        .map(v => if (v == HiveDefaultPartition) null else v)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("__graft_part_value",
          org.apache.spark.sql.types.StringType) +:
        partCols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType))))
    val typed = df.select(col("__graft_part_value") +:
      partCols.map(c => types.get(c)
        .map(t => col(c).cast(t).as(c)).getOrElse(col(c))): _*)
    val doomed = typed.filter(coalesce(expr(predicate), lit(false)))
      .select("__graft_part_value").collect().map(_.getString(0)).toSet
    if (doomed.exists(decodePartValue(_, partCols.size)
        .contains(HiveDefaultPartition))) None
    else Some(doomed)
  }

  def deleteWhere(spark: SparkSession, root: String, predicate: String): Long = {
    val hit = coalesce(expr(predicate), lit(false))
    occ(spark, root, "delete-where") { cur =>
      val partCols = requirePartitionCols(spark, root, cur)
      val entries = manifest(spark, root, cur)
      // Partition-predicate fast path: `DELETE FROM t WHERE
      // supplier = 'x'` drops whole partitions with ONE manifest
      // write — zero data files read or written, at any table size. A
      // lost manifest race re-runs this body, which re-reads the
      // manifest and re-decides.
      partitionOnlyDoomed(spark, root, cur, partCols, entries,
          predicate) match {
        case Some(doomed) =>
          if (doomed.isEmpty) NoOp(cur)
          else new Staged(entries.filterNot(e => doomed(e.partition)), Nil,
            "delete", partCols.mkString(","))
        case None =>
          val touched: Set[String] = table(spark, root, Some(cur))
            .filter(hit).select(partValueColumn(partCols)).distinct()
            .collect().map(_.getString(0)).toSet
          val (replaced, kept) = entries.partition(e => touched(e.partition))
          if (replaced.isEmpty) NoOp(cur)
          else {
            val remaining = applyColumnMapping(readEntriesAt(spark, root, replaced, cur),
              headerOrEmpty(spark, root, cur).mapping).filter(!hit)
            val fresh = writeDataFiles(spark, remaining, root, cur + 1, partCols)
            new Staged(kept, fresh, "delete", partCols.mkString(","),
              Some(remaining.schema))
          }
      }
    }
  }

  /** Delta's `replaceWhere` (E143): ONE atomic commit that deletes
    * every row matching `predicate` and inserts `df0` — the
    * idempotent backfill/restatement primitive (re-running a day's
    * pipeline REPLACES the day, never duplicates it; a reader sees
    * the old day or the new one, never both or neither). Every
    * INCOMING row must satisfy the predicate (refused loudly before
    * anything lands — Delta's contract: the write is scoped to what
    * it replaces). Partitions holding neither a predicate match nor
    * an incoming row carry by reference; surviving rows in touched
    * partitions (predicate FALSE or NULL) are kept. A
    * partition-value-only predicate (the `INSERT OVERWRITE …
    * PARTITION` shape) replaces whole partitions with ZERO existing
    * data read — manifest arithmetic plus the new batch's write, at
    * any table size. Returns the committed version. */
  def replaceWhere(spark: SparkSession, root: String, df0: DataFrame,
                   predicate: String): Long = {
    val hit = coalesce(expr(predicate), lit(false))
    val tip = tipVersionAndProps(spark, root)
    val tipProps = tip.map(_._2).getOrElse(Map.empty[String, String])
    // ONE materialization serves the scope check, the partition probe,
    // and the write — the writeDataFiles discipline: a nondeterministic
    // source must not pass the scope check with one row set and write
    // another (rows outside `touched` would duplicate against the
    // carried files), and even a deterministic query should not
    // recompute three times.
    val incoming = applyGenerated(spark, root, df0, tip)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stray = incoming.filter(!hit).limit(1).collect()
      if (stray.nonEmpty) throw new IllegalArgumentException(
        s"replaceWhere: an incoming row does not satisfy '$predicate' " +
          s"(${stray.head}) — the write must be scoped to what it replaces")
      occ(spark, root, "replace-where") { cur =>
        enforceConstraints(spark, root, incoming, cur, tipProps)
        enforceSchemaCompatible(spark, root, incoming, cur)
        val partCols = requirePartitionCols(spark, root, cur)
        val entries = manifest(spark, root, cur)
        val newParts: Set[String] = incoming
          .select(partValueColumn(partCols)).distinct()
          .collect().map(_.getString(0)).toSet
        // Partition-only predicates: the doomed set is decided from
        // partition VALUES (zero data reads), every row in those
        // partitions matches, and the incoming batch (all rows
        // predicate-true) can only land inside them — whole-partition
        // replacement, the INSERT OVERWRITE … PARTITION fast path.
        val partitionOnly = partitionOnlyDoomed(spark, root, cur, partCols,
          entries, predicate).filter(newParts.subsetOf)
        val (merged, touched) = partitionOnly match {
          case Some(doomed) => (incoming, doomed ++ newParts)
          case None =>
            val matchParts: Set[String] = table(spark, root, Some(cur))
              .filter(hit).select(partValueColumn(partCols)).distinct()
              .collect().map(_.getString(0)).toSet
            val touched = matchParts ++ newParts
            val replaced = entries.filter(e => touched(e.partition))
            val m =
              if (replaced.isEmpty) incoming
              else applyColumnMapping(readEntriesAt(spark, root, replaced, cur),
                headerOrEmpty(spark, root, cur).mapping).filter(!hit)
                .unionByName(incoming, allowMissingColumns = true)
            (m, touched)
        }
        val kept = entries.filterNot(e => touched(e.partition))
        val fresh = writeDataFiles(spark, merged, root, cur + 1, partCols)
        new Staged(kept, fresh, "replace-where", partCols.mkString(","),
          Some(merged.schema))
      }
    } finally incoming.unpersist(false)
  }

  /** DYNAMIC partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic` semantics, E143): ONE atomic
    * commit replacing EXACTLY the partitions `df0`'s rows land in —
    * computed AFTER generated-column materialization, so a table
    * partitioned by a GENERATED column overwrites correctly too. No
    * predicate text is synthesized (value quoting can never misfire);
    * whole partitions are replaced, everything else carries by
    * reference. The empty batch is a version no-op. */
  def overwritePartitions(spark: SparkSession, root: String, df0: DataFrame): Long = {
    val tip = tipVersionAndProps(spark, root)
    val tipProps = tip.map(_._2).getOrElse(Map.empty[String, String])
    // Same one-materialization discipline as [[replaceWhere]]: the
    // partition probe and the write must see identical rows.
    val incoming = applyGenerated(spark, root, df0, tip)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try occ(spark, root, "overwrite-partitions") { cur =>
      enforceConstraints(spark, root, incoming, cur, tipProps)
      enforceSchemaCompatible(spark, root, incoming, cur)
      val partCols = requirePartitionCols(spark, root, cur)
      val touched: Set[String] = incoming
        .select(partValueColumn(partCols)).distinct()
        .collect().map(_.getString(0)).toSet
      if (touched.isEmpty) NoOp(cur)
      else {
        val kept = manifest(spark, root, cur).filterNot(e => touched(e.partition))
        val fresh = writeDataFiles(spark, incoming, root, cur + 1, partCols)
        new Staged(kept, fresh, "replace-where", partCols.mkString(","),
          Some(incoming.schema))
      }
    } finally incoming.unpersist(false)
  }

  /** `TRUNCATE TABLE t` — remove every row as ONE metadata commit:
    * the new manifest lists no files (they stay on disk for time
    * travel until vacuumed), the recorded schema carries via the
    * stats sidecar, so the empty table stays readable and writable.
    * The partition-only delete's cost model applied to the whole
    * table. Returns the new version (the current one when already
    * empty). */
  def truncate(spark: SparkSession, root: String): Long =
    occ(spark, root, "truncate") { cur =>
      val partCols = requirePartitionCols(spark, root, cur)
      if (manifest(spark, root, cur).isEmpty) NoOp(cur)
      else new Staged(Nil, Nil, "delete", partCols.mkString(","))
    }
}
