package graft.sinks

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance + metadata DDL for [[SnapshotStore]]: UPDATE,
  * constraints, column mapping DDL, the change feed, layout
  * (compact / Z-order / partition-spec evolution), RESTORE, clones,
  * history, symlink export, and vacuum. Split from the core for
  * size; composes back into the single `SnapshotStore` object (same
  * API). */
private[sinks] trait SnapshotMaintenance { this: SnapshotStore.type =>

  /** `UPDATE t SET c = e, … [WHERE p]` as an atomic snapshot commit
    * (Delta's UPDATE): in every row where `predicate` is TRUE (all
    * rows when None), each assigned column is replaced by its
    * expression evaluated against the OLD row — all assignments see
    * pre-update values, standard SQL UPDATE semantics — and cast back
    * to the column's existing type, so the schema never drifts.
    * Assignments must target existing columns (UPDATE cannot add
    * columns; that is merge-side schema evolution's job).
    *
    * Same partition-bounded rewrite shape as [[deleteWhere]]: the
    * probe finds partitions holding a matching row, only those
    * rewrite, the rest carry by reference. Updating the PARTITION
    * column is allowed — rewritten rows land in their new partitions
    * (files group by value at write) — and updating a key column is
    * the caller's contract to keep unique, exactly as in Delta. */
  def updateWhere(spark: SparkSession, root: String,
                  assignments: Seq[(String, String)],
                  predicate: Option[String]): Long = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      s"UPDATE assigns a column twice: ${assignments.map(_._1).mkString(", ")}")
    val hit = coalesce(predicate.map(expr).getOrElse(lit(true)), lit(false))
    occ(spark, root, "update-where") { cur =>
      val partCols = requirePartitionCols(spark, root, cur)
      val entries = manifest(spark, root, cur)
      val touched: Set[String] = table(spark, root, Some(cur))
        .filter(hit).select(partValueColumn(partCols)).distinct()
        .collect().map(_.getString(0)).toSet
      val (replaced, kept) = entries.partition(e => touched(e.partition))
      if (replaced.isEmpty) NoOp(cur)
      else {
        // Align the replaced files to the RECORDED table schema: after a
        // schema evolution, a matched partition's files may predate an
        // evolved column — UPDATE must still be able to SET it (it reads
        // as typed nulls, exactly like any scan). Both the frame and the
        // recorded schema pass through the column mapping first, so the
        // alignment (and the user's assignments) see LOGICAL names.
        val mapping = headerOrEmpty(spark, root, cur).mapping
        val raw = applyColumnMapping(readEntriesAt(spark, root, replaced, cur), mapping)
        val current = schemaFor(spark, root, cur).map(logicalSchema(_, mapping)) match {
          case Some(sc) =>
            val have = raw.columns.toSet
            val widened = sc.fields.filterNot(f => have(f.name))
              .foldLeft(raw)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
            widened.select(widened.columns.toSeq.map(col): _*)
          case None => raw
        }
        val types = current.schema.map(f => f.name -> f.dataType).toMap
        assignments.foreach { case (c, _) => require(types.contains(c),
          s"UPDATE SET targets unknown column '$c' " +
            s"(columns: ${current.columns.mkString(", ")})") }
        // GENERATED ALWAYS AS IDENTITY: the allocator owns the column on
        // every surface — SET id = … would reassign (possibly duplicate)
        // ids the table already vended.
        val idents = header(spark, root, cur).identityColumns.toSet
        assignments.map(_._1).filter(idents).foreach(c =>
          throw new IllegalArgumentException(
            s"UPDATE cannot SET identity column '$c' — GENERATED ALWAYS " +
              "AS IDENTITY is allocator-owned"))
        val assign = assignments.toMap
        val assignedOnly = current.select(current.columns.toSeq.map { c =>
          assign.get(c) match {
            case Some(e) =>
              when(hit, expr(e).cast(types(c))).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        // A SET touching a generation input must refresh the generated
        // column too (Delta parity) — identity wherever inputs didn't
        // change, see [[SnapshotStore.recomputeGenerated]].
        val updated = recomputeGenerated(spark, root, cur, assignedOnly,
          assign.keySet)
        enforceConstraints(spark, root, updated, cur, headerOrEmpty(spark, root, cur).props)
        val fresh = writeDataFiles(spark, updated, root, cur + 1, partCols)
        new Staged(kept, fresh, "update", partCols.mkString(","), Some(updated.schema))
      }
    }
  }

  /** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` (Delta's CHECK
    * constraint): validate the CURRENT data satisfies the expression
    * (one pushdown/skipping-friendly limit-1 probe — rows where it is
    * FALSE violate; NULL passes, SQL CHECK semantics), then publish a
    * metadata-only commit whose manifest records the constraint. From
    * then on EVERY write path (commit / merge / append / update /
    * writer / COPY INTO) probes its batch and fails loudly before
    * writing a violating row; layout-only rewrites skip the re-proof.
    * Returns the committed version. */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    checkExpr: String): Long = {
    require(name.matches("[A-Za-z_][\\w$]*"),
      s"constraint name must be an identifier, got '$name'")
    occ(spark, root, "add-constraint") { cur =>
      val existing = header(spark, root, cur).constraints
      require(!existing.exists(_._1 == name),
        s"constraint '$name' already exists on $root")
      val bad = table(spark, root, Some(cur))
        .filter(!coalesce(expr(checkExpr), lit(true))).limit(1).collect()
      if (bad.nonEmpty) throw new IllegalStateException(
        s"cannot add CHECK constraint $name ($checkExpr): existing row " +
          s"violates it: ${bad.head}")
      metadataCommit(spark, root, cur, "constraint",
        _.copy(constraints = existing :+ (name -> checkExpr)),
        schema = schemaFor(spark, root, cur))
    }
  }

  /** `ALTER TABLE t DROP CONSTRAINT name`: metadata-only commit
    * removing the named CHECK constraint. Unknown names fail loudly
    * (silently "dropping" nothing would mask a typo forever). */
  def dropConstraint(spark: SparkSession, root: String, name: String): Long =
    occ(spark, root, "drop-constraint") { cur =>
      val existing = header(spark, root, cur).constraints
      require(existing.exists(_._1 == name),
        s"no constraint named '$name' on $root " +
          s"(existing: ${existing.map(_._1).mkString(", ")})")
      metadataCommit(spark, root, cur, "constraint",
        _.copy(constraints = existing.filterNot(_._1 == name)),
        schema = schemaFor(spark, root, cur))
    }

  /** The table's current LOGICAL column names: recorded physical
    * schema (or a footer read as fallback) through the version's
    * column mapping. */
  private[sinks] def logicalColumns(spark: SparkSession, root: String,
                             cur: Long): Seq[String] = {
    val physical = schemaFor(spark, root, cur).getOrElse(
      readEntries(spark, root, manifest(spark, root, cur)).schema)
    logicalSchema(physical, headerOrEmpty(spark, root, cur).mapping).fieldNames.toSeq
  }

  /** Conservative guard: does any CHECK constraint's expression
    * mention `name` as a word? (May over-match inside string literals
    * — acceptable: the failure mode is a loud refusal, never a broken
    * constraint.) */
  private[sinks] def constraintMentions(spark: SparkSession, root: String,
                                 cur: Long, name: String): Option[String] =
    header(spark, root, cur).constraints.collectFirst {
      case (n, e) if ("""(?i)(?<![\w$])""" + java.util.regex.Pattern.quote(name) +
        """(?![\w$])""").r.findFirstIn(e).isDefined => n
    }

  /** `ALTER TABLE t RENAME COLUMN from TO to` — Delta's column-mapping
    * rename: a METADATA-ONLY commit (zero files rewritten; parquet
    * files keep the original "physical" name forever, reads alias it).
    * Renaming the partition column is allowed — the manifest's
    * `#partcol` follows, while directory layout (physical) stays.
    * Refused when a CHECK constraint references the column (Delta's
    * own restriction — the stored expression would silently break) or
    * when the new name collides with a reserved physical name.
    * Returns the new version. */
  /** `SHOW CREATE TABLE t` (E145): reconstruct the CREATE statement
    * from the table's own metadata — the logical schema with its
    * GENERATED / IDENTITY / DEFAULT clauses, the partition spec, the
    * creation-time bucket layout, and the USER-facing table
    * properties. Round-trip fidelity is the contract (spec-pinned):
    * running the emitted statement against a fresh root reproduces
    * the schema, every column clause, the layout, and the properties.
    * MANAGED state is deliberately absent: clause-expressed records
    * (generated/identity/default/bucket) print as clauses, not
    * properties; allocation marks, ANALYZE records, layout baselines,
    * the error ledger, and the creation-zone pin are runtime state a
    * re-created table must derive for itself — printing an identity
    * mark, say, would let a copy-paste re-create REOPEN allocated
    * ids. CHECK constraints are ALTER-surface metadata (DESCRIBE
    * DETAIL / SHOW TBLPROPERTIES territory), not CREATE syntax in
    * this dialect. */
  def showCreateTable(spark: SparkSession, root: String,
                      ident: String): String = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val schema = logicalSchemaAt(spark, root, cur).getOrElse(
      readVersion(spark, root, cur).schema)
    val hdr = header(spark, root, cur)
    val props = hdr.props
    val gens = generatedColumns(props).toMap
    val idents = identityColumns(props).map(s => s.col -> s).toMap
    val defaults = defaultColumns(props).toMap
    val partCols = hdr.partitionCols
    val bucket = props.get(BucketSpecProp).flatMap(parseBucketSpec)
    val colLines = schema.fields.map { f =>
      val base = s"`${f.name}` ${f.dataType.sql}"
      gens.get(f.name).map(e => s"$base GENERATED ALWAYS AS ($e)")
        .orElse(idents.get(f.name).map { s =>
          val mode = if (s.byDefault) "BY DEFAULT" else "ALWAYS"
          val sizing =
            if (s.start == 1L && s.step == 1L) ""
            else s" (START WITH ${s.start} INCREMENT BY ${s.step})"
          s"$base GENERATED $mode AS IDENTITY$sizing"
        })
        .orElse(defaults.get(f.name).map(d => s"$base DEFAULT $d"))
        .getOrElse(base)
    }
    // Managed records never print: clause-expressed ones are already
    // clauses above; runtime state must not survive a copy-paste —
    // the SAME predicate the CREATE-time guard refuses with, so the
    // printer and the guard cannot drift.
    val visible = props.toSeq
      .filterNot { case (k, _) => managedPropertyKey(k) }
      .sortBy(_._1)
    val sb = new StringBuilder
    sb ++= s"CREATE TABLE $ident (\n"
    sb ++= colLines.map("  " + _).mkString(",\n")
    sb ++= "\n) USING graft-snapshot\n"
    sb ++= s"PARTITIONED BY (${partCols.map(c => s"`$c`").mkString(", ")})"
    bucket.foreach { b =>
      sb ++= s"\nCLUSTER BY (${b.cols.map(c => s"`${c._1}`").mkString(", ")})"
      if (b.sortCols.nonEmpty)
        sb ++= s" SORTED BY (${b.sortCols.map(c => s"`${c._1}`").mkString(", ")})"
      sb ++= s" INTO ${b.n} BUCKETS"
    }
    if (visible.nonEmpty)
      sb ++= visible.map { case (k, v) =>
        s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'"
      }.mkString("\nTBLPROPERTIES (", ", ", ")")
    sb.toString
  }

  /** `FSCK REPAIR TABLE t [DRY RUN]` (Delta's operational repair,
    * E144): find manifest entries whose DATA FILE — or attached
    * deletion-vector file — no longer exists on storage (deleted
    * out-of-band: a misfired lifecycle rule, a manual rm, a botched
    * restore) and, unless `dryRun`, publish a new version WITHOUT
    * them, so the table reads again instead of failing every scan at
    * the first missing split. An entry with a missing DV drops WHOLE
    * (resurrecting its deleted rows by dropping just the DV would be
    * silently wrong; losing its surviving rows is at least the
    * documented, visible semantics — Delta's choice too). The
    * existence sweep is a DISTRIBUTED job over the file list (one
    * namenode call per file, fanned across executors — a 100k-file
    * table sweeps in one task wave, never a driver loop). Returns
    * (dropped (path, reason) pairs, resulting version — the current
    * one for DRY RUN or a clean table). */
  def fsckRepair(spark: SparkSession, root: String,
                 dryRun: Boolean): (Seq[(String, String)], Long) = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    var dropped = Seq.empty[(String, String)]
    val v = occ(spark, root, "fsck") { cur =>
      val entries = manifest(spark, root, cur)
      val paths = (entries.map(_.path) ++
        entries.filter(_.dv.nonEmpty).map(_.dv)).distinct
      val missing: Set[String] =
        if (paths.isEmpty) Set.empty
        else {
          val rootStr = root
          spark.sparkContext
            .parallelize(paths, math.min(64, 1 + paths.size / 1000))
            .mapPartitions { it =>
              val f = new Path(rootStr).getFileSystem(conf.value)
              it.filterNot(p => f.exists(new Path(rootStr, p)))
            }.collect().toSet
        }
      dropped = entries.flatMap { e =>
        if (missing(e.path)) Some(e.path -> "missing data file")
        else if (e.dv.nonEmpty && missing(e.dv))
          Some(e.path -> s"missing deletion vector ${e.dv}")
        else None
      }
      if (dropped.isEmpty || dryRun) NoOp(cur)
      else {
        val doomed = dropped.map(_._1).toSet
        new Staged(entries.filterNot(e => doomed(e.path)), Nil, "fsck",
          header(spark, root, cur).partcol.getOrElse(""))
      }
    }
    (dropped, v)
  }

  /** `ALTER TABLE t SYNC IDENTITY` (Delta parity): re-base every
    * recorded identity mark onto the values ACTUALLY PRESENT — per
    * column, `last` becomes the table's step-direction extremum (max
    * for a positive step, min for a negative one), or `start − step`
    * when no non-null value exists (the next allocation restarts at
    * `start`). FORWARD moves happen automatically on every write
    * ([[SnapshotStore.assignIdentity]]'s mark-advance past carried
    * values), so on a healthy table this is a no-op; SYNC is the one
    * sanctioned way to move a mark BACKWARD — reclaiming id space
    * after large deletes, an explicit administrative decision to
    * reopen those ids (the regular DML paths never do). Both
    * identity modes accept it.
    *
    * OCC: the extremum recomputes per attempt against that attempt's
    * tip, and the updated records ride a metadata-only commit. A
    * concurrent allocating writer either lands before (this attempt
    * re-reads its rows and re-races) or after (it allocates from the
    * synced mark its own attempt re-reads) — marks can never
    * interleave into reallocation. Returns the committed version
    * (the current one when every mark already matches). */
  def syncIdentity(spark: SparkSession, root: String): Long = {
    // An exception-abandoned allocation attempt on THIS thread may
    // have left a forward mark in the pending hand-off; the manifest
    // injection's monotone guard would silently re-apply it OVER the
    // backward value this commit exists to publish (30 > 10 reads as
    // "ahead"). The residue describes ids that never published —
    // dropping it costs at most a gap, and SYNC is about to re-derive
    // the mark from the data anyway.
    clearPendingIdentityAlloc(root)
    occ(spark, root, "sync-identity") { cur =>
      val existing = header(spark, root, cur).properties
      val specs = identityColumns(existing.toMap)
      require(specs.nonEmpty,
        s"SYNC IDENTITY: no identity column is recorded on $root")
      val data = readVersion(spark, root, cur)
      val aggs = specs.map { s =>
        (if (s.step > 0) max(col(s.col)) else min(col(s.col)))
          .cast("long").as(s.col)
      }
      val row = data.agg(aggs.head, aggs.tail: _*).head()
      val updated = specs.zipWithIndex.map { case (s, i) =>
        val observed =
          if (row.isNullAt(i)) Math.subtractExact(s.start, s.step)
          else row.getLong(i)
        formatIdentity(s.copy(last = observed))
      }
      val keys = updated.map(_._1).toSet
      val merged = existing.filterNot(p => keys(p._1)) ++ updated
      if (merged.toMap == existing.toMap) NoOp(cur)
      else metadataCommit(spark, root, cur, "set-properties", _.copy(properties = merged))
    }
  }

  /** `ALTER TABLE t ALTER COLUMN c SET DEFAULT expr` / `DROP DEFAULT`
    * (Delta's post-hoc default management — sound because a default
    * affects only FUTURE inserts, nothing about existing rows): the
    * VALIDATED way a `graft.default.<col>` record changes (raw
    * SET/UNSET TBLPROPERTIES refuses the prefix). Refused for
    * generated/identity columns (their machinery owns the fill) and
    * for partition columns (the INSERT column-list guard requires
    * them listed, so a recorded default would be dead metadata —
    * refuse loudly instead). `None` drops; dropping an absent
    * default is a version no-op. Returns the committed version. */
  def setColumnDefault(spark: SparkSession, root: String, colName: String,
                       exprSql: Option[String]): Long =
    occ(spark, root, "set-default") { cur =>
      val schema = logicalSchemaAt(spark, root, cur).getOrElse(
        readVersion(spark, root, cur).schema)
      val field = schema.find(_.name == colName).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER COLUMN: unknown column '$colName' " +
            s"(columns: ${schema.fieldNames.mkString(", ")})"))
      val hdr = header(spark, root, cur)
      require(!hdr.props.contains(s"$GeneratedPropPrefix$colName") &&
          !hdr.identityColumns.contains(colName),
        s"'$colName' is a generated/identity column — its value is " +
          "computed, a DEFAULT would never apply")
      require(!hdr.partitionCols.contains(colName),
        s"'$colName' is a partition column — INSERT requires it " +
          "listed, so a DEFAULT could never fill it")
      exprSql.foreach(e => validateDefault(spark, colName, field.dataType, e))
      val existing = hdr.properties
      val key = s"$DefaultPropPrefix$colName"
      val merged = existing.filterNot(_._1 == key) ++
        exprSql.map(key -> _).toSeq
      if (merged.toMap == existing.toMap) NoOp(cur)
      else metadataCommit(spark, root, cur, "set-properties", _.copy(properties = merged))
    }

  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String): Long = {
    require(from != to, s"RENAME COLUMN $from TO $from is a no-op")
    occ(spark, root, "rename-column") { cur =>
      val cols = logicalColumns(spark, root, cur)
      require(cols.contains(from),
        s"cannot rename missing column '$from' (columns: ${cols.mkString(", ")})")
      require(!cols.contains(to),
        s"cannot rename '$from' to '$to': column '$to' already exists")
      constraintMentions(spark, root, cur, from).foreach(n =>
        throw new IllegalStateException(
          s"cannot rename column '$from': CHECK constraint $n references " +
            s"it; DROP the constraint first and re-ADD it against the new name"))
      // Identity records name the LOGICAL column; a rename would
      // strand the record pointing at nothing and every later write
      // would resurrect a phantom column under the old name. Same
      // boundary as CHECK constraints.
      val hdr = header(spark, root, cur)
      require(!hdr.identityColumns.contains(from),
        s"cannot rename identity column '$from' — the identity record " +
          "names it (same boundary as CHECK constraints)")
      val (renames, dropped) = hdr.mapping
      val physical = physicalNameOf(renames, from)
      require(!dropped(to),
        s"cannot rename to '$to': that name is reserved by a dropped " +
          "column whose data files still carry it")
      require(!renames.exists { case (lg, ph) => ph == to && lg != from },
        s"cannot rename to '$to': that is another column's physical name")
      // Renaming BACK to the physical name dissolves the mapping entry.
      val newRenames = (renames - from) ++
        (if (to == physical) Map.empty[String, String] else Map(to -> physical))
      val newPartCol = hdr.partcol match {
        case Some(p) if p == from => to
        case other => other.getOrElse("")
      }
      val entries = manifest(spark, root, cur)
      // A recorded DEFAULT follows the rename — metadata names the
      // LOGICAL column, and unlike identity records (create-only,
      // allocation-bearing) a default is freely rewritable metadata.
      val defaultKey = s"$DefaultPropPrefix$from"
      val renamedProps: Option[Seq[(String, String)]] = {
        val existing = hdr.properties
        existing.collectFirst { case (k, v) if k == defaultKey => v }
          .map(v => existing.filterNot(_._1 == defaultKey) :+
            (s"$DefaultPropPrefix$to" -> v))
      }
      new Staged(entries, Nil, "rename-column", newPartCol,
        edit = h => h.copy(properties = renamedProps.getOrElse(h.properties),
          renames = newRenames.toSeq, dropped = dropped.toSeq),
        compactEligible = false)
    }
  }

  /** `ALTER TABLE t DROP COLUMN c` — Delta's column-mapping drop: a
    * METADATA-ONLY commit; the physical column stays in existing files
    * (readers project it away) and naturally disappears as files
    * rewrite. Time travel before the drop still shows the column.
    * Refused for the partition column (the layout keys on it), for
    * constraint-referenced columns, and for the last data column. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long =
    occ(spark, root, "drop-column") { cur =>
      val cols = logicalColumns(spark, root, cur)
      require(cols.contains(name),
        s"cannot drop missing column '$name' (columns: ${cols.mkString(", ")})")
      require(cols.size > 1, s"cannot drop '$name': it is the only column")
      val hdr = header(spark, root, cur)
      require(!hdr.partcol.contains(name),
        s"cannot drop partition column '$name'")
      constraintMentions(spark, root, cur, name).foreach(n =>
        throw new IllegalStateException(
          s"cannot drop column '$name': CHECK constraint $n references it; " +
            "DROP the constraint first"))
      // An identity record outliving its column would resurrect it on
      // every later write (the allocator sees "absent" and appends).
      require(!hdr.identityColumns.contains(name),
        s"cannot drop identity column '$name' — the identity record " +
          "names it")
      val (renames, dropped) = hdr.mapping
      val physical = physicalNameOf(renames, name)
      val entries = manifest(spark, root, cur)
      // A recorded DEFAULT dies with its column — an orphaned record
      // would spring back if the name is ever re-added.
      val key = s"$DefaultPropPrefix$name"
      new Staged(entries, Nil, "drop-column", hdr.partcol.getOrElse(""),
        edit = h => h.copy(
          properties = if (hdr.props.contains(key)) hdr.properties.filterNot(_._1 == key)
                       else h.properties,
          renames = (renames - name).toSeq, dropped = (dropped + physical).toSeq),
        compactEligible = false)
    }

  /** `ALTER TABLE t ADD COLUMN c TYPE` — metadata-only schema widening:
    * the recorded schema gains the (nullable) column, existing files
    * read it as typed nulls through the evolution-merged scan, and the
    * next write that carries values materializes them. The same
    * reserved-name collisions as [[toPhysical]] are refused. */
  def addColumn(spark: SparkSession, root: String, name: String,
                dataTypeDdl: String): Long =
    addColumns(spark, root, Seq(name -> dataTypeDdl))

  /** [[addColumn]] for a column LIST — `ALTER TABLE … ADD COLUMNS
    * (a INT, b STRING)` — as ONE metadata commit: all columns join the
    * recorded schema atomically (per-column commits would let a reader
    * observe half the widening). */
  def addColumns(spark: SparkSession, root: String,
                 columns: Seq[(String, String)]): Long = {
    require(columns.nonEmpty, "ADD COLUMNS needs at least one column")
    require(columns.map(_._1).distinct.size == columns.size,
      s"ADD COLUMNS lists a column twice: ${columns.map(_._1).mkString(", ")}")
    // `<type> [COMMENT '…']`, read as a one-column schema so a comment
    // rides along as field metadata, as it does at CREATE TABLE.
    val typed = columns.map { case (n, ddl) =>
      val f = org.apache.spark.sql.types.StructType
        .fromDDL(s"`${n.replace("`", "``")}` $ddl").fields match {
        case Array(f) => f
        case _ => throw new IllegalArgumentException(
          s"ADD COLUMNS: '$ddl' is not one column type")
      }
      require(f.nullable,
        s"cannot add NOT NULL column '$n': existing rows hold no value for it")
      n -> f }
    occ(spark, root, "add-column") { cur =>
      val cols = logicalColumns(spark, root, cur)
      val (renames, dropped) = headerOrEmpty(spark, root, cur).mapping
      typed.foreach { case (name, _) =>
        require(!cols.contains(name),
          s"cannot add column '$name': it already exists")
        require(!dropped(physicalNameOf(renames, name)) && !dropped(name),
          s"cannot add column '$name': that name is reserved by a dropped " +
            "column whose data files still carry it")
        require(!renames.exists { case (lg, ph) => ph == name && lg != name },
          s"cannot add column '$name': that is another column's physical name")
      }
      metadataCommit(spark, root, cur, "add-column",
        schema = Some(org.apache.spark.sql.types.StructType(typed.map(_._2))))
    }
  }

  /** Partitions whose manifest file sets differ between two versions.
    * Files are immutable once written, so a partition carried with an
    * identical file set at both versions is bit-identical and provably
    * free of changes — [[changes]] never reads it. */
  private[graft] def changedPartitions(spark: SparkSession, root: String,
                                       fromVersion: Long, toVersion: Long): Seq[String] = {
    def byPart(v: Long): Map[String, Set[String]] =
      manifest(spark, root, v).groupBy(_.partition)
        // File identity includes the DV attachment: a deletion-vector
        // delete changes a partition's CONTENT without changing its
        // file paths, and the change feed / merge rebase must see that
        // as a change.
        .map { case (p, es) => p -> es.map(e => s"${e.path}\t${e.dv}").toSet }
    val a = byPart(fromVersion)
    val b = byPart(toVersion)
    (a.keySet ++ b.keySet).filter(p => a.get(p) != b.get(p)).toSeq.sorted
  }

  /** True when `dt` transitively contains a map — map-typed values
    * have no ordering, so equality on them (or on structs/arrays
    * holding them) is not analyzable and must compare canonicalized. */
  private[sinks] def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType => s.exists(f => hasMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** Row-level change feed (CDC) between two committed versions — the
    * snapshot-store analog of a document store's change stream: every
    * row inserted, updated, or deleted going `fromVersion` →
    * `toVersion`, classified in a trailing `_change_type` column
    * (`insert` / `update` / `delete`). Insert and update rows carry
    * the to-version values; delete rows carry the from-version values.
    * Assumes the keyed-table contract the commit paths maintain:
    * `keyCol` unique within a version.
    *
    * Scale shape: the scan is bounded by the CHANGED partitions
    * ([[changedPartitions]]) — a commit that touched one partition of
    * a 100 TB table diffs one partition, not the table. What remains
    * is one full-outer equi-join on the key (AQE broadcasts the small
    * side when a commit was narrow) plus a null-safe struct equality
    * that drops rows a rewrite carried over byte-unchanged, so
    * [[compact]] / [[compactZOrder]] between the versions add zero
    * change rows. Columns added by schema evolution read as typed
    * nulls on the older side, so an evolution alone marks rows
    * changed only where the new column is non-null.
    *
    * Map-typed columns (and structs/arrays containing them) compare
    * via their JSON rendering — Spark defines no ordering on maps.
    * Entry order must therefore be construction-stable across
    * versions, which holds for rows produced by this store's own
    * commit paths; canonicalize upstream (sorted `map_entries`) if
    * feeding maps built in varying orders. */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
              toVersion: Long, keyCols: ColSpec): DataFrame =
    changes(spark, root, fromVersion, toVersion, keyCols, preImages = false)

  /** [[changes]] with Delta CDF's pre-image convention: when
    * `preImages` is set, each update emits TWO rows —
    * `update_preimage` carrying the from-version values and
    * `update_postimage` carrying the to-version values — instead of
    * one `update` row with post-values. Pre-images are what make
    * DOWNSTREAM incremental maintenance exact: a consumer can
    * subtract the old contribution and add the new one
    * ([[graft.operators.Rollup]]), including when the update MOVES a
    * row between groups (the pre-image carries the old group value).
    * One pass over the same diff join — the pair is exploded from an
    * array, never a second join. */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
              toVersion: Long, keyCols: ColSpec,
              preImages: Boolean): DataFrame =
    changes(spark, root, fromVersion, toVersion, keyCols, preImages, None)

  /** [[changes]] over a COLUMN PROJECTION: with `columns = Some(cs)`
    * both sides select the keys plus `cs` before the diff, so a row
    * whose named columns did not change cancels exactly, as a row in a
    * byte-identical file does, and the scan reads only those columns.
    * The window then answers "what changed in these columns", which
    * is all a consumer that maintains a function of them (a rollup's
    * group/sum/min/max columns, a sketch's columns) needs: the dropped
    * row's pre-image and post-image would have contributed the same
    * value to the same group. Names matched case-insensitively; a name
    * the snapshot lacks (a derive's computed column) is ignored. A
    * projection that leaves no non-key column still reports inserts
    * and deletes of keys. `None` diffs every column. */
  private[graft] def changes(spark: SparkSession, root: String, fromVersion: Long,
                             toVersion: Long, keyCols: ColSpec, preImages: Boolean,
                             columns: Option[Seq[String]]): DataFrame = {
    require(keyCols.nonEmpty, "change feed needs at least one key column")
    require(fromVersion != toVersion,
      s"change feed needs two distinct versions, got $fromVersion twice")
    // FILE-level diff scoping (Delta CDF's add/remove-file principle;
    // guide §2.4 "remove shuffles/passes outright"): an entry present
    // IDENTICALLY in both manifests — same path, same deletion vector
    // — is an immutable file read the same way on both sides, so
    // under the keyed contract its rows pair with themselves in the
    // full-outer diff and cancel exactly (a key row in a common file
    // on one side is that same row in that same file on the other;
    // keyed tables hold one row per key per version). Diffing only
    // the SYMMETRIC DIFFERENCE of entries makes the window's cost
    // ∝ changed files instead of ∝ touched partitions: an append's
    // window reads just the appended files (the from side is empty),
    // where the previous partition-level scoping re-read and
    // re-diffed every carried file of every touched partition. A
    // same-path entry whose DV changed lands on BOTH sides (its
    // versions read differently) and diffs row-wise as before.
    val fromAll = manifest(spark, root, fromVersion)
    val toAll = manifest(spark, root, toVersion)
    val fromSet = fromAll.toSet
    val toSet = toAll.toSet
    val fromDiff = fromAll.filterNot(toSet)
    val toDiff = toAll.filterNot(fromSet)
    // Both sides read under the NEWER version's column mapping (Delta
    // CDF's latest-schema convention): physical names are stable, so a
    // rename between the versions diffs the same columns under their
    // new names instead of fabricating a drop+add.
    val mvv = math.max(fromVersion, toVersion)
    val mapping = SnapshotStore.headerOrEmpty(spark, root, mvv).mapping
    def side(diff: Seq[SnapshotStore.ManifestEntry],
             all: Seq[SnapshotStore.ManifestEntry], v: Long): DataFrame =
      if (diff.nonEmpty)
        SnapshotStore.presentLogical(
          SnapshotStore.readEntriesAt(spark, root, diff, v), mapping)
      else if (all.nonEmpty)
        // Empty selection keeps the version's schema: limit(0) over
        // the full set, the same convention readVersion applies.
        SnapshotStore.presentLogical(
          SnapshotStore.readEntriesAt(spark, root, all, v).limit(0), mapping)
      else readVersion(spark, root, v, mappingVersion = Some(mvv))
    def projected(df: DataFrame): DataFrame = columns.fold(df) { cs =>
      val wanted = keyCols.cols ++ cs
      df.select(df.columns.toSeq
        .filter(c => wanted.exists(_.equalsIgnoreCase(c))).map(col): _*)
    }
    val from = projected(side(fromDiff, fromAll, fromVersion))
    val to = projected(side(toDiff, toAll, toVersion))
    val toCols = to.columns.toSeq
    val cols = toCols ++ from.columns.toSeq.filterNot(toCols.contains)
    val dataCols = cols.filterNot(keyCols.contains)
    keyCols.cols.foreach(k => require(cols.contains(k),
      s"key column $k missing from snapshot"))
    require(dataCols.nonEmpty || columns.isDefined,
      "change feed needs at least one non-key column")
    def aligned(df: DataFrame, other: DataFrame): (DataFrame, Map[String, org.apache.spark.sql.types.DataType]) = {
      val have = df.columns.toSet
      val otherTypes = other.schema.map(f => f.name -> f.dataType).toMap
      val d = cols.filterNot(have).foldLeft(df)((d, c) =>
        d.withColumn(c, lit(null).cast(otherTypes(c))))
      val sel = d.select(cols.map(col): _*)
      (sel, sel.schema.map(f => f.name -> f.dataType).toMap)
    }
    val (fA, fTypes) = aligned(from, to)
    val (tA, _) = aligned(to, from)
    def comparable(c: String): Column =
      if (hasMap(fTypes(c))) to_json(col(c)).as(c) else col(c).as(c)
    // A key-only projection diffs presence: one constant field stands
    // in for the empty row, so a key on both sides still cancels.
    def rowOf(fields: Seq[Column]): Column =
      struct((if (fields.isEmpty) Seq(lit(true).as("__present")) else fields): _*)
    def sided(df: DataFrame, side: String): DataFrame = df.select(
      keyCols.cols.map(col) :+
      rowOf(dataCols.map(col)).as(s"_${side}_row") :+
      rowOf(dataCols.map(comparable)).as(s"_${side}_cmp"): _*)
    val j = sided(fA, "from").join(sided(tA, "to"), keyCols.cols, "full_outer")
      .filter(!(col("_from_cmp") <=> col("_to_cmp")))
    if (!preImages) {
      val payload = when(col("_to_row").isNull, col("_from_row"))
        .otherwise(col("_to_row"))
      val changeType = when(col("_from_row").isNull, lit("insert"))
        .when(col("_to_row").isNull, lit("delete"))
        .otherwise(lit("update"))
      j.select(keyCols.cols.map(col) ++
        dataCols.map(c => payload.getField(c).as(c))
        :+ changeType.as("_change_type"): _*)
    } else {
      def pair(row: Column, tpe: String): Column =
        struct(row.as("p"), lit(tpe).as("t"))
      val pairs = when(col("_from_row").isNull,
          array(pair(col("_to_row"), "insert")))
        .when(col("_to_row").isNull,
          array(pair(col("_from_row"), "delete")))
        .otherwise(array(pair(col("_from_row"), "update_preimage"),
          pair(col("_to_row"), "update_postimage")))
      j.select(keyCols.cols.map(col) :+ explode(pairs).as("__chg"): _*)
        .select(keyCols.cols.map(col) ++
          dataCols.map(c => col("__chg").getField("p").getField(c).as(c))
          :+ col("__chg").getField("t").as("_change_type"): _*)
    }
  }

  /** Compact small files: rewrite the selected partitions (default:
    * every partition with more files than `maxFilesPerPartition`) so
    * each lands in one file per partition, published as a new snapshot
    * version. Content is unchanged — only layout. The small-file
    * problem is the chronic failure mode of long-lived incremental
    * tables (every merge adds files; scans degrade to file-open
    * overhead); compaction through the same manifest commit keeps it
    * crash-safe and non-blocking for readers. Untouched partitions are
    * carried by reference. Returns the new version, or the current one
    * if nothing needed compacting. */
  def compact(spark: SparkSession, root: String, partitionCols: ColSpec,
              maxFilesPerPartition: Int = 1,
              partitions: Option[Seq[String]] = None): Long = {
    require(partitionCols.nonEmpty, "compact needs a partition spec")
    occ(spark, root, "compaction") { cur =>
      val entries = manifest(spark, root, cur)
      val inScope: String => Boolean =
        partitions.map(_.toSet).map(s => s.contains _).getOrElse(_ => true)
      // Floor shared with maybeAutoCompact: a bucketed partition cannot
      // go below one file per bucket, so a lower target must not make
      // every call a full no-progress rewrite. ENGAGED spec only
      // (bucketSpecEngaged) — a type-drifted spec means writeDataFiles
      // will NOT re-bucket, so compact must behave as unbucketed
      // (repartition by partition, floor 0) or it would never converge.
      val engaged = bucketSpecEngaged(spark, root, cur)
      val effMax = math.max(maxFilesPerPartition, engaged.getOrElse(0))
      // Advisory byte sizing (graft.targetFileSize): with the property
      // set (and no engaged bucket layout — one file per bucket is
      // that contract), a partition is NON-conformant when it is
      // fragmented well past ⌈bytes/target⌉ files (the +1 tolerance
      // absorbs the rows-per-byte estimate's rounding so a just-
      // rewritten partition never re-rewrites) OR any single file
      // exceeds 2.5× target — so OPTIMIZE also SPLITS oversized
      // files, not just merges small ones. The split threshold
      // carries a 25% margin over the 2× split point for the same
      // reason the count rule carries +1: the writer sizes files
      // from a rows-per-byte ESTIMATE, so a rewrite can land a file
      // just past 2× (re-clustering shifts the compression ratio) —
      // without the margin that partition would be permanently
      // non-conformant and every subsequent OPTIMIZE/auto-compact
      // would re-rewrite it, full-partition I/O with no convergence.
      // Unknown sizes (legacy sidecar) degrade to the count-only
      // rule.
      val target = if (engaged.isDefined) None
        else SnapshotStore.targetFileSize(headerOrEmpty(spark, root, cur).props)
      val sizes: Map[String, FileStats.FileStatsEntry] =
        if (target.isDefined) statsFor(spark, root, cur) else Map.empty
      def conformant(es: Seq[ManifestEntry]): Boolean = target match {
        case Some(t) if es.forall(e => sizes.contains(e.path)) =>
          val bytes = es.map(e => sizes(e.path).len).sum
          val want = math.max(1L, (bytes + t - 1) / t)
          es.size <= want + 1 &&
            !es.exists(e => sizes(e.path).len > 2 * t + t / 2)
        case _ => es.size <= effMax
      }
      val oversizedEff = entries.groupBy(_.partition)
        .filter { case (p, es) => inScope(p) && !conformant(es) }
        .keySet
      if (oversizedEff.isEmpty) NoOp(cur)
      else {
        val (replaced, kept) = entries.partition(e => oversizedEff(e.partition))
        // One shuffle keyed by the partition column: every partition
        // value lands in exactly one task, so partitionBy emits one file
        // per compacted partition. Layout paths read and re-write files
        // RAW (physical column names — column mapping never applies), so
        // the partition column resolves by its PHYSICAL name.
        val physParts = partitionCols.cols
          .map(physicalNameOf(headerOrEmpty(spark, root, cur).mapping._1, _))
        // On an ENGAGED bucketed table writeDataFiles owns the shuffle
        // (by bucket hash); repartitioning here too would shuffle twice.
        val raw = readEntriesAt(spark, root, replaced, cur)
        val compacted =
          if (engaged.isDefined) raw
          else raw.repartition(physParts.map(col): _*)
        val fresh = writeDataFiles(spark, compacted, root, cur + 1, physParts,
          translate = false)
        // Content unchanged — the recorded schema carries forward.
        new Staged(kept, fresh, "compact", partitionCols.header,
          compactEligible = false)
      }
    }
  }

  /** Opt-in post-commit auto-compaction (Delta's autoCompact /
    * optimizeWrite answer to the small-file accretion every
    * high-frequency `mirrorStream` / `snapshotWriter` suffers between
    * manual OPTIMIZE calls): when the table property
    * `graft.autoCompact.minFiles` is a positive int and a just-
    * committed version leaves any partition with MORE live files than
    * that, compact exactly those partitions as a layout-only commit
    * ("compact" op — change feeds and streams already classify it
    * dataChange=false and skip it, so stream exactly-once holds).
    * Called at the success exit of the data-commit paths; the data
    * commit has already won, so like [[writeStats]] this derived
    * maintenance must never fail it — any error degrades to "not
    * compacted this round" and the next commit retries. */
  private[sinks] def maybeAutoCompact(spark: SparkSession, root: String,
                                      committed: Long,
                                      props: Map[String, String]): Unit = try {
    val min = props.get("graft.autoCompact.minFiles")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(0)
    if (min > 0) {
      // A bucketed partition's floor is one file per bucket — a
      // threshold below that could never converge and would turn
      // EVERY commit into a full rewrite of the oversized partitions.
      val floor = bucketSpecEngaged(spark, root, committed).getOrElse(0)
      val eff = math.max(min, floor)
      val over = manifest(spark, root, committed).groupBy(_.partition)
        .filter(_._2.size > eff).keys.toSeq
      if (over.nonEmpty)
        header(spark, root, committed).partcol.foreach { spec =>
          compact(spark, root, ColSpec.parse(spec),
            maxFilesPerPartition = eff, partitions = Some(over))
          // An exception-free compaction clears a recorded autoCompact
          // failure — one transient blip must not flag the table
          // forever. Inside the foreach: an unresolvable partition
          // spec means compaction did NOT run, which is not recovery.
          recordMaintenanceRecovery(root, "autoCompact", props)
        }
      else
        // Nothing over threshold — e.g. the operator compacted
        // manually after a transient failure. The component verifiably
        // has nothing left to fail on: that is recovery too, or the
        // flag would alarm on a healthy table forever.
        recordMaintenanceRecovery(root, "autoCompact", props)
    }
  } catch { case scala.util.control.NonFatal(e) =>
    // Swallowed by design (the data commit already won) — but
    // recorded, so a persistently failing compaction is visible in
    // DESCRIBE DETAIL instead of silently re-fragmenting forever.
    recordMaintenanceError(root, "autoCompact", committed, e)
  }

  /** Re-entrancy guard for [[postCommit]]: a hook-triggered rollup
    * sync commits to the ROLLUP table, whose own commit runs the hook
    * again — fine (different root, no properties) — but a
    * misconfigured registration (a rollup registered on itself) must
    * degrade to a no-op, not an infinite loop. */
  private val inPostCommit = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Post-commit maintenance hooks, run at every DATA-commit success
    * exit: opt-in auto-compaction ([[maybeAutoCompact]]) and opt-in
    * rollup auto-sync ([[maybeAutoSyncRollups]]). Derived maintenance
    * over an already-won commit — errors degrade to "not this round",
    * never fail the commit.
    *
    * `graft.maintenance.async = true` moves the whole pass off the
    * writer thread ([[enqueueAsyncMaintenance]]): the commit returns
    * at ~bare latency and the riders drain on the maintenance worker.
    * The tradeoffs are exactly the SCALE.md design note's — the
    * synchronous default is a freshness CONTRACT (read-your-own-
    * dashboard never scans), async is the explicit deployment choice
    * for writers that cannot absorb the rider latency. */
  private[sinks] def postCommit(spark: SparkSession, root: String,
                                committed: Long,
                                compactEligible: Boolean = true): Unit =
    if (!inPostCommit.get()(root)) {
      // ONE tip property read feeds the async decision and every
      // hook (they used to read the map once each — up to five
      // manifest-header scans per data commit even with no feature
      // configured). The keys each hook consults are never mutated
      // by a preceding hook in this pass; the only in-pass property
      // churn is the error ledger, whose recovery clears are
      // putIfAbsent-idempotent.
      val props = scala.util.Try(tablePropertiesMap(spark, root))
        .getOrElse(Map.empty[String, String])
      if (props.get(MaintenanceAsyncProp).contains("true"))
        enqueueAsyncMaintenance(spark, root, committed, compactEligible)
      else {
        inPostCommit.set(inPostCommit.get() + root)
        try runMaintenanceHooks(spark, root, committed, compactEligible, props)
        finally inPostCommit.set(inPostCommit.get() - root)
      }
    }

  /** The hook chain itself — one pass, synchronous in the calling
    * thread (the writer in the default mode, the maintenance worker
    * in async mode). Caller holds the [[inPostCommit]] guard. */
  private def runMaintenanceHooks(spark: SparkSession, root: String,
                                  committed: Long, compactEligible: Boolean,
                                  props: Map[String, String]): Unit = {
        // Layout commits (compact itself, z-order, cluster-by,
        // re-spec, purge) pass compactEligible = false: their
        // multi-file layouts are INTENTIONAL, and auto-compacting a
        // just-z-ordered partition would undo the work — but
        // registered rollups must still re-sync, or the MV rewrite's
        // cursor-equality check silently stops firing until the next
        // data commit.
        if (compactEligible) {
          // Clustering on write SUBSUMES auto-compaction: the delta
          // pass coalesces the commit's fragmented files as it sorts
          // them. Running both would plain-repartition the oversized
          // partitions (destroying their z-order) and then re-rewrite
          // the same files as 'delta' — twice the I/O for a worse
          // layout — so a registered cluster key disables the compact
          // hook WHEN ITS PASS SUCCEEDS. A failed cluster pass
          // (misspelled key, unpartitioned table) falls back to
          // auto-compact, so the table gets SOME layout maintenance
          // instead of silently fragmenting until an operator reads
          // the error ledger (round-13 ADVICE).
          val clustering = props.get(AutoClusterProp).exists(_.nonEmpty)
          // Auto-cluster shares compact's eligibility gate: layout
          // commits' file arrangements are intentional, and the
          // incremental pass's own commit must not re-trigger it.
          val clustered = maybeAutoCluster(spark, root, committed, props)
          if (!clustering || !clustered)
            maybeAutoCompact(spark, root, committed, props)
        }
        // Auto-analyze BEFORE auto-sync: its refresh publishes a
        // property commit (hook-inert via the re-entry guard), and the
        // rollup sync must run against the resulting TIP — the reverse
        // order would strand every registered cursor one version
        // behind, silently disabling the MV rewrite until the next
        // data commit (the same degradation the deleteWhere hook fix
        // closes). Same reason the layout hooks run first.
        maybeAutoAnalyze(spark, root, committed, props)
        maybeAutoSyncRollups(spark, root, committed, props)
        // Auto-bloom LAST: every earlier rider that rewrites files
        // (cluster/compact) or publishes a property commit (analyze)
        // moves the tip, and the bloom sidecar must land at the tip
        // readers will actually resolve — blooming `committed` would
        // index a version a layout pass already superseded.
        maybeAutoBloom(spark, root, committed, props)
  }

  /** Columns (flat, or struct-leaf dot paths — exactly
    * [[SnapshotStore.addBloomFilters]]' forms) to keep Bloom
    * sidecars current for, comma-joined; optional
    * [[AutoBloomBitsProp]] overrides the per-value sizing. */
  val AutoBloomProp = "graft.autoBloom.cols"
  val AutoBloomBitsProp = "graft.autoBloom.bitsPerValue"

  /** SELF-MAINTAINING Bloom sidecars (the last index family that
    * still needed a manual call after every commit): when
    * `graft.autoBloom.cols` names columns, every maintenance pass
    * re-runs the INCREMENTAL [[SnapshotStore.addBloomFilters]] build
    * at the current TIP — carried files' filters copy forward, so
    * the per-commit price is one NDV + one build pass over the new
    * batch, and point-lookup skipping never drifts stale between
    * manual calls. A layout rewrite's new files re-bloom on the same
    * pass (this rider runs after the layout hooks, against the tip
    * they produced). Failures (a misspelled column, a type the
    * filters refuse) degrade to "no bloom skipping this round" and
    * ride the error ledger; a clean pass clears the flag. Composes
    * with [[MaintenanceAsyncProp]] like every other rider. */
  private[sinks] def maybeAutoBloom(spark: SparkSession, root: String,
                                    committed: Long,
                                    props: Map[String, String]): Unit = try {
    props.get(AutoBloomProp).filter(_.nonEmpty).foreach { raw =>
      val cols = raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty,
        s"$AutoBloomProp is set but names no columns: '$raw'")
      val bits = props.get(AutoBloomBitsProp).map { b =>
        val n = b.trim.toInt
        require(n > 0, s"$AutoBloomBitsProp must be positive, got $n")
        n
      }.getOrElse(10)
      val tip = currentVersion(spark, root).getOrElse(committed)
      addBloomFilters(spark, root, cols, bitsPerValue = bits,
        version = Some(tip))
    }
    recordMaintenanceRecovery(root, "autoBloom", props)
  } catch { case scala.util.control.NonFatal(e) =>
    recordMaintenanceError(root, "autoBloom", committed, e)
  }

  /** `graft.maintenance.async = true`: post-commit riders run on the
    * maintenance worker instead of the writer thread. */
  val MaintenanceAsyncProp = "graft.maintenance.async"

  /** Coalescing queue for [[enqueueAsyncMaintenance]]: root → the
    * newest requested (committed, compactEligible). One queued pass
    * covers every commit that landed before it drained — the pass
    * reads the TIP properties at run time, so it maintains the state
    * all of them produced. compactEligible folds with OR: if ANY
    * coalesced commit was a content commit, the layout hooks run. */
  private val asyncQueued =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Boolean)]()

  /** Submitted-but-unfinished pass count — [[drainAsyncMaintenance]]
    * is quiescent only when this is zero AND the queue is empty. */
  private val asyncInFlight = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One daemon worker, shared by every async-opted table. Single-
    * threaded on purpose: maintenance passes are already coalesced
    * per root, and serializing across roots bounds the background
    * I/O to one pass at a time — the backpressure the synchronous
    * default provided implicitly. (On a real cluster this is a
    * driver-side thread issuing Spark jobs; the heavy lifting stays
    * distributed.) */
  private lazy val asyncWorker =
    java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-maintenance-async")
        t.setDaemon(true); t
      })

  /** Queue (coalescing) a maintenance pass for `root`. A commit
    * landing while a pass is QUEUED folds into it; one landing while
    * a pass is RUNNING re-queues (the running pass removed its entry
    * first), so no commit's maintenance is ever lost. Failure
    * discipline on the worker is identical to the synchronous hooks —
    * swallowed, ledger-recorded — plus the ledger flush below. */
  private def enqueueAsyncMaintenance(spark: SparkSession, root: String,
                                      committed: Long,
                                      compactEligible: Boolean): Unit = {
    asyncQueued.merge(root, (committed, compactEligible),
      (a, b) => (math.max(a._1, b._1), a._2 || b._2))
    // Submit a drain task only when none is pending for this root.
    // The task clears its [[asyncSubmitted]] mark BEFORE taking the
    // queued work, so a commit landing mid-pass re-submits and is
    // never lost; one landing while still queued merges above and
    // rides the pending task.
    if (asyncSubmitted.putIfAbsent(root, java.lang.Boolean.TRUE) == null) {
      asyncInFlight.incrementAndGet()
      asyncWorker.execute(() => try {
        asyncTestGate.foreach(_.await(60, java.util.concurrent.TimeUnit.SECONDS))
        asyncSubmitted.remove(root)
        val work = asyncQueued.remove(root)
        if (work != null) {
          val (c, eligible) = work
          val props = scala.util.Try(tablePropertiesMap(spark, root))
            .getOrElse(Map.empty[String, String])
          inPostCommit.set(inPostCommit.get() + root)
          try {
            runMaintenanceHooks(spark, root, c, eligible, props)
            // Async break #2 (SCALE.md design note): a rider failure
            // must not wait for "the next commit" — an idle table
            // never makes one, and the attribution vanishes. Flush
            // the pending ledger entry (error OR recovery-clear) as
            // its own property commit; [[writeManifest]]'s injection
            // applies and clears the pending entry when it wins.
            pendingMaintenanceFor(root).foreach { pending =>
              val flushed = scala.util.Try(setProperties(spark, root,
                Seq(MaintenanceErrorProp -> pending)))
              // A recovery-CLEAR flush lands after a SUCCESSFUL pass,
              // so it spends a version the just-synced rollup cursors
              // don't cover — advance them over the metadata-only
              // commit (the same property-commit sync the hook does
              // for SET TBLPROPERTIES) or the MV rewrite goes dark
              // until the next writer commit. An ERROR flush skips
              // this: the failed pass left the cursor stale anyway,
              // and re-running the failing sync here would just
              // re-record the error it flushed.
              flushed.foreach { v =>
                if (pending.isEmpty) {
                  val fresh = scala.util.Try(tablePropertiesMap(spark, root))
                    .getOrElse(Map.empty[String, String])
                  maybeAutoSyncRollups(spark, root, v, fresh)
                }
              }
            }
          } finally inPostCommit.set(inPostCommit.get() - root)
        }
      } catch { case scala.util.control.NonFatal(_) => ()
      } finally asyncInFlight.decrementAndGet())
    }
  }

  /** root → a pass is submitted (queued or running) — the dedupe
    * that keeps N quick commits from queueing N full passes. */
  private val asyncSubmitted =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Test seam: when set, the worker awaits the latch before taking
    * any work — specs use it to HOLD the lagging state (commit done,
    * riders not yet run) deterministically instead of racing the
    * worker. Never set outside tests; a 60 s ceiling keeps a leaked
    * latch from wedging the worker. */
  @volatile private[sinks] var asyncTestGate:
      Option[java.util.concurrent.CountDownLatch] = None

  /** Block until every queued/running async pass has drained — the
    * deterministic barrier specs and benches use. NOT part of the
    * read/write contract: readers never need it (a lagging rollup
    * degrades to the scan; the table itself is always consistent). */
  def drainAsyncMaintenance(timeoutMs: Long = 120000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while ((asyncInFlight.get() > 0 || !asyncQueued.isEmpty) &&
           System.nanoTime() < deadline)
      Thread.sleep(20)
    require(asyncInFlight.get() == 0 && asyncQueued.isEmpty,
      s"async maintenance did not drain within ${timeoutMs}ms " +
        s"(inFlight=${asyncInFlight.get()}, queued=${asyncQueued.size()})")
  }

  /** Z-keys for [[maybeAutoCluster]]: comma-joined LOGICAL columns. */
  val AutoClusterProp = "graft.autoCluster.keys"

  /** CLUSTERING ON WRITE (the Delta liquid-clustering habit, as a
    * post-commit rider): when `graft.autoCluster.keys = a,b` is set,
    * every data commit immediately [[clusterIncremental]]s — the
    * just-landed delta is z-ordered into its own tight generation
    * while everything already clustered carries by reference. The
    * table is therefore ALWAYS within one generation of fully
    * clustered, file-skipping quality never drifts between manual
    * OPTIMIZE windows, and the per-commit price is one range shuffle
    * of the BATCH (the half-delta promotion inside
    * [[clusterIncremental]] handles the day-one bulk load by doing
    * the one full pass it genuinely needs). For clustered tables this
    * largely subsumes auto-compact: the delta pass coalesces the
    * commit's fragmented files as it sorts them.
    *
    * Failure discipline: identical to every swallowed hook — the data
    * commit has won; a failed pass degrades to "unclustered delta
    * this round" (reads stay correct, skipping is merely duller),
    * recorded in the error ledger and cleared on the next clean pass.
    * Returns false exactly when the pass failed, so [[postCommit]]
    * can fall back to auto-compaction instead of leaving the table
    * with NO layout maintenance. */
  private[sinks] def maybeAutoCluster(spark: SparkSession, root: String,
                                      committed: Long,
                                      props: Map[String, String]): Boolean = try {
    props.get(AutoClusterProp).filter(_.nonEmpty).foreach { raw =>
      // ColSpec.parse: the same comma-list parse every column-list
      // property uses, INCLUDING its duplicate rejection — a "x,x"
      // misconfiguration must land in the error ledger on the first
      // commit, not stamp a baseline no manual OPTIMIZE will trust.
      val keys = ColSpec.parse(raw).cols
      require(keys.nonEmpty,
        s"$AutoClusterProp must name at least one column, got '$raw'")
      val cur = currentVersion(spark, root).getOrElse(committed)
      val partCols = header(spark, root, cur).partitionCols
      require(partCols.nonEmpty,
        s"auto-cluster needs partition-column metadata under $root")
      clusterIncremental(spark, root, ColSpec(partCols), keys)
    }
    recordMaintenanceRecovery(root, "autoCluster", props)
    true
  } catch { case scala.util.control.NonFatal(e) =>
    recordMaintenanceError(root, "autoCluster", committed, e)
    false
  }

  /** Threshold for [[maybeAutoAnalyze]]: a positive integer percent.
    * Row-count drift (growth OR shrink) beyond it re-runs the last
    * recorded ANALYZE automatically. */
  val AutoAnalyzeProp = "graft.autoAnalyze.driftPct"

  /** SELF-HEALING optimizer statistics: when the table opts in
    * (`graft.autoAnalyze.driftPct = N`) AND has been ANALYZEd at least
    * once, a data commit whose live row count drifted ≥ N% from the
    * count recorded at the last ANALYZE re-runs that ANALYZE (same
    * column selection) as a post-commit rider. Never analyzes a table
    * that was never analyzed — this refreshes declared intent, it
    * does not invent one.
    *
    * Cost discipline: the trigger check is metadata-priced (one
    * property map + the stats sidecar row count); the re-ANALYZE
    * itself is one full scan, but fired GEOMETRICALLY — at
    * driftPct=100 the total auto-analyze work over a table's lifetime
    * is ≤ 2× one final-size scan (the geometric series), the classic
    * auto-stats amortization. The [[postCommit]] re-entry guard makes
    * the rider's own property commit a no-op for hooks, so it cannot
    * loop. Failures degrade to "stale stats" (plans, never answers)
    * and ride the error ledger like every swallowed hook. */
  private[sinks] def maybeAutoAnalyze(spark: SparkSession, root: String,
                                      committed: Long,
                                      props: Map[String, String]): Unit = try {
    props.get(AutoAnalyzeProp).filter(_.nonEmpty).foreach { raw =>
      val pct = try {
        val p = raw.trim.toLong
        // Upper bound keeps `base * pct` inside Long for any
        // manifest-recordable row count (2^63 / 10^5 ≈ 9.2e13 rows) —
        // an unchecked user value could overflow the drift comparison
        // into arbitrary results instead of failing loudly.
        require(p > 0 && p <= 100000,
          s"$AutoAnalyzeProp must be a percent in (0, 100000], got $p")
        p
      } catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$AutoAnalyzeProp must be a positive integer percent, got '$raw'")
      }
      for {
        base <- props.get(SnapshotStats.AnalyzedRowsProp)
          .flatMap(s => scala.util.Try(s.toLong).toOption)
        live <- rowCount(spark, root)
      } {
        val drift = math.abs(live - base)
        if (drift * 100L >= base * pct && drift > 0) {
          // The recorded selection names PHYSICAL columns; map them
          // back through the CURRENT column mapping so a rename since
          // the ANALYZE keeps healing (E121's rename contract), and
          // shed columns that were since dropped or type-shed —
          // their stats are gone, there is nothing left to heal. An
          // emptied explicit selection skips the refresh entirely.
          val replay: Option[Option[Seq[String]]] =
            SnapshotStats.recordedColSelection(props) match {
              case None => Some(None) // all-supported: schema-adaptive
              case Some(phys) =>
                val tip = currentVersion(spark, root).getOrElse(committed)
                val (renames, dropped) = headerOrEmpty(spark, root, tip).mapping
                val byPhysical = renames.map(_.swap)
                val fields = logicalSchemaAt(spark, root, tip)
                  .map(_.fields.map(f => f.name -> f.dataType).toMap)
                  .getOrElse(Map.empty)
                val mapped = phys.filterNot(dropped)
                  .map(p => byPhysical.getOrElse(p, p))
                  .filter(n => fields.get(n).exists(SnapshotStats.supportsType))
                if (mapped.isEmpty) None else Some(Some(mapped))
            }
          // The HISTOGRAM intent replays from the record too — the
          // rider session's conf is irrelevant; without this, one
          // drift refresh would silently strip every histogram the
          // explicit ANALYZE recorded.
          replay.foreach(sel => SnapshotStats.analyze(spark, root, sel,
            histBinsOverride = SnapshotStats.recordedHistBins(props)))
        }
      }
    }
    // A pass that evaluated cleanly — refreshed, below-threshold, or
    // opt-out (a removed property verifiably cannot fail again) —
    // clears a recorded autoAnalyze failure (autoSync's recovery
    // discipline: one transient blip must not alarm forever).
    recordMaintenanceRecovery(root, "autoAnalyze", props)
  } catch { case scala.util.control.NonFatal(e) =>
    recordMaintenanceError(root, "autoAnalyze", committed, e)
  }

  /** SELF-MAINTAINING rollups: when the just-committed table's
    * `graft.rollup.autoSync` property names rollup roots, sync each
    * from its own recorded self-description
    * ([[graft.operators.Rollup.syncFromProps]]) — so a registered
    * dashboard rollup is ALWAYS cursor-fresh and the transparent MV
    * rewrite ([[RollupRewriteRule]]) fires on every read between
    * commits, with zero orchestration outside the store. Enable via
    * [[graft.operators.Rollup.enableAutoSync]]. Derive-hook rollups
    * cannot auto-sync (a closure is not recordable) and are skipped. */
  private[sinks] def maybeAutoSyncRollups(spark: SparkSession,
                                          root: String,
                                          committed: Long,
                                          props: Map[String, String]): Unit = try {
    val registered = props.get("graft.rollup.autoSync")
      .toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(r => r.nonEmpty && r != root)
    var failures = 0
    registered.foreach { rollupRoot =>
      try graft.operators.Rollup.syncFromProps(spark, rollupRoot)
      catch { case scala.util.control.NonFatal(e) =>
        failures += 1
        // Swallowed by design: a stale cursor keeps the MV rewrite
        // OFF (answers stay right, reads pay the scan) — but that
        // degradation must be operator-visible, so the failure rides
        // the source's next commit as a property.
        recordMaintenanceError(root, "autoSync",  committed,
          new RuntimeException(s"rollup $rollupRoot: ${e.getMessage}", e))
      }
    }
    // A fully-clean pass clears a recorded autoSync failure: the MVs
    // are cursor-fresh again (or the broken registration was removed
    // — an EMPTY registration verifiably has nothing left to fail
    // on), so the "silently degraded to scans" flag must not alarm
    // forever.
    if (failures == 0)
      recordMaintenanceRecovery(root, "autoSync", props)
  } catch { case scala.util.control.NonFatal(e) =>
    recordMaintenanceError(root, "autoSync", committed, e)
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's headline day-two operation,
    * expressed in this store's per-version metadata): re-lay a live
    * table out under `newSpec` as ONE layout rewrite commit. The new
    * manifest records the new `#partcol`, so every downstream
    * consumer — DML partition routing, OPTIMIZE scopes, SHOW
    * PARTITIONS, the metadata-delete fast path, CDC partition
    * bounding — honors the new spec from the next version on, while
    * TIME TRAVEL reads older versions under the spec THEY recorded
    * (the header is per-version already) and RESTORE snaps the spec
    * back with the rest of the target's metadata.
    *
    * Semantics-preserving: rows are read through the current
    * snapshot's deletion vectors (a rewrite materializes deletes,
    * like OPTIMIZE) and re-written RAW under their physical names —
    * the column mapping, properties, and constraints carry forward
    * untouched. `newSpec` names LOGICAL columns.
    *
    * Cost: one shuffle of the table keyed by the new spec (each new
    * cell lands contiguously, one file per cell per shuffle
    * partition), the inherent price of re-speccing — Iceberg avoids
    * it by splitting the table into per-spec file groups, at the cost
    * of every reader handling mixed layouts; this store keeps
    * manifests single-spec and pays the rewrite once, explicitly. A
    * no-op spec change returns the current version. */
  def repartitionTable(spark: SparkSession, root: String, newSpec: ColSpec): Long = {
    require(newSpec.nonEmpty, "repartitionTable needs a partition spec")
    occ(spark, root, "repartition") { cur =>
      if (requirePartitionCols(spark, root, cur) == newSpec.cols) NoOp(cur)
      else {
        val entries = manifest(spark, root, cur)
        val mapping = headerOrEmpty(spark, root, cur).mapping
        val physParts = newSpec.cols.map(physicalNameOf(mapping._1, _))
        // An EMPTY table re-specs as pure metadata: same (zero) entries,
        // new header.
        val fresh =
          if (entries.isEmpty) Nil
          else writeDataFiles(spark,
            readEntriesAt(spark, root, entries, cur).repartition(physParts.map(col): _*),
            root, cur + 1, physParts, translate = false)
        new Staged(Nil, fresh, "repartition", newSpec.header, compactEligible = false)
      }
    }
  }

  /** HASH-BUCKET the table (Delta liquid-clustering / Hive-bucketing
    * territory, expressed as one layout rewrite + a carried property):
    * rewrite every live partition into Spark's bucket layout on
    * `bucketCols` × `numBuckets` and record [[BucketSpecProp]], so
    * from this version on (a) every join or aggregation keyed on the
    * bucket columns plans WITHOUT shuffling this table — co-bucketed
    * big×big joins shuffle NEITHER side, the single biggest shuffle
    * eliminator a 100 TB star join has; (b) equality predicates on
    * the bucket columns prune to 1-of-n buckets at planning time; and
    * (c) every subsequent data commit MAINTAINS the layout
    * ([[writeDataFiles]] shuffles new files by the same hash), so the
    * property survives upserts, merges, compaction, and streaming
    * micro-batches without re-clustering.
    *
    * `bucketCols` are LOGICAL names, recorded with their SQL types:
    * hash placement is type-sensitive (hash(int 5) ≠ hash(long 5)),
    * so a later type widening of a bucket column silently degrades
    * reads and writes to unbucketed (conservative, never wrong) until
    * `bucketTable` runs again. Rows are read through the current
    * deletion vectors (the rewrite materializes deletes, like
    * OPTIMIZE). Returns the new version.
    *
    * `sortCols` additionally keeps every bucket file SORTED (Hive's
    * `SORTED BY`): written files always carry the order, which
    * narrows per-file stats ranges and improves encoding; whether the
    * PLANNER also elides the merge-join sort is Spark's call — since
    * 3.0 it trusts per-bucket ordering only under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (the trade:
    * a one-file bucket then reads single-threaded), and only while
    * every bucket has at most one file (compaction restores that
    * after appends). */
  def bucketTable(spark: SparkSession, root: String, bucketCols: Seq[String],
                  numBuckets: Int, sortCols: Seq[String] = Nil): Long = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    require(bucketCols.nonEmpty, "bucketTable needs at least one column")
    occ(spark, root, "cluster-by") { cur =>
      val logical = readVersion(spark, root, cur).schema
      val fields = logical.fields.map(f => f.name -> f.dataType).toMap
      val missing = (bucketCols ++ sortCols).filterNot(fields.contains)
      require(missing.isEmpty,
        s"bucket/sort column(s) ${missing.mkString(", ")} not in $root's " +
          s"schema (have: ${logical.fieldNames.mkString(", ")})")
      val spec = formatBucketSpec(numBuckets,
        bucketCols.map(c => c -> fields(c).sql),
        sortCols.map(c => c -> fields(c).sql))
      val entries = manifest(spark, root, cur)
      val mapping = headerOrEmpty(spark, root, cur).mapping
      val partCols = requirePartitionCols(spark, root, cur)
      val physParts = partCols.map(physicalNameOf(mapping._1, _))
      val physBuckets = bucketCols.map(physicalNameOf(mapping._1, _))
      val physSort = sortCols.map(c => col(physicalNameOf(mapping._1, c)))
      val props = header(spark, root, cur).properties
        .filterNot(_._1 == BucketSpecProp) :+ (BucketSpecProp -> spec)
      val fresh =
        if (entries.isEmpty) Nil
        else writeDataFiles(spark,
          readEntriesAt(spark, root, entries, cur),
          root, cur + 1, physParts, translate = false,
          bucketOverride = Some((numBuckets, physBuckets)),
          sortWithin = physSort)
      new Staged(Nil, fresh, "cluster-by", ColSpec(partCols).header,
        edit = _.copy(properties = props), compactEligible = false)
    }
  }

  /** Layout-rewrite output file count: ⌈selected bytes /
    * graft.targetFileSize⌉ when the table sizes by bytes (the bytes
    * are sidecar-exact — the selected files are on disk); the
    * caller's files-per-partition count otherwise. Loud on a
    * malformed property, like every targetFileSize consumer. */
  private def sizedFileCount(spark: SparkSession, root: String, cur: Long,
                             replaced: Seq[ManifestEntry],
                             fallback: Int,
                             props: Map[String, String]): Int =
    SnapshotStore.targetFileSize(props).flatMap { t =>
      val sizes = statsFor(spark, root, cur)
      val bytes = replaced.flatMap(e => sizes.get(e.path)).map(_.len).sum
      if (bytes > 0)
        Some(math.max(1L, (bytes + t - 1) / t).min(Int.MaxValue.toLong).toInt)
      else None
    }.getOrElse(fallback)

  /** Z-order `replaced` at tip `cur` into version `cur + 1` — the
    * rewrite [[compactZOrder]] and [[clusterIncremental]] share. On a
    * bucketed table the hash layout owns the shuffle, so it z-sorts
    * WITHIN each bucket instead (writeDataFiles applies sortWithin
    * after its bucket repartition), keeping both bucket co-location and
    * narrow per-file stats ranges; unbucketed, the classic
    * range-partition + sort layout. ENGAGED, not merely recorded: a
    * drifted spec (e.g. a type-widened bucket column) makes
    * writeDataFiles skip the bucket shuffle, so deferring to it would
    * rewrite partitions with no repartition and no ordering at all — a
    * silent layout no-op. Drifted specs take the classic path. Physical
    * names throughout: layout rewrites never translate (see compact);
    * the caller's LOGICAL z-keys and partition columns resolve through
    * the mapping. With `stamp`, the commit records itself as the
    * clustering baseline on `zKeys` ([[ClusteredAtProp]],
    * [[ClusterKeysProp]]); otherwise properties carry forward. */
  private def zorderRewrite(spark: SparkSession, root: String, cur: Long,
                            kept: Seq[ManifestEntry], replaced: Seq[ManifestEntry],
                            partitionCols: ColSpec, zKeys: Seq[String],
                            filesPerPartition: Int, bits: Int,
                            props: Map[String, String], operation: String,
                            stamp: Boolean): Staged = {
    val nParts = replaced.map(_.partition).distinct.size
    val renames = headerOrEmpty(spark, root, cur).mapping._1
    val raw = readEntriesAt(spark, root, replaced, cur)
    val zCols = zKeys.map(k => col(physicalNameOf(renames, k)))
    val bucketed = bucketSpecEngaged(spark, root, cur).isDefined
    val laid =
      if (bucketed) raw
      else graft.operators.Layout.zorderBy(raw, zCols,
        numFiles = sizedFileCount(spark, root, cur, replaced,
          filesPerPartition * nParts, props), bits = bits)
    val v = cur + 1
    val newEntries = writeDataFiles(spark, laid, root, v,
      partitionCols.cols.map(physicalNameOf(renames, _)), translate = false,
      sortWithin =
        if (bucketed) Seq(graft.operators.Layout.zorderKey(raw, zCols, bits))
        else Nil)
    val stamped = (props - ClusteredAtProp - ClusterKeysProp).toSeq ++
      Seq(ClusteredAtProp -> v.toString, ClusterKeysProp -> zKeys.mkString(","))
    new Staged(kept, newEntries, operation, partitionCols.header,
      edit = if (stamp) _.copy(properties = stamped) else identity,
      compactEligible = false)
  }

  /** Layout maintenance: rewrite partitions (default: all) Z-ORDERED
    * on `zKeys`, published as a new snapshot version. Incremental
    * merges append files in arrival order, so a long-lived table's
    * per-file ranges widen until [[FileStats]] skipping stops biting;
    * this restores it — each rewritten file covers a narrow
    * hyper-rectangle of the key space ([[graft.operators.Layout]]),
    * and the commit's stats sidecar captures the new ranges, so
    * multi-dimensional predicates through [[table]] go back to
    * opening a handful of files. Cost: one range shuffle of the
    * selected partitions (same as a global sort) + a min/max rank
    * pass; untouched partitions are carried by reference, and the
    * usual optimistic commit ([[occ]]) makes it crash-safe/non-blocking. */
  def compactZOrder(spark: SparkSession, root: String, partitionCols: ColSpec,
                    zKeys: Seq[String], filesPerPartition: Int = 4,
                    bits: Int = 8, partitions: Option[Seq[String]] = None): Long = {
    require(partitionCols.nonEmpty, "compactZOrder needs a partition spec")
    occ(spark, root, "z-order compaction") { cur =>
      val props = headerOrEmpty(spark, root, cur).props
      val entries = manifest(spark, root, cur)
      val sel = partitions.map(_.toSet).getOrElse(entries.map(_.partition).toSet)
      val (replaced, kept) = entries.partition(e => sel(e.partition))
      // A FULL-scope z-order IS a clustering baseline: stamp it (keys
      // included) so a following [[clusterIncremental]] diffs against
      // this state instead of re-clustering everything the rewrite just
      // laid out. A partition-scoped pass is NOT a full baseline —
      // properties carry forward untouched.
      if (replaced.isEmpty) NoOp(cur)
      else zorderRewrite(spark, root, cur, kept, replaced, partitionCols, zKeys,
        filesPerPartition, bits, props, "zorder", stamp = partitions.isEmpty)
    }
  }

  /** Version whose manifest reflects the last [[clusterIncremental]]
    * pass — the baseline the next pass diffs against. Only meaningful
    * together with [[ClusterKeysProp]]: "clustered" is relative to a
    * key set, so a pass over DIFFERENT z-keys must not trust it. */
  val ClusteredAtProp = "graft.layout.clusteredAt"

  /** The z-key set the recorded baseline was clustered on. */
  val ClusterKeysProp = "graft.layout.clusterKeys"

  /** INCREMENTAL clustering (the Delta liquid-clustering cost model):
    * z-order ONLY the files added since the last clustering pass,
    * carrying already-clustered files by reference — maintenance cost
    * ∝ the ingest delta, never the table. [[compactZOrder]] restores
    * skipping quality but re-shuffles every selected partition; at
    * 100 TB that is a full-table sort per maintenance window, which
    * means it never runs. This variant makes clustering a habit: each
    * pass costs one range shuffle of the NEW files only.
    *
    * The trade, stated: per partition the table accrues clustered
    * GENERATIONS — each internally tight on the z-keys, overlapping
    * across generations — so a point predicate opens ~one file per
    * generation instead of exactly one. Two bounds keep that tail
    * short: (a) when the unclustered delta is at least half the live
    * file set, the pass clusters EVERYTHING (same cost class, resets
    * the generation count); (b) a periodic [[compactZOrder]] is the
    * explicit full reset. A vacuumed or future-dated baseline (the
    * recorded manifest no longer readable, or a RESTORE moved the tip
    * behind it) degrades to a FULL pass — never to wrong or skipped
    * maintenance. Deletion vectors on rewritten files are materialized
    * (the read is DV-aware), same as every layout rewrite.
    *
    * Returns the new version, or the current one when nothing new
    * arrived since the baseline (a pure metadata check — no scan). */
  def clusterIncremental(spark: SparkSession, root: String,
                         partitionCols: ColSpec, zKeys: Seq[String],
                         filesPerPartition: Int = 4, bits: Int = 8): Long = {
    require(partitionCols.nonEmpty, "clusterIncremental needs a partition spec")
    occ(spark, root, "incremental-clustering") { cur =>
      val props = header(spark, root, cur).props
      // A baseline clustered on OTHER keys is not a baseline for these.
      val baseline = props.get(ClusteredAtProp).flatMap(s =>
        try Some(s.toLong) catch { case _: NumberFormatException => None })
        .filter(_ <= cur)
        .filter(_ => props.get(ClusterKeysProp).contains(zKeys.mkString(",")))
      val entries = manifest(spark, root, cur)
      val unclustered = baseline match {
        case None => entries
        case Some(b) =>
          val clustered =
            try manifest(spark, root, b).map(_.path).toSet
            catch { case _: java.io.IOException => Set.empty[String] }
          if (clustered.isEmpty) entries // vacuumed baseline → full pass
          else entries.filterNot(e => clustered(e.path))
      }
      if (unclustered.isEmpty) NoOp(cur)
      else {
        // Delta at least half the table: a full pass costs the same
        // class and resets the generation count.
        val (replaced, kept) =
          if (unclustered.size * 2 >= entries.size) (entries, Seq.empty[ManifestEntry])
          else {
            val delta = unclustered.map(_.path).toSet
            (unclustered, entries.filterNot(e => delta(e.path)))
          }
        zorderRewrite(spark, root, cur, kept, replaced, partitionCols, zKeys,
          filesPerPartition, bits, props, "zorder-incremental", stamp = true)
      }
    }
  }

  /** Delta `RESTORE TABLE … TO VERSION AS OF` analog: roll the table
    * back to `toVersion`'s content by publishing a NEW version whose
    * manifest carries the target's files BY REFERENCE — a pure
    * metadata commit (zero data read or written, cost ∝ manifest
    * size), not a copy. History stays intact: every version between
    * the target and the restore remains time-travelable, and the
    * restore itself is one more auditable entry ([[history]] tags it
    * `restore`) — unlike overwriting sinks, where a rollback destroys
    * the states it rolls back over. The recorded schema snaps back to
    * the target's exactly, so a restore across a widening merge does
    * not resurface the later columns as all-null.
    *
    * Restoring to content the tip already has (the target itself, or
    * a prior restore of it) is a version no-op — the current version
    * is returned unchanged. Files only referenced by rolled-over
    * versions stay on disk until [[vacuum]]; vacuuming history then
    * limits how far back a future restore can reach, exactly like
    * Delta. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    // Note: restoring a DELETION-VECTORED version re-publishes its DV
    // attachments; vacuum keeps any DV dir referenced by a KEPT
    // manifest, so a restore within the retention window is always
    // readable — restoring past vacuumed history fails on the missing
    // manifest itself, same as Delta.
    val target = manifest(spark, root, toVersion)
    // Partition-column metadata, hoisted (the header is immutable —
    // re-reading it per CAS retry would be wasted manifest GETs).
    // Restoring to a version that predates the header must not strip
    // it from the table tip: fall back to the current version's.
    val partCol = header(spark, root, toVersion).partcol
      .orElse(currentVersion(spark, root).flatMap(header(spark, root, _).partcol))
      .getOrElse("")
    occ(spark, root, "restore") { cur =>
      val tgt = headerOrEmpty(spark, root, toVersion)
      // No-op only when FILES **and** METADATA already match: a
      // metadata-only commit (rename/drop column) carries the same
      // file set as its parent, so the file comparison alone would
      // wrongly skip restoring across it.
      if (manifest(spark, root, cur).toSet == target.toSet && {
          val tip = header(spark, root, cur)
          tip.mapping == tgt.mapping && tip.properties.toSet == tgt.properties.toSet
        })
        NoOp(cur)
      // The column mapping snaps back to the TARGET's, exactly like the
      // recorded schema (basis): restoring across a rename must show
      // the names the table had then, or the restored files' logical
      // view would not match the restored content. Table PROPERTIES
      // snap back the same way (Delta's RESTORE restores the target
      // metadata including configuration) — the default carry would
      // otherwise keep the abandoned tip's property set across a
      // restore over a SET TBLPROPERTIES. Restore CHANGES CONTENT (the
      // snap-back) — auto-synced rollups must follow it; layout-wise
      // nothing new to compact.
      else new Staged(target, Nil, "restore", partCol,
        edit = _.copy(properties = tgt.properties, renames = tgt.renames,
          dropped = tgt.dropped),
        basis = Some(toVersion), compactEligible = false)
    }
  }

  /** Delta SHALLOW CLONE analog: publish version 1 of a NEW table at
    * `dstRoot` whose manifest references `srcRoot`'s files at
    * `version` (default: current) by ABSOLUTE path — zero data
    * copied, cost ∝ manifest size. Every entry resolution in this
    * store goes through `new Path(root, entry.path)`, and Hadoop
    * resolution lets an absolute child override the parent, so mixed
    * manifests (absolute cloned files + relative locally-committed
    * files) read transparently: the clone evolves independently —
    * its merges/deletes rewrite into its OWN data directory while
    * untouched source files stay carried by reference.
    *
    * Caveats (same as Delta's): vacuuming the SOURCE table can delete
    * files a clone still references (the source does not know about
    * clone back-references); vacuuming the CLONE never touches source
    * files (its sweep only examines its own data directory). The
    * clone's stats sidecar re-reads the cloned files' footers once at
    * clone time — metadata-priced. */
  def cloneTo(spark: SparkSession, srcRoot: String, dstRoot: String,
              version: Option[Long] = None): Long = {
    require(currentVersion(spark, dstRoot).isEmpty,
      s"clone destination $dstRoot already holds a snapshot")
    val v = version.getOrElse(currentVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $srcRoot")))
    val f = fs(spark, srcRoot)
    val abs = manifest(spark, srcRoot, v).map(e =>
      e.copy(path = f.makeQualified(new Path(srcRoot, e.path)).toString,
        dv = if (e.dv.isEmpty) ""
             else f.makeQualified(new Path(srcRoot, e.dv)).toString))
    // Cloning a version that predates partition-column metadata still
    // inherits the source TIP's header when one exists.
    val src = header(spark, srcRoot, v)
    if (!writeManifest(spark, dstRoot, 1L, abs, "clone",
        src.partcol
          .orElse(currentVersion(spark, srcRoot).flatMap(header(spark, srcRoot, _).partcol))
          .getOrElse(""),
        _.copy(constraints = src.constraints, properties = src.properties,
          renames = src.renames, dropped = src.dropped)))
      throw new java.util.ConcurrentModificationException(
        s"lost the clone race publishing v1 under $dstRoot")
    writeStats(spark, dstRoot, 1L, abs, Nil, schemaFor(spark, srcRoot, v))
    1L
  }

  /** Delta `DESCRIBE HISTORY` analog: one row per committed version —
    * (version, operation, n_files, n_partitions, files_added,
    * files_removed, total_rows), ascending. Operation is the
    * committer's tag (null for pre-tagging manifests); files_added /
    * files_removed diff each manifest against its predecessor (files
    * are immutable, so path-set diff IS the change set); total_rows
    * sums the stats sidecar and is null when any listed file lacks
    * stats (derived metadata never blocks the audit view). Driver-side
    * over manifests only — metadata-priced at any table size. */
  /** [[history]]'s row shape — shared with the `DESCRIBE HISTORY`
    * SQL command so the two surfaces cannot drift. */
  val historySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      // Commit wall-clock from the #ts header (null for manifests
      // written before timestamps existed) — the column Delta users
      // read first in DESCRIBE HISTORY, and the one TIMESTAMP AS OF
      // resolves against.
      StructField("timestamp", TimestampType, nullable = true),
      StructField("operation", StringType, nullable = true),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_partitions", IntegerType, nullable = false),
      StructField("files_added", IntegerType, nullable = false),
      StructField("files_removed", IntegerType, nullable = false),
      StructField("total_rows", LongType, nullable = true),
      // Operation metrics (Delta's numOutputRows/numRemovedRows
      // analog): physical rows of the files each version added /
      // removed vs its predecessor, from the stats sidecars — null
      // when any involved file lacks stats (derived metadata never
      // blocks the audit view). A metadata-only commit shows 0/0; a
      // DV delete shows 0/0 too (its rows change via dvRows, visible
      // in total_rows).
      StructField("rows_added", LongType, nullable = true),
      StructField("rows_removed", LongType, nullable = true)))
  }

  def history(spark: SparkSession, root: String): DataFrame = {
    val vs = versions(spark, root)
    var prevPaths = Set.empty[String]
    var prevStats = Map.empty[String, FileStats.FileStatsEntry]
    val rows = vs.map { v =>
      val m = manifest(spark, root, v)
      val paths = m.map(_.path).toSet
      val st = statsFor(spark, root, v)
      val totalRows: java.lang.Long =
        if (m.forall(e => st.contains(e.path)))
          // Live rows: physical rows minus deletion-vectored positions
          // (cardinality recorded per entry at delete time, so this
          // stays a metadata walk — no DV parquet is opened).
          java.lang.Long.valueOf(m.map(e => st(e.path).rows - e.dvRows).sum)
        else null
      val added = paths -- prevPaths
      val removed = prevPaths -- paths
      def rowSum(ps: Set[String], from: Map[String, FileStats.FileStatsEntry]):
          java.lang.Long =
        if (ps.forall(from.contains))
          java.lang.Long.valueOf(ps.toSeq.map(from(_).rows).sum)
        else null
      val h = header(spark, root, v)
      val row = org.apache.spark.sql.Row(
        v, h.ts.map(new java.sql.Timestamp(_)).orNull, h.op.orNull, m.size,
        m.map(_.partition).distinct.size,
        added.size, removed.size, totalRows,
        rowSum(added, st), rowSum(removed, prevStats))
      prevPaths = paths
      prevStats = st
      row
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), historySchema)
  }

  /** External-engine interop: export a snapshot version as a
    * symlink-format manifest — the Hive/Presto/Trino/Athena
    * `SymlinkTextInputFormat` convention (one text file per partition
    * under `_symlink_format_manifest/`, each line the absolute URI of
    * a data file; the same layout Delta Lake's `GENERATE
    * symlink_format_manifest` emits). Any engine that can mount an
    * external partitioned parquet table can then read the snapshot
    * without this codebase:
    * {{{
    *   CREATE EXTERNAL TABLE t (…) PARTITIONED BY (__part string)
    *   ROW FORMAT SERDE '…ParquetHiveSerDe'
    *   STORED AS INPUTFORMAT '…SymlinkTextInputFormat'
    *   OUTPUTFORMAT '…HiveIgnoreKeyTextOutputFormat'
    *   LOCATION '<root>/_symlink_format_manifest'
    * }}}
    *
    * The export reflects ONE committed version (default: current) —
    * re-run it after commits that should be visible externally; stale
    * export = stale-but-consistent external reads, never torn ones
    * (data files are immutable). Longer-lived interop should migrate
    * the manifest state machine to an open table format (Delta/
    * Iceberg) whose commit protocol this store deliberately mirrors
    * (append-only data files + atomic metadata publish). */
  def writeSymlinkManifest(spark: SparkSession, root: String,
                           version: Option[Long] = None): Path = {
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    // A symlink manifest is a bare file list — external engines would
    // read deletion-vectored files RAW, resurrecting deleted rows.
    // Same restriction as Delta's generate; purge first.
    require(manifest(spark, root, v).forall(_.dv.isEmpty),
      s"version $v under $root carries deletion vectors, which the " +
        "symlink manifest format cannot express — run " +
        "purgeDeletionVectors (REORG … APPLY (PURGE)) first")
    // Same restriction for column mapping: external engines read the
    // files' PHYSICAL names with no way to apply renames/drops (Delta
    // blocks generate under column mapping for the same reason).
    require({ val (r, d) = headerOrEmpty(spark, root, v).mapping; r.isEmpty && d.isEmpty },
      s"version $v under $root uses column mapping (renamed or dropped " +
        "columns), which a bare symlink manifest cannot express — " +
        "external engines would see the physical column names")
    val f = fs(spark, root)
    val outRoot = new Path(root, "_symlink_format_manifest")
    // Sweep leftovers of previously crashed swaps (a stranded old tree
    // set aside mid-swap, or a half-built tmp tree) so they don't
    // accumulate forever — this export is about to supersede them.
    f.listStatus(new Path(root)).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("._symlink_old-") || n.startsWith("._symlink_tmp-"))
        f.delete(s.getPath, true)
    }
    val tmpRoot = new Path(root,
      s"._symlink_tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    manifest(spark, root, v).groupBy(_.partition).foreach { case (part, es) =>
      // Reuse the data files' own Hive-escaped partition directory
      // components (all levels, for a multi-column spec), so external
      // engines see the familiar layout.
      val comps = es.head.path.split("/")
        .dropWhile(c => !c.startsWith(s"$PartDir=")).dropRight(1)
      val dir = new Path(tmpRoot,
        if (comps.nonEmpty) comps.mkString("/")
        else s"$PartDir=" + URLEncoder.encode(part, UTF_8))
      f.mkdirs(dir)
      val out = f.create(new Path(dir, "manifest"), true)
      try out.write(es.map(e => f.makeQualified(new Path(root, e.path)).toString)
        .sorted.mkString("\n").getBytes(UTF_8))
      finally out.close()
    }
    // Swap via rename-aside, not delete-then-rename: the old export
    // stays readable until the swap starts, and the data is never
    // destroyed mid-export. A crash BETWEEN the two renames does
    // leave the location briefly absent (the old tree parked under
    // ._symlink_old-*, swept by the next export) — strictly narrower
    // than delete-then-rebuild, whose window spans the whole rebuild
    // and loses the old tree outright.
    val old = new Path(root,
      s"._symlink_old-${java.util.UUID.randomUUID().toString.take(8)}")
    val hadOld = f.exists(outRoot)
    if (hadOld) f.rename(outRoot, old)
    f.rename(tmpRoot, outRoot)
    if (hadOld) f.delete(old, true)
    outRoot
  }

  /** Drop all but the newest `keep` manifests and delete data files no
    * kept manifest references. Files shared with kept versions survive
    * (reuse-by-reference makes per-version directory deletes WRONG —
    * the referenced set is computed across all kept manifests).
    *
    * `retainMillis` is the safety window against concurrent writers
    * (same role as Delta's VACUUM retention): a commit in flight has
    * written data files that no PUBLISHED manifest references yet, so
    * an unguarded vacuum would delete them and corrupt the commit when
    * its manifest then wins. Unreferenced files newer than the window
    * are left alone; only set it to 0 when no writer can be active. */
  /** What a [[vacuum]] with these settings would remove: (data file
    * paths, deletion-vector directory paths — both root-relative — and
    * manifest versions to drop). Shared by vacuum itself and the
    * `VACUUM … DRY RUN` SQL surface, so the preview and the deletion
    * can never disagree. */
  private[sinks] def vacuumPlan(spark: SparkSession, root: String, keep: Int,
                         retainMillis: Long): (Seq[String], Seq[String], Seq[Long]) = {
    // Retention floor for streaming readers (Delta's
    // retentionDurationCheck, opt-in per table): a checkpointed stream
    // (change feed / snapshot source) reads versions AFTER their
    // commit, so `RETAIN 0 HOURS` can delete history it has not
    // consumed yet — the lagging-gap error then fires on the NEXT
    // trigger, when the data is already gone. With
    // `graft.vacuum.minRetainHours` set, (a) a VACUUM retaining less
    // than the floor refuses loudly, and (b) manifests younger than
    // the floor survive the keep-count drop, so a reader lagging
    // within the floor window never loses unread versions. Override
    // with the `graft.vacuum.force` table property or the
    // `spark.graft.vacuum.force` session conf (exactly today's
    // unguarded behavior — for decommissioned tables with no readers).
    // Loud on a garbled floor (the deriveSpecFromProps rule): a unit
    // typo ("168h") silently parsing to no-floor would disable exactly
    // the data-loss guard the operator opted into. The properties read
    // itself is NOT swallowed either — if the manifest is unreadable,
    // deleting files based on an unknown retention posture is wrong.
    val props = tablePropertiesMap(spark, root)
    val floorMillis = props.get("graft.vacuum.minRetainHours")
      .map { s =>
        val h = scala.util.Try(s.trim.toDouble).toOption
          // 0 = explicitly disabled; NaN/Infinity/negative are as
          // garbled as non-numeric and would silently disable the
          // guard ((NaN * 3600000).toLong == 0).
          .filter(h => !h.isNaN && !h.isInfinite && h >= 0)
          .getOrElse(throw new IllegalStateException(
            s"graft.vacuum.minRetainHours = '$s' is not a non-negative " +
              "finite number of hours — fix the property; a malformed " +
              "floor must not silently vacuum unguarded"))
        (h * 3600 * 1000).toLong
      }.getOrElse(0L)
    val force = props.get("graft.vacuum.force").contains("true") ||
      spark.conf.getOption("spark.graft.vacuum.force").contains("true")
    val guarded = floorMillis > 0 && !force
    if (guarded && retainMillis < floorMillis)
      throw new IllegalStateException(
        s"VACUUM retention ${retainMillis / 3600000.0}h is below this " +
          s"table's graft.vacuum.minRetainHours floor " +
          s"(${floorMillis / 3600000.0}h) — a checkpointed stream lagging " +
          "within the floor would lose unread versions. Raise RETAIN, or " +
          "set graft.vacuum.force=true if no stream reads this table")
    val vs = versions(spark, root)
    val (dropByCount, _) = vs.splitAt(math.max(0, vs.size - keep))
    val drop =
      if (!guarded) dropByCount
      else {
        val cutoffV = System.currentTimeMillis() - floorMillis
        // No commit timestamp (pre-#ts manifest) = old = droppable.
        dropByCount.filter(v =>
          header(spark, root, v).ts.forall(_ < cutoffV))
      }
    val keepVs = vs.filterNot(drop.toSet)
    val keptEntries = keepVs.flatMap(v => manifest(spark, root, v))
    val referenced = keptEntries.map(_.path).toSet
    val referencedDv = keptEntries.filter(_.dv.nonEmpty).map(_.dv).toSet
    val f = fs(spark, root)
    val cutoff = System.currentTimeMillis() - retainMillis
    val files = Seq.newBuilder[String]
    val dataRoot = new Path(root, "data")
    if (f.exists(dataRoot)) {
      f.listStatus(dataRoot).foreach { vdir =>
        f.listStatus(vdir.getPath).foreach { pdir =>
          if (pdir.isDirectory) {
            f.listStatus(pdir.getPath).foreach { file =>
              val rel = s"data/${vdir.getPath.getName}/${pdir.getPath.getName}/${file.getPath.getName}"
              if (file.getPath.getName.endsWith(".parquet") && !referenced(rel) &&
                  file.getModificationTime < cutoff)
                files += rel
            }
          }
        }
      }
    }
    // Deletion-vector directories are swept like data files: one kept
    // manifest referencing a DV dir keeps it; orphans (vacuumed
    // versions' superseded DVs, crashed delete-dv attempts) older than
    // the safety window go. Clone-held ABSOLUTE dv references live
    // under the source root and are never matched here — same
    // source-vacuum caveat as cloned data files.
    val dvDirs = Seq.newBuilder[String]
    val dvRoot = new Path(root, "dv")
    if (f.exists(dvRoot)) {
      f.listStatus(dvRoot).foreach { d =>
        if (d.isDirectory && !referencedDv(s"dv/${d.getPath.getName}") &&
            d.getModificationTime < cutoff)
          dvDirs += s"dv/${d.getPath.getName}"
      }
    }
    (files.result(), dvDirs.result(), drop)
  }

  /** `VACUUM … DRY RUN`: the root-relative paths vacuum WOULD delete
    * (data files + DV directories), without deleting anything. */
  def vacuumDryRun(spark: SparkSession, root: String, keep: Int = 2,
                   retainMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    val (files, dvDirs, _) = vacuumPlan(spark, root, keep, retainMillis)
    (files ++ dvDirs).sorted
  }

  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
             retainMillis: Long = 24L * 3600 * 1000): Unit = {
    // Even with nothing to drop, the orphan sweep still collects data
    // files of crashed/lost commits (written, never published).
    val (files, dvDirs, drop) = vacuumPlan(spark, root, keep, retainMillis)
    val f = fs(spark, root)
    files.foreach(rel => f.delete(new Path(root, rel), false))
    dvDirs.foreach(rel => f.delete(new Path(root, rel), true))
    drop.foreach { v =>
      f.delete(manifestPath(root, v), false)
      f.delete(statsPath(root, v), false)
      f.delete(bloomPath(root, v), false)
    }
    // Vacuum is the one in-engine path that DELETES published
    // metadata files — drop every cached parse for the root so a
    // vacuumed version reads exactly like an uncached one (missing
    // manifest throws; missing sidecars degrade to no-skipping).
    if (drop.nonEmpty) invalidateMetadataCache(root)
  }
}
