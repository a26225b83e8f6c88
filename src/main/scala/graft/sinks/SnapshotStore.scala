package graft.sinks

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Atomic, versioned parquet sink — the crash-safe replacement for
  * dynamic partition overwrite (the reference's per-document-atomic
  * `bulk_write`, mongodb_loader.py:93-197, re-expressed as
  * snapshot-level atomicity for a columnar store).
  *
  * Layout under `root/`:
  * {{{
  *   data/v_<N>/__part=<value>/part-*.parquet   // append-only, never mutated
  *   manifests/v_<N>.manifest                   // one line per data file
  * }}}
  *
  * A snapshot IS its manifest: readers resolve the highest committed
  * manifest version and read exactly the files it lists. Commits write
  * data files first (invisible — no manifest references them), then
  * publish by renaming a temp manifest to `v_<N>.manifest`. Rename to a
  * fresh name is atomic on HDFS-like filesystems and fails if the name
  * exists, so a crash at ANY point leaves the previous snapshot intact
  * (orphaned data files are garbage-collected by [[vacuum]]) and two
  * racing committers cannot both win a version — the loser retries on
  * the next number. Every mutation runs that protocol through the one
  * primitive [[occ]].
  *
  * Scale notes (100 TB): a merge rewrites only the partitions present
  * in the incoming batch; untouched partitions' files are carried into
  * the new manifest BY REFERENCE — no copy, no rewrite, no
  * delete-then-write window. Manifest-level partition pruning means a
  * partition-filtered read never even lists unrelated directories. Old
  * manifests stay readable ([[readVersion]] time travel) until
  * vacuumed.
  */
object SnapshotStore extends SnapshotDml with SnapshotDv with SnapshotMaintenance {

  /** One data file: (partition value, path relative to root), plus an
    * optional deletion-vector attachment — `dv` names the DV directory
    * (relative to root, or absolute for clones) holding this file's
    * COMPLETE set of deleted row positions as of this version, and
    * `dvRows` its cardinality (recorded in the manifest so history /
    * detail views can report live row counts without opening the DV
    * parquet). Empty `dv` = no rows deleted from this file. */
  case class ManifestEntry(partition: String, path: String,
                           dv: String = "", dvRows: Long = 0L)

  private[sinks] val PartDir = "__part"

  /** Reader features THIS build understands — the check side of the
    * `#require` manifest protocol gate (Delta's
    * minReaderVersion/table-features design). A manifest naming a
    * feature outside this set refuses to load in [[manifest]] instead
    * of being silently misread; a second reader implementation
    * (docs/MIGRATION.md's Iceberg/Delta bridge) must publish its own
    * set and fail the same way. */
  val SupportedReaderFeatures: Set[String] = Set("colmap", "dv", "multipart")

  /** Directory-key column names for a k-column partition spec: the
    * first level keeps the historical `__part` (single-column tables'
    * on-disk layout and manifests stay byte-identical), deeper levels
    * are `__part1`, `__part2`, …. */
  private[sinks] def partDirNames(k: Int): Seq[String] =
    (0 until k).map(i => if (i == 0) PartDir else s"$PartDir$i")

  private[sinks] val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** A manifest partition VALUE for a k-column spec. One column: the
    * raw value string, exactly as every earlier version of this store
    * wrote it. Multiple columns: each component with '%' and '/'
    * percent-escaped, joined by '/' — reversible ([[decodePartValue]])
    * because the join character cannot survive unescaped in a
    * component. */
  def encodePartValue(values: Seq[String]): String =
    if (values.sizeIs == 1) values.head
    else values.map(v => v.replace("%", "%25").replace("/", "%2F"))
      .mkString("/")

  /** Inverse of [[encodePartValue]] given the spec width. */
  def decodePartValue(s: String, k: Int): Seq[String] =
    if (k <= 1) Seq(s)
    else s.split("/", -1).toSeq.map(unescapePathName)

  private[sinks] def normPartComponent(c: Column): Column =
    when(c.isNull || c.cast("string") === "", lit(HiveDefaultPartition))
      .otherwise(c.cast("string"))

  /** [[encodePartValue]] as a Column over the spec's columns — the
    * expression every touched-partition probe evaluates. Components
    * normalize null/empty to Hive's default-partition sentinel first
    * (matching what `partitionBy` writes to disk), so probe values and
    * manifest values can never disagree on those rows. */
  def partValueColumn(cols: Seq[String]): Column =
    if (cols.sizeIs == 1) normPartComponent(col(cols.head))
    else concat_ws("/", cols.map(c => regexp_replace(regexp_replace(
      normPartComponent(col(c)), "%", "%25"), "/", "%2F")): _*)

  private[sinks] def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sinks] def manifestPath(root: String, v: Long) =
    new Path(root, f"manifests/v_$v%06d.manifest")

  private[sinks] def statsPath(root: String, v: Long) =
    new Path(root, f"manifests/v_$v%06d.stats")

  private[sinks] def bloomPath(root: String, v: Long) =
    new Path(root, f"manifests/v_$v%06d.bloom")

  // ------------------------------------------------------------------
  // (root, version)-keyed READ-PATH metadata cache (guide §6 metadata
  // round-trips). One planning pass through [[table]] used to open the
  // SAME manifest 6-8 times (entries once per file-index build, headers
  // once each for properties / column mapping / bucket spec / CBO
  // stats) and the stats sidecar up to twice — the read-side analogue
  // of the one-open-per-commit fan-in writeManifest already has.
  // Manifests and sidecars are IMMUTABLE once published under this
  // store's protocol, so a parsed copy keyed by (root, version) is
  // valid until something out-of-protocol happens. Every hit is
  // re-validated against the file's (modificationTime, length)
  // fingerprint — one getFileStatus instead of open + full read +
  // parse — which catches the out-of-protocol cases (DROP + recreate
  // at the same path, an external rewrite) even from another process;
  // in-JVM mutation points (vacuum's manifest deletes, writeStats /
  // addBloomFilters rewriting a version's sidecar in place) ALSO
  // invalidate explicitly, closing the same-millisecond/same-length
  // fingerprint aliasing window for every path this engine controls.
  // Absence is NEVER cached: a missing sidecar stays a per-access
  // probe (it legitimately appears after the manifest), and a missing
  // manifest throws exactly as the uncached open did. Capacity is
  // bounded by entry count AND total parsed weight, so a 100 TB
  // table's million-entry manifests cannot pin the driver heap.
  // `spark.graft.metaCache.enabled=false` bypasses it entirely.
  private[sinks] final case class MetaKey(root: String, version: Long)
  private[sinks] final case class MetaFp(modTime: Long, len: Long)

  private[sinks] final class MetaLru[V](maxEntries: Int, maxWeight: Long,
                                        weigh: V => Long) {
    private case class Slot(fp: MetaFp, value: V, w: Long)
    private val map = new java.util.LinkedHashMap[MetaKey, Slot](64, 0.75f, true)
    private var weight = 0L
    def get(k: MetaKey, fp: MetaFp): Option[V] = synchronized {
      map.get(k) match {
        case null => None
        case s if s.fp == fp => Some(s.value)
        case s => map.remove(k); weight -= s.w; None // stale fingerprint
      }
    }
    /** An entry heavier than the whole bound is not cached: inserting
      * it would evict every other entry and then itself. */
    def put(k: MetaKey, fp: MetaFp, v: V): Unit = synchronized {
      val w = math.max(1L, weigh(v))
      Option(map.remove(k)).foreach(s => weight -= s.w)
      if (w <= maxWeight) {
        map.put(k, Slot(fp, v, w))
        weight += w
        val it = map.entrySet().iterator()
        while ((map.size > maxEntries || weight > maxWeight) && it.hasNext) {
          val e = it.next(); weight -= e.getValue.w; it.remove()
        }
      }
    }
    def invalidate(k: MetaKey): Unit = synchronized {
      Option(map.remove(k)).foreach(s => weight -= s.w)
    }
    def invalidateRoot(root: String): Unit = synchronized {
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.root == root) { weight -= e.getValue.w; it.remove() }
      }
    }
  }

  // Weights are parsed-entry counts (≈ proportional to heap), not
  // bytes: 2M manifest entries ≈ a few hundred MB worst case across
  // ALL cached versions — the deliberate ceiling.
  private val manifestCache =
    new MetaLru[Seq[ManifestEntry]](256, 2L << 20, _.size.toLong)
  private val headerCache = new MetaLru[ManifestHeader](1024, 1L << 20, _.size)
  private val statsCache = new MetaLru[(Map[String, FileStats.FileStatsEntry],
    Option[org.apache.spark.sql.types.StructType])](256, 2L << 20, _._1.size.toLong)
  private val bloomCache =
    new MetaLru[Map[String, Map[String, FileStats.BloomStats]]](128, 1L << 20,
      m => m.valuesIterator.map(_.size.toLong).sum)

  private def metaCacheEnabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.metaCache.enabled", "true")
      .equalsIgnoreCase("true")

  private def metaFp(f: FileSystem, p: Path): MetaFp = {
    val st = f.getFileStatus(p) // FileNotFoundException, like open()
    MetaFp(st.getModificationTime, st.getLen)
  }

  /** Drop every cached parse for `root` — the hook the in-JVM
    * mutation points (vacuum; anything that deletes or replaces
    * published metadata files) call so a recreated table at the same
    * path can never be served a predecessor's parse even inside the
    * fingerprint's ms/length granularity. Public to graft for specs. */
  private[graft] def invalidateMetadataCache(root: String): Unit = {
    manifestCache.invalidateRoot(root)
    headerCache.invalidateRoot(root)
    statsCache.invalidateRoot(root)
    bloomCache.invalidateRoot(root)
  }

  /** Committed versions, ascending (empty = no table yet). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = new Path(root, "manifests")
    val f = fs(spark, root)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v_") && n.endsWith(".manifest") =>
        n.stripPrefix("v_").stripSuffix(".manifest").toLong }
      .sorted
  }

  /** Does version `v`'s manifest exist? O(1) existence probe — the
    * streaming sources' admission control uses it to tell "versions
    * dense from here" apart from "this range was vacuumed" without a
    * directory listing. */
  def manifestExists(spark: SparkSession, root: String, v: Long): Boolean =
    fs(spark, root).exists(manifestPath(root, v))

  private[sinks] def lastCheckpointPath(root: String) =
    new Path(root, "manifests/_last_checkpoint")

  /** The version hint in `_last_checkpoint` (Delta's pointer concept).
    * Purely an optimization hint: absent, stale, or corrupt all
    * degrade to the full listing, never to a wrong answer. */
  def lastCheckpointVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val p = lastCheckpointPath(root)
    try {
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        text.linesIterator.collectFirst {
          case l if l.startsWith("version\t") => l.stripPrefix("version\t").toLong
        }
      }
    } catch { case _: java.io.IOException | _: NumberFormatException => None }
  }

  /** Refresh `_last_checkpoint` to point at `version` (write-tmp +
    * rename-overwrite so readers never see a torn file). Best-effort:
    * a failure leaves an older hint, which is merely slower. */
  private[sinks] def writeLastCheckpoint(spark: SparkSession, root: String,
                                  version: Long): Unit = try {
    val f = fs(spark, root)
    val tmp = new Path(root,
      s"manifests/._last_checkpoint.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(s"version\t$version".getBytes(UTF_8)) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.getUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(f.makeQualified(tmp), f.makeQualified(lastCheckpointPath(root)),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  } catch { case _: java.io.IOException => () }

  /** Commits between checkpoint refreshes
    * (`spark.graft.checkpointInterval`, default 10). */
  private[sinks] def checkpointInterval(spark: SparkSession): Long =
    try spark.conf.get("spark.graft.checkpointInterval", "10").toLong
    catch { case _: NumberFormatException => 10L }

  /** Current version, in O(commits since the last checkpoint) instead
    * of O(all versions): versions are DENSE (every committer takes the
    * next number) and vacuum only ever removes an old contiguous
    * prefix, so if the checkpointed version's manifest still exists,
    * probing forward until the first missing number IS the tip — no
    * directory listing. The listing fallback covers young tables (no
    * checkpoint yet) and a checkpoint that vacuum has overtaken. This
    * is what keeps metadata cost flat on a long-lived table: a
    * streaming source calls this every trigger, and a 10,000-commit
    * table would otherwise pay a 10,000-entry listing each time
    * (Delta's `_last_checkpoint` exists for the same reason). */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    lastCheckpointVersion(spark, root) match {
      case Some(v) if f.exists(manifestPath(root, v)) =>
        var cur = v
        while (f.exists(manifestPath(root, cur + 1))) cur += 1
        Some(cur)
      case _ => versions(spark, root).lastOption
    }
  }

  /** Parse a manifest. Partition values are URL-encoded on write so
    * arbitrary strings survive the line format. Lines starting with
    * `#` are the [[ManifestHeader]] block, not entries. */
  def manifest(spark: SparkSession, root: String, version: Long): Seq[ManifestEntry] = {
    val f = fs(spark, root)
    val p = manifestPath(root, version)
    val key = MetaKey(root, version)
    // Fingerprinted only when the cache is on: the uncached path fails
    // at `f.open` exactly as it did before the cache existed.
    val fp = if (metaCacheEnabled(spark)) Some(metaFp(f, p)) else None
    fp.flatMap(manifestCache.get(key, _)) match {
      case Some(entries) => return entries
      case None => ()
    }
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val header = ManifestHeader.parse(text.linesIterator.takeWhile(_.startsWith("#")).toList)
    // Protocol gate (Delta's minReaderVersion/table-features design):
    // `#require` names a feature this manifest's files CANNOT be read
    // correctly without. Every other header is advisory — a reader
    // that doesn't know it skips it — but skipping an unknown
    // REQUIRED feature means silently-wrong results (physical names
    // after a rename, resurrected DV-deleted rows, mis-decoded
    // composite partition values), so it must be a loud refusal here,
    // the single parse point every read path funnels through. A
    // gate-failing manifest is never cached — the refusal re-derives
    // from the file every time, like every other parse error.
    val unknown = header.required.filterNot(SupportedReaderFeatures)
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"manifest v$version under $root requires reader feature(s) " +
        s"${unknown.mkString(", ")} that this reader does not support " +
        s"(supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}); " +
        "refusing to read rather than silently misread")
    val entries = text.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
      line.split("\t", 4) match {
        case Array(p0, path) => ManifestEntry(URLDecoder.decode(p0, UTF_8), path)
        case Array(p0, path, dv, dvRows) =>
          ManifestEntry(URLDecoder.decode(p0, UTF_8), path, dv, dvRows.toLong)
        case other => throw new IllegalStateException(
          s"malformed manifest line under $root v$version: ${other.mkString("\\t")}")
      }
    }.toSeq
    // A full parse subsumes the header block — seed BOTH caches so the
    // first header probe after an entry read is already a hit.
    fp.foreach { x =>
      manifestCache.put(key, x, entries)
      headerCache.put(key, x, header)
    }
    entries
  }

  /** Version `version`'s parsed [[ManifestHeader]], read once per
    * (root, version) — headers are written before any entry line, so
    * the read stops at the first entry without holding a large
    * manifest. Every table-metadata read goes through here: a commit
    * used to open its predecessor five times for ts / constraints /
    * properties / mapping / copied-ledger, five metadata round-trips
    * per commit on an object store. Fails like [[manifest]] on a
    * missing or unreadable manifest. */
  def header(spark: SparkSession, root: String, version: Long): ManifestHeader = {
    val f = fs(spark, root)
    val p = manifestPath(root, version)
    val key = MetaKey(root, version)
    val fp = if (metaCacheEnabled(spark)) Some(metaFp(f, p)) else None
    fp.flatMap(headerCache.get(key, _)) match {
      case Some(h) => return h
      case None => ()
    }
    val in = f.open(p)
    val h = try ManifestHeader.parse(scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().takeWhile(_.startsWith("#")).toList)
    finally in.close()
    // Headers alone (the prefix read) — entry parses stay lazy: a
    // header probe over a million-entry manifest must not read it all.
    fp.foreach(headerCache.put(key, _, h))
    h
  }

  /** [[header]], degraded to the empty header for `version < 1` or a
    * missing/unreadable manifest — for DERIVED metadata (column
    * mapping, properties a write consults), which never blocks. */
  def headerOrEmpty(spark: SparkSession, root: String, version: Long): ManifestHeader =
    if (version < 1) ManifestHeader.empty
    else try header(spark, root, version)
    catch { case _: java.io.IOException => ManifestHeader.empty }

  /** Write-job commit-protocol options for the repo's append/error-mode
    * parquet writes (data files, DV sidecars, index shards):
    * FileOutputCommitter v2 commits each task's files from the task
    * itself instead of a serialized driver-side rename pass at
    * commitJob — the measured rename slice of every small commit here,
    * and the standard setting on object stores where a driver rename
    * is a COPY. Only for writes whose output dir is private until a
    * separate atomic publish (or append-only index dirs whose readers
    * tolerate partial files being re-listed — none do reads mid-write
    * here); NOT for dynamic-partition-overwrite writes, which have
    * their own staging protocol. `_SUCCESS` markers are skipped —
    * nothing in this store reads them. */
  val fastCommitterOptions: Map[String, String] = Map(
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** The operation tag a version's committer recorded (`commit`,
    * `merge`, `delete`, `compact`, `zorder`, `restore`). None for
    * manifests written before operation tagging existed — [[history]]
    * surfaces those as null rather than guessing. */
  def manifestOperation(spark: SparkSession, root: String, version: Long): Option[String] =
    header(spark, root, version).op

  /** The table's partition spec as recorded in version `version`'s
    * `#partcol` header (comma-joined for multi-column specs). None for
    * manifests written before the header existed. */
  def partitionColumn(spark: SparkSession, root: String, version: Long): Option[String] =
    header(spark, root, version).partcol

  /** The partition spec maintenance paths resolve from the manifest,
    * failing with re-commit advice when the table predates the
    * header. */
  private[sinks] def requirePartitionCols(spark: SparkSession, root: String,
                                   cur: Long): Seq[String] = {
    val cols = header(spark, root, cur).partitionCols
    if (cols.isEmpty) throw new IllegalStateException(
      s"manifest v$cur under $root predates partition-column metadata; " +
        "re-commit once through any SnapshotStore write path first")
    cols
  }

  /** Commit wall-clock (epoch millis) recorded in the `#ts` manifest
    * header. None for manifests written before timestamps existed.
    * Timestamps are clamped monotonic at write ([[writeManifest]]), so
    * version order and timestamp order never disagree — the property
    * `TIMESTAMP AS OF` resolution relies on (Delta's in-commit
    * timestamp behavior). */
  def commitTimestamp(spark: SparkSession, root: String, version: Long): Option[Long] =
    header(spark, root, version).ts

  /** `TIMESTAMP AS OF` resolution: the latest version committed at or
    * before `tsMillis` (Delta semantics — "the table as it was at that
    * moment"). A timestamp before the first commit is an error (there
    * was no table then); one after the last commit resolves to the
    * tip. Pre-`#ts` manifests (no recorded wall-clock) are treated as
    * older than any queryable timestamp: they cannot win over a
    * version with a recorded ts <= target, but a target older than
    * every RECORDED ts resolves to the newest unrecorded version
    * rather than erroring — the table demonstrably existed then. */
  def versionAtTimestamp(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed snapshot under $root")
    val stamped = vs.map(v => v -> header(spark, root, v).ts)
    val hit = stamped.filter(_._2.exists(_ <= tsMillis)).map(_._1)
    if (hit.nonEmpty) hit.max
    else {
      val unrecorded = stamped.filter(_._2.isEmpty).map(_._1)
      if (unrecorded.nonEmpty) unrecorded.max
      else throw new IllegalArgumentException(
        s"timestamp $tsMillis (${java.time.Instant.ofEpochMilli(tsMillis)}) " +
          s"is before the first commit under $root " +
          s"(${java.time.Instant.ofEpochMilli(stamped.head._2.get)}); " +
          "there is no snapshot to read at that time")
    }
  }

  /** Present a PHYSICAL frame (a raw file read) through a column
    * mapping — the read half of the mapping boundary, public for the
    * streaming sources which read added files directly. Identity when
    * the mapping is empty. */
  def presentLogical(df: DataFrame,
      mapping: (Map[String, String], Set[String])): DataFrame =
    applyColumnMapping(df, mapping)

  /** A version's LOGICAL schema: the recorded physical schema through
    * that version's column mapping, when recorded. */
  def logicalSchemaAt(spark: SparkSession, root: String,
      version: Long): Option[org.apache.spark.sql.types.StructType] =
    schemaFor(spark, root, version)
      .map(logicalSchema(_, headerOrEmpty(spark, root, version).mapping))

  /** Physical column name of logical `name` under `renames` (identity
    * when unmapped). */
  private[sinks] def physicalNameOf(renames: Map[String, String], name: String): String =
    renames.getOrElse(name, name)

  /** Physical→logical boundary: project `df` (physical file columns)
    * to the table's LOGICAL columns — drop tombstoned physicals, alias
    * renamed ones. Identity (and zero plan nodes) when the mapping is
    * empty. A plain alias projection, so Catalyst pushes filters and
    * pruning straight through it to the physical scan. */
  private[sinks] def applyColumnMapping(df: DataFrame,
      mapping: (Map[String, String], Set[String])): DataFrame = {
    val (renames, dropped) = mapping
    if (renames.isEmpty && dropped.isEmpty) df
    else {
      val byPhysical = renames.map(_.swap)
      df.select(df.columns.toSeq.collect {
        case c if !dropped(c) => byPhysical.get(c) match {
          case Some(logical) => col(c).as(logical)
          case None => col(c)
        }
      }: _*)
    }
  }

  /** [[applyColumnMapping]] at the StructType level (for recorded
    * schemas and pinned stream schemas). */
  private[sinks] def logicalSchema(schema: org.apache.spark.sql.types.StructType,
      mapping: (Map[String, String], Set[String])): org.apache.spark.sql.types.StructType = {
    val (renames, dropped) = mapping
    if (renames.isEmpty && dropped.isEmpty) schema
    else {
      val byPhysical = renames.map(_.swap)
      org.apache.spark.sql.types.StructType(schema.fields.toSeq.collect {
        case f if !dropped(f.name) =>
          byPhysical.get(f.name).map(l => f.copy(name = l)).getOrElse(f)
      })
    }
  }

  /** Logical→physical boundary for frames about to be WRITTEN: rename
    * mapped logical columns back to their stable physical names, and
    * refuse collisions a table-wide name mode cannot represent — a new
    * column whose name is a dropped column's physical name (old files
    * still hold that physical column; mixing would resurrect dropped
    * data under the new column) or another column's physical name.
    * Failing loudly here is Delta's own posture: physical names are
    * reserved for the table's lifetime; pick another name. */
  private[sinks] def toPhysical(df: DataFrame,
      mapping: (Map[String, String], Set[String])): DataFrame = {
    val (renames, dropped) = mapping
    if (renames.isEmpty && dropped.isEmpty) df
    else {
      val owned = renames.map(_.swap) // physical -> logical
      df.columns.foreach { c =>
        if (!c.startsWith(PartDir) && !renames.contains(c)) {
          require(!dropped(c),
            s"column name '$c' is reserved: it is the physical name of a " +
              "DROPPED column and old data files still carry it. Pick " +
              "another name (or rewrite the table to purge the old column)")
          require(!owned.contains(c),
            s"column name '$c' is reserved: it is the physical name of " +
              s"column '${owned(c)}'. Pick another name")
        }
      }
      renames.foldLeft(df) { case (d, (logical, physical)) =>
        if (d.columns.contains(logical)) d.withColumnRenamed(logical, physical)
        else d
      }
    }
  }

  /** CHECK constraints recorded in a version's manifest
    * (`#constraint` headers) — table metadata in the log, the Delta
    * constraint convention. */
  def tableConstraints(spark: SparkSession, root: String,
                       version: Long): Seq[(String, String)] =
    header(spark, root, version).constraints

  /** Table properties recorded in a version's manifest (`#prop`
    * headers) — free-form table metadata in the log, Delta's
    * TBLPROPERTIES. Properties this store itself consults:
    * `graft.enableDeletionVectors` (= "true" routes SQL DELETE through
    * [[deleteWhereDv]] instead of the rewriting [[deleteWhere]] —
    * exactly Delta's opt-in). */
  def tableProperties(spark: SparkSession, root: String,
                      version: Long): Seq[(String, String)] =
    header(spark, root, version).properties

  /** Current-version table properties as a Map (empty for an empty or
    * pre-properties table). */
  def tablePropertiesMap(spark: SparkSession, root: String): Map[String, String] =
    currentVersion(spark, root).map(header(spark, root, _).props).getOrElse(Map.empty)

  /** `ALTER TABLE … SET TBLPROPERTIES` — metadata-only commit: every
    * data file carries by reference; only the property set changes
    * (set/overwrite the given keys, keep the rest). Returns the new
    * version. */
  def setProperties(spark: SparkSession, root: String,
                    props: Seq[(String, String)]): Long = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one key")
    // Generated-column expressions are CREATE TABLE metadata: the
    // recording rides v1 together with the gen_ CHECK whose induction
    // is what makes recomputation and derived-predicate pruning sound.
    // A post-hoc SET would attach an expression the existing rows were
    // never validated against — the derivation would then prune with
    // bounds the data does not satisfy and silently drop rows.
    props.find(p => p._1.startsWith(GeneratedPropPrefix) ||
        p._1.startsWith(IdentityPropPrefix) ||
        p._1 == GeneratedTzProp).foreach { case (k, _) =>
      throw new IllegalArgumentException(
        s"'$k' is CREATE TABLE metadata (GENERATED ALWAYS AS) — it " +
          s"cannot be SET post-hoc: existing rows were never validated " +
          s"against it (and an identity mark set by hand could reopen " +
          s"allocated ids), so pruning/allocation would be unsound")
    }
    // Defaults ARE changeable post-hoc — but only through the
    // VALIDATED path (ALTER TABLE … ALTER COLUMN … SET/DROP DEFAULT);
    // a raw property write could record an unparseable or
    // wrongly-typed expression every later INSERT would trip over.
    props.find(_._1.startsWith(DefaultPropPrefix)).foreach { case (k, _) =>
      throw new IllegalArgumentException(
        s"'$k' is managed metadata — use ALTER TABLE … ALTER COLUMN " +
          "… SET DEFAULT / DROP DEFAULT, which validates the expression")
    }
    val keys = props.map(_._1).toSet
    occ(spark, root, "set-properties") { cur =>
      val existing = header(spark, root, cur).properties
      metadataCommit(spark, root, cur, "set-properties",
        _.copy(properties = existing.filterNot(p => keys(p._1)) ++ props))
    }
  }

  /** Read-modify-write of ONE property under [[occ]]: `f` sees
    * the value at each ATTEMPT's current version, so a lost race
    * recomputes against the winner's value instead of silently
    * overwriting it ([[setProperties]] re-reads the rest of the set
    * per attempt, but a caller-side merge of the updated value is
    * computed once — two concurrent registrars appending to the same
    * list property would erase each other). A no-op update (f returns
    * the current value) commits nothing. Returns the version holding
    * the value. */
  def updateProperty(spark: SparkSession, root: String, key: String)
                    (f: Option[String] => String): Long =
    occ(spark, root, "update-property") { cur =>
      val existing = header(spark, root, cur).properties
      val old = existing.collectFirst { case (k, v) if k == key => v }
      val next = f(old)
      if (old.contains(next)) NoOp(cur)
      else metadataCommit(spark, root, cur, "set-properties",
        _.copy(properties = existing.filterNot(_._1 == key) :+ (key -> next)))
    }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` — metadata-only removal.
    * Unknown keys fail loudly (matching UNSET without IF EXISTS).
    * Returns the new version. */
  def unsetProperties(spark: SparkSession, root: String,
                      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    // Symmetric with the SET-side guard: removing a generation
    // expression or an identity record silently changes write
    // semantics (null ids, uncomputed partitions) and the allocation
    // mark is irrecoverable once dropped — CREATE TABLE metadata
    // cannot be unset either.
    keys.find(k => k.startsWith(GeneratedPropPrefix) ||
        k.startsWith(IdentityPropPrefix) || k == GeneratedTzProp)
      .foreach { k =>
        throw new IllegalArgumentException(
          s"'$k' is CREATE TABLE metadata (GENERATED ALWAYS AS) — it " +
            "cannot be UNSET: later writes would silently null-fill or " +
            "reallocate what existing rows already carry")
      }
    keys.find(_.startsWith(DefaultPropPrefix)).foreach { k =>
      throw new IllegalArgumentException(
        s"'$k' is managed metadata — use ALTER TABLE … ALTER COLUMN " +
          "… DROP DEFAULT")
    }
    val doomed = keys.toSet
    occ(spark, root, "unset-properties") { cur =>
      val existing = header(spark, root, cur).properties
      val have = existing.map(_._1).toSet
      val missing = keys.filterNot(have)
      require(missing.isEmpty,
        s"table $root has no propert${if (missing.size == 1) "y" else "ies"} " +
          s"${missing.mkString(", ")} (have: ${have.mkString(", ")})")
      metadataCommit(spark, root, cur, "unset-properties",
        _.copy(properties = existing.filterNot(p => doomed(p._1))))
    }
  }

  /** Enforce the table's CHECK constraints against a batch about to be
    * written: a row violates when the expression is FALSE — NULL
    * passes (SQL CHECK semantics). One pushdown-friendly limit-1 probe
    * per constraint, free when the table has none. Layout-only
    * rewrites (compact/zorder) skip this — content is unchanged by
    * invariant, and re-proving it would double their read. */
  private[sinks] def enforceConstraints(spark: SparkSession, root: String,
                                 df: DataFrame, tip: Long,
                                 props: => Map[String, String]): Unit = {
    // `tip` is the commit attempt's own tip (0 = no table yet): a body
    // that checked against an older version could publish a violating
    // row on top of a concurrently added constraint. `props` is read
    // only when a constraint exists.
    val cs = if (tip >= 1) header(spark, root, tip).constraints else Nil
    if (cs.isEmpty) return
    // Generated columns absent from the batch are computed downstream
    // by writeDataFiles — check the POST-computation batch (what
    // actually lands), or the auto-registered gen_ CHECK would throw
    // an unresolved-column error on every column-omitting insert.
    val checked = withGeneratedColumns(df, generatedColumns(props))
    cs.foreach { case (name, e) =>
      val bad = checked.filter(!coalesce(expr(e), lit(true))).limit(1).collect()
      if (bad.nonEmpty) throw new IllegalStateException(
        s"CHECK constraint $name ($e) violated by row: ${bad.head}")
    }
  }

  /** Last swallowed post-commit maintenance failure
    * (`graft.maintenance.lastError`): auto-compact and rollup
    * auto-sync run over an already-won commit, so their errors must
    * never fail it — but a PERSISTENTLY failing auto-sync silently
    * turns every dashboard read into a full scan (the MV rewrite's
    * freshness check keeps answers right and performance wrong). The
    * failure is recorded here and rides the NEXT successful commit as
    * a table property (never a commit of its own), surfaced by
    * `DESCRIBE DETAIL`. Format:
    * `component=…;version=…;ts=…;message=<url-encoded>`. */
  val MaintenanceErrorProp = "graft.maintenance.lastError"

  /** `graft.optimizeWrite = true`: content commits rebalance-shuffle
    * the batch by the partition columns before writing (see
    * [[writeDataFiles]]) — Delta's optimizeWrite. */
  val OptimizeWriteProp = "graft.optimizeWrite"

  /** `graft.targetFileSize = <bytes>`: advisory on-disk file size
    * (Delta sizes by bytes; this store's thresholds were previously
    * file-COUNT-only). Consumed by every write through
    * [[writeDataFiles]] (rows-per-file derived from the predecessor
    * sidecar's measured bytes-per-row), by
    * [[SnapshotMaintenance.compact]]'s conformance test (a partition
    * is rewritten when fragmented ≫ ⌈bytes/target⌉ files OR any
    * single file exceeds 2.5× target — so OPTIMIZE also SPLITS
    * oversized files; the margin past the 2× split point absorbs the
    * rows-per-byte estimate's drift), and by
    * [[SnapshotMaintenance.clusterIncremental]]'s output file count.
    * Engaged bucket layouts are exempt: the sorted-bucket read
    * contract needs one file per bucket. A malformed value fails the
    * write LOUDLY — silently ignoring a sizing property is the
    * silent-fragmentation failure mode the error ledger exists to
    * prevent. */
  val TargetFileSizeProp = "graft.targetFileSize"

  /** GENERATED PARTITION COLUMNS (Delta's `GENERATED ALWAYS AS`, the
    * biggest partition-pruning ergonomic on a lake): recorded at
    * CREATE TABLE as `graft.generated.<col> = <expr sql>` properties
    * (properties ARE per-version manifest headers, carried forward by
    * every commit exactly like `#partcol`). Consumed by
    * [[writeDataFiles]] — every CONTENT write computes an ABSENT
    * generated column from its expression before partition routing —
    * and by [[enforceConstraints]], which pre-computes absent ones so
    * the auto-registered `gen_<col>` CHECK (`col <=> expr`) refuses
    * EXPLICIT values that contradict the expression. Renaming a
    * column referenced by a generation expression is unsupported
    * (the recorded SQL names it logically — same boundary as CHECK
    * constraints). */
  private[sinks] val GeneratedPropPrefix = "graft.generated."

  /** The `spark.sql.session.timeZone` of the CREATE TABLE session,
    * recorded alongside any generated columns (deliberately OUTSIDE
    * the [[GeneratedPropPrefix]] namespace so [[generatedColumns]]
    * never mistakes it for a column). Zone-DEPENDENT generation
    * expressions (`cast(ts as date)`, `date_trunc` — instant→local
    * conversions) produce different values under different session
    * zones, which would make the stored column inconsistent across
    * writers and the derived-predicate rewrite unsound: content
    * writes from a session whose zone differs are REFUSED
    * ([[enforceGeneratedTz]]), and the reader-side derivation
    * ([[FileStats.generatedDerivers]]) only fires when its session
    * zone matches this record. Zone-free expressions are exempt. */
  private[sinks] val GeneratedTzProp = "graft.generatedTimeZone"

  /** Content-write guard for zone-dependent generation expressions:
    * the recorded creation zone is the contract every writer must
    * compute under, or two sessions would route the same row to
    * different partitions and store values that contradict each
    * other's gen_ CHECK probes. Absent record (pre-existing tables)
    * or zone-free expressions: no refusal — the derivation stays
    * conservative on its own. */
  private[sinks] def enforceGeneratedTz(spark: SparkSession,
                                        props: Map[String, String],
                                        schema: org.apache.spark.sql.types.StructType): Unit = {
    val gens = generatedColumns(props)
    if (gens.nonEmpty) props.get(GeneratedTzProp).foreach { recorded =>
      val session = spark.conf.get("spark.sql.session.timeZone")
      if (session != recorded &&
          FileStats.analyzedGenerated(spark, gens, schema)
            .exists { case (_, e) => FileStats.tzDependent(e) })
        throw new IllegalArgumentException(
          s"this table's generated columns use zone-dependent expressions " +
            s"recorded under spark.sql.session.timeZone=$recorded; writing " +
            s"from a session with timeZone=$session would store " +
            s"inconsistent values — set the session zone to match")
    }
  }

  /** IDENTITY COLUMNS (Delta's `GENERATED ALWAYS AS IDENTITY`):
    * recorded at CREATE as `graft.identity.<col> =
    * start;step;last;type` — `last` is the LAST ALLOCATED value
    * (start − step before any allocation) and advances atomically
    * with each allocating content commit: the allocation happens
    * inside [[writeDataFiles]] per OCC attempt, the new high-water
    * mark rides THAT attempt's manifest ([[pendingIdentityAllocs]] →
    * [[writeManifest]] injection), and a lost race re-runs the whole
    * attempt against the winner's recorded `last` — so two racing
    * writers can never allocate the same ids, and a delete of the
    * max row never causes reuse (the mark is monotone metadata, not
    * derived from data). Values are allocated GAP-FREE per batch
    * (contiguous from `last + step`) via `zipWithIndex` — one extra
    * count-class pass over the batch, paid only by identity tables. */
  private[sinks] val IdentityPropPrefix = "graft.identity."

  /** A recorded identity column: `last` is the last ALLOCATED value.
    * `byDefault` distinguishes `GENERATED BY DEFAULT AS IDENTITY`
    * (explicit values sanctioned on every surface — the migration-
    * ingest mode) from the ALWAYS form (SQL surfaces refuse explicit
    * values). Both modes mark-advance past carried values in
    * [[assignIdentity]], so BY DEFAULT here is STRICTLY safer than
    * Delta's (where explicit inserts leave the watermark behind until
    * a manual SYNC IDENTITY): an omitting insert after a carried one
    * can never collide. SYNC IDENTITY remains the sanctioned way to
    * move the mark BACKWARD (reclaim id space after deletes). */
  private[sinks] case class IdentitySpec(col: String, start: Long,
                                         step: Long, last: Long,
                                         sqlType: String,
                                         byDefault: Boolean = false)

  private[sinks] def formatIdentity(s: IdentitySpec): (String, String) =
    s"$IdentityPropPrefix${s.col}" ->
      (s"start=${s.start};step=${s.step};last=${s.last};type=${s.sqlType}" +
        (if (s.byDefault) ";mode=default" else ""))

  /** Parse every recorded identity column — LOUD on garbage (the
    * deriveSpecFromProps rule: silently ignoring a recorded identity
    * would null-fill or duplicate ids, the worst failure mode). An
    * absent `mode` reads as ALWAYS — pre-E140 records keep their
    * semantics byte-for-byte. */
  private[sinks] def identityColumns(props: Map[String, String]): Seq[IdentitySpec] =
    props.collect { case (k, v) if k.startsWith(IdentityPropPrefix) =>
      val c = k.stripPrefix(IdentityPropPrefix)
      val m = v.split(";").iterator.map(_.split("=", 2)).collect {
        case Array(a, b) => a -> b }.toMap
      try IdentitySpec(c, m("start").toLong, m("step").toLong,
        m("last").toLong, m("type"),
        byDefault = m.get("mode").contains("default"))
      catch { case scala.util.control.NonFatal(_) =>
        throw new IllegalStateException(
          s"garbled identity record for '$c': '$v'")
      }
    }.toSeq.sortBy(_.col)

  /** Allocations made by [[writeDataFiles]], awaiting their manifest:
    * (root, col → new `last`). THREAD-LOCAL because allocation and
    * publish always run on the caller's thread within one attempt —
    * and the merge REBASE path publishes the same data files under a
    * LATER manifest number than the allocating attempt's, so a
    * version-keyed map would lose the mark exactly when concurrency
    * makes it matter. Each content writeDataFiles OVERWRITES the slot
    * (clearing any residue an exception-abandoned attempt left); the
    * manifest injection applies it under a MONOTONE guard (the mark
    * only moves in step direction — stale residue can at worst burn a
    * gap, never regress into reallocation) and clears it when the
    * commit wins. */
  private val pendingIdentityAllocs =
    new ThreadLocal[(String, Map[String, Long])]()

  /** Fill one identity column: ABSENT → allocate for every row; NULL
    * slots (the merge union's null-fill of an absent incoming column)
    * → allocate for exactly those rows, existing ids untouched; fully
    * valued → no allocation, but the mark still ADVANCES past the
    * carried values' step-direction extremum (below). Allocation is
    * contiguous from `last + step` via `zipWithIndex` (deterministic
    * as a SET; per-row order follows partition order) — one
    * count-class extra pass over the rows needing ids, paid only by
    * identity tables. Returns the frame and the new `last` (== old
    * when nothing was allocated or carried). An IntegerType identity
    * that would overflow Int refuses loudly — silent wraparound would
    * alias live ids.
    *
    * CARRIED NON-NULL VALUES ADVANCE THE MARK: a programmatic write
    * (DataFrame writer, commit/appendCommit, a merge source, a
    * [[graft.operators.Replicate]] mirror applying a source table's
    * ids) that brings its own id values is accepted — but the
    * recorded `last` moves to max(last, max(carried)) (min for a
    * negative step), so a LATER omitting write can never re-vend a
    * carried id. For merge inheritance this is a no-op (inherited ids
    * are ≤ the mark by construction); for migration ingest it is the
    * thing that makes the table safe afterwards. SQL surfaces layer
    * their own GENERATED-ALWAYS refusal on top — this is the API
    * floor that holds even where explicit values are sanctioned. */
  private[sinks] def assignIdentity(spark: SparkSession, d: DataFrame,
                                    s: IdentitySpec): (DataFrame, Long) = {
    import org.apache.spark.sql.types._
    val declared: DataType =
      if (s.sqlType.equalsIgnoreCase("INT") ||
          s.sqlType.equalsIgnoreCase("INTEGER")) IntegerType else LongType
    def alloc(rows: DataFrame, appendAt: Option[Int],
              base: Long): (DataFrame, Long) = {
      val n = rows.count()
      if (n == 0) return (rows, base)
      // Exact arithmetic: a mark near Long's edge must refuse loudly,
      // not wrap into reallocation.
      val newLast = Math.addExact(base, Math.multiplyExact(s.step, n))
      if (declared == IntegerType)
        require(newLast >= Int.MinValue && newLast <= Int.MaxValue &&
            base + s.step >= Int.MinValue && base + s.step <= Int.MaxValue,
          s"identity '${s.col}' is INT and the next range " +
            s"(${base + s.step}..$newLast) leaves Int — declare BIGINT")
      val step = s.step
      val zipped = rows.rdd.zipWithIndex()
      val schema = appendAt match {
        case None => rows.schema.add(StructField(s.col, declared))
        case Some(_) => rows.schema
      }
      val idx = appendAt
      val out = spark.createDataFrame(zipped.map { case (r, i) =>
        val v: Any =
          if (declared == IntegerType) (base + step * (i + 1)).toInt
          else base + step * (i + 1)
        idx match {
          case None => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v)
          case Some(p) => org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(p, v))
        }
      }, schema)
      (out, newLast)
    }
    if (!d.columns.contains(s.col)) alloc(d, None, s.last)
    else {
      val p = d.schema.fieldIndex(s.col)
      // ONE aggregate answers both questions the fill needs: how many
      // NULL slots want allocation, and how far carried explicit
      // values reach (the mark-advance input). Cheap — this path only
      // runs on identity tables, over a frame the caller persisted.
      val probe = d.agg(
        count(lit(1)).as("__n"),
        count(col(s.col)).as("__nn"),
        max(col(s.col).cast(LongType)).as("__mx"),
        min(col(s.col).cast(LongType)).as("__mn")).head()
      val total = probe.getLong(0)
      val carried = probe.getLong(1)
      val rebased =
        if (carried == 0L) s.last
        else if (s.step > 0) math.max(s.last, probe.getLong(2))
        else math.min(s.last, probe.getLong(3))
      if (carried == total) (d, rebased)
      else {
        // Null slots allocate from the REBASED mark, so values
        // allocated in this very batch can never collide with ids it
        // carried alongside them.
        val needs = d.filter(col(s.col).isNull)
        val (filled, newLast) = alloc(needs, Some(p), rebased)
        (d.filter(col(s.col).isNotNull).unionByName(filled), newLast)
      }
    }
  }

  private[sinks] def recordIdentityAlloc(root: String,
                                         allocs: Map[String, Long]): Unit =
    pendingIdentityAllocs.set((root, allocs))

  /** Drop THIS thread's pending allocation hand-off for `root` — the
    * SYNC IDENTITY entry point clears abandoned-attempt residue so
    * its deliberate backward move cannot be overridden by the
    * monotone injection guard. */
  private[sinks] def clearPendingIdentityAlloc(root: String): Unit =
    Option(pendingIdentityAllocs.get()).foreach { case (r, _) =>
      if (r == root) pendingIdentityAllocs.remove()
    }

  /** (column → generation expr sql) recorded at `version` — the SQL
    * surface (INSERT alignment, DESCRIBE) reads through this. */
  def generatedColumnsAt(spark: SparkSession, root: String,
                         version: Long): Seq[(String, String)] =
    generatedColumns(header(spark, root, version).props)

  /** COLUMN DEFAULT VALUES (Delta's `DEFAULT` clause, E142): recorded
    * as `graft.default.<col> = <sql>`. A default fills a column
    * OMITTED from an INSERT column list (an explicit NULL stays NULL
    * — SQL semantics); the API write paths are untouched (a frame
    * writes what it carries, Delta's contract too). Unlike
    * generated/identity metadata, defaults affect only FUTURE inserts
    * — so `ALTER TABLE … ALTER COLUMN … SET/DROP DEFAULT` may change
    * them post-hoc through the VALIDATED path
    * ([[setColumnDefault]]); raw SET/UNSET TBLPROPERTIES of the
    * prefix stays refused so an unvalidated expression can never be
    * recorded. */
  private[sinks] val DefaultPropPrefix = "graft.default."

  /** Is `k` a MANAGED table property — engine-written runtime state
    * or clause-expressed metadata? ONE predicate shared by the SHOW
    * CREATE TABLE printer and the CREATE-time TBLPROPERTIES guard, so
    * the two surfaces can never drift about what "managed" means:
    * clause metadata (generated/identity/default/bucket) arrives as
    * CLAUSES; runtime state (allocation marks, ANALYZE records,
    * layout baselines, rollup/sketch/mirror self-descriptions and
    * sync cursors, the error ledger, the creation-zone pin) must
    * neither be seeded by hand at CREATE nor survive a copy-paste
    * re-create — a re-created rollup carrying its source's cursor
    * would satisfy the MV rewrite's freshness check while holding
    * ZERO rows. User-facing CONFIG (maintenance riders, sizing,
    * vacuum floors, `graft.maintenance.async`) is NOT managed: it
    * prints, and CREATE accepts it. */
  def managedPropertyKey(k: String): Boolean = {
    val prefixes = Seq(GeneratedPropPrefix, IdentityPropPrefix,
      DefaultPropPrefix, "graft.stats.", "graft.rollup.",
      "graft.layout.", "graft.sketch.", "graft.mirror.")
    k == GeneratedTzProp || k == BucketSpecProp ||
      k == MaintenanceErrorProp || prefixes.exists(k.startsWith)
  }

  private[sinks] def defaultColumns(props: Map[String, String]): Seq[(String, String)] =
    props.collect { case (k, v) if k.startsWith(DefaultPropPrefix) =>
      k.stripPrefix(DefaultPropPrefix) -> v }.toSeq.sortBy(_._1)

  /** (column → default expr sql) recorded at `version`. */
  def defaultColumnsAt(spark: SparkSession, root: String,
                       version: Long): Seq[(String, String)] =
    defaultColumns(header(spark, root, version).props)

  /** Validate a DEFAULT expression for column `name : dt`: must
    * parse, resolve with ZERO column references, be FOLDABLE (a
    * literal-class constant — `current_date()` et al. refuse: they
    * report deterministic but drift per query, so "what did this
    * insert write" would depend on wall clock, the same trap the
    * generated-column probe refuses), and sit in a safe upcast
    * relationship with the declared type (a lossy cast would record a
    * default the column silently mangles). */
  private[sinks] def validateDefault(spark: SparkSession, name: String,
                                     dt: org.apache.spark.sql.types.DataType,
                                     sql: String): Unit = {
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(sql)
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"DEFAULT for '$name' does not parse: '$sql' (${e.getMessage})")
      }
    val analyzed = try {
      val probe = spark.emptyDataFrame
        .select(org.apache.spark.sql.functions.expr(sql).as("d"))
      probe.queryExecution.analyzed.expressions.head
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
    } catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalArgumentException(
        s"DEFAULT for '$name' must be a constant expression over no " +
          s"columns: '$sql' (${e.getMessage})")
    }
    require(parsed.references.isEmpty && analyzed.references.isEmpty,
      s"DEFAULT for '$name' references columns — defaults must be " +
        s"constants: '$sql'")
    // Query- and SESSION-scoped functions REPORT foldable (constant
    // per query) — the same trap the generated-column probe refuses:
    // a default of current_date() or current_user() would make "what
    // did this insert write" depend on when/where/by-whom the INSERT
    // ran. The session-scoped family can be resolved to a plain
    // Literal during ANALYSIS (invisible to a class match on the
    // analyzed tree), so the guard matches the PARSED function names
    // too.
    val timeScoped = analyzed.exists {
      case _: org.apache.spark.sql.catalyst.expressions.CurrentDate => true
      case _: org.apache.spark.sql.catalyst.expressions.CurrentTimestampLike => true
      case _: org.apache.spark.sql.catalyst.expressions.LocalTimestamp => true
      case _ => false
    }
    val sessionScopedNames = Set("current_date", "current_timestamp", "now",
      "localtimestamp", "current_user", "user", "session_user",
      "current_database", "current_schema", "current_catalog",
      "current_timezone", "version")
    val sessionScoped = parsed.exists {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        f.nameParts.lastOption.exists(n =>
          sessionScopedNames(n.toLowerCase(java.util.Locale.ROOT)))
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        // Bare `current_date` / `current_user` parse as ATTRIBUTES.
        sessionScopedNames(a.name.toLowerCase(java.util.Locale.ROOT))
      case _ => false
    }
    require(analyzed.foldable && !timeScoped && !sessionScoped,
      s"DEFAULT for '$name' is not a constant ('$sql') — query-scoped " +
        "or nondeterministic expressions would make inserted values " +
        "depend on when the INSERT ran")
    val got = analyzed.dataType
    require(got == dt ||
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(got, dt),
      s"DEFAULT for '$name' has type ${got.sql}, which does not safely " +
        s"widen to the declared ${dt.sql}")
  }

  /** (column → generation expr sql), from a property map. */
  private[sinks] def generatedColumns(props: Map[String, String]): Seq[(String, String)] =
    props.collect { case (k, v) if k.startsWith(GeneratedPropPrefix) =>
      (k.stripPrefix(GeneratedPropPrefix), v)
    }.toSeq.sortBy(_._1)

  /** Compute any generated column ABSENT from `df` (present columns
    * are the caller's explicit values — the gen_ CHECK judges them). */
  private[sinks] def withGeneratedColumns(df: DataFrame,
                                          gens: Seq[(String, String)]): DataFrame =
    gens.foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, expr(e))
    }

  /** UPDATE-side generated-column maintenance: recompute every
    * generated column the SET clause did NOT explicitly assign. A SET
    * that changes a generation INPUT (`SET ev_ts = …`) would otherwise
    * leave the stale generated value to trip the auto-registered
    * `gen_` CHECK with a generic violation — Delta recomputes instead,
    * and so do we. Sound unconditionally: committed rows satisfy
    * `col <=> expr` by the CHECK's induction, so recomputation is the
    * identity wherever the inputs didn't change (and the fresh value
    * exactly where they did). An EXPLICIT `SET gen = …` stays the
    * caller's claim — the CHECK judges it. */
  private[sinks] def recomputeGenerated(spark: SparkSession, root: String,
                                        version: Long, df: DataFrame,
                                        assigned: Set[String]): DataFrame = {
    val gens = scala.util.Try(generatedColumnsAt(spark, root, version))
      .getOrElse(Nil)
    gens.filterNot { case (c, _) => assigned(c) }.foldLeft(df) {
      case (d, (c, e)) =>
        if (d.columns.contains(c)) d.withColumn(c, expr(e)) else d
    }
  }

  /** The tip (version, property map) in ONE read — the content entry
    * points resolve it once and thread it into [[applyGenerated]] and
    * [[enforceConstraints]] (the postCommit props-once discipline,
    * applied to the commit entry too). None for a fresh table. */
  private[sinks] def tipVersionAndProps(spark: SparkSession,
                                        root: String): Option[(Long, Map[String, String])] =
    currentVersion(spark, root).map(v => (v, headerOrEmpty(spark, root, v).props))

  /** [[withGeneratedColumns]] against the table's tip — the content
    * entry points apply this EARLY so partition-touch probes and the
    * merge union see the column materialized (a null-filled union
    * would claim explicit nulls the gen_ CHECK refuses). */
  private[sinks] def applyGenerated(spark: SparkSession, root: String,
                                    df: DataFrame,
                                    tip: Option[(Long, Map[String, String])]): DataFrame =
    tip.map { case (_, props) =>
      withGeneratedColumns(df, generatedColumns(props))
    }.getOrElse(df)

  /** Parse [[TargetFileSizeProp]] from a property map; loud on
    * garbage, None when unset. */
  private[sinks] def targetFileSize(props: Map[String, String]): Option[Long] =
    props.get(TargetFileSizeProp).map { raw =>
      val t = try raw.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$TargetFileSizeProp must be a positive byte count, got '$raw'")
      }
      // Upper bound (1 PiB) keeps every consumer's arithmetic inside
      // Long (`2 * t`, `bytes + t - 1`) — an unbounded value would
      // wrap negative and flip EVERY partition non-conformant,
      // turning each OPTIMIZE into a non-converging full rewrite
      // (the driftPct overflow lesson, applied to bytes).
      require(t > 0 && t <= (1L << 50),
        s"$TargetFileSizeProp must be a byte count in (0, 2^50], got $t")
      t
    }

  /** Pending ledger: value = the encoded error to set, or the empty
    * string = CLEAR the property (maintenance for its component
    * recovered). Entries ride the next successful commit and are
    * removed when it wins. */
  private val pendingMaintenanceErrors =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The unflushed ledger entry for `root`, if any — an encoded error,
    * or the empty-string clear sentinel. The async maintenance worker
    * reads this to decide whether a failure needs its OWN property
    * commit (an idle table never commits again, so riding "the next
    * commit" would lose the attribution — the async-sync design
    * note's break #2). */
  private[sinks] def pendingMaintenanceFor(root: String): Option[String] =
    Option(pendingMaintenanceErrors.get(root))

  private[sinks] def recordMaintenanceError(root: String, component: String,
                                            version: Long, e: Throwable): Unit =
    pendingMaintenanceErrors.put(root,
      s"component=$component;version=$version;" +
        s"ts=${System.currentTimeMillis()};message=" +
        URLEncoder.encode(
          Option(e.getMessage).getOrElse(e.getClass.getName).take(500), UTF_8))

  /** Maintenance for `component` completed cleanly: if the table's
    * recorded last error belongs to that component (and no NEW
    * failure is already pending), queue a clear — otherwise one
    * transient blip would flag the table in DESCRIBE DETAIL forever,
    * turning the "MV silently degraded" signal into a permanent
    * false alarm. */
  private[sinks] def recordMaintenanceRecovery(root: String, component: String,
                                               currentProps: Map[String, String]): Unit =
    if (currentProps.get(MaintenanceErrorProp)
          .exists(_.startsWith(s"component=$component;")))
      pendingMaintenanceErrors.putIfAbsent(root, "")

  /** Lost-race retry budget of every [[occ]] commit. */
  private[sinks] val MaxCommitAttempts = 10

  /** What one [[occ]] attempt body decided: [[NoOp]] ends the operation
    * without a commit, [[Staged]] asks the primitive to publish. */
  private[sinks] sealed trait Attempt

  /** No commit is needed; the operation returns `version`. */
  private[sinks] final case class NoOp(version: Long) extends Attempt

  /** A commit computed against the attempt's tip: the manifest lists
    * `carried ++ fresh`; `edit` turns the predecessor's carried-forward
    * [[ManifestHeader]] into this version's (see [[writeManifest]]);
    * `schema` (by-name, read only after the publish wins) and `basis`
    * feed [[writeStats]]; `compactEligible` feeds [[postCommit]].
    * `rebase`, given (base, head) after a lost publish, returns the
    * carried entries that let the SAME fresh files publish at head + 1
    * — or None for a true conflict, which recomputes. */
  private[sinks] final class Staged(
      val carried: Seq[ManifestEntry],
      val fresh: Seq[ManifestEntry],
      val operation: String,
      val partitionHeader: String,
      schema0: => Option[org.apache.spark.sql.types.StructType] = None,
      val edit: ManifestHeader => ManifestHeader = identity,
      val basis: Option[Long] = None,
      val compactEligible: Boolean = true,
      val rebase: Option[(Long, Long) => Option[Seq[ManifestEntry]]] = None)
      extends Attempt {
    def schema: Option[org.apache.spark.sql.types.StructType] = schema0
  }

  /** The one optimistic-concurrency commit protocol every table
    * mutation publishes through (Delta's OptimisticTransaction shape):
    * resolve the tip, run `body` against it, publish its staged commit
    * at EXACTLY tip + 1 (`writeManifest` → `writeStats` → `postCommit`),
    * and on a lost race re-run the body against the winner's tip.
    * Skipping ahead after a lost race would let another writer later
    * publish the skipped number and shadow the newer commit, since
    * "current" is the max committed version. A missing table is refused
    * unless `needsTable = false`, which hands the body tip 0. Returns
    * the committed (or the no-op) version; [[MaxCommitAttempts]] lost
    * races raise `ConcurrentModificationException`. */
  private[sinks] def occ(spark: SparkSession, root: String, race: String,
                         needsTable: Boolean = true)(body: Long => Attempt): Long = {
    var lost = 0
    while (lost < MaxCommitAttempts) {
      val cur = currentVersion(spark, root) match {
        case Some(v) => v
        case None if !needsTable => 0L
        case None => throw new IllegalStateException(s"no committed snapshot under $root")
      }
      body(cur) match {
        case NoOp(v) => return v
        case s: Staged =>
          var carried = s.carried
          var v = cur + 1
          var rebases = 0
          var publishing = true
          while (publishing) {
            if (writeManifest(spark, root, v, carried ++ s.fresh, s.operation,
                s.partitionHeader, s.edit)) {
              writeStats(spark, root, v, carried, s.fresh, s.schema, s.basis)
              postCommit(spark, root, v, s.compactEligible)
              return v
            }
            publishing = s.rebase.exists { check =>
              val head = currentVersion(spark, root).getOrElse(0L)
              rebases += 1
              val rebased =
                if (head >= v && rebases <= MaxCommitAttempts) check(cur, head) else None
              rebased.foreach { c => carried = c; v = head + 1 }
              rebased.isDefined
            }
          }
      }
      lost += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the $race race $MaxCommitAttempts times under $root")
  }

  /** A metadata-only [[Staged]] commit: every data file of `cur`
    * carries by reference under the tip's partition header. */
  private[sinks] def metadataCommit(spark: SparkSession, root: String, cur: Long,
                                    operation: String,
                                    edit: ManifestHeader => ManifestHeader = identity,
                                    schema: => Option[org.apache.spark.sql.types.StructType] = None): Staged =
    new Staged(manifest(spark, root, cur), Nil, operation,
      header(spark, root, cur).partcol.getOrElse(""), schema, edit, compactEligible = false)

  /** Publish version `version`: its header is the predecessor's
    * carried-forward metadata ([[ManifestHeader.carried]]; nothing for
    * a first commit or a missing predecessor) after `edit`, with this
    * commit's committer token, timestamp, required features, operation
    * and partition spec. Returns whether this writer won the version. */
  private[sinks] def writeManifest(spark: SparkSession, root: String, version: Long,
                            entries: Seq[ManifestEntry],
                            operation: String = "",
                            partitionCol: String = "",
                            edit: ManifestHeader => ManifestHeader = identity): Boolean = {
    val f = fs(spark, root)
    val token = java.util.UUID.randomUUID().toString
    val tmp = new Path(root, s"manifests/.v_$version.tmp-$token")
    // A local root writes the tmp without a `.crc` sidecar: the
    // hard-link publish below cannot carry one along atomically.
    val local = f.getUri.getScheme == "file"
    val out =
      if (local) FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRaw
        .create(tmp, false)
      else f.create(tmp, false)
    // ONE read of the predecessor's header block serves every
    // carried-forward metadata family (ts clamp, constraints,
    // properties, column mapping, the COPY INTO ledger). A missing or
    // unreadable predecessor (first commit, vacuumed) carries nothing.
    // The ledger carries forward like every other piece of table
    // metadata: if it lived only in the manifest of the version that
    // loaded the files, a routine VACUUM would drop it and a re-fired
    // COPY INTO would silently double-load.
    val prev = headerOrEmpty(spark, root, version - 1)
    // Commit wall-clock, clamped monotonic against the predecessor so
    // `TIMESTAMP AS OF` resolution can trust that version order and
    // timestamp order agree even across clock skew between writers
    // (Delta's in-commit-timestamp clamp). Predecessor missing
    // (first commit, vacuumed, or pre-#ts) → the clock as-is.
    val ts = {
      val now = System.currentTimeMillis()
      prev.ts.map(p => math.max(now, p + 1)).getOrElse(now)
    }
    val edited = edit(prev.carried)
    // A pending swallowed-maintenance failure (or recovery-clear)
    // rides THIS commit (see [[MaintenanceErrorProp]]) — merged after
    // the caller's edit so it can never be lost to a replacement, and
    // cleared from the ledger only when this attempt wins. A pending
    // entry at version 1 is always stale (hooks run POST-commit, so a
    // fresh table cannot have failed yet — it belongs to a dropped
    // table recreated at the same path): never merged, and discarded
    // only when THIS attempt wins (below) — a losing v1 creator
    // racing an existing table must not delete the winner's
    // legitimate pending error.
    val maintErr =
      if (version == 1) None else Option(pendingMaintenanceErrors.get(root))
    // Identity allocations made by this thread's writeDataFiles: the
    // advanced `last` marks must ride the same manifest the data files
    // do — a later commit of their own could be lost to a crash,
    // reopening the ids for reallocation under a reader that already
    // saw them. Root-matched (a residue for another table never
    // applies), monotone-guarded below.
    val idAllocs: Map[String, Long] =
      Option(pendingIdentityAllocs.get()) match {
        case Some((r, a)) if r == root => a
        case _ => Map.empty[String, Long]
      }
    val effectiveProperties = {
      val base = edited.properties
      val withErr = maintErr match {
        case Some("") => base.filterNot(_._1 == MaintenanceErrorProp)
        case Some(err) =>
          base.filterNot(_._1 == MaintenanceErrorProp) :+
            (MaintenanceErrorProp -> err)
        case None => base
      }
      if (idAllocs.isEmpty) withErr
      else withErr.map {
        case (k, v0) if k.startsWith(IdentityPropPrefix) &&
            idAllocs.contains(k.stripPrefix(IdentityPropPrefix)) =>
          // MONOTONE guard: the mark only moves in step direction.
          // A fresh allocation is always ahead of the base it was
          // computed from; an exception-abandoned residue might not
          // be ahead of a mark another attempt advanced meanwhile —
          // applying it would regress the mark into REALLOCATION, so
          // it is dropped (its unpublished ids become a benign gap).
          val fields = v0.split(";").iterator
            .map(_.split("=", 2)).collect { case Array(a, b) => a -> b }.toMap
          val cur = fields.get("last").flatMap(s => scala.util.Try(s.toLong).toOption)
          val step = fields.get("step").flatMap(s => scala.util.Try(s.toLong).toOption)
          val next = idAllocs(k.stripPrefix(IdentityPropPrefix))
          val ahead = (for { c <- cur; st <- step } yield
            if (st > 0) next > c else next < c).getOrElse(false)
          if (!ahead) k -> v0
          else k -> v0.split(";").map {
            case s if s.startsWith("last=") => s"last=$next"
            case s => s
          }.mkString(";")
        case other => other
      }
    }
    // Reader-mandatory features of THIS manifest (see the gate in
    // [[manifest]]): derived per version rather than carried — a
    // version that stopped using a feature (REORG PURGE dropped every
    // DV, a restore snapped the column mapping away) is readable
    // again by readers without it. `#require` lines ride the same
    // atomic publish as everything else.
    val required =
      (if (edited.renames.nonEmpty || edited.dropped.nonEmpty) Seq("colmap") else Nil) ++
      (if (entries.exists(_.dv.nonEmpty)) Seq("dv") else Nil) ++
      (if (partitionCol.contains(",")) Seq("multipart") else Nil)
    val headers = edited.copy(committer = Some(token), ts = Some(ts), required = required,
      op = Some(operation).filter(_.nonEmpty), partcol = Some(partitionCol).filter(_.nonEmpty),
      properties = effectiveProperties).render
    try out.write((headers ++ entries.map { e =>
      val base = s"${URLEncoder.encode(e.partition, UTF_8)}\t${e.path}"
      // A DV attachment appends exactly two more fields; DV-free
      // entries keep the two-field line, byte-identical to what every
      // earlier version of this store wrote.
      if (e.dv.isEmpty) base else s"$base\t${e.dv}\t${e.dvRows}"
    }).mkString("\n").getBytes(UTF_8))
    finally out.close()
    val dst = manifestPath(root, version)
    // Atomic create-if-absent publish. `FileSystem.rename` on the local
    // filesystem (and many object-store connectors) silently
    // OVERWRITES an existing destination, so exists()-then-rename lets
    // two racing committers both "win" a version. On the local
    // checksum filesystem even `FileContext.rename(..., Rename.NONE)`
    // is check-then-act — it tests that the destination is absent,
    // then renames the data file and its `.crc` one after the other —
    // so two committers can both publish and leave one's data under
    // the other's checksum (the version then fails every read with a
    // ChecksumException). A local root therefore publishes with
    // `Files.createLink`: one atomic syscall that fails when the
    // target exists, over a tmp that has no `.crc` to split from.
    // Other filesystems keep the no-overwrite rename.
    val renamed = try {
      if (local)
        java.nio.file.Files.createLink(java.nio.file.Paths.get(f.makeQualified(dst).toUri),
          java.nio.file.Paths.get(f.makeQualified(tmp).toUri))
      else
        org.apache.hadoop.fs.FileContext.getFileContext(
          f.getUri, spark.sparkContext.hadoopConfiguration)
          .rename(f.makeQualified(tmp), f.makeQualified(dst),
            org.apache.hadoop.fs.Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.nio.file.FileAlreadyExistsException => false
      case e: java.io.IOException if f.exists(dst) &&
          !header(spark, root, version).committer.contains(token) => false
    }
    // Belt-and-suspenders: even if a filesystem's rename raced through,
    // the published content carries the committer token — only the
    // committer whose token survived owns the version; anyone else
    // retries on the next number.
    val won = renamed && header(spark, root, version).committer.contains(token)
    // A local publish leaves the tmp as a second link to the manifest.
    if ((local || !won) && f.exists(tmp)) f.delete(tmp, false)
    // Every Nth commit refreshes the `_last_checkpoint` hint so
    // current-version resolution stays O(N) forever. Our manifests are
    // SELF-CONTAINED snapshots (unlike Delta's delta-logs), so the
    // checkpoint needs no state rollup — a version pointer alone
    // bounds the walk.
    if (won && version % checkpointInterval(spark) == 0)
      writeLastCheckpoint(spark, root, version)
    // The pending maintenance error is now durably recorded — clear it
    // (only if unchanged: a newer failure recorded mid-write must ride
    // the next commit, not vanish). A WON version-1 commit discards
    // any stale entry outright (it predates this table).
    if (won && version == 1) pendingMaintenanceErrors.remove(root)
    if (won) maintErr.foreach(err =>
      pendingMaintenanceErrors.remove(root, err))
    // A WON commit made the allocation durable — clear the slot. A
    // LOST one keeps it: the merge REBASE path re-publishes the same
    // data files under a later manifest number and still needs the
    // mark; a full-recompute retry overwrites the slot in its own
    // writeDataFiles.
    if (won && idAllocs.nonEmpty) pendingIdentityAllocs.remove()
    won
  }

  /** Observability hook for specs: number of raw stats-sidecar reads
    * since JVM start. A planning pass through [[tableWithIndex]] must
    * bump this exactly once — the sidecar is parsed one time and both
    * the file index and the recorded schema derive from that parse. */
  private[graft] val sidecarReads = new java.util.concurrent.atomic.AtomicLong

  /** One raw read+parse of version `v`'s stats sidecar: (per-file
    * stats, recorded schema). Degrades to (empty, None) on a missing
    * or torn sidecar — DERIVED metadata must never block a read (the
    * manifest alone is authoritative). */
  private[sinks] def statsSidecar(spark: SparkSession, root: String, version: Long):
      (Map[String, FileStats.FileStatsEntry], Option[org.apache.spark.sql.types.StructType]) = {
    val f = fs(spark, root)
    val p = statsPath(root, version)
    // getFileStatus doubles as the existence probe (same single RPC
    // the old exists() was) AND the cache fingerprint. ABSENCE is
    // never cached: the sidecar legitimately appears after its
    // manifest (writeStats runs post-publish), so a reader landing in
    // that window must keep probing.
    val fp = try Some(metaFp(f, p))
    catch { case _: java.io.FileNotFoundException => None }
    fp match {
      case None => (Map.empty, None)
      case Some(fpv) =>
        val key = MetaKey(root, version)
        val cache = metaCacheEnabled(spark)
        if (cache) statsCache.get(key, fpv) match {
          case Some(v) => return v
          case None => ()
        }
        try {
          sidecarReads.incrementAndGet()
          val in = f.open(p)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          val schema = try text.linesIterator.collectFirst {
            case l if l.startsWith("#schema\t") =>
              org.apache.spark.sql.types.DataType.fromJson(
                URLDecoder.decode(l.stripPrefix("#schema\t"), UTF_8))
                .asInstanceOf[org.apache.spark.sql.types.StructType]
          } catch { case scala.util.control.NonFatal(_) => None }
          val parsed = (FileStats.decode(text), schema)
          // A torn parse degrades below WITHOUT caching — it keeps
          // being re-probed, exactly the old per-access behavior.
          if (cache) statsCache.put(key, fpv, parsed)
          parsed
        } catch {
          case scala.util.control.NonFatal(_) => (Map.empty, None)
        }
    }
  }

  /** Per-file column stats of a committed version (file-skipping
    * metadata, see [[FileStats]]), keyed by manifest-relative path.
    * Empty when the version predates stats or its sidecar write was
    * interrupted — readers then simply don't prune. */
  def statsFor(spark: SparkSession, root: String, version: Long): Map[String, FileStats.FileStatsEntry] =
    statsSidecar(spark, root, version)._1

  /** The snapshot schema recorded at commit time (evolution-merged
    * across versions), if the stats sidecar carries one. */
  def schemaFor(spark: SparkSession, root: String, version: Long): Option[org.apache.spark.sql.types.StructType] =
    statsSidecar(spark, root, version)._2

  /** Metadata-priced row count of a version (default current): Σ
    * per-file row counts from the stats sidecar − Σ deletion-vector
    * cardinalities from the manifest. Zero data files are opened —
    * the reference's own stats call is metadata-priced
    * (mongodb_loader.py:271-299 `collStats`/`count_documents`), and
    * Delta answers COUNT(*) from the log the same way. None when any
    * manifest file lacks a stats row (legacy/torn sidecar) — callers
    * fall back to the scan rather than undercount. */
  def rowCount(spark: SparkSession, root: String,
               version: Option[Long] = None): Option[Long] =
    partitionRowCounts(spark, root, version).map(_.values.sum)

  /** Per-partition DV-adjusted row counts keyed by ENCODED partition
    * value ([[decodePartValue]] splits composites) — [[rowCount]]'s
    * contract, partition-grained. Powers `SHOW PARTITIONS`' row_count
    * column. */
  def partitionRowCounts(spark: SparkSession, root: String,
                         version: Option[Long] = None): Option[Map[String, Long]] = {
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val entries = manifest(spark, root, v)
    val stats = statsFor(spark, root, v)
    if (!entries.forall(e => stats.contains(e.path))) None
    else Some(entries.groupBy(_.partition).view.mapValues(
      _.map(e => stats(e.path).rows - e.dvRows).sum).toMap)
  }

  /** The SAFE widening of two primitive types, if any: the ladder a
    * parquet scan can replay against carried files (Spark 4's parquet
    * readers widen INT32→INT64 and FLOAT→DOUBLE in place, SPARK-40876)
    * — so recording the wider type keeps every already-written file
    * readable. None = not a widening pair (caller refuses or keeps the
    * old behavior). Mirrors the reference's Pydantic numeric coercion
    * (unified_product_schema.py:145-207), minus the lossy directions. */
  private[sinks] def widen(a: org.apache.spark.sql.types.DataType,
                           b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val fractional: Seq[DataType] = Seq(FloatType, DoubleType)
    // catalogString = the type modulo nullability flags (an
    // array<float> whose containsNull differs is the same stored
    // type; DataType.sameType is private[spark]).
    if (a.catalogString == b.catalogString) Some(a)
    else if (integral.contains(a) && integral.contains(b))
      Some(integral(math.max(integral.indexOf(a), integral.indexOf(b))))
    else if (fractional.contains(a) && fractional.contains(b))
      Some(DoubleType)
    else (a, b) match {
      // Value-preserving decimal widening: the union type keeps every
      // integer digit (max p−s) and every fractional digit (max s) of
      // both sides — DECIMAL(p,s) → DECIMAL(p',s') with p'≥p, s'≥s,
      // p'−s' ≥ p−s, the only directions that can't round or overflow
      // a stored value. Same-scale precision growth (decimal
      // arithmetic's natural drift — sum/avg bump precision) is the
      // s'=s special case. Carried files written under the narrower
      // type keep reading via the parquet decimal widening/rescale
      // conversion (exercised by TypeWideningSpec). A union that
      // would exceed decimal's max precision refuses (None) — a
      // 38-digit overflow can't be represented, so the caller's loud
      // refusal beats silent truncation. Reference anchor: prices are
      // the reference's decimal-shaped domain
      // (unified_product_schema.py:52-64, midocean_transformer.py:341).
      case (da: DecimalType, db: DecimalType) =>
        val scale = math.max(da.scale, db.scale)
        val intDigits = math.max(da.precision - da.scale,
          db.precision - db.scale)
        if (intDigits + scale <= DecimalType.MAX_PRECISION)
          Some(DecimalType(intDigits + scale, scale))
        else None
      case _ => None
    }
  }

  /** Union-by-name schema evolution: `a`'s fields (typed as `b`'s when
    * both carry the name — the newest write wins, EXCEPT that numeric
    * pairs record their safe WIDENING so carried files written under
    * the narrower type keep reading), then `b`'s new fields,
    * everything nullable (pre-evolution files read the new columns as
    * typed nulls). */
  private[sinks] def schemaUnion(a: org.apache.spark.sql.types.StructType,
                          b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val aNames = a.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      a.fields.map { f =>
        bByName.get(f.name) match {
          case Some(bf) => bf.copy(nullable = true,
            dataType = widen(f.dataType, bf.dataType).getOrElse(bf.dataType))
          case None => f.copy(nullable = true)
        }
      } ++
        b.fields.filterNot(f => aNames(f.name)).map(_.copy(nullable = true)))
  }

  /** Write version `v`'s stats sidecar: footer stats for the NEW data
    * files (one metadata read each — cost ∝ incoming batch), stats of
    * carried files copied from the previous sidecar (immutable files,
    * stats never go stale). Called AFTER the manifest wins — the
    * sidecar is derived metadata, so this method must never fail the
    * commit: any error degrades to "no sidecar" (readers fall back to
    * footer merging and simply don't skip), matching [[statsFor]]'s
    * read-side degradation; throwing here would make a retry of an
    * already-published version publish a duplicate. Sizing note: at a
    * large file count, swap the driver-side loop for a parallelized
    * footer read over the new paths — the format doesn't change. */
  private[sinks] def writeStats(spark: SparkSession, root: String, v: Long,
                         carried: Seq[ManifestEntry], fresh: Seq[ManifestEntry],
                         newSchemaLogical: Option[org.apache.spark.sql.types.StructType],
                         basis: Option[Long] = None): Unit = try {
    val f = fs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    // The recorded schema is PHYSICAL (it describes what the parquet
    // files hold; the logical view is derived by applying the
    // version's column mapping on read). Callers pass their batch's
    // LOGICAL schema — translate renamed fields back. Identity for
    // unmapped tables.
    val newSchema = newSchemaLogical.map { s =>
      val (renames, _) = headerOrEmpty(spark, root, v).mapping
      if (renames.isEmpty) s
      else org.apache.spark.sql.types.StructType(s.fields.toSeq.map(fld =>
        renames.get(fld.name).map(ph => fld.copy(name = ph)).getOrElse(fld)))
    }
    // `basis` points the prior-metadata lookup at a version other than
    // v-1 (RESTORE seeds from the restore target, so the recorded
    // schema snaps back EXACTLY — no union with the abandoned tip).
    val pv = basis.getOrElse(v - 1)
    val prior = if (pv >= 1) statsFor(spark, root, pv) else Map.empty[String, FileStats.FileStatsEntry]
    // The recorded schema must cover every column readable from the
    // manifest's files. Normally that is priorSchema ∪ newSchema, but
    // when the previous version has no recorded schema (pre-stats
    // table being upgraded, torn sidecar) the carried files' columns
    // are NOT covered by the batch schema alone — recording just the
    // batch would make table() silently drop carried-only columns.
    // Derive the prior side from the carried files' own footers then
    // (a metadata read over the carried list, once, at commit time).
    val priorSchema = (if (pv >= 1) schemaFor(spark, root, pv) else None)
      .orElse(if (carried.isEmpty) None
              else Some(readEntries(spark, root, carried).schema))
    // Footer stats for files missing a prior entry (the fresh batch,
    // plus legacy gaps) read in PARALLEL on a bounded driver pool: the
    // reads are independent metadata fetches (a partitioned commit
    // easily writes ~100 files), and the sequential loop was a
    // measured slice of every commit's wall time (guide §1 profile;
    // the method's own sizing note asked for exactly this). Any
    // failure propagates to the outer degrade-to-no-sidecar handler,
    // as before.
    val missing = (carried ++ fresh).filterNot(e => prior.contains(e.path))
    val computed: Map[String, FileStats.FileStatsEntry] =
      if (missing.isEmpty) Map.empty
      else if (missing.size == 1) {
        val p = new Path(root, missing.head.path)
        Map(missing.head.path ->
          FileStats.fromFooter(conf, p, f.getFileStatus(p).getLen))
      } else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, missing.size))
        try {
          import scala.jdk.CollectionConverters._
          val tasks: Seq[java.util.concurrent.Callable[(String, FileStats.FileStatsEntry)]] =
            missing.map { e =>
              (() => {
                val p = new Path(root, e.path)
                e.path -> FileStats.fromFooter(conf, p, f.getFileStatus(p).getLen)
              }): java.util.concurrent.Callable[(String, FileStats.FileStatsEntry)]
            }
          pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
        } finally pool.shutdown()
      }
    val all = (carried ++ fresh).map { e =>
      e.path -> prior.getOrElse(e.path, computed(e.path))
    }
    // Carried files keep reading through the evolved schema, so the
    // recorded schema is the running union across versions — except
    // under an explicit basis (RESTORE), where the basis version's
    // schema is recorded verbatim: restoring v1 after a widening merge
    // must NOT resurface the later columns as all-null.
    val schema =
      if (basis.isDefined) newSchema.orElse(priorSchema)
      else (priorSchema, newSchema) match {
        case (Some(p), Some(n)) => Some(schemaUnion(p, n))
        case (p, n) => n.orElse(p)
      }
    val tmp = new Path(root, s"manifests/.v_$v.stats.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, false)
    try {
      val header = schema.map(s => s"#schema\t${URLEncoder.encode(s.json, UTF_8)}\n").getOrElse("")
      out.write((header + FileStats.encode(all)).getBytes(UTF_8))
    } finally out.close()
    // Only the manifest winner reaches here, so a plain rename is fine.
    f.delete(statsPath(root, v), false)
    f.rename(tmp, statsPath(root, v))
    // This version's sidecar just changed IN PLACE — drop any cached
    // parse (the fingerprint would catch it too; the explicit hook
    // closes the same-ms/same-length aliasing window).
    statsCache.invalidate(MetaKey(root, v))
    // BLOOM sidecar carry: filters are path-keyed over immutable
    // files, so the predecessor's sidecar stays valid for every
    // carried path — copying it forward keeps point-lookup skipping
    // alive at the version readers actually resolve (without this,
    // ONE metadata-only commit — ANALYZE refresh, SET TBLPROPERTIES —
    // silently reverted every reader to stats-only skipping until the
    // next manual/rider build). Fresh files simply have no entry and
    // are kept conservatively until the next build. Cost: one sidecar
    // byte-copy per commit, the same cost class as the stats encode
    // above. The short walk covers a failed predecessor write; deep
    // historic gaps heal at the next [[addBloomFilters]] build.
    if (!f.exists(bloomPath(root, v))) {
      var back = pv
      var src: Option[Path] = None
      while (src.isEmpty && back >= math.max(1L, pv - 8)) {
        val p = bloomPath(root, back)
        if (f.exists(p)) src = Some(p)
        back -= 1
      }
      src.foreach { p =>
        val btmp = new Path(root,
          s"manifests/.v_$v.bloom.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        org.apache.hadoop.fs.FileUtil.copy(f, p, f, btmp, false, conf)
        f.rename(btmp, bloomPath(root, v))
        bloomCache.invalidate(MetaKey(root, v))
      }
    }
  } catch {
    case scala.util.control.NonFatal(e) =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"stats sidecar for v_$v under $root not written (${e.getClass.getSimpleName}: " +
          s"${e.getMessage}); readers fall back to footer merging without skipping")
  }

  /** Per-file Bloom filters of a committed version (see
    * [[addBloomFilters]]), keyed by manifest-relative path then
    * column. Empty when none were built. */
  def bloomFor(spark: SparkSession, root: String, version: Long): Map[String, Map[String, FileStats.BloomStats]] = {
    if (version < 1) return Map.empty
    val f = fs(spark, root)
    val p = bloomPath(root, version)
    val fp = try Some(metaFp(f, p))
    catch { case _: java.io.FileNotFoundException => None }
    fp match {
      case None => Map.empty // absence never cached, same as stats
      case Some(fpv) =>
        val key = MetaKey(root, version)
        val cache = metaCacheEnabled(spark)
        if (cache) bloomCache.get(key, fpv) match {
          case Some(v) => return v
          case None => ()
        }
        try {
          val in = f.open(p)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          val parsed = FileStats.decodeBlooms(text)
          if (cache) bloomCache.put(key, fpv, parsed)
          parsed
        } catch {
          // Same degradation contract as statsFor: derived metadata only.
          case scala.util.control.NonFatal(_) => Map.empty
        }
    }
  }

  /** Opt-in point-lookup skipping: build per-file Bloom filters over
    * `cols` for version `version` (default current) and publish them
    * as a bloom sidecar. Min/max stats can't prune equality probes
    * into high-cardinality columns in ARRIVAL order (every file's
    * range spans the domain); a Bloom filter skips by content instead
    * — the Delta "bloom filter index" use case.
    *
    * Each file's filter is sized from ITS distinct-value count
    * (`bitsPerValue` bits each, Delta's default sizing) — a fixed
    * width would saturate on large files and silently stop pruning.
    * The build is fully distributed: positions fold into 64-bit words
    * via a `bit_or` hash aggregate, so the driver collects only
    * bitmap words (m/64 rows per file), never value sets.
    *
    * Cost: one `approx_count_distinct` pass + one build pass over the
    * files that don't already carry a bloom for every requested
    * column — carried files' filters copy forward (immutable files),
    * so re-running after each commit costs ∝ the new batch. False
    * positives only ever KEEP a file (~1% at 10 bits/value, k=3);
    * false negatives are impossible, so results never change. */
  def addBloomFilters(spark: SparkSession, root: String, cols: Seq[String],
                      bitsPerValue: Int = 10, k: Int = 3,
                      version: Option[Long] = None): Unit = {
    require(bitsPerValue > 0 && k > 0, s"need positive sizing, got $bitsPerValue/$k")
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val entries = manifest(spark, root, v)
    // Carry-forward walks PAST bloom-less predecessors: metadata-only
    // commits (ANALYZE refresh, SET TBLPROPERTIES, the async ledger
    // flush) never copy the bloom sidecar, so `v − 1` alone would
    // force a FULL rebuild after every one of them. Filters are keyed
    // by manifest-relative path and files are immutable, so a sidecar
    // any distance back is valid for every path still listed. Bounded
    // walk — a pathological all-metadata history degrades to a
    // rebuild, never an error.
    val prior = {
      var carried = Map.empty[String, Map[String, FileStats.BloomStats]]
      var back = v - 1
      while (carried.isEmpty && back >= math.max(1L, v - 1000)) {
        carried = bloomFor(spark, root, back)
        back -= 1
      }
      carried ++ bloomFor(spark, root, v)
    }
    val need = entries.filter(e =>
      !cols.forall(c => prior.get(e.path).exists(_.contains(c))))
    val f = fs(spark, root)
    val built: Map[String, Map[String, FileStats.BloomStats]] =
      if (need.isEmpty) Map.empty
      else {
        val paths = need.map(e => f.makeQualified(new Path(root, e.path)).toString)
        // Qualified URI → manifest-relative path (suffix match is safe:
        // data-file paths are UUID-unique within the table).
        def relOf(uri: String): String =
          need.map(_.path).find(uri.endsWith).getOrElse(
            throw new IllegalStateException(s"scanned file not in manifest: $uri"))
        val df = spark.read.option("mergeSchema", "true").parquet(paths: _*)
        // Resolve a requested column to (selection, leaf type, sidecar
        // key): a TOP-LEVEL field wins verbatim (its key escapes any
        // literal dots — [[FileStats.statKey]] discipline), otherwise
        // the name is a DOT PATH into nested structs (`supplier.id`,
        // `variants.sku`-style leaves — the reference's own index spec,
        // unified_product_schema.py:229-248), registered under the
        // same dot-joined key [[FileStats.normalizeNested]] translates
        // predicates to, so nested point lookups get Bloom skipping
        // exactly like flat ones. Array elements are refused: an
        // `exists()` lambda never translates to a pushable equality.
        def resolve(c: String): (org.apache.spark.sql.Column,
            org.apache.spark.sql.types.DataType, String) =
          df.schema.fields.find(_.name == c) match {
            case Some(f) =>
              (col(s"`$c`"), f.dataType, FileStats.statKey(Seq(c)))
            case None =>
              val parts = c.split("\\.").toSeq
              val leaf = parts.foldLeft(
                  Option(df.schema: org.apache.spark.sql.types.DataType)) {
                case (Some(org.apache.spark.sql.types.StructType(fields)), p) =>
                  fields.find(_.name == p).map(_.dataType)
                case _ => None
              }
              val dt = leaf.getOrElse(throw new IllegalArgumentException(
                s"bloom column '$c' is neither a top-level field nor a " +
                  s"struct-leaf dot path of ${df.schema.fieldNames.mkString(", ")}"))
              (col(parts.map(p => s"`$p`").mkString(".")), dt,
                FileStats.statKey(parts))
          }
        cols.flatMap { c =>
          val (selection, leafType, statsKey) = resolve(c)
          val tpe = leafType.simpleString
          require(Set("int", "bigint", "double", "string")(tpe),
            s"bloom filters support int/bigint/double/string, '$c' is $tpe")
          val src = df.select(input_file_name().as("__f"),
              selection.as("__v"))
            .where(col("__v").isNotNull)
          val mByFile: Map[String, Long] = src
            .groupBy(col("__f")).agg(approx_count_distinct(col("__v")).as("__ndv"))
            .collect()
            .map { r =>
              val m = math.max(512L, ((r.getLong(1) * bitsPerValue + 63) / 64) * 64)
              // BloomStats.m is an Int bit count: past ~2^31 bits the
              // narrowing below would go negative and the bitmap
              // allocation would throw far from the cause. A single
              // file with >200M distinct values is mis-sized anyway —
              // fail with the fix spelled out.
              require(m <= Int.MaxValue - 63,
                s"bloom for '$c' in ${r.getString(0)} needs $m bits " +
                  s"(ndv=${r.getLong(1)} × $bitsPerValue); split the file or lower bitsPerValue")
              r.getString(0) -> m
            }.toMap
          if (mByFile.isEmpty) Nil
          else {
            val mDf = broadcast(spark.createDataFrame(
              spark.sparkContext.parallelize(mByFile.toSeq.map(x =>
                org.apache.spark.sql.Row(x._1, x._2)), 1),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("__f", org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("__m", org.apache.spark.sql.types.LongType)))))
            val words = src.join(mDf, "__f")
              .select(col("__f"), explode(array((0 until k).map(s =>
                pmod(xxhash64(lit(s), col("__v")), col("__m"))): _*)).as("__pos"))
              .select(col("__f"),
                shiftrightunsigned(col("__pos"), 6).cast("int").as("__w"),
                expr("shiftleft(1L, CAST(__pos % 64 AS INT))").as("__b"))
              .groupBy(col("__f"), col("__w")).agg(bit_or(col("__b")).as("__bits"))
              .collect()
            words.groupBy(_.getString(0)).toSeq.map { case (uri, rs) =>
              val m = mByFile(uri).toInt
              val arr = new Array[Long](m / 64)
              rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
              (relOf(uri), statsKey, FileStats.BloomStats(tpe, m, k, arr.toIndexedSeq))
            }
          }
        }.groupBy(_._1).map { case (p, xs) => p -> xs.map(x => x._2 -> x._3).toMap }
      }
    val merged = entries.map { e =>
      e.path -> (prior.getOrElse(e.path, Map.empty) ++ built.getOrElse(e.path, Map.empty))
    }.filter(_._2.nonEmpty)
    val tmp = new Path(root, s"manifests/.v_$v.bloom.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, false)
    try out.write(FileStats.encodeBlooms(merged).getBytes(UTF_8)) finally out.close()
    f.delete(bloomPath(root, v), false)
    f.rename(tmp, bloomPath(root, v))
    // In-place rewrite of this version's bloom sidecar — see the
    // stats-sidecar invalidation note in [[writeStats]].
    bloomCache.invalidate(MetaKey(root, v))
  }

  /** Manifest-backed [[GraftFileIndex]] for a version: the file
    * listing is the manifest, file sizes come from the stats sidecar
    * (zero per-file filesystem calls when stats exist), and data
    * filters prune via per-file min/max. */
  def fileIndex(spark: SparkSession, root: String, version: Option[Long] = None,
                partitions: Option[Seq[String]] = None): GraftFileIndex = {
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    fileIndexFrom(spark, root, v, partitions, statsFor(spark, root, v))
  }

  /** [[fileIndex]] with the stats already parsed — lets a planning
    * pass that also needs the recorded schema read the sidecar ONCE
    * (see [[tableWithIndex]] and the sidecarReads spec). */
  private[sinks] def fileIndexFrom(spark: SparkSession, root: String, v: Long,
                            partitions: Option[Seq[String]],
                            stats: Map[String, FileStats.FileStatsEntry],
                            derivers: Seq[FileStats.GeneratedDeriver] = Nil): GraftFileIndex = {
    val all = manifest(spark, root, v)
    val wanted = partitions match {
      case Some(ps) => val keep = ps.toSet; all.filter(e => keep(e.partition))
      case None => all
    }
    val blooms = bloomFor(spark, root, v)
    val f = fs(spark, root)
    val files = wanted.map { e =>
      val p = f.makeQualified(new Path(root, e.path))
      val st = stats.get(e.path) match {
        case Some(se) =>
          (new org.apache.hadoop.fs.FileStatus(se.len, false, 1, 128L * 1024 * 1024, 0L, p), Some(se))
        case None => (f.getFileStatus(p), None)
      }
      (st._1, st._2, blooms.getOrElse(e.path, Map.empty[String, FileStats.BloomStats]))
    }
    new GraftFileIndex(new Path(root), files,
      tableRoot = Some(root), version = Some(v),
      prunedPartitions = partitions, derivers = derivers)
  }

  /** Read a snapshot THROUGH the planning-time file-skipping index:
    * `table(...).filter(...)` opens only the files whose stats ranges
    * can satisfy the filters (plus Catalyst's usual parquet pushdown
    * inside each file). [[read]]/[[readVersion]] stay as the plain
    * all-files path; this is the scale path for selective queries
    * over large snapshots. */
  def table(spark: SparkSession, root: String, version: Option[Long] = None,
            partitions: Option[Seq[String]] = None): DataFrame =
    tableWithIndex(spark, root, version, partitions)._1

  /** [[table]] plus its index, whose `lastCandidateFiles` records how
    * many files the most recent planning pass kept (specs + SCALE). */
  def tableWithIndex(spark: SparkSession, root: String, version: Option[Long] = None,
                     partitions: Option[Seq[String]] = None): (DataFrame, GraftFileIndex) = {
    // Resolve the tip ONCE and pin it: the uncached shape resolved
    // currentVersion here AND inside relationWithIndex — two
    // checkpoint reads + existence walks per planning pass (and a
    // race window where they could disagree about the tip).
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val (rel, idx, entries) = relationWithIndex(spark, root, Some(v), partitions)
    val df = applyColumnMapping(applyDvs(spark, root,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .baseRelationToDataFrame(rel), entries), headerOrEmpty(spark, root, v).mapping)
    // Optimizer-statistics rider ([[SnapshotStats]]): exact live
    // rowCount + last-ANALYZE column stats on the scan's catalogTable
    // hook. Plans only, never results — any failure here degrades to
    // the bare (stats-free) frame. The stats land on the BARE scan
    // under the DV wrapper, which physically emits the pre-DV count —
    // so `physicalRows` (the wrapper's own selectivity nets out the
    // deletes; attaching the adjusted count there would double-count).
    // Identical values for DV-free tables.
    val withStats =
      try SnapshotStats.catalogTableFor(spark, root, v, idx, entries, rel.schema,
          physicalRows = true)
        .map { ct =>
          org.apache.spark.sql.graft.GraftPlans.dataFrame(spark,
            df.queryExecution.analyzed.transform {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
                if lr.relation eq rel => lr.copy(catalogTable = Some(ct))
            })
        }.getOrElse(df)
      catch { case scala.util.control.NonFatal(_) => df }
    (withStats, idx)
  }

  /** The skipping-indexed relation behind [[table]] — also what the
    * `graft-snapshot` format ([[SnapshotSource]]) hands Spark, so SQL
    * reads plan through the same [[GraftFileIndex]]. */
  private[graft] def relationWithIndex(spark: SparkSession, root: String,
                                       version: Option[Long], partitions: Option[Seq[String]]):
      (org.apache.spark.sql.execution.datasources.HadoopFsRelation, GraftFileIndex,
        Seq[ManifestEntry]) = {
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    // ONE sidecar parse feeds both the skipping index and the recorded
    // schema (it used to be parsed twice per planning pass).
    val (stats, recorded) = statsSidecar(spark, root, v)
    val all = manifest(spark, root, v)
    val hdr = header(spark, root, v)
    val wanted = partitions match {
      case Some(ps) => val keep = ps.toSet; all.filter(e => keep(e.partition))
      case None => all
    }
    val schema = recorded.getOrElse(readEntries(spark, root, all).schema)
    // Generated-column partition predicates ([[FileStats
    // .generatedDerivers]]): the recorded monotone expressions let
    // the index derive generated-column bounds from input-column
    // predicates — the pruning that survives stats-opaque physical
    // types (INT96 timestamps). Failure here sheds the derivation,
    // never the read.
    val derivers =
      try {
        val props = hdr.props
        val gens = generatedColumns(props)
        if (gens.isEmpty) Nil
        else FileStats.generatedDerivers(spark, gens, schema,
          props.get(GeneratedTzProp))
      } catch { case scala.util.control.NonFatal(_) => Nil }
    val idx = fileIndexFrom(spark, root, v, partitions, stats, derivers)
    // Present the bucket layout when the property is set AND every
    // selected file provably participates: parseable bucket id under
    // the recorded width, and every bucket column still present at its
    // recorded type (hash placement is type-sensitive). Any drift
    // degrades to a plain scan — co-location is an optimization, never
    // an assumption.
    val bucketSpec = hdr.props.get(BucketSpecProp).flatMap(parseBucketSpec).flatMap { sp =>
      val renames = hdr.renames.toMap
      val fields = schema.fields.map(f => f.name -> f.dataType).toMap
      def typedPhys(cs: Seq[(String, String)]): Option[Seq[String]] = {
        val named = cs.map { case (c, t) => (physicalNameOf(renames, c), t) }
        if (named.forall { case (c, t) => fields.get(c).exists(_.sql == t) })
          Some(named.map(_._1))
        else None
      }
      val allStamped = wanted.forall(e =>
        bucketIdOf(new Path(e.path).getName).exists(_ < sp.n))
      typedPhys(sp.cols).filter(_ => allStamped).map { bcols =>
        // Sort columns are declared whenever recorded and resolvable:
        // every file written under a sorted spec IS sorted, and Spark
        // itself only trusts the ordering when each bucket has at most
        // one file (multi-file buckets fall back to a real sort).
        org.apache.spark.sql.catalyst.catalog.BucketSpec(sp.n, bcols,
          if (sp.sortCols.isEmpty) Nil
          else typedPhys(sp.sortCols).getOrElse(Nil))
      }
    }
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx, new org.apache.spark.sql.types.StructType(), schema, bucketSpec,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty[String, String])(spark)
    // The relation alone does NOT apply deletion vectors — callers
    // that hand it to Spark directly must wrap when `wanted` carries
    // DVs (tableWithIndex / SnapshotSource / ResolveGraftSnapshot all
    // do). Returned entries are the pruned selection for exactly that.
    (rel, idx, wanted)
  }

  /** Undo Spark/Hive partition-directory escaping (`%XX` sequences
    * only — unlike URL decoding, a literal `+` is a plus). */
  private[graft] def unescapePathName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(s.charAt(i)); i += 1 }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Hash-bucket layout property (`graft.bucket.spec`, set by
    * [[bucketTable]]): `<n>;<col>:<sqlType>[,<col>:<sqlType>…]` —
    * LOGICAL column names and their SQL types at bucketing time. Once
    * set, every data write lays its files out in Spark's bucket
    * discipline (rows shuffled by `pmod(hash(cols), n)`, bucket id in
    * the file name), and reads present a bucketed relation — so joins
    * and aggregations keyed on the bucket columns plan WITHOUT a
    * shuffle on either side (the classic co-located bucketed join; at
    * 100 TB the single biggest shuffle eliminator there is), and point
    * predicates on the bucket columns prune to 1-of-n buckets before
    * stats are even consulted.
    *
    * Conservative by construction, on BOTH ends: the writer applies
    * the layout only when every bucket column is present with exactly
    * the recorded type, and the reader presents a bucketed relation
    * only when every live file carries a parseable bucket id of the
    * recorded spec. Any drift — a widened bucket column (hash(int) ≠
    * hash(long) for the same value), a renamed column, legacy files
    * from before bucketing — degrades to a plain scan, never to wrong
    * co-location. Re-run [[bucketTable]] to re-establish the layout. */
  val BucketSpecProp = "graft.bucket.spec"

  /** Parsed `graft.bucket.spec`: bucket count, bucket columns, and
    * (optionally) SORT columns — each column recorded with the SQL
    * type it had at clustering time. */
  private[graft] final case class TableBucketSpec(
      n: Int, cols: Seq[(String, String)], sortCols: Seq[(String, String)])

  /** Names and SQL types are URL-encoded in the spec string: a
    * comma-bearing type (`DECIMAL(10,2)`, `MAP<STRING,INT>`) or an
    * exotic column name must round-trip, or bucketing on it would
    * silently never engage (write stamps, read can't parse → plain
    * scans forever). Decoding is the identity on pre-encoding specs,
    * so existing tables keep parsing. */
  private[sinks] def formatBucketSpec(n: Int, cols: Seq[(String, String)],
                                      sortCols: Seq[(String, String)] = Nil): String = {
    def enc(x: String) =
      java.net.URLEncoder.encode(x, "UTF-8").replace("+", "%20")
    def fmt(cs: Seq[(String, String)]) =
      cs.map { case (c, t) => s"${enc(c)}:${enc(t)}" }.mkString(",")
    s"$n;${fmt(cols)}" + (if (sortCols.isEmpty) "" else s";${fmt(sortCols)}")
  }

  private[sinks] def parseBucketSpec(v: String): Option[TableBucketSpec] = {
    // %XX-only decode (unescapePathName): lenient on legacy literals —
    // a raw '%' that isn't a valid escape stays literal instead of
    // throwing, and '+' is never a space (URLDecoder would mangle a
    // literal '+' column name and fail reads on a literal '%').
    def dec(x: String) = unescapePathName(x)
    def cols(s: String): Seq[(String, String)] =
      s.split(",").toSeq.filter(_.nonEmpty).map { c =>
        val Array(name, tpe) = c.split(":", 2); (dec(name), dec(tpe))
      }
    v.split(";", 3) match {
      case Array(n, bs) =>
        scala.util.Try(TableBucketSpec(n.trim.toInt, cols(bs), Nil))
          .toOption.filter(sp => sp.n >= 2 && sp.cols.nonEmpty)
      case Array(n, bs, ss) =>
        scala.util.Try(TableBucketSpec(n.trim.toInt, cols(bs), cols(ss)))
          .toOption.filter(sp => sp.n >= 2 && sp.cols.nonEmpty)
      case _ => None
    }
  }

  /** The bucket count when the spec is ENGAGED at `version` — every
    * bucket/sort column still present in the recorded schema at its
    * recorded type (the writer's own gate). A drifted spec returns
    * None: compaction must then behave as unbucketed, or its floor
    * would assume a re-bucketing that writeDataFiles will skip. */
  private[sinks] def bucketSpecEngaged(spark: SparkSession, root: String,
                                       version: Long): Option[Int] =
    header(spark, root, version).props.get(BucketSpecProp).flatMap(parseBucketSpec).flatMap { sp =>
      schemaFor(spark, root, version).flatMap { sc =>
        val renames = headerOrEmpty(spark, root, version).renames.toMap
        val fields = sc.fields.map(f => f.name -> f.dataType).toMap
        val ok = (sp.cols ++ sp.sortCols).forall { case (c, t) =>
          fields.get(physicalNameOf(renames, c)).exists(_.sql == t) }
        if (ok) Some(sp.n) else None
      }
    }

  /** Spark's own bucket-file recognizer (BucketingUtils): trailing
    * `_<digits>` before the optional extension. Normal parquet task
    * files (`part-00000-<uuid>-c000.snappy.parquet`) never match —
    * there is no underscore before the digits. */
  private val BucketedFileName = """.*_(\d+)(?:\..*)?$""".r
  private[graft] def bucketIdOf(fileName: String): Option[Int] = fileName match {
    case BucketedFileName(id) => scala.util.Try(id.toInt).toOption
    case _ => None
  }

  /** Write `df`'s rows as new data files and return their manifest
    * entries. The directory name embeds the target version for
    * debuggability plus a UUID so a crashed attempt's orphan can never
    * collide with a retry. The partition column is DUPLICATED into a
    * `__part` directory key so files group by partition on disk while
    * the real column stays inside the parquet (readers never depend on
    * directory layout).
    *
    * When the table records a bucket spec (see [[BucketSpecProp]] —
    * `bucketOverride` seeds it for the [[bucketTable]] rewrite itself,
    * before the property is committed), the frame is shuffled into
    * exactly `n` tasks by `HashPartitioning(bucketCols, n)` — so task
    * id IS the Spark bucket id — and each written file is renamed to
    * carry its bucket id in the name, the convention Spark's bucketed
    * reads group files by. `sortWithin` then re-establishes a caller's
    * within-file ordering (a z-order key) that the bucket shuffle
    * would otherwise destroy. Bucket columns missing or type-drifted
    * in `df` skip the layout (readers degrade conservatively). */
  private[sinks] def writeDataFiles(spark: SparkSession, df: DataFrame, root: String,
                             v: Long, partitionCols: Seq[String],
                             translate: Boolean = true,
                             bucketOverride: Option[(Int, Seq[String])] = None,
                             sortWithin: Seq[org.apache.spark.sql.Column] = Nil): Seq[ManifestEntry] = {
    require(partitionCols.nonEmpty, "snapshot writes need a partition spec")
    val dataDir = s"data/v_$v-${java.util.UUID.randomUUID().toString.take(8)}"
    val dirs = partDirNames(partitionCols.size)
    // Column mapping's logical→physical boundary: content paths hand
    // LOGICAL frames here (translate = true, the default); layout
    // paths (compact / zorder / purge) read files RAW and re-write
    // them physical-as-is (translate = false) — translating an
    // already-physical frame would trip the collision guard. The
    // `__part*` directory keys are derived from the caller's columns
    // BEFORE translation, so both call shapes pass the names that
    // exist in their frame.
    // Bucket layout: resolve the spec (override for the bucketTable
    // rewrite itself; otherwise the table property), map the recorded
    // LOGICAL names onto this frame (physical for raw layout rewrites),
    // and verify presence + exact recorded type — hash placement is
    // type-sensitive, so a widened column must NOT keep bucketing.
    // Recorded SORT columns resolve under the same discipline; a
    // caller-supplied sortWithin (a z-order key) takes precedence.
    // Spec lookup against v-1 — the predecessor this write builds on,
    // which the commit primitive already resolved (no extra currentVersion
    // probe on the hot write path; v == 1 is a fresh table with no
    // properties to consult).
    def resolveTyped(cs: Seq[(String, String)]): Option[Seq[String]] = {
      val renames = if (translate) Map.empty[String, String]
        else headerOrEmpty(spark, root, v - 1).mapping._1
      val named = cs.map { case (c, t) => (physicalNameOf(renames, c), t) }
      val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
      if (named.forall { case (c, t) => fields.get(c).exists(_.sql == t) })
        Some(named.map(_._1))
      else None
    }
    // ONE header read serves every write-shaping property (bucket
    // spec, optimized writes, sizing, generated/identity columns) —
    // this is the hot write path. CONTENT writes (translate = true)
    // read it LOUDLY: a swallowed transient failure here would
    // silently skip identity allocation / generated computation /
    // bucket stamping for this batch — null ids and unstamped files
    // that no later read can repair. Layout rewrites tolerate the
    // miss (they re-write rows as-is).
    val priorProps: Map[String, String] =
      if (v <= 1) Map.empty
      else if (translate) header(spark, root, v - 1).props
      else scala.util.Try(header(spark, root, v - 1).props)
        .getOrElse(Map.empty)
    // Generated columns (graft.generated.*): a content batch missing
    // one gets it computed HERE — before partition-dir derivation and
    // bucket routing, the two consumers that need it materialized.
    // Layout rewrites (translate = false) re-write files that already
    // carry it. A PRESENT column is the caller's explicit claim; the
    // auto-registered gen_ CHECK already judged it at enforce time.
    val dfg0 =
      if (!translate) df
      else {
        // Zone-dependent expressions only compute consistently under
        // the recorded creation zone — refuse a mismatched writer
        // BEFORE any file lands ([[enforceGeneratedTz]]).
        enforceGeneratedTz(spark, priorProps, df.schema)
        withGeneratedColumns(df, generatedColumns(priorProps))
      }
    // Identity columns (graft.identity.*): a content batch missing one
    // (or carrying NULL slots — the merge union null-fills an absent
    // incoming column) gets contiguous values allocated from the
    // recorded mark; the advanced mark rides THIS version's manifest
    // ([[recordIdentityAlloc]] → writeManifest injection), so a lost
    // OCC race re-allocates against the winner's mark and ids are
    // never duplicated or reused. Layout rewrites (translate = false)
    // re-write rows that already carry their ids.
    var identityCache: Option[DataFrame] = None
    val dfg =
      if (!translate) dfg0
      else {
        val specs = identityColumns(priorProps)
        if (specs.isEmpty) dfg0
        else {
          // ONE materialization serves the allocator's counting jobs
          // AND the write below: without it a non-deterministic
          // upstream could disagree between the count that advances
          // the mark and the rows actually written (ghost or
          // duplicate ids), and even a deterministic plan would
          // recompute in full for every allocator job. Unpersisted
          // right after the parquet write. Identity tables only.
          val src = dfg0.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          identityCache = Some(src)
          var allocs = Map.empty[String, Long]
          val out = specs.foldLeft(src: DataFrame) { case (d, s0) =>
            val (d2, newLast) = assignIdentity(spark, d, s0)
            if (newLast != s0.last) allocs += s0.col -> newLast
            d2
          }
          recordIdentityAlloc(root, allocs)
          out
        }
      }
    val spec = if (bucketOverride.isDefined) None
      else priorProps.get(BucketSpecProp).flatMap(parseBucketSpec)
    val bucketCols: Option[(Int, Seq[String])] = bucketOverride.orElse(
      spec.flatMap(sp => resolveTyped(sp.cols).map((sp.n, _))))
    val specSort: Seq[org.apache.spark.sql.Column] =
      if (bucketCols.isEmpty) Nil
      else spec.toSeq.flatMap(sp =>
        if (sp.sortCols.isEmpty) Nil
        else resolveTyped(sp.sortCols).map(_.map(col)).getOrElse(Nil))
    val bucketed = bucketCols match {
      case Some((n, cols)) => dfg.repartition(n, cols.map(col): _*)
      // Optimized writes (Delta's optimizeWrite, opt-in per table):
      // an AQE REBALANCE shuffle keyed by the partition columns, so a
      // fragmented batch (N upstream tasks × M partition values) lands
      // as ~one right-sized file per partition value instead of N —
      // preventing the small files auto-compact would otherwise fix
      // AFTER the fact. AQE splits a skewed hot partition into several
      // advisory-sized files rather than serializing it through one
      // task (why this is a rebalance hint, not repartition-by-key).
      // CONTENT commits only: layout rewrites (translate = false) own
      // their distribution, and an engaged bucket layout IS the
      // distribution.
      case None if translate &&
          priorProps.get(OptimizeWriteProp).contains("true") =>
        dfg.hint("rebalance", partitionCols.map(col): _*)
      case None => dfg
    }
    val withDirs = partitionCols.zip(dirs).foldLeft(bucketed) {
      case (d, (c, dir)) => d.withColumn(dir, col(c))
    }
    // In-task ordering: the partition-dir keys lead so the writer's
    // required ordering (group rows by target directory) is satisfied
    // by OUR sort — otherwise FileFormatWriter inserts its own
    // dirs-only, non-stable sort and destroys the secondary order.
    // A recorded SORTED-BY spec stays PRIMARY under any caller sort (a
    // z-order key): the reader DECLARES the spec order unconditionally,
    // so every written file must actually carry it — the caller's key
    // clusters within spec-sort ties instead of replacing it.
    // A caller's explicit sortWithin applies even when the bucket
    // layout is skipped (no spec, or a drifted one): dropping it
    // would silently discard the ordering a layout rewrite asked for.
    val effectiveSort = specSort ++ sortWithin
    val ordered =
      if (effectiveSort.nonEmpty)
        withDirs.sortWithinPartitions(dirs.map(col) ++ effectiveSort: _*)
      else withDirs
    val physical =
      if (!translate) ordered
      else toPhysical(ordered, headerOrEmpty(spark, root, v - 1).mapping)
    // Advisory file sizing (graft.targetFileSize): rows-per-file from
    // the PREDECESSOR sidecar's measured bytes-per-row — same data
    // shape, same codec, no write-time guessing. One extra sidecar
    // read, gated on the property. Bucketed layouts are exempt (the
    // sorted-bucket reader contract needs one file per bucket); a
    // fresh v=1 table has no measurement yet and writes unsized.
    val maxRecords: Option[Long] =
      if (bucketCols.isDefined || v <= 1) None
      else targetFileSize(priorProps).flatMap { t =>
        val st = statsSidecar(spark, root, v - 1)._1.values
        val (bytes, rows) = (st.map(_.len).sum, st.map(_.rows).sum)
        // Double math: `t * rows` overflows Long for PiB-scale tables
        // (t=128 MB × 7e10 rows ≈ 9e18), which would silently emit one
        // row per file; a double's 15 digits are far beyond what a
        // rows-per-file ESTIMATE needs.
        if (bytes > 0 && rows > 0)
          Some(math.max(1L, (t.toDouble * rows / bytes).toLong))
        else None
      }
    // Commit-protocol cost (guide §7.3 "commit-protocol/rename frames",
    // §6 small files): FileOutputCommitter v1 renames every task's
    // files ON THE DRIVER during commitJob — serialized, and measured
    // here as a visible slice of each write job (a partitioned commit
    // writes tasks × partition-values files). v2 moves the rename into
    // each task's own commitTask (parallel, and the standard
    // recommendation on object stores where driver-side rename is a
    // COPY). Safe under this store's protocol: the data directory is
    // private until writeManifest publishes it atomically, and a
    // failed/partial write job leaves only unreferenced files that
    // VACUUM collects — same as v1's leftover _temporary. The
    // _SUCCESS marker is dead weight here (the manifest IS the commit
    // marker), so skip writing it.
    try maxRecords.foldLeft(physical.write.mode("error")
        .options(fastCommitterOptions)) { (w, n) =>
      w.option("maxRecordsPerFile", n)
    }.partitionBy(dirs: _*)
      .parquet(new Path(root, dataDir).toString)
    finally identityCache.foreach(_.unpersist(false))
    val f = fs(spark, root)
    // Walk exactly k directory levels, accumulating the partition
    // components (Hive-unescaped) and the on-disk subpath.
    def walk(p: Path, depth: Int, comps: Vector[String],
             sub: Vector[String]): Seq[ManifestEntry] =
      f.listStatus(p).toSeq.flatMap { s =>
        if (depth < dirs.size) {
          val prefix = s"${dirs(depth)}="
          if (s.isDirectory && s.getPath.getName.startsWith(prefix))
            walk(s.getPath, depth + 1,
              comps :+ unescapePathName(s.getPath.getName.stripPrefix(prefix)),
              sub :+ s.getPath.getName)
          else Nil
        } else if (s.getPath.getName.endsWith(".parquet"))
          Seq(ManifestEntry(encodePartValue(comps),
            (s"$dataDir" +: sub :+ s.getPath.getName).mkString("/")))
        else Nil
      }
    val entries = walk(new Path(root, dataDir), 0, Vector.empty, Vector.empty)
    if (bucketCols.isEmpty) entries
    else entries.map { e =>
      // Task id == bucket id (the frame was shuffled into exactly n
      // tasks by the bucket hash above); stamp it into the name in
      // Spark's `_NNNNN` convention. A rename failure fails the commit
      // attempt loudly — a half-stamped file set must never publish.
      val p = new Path(root, e.path)
      val name = p.getName
      val id = "part-(\\d+)".r.findFirstMatchIn(name).map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(
          s"unexpected data file name for bucket stamping: $name"))
      val dot = name.indexOf('.')
      val renamed =
        if (dot < 0) f"${name}_$id%05d"
        else f"${name.substring(0, dot)}_$id%05d${name.substring(dot)}"
      if (!f.rename(p, new Path(p.getParent, renamed)))
        throw new IllegalStateException(s"bucket-stamp rename failed for $p")
      e.copy(path = e.path.stripSuffix(name) + renamed)
    }
  }

  private[sinks] def readEntries(spark: SparkSession, root: String,
                          entries: Seq[ManifestEntry],
                          recorded: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val paths = entries.map(e => new Path(root, e.path).toString)
    // Schema evolution: after a mergeCommit whose batch added columns,
    // one manifest references old-schema files (carried by reference)
    // AND new-schema files. With the version's RECORDED schema in hand
    // the scan reads through it directly — pre-evolution files read
    // added columns as typed nulls and WIDENED columns through the
    // parquet widening conversions (footer merging would refuse an
    // INT32/INT64 mix outright). Without it (legacy/torn sidecar) the
    // footers are merged — a driver-side metadata operation over the
    // listed files only (the reference evolves via Pydantic
    // defaulting, unified_product_schema.py:145-207).
    val reader = recorded match {
      case Some(sc) => spark.read.schema(sc)
      case None => spark.read.option("mergeSchema", "true")
    }
    applyDvs(spark, root, reader.parquet(paths: _*), entries)
  }

  /** [[readEntries]] through `version`'s recorded schema when the
    * sidecar carries one. */
  private[sinks] def readEntriesAt(spark: SparkSession, root: String,
                            entries: Seq[ManifestEntry],
                            version: Long): DataFrame =
    readEntries(spark, root, entries, schemaFor(spark, root, version))

  /** Read a SUBSET of a version's files through the full read boundary
    * (deletion vectors + column mapping) — the candidate-read
    * primitive for index-driven retrieval (TextIndex / IVF probes),
    * which must never resurrect DV-deleted rows or expose physical
    * column names by reading data files raw. `candidates` are path
    * strings that END WITH the manifest-relative path (the form
    * index sidecars record); paths not in the version's manifest are
    * ignored. An empty selection returns an empty frame in the
    * version's logical schema. */
  def readFiles(spark: SparkSession, root: String, version: Long,
                candidates: Seq[String]): DataFrame = {
    val entries = manifest(spark, root, version)
      .filter(e => candidates.exists(_.endsWith(e.path)))
    if (entries.isEmpty) readVersion(spark, root, version).limit(0)
    else applyColumnMapping(readEntriesAt(spark, root, entries, version),
      headerOrEmpty(spark, root, version).mapping)
  }

  /** Read the current snapshot; `partitions` prunes at the MANIFEST
    * level (no directory listing of unrelated partitions at all). */
  def read(spark: SparkSession, root: String,
           partitions: Option[Seq[String]] = None): DataFrame = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    readVersion(spark, root, v, partitions)
  }

  /** Time travel: read a specific committed version, presented through
    * that version's column mapping (`mappingVersion` overrides which
    * version's mapping applies — the CDC feed reads BOTH sides of a
    * diff under the newer version's names, Delta CDF's latest-schema
    * convention). */
  def readVersion(spark: SparkSession, root: String, version: Long,
                  partitions: Option[Seq[String]] = None,
                  mappingVersion: Option[Long] = None): DataFrame = {
    val all = manifest(spark, root, version)
    val wanted = partitions match {
      case Some(ps) => val keep = ps.toSet; all.filter(e => keep(e.partition))
      case None => all
    }
    val mapping = headerOrEmpty(spark, root, mappingVersion.getOrElse(version)).mapping
    // A fully-pruned selection keeps the snapshot's schema (limit 0
    // over the full file set) rather than failing on an empty path
    // list. A version with NO files at all (a deleteCommit emptied
    // the table) is still a valid, readable snapshot: its schema
    // lives in the stats sidecar.
    if (all.isEmpty)
      schemaFor(spark, root, version) match {
        case Some(sc) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          logicalSchema(sc, mapping))
        case None => throw new IllegalStateException(
          s"version $version of $root has no files and no schema sidecar")
      }
    else if (wanted.isEmpty)
      applyColumnMapping(readEntriesAt(spark, root, all, version).limit(0), mapping)
    else applyColumnMapping(readEntriesAt(spark, root, wanted, version), mapping)
  }

}
