package graft.sinks

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ANALYZE + cost-based-optimizer statistics for snapshot tables.
  *
  * Two stat tiers, priced differently:
  *
  *   - '''Table-level (rowCount, sizeInBytes): metadata-derived, exact,
  *     and always fresh''' — Σ sidecar row counts minus Σ deletion-vector
  *     cardinalities, per read version, zero scans. Spark's own
  *     `ANALYZE TABLE` numbers go stale after every write; a snapshot
  *     table's manifest IS the statistic.
  *   - '''Column-level (NDV, null count, min/max, lengths): one
  *     explicit ANALYZE scan''' (`ANALYZE TABLE t COMPUTE STATISTICS
  *     FOR COLUMNS …` or [[analyze]]), recorded as table properties by
  *     a metadata-only commit and replayed onto every subsequent read.
  *     Estimates by contract — the optimizer only needs cardinality
  *     ballpark, so staleness across later commits is acceptable (the
  *     standard CBO trade; re-ANALYZE refreshes).
  *
  * Both tiers surface through the `CatalogTable.stats` hook on the
  * read relation ([[catalogTableFor]]), which is exactly where Spark's
  * `LogicalRelation.computeStats` looks: with
  * `spark.sql.cbo.enabled` (and friends `planStats`/`joinReorder`)
  * the optimizer sees true row counts and per-column NDVs instead of
  * compressed-parquet byte guesses — join reordering, selective-filter
  * cardinality, and broadcast decisions on a 100 TB table are only as
  * good as these numbers. Stats can only change PLANS, never results,
  * so every recorded value degrades conservatively: a column whose
  * type drifted since ANALYZE is dropped, a renamed column follows the
  * column mapping, a garbled property is ignored.
  *
  * Reference anchor: the reference engine plans row-at-a-time with no
  * optimizer (pim-etl `etl/pipeline.py` executes fixed plans), so this
  * surface is engine-extension territory; the property-recording
  * convention follows `graft.rollup.*` (Rollup.scala).
  */
object SnapshotStats {

  /** Version the column stats were computed against (informational —
    * stats are estimates and remain attached until re-ANALYZE). */
  val AnalyzedVersionProp = "graft.stats.analyzed.version"

  /** Live row count at ANALYZE time — the drift base
    * [[SnapshotMaintenance.maybeAutoAnalyze]] compares against. */
  val AnalyzedRowsProp = "graft.stats.analyzed.rows"

  /** The column selection the last ANALYZE ran with (empty = all
    * supported at run time), so an automatic refresh replays the same
    * intent. PHYSICAL names (stable across renames, like the stats
    * themselves), URL-encoded, comma-joined — the replay side maps
    * them back through the then-current column mapping. */
  val AnalyzedColsProp = "graft.stats.analyzed.cols"

  /** The histogram intent of the last ANALYZE (bin count; empty =
    * none), replayed by the auto-analyze rider so a drift refresh
    * never strips recorded histograms. */
  val AnalyzedHistBinsProp = "graft.stats.analyzed.histBins"

  /** Decode [[AnalyzedHistBinsProp]] — garbage sheds to None (the
    * refresh then records NDV/bounds only, conservative). */
  private[sinks] def recordedHistBins(props: Map[String, String]): Option[Int] =
    props.get(AnalyzedHistBinsProp).filter(_.nonEmpty)
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 2)

  private val ColPrefix = "graft.stats.col."

  /** Decode [[AnalyzedColsProp]] back into [[analyze]]'s `cols` —
    * physical names; a torn escape sheds the entry, never the read. */
  private[sinks] def recordedColSelection(props: Map[String, String]): Option[Seq[String]] =
    props.get(AnalyzedColsProp).filter(_.nonEmpty)
      .map(_.split(",").toSeq.flatMap(s =>
        scala.util.Try(URLDecoder.decode(s, UTF_8)).toOption))

  /** One column's recorded statistics. `min`/`max` are already in
    * `CatalogColumnStat.toExternalString` form for the RUNNING Spark
    * version (recorded and replayed under `CatalogColumnStat.VERSION`,
    * so format and parse can never disagree) — the read side hands
    * them to Spark verbatim. `hist` is an equi-height histogram in
    * `HistogramSerializer` form (base64-gzipped, Spark's own catalog
    * encoding), recorded only when the ANALYZE session had
    * `spark.sql.statistics.histogram.enabled` on. */
  case class ColStat(tpe: String, ndv: Long, nulls: Long,
                     min: Option[String], max: Option[String],
                     avgLen: Option[Long], maxLen: Option[Long],
                     hist: Option[String] = None)

  /** Whether the SESSION can consume the attach at all:
    * `LogicalRelation.computeStats` consults the catalog stats only
    * under `toPlanStats(_, cboEnabled || planStatsEnabled)`, so with
    * both flags off the attach is plan-identical dead weight — and it
    * costs a property read + an analyzed-plan rebuild per read. The
    * read paths skip the whole attach unless a flag is on (measured:
    * point-lookup-heavy suites pay ~2× without the gate). */
  private[sinks] def statsConsumable(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.cbo.enabled", "false").equalsIgnoreCase("true") ||
      spark.conf.get("spark.sql.cbo.planStats.enabled", "false")
        .equalsIgnoreCase("true")

  /** Types Spark's CBO consumes column stats for (mirrors
    * `AnalyzeColumnCommand.supportsType`): fixed-width primitives get
    * NDV/nulls/min/max; string/binary get NDV/nulls/avgLen/maxLen. */
  def supportsType(dt: DataType): Boolean = dt match {
    case _: NumericType | BooleanType | DateType | TimestampType => true
    case StringType | BinaryType => true
    case _ => false
  }

  private[graft] def encode(c: ColStat): String =
    Seq("tpe=" + URLEncoder.encode(c.tpe, UTF_8), s"ndv=${c.ndv}",
      s"nulls=${c.nulls}",
      "min=" + c.min.map(URLEncoder.encode(_, UTF_8)).getOrElse(""),
      "max=" + c.max.map(URLEncoder.encode(_, UTF_8)).getOrElse(""),
      "avgLen=" + c.avgLen.map(_.toString).getOrElse(""),
      "maxLen=" + c.maxLen.map(_.toString).getOrElse("")).mkString("|") +
      // Appended (not a fixed field) so pre-histogram records decode
      // unchanged and histogram-less records stay byte-identical.
      c.hist.map(h => "|hist=" + URLEncoder.encode(h, UTF_8)).getOrElse("")

  /** None on an unrecognized shape: a garbled estimate must degrade to
    * "no stats" (plans fall back to size-only costing), never break
    * the read or silently feed the optimizer nonsense. */
  private[graft] def decode(s: String): Option[ColStat] = {
    val kv = s.split("\\|", -1).flatMap { p =>
      p.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap
    def opt(k: String): Option[String] = kv.get(k).filter(_.nonEmpty)
    try for {
      tpe <- opt("tpe").map(URLDecoder.decode(_, UTF_8))
      ndv <- opt("ndv").map(_.toLong)
      nulls <- opt("nulls").map(_.toLong)
    } yield ColStat(tpe, ndv, nulls,
      opt("min").map(URLDecoder.decode(_, UTF_8)),
      opt("max").map(URLDecoder.decode(_, UTF_8)),
      opt("avgLen").map(_.toLong), opt("maxLen").map(_.toLong),
      // Its OWN Try: a torn %-escape in the appended histogram must
      // shed the histogram alone, not take NDV/bounds with it.
      opt("hist").flatMap(h =>
        scala.util.Try(URLDecoder.decode(h, UTF_8)).toOption))
    catch {
      // URLDecoder throws IllegalArgumentException on a torn %-escape
      // — that garbled ENTRY must shed like a garbled number, not
      // escape and shed every other column's stats with it.
      case _: NumberFormatException | _: IllegalArgumentException => None
    }
  }

  /** Bounds collected as the type's INTERNAL Catalyst value (epoch
    * days / epoch micros / native primitives), so the driver can hand
    * them to `CatalogColumnStat.toExternalString` — whatever text form
    * the running Spark version round-trips. */
  private def boundExpr(c: String, dt: DataType,
                        agg: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = dt match {
    case DateType => agg(datediff(col(c), to_date(lit("1970-01-01"))))
    case TimestampType => agg(unix_micros(col(c)))
    case _ => agg(col(c))
  }

  /** One-scan column ANALYZE over the LIVE logical view (deletion
    * vectors applied, column mapping presented): per target column
    * NDV (HLL), null count, and type-appropriate bounds or lengths,
    * all map-side-combining aggregates in a single pass regardless of
    * column count. Records the results as table properties via a
    * metadata-only commit and returns (new version, analyzed columns).
    *
    * `cols = None` analyzes every supported column; an explicit list
    * validates existence and support loudly (analyzing a misspelled
    * column must not silently no-op). */
  def analyze(spark: SparkSession, root: String,
              cols: Option[Seq[String]] = None,
              histBinsOverride: Option[Int] = None): (Long, Seq[String]) = {
    val cur = SnapshotStore.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val df = SnapshotStore.table(spark, root, Some(cur))
    val schema = df.schema
    val targets: Seq[StructField] = cols match {
      case None => schema.fields.toSeq.filter(f => supportsType(f.dataType))
      case Some(cs) => cs.map { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"ANALYZE: no column '$c' in $root (have ${schema.fieldNames.mkString(", ")})"))
        require(supportsType(f.dataType),
          s"ANALYZE: column '$c' type ${f.dataType.catalogString} carries no CBO stats " +
            "(supported: numeric, boolean, date, timestamp, string, binary)")
        f
      }
    }
    require(targets.nonEmpty,
      s"ANALYZE: no supported columns under $root — nothing to record")
    // EQUI-HEIGHT HISTOGRAMS (Spark's `spark.sql.statistics.histogram
    // .enabled` contract, E138): when the session opts in — or the
    // auto-analyze rider replays a RECORDED intent
    // ([[AnalyzedHistBinsProp]] → `histBinsOverride`) — ordered
    // (numeric/date/timestamp) columns additionally record Spark's own
    // `Histogram`: the statistic that makes RANGE selectivity honest
    // on skew, where NDV-uniform interpolation can be off by orders of
    // magnitude. Cost matches vanilla ANALYZE exactly: ONE percentile
    // pass for the bin endpoints (all columns in one agg), then the
    // per-bin `ApproxCountDistinctForIntervals` aggregates RIDE THE
    // MAIN stats pass — two scans total, paid only under the flag.
    // Everything bins over the internal numeric form (`boundExpr`'s
    // days/micros mapping, the same convention FilterEstimation
    // converts predicate literals with). Degenerate columns (all
    // null) record no histogram; NDV/bounds still ride.
    val histBins: Option[Int] = histBinsOverride.orElse {
      if (spark.conf.get("spark.sql.statistics.histogram.enabled", "false")
          .equalsIgnoreCase("true"))
        Some(spark.conf.get("spark.sql.statistics.histogram.numBins", "254").toInt)
      else None
    }.map(b => math.max(2, b))
    val histTargets =
      if (histBins.isEmpty) Nil
      else targets.zipWithIndex.filter { case (f, _) =>
        f.dataType match {
          case _: NumericType | DateType | TimestampType => true
          case _ => false
        }
      }
    def internalDouble(f: StructField) =
      boundExpr(f.name, f.dataType, identity).cast("double")
    // Histogram pass 1 of 2: equi-percentile bin endpoints.
    val endpointsByIdx: Map[Int, Array[Double]] =
      if (histTargets.isEmpty) Map.empty
      else {
        val n = histBins.get
        val pcts = array((0 to n).map(j => lit(j.toDouble / n)): _*)
        val epAggs = histTargets.map { case (f, i) =>
          percentile_approx(internalDouble(f), pcts, lit(10000)).as(s"ep_$i") }
        val epRow = df.agg(epAggs.head, epAggs.tail: _*).collect()(0)
        histTargets.flatMap { case (_, i) =>
          val at = epRow.fieldIndex(s"ep_$i")
          if (epRow.isNullAt(at)) None
          else {
            val eps = epRow.getSeq[Any](at).map {
              case null => Double.NaN
              case d: Double => d
              case x: Number => x.doubleValue()
            }.toArray
            if (eps.length == n + 1 && !eps.exists(_.isNaN)) Some(i -> eps)
            else None
          }
        }.toMap
      }
    // Main pass: base stats + (histogram pass 2 of 2) per-bin NDVs.
    val ndvAggs = endpointsByIdx.toSeq.sortBy(_._1).map { case (i, eps) =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.expressions.aggregate.ApproxCountDistinctForIntervals
      import org.apache.spark.sql.graftshim.Shim
      val acdi = new ApproxCountDistinctForIntervals(
        Shim.eagerExpression(internalDouble(targets(i))),
        Literal.create(eps, ArrayType(DoubleType)))
      Shim.column(acdi.toAggregateExpression()).as(s"binndv_$i")
    }
    val aggs = (count(lit(1)).as("live_rows") +:
      targets.zipWithIndex.flatMap { case (f, i) =>
      val base = Seq(
        approx_count_distinct(col(f.name)).as(s"ndv_$i"),
        count(when(col(f.name).isNull, lit(1))).as(s"nulls_$i"))
      f.dataType match {
        case StringType | BinaryType => base ++ Seq(
          ceil(avg(length(col(f.name)))).cast("long").as(s"avgLen_$i"),
          max(length(col(f.name))).cast("long").as(s"maxLen_$i"))
        case dt => base ++ Seq(
          boundExpr(f.name, dt, min).as(s"min_$i"),
          boundExpr(f.name, dt, max).as(s"max_$i"))
      }
    }) ++ ndvAggs
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def lng(n: String): Option[Long] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.getLong(i))
    }
    def ext(n: String, colName: String, dt: DataType): Option[String] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None
      else Some(CatalogColumnStat.toExternalString(row.get(i) match {
        case bd: java.math.BigDecimal => Decimal(bd)
        case v => v
      }, colName, dt))
    }
    val histograms: Map[Int, String] = endpointsByIdx.flatMap { case (i, eps) =>
      import org.apache.spark.sql.catalyst.plans.logical.{Histogram, HistogramBin, HistogramSerializer}
      val n = histBins.get
      val at = row.fieldIndex(s"binndv_$i")
      if (row.isNullAt(at)) None
      else {
        val binNdvs = row.getSeq[Long](at)
        if (binNdvs.length != n) None
        else {
          val nonNull = row.getLong(row.fieldIndex("live_rows")) -
            lng(s"nulls_$i").getOrElse(0L)
          val bins = (0 until n).map(b =>
            HistogramBin(eps(b), eps(b + 1), binNdvs(b))).toArray
          Some(i -> HistogramSerializer.serialize(
            Histogram(nonNull.toDouble / n, bins)))
        }
      }
    }
    val stats = targets.zipWithIndex.map { case (f, i) =>
      val (mn, mx, al, ml) = f.dataType match {
        case StringType | BinaryType =>
          (None, None, lng(s"avgLen_$i"), lng(s"maxLen_$i"))
        case _ => (ext(s"min_$i", f.name, f.dataType),
          ext(s"max_$i", f.name, f.dataType), None, None)
      }
      f.name -> ColStat(f.dataType.catalogString,
        lng(s"ndv_$i").getOrElse(0L), lng(s"nulls_$i").getOrElse(0L),
        mn, mx, al, ml, histograms.get(i))
    }
    // Keyed by PHYSICAL column name: physical identity is stable
    // across renames, so stats recorded before an `ALTER … RENAME`
    // keep costing the column after it (the read side re-checks the
    // type, which renames never change).
    val renames = SnapshotStore.headerOrEmpty(spark, root, cur).mapping._1
    val props = Seq(
      AnalyzedVersionProp -> cur.toString,
      AnalyzedRowsProp -> row.getLong(row.fieldIndex("live_rows")).toString,
      // Histograms are part of the recorded ANALYZE intent: the
      // auto-analyze rider replays THIS, not the rider session's
      // conf — otherwise one drift-triggered refresh would silently
      // strip every histogram the explicit ANALYZE recorded.
      AnalyzedHistBinsProp -> histBins.map(_.toString).getOrElse(""),
      AnalyzedColsProp -> cols.toSeq.flatten
        .map(c => URLEncoder.encode(
          SnapshotStore.physicalNameOf(renames, c), UTF_8)).mkString(",")) ++
      stats.map { case (n, st) =>
        (ColPrefix + URLEncoder.encode(
          SnapshotStore.physicalNameOf(renames, n), UTF_8)) -> encode(st) }
    val v = SnapshotStore.setProperties(spark, root, props)
    (v, targets.map(_.name))
  }

  /** Recorded column stats keyed by PHYSICAL column name (how they
    * were recorded, and how plan attributes are named at the scan),
    * filtered to columns that still exist in the physical schema at
    * the recorded type and aren't tombstoned — a rename keeps its
    * stats (physical identity is stable), a type change or drop
    * silently sheds them (stats can steer plans only while they still
    * describe the column). */
  private[graft] def recordedColStats(props: Map[String, String],
                                      physical: StructType,
                                      dropped: Set[String]): Map[String, CatalogColumnStat] =
    props.iterator.collect {
      case (k, v) if k.startsWith(ColPrefix) =>
        (k.stripPrefix(ColPrefix), v)
    }.flatMap { case (rawName, encd) =>
      for {
        name <- scala.util.Try(URLDecoder.decode(rawName, UTF_8)).toOption
        st <- decode(encd)
        f <- physical.fields.find(_.name == name)
        if f.dataType.catalogString == st.tpe && !dropped(name)
      } yield name -> CatalogColumnStat(
        distinctCount = Some(BigInt(st.ndv)),
        min = st.min, max = st.max,
        nullCount = Some(BigInt(st.nulls)),
        avgLen = st.avgLen, maxLen = st.maxLen,
        // A torn histogram sheds ALONE — NDV/bounds still cost the
        // column (the conservative direction for a plans-only input).
        histogram = st.hist.flatMap(h => scala.util.Try(
          org.apache.spark.sql.catalyst.plans.logical.HistogramSerializer
            .deserialize(h)).toOption),
        version = CatalogColumnStat.VERSION)
    }.toMap

  /** The `CatalogTable` attached to a read relation of (root,
    * version) purely so its `stats` reach
    * `LogicalRelation.computeStats`:
    *
    *   - `rowCount`: exact LIVE rows — Σ sidecar per-file counts minus
    *     Σ deletion-vector cardinalities, for the files actually
    *     listed (partition-scoped reads get the subset count). None
    *     when any listed file lacks sidecar stats.
    *   - `sizeInBytes`: Σ listed file bytes (what the relation would
    *     report anyway — unchanged plans when CBO is off).
    *   - `colStats`: the last ANALYZE, keyed to the relation's
    *     PHYSICAL attribute names through the version's column
    *     mapping (plan stats match attributes by name).
    *
    * None when there is nothing useful to attach. Reads the property
    * set of the version — one small manifest-header scan, the same
    * price every mapping-aware read already pays. */
  private[graft] def catalogTableFor(spark: SparkSession, root: String,
                                     version: Long, idx: GraftFileIndex,
                                     entries: Seq[SnapshotStore.ManifestEntry],
                                     physicalSchema: StructType,
                                     physicalRows: Boolean = false): Option[CatalogTable] = {
    if (!statsConsumable(spark)) return None
    val props = SnapshotStore.header(spark, root, version).props
    val mapping = SnapshotStore.headerOrEmpty(spark, root, version).mapping
    val colStats = recordedColStats(props, physicalSchema, mapping._2)
    // `physicalRows`: the caller attaches these stats to the BARE scan
    // UNDER a DV anti-join wrapper, which physically emits the pre-DV
    // count — the wrapper's own filter selectivity then nets out the
    // deletes in costing. Subtracting dvRows here too would
    // double-count delete selectivity (plans only, never results).
    val rowCount =
      if (physicalRows) idx.totalRows
      else idx.totalRows.map(_ - entries.map(_.dvRows).sum)
    if (rowCount.isEmpty && colStats.isEmpty) None
    else Some(CatalogTable(
      identifier = TableIdentifier(new Path(root).getName),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new Path(root).toUri)),
      schema = physicalSchema,
      provider = Some("graft-snapshot"),
      stats = Some(CatalogStatistics(
        sizeInBytes = BigInt(idx.sizeInBytes),
        rowCount = rowCount.filter(_ >= 0).map(BigInt(_)),
        colStats = colStats))))
  }
}
