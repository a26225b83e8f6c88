package graft.sinks

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCapability, TableCatalog}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** V2 `TableCatalog` for snapshot tables — the piece that opens
  * standard time-travel SQL over the store:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/tables")
  *
  *   SELECT * FROM graft.products VERSION AS OF 3      -- warehouse table
  *   SELECT * FROM graft.`/abs/path/t` VERSION AS OF 3 -- path table
  * }}}
  *
  * `VERSION AS OF` resolves through [[loadTable(ident,version)]] — the
  * catalog hook Spark's analyzer calls for time travel — so no parser
  * changes are involved. The returned [[GraftSnapshotTable]] is
  * deliberately THIN: it carries only (root, version) and its schema.
  * The read path does NOT reimplement a V2 parquet scan — the
  * [[ResolveGraftSnapshot]] resolution rule (injected by
  * `graft.GraftExtensions`) swaps the V2 relation for the exact V1
  * `HadoopFsRelation` + [[GraftFileIndex]] that `SnapshotStore.table`
  * builds, so catalog reads keep planning-time file skipping, parquet
  * pushdown, and every DataSkippingSpec-pinned pruning behavior. This
  * V2-table-to-V1-relation conversion is the same architecture Delta
  * Lake uses (DeltaTableV2 → TahoeFileIndex relation in its analysis
  * rule); a native V2 `FileTable` would rebuild its own listing-based
  * index and lose the manifest-driven skipping — the documented reason
  * [[SnapshotSource]] stayed V1.
  *
  * Write surface: reads only. Mutations go through the transactional
  * [[SnapshotStore]] API (commit/mergeCommit/delete/compact) — a SQL
  * `INSERT` cannot express the keyed-merge semantics the store
  * guarantees, so `createTable`/`dropTable` fail loudly instead of
  * pretending. */
class GraftCatalog extends TableCatalog {
  private var catName: String = "graft"
  private var warehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse"))
  }
  override def name(): String = catName

  /** Backtick-quoted absolute paths are roots directly; bare names
    * resolve under the configured warehouse. */
  private def rootFor(ident: Identifier): String = {
    if (ident.namespace.nonEmpty)
      throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
    if (ident.name.startsWith("/")) ident.name
    else warehouse match {
      case Some(w) => s"$w/${ident.name}"
      case None => throw new IllegalArgumentException(
        s"catalog '$catName' has no warehouse configured " +
          s"(spark.sql.catalog.$catName.warehouse) — use graft.`/absolute/path`")
    }
  }

  /** Root resolution for the maintenance-SQL commands (`RESTORE TABLE`
    * / `DESCRIBE HISTORY` via [[org.apache.spark.sql.graft.GraftSqlParser]]):
    * same warehouse/path rules as reads. */
  def tableRoot(ident: Identifier): String = rootFor(ident)

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val spark = SparkSession.active
    val root = rootFor(ident)
    val versions = SnapshotStore.versions(spark, root)
    if (versions.isEmpty)
      throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
    version.foreach { v =>
      require(versions.contains(v),
        s"version $v not committed under $root (have ${versions.mkString(",")})")
    }
    // Resolve "latest" HERE (per loadTable = per query resolution, so
    // freshness is unchanged) and pass the concrete version down —
    // otherwise relationWithIndex would list the manifests directory a
    // second time, doubling the metadata round-trips on object stores.
    GraftSnapshotTable(spark, root, version, version.getOrElse(versions.last))
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** The `VERSION AS OF` hook. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft snapshot versions are numbers, got '$version'")
    }))

  /** The `TIMESTAMP AS OF` hook — Spark hands the evaluated timestamp
    * in MICROseconds since epoch; resolution is "latest version
    * committed at or before" against the `#ts` manifest headers
    * ([[SnapshotStore.versionAtTimestamp]] — before-first errors,
    * after-last reads the tip). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val spark = SparkSession.active
    val root = rootFor(ident)
    if (SnapshotStore.versions(spark, root).isEmpty)
      throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
    load(ident, Some(SnapshotStore.versionAtTimestamp(
      spark, root, Math.floorDiv(timestamp, 1000L))))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse match {
      case Some(w) if namespace.isEmpty =>
        val dir = new java.io.File(w)
        Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(d => d.isDirectory && new java.io.File(d, "manifests").isDirectory)
          .map(d => Identifier.of(Array.empty, d.getName))
      case _ => Array.empty
    }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "unsupported CREATE TABLE shape for a graft catalog — use " +
        "CREATE TABLE <catalog>.`<root>` (<schema>) USING graft-snapshot " +
        "PARTITIONED BY (<cols>), CREATE TABLE … AS SELECT, or " +
        "SnapshotStore.commit / the DataFrame writer")
  override def alterTable(ident: Identifier,
                          changes: org.apache.spark.sql.connector.catalog.TableChange*): Table =
    throw new UnsupportedOperationException("read-only catalog; use SnapshotStore")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("read-only catalog; use SnapshotStore")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("read-only catalog; use SnapshotStore")
}

/** Thin V2 table: identity + schema only; reads are converted to the
  * V1 skipping relation by [[ResolveGraftSnapshot]] before planning.
  * A fresh instance resolves the CURRENT manifest per loadTable call,
  * so — unlike an unversioned `USING graft-snapshot` temp view — a
  * catalog table always reads the latest committed snapshot. */
case class GraftSnapshotTable(spark: SparkSession, root: String,
                              snapshotVersion: Option[Long],
                              resolvedVersion: Long) extends Table {
  /** Built once per loadTable (= once per query resolution), against
    * the version the catalog already resolved — no second listing. */
  lazy val (v1, idx, entries) = SnapshotStore.relationWithIndex(
    spark, root, Some(resolvedVersion), None)
  /** Optimizer statistics rider ([[SnapshotStats]]): exact live
    * rowCount from the manifest + the last ANALYZE's column stats,
    * attached through `LogicalRelation.catalogTable` so
    * `spark.sql.cbo.*` / plan-stats costing sees true cardinalities
    * instead of compressed-parquet byte guesses. Stats steer PLANS
    * only — a failed read here degrades to "no stats", never fails
    * the query. */
  lazy val catalogStats: Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] =
    try SnapshotStats.catalogTableFor(spark, root, resolvedVersion, idx,
      entries, v1.schema)
    catch { case scala.util.control.NonFatal(_) => None }
  /** Same stats but with the PHYSICAL (pre-DV) row count — what the
    * bare scan under a DV anti-join wrapper actually emits. The
    * wrapper applies its own selectivity above, so attaching the
    * DV-adjusted count there would double-count delete selectivity
    * in plan costing. */
  lazy val physicalCatalogStats: Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] =
    try SnapshotStats.catalogTableFor(spark, root, resolvedVersion, idx,
      entries, v1.schema, physicalRows = true)
    catch { case scala.util.control.NonFatal(_) => None }
  /** The version's column mapping (renames + dropped physicals) —
    * empty for unmapped tables. */
  lazy val mapping: (Map[String, String], Set[String]) =
    SnapshotStore.headerOrEmpty(spark, root, resolvedVersion).mapping
  /** Deletion vectors or column mapping present? Decides whether
    * [[ResolveGraftSnapshot]] can hand Spark the bare file relation or
    * must wrap it (DV anti-join and/or the logical-name projection —
    * both filter/prune-transparent to Catalyst). */
  lazy val hasDvs: Boolean = entries.exists(_.dv.nonEmpty)
  lazy val needsWrap: Boolean =
    hasDvs || mapping._1.nonEmpty || mapping._2.nonEmpty
  /** The DV-applied, mapping-presented read, only built when needed.
    * The inner scan carries [[physicalCatalogStats]] (keyed to
    * physical attribute names) so CBO costing reaches through the
    * DV/mapping wrappers too. */
  lazy val dvPlan: LogicalPlan = SnapshotStore.presentLogical(
    SnapshotStore.applyDvs(spark, root,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .baseRelationToDataFrame(v1), entries), mapping)
    .queryExecution.analyzed
    .transform {
      case lr: LogicalRelation if lr.relation eq v1 =>
        lr.copy(catalogTable = physicalCatalogStats)
    }
  override def name(): String =
    s"graft.`$root`" + snapshotVersion.map(v => s" VERSION AS OF $v").getOrElse("")
  override def schema(): StructType =
    SnapshotStore.logicalSchema(v1.schema, mapping)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
}

/** Resolution rule: V2 snapshot relation → the V1 `HadoopFsRelation`
  * with the skipping [[GraftFileIndex]], preserving the analyzed
  * output attributes so references above stay valid. */
case class ResolveGraftSnapshot(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSnapshotTable] =>
        val t = r.table.asInstanceOf[GraftSnapshotTable]
        if (!t.needsWrap)
          LogicalRelation(t.v1, r.output, t.catalogStats,
            isStreaming = false, stream = None)
        else {
          // Deletion vectors / column mapping: substitute the wrapped
          // plan, aliasing its output onto the analyzed attribute ids
          // so references above this relation stay valid. Same
          // columns/types — only the expression ids need pinning.
          val child = t.dvPlan
          org.apache.spark.sql.catalyst.plans.logical.Project(
            child.output.zip(r.output).map { case (a, o) =>
              org.apache.spark.sql.catalyst.expressions.Alias(a, o.name)(
                exprId = o.exprId)
            }, child)
        }
    }
}
