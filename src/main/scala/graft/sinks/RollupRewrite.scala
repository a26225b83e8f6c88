package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, ExprId, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Transparent MATERIALIZED-VIEW REWRITE onto incrementally-maintained
  * rollups ([[graft.operators.Rollup]]) — the Databricks/Snowflake MV
  * query-rewrite shape: a `GROUP BY` aggregate over a snapshot scan is
  * answered from the maintained per-group state instead of the corpus
  * when a registered rollup PROVABLY covers it. At 100 TB the rollup
  * table is the group count, not the row count — a dashboard query
  * drops from a full scan to a few metadata files plus a tiny
  * re-aggregation, and the rollup's change-feed maintenance keeps it
  * priced per commit window.
  *
  * Registration is explicit: `spark.graft.rollups` names rollup roots
  * (comma-separated); each root self-describes via the properties
  * [[graft.operators.Rollup.sync]] records (source root, group/sum/
  * min-max columns, identity-derive flag). The rewrite fires only when
  * ALL of the following hold — otherwise the scan proceeds untouched:
  *
  *  - the aggregate sits over a BARE snapshot relation of the rollup's
  *    source (deterministic projections and filters only; a DV
  *    anti-join or join breaks the shape — never rewritten);
  *  - the scan is either NOT partition-pruned, or every partition
  *    column is a rollup group column — then the pruned subset is
  *    exactly representable per-group, and the same partition-value
  *    membership is rebased onto the rollup rows (the
  *    `WHERE part = 'x' GROUP BY status` dashboard shape);
  *  - the rollup's synced cursor EQUALS the scan's pinned version —
  *    freshness is exact, including under time travel;
  *  - every grouping expression is a plain column of the rollup's
  *    group set, and every filter predicate references group columns
  *    only (group-grain predicates are exactly representable against
  *    per-group rows);
  *  - every aggregate is derivable from maintained state with EXACT
  *    semantics: COUNT(*)/COUNT(col), SUM over integral/decimal
  *    columns (the rollup's own exactness scope — float sums are
  *    maintained approximately and never rewritten), MIN/MAX over
  *    maintained min-max columns, AVG over integral columns. Grouping
  *    on a SUBSET of the rollup's group columns re-aggregates the
  *    per-group state (sum of sums, min of mins — the classic MV
  *    roll-up); DISTINCT/FILTER clauses and TRY eval modes abort.
  *
  * NULL semantics survive re-aggregation by construction: `<c>_sum`
  * is NULL when a stored group has no non-null values (SUM over such
  * groups stays NULL), `<c>_nn` re-sums to exact COUNT(col), empty
  * result sets coalesce COUNT to 0, and AVG guards its denominator
  * back to NULL. Result types are cast back to the original aggregate
  * output types (sum-of-sums widens decimals; the value is the direct
  * aggregate's, so the cast never overflows). */
case class RollupRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import RollupRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val registered = spark.conf.getOption(RegistryConf).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    if (registered.isEmpty) plan
    else {
      // Descriptors load at most once per rule invocation (they cost
      // filesystem reads), and ONLY when some aggregate-over-snapshot
      // shape actually asks for them.
      lazy val regs: Seq[RollupRewrite.Registered] = registered.flatMap(r =>
        try RollupRewrite.load(spark, r)
        catch { case scala.util.control.NonFatal(_) => None })
      plan.transformUp {
        case agg: Aggregate =>
          // "Every uncertainty keeps the scan": a corrupted rollup
          // property, a transient FS error, or an unforeseen plan
          // shape must degrade to the original aggregate, never fail
          // the user's query.
          (try tryRewrite(spark, agg, regs)
           catch { case scala.util.control.NonFatal(_) => None })
            .getOrElse(agg)
      }
    }
  }
}

object RollupRewrite {

  /** Comma-separated rollup roots eligible for query rewrite. */
  val RegistryConf = "spark.graft.rollups"

  /** A registered rollup's self-description (see
    * [[graft.operators.Rollup.sync]]'s recorded properties), loaded at
    * its CURRENT version so the cursor and the rows read agree. */
  private[sinks] case class Registered(rollupRoot: String, rollupVersion: Long,
                                source: String, cursor: Long,
                                groupCols: Seq[String], sumCols: Seq[String],
                                minMaxCols: Seq[String])

  private[sinks] def load(spark: SparkSession, rollupRoot: String): Option[Registered] =
    for {
      rv <- SnapshotStore.currentVersion(spark, rollupRoot)
      props = SnapshotStore.header(spark, rollupRoot, rv).props
      if props.get("graft.rollup.derived").contains("false")
      source <- props.get("graft.rollup.source")
      cursor <- props.get(graft.operators.Rollup.CursorProp).map(_.toLong)
      groups <- props.get("graft.rollup.groupCols").map(splitCols)
    } yield Registered(rollupRoot, rv, source, cursor, groups,
      props.get("graft.rollup.sumCols").map(splitCols).getOrElse(Nil),
      props.get("graft.rollup.minMaxCols").map(splitCols).getOrElse(Nil))

  private def splitCols(s: String): Seq[String] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** The aggregate's child dissected into (filter conditions paired
    * with the sub-plan they resolve against, the snapshot relation) —
    * deterministic projections and filters only, anything else None. */
  private def dissect(p: LogicalPlan)
      : Option[(Seq[(Expression, LogicalPlan)], LogicalRelation)] = p match {
    case Project(list, child) if list.forall(_.deterministic) => dissect(child)
    case Filter(cond, child) if cond.deterministic &&
        cond.collectFirst { case s: SubqueryExpression => s }.isEmpty =>
      dissect(child).map { case (fs, rel) => ((cond, child) +: fs, rel) }
    case r: LogicalRelation => Some((Nil, r))
    case _ => None
  }

  /** Follow an attribute id down through pass-through projections /
    * filters to the relation's own column name. */
  private def resolveName(p: LogicalPlan, id: ExprId): Option[String] =
    p match {
      case Project(list, child) => list.find(_.exprId == id).flatMap {
        case ar: AttributeReference => resolveName(child, ar.exprId)
        case Alias(ar: AttributeReference, _) => resolveName(child, ar.exprId)
        case _ => None
      }
      case Filter(_, child) => resolveName(child, id)
      case r: LogicalRelation =>
        r.output.collectFirst { case a if a.exprId == id => a.name }
      case _ => None
    }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** One aggregate expression's rollup-space equivalent, or None when
    * exact derivation is impossible. */
  private def rewriteAgg(ae: AggregateExpression, reg: Registered,
                         resolve: ExprId => Option[String]): Option[Column] = {
    if (ae.mode != Complete || ae.isDistinct || ae.filter.isDefined) return None
    def arg(e: Expression): Option[String] = e match {
      case ar: AttributeReference => resolve(ar.exprId)
      case _ => None
    }
    val built: Option[Column] = ae.aggregateFunction match {
      case Count(Seq(l: Literal)) if l.value != null =>
        Some(coalesce(sum(col("row_count")), lit(0L)))
      case Count(Seq(e)) =>
        arg(e).filter(reg.sumCols.contains)
          .map(c => coalesce(sum(col(s"${c}_nn")), lit(0L)))
      case s: Sum if s.evalContext.evalMode !=
          org.apache.spark.sql.catalyst.expressions.EvalMode.TRY =>
        arg(s.child)
          .filter(c => reg.sumCols.contains(c) &&
            (isIntegral(s.child.dataType) ||
              s.child.dataType.isInstanceOf[DecimalType]))
          .map(c => sum(col(s"${c}_sum")))
      case m: Min =>
        arg(m.child).filter(reg.minMaxCols.contains)
          .map(c => min(col(s"${c}_min")))
      case m: Max =>
        arg(m.child).filter(reg.minMaxCols.contains)
          .map(c => max(col(s"${c}_max")))
      case a: Average if a.evalMode !=
          org.apache.spark.sql.catalyst.expressions.EvalMode.TRY =>
        arg(a.child)
          .filter(c => reg.sumCols.contains(c) && isIntegral(a.child.dataType))
          .map { c =>
            val nn = coalesce(sum(col(s"${c}_nn")), lit(0L))
            when(nn === 0, lit(null))
              .otherwise(sum(col(s"${c}_sum")).cast("double") / nn.cast("double"))
          }
      case _ => None
    }
    built.map(_.cast(ae.dataType))
  }

  private[sinks] def tryRewrite(spark: SparkSession, agg: Aggregate,
                                regs: Seq[Registered]): Option[LogicalPlan] =
    for {
      _ <- Some(()).filter(_ => agg.aggregateExpressions.nonEmpty)
      (filters, rel) <- dissect(agg.child)
      fs <- Some(rel.relation).collect { case h: HadoopFsRelation => h }
      idx <- Some(fs.location).collect { case g: GraftFileIndex => g }
      root <- idx.tableRoot
      version <- idx.version
      // Cheap plan-only pre-filter FIRST: the lookups below cost
      // manifest reads, and optimizer batches re-run this rule — a
      // query over table B must not pay filesystem I/O for table A's
      // registration. ONE predicate: `matching` is also the candidate
      // list iterated below, so the gate and the match can never
      // disagree.
      matching = regs.filter(r => r.source == root && r.cursor == version)
      _ <- Some(()).filter(_ => matching.nonEmpty)
      // The relation's attributes carry PHYSICAL names (column
      // mapping projects them back to logical ABOVE the relation);
      // the rollup records LOGICAL names — resolve through the
      // version's mapping or a renamed table never rewrites.
      toLogical = SnapshotStore.headerOrEmpty(spark, root, version).mapping
        ._1.map(_.swap)
      resolveIn = (p: LogicalPlan, id: ExprId) =>
        resolveName(p, id).map(n => toLogical.getOrElse(n, n))
      resolve = (id: ExprId) => resolveIn(agg.child, id)
      // A partition-pruned scan is a row SUBSET, but one that is
      // EXACTLY representable against per-group rows whenever the
      // partition columns are rollup group columns: rebase the same
      // partition-value membership onto the rollup (the dashboard
      // `WHERE part = 'x' GROUP BY status` shape). Unknown partition
      // spec (pre-header manifest) keeps the scan.
      partPredicate <- idx.prunedPartitions match {
        case None => Some(None)
        case Some(vals) =>
          val pcs = SnapshotStore.header(spark, root, version).partitionCols
          if (pcs.nonEmpty) Some(Some((pcs, vals))) else None
      }
      groupNames <- agg.groupingExpressions.foldLeft(
        Option(Seq.empty[String])) { (acc, g) =>
          acc.flatMap(names => (g match {
            case ar: AttributeReference => resolve(ar.exprId)
            case _ => None
          }).map(names :+ _))
        }
      plan <- matching.iterator
        .flatMap(reg =>
          buildFor(spark, agg, reg, filters, groupNames, resolve,
            resolveIn, partPredicate))
        .nextOption()
    } yield plan

  /** One candidate rollup's rewrite: every grouping column, filter
    * reference, aggregate, and (for pruned scans) partition column
    * must be covered, else None and the next candidate is tried. */
  private def buildFor(spark: SparkSession, agg: Aggregate, reg: Registered,
                       filters: Seq[(Expression, LogicalPlan)],
                       groupNames: Seq[String],
                       resolve: ExprId => Option[String],
                       resolveIn: (LogicalPlan, ExprId) => Option[String],
                       partPredicate: Option[(Seq[String], Seq[String])])
      : Option[LogicalPlan] =
    for {
      _ <- Some(()).filter(_ => groupNames.forall(reg.groupCols.contains))
      // Pruned scans: every partition column must be a group column of
      // this rollup, or the subset is not representable per-group.
      _ <- Some(()).filter(_ => partPredicate.forall(
        _._1.forall(reg.groupCols.contains)))
      resultCols <- agg.aggregateExpressions.zipWithIndex.foldLeft(
        Option(Seq.empty[Column])) { (acc, ei) =>
          acc.flatMap { cols =>
            val (ne, i) = ei
            (ne match {
              case ar: AttributeReference =>
                resolve(ar.exprId).filter(reg.groupCols.contains).map(col)
              case Alias(ar: AttributeReference, _) =>
                resolve(ar.exprId).filter(reg.groupCols.contains).map(col)
              case Alias(ae: AggregateExpression, _) =>
                rewriteAgg(ae, reg, resolve)
              case _ => None
            }).map(c => cols :+ c.as(s"__r$i"))
          }
        }
      rebasedFilters <- filters.foldLeft(Option(Seq.empty[Column])) {
        (acc, f) =>
          acc.flatMap { cs =>
            val (cond, below) = f
            val names = cond.references.toSeq
              .map(a => a.exprId -> resolveIn(below, a.exprId)).toMap
            if (names.values.exists(n =>
                !n.exists(reg.groupCols.contains))) None
            else Some(cs :+ Shim.column(cond.transformUp {
              case ar: AttributeReference =>
                UnresolvedAttribute(Seq(names(ar.exprId).get))
            }))
          }
      }
    } yield {
      val roll: DataFrame = SnapshotStore.readVersion(
        spark, reg.rollupRoot, reg.rollupVersion)
      // The pruned scan's partition membership, rebased: the same
      // encoding the manifest stores ([[SnapshotStore.partValueColumn]])
      // evaluated over the rollup's group columns selects exactly the
      // groups whose source rows live in the kept partitions (each
      // group is entirely inside one partition — partition cols are
      // group cols here).
      val partFiltered = partPredicate.foldLeft(roll) {
        case (df, (pcs, vals)) =>
          df.filter(SnapshotStore.partValueColumn(pcs).isin(vals: _*))
      }
      val filtered = rebasedFilters.foldLeft(partFiltered)(_ filter _)
      val grouped = filtered.groupBy(groupNames.map(col): _*)
        .agg(resultCols.head, resultCols.tail: _*)
        .select(agg.aggregateExpressions.indices.map(i => col(s"__r$i")): _*)
      val child = grouped.queryExecution.analyzed
      // Pin the rewritten output onto the original attribute ids so
      // references above the aggregate stay valid (same columns and
      // types — rewriteAgg casts back to the original output types).
      Project(child.output.zip(agg.output).map { case (a, o) =>
        Alias(a, o.name)(exprId = o.exprId)
      }, child)
    }
}
