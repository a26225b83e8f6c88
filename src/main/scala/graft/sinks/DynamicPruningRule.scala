package graft.sinks

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, ExprId, Expression, In, InSet, IsNotNull, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LocalRelation, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.GraftPlans
import org.apache.spark.sql.types.{StructField, StructType}

/** TRANSPARENT dynamic file pruning (Delta's DFP shape): the opt-in
  * optimizer rule behind `spark.graft.dynamicFilePruning=true` that
  * gives plain SQL / DataFrame equi-joins the join-time file skipping
  * [[graft.operators.DynamicPruning.joinPruned]] provides explicitly —
  * zero API calls, zero query changes.
  *
  * Shape it matches: `filteredDim ⋈ graftFactScan` — an inner or
  * left-semi join whose one side reaches a snapshot scan planned
  * through [[GraftFileIndex]] (through deterministic Project/Filter
  * nodes only) and whose other side carries at least one Filter (the
  * selective-dim heuristic; an unfiltered dim would prune nothing and
  * the probe would be wasted work) or is a LocalRelation. On a match
  * it executes a BOUNDED key probe of the dim side (distinct non-null
  * join keys, at most `maxKeys + 1` collected) and, when they fit,
  * injects `factKey IN (keys)` above the fact child — the pushdown
  * rules in the same optimizer batch carry it into the scan, where
  * the skipping index prunes files by min/max ranges AND Bloom
  * sidecars, and parquet re-evaluates it row-group-level. The join
  * still runs above, so the rewrite can only reduce I/O, never change
  * results (the operator's result-identical contract, inherited).
  *
  * Refusals and fallbacks (all silent — the plain join runs):
  *   - join types other than inner/left_semi (an outer join keeps
  *     unmatched fact rows; filtering them first would be WRONG);
  *     for left_semi only the LEFT side may be the fact;
  *   - more distinct dim keys than `maxKeys`
  *     (`spark.graft.dynamicFilePruning.maxKeys`, default 10000 — the
  *     In-list's planning cost is real: it serializes into the plan,
  *     probes every file's Bloom sidecar, and pushes into parquet
  *     row-group evaluation, so past selectivity it must stay small):
  *     ALL files, never a partial filter;
  *   - a nondeterministic dim subtree: the probe and the join would
  *     evaluate it twice and could disagree, so a pushed In-list
  *     might drop fact rows the join-time dim still matches;
  *   - streaming subtrees, join keys that do not resolve through
  *     direct aliases to the scan's own output (a computed key cannot
  *     reach the sidecar stats), and type-mismatched keys (Catalyst
  *     inserts casts, which break the attribute = attribute pattern);
  *   - a fact path already carrying an IN/InSet on ANY of the join's
  *     keys (this rule's own output on a later fixed-point iteration,
  *     or the explicit operator's) — the rewrite is idempotent by
  *     inspection, not by tags, and injects at most ONE In-list per
  *     join.
  *
  * An empty (post-filter) dim injects `false` — the inner/semi join
  * is empty by definition and Catalyst's empty-relation propagation
  * collapses the whole subtree.
  *
  * PROBE SCHEDULING (E139): an IMMUTABLE dim — version-pinned graft
  * scans, literal/local relations, caches over those (recursively:
  * a lost cache block recomputes from source, so the cache is only
  * as stable as what it caches) — probes at OPTIMIZATION time and
  * freezes the In-list into the plan, where every later rule,
  * row-group filter, and EXPLAIN sees it (the fast path). Any OTHER
  * deterministic batch dim — a filtered plain-parquet directory, the
  * most common dim shape in a mixed lake — engages at EXECUTION time
  * instead: the fact scan's [[GraftFileIndex]] gets a
  * [[GraftFileIndex.withRuntimeProbe]] rider that runs the same
  * bounded probe over the join's own captured dim subtree when the
  * physical scan first lists its files, after which the ordinary
  * stats/Bloom translation prunes the listing. Nothing freezes at
  * planning, so a dim overwritten between planning and a cached
  * plan's (re-)execution cannot strand stale keys — the same
  * soundness argument as Spark's own DPP, extended to data columns
  * (which OSS FileSourceScanExec cannot runtime-prune on its own).
  * Delta's DFP runs this probe as a physical-planning subquery;
  * riding the FileIndex reaches the identical listing decision
  * through the machinery every other skipping feature here already
  * uses.
  *
  * COMPOSITE equi-keys: the rule probes the candidate key with the
  * highest recorded NDV (the last ANALYZE's column stats, free at
  * planning time) — an In-list of ≤ maxKeys values on the
  * highest-cardinality key covers the smallest row fraction, so it is
  * the one worth freezing into the plan. Keys without recorded stats
  * rank lowest; on a tie (or no stats at all) the first resolvable
  * key wins, the pre-E128 behavior.
  *
  * WRAPPED snapshots: a fact that ever absorbed a DV DELETE reads
  * through the merge-on-read anti-join wrapper
  * ([[SnapshotStore.applyDvs]] — the NORMAL state of a long-lived
  * fact table), and a renamed/dropped-column table reads through the
  * column-mapping alias projection. The fact-side descent recognizes
  * both (the DV wrapper by its `__graft_dv_fn`/`__graft_dv_pos` join
  * keys, the mapping by its plain alias Project) and resolves to the
  * underlying [[GraftFileIndex]]; the injected In-list sits above the
  * wrapper and the same batch's pushdown rules carry it below the
  * anti-join's left side to the scan — DV row filtering still applies
  * above, so deleted rows stay deleted. A DV-wrapped DIM stays
  * refused (its vector read is a plain parquet leaf — see the
  * immutability gate), conservative and rare.
  *
  * 100 TB rationale: the probe costs one bounded dim sub-query at
  * planning time, flat in fact-table size; the plain join's scan cost
  * is linear in it. On a key-clustered fact (ingest order, z-order,
  * [[SnapshotMaintenance.clusterIncremental]]) the classic
  * date-sliced-dim star join opens a constant handful of files
  * instead of all of them.
  *
  * Reference anchor: the reference engine's joins are row-at-a-time
  * lookups against indexed MongoDB collections (pim-etl
  * etl/loaders/mongodb_loader.py) — index-priced by construction;
  * this rule is the columnar-lake equivalent for scan-priced joins,
  * made transparent the way Delta ships it. */
case class DynamicPruningRule(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  import DynamicPruningRule._

  private def enabled: Boolean =
    spark.conf.get(EnabledConf, "false").trim.equalsIgnoreCase("true")

  private def maxKeys: Int = {
    val raw = spark.conf.get(MaxKeysConf, DefaultMaxKeys.toString).trim
    val n = try raw.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$MaxKeysConf must be a positive int, got '$raw'")
    }
    require(n > 0, s"$MaxKeysConf must be positive, got $n")
    n
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || probing.get() || plan.isStreaming) plan
    else plan.transformUp {
      case j: Join => tryPrune(j).getOrElse(j)
    }

  /** The merge-on-read DV wrapper is a LeftAnti join whose condition
    * references ONLY the wrapper's own sentinel key columns
    * ([[SnapshotStore.applyDvs]]) — the shape signature that lets the
    * fact descent look through it. Anything else keeping those names
    * would have to be deliberately adversarial; the traversal stays
    * correct regardless (the In-list is injected ABOVE and only
    * pushed, never bypassing the anti-join's row filtering). */
  private def isDvWrapper(j: Join): Boolean = j match {
    case Join(_, _, LeftAnti, Some(cond), _) =>
      val names = cond.references.map(_.name).toSet
      names.nonEmpty &&
        names.subsetOf(Set(SnapshotStore.DvFileCol, SnapshotStore.DvPosCol))
    case _ => false
  }

  /** Strip deterministic Project/Filter — and the DV anti-join
    * wrapper — down to a graft-indexed scan, collecting the filter
    * conjuncts passed on the way (the idempotence check inspects
    * them — after pushdown, this rule's own In-list lives on that
    * path, BELOW the wrapper). */
  private def factCore(p: LogicalPlan, seen: Seq[Expression])
      : Option[(LogicalRelation, GraftFileIndex, Seq[Expression])] = p match {
    case Filter(cond, child) if cond.deterministic =>
      factCore(child, seen ++ splitConjunctivePredicates(cond))
    case Project(list, child) if list.forall(_.deterministic) =>
      factCore(child, seen)
    case j: Join if isDvWrapper(j) => factCore(j.left, seen)
    case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location match {
        case idx: GraftFileIndex => Some((lr, idx, seen))
        case _ => None
      }
    case _ => None
  }

  /** Follow `id` down through pass-through attributes / direct
    * aliases to the relation's own output attribute (the name the
    * sidecar stats are keyed under). Left-semi/anti joins pass their
    * left output through unchanged (the DV wrapper path). Computed
    * columns → None. */
  private def resolveToScan(p: LogicalPlan, id: ExprId): Option[AttributeReference] =
    p match {
      case Filter(_, child) => resolveToScan(child, id)
      case Project(list, child) => list.find(_.exprId == id).flatMap {
        case ar: AttributeReference => resolveToScan(child, ar.exprId)
        case Alias(ar: AttributeReference, _) => resolveToScan(child, ar.exprId)
        case _ => None
      }
      case Join(left, _, LeftAnti | LeftSemi, _, _) => resolveToScan(left, id)
      case r: LogicalRelation =>
        r.output.collectFirst { case a: AttributeReference if a.exprId == id => a }
      case _ => None
    }

  /** How a qualifying dim side may be probed:
    * [[DynamicPruningRule.PlanTime]] = immutable-by-construction
    * leaves, keys frozen into the plan at optimization (the fast
    * path); [[DynamicPruningRule.RunTime]] = anything else sound —
    * the probe defers to scan time via
    * [[GraftFileIndex.withRuntimeProbe]], so a MUTABLE dim (plain
    * parquet, the most common shape in a mixed lake) engages too. */
  private def dimMode(p: LogicalPlan): Option[DimMode] = {
    def core(q: LogicalPlan): LogicalPlan = q match {
      case Project(list, child) if list.forall(_.deterministic) => core(child)
      case other => other
    }
    // "Filtered" means a filter with at least one conjunct BEYOND
    // IsNotNull: InferFiltersFromConstraints stamps
    // `IsNotNull(joinKey)` onto every inner equi-join's children
    // before this rule runs, so counting those would make EVERY
    // unfiltered dim "selective" and fire a wasted probe (plus an
    // unselective In-list) on every plain join.
    def selective(f: Filter): Boolean =
      splitConjunctivePredicates(f.condition).exists {
        case IsNotNull(_) => false
        case _ => true
      }
    // Plan-time eligibility: the probe's keys FREEZE into the plan at
    // optimization time, so every dim leaf must be a source that
    // cannot change under a cached/re-executed Dataset — a literal
    // relation, or a version-pinned graft snapshot scan. A CACHED
    // relation qualifies only when the plan it caches is itself
    // immutable (recursively): Spark caches are best-effort — a lost
    // block recomputes from the (possibly rewritten) source, which
    // would put a cached-over-mutable-parquet dim out of sync with
    // keys frozen at planning. Anything mutable still engages, at
    // RUN time.
    def immutablePhysical(q: org.apache.spark.sql.execution.SparkPlan): Boolean =
      q.collectLeaves().forall {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.isInstanceOf[GraftFileIndex]
        case _: org.apache.spark.sql.execution.LocalTableScanExec => true
        case _: org.apache.spark.sql.execution.RangeExec => true
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          immutablePhysical(im.relation.cachedPlan)
        case _ => false
      }
    def immutable(q: LogicalPlan): Boolean = q.collectLeaves().forall {
      case _: LocalRelation | _: OneRowRelation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Range => true
      case imr: InMemoryRelation => immutablePhysical(imr.cachedPlan)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.isInstanceOf[GraftFileIndex]
      case _ => false
    }
    // Run-time eligibility: the rider's soundness argument is that the
    // probe executes the join's OWN dim subtree, whose file LISTING is
    // snapshotted in the relation — so probe and join read identical
    // immutable files even if the directory changes mid-query. That
    // holds for file sources listed at relation build
    // (InMemoryFileIndex — `spark.read.parquet` — and graft indexes)
    // and for caches over those; it does NOT hold for sources that
    // re-read live state per execution (CatalogFileIndex re-lists the
    // metastore path, JDBC re-queries, DSv2 scans re-plan) — a row
    // inserted between the probe and the join's read could match fact
    // files the probe already pruned. Those stay refused.
    def runtimeSafePhysical(q: org.apache.spark.sql.execution.SparkPlan): Boolean =
      q.collectLeaves().forall {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          snapshottedListing(f.relation.location)
        case _: org.apache.spark.sql.execution.LocalTableScanExec => true
        case _: org.apache.spark.sql.execution.RangeExec => true
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          runtimeSafePhysical(im.relation.cachedPlan)
        case _ => false
      }
    def runtimeSafe(q: LogicalPlan): Boolean = q.collectLeaves().forall {
      case _: LocalRelation | _: OneRowRelation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Range => true
      case imr: InMemoryRelation => runtimeSafePhysical(imr.cachedPlan)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        snapshottedListing(fs.location)
      case _ => false
    }
    val qualifies = !p.isStreaming &&
      p.collectFirst {
        case n if n.expressions.exists(e => !e.deterministic) => n
      }.isEmpty &&
      (p.collectFirst { case f: Filter if selective(f) => f }.isDefined ||
        core(p).isInstanceOf[LocalRelation])
    if (!qualifies) None
    else if (immutable(p)) Some(PlanTime)
    else if (runtimeSafe(p)) Some(RunTime)
    else None
  }

  /** Is this index's file listing frozen in the relation object?
    * `InMemoryFileIndex` lists at construction and caches;
    * [[GraftFileIndex]] IS the (version-pinned) listing. A
    * `CatalogFileIndex` re-lists per execution — not snapshotted. */
  private def snapshottedListing(
      idx: org.apache.spark.sql.execution.datasources.FileIndex): Boolean =
    idx.isInstanceOf[GraftFileIndex] ||
      idx.isInstanceOf[org.apache.spark.sql.execution.datasources.InMemoryFileIndex]

  /** A key-membership predicate already on the fact path means the
    * probe has nothing to add: this rule's own In-list from a prior
    * fixed-point iteration, the explicit operator's, a user's own —
    * AND the single-key degenerations. `OptimizeIn` folds a 1-element
    * In to EqualTo in the SAME batch, so without the equality cases a
    * point-lookup dim would re-probe on every iteration of both
    * operator-optimization batches (and a user's own `k = 42` /
    * constraint-inferred equality already prunes statically — a probe
    * there is pure waste). */
  private def alreadyPruned(onPath: Seq[Expression], factKey: AttributeReference,
                            scanKey: AttributeReference): Boolean = {
    def isKey(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        a.exprId == factKey.exprId || a.exprId == scanKey.exprId
      case _ => false
    }
    onPath.exists {
      case In(a, _) => isKey(a)
      case InSet(a, _) => isKey(a)
      case EqualTo(a, _: Literal) => isKey(a)
      case EqualTo(_: Literal, a) => isKey(a)
      case Literal(false, _) => true
      case _ => false
    }
  }

  private def tryPrune(j: Join): Option[Join] = {
    // A refused probe (over-limit dim) leaves the plan unchanged, so
    // every later fixed-point iteration would re-run the probe for
    // the same answer — memoize the refusal on the node. Copies made
    // by other rules drop the tag and may re-probe once; correctness
    // never depends on it.
    if (j.getTagValue(RefusedTag).contains(true)) return None
    val cond = j.condition.getOrElse(return None)
    // (fact, dim) orientations this join type permits: a semi join
    // only keeps LEFT rows, so only the left side may be filtered.
    val orientations = j.joinType match {
      case Inner => Seq((j.left, j.right), (j.right, j.left))
      case LeftSemi => Seq((j.left, j.right))
      case _ => Nil
    }
    val conjuncts = splitConjunctivePredicates(cond)
    val candidates = for {
      (factChild, dimChild) <- orientations
      if !factChild.isStreaming
      mode <- dimMode(dimChild).toSeq
      (_, idx, onPath) <- factCore(factChild, Nil).toSeq
      // ALL resolvable equi-keys of this join (composite keys give
      // several); one probe per join and key — any key already pruned
      // (an In-list from a prior iteration, a user's own equality, or
      // a runtime rider already on the index) means the whole
      // orientation stands down, keeping the rewrite idempotent.
      resolved = conjuncts.collect {
        case EqualTo(a: AttributeReference, b: AttributeReference)
          if factChild.outputSet.contains(a) && dimChild.outputSet.contains(b) => (a, b)
        case EqualTo(a: AttributeReference, b: AttributeReference)
          if factChild.outputSet.contains(b) && dimChild.outputSet.contains(a) => (b, a)
      }.flatMap { case (f, dk) =>
        resolveToScan(factChild, f.exprId).map(sk => (f, dk, sk))
      }
      if resolved.nonEmpty &&
        !resolved.exists { case (f, _, sk) =>
          alreadyPruned(onPath, f, sk) || idx.probeKeyNames.contains(sk.name) }
      keyTriple <- Seq(pickKey(resolved, idx))
    } yield (factChild, dimChild, idx, keyTriple, mode)
    // Both sides graft-indexed and both orientations valid: prune the
    // LARGER fact — that is where skipping pays.
    val chosen = candidates.sortBy(-_._3.sizeInBytes).headOption
    chosen.map { case (factChild, dimChild, idx, (factKey, dimKey, scanKey), mode) =>
      val bound = maxKeys
      mode match {
        case PlanTime =>
          val keys = probe(dimChild, dimKey, bound)
          if (keys.length > bound) j.setTagValue(RefusedTag, true)
          val filtered =
            if (keys.length > bound) factChild // over-limit: ALL files, no partial filter
            else if (keys.isEmpty) Filter(Literal(false), factChild)
            else Filter(
              In(factKey, keys.toIndexedSeq.map(Literal.create(_, dimKey.dataType))),
              factChild)
          if (filtered eq factChild) j
          else if (factChild eq j.left) j.copy(left = filtered)
          else j.copy(right = filtered)
        case RunTime =>
          // MUTABLE dim: nothing freezes into the plan. The scan's
          // index gets a runtime rider that probes the join's OWN dim
          // subtree when the physical scan first lists files — sound
          // for any dim, Delta's DFP shape. The join above re-filters
          // rows, so the rider can only cut I/O.
          val wrapped = idx.withRuntimeProbe(scanKey.name, dimKey.dataType,
            runtimeProbeThunk(dimChild, dimKey, bound))
          val newFact = factChild.transformUp {
            case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
                if fs.location eq idx =>
              lr.copy(relation = fs.copy(location = wrapped)(spark))
          }
          if (factChild eq j.left) j.copy(left = newFact)
          else j.copy(right = newFact)
      }
    }.filter(_ ne j)
  }

  /** Deferred, MEMOIZED probe for the runtime path: one bounded
    * distinct-key sub-query, executed at most once per physical plan
    * (every `listFiles` call and cached re-execution reuses the
    * result — the same freeze-at-first-execution semantics the scan's
    * own file listing has). `None` = no pruning: over-limit, or ANY
    * probe failure — a broken dim must surface through the join's own
    * read, never through a pruning rider. */
  private def runtimeProbeThunk(dim: LogicalPlan, key: AttributeReference,
                                bound: Int): () => Option[Array[Any]] = {
    lazy val result: Option[Array[Any]] =
      try {
        val keys = probe(dim, key, bound)
        if (keys.length > bound) None else Some(keys)
      } catch { case scala.util.control.NonFatal(_) => None }
    () => result
  }

  /** Of a composite key's resolvable candidates, probe the one with
    * the highest recorded NDV (E121's ANALYZE stats, a metadata read
    * at planning time): an In-list of ≤ maxKeys values on the
    * highest-cardinality fact column covers the smallest row
    * fraction — on a (tenant_id, event_id) layout the 2-value
    * tenant probe would prune nothing while the event probe prunes
    * nearly everything. Unranked keys (no stats, stats read failure)
    * sort lowest; single candidates and full ties keep written
    * order. The stats read is gated on there being a real choice. */
  private def pickKey(
      resolved: Seq[(AttributeReference, AttributeReference, AttributeReference)],
      idx: GraftFileIndex)
      : (AttributeReference, AttributeReference, AttributeReference) = {
    if (resolved.sizeIs <= 1) return resolved.head
    val ndv: Map[String, BigInt] = (for {
      root <- idx.tableRoot
      v <- idx.version
    } yield try {
      val props = SnapshotStore.header(spark, root, v).props
      val dropped = SnapshotStore.headerOrEmpty(spark, root, v).mapping._2
      val schema = StructType(resolved.map { case (_, _, sk) =>
        StructField(sk.name, sk.dataType) })
      SnapshotStats.recordedColStats(props, schema, dropped)
        .flatMap { case (n, cs) => cs.distinctCount.map(n -> _) }
    } catch { case scala.util.control.NonFatal(_) =>
      Map.empty[String, BigInt]
    }).getOrElse(Map.empty)
    if (ndv.isEmpty) resolved.head
    else resolved.maxBy { case (_, _, sk) =>
      ndv.getOrElse(sk.name, BigInt(-1)) }
  }

  /** Bounded distinct-key probe of the dim side — one sub-query at
    * planning time, `take`-limited so at most `bound + 1` keys reach
    * the driver. The re-entry guard keeps this rule out of the
    * probe's own optimization. */
  private def probe(dim: LogicalPlan, key: AttributeReference, bound: Int): Array[Any] = {
    probing.set(true)
    try {
      val distinctKeys = Aggregate(Seq(key), Seq(key),
        Filter(IsNotNull(key), Project(Seq(key), dim)))
      GraftPlans.dataFrame(spark, distinctKeys).take(bound + 1).map(_.get(0))
    } finally probing.set(false)
  }
}

object DynamicPruningRule {
  /** Probe scheduling for a qualifying dim — see
    * [[DynamicPruningRule.dimMode]]. */
  private[sinks] sealed trait DimMode
  private[sinks] case object PlanTime extends DimMode
  private[sinks] case object RunTime extends DimMode

  /** Opt-in switch — default OFF, so plans elsewhere stay
    * byte-for-byte what they were (the stats-attach lesson: every
    * planner rider must be gated). */
  val EnabledConf = "spark.graft.dynamicFilePruning"
  /** Probe bound; above it the plain join runs untouched. */
  val MaxKeysConf = "spark.graft.dynamicFilePruning.maxKeys"
  val DefaultMaxKeys = 10000

  /** Re-entry guard: the probe's own sub-query planning must not
    * re-fire the rule (a dim containing a qualifying join would
    * otherwise recurse). */
  private val probing = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Probe-refusal memo (over-limit dims) — see [[DynamicPruningRule.tryPrune]]. */
  private[sinks] val RefusedTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.dfp.refused")
}
