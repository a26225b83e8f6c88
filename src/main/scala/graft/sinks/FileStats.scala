package graft.sinks

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column min/max/null statistics for data skipping — the
  * metadata layer that lets a 100 TB scan open only the files whose
  * value ranges can satisfy the query's predicates (the same role as
  * Delta/Iceberg per-file stats; pairs with [[graft.operators.Layout]]
  * Z-ordering, which makes those ranges NARROW so skipping actually
  * bites).
  *
  * Stats come from parquet footers (a metadata read, no row scan) and
  * are persisted next to each [[SnapshotStore]] manifest, so planning
  * never touches data files. Pruning is CONSERVATIVE by construction:
  * any column, type, or comparison the stats can't decide keeps the
  * file. Spark re-applies every predicate row-level after the scan, so
  * skipping affects bytes read, never results.
  *
  * Type discipline (wrong-order comparisons would WRONGLY skip files):
  *   - int32/int64 (plain, signed-int, DATE-days, TIMESTAMP-micros
  *     logical) and float/double compare as exact [[BigDecimal]] — the
  *     same total order Spark's comparisons use on these types.
  *   - BINARY-UTF8 strings compare with Java string order ONLY when
  *     both bound and literal are pure ASCII, where it coincides with
  *     parquet's unsigned-byte stats order; anything non-ASCII is
  *     undecided (kept).
  *   - decimals, unsigned ints, millis/nanos timestamps, int96:
  *     recorded as absent → never pruned on.
  */
object FileStats {

  /** Merged-across-row-groups stats of one column: `nulls == -1` means
    * the writer didn't record null counts. `min`/`max` are `None` when
    * the column has no non-null values (or no usable stats — the two
    * are distinguished by `nulls` vs `rows`). */
  case class ColStats(tpe: String, nulls: Long, min: Option[String], max: Option[String])

  /** One data file: row count, byte length, per-column stats. Columns
    * with unsupported physical/logical types are simply absent. */
  case class FileStatsEntry(rows: Long, len: Long, cols: Map[String, ColStats])

  /** Read one file's footer and fold its row groups into per-column
    * stats. Metadata-only: cost is one footer read per file, so a
    * commit's stats pass is proportional to the incoming batch, never
    * the table. */
  def fromFooter(conf: Configuration, file: Path, len: Long): FileStatsEntry = {
    val footer = {
      val reader = ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try reader.getFooter finally reader.close()
    }
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    // Write-time exactness marker for string bounds: when the writer
    // config allows parquet to TRUNCATE binary statistics
    // (`parquet.statistics.truncate.length`), a footer bound may be a
    // prefix / prefix-successor rather than an attained value. Such
    // bounds are still valid OUTER bounds (skipping stays correct),
    // but [[MetadataCountRule]] must never return one as a MIN/MAX
    // answer — the "str~" tag records that at sidecar-build time,
    // which happens in the same job (and conf) that wrote the file.
    val exactStrings = conf.getInt("parquet.statistics.truncate.length",
      Int.MaxValue) == Int.MaxValue
    // (type-tag, merged Statistics) per column; None once any block is
    // unusable for that column — partial stats can't bound the file.
    val merged = scala.collection.mutable.Map[String, Option[(String, org.apache.parquet.column.statistics.Statistics[_])]]()
    blocks.foreach { b =>
      b.getColumns.asScala.foreach { cc =>
        val name = statKey(cc.getPath.toArray.toSeq)
        val tag = typeTag(cc.getPrimitiveType)
          .map { case "str" if !exactStrings => "str~"; case t => t }
        val st: org.apache.parquet.column.statistics.Statistics[_] =
          cc.getStatistics
        val usable = tag.isDefined && st != null && !st.isEmpty
        merged.get(name) match {
          case Some(None) => // already poisoned
          case Some(Some((t, acc))) =>
            if (usable && t == tag.get) acc.mergeStatistics(st.asInstanceOf[acc.type])
            else merged(name) = None
          case None =>
            merged(name) = if (usable) Some((tag.get, st.copy())) else None
        }
      }
    }
    val cols = merged.collect { case (name, Some((tag, st))) =>
      val nulls = if (st.isNumNullsSet) st.getNumNulls else -1L
      val (mn, mx) =
        if (st.hasNonNullValue) (Some(stringify(tag, st.genericGetMin)), Some(stringify(tag, st.genericGetMax)))
        else (None, None)
      name -> ColStats(tag, nulls, mn, mx)
    }.toMap
    FileStatsEntry(rows, len, cols)
  }

  /** `Some("num")` / `Some("str")` for types whose stats order we can
    * replay exactly; `None` (no stats) otherwise. */
  private def typeTag(t: org.apache.parquet.schema.PrimitiveType): Option[String] = {
    import LogicalTypeAnnotation._
    val logical = t.getLogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 => logical match {
        case null => Some("num")
        case i: IntLogicalTypeAnnotation if i.isSigned => Some("num")
        case _: DateLogicalTypeAnnotation => Some("num")
        case ts: TimestampLogicalTypeAnnotation
          if ts.getUnit == TimeUnit.MICROS => Some("num")
        case _ => None // unsigned, decimal-scaled, millis/nanos: raw order != value order or unit mismatch
      }
      case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some("num")
      case PrimitiveTypeName.BINARY => logical match {
        case _: StringLogicalTypeAnnotation => Some("str")
        case _ => None
      }
      case _ => None // BOOLEAN (worthless), INT96, FIXED_LEN_BYTE_ARRAY
    }
  }

  private def stringify(tag: String, v: Any): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other.toString
  }

  // ---------------------------------------------------------------- //
  // Catalyst → sources.Filter (the subset stats can decide).          //
  // ---------------------------------------------------------------- //

  /** Translate a pushed-down Catalyst predicate into a data-source
    * filter over top-level attributes. Only shapes the stats can act
    * on are translated; `None` means "can't prune on this" (the row
    * filter still runs, so this is purely an optimization boundary).
    * A one-sided `And` still yields its translatable side — pruning on
    * a conjunct is conservative-correct. */
  def translate(e: Expression): Option[Filter] = translate0(normalizeNested(e))

  /** Stats-key escaping: a FLAT column literally named `supplier.id`
    * must not collide with the struct leaf `supplier` → `id` (same
    * parquet dot-string!) — a predicate on one would prune files with
    * the OTHER's min/max and silently drop rows. Path ELEMENTS get
    * their literal dots/backslashes escaped before joining, on both
    * the recording side ([[fromFooter]]) and the translation side
    * ([[normalizeNested]]); ordinary names are untouched. */
  private[sinks] def escapeKeyPart(s: String): String =
    if (s.indexOf('.') < 0 && s.indexOf('\\') < 0) s
    else s.replace("\\", "\\\\").replace(".", "\\.")

  /** Sidecar stats key for a parquet column path (leaf-field chain). */
  private[sinks] def statKey(parts: Seq[String]): String =
    parts.map(escapeKeyPart).mkString(".")

  /** Marks a synthetic attribute whose name is ALREADY a composed
    * stats key (so a parent struct step must not re-escape it). */
  private val DotKeyMeta = new org.apache.spark.sql.types.MetadataBuilder()
    .putBoolean("graft.dotkey", true).build()
  private def isDotKey(a: expressions.AttributeReference): Boolean =
    a.metadata.contains("graft.dotkey")

  /** Rewrite nested STRUCT-field references into synthetic attributes
    * named by their dot path (`GetStructField(supplier, id)` →
    * `supplier.id`) — exactly the key [[fromFooter]] records leaf
    * stats under (parquet's column path, dot-joined with literal dots
    * escaped — see [[statKey]]), so predicates into top-level structs
    * prune files like flat columns do (the reference's own index spec
    * is nested: supplier.id, variants.sku —
    * unified_product_schema.py:229-248). Bottom-up, so chains compose
    * (`a.b.c`). Flat attributes whose NAME contains a literal dot are
    * escaped to their own distinct key, so they can never borrow a
    * struct leaf's stats (or vice versa). ARRAY-element predicates
    * never reach this shape — `exists(variants, v -> v.sku = ?)` is a
    * lambda, not a comparison, and is refused at translation (the
    * conservative boundary: the scan proceeds, rows still filter
    * correctly). */
  private def normalizeNested(e: Expression): Expression = e.transformUp {
    case a: expressions.AttributeReference
        if !isDotKey(a) && (a.name.indexOf('.') >= 0 || a.name.indexOf('\\') >= 0) =>
      expressions.AttributeReference(
        escapeKeyPart(a.name), a.dataType, a.nullable, DotKeyMeta)()
    case g: expressions.GetStructField => g.child match {
      case a: expressions.AttributeReference =>
        val base = if (isDotKey(a)) a.name else escapeKeyPart(a.name)
        expressions.AttributeReference(
          s"$base.${escapeKeyPart(g.extractFieldName)}",
          g.dataType, g.nullable, DotKeyMeta)()
      case _ => g
    }
  }

  private def translate0(e: Expression): Option[Filter] = e match {
    case expressions.And(l, r) => (translate0(l), translate0(r)) match {
      case (Some(a), Some(b)) => Some(sources.And(a, b))
      case (a, b) => a.orElse(b)
    }
    case expressions.Or(l, r) =>
      for { a <- translate0(l); b <- translate0(r) } yield sources.Or(a, b)
    case expressions.EqualTo(a: expressions.AttributeReference, l: Literal) =>
      external(l).map(sources.EqualTo(a.name, _))
    case expressions.EqualTo(l: Literal, a: expressions.AttributeReference) =>
      external(l).map(sources.EqualTo(a.name, _))
    case expressions.GreaterThan(a: expressions.AttributeReference, l: Literal) =>
      external(l).map(sources.GreaterThan(a.name, _))
    case expressions.GreaterThan(l: Literal, a: expressions.AttributeReference) =>
      external(l).map(sources.LessThan(a.name, _))
    case expressions.GreaterThanOrEqual(a: expressions.AttributeReference, l: Literal) =>
      external(l).map(sources.GreaterThanOrEqual(a.name, _))
    case expressions.GreaterThanOrEqual(l: Literal, a: expressions.AttributeReference) =>
      external(l).map(sources.LessThanOrEqual(a.name, _))
    case expressions.LessThan(a: expressions.AttributeReference, l: Literal) =>
      external(l).map(sources.LessThan(a.name, _))
    case expressions.LessThan(l: Literal, a: expressions.AttributeReference) =>
      external(l).map(sources.GreaterThan(a.name, _))
    case expressions.LessThanOrEqual(a: expressions.AttributeReference, l: Literal) =>
      external(l).map(sources.LessThanOrEqual(a.name, _))
    case expressions.LessThanOrEqual(l: Literal, a: expressions.AttributeReference) =>
      external(l).map(sources.GreaterThanOrEqual(a.name, _))
    case expressions.In(a: expressions.AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      val ext = vs.map(v => external(v.asInstanceOf[Literal]))
      if (ext.forall(_.isDefined)) Some(sources.In(a.name, ext.map(_.get).toArray)) else None
    case expressions.InSet(a: expressions.AttributeReference, set) =>
      val ext = set.toSeq.map(v => externalValue(v))
      if (ext.forall(_.isDefined)) Some(sources.In(a.name, ext.map(_.get).toArray)) else None
    case expressions.IsNull(a: expressions.AttributeReference) => Some(sources.IsNull(a.name))
    case expressions.IsNotNull(a: expressions.AttributeReference) => Some(sources.IsNotNull(a.name))
    case expressions.StartsWith(a: expressions.AttributeReference, l: Literal) =>
      external(l).collect { case s: String => sources.StringStartsWith(a.name, s) }
    case _ => None
  }

  // ---------------------------------------------------------------- //
  // Derived partition predicates from GENERATED columns               //
  // ---------------------------------------------------------------- //

  /** A generated partition column whose recorded expression is a
    * MONOTONE chain over a single input column — the precondition
    * for rewriting input-range predicates onto the generated column
    * ([[deriveGenerated]]). Built once per planning pass by
    * [[generatedDerivers]]; `expr` is the ANALYZED expression, its
    * single [[expressions.AttributeReference]] standing for the
    * input. */
  case class GeneratedDeriver(genCol: String, inputName: String,
                              inputType: org.apache.spark.sql.types.DataType,
                              expr: Expression)

  /** Analyze each recorded generation expression against the PHYSICAL
    * schema. Unresolvable expressions (renamed-away input, typo) drop
    * out silently — callers decide what unresolvable means for them. */
  private[sinks] def analyzedGenerated(
      spark: org.apache.spark.sql.SparkSession,
      gens: Seq[(String, String)],
      physicalSchema: org.apache.spark.sql.types.StructType)
      : Seq[(String, Expression)] =
    gens.flatMap { case (g, sql) =>
      try {
        val parsed = spark.sessionState.sqlParser.parseExpression(sql)
        val plan = org.apache.spark.sql.catalyst.plans.logical.Project(
          Seq(expressions.Alias(parsed, g)()),
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
            org.apache.spark.sql.catalyst.types.DataTypeUtils
              .toAttributes(physicalSchema)))
        val analyzed = spark.sessionState.analyzer.execute(plan)
        analyzed.collectFirst {
          case org.apache.spark.sql.catalyst.plans.logical.Project(
            Seq(a: expressions.Alias), _) if a.resolved => g -> a.child
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Does evaluating `e` depend on `spark.sql.session.timeZone`?
    * Any [[expressions.TimeZoneAwareExpression]] may — casts ask
    * Spark's own `Cast.needsTimeZone` (a string→int cast is
    * zone-aware by trait but zone-FREE in fact; TIMESTAMP↔DATE/STRING
    * conversions are not), every other zone-aware expression
    * (`hour`/`minute`, `date_format`, `from_unixtime`, `date_trunc`
    * over timestamps, …) counts as dependent outright: these analyze
    * WITHOUT any cast in the tree, so a shape whitelist would let a
    * cross-zone writer store inconsistent generated values that
    * [[SnapshotStore.recomputeGenerated]] later silently rewrites
    * under the updater's zone. Chrono work over DateType /
    * TimestampNTZType and integral arithmetic are zone-free.
    * Conservative direction: flagging a zone-free expression costs
    * pruning, missing a zone-dependent one costs ROWS. */
  private[sinks] def tzDependent(e: Expression): Boolean =
    e.exists {
      case c: expressions.Cast =>
        expressions.Cast.needsTimeZone(c.child.dataType, c.dataType)
      case _: expressions.TimeZoneAwareExpression => true
      case _ => false
    }

  /** Build [[GeneratedDeriver]]s from the recorded `graft.generated.*`
    * expressions that qualify: resolvable against the PHYSICAL schema
    * (a renamed input column simply stops deriving — conservative),
    * exactly one input column, and a monotone non-decreasing
    * expression chain (cast between chrono types / integral widening,
    * `date_trunc`/`trunc`, `year`). Anything else is refused — a
    * non-monotone rewrite (`month(ts) >= month(X)`!) would wrongly
    * skip files.
    *
    * TIMEZONE soundness: the stored generated values were computed
    * under the WRITER's `spark.sql.session.timeZone` (recorded at
    * CREATE as [[SnapshotStore.GeneratedTzProp]] and enforced on
    * every content write), and this derivation evaluates E under the
    * READER's. A zone-dependent expression ([[tzDependent]]) derives
    * ONLY when the reader's session zone equals the recorded one AND
    * that zone is fixed-offset — a DST zone whose fall-back crosses
    * midnight makes instant→local-date genuinely non-monotone, so
    * even a consistent zone is not enough. Anything else sheds the
    * deriver (pruning lost, rows never).
    *
    * Why this exists: footer stats cannot bound every physical type
    * (INT96 timestamps are order-ambiguous and the sidecar refuses
    * them — [[fromFooter]]), but a table partitioned by a GENERATED
    * `yr = cast(date_trunc('YEAR', ts) as date)` still has perfect
    * pruning structure: `ts >= X` implies `yr >= E(X)`, and `yr` is
    * per-file constant with exact stats. Delta derives the same
    * partition predicates from its generated-column expressions; this
    * is that algebra at the [[GraftFileIndex]] listing level. */
  def generatedDerivers(spark: org.apache.spark.sql.SparkSession,
                        gens: Seq[(String, String)],
                        physicalSchema: org.apache.spark.sql.types.StructType,
                        recordedTz: Option[String])
      : Seq[GeneratedDeriver] = {
    val sessionTz = spark.conf.get("spark.sql.session.timeZone")
    def zoneSound: Boolean = recordedTz.contains(sessionTz) &&
      (try java.time.ZoneId.of(sessionTz).getRules.isFixedOffset
       catch { case scala.util.control.NonFatal(_) => false })
    analyzedGenerated(spark, gens, physicalSchema).flatMap { case (g, e) =>
      if (!physicalSchema.fieldNames.contains(g)) None
      else e.references.toSeq match {
        case Seq(one: expressions.AttributeReference)
          if monotone(e) && e.deterministic &&
            (!tzDependent(e) || zoneSound) =>
          Some(GeneratedDeriver(g, one.name, one.dataType, e))
        case _ => None
      }
    }
  }

  /** Monotone non-decreasing over its single input? Conservative
    * whitelist — refusing a monotone expression costs pruning,
    * accepting a non-monotone one costs ROWS. */
  private def monotone(e: Expression): Boolean = e match {
    case _: expressions.AttributeReference => true
    case c: expressions.Cast =>
      monotoneCast(c.child.dataType, c.dataType) && monotone(c.child)
    case t: expressions.TruncTimestamp =>
      t.format.isInstanceOf[Literal] && monotone(t.timestamp)
    case t: expressions.TruncDate =>
      t.format.isInstanceOf[Literal] && monotone(t.date)
    case y: expressions.Year => monotone(y.child)
    case _ => false
  }

  private def monotoneCast(from: org.apache.spark.sql.types.DataType,
                           to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(0); case ShortType => Some(1)
      case IntegerType => Some(2); case LongType => Some(3)
      case _ => None
    }
    (from, to) match {
      case (a, b) if a == b => true
      case (TimestampType, DateType) => true // floor to day — monotone
      case (DateType, TimestampType) => true // midnight — monotone
      case _ => (for { a <- rank(from); b <- rank(to) } yield a <= b)
        .getOrElse(false)
    }
  }

  /** Rewrite range/point predicates on a deriver's INPUT column into
    * predicates on its GENERATED column: for monotone non-decreasing
    * E, `in >= X ⟹ g >= E(X)`, `in <= X ⟹ g <= E(X)`,
    * `in = X ⟹ g = E(X)`. STRICT input bounds first tighten the
    * literal by one unit of the input's discrete domain
    * (`in < X ⟺ in <= X − 1µs` for timestamps, −1 day for dates,
    * −1 for integrals) before applying E — otherwise `ts <
    * '2022-01-01'` would derive `yr <= 2022` and keep the entire
    * boundary year E collapsed the bound into. Non-discrete or
    * overflowing literals fall back to the inclusive (still correct,
    * just looser) bound. The derived filters prune through the same
    * conservative [[mayMatch]] as pushed ones; any evaluation hiccup
    * skips that derivation, never the scan. */
  /** Narrow a `cast(attr) cmp literal` comparison back onto the bare
    * attribute when the cast is a pure INTEGRAL WIDENING and the
    * literal fits the input domain: `cast(i AS BIGINT) >= 3000L ⟺
    * i >= 3000` exactly, so the deriver match below (which needs the
    * bare `attr cmp literal` shape) fires on the mixed-type
    * predicates type coercion produces. Chrono casts stay wrapped —
    * `cast(ts AS DATE) >= X` inverts through the SESSION zone, which
    * this planning-time rewrite must not bake in. A literal outside
    * the input domain leaves the predicate untouched (no derivation —
    * conservative, and such a predicate matches nothing or everything
    * anyway). */
  private def narrowWidenedCast(f: Expression): Expression = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(0); case ShortType => Some(1)
      case IntegerType => Some(2); case LongType => Some(3)
      case _ => None
    }
    def widened(c: expressions.Cast): Option[expressions.AttributeReference] =
      c.child match {
        case a: expressions.AttributeReference =>
          (for { fr <- rank(a.dataType); tr <- rank(c.dataType) } yield fr < tr)
            .filter(identity).map(_ => a)
        case _ => None
      }
    def narrow(l: Literal, to: DataType): Option[Literal] = {
      val v: Option[Long] = l.value match {
        case n: Long => Some(n); case n: Int => Some(n.toLong)
        case n: Short => Some(n.toLong); case n: Byte => Some(n.toLong)
        case _ => None
      }
      v.flatMap { n =>
        to match {
          case IntegerType if n >= Int.MinValue && n <= Int.MaxValue =>
            Some(Literal(n.toInt))
          case ShortType if n >= Short.MinValue && n <= Short.MaxValue =>
            Some(Literal(n.toShort))
          case ByteType if n >= Byte.MinValue && n <= Byte.MaxValue =>
            Some(Literal(n.toByte))
          case _ => None
        }
      }
    }
    f match {
      case b: expressions.BinaryComparison => (b.left, b.right) match {
        case (c: expressions.Cast, l: Literal) if l.value != null =>
          (for { a <- widened(c); nl <- narrow(l, a.dataType) }
            yield b.withNewChildren(Seq(a, nl))).getOrElse(f)
        case (l: Literal, c: expressions.Cast) if l.value != null =>
          (for { a <- widened(c); nl <- narrow(l, a.dataType) }
            yield b.withNewChildren(Seq(nl, a))).getOrElse(f)
        case _ => f
      }
      case expressions.In(c: expressions.Cast, vs)
          if vs.forall(v => v.isInstanceOf[Literal] &&
            v.asInstanceOf[Literal].value != null) =>
        (for {
          a <- widened(c)
          narrowed <- {
            val ns = vs.map(v => narrow(v.asInstanceOf[Literal], a.dataType))
            if (ns.forall(_.isDefined)) Some(ns.map(_.get)) else None
          }
        } yield expressions.In(a, narrowed)).getOrElse(f)
      case _ => f
    }
  }

  def deriveGenerated(dataFilters0: Seq[Expression],
                      derivers: Seq[GeneratedDeriver]): Seq[Filter] = {
    if (derivers.isEmpty) return Nil
    val dataFilters = dataFilters0.map(narrowWidenedCast)
    def ev(d: GeneratedDeriver, l: Literal): Option[Any] =
      try {
        if (l.value == null || l.dataType != d.inputType) None
        else {
          val bound = d.expr.transform {
            case _: expressions.AttributeReference =>
              Literal.create(l.value, d.inputType)
          }
          Option(bound.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
            .flatMap(externalValue)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    // One discrete unit off the literal's INTERNAL value (micros for
    // timestamps, days for dates) — None when the domain isn't
    // discrete or the step would overflow, and the caller then uses
    // the inclusive bound.
    def step(d: GeneratedDeriver, l: Literal, delta: Int): Option[Literal] = {
      import org.apache.spark.sql.types._
      if (l.value == null || l.dataType != d.inputType) None
      else (d.inputType, l.value) match {
        case (TimestampType | TimestampNTZType | LongType, v: Long)
          if (delta > 0 && v != Long.MaxValue) || (delta < 0 && v != Long.MinValue) =>
          Some(Literal.create(v + delta, d.inputType))
        case (DateType | IntegerType, v: Int)
          if (delta > 0 && v != Int.MaxValue) || (delta < 0 && v != Int.MinValue) =>
          Some(Literal.create(v + delta, d.inputType))
        case (ShortType, v: Short)
          if (delta > 0 && v != Short.MaxValue) || (delta < 0 && v != Short.MinValue) =>
          Some(Literal.create((v + delta).toShort, d.inputType))
        case (ByteType, v: Byte)
          if (delta > 0 && v != Byte.MaxValue) || (delta < 0 && v != Byte.MinValue) =>
          Some(Literal.create((v + delta).toByte, d.inputType))
        case _ => None
      }
    }
    // `in < X`: tightened to `<= X − 1 unit` when the domain allows.
    def evLt(d: GeneratedDeriver, l: Literal): Option[Any] =
      step(d, l, -1).flatMap(ev(d, _)).orElse(ev(d, l))
    // `in > X`: tightened to `>= X + 1 unit` when the domain allows.
    def evGt(d: GeneratedDeriver, l: Literal): Option[Any] =
      step(d, l, 1).flatMap(ev(d, _)).orElse(ev(d, l))
    for {
      d <- derivers
      f <- dataFilters
      out <- f match {
        case expressions.GreaterThanOrEqual(a: expressions.AttributeReference, l: Literal)
          if a.name == d.inputName => ev(d, l).map(sources.GreaterThanOrEqual(d.genCol, _))
        case expressions.GreaterThan(a: expressions.AttributeReference, l: Literal)
          if a.name == d.inputName => evGt(d, l).map(sources.GreaterThanOrEqual(d.genCol, _))
        case expressions.LessThanOrEqual(a: expressions.AttributeReference, l: Literal)
          if a.name == d.inputName => ev(d, l).map(sources.LessThanOrEqual(d.genCol, _))
        case expressions.LessThan(a: expressions.AttributeReference, l: Literal)
          if a.name == d.inputName => evLt(d, l).map(sources.LessThanOrEqual(d.genCol, _))
        case expressions.EqualTo(a: expressions.AttributeReference, l: Literal)
          if a.name == d.inputName => ev(d, l).map(sources.EqualTo(d.genCol, _))
        case expressions.EqualTo(l: Literal, a: expressions.AttributeReference)
          if a.name == d.inputName => ev(d, l).map(sources.EqualTo(d.genCol, _))
        case expressions.GreaterThanOrEqual(l: Literal, a: expressions.AttributeReference)
          if a.name == d.inputName => ev(d, l).map(sources.LessThanOrEqual(d.genCol, _))
        case expressions.GreaterThan(l: Literal, a: expressions.AttributeReference)
          if a.name == d.inputName => evLt(d, l).map(sources.LessThanOrEqual(d.genCol, _))
        case expressions.LessThanOrEqual(l: Literal, a: expressions.AttributeReference)
          if a.name == d.inputName => ev(d, l).map(sources.GreaterThanOrEqual(d.genCol, _))
        case expressions.LessThan(l: Literal, a: expressions.AttributeReference)
          if a.name == d.inputName => evGt(d, l).map(sources.GreaterThanOrEqual(d.genCol, _))
        case expressions.In(a: expressions.AttributeReference, vs)
          if a.name == d.inputName && vs.forall(_.isInstanceOf[Literal]) =>
          val ext = vs.map(v => ev(d, v.asInstanceOf[Literal]))
          if (ext.nonEmpty && ext.forall(_.isDefined))
            Some(sources.In(d.genCol, ext.map(_.get).toArray))
          else None
        case _ => None
      }
    } yield out
  }

  private def external(l: Literal): Option[Any] =
    if (l.value == null) None else externalValue(l.value)

  private def externalValue(v: Any): Option[Any] = v match {
    case u: UTF8String => Some(u.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) => Some(n)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    case _ => None // intervals, binary, structs — not prunable here
  }

  // ---------------------------------------------------------------- //
  // Conservative evaluation: may this file contain a matching row?    //
  // ---------------------------------------------------------------- //

  def mayMatch(e: FileStatsEntry, f: Filter): Boolean = f match {
    case sources.And(l, r) => mayMatch(e, l) && mayMatch(e, r)
    case sources.Or(l, r) => mayMatch(e, l) || mayMatch(e, r)
    case sources.EqualTo(c, v) => inRange(e, c, v)
    case sources.EqualNullSafe(c, v) => if (v == null) nullPossible(e, c) else inRange(e, c, v)
    case sources.GreaterThan(c, v) => cmpMax(e, c, v).forall(_ > 0)
    case sources.GreaterThanOrEqual(c, v) => cmpMax(e, c, v).forall(_ >= 0)
    case sources.LessThan(c, v) => cmpMin(e, c, v).forall(_ < 0)
    case sources.LessThanOrEqual(c, v) => cmpMin(e, c, v).forall(_ <= 0)
    case sources.In(c, vs) => vs.exists(inRange(e, c, _))
    case sources.IsNull(c) => nullPossible(e, c)
    case sources.IsNotNull(c) => nonNullPossible(e, c)
    case sources.StringStartsWith(c, p) => prefixPossible(e, c, p)
    case _ => true // Not, string contains/ends — undecided
  }

  private def nullPossible(e: FileStatsEntry, c: String): Boolean =
    e.cols.get(c).forall(s => s.nulls != 0)

  private def nonNullPossible(e: FileStatsEntry, c: String): Boolean =
    e.cols.get(c).forall(s => s.min.isDefined || s.nulls < 0 || s.nulls < e.rows)

  /** All-null column (known): no value predicate can match. */
  private def allNull(s: ColStats, e: FileStatsEntry): Boolean =
    s.min.isEmpty && s.nulls >= 0 && s.nulls == e.rows

  /** compare(min, v): negative = min < v. None = undecidable. */
  private def cmpMin(e: FileStatsEntry, c: String, v: Any): Option[Int] =
    e.cols.get(c).flatMap { s =>
      if (allNull(s, e)) Some(1) // "min > everything": value predicates all fail
      else s.min.flatMap(m => cmp(s.tpe, m, v))
    }

  private def cmpMax(e: FileStatsEntry, c: String, v: Any): Option[Int] =
    e.cols.get(c).flatMap { s =>
      if (allNull(s, e)) Some(-1) // "max < everything"
      else s.max.flatMap(m => cmp(s.tpe, m, v))
    }

  private def inRange(e: FileStatsEntry, c: String, v: Any): Boolean =
    cmpMin(e, c, v).forall(_ <= 0) && cmpMax(e, c, v).forall(_ >= 0)

  /** File may hold a string starting with `p` iff [min,max] intersects
    * [p, next(p)): max >= p and (when next(p) is representable in
    * ASCII) min < next(p). */
  private def prefixPossible(e: FileStatsEntry, c: String, p: String): Boolean = {
    val upperOk = cmpMax(e, c, p).forall(_ >= 0)
    val nextP = if (p.nonEmpty && p.last < 0x7f) Some(p.init + (p.last + 1).toChar) else None
    val lowerOk = nextP.forall(np => cmpMin(e, c, np).forall(_ < 0))
    // An all-null column still skips: cmpMax says Some(-1) → upperOk false.
    upperOk && lowerOk
  }

  private def isAscii(s: String): Boolean = s.forall(_ < 0x80)

  /** Typed three-way compare of a stats bound against a literal; None
    * when the orders can't be replayed exactly. */
  private def cmp(tpe: String, bound: String, v: Any): Option[Int] = tpe match {
    case "num" =>
      val lit = v match {
        case n: Byte => Some(BigDecimal(n.toInt))
        case n: Short => Some(BigDecimal(n.toInt))
        case n: Int => Some(BigDecimal(n))
        case n: Long => Some(BigDecimal(n))
        // Float.toString, NOT toDouble: the bound was stringified via
        // Float.toString ("0.1"), while 0.1f.toDouble is
        // 0.10000000149... — comparing across widenings would WRONGLY
        // skip files on float columns.
        case n: Float if !n.isNaN && !n.isInfinite => Some(BigDecimal(n.toString))
        case n: Double if !n.isNaN && !n.isInfinite => Some(BigDecimal(n))
        case n: java.math.BigDecimal => Some(BigDecimal(n))
        case _ => None
      }
      val b = try Some(BigDecimal(bound)) catch { case _: NumberFormatException => None } // NaN/Inf bounds
      for { bb <- b; ll <- lit } yield bb.compare(ll)
    // "str~" (possibly-truncated bounds) still PRUNES: a truncated min
    // is ≤ the attained min and a truncated max ≥ the attained max, so
    // the recorded range only widens — skipping stays conservative.
    // Only [[MetadataCountRule]] must refuse it (a bound is not an
    // attained value there), which its tag equality already does.
    case "str" | "str~" => v match {
      case s: String if isAscii(s) && isAscii(bound) => Some(bound.compareTo(s))
      case _ => None
    }
    case _ => None
  }

  /** Fold per-file bounds into the table-wide MIN (or MAX) bound,
    * using exactly the order discipline [[cmp]] can replay: "num" as
    * exact BigDecimal, "str" only when every bound is pure ASCII.
    * None = undecidable somewhere (NaN/Inf bound, non-ASCII string) —
    * the caller keeps the scan. Input must be non-empty. */
  private[sinks] def reduceBound(tpe: String, bounds: Seq[String],
                                 wantMin: Boolean): Option[String] =
    bounds.tail.foldLeft(Option(bounds.head)) { (accOpt, b) =>
      accOpt.flatMap(a => cmpBounds(tpe, a, b).map(c =>
        if (wantMin == (c <= 0)) a else b))
    }

  /** Three-way compare of two sidecar bound strings — the bound-vs-
    * bound sibling of [[cmp]], with the same decidability rules. */
  private def cmpBounds(tpe: String, a: String, b: String): Option[Int] =
    tpe match {
      case "num" =>
        def p(s: String) =
          try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
        for { x <- p(a); y <- p(b) } yield x.compare(y)
      case "str" =>
        if (isAscii(a) && isAscii(b)) Some(a.compareTo(b)) else None
      case _ => None
    }

  // ---------------------------------------------------------------- //
  // Per-file Bloom filters: point-lookup skipping where min/max       //
  // can't bite (high-cardinality columns in arrival order).           //
  // ---------------------------------------------------------------- //

  /** `m`-bit Bloom filter over one column of one file, `k` probes of
    * `xxhash64(seed, value)`. `tpe` is the column's Spark type simple
    * string — the probe hashes the query literal AS THAT TYPE, because
    * XxHash64 hashes ints and longs differently. */
  case class BloomStats(tpe: String, m: Int, k: Int, bits: IndexedSeq[Long]) {
    def contains(pos: Int): Boolean = (bits(pos >> 6) & (1L << (pos & 63))) != 0
  }

  /** Bloom membership probe for a literal, replaying the build-side
    * `pmod(xxhash64(lit(seed), col), m)` exactly. `None` = undecided
    * (type mismatch / unsupported) — caller keeps the file. */
  def bloomMayContain(b: BloomStats, v: Any): Option[Boolean] = {
    val lit: Option[Literal] = (b.tpe, v) match {
      case ("int", n: Int) => Some(Literal(n))
      case ("bigint", n: Long) => Some(Literal(n))
      case ("bigint", n: Int) => Some(Literal(n.toLong))
      case ("double", n: Double) => Some(Literal(n))
      case ("string", s: String) => Some(Literal.create(s,
        org.apache.spark.sql.types.StringType))
      case _ => None
    }
    lit.map { l =>
      (0 until b.k).forall { seed =>
        val h = new expressions.XxHash64(Seq(Literal(seed), l)).eval(null).asInstanceOf[Long]
        b.contains((((h % b.m) + b.m) % b.m).toInt)
      }
    }
  }

  /** May this file contain a row matching `f`, per its Bloom filters?
    * Only equality shapes are decidable; everything else keeps the
    * file (min/max handles ranges). */
  def mayMatchBloom(blooms: Map[String, BloomStats], f: Filter): Boolean = f match {
    case sources.And(l, r) => mayMatchBloom(blooms, l) && mayMatchBloom(blooms, r)
    case sources.Or(l, r) => mayMatchBloom(blooms, l) || mayMatchBloom(blooms, r)
    case sources.EqualTo(c, v) =>
      blooms.get(c).flatMap(bloomMayContain(_, v)).getOrElse(true)
    case sources.EqualNullSafe(c, v) if v != null =>
      blooms.get(c).flatMap(bloomMayContain(_, v)).getOrElse(true)
    case sources.In(c, vs) => blooms.get(c) match {
      case Some(b) => vs.exists(v => bloomMayContain(b, v).getOrElse(true))
      case None => true
    }
    case _ => true
  }

  private[sinks] def encodeBlooms(entries: Seq[(String, Map[String, BloomStats])]): String =
    entries.flatMap { case (path, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, b) =>
        val bytes = java.nio.ByteBuffer.allocate(b.bits.length * 8)
        b.bits.foreach(bytes.putLong)
        Seq(enc(path), enc(c), b.tpe, b.m.toString, b.k.toString,
          java.util.Base64.getEncoder.encodeToString(bytes.array())).mkString("\t")
      }
    }.mkString("\n")

  private[sinks] def decodeBlooms(text: String): Map[String, Map[String, BloomStats]] =
    text.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
      val f = line.split("\t", -1)
      val bytes = java.util.Base64.getDecoder.decode(f(5))
      val buf = java.nio.ByteBuffer.wrap(bytes)
      val longs = IndexedSeq.fill(bytes.length / 8)(buf.getLong)
      (dec(f(0)), dec(f(1)), BloomStats(f(2), f(3).toInt, f(4).toInt, longs))
    }.toSeq.groupBy(_._1).map { case (p, rows) =>
      p -> rows.map(r => r._2 -> r._3).toMap
    }

  // ---------------------------------------------------------------- //
  // Sidecar serialization (one line per file, TSV, URL-encoded).      //
  // ---------------------------------------------------------------- //

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def dec(s: String) = URLDecoder.decode(s, UTF_8)

  /** `path TAB rows TAB len TAB col:tpe:nulls:min:max;...` — every
    * variable field URL-encoded, absent min/max as empty. */
  def encode(entries: Seq[(String, FileStatsEntry)]): String =
    entries.map { case (path, e) =>
      val cols = e.cols.toSeq.sortBy(_._1).map { case (c, s) =>
        Seq(enc(c), s.tpe, s.nulls.toString,
          s.min.map(enc).getOrElse(""), s.max.map(enc).getOrElse("")).mkString(":")
      }.mkString(";")
      s"${enc(path)}\t${e.rows}\t${e.len}\t$cols"
    }.mkString("\n")

  def decode(text: String): Map[String, FileStatsEntry] =
    text.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
      val parts = line.split("\t", -1)
      val cols = if (parts.length < 4 || parts(3).isEmpty) Map.empty[String, ColStats]
        else parts(3).split(";", -1).iterator.map { cs =>
          val f = cs.split(":", -1)
          dec(f(0)) -> ColStats(f(1), f(2).toLong,
            if (f(3).isEmpty) None else Some(dec(f(3))),
            if (f(4).isEmpty) None else Some(dec(f(4))))
        }.toMap
      dec(parts(0)) -> FileStatsEntry(parts(1).toLong, parts(2).toLong, cols)
    }.toMap
}
