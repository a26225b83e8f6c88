package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.Shim
import graft.expressions.{CosineSimilarity, DotProduct}
import graft.functions.{TextAnalysis, Urls, Vectors}

/** SparkSessionExtensions hook exposing graft's native kernels to pure
  * SQL — a user can `SELECT graft_cosine(a.embedding, b.embedding)`
  * without touching the Scala API.
  *
  * Enable at build time with `.withExtensions(new GraftExtensions)` on
  * the session builder, as [[DevRun.session]] does (or
  * `spark.sql.extensions=graft.GraftExtensions`), or on a live session
  * with [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // Snapshot-catalog analysis: converts the thin V2 catalog table
    // (graft.<t> [VERSION AS OF n]) into the V1 skipping relation —
    // see GraftCatalog's scaladoc for why reads resolve this way.
    ext.injectResolutionRule(session =>
      graft.sinks.ResolveGraftSnapshot(session))
    // Metadata-only COUNT(*)/COUNT(c)/MIN(c)/MAX(c): a global
    // filterless aggregate over a bare snapshot scan answers from the
    // manifest's stats sidecar — zero data files opened (Delta's
    // OPTIMIZE_METADATA_ONLY_QUERY shape).
    ext.injectOptimizerRule(session =>
      graft.sinks.MetadataCountRule(session))
    // Transparent materialized-view rewrite: GROUP BY aggregates over
    // a snapshot scan answer from a registered, cursor-fresh rollup
    // table (spark.graft.rollups) — the Databricks/Snowflake MV
    // query-rewrite shape. Runs after MetadataCountRule so the
    // cheaper sidecar answer wins the global filterless case.
    ext.injectOptimizerRule(session =>
      graft.sinks.RollupRewriteRule(session))
    // Transparent dynamic file pruning (opt-in:
    // spark.graft.dynamicFilePruning): filteredDim ⋈ graftFactScan
    // equi-joins get the bounded key probe + IN-list file skipping of
    // graft.operators.DynamicPruning with zero API calls — Delta's
    // DFP shape.
    ext.injectOptimizerRule(session =>
      graft.sinks.DynamicPruningRule(session))
    // Maintenance SQL Spark's grammar lacks (RESTORE TABLE … TO
    // VERSION AS OF n, DESCRIBE HISTORY t) — a delegating parser, the
    // DeltaSqlParser architecture.
    ext.injectParser((_, delegate) =>
      new org.apache.spark.sql.graft.GraftSqlParser(delegate))
  }
}

object GraftExtensions {

  private def fn(name: String, clazz: Class[_], arity: Int,
                 build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      (children: Seq[Expression]) => {
        require(children.size == arity, s"$name takes $arity arguments")
        build(children)
      })

  /** Lift a Column-composition function (built entirely from codegen'd
    * built-ins) into a FunctionRegistry builder: wrap the child
    * expressions as Columns, compose, unwrap the resulting tree. The
    * registered SQL function IS the same expression tree the Scala
    * API produces — same codegen, same pushdown. */
  private def lifted(f: Seq[Column] => Column)
      : Seq[Expression] => Expression =
    children => Shim.eagerExpression(f(children.map(Shim.column)))

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_dot", classOf[DotProduct], 2, c => DotProduct(c(0), c(1))),
    fn("graft_cosine", classOf[CosineSimilarity], 2, c => CosineSimilarity(c(0), c(1))),
    fn("graft_canonical_url", Urls.getClass, 1,
      lifted { case Seq(u) => Urls.canonicalUrl(u) }),
    fn("graft_domain", Urls.getClass, 1,
      lifted { case Seq(u) => Urls.domainOf(u) }),
    fn("graft_deflate_ratio", classOf[graft.expressions.DeflateRatio], 1,
      c => graft.expressions.DeflateRatio(c(0))),
    fn("graft_luhn_valid", classOf[graft.expressions.LuhnValid], 1,
      c => graft.expressions.LuhnValid(c(0))),
    fn("graft_redact_cards", classOf[graft.expressions.RedactCards], 1,
      c => graft.expressions.RedactCards(c(0))),
    fn("graft_dot_int8", classOf[graft.expressions.Int8DotProduct], 2,
      c => graft.expressions.Int8DotProduct(c(0), c(1))),
    fn("graft_int8_scale", Vectors.getClass, 1,
      lifted { case Seq(v) => Vectors.int8Scale(v) }),
    fn("graft_int8_codes", Vectors.getClass, 2,
      lifted { case Seq(v, s) => Vectors.int8Codes(v, s) }),
    fn("graft_quality_logit", TextAnalysis.getClass, 1,
      lifted { case Seq(t) => TextAnalysis.qualityLogit(t) }),
    fn("graft_repetition", graft.operators.Repetition.getClass, 1,
      lifted { case Seq(t) => graft.operators.Repetition.signals(t) }))

  /** Register the same functions on an already-built session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
