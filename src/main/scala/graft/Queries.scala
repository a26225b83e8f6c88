package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The registered query inventory: every implemented operator from
  * SURVEY.md §2 (and the LLM-pipeline extensions) exercised as a
  * deterministic query over the driver's testdata tables, each paired
  * with ANSI SQL that DuckDB runs as the correctness oracle.
  *
  * Determinism rules applied throughout (the driver hash-compares
  * values after sorting columns by name):
  *  - every query ends in an ORDER BY over a unique key;
  *  - double-typed SUMs go through exact DECIMAL(18,2) accumulation
  *    and only the final (exact) value is cast back to double, so
  *    Spark's partition-order float addition can never drift from
  *    DuckDB's sequential addition;
  *  - cosine similarities are rounded to 4 decimals on both sides.
  */
object Queries {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.parquet has shipped with either TIMESTAMP(NANOS) — which
      // Spark's Parquet reader rejects, so we read the raw int64 nanos and
      // truncate to micros (integer div; a double division would lose
      // precision at 1e18, and DuckDB's nanos→micros truncates the same
      // way) — or plain TIMESTAMP(MICROS), which Spark 4 infers as NTZ.
      // Normalize both to TimestampType. The NTZ→Timestamp cast is
      // value-preserving only under session TZ = UTC, so that
      // precondition is asserted here rather than assumed: a future
      // entry point with a non-UTC session would otherwise silently
      // shift every event timestamp.
      require(s.conf.get("spark.sql.session.timeZone") == "UTC",
        s"events.parquet NTZ normalization requires spark.sql.session.timeZone=UTC " +
          s"(got '${s.conf.get("spark.sql.session.timeZone")}')")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = s.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampType => df
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case other =>
          // Any other type means the regenerated file drifted from its
          // contract — fail loudly instead of casting to nulls.
          throw new IllegalStateException(
            s"events.parquet ts column has unexpected type $other " +
              "(expected TIMESTAMP, TIMESTAMP_NTZ, or legacy nanos int64)")
      }
    } else s.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal accumulation for double money/qty columns. */
  private[graft] def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  type Q = (SparkSession, String) => DataFrame

  /** name -> (spark query, optional DuckDB oracle SQL) — assembled from
    * the per-family files under `queries/` (parity, supplier, corpus,
    * snapshot, streaming, media). Bench sorts by name and the
    * registry is a Map, so concatenation order is immaterial. */
  val all: Seq[(String, Q, Option[String])] = ParityQueries.all ++
    CorpusQueries.all ++
    SupplierQueries.all ++
    MediaQueries.all ++
    SnapshotQueries.all ++
    EvolutionQueries.all ++
    StreamingQueries.all


  /** Copy a JSONC capture with the first array under `key` blanked —
    * the X5 sparse-capture fixture (string-aware bracket scan; sample
    * data carries `]` inside strings and `//` comments). */
  private[graft] def sparseFixture(samplePath: String, key: String): String = {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(samplePath))
    val m = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\\[").r
      .findFirstMatchIn(text)
      .getOrElse(throw new IllegalArgumentException(s"no array under '$key'"))
    val open = m.end - 1
    var i = open; var depth = 0; var inStr = false; var esc = false; var close = -1
    while (close < 0 && i < text.length) {
      val c = text.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else if (c == '/' && i + 1 < text.length && text.charAt(i + 1) == '/') {
        // JSONC line comment: brackets inside it must not count.
        val nl = text.indexOf('\n', i)
        i = if (nl < 0) text.length - 1 else nl
      } else c match {
        case '"' => inStr = true
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) close = i
        case _ =>
      }
      i += 1
    }
    require(close > open, s"unbalanced array under '$key'")
    val out = java.nio.file.Paths.get(DevRun.fixtureRoot("sparse_q"), "capture.jsonc")
    java.nio.file.Files.writeString(out,
      text.substring(0, open + 1) + text.substring(close))
    out.toString
  }

  def queries: Map[String, Q] = all.map { case (n, q, _) => n -> q }.toMap
  def oracleSql: Map[String, String] =
    all.collect { case (n, _, Some(sql)) => n -> sql.stripMargin.trim }.toMap

  /** Bench class per query, keyed off the family that registered it:
    * "lifecycle" = snapshot-store fixtures whose wall time is N atomic
    * commits + rider machinery (swings ±1.5–3 s between same-code runs
    * on a contended host); "streaming" = MemoryStream micro-batch
    * fixtures; "scan" = everything else (pure scans, functions,
    * operators over parquet — the class whose drift IS a code-change
    * signal). Bench emits per-class subtotals so a cross-round
    * artifact self-adjudicates host noise vs regression instead of
    * needing a hand-built per-class decomposition every round. */
  val benchClass: Map[String, String] =
    ((ParityQueries.all ++ CorpusQueries.all ++ SupplierQueries.all ++
        MediaQueries.all).map(x => x._1 -> "scan") ++
      (SnapshotQueries.all ++ EvolutionQueries.all)
        .map(x => x._1 -> "lifecycle") ++
      StreamingQueries.all.map(x => x._1 -> "streaming")).toMap
}
