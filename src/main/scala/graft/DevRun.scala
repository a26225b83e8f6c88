package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ExitCleanup

/** What a dev run gets: the one local session every dev main builds
  * (Bench, Verify, Explain, AbProbe, JobProfile, ScaleSmoke) and the
  * scratch directories registered fixtures write their tables into.
  * The product CLI (`pipeline.Main`) and the test session
  * (`SparkSpec`) configure their own. */
object DevRun {

  /** Local worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`,
    * else every core the JVM sees. Parsed once, loudly: Bench prints
    * the value unquoted in its JSON line. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // The whole-stage-codegen cache defaults to 100 STRONGLY-HELD
      // entries. With ~190 registered queries and INTERLEAVED timed
      // passes, every unit is evicted between a query's two samples, so
      // min-of-2 measures cold-compile cost that a warmed executor fleet
      // never pays — measured as a uniform ~1.25x floor over untouched
      // queries when the suite grew past the cache size (round 10; the
      // A/B is recorded in SCALE.md "codegen-cache geometry"). Size the
      // cache to the suite so the minima are steady-state plan cost
      // again. Static conf: must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", 4096L)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One parent per JVM, deleted recursively at exit after the
    * SparkContext stops: fixtures hand back LAZY frames that Bench and
    * Verify consume after the fixture returns, so nothing under it can
    * go earlier. */
  private[graft] lazy val fixtureParent: java.io.File =
    ExitCleanup.tempDir("graft-fixtures")

  /** A fresh directory for one fixture's tables, named after `tag`. */
  def fixtureRoot(tag: String): String =
    Files.createTempDirectory(fixtureParent.toPath, tag).toString

  /** Whether `df` reads files under `root` and nowhere else — the
    * MV-rewrite pins. Checked on the optimized plan's relations, not
    * the plan string, which abbreviates long scan locations. */
  def readsOnly(df: DataFrame, root: String): Boolean = {
    val files = df.inputFiles
    files.nonEmpty && files.forall(_.contains(s"$root/"))
  }

  /** JSON string literal for the mains' hand-written JSON. Escapes
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
    * an oracle's SQL would otherwise make `oracle_sql.json` unparseable
    * and silently drop every oracle compare. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
