package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One session per JVM (tests
  * fork one JVM); small shuffle-partition count keeps tiny-data tests
  * fast. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // One JVM runs every spec; the SQL status store otherwise retains
      // plan strings for up to 1000 executions — with the wide unified
      // schema those strings are MB-scale and add up to an OOM over a
      // few hundred pipeline builds.
      .config("spark.sql.ui.retainedExecutions", 5)
      .config("spark.ui.retainedJobs", 20)
      .config("spark.ui.retainedStages", 20)
      .config("spark.sql.maxToStringFields", 25)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  import org.apache.spark.sql.{DataFrame, Row}

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** A fresh directory under the JVM's self-cleaning fixture root
    * (deleted at exit), named after the spec. */
  def freshDir(): String = DevRun.fixtureRoot(getClass.getSimpleName)

  /** Register `name` as a graft snapshot catalog in the session. */
  def bindCatalog(name: String): Unit =
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sinks.GraftCatalog].getName)

  /** One-column string DataFrame helper. */
  def strDf(name: String, values: Seq[String]): DataFrame = {
    import spark.implicits._
    values.toDF(name)
  }

  /** Parity rule: every supplier keeps the source document in
    * `raw_data` (ref: unified_product_schema.py:201). get_json_object
    * returns null for invalid JSON, so this asserts presence AND
    * parseability. Call on the spec's CACHED unified frame. */
  def assertRawData(df: DataFrame, supplier: String): Unit = {
    import org.apache.spark.sql.functions._
    val bad = df.select(col("product_id"),
        col("raw_data").isNull.as("null_raw"),
        get_json_object(col("raw_data"), "$").isNull.as("unparseable"))
      .filter(col("null_raw") || col("unparseable")).collect()
    assert(bad.isEmpty,
      s"$supplier rows with null/unparseable raw_data: ${bad.mkString(",")}")
  }
}
