package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{ErrorChannel, Pipeline, Registry, SupplierConfig}

class LaltexSpec extends SparkSpec {
  import graft.suppliers.Laltex

  private val samplePath = "/root/reference/sample data/Laltex Sample Data.jsonc"
  private def available = new java.io.File(samplePath).exists()

  private lazy val unified = { val df = Laltex.unified(spark, samplePath); df.cache(); df }

  test("parses products with tier prices, dims, keywords") {
    assume(available)
    val r = unified.filter(col("product_id") === "laltex_AA0131")
      .select(col("name"), col("dimensions.length"), col("dimensions.unit"),
        col("keywords"), col("minimum_order_quantity"), col("carton_quantity"),
        size(col("base_prices")), col("is_printable")).collect()(0)
    assert(r.getString(0) == "Eye Mask")
    assert(r.getDouble(1) == 190.0 && r.getString(2) == "mm")
    assert(r.getSeq[String](3).contains("wellbeing"))
    assert(r.getInt(4) == 25 && r.getInt(5) == 1000)
    assert(r.getInt(6) == 10)   // ten quantity tiers
    assert(r.getBoolean(7))
  }

  test("variantView flattens to the unified.jsonc per-variant document shape") {
    assume(available)
    val v = graft.operators.Nest.variantView(unified)
    // One row per variant, product context carried, variant fields at
    // top level (ref unified.jsonc:4-12 — the extension schema is
    // variant-level).
    val nVariants = unified.select(sum(size(col("variants")))).collect()(0).getLong(0)
    assert(v.count() == nVariants)
    val r = v.filter(col("parent_product_id") === "laltex_AA0131")
      .orderBy(col("sku")).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getString(1) == "laltex")) // supplier
    assert(r.forall(_.getString(2) == "Eye Mask")) // product name carried
    assert(r.head.getInt(r.head.fieldIndex("n_prices")) == 10)
  }

  test("J5 tier semantics: open 'N/A' max tier parses to null max_quantity") {
    assume(available)
    val tiers = unified.filter(col("product_id") === "laltex_AA0131")
      .select(explode(col("base_prices")).as("p"))
      .select(col("p.min_quantity"), col("p.max_quantity"), col("p.value"))
      .orderBy(col("min_quantity")).collect()
    assert(tiers.head.getInt(0) == 1)
    val open = tiers.last
    assert(open.getInt(0) == 5000 && open.isNullAt(1) && open.getDouble(2) == 0.41)
  }

  test("J4 stock join: FreeStock and DueIns land on the right variant, order kept") {
    assume(available)
    val vs = unified.filter(col("product_id") === "laltex_AA0131")
      .select(explode(col("variants")).as("v"))
      .select(col("v.sku"), col("v.stock.available"), size(col("v.stock.due_ins")))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(vs("AA0131BK")._1 == 19437)
    assert(vs("AA0131NBL") == (5241, 1)) // the one SKU with a due-in
    // order: first item is the BLACK one (feed order)
    val first = unified.filter(col("product_id") === "laltex_AA0131")
      .select(element_at(col("variants"), 1).getField("sku")).collect()(0).getString(0)
    assert(first == "AA0131BK")
  }

  test("artwork templates and color list extracted") {
    assume(available)
    val r = unified.filter(col("product_id") === "laltex_AA0131")
      .select(size(col("artwork_templates")), col("colors_available")).collect()(0)
    assert(r.getInt(0) == 8)
    assert(r.getSeq[String](1).contains("Navy Blue"))
  }

  test("unified output conforms to the canonical schema") {
    assume(available)
    val out = unified.to(graft.schema.Unified.schema)
    assert(out.schema.catalogString == graft.schema.Unified.schema.catalogString)
    assert(out.count() > 0)
  }

  test("laltex: raw_data present and parseable") {
    assume(available)
    assertRawData(unified, "laltex")
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val midocean = "/root/reference/sample data/MidOcean Sample Data.jsonc"
  private val laltex = "/root/reference/sample data/Laltex Sample Data.jsonc"
  private def available =
    new java.io.File(midocean).exists() && new java.io.File(laltex).exists()

  test("error channel splits invalid rows with reasons, map-side") {
    val df = Seq(
      ("p1", "ok product", "active"),
      ("", "missing id", "active"),
      ("p3", "bad status", "zombie"),
      ("p4", null, "active")).toDF("product_id", "name", "status")
      .withColumn("supplier", struct(lit("s").as("id")))
    val (good, bad) = ErrorChannel.split(df)
    assert(good.count() == 1 && good.select("product_id").collect()(0).getString(0) == "p1")
    val errs = bad.select(col("product_id"), col("__errors")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(errs("").contains("missing product_id"))
    assert(errs("p3").contains("invalid status"))
    assert(errs("p4").contains("missing name"))
  }

  test("full sync: both suppliers land in one partitioned unified table; statuses success") {
    assume(available)
    val sink = java.nio.file.Files.createTempDirectory("graft-sink").toString + "/products"
    val results = Pipeline.runFullSync(spark,
      Seq(SupplierConfig("midocean", midocean), SupplierConfig("laltex", laltex)), sink)
    assert(results.map(_.status) == Seq("success", "success"))
    assert(results.map(_.errors).sum == 0)
    val table = spark.read.parquet(sink)
    val bySupplier = table.groupBy(col("supplier_id")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySupplier("midocean") == 5)
    assert(bySupplier.contains("laltex"))
    // sync twice = idempotent (K1 upsert, not append)
    Pipeline.runFullSync(spark, Seq(SupplierConfig("midocean", midocean)), sink)
    assert(spark.read.parquet(sink).filter(col("supplier_id") === "midocean").count() == 5)
    // A1/A2/A3+R5 status report aggregates
    val report = Pipeline.statusReport(spark, sink).collect()
    assert(report.map(_.getString(0)).toSet == Set("midocean", "laltex"))
  }

  test("per-supplier isolation: one broken supplier doesn't kill the run") {
    assume(available)
    val sink = java.nio.file.Files.createTempDirectory("graft-sink2").toString + "/products"
    val results = Pipeline.runFullSync(spark,
      Seq(SupplierConfig("nope", "/missing.jsonc"), SupplierConfig("midocean", midocean)), sink)
    assert(results.map(_.status) == Seq("failed", "success"))
  }

  test("partial success: injected bad record is skipped, counted, and sampled") {
    assume(available)
    // Register a wrapper pipeline that poisons one row.
    val poisoned = new graft.pipeline.SupplierPipeline {
      val id = "midocean"
      def unified(s: org.apache.spark.sql.SparkSession, p: String) =
        graft.suppliers.MidOcean.unified(s, p)
          .withColumn("name",
            when(col("product_id") === "midocean_AR1249", lit(null)).otherwise(col("name")))
    }
    val u = poisoned.unified(spark, midocean)
    val (good, bad) = ErrorChannel.split(u)
    assert(good.count() == 4 && bad.count() == 1)
    val sample = bad.select(concat_ws(";", col("__errors"))).collect()(0).getString(0)
    assert(sample.contains("missing name"))
  }

  test("dead-letter path captures every rejected row with its reasons") {
    assume(available)
    Registry.register(new graft.pipeline.SupplierPipeline {
      val id = "midocean_dl_test"
      def unified(s: org.apache.spark.sql.SparkSession, p: String) =
        graft.suppliers.MidOcean.unified(s, p)
          .withColumn("name",
            when(col("product_id") === "midocean_AR1249", lit(null))
              .otherwise(col("name")))
    })
    val sink = java.nio.file.Files.createTempDirectory("graft-dl").toString
    val r = Pipeline.runSupplier(spark,
      SupplierConfig("midocean_dl_test", midocean), s"$sink/products",
      deadLetterPath = Some(s"$sink/dead"))
    assert(r.status == "partial_success" && r.errors == 1)
    val dl = spark.read.parquet(s"$sink/dead")
    val rows = dl.select(col("product_id"), col("supplier_id"),
      concat_ws(";", col("__errors")).as("e")).collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "midocean_AR1249")
    assert(rows(0).getString(1) == "midocean_dl_test")
    assert(rows(0).getString(2).contains("missing name"))
    // A second run APPENDS (the dead-letter table is the complete
    // historic record, not a per-run overwrite).
    Pipeline.runSupplier(spark,
      SupplierConfig("midocean_dl_test", midocean), s"$sink/products",
      deadLetterPath = Some(s"$sink/dead"))
    assert(spark.read.parquet(s"$sink/dead").count() == 2)
  }

  /** A registered in-memory supplier of `n` products; the ids in `bad`
    * have no name and fail validation. */
  private def registerFeed(supplier: String, n: Int, bad: Set[Int]): Unit =
    Registry.register(new graft.pipeline.SupplierPipeline {
      val id = supplier
      def unified(s: org.apache.spark.sql.SparkSession, p: String) = {
        import graft.schema.Unified
        (1 to n).map(i => (s"${supplier}_$i", if (bad(i)) null else s"product $i"))
          .toDF("pid", "nm")
          .select(Unified.fill(Unified.schema,
            "product_id" -> col("pid"), "name" -> col("nm"),
            "supplier" -> Unified.struct(Unified.supplierSchema, "id" -> lit(supplier)),
            "status" -> lit("active")): _*)
      }
    })

  test("runSupplier on a clean feed: exact counts and no error samples") {
    registerFeed("acct_clean", 25, Set.empty)
    val sink = java.nio.file.Files.createTempDirectory("graft-acct").toString + "/products"
    val r = Pipeline.runSupplier(spark, SupplierConfig("acct_clean", "unused"), sink,
      atomicSink = true)
    assert((r.status, r.processed, r.success, r.errors) == ("success", 25L, 25L, 0L), r)
    assert(r.errorSamples.isEmpty)
    assert(graft.sinks.SnapshotStore.read(spark, sink).count() == 25L)
  }

  test("runSupplier on a partly-bad feed: partial_success, exact counts, at most five samples") {
    registerFeed("acct_partial", 30, (1 to 30).filter(_ % 3 == 0).toSet)
    val sink = java.nio.file.Files.createTempDirectory("graft-acct").toString + "/products"
    val r = Pipeline.runSupplier(spark, SupplierConfig("acct_partial", "unused"), sink,
      atomicSink = true)
    assert((r.status, r.processed, r.success, r.errors) ==
      ("partial_success", 30L, 20L, 10L), r)
    assert(r.errorSamples.size == 5 && r.errorSamples.forall(_.contains("missing name")),
      r.errorSamples)
    assert(graft.sinks.SnapshotStore.read(spark, sink).count() == 20L)
  }
}
