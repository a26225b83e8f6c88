package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Supplier pipelines over the reference sample feeds (P/J/R/X
  * families): the nine unified projections plus the pipeline
  * orchestration, sparse-capture, and export queries.
  *
  * One slice of [[Queries.all]] — the registry map, oracle pairing,
  * and determinism rules live there; this file only contributes
  * entries. */
private[graft] object SupplierQueries {
  import Queries.{t, sparseFixture}

  val all: Seq[(String, Queries.Q, Option[String])] = Seq(

    // LSH sign-bucket assignment (the scale path's partitioning step).
    // ── PIM ingestion pipeline. The oracle can't read JSONC, so the
    //    check columns are pinned as VALUES literals — the same outputs
    //    the golden specs assert, derived from the reference sample
    //    captures (regenerate: tools/gen_values_oracle.py). ──────────
    ("q49_midocean_unified", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/MidOcean Sample Data.jsonc"
      graft.suppliers.MidOcean.unified(s, sample)
        .select(col("product_id"), col("supplier_product_code"), col("name"),
          col("is_printable"), size(col("variants")).as("n_variants"),
          size(col("print_positions")).as("n_print_positions"),
          size(col("print_options")).as("n_print_options"), col("status"),
          // Language-map lookups: localized product name (unified.jsonc
          // {lang} maps) and the first print option's per-language
          // technique names (printdata descriptions via F19).
          element_at(col("localized.name"), "en").as("name_en"),
          element_at(try_element_at(col("print_options"), lit(1))
            .getField("technique_names"), "de").as("first_technique_de"),
          element_at(col("product_extra_data"), "master_id").as("master_id"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('midocean_AR1249', 'AR1249', 'TARGET', true, 1, 4, 65, 'active', 'TARGET', 'Prägung', '40000011'),
        ('midocean_AR1253', 'AR1253', 'BASICS', true, 1, 3, 65, 'active', 'BASICS', 'Prägung', '40000012'),
        ('midocean_AR1470', 'AR1470', 'HIGH PARK', true, 1, 3, 65, 'active', 'HIGH PARK', 'Prägung', '40000048'),
        ('midocean_AR1589', 'AR1589', 'COLUMBUS', true, 1, 4, 65, 'active', 'COLUMBUS', 'Prägung', '40000080'),
        ('midocean_AR1804', 'AR1804', 'ARCONOT', true, 10, 5, 65, 'active', 'ARCONOT', 'Prägung', '40000190')
      ) AS t(product_id, supplier_product_code, name, is_printable, n_variants, n_print_positions, n_print_options, status, name_en, first_technique_de, master_id)
      ORDER BY product_id""")),


    ("q50_laltex_unified", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/Laltex Sample Data.jsonc"
      graft.suppliers.Laltex.unified(s, sample)
        .select(col("product_id"), col("name"), size(col("variants")).as("n_variants"),
          size(col("base_prices")).as("n_price_tiers"),
          size(col("keywords")).as("n_keywords"), col("is_printable"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('laltex_AA0131', 'Eye Mask', 8, 10, 9, true),
        ('laltex_AA0135', 'Venus Tyre Gauge Keyring', 1, 10, 9, true),
        ('laltex_AA0411', 'Cabot Ice Scraper', 6, 10, 9, true),
        ('laltex_AA0412', 'Hudson Ice Scraper', 10, 10, 9, true)
      ) AS t(product_id, name, n_variants, n_price_tiers, n_keywords, is_printable)
      ORDER BY product_id""")),


    ("q51_pipeline_full_sync", (s: SparkSession, d: String) => {
      import graft.pipeline.{Pipeline, SupplierConfig}
      val sink = DevRun.fixtureRoot("q51") + "/products"
      val results = Pipeline.runFullSync(s, Seq(
        SupplierConfig("midocean", "/root/reference/sample data/MidOcean Sample Data.jsonc"),
        SupplierConfig("laltex", "/root/reference/sample data/Laltex Sample Data.jsonc")), sink)
      require(results.forall(_.status == "success"),
        s"pipeline statuses: ${results.map(r =>
          s"${r.supplier}=${r.status}${r.errorSamples.mkString("[", "; ", "]")}")}")
      Pipeline.statusReport(s, sink)
    }, Some("""
      SELECT * FROM (VALUES
        ('laltex', 'active', 4, 25),
        ('midocean', 'active', 5, 14)
      ) AS t(supplier_id, status, n_products, n_variants)
      ORDER BY supplier_id""")),


    ("q53_ralawise_unified", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/Ralawise Sample Data.jsonc"
      graft.suppliers.Ralawise.unified(s, sample)
        .select(col("product_id"), col("name"), col("brand"),
          size(col("variants")).as("n_variants"),
          size(col("categories")).as("n_categories"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('ralawise_TS009', 'Hooded 2-layer softshell jacket', '2786', 1, 4),
        ('ralawise_TS012', 'Softshell jacket', '2786', 1, 10),
        ('ralawise_TS013', 'Parka jacket', '2786', 1, 10)
      ) AS t(product_id, name, brand, n_variants, n_categories)
      ORDER BY product_id""")),


    ("q57_keramikos_unified", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/Keramikos Sample Data.jsonc"
      graft.suppliers.Keramikos.unified(s, sample)
        .select(col("product_id"), col("name"), col("status"), col("is_printable"),
          size(col("print_options")).as("n_print_options"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('keramikos_ATLWHI', 'Atlantic White', 'active', true, 3),
        ('keramikos_BELBLA', 'Bell Black', 'active', true, 2),
        ('keramikos_BELFAST', 'Belfast Earthenware Mug', 'active', true, 2),
        ('keramikos_BELMBL', 'Bell Midnight Blue', 'active', true, 2)
      ) AS t(product_id, name, status, is_printable, n_print_options)
      ORDER BY product_id""")),


    ("q58_preseli_unified", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/Preseli Sample Data.jsonc"
      graft.suppliers.Preseli.unified(s, sample)
        .select(col("product_id"), col("name"), size(col("base_prices")).as("n_price_tiers"),
          size(col("images")).as("n_images"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('preseli_PSL10', '10mm Plant Silk Lanyard', 8, 4)
      ) AS t(product_id, name, n_price_tiers, n_images)
      ORDER BY product_id""")),


    ("q59_xd_unified", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/XD Sample Data.jsonc"
      graft.suppliers.Xd.unified(s, sample)
        .select(col("product_id"), col("name"), col("brand"),
          size(col("variants")).as("n_variants"),
          size(element_at(col("variants"), 1).getField("prices")).as("n_price_tiers"),
          element_at(col("variants"), 1).getField("stock").getField("available")
            .as("stock_available"),
          // unified.jsonc packaging/sustainability/lifecycle extension.
          col("packaging.outer_carton.qty").as("carton_qty"),
          col("sustainability.eco").as("eco"),
          col("sustainability.recycled_content_pct").as("recycled_pct"),
          col("lifecycle.product_lifecycle").as("product_lifecycle"),
          // X1 — localized `{lang}` maps (unified.jsonc:25-33).
          element_at(col("localized.name"), "en").as("name_en"),
          element_at(col("localized.brand"), "en").as("brand_en"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('xd_V10200', 'VINGA Cott RCS RPET water bottle', 'Vinga', 1, 6, 17525, 48, true, 98.0, 'Outlet',
         'VINGA Cott RCS RPET water bottle', 'Vinga')
      ) AS t(product_id, name, brand, n_variants, n_price_tiers, stock_available, carton_qty, eco, recycled_pct, product_lifecycle, name_en, brand_en)
      ORDER BY product_id""")),


    ("q60_pfconcept_unified", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/PFConcept Sample Data.jsonc"
      graft.suppliers.PfConcept.unified(s, sample)
        .select(col("product_id"), col("name"), col("brand"),
          col("weight.value").as("weight_value"), col("weight.unit").as("weight_unit"),
          size(col("print_options")).as("n_print_options"),
          // unified.jsonc:21 relatedProducts (sorted-distinct union).
          array_join(col("related_products"), ",").as("related"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('pfconcept_R1070', 'Clasica unisex crewneck sweater', 'Roly', 12.0, 'kg', 1,
         '37512,37513,38210,38231,38232,K1070,R1071')
      ) AS t(product_id, name, brand, weight_value, weight_unit, n_print_options, related)
      ORDER BY product_id""")),


    ("q61_sands_unified", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/s&s.jsonc"
      graft.suppliers.SandS.unified(s, sample)
        .select(col("product_id"), col("name"), col("brand"),
          size(col("variants")).as("n_variants"),
          element_at(col("variants"), 1).getField("stock").getField("available")
            .as("stock_available"),
          // unified.jsonc:249-257 per-warehouse stock.locations.
          element_at(element_at(col("variants"), 1).getField("stock")
            .getField("locations"), 1).getField("id").as("location_id"),
          element_at(element_at(col("variants"), 1).getField("stock")
            .getField("locations"), 1).getField("qty").as("location_qty"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('ss_39', '2000', 'Gildan', 1, 7500, 'KS', 500)
      ) AS t(product_id, name, brand, n_variants, stock_available, location_id, location_qty)
      ORDER BY product_id""")),


    ("q62_sanmar_unified", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/Sanmar Sample Data.jsonc"
      graft.suppliers.Sanmar.unified(s, sample)
        .select(col("product_id"), col("name"), col("brand"),
          size(col("variants")).as("n_variants"),
          size(col("keywords")).as("n_keywords"),
          size(col("categories")).as("n_categories"),
          // unified.jsonc:21-22 relation split (Companion Sell vs
          // Substitute).
          array_join(col("related_products"), ",").as("related"),
          size(col("alternative_products")).as("n_alternatives"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('sanmar_108085', 'OGIO - Crunch Duffel. 108085', 'OGIO', 1, 34, 2, '108085', 0)
      ) AS t(product_id, name, brand, n_variants, n_keywords, n_categories, related, n_alternatives)
      ORDER BY product_id""")),


    // X5 — sparse-capture schema contract: a real capture with an
    // optional section blanked must flow through the pipeline as typed
    // nulls/empties, not crash the sync (ANSI element_at throws on
    // empty arrays; the pipelines must stay on try_element_at and the
    // declared-schema merge). Mirrors SparseCaptureSpec as a gated row.
    ("q86_sparse_capture", (s: SparkSession, d: String) => {
      val sparse = sparseFixture(
        "/root/reference/sample data/Sanmar Sample Data.jsonc", "description")
      graft.suppliers.Sanmar.unified(s, sparse)
        .select(col("product_id"),
          col("short_description").isNull.as("short_desc_null"),
          col("long_description"),
          size(col("variants")).as("n_variants"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('sanmar_108085', true, '', 1)
      ) AS t(product_id, short_desc_null, long_description, n_variants)
      ORDER BY product_id""")),


    // X10 — named open attributes (unified.jsonc:86-122
    // productExtraData): each supplier parks feed fields outside the
    // core schema in the open map; exploded to (product, attr, value)
    // rows across two suppliers with disjoint attribute vocabularies.
    ("q87_extra_attributes", (s: SparkSession, d: String) => {
      val pres = graft.suppliers.Preseli.unified(s,
        "/root/reference/sample data/Preseli Sample Data.jsonc")
      val xd = graft.suppliers.Xd.unified(s,
        "/root/reference/sample data/XD Sample Data.jsonc")
      pres.unionByName(xd, allowMissingColumns = true)
        .select(col("product_id"),
          explode(col("product_extra_data")).as(Seq("attr", "value")))
        .orderBy(col("product_id"), col("attr"))
    }, Some("""
      SELECT * FROM (VALUES
        ('preseli_PSL10', 'dataSheet', 'https://www.preseli.biz/datasheet.php?product_id=2'),
        ('preseli_PSL10', 'endUserWebsite', 'https://www.promobestsellers.co.uk/product/10mm-plant-silk-lanyard'),
        ('xd_V10200', 'giftWrappingPossible', 'true'),
        ('xd_V10200', 'restrictedCountries', 'NOR,SWE,ALA'),
        ('xd_V10200', 'variableDataPrinting', 'true')
      ) AS t(product_id, attr, value)
      ORDER BY product_id, attr""")),


    // X1 — full multilingual localized maps (unified.jsonc:25-33): the
    // reference fetches each feed once per language and the unified
    // document accumulates one `{lang: text}` key per fetch
    // (midocean_extractor.py:34,144). The same capture stands in for
    // each language's fetch here (the sandbox holds one capture per
    // supplier); what's under test is the merge mechanics — every
    // language key lands in the map, entries sort deterministically,
    // and base columns come from the preferred-language run.
    ("q88_localized_merge", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/MidOcean Sample Data.jsonc"
      val runs = Seq("en", "de", "fr").map(lang =>
        lang -> graft.suppliers.MidOcean.unified(s, sample, lang))
      graft.operators.Localize.mergeLanguageRuns(runs)
        .select(col("product_id"),
          array_join(map_keys(col("localized.name")), ",").as("name_langs"),
          element_at(col("localized.name"), "de").as("name_de"),
          size(col("localized.long_description")).as("n_desc_langs"),
          col("localized.title").isNull.as("title_null"),
          col("name"),
          size(col("variants")).as("n_variants"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('midocean_AR1249', 'de,en,fr', 'TARGET', 3, true, 'TARGET', 1),
        ('midocean_AR1253', 'de,en,fr', 'BASICS', 3, true, 'BASICS', 1),
        ('midocean_AR1470', 'de,en,fr', 'HIGH PARK', 3, true, 'HIGH PARK', 1),
        ('midocean_AR1589', 'de,en,fr', 'COLUMBUS', 3, true, 'COLUMBUS', 1),
        ('midocean_AR1804', 'de,en,fr', 'ARCONOT', 3, true, 'ARCONOT', 10)
      ) AS t(product_id, name_langs, name_de, n_desc_langs, title_null, name, n_variants)
      ORDER BY product_id""")),


    // The real java.net.http transport under oracle (S4/E4): a
    // loopback com.sun.net.httpserver fixture serves the documents
    // table as four Bearer-authed JSON pages; the graft-paged DSv2
    // source fetches each page in its own executor-side InputPartition
    // and the bodies parse declaratively (from_json + explode). The
    // scan is forced while the server is up, then returned localized
    // (the server is a fixture, not part of the measured plan). The
    // oracle replays the same pagination as a row_number bucketing.
    ("q115_paged_http", (s: SparkSession, d: String) => {
      import s.implicits._
      val token = "q115-token"
      val docs = t(s, d, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), col("lang"), col("text"))
        .orderBy(col("doc_id"))
        .toJSON.collect().toSeq
      val pages = docs.grouped(10).zipWithIndex
        .map { case (g, i) => (i + 1) -> s"[${g.mkString(",")}]" }.toMap
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/pages/", (ex: com.sun.net.httpserver.HttpExchange) => {
        val ok = Option(ex.getRequestHeaders.getFirst("Authorization"))
          .contains(s"Bearer $token")
        val (code, body) =
          if (!ok) (401, """{"error":"unauthorized"}""")
          else pages.get(ex.getRequestURI.getPath.stripPrefix("/pages/").toInt)
            .map((200, _)).getOrElse((404, """{"error":"no such page"}"""))
        val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(code, bytes.length)
        val os = ex.getResponseBody; os.write(bytes); ex.close()
      })
      // Non-daemon pool: must be shut down explicitly or it pins the
      // JVM open after main exits (HttpServer.stop does NOT stop a
      // user-provided executor).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      server.setExecutor(pool)
      server.start()
      val fetched = try {
        val port = server.getAddress.getPort
        s.read.format("graft-paged")
          .option("urlTemplate", s"http://127.0.0.1:$port/pages/{page}")
          .option("pages", pages.size.toString)
          .option("transport", "http")
          .option("bearerToken", token)
          .load()
          .select(col("page"), explode(from_json(col("body"),
            org.apache.spark.sql.types.DataType.fromDDL(
              "array<struct<doc_id:long,lang:string,text:string>>"))).as("r"))
          .select(col("page"), col("r.doc_id").as("doc_id"),
            col("r.lang").as("lang"), length(col("r.text")).as("n_chars"))
          .collect().toSeq
      } finally { server.stop(0); pool.shutdown() }
      fetched.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getInt(3)))
        .toDF("page", "doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT CAST((row_number() OVER (ORDER BY doc_id) - 1) // 10 + 1 AS INT)
          AS page,
        doc_id, lang, length(text) AS n_chars
      FROM documents WHERE doc_id < 40 ORDER BY doc_id""")),


    // mongoimport-compatible export (MongoExport.mongoJson — the K8
    // recursive datetime serialization done declaratively): nested
    // struct + array document per order, timestamps ISO-8601 at depth,
    // _id leading. The oracle REBUILDS each JSON line by string
    // concatenation — byte-for-byte, including the nested placed_at —
    // so any drift in field order, quoting, decimal scale, or the
    // recursive temporal formatting hash-mismatches.
    ("q117_mongo_export", (s: SparkSession, d: String) => {
      val doc = t(s, d, "orders").filter(col("o_orderkey") < 500)
        .select(
          concat(lit("orders_"), col("o_orderkey")).as("pid"),
          col("o_custkey").as("customer"),
          col("o_totalprice").cast("decimal(18,2)").as("total"),
          struct(col("o_orderstatus").as("status"),
            col("o_orderdate").cast("timestamp").as("placed_at")).as("meta"),
          array(col("o_orderpriority"), col("o_orderstatus")).as("tags"))
      graft.sinks.MongoExport.mongoJson(doc, "pid").toDF("json")
        .withColumn("_id", get_json_object(col("json"), "$._id"))
        .select(col("_id"), col("json"))
        .orderBy(col("_id"))
    }, Some("""
      SELECT 'orders_' || o_orderkey AS _id,
        '{"_id":"orders_' || o_orderkey ||
          '","customer":' || o_custkey ||
          ',"total":' || CAST(o_totalprice AS DECIMAL(18,2)) ||
          ',"meta":{"status":"' || o_orderstatus ||
          '","placed_at":"' ||
          strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%dT%H:%M:%SZ') ||
          '"},"tags":["' || o_orderpriority || '","' || o_orderstatus ||
          '"]}' AS json
      FROM orders WHERE o_orderkey < 500 ORDER BY _id""")),


    // S7 under oracle — the connection/validation probe
    // (FeedReader.validate, the CLI `validate` action's engine): a
    // readable non-empty feed probes OK, a missing path and an
    // empty file probe false (the reference's validate_connection,
    // etl/base.py:275-292, re-expressed as a source probe). VALUES
    // oracle pins all three outcomes.
    ("q134_validate_probe", (s: SparkSession, d: String) => {
      import s.implicits._
      val sample = "/root/reference/sample data/MidOcean Sample Data.jsonc"
      val empty = java.nio.file.Files.createFile(java.nio.file.Paths.get(
        DevRun.fixtureRoot("empty_feed"), "empty.jsonc")).toString
      Seq(
        ("empty", graft.sources.FeedReader.validate(s, empty)),
        ("midocean", graft.sources.FeedReader.validate(s, sample)),
        ("missing", graft.sources.FeedReader.validate(s,
          "/tmp/graft_no_such_feed_q134.jsonc")))
        .toDF("supplier", "feed_ok").orderBy(col("supplier"))
    }, Some("""
      SELECT * FROM (VALUES ('empty', false), ('midocean', true),
        ('missing', false)) AS t(supplier, feed_ok)
      ORDER BY supplier""")),


    // E49: declarative expectations — the one-pass batch gate report
    // (Delta Live Tables EXPECT shape). Violation = predicate
    // definitively FALSE (SQL CHECK: null passes), replayed as the
    // same conditional sums.
    ("q138_expectations_report", (s: SparkSession, d: String) => {
      import graft.operators.Expectations, Expectations.Expectation
      Expectations.report(t(s, d, "lineitem"), Seq(
          Expectation("discount_low", col("l_discount") <= 0.05),
          Expectation("qty_small", col("l_quantity") <= 25),
          Expectation("tax_cap", col("l_tax") <= 0.06),
          Expectation("status_set", col("l_linestatus").isNotNull)))
        .orderBy(col("rule"))
    }, Some("""
      WITH agg AS (SELECT count(*) AS total,
        CAST(sum(CASE WHEN NOT coalesce(l_discount <= 0.05, true)
            THEN 1 ELSE 0 END) AS BIGINT) AS v_discount,
        CAST(sum(CASE WHEN NOT coalesce(l_quantity <= 25, true)
            THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        CAST(sum(CASE WHEN NOT coalesce(l_tax <= 0.06, true)
            THEN 1 ELSE 0 END) AS BIGINT) AS v_tax,
        CAST(sum(CASE WHEN NOT coalesce(l_linestatus IS NOT NULL, true)
            THEN 1 ELSE 0 END) AS BIGINT) AS v_status
        FROM lineitem)
      SELECT rule, violations, total, violations = 0 AS pass FROM (
        SELECT 'discount_low' AS rule, v_discount AS violations, total FROM agg
        UNION ALL SELECT 'qty_small', v_qty, total FROM agg
        UNION ALL SELECT 'tax_cap', v_tax, total FROM agg
        UNION ALL SELECT 'status_set', v_status, total FROM agg)
      ORDER BY rule""")),


    // E49: per-row violation tagging for the quarantine channel — the
    // dead-letter path at row granularity. The tag array replays as a
    // sorted list_filter over CASE tags.
    ("q139_expectations_tags", (s: SparkSession, d: String) => {
      import graft.operators.Expectations, Expectations.Expectation
      Expectations.withViolations(
          t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"), col("o_orderstatus")),
          Seq(
            Expectation("price_cap", col("o_totalprice") < 250000.0),
            Expectation("not_pending", col("o_orderstatus") =!= "P"),
            Expectation("not_medium",
              col("o_orderpriority") =!= "3-MEDIUM")))
        .select(col("o_orderkey"),
          array_join(col("_violations"), ",").as("violated"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, coalesce(array_to_string(list_sort(list_filter([
          CASE WHEN NOT coalesce(o_totalprice < 250000.0, true)
            THEN 'price_cap' END,
          CASE WHEN NOT coalesce(o_orderstatus <> 'P', true)
            THEN 'not_pending' END,
          CASE WHEN NOT coalesce(o_orderpriority <> '3-MEDIUM', true)
            THEN 'not_medium' END],
        x -> x IS NOT NULL)), ','), '') AS violated
      FROM orders ORDER BY o_orderkey"""))
  )
}
