package graft.suppliers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Parsers
import graft.schema.Unified
import graft.schema.Unified.{cartonSchema, categorySchema, colorSchema, dimensionsSchema,
  imageSchema, lifecycleSchema, localizedSchema, packagingSchema, priceSchema,
  printOptionSchema, printPositionSchema, supplierSchema, variantSchema, weightSchema}
import graft.sources.FeedReader

/** MidOcean supplier pipeline: 5-endpoint feed → unified product rows
  * (ref: etl/transformers/midocean_transformer.py, the only
  * reference-implemented supplier, so it defines parity semantics).
  *
  * Spark-first design notes:
  *  - The variant⋈pricelist join (J1) is a broadcast hash equi-join on
  *    sku (the pricelist is a KB-scale dimension; the reference builds
  *    the same hash map by hand — midocean_extractor.py:195-209).
  *  - Variant order is load-bearing ("first variant" feeds categories,
  *    base prices and main images — midocean_transformer.py:247,323,367),
  *    so the explode→join→re-nest carries a posexplode index and
  *    re-sorts on it (SURVEY §7.4 risk 1).
  *  - Print options come from the global printpricelist (not keyed by
  *    product — midocean_transformer.py:433), so they are computed once
  *    and attached via crossJoin(broadcast(singleRow)) — one tiny
  *    broadcast, no shuffle of the product side.
  *  - Everything is built-in columnar expressions (HOFs, when/coalesce):
  *    zero UDFs, the whole plan stays in whole-stage codegen.
  */
object MidOcean {

  val supplierId = "midocean"

  /** Print technique code → canonical technique (the reference's
    * 70-entry dict, kept as data: midocean_transformer.py:29-95).
    * Unknown codes are dropped by lookups returning null. */
  val techniqueMap: Map[String, String] = {
    def fam(prefix: String, n: Int, v: String) =
      (0 until n).map(i => s"$prefix$i" -> v)
    (Seq("B" -> "debossing", "E" -> "embroidery",
      "ST" -> "screen_print", "T1" -> "transfer", "TD" -> "transfer",
      "TD1" -> "transfer", "TDT" -> "transfer", "TT" -> "transfer",
      "TR" -> "transfer", "TC" -> "transfer",
      "TS" -> "sublimation", "TS1" -> "sublimation", "TS2" -> "sublimation",
      "TS3" -> "sublimation", "TS4" -> "sublimation", "TSM" -> "sublimation",
      "TST" -> "sublimation", "RL" -> "laser_engraving") ++
      fam("L", 8, "laser_engraving") ++ fam("P", 8, "pad_print") ++
      fam("PD", 8, "digital_print") ++ fam("S", 8, "screen_print") ++
      fam("ST", 3, "screen_print") ++ fam("RS", 8, "screen_print") ++
      fam("RD", 4, "digital_print")).toMap
  }

  private val techMapCol: Column =
    map(techniqueMap.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  /** The five correlated endpoints of one capture document (S5). */
  case class Feed(doc: DataFrame) {
    def products: DataFrame = FeedReader.sectionOf(doc, "products.Response")
    def pricelist: DataFrame = doc
      .select(explode(col("pricelist.Response.price")).as("p")).select(col("p.*"))
    def printdataProducts: DataFrame = doc
      .select(explode(col("printdata.Response.products")).as("p")).select(col("p.*"))
    def printTechniques: DataFrame = doc
      .select(posexplode(col("printpricelist.Response.print_techniques")))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "t")
    /** Per-language technique display names (ref: MidOcean Sample
      * Data.jsonc:861-960 — one `{lang: name}` singleton per list
      * element, the F19 shape). */
    def techniqueDescriptions: DataFrame = doc
      .select(explode(col("printdata.Response.printing_technique_descriptions"))
        .as("d")).select(col("d.*"))
    def stock: DataFrame = doc
      .select(explode(col("stock.Response.stock")).as("s")).select(col("s.*"))
  }

  /** Source contract: every field the transform references, declared
    * so sparse captures (fields no row materializes, or a missing
    * endpoint) parse to typed nulls instead of failing analysis. Types
    * are strings — use-sites parse/try_cast; present fields keep their
    * inferred types (FeedReader.mergeSchemas). */
  private val requiredSchema = org.apache.spark.sql.types.StructType.fromDDL(
    """products STRUCT<Response: ARRAY<STRUCT<
      |  master_code: STRING, product_name: STRING, short_description: STRING,
      |  long_description: STRING, brand: STRING, material: STRING,
      |  product_class: STRING, length: STRING, width: STRING, height: STRING,
      |  length_unit: STRING, gross_weight: STRING, net_weight: STRING,
      |  gross_weight_unit: STRING, printable: STRING,
      |  outer_carton_quantity: STRING, country_of_origin: STRING,
      |  commodity_code: STRING, master_id: STRING, type_of_products: STRING,
      |  number_of_print_positions: STRING, volume: STRING, volume_unit: STRING,
      |  inner_carton_quantity: STRING, timestamp: STRING,
      |  carton_length: STRING, carton_length_unit: STRING,
      |  carton_width: STRING, carton_height: STRING,
      |  carton_volume: STRING, carton_volume_unit: STRING,
      |  carton_gross_weight: STRING, carton_gross_weight_unit: STRING,
      |  variants: ARRAY<STRUCT<
      |    sku: STRING, variant_id: STRING, color_code: STRING,
      |    color_description: STRING, pms_color: STRING, gtin: STRING,
      |    category_level1: STRING, category_level2: STRING,
      |    category_level3: STRING, plc_status_description: STRING,
      |    discontinued_date: STRING,
      |    digital_assets: ARRAY<STRUCT<type: STRING, subtype: STRING, url: STRING>>>>>>>,
      |pricelist STRUCT<Response: STRUCT<price: ARRAY<STRUCT<
      |  sku: STRING, price: STRING, valid_until: STRING>>>>,
      |printdata STRUCT<Response: STRUCT<
      |  printing_technique_descriptions: ARRAY<STRUCT<
      |    id: STRING, name: ARRAY<STRUCT<en: STRING>>>>,
      |  products: ARRAY<STRUCT<
      |  master_code: STRING,
      |  printing_positions: ARRAY<STRUCT<
      |    position_id: STRING, max_print_size_width: STRING,
      |    max_print_size_height: STRING,
      |    printing_techniques: ARRAY<STRUCT<id: STRING>>,
      |    images: ARRAY<STRUCT<print_position_image_with_area: STRING>>>>>>>>,
      |printpricelist STRUCT<Response: STRUCT<print_techniques: ARRAY<STRUCT<
      |  id: STRING, setup: STRING,
      |  var_costs: ARRAY<STRUCT<scales: ARRAY<STRUCT<
      |    price: STRING, minimum_quantity: STRING>>>>>>>>,
      |stock STRUCT<Response: STRUCT<stock: ARRAY<STRUCT<sku: STRING, qty: STRING>>>>
      |""".stripMargin)

  def readFeed(spark: SparkSession, path: String): Feed =
    Feed(FeedReader.readJsonc(spark, path, Some(requiredSchema)))

  // ── building blocks ──────────────────────────────────────────────────

  /** F12 — digital_assets with type=='image' → Image structs
    * (ref: midocean_transformer.py:304-316). */
  private def imagesOf(assets: Column): Column =
    transform(
      filter(coalesce(assets, array()), a => a.getField("type") === "image"),
      a => Unified.struct(imageSchema,
        "url" -> coalesce(a.getField("url"), lit("")),
        "type" -> a.getField("subtype"),
        "description" -> Parsers.snakeToTitle(a.getField("subtype"))))

  /** Full Price struct from a pricelist row (comma-decimal price,
    * GBP, tier 1..∞, unit price, optional valid_until —
    * ref: midocean_transformer.py:329-361). */
  private def priceStruct(price: Column, validUntil: Column): Column =
    Unified.struct(priceSchema,
      "value" -> Parsers.parseFloatComma(price),
      "currency" -> lit("GBP"),
      "min_quantity" -> lit(1),
      "type" -> lit("unit"),
      "valid_until" -> Parsers.parseIsoDate(validUntil))

  /** P7 — variant status with the 2099-12-31 sentinel
    * (ref: midocean_transformer.py:477-489). */
  private def variantStatus(v: Column): Column =
    Parsers.deriveStatus(v.getField("discontinued_date"), v.getField("plc_status_description"))

  // ── the transform ────────────────────────────────────────────────────

  /** Raw MidOcean feed → unified product DataFrame (rows conform to
    * graft.schema.Unified.schema minus the sink-stamped timestamps,
    * which stay null until the sink applies K7).
    *
    * `language` is the language the capture was fetched in (the
    * reference re-requests the whole feed per `language` parameter,
    * midocean_extractor.py:34,144): it keys this run's localized maps.
    * Merge per-language runs with
    * [[graft.operators.Localize.mergeLanguageRuns]] for full
    * multilingual maps (unified.jsonc:25-33). */
  def unified(feed: Feed): DataFrame = unified(feed, "en")

  def unified(feed: Feed, language: String): DataFrame = {
    val products = feed.products
    val pricelist = feed.pricelist

    // J1: explode variants (order-indexed), broadcast-join prices on sku.
    // A product listing no variants gets none (not one all-null row).
    val v = products
      .select(col("master_code"),
        posexplode(col("variants")).as(Seq("__pos", "v")))
    val prices = broadcast(pricelist.select(
      col("sku").as("__price_sku"),
      priceStruct(col("price"), col("valid_until")).as("__price")))
    val priced = v.join(prices, col("v.sku") === col("__price_sku"), "left_outer")

    val variantStruct = Unified.struct(variantSchema,
      "sku" -> coalesce(col("v.sku"), lit("")),
      "variant_id" -> col("v.variant_id"),
      "color" -> Unified.struct(colorSchema,
        "code" -> coalesce(col("v.color_code"), lit("")),
        "name" -> coalesce(col("v.color_description"), lit("")),
        "pms_color" -> col("v.pms_color"),
        "images" -> imagesOf(col("v.digital_assets")),
        "status" -> lit("active")),
      "prices" -> when(col("__price").isNotNull, array(col("__price"))).otherwise(array()),
      "images" -> imagesOf(col("v.digital_assets")),
      "status" -> variantStatus(col("v")),
      "gtin" -> col("v.gtin"))

    // Re-nest preserving feed order (A5 depends on element 1).
    val variantsByProduct = priced
      .groupBy(col("master_code"))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), variantStruct.as("v")))),
        x => x.getField("v")).as("__variants"))

    // J2: printdata products → print positions (left outer on master_code).
    val positions = feed.printdataProducts
      .select(col("master_code"),
        transform(col("printing_positions"), p => Unified.struct(printPositionSchema,
          "id" -> coalesce(p.getField("position_id"), lit("")),
          "name" -> coalesce(p.getField("position_id"), lit("")),
          "max_width" -> p.getField("max_print_size_width"),
          "max_height" -> p.getField("max_print_size_height"),
          "unit" -> lit("mm"),
          "techniques" -> filter(transform(p.getField("printing_techniques"),
            t => element_at(techMapCol, t.getField("id"))), x => x.isNotNull),
          "images" -> transform(coalesce(p.getField("images"), array()),
            i => Unified.struct(imageSchema,
              "url" -> coalesce(i.getField("print_position_image_with_area"), lit("")),
              "type" -> lit("print_position"),
              "description" -> concat(lit("Print position: "),
                coalesce(p.getField("position_id"), lit("")))))))
          .as("__print_positions"))

    // J3/F14: global print techniques → print options, computed once.
    val scalePrices = flatten(transform(col("t.var_costs"), vc =>
      filter(
        transform(vc.getField("scales"), sc => Unified.struct(priceSchema,
          "value" -> Parsers.parseFloatComma(sc.getField("price")),
          "currency" -> lit("GBP"),
          "min_quantity" -> Parsers.parseIntSeparators(sc.getField("minimum_quantity")),
          "type" -> lit("unit"))),
        // Python truthiness: zero or unparseable price/min-qty is skipped
        // (midocean_transformer.py:452).
        p => p.getField("value").isNotNull && p.getField("value") =!= 0.0 &&
          p.getField("min_quantity").isNotNull && p.getField("min_quantity") =!= 0)))
    // Localized technique display names: printdata's per-language
    // `{lang: name}` singleton lists (F19 merge) keyed by technique id
    // — a KB-scale dimension, broadcast onto the technique rows.
    val descs = feed.techniqueDescriptions
    val techNames = descs.select(col("id").as("__tech_id"),
      Parsers.structListToMap(descs, col("name")).as("__tech_names"))
    val optionRow = feed.printTechniques
      .join(broadcast(techNames), col("t.id") === col("__tech_id"), "left_outer")
      .select(col("__pos"),
        element_at(techMapCol, col("t.id")).as("technique"),
        Parsers.parseFloatComma(col("t.setup")).as("setup"),
        scalePrices.as("prices"), col("__tech_names"))
      .filter(col("technique").isNotNull)
      .select(struct(
        col("__pos"),
        Unified.struct(printOptionSchema,
          "technique" -> col("technique"),
          "position" -> lit("various"),
          "max_colors" -> lit(1),
          "setup_charge" -> col("setup"),
          "prices" -> col("prices"),
          "is_default" -> lit(false),
          "technique_names" -> col("__tech_names")).as("o")).as("po"))
      // Explicit __pos comparator: the option struct now carries a map
      // (technique_names), which default struct ordering can't compare.
      .agg(transform(
        array_sort(collect_list(col("po")), (l, r) =>
          when(l.getField("__pos") < r.getField("__pos"), -1)
            .when(l.getField("__pos") > r.getField("__pos"), 1).otherwise(0)),
        x => x.getField("o"))
        .as("__print_options"))

    // Assemble the unified row.
    val firstVariant = try_element_at(col("variants"), lit(1))
    val rawVariant1 = try_element_at(col("variants_raw"), lit(1))

    val base = products
      .withColumnRenamed("variants", "variants_raw")
      .join(variantsByProduct, Seq("master_code"), "left_outer")
      .withColumnRenamed("__variants", "variants")
      .join(broadcast(positions), Seq("master_code"), "left_outer")
      .crossJoin(broadcast(optionRow))

    val dims = {
      val l = Parsers.parseFloatComma(col("length"))
      val w = Parsers.parseFloatComma(col("width"))
      val h = Parsers.parseFloatComma(col("height"))
      when(coalesce(l, w, h).isNull, lit(null)).otherwise(Unified.struct(dimensionsSchema,
        "length" -> l, "width" -> w, "height" -> h,
        "unit" -> when(lower(coalesce(col("length_unit"), lit("cm"))) === "cm", "cm")
          .otherwise("mm")))
    }
    val weight = {
      val value = coalesce(Parsers.parseFloatComma(col("gross_weight")),
        Parsers.parseFloatComma(col("net_weight")))
      when(value.isNull, lit(null)).otherwise(Unified.struct(weightSchema,
        "value" -> value,
        "unit" -> when(lower(coalesce(col("gross_weight_unit"), lit("kg"))) === "kg", "kg")
          .otherwise("g")))
    }
    val categories = {
      val cat = (name: Column, level: Int) =>
        Unified.struct(categorySchema, "name" -> name, "level" -> lit(level))
      filter(array(
        cat(col("product_class"), 1),
        cat(rawVariant1.getField("category_level1"), 1),
        cat(rawVariant1.getField("category_level2"), 2),
        cat(rawVariant1.getField("category_level3"), 3)),
        c => c.getField("name").isNotNull)
    }
    val variants = coalesce(col("variants"), array())
    // A variant without a colour name has colour name "": no colour.
    val colorsAvailable = array_distinct(filter(
      transform(variants, v => v.getField("color").getField("name")),
      c => c.isNotNull && c =!= ""))
    val innerQty = Parsers.parseIntSeparators(col("inner_carton_quantity"))
    val outerQty = Parsers.parseIntSeparators(col("outer_carton_quantity"))

    base.select(Unified.fill(Unified.schema,
      "product_id" -> concat(lit("midocean_"), coalesce(col("master_code"), lit(""))),
      "supplier" -> Unified.struct(supplierSchema,
        "id" -> lit(supplierId), "name" -> lit("MidOcean"), "api_version" -> lit("2.0"),
        "contact_info" -> map(lit("website"), lit("https://www.midocean.com"),
          lit("api_base"), lit("https://api.midocean.com/gateway/"))),
      "supplier_product_code" -> coalesce(col("master_code"), lit("")),
      "name" -> coalesce(col("product_name"), lit("")),
      "short_description" -> col("short_description"),
      "long_description" -> col("long_description"),
      "categories" -> categories,
      "brand" -> col("brand"),
      "dimensions" -> dims,
      "weight" -> weight,
      "material" -> col("material"),
      "variants" -> variants,
      "colors_available" -> colorsAvailable,
      "base_prices" -> coalesce(slice(firstVariant.getField("prices"), 1, 1), array()),
      "is_printable" -> (lower(coalesce(col("printable"), lit(""))) === "yes"),
      "print_positions" -> coalesce(col("__print_positions"), array()),
      "print_options" -> coalesce(col("__print_options"), array()),
      "images" -> coalesce(firstVariant.getField("images"), array()),
      "minimum_order_quantity" -> lit(1),
      "carton_quantity" -> outerQty,
      "country_of_origin" -> col("country_of_origin"),
      "tariff_code" -> col("commodity_code"),
      "status" -> lit("active"),
      // Carton packaging (ref unified.jsonc:136-161; feed units: carton
      // dims in m, weight kg — kept as-declared via the unit fields).
      "packaging" -> Unified.struct(packagingSchema,
        "inner_carton" -> when(innerQty.isNotNull, Unified.struct(cartonSchema,
          "qty" -> innerQty, "unit" -> lit("cm"), "weight_unit" -> lit("kg"))),
        "outer_carton" -> when(coalesce(outerQty,
            Parsers.parseFloatComma(col("carton_length"))).isNotNull,
          Unified.struct(cartonSchema,
            "qty" -> outerQty,
            "length" -> Parsers.parseFloatComma(col("carton_length")),
            "width" -> Parsers.parseFloatComma(col("carton_width")),
            "height" -> Parsers.parseFloatComma(col("carton_height")),
            "unit" -> coalesce(col("carton_length_unit"), lit("m")),
            "weight_gross" -> Parsers.parseFloatComma(col("carton_gross_weight")),
            "weight_unit" -> coalesce(col("carton_gross_weight_unit"), lit("kg")),
            "volume" -> Parsers.parseFloatComma(col("carton_volume")),
            "volume_unit" -> col("carton_volume_unit")))),
      // Lifecycle (ref unified.jsonc:14-22): feed carries type and a
      // per-product modification timestamp.
      "lifecycle" -> Unified.struct(lifecycleSchema,
        "type_of_product" -> col("type_of_products"),
        "modified_date" -> col("timestamp").try_cast("timestamp")),
      // Localized content maps (ref unified.jsonc:25-33 `{lang}`
      // convention): one capture is single-language, so each non-null
      // field fills this run's language key; per-language technique
      // names ride in print_options.technique_names, and full
      // multilingual product maps come from merging per-language runs
      // (Localize.mergeLanguageRuns).
      "localized" -> {
        val en = (c: Column) => when(c.isNotNull, map(lit(language), c))
        Unified.struct(localizedSchema,
          "brand" -> en(col("brand")),
          "name" -> en(col("product_name")),
          "short_description" -> en(col("short_description")),
          "long_description" -> en(col("long_description")))
      },
      // Open attribute map (ref unified.jsonc:86-122 productExtraData):
      // feed fields outside the core schema, stringified; null-valued
      // entries dropped.
      "product_extra_data" -> map_filter(map(
        lit("master_id"), col("master_id").cast("string"),
        lit("type_of_products"), col("type_of_products").cast("string"),
        lit("number_of_print_positions"), col("number_of_print_positions").cast("string"),
        lit("volume"), col("volume").cast("string"),
        lit("volume_unit"), col("volume_unit").cast("string"),
        lit("inner_carton_quantity"), col("inner_carton_quantity").cast("string")),
        (_, v) => v.isNotNull),
      "raw_data" -> to_json(struct(products.columns.toSeq.map {
        case "variants" => col("variants_raw").as("variants")
        case c => col(c)
      }: _*))): _*)
  }

  /** Convenience: read + transform in one call. */
  def unified(spark: SparkSession, path: String): DataFrame =
    unified(readFeed(spark, path))

  /** Read + transform a capture fetched in `language`. */
  def unified(spark: SparkSession, path: String, language: String): DataFrame =
    unified(readFeed(spark, path), language)
}
