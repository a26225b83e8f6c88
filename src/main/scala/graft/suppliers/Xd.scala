package graft.suppliers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Unified
import graft.schema.Unified.{cartonSchema, categorySchema, colorSchema, dimensionsSchema,
  imageSchema, lifecycleSchema, localizedSchema, packagingSchema, priceSchema,
  printOptionSchema, printPositionSchema, stockSchema, supplierSchema, sustainabilitySchema,
  variantSchema, weightSchema}
import graft.sources.FeedReader

/** XD / Xindao supplier pipeline: five correlated feeds → unified rows.
  *
  * Feed shapes (ref: sample data/XD Sample Data.jsonc:3 Products,
  * :89 ProductPrices, :125 PrintData, :152 PrintPrices, :469 Stock):
  * one flat row per ItemCode (colour variant), grouped into a product
  * by ModelCode; item price tiers arrive PIVOTED as `Qty1..Qty6` ×
  * `ItemPriceNet_Qty1..6` column pairs and print price tiers as
  * `PrintPriceNet_<q>` at fixed breakpoints — both are unpivoted into
  * the unified tier-array form (SURVEY J5 semantics, A.6 fixture
  * notes). Stock is the J4 equi-join on ItemCode.
  *
  * Scale: Products/Prices/Stock all key on ItemCode with ~equal
  * cardinality → plain shuffled equi-joins (not broadcast — at 100 TB
  * none of them is a small side; AQE may still downgrade to broadcast
  * at test SF). PrintPrices is a genuine technique dimension →
  * broadcast. One hash-aggregate per ModelCode does the nesting; the
  * unpivot itself is a map-side array construction, no explode needed.
  */
object Xd {

  val supplierId = "xd"

  /** PrintTechnique label → canonical enum (graft.schema.Enums).
    * Unknown labels are kept lowercased/underscored rather than
    * dropped — XD's labels are open-ended. */
  val techniqueMap: Map[String, String] = Map(
    "pad print" -> "pad_print",
    "co2 engraving" -> "laser_engraving",
    "laser engraving" -> "laser_engraving",
    "silkscreen" -> "screen_print",
    "screen print" -> "screen_print",
    "screen round" -> "screen_print",
    "digital" -> "digital_print",
    "digital print" -> "digital_print",
    "doming" -> "full_color",
    "embroidery" -> "embroidery",
    "sublimation" -> "sublimation",
    "transfer" -> "transfer")

  private val techniqueMapCol: Column =
    map(techniqueMap.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  private def canonTechnique(label: Column): Column =
    coalesce(
      element_at(techniqueMapCol, lower(coalesce(label, lit("")))),
      regexp_replace(lower(coalesce(label, lit(""))), "[^a-z0-9]+", "_"))

  private def img(url: Column, t: String): Column =
    Unified.struct(imageSchema, "url" -> url, "type" -> lit(t))

  case class Feed(doc: DataFrame) {
    def products: DataFrame = FeedReader.sectionOf(doc, "Products.Response")
    def prices: DataFrame = FeedReader.sectionOf(doc, "ProductPrices.Response")
    def printData: DataFrame = FeedReader.sectionOf(doc, "PrintData.Response")
    def printPrices: DataFrame = FeedReader.sectionOf(doc, "PrintPrices.Response")
    def stock: DataFrame = FeedReader.sectionOf(doc, "Stock.Response")
  }

  def readFeed(spark: SparkSession, path: String): Feed =
    Feed(FeedReader.readJsonc(spark, path, Some(FeedReader.requiredFor(
      "Products.Response" -> productCols,
      "ProductPrices.Response" -> priceCols,
      "PrintData.Response" -> printDataCols,
      "PrintPrices.Response" -> printPriceCols,
      "Stock.Response" -> stockCols))))

  /** Unpivot the Qty1..Qty6 / ItemPriceNet_Qty1..6 column pairs into a
    * tier array; max_quantity of tier i is Qty(i+1)-1 (open-ended last
    * tier). Map-side only; the input must be conformed (see
    * [[FeedReader.conform]]) so every tier column resolves. */
  private def itemTiers(currency: Column): Column = {
    val entries = (1 to 6).map { i =>
      val nextQty =
        if (i < 6) col(s"Qty${i + 1}").try_cast("int") - 1
        else lit(null)
      Unified.struct(priceSchema,
        "value" -> col(s"ItemPriceNet_Qty$i").try_cast("double"),
        "currency" -> coalesce(currency, lit("GBP")),
        "min_quantity" -> coalesce(col(s"Qty$i").try_cast("int"), lit(1)),
        "max_quantity" -> nextQty,
        "type" -> lit("unit"))
    }
    filter(array(entries: _*), t => t.getField("value").isNotNull)
  }

  /** Print tiers arrive at fixed breakpoints as PrintPriceNet_<q>. */
  private val printBreaks = Seq(1, 50, 100, 250, 500, 1000, 2500, 5000, 10000)

  private def printTiers(currency: Column): Column = {
    val entries = printBreaks.zipWithIndex.map { case (q, i) =>
      val maxQ =
        if (i < printBreaks.size - 1) lit(printBreaks(i + 1) - 1)
        else lit(null)
      Unified.struct(priceSchema,
        "value" -> col(s"PrintPriceNet_$q").try_cast("double"),
        "currency" -> coalesce(currency, lit("GBP")),
        "min_quantity" -> lit(q),
        "max_quantity" -> maxQ,
        "type" -> lit("unit"))
    }
    filter(array(entries: _*), t => t.getField("value").isNotNull)
  }

  /** Column contracts per feed section (FeedReader.conform): a sparse
    * or empty capture still resolves every referenced column. */
  private val productCols: Seq[(String, String)] =
    Seq("ModelCode", "ItemCode", "ItemName", "Brand", "MainCategory",
      "SubCategory", "Material", "Color", "PMSColor1", "HexColor1",
      "CountryOfOrigin", "CommodityCode", "EANCode", "PackagingTypeItem",
      "ProductLifeCycle", "LongDescription").map(_ -> "string") ++
      Seq("ItemLengthCM", "ItemWidthCM", "ItemHeightCM", "ItemDiameterCM",
        "ItemWeightNetGr", "ItemWeightGrossGr").map(_ -> "double") ++
      Seq("OuterCartonQty" -> "int") ++
      // unified.jsonc packaging/sustainability/lifecycle sources.
      Seq("IntroDate", "Compliance", "Certifications", "Social Audits",
        "MainImage", "AllImages", "RestrictedCountriesForSale")
        .map(_ -> "string") ++
      Seq("Eco" -> "boolean", "InnerboxQty" -> "int",
        "GiftWrappingPossible" -> "boolean",
        "VariableDataPrinting" -> "boolean") ++
      Seq("Recycled Content Percent", "Total CO2 emissions",
        "Total CO2 emissions benchmark", "OuterCartonLengthCM",
        "OuterCartonWidthCM", "OuterCartonHeightCM",
        "OuterCartonWeightNetKG", "OuterCartonWeightGrossKG")
        .map(_ -> "double")
  private val priceCols: Seq[(String, String)] =
    Seq("ItemCode" -> "string", "Currency" -> "string") ++
      (1 to 6).flatMap(i => Seq(s"Qty$i" -> "int", s"ItemPriceNet_Qty$i" -> "double"))
  private val stockCols: Seq[(String, String)] =
    Seq("ItemCode" -> "string", "CurrentStock" -> "int")
  private val printDataCols: Seq[(String, String)] =
    Seq("ModelCode", "ItemCode", "PrintCode", "PrintTechnique",
      "PrintPosition", "PrintPositionCode", "VRP_URL", "LineDrawing")
      .map(_ -> "string") ++
      Seq("MaxPrintWidthMM" -> "double", "MaxPrintHeightMM" -> "double",
        "MaxColors" -> "int", "Default" -> "boolean",
        "VRP_X" -> "long", "VRP_Y" -> "long",
        "VRP_Width" -> "long", "VRP_Height" -> "long")
  private val printPriceCols: Seq[(String, String)] =
    Seq("PrintCode" -> "string", "Currency" -> "string", "SetupNet" -> "double") ++
      printBreaks.map(q => s"PrintPriceNet_$q" -> "double")

  def unified(feed: Feed): DataFrame = unified(feed, "en")

  /** `language` is the language of the per-language feed this capture
    * came from (XD publishes one feed per language — the `-en-gb`
    * suffix in the feed URL, XD Sample Data.jsonc:3); it keys this
    * run's localized maps. Merge runs with
    * [[graft.operators.Localize.mergeLanguageRuns]]. */
  def unified(feed: Feed, language: String): DataFrame = {
    val items = FeedReader.conform(feed.products, productCols)
    def opt(name: String): Column = col(name)

    // J5 data, pivoted form → tier array keyed by ItemCode.
    val pricesC = FeedReader.conform(feed.prices, priceCols)
    val tiers = pricesC.select(
      col("ItemCode").as("__price_item"),
      itemTiers(col("Currency")).as("__tier_prices"))

    // J4: stock by ItemCode.
    val stock = FeedReader.conform(feed.stock, stockCols).select(
      col("ItemCode").as("__stock_item"),
      Unified.struct(stockSchema,
        "available" -> coalesce(col("CurrentStock").try_cast("int"), lit(0))).as("__stock"))

    // PrintPrices: small technique dimension keyed by PrintCode → broadcast.
    val printPriceDim = broadcast(
      FeedReader.conform(feed.printPrices, printPriceCols).select(
        col("PrintCode").as("__pp_code"),
        col("SetupNet").try_cast("double").as("__pp_setup"),
        printTiers(col("Currency")).as("__pp_tiers")))

    // Print options + positions per model: PrintData ⋈ PrintPrices.
    val printByModel = FeedReader.conform(feed.printData, printDataCols)
      .join(printPriceDim, col("PrintCode") === col("__pp_code"), "left_outer")
      .groupBy(col("ModelCode"))
      .agg(
        transform(
          graft.operators.Nest.sortByKey(collect_list(struct(
            struct(col("PrintCode"), col("PrintPosition")).as("o"),
            Unified.struct(printOptionSchema,
              "technique" -> canonTechnique(col("PrintTechnique")),
              "position" -> coalesce(col("PrintPosition"), lit("")),
              "max_colors" -> coalesce(col("MaxColors").try_cast("int"), lit(1)),
              "setup_charge" -> col("__pp_setup"),
              "prices" -> coalesce(col("__pp_tiers"), array()),
              "is_default" -> coalesce(col("Default").try_cast("boolean"), lit(false)))
              .as("v")))),
          x => x.getField("v")).as("__print_options"),
        transform(
          graft.operators.Nest.sortByKey(collect_list(struct(
            struct(col("PrintPositionCode"), col("PrintCode")).as("o"),
            Unified.struct(printPositionSchema,
              "id" -> coalesce(col("PrintPositionCode"), col("PrintPosition"), lit("")),
              "name" -> coalesce(col("PrintPosition"), lit("")),
              "max_width" -> col("MaxPrintWidthMM").try_cast("double"),
              "max_height" -> col("MaxPrintHeightMM").try_cast("double"),
              "unit" -> lit("mm"),
              "techniques" -> array(canonTechnique(col("PrintTechnique"))),
              "max_colors" -> col("MaxColors").try_cast("int"),
              "coordinates" -> map(
                lit("top_left_x"), col("VRP_X").cast("string"),
                lit("top_left_y"), col("VRP_Y").cast("string"),
                lit("width"), col("VRP_Width").cast("string"),
                lit("height"), col("VRP_Height").cast("string")),
              "images" -> filter(array(img(col("VRP_URL"), "vrp"),
                img(col("LineDrawing"), "line_drawing")),
                i => i.getField("url").isNotNull))
              .as("v")))),
          x => x.getField("v")).as("__print_positions"))

    val joined = items
      .join(tiers, col("ItemCode") === col("__price_item"), "left_outer")
      .join(stock, col("ItemCode") === col("__stock_item"), "left_outer")

    val status = when(
      upper(coalesce(col("ProductLifeCycle"), lit(""))).contains("DISCONTINU"),
      "discontinued").otherwise("active")

    val dims = when(
      coalesce(opt("ItemLengthCM"), opt("ItemWidthCM"),
        opt("ItemHeightCM"), opt("ItemDiameterCM")).isNotNull,
      Unified.struct(dimensionsSchema,
        "length" -> opt("ItemLengthCM").try_cast("double"),
        "width" -> opt("ItemWidthCM").try_cast("double"),
        "height" -> opt("ItemHeightCM").try_cast("double"),
        "diameter" -> opt("ItemDiameterCM").try_cast("double"),
        "unit" -> lit("cm")))

    // F10: gross weight preferred over net; grams.
    val weight = {
      val w = coalesce(col("ItemWeightGrossGr").try_cast("double"),
        col("ItemWeightNetGr").try_cast("double"))
      when(w.isNotNull, Unified.struct(weightSchema, "value" -> w, "unit" -> lit("g")))
    }

    val variantStruct = Unified.struct(variantSchema,
      "sku" -> coalesce(col("ItemCode"), lit("")),
      "variant_id" -> col("ItemCode"),
      "color" -> when(col("Color").isNotNull, Unified.struct(colorSchema,
        "code" -> coalesce(col("Color"), lit("")),
        "name" -> coalesce(col("Color"), lit("")),
        "hex_color" -> nullif(col("HexColor1"), lit("")),
        "pms_color" -> nullif(col("PMSColor1"), lit("")),
        "status" -> lit("active"))),
      "material_variant" -> nullif(col("Material"), lit("")),
      "dimensions" -> dims,
      "weight" -> weight,
      "prices" -> coalesce(col("__tier_prices"), array()),
      "stock" -> col("__stock"),
      "status" -> status,
      "gtin" -> nullif(col("EANCode"), lit("")))

    val parentCols = Seq("ItemName", "Brand", "MainCategory", "SubCategory",
      "Material", "LongDescription", "CountryOfOrigin", "CommodityCode",
      "OuterCartonQty", "PackagingTypeItem",
      "ProductLifeCycle", "IntroDate", "Compliance", "Certifications",
      "Social Audits", "Eco", "InnerboxQty", "Recycled Content Percent",
      "Total CO2 emissions", "Total CO2 emissions benchmark",
      "OuterCartonLengthCM", "OuterCartonWidthCM", "OuterCartonHeightCM",
      "OuterCartonWeightNetKG", "OuterCartonWeightGrossKG",
      "MainImage", "AllImages", "GiftWrappingPossible",
      "VariableDataPrinting", "RestrictedCountriesForSale")

    val grouped = graft.operators.Nest.rollupWithParent(
      joined, Seq("ModelCode"), parentCols, variantStruct, col("ItemCode"), "variants")
      .join(printByModel, Seq("ModelCode"), "left_outer")

    val colorsAvailable = array_distinct(filter(
      transform(col("variants"), v => v.getField("color").getField("name")),
      c => c.isNotNull))

    val categories = filter(array(
      Unified.struct(categorySchema, "name" -> col("MainCategory"), "level" -> lit(1)),
      Unified.struct(categorySchema, "name" -> col("SubCategory"), "level" -> lit(2),
        "parent_id" -> col("MainCategory"))),
      c => c.getField("name").isNotNull && c.getField("name") =!= "")

    val firstVariant = try_element_at(col("variants"), lit(1))
    val printOptions = coalesce(col("__print_options"), array())

    grouped.select(Unified.fill(Unified.schema,
      "product_id" -> concat(lit("xd_"), coalesce(col("ModelCode"), lit(""))),
      "supplier" -> Unified.struct(supplierSchema,
        "id" -> lit(supplierId), "name" -> lit("XD Connects")),
      "supplier_product_code" -> coalesce(col("ModelCode"), lit("")),
      "name" -> coalesce(col("ItemName"), lit("")),
      "long_description" -> col("LongDescription"),
      "categories" -> categories,
      "brand" -> nullif(col("Brand"), lit("")),
      "dimensions" -> firstVariant.getField("dimensions"),
      "weight" -> firstVariant.getField("weight"),
      "material" -> nullif(col("Material"), lit("")),
      "colors_available" -> colorsAvailable,
      "variants" -> col("variants"),
      "base_prices" -> firstVariant.getField("prices"),
      "is_printable" -> (size(printOptions) > 0),
      "print_positions" -> coalesce(col("__print_positions"), array()),
      "print_options" -> printOptions,
      // Feed images: MainImage as the primary plus the AllImages CSV as
      // gallery entries (ref: XD Sample Data.jsonc:67-71 — the spec's
      // "insert as gallery type in images" comment).
      "images" -> {
        val main = nullif(col("MainImage"), lit(""))
        val gallery = filter(transform(
          split(coalesce(col("AllImages"), lit("")), ",\\s*"), u => trim(u)),
          u => u =!= "" && u =!= coalesce(main, lit("")))
        concat(
          filter(array(img(main, "main")), i => i.getField("url").isNotNull),
          transform(gallery, u => img(u, "gallery")))
      },
      "minimum_order_quantity" -> lit(1),
      "carton_quantity" -> col("OuterCartonQty").try_cast("int"),
      "country_of_origin" -> nullif(col("CountryOfOrigin"), lit("")),
      "tariff_code" -> nullif(col("CommodityCode"), lit("")),
      "status" -> when(exists(col("variants"), v => v.getField("status") === "active"), "active")
        .otherwise("discontinued"),
      // Carton packaging (ref unified.jsonc:136-161 — XD Sample
      // Data.jsonc:31-42 outer carton dims/weights in cm/kg).
      "packaging" -> Unified.struct(packagingSchema,
        "inner_carton" -> when(col("InnerboxQty").try_cast("int").isNotNull,
          Unified.struct(cartonSchema,
            "qty" -> col("InnerboxQty").try_cast("int"),
            "unit" -> lit("cm"), "weight_unit" -> lit("kg"))),
        "outer_carton" -> when(coalesce(col("OuterCartonQty").try_cast("int"),
            col("OuterCartonLengthCM").try_cast("double")).isNotNull,
          Unified.struct(cartonSchema,
            "qty" -> col("OuterCartonQty").try_cast("int"),
            "length" -> col("OuterCartonLengthCM").try_cast("double"),
            "width" -> col("OuterCartonWidthCM").try_cast("double"),
            "height" -> col("OuterCartonHeightCM").try_cast("double"),
            "unit" -> lit("cm"),
            "weight_net" -> col("OuterCartonWeightNetKG").try_cast("double"),
            "weight_gross" -> col("OuterCartonWeightGrossKG").try_cast("double"),
            "weight_unit" -> lit("kg"))),
        "type_item" -> nullif(col("PackagingTypeItem"), lit(""))),
      // Eco/compliance (ref unified.jsonc:188-231 — XD Sample
      // Data.jsonc:43-66 eco flags, recycled %, CO2, audits, certs).
      "sustainability" -> Unified.struct(sustainabilitySchema,
        "eco" -> col("Eco").try_cast("boolean"),
        "recycled_content_pct" -> col("`Recycled Content Percent`").try_cast("double"),
        "co2_total" -> col("`Total CO2 emissions`").try_cast("double"),
        "co2_total_benchmark" -> col("`Total CO2 emissions benchmark`").try_cast("double"),
        "compliance" -> nullif(col("Compliance"), lit("")),
        "social_audits" -> filter(transform(split(coalesce(col("`Social Audits`"), lit("")), ","),
          s => trim(s)), s => s =!= ""),
        "certificates" -> filter(transform(split(coalesce(col("Certifications"), lit("")), ",\\s*"),
          s => trim(s)), s => s =!= "")),
      // Lifecycle (ref unified.jsonc:14-22 — ProductLifeCycle enum +
      // IntroDate).
      "lifecycle" -> Unified.struct(lifecycleSchema,
        "product_lifecycle" -> nullif(col("ProductLifeCycle"), lit("")),
        "intro_date" -> col("IntroDate").try_cast("timestamp")),
      // Localized content maps (ref unified.jsonc:25-33): the feed is
      // single-language (one URL per language), so each non-null field
      // fills this run's language key.
      "localized" -> {
        val l = (c: Column) => when(c.isNotNull, map(lit(language), c))
        Unified.struct(localizedSchema,
          "brand" -> l(nullif(col("Brand"), lit(""))),
          "name" -> l(nullif(col("ItemName"), lit(""))),
          "long_description" -> l(nullif(col("LongDescription"), lit(""))))
      },
      // Open attributes (ref unified.jsonc:91 giftWrappingPossible;
      // :260-266 variableDataPrinting).
      "product_extra_data" -> map_filter(map(
        lit("restrictedCountries"), nullif(col("RestrictedCountriesForSale"), lit("")),
        lit("giftWrappingPossible"), col("GiftWrappingPossible").cast("string"),
        lit("variableDataPrinting"), col("VariableDataPrinting").cast("string")),
        (_, v) => v.isNotNull),
      // Model-level source fields (ref unified_product_schema.py:201).
      "raw_data" -> to_json(struct((Seq("ModelCode") ++ parentCols).map(col): _*))): _*)
  }

  def unified(spark: SparkSession, path: String): DataFrame =
    unified(readFeed(spark, path))

  /** Read + transform a capture of the `language` feed variant. */
  def unified(spark: SparkSession, path: String, language: String): DataFrame =
    unified(readFeed(spark, path), language)
}
