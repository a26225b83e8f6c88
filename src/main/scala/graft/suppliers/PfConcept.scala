package graft.suppliers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Parsers
import graft.schema.Unified
import graft.schema.Unified.{categorySchema, colorSchema, dimensionsSchema, dueInSchema,
  imageSchema, priceSchema, printOptionSchema, stockSchema, supplierSchema, variantSchema,
  weightSchema}
import graft.sources.FeedReader

/** PFConcept supplier pipeline: five XML-converted feeds → unified
  * rows.
  *
  * Feed shapes (ref: sample data/PFConcept Sample Data.jsonc:2
  * productFeed, :186 productPriceFeed, :233 productStockFeed, :260
  * productPrintFeed, :291 ProductPrintPriceFeed, :371
  * ProductPrintLabelFeed): one model (product) per feed document with
  * `items.item[]` per size; numbers arrive as strings with comma
  * decimals (`"nettWeightKg": "11,4"` — the F1 parse); the print
  * price grid nests five levels of XML singleton wrappers
  * (logoSizes.logoSize.amountColors.amountColor.amountSetupCharges…),
  * each normalized via [[FeedReader.asArray]]. The price feed's
  * per-item `decoCharge` CSV links items to applicable print codes —
  * resolved by split → explode → broadcast-join on printCode.
  *
  * Scale: the deco-charge grid is a per-feed technique dimension →
  * broadcast; item-level joins are equi-joins on itemCode; one
  * hash-aggregate nests sizes per model.
  */
object PfConcept {

  val supplierId = "pfconcept"

  val techniqueMap: Map[String, String] = Map(
    "screenprint" -> "screen_print",
    "screen print" -> "screen_print",
    "digital print" -> "digital_print",
    "digital print gloss 1" -> "digital_print",
    "embroidery" -> "embroidery",
    "laser engraving" -> "laser_engraving",
    "pad print" -> "pad_print",
    "transfer" -> "transfer",
    "dtf transfer" -> "transfer",
    "sublimation" -> "sublimation",
    "doming" -> "full_color")

  private val techniqueMapCol: Column =
    map(techniqueMap.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  private def canonTechnique(label: Column): Column =
    coalesce(
      element_at(techniqueMapCol, lower(coalesce(label, lit("")))),
      regexp_replace(lower(coalesce(label, lit(""))), "[^a-z0-9]+", "_"))

  case class Feed(doc: DataFrame) {
    def model: DataFrame = FeedReader.sectionOf(doc, "productFeed.model")
    def priceModel: DataFrame = FeedReader.sectionOf(doc, "productPriceFeed.model")
    def stockFeed: DataFrame =
      FeedReader.sectionOf(doc, "productStockFeed.PFCStockFeed.stockFeed")
    def printPriceFeed: DataFrame =
      FeedReader.sectionOf(doc, "ProductPrintPriceFeed.PFCPrintpricefeed")
    def labelFeed: DataFrame = FeedReader.sectionOf(doc, "ProductPrintLabelFeed.model")
  }

  /** Source contract (see FeedReader.mergeSchemas): every referenced
    * field declared so sparse captures parse to typed nulls instead of
    * failing analysis; XML singleton wrappers tolerated (declared
    * arrays merge into bare-object captures). */
  private val requiredSchema = org.apache.spark.sql.types.StructType.fromDDL(
    """productFeed STRUCT<model: ARRAY<STRUCT<
      |  _modelCode: STRING, description: STRING, extDesc: STRING,
      |  keywords: STRING, productComments: STRING,
      |  items: STRUCT<item: ARRAY<STRUCT<
      |    _itemCode: STRING, size: STRING, sizeGrid: STRING,
      |    sizeRange: STRING, gender: STRING, eanCode: STRING,
      |    isDiscontinued: STRING, grossWeightKg: STRING, nettWeightKg: STRING,
      |    countryOfOrigin: STRING, hsCode: STRING, brand: STRING,
      |    material: STRING, videoUrl1: STRING, qtyPerCarton: STRING,
      |    measurements: STRUCT<weightGr: STRING, lengthCm: STRING,
      |      widthCm: STRING, heightCm: STRING, diameterCm: STRING>,
      |    colors: STRUCT<color: ARRAY<STRUCT<_colorCode: STRING,
      |      colorDesc: STRING, hexColor: STRING, pmsColorReference: STRING>>>,
      |    decorationSettings: STRUCT<decoDefault: STRUCT<method: STRING,
      |      impLocationDefault: STRING, maxColoursDefault: STRING,
      |      leadTime: STRING>>,
      |    categoryData: STRUCT<groupCode: STRING, groupDesc: STRING,
      |      catCode: STRING, catDesc: STRING>,
      |    relatedItems: STRUCT<related: ARRAY<STRING>>,
      |    imageData: STRUCT<imageMain: STRING, imageFront: STRING,
      |      imageBack: STRING, imagePackage: STRING, imageModel: STRING,
      |      imageMood1: STRING, imageMood2: STRING, imageMood3: STRING,
      |      imageDetail1: STRING, imageDetail2: STRING, imageDetail3: STRING>>>>>>>,
      |productPriceFeed STRUCT<model: ARRAY<STRUCT<
      |  items: STRUCT<item: ARRAY<STRUCT<
      |    _itemcode: STRING, decoCharge: STRING, minDecoQty: STRING,
      |    currency: STRING,
      |    scales: STRUCT<scale: ARRAY<STRUCT<nettPrice: STRING,
      |      priceBar: STRING>>>>>>>>>,
      |productStockFeed STRUCT<PFCStockFeed: STRUCT<stockFeed: STRUCT<
      |  models: STRUCT<model: ARRAY<STRUCT<
      |    items: STRUCT<item: ARRAY<STRUCT<_itemCode: STRING,
      |      stockDirect: STRING, stockNextPo: STRING,
      |      stockDateNextPo: STRING>>>>>>>>>,
      |ProductPrintPriceFeed STRUCT<PFCPrintpricefeed: STRUCT<
      |  decoCharges: STRUCT<_currency: STRING, decoCharge: ARRAY<STRUCT<
      |    printCode: STRING, impMethod: STRING, maxColor: STRING,
      |    logoSizes: STRUCT<logoSize: ARRAY<STRUCT<_logoSizeCm2: STRING,
      |      amountColors: STRUCT<amountColor: ARRAY<STRUCT<
      |        _amountColorsId: STRING,
      |        amountSetupCharges: STRUCT<amountSetupCharge: ARRAY<STRUCT<
      |          SetupCharge: STRING,
      |          decoPrices: STRUCT<decoPrice: ARRAY<STRUCT<
      |            __text: STRING, _decoPriceFromQty: STRING>>>>>>>>>>>>>>>>>,
      |ProductPrintLabelFeed STRUCT<model: ARRAY<STRUCT<
      |  items: STRUCT<item: ARRAY<STRUCT<_itemCode: STRING,
      |    printfeedrefs: STRUCT<printfeedref: ARRAY<STRUCT<
      |      imagePrintLine: STRING>>>>>>>>>
      |""".stripMargin)

  def readFeed(spark: SparkSession, path: String): Feed =
    Feed(FeedReader.readJsonc(spark, path, Some(requiredSchema)))

  private def priceStruct(value: Column, currency: Column, minQ: Column,
                          maxQ: Column, desc: Column): Column = Unified.struct(priceSchema,
    "value" -> value, "currency" -> coalesce(currency, lit("GBP")),
    "min_quantity" -> coalesce(minQ, lit(1)), "max_quantity" -> maxQ,
    "type" -> lit("unit"), "description" -> desc)

  /** Flatten the five-level deco-charge grid into one broadcastable
    * dimension: printCode → (technique, setup charge, tier prices). */
  def decoChargeDim(feed: Feed): DataFrame = {
    val pp = feed.printPriceFeed
    val charges = pp.select(
      col("decoCharges._currency").as("__cur"),
      explode(FeedReader.asArray(pp, col("decoCharges.decoCharge"))).as("__dc"))
    val ls = charges.select(col("__cur"), col("__dc"),
      explode(FeedReader.asArray(charges, col("__dc.logoSizes.logoSize"))).as("__ls"))
    val ac = ls.select(col("__cur"), col("__dc"), col("__ls"),
      explode(FeedReader.asArray(ls, col("__ls.amountColors.amountColor"))).as("__ac"))
    val sc = ac.select(col("__cur"), col("__dc"), col("__ls"), col("__ac"),
      explode(FeedReader.asArray(ac,
        col("__ac.amountSetupCharges.amountSetupCharge"))).as("__sc"))

    val rawTiers = FeedReader.asArray(sc, col("__sc.decoPrices.decoPrice"))
    val desc = concat(lit("colors="), coalesce(col("__ac._amountColorsId"), lit("1")),
      lit(",logo_cm2="), coalesce(col("__ls._logoSizeCm2"), lit("0")))
    val tiers = filter(
      zip_with(rawTiers, sequence(lit(1), greatest(size(rawTiers), lit(1))),
        (p, i) => priceStruct(
          Parsers.parseFloatComma(p.getField("__text")),
          col("__cur"),
          p.getField("_decoPriceFromQty").try_cast("int"),
          try_element_at(rawTiers, (i + 1).cast("int"))
            .getField("_decoPriceFromQty").try_cast("int") - 1,
          desc)),
      t => t.getField("value").isNotNull)

    sc.select(
      col("__dc.printCode").as("__print_code"),
      Unified.struct(printOptionSchema,
        "technique" -> canonTechnique(col("__dc.impMethod")),
        "position" -> lit("various"),
        "max_colors" -> coalesce(col("__dc.maxColor").try_cast("int"), lit(1)),
        "setup_charge" -> Parsers.parseFloatComma(col("__sc.SetupCharge")),
        "prices" -> tiers,
        "is_default" -> lit(false)).as("__option"))
  }

  def unified(feed: Feed): DataFrame = {
    val model = feed.model
    val items = model.select(
      col("_modelCode").as("__model"),
      col("description"), col("extDesc"), col("keywords"),
      col("productComments"),
      posexplode_outer(FeedReader.asArray(model, col("items.item")))
        .as(Seq("__pos", "__item")))

    // Price feed: per-item quantity scales + applicable print codes.
    val priceModel = feed.priceModel
    val priceItems0 = priceModel.select(
      explode(FeedReader.asArray(priceModel, col("items.item"))).as("__pi"))
    val rawScales = FeedReader.asArray(priceItems0, col("__pi.scales.scale"))
    val priceItems = priceItems0.select(
      col("__pi._itemcode").as("__price_item"),
      col("__pi.decoCharge").as("__deco_csv"),
      col("__pi.minDecoQty").try_cast("int").as("__min_deco_qty"),
      filter(
        zip_with(rawScales, sequence(lit(1), greatest(size(rawScales), lit(1))),
          (s, i) => priceStruct(
            Parsers.parseFloatComma(s.getField("nettPrice")),
            col("__pi.currency"),
            s.getField("priceBar").try_cast("int"),
            try_element_at(rawScales, (i + 1).cast("int"))
              .getField("priceBar").try_cast("int") - 1,
            lit(null))),
        t => t.getField("value").isNotNull).as("__tier_prices"))

    // Stock feed: stockDirect now + stockNextPo due-in.
    val stockModels = feed.stockFeed.select(
      explode(FeedReader.asArray(feed.stockFeed, col("models.model"))).as("__sm"))
    val stockItems0 = stockModels.select(
      explode(FeedReader.asArray(stockModels, col("__sm.items.item"))).as("__si"))
    val stockItems = stockItems0.select(
      col("__si._itemCode").as("__stock_item"),
      Unified.struct(stockSchema,
        "available" -> coalesce(col("__si.stockDirect").try_cast("int"), lit(0)),
        "due_ins" -> filter(array(Unified.struct(dueInSchema,
          "quantity" -> col("__si.stockNextPo").try_cast("int"),
          "expected_date" -> col("__si.stockDateNextPo"))),
          d => d.getField("quantity").isNotNull)).as("__stock"))

    // Print options: item's decoCharge CSV → explode → broadcast join
    // on printCode → re-nest per item.
    val deco = broadcast(decoChargeDim(feed))
    val optionsByItem = priceItems
      .select(col("__price_item"),
        explode_outer(split(coalesce(col("__deco_csv"), lit("")), ",\\s*"))
          .as("__print_code"))
      .join(deco, Seq("__print_code"), "inner")
      .groupBy(col("__price_item").as("__opt_item"))
      // Explicit key comparator: the option struct carries a map
      // (technique_names), which default struct ordering can't compare.
      .agg(transform(
        array_sort(collect_list(struct(col("__print_code").as("o"),
          col("__option").as("v"))), (l, r) =>
            when(l.getField("o") < r.getField("o"), -1)
              .when(l.getField("o") > r.getField("o"), 1).otherwise(0)),
        x => x.getField("v")).as("__print_options"))

    // Label feed: artwork template refs per item.
    val labelItems0 = feed.labelFeed.select(
      explode(FeedReader.asArray(feed.labelFeed, col("items.item"))).as("__li"))
    val labelItems = labelItems0.select(
      col("__li._itemCode").as("__label_item"),
      transform(FeedReader.asArray(labelItems0, col("__li.printfeedrefs.printfeedref")),
        r => r.getField("imagePrintLine")).as("__artwork"))

    val joined = items
      .join(priceItems.drop("__deco_csv"),
        col("__item._itemCode") === col("__price_item"), "left_outer")
      .join(stockItems, col("__item._itemCode") === col("__stock_item"), "left_outer")
      .join(optionsByItem, col("__item._itemCode") === col("__opt_item"), "left_outer")
      .join(labelItems, col("__item._itemCode") === col("__label_item"), "left_outer")

    val firstColor = try_element_at(
      FeedReader.asArray(items, col("__item.colors.color")), lit(1))

    val m = (f: String) => Parsers.parseFloatComma(col(s"__item.measurements.$f"))
    val dims = when(coalesce(m("lengthCm"), m("widthCm"), m("heightCm"),
      m("diameterCm")).isNotNull,
      Unified.struct(dimensionsSchema, "length" -> m("lengthCm"), "width" -> m("widthCm"),
        "height" -> m("heightCm"), "diameter" -> m("diameterCm"), "unit" -> lit("cm")))

    // F10: gross preferred over nett; comma-decimal kg strings.
    val weight = {
      val g = Parsers.parseFloatComma(col("__item.measurements.weightGr"))
      val kg = coalesce(Parsers.parseFloatComma(col("__item.grossWeightKg")),
        Parsers.parseFloatComma(col("__item.nettWeightKg")))
      when(g.isNotNull, Unified.struct(weightSchema, "value" -> g, "unit" -> lit("g")))
        .otherwise(when(kg.isNotNull,
          Unified.struct(weightSchema, "value" -> kg, "unit" -> lit("kg"))))
    }

    val itemStatus = when(
      lower(coalesce(col("__item.isDiscontinued"), lit("false"))) === "true",
      "discontinued").otherwise("active")

    val deco0 = col("__item.decorationSettings.decoDefault")
    val defaultOption = when(deco0.getField("method").isNotNull, Unified.struct(printOptionSchema,
      "technique" -> canonTechnique(deco0.getField("method")),
      "position" -> coalesce(deco0.getField("impLocationDefault"), lit("various")),
      "max_colors" -> coalesce(deco0.getField("maxColoursDefault").try_cast("int"), lit(1)),
      "lead_time" -> deco0.getField("leadTime"),
      "is_default" -> lit(true)))

    val variantStruct = Unified.struct(variantSchema,
      "sku" -> coalesce(col("__item._itemCode"), lit("")),
      "variant_id" -> col("__item._itemCode"),
      "color" -> when(firstColor.isNotNull, Unified.struct(colorSchema,
        "code" -> coalesce(firstColor.getField("_colorCode"), lit("")),
        "name" -> coalesce(firstColor.getField("colorDesc"), lit("")),
        "hex_color" -> firstColor.getField("hexColor"),
        "pms_color" -> firstColor.getField("pmsColorReference"),
        "status" -> lit("active"))),
      "size" -> col("__item.size"),
      "dimensions" -> dims,
      "weight" -> weight,
      "prices" -> coalesce(col("__tier_prices"), array()),
      "stock" -> col("__stock"),
      "status" -> itemStatus,
      "gtin" -> col("__item.eanCode"))

    val imageFields = Seq(
      "imageMain" -> "main", "imageFront" -> "front", "imageBack" -> "back",
      "imagePackage" -> "package", "imageModel" -> "model",
      "imageMood1" -> "mood", "imageMood2" -> "mood", "imageMood3" -> "mood",
      "imageDetail1" -> "detail", "imageDetail2" -> "detail",
      "imageDetail3" -> "detail")
    val images = filter(array(imageFields.map { case (f, t) =>
      Unified.struct(imageSchema,
        "url" -> nullif(col("__imagedata").getField(f), lit("")), "type" -> lit(t)) }: _*),
      i => i.getField("url").isNotNull)

    val parentCols = Seq("description", "extDesc", "keywords",
      "productComments")
    val parentFromItem = Seq(
      col("__item.countryOfOrigin").as("__coo"),
      col("__item.hsCode").as("__hs"),
      col("__item.brand").as("__brand"),
      col("__item.material").as("__material"),
      col("__item.categoryData").as("__catdata"),
      col("__item.imageData").as("__imagedata"),
      col("__item.videoUrl1").as("__video"),
      Parsers.parseIntSeparators(col("__item.qtyPerCarton")).as("__carton"),
      defaultOption.as("__default_option"),
      col("__min_deco_qty"), col("__print_options"), col("__artwork"),
      col("__item").as("__raw_item"),
      col("__item.sizeGrid").as("__size_grid"),
      col("__item.sizeRange").as("__size_range"),
      col("__item.gender").as("__gender"),
      // Item-level companion codes (ref PFConcept Sample Data.jsonc:
      // 163-172 relatedItems.related) — unioned across items below.
      FeedReader.asArray(joined, col("__item.relatedItems.related"))
        .as("__related"))

    val grouped = joined
      .select(Seq(col("__model"), col("__pos"),
        variantStruct.as("__variant")) ++ parentCols.map(col) ++ parentFromItem: _*)
      .groupBy(col("__model"))
      .agg(
        min_by(struct(parentCols.map(col) ++ Seq(col("__coo"), col("__hs"),
          col("__brand"), col("__material"), col("__catdata"),
          col("__imagedata"), col("__video"),
          col("__carton"), col("__default_option"), col("__min_deco_qty"),
          col("__print_options"), col("__artwork"), col("__raw_item"),
          col("__size_grid"), col("__size_range"), col("__gender")): _*),
          col("__pos")).as("__p"),
        // A model with no items keeps its one outer row for the parent
        // fields above, but that row is no variant.
        transform(array_sort(collect_list(when(col("__pos").isNotNull,
          struct(col("__pos").as("o"), col("__variant").as("v"))))),
          x => x.getField("v")).as("variants"),
        // Sorted-distinct union of the per-item companion codes —
        // collect_list order is nondeterministic, the sort restores a
        // canonical form.
        array_sort(array_distinct(flatten(collect_list(col("__related")))))
          .as("__related_all"))
      .select(col("__model"), col("__p.*"), col("variants"), col("__related_all"))

    val categories = filter(array(
      Unified.struct(categorySchema,
        "id" -> col("__catdata").getField("groupCode"),
        "name" -> col("__catdata").getField("groupDesc"),
        "level" -> lit(1)),
      Unified.struct(categorySchema,
        "id" -> col("__catdata").getField("catCode"),
        "name" -> col("__catdata").getField("catDesc"),
        "level" -> lit(2),
        "parent_id" -> col("__catdata").getField("groupCode"))),
      c => c.getField("name").isNotNull)

    val printOptions = concat(
      filter(array(col("__default_option")), o => o.isNotNull),
      coalesce(col("__print_options"), array()))
    val firstVariant = try_element_at(col("variants"), lit(1))

    grouped.select(Unified.fill(Unified.schema,
      "product_id" -> concat(lit("pfconcept_"), coalesce(col("__model"), lit(""))),
      "supplier" -> Unified.struct(supplierSchema,
        "id" -> lit(supplierId), "name" -> lit("PF Concept")),
      "supplier_product_code" -> coalesce(col("__model"), lit("")),
      "name" -> coalesce(col("description"), lit("")),
      "short_description" -> col("productComments"),
      "long_description" -> col("extDesc"),
      "keywords" -> Parsers.splitKeywords(col("keywords")),
      "categories" -> categories,
      "brand" -> nullif(col("__brand"), lit("")),
      "dimensions" -> firstVariant.getField("dimensions"),
      "weight" -> firstVariant.getField("weight"),
      "material" -> nullif(col("__material"), lit("")),
      "colors_available" -> array_distinct(filter(
        transform(col("variants"), v => v.getField("color").getField("name")),
        c => c.isNotNull)),
      "variants" -> col("variants"),
      "base_prices" -> coalesce(firstVariant.getField("prices"), array()),
      "is_printable" -> (size(printOptions) > 0),
      "print_options" -> printOptions,
      "images" -> images,
      "artwork_templates" -> coalesce(col("__artwork"), array()),
      "minimum_order_quantity" -> coalesce(col("__min_deco_qty"), lit(1)),
      "carton_quantity" -> col("__carton"),
      "country_of_origin" -> initcap(lower(nullif(col("__coo"), lit("")))),
      "tariff_code" -> nullif(col("__hs"), lit("")),
      "status" -> when(exists(col("variants"), v => v.getField("status") === "active"), "active")
        .otherwise("discontinued"),
      "related_products" -> coalesce(col("__related_all"), array()),
      // Open attributes (ref unified.jsonc:79-84 variantAttributes
      // sizeGrid/sizeRange/gender — product-wide in the PFC feed).
      "product_extra_data" -> map_filter(map(
        lit("sizeGrid"), nullif(col("__size_grid"), lit("")),
        lit("sizeRange"), nullif(col("__size_range"), lit("")),
        lit("gender"), nullif(col("__gender"), lit(""))),
        (_, v) => v.isNotNull),
      // First item's full source row (ref unified_product_schema.py:201).
      "raw_data" -> to_json(struct(col("__model").as("modelCode"),
        col("__raw_item").as("firstItem")))): _*)
  }

  def unified(spark: SparkSession, path: String): DataFrame =
    unified(readFeed(spark, path))
}
