package graft.suppliers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Parsers
import graft.schema.Unified
import graft.schema.Unified.{cartonSchema, categorySchema, colorSchema, dimensionsSchema,
  dueInSchema, imageSchema, packagingSchema, priceSchema, printOptionSchema,
  printPositionSchema, stockSchema, supplierSchema, variantSchema, weightSchema}
import graft.sources.FeedReader

/** Laltex supplier pipeline: products + stocks endpoints → unified rows.
  *
  * Laltex is spec-defined (no reference transformer exists): the field
  * mapping comes from the sample capture (ref: sample data/Laltex Sample
  * Data.jsonc:1-64 products, :4589-4650 stocks) and the unified.jsonc
  * per-supplier comments. It exercises what MidOcean doesn't:
  * tier pricing with explicit Min/MaxQuantity and "N/A" open tiers
  * (J5 data), currency-symbol prices (F3), dims/weight strings (F17),
  * keyword splitting (F18), and the per-item stock join (J4).
  *
  * Scale: stocks is a small per-item dimension → broadcast equi-join on
  * ItemCode inside an explode→join→re-nest, order preserved by index.
  */
object Laltex {

  val supplierId = "laltex"

  /** Laltex print-type label → canonical technique; unknown dropped. */
  val printTypeMap: Map[String, String] = Map(
    "Spot Print" -> "screen_print", "Screen Print" -> "screen_print",
    "Transfer" -> "transfer", "Full Colour Transfer" -> "transfer",
    "Embroidery" -> "embroidery", "Digital Print" -> "digital_print",
    "Digital" -> "digital_print", "Full Colour" -> "full_color",
    "Laser Engraved" -> "laser_engraving", "Engraved" -> "laser_engraving",
    "Pad Print" -> "pad_print", "Dye Sublimation" -> "sublimation")

  private val printTypeCol: Column =
    map(printTypeMap.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  case class Feed(doc: DataFrame) {
    def products: DataFrame = FeedReader.sectionOf(doc, "products.Response")
    def stocks: DataFrame = FeedReader.sectionOf(doc, "stocks.Response")
  }

  def readFeed(spark: SparkSession, path: String): Feed =
    Feed(FeedReader.readJsonc(spark, path, Some(FeedReader.requiredFor(
      "products.Response" -> productCols,
      "stocks.Response" -> stockCols))))

  /** ProductPrice tiers → Price structs: "£0.42" strip (F3),
    * MaxQuantity "N/A" → open tier. */
  private def tierPrices(pp: Column): Column =
    transform(
      // Filter the raw tiers first (an invalid tier row is dropped, as
      // the reference's skip-and-log would) — filtering the built
      // structs instead trips a Spark lambda-alias quirk where struct
      // field names degrade to colN.
      filter(coalesce(pp, array()),
        p => Parsers.parseCurrency(p.getField("Price")).isNotNull &&
          p.getField("MinQuantity").try_cast("int").isNotNull),
      p => Unified.struct(priceSchema,
        "value" -> Parsers.parseCurrency(p.getField("Price")),
        "currency" -> lit("GBP"),
        "min_quantity" -> p.getField("MinQuantity").try_cast("int"),
        "max_quantity" -> p.getField("MaxQuantity").try_cast("int"),
        "type" -> lit("unit")))

  private def urlImages(urls: Column, imgType: String): Column =
    transform(coalesce(urls, array()),
      u => Unified.struct(imageSchema, "url" -> u, "type" -> lit(imgType)))

  /** Column contracts (FeedReader.conform): sparse captures resolve
    * every referenced column/nested field. */
  private val productCols: Seq[(String, String)] =
    Seq("ProductCode", "ProductName", "ProductTitle", "Description",
      "WebDescription", "KeyWords", "Category", "SubCategory", "Material",
      "ProductDims", "UnitWeight", "AvailableColours", "CountryOfOrigin",
      "TariffCode").map(_ -> "string") ++ Seq(
      "MinimumOrderQty" -> "string", "CartonQty" -> "string",
      "CartonDims" -> "string", "CartonGrossWeight" -> "string",
      "ProductPrice" ->
        "array<struct<Price:string,MinQuantity:string,MaxQuantity:string>>",
      "Items" ->
        ("array<struct<ItemCode:string,ItemColour:string,ItemSize:string," +
          "PMS:string,ItemImages:array<string>,PlainImages:array<string>>>"),
      "PrintDetails" ->
        "array<struct<PrintPosition:string,PrintArea:string,PrintType:string>>",
      "ArtworkTemplates" -> "array<struct<Template:string>>")
  private val stockCols: Seq[(String, String)] =
    Seq("ProductCode" -> "string", "FreeStock" -> "string",
      "DueIns" -> "array<struct<DueInQty:string,DueInETA:string>>")

  def unified(feed: Feed): DataFrame = {
    val products = FeedReader.conform(feed.products, productCols)

    // J4: per-item stock dimension, broadcast.
    val stocks = broadcast(FeedReader.conform(feed.stocks, stockCols).select(
      col("ProductCode").as("__stock_code"),
      Unified.struct(stockSchema,
        "available" -> coalesce(col("FreeStock").try_cast("int"), lit(0)),
        "due_ins" -> transform(coalesce(col("DueIns"), array()), d => Unified.struct(dueInSchema,
          "quantity" -> d.getField("DueInQty").try_cast("int"),
          "expected_date" -> d.getField("DueInETA"))))
        .as("__stock")))

    // A product with no items gets no variant row, so its `variants`
    // is [] rather than one variant built from an all-null item.
    val v = products.select(
      col("ProductCode"), tierPrices(col("ProductPrice")).as("__tier_prices"),
      posexplode(col("Items")).as(Seq("__pos", "item")))
    val joined = v.join(stocks, col("item.ItemCode") === col("__stock_code"), "left_outer")

    val variantStruct = Unified.struct(variantSchema,
      "sku" -> coalesce(col("item.ItemCode"), lit("")),
      "color" -> Unified.struct(colorSchema,
        "code" -> coalesce(col("item.ItemColour"), lit("")),
        "name" -> coalesce(col("item.ItemColour"), lit("")),
        "pms_color" -> col("item.PMS"),
        "images" -> urlImages(col("item.ItemImages"), "item"),
        "status" -> lit("active")),
      "size" -> col("item.ItemSize"),
      "dimensions" -> {
        val d = Parsers.parseDims(col("item.ItemSize"))
        Unified.struct(dimensionsSchema, "length" -> d.getField("length"),
          "width" -> d.getField("width"), "height" -> d.getField("height"),
          "unit" -> d.getField("unit"))
      },
      "prices" -> col("__tier_prices"),
      "stock" -> col("__stock"),
      "images" -> concat(urlImages(col("item.ItemImages"), "item"),
        urlImages(col("item.PlainImages"), "plain")),
      "status" -> lit("active"))

    val variantsByProduct = joined
      .groupBy(col("ProductCode"))
      .agg(transform(array_sort(collect_list(struct(col("__pos"), variantStruct.as("v")))),
        x => x.getField("v")).as("__variants"))

    val base = products.join(variantsByProduct, Seq("ProductCode"), "left_outer")

    val categories = filter(array(
      Unified.struct(categorySchema, "name" -> col("Category"), "level" -> lit(1)),
      Unified.struct(categorySchema, "name" -> col("SubCategory"), "level" -> lit(2))),
      c => c.getField("name").isNotNull && c.getField("name") =!= "")

    val printPositions = transform(coalesce(col("PrintDetails"), array()), p => {
      // "PrintArea": "120x25mm" is WxH.
      val areaPat = "^\\s*([0-9]+(?:[.,][0-9]+)?)\\s*x\\s*([0-9]+(?:[.,][0-9]+)?)\\s*(mm|cm)?\\s*$"
      val areaNorm = regexp_replace(lower(coalesce(p.getField("PrintArea"), lit(""))), ",", ".")
      Unified.struct(printPositionSchema,
        "id" -> coalesce(p.getField("PrintPosition"), lit("")),
        "name" -> coalesce(p.getField("PrintPosition"), lit("")),
        "max_width" -> regexp_extract(areaNorm, areaPat, 1).try_cast("double"),
        "max_height" -> regexp_extract(areaNorm, areaPat, 2).try_cast("double"),
        "unit" -> lit("mm"),
        "techniques" -> filter(array(element_at(printTypeCol, p.getField("PrintType"))),
          t => t.isNotNull))
    })

    val printOptions = transform(
      filter(coalesce(col("PrintDetails"), array()),
        p => element_at(printTypeCol, p.getField("PrintType")).isNotNull),
      p => Unified.struct(printOptionSchema,
        "technique" -> element_at(printTypeCol, p.getField("PrintType")),
        "position" -> coalesce(p.getField("PrintPosition"), lit("various")),
        "max_colors" -> lit(1),
        "is_default" -> lit(false)))

    val weight = {
      val w = Parsers.parseWeight(col("UnitWeight"))
      when(w.getField("value").isNull, lit(null)).otherwise(Unified.struct(weightSchema,
        "value" -> w.getField("value"), "unit" -> coalesce(w.getField("unit"), lit("g"))))
    }

    val dims = {
      val d = Parsers.parseDims(col("ProductDims"))
      when(d.getField("length").isNull, lit(null)).otherwise(Unified.struct(dimensionsSchema,
        "length" -> d.getField("length"), "width" -> d.getField("width"),
        "height" -> d.getField("height"), "unit" -> coalesce(d.getField("unit"), lit("mm"))))
    }

    base.select(Unified.fill(Unified.schema,
      "product_id" -> concat(lit("laltex_"), coalesce(col("ProductCode"), lit(""))),
      "supplier" -> Unified.struct(supplierSchema,
        "id" -> lit(supplierId), "name" -> lit("Laltex"), "api_version" -> lit("v1"),
        "contact_info" -> map(lit("website"), lit("https://www.laltex.com"))),
      "supplier_product_code" -> coalesce(col("ProductCode"), lit("")),
      "name" -> coalesce(col("ProductName"), lit("")),
      "title" -> col("ProductTitle"),
      "short_description" -> col("Description"),
      "long_description" -> col("WebDescription"),
      "keywords" -> Parsers.splitKeywords(coalesce(col("KeyWords"), lit(""))),
      "categories" -> categories,
      "dimensions" -> dims,
      "weight" -> weight,
      "material" -> col("Material"),
      "colors_available" -> Parsers.splitKeywords(coalesce(col("AvailableColours"), lit(""))),
      "variants" -> coalesce(col("__variants"), array()),
      "base_prices" -> tierPrices(col("ProductPrice")),
      "is_printable" -> (size(coalesce(col("PrintDetails"), array())) > 0),
      "print_positions" -> printPositions,
      "print_options" -> printOptions,
      "artwork_templates" -> transform(coalesce(col("ArtworkTemplates"), array()),
        t => t.getField("Template")),
      "minimum_order_quantity" -> coalesce(col("MinimumOrderQty").try_cast("int"), lit(1)),
      "carton_quantity" -> col("CartonQty").try_cast("int"),
      "country_of_origin" -> col("CountryOfOrigin"),
      "tariff_code" -> col("TariffCode"),
      "status" -> lit("active"),
      // Carton packaging (ref unified.jsonc:136-161): "42 x 37 x 55 cm"
      // dims (F17 parse) + "9.000 kg" gross weight (F17 weight parse).
      "packaging" -> {
        val d = Parsers.parseDims(col("CartonDims"))
        val w = Parsers.parseWeight(col("CartonGrossWeight"))
        Unified.struct(packagingSchema,
          "outer_carton" -> when(coalesce(col("CartonQty").try_cast("int").cast("double"),
              d.getField("length")).isNotNull, Unified.struct(cartonSchema,
            "qty" -> col("CartonQty").try_cast("int"),
            "length" -> d.getField("length"),
            "width" -> d.getField("width"),
            "height" -> d.getField("height"),
            "unit" -> coalesce(d.getField("unit"), lit("cm")),
            "weight_gross" -> w.getField("value"),
            "weight_unit" -> coalesce(w.getField("unit"), lit("kg")))))
      },
      "raw_data" -> to_json(struct(products.columns.toSeq.map(col): _*))): _*)
  }

  def unified(spark: SparkSession, path: String): DataFrame =
    unified(readFeed(spark, path))
}
