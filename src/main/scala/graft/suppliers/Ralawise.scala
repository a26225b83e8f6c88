package graft.suppliers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Nest
import graft.schema.Unified
import graft.schema.Unified.{categorySchema, colorSchema, imageSchema, priceSchema,
  supplierSchema, variantSchema, weightSchema}
import graft.sources.FeedReader

/** Ralawise supplier pipeline: flat per-SKU rows → unified products.
  *
  * Ralawise is the "pivot" supplier shape (ref: sample data/Ralawise
  * Sample Data.jsonc:1-45 — one JSON array of flat records, one row
  * per colour×size SKU, spaced field names). The reshape MidOcean and
  * Laltex never needed: group rows by Style Code into a product whose
  * variants array is the rows (SURVEY §7.4 risk 5), via
  * [[graft.operators.Nest]].
  */
object Ralawise {

  val supplierId = "ralawise"

  case class Feed(doc: DataFrame) {
    /** The capture is a bare array: the parsed doc IS the row set. */
    def skuRows: DataFrame = doc
  }

  def readFeed(spark: SparkSession, path: String): Feed = {
    import spark.implicits._
    val text = FeedReader.loadText(spark, path).map(FeedReader.stripJsonc).getOrElse("[]")
    Feed(spark.read.json(Seq(text).toDS()))
  }

  /** Column contract (FeedReader.conform): sparse captures resolve
    * every referenced column. */
  private val skuCols: Seq[(String, String)] =
    Seq("Sku Code", "Style Code", "Style Name", "Brand", "Colour Code",
      "Colour Name", "Colour Image", "Pantone", "Size Name", "Sku Status",
      "Specification", "Retail Description", "Fabric", "Categorisation",
      "Commodity Code", "Country of Origin", "Primary Product Image URL",
      "Product Type", "EAN Code").map(_ -> "string") ++
      Seq("Carton Quantity" -> "int", "Item Weight in KG" -> "double",
        "Single Price" -> "double")

  def unified(feed: Feed): DataFrame = {
    val rows = FeedReader.conform(feed.skuRows, skuCols)

    val img = (url: Column, t: String) =>
      Unified.struct(imageSchema, "url" -> url, "type" -> lit(t))
    val colourImages = filter(array(img(col("`Colour Image`"), "colour")),
      i => i.getField("url").isNotNull)

    val variantStruct = Unified.struct(variantSchema,
      "sku" -> coalesce(col("`Sku Code`"), lit("")),
      "color" -> Unified.struct(colorSchema,
        "code" -> coalesce(col("`Colour Code`"), lit("")),
        "name" -> coalesce(col("`Colour Name`"), lit("")),
        "pms_color" -> nullif(col("Pantone"), lit("")),
        "images" -> colourImages,
        "status" -> lit("active")),
      "size" -> col("`Size Name`"),
      "weight" -> when(col("`Item Weight in KG`").isNotNull, Unified.struct(weightSchema,
        "value" -> col("`Item Weight in KG`"), "unit" -> lit("kg"))),
      "prices" -> when(col("`Single Price`").isNotNull, array(Unified.struct(priceSchema,
        "value" -> col("`Single Price`"), "currency" -> lit("GBP"),
        "min_quantity" -> lit(1), "type" -> lit("unit"))))
        .otherwise(array()),
      "images" -> colourImages,
      "status" -> when(upper(coalesce(col("`Sku Status`"), lit("LIVE"))) === "LIVE", "active")
        .otherwise("discontinued"),
      "gtin" -> nullif(nullif(col("`EAN Code`"), lit("")), lit("Not available")))

    val parentCols = Seq("Style Name", "Brand", "Specification", "Retail Description",
      "Fabric", "Categorisation", "Carton Quantity", "Commodity Code",
      "Country of Origin", "Primary Product Image URL", "Product Type")

    val grouped = Nest.rollupWithParent(
      rows, Seq("Style Code"), parentCols, variantStruct, col("`Sku Code`"), "variants")

    // A SKU without a colour name has colour name "": no colour.
    val colorsAvailable = array_distinct(filter(
      transform(col("variants"), v => v.getField("color").getField("name")),
      c => c.isNotNull && c =!= ""))

    val categories = filter(
      zip_with(
        split(coalesce(col("Categorisation"), lit("")), "\\|"),
        sequence(lit(1), greatest(size(split(coalesce(col("Categorisation"), lit("")), "\\|")), lit(1))),
        (name, level) => Unified.struct(categorySchema, "name" -> trim(name), "level" -> level)),
      c => c.getField("name").isNotNull && c.getField("name") =!= "")

    grouped.select(Unified.fill(Unified.schema,
      "product_id" -> concat(lit("ralawise_"), coalesce(col("`Style Code`"), lit(""))),
      "supplier" -> Unified.struct(supplierSchema,
        "id" -> lit(supplierId), "name" -> lit("Ralawise")),
      "supplier_product_code" -> coalesce(col("`Style Code`"), lit("")),
      "name" -> coalesce(col("`Style Name`"), lit("")),
      "short_description" -> col("`Retail Description`"),
      "long_description" -> col("Specification"),
      "keywords" -> filter(array(nullif(col("`Product Type`"), lit(""))), k => k.isNotNull),
      "categories" -> categories,
      "brand" -> nullif(col("Brand"), lit("")),
      "material" -> nullif(col("Fabric"), lit("")),
      "colors_available" -> colorsAvailable,
      "variants" -> col("variants"),
      "base_prices" -> slice(try_element_at(col("variants"), lit(1)).getField("prices"), 1, 1),
      "is_printable" -> lit(false),
      "images" -> filter(array(img(col("`Primary Product Image URL`"), "primary")),
        i => i.getField("url").isNotNull),
      "minimum_order_quantity" -> lit(1),
      "carton_quantity" -> col("`Carton Quantity`").try_cast("int"),
      "country_of_origin" -> nullif(col("`Country of Origin`"), lit("")),
      "tariff_code" -> nullif(col("`Commodity Code`"), lit("")),
      "status" -> lit("active"),
      // Style-level source fields, as the reference keeps per-document
      // raw_data (unified_product_schema.py:201).
      "raw_data" -> to_json(struct((Seq("Style Code") ++ parentCols)
        .map(c => col(s"`$c`").as(c)): _*))): _*)
  }

  def unified(spark: SparkSession, path: String): DataFrame =
    unified(readFeed(spark, path))
}
