package graft.suppliers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Parsers
import graft.schema.Unified
import graft.schema.Unified.{dimensionsSchema, imageSchema, priceSchema, printOptionSchema,
  supplierSchema, variantSchema, weightSchema}
import graft.sources.FeedReader

/** Preseli supplier pipeline: single-product response with nested
  * technique-keyed price blocks (ref: sample data/Preseli Sample
  * Data.jsonc:1-40 product, :328 catalogue sections).
  *
  * Price semantics: `Prices.Price[]` is (technique Name, Quantity) →
  * PriceDetails[], where Type='Product' rows are the per-unit product
  * price at that quantity and Type='Additional Charge' rows are
  * setup-like charges — quantity-tier pricing keyed by technique
  * (J5 over a technique dimension).
  */
object Preseli {

  val supplierId = "preseli"

  val techniqueMap: Map[String, String] = Map(
    "Screen" -> "screen_print", "Digital" -> "digital_print",
    "Full Colour" -> "full_color", "Transfer" -> "transfer",
    "Embroidery" -> "embroidery", "Engraved" -> "laser_engraving")

  private val techniqueCol: Column =
    map(techniqueMap.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  case class Feed(doc: DataFrame) {
    def products: DataFrame = FeedReader.sectionOf(doc, "products.Response")
    def catalogueSections: DataFrame = doc
      .select(explode(col("catalogue.Response.Catalogue.Section")).as("s")).select(col("s.*"))
  }

  def readFeed(spark: SparkSession, path: String): Feed =
    Feed(FeedReader.readJsonc(spark, path, Some(FeedReader.requiredFor(
      "products.Response" -> productCols))))

  /** Column contract (FeedReader.conform): sparse captures resolve
    * every referenced column/nested field. */
  private val productCols: Seq[(String, String)] =
    Seq("ProductCode", "ProductName", "Description", "Material", "Size",
      "DimensionUnit", "WeightUnit").map(_ -> "string") ++ Seq(
      "Height" -> "double", "Width" -> "double", "Weight" -> "double",
      "Artwork" -> "string", "DataSheet" -> "string",
      "LeadTime" -> "string", "EndUserWebsite" -> "string",
      "Prices" -> ("struct<Price:array<struct<Name:string,Quantity:string," +
        "PriceDetails:array<struct<Type:string,Value:string>>>>>"),
      "Images" -> "struct<Image:array<string>>",
      "Colours" -> "struct<Colour:array<string>>")

  def unified(feed: Feed): DataFrame = {
    val products = FeedReader.conform(feed.products, productCols)

    // Per-unit product price tiers: every (technique, quantity) block's
    // Type='Product' detail.
    val priceBlocks = coalesce(col("Prices.Price"), array())
    val detail = (b: Column, t: String) =>
      try_element_at(filter(b.getField("PriceDetails"), d => d.getField("Type") === t), lit(1))
        .getField("Value").try_cast("double")
    val tierPrices = filter(
      transform(priceBlocks, b => Unified.struct(priceSchema,
        "value" -> detail(b, "Product"),
        "currency" -> lit("GBP"),
        "min_quantity" -> b.getField("Quantity").try_cast("int"),
        "type" -> lit("unit"),
        "description" -> b.getField("Name"))),
      p => p.getField("value").isNotNull && p.getField("min_quantity").isNotNull)

    val printOptions = filter(
      transform(priceBlocks, b => Unified.struct(printOptionSchema,
        "technique" -> element_at(techniqueCol, b.getField("Name")),
        "position" -> lit("various"),
        "max_colors" -> lit(1),
        "setup_charge" -> detail(b, "Additional Charge"),
        "is_default" -> lit(false))),
      o => o.getField("technique").isNotNull)

    val images = transform(coalesce(col("Images.Image"), array()),
      u => Unified.struct(imageSchema, "url" -> u, "type" -> lit("product")))

    val dims = {
      val h = Parsers.parseFloatComma(col("Height"))
      val w = Parsers.parseFloatComma(col("Width"))
      when(coalesce(h, w).isNotNull, Unified.struct(dimensionsSchema,
        "width" -> w, "height" -> h, "unit" -> coalesce(lower(col("DimensionUnit")), lit("mm"))))
    }
    val weight = {
      val v = Parsers.parseFloatComma(col("Weight"))
      when(v.isNotNull, Unified.struct(weightSchema,
        "value" -> v, "unit" -> coalesce(lower(col("WeightUnit")), lit("g"))))
    }

    val variant = Unified.struct(variantSchema,
      "sku" -> coalesce(col("ProductCode"), lit("")),
      "size" -> nullif(col("Size"), lit("")),
      "prices" -> tierPrices,
      "images" -> images,
      "status" -> lit("active"))

    products.select(Unified.fill(Unified.schema,
      "product_id" -> concat(lit("preseli_"), coalesce(col("ProductCode"), lit(""))),
      "supplier" -> Unified.struct(supplierSchema,
        "id" -> lit(supplierId), "name" -> lit("Preseli"), "api_version" -> lit("v1")),
      "supplier_product_code" -> coalesce(col("ProductCode"), lit("")),
      "name" -> coalesce(col("ProductName"), lit("")),
      "long_description" -> col("Description"),
      "dimensions" -> dims,
      "weight" -> weight,
      "material" -> nullif(col("Material"), lit("")),
      "colors_available" -> coalesce(col("Colours.Colour"), array()),
      "variants" -> array(variant),
      "base_prices" -> tierPrices,
      "is_printable" -> (size(priceBlocks) > 0),
      "print_options" -> printOptions,
      "images" -> images,
      "artwork_templates" -> filter(array(col("Artwork")), a => a.isNotNull),
      "minimum_order_quantity" -> lit(1),
      "lead_time" -> nullif(col("LeadTime"), lit("")),
      "status" -> lit("active"),
      // Open attributes (ref unified.jsonc:108 dataSheet "Preseli
      // style"): datasheet + end-user site URLs.
      "product_extra_data" -> map_filter(map(
        lit("dataSheet"), col("DataSheet").cast("string"),
        lit("endUserWebsite"), col("EndUserWebsite").cast("string")),
        (_, v) => v.isNotNull),
      "raw_data" -> to_json(struct(products.columns.toSeq.map(col): _*))): _*)
  }

  def unified(spark: SparkSession, path: String): DataFrame =
    unified(readFeed(spark, path))
}
