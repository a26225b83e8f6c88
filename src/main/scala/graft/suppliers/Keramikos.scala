package graft.suppliers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Unified
import graft.schema.Unified.{categorySchema, dimensionsSchema, imageSchema, priceSchema,
  printOptionSchema, supplierSchema, variantSchema, weightSchema}
import graft.sources.FeedReader

/** Keramikos supplier pipeline: ceramics catalog with boolean print
  * -capability flags, key-value specification rows, and a qty×colours
  * print-price grid (ref: sample data/Keramikos Sample
  * Data.jsonc:2 products, :3565 categories, :3591 print-types,
  * :3626 prices; grid shape also at flat-structure/keramikos.json:9-40
  * — the SURVEY J6 two-dimensional tier example).
  */
object Keramikos {

  val supplierId = "keramikos"

  /** Boolean capability flag → canonical technique. */
  val printFlagMap: Seq[(String, String)] = Seq(
    "PrintDirect" -> "screen_print",   // "Direct" = screen printing (print-types notes)
    "PrintTransfer" -> "transfer",
    "PrintDigital" -> "digital_print",
    "PrintDyeSublimation" -> "sublimation",
    "PrintFullColour" -> "full_color")

  case class Feed(doc: DataFrame) {
    def products: DataFrame = FeedReader.sectionOf(doc, "all-products-and-prices.Response")
    def categories: DataFrame = FeedReader.sectionOf(doc, "categories.Response")
    def printTypes: DataFrame = FeedReader.sectionOf(doc, "print-types.Response")
    def prices: DataFrame = FeedReader.sectionOf(doc, "prices.Response")
  }

  def readFeed(spark: SparkSession, path: String): Feed =
    Feed(FeedReader.readJsonc(spark, path, Some(FeedReader.requiredFor(
      "all-products-and-prices.Response" -> productCols,
      "prices.Response" -> priceCols))))

  /** Column contracts (FeedReader.conform): sparse captures resolve
    * every referenced column/nested field. */
  private val productCols: Seq[(String, String)] =
    (Seq("Prodcode", "Name", "Description", "Brand", "CategoryName",
      "ShapeName", "ImageUri", "HiresImageUri").map(_ -> "string") ++
      printFlagMap.map(_._1 -> "boolean") ++ Seq(
      "ProductId" -> "long", "Discontinued" -> "boolean",
      "QuantityPerBox" -> "string",
      "ProductSpecifications" ->
        "array<struct<SpecificationText:string,SpecificationValue:string>>"))
  private val priceCols: Seq[(String, String)] =
    Seq("prodCode" -> "string", "printTypeName" -> "string",
      "printPrices" ->
        "array<struct<unitPrice:string,quantityFrom:string,numberOfColours:string>>")

  def unified(feed: Feed): DataFrame = {
    val products = FeedReader.conform(feed.products, productCols)

    // Key-value specification rows → a lookup map per product.
    val specs = map_from_entries(transform(
      coalesce(col("ProductSpecifications"), array()),
      s => struct(s.getField("SpecificationText"), s.getField("SpecificationValue"))))

    // J6 data: the prices endpoint carries one product's print-price
    // grid (quantityFrom × numberOfColours); join it on prodCode and
    // express it as tier prices on the matching print option.
    val grid = broadcast(FeedReader.conform(feed.prices, priceCols).select(
      col("prodCode").as("__price_code"),
      col("printTypeName").as("__price_type"),
      transform(col("printPrices"), p => Unified.struct(priceSchema,
        "value" -> p.getField("unitPrice"),
        "currency" -> lit("GBP"),
        "min_quantity" -> p.getField("quantityFrom"),
        "type" -> lit("unit"),
        "description" -> concat(lit("colours="), p.getField("numberOfColours").cast("string"))))
        .as("__grid_prices")))

    val base = products.join(grid, col("Prodcode") === col("__price_code"), "left_outer")

    val techniques = printFlagMap.map { case (flag, tech) =>
      when(coalesce(col(flag), lit(false)), lit(tech)) }
    val techniquesArr = array_compact(array(techniques: _*))

    val printOptions = filter(
      transform(techniquesArr, tech => Unified.struct(printOptionSchema,
        "technique" -> tech,
        "position" -> lit("various"),
        "max_colors" -> lit(1),
        // Attach the joined grid to the option the grid names
        // ("Digital Printing" → digital_print), empty elsewhere.
        "prices" -> when(tech === "digital_print" && col("__price_type").isNotNull &&
            lower(col("__price_type")).contains("digital"), col("__grid_prices"))
          .otherwise(array()),
        "is_default" -> lit(false))),
      o => o.getField("technique").isNotNull)

    val img = (url: Column, t: String) =>
      Unified.struct(imageSchema, "url" -> url, "type" -> lit(t))
    val images = filter(array(img(col("ImageUri"), "standard"), img(col("HiresImageUri"), "hires")),
      i => i.getField("url").isNotNull)

    val weight = {
      val w = element_at(specs, "Weight (g)").try_cast("double")
      when(w.isNotNull, Unified.struct(weightSchema, "value" -> w, "unit" -> lit("g")))
    }
    val dims = {
      val h = element_at(specs, "Height (mm)").try_cast("double")
      val dia = element_at(specs, "Diameter (mm)").try_cast("double")
      when(coalesce(h, dia).isNotNull, Unified.struct(dimensionsSchema,
        "height" -> h, "diameter" -> dia, "unit" -> lit("mm")))
    }

    val status = when(coalesce(col("Discontinued"), lit(false)), "discontinued")
      .otherwise("active")

    val variant = Unified.struct(variantSchema,
      "sku" -> coalesce(col("Prodcode"), lit("")),
      "variant_id" -> col("ProductId"),
      "material_variant" -> nullif(col("ShapeName"), lit("")),
      "images" -> images,
      "status" -> status)

    base.select(Unified.fill(Unified.schema,
      "product_id" -> concat(lit("keramikos_"), coalesce(col("Prodcode"), lit(""))),
      "supplier" -> Unified.struct(supplierSchema,
        "id" -> lit(supplierId), "name" -> lit("Keramikos")),
      "supplier_product_code" -> coalesce(col("Prodcode"), lit("")),
      "name" -> coalesce(col("Name"), lit("")),
      "short_description" -> col("Description"),
      "categories" -> filter(array(Unified.struct(categorySchema,
        "name" -> col("CategoryName"), "level" -> lit(1))),
        c => c.getField("name").isNotNull),
      "brand" -> nullif(col("Brand"), lit("")),
      "dimensions" -> dims,
      "weight" -> weight,
      "variants" -> array(variant),
      "is_printable" -> (size(techniquesArr) > 0),
      "print_options" -> printOptions,
      "images" -> images,
      "minimum_order_quantity" -> lit(1),
      "carton_quantity" -> col("QuantityPerBox").try_cast("int"),
      "status" -> status,
      // Open attributes (ref unified.jsonc:94 shapeName).
      "product_extra_data" -> map_filter(map(lit("shapeName"), nullif(col("ShapeName"), lit(""))),
        (_, v) => v.isNotNull),
      "raw_data" -> to_json(struct(products.columns.toSeq.map(col): _*))): _*)
  }

  def unified(spark: SparkSession, path: String): DataFrame =
    unified(readFeed(spark, path))
}
