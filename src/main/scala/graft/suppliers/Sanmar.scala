package graft.suppliers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Unified
import graft.schema.Unified.{categorySchema, colorSchema, dimensionsSchema, imageSchema,
  lifecycleSchema, priceSchema, stockLocationSchema, stockSchema, supplierSchema,
  variantSchema, weightSchema}
import graft.sources.FeedReader

/** Sanmar supplier pipeline: PromoStandards service captures → unified
  * rows.
  *
  * Feed shapes (ref: sample data/Sanmar Sample Data.jsonc:2
  * GetProductSellable, :31 GetProduct, :452 GetMediaContent-ish
  * sections, GetConfigurationAndPricing, GetInventoryLevels): nested
  * service envelopes (`XArray.X`) where singleton lists collapse to
  * bare objects — normalized via [[FeedReader.asArray]]. The product
  * body carries parts (colour variants); media, part prices, and
  * per-location inventory arrive as separate services keyed by partId
  * and are joined in (J1/J4 flavor).
  *
  * Scale: each service response is a per-product document; the part
  * joins key on partId. Media/pricing/inventory aggregates group by
  * partId before the join (pre-aggregated dimensions), then one
  * hash-aggregate nests parts per productId. At fleet scale (many
  * product documents per file directory) all joins are plain shuffled
  * equi-joins on partId — no driver-side loops anywhere.
  */
object Sanmar {

  val supplierId = "sanmar"

  case class Feed(doc: DataFrame) {
    def product: DataFrame = FeedReader.sectionOf(doc, "GetProduct.Response.Product")
    def sellable: DataFrame =
      FeedReader.sectionOf(doc, "GetProductSellable.Response.ProductSellableArray.ProductSellable")
    def media: DataFrame =
      FeedReader.sectionOf(doc, "GetMediaContent.Response.MediaContentArray.MediaContent")
    def pricing: DataFrame =
      FeedReader.sectionOf(doc, "GetConfigurationAndPricing.Response.Configuration")
    def inventory: DataFrame =
      FeedReader.sectionOf(doc, "GetInventoryLevels.Response.Inventory")
  }

  /** Source contract (see FeedReader.mergeSchemas): every referenced
    * field declared so sparse captures parse to typed nulls instead of
    * failing analysis; PromoStandards singleton collapse is tolerated
    * (declared arrays merge into bare-object captures). */
  private val requiredSchema = org.apache.spark.sql.types.StructType.fromDDL(
    """GetProduct STRUCT<Response: STRUCT<Product: STRUCT<
      |  productId: STRING, productName: STRING, productBrand: STRING,
      |  primaryImageUrl: STRING, lastChangeDate: STRING, creationDate: STRING,
      |  description: ARRAY<STRING>,
      |  ProductCategoryArray: STRUCT<ProductCategory: ARRAY<STRUCT<
      |    category: STRING, subCategory: STRING>>>,
      |  RelatedProductArray: STRUCT<RelatedProduct: ARRAY<STRUCT<
      |    relationType: STRING, productId: STRING>>>,
      |  ProductKeywordArray: STRUCT<ProductKeyword: ARRAY<STRUCT<keyword: STRING>>>,
      |  ProductPartArray: STRUCT<ProductPart: ARRAY<STRUCT<
      |    partId: STRING, isCloseout: STRING, gtin: STRING,
      |    Dimension: STRUCT<dimensionUom: STRING, weightUom: STRING,
      |      weight: STRING, depth: STRING, width: STRING, height: STRING>,
      |    primaryColor: STRUCT<Color: STRUCT<colorName: STRING,
      |      standardColorName: STRING>>,
      |    ColorArray: STRUCT<Color: STRUCT<approximatePms: STRING>>,
      |    ApparelSize: STRUCT<labelSize: STRING>>>>>>>,
      |GetMediaContent STRUCT<Response: STRUCT<MediaContentArray: STRUCT<
      |  MediaContent: ARRAY<STRUCT<partId: STRING, mediaType: STRING,
      |    url: STRING, color: STRING,
      |    ClassTypeArray: STRUCT<ClassType: STRUCT<classTypeName: STRING>>>>>>>,
      |GetConfigurationAndPricing STRUCT<Response: STRUCT<Configuration: STRUCT<
      |  currency: STRING,
      |  PartArray: STRUCT<Part: ARRAY<STRUCT<partId: STRING,
      |    PartPriceArray: STRUCT<PartPrice: ARRAY<STRUCT<
      |      price: STRING, minQuantity: STRING, priceExpiryDate: STRING>>>>>>>>>,
      |GetInventoryLevels STRUCT<Response: STRUCT<Inventory: STRUCT<
      |  PartInventoryArray: STRUCT<PartInventory: ARRAY<STRUCT<
      |    partId: STRING,
      |    quantityAvailable: STRUCT<Quantity: STRUCT<value: STRING>>,
      |    InventoryLocationArray: STRUCT<InventoryLocation: ARRAY<STRUCT<
      |      inventoryLocationId: STRING, inventoryLocationName: STRING,
      |      country: STRING,
      |      inventoryLocationQuantity: STRUCT<Quantity: STRUCT<value: STRING>>>>>>>>>>>
      |""".stripMargin)

  def readFeed(spark: SparkSession, path: String): Feed =
    Feed(FeedReader.readJsonc(spark, path, Some(requiredSchema)))

  /** Inventory per part: available total + per-location snapshot
    * (ref Sanmar Sample Data.jsonc:430-560 PartInventory with
    * InventoryLocationArray → unified.jsonc:249-257 stock.locations).
    * Package-visible so the golden spec can pin the location extraction
    * even when a capture's inventory parts don't match its product
    * parts (true of the reference sample). */
  private[graft] def stockByPart(feed: Feed): DataFrame = {
    val invParts = feed.inventory.select(
      explode(FeedReader.asArray(feed.inventory,
        col("PartInventoryArray.PartInventory"))).as("__inv"))
    invParts.select(
      col("__inv.partId").as("__stock_part"),
      Unified.struct(stockSchema,
        "available" ->
          coalesce(col("__inv.quantityAvailable.Quantity.value").try_cast("int"), lit(0)),
        "locations" -> filter(transform(
          FeedReader.asArray(invParts,
            col("__inv.InventoryLocationArray.InventoryLocation")),
          l => Unified.struct(stockLocationSchema,
            "id" -> l.getField("inventoryLocationId"),
            "name" -> l.getField("inventoryLocationName"),
            "country" -> l.getField("country"),
            "qty" -> l.getField("inventoryLocationQuantity").getField("Quantity")
              .getField("value").try_cast("int"))),
          l => l.getField("qty").isNotNull)).as("__stock"))
  }

  def unified(feed: Feed): DataFrame = {
    val product = feed.product

    // Media images grouped per part.
    val mediaByPart = feed.media
      .filter(col("mediaType") === "Image")
      .groupBy(col("partId").as("__media_part"))
      .agg(transform(
        array_sort(collect_list(struct(col("url").as("o"), Unified.struct(imageSchema,
          "url" -> col("url"),
          "type" -> lower(coalesce(col("ClassTypeArray.ClassType.classTypeName"), lit("image"))),
          "color_variant" -> col("color")).as("v")))),
        x => x.getField("v")).as("__media_images"))

    // Part price tiers from the pricing service.
    val pricingParts = feed.pricing.select(
      col("currency").as("__currency"),
      explode(FeedReader.asArray(feed.pricing, col("PartArray.Part"))).as("__part"))
    val pricesByPart = pricingParts.select(
      col("__part.partId").as("__price_part"),
      transform(
        FeedReader.asArray(pricingParts, col("__part.PartPriceArray.PartPrice")),
        p => Unified.struct(priceSchema,
          "value" -> p.getField("price"),
          "currency" -> coalesce(col("__currency"), lit("USD")),
          "min_quantity" -> coalesce(p.getField("minQuantity").cast("int"), lit(1)),
          "type" -> lit("unit"),
          "valid_until" -> p.getField("priceExpiryDate").try_cast("timestamp")))
        .as("__part_prices"))

    val stockByPart = Sanmar.stockByPart(feed)

    // Parts (colour variants) out of the product body; a product with
    // no parts gets no variant row.
    val parts = product.select(
      col("productId"), col("productName"), col("description"),
      col("productBrand"), col("primaryImageUrl"),
      col("ProductCategoryArray"), col("ProductKeywordArray"),
      col("lastChangeDate"), col("creationDate"),
      explode(FeedReader.asArray(product, col("ProductPartArray.ProductPart")))
        .as("__part"))

    val joined = parts
      .join(mediaByPart, col("__part.partId") === col("__media_part"), "left_outer")
      .join(pricesByPart, col("__part.partId") === col("__price_part"), "left_outer")
      .join(stockByPart, col("__part.partId") === col("__stock_part"), "left_outer")

    // Dimension arrives in feet ("FT") / ounces ("OZ") — normalize to
    // the unified unit enums (in / oz).
    val dimUom = upper(coalesce(col("__part.Dimension.dimensionUom"), lit("IN")))
    val dimScale = when(dimUom === "FT", lit(12.0)).otherwise(lit(1.0))
    val d = (f: String) =>
      (col(s"__part.Dimension.$f").try_cast("double") * dimScale)
    val dims = when(
      coalesce(d("depth"), d("width"), d("height")).isNotNull &&
        (coalesce(d("depth"), lit(0.0)) + coalesce(d("width"), lit(0.0)) +
          coalesce(d("height"), lit(0.0))) > 0,
      Unified.struct(dimensionsSchema, "length" -> d("depth"), "width" -> d("width"),
        "height" -> d("height"), "unit" -> lit("in")))

    val weightUom = lower(coalesce(col("__part.Dimension.weightUom"), lit("OZ")))
    val weight = when(col("__part.Dimension.weight").isNotNull, Unified.struct(weightSchema,
      "value" -> col("__part.Dimension.weight").try_cast("double"),
      "unit" -> when(weightUom.isin("lb", "lbs"), "lb").otherwise("oz")))

    val variantStruct = Unified.struct(variantSchema,
      "sku" -> coalesce(col("__part.partId"), lit("")),
      "variant_id" -> col("__part.partId"),
      "color" -> when(col("__part.primaryColor.Color.colorName").isNotNull,
        Unified.struct(colorSchema,
          "code" -> coalesce(col("__part.primaryColor.Color.standardColorName"),
            col("__part.primaryColor.Color.colorName"), lit("")),
          "name" -> coalesce(col("__part.primaryColor.Color.colorName"), lit("")),
          "pms_color" -> col("__part.ColorArray.Color.approximatePms"),
          "status" -> lit("active"))),
      "size" -> col("__part.ApparelSize.labelSize"),
      "dimensions" -> dims,
      "weight" -> weight,
      "prices" -> coalesce(col("__part_prices"), array()),
      "stock" -> col("__stock"),
      "images" -> coalesce(col("__media_images"), array()),
      "status" -> when(coalesce(col("__part.isCloseout").try_cast("boolean"), lit(false)),
        "discontinued").otherwise("active"),
      "gtin" -> col("__part.gtin"))

    val variantsByProduct = joined
      .groupBy(col("productId"))
      .agg(transform(
        array_sort(collect_list(struct(col("__part.partId").as("o"), variantStruct.as("v")))),
        x => x.getField("v")).as("variants"))

    val base = product.join(variantsByProduct, Seq("productId"), "left_outer")
      .withColumn("variants", coalesce(col("variants"), array()))

    val keywords = array_distinct(transform(
      FeedReader.asArray(product, col("ProductKeywordArray.ProductKeyword")),
      k => k.getField("keyword")))

    val categories = {
      val cats = FeedReader.asArray(product, col("ProductCategoryArray.ProductCategory"))
      flatten(transform(cats, c => filter(array(
        Unified.struct(categorySchema, "name" -> c.getField("category"), "level" -> lit(1)),
        Unified.struct(categorySchema, "name" -> c.getField("subCategory"), "level" -> lit(2),
          "parent_id" -> c.getField("category"))),
        x => x.getField("name").isNotNull)))
    }

    // description[] is bullet lines: first = short, all = long (ref:
    // Sanmar Sample Data.jsonc:36-47).
    val descArr = FeedReader.asArray(product, col("description"))

    // Related products (ref: Sanmar Sample Data.jsonc:165-170): the
    // PromoStandards relation set; "Substitute" relations are the
    // unified alternativeProducts, anything else (e.g. "Companion
    // Sell") relatedProducts. Sorted-distinct — the envelope order is
    // not meaningful.
    val relatedArr =
      FeedReader.asArray(product, col("RelatedProductArray.RelatedProduct"))
    def relationCodes(pick: Column => Column): Column =
      array_sort(array_distinct(transform(
        filter(relatedArr, r => r.getField("productId").isNotNull &&
          pick(coalesce(r.getField("relationType"), lit("")))),
        r => r.getField("productId").cast("string"))))

    val firstVariant = try_element_at(col("variants"), lit(1))

    base.select(Unified.fill(Unified.schema,
      "product_id" -> concat(lit("sanmar_"), coalesce(col("productId"), lit(""))),
      "supplier" -> Unified.struct(supplierSchema,
        "id" -> lit(supplierId), "name" -> lit("Sanmar"),
        "api_version" -> lit("PromoStandards-V2")),
      "supplier_product_code" -> coalesce(col("productId"), lit("")),
      "name" -> coalesce(col("productName"), lit("")),
      "short_description" -> try_element_at(descArr, lit(1)),
      "long_description" -> concat_ws("\n", descArr),
      "keywords" -> keywords,
      "categories" -> categories,
      "brand" -> nullif(col("productBrand"), lit("")),
      "dimensions" -> firstVariant.getField("dimensions"),
      "weight" -> firstVariant.getField("weight"),
      "colors_available" -> array_distinct(filter(
        transform(col("variants"), v => v.getField("color").getField("name")),
        c => c.isNotNull)),
      "variants" -> col("variants"),
      "base_prices" -> coalesce(firstVariant.getField("prices"), array()),
      "is_printable" -> lit(false),
      "images" -> filter(array(Unified.struct(imageSchema,
        "url" -> col("primaryImageUrl"), "type" -> lit("primary"))),
        i => i.getField("url").isNotNull),
      "minimum_order_quantity" -> lit(1),
      "status" -> lit("active"),
      // Lifecycle (ref unified.jsonc:14-22): PromoStandards carries
      // creation + last-change service dates.
      "lifecycle" -> Unified.struct(lifecycleSchema,
        "release_date" -> col("creationDate").try_cast("timestamp"),
        "modified_date" -> col("lastChangeDate").try_cast("timestamp")),
      "related_products" -> relationCodes(t => t =!= "Substitute"),
      "alternative_products" -> relationCodes(t => t === "Substitute"),
      "created_at" -> col("creationDate").try_cast("timestamp"),
      "updated_at" -> col("lastChangeDate").try_cast("timestamp"),
      // Full product service body (ref unified_product_schema.py:201).
      "raw_data" -> to_json(struct(product.columns.toSeq.map(col): _*))): _*)
  }

  def unified(spark: SparkSession, path: String): DataFrame =
    unified(readFeed(spark, path))
}
