package graft.suppliers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Unified
import graft.schema.Unified.{categorySchema, colorSchema, dueInSchema, imageSchema,
  priceSchema, stockLocationSchema, stockSchema, supplierSchema, variantSchema, weightSchema}
import graft.sources.FeedReader

/** S&S Activewear supplier pipeline: flat per-SKU rows + three
  * dimensions → unified rows.
  *
  * Feed shapes (ref: sample data/s&s.jsonc:2 products, :70 categories,
  * :90 styles, :137 specs, :164 brands): `products` is one row per
  * colour×size SKU keyed by styleID (the Ralawise-style pivot shape);
  * `styles` carries product-level title/description plus a CSV of
  * category IDs; `categories` maps id→name. Resolving the CSV is the
  * explode → broadcast-join → re-nest pattern (SURVEY F13 flavor).
  *
  * Scale: products is the big table; one hash-aggregate on styleID
  * does the variant nesting. styles/categories/specs are genuine
  * dimensions → broadcast joins, no extra shuffle. The category
  * resolution re-nest groups by styleID — co-partitioned with the
  * variant rollup key, so AQE can reuse the exchange.
  */
object SandS {

  val supplierId = "ss_activewear"

  case class Feed(doc: DataFrame) {
    def products: DataFrame = FeedReader.sectionOf(doc, "products.Response")
    def categories: DataFrame = FeedReader.sectionOf(doc, "categories.Response")
    def styles: DataFrame = FeedReader.sectionOf(doc, "styles.Response")
    def specs: DataFrame = FeedReader.sectionOf(doc, "specs.Response")
    def brands: DataFrame = FeedReader.sectionOf(doc, "brands.Response")
  }

  def readFeed(spark: SparkSession, path: String): Feed =
    Feed(FeedReader.readJsonc(spark, path, Some(FeedReader.requiredFor(
      "products.Response" -> productCols,
      "categories.Response" -> categoryCols,
      "styles.Response" -> styleCols,
      "specs.Response" -> specCols))))

  private def img(url: Column, t: String, colorVariant: Column = lit(null)): Column =
    Unified.struct(imageSchema, "url" -> url, "type" -> lit(t), "color_variant" -> colorVariant)

  /** Strip the HTML the styles descriptions arrive in (ref:
    * s&s.jsonc:101 — `<ul><li>...`): tags → space, entities decoded
    * enough for display text. */
  def stripHtml(c: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(c, "<[^>]*>", " "),
      "&nbsp;", " "), "&#39;", "'"), "\\s+", " "))

  /** Column contracts per feed section (FeedReader.conform): a sparse
    * or empty capture still resolves every referenced column. */
  private val productCols: Seq[(String, String)] =
    Seq("sku", "brandName", "styleName", "colorName", "colorCode", "color1",
      "sizeName", "saleExpiration", "countryOfOrigin", "gtin",
      "colorFrontImage", "colorBackImage", "colorSideImage",
      "colorSwatchImage").map(_ -> "string") ++
      Seq("styleID" -> "long", "skuID_Master" -> "long", "caseQty" -> "int",
        "qty" -> "int", "unitWeight" -> "double", "piecePrice" -> "double",
        "dozenPrice" -> "double", "casePrice" -> "double",
        "salePrice" -> "double",
        "warehouses" -> "array<struct<warehouseAbbr:string,qty:int,expectedInventory:string>>")
  private val categoryCols: Seq[(String, String)] =
    Seq("categoryID" -> "long", "name" -> "string")
  private val styleCols: Seq[(String, String)] =
    Seq("title", "description", "baseCategory", "styleImage", "categories")
      .map(_ -> "string") ++ Seq("styleID" -> "long")
  private val specCols: Seq[(String, String)] =
    Seq("specName" -> "string", "value" -> "string") ++ Seq("styleID" -> "long")

  def unified(feed: Feed): DataFrame = {
    val productsC = FeedReader.conform(feed.products, productCols)
    val stylesC = FeedReader.conform(feed.styles, styleCols)
    // Category dimension: id → name (broadcast).
    val catDim = broadcast(FeedReader.conform(feed.categories, categoryCols).select(
      col("categoryID").cast("string").as("__cat_id"),
      trim(col("name")).as("__cat_name")))

    // styles.categories is a CSV of ids: explode → join → re-nest. An
    // id the category dimension lacks has no name and is dropped, as
    // every supplier drops a category without a name.
    val styleCats = stylesC
      .select(col("styleID").as("__sc_style"),
        posexplode(split(col("categories"), ",")).as(Seq("__pos", "__cat_id")))
      .join(catDim, Seq("__cat_id"))
      .filter(col("__cat_name").isNotNull)
      .groupBy(col("__sc_style"))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos").as("o"),
          Unified.struct(categorySchema,
            "id" -> col("__cat_id"), "name" -> col("__cat_name"), "level" -> lit(2)).as("v")))),
        x => x.getField("v")).as("__style_cats"))

    // Specs: per-style key/value rows → a map (F19 flavor).
    val specDim = FeedReader.conform(feed.specs, specCols)
      .groupBy(col("styleID").as("__spec_style"))
      .agg(map_from_entries(array_distinct(collect_list(
        struct(col("specName"), col("value"))))).as("__specs"))

    val styleDim = broadcast(stylesC
      .join(styleCats, col("styleID") === col("__sc_style"), "left_outer")
      .join(specDim, col("styleID") === col("__spec_style"), "left_outer")
      .select(
        col("styleID").as("__style_id"),
        col("title").as("__title"),
        stripHtml(col("description")).as("__description"),
        col("baseCategory").as("__base_category"),
        col("styleImage").as("__style_image"),
        col("__style_cats"),
        col("__specs")))

    val rows = productsC
      .join(styleDim, col("styleID") === col("__style_id"), "left_outer")

    // Tiered wholesale prices: piece (1+), dozen (12+), case (caseQty+),
    // plus a sale price bounded by saleExpiration.
    val price = (value: String, minQ: Column, maxQ: Column, desc: String) =>
      Unified.struct(priceSchema,
        "value" -> col(value).try_cast("double"), "currency" -> lit("USD"),
        "min_quantity" -> minQ, "max_quantity" -> maxQ, "type" -> lit("unit"),
        "description" -> lit(desc))
    val prices = filter(array(
      price("piecePrice", lit(1), lit(11), "piece"),
      price("dozenPrice", lit(12), coalesce(col("caseQty").try_cast("int"), lit(0)) - 1, "dozen"),
      price("casePrice", coalesce(col("caseQty").try_cast("int"), lit(1)), lit(null), "case"),
      Unified.struct(priceSchema,
        "value" -> col("salePrice").try_cast("double"), "currency" -> lit("USD"),
        "min_quantity" -> lit(1), "type" -> lit("unit"), "description" -> lit("sale"),
        "valid_until" -> col("saleExpiration").try_cast("timestamp"))),
      p => p.getField("value").isNotNull && p.getField("value") > 0)

    // Stock: total qty, per-warehouse due-ins (expected inventory), and
    // the per-warehouse snapshot itself (ref unified.jsonc:249-257
    // stock.locations — warehouseAbbr is both id and name; the feed
    // carries no per-warehouse country).
    val stock = Unified.struct(stockSchema,
      "available" -> coalesce(col("qty").try_cast("int"), lit(0)),
      "due_ins" -> filter(transform(coalesce(col("warehouses"), array()),
        w => Unified.struct(dueInSchema,
          "quantity" -> w.getField("qty").try_cast("int"),
          "expected_date" -> w.getField("expectedInventory"))),
        d => d.getField("quantity").isNotNull),
      "locations" -> filter(transform(coalesce(col("warehouses"), array()),
        w => Unified.struct(stockLocationSchema,
          "id" -> w.getField("warehouseAbbr"),
          "name" -> w.getField("warehouseAbbr"),
          "qty" -> w.getField("qty").try_cast("int"))),
        l => l.getField("qty").isNotNull))

    val colorImages = filter(array(
      img(col("colorFrontImage"), "front", col("colorName")),
      img(col("colorBackImage"), "back", col("colorName")),
      img(col("colorSideImage"), "side", col("colorName")),
      img(col("colorSwatchImage"), "swatch", col("colorName"))),
      i => i.getField("url").isNotNull && i.getField("url") =!= "")

    val variantStruct = Unified.struct(variantSchema,
      "sku" -> coalesce(col("sku"), lit("")),
      "variant_id" -> col("skuID_Master"),
      "color" -> Unified.struct(colorSchema,
        "code" -> coalesce(col("colorCode"), lit("")),
        "name" -> coalesce(col("colorName"), lit("")),
        "hex_color" -> nullif(col("color1"), lit("")),
        "images" -> colorImages,
        "status" -> lit("active")),
      "size" -> col("sizeName"),
      "weight" -> when(col("unitWeight").isNotNull, Unified.struct(weightSchema,
        "value" -> col("unitWeight").try_cast("double"), "unit" -> lit("lb"))),
      "prices" -> prices,
      "stock" -> stock,
      "images" -> colorImages,
      "status" -> lit("active"),
      "gtin" -> nullif(col("gtin"), lit("")))

    val parentCols = Seq("brandName", "styleName", "countryOfOrigin",
      "caseQty", "__title", "__description", "__base_category",
      "__style_image", "__style_cats", "__specs")

    val grouped = graft.operators.Nest.rollupWithParent(
      rows, Seq("styleID"), parentCols, variantStruct, col("sku"), "variants")

    val categories = concat(
      filter(array(Unified.struct(categorySchema,
        "name" -> col("__base_category"), "level" -> lit(1))),
        c => c.getField("name").isNotNull && c.getField("name") =!= ""),
      coalesce(col("__style_cats"), array()))

    grouped.select(Unified.fill(Unified.schema,
      "product_id" -> concat(lit("ss_"), coalesce(col("styleID").cast("string"), lit(""))),
      "supplier" -> Unified.struct(supplierSchema,
        "id" -> lit(supplierId), "name" -> lit("S&S Activewear"), "api_version" -> lit("v2")),
      "supplier_product_code" -> coalesce(col("styleName"), col("styleID").cast("string"), lit("")),
      "name" -> coalesce(col("__title"), col("styleName"), lit("")),
      "title" -> col("__title"),
      "long_description" -> col("__description"),
      "categories" -> categories,
      "brand" -> nullif(col("brandName"), lit("")),
      "weight" -> try_element_at(col("variants"), lit(1)).getField("weight"),
      "material" -> try_element_at(col("__specs"), lit("Fabric")),
      "colors_available" -> array_distinct(filter(
        transform(col("variants"), v => v.getField("color").getField("name")),
        c => c.isNotNull && c =!= "")),
      "variants" -> col("variants"),
      "base_prices" -> try_element_at(col("variants"), lit(1)).getField("prices"),
      "is_printable" -> lit(false),
      "images" -> filter(array(img(col("__style_image"), "style")),
        i => i.getField("url").isNotNull && i.getField("url") =!= ""),
      "minimum_order_quantity" -> lit(1),
      "carton_quantity" -> col("caseQty").try_cast("int"),
      "country_of_origin" -> nullif(col("countryOfOrigin"), lit("")),
      "status" -> lit("active"),
      // Style-level source fields + spec map (ref
      // unified_product_schema.py:201).
      "raw_data" -> to_json(struct(col("styleID"), col("brandName"), col("styleName"),
        col("countryOfOrigin"), col("caseQty"), col("__title").as("title"),
        col("__description").as("description"),
        col("__base_category").as("baseCategory"),
        col("__specs").as("specs")))): _*)
  }

  def unified(spark: SparkSession, path: String): DataFrame =
    unified(readFeed(spark, path))
}
