package graft.schema

import java.sql.Timestamp

/** Unified product schema: the Scala case-class tree mirroring the
  * reference's Pydantic model (ref: schemas/unified_product_schema.py:51-207).
  *
  * Spark usage: `Dataset[Product]` at the unified boundary (the typed
  * validated role Pydantic plays in the reference), `DataFrame` in the
  * supplier-specific stages. Enum-typed fields are plain strings with
  * domain checks (`use_enum_values` in the reference means storage is
  * the string — unified_product_schema.py:204); `raw_data` is a JSON
  * string column, not a Map, to preserve arbitrary nesting.
  *
  * Scale note: this is a wide, deeply nested schema. At 100 TB the
  * unified table is stored as Parquet partitioned by `supplier_id`
  * with column pruning doing the heavy lifting — queries touching only
  * `product_id`/`status` never deserialize the variant forest.
  */
object Enums {
  val priceTypes = Set("unit", "setup", "additional", "shipping")
  val printTechniques = Set("screen_print", "pad_print", "embroidery",
    "laser_engraving", "digital_print", "full_color", "debossing",
    "sublimation", "transfer")
  val dimensionUnits = Set("mm", "cm", "m", "in")
  val weightUnits = Set("g", "kg", "lb", "oz")
  val currencies = Set("GBP", "EUR", "USD")
  val productStatuses = Set("active", "discontinued", "out_of_stock")
}

case class Dimensions(
    length: Option[Double] = None,
    width: Option[Double] = None,
    height: Option[Double] = None,
    diameter: Option[Double] = None,
    unit: String = "mm")

case class Weight(value: Option[Double] = None, unit: String = "g")

case class Price(
    value: Double,
    currency: String = "GBP",
    min_quantity: Int = 1,
    max_quantity: Option[Int] = None,
    `type`: String = "unit",
    description: Option[String] = None,
    valid_until: Option[Timestamp] = None)

case class Image(
    url: String,
    `type`: Option[String] = None,
    description: Option[String] = None,
    color_variant: Option[String] = None)

case class PrintPosition(
    id: String,
    name: String,
    max_width: Option[Double] = None,
    max_height: Option[Double] = None,
    max_area: Option[Double] = None,
    unit: String = "mm",
    techniques: Seq[String] = Nil,
    max_colors: Option[Int] = None,
    coordinates: Option[Map[String, String]] = None,
    images: Seq[Image] = Nil)

case class PrintOption(
    technique: String,
    position: String,
    max_colors: Int = 1,
    setup_charge: Option[Double] = None,
    prices: Seq[Price] = Nil,
    lead_time: Option[String] = None,
    is_default: Boolean = false,
    /** Localized display names of the technique, language code → name
      * (ref: unified.jsonc:25-33 `{lang}` convention; fed by MidOcean
      * printdata's per-language name lists). */
    technique_names: Option[Map[String, String]] = None)

case class ColorVariant(
    code: String,
    name: String,
    hex_color: Option[String] = None,
    pms_color: Option[String] = None,
    images: Seq[Image] = Nil,
    status: String = "active")

case class DueIn(quantity: Option[Int] = None, expected_date: Option[String] = None)

/** Per-warehouse stock snapshot (ref: unified.jsonc:249-257
  * `stock.locations` — id/name/country/qty). Feeds with one aggregate
  * quantity leave this empty; S&S warehouses and Sanmar PromoStandards
  * InventoryLocationArray fill it. */
case class StockLocation(
    id: Option[String] = None,
    name: Option[String] = None,
    country: Option[String] = None,
    qty: Option[Int] = None)

case class StockInfo(
    available: Int = 0,
    due_ins: Seq[DueIn] = Nil,
    locations: Seq[StockLocation] = Nil,
    last_updated: Option[Timestamp] = None)

case class Variant(
    sku: String,
    variant_id: Option[String] = None,
    color: Option[ColorVariant] = None,
    size: Option[String] = None,
    material_variant: Option[String] = None,
    dimensions: Option[Dimensions] = None,
    weight: Option[Weight] = None,
    prices: Seq[Price] = Nil,
    stock: Option[StockInfo] = None,
    images: Seq[Image] = Nil,
    status: String = "active",
    gtin: Option[String] = None)

/** Language-keyed content maps (ref: unified.jsonc:25-33 — the jsonc
  * extension of the Pydantic schema types brand/name/title/
  * descriptions/keywords as `{lang: string}` objects). A
  * single-language feed fills its language key only; `null` maps mean
  * the supplier feed carries no localized variant of that field (the
  * plain string columns on [[Product]] remain the default-language
  * values). */
case class LocalizedText(
    brand: Option[Map[String, String]] = None,
    name: Option[Map[String, String]] = None,
    title: Option[Map[String, String]] = None,
    short_description: Option[Map[String, String]] = None,
    long_description: Option[Map[String, String]] = None,
    web_description: Option[Map[String, String]] = None,
    keywords: Option[Map[String, String]] = None)

/** Carton-level packaging facts (ref: unified.jsonc:136-161
  * `packaging.innerCarton/outerCarton`). */
case class CartonInfo(
    qty: Option[Int] = None,
    length: Option[Double] = None,
    width: Option[Double] = None,
    height: Option[Double] = None,
    unit: String = "cm",
    weight_net: Option[Double] = None,
    weight_gross: Option[Double] = None,
    weight_unit: String = "kg",
    volume: Option[Double] = None,
    volume_unit: Option[String] = None)

case class Packaging(
    inner_carton: Option[CartonInfo] = None,
    outer_carton: Option[CartonInfo] = None,
    `type`: Option[String] = None,
    type_item: Option[String] = None)

/** Eco/compliance facts (ref: unified.jsonc:188-231
  * `sustainabilityInfo` + `complianceData.compliance/certificates`). */
case class Sustainability(
    eco: Option[Boolean] = None,
    recycled_content_pct: Option[Double] = None,
    co2_total: Option[Double] = None,
    co2_total_benchmark: Option[Double] = None,
    compliance: Option[String] = None,
    social_audits: Seq[String] = Nil,
    certificates: Seq[String] = Nil)

/** Product lifecycle facts (ref: unified.jsonc:14-22
  * status/productLifecycle/releaseDate/modifiedDate/discontinuedDate/
  * introDate/typeOfProduct). */
case class Lifecycle(
    type_of_product: Option[String] = None,
    product_lifecycle: Option[String] = None,
    intro_date: Option[Timestamp] = None,
    release_date: Option[Timestamp] = None,
    modified_date: Option[Timestamp] = None,
    discontinued_date: Option[Timestamp] = None)

case class Category(
    id: Option[String] = None,
    name: String,
    level: Int = 1,
    parent_id: Option[String] = None)

case class ShippingOption(
    service_type: String,
    service_name: String,
    cost: Double,
    currency: String = "GBP",
    conditions: Option[Map[String, String]] = None)

case class Supplier(
    id: String,
    name: String,
    api_version: Option[String] = None,
    contact_info: Option[Map[String, String]] = None)

/** Ref: schemas/unified_product_schema.py:145-207. */
case class Product(
    product_id: String,
    supplier: Supplier,
    supplier_product_code: String,
    name: String,
    title: Option[String] = None,
    short_description: Option[String] = None,
    long_description: Option[String] = None,
    keywords: Seq[String] = Nil,
    categories: Seq[Category] = Nil,
    brand: Option[String] = None,
    dimensions: Option[Dimensions] = None,
    weight: Option[Weight] = None,
    material: Option[String] = None,
    colors_available: Seq[String] = Nil,
    variants: Seq[Variant] = Nil,
    base_prices: Seq[Price] = Nil,
    is_printable: Boolean = false,
    print_positions: Seq[PrintPosition] = Nil,
    print_options: Seq[PrintOption] = Nil,
    images: Seq[Image] = Nil,
    artwork_templates: Seq[String] = Nil,
    minimum_order_quantity: Int = 1,
    carton_quantity: Option[Int] = None,
    lead_time: Option[String] = None,
    shipping_options: Seq[ShippingOption] = Nil,
    country_of_origin: Option[String] = None,
    tariff_code: Option[String] = None,
    commodity_code: Option[String] = None,
    status: String = "active",
    /** Carton packaging (ref: unified.jsonc:136-161). */
    packaging: Option[Packaging] = None,
    /** Eco/compliance (ref: unified.jsonc:188-231). */
    sustainability: Option[Sustainability] = None,
    /** Lifecycle dates/flags (ref: unified.jsonc:14-22). */
    lifecycle: Option[Lifecycle] = None,
    /** Companion/cross-sell product codes (ref: unified.jsonc:21
      * `relatedProducts`). */
    related_products: Seq[String] = Nil,
    /** Substitute product codes (ref: unified.jsonc:22
      * `alternativeProducts`). */
    alternative_products: Seq[String] = Nil,
    /** Language-keyed content maps (ref: unified.jsonc:25-33). */
    localized: Option[LocalizedText] = None,
    /** Open per-supplier attribute map (ref: unified.jsonc:86-122
      * `productExtraData`) — values stringified; arbitrary nesting
      * stays in `raw_data`. */
    product_extra_data: Option[Map[String, String]] = None,
    created_at: Option[Timestamp] = None,
    updated_at: Option[Timestamp] = None,
    last_sync: Option[Timestamp] = None,
    raw_data: Option[String] = None)

object Unified {
  import org.apache.spark.sql.{Column, Encoders, functions}
  import org.apache.spark.sql.types._

  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => a.copy(elementType = nullable(a.elementType), containsNull = true)
    case m: MapType => m.copy(valueType = nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The canonical Spark StructType for the unified product table —
    * derived from the case-class tree so the two can never drift.
    * All-nullable (the Parquet at-rest form; scalar non-nullability is
    * a validation rule — see pipeline error channel — not a storage
    * property). */
  lazy val schema: StructType =
    nullable(Encoders.product[Product].schema).asInstanceOf[StructType]

  /** The struct `parent`'s field `name` holds, or holds a list of. */
  private def structOf(parent: StructType, name: String): StructType =
    parent(name).dataType match {
      case ArrayType(s: StructType, _) => s
      case s: StructType => s
      case other => throw new IllegalArgumentException(s"$name is $other, not a struct")
    }

  // The unified-shaped structs a supplier builds, one per Scala case class.
  lazy val supplierSchema: StructType = structOf(schema, "supplier")
  lazy val categorySchema: StructType = structOf(schema, "categories")
  lazy val dimensionsSchema: StructType = structOf(schema, "dimensions")
  lazy val weightSchema: StructType = structOf(schema, "weight")
  lazy val priceSchema: StructType = structOf(schema, "base_prices")
  lazy val imageSchema: StructType = structOf(schema, "images")
  lazy val printPositionSchema: StructType = structOf(schema, "print_positions")
  lazy val printOptionSchema: StructType = structOf(schema, "print_options")
  lazy val packagingSchema: StructType = structOf(schema, "packaging")
  lazy val cartonSchema: StructType = structOf(packagingSchema, "outer_carton")
  lazy val sustainabilitySchema: StructType = structOf(schema, "sustainability")
  lazy val lifecycleSchema: StructType = structOf(schema, "lifecycle")
  lazy val localizedSchema: StructType = structOf(schema, "localized")
  lazy val variantSchema: StructType = structOf(schema, "variants")
  lazy val colorSchema: StructType = structOf(variantSchema, "color")
  lazy val stockSchema: StructType = structOf(variantSchema, "stock")
  lazy val dueInSchema: StructType = structOf(stockSchema, "due_ins")
  lazy val stockLocationSchema: StructType = structOf(stockSchema, "locations")

  /** `dt`'s fields in schema order, as columns. A field in `fields` is
    * cast to its schema type; every other field holds what an unmapped
    * field holds in the unified row — an empty list if its type is an
    * array, a typed null otherwise (the nested-record rule: an absent
    * repeated field reads as empty, an absent optional one as NULL).
    * The case classes' own defaults (`"active"`, `1`, `"GBP"`) are not
    * applied: a supplier states those values itself. A name that is not
    * a field of `dt`, or is given twice, throws
    * `IllegalArgumentException` when the plan is built. */
  def fill(dt: StructType, fields: (String, Column)*): Seq[Column] = {
    val unknown = fields.map(_._1).filterNot(dt.fieldNames.contains)
    require(unknown.isEmpty,
      s"not a field of ${dt.catalogString}: ${unknown.mkString(", ")}")
    val byName = fields.toMap
    require(byName.size == fields.size,
      s"field given twice: ${fields.map(_._1).diff(byName.keys.toSeq).mkString(", ")}")
    dt.fields.toSeq.map { f =>
      val value = byName.get(f.name).map(_.cast(f.dataType)).getOrElse(f.dataType match {
        case a: ArrayType => functions.array().cast(a)
        case other => functions.lit(null).cast(other)
      })
      value.as(f.name)
    }
  }

  /** [[fill]] as one struct column of type `dt`. */
  def struct(dt: StructType, fields: (String, Column)*): Column =
    functions.struct(fill(dt, fields: _*): _*)
}
