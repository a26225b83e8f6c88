package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.suppliers.{Laltex, MidOcean, Ralawise}

/** One product as the generator's model expects it in the unified
  * table. `cents` holds each variant's first price in pence. */
final case class Product(code: String, name: String, category: String, printable: Boolean,
                         skus: Vector[String], cents: Vector[Long]) {
  def priceCents: Long = cents.sum
}

/** A supplier feed shape the generator can write. Each writer follows
  * the field names of that supplier's declared source contract (its
  * column list or required schema), so the program's own reader and
  * transform accept the feed as a real capture. */
sealed abstract class Shape(val id: String, val prefix: String, val codePrefix: String) {
  def productId(p: Product): String = prefix + p.code
  /** Whether the unified row will carry `is_printable = true`. */
  def printableOf(p: Product): Boolean = p.printable
  /** Laltex prices are per product: every item shares the first tier. */
  def perProductPrice: Boolean = false
  def render(ps: Seq[Product]): String
  /** Read a feed file: the parsed document and the transform over it. */
  def readDoc(spark: SparkSession, path: String): DataFrame
  def unified(doc: DataFrame): DataFrame
}

object Shape {
  private def q(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c => b += c
    }
    (b += '"').toString
  }
  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  private def money(cents: Long, sep: Char): String =
    s"${cents / 100}$sep${"%02d".format(cents % 100)}"
  private def img(code: String, kind: String) = s"https://img.example.com/$code/$kind.jpg"
  private val colours = Vector("Red", "Navy", "Black", "White", "Green", "Grey", "Royal", "Pink")
  private val sizes = Vector("S", "M", "L", "XL", "2XL")

  case object RalawiseShape extends Shape(Ralawise.supplierId, "ralawise_", "RW") {
    override def printableOf(p: Product): Boolean = false
    def render(ps: Seq[Product]): String = arr(ps.flatMap { p =>
      p.skus.indices.map { i =>
        obj("Sku Code" -> q(p.skus(i)), "Style Code" -> q(p.code), "Style Name" -> q(p.name),
          "Brand" -> q("Gildan"), "Colour Code" -> q(s"C${i % colours.size}"),
          "Colour Name" -> q(colours(i % colours.size)), "Colour Image" -> q(img(p.skus(i), "colour")),
          "Pantone" -> q("186C"), "Size Name" -> q(sizes(i % sizes.size)), "Sku Status" -> q("LIVE"),
          "Specification" -> q(s"${p.name} specification"),
          "Retail Description" -> q(s"${p.name}, a ${p.category.toLowerCase} staple"),
          "Fabric" -> q("100% Cotton"), "Categorisation" -> q(s"${p.category}|Sub ${p.code.last}"),
          "Commodity Code" -> q("6109100010"), "Country of Origin" -> q("BD"),
          "Primary Product Image URL" -> q(img(p.code, "primary")), "Product Type" -> q("Apparel"),
          "EAN Code" -> q(s"50${p.skus(i).filter(_.isDigit)}"), "Carton Quantity" -> "50",
          "Item Weight in KG" -> "0.21", "Single Price" -> money(p.cents(i), '.'))
      }
    })
    def readDoc(spark: SparkSession, path: String): DataFrame = Ralawise.readFeed(spark, path).doc
    def unified(doc: DataFrame): DataFrame = Ralawise.unified(Ralawise.Feed(doc))
  }

  case object LaltexShape extends Shape(Laltex.supplierId, "laltex_", "LL") {
    override def perProductPrice: Boolean = true
    def render(ps: Seq[Product]): String = {
      val products = ps.map { p =>
        val c = p.cents.head
        obj("ProductCode" -> q(p.code), "ProductName" -> q(p.name), "ProductTitle" -> q(p.name),
          "Description" -> q(s"${p.name} description"), "WebDescription" -> q(s"${p.name} for the web"),
          "KeyWords" -> q("promo, gift, office"), "Category" -> q(p.category),
          "SubCategory" -> q(s"Sub ${p.code.last}"), "Material" -> q("Recycled PET"),
          "ProductDims" -> q("380 x 420 x 10 mm"), "UnitWeight" -> q("120 g"),
          "AvailableColours" -> q("Red, Navy, Black"), "CountryOfOrigin" -> q("CN"),
          "TariffCode" -> q("42022290"), "MinimumOrderQty" -> q("50"), "CartonQty" -> q("200"),
          "CartonDims" -> q("42 x 37 x 55 cm"), "CartonGrossWeight" -> q("9.000 kg"),
          "ProductPrice" -> arr(Seq(
            obj("Price" -> q("£" + money(c, '.')), "MinQuantity" -> q("50"), "MaxQuantity" -> q("249")),
            obj("Price" -> q("£" + money(c * 9 / 10, '.')), "MinQuantity" -> q("250"),
              "MaxQuantity" -> q("N/A")))),
          "Items" -> arr(p.skus.zipWithIndex.map { case (s, i) =>
            obj("ItemCode" -> q(s), "ItemColour" -> q(colours(i % colours.size)),
              "ItemSize" -> q("One Size"), "PMS" -> q("186C"),
              "ItemImages" -> arr(Seq(q(img(s, "item")))), "PlainImages" -> arr(Seq(q(img(s, "plain")))))
          }),
          "PrintDetails" -> arr(if (!p.printable) Nil else Seq(
            obj("PrintPosition" -> q("Front"), "PrintArea" -> q("120x25mm"),
              "PrintType" -> q("Screen Print")))),
          "ArtworkTemplates" -> arr(Seq(obj("Template" -> q(img(p.code, "template"))))))
      }
      val stocks = ps.flatMap(_.skus).map { s =>
        obj("ProductCode" -> q(s), "FreeStock" -> q("120"),
          "DueIns" -> arr(Seq(obj("DueInQty" -> q("500"), "DueInETA" -> q("2026-11-01")))))
      }
      obj("products" -> obj("Response" -> arr(products)), "stocks" -> obj("Response" -> arr(stocks)))
    }
    def readDoc(spark: SparkSession, path: String): DataFrame = Laltex.readFeed(spark, path).doc
    def unified(doc: DataFrame): DataFrame = Laltex.unified(Laltex.Feed(doc))
  }

  case object MidOceanShape extends Shape(MidOcean.supplierId, "midocean_", "MO") {
    private val techniques = Seq("S1" -> "Screen print", "P2" -> "Pad print", "L1" -> "Laser engraving")
    def render(ps: Seq[Product]): String = {
      val products = ps.map { p =>
        obj("master_code" -> q(p.code), "master_id" -> q(p.code.filter(_.isDigit)),
          "product_name" -> q(p.name), "short_description" -> q(s"${p.name} short"),
          "long_description" -> q(s"${p.name} long description"), "brand" -> q("midocean"),
          "material" -> q("Bamboo"), "product_class" -> q(p.category), "length" -> q("10,5"),
          "width" -> q("4,0"), "height" -> q("2,5"), "length_unit" -> q("cm"),
          "gross_weight" -> q("0,12"), "net_weight" -> q("0,10"), "gross_weight_unit" -> q("kg"),
          "printable" -> q(if (p.printable) "yes" else "no"), "outer_carton_quantity" -> q("100"),
          "inner_carton_quantity" -> q("50"), "country_of_origin" -> q("CN"),
          "commodity_code" -> q("44219999"), "type_of_products" -> q("stock"),
          "number_of_print_positions" -> q("1"), "timestamp" -> q("2026-01-01T00:00:00"),
          "variants" -> arr(p.skus.zipWithIndex.map { case (s, i) =>
            obj("sku" -> q(s), "variant_id" -> q(s"V$s"), "color_code" -> q(s"C$i"),
              "color_description" -> q(colours(i % colours.size)), "pms_color" -> q("186C"),
              "gtin" -> q(s"87${s.filter(_.isDigit)}"), "category_level1" -> q(p.category),
              "category_level2" -> q(s"Sub ${p.code.last}"), "category_level3" -> q("Leaf"),
              "plc_status_description" -> q("COLLECTION"), "discontinued_date" -> q("2099-12-31"),
              "digital_assets" -> arr(Seq(obj("type" -> q("image"),
                "subtype" -> q("item_picture_front"), "url" -> q(img(s, "front"))))))
          }))
      }
      val prices = ps.flatMap(p => p.skus.zip(p.cents)).map { case (s, c) =>
        obj("sku" -> q(s), "price" -> q(money(c, ',')), "valid_until" -> q("2027-12-31"))
      }
      val printProducts = ps.filter(_.printable).map { p =>
        obj("master_code" -> q(p.code), "printing_positions" -> arr(Seq(obj(
          "position_id" -> q("FRONT"), "max_print_size_width" -> q("50"),
          "max_print_size_height" -> q("30"),
          "printing_techniques" -> arr(techniques.take(2).map(t => obj("id" -> q(t._1)))),
          "images" -> arr(Seq(obj("print_position_image_with_area" -> q(img(p.code, "area")))))))))
      }
      val descs = techniques.map { case (t, n) =>
        obj("id" -> q(t), "name" -> arr(Seq(obj("en" -> q(n)))))
      }
      val printPrices = techniques.map { case (t, _) =>
        obj("id" -> q(t), "setup" -> q("25,00"), "var_costs" -> arr(Seq(obj("scales" -> arr(Seq(
          obj("price" -> q("0,50"), "minimum_quantity" -> q("100")),
          obj("price" -> q("0,40"), "minimum_quantity" -> q("500"))))))))
      }
      val stock = ps.flatMap(_.skus).map(s => obj("sku" -> q(s), "qty" -> q("100")))
      obj("products" -> obj("Response" -> arr(products)),
        "pricelist" -> obj("Response" -> obj("currency" -> q("GBP"), "price" -> arr(prices))),
        "printdata" -> obj("Response" -> obj("printing_technique_descriptions" -> arr(descs),
          "products" -> arr(printProducts))),
        "printpricelist" -> obj("Response" -> obj("print_techniques" -> arr(printPrices))),
        "stock" -> obj("Response" -> obj("stock" -> arr(stock))))
    }
    def readDoc(spark: SparkSession, path: String): DataFrame = MidOcean.readFeed(spark, path).doc
    def unified(doc: DataFrame): DataFrame = MidOcean.unified(MidOcean.Feed(doc))
  }

  val all: Seq[Shape] = Seq(RalawiseShape, LaltexShape, MidOceanShape)

  /** Σ over variants of the first price in pence — the column the
    * price checksum reads back from the unified table. */
  val priceCents: Column = aggregate(col("variants"), lit(0L), (acc, v) =>
    acc + coalesce(round(try_element_at(v.getField("prices"), lit(1)).getField("value") * 100)
      .cast("long"), lit(0L)))
}

/** The seeded model of one supplier's catalog: what the feeds say and
  * therefore what the table must hold after a sync. */
final class Catalog(val shape: Shape, rnd: Random) {
  private val products = mutable.LinkedHashMap.empty[String, Product]
  private var nextCode = 0

  private def newProduct(): Product = {
    nextCode += 1
    val code = f"${shape.codePrefix}$nextCode%05d"
    val n = 2 + rnd.nextInt(3)
    val skus = (0 until n).map(i => s"$code-$i").toVector
    val base = 150L + rnd.nextInt(4850)
    val cents =
      if (shape.perProductPrice) Vector.fill(n)(base)
      else Vector.tabulate(n)(i => base + 25L * i)
    Product(code, s"${Catalog.adjectives(rnd.nextInt(Catalog.adjectives.size))} " +
      s"${Catalog.nouns(rnd.nextInt(Catalog.nouns.size))} $code",
      Catalog.categories(rnd.nextInt(Catalog.categories.size)), rnd.nextDouble() < 0.6, skus, cents)
  }

  private def repriced(p: Product): Product = {
    val factor = 0.8 + 0.4 * rnd.nextDouble()
    val cents = p.cents.map(c => math.max(50L, math.round(c * factor)))
    p.copy(cents = if (shape.perProductPrice) Vector.fill(cents.size)(cents.head) else cents)
  }

  def add(n: Int): Seq[Product] = (0 until n).map { _ =>
    val p = newProduct(); products(p.code) = p; p
  }

  def all: Seq[Product] = products.values.toSeq
  def size: Int = products.size

  /** Reprice a share of the catalog and add a few new products (one
    * full-feed round). Returns the changed and new products. */
  def evolve(changeFrac: Double, newFrac: Double): Seq[Product] = {
    val codes = products.keys.toVector
    val changed = rnd.shuffle(codes).take(math.max(1, (codes.size * changeFrac).round.toInt))
      .map { c => val p = repriced(products(c)); products(c) = p; p }
    changed ++ add(math.max(1, (codes.size * newFrac).round.toInt))
  }

  /** Reprice `k` existing products (a delta feed's content). */
  def delta(k: Int): Seq[Product] =
    rnd.shuffle(products.keys.toVector).take(k).map { c =>
      val p = repriced(products(c)); products(c) = p; p
    }

  def snapshot: Map[String, Long] = products.values.map(p => shape.productId(p) -> p.priceCents).toMap
}

object Catalog {
  val adjectives: Vector[String] = Vector("classic", "premium", "eco", "heavy", "slim", "organic",
    "urban", "retro", "sport", "deluxe", "compact", "soft", "bold", "basic", "vivid", "travel")
  val nouns: Vector[String] = Vector("tote", "mug", "pen", "hoodie", "tee", "cap", "bottle",
    "notebook", "umbrella", "lanyard", "backpack", "jacket", "polo", "towel", "speaker", "charger",
    "apron", "beanie", "keyring", "tumbler", "blanket", "scarf", "socks", "vest", "shirt", "bag",
    "case", "lamp", "clock", "ruler", "stylus", "wallet", "flask", "glove", "badge", "mousemat")
  val categories: Vector[String] = Vector("Bags", "Drinkware", "Writing", "Apparel", "Headwear",
    "Outdoor", "Office", "Tech", "Home", "Leisure", "Wellness", "Travel")
}
