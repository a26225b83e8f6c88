package graft

import org.apache.spark.sql.functions._

import graft.schema.Unified

/** The unified-row builder: what an unmapped field holds, and that a
  * name outside the schema fails when the plan is built. */
class UnifiedFillSpec extends SparkSpec {

  test("a field name that is not in the schema throws") {
    val e = intercept[IllegalArgumentException](
      Unified.struct(Unified.priceSchema, "value" -> lit(1.0), "curency" -> lit("GBP")))
    assert(e.getMessage.contains("curency"), e.getMessage)
    intercept[IllegalArgumentException](
      Unified.fill(Unified.schema, "product_id" -> lit("p"), "product_id" -> lit("q")))
  }

  test("an absent array field is empty; an absent struct, map or scalar is null") {
    val row = spark.range(1).select(Unified.struct(Unified.variantSchema,
      "sku" -> lit("s1"), "status" -> lit("active")).as("v")).select("v.*").head()
    assert(row.getAs[String]("sku") == "s1" && row.getAs[String]("status") == "active")
    assert(row.getSeq[Any](row.fieldIndex("prices")).isEmpty)
    assert(row.getSeq[Any](row.fieldIndex("images")).isEmpty)
    Seq("color", "dimensions", "stock", "variant_id", "gtin").foreach(f =>
      assert(row.isNullAt(row.fieldIndex(f)), f))
    val opt = spark.range(1).select(Unified.struct(Unified.printOptionSchema).as("o"))
      .select("o.technique_names", "o.max_colors", "o.prices").head()
    assert(opt.isNullAt(0) && opt.isNullAt(1) && opt.getSeq[Any](2).isEmpty)
  }

  test("a product built from product_id alone has the unified schema") {
    val df = spark.range(1).select(Unified.fill(Unified.schema, "product_id" -> lit("p1")): _*)
    assert(df.schema.catalogString == Unified.schema.catalogString)
    val row = df.head()
    assert(row.getString(0) == "p1")
    assert(row.isNullAt(row.fieldIndex("supplier")) && row.isNullAt(row.fieldIndex("status")))
    assert(row.getSeq[Any](row.fieldIndex("variants")).isEmpty)
  }
}
