package graft

import java.nio.file.{Files, Path, Paths}

import graft.pipeline.Registry

/** Golden parity for the nine supplier pipelines. Each supplier reads
  * one small capture under `src/test/resources/golden/` — a product
  * with every contract field populated and a product with only its key
  * fields — and its `unified` frame must match the recorded schema
  * (`<id>.schema.txt`, the `catalogString`) and rows (`<id>.rows.jsonl`,
  * sorted by `product_id`, one `toJSON` line each). The goldens pin the
  * transform's output exactly, so any refactor of a supplier must leave
  * both files byte-identical. The Sanmar capture is a directory of two
  * single-product documents: a PromoStandards `GetProduct` response
  * holds one product. */
class SupplierGoldenSpec extends SparkSpec {

  private val dir: Path = Paths.get(getClass.getResource("/golden").toURI)

  private val captures = Seq(
    "keramikos" -> "keramikos.jsonc",
    "laltex" -> "laltex.jsonc",
    "midocean" -> "midocean.jsonc",
    "pfconcept" -> "pfconcept.jsonc",
    "preseli" -> "preseli.jsonc",
    "ralawise" -> "ralawise.jsonc",
    "ss_activewear" -> "sands.jsonc",
    "sanmar" -> "sanmar",
    "xd" -> "xd.jsonc")

  private def lines(name: String): Seq[String] =
    Files.readString(dir.resolve(name)).linesIterator.toSeq

  for ((id, capture) <- captures) test(s"$id: unified schema and rows match the golden") {
    val df = Registry.all(id).unified(spark, dir.resolve(capture).toString)
    assert(df.schema.catalogString == lines(s"$id.schema.txt").mkString)
    val got = df.orderBy("product_id").toJSON.collect().toSeq
    val want = lines(s"$id.rows.jsonl")
    assert(got.size == want.size, s"$id: ${got.size} rows, golden has ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"$id row $i differs from the golden")
    }
  }
}
