package graft

import org.scalacheck.Gen
import graft.functions.Parsers

/** ScalaCheck-generated round-trip properties for the locale-aware
  * parsers (SURVEY §7.4 risk 3: comma decimals vs thousands
  * separators). Data is generated with Gen and evaluated through the
  * real Spark expressions in one batch per property. */
class ParserPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[List[A]]): List[A] =
    Iterator.continually(g.sample).flatten.next()

  test("F1 property: comma-decimal rendering of any double round-trips") {
    val values = sample(Gen.listOfN(300, Gen.chooseNum(-1000000.0, 1000000.0)))
      .map(v => math.rint(v * 100) / 100) // 2dp, exactly representable intent
    val rendered = values.map(v => f"$v%.2f".replace(".", ","))
    val parsed = rendered.toDF("s")
      .select(Parsers.parseFloatComma($"s")).as[Option[Double]].collect()
    parsed.zip(values).foreach { case (got, want) =>
      assert(got.exists(g => math.abs(g - want) < 1e-9), s"$want -> $got")
    }
  }

  test("F2 property: dot/comma-grouped rendering of any int round-trips") {
    val values = sample(Gen.listOfN(300, Gen.chooseNum(0, 2000000000)))
    def group(n: Int, sep: String): String =
      n.toString.reverse.grouped(3).mkString(sep.reverse).reverse
    val rendered = values.zipWithIndex.map { case (v, i) =>
      group(v, if (i % 2 == 0) "." else ",") }
    val parsed = rendered.toDF("s")
      .select(Parsers.parseIntSeparators($"s")).as[Option[Int]].collect()
    parsed.zip(values).foreach { case (got, want) =>
      assert(got.contains(want), s"$want -> $got")
    }
  }

  test("F6 property: yes/no flag is exactly case-insensitive 'yes'") {
    val words = sample(Gen.listOfN(200, Gen.oneOf(
      Gen.oneOf("yes", "YES", "Yes", "yEs"), Gen.alphaStr.map(_.take(8)))))
    val parsed = words.toDF("s").select(Parsers.yesNoFlag($"s")).as[Boolean].collect()
    parsed.zip(words).foreach { case (got, w) =>
      assert(got == w.equalsIgnoreCase("yes"), s"'$w' -> $got")
    }
  }

  test("K1 property: merge is a last-writer-wins map regardless of batch split") {
    val n = 60
    val updates = sample(Gen.listOfN(n, Gen.zip(Gen.chooseNum(1, 10), Gen.chooseNum(1, 1000))))
      .zipWithIndex.map { case ((k, v), i) => (k.toLong, v, i.toLong) } // (key, payload, version)
    // Expected: highest version per key.
    val want = updates.groupBy(_._1).view.mapValues(_.maxBy(_._3)).toMap
    // Apply in two arbitrary chunks through the real operator.
    val (b1, b2) = updates.splitAt(n / 3)
    val empty = Seq.empty[(Long, Int, Long)].toDF("k", "v", "ver")
    val once = graft.operators.Upsert.merge(
      graft.operators.Upsert.merge(empty, b1.toDF("k", "v", "ver"), "k", "ver"),
      b2.toDF("k", "v", "ver"), "k", "ver")
    val got = once.as[(Long, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, (_, _, ver)) => assert(got(k)._3 == ver, s"key $k") }
  }

  test("partition-value property: composite encode/decode round-trips arbitrary components") {
    import graft.sinks.SnapshotStore
    // Components drawn from a hostile alphabet: the escapes ('%', '/'),
    // Hive-escaped path characters (':', '=', ' ', '#'), unicode, and
    // empty-adjacent shapes.
    val component: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('%', '/', ':', '=', ' ', '#', '.', '+'),
      Gen.oneOf('\u00e9', '\u4e2d'))).map(_.mkString).filter(_.nonEmpty)
    val tuples = sample(Gen.listOfN(200,
      Gen.chooseNum(2, 4).flatMap(k => Gen.listOfN(k, component))))
    tuples.foreach { comps =>
      val enc = SnapshotStore.encodePartValue(comps)
      val dec = SnapshotStore.decodePartValue(enc, comps.size)
      assert(dec == comps, s"$comps -> $enc -> $dec")
    }
    // Single-column values stay RAW (byte-identical to every manifest
    // ever written), whatever they contain.
    sample(Gen.listOfN(50, component)).foreach { v =>
      assert(SnapshotStore.encodePartValue(Seq(v)) == v)
      assert(SnapshotStore.decodePartValue(v, 1) == Seq(v))
    }
  }
}
