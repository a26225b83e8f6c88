package graft

import graft.functions.Parsers

/** F1–F19 scalar parser semantics, incl. the SURVEY §7.4 risk cases:
  * comma decimals vs dot thousands separators, the 2099-12-31
  * sentinel, "N/A", and totality (garbage → null, never throw). */
class ParsersSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, input: String): Any =
    Seq(Option(input)).toDF("s").select(c.as("r")).collect()(0).get(0)

  test("F1 comma-decimal float: '3,63' -> 3.63, '1.5' -> 1.5, garbage -> null") {
    assert(one(Parsers.parseFloatComma($"s"), "3,63") == 3.63)
    assert(one(Parsers.parseFloatComma($"s"), "1.5") == 1.5)
    assert(one(Parsers.parseFloatComma($"s"), "abc") == null)
    assert(one(Parsers.parseFloatComma($"s"), null) == null)
  }

  test("F2 thousands-separator int: '1.000' -> 1000, '2,500' -> 2500, garbage -> null") {
    assert(one(Parsers.parseIntSeparators($"s"), "1.000") == 1000)
    assert(one(Parsers.parseIntSeparators($"s"), "2,500") == 2500)
    assert(one(Parsers.parseIntSeparators($"s"), "50") == 50)
    assert(one(Parsers.parseIntSeparators($"s"), "x") == null)
  }

  test("F1/F2 divergence: '1,79' is 1.79 as float but 179 as int-with-separators") {
    assert(one(Parsers.parseFloatComma($"s"), "1,79") == 1.79)
    assert(one(Parsers.parseIntSeparators($"s"), "1,79") == 179)
  }

  test("F3 currency strip: '£0.42' -> 0.42, 'N/A' -> null") {
    assert(one(Parsers.parseCurrency($"s"), "£0.42") == 0.42)
    assert(one(Parsers.parseCurrency($"s"), "€1,200.50") == 1200.5)
    assert(one(Parsers.parseCurrency($"s"), "N/A") == null)
  }

  test("F4 ISO date: valid parses, invalid -> null") {
    assert(one(Parsers.parseIsoDate($"s"), "2026-01-31").toString == "2026-01-31")
    assert(one(Parsers.parseIsoDate($"s"), "31/01/2026") == null)
    assert(one(Parsers.parseIsoDate($"s"), "") == null)
  }

  test("F6 yes/no flag is case-insensitive") {
    assert(one(Parsers.yesNoFlag($"s"), "yes") == true)
    assert(one(Parsers.yesNoFlag($"s"), "Yes") == true)
    assert(one(Parsers.yesNoFlag($"s"), "no") == false)
  }

  test("F7 snake -> Title") {
    assert(one(Parsers.snakeToTitle($"s"), "item_picture_front") == "Item Picture Front")
  }

  test("F8 namespaced key") {
    assert(one(Parsers.namespacedKey("midocean_", $"s"), "AR1249") == "midocean_AR1249")
  }

  test("F9 code lookup: known maps, unknown -> null") {
    val m = Map("L3" -> "laser_engraving", "PD4" -> "digital_print")
    assert(one(Parsers.codeLookup(m)($"s"), "L3") == "laser_engraving")
    assert(one(Parsers.codeLookup(m)($"s"), "ZZ") == null)
  }

  test("F17 dims: compact mm, spaced cm, comma decimals + uppercase X") {
    val r1 = Seq("190x80x2mm").toDF("s").select(Parsers.parseDims($"s").as("d"))
      .select("d.length", "d.width", "d.height", "d.unit").collect()(0)
    assert(r1.getDouble(0) == 190 && r1.getDouble(1) == 80 && r1.getDouble(2) == 2 && r1.getString(3) == "mm")
    val r2 = Seq("42 x 37 x 55 cm").toDF("s").select(Parsers.parseDims($"s").as("d"))
      .select("d.length", "d.unit").collect()(0)
    assert(r2.getDouble(0) == 42 && r2.getString(1) == "cm")
    val r3 = Seq("10,5X8X2 CM").toDF("s").select(Parsers.parseDims($"s").as("d"))
      .select("d.length", "d.unit").collect()(0)
    assert(r3.getDouble(0) == 10.5 && r3.getString(1) == "cm")
  }

  test("F17b weight: '9.000 kg' keeps kg; bare number has null unit") {
    val r = Seq("9.000 kg").toDF("s").select(Parsers.parseWeight($"s").as("w"))
      .select("w.value", "w.unit").collect()(0)
    assert(r.getDouble(0) == 9.0 && r.getString(1) == "kg")
    val r2 = Seq("140").toDF("s").select(Parsers.parseWeight($"s").as("w"))
      .select("w.value", "w.unit").collect()(0)
    assert(r2.getDouble(0) == 140.0 && r2.isNullAt(1))
  }

  test("F18 keyword split trims and drops empties") {
    val r = Seq("health,wellbeing, sleep , ,travel").toDF("s")
      .select(Parsers.splitKeywords($"s").as("k")).collect()(0).getSeq[String](0)
    assert(r == Seq("health", "wellbeing", "sleep", "travel"))
  }

  test("F19 singleton-map list merges to one map") {
    val df = spark.sql("SELECT array(map('cs','Razba'), map('da','Praegning')) AS m")
    val r = df.select(Parsers.mergeSingletonMaps($"m").as("x")).collect()(0).getMap[String, String](0)
    assert(r == Map("cs" -> "Razba", "da" -> "Praegning"))
  }

  test("P7 status: sentinel 2099-12-31 stays active; real date or PLC text discontinues") {
    val df = Seq(
      ("2099-12-31", "COLLECTION"),
      ("2020-05-01", "COLLECTION"),
      ("2099-12-31", "PRODUCT DISCONTINUED"),
      (null, "to be discontinued"),
      (null, null)).toDF("d", "plc")
    val r = df.select(Parsers.deriveStatus($"d", $"plc").as("s")).collect().map(_.getString(0))
    assert(r.toSeq == Seq("active", "discontinued", "discontinued", "discontinued", "active"))
  }

  test("P9 struct collapses to null when all components are null") {
    val df = Seq((Some(1.0), None: Option[Double]), (None, None)).toDF("a", "b")
    val s = Parsers.structOrNull(Seq("a" -> $"a", "b" -> $"b"))
    val r = df.select(s.isNull.as("n")).collect().map(_.getBoolean(0))
    assert(r.toSeq == Seq(false, true))
  }

  test("parsers are total on arbitrary strings (never throw)") {
    val gen = new scala.util.Random(42)
    val junk = (1 to 200).map(_ => gen.nextString(gen.nextInt(12))) ++
      Seq("", " ", ",", ".", "..", "-", "1,2,3", "£", "NaN", "Infinity", "1e999")
    val df = junk.toDF("s")
    // Evaluating all parsers over junk must not throw.
    df.select(
      Parsers.parseFloatComma($"s"), Parsers.parseIntSeparators($"s"),
      Parsers.parseCurrency($"s"), Parsers.parseIsoDate($"s"),
      Parsers.yesNoFlag($"s"), Parsers.snakeToTitle($"s"),
      Parsers.parseDims($"s"), Parsers.parseWeight($"s"),
      Parsers.splitKeywords($"s")).collect()
  }
}
