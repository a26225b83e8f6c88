package graft

import graft.functions.Vectors

/** The codegen kernels must agree bit-for-bit with the HOF reference
  * formulation (same sequential double accumulation), including null /
  * zero-vector / length-mismatch edges. */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot / graft_cosine are callable from pure SQL") {
    GraftExtensions.register(spark)
    Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)), (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val rows = spark.sql(
      "SELECT round(graft_dot(a, b), 6) AS d, round(graft_cosine(a, b), 6) AS c FROM vecs")
      .as[(Double, Double)].collect().toSeq
    assert(rows == Seq((1.0, 1.0), (0.0, 0.0)))
    val err = intercept[Exception](spark.sql("SELECT graft_dot(array(1.0))").collect())
    assert(err.getMessage.contains("2 arguments") || err.getMessage.contains("graft_dot"))
  }

  test("graft_canonical_url / graft_domain are callable from pure SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_canonical_url('HTTP://WWW.E.com:80/p?utm_source=x&b=2&a=1#f') AS c,
               graft_domain('https://Sub.E.com:8443/x') AS d""")
      .as[(String, String)].collect()(0)
    assert(r == ("http://e.com/p?a=1&b=2", "sub.e.com"))
  }

  test("deflate_ratio orders template < prose < noise; edges; codegen = interpreted") {
    import graft.functions.TextAnalysis
    val rnd = new scala.util.Random(11)
    val template = "buy now click here free offer " * 50
    val prose = "The quick brown fox jumps over the lazy dog while the " +
      "patient heron waits by the river for a careless minnow to pass " +
      "beneath the rippled surface of the morning water. " * 3
    val noise = rnd.alphanumeric.take(1500).mkString
    val rows = Seq(("t", template), ("p", prose), ("n", noise), ("e", ""))
      .toDF("k", "text")
      .select($"k", TextAnalysis.compressionRatio($"text").as("r"))
      .as[(String, Double)].collect().toMap
    assert(rows("t") < 0.15, s"template ratio ${rows("t")}")
    assert(rows("t") < rows("p") && rows("p") < rows("n"),
      s"ordering violated: $rows")
    assert(rows("n") > 0.5, s"noise ratio ${rows("n")}")
    assert(rows("e") == 1.0)
    // Null propagates; SQL registration reaches the same kernel.
    GraftExtensions.register(spark)
    val viaSql = spark.sql(s"SELECT graft_deflate_ratio(NULL) AS a, " +
      s"graft_deflate_ratio('${template.trim}') AS b").collect()(0)
    assert(viaSql.isNullAt(0))
    // Interpreted eval (no codegen) must agree exactly.
    import org.apache.spark.sql.catalyst.expressions.Literal
    val interp = graft.expressions.DeflateRatio(Literal(template))
      .eval(null).asInstanceOf[Double]
    val codegen = Seq(template).toDF("t")
      .select(TextAnalysis.compressionRatio($"t")).as[Double].collect()(0)
    assert(interp == codegen)
  }

  test("luhn_valid: known cards, spacing, rejections, SQL surface, codegen = interpreted") {
    val rows = Seq(
      ("visa", "4111111111111111"),        // canonical valid test number
      ("spaced", "4111 1111 1111 1111"),   // separators skipped in place
      ("dashed", "5500-0000-0000-0004"),   // valid mastercard test number
      ("off_by_one", "4111111111111112"),  // checksum fails
      ("short", "7"),                      // < 2 digits -> false, not null
      ("no_digits", "no card here"))
      .toDF("k", "s")
      .select($"k", graft.expressions.LuhnValid.column($"s").as("v"))
      .as[(String, Boolean)].collect().toMap
    assert(rows("visa") && rows("spaced") && rows("dashed"))
    assert(!rows("off_by_one") && !rows("short") && !rows("no_digits"))
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_luhn_valid('4111111111111111') AS a, graft_luhn_valid(NULL) AS b")
      .collect()(0)
    assert(viaSql.getBoolean(0) && viaSql.isNullAt(1))
    import org.apache.spark.sql.catalyst.expressions.Literal
    for (s <- Seq("4111111111111111", "4111111111111112", "x")) {
      val interp = graft.expressions.LuhnValid(Literal(s)).eval(null)
      val codegen = Seq(s).toDF("t")
        .select(graft.expressions.LuhnValid.column($"t")).collect()(0).getBoolean(0)
      assert(interp == codegen, s"codegen/interpreted disagree on '$s'")
    }
  }

  test("luhn_valid agrees with an independent left-to-right formulation on random inputs") {
    import org.apache.spark.unsafe.types.UTF8String
    // Reference implementation written the OTHER way round (left to
    // right with explicit parity), plus the check-digit identity:
    // appending the digit that completes the sum always validates.
    def refLuhn(s: String): Boolean = {
      val ds = s.filter(_.isDigit).map(_ - '0')
      if (ds.length < 2) return false
      val total = ds.reverse.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      total % 10 == 0
    }
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val n = 2 + rnd.nextInt(24)
      val s = (1 to n).map { _ =>
        val r = rnd.nextInt(12)
        if (r < 10) ('0' + r).toChar else if (r == 10) ' ' else '-'
      }.mkString
      assert(graft.expressions.LuhnValid.valid(UTF8String.fromString(s)) == refLuhn(s),
        s"disagreement on '$s'")
    }
    // Check-digit identity: for any digit prefix, exactly one final
    // digit validates.
    for (_ <- 1 to 100) {
      val prefix = (1 to 11 + rnd.nextInt(7)).map(_ => ('0' + rnd.nextInt(10)).toChar).mkString
      val valids = (0 to 9).count(d =>
        graft.expressions.LuhnValid.valid(UTF8String.fromString(prefix + d)))
      assert(valids == 1, s"prefix '$prefix' had $valids valid check digits")
    }
  }

  test("redactCreditCards replaces only Luhn-valid runs, leaves lookalikes") {
    import graft.functions.TextAnalysis
    val got = Seq(
      ("pay 4111 1111 1111 1111 today", "pay <CC> today"),
      ("order 4111111111111112 shipped", "order 4111111111111112 shipped"),
      ("cards 4111111111111111 and 5500-0000-0000-0004", "cards <CC> and <CC>"),
      // A valid card's characters EMBEDDED in a longer invalid run:
      // the positional matcher consumed the 17-digit run whole, so
      // the order-id must survive byte-for-byte while the standalone
      // card still redacts (a replace-by-value fold corrupts this).
      ("pay 4111111111111111 ref 94111111111111111",
        "pay <CC> ref 94111111111111111"),
      ("no digits at all", "no digits at all"))
      .toDF("t", "want")
      .select(TextAnalysis.redactCreditCards($"t").as("got"), $"want")
      .as[(String, String)].collect()
    got.foreach { case (g, w) => assert(g == w, s"got '$g' want '$w'") }
    // SQL surface reaches the same kernel.
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT graft_redact_cards('x 4111111111111111 y') AS r")
      .collect()(0).getString(0) == "x <CC> y")
  }
}

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("codegen dot and cosine equal the HOF formulation on random float vectors") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f), Array.fill(64)(rnd.nextFloat() - 0.5f))
    }
    val df = rows.toDF("id", "a", "b")
    val diff = df.select(
      (Vectors.dot($"a", $"b") === Vectors.dotHof($"a", $"b")).as("dotEq"),
      (Vectors.cosine($"a", $"b") === Vectors.cosineHof($"a", $"b")).as("cosEq"))
      .filter(!$"dotEq" || !$"cosEq").count()
    assert(diff == 0)
  }

  test("null / zero-vector / length-mismatch edges") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),       // normal
      (2L, Array(0.0f, 0.0f), Array(1.0f, 1.0f)),       // zero norm -> cosine null
      (3L, Array(1.0f), Array(1.0f, 2.0f)),             // length mismatch -> null
      (4L, null.asInstanceOf[Array[Float]], Array(1.0f)) // null input -> null
    ).toDF("id", "a", "b")
    val r = df.select($"id", Vectors.dot($"a", $"b").as("d"), Vectors.cosine($"a", $"b").as("c"))
      .orderBy($"id").collect()
    assert(r(0).getDouble(1) == 11.0 && !r(0).isNullAt(2))
    assert(r(1).getDouble(1) == 0.0 && r(1).isNullAt(2))
    assert(r(2).isNullAt(1) && r(2).isNullAt(2))
    assert(r(3).isNullAt(1) && r(3).isNullAt(2))
  }

  test("int8 family + quality/repetition are callable from pure SQL") {
    val r = spark.sql("""
      WITH v AS (SELECT array(0.5F, -1.0F, 0.25F) AS vec),
      s AS (SELECT vec, graft_int8_scale(vec) AS sc FROM v),
      c AS (SELECT graft_int8_codes(vec, sc) AS codes FROM s)
      SELECT graft_dot_int8(codes, codes) AS selfdot FROM c""").collect()(0)
    // codes (64, -127, 32): 64² + 127² + 32² = 4096 + 16129 + 1024.
    assert(r.getLong(0) == 4096L + 16129L + 1024L)
    val q = spark.sql(
      """SELECT graft_quality_logit('the cat sat on the mat and that is that') AS l,
               graft_repetition('a
a
b').dup_line_frac AS f""").collect()(0)
    assert(!q.isNullAt(0))
    assert(math.abs(q.getDouble(1) - 1.0 / 3) < 1e-3)
  }

  test("interpreted eval path (outside codegen) agrees too") {
    // Force the interpreted path by evaluating inside a literal-only context.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.expressions.{CosineSimilarity, DotProduct}
    val a = Literal.create(Array(1.0, 2.0, 3.0), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val b = Literal.create(Array(4.0, 5.0, 6.0), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    assert(DotProduct(a, b).eval(null) == 32.0)
    val c = CosineSimilarity(a, b).eval(null).asInstanceOf[Double]
    assert(math.abs(c - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-15)
  }
}
