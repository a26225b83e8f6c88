package graft

import graft.operators.TfIdf

class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "apple banana apple"),
    (2L, "apple cherry"),
    (3L, "banana durian unique")).toDF("doc_id", "text")

  test("docRarity ranks rare-vocabulary docs above boilerplate-heavy ones") {
    val r = TfIdf.docRarity(docs, $"text", $"doc_id")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // d3 carries two corpus-unique terms, d2 one, d1 none.
    assert(r(3L) > r(2L) && r(2L) > r(1L), r.toString)
    // Spot value: d1 = tf-weighted idf of {apple 2/3, banana 1/3},
    // both df=2 -> idf = ln(4/3)+1 everywhere.
    assert(math.abs(r(1L) - (math.log(4.0 / 3) + 1)) < 1e-4)
  }

  test("topRareTerms surfaces the highest-idf terms, lexicographic on ties") {
    val r = TfIdf.topRareTerms(docs, $"text", $"doc_id", k = 2)
      .collect().map(x => x.getLong(0) -> x.getSeq[String](1)).toMap
    assert(r(3L) == Seq("durian", "unique")) // tied idf, lexicographic
    assert(r(2L).head == "cherry")
  }

  test("bm25 scores by query-term relevance with length normalization") {
    val corpus = Seq(
      (1L, "spark engine spark shuffle spark"),  // tf(spark)=3, short
      (2L, "spark overview"),                     // tf(spark)=1, short
      (3L, "spark " + Seq.fill(50)("padding word").mkString(" ")), // long
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val r = TfIdf.bm25(corpus, $"text", $"doc_id", Seq("spark"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // Doc without any query term: no row at all.
    assert(!r.contains(4L), r.toString)
    // Higher tf wins; equal tf, the shorter doc wins (b-normalization).
    assert(r(1L) > r(2L) && r(2L) > r(3L), r.toString)
    // Hand check doc 2: N=4, df=3, dl=2, avgdl = (5+2+101+3)/4.
    val idf = math.floor(math.log(1.0 + (4 - 3 + 0.5) / 3.5) * 1e6 + 0.5) / 1e6
    val avgdl = 111.0 / 4
    val tfn = (1 * 2.5) / (1 + 1.5 * (0.25 + 0.75 * 2 / avgdl))
    val expect = math.floor(idf * tfn * 1e6 + 0.5) / 1e6
    assert(math.abs(r(2L) - expect) < 1e-9, s"got ${r(2L)}, want $expect")
  }

  test("bm25 multi-term query sums per-term addends; case-folds terms") {
    val corpus = Seq(
      (1L, "alpha beta"), (2L, "alpha"), (3L, "beta beta")
    ).toDF("doc_id", "text")
    val both = TfIdf.bm25(corpus, $"text", $"doc_id", Seq("Alpha", "BETA"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val alpha = TfIdf.bm25(corpus, $"text", $"doc_id", Seq("alpha"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(both.keySet == Set(1L, 2L, 3L))
    // Doc 1 scores strictly above its alpha-only score (beta adds).
    assert(both(1L) > alpha(1L))
  }
}
