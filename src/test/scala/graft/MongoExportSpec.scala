package graft

import graft.sinks.MongoExport

class MongoExportSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("K8: timestamps serialize ISO-8601 recursively — struct, array-of-struct, map") {
    val df = Seq((
      "p1",
      ts("2026-03-01 10:30:00"),
      ("rev1", ts("2026-03-02 08:00:00")),
      Seq(("e1", ts("2026-03-03 23:59:59"))),
      Map("checked_at" -> ts("2026-03-04 12:00:00"))))
      .toDF("key", "updated_at", "revision", "events", "audit")
    val line = MongoExport.mongoJson(df, "key").head()
    assert(line.startsWith("""{"_id":"p1""""), line)
    // Every nesting depth got the ISO treatment, no epoch numbers.
    assert(line.contains(""""updated_at":"2026-03-01T10:30:00Z""""), line)
    assert(line.contains(""""2026-03-02T08:00:00Z""""), line)
    assert(line.contains(""""2026-03-03T23:59:59Z""""), line)
    assert(line.contains(""""checked_at":"2026-03-04T12:00:00Z""""), line)
  }

  test("null fields are omitted and the export round-trips through a JSON reader") {
    val df = Seq(
      ("a", Some(5), Some(ts("2026-01-01 00:00:00"))),
      ("b", None: Option[Int], None: Option[java.sql.Timestamp]))
      .toDF("key", "qty", "modified_at")
    val lines = MongoExport.mongoJson(df, "key").collect().sorted
    assert(lines(1) == """{"_id":"b"}""", "null fields must be absent, not null literals")
    val back = spark.read.json(MongoExport.mongoJson(df, "key"))
    assert(back.count() == 2 &&
      back.columns.toSet == Set("_id", "qty", "modified_at"))
  }

  test("null _id fails the task; null omission holds regardless of session conf") {
    val df = Seq((Option("a"), 1), (None: Option[String], 2)).toDF("key", "v")
    val e = intercept[Exception] {
      MongoExport.mongoJson(df, "key").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("null key")),
      s"null _id must fail loudly, got: ${msgs(e).mkString(" | ")}")
    // The omission contract is pinned by option, not inherited from
    // the session's jsonGenerator conf.
    val prev = spark.conf.getOption("spark.sql.jsonGenerator.ignoreNullFields")
    spark.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    try {
      val line = MongoExport.mongoJson(
        Seq(("x", None: Option[Int])).toDF("key", "qty"), "key").head()
      assert(line == """{"_id":"x"}""", s"null field leaked: $line")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.jsonGenerator.ignoreNullFields", v)
      case None => spark.conf.unset("spark.sql.jsonGenerator.ignoreNullFields")
    }
  }

  test("export writes mongoimport-consumable text partitions") {
    val dir = java.nio.file.Files.createTempDirectory("mongo_export").toString
    val df = Seq(("x", 1), ("y", 2)).toDF("key", "v")
    MongoExport.`export`(df, "key", s"$dir/out")
    val back = spark.read.text(s"$dir/out").as[String].collect().sorted
    assert(back.toSeq == Seq("""{"_id":"x","v":1}""", """{"_id":"y","v":2}"""))
    intercept[IllegalArgumentException] {
      MongoExport.mongoJson(df, "nope")
    }
  }

  test("exportStream lands each micro-batch as its own mongoimport directory") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mongo_stream").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Int)]
    val q = MongoExport.exportStream(
      input.toDF().toDF("key", "v"), "key", s"$dir/out", s"$dir/ckpt").start()
    try {
      input.addData(Seq(("a", 1), ("b", 2))); q.processAllAvailable()
      input.addData(Seq(("a", 3))); q.processAllAvailable()
    } finally q.stop()
    val b0 = spark.read.text(s"$dir/out/batch_0").as[String].collect().sorted
    val b1 = spark.read.text(s"$dir/out/batch_1").as[String].collect().sorted
    assert(b0.toSeq == Seq("""{"_id":"a","v":1}""", """{"_id":"b","v":2}"""))
    // Importing batch dirs in order replays the stream: the later
    // upsert document for "a" sits in the later directory.
    assert(b1.toSeq == Seq("""{"_id":"a","v":3}"""))
  }
}
