package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Seq(
    (1L, "s3://m/1.jpg", "image", "same-bytes".getBytes("UTF-8")),
    (2L, "s3://m/2.jpg", "image", "same-bytes".getBytes("UTF-8")),   // exact dup of 1
    (3L, "s3://m/3.jpg", "image", "other-bytes".getBytes("UTF-8")),
    (4L, "s3://m/4.mp4", "video", "video-bytes".getBytes("UTF-8")))
    .toDF("media_id", "uri", "media_type", "content")

  test("binary exact-dup groups by content hash") {
    val dups = Multimodal.exactDupGroups(media, $"content", $"media_id")
      .filter($"n_dups" > 1).collect()
    assert(dups.length == 1 && dups(0).getLong(2) == 1L)
  }

  test("batched decode produces deterministic metadata per content") {
    val meta = Multimodal.decodeMeta(media).collect().map(m => m.media_id -> m).toMap
    assert(meta(1L).width == meta(2L).width && meta(1L).height == meta(2L).height)
    assert(meta(1L).n_bytes == "same-bytes".getBytes("UTF-8").length)
    assert(meta(3L).width != meta(1L).width || meta(3L).height != meta(1L).height)
  }

  test("feature extraction feeds the similarity operators end-to-end") {
    // Real pixel featurizer: two visually-identical images in
    // DIFFERENT containers (PNG vs BMP of the same flat color) must
    // land on the same histogram embedding; a different color must
    // not pair; text bytes must yield a null embedding, not a crash.
    val imgs = Seq(
      (1L, Multimodal.ImageCodec.encode(16, 16, 0x2244CC, "png")),
      (2L, Multimodal.ImageCodec.encode(24, 8, 0x2244CC, "bmp")), // same color, other size/format
      (3L, Multimodal.ImageCodec.encode(16, 16, 0xCC8822, "png")), // different color
      (4L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "content")
    val feats = Multimodal.extractFeatures(imgs, bins = 4).toDF()
    assert(feats.filter($"embedding".isNull)
      .select("media_id").as[Long].collect().toSeq == Seq(4L))
    val vecs = feats.filter($"embedding".isNotNull)
      .withColumnRenamed("media_id", "id").withColumnRenamed("embedding", "vec")
    val pairs = graft.operators.Similarity
      .nearDupPairs(vecs, "id", "vec", threshold = 0.999, bucketed = false)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("pixelFeatures: histogram is normalized, deterministic, and size-guarded") {
    val flat = Multimodal.ImageCodec.encode(10, 10, 0xFF0000, "png") // pure red
    val Some(v) = Multimodal.ImageCodec.pixelFeatures(flat, bins = 4)
    assert(v.length == 64)
    assert(math.abs(v.sum - 1.0f) < 1e-5, "histogram must normalize to 1")
    // Pure red = max r-bin, min g/b bins -> index (3*4 + 0)*4 + 0 = 48.
    assert(v(48) == 1.0f, s"expected one-hot at 48, got ${v.indexWhere(_ > 0)}")
    assert(Multimodal.ImageCodec.pixelFeatures(flat, bins = 4).get.toSeq == v.toSeq)
    // Oversized guard: a 100x100 image with maxPixels 50 refuses to
    // rasterize (the header IS readable -- decode stays bounded).
    val big = Multimodal.ImageCodec.encode(100, 100, 0x123456, "png")
    assert(Multimodal.ImageCodec.pixelFeatures(big, maxPixels = 50).isEmpty)
    assert(Multimodal.ImageCodec.pixelFeatures(big).isDefined)
  }

  test("frame offsets are even and bounded by duration") {
    val r = Seq((10_000L)).toDF("duration_ms")
      .select(Multimodal.frameOffsets($"duration_ms", 3000).as("f")).collect()(0)
      .getSeq[Long](0)
    assert(r == Seq(0L, 3000L, 6000L, 9000L))
  }

  test("ImageCodec: real encode→decode round-trip across formats, header-only") {
    for (fmt <- Seq("png", "jpg", "gif", "bmp")) {
      val bytes = Multimodal.ImageCodec.encode(37, 21, 0x336699, fmt)
      val Some((name, w, h)) = Multimodal.ImageCodec.decodeDims(bytes)
      assert(w == 37 && h == 21, s"$fmt decoded ${w}x$h")
      val expected = if (fmt == "jpg") "jpeg" else fmt
      assert(name == expected, s"wrote $fmt, reader says $name")
    }
  }

  test("WebP: VP8L round-trip, hand-built VP8/VP8X, malformed RIFF → None") {
    // VP8L fixture round-trip (header-only on both sides).
    assert(Multimodal.ImageCodec.decodeDims(
      Multimodal.ImageCodec.encodeWebP(640, 481)) == Some(("webp", 640, 481)))
    assert(Multimodal.ImageCodec.decodeDims(
      Multimodal.ImageCodec.encodeWebP(1, 16384)) == Some(("webp", 1, 16384)))
    // Hand-built VP8 (lossy) header: frame tag + 9D 01 2A sync + dims.
    def le16(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    val vp8 = ("RIFF".getBytes("US-ASCII") ++ Seq[Byte](22, 0, 0, 0) ++
      "WEBPVP8 ".getBytes("US-ASCII") ++ Seq[Byte](10, 0, 0, 0) ++
      Seq[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A) ++
      le16(320) ++ le16(240)).toArray
    assert(Multimodal.ImageCodec.decodeDims(vp8) == Some(("webp", 320, 240)))
    // Hand-built VP8X: 4 flag/reserved bytes then u24le (w-1, h-1).
    val vp8x = ("RIFF".getBytes("US-ASCII") ++ Seq[Byte](22, 0, 0, 0) ++
      "WEBPVP8X".getBytes("US-ASCII") ++ Seq[Byte](10, 0, 0, 0) ++
      Seq[Byte](0, 0, 0, 0) ++
      Seq[Byte](0xFF.toByte, 0x01, 0) ++ Seq[Byte](0x2B, 0x01, 0)).toArray
    assert(Multimodal.ImageCodec.decodeDims(vp8x) == Some(("webp", 512, 300)))
    // Malformed: bad magic, truncated chunk, unknown fourcc.
    assert(Multimodal.ImageCodec.decodeDims(
      "RIFFxxxxWEBPnope".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.ImageCodec.decodeDims(
      Multimodal.ImageCodec.encodeWebP(64, 64).take(18)).isEmpty)
  }

  test("ImageCodec: corrupt, truncated, and empty bytes decode to None, never throw") {
    assert(Multimodal.ImageCodec.decodeDims("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.ImageCodec.decodeDims(Array.empty[Byte]).isEmpty)
    assert(Multimodal.ImageCodec.decodeDims(null).isEmpty)
    // A real PNG signature with the header chopped off mid-IHDR: the
    // reader matches by magic but cannot produce dimensions.
    val png = Multimodal.ImageCodec.encode(16, 16, 0xFF0000, "png")
    assert(Multimodal.ImageCodec.decodeDims(png.take(12)).isEmpty)
  }

  test("decodeImageMeta: distributed real decode with nulls for undecodable rows") {
    val rows = Seq(
      (1L, Multimodal.ImageCodec.encode(64, 48, 0x112233, "png")),
      (2L, Multimodal.ImageCodec.encode(8, 300, 0x445566, "jpg")),
      (3L, "definitely text".getBytes("UTF-8")))
      .toDF("media_id", "content")
    val got = Multimodal.decodeImageMeta(rows).collect()
      .map(m => m.media_id -> m).toMap
    assert(got(1L).format.contains("png") &&
      got(1L).width.contains(64) && got(1L).height.contains(48))
    assert(got(2L).format.contains("jpeg") &&
      got(2L).width.contains(8) && got(2L).height.contains(300))
    assert(got(3L).format.isEmpty && got(3L).width.isEmpty &&
      got(3L).height.isEmpty && got(3L).n_bytes > 0)
  }

  test("decodeFrames: animated GIF round-trip counts real frames; single-frame formats report 1") {
    val anim = Multimodal.ImageCodec.encodeAnimated(32, 24, 5)
    assert(Multimodal.ImageCodec.decodeFrames(anim)
      .contains(("gif", 32, 24, 5)))
    val png = Multimodal.ImageCodec.encode(10, 7, 0x336699, "png")
    assert(Multimodal.ImageCodec.decodeFrames(png)
      .contains(("png", 10, 7, 1)))
    // Corrupt/truncated/empty → None, never throw.
    assert(Multimodal.ImageCodec.decodeFrames("nope".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.ImageCodec.decodeFrames(anim.take(20)).isEmpty)
    assert(Multimodal.ImageCodec.decodeFrames(Array.empty[Byte]).isEmpty)
  }

  test("decodeFrameMeta: distributed frame-count decode with nulls for undecodable rows") {
    val rows = Seq(
      (1L, Multimodal.ImageCodec.encodeAnimated(16, 16, 3)),
      (2L, "text bytes".getBytes("UTF-8")))
      .toDF("media_id", "content")
    val got = Multimodal.decodeFrameMeta(rows).collect()
      .map(m => m.media_id -> m).toMap
    assert(got(1L).format.contains("gif") && got(1L).n_frames.contains(3))
    assert(got(2L).n_frames.isEmpty && got(2L).n_bytes > 0)
  }

  test("AudioCodec: WAV encode→decode round-trip, header-only semantics") {
    val bytes = Multimodal.AudioCodec.encode(16000, 2, 777)
    val Some((enc, ch, rate, bits, frames, durMs)) =
      Multimodal.AudioCodec.decodeMeta(bytes)
    assert(enc == "pcm_signed" && ch == 2 && rate == 16000 && bits == 16)
    assert(frames == 777L && durMs == 777L * 1000 / 16000)
    // Zero-frame file stays decodable with zero duration.
    val empty = Multimodal.AudioCodec.encode(8000, 1, 0)
    assert(Multimodal.AudioCodec.decodeMeta(empty)
      .exists(m => m._5 == 0L && m._6 == 0L))
  }

  test("AudioCodec: corrupt, truncated, and empty bytes decode to None, never throw") {
    assert(Multimodal.AudioCodec.decodeMeta("not audio at all".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.AudioCodec.decodeMeta(Array.empty[Byte]).isEmpty)
    assert(Multimodal.AudioCodec.decodeMeta(null).isEmpty)
    // RIFF magic with the header chopped mid-fmt.
    val wav = Multimodal.AudioCodec.encode(8000, 1, 100)
    assert(Multimodal.AudioCodec.decodeMeta(wav.take(16)).isEmpty)
  }

  test("decodeAudioMeta: distributed real decode with nulls for undecodable rows") {
    val rows = Seq(
      (1L, Multimodal.AudioCodec.encode(44100, 1, 4410)),
      (2L, "definitely text".getBytes("UTF-8")))
      .toDF("media_id", "content")
    val got = Multimodal.decodeAudioMeta(rows).collect()
      .map(m => m.media_id -> m).toMap
    assert(got(1L).sample_rate.contains(44100) &&
      got(1L).channels.contains(1) && got(1L).n_frames.contains(4410L) &&
      got(1L).duration_ms.contains(100L))
    assert(got(2L).sample_rate.isEmpty && got(2L).duration_ms.isEmpty &&
      got(2L).n_bytes > 0)
  }
}

class StockStreamSinkSpec extends SparkSpec {
  import graft.streaming.StockStream
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.sql.Timestamp

  test("streaming sink continuously upserts latest stock into the keyed table") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx
    val dir = java.nio.file.Files.createTempDirectory("graft_stock_sink")
    val table = dir.resolve("stock").toString
    val checkpoint = dir.resolve("ckpt").toString

    val input = MemoryStream[(String, Int, Timestamp)]
    val latest = StockStream.latestPerSku(input.toDF().toDF("sku", "qty", "modified_at"))
    val query = StockStream.writer(latest, table, checkpoint).start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      input.addData(("A", 10, ts("2025-04-15 10:00:00")), ("B", 5, ts("2025-04-15 10:00:00")))
      query.processAllAvailable()
      input.addData(("A", 20, ts("2025-04-15 11:00:00")), ("C", 7, ts("2025-04-15 11:00:00")))
      query.processAllAvailable()
      val state = spark.read.parquet(table)
        .select($"sku", $"qty").as[(String, Int)].collect().toMap
      assert(state == Map("A" -> 20, "B" -> 5, "C" -> 7))
    } finally query.stop()
  }
}

class LowStockAlertSpec extends SparkSpec {
  import graft.streaming.StockStream
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.sql.Timestamp

  test("flatMapGroupsWithState emits only on threshold crossings") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx

    val input = MemoryStream[(String, Int, Timestamp)]
    val alerts = StockStream.lowStockAlerts(
      input.toDF().toDF("sku", "qty", "modified_at"), threshold = 10)
    val query = alerts.writeStream
      .format("memory").queryName("stock_alerts")
      .outputMode("append")
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      input.addData(("A", 100, ts("2025-04-15 10:00:00")), ("B", 2, ts("2025-04-15 10:00:00")))
      query.processAllAvailable()
      input.addData(("A", 5, ts("2025-04-15 11:00:00")))   // crosses below
      query.processAllAvailable()
      input.addData(("A", 3, ts("2025-04-15 12:00:00")))   // still low: no alert
      query.processAllAvailable()
      input.addData(("A", 50, ts("2025-04-15 13:00:00")))  // restocked
      query.processAllAvailable()
      val rows = spark.sql("SELECT sku, kind, qty FROM stock_alerts")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(rows == Set(
        ("B", "low_stock", 2),   // initially low
        ("A", "low_stock", 5),
        ("A", "restocked", 50)))
    } finally query.stop()
  }
}

class EventStreamSpec extends SparkSpec {
  import graft.streaming.EventStream
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.sql.Timestamp

  test("watermarked tumbling window emits closed windows and drops late data") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx

    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStream.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"),
      width = "1 hour", delay = "30 minutes")

    val query = agg.writeStream
      .format("memory").queryName("event_hourly")
      .outputMode("append")
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      input.addData(
        (ts("2025-04-15 10:05:00"), "click", 1.0),
        (ts("2025-04-15 10:55:00"), "click", 2.0),
        (ts("2025-04-15 10:10:00"), "view", 5.0))
      query.processAllAvailable()
      // Advance event time far enough that the 10:00 window closes
      // (watermark = max ts - 30 min must pass 11:00).
      input.addData((ts("2025-04-15 11:40:00"), "click", 1.0))
      query.processAllAvailable()
      // This event falls in the closed 10:00 window AND behind the
      // watermark -> dropped, emits nothing.
      input.addData((ts("2025-04-15 10:20:00"), "click", 100.0))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n_events, sum_value FROM event_hourly " +
          "WHERE window_start = TIMESTAMP '2025-04-15 10:00:00'")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally query.stop()
  }

  test("sessionizeStream: touching events merge, strict gap breaks, sessions emit once finalized") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Double, Timestamp)]
    val qn = "sess_spec_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.sessionizeStream(
        input.toDF().toDF("user_id", "value", "ts"),
        key = "user_id", gap = "15 minutes", delay = "30 minutes")
      .writeStream.format("memory").queryName(qn).outputMode("append").start()
    try {
      input.addData(
        (1L, 1.0, ts("2025-04-15 10:00:00")),
        (1L, 2.0, ts("2025-04-15 10:15:00")),  // EXACTLY gap apart — merges
        (1L, 4.0, ts("2025-04-15 10:31:00")))  // 16 min > gap — new session
      q.processAllAvailable()
      input.addData((2L, 0.0, ts("2025-04-15 13:00:00")))  // flush watermark
      q.processAllAvailable()
      val got = spark.table(qn).filter($"user_id" === 1L)
        .select($"session_start".cast("string"), $"session_end".cast("string"),
          $"n_events", $"total_value")
        .as[(String, String, Long, Double)].collect().toSet
      assert(got == Set(
        ("2025-04-15 10:00:00", "2025-04-15 10:30:00", 2L, 3.0),
        ("2025-04-15 10:31:00", "2025-04-15 10:46:00", 1L, 4.0)))
    } finally q.stop()
  }

  test("stream-stream interval join buffers across micro-batches and equals the batch join") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx
    def ts(s: String) = Timestamp.valueOf(s)
    val history = Seq(
      (1L, ts("2025-04-15 10:00:00"), 1L, 1.0),
      (2L, ts("2025-04-15 10:04:00"), 4L, 4.0),
      (1L, ts("2025-04-15 10:05:00"), 2L, 2.0), // pairs with e1 (5 min)
      (1L, ts("2025-04-15 10:20:00"), 3L, 3.0)) // 15 min after e2 — no pair

    val input = MemoryStream[(Long, Timestamp, Long, Double)]
    val stream = EventStream.recentActivity(
      input.toDF().toDF("user_id", "ts", "event_id", "value"),
      input.toDF().toDF("user_id", "ts", "event_id", "value"),
      within = "10 minutes", delay = "10 minutes")
    val query = stream.writeStream.format("memory")
      .queryName("recent_activity").outputMode("append").start()
    val streamed = try {
      // Split so the e1↔e2 pair spans TWO micro-batches: the join
      // must find e1 in buffered state, not the current batch.
      input.addData(history.take(2): _*)
      query.processAllAvailable()
      input.addData(history.drop(2): _*)
      query.processAllAvailable()
      spark.sql("SELECT event_id, prior_event_id FROM recent_activity")
        .as[(Long, Long)].collect().toSet
    } finally query.stop()

    val batch = EventStream.recentActivity(
      history.toDF("user_id", "ts", "event_id", "value"),
      history.toDF("user_id", "ts", "event_id", "value"),
      within = "10 minutes")
      .select($"event_id", $"prior_event_id").as[(Long, Long)].collect().toSet
    assert(streamed == batch && batch == Set((2L, 1L)))
  }

  test("streaming dedup passes first fingerprint, drops repeats within the horizon") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx

    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = EventStream.dedupStream(
      input.toDF().toDF("ts", "doc_id", "text"), delay = "10 minutes")
    val query = deduped.writeStream
      .format("memory").queryName("dedup_stream")
      .outputMode("append")
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      input.addData(
        (ts("2025-04-15 10:00:00"), 1L, "the quick brown fox"),
        (ts("2025-04-15 10:01:00"), 2L, "The QUICK brown fox!"), // dup by fingerprint
        (ts("2025-04-15 10:02:00"), 3L, "something else entirely"))
      query.processAllAvailable()
      // Same batch AND later batch repeats are both dropped while the
      // fingerprint is inside the watermark horizon.
      input.addData((ts("2025-04-15 10:03:00"), 4L, "the quick brown fox"))
      query.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM dedup_stream")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L))
    } finally query.stop()
  }
}

class StockStreamSpec extends SparkSpec {
  import graft.streaming.StockStream
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.sql.Timestamp

  test("streaming latest-per-sku: later event time wins regardless of arrival order") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx

    val input = MemoryStream[(String, Int, Timestamp)]
    val updates = input.toDF().toDF("sku", "qty", "modified_at")
    val latest = StockStream.latestPerSku(updates)

    val query = latest.writeStream
      .format("memory").queryName("stock_latest")
      .outputMode("update")
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      // batch 1: two skus
      input.addData(("A", 10, ts("2025-04-15 10:00:00")), ("B", 5, ts("2025-04-15 10:00:00")))
      query.processAllAvailable()
      // batch 2: A updated forward; B gets an OUT-OF-ORDER older event
      input.addData(("A", 20, ts("2025-04-15 11:00:00")), ("B", 99, ts("2025-04-15 09:00:00")))
      query.processAllAvailable()
      val state = spark.sql("SELECT sku, qty FROM stock_latest")
        .collect().groupBy(_.getString(0))
        .map { case (k, rows) => k -> rows.last.getInt(1) }
      assert(state("A") == 20)   // newer event applied
      assert(state("B") == 5)    // stale event did not overwrite
    } finally query.stop()
  }

  test("snapshotWriter lands one atomic snapshot version per micro-batch with time travel") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx
    import graft.sinks.SnapshotStore

    val dir = java.nio.file.Files.createTempDirectory("graft_stock_snap").toString
    val root = s"$dir/store"
    val input = MemoryStream[(String, Int, Timestamp)]
    val latest = StockStream.latestPerSku(
      input.toDF().toDF("sku", "qty", "modified_at"))
    val query = StockStream.snapshotWriter(latest, root, s"$dir/ckpt").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      input.addData(("A", 10, ts("2025-04-15 10:00:00")), ("B", 5, ts("2025-04-15 10:00:00")))
      query.processAllAvailable()
      input.addData(("A", 20, ts("2025-04-15 11:00:00")))
      query.processAllAvailable()

      assert(SnapshotStore.versions(spark, root) == Seq(1L, 2L))
      val now = SnapshotStore.read(spark, root)
        .select($"sku", $"qty").as[(String, Int)].collect().toMap
      assert(now == Map("A" -> 20, "B" -> 5))
      // Time travel: version 1 is the state after the first micro-batch.
      val v1 = SnapshotStore.readVersion(spark, root, 1)
        .select($"sku", $"qty").as[(String, Int)].collect().toMap
      assert(v1 == Map("A" -> 10, "B" -> 5))
    } finally query.stop()
  }
}

class StreamBatchEquivalenceSpec extends SparkSpec {
  import graft.streaming.StockStream
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.sql.Timestamp

  test("latestPerSkuBatch over the full history equals the stream's final state") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx
    def ts(s: String) = Timestamp.valueOf(s)
    // Out-of-order + duplicate-timestamped history across three skus.
    val history = Seq(
      ("A", 10, ts("2025-04-15 10:00:00")),
      ("B", 5,  ts("2025-04-15 10:05:00")),
      ("A", 20, ts("2025-04-15 11:00:00")),
      ("C", 7,  ts("2025-04-15 09:00:00")),
      ("B", 9,  ts("2025-04-15 10:01:00")), // older than B@10:05 — must lose
      ("C", 3,  ts("2025-04-15 12:00:00")))

    val batch = StockStream
      .latestPerSkuBatch(history.toDF("sku", "qty", "modified_at"))
      .as[(String, Int, Timestamp)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val input = MemoryStream[(String, Int, Timestamp)]
    val latest = StockStream.latestPerSku(
      input.toDF().toDF("sku", "qty", "modified_at"))
    val query = latest.writeStream.format("memory")
      .queryName("stream_batch_eq").outputMode("update").start()
    val streamed = try {
      // Two micro-batches to exercise cross-batch state.
      input.addData(history.take(3): _*)
      query.processAllAvailable()
      input.addData(history.drop(3): _*)
      query.processAllAvailable()
      // Update-mode memory sink appends per-batch updates; the final
      // state per sku is the last emitted row for that key.
      spark.table("stream_batch_eq")
        .groupBy($"sku")
        .agg(org.apache.spark.sql.functions.max_by(
          org.apache.spark.sql.functions.struct($"qty", $"modified_at"),
          $"modified_at").as("s"))
        .select($"sku", $"s.qty", $"s.modified_at")
        .as[(String, Int, Timestamp)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    } finally query.stop()

    assert(batch == streamed,
      s"batch fold and stream state diverged: batch=$batch stream=$streamed")
    assert(batch == Map(
      "A" -> ((20, ts("2025-04-15 11:00:00"))),
      "B" -> ((5, ts("2025-04-15 10:05:00"))),
      "C" -> ((3, ts("2025-04-15 12:00:00")))))
  }

  test("Mp3Codec: CBR encode→decode round-trip, ID3v2 skip, VBR-safe frame walk") {
    // 44100 Hz mono, 50 frames, no tag.
    val Some((ver, ch, rate, kbps, frames, durMs)) =
      Multimodal.Mp3Codec.decodeMeta(Multimodal.Mp3Codec.encode(44100, 1, 50))
    assert(ver == "mpeg1" && ch == 1 && rate == 44100 && kbps == 128)
    assert(frames == 50 && durMs == 50L * 1152 * 1000 / 44100)
    // ID3v2 tag (777 payload bytes) must be skipped by syncsafe size.
    val tagged = Multimodal.Mp3Codec.encode(48000, 2, 30, id3Payload = 777)
    val Some((_, ch2, rate2, _, frames2, _)) = Multimodal.Mp3Codec.decodeMeta(tagged)
    assert(ch2 == 2 && rate2 == 48000 && frames2 == 30)
    // A truncated final frame ends the walk cleanly (header-only).
    val cut = Multimodal.Mp3Codec.encode(44100, 1, 10).dropRight(100)
    assert(Multimodal.Mp3Codec.decodeMeta(cut).get._5 == 9)
  }

  test("Mp3Codec: corrupt/short/false-sync bytes decode to None, never throw") {
    assert(Multimodal.Mp3Codec.decodeMeta(null).isEmpty)
    assert(Multimodal.Mp3Codec.decodeMeta(Array.empty[Byte]).isEmpty)
    assert(Multimodal.Mp3Codec.decodeMeta("plain text".getBytes("UTF-8")).isEmpty)
    // A single 0xFF false sync in otherwise-random bytes must be
    // rejected by the successor-frame validation.
    val falseSync = Array[Byte](0x12, 0xFF.toByte, 0xFB.toByte, 0x90.toByte,
      0xC0.toByte, 0x01, 0x02, 0x03, 0x04, 0x05)
    assert(Multimodal.Mp3Codec.decodeMeta(falseSync).isEmpty)
  }

  test("Mp4Codec: box-walk encode→decode round-trip, 16.16 dims, audio-only") {
    val v = Multimodal.Mp4Codec.encode(timescale = 600, duration = 3600,
      width = 640, height = 360)
    val Some((brand, ts2, durMs, w, h)) = Multimodal.Mp4Codec.decodeMeta(v)
    assert(brand == "isom" && ts2 == 600 && durMs == 3600L * 1000 / 600)
    assert(w.contains(640) && h.contains(360))
    // Zero-dim track = audio-only shape -> None dims, duration kept.
    val a = Multimodal.Mp4Codec.encode(44100, 441000, 0, 0)
    val Some((_, _, durA, wA, hA)) = Multimodal.Mp4Codec.decodeMeta(a)
    assert(durA == 10000L && wA.isEmpty && hA.isEmpty)
  }

  test("Mp4Codec: corrupt, truncated, and non-BMFF bytes decode to None") {
    assert(Multimodal.Mp4Codec.decodeMeta(null).isEmpty)
    assert(Multimodal.Mp4Codec.decodeMeta("not a movie file".getBytes("UTF-8")).isEmpty)
    val good = Multimodal.Mp4Codec.encode(600, 1200, 320, 240)
    assert(Multimodal.Mp4Codec.decodeMeta(good.take(40)).isEmpty,
      "truncated mid-moov must fail structurally, not throw")
    // Box size lying beyond EOF is structural corruption.
    val bad = good.clone(); bad(0) = 0x7F
    assert(Multimodal.Mp4Codec.decodeMeta(bad).isEmpty)
    // A lying CHILD box size (trak runs past moov's end) must also be
    // None — nested-walk corruption cannot degrade to partial metadata.
    // trak size field lives right after mvhd: offset 16 + 8 + 108.
    val inner = good.clone()
    val trakOff = 16 + 8 + 108
    assert(new String(inner, trakOff + 4, 4, "US-ASCII") == "trak")
    inner(trakOff) = 0x7F // size high byte: runs far past moov
    assert(Multimodal.Mp4Codec.decodeMeta(inner).isEmpty,
      "corrupt trak inside a valid moov must not yield partial metadata")
  }

  test("Mp4Codec: version-1 boxes (64-bit times) decode at the widened offsets") {
    val v = Multimodal.Mp4Codec.encode(90000, 2700000L, 1920, 1080, v1 = true)
    val Some((brand, ts2, durMs, w, h)) = Multimodal.Mp4Codec.decodeMeta(v)
    assert(brand == "isom" && ts2 == 90000 && durMs == 30000L)
    assert(w.contains(1920) && h.contains(1080),
      s"v1 tkhd dims decoded as $w x $h")
    // v1 audio-only: zero dims must stay None (a wrong offset would
    // read matrix bytes as a bogus width).
    val a = Multimodal.Mp4Codec.encode(44100, 441000, 0, 0, v1 = true)
    val Some((_, _, durA, wA, hA)) = Multimodal.Mp4Codec.decodeMeta(a)
    assert(durA == 10000L && wA.isEmpty && hA.isEmpty)
  }
}
