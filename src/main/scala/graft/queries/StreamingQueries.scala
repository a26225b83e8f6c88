package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Structured Streaming forms: incremental stock/doc ingest,
  * sessionization, the snapshot sink/source formats, and the
  * change-feed stream.
  *
  * One slice of [[Queries.all]] — the registry map, oracle pairing,
  * and determinism rules live there; this file only contributes
  * entries. */
private[graft] object StreamingQueries {
  import Queries.t

  val all: Seq[(String, Queries.Q, Option[String])] = Seq(

    // Streaming → atomic snapshot sink, oracled by REPLAY
    // (StockStream.snapshotWriter): a real micro-batch sequence —
    // including a re-delivered batch, the crash/retry case — lands as
    // keyed merge commits, and the final snapshot must equal the
    // oracle's one-shot latest-per-key fold of the same update
    // history. (sku, ts) is made unique up front so the fold has no
    // tie ambiguity on either side.
    ("q103_stream_snapshot_sink", (s: SparkSession, d: String) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val dir = DevRun.fixtureRoot("q103")
      val root = s"$dir/store"
      val updates = t(s, d, "events").filter(col("user_id") < 50)
        .groupBy(concat(lit("sku_"), col("user_id")).as("sku"), col("ts"))
        .agg(max(col("value")).as("qty"))
        .select(col("sku"), col("qty"), col("ts"))
        .as[(String, Double, java.sql.Timestamp)]
        .collect()
      val batches = updates.groupBy(u => math.floorMod(u._3.getTime, 3L))
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Double, java.sql.Timestamp)]
      val q = graft.streaming.StockStream.snapshotWriter(
        input.toDF().toDF("sku", "qty", "modified_at"), root, s"$dir/ckpt").start()
      try {
        (0L to 2L).foreach { b =>
          input.addData(batches.getOrElse(b, Array.empty).toSeq)
          q.processAllAvailable()
        }
        // Re-deliver batch 1: the later-version-wins merge absorbs the
        // duplicate commit (effectively-once delivery).
        input.addData(batches.getOrElse(1L, Array.empty).toSeq)
        q.processAllAvailable()
      } finally q.stop()
      graft.sinks.SnapshotStore.read(s, root)
        .select(col("sku"), col("qty"), unix_micros(col("modified_at")).as("us"))
        .orderBy(col("sku"))
    }, Some("""
      WITH u AS (SELECT 'sku_' || user_id AS sku, ts, max(value) AS qty
                 FROM events WHERE user_id < 50 GROUP BY 1, 2),
      r AS (SELECT sku, qty, epoch_ns(ts) // 1000 AS us,
              row_number() OVER (PARTITION BY sku ORDER BY ts DESC) AS rn
            FROM u)
      SELECT sku, qty, us FROM r WHERE rn = 1 ORDER BY sku""")),


    // Streaming latest-per-sku (StockStream.latestPerSku) under a real
    // MemoryStream run with a LATE batch — the L16 watermark-expiry
    // semantics under oracle, not just spec. Timeline (1-hour delay,
    // synthetic hours so the watermark math is exact on both sides):
    // batch 0 sends each user's first ≤5 updates at base+rn h; batch 1
    // advances event time to base+108h for users 0-14 only; batch 2 is
    // late traffic — users 15-22 get an update at base+50h (beyond the
    // base+107h watermark → DROPPED; their batch-0 state must survive,
    // and qty 7777 would visibly win if the drop failed) while users
    // 23-29 get one at base+107h30m (inside the allowed lateness →
    // KEPT, wins with qty 9999). The memory sink accumulates every
    // Update-mode state emission; the newest per sku is the final
    // state, which the oracle replays from the surviving timeline.
    ("q113_stream_latest_sku", (s: SparkSession, d: String) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import java.sql.Timestamp
      val baseMs = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
      def at(h: Double) = new Timestamp(baseMs + (h * 3600 * 1000).toLong)
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val upd = t(s, d, "events").filter(col("user_id") < 30)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 8)
        .select(col("user_id"), col("rn"),
          floor(col("value") * 100).cast("int").as("qty"))
        .as[(Long, Int, Int)].collect()
      val b0 = upd.filter(_._2 <= 5)
        .map { case (u, rn, q) => (s"sku_$u", q, at(rn.toDouble)) }.toSeq
      val b1 = upd.filter(r => r._2 >= 6 && r._1 < 15)
        .map { case (u, rn, q) => (s"sku_$u", q, at(100.0 + rn)) }.toSeq
      val lateDropped = upd.map(_._1).distinct.filter(u => u >= 15 && u <= 22)
        .map(u => (s"sku_$u", 7777, at(50.0))).toSeq
      val lateKept = upd.map(_._1).distinct.filter(u => u >= 23 && u <= 29)
        .map(u => (s"sku_$u", 9999, at(107.5))).toSeq
      // The DROP assertion rests on batch 1 advancing the watermark to
      // ~base+107h — which requires users 0-14 to have >= 6 events.
      // Fail the fixture loudly if the dataset ever stops providing
      // that, instead of silently keeping the 7777 rows.
      require(b1.nonEmpty,
        "q113 fixture precondition: users 0-14 need >= 6 events to advance the watermark")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Int, Timestamp)]
      val qn = "q113_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StockStream.latestPerSku(
          input.toDF().toDF("sku", "qty", "modified_at"), watermarkDelay = "1 hour")
        .writeStream.format("memory").queryName(qn).outputMode("update").start()
      try {
        input.addData(b0); q.processAllAvailable()
        input.addData(b1); q.processAllAvailable()
        input.addData(lateDropped ++ lateKept); q.processAllAvailable()
      } finally q.stop()
      // The emission log folds to final state via the operator's own
      // batch analog (X6) — the same later-modified_at-wins semantics,
      // defined once.
      graft.streaming.StockStream.latestPerSkuBatch(s.table(qn))
        .select(col("sku"), col("qty"),
          unix_micros(col("modified_at")).as("us"))
        .orderBy(col("sku"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events WHERE user_id < 30),
      u AS (SELECT user_id, rn, CAST(floor(value * 100) AS INT) AS qty
            FROM e WHERE rn <= 8),
      tl AS (
        SELECT user_id, qty,
          epoch_us(TIMESTAMP '2026-01-01 00:00:00' + to_hours(rn)) AS us
        FROM u WHERE rn <= 5
        UNION ALL
        SELECT user_id, qty,
          epoch_us(TIMESTAMP '2026-01-01 00:00:00' + to_hours(100 + rn))
        FROM u WHERE rn BETWEEN 6 AND 8 AND user_id < 15
        UNION ALL
        SELECT DISTINCT user_id, 9999,
          epoch_us(TIMESTAMP '2026-01-01 00:00:00'
            + INTERVAL '107 hours' + INTERVAL '30 minutes')
        FROM u WHERE user_id BETWEEN 23 AND 29)
      SELECT 'sku_' || user_id AS sku, qty, us FROM tl
      QUALIFY row_number() OVER (PARTITION BY user_id
        ORDER BY us DESC, qty DESC) = 1
      ORDER BY sku""")),


    // Streaming exact dedup (EventStream.dedupStream) under oracle —
    // the L22 dropDuplicatesWithinWatermark semantics in BOTH
    // directions: duplicates inside the horizon vanish, and state
    // EVICTION lets the same fingerprint pass again afterwards. The
    // stream carries pre-normalized text so duplicate rows are fully
    // identical (whichever survives, the output is byte-equal).
    // Timeline (1-hour delay): batch 0 = all docs at base (dups
    // collapse to one row per fingerprint); batch 1 re-sends everything
    // at base+30m (all dropped — watermark still behind, state alive);
    // batch 2 = one sentinel at base+5h (watermark → base+4h, past
    // every batch-0 expiry at base+1h → state evicted); batch 3
    // re-sends at base+6h and everything passes AGAIN.
    ("q114_stream_dedup_docs", (s: SparkSession, d: String) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import java.sql.Timestamp
      val baseMs = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
      def at(h: Double) = new Timestamp(baseMs + (h * 3600 * 1000).toLong)
      val texts = t(s, d, "documents").filter(col("doc_id") < 100)
        .select(TextAnalysis.normalized(col("text")).as("t"))
        .as[String].collect().toSeq
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Timestamp, String)]
      val qn = "q114_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStream.dedupStream(
          input.toDF().toDF("ts", "text"), delay = "1 hour")
        .writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        input.addData(texts.map(t => (at(0.0), t))); q.processAllAvailable()
        input.addData(texts.map(t => (at(0.5), t))); q.processAllAvailable()
        input.addData(Seq((at(5.0), "watermark advance sentinel")))
        q.processAllAvailable()
        input.addData(texts.map(t => (at(6.0), t))); q.processAllAvailable()
      } finally q.stop()
      s.table(qn).select(col("text"), unix_micros(col("ts")).as("us"))
        .orderBy(col("text"), col("us"))
    }, Some("""
      WITH n AS (SELECT DISTINCT trim(regexp_replace(regexp_replace(
               lower(text), '[^a-z0-9 \t\n]', '', 'g'), '\s+', ' ', 'g')) AS text
           FROM documents WHERE doc_id < 100),
      tl AS (
        SELECT text, epoch_us(TIMESTAMP '2026-01-01 00:00:00') AS us FROM n
        UNION ALL
        SELECT text,
          epoch_us(TIMESTAMP '2026-01-01 00:00:00' + INTERVAL '6 hours') FROM n
        UNION ALL
        SELECT 'watermark advance sentinel',
          epoch_us(TIMESTAMP '2026-01-01 00:00:00' + INTERVAL '5 hours'))
      SELECT text, us FROM tl ORDER BY text, us""")),


    // Threshold-crossing alerts (StockStream.lowStockAlerts,
    // flatMapGroupsWithState) under oracle: deterministic per-user
    // stock walks derived from events feed in two batches — the second
    // REPLAYS a stale prefix (older than held state → must be ignored,
    // no duplicate alerts) plus a genuinely newer tail. Alerts fire
    // only on below/above crossings of the threshold, which the oracle
    // replays as a lag() over the surviving ts-ordered walk.
    ("q120_stream_stock_alerts", (s: SparkSession, d: String) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import java.sql.Timestamp
      val baseMs = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
      def at(k: Int) = new Timestamp(baseMs + k.toLong * 60000L)
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val walk = t(s, d, "events").filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 12)
        .select(col("user_id"), col("rn"),
          pmod(floor(col("value") * 10), lit(20)).cast("int").as("qty"))
        .as[(Long, Int, Int)].collect()
        .map { case (u, rn, q) => (s"sku_$u", q, at(rn)) }.toSeq
      val sorted = walk.sortBy(r => (r._1, r._3.getTime))
      val batch1 = sorted.filter(_._3.getTime <= baseMs + 8 * 60000L)
      val batch2 = sorted // full replay: stale prefix ignored, tail applies
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Int, Timestamp)]
      val qn = "q120_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StockStream.lowStockAlerts(
          input.toDF().toDF("sku", "qty", "modified_at"), threshold = 10)
        .writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        input.addData(batch1); q.processAllAvailable()
        input.addData(batch2); q.processAllAvailable()
      } finally q.stop()
      s.table(qn).select(col("sku"), col("qty"), col("kind"),
          unix_micros(col("modified_at")).as("us"))
        .orderBy(col("sku"), col("us"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events WHERE user_id < 20),
      walk AS (SELECT 'sku_' || user_id AS sku,
             CAST((CAST(floor(value * 10) AS BIGINT) % 20 + 20) % 20 AS INT)
               AS qty,
             epoch_us(TIMESTAMP '2026-01-01 00:00:00'
               + to_minutes(rn)) AS us
           FROM e WHERE rn <= 12),
      lagged AS (SELECT sku, qty, us,
             lag(qty) OVER (PARTITION BY sku ORDER BY us) AS prev
           FROM walk)
      SELECT sku, qty,
        CASE WHEN qty < 10 THEN 'low_stock' ELSE 'restocked' END AS kind,
        us
      FROM lagged
      WHERE (qty < 10 AND (prev IS NULL OR prev >= 10))
         OR (qty >= 10 AND prev IS NOT NULL AND prev < 10)
      ORDER BY sku, us""")),


    // Streaming gap sessionization (EventStream.sessionizeStream)
    // under a real MemoryStream run — native session_window semantics
    // pinned by oracle: events ≤15 min apart merge (6-min steps), a
    // 36-min step breaks, sessions close at last-event+gap and emit
    // exactly once (append mode) when the watermark passes. A sentinel
    // advances the watermark to flush every session; a late replay
    // into an already-emitted session (qty 7777 at minute 6) must be
    // DROPPED — neither a duplicate session nor a changed total. The
    // oracle replays the same timeline as batch gaps-and-islands.
    ("q128_stream_sessionize", (s: SparkSession, d: String) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import java.sql.Timestamp
      val baseMs = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
      def atMin(m: Double) = new Timestamp(baseMs + (m * 60000).toLong)
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val ev = t(s, d, "events").filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select(col("user_id"), col("rn"),
          floor(col("value") * 100).cast("int").as("v"))
        .as[(Long, Int, Int)].collect()
      val b0 = ev.map { case (u, rn, v) =>
        (u, v, atMin((rn * 6 + 30 * (rn / 3)).toDouble)) }.toSeq
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Int, Timestamp)]
      val qn = "q128_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStream.sessionizeStream(
          input.toDF().toDF("user_id", "value", "ts"),
          key = "user_id", gap = "15 minutes", delay = "1 hour")
        .writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        input.addData(b0); q.processAllAvailable()
        input.addData(Seq((9999L, 0, atMin(6000.0)))); q.processAllAvailable()
        input.addData(Seq((0L, 7777, atMin(6.0)))); q.processAllAvailable()
      } finally q.stop()
      s.table(qn).filter(col("user_id") < 20)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("start_us"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events WHERE user_id < 20),
      u AS (SELECT user_id, rn, CAST(floor(value * 100) AS INT) AS v,
             rn * 6 + 30 * (rn // 3) AS off
            FROM e WHERE rn <= 10),
      g AS (SELECT *, CASE WHEN off - lag(off) OVER
              (PARTITION BY user_id ORDER BY off) > 15
             THEN 1 ELSE 0 END AS brk FROM u),
      sess AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY off
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
      agg AS (SELECT user_id, sid, min(off) AS a, max(off) AS b,
             count(*) AS n_events, CAST(sum(v) AS BIGINT) AS total_value
           FROM sess GROUP BY user_id, sid)
      SELECT user_id,
        epoch_us(TIMESTAMP '2026-01-01 00:00:00' + to_minutes(a)) AS start_us,
        epoch_us(TIMESTAMP '2026-01-01 00:00:00' + to_minutes(b + 15)) AS end_us,
        n_events, total_value
      FROM agg ORDER BY user_id, start_us""")),


    // Streaming corpus ingest with incremental dedup (CorpusIngest.
    // dedupingWriter): a real two-batch MemoryStream run where each
    // micro-batch dedups against the PERSISTED signature index —
    // batch 1 must be filtered by batch 0's SURVIVORS (not batch 0
    // wholesale) plus the preseeded corpus, and survivors land in the
    // accepted snapshot atomically. The oracle replays the batches
    // SEQUENTIALLY: surv0 vs corpus, then surv1 vs corpus ∪ surv0.
    ("q133_stream_ingest", (s: SparkSession, d: String) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val dir = DevRun.fixtureRoot("q133")
      val (idxRoot, accRoot) = (s"$dir/idx", s"$dir/acc")
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") < 50)
        .select(col("doc_id").as("id"), col("text"))
      graft.sinks.SnapshotStore.commit(s,
        corpus.withColumn("part", pmod(col("id"), lit(16))), accRoot, "part")
      graft.sinks.SnapshotStore.commit(s,
        graft.operators.Dedup.minHashIndex(corpus, col("text"), col("id"),
            numHashes = 12, bands = 4, shingleWidth = 3, fastHash = false)
          .withColumn("sig_key", concat_ws("#",
            col("id").cast("string"), col("band").cast("string"))),
        idxRoot, "band")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
        df.as[(Long, String)].collect().toSeq
      val b0 = rows(docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)) ++
        rows(docs.filter(col("doc_id") < 20)
          .select(col("doc_id") + 200000, concat(col("text"), lit(" zz yy xx"))))
      val b1 = rows(docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)) ++
        rows(docs.filter(col("doc_id") >= 50 && col("doc_id") < 70)
          .select(col("doc_id") + 300000, concat(col("text"), lit(" aa bb")))) ++
        rows(docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
          .select(col("doc_id") + 400000, concat(col("text"), lit(" zz yy xx"))))
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = graft.streaming.CorpusIngest.dedupingWriter(
        input.toDF().toDF("id", "text"), idxRoot, accRoot, s"$dir/ckpt",
        numHashes = 12, bands = 4, shingleWidth = 3,
        threshold = 0.3, fastHash = false).start()
      try {
        input.addData(b0); q.processAllAvailable()
        input.addData(b1); q.processAllAvailable()
      } finally q.stop()
      graft.sinks.SnapshotStore.read(s, accRoot)
        .select(col("id").as("doc_id"), length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }, Some {
      val seeds = (0 until 12).map(i => s"list_min(list_transform(sh, s -> md5('$i|' || s)))")
        .mkString("[", ", ", "]")
      val est = "len(list_filter(generate_series(1, 12), i -> l.sig[i] = r.sig[i])) / 12.0 >= 0.3"
      val inB0 = "BETWEEN 50 AND 99 OR %s BETWEEN 200000 AND 200019"
      val inB1 = "BETWEEN 100 AND 149 OR %s BETWEEN 300050 AND 300069 OR %s BETWEEN 400020 AND 400039"
      s"""
      WITH alld AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
        UNION ALL
        SELECT doc_id + 200000, text || ' zz yy xx' FROM documents WHERE doc_id < 20
        UNION ALL
        SELECT doc_id + 300000, text || ' aa bb'
        FROM documents WHERE doc_id >= 50 AND doc_id < 70
        UNION ALL
        SELECT doc_id + 400000, text || ' zz yy xx'
        FROM documents WHERE doc_id >= 20 AND doc_id < 40),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM alld),
      shingled AS (SELECT doc_id,
        CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' ')) END AS sh
        FROM w),
      sig AS (SELECT doc_id, $seeds AS sig FROM shingled),
      banded AS (
        SELECT doc_id, sig, t.b AS band,
          md5(array_to_string(sig[t.b*3+1:t.b*3+3], ' ')) AS bucket
        FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
      vs0 AS (
        SELECT DISTINCT l.doc_id FROM banded l
        JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
        WHERE (l.doc_id ${inB0.format("l.doc_id")})
          AND r.doc_id < 50 AND $est),
      w0 AS (
        SELECT DISTINCT l.doc_id FROM banded l
        JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
        WHERE (l.doc_id ${inB0.format("l.doc_id")})
          AND (r.doc_id ${inB0.format("r.doc_id")})
          AND l.doc_id > r.doc_id AND $est),
      surv0 AS (
        SELECT doc_id FROM alld
        WHERE (doc_id ${inB0.format("doc_id")})
          AND doc_id NOT IN (SELECT doc_id FROM vs0)
          AND doc_id NOT IN (SELECT doc_id FROM w0)),
      vs1 AS (
        SELECT DISTINCT l.doc_id FROM banded l
        JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
        WHERE (l.doc_id ${inB1.format("l.doc_id", "l.doc_id")})
          AND (r.doc_id < 50 OR r.doc_id IN (SELECT doc_id FROM surv0))
          AND $est),
      w1 AS (
        SELECT DISTINCT l.doc_id FROM banded l
        JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
        WHERE (l.doc_id ${inB1.format("l.doc_id", "l.doc_id")})
          AND (r.doc_id ${inB1.format("r.doc_id", "r.doc_id")})
          AND l.doc_id > r.doc_id AND $est),
      surv1 AS (
        SELECT doc_id FROM alld
        WHERE (doc_id ${inB1.format("doc_id", "doc_id")})
          AND doc_id NOT IN (SELECT doc_id FROM vs1)
          AND doc_id NOT IN (SELECT doc_id FROM w1)),
      finalids AS (
        SELECT doc_id FROM alld WHERE doc_id < 50
        UNION ALL SELECT doc_id FROM surv0
        UNION ALL SELECT doc_id FROM surv1)
      SELECT a.doc_id, length(a.text) AS n_chars
      FROM alld a JOIN finalids f ON a.doc_id = f.doc_id
      ORDER BY a.doc_id"""
    }),


    // E56: STREAMING change-feed consumption (format("graft-changes"),
    // the Delta-CDF-streaming / Mongo-change-stream analog). Four
    // commits — base, merge (update+insert), keyed delete, and a
    // layout-only compact — are replayed through readStream from
    // version 0; the memory sink must hold every CDC row tagged with
    // its emitting version, and the compact version must emit ZERO
    // rows (content diff, not file diff). The oracle rebuilds the
    // feed per version from key arithmetic.
    ("q147_stream_change_feed", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q147")
      val root = s"$dir/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(m5 =!= 4).withColumn("rev", lit(1)),
        root, "o_orderstatus")
      val incoming = orders.filter(m5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .unionByName(orders.filter(m5 === 4))
        .withColumn("rev", lit(2))
      graft.sinks.SnapshotStore.mergeCommit(s, incoming, root,
        "o_orderkey", "rev", "o_orderstatus")
      graft.sinks.SnapshotStore.deleteCommit(s,
        orders.filter(m5 === 1).select(col("o_orderkey")),
        root, "o_orderkey", "o_orderstatus")
      graft.sinks.SnapshotStore.compact(s, root, "o_orderstatus")
      val q = s.readStream.format("graft-changes")
        .option("key", "o_orderkey")
        .option("startingVersion", "0")
        .load(root)
        .writeStream.format("memory").queryName("graft_q147_feed")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q147_feed")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("rev"), col("_change_type"),
          col("_commit_version"))
        .orderBy(col("o_orderkey"), col("_commit_version"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS rev,
        'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      FROM orders WHERE o_orderkey % 5 <> 4
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0, 2,
        'update', CAST(2 AS BIGINT)
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 2,
        'insert', CAST(2 AS BIGINT)
      FROM orders WHERE o_orderkey % 5 = 4
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1,
        'delete', CAST(3 AS BIGINT)
      FROM orders WHERE o_orderkey % 5 = 1
      ORDER BY o_orderkey, _commit_version""")),


    // Streaming WRITER surface (df.writeStream.format("graft-snapshot")
    // — the Delta streaming-sink analog): q103's exact micro-batch
    // sequence — including the re-delivered batch — through the format
    // registration instead of a hand-built foreachBatch, plus the
    // sink's marker-file batch log making the re-delivery a TRUE no-op
    // (version count pinned in-query). Oracle identical to q103's:
    // the format surface must be indistinguishable from the manual
    // writer.
    ("q159_stream_sink_format", (s: SparkSession, d: String) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val dir = DevRun.fixtureRoot("q159")
      val root = s"$dir/store"
      val updates = t(s, d, "events").filter(col("user_id") < 50)
        .groupBy(concat(lit("sku_"), col("user_id")).as("sku"), col("ts"))
        .agg(max(col("value")).as("qty"))
        .select(col("sku"), col("qty"), col("ts"))
        .as[(String, Double, java.sql.Timestamp)]
        .collect()
      val batches = updates.groupBy(u => math.floorMod(u._3.getTime, 3L))
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Double, java.sql.Timestamp)]
      def start() = input.toDF().toDF("sku", "qty", "modified_at")
        .withColumn("part", lit("stock"))
        .writeStream.format("graft-snapshot")
        .outputMode("append")
        .option("key", "sku").option("versionCol", "modified_at")
        .option("partitionCol", "part")
        .option("checkpointLocation", s"$dir/ckpt")
        .start(root)
      val q = start()
      try {
        (0L to 2L).foreach { b =>
          input.addData(batches.getOrElse(b, Array.empty).toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val committed = graft.sinks.SnapshotStore.versions(s, root)
      // Restart on the same checkpoint: the engine re-delivers the
      // last batch; the marker log must keep the version list frozen.
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      require(graft.sinks.SnapshotStore.versions(s, root) == committed,
        "re-delivered batch committed a new version through the sink")
      graft.sinks.SnapshotStore.read(s, root)
        .select(col("sku"), col("qty"), unix_micros(col("modified_at")).as("us"))
        .orderBy(col("sku"))
    }, Some("""
      WITH u AS (SELECT 'sku_' || user_id AS sku, ts, max(value) AS qty
                 FROM events WHERE user_id < 50 GROUP BY 1, 2),
      r AS (SELECT sku, qty, epoch_ns(ts) // 1000 AS us,
              row_number() OVER (PARTITION BY sku ORDER BY ts DESC) AS rn
            FROM u)
      SELECT sku, qty, us FROM r WHERE rn = 1 ORDER BY sku""")),


    // Streaming READ of a snapshot table (Delta streaming-source
    // analog, `readStream.format("graft-snapshot")`): three arrival
    // waves land as commit + appends with a COMPACTION between them;
    // the stream delivers every appended row exactly once while the
    // layout-only commit emits NOTHING — require-pinned via
    // maxVersionsPerTrigger=1 (each version is its own micro-batch, so
    // the batch-level row counts are observable: 3 data batches for 4
    // versions). The oracle is the plain union of the waves — a
    // re-emitted baseline or a compaction echo breaks the hash.
    ("q173_stream_snapshot_source", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q173")
      val root = s"$dir/t"
      val st = graft.sinks.SnapshotStore
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m3 = pmod(col("o_orderkey"), lit(3))
      st.commit(s, orders.filter(m3 === 0), root, "o_orderstatus")      // v1
      st.appendCommit(s, orders.filter(m3 === 1), root, "o_orderstatus") // v2
      st.compact(s, root, "o_orderstatus")                               // v3: layout only
      st.appendCommit(s, orders.filter(m3 === 2), root, "o_orderstatus") // v4
      val q = s.readStream.format("graft-snapshot")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(root)
        .writeStream.format("memory").queryName("q173_sink")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 3,
        s"expected 3 data micro-batches (v1, v2, v4 — compaction silent), " +
          s"got $dataBatches")
      s.table("q173_sink")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      ORDER BY o_orderkey""")),


    // Continuous replication under an ORACLE (VERDICT r9 ask #6): the
    // q179 source sequence driven through the STREAMING mirror leg —
    // seed, drain, stop; the source takes a merge and a delete while
    // the mirror is down; a restart from the SAME checkpoint catches
    // up through the shared cursor (the batch-mirror property) and
    // converges to exactly the source-arithmetic state.
    ("q186_mirror_stream", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q186_store")
      val src = s"$dir/src"; val dst = s"$dir/dst"
      val ckpt = s"$dir/ckpt"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      val m7 = pmod(col("o_orderkey"), lit(7))
      graft.sinks.SnapshotStore.commit(s,
        orders.withColumn("rev", lit(1)), src, "o_orderstatus")
      val q1 = graft.operators.Replicate.mirrorStream(
        s, src, dst, "o_orderkey", ckpt)
      try q1.processAllAvailable() finally q1.stop()
      // Source evolves while the mirror stream is DOWN.
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("rev", lit(2)),
        src, "o_orderkey", "rev", "o_orderstatus")
      graft.sinks.SnapshotStore.deleteCommit(s,
        orders.filter(m7 === 3).select(col("o_orderkey")),
        src, "o_orderkey", "o_orderstatus")
      // Restart from the SAME checkpoint: the shared cursor (the
      // batch-mirror property + the engine's offset log) resumes the
      // feed; idempotent application converges.
      val q2 = graft.operators.Replicate.mirrorStream(
        s, src, dst, "o_orderkey", ckpt)
      try q2.processAllAvailable() finally q2.stop()
      require(graft.sinks.SnapshotStore.tablePropertiesMap(s, dst)
        .get(graft.operators.Replicate.SourceVersionProp).contains("3"),
        "streamed replica must record the synced source version")
      graft.sinks.SnapshotStore.read(s, dst)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("rev"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END AS rev
      FROM orders WHERE o_orderkey % 7 <> 3
      ORDER BY o_orderkey"""))
  )
}
