package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sinks.SnapshotStore

/** Streaming corpus ingest: per-batch dedup against the persisted,
  * GROWING signature index; snapshot-keyed idempotency under content
  * re-delivery (the crash/retry analog). */
class CorpusIngestSpec extends SparkSpec {
  import spark.implicits._

  test("cold start accepts, later batches dedup vs the growing index, resends are no-ops") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_spec").toString
    val a = (1L, "the quick brown fox jumps over the lazy dog")
    val b = (2L, "entirely different content about spark pipelines here")
    val c = (5L, "a third topic nothing else resembles in any way at all")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusIngest.dedupingWriter(
      input.toDF().toDF("id", "text"), s"$dir/idx", s"$dir/acc", s"$dir/ckpt",
      numHashes = 32, bands = 8, threshold = 0.5).start()
    try {
      // Batch 0: cold start (no index yet) — both docs accepted.
      input.addData(Seq(a, b)); q.processAllAvailable()
      assert(SnapshotStore.read(spark, s"$dir/acc")
        .select("id").as[Long].collect().toSet == Set(1L, 2L))
      // Batch 1: near-dup of an ACCEPTED doc (caught via the index,
      // not streaming state) + a fresh doc.
      input.addData(Seq((3L, a._2 + " extra"), c)); q.processAllAvailable()
      assert(SnapshotStore.read(spark, s"$dir/acc")
        .select("id").as[Long].collect().toSet == Set(1L, 2L, 5L))
      // Batch 2: exact content resend (crash/retry analog) — every
      // row matches its own signatures in the index; nothing changes.
      val vBefore = SnapshotStore.currentVersion(spark, s"$dir/acc")
      input.addData(Seq(a, b)); q.processAllAvailable()
      assert(SnapshotStore.read(spark, s"$dir/acc")
        .select("id").as[Long].collect().toSet == Set(1L, 2L, 5L))
      assert(SnapshotStore.currentVersion(spark, s"$dir/acc") == vBefore,
        "a fully-duplicate batch must not publish a new accepted version")
    } finally q.stop()
    // The index holds one row per (accepted id, band).
    val idx = SnapshotStore.read(spark, s"$dir/idx")
    assert(idx.select("id").distinct().as[Long].collect().toSet == Set(1L, 2L, 5L))
    assert(idx.count() == 3 * 8)
  }
}
