package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IDENTITY columns (`GENERATED ALWAYS AS IDENTITY`, Delta's
  * contract, round 15): the table owns the column — INSERTs omit it,
  * the write path allocates contiguous values from the recorded
  * high-water mark, the advanced mark rides the SAME manifest as the
  * data (a crash can never reopen allocated ids), explicit values are
  * refused at the SQL surface, and deletes never cause reuse (the
  * mark is monotone metadata, not derived from data). */
class IdentityColumnSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${Files.createTempDirectory("identity").toString}/t"

  private def create(root: String, clause: String = ""): Unit = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql(s"""CREATE TABLE graft.`$root` (
      id BIGINT GENERATED ALWAYS AS IDENTITY$clause,
      k BIGINT, part STRING
    ) USING graft-snapshot PARTITIONED BY (part)""")
  }

  private def src(r: Range): DataFrame =
    r.map(i => (i.toLong, (i % 3).toString)).toDF("k", "part")

  private def ids(root: String): Seq[Long] =
    SnapshotStore.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSeq.sorted

  test("omitting INSERTs allocate 1..n; the next batch continues; a delete never reopens ids") {
    val root = freshRoot()
    create(root)
    src(0 until 40).createOrReplaceTempView("idsrc")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc")
    assert(ids(root) == (1L to 40L),
      "first batch must allocate exactly 1..40, gap-free")
    src(100 until 125).createOrReplaceTempView("idsrc2")
    spark.sql(s"INSERT INTO graft.`$root` (k, part) SELECT k, part FROM idsrc2")
    assert(ids(root) == (1L to 65L),
      "the second batch must continue contiguously from the mark")
    // Delete the top of the range, then insert: ids must NOT be
    // reused — the mark is monotone metadata.
    SnapshotStore.deleteWhere(spark, root, "id > 60")
    src(200 until 210).createOrReplaceTempView("idsrc3")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc3")
    val after = ids(root)
    assert(after == ((1L to 60L) ++ (66L to 75L)),
      s"deleted ids must never be reallocated, got $after")
  }

  test("START WITH / INCREMENT BY are honored, in either order of allocation math") {
    val root = freshRoot()
    create(root, " (START WITH 100 INCREMENT BY 5)")
    src(0 until 10).createOrReplaceTempView("idsrc_sw")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_sw")
    assert(ids(root) == (0 until 10).map(i => 100L + 5L * i),
      "allocation must start at START WITH and stride INCREMENT BY")
  }

  test("explicit identity values are refused at the SQL surface — positional and column-list") {
    val root = freshRoot()
    create(root)
    Seq((42L, 1L, "0")).toDF("id", "k", "part")
      .createOrReplaceTempView("idsrc_explicit")
    val e1 = intercept[Exception](spark.sql(
      s"INSERT INTO graft.`$root` SELECT id, k, part FROM idsrc_explicit"))
    assert(e1.getMessage.contains("IDENTITY"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      s"INSERT INTO graft.`$root` (id, k, part) SELECT id, k, part FROM idsrc_explicit"))
    assert(e2.getMessage.contains("IDENTITY"), e2.getMessage)
  }

  test("merge: matched rows keep their ids, inserted rows get fresh ones — no nulls, no duplicates") {
    val root = freshRoot()
    create(root)
    src(0 until 30).createOrReplaceTempView("idsrc_m")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_m")
    val idOf5 = SnapshotStore.read(spark, root).filter(col("k") === 5)
      .select("id").collect().head.getLong(0)
    val idOf25 = SnapshotStore.read(spark, root).filter(col("k") === 25)
      .select("id").collect().head.getLong(0)
    // Keyed merge on k: k 20..29 matched (updates), k 30..39 new
    // (inserts), incoming WITHOUT the id column — the union null-fills
    // it and the write path allocates exactly the null slots.
    SnapshotStore.mergeCommitOrdered(spark,
      (20 until 40).map(i => (i.toLong, (i % 3).toString)).toDF("k", "part"),
      root, ColSpec(Seq("k")), Nil, ColSpec(Seq("part")))
    val all = SnapshotStore.read(spark, root)
    assert(all.filter(col("id").isNull).count() == 0,
      "every row must carry an id after the merge")
    val n = all.count()
    assert(all.select("id").distinct().count() == n,
      "merge allocation must never duplicate an id")
    assert(all.filter(col("k") === 5).select("id").collect()
        .head.getLong(0) == idOf5,
      "an untouched row keeps its id")
    assert(all.filter(col("k") === 25).select("id").collect()
        .head.getLong(0) == idOf25,
      "a MATCHED (updated) row inherits its id — Delta's MERGE contract")
    assert(all.filter(col("k") >= 30).select(min(col("id"))).collect()
        .head.getLong(0) > 30,
      "inserted rows allocate above the existing range")
  }

  test("CREATE validation: non-integral type, zero step, identity+generated collision all refuse") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val e1 = intercept[Exception](spark.sql(
      s"""CREATE TABLE graft.`${freshRoot()}` (
        id STRING GENERATED ALWAYS AS IDENTITY, k BIGINT, part STRING
      ) USING graft-snapshot PARTITIONED BY (part)"""))
    assert(e1.getMessage.contains("INT"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      s"""CREATE TABLE graft.`${freshRoot()}` (
        id BIGINT GENERATED ALWAYS AS IDENTITY (INCREMENT BY 0),
        k BIGINT, part STRING
      ) USING graft-snapshot PARTITIONED BY (part)"""))
    assert(e2.getMessage.contains("non-zero"), e2.getMessage)
  }

  test("the identity mark cannot be set post-hoc via SET TBLPROPERTIES") {
    val root = freshRoot()
    create(root)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.setProperties(spark, root, Seq(
        s"${SnapshotStore.IdentityPropPrefix}id" ->
          "start=1;step=1;last=0;type=BIGINT"))
    }
    assert(e.getMessage.contains("CREATE TABLE metadata"), e.getMessage)
  }

  test("every other DML surface refuses explicit identity values too — UPDATE, DV UPDATE, MERGE source/SET, UNSET, RENAME, DROP") {
    val root = freshRoot()
    create(root)
    src(0 until 20).createOrReplaceTempView("idsrc_guard")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_guard")
    // UPDATE SET id — copy-on-write and merge-on-read paths.
    val e1 = intercept[Exception](SnapshotStore.updateWhere(spark, root,
      Seq("id" -> "42"), Some("k = 3")))
    assert(e1.getMessage.contains("allocator-owned"), e1.getMessage)
    val e2 = intercept[Exception](SnapshotStore.updateWhereDv(spark, root,
      Seq("id" -> "42"), Some("k = 3")))
    assert(e2.getMessage.contains("allocator-owned"), e2.getMessage)
    // MERGE with a source CARRYING the column (would flow through
    // SET * / INSERT *), and an explicit SET targeting it.
    Seq((99L, 3L, "0")).toDF("id", "k", "part")
      .createOrReplaceTempView("idsrc_carry")
    val e3 = intercept[Exception](spark.sql(
      s"MERGE INTO graft.`$root` USING idsrc_carry ON k = k " +
        "WHEN MATCHED THEN UPDATE SET *"))
    assert(e3.getMessage.contains("allocator-owned") ||
      e3.getMessage.contains("identity"), e3.getMessage)
    Seq((3L, "0")).toDF("k", "part").createOrReplaceTempView("idsrc_clean")
    val e4 = intercept[Exception](spark.sql(
      s"MERGE INTO graft.`$root` t USING idsrc_clean s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET id = 42"))
    assert(e4.getMessage.contains("allocator-owned"), e4.getMessage)
    // The record is CREATE TABLE metadata end to end.
    val e5 = intercept[Exception](SnapshotStore.unsetProperties(spark, root,
      Seq(s"${SnapshotStore.IdentityPropPrefix}id")))
    assert(e5.getMessage.contains("cannot be UNSET"), e5.getMessage)
    val e6 = intercept[Exception](
      SnapshotStore.renameColumn(spark, root, "id", "oid"))
    assert(e6.getMessage.contains("identity"), e6.getMessage)
    val e7 = intercept[Exception](SnapshotStore.dropColumn(spark, root, "id"))
    assert(e7.getMessage.contains("identity"), e7.getMessage)
  }

  test("a NON-EMPTY create (CTAS shape) allocates version 1's own rows and records the advanced mark") {
    val root = freshRoot()
    val df = src(0 until 25)
      .withColumn("id", lit(null).cast("bigint"))
      .select(col("id"), col("k"), col("part"))
    val v = SnapshotStore.commitIfAbsent(spark, df, root, ColSpec(Seq("part")),
      identity = Seq(("id", 1L, 1L, false)))
    assert(v.contains(1L))
    assert(ids(root) == (1L to 25L),
      "v1's own rows must be allocated — the property lands in the " +
        "same manifest, after the data exists")
    // And the next batch continues from the recorded mark.
    src(100 until 110).createOrReplaceTempView("idsrc_ctas2")
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_ctas2")
    assert(ids(root) == (1L to 35L))
  }

  test("API writes carrying explicit ids ADVANCE THE MARK — a later omitting INSERT never collides") {
    val root = freshRoot()
    create(root)
    // Migration-shaped ingest through the programmatic surface (the
    // DataFrame writer / appendCommit path the SQL refusal does not
    // cover): the batch brings its own ids, far above the mark.
    SnapshotStore.appendCommit(spark,
      Seq((500L, 1L, "0"), (510L, 2L, "1"), (520L, 3L, "2"))
        .toDF("id", "k", "part"),
      root, ColSpec(Seq("part")))
    val mark = SnapshotStore.identityColumns(
      SnapshotStore.tablePropertiesMap(spark, root)).head
    assert(mark.last == 520L,
      s"carried ids must re-base the recorded mark to their max, got ${mark.last}")
    src(0 until 5).createOrReplaceTempView("idsrc_api")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_api")
    val all = ids(root)
    assert(all == Seq(500L, 510L, 520L, 521L, 522L, 523L, 524L, 525L),
      s"the omitting insert must allocate ABOVE the carried range, got $all")
  }

  test("one batch mixing carried ids and null slots allocates the slots above the carried max") {
    val root = freshRoot()
    create(root)
    SnapshotStore.appendCommit(spark,
      Seq((Some(100L), 1L, "0"), (None, 2L, "1"), (None, 3L, "2"))
        .toDF("id", "k", "part"),
      root, ColSpec(Seq("part")))
    val all = ids(root)
    assert(all == Seq(100L, 101L, 102L),
      s"null slots must fill from the REBASED mark (past the carried " +
        s"100), never from the stale one, got $all")
  }

  test("negative step: carried ids re-base the mark DOWNWARD (step direction), allocation continues below") {
    val root = freshRoot()
    create(root, " (START WITH -1 INCREMENT BY -1)")
    SnapshotStore.appendCommit(spark,
      Seq((-50L, 1L, "0")).toDF("id", "k", "part"),
      root, ColSpec(Seq("part")))
    src(0 until 3).createOrReplaceTempView("idsrc_neg")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_neg")
    val all = ids(root)
    assert(all == Seq(-53L, -52L, -51L, -50L),
      s"a negative-step mark must move to min(carried) and keep " +
        s"descending, got $all")
  }

  test("inheritance stays deterministic when the existing side holds duplicate rows per merge key") {
    val root = freshRoot()
    create(root)
    // appendCommit twice with the SAME key — a legitimate history no
    // merge ever deduplicated. Each append allocates fresh ids, so key
    // k=7 now has TWO rows with ids 1 and 2.
    SnapshotStore.appendCommit(spark,
      Seq((7L, "1")).toDF("k", "part"), root, ColSpec(Seq("part")))
    SnapshotStore.appendCommit(spark,
      Seq((7L, "1")).toDF("k", "part"), root, ColSpec(Seq("part")))
    assert(ids(root) == Seq(1L, 2L))
    // An id-omitting keyed merge on k must join 1:1 (the aggregated
    // key→id projection), keep-first through Upsert.merge, and the
    // surviving id must be the DETERMINISTIC min — never a fan-out
    // that leaves two rows or picks per-run.
    SnapshotStore.mergeCommitOrdered(spark,
      Seq((7L, "1")).toDF("k", "part"), root,
      ColSpec(Seq("k")), Nil, ColSpec(Seq("part")))
    val rows = SnapshotStore.read(spark, root)
      .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((7L, 1L)),
      s"duplicate-key inheritance must resolve to ONE row with the " +
        s"min id, got ${rows.toSeq}")
  }

  test("a mirror of an identity table converges — carried replica ids are accepted and never refused") {
    val root = freshRoot()
    create(root)
    src(0 until 12).createOrReplaceTempView("idsrc_mir")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_mir")
    val dst = s"${Files.createTempDirectory("identity-mirror").toString}/r"
    graft.operators.Replicate.mirror(spark, root, dst, "k")
    // A later source window replays through the replica with explicit
    // ids (the change feed carries them) — must apply, not refuse.
    SnapshotStore.deleteWhere(spark, root, "k = 3")
    src(100 until 103).createOrReplaceTempView("idsrc_mir2")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_mir2")
    graft.operators.Replicate.mirror(spark, root, dst, "k")
    val srcIds = ids(root)
    val dstIds = SnapshotStore.read(spark, dst).select("id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(dstIds == srcIds,
      s"replica must converge to the source's exact id set, got $dstIds vs $srcIds")
  }

  test("GENERATED BY DEFAULT AS IDENTITY: explicit SQL values are sanctioned, omissions allocate above them") {
    val root = freshRoot()
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql(s"""CREATE TABLE graft.`$root` (
      id BIGINT GENERATED BY DEFAULT AS IDENTITY,
      k BIGINT, part STRING
    ) USING graft-snapshot PARTITIONED BY (part)""")
    // Migration ingest straight through SQL — refused on an ALWAYS
    // table, the contract here.
    Seq((1000L, 1L, "0"), (1010L, 2L, "1")).toDF("id", "k", "part")
      .createOrReplaceTempView("idsrc_bd")
    spark.sql(s"INSERT INTO graft.`$root` (id, k, part) SELECT id, k, part FROM idsrc_bd")
    // Omitting insert allocates ABOVE the carried range (mark-advance
    // — stricter than Delta, where this collides until a SYNC).
    src(5 until 8).createOrReplaceTempView("idsrc_bd2")
    spark.sql(s"INSERT INTO graft.`$root` (k, part) SELECT k, part FROM idsrc_bd2")
    assert(ids(root) == Seq(1000L, 1010L, 1011L, 1012L, 1013L),
      s"BY DEFAULT: omitted rows must continue past the explicit max, got ${ids(root)}")
    // A MERGE source may carry the column too.
    Seq((2000L, 2L, "1")).toDF("id", "k", "part")
      .createOrReplaceTempView("idsrc_bd3")
    spark.sql(s"MERGE INTO graft.`$root` USING idsrc_bd3 ON k = k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(SnapshotStore.read(spark, root).filter(col("k") === 2)
        .select("id").collect().head.getLong(0) == 2000L,
      "a BY DEFAULT merge source's explicit id must flow through")
    // But UPDATE SET still refuses — the mutation surface stays
    // allocator-owned in both modes.
    val e = intercept[Exception](SnapshotStore.updateWhere(spark, root,
      Seq("id" -> "9"), Some("k = 1")))
    assert(e.getMessage.contains("allocator-owned"), e.getMessage)
  }

  test("ALTER TABLE … SYNC IDENTITY re-bases the mark onto the values present — backward included") {
    val root = freshRoot()
    create(root) // ALWAYS mode accepts SYNC too
    src(0 until 30).createOrReplaceTempView("idsrc_sync")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_sync")
    SnapshotStore.deleteWhere(spark, root, "id > 10")
    // Without SYNC the mark stays at 30 (delete never reopens ids) —
    // SYNC is the explicit administrative reclaim.
    spark.sql(s"ALTER TABLE graft.`$root` SYNC IDENTITY")
    assert(SnapshotStore.identityColumns(
        SnapshotStore.tablePropertiesMap(spark, root)).head.last == 10L,
      "SYNC must move the mark back to max(id) = 10")
    src(100 until 105).createOrReplaceTempView("idsrc_sync2")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_sync2")
    assert(ids(root) == (1L to 15L),
      s"the next allocation must reuse the reclaimed range, got ${ids(root)}")
    // No-op when already in sync: version must not advance.
    val before = SnapshotStore.currentVersion(spark, root)
    spark.sql(s"ALTER TABLE graft.`$root` SYNC IDENTITY")
    assert(SnapshotStore.currentVersion(spark, root) == before,
      "an in-sync SYNC IDENTITY must be a metadata no-op")
    // And loud on a table with no identity record.
    val plain = freshRoot()
    SnapshotStore.commit(spark, src(0 until 3), plain, ColSpec(Seq("part")))
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE graft.`$plain` SYNC IDENTITY"))
    assert(e.getMessage.contains("no identity column"), e.getMessage)
  }

  test("SYNC IDENTITY's backward move survives an abandoned allocation residue on the calling thread") {
    val root = freshRoot()
    create(root)
    src(0 until 20).createOrReplaceTempView("idsrc_resid")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_resid")
    SnapshotStore.deleteWhere(spark, root, "id > 5")
    // Simulate an exception-abandoned allocation attempt's hand-off: a
    // FORWARD mark for this root left in the thread-local. Without the
    // entry-point clear, the manifest injection's monotone guard would
    // re-apply it OVER the backward value SYNC is about to publish —
    // and report success.
    SnapshotStore.recordIdentityAlloc(root, Map("id" -> 1000L))
    spark.sql(s"ALTER TABLE graft.`$root` SYNC IDENTITY")
    assert(SnapshotStore.identityColumns(
        SnapshotStore.tablePropertiesMap(spark, root)).head.last == 5L,
      "the residue must not override the deliberate backward move")
    src(100 until 102).createOrReplaceTempView("idsrc_resid2")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_resid2")
    assert(ids(root) == (1L to 7L),
      s"allocation must continue from the SYNCED mark, got ${ids(root)}")
  }

  test("SYNC IDENTITY on an emptied table restarts allocation at START WITH") {
    val root = freshRoot()
    create(root, " (START WITH 7 INCREMENT BY 3)")
    src(0 until 4).createOrReplaceTempView("idsrc_empty")
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_empty")
    SnapshotStore.deleteWhere(spark, root, "id IS NOT NULL")
    spark.sql(s"ALTER TABLE graft.`$root` SYNC IDENTITY")
    src(0 until 2).createOrReplaceTempView("idsrc_empty2")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM idsrc_empty2")
    assert(ids(root) == Seq(7L, 10L),
      s"an emptied+synced table must restart at START WITH, got ${ids(root)}")
  }

  test("a garbled identity record fails loudly, never null-fills or re-allocates") {
    val garbled = Map(s"${SnapshotStore.IdentityPropPrefix}id" -> "start=1;stp=?")
    val e = intercept[IllegalStateException](
      SnapshotStore.identityColumns(garbled))
    assert(e.getMessage.contains("garbled"), e.getMessage)
  }
}
