package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Snapshot-store lifecycle: atomic commits, DML + maintenance
  * SQL (MERGE/DELETE/UPDATE/OPTIMIZE/RESTORE…), time travel, CDC,
  * deletion vectors, column mapping, clones, and replication.
  *
  * One slice of [[Queries.all]] — the registry map, oracle pairing,
  * and determinism rules live there; this file only contributes
  * entries. */
private[graft] object SnapshotQueries {
  import Queries.{t, dsum}

  val all: Seq[(String, Queries.Q, Option[String])] = Seq(

    // §2.10 incremental mode: "rows modified since --since" selection
    // that feeds the upsert sink (ref: etl/base.py:267-273).
    ("q64_incremental_since", (s: SparkSession, d: String) => {
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-06-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus,
        strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date
      FROM orders WHERE o_orderdate >= DATE '1998-06-01'
      ORDER BY o_orderkey""")),


    // K5 backup/CTAS + A3 collection stats: snapshot a table, then
    // report stats of the backup. Physical layout (file count/bytes)
    // varies with parallelism, so the check columns are row_count plus
    // layout EXISTENCE booleans — row_count is oracle'd against the
    // source table itself (backup must be lossless).
    ("q65_backup_stats", (s: SparkSession, d: String) => {
      import s.implicits._
      val dir = DevRun.fixtureRoot("backup_q65") + "/backup"
      graft.operators.Upsert.backup(t(s, d, "nation"), dir)
      val st = graft.operators.Stats.tableStats(s, dir)
      Seq((st.rowCount, st.fileCount >= 1, st.totalBytes > 0))
        .toDF("row_count", "has_files", "has_bytes")
    }, Some("""
      SELECT (SELECT count(*) FROM nation) AS row_count,
        true AS has_files, true AS has_bytes""")),


    // Atomic snapshot sink (SnapshotStore): K1 merge as a manifest
    // commit — crash-safe alternative to dynamic partition overwrite.
    // Two commits then a read-back; merge semantics match q16's oracle
    // window (version desc, incoming wins ties).
    ("q75_snapshot_merge", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q75") + "/customers"
      val c = t(s, d, "customer")
      val base = c.filter(col("c_custkey") <= 1000)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          lit(1).as("sync_version"))
      val updates = c.filter(col("c_custkey") <= 1500 && col("c_custkey") % 3 === 0)
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") * 2).as("c_acctbal"), lit(2).as("sync_version"))
      graft.sinks.SnapshotStore.commit(s, base, root, "c_mktsegment")
      graft.sinks.SnapshotStore.mergeCommit(s, updates, root,
        "c_custkey", "sync_version", "c_mktsegment")
      graft.sinks.SnapshotStore.read(s, root)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"), col("sync_version"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_mktsegment, round(acctbal, 2) AS acctbal, sync_version FROM (
        SELECT c_custkey, c_mktsegment, acctbal, sync_version,
          row_number() OVER (PARTITION BY c_custkey
            ORDER BY sync_version DESC, src DESC) AS rn
        FROM (
          SELECT c_custkey, c_mktsegment, c_acctbal AS acctbal, 1 AS sync_version, 0 AS src
          FROM customer WHERE c_custkey <= 1000
          UNION ALL
          SELECT c_custkey, c_mktsegment, c_acctbal * 2 AS acctbal, 2 AS sync_version, 1 AS src
          FROM customer WHERE c_custkey <= 1500 AND c_custkey % 3 = 0
            AND c_mktsegment IN ('BUILDING', 'MACHINERY')))
      WHERE rn = 1 ORDER BY c_custkey""")),


    // Z-order (Morton) interleave — the multi-dimensional file-pruning
    // layout key (Layout.zValue2); pure shift/and/or arithmetic the
    // oracle replays bit-for-bit.
    ("q83_zorder_key", (s: SparkSession, d: String) => {
      val z = graft.operators.Layout.zValue2(col("p_size"),
        pmod(col("p_partkey"), lit(256)), bits = 16)
      t(s, d, "part").select(col("p_partkey"), z.as("z"))
        .orderBy(col("p_partkey"))
    }, Some {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((p_size >> $i) & 1) << ${2 * i})",
        s"((((p_partkey % 256) >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""
      SELECT p_partkey, ($terms) AS z FROM part ORDER BY p_partkey"""
    }),


    // N-key Z-order (Layout.zValue generalized past 2 dims): 3 keys
    // interleaved round-robin — bit i of key j at position 3i+j. The
    // oracle replays the interleave as shift/mask SQL.
    ("q89_zorder3_key", (s: SparkSession, d: String) => {
      // floor on BOTH sides: Spark's double→long cast truncates while
      // DuckDB's rounds — floor is the portable integerization.
      val z = graft.operators.Layout.zValue(Seq(col("p_size"),
        pmod(col("p_partkey"), lit(256)),
        pmod(floor(col("p_retailprice")).cast("long"), lit(1024))), bits = 12)
      t(s, d, "part").select(col("p_partkey"), z.as("z"))
        .orderBy(col("p_partkey"))
    }, Some {
      val terms = (0 until 12).flatMap(i => Seq(
        s"(((p_size >> $i) & 1) << ${3 * i})",
        s"((((p_partkey % 256) >> $i) & 1) << ${3 * i + 1})",
        s"((((CAST(floor(p_retailprice) AS BIGINT) % 1024) >> $i) & 1) << ${3 * i + 2})")).mkString(" | ")
      s"""
      SELECT p_partkey, ($terms) AS z FROM part ORDER BY p_partkey"""
    }),


    // Indexed text search (TextIndex): build the (token, file)
    // inverted index over the documents table, search a word through
    // it, and return exactly what the full-scan predicate returns —
    // the index-side parity with the reference's Mongo text index
    // (unified_product_schema.py:241; q72 is the scan-side parity).
    ("q90_indexed_search", (s: SparkSession, d: String) => {
      val idx = DevRun.fixtureRoot("q90_idx") + "/index"
      val table = s"$d/documents.parquet"
      graft.operators.TextIndex.buildWordIndex(s, table, "text", idx)
      graft.operators.TextIndex.searchWord(s, table, idx, "text", "dup")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang, source FROM documents
      WHERE list_contains(string_split(trim(regexp_replace(regexp_replace(
        lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '), 'dup')
      ORDER BY doc_id""")),


    // File-skipping stats (FileStats + GraftFileIndex): commit orders
    // as a range-laid-out snapshot, then read it back THROUGH the
    // planning-time pruning index — the query's own WHERE drives which
    // files are opened (Delta/Iceberg-style data skipping over the
    // custom manifest store). Results must equal the plain filtered
    // scan the oracle runs; the pruning itself is measured in
    // DataSkippingSpec and SCALE.md.
    ("q91_snapshot_skipping", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q91_store") + "/t"
      val orders = t(s, d, "orders")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
      graft.sinks.SnapshotStore.commit(s, orders, root, "o_orderpriority")
      graft.sinks.SnapshotStore.table(s, root)
        .filter(col("o_orderkey") < 1000 && col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE o_orderkey < 1000 AND o_orderpriority = '1-URGENT'
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),


    // Bloom-filter point lookup (SnapshotStore.addBloomFilters):
    // customers committed in HASH order, so every file's c_name
    // min/max spans the domain and range stats prune nothing — the
    // per-file bloom skips by content instead (false positives only
    // ever keep a file, so the answer is exactly the plain lookup the
    // oracle runs). DataSkippingSpec pins the pruning counts; this row
    // gates the result through the full table() read path.
    ("q94_bloom_lookup", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q94_store") + "/t"
      val customers = t(s, d, "customer")
        .withColumn("part", pmod(col("c_custkey"), lit(4)).cast("string"))
        .repartition(8)
      graft.sinks.SnapshotStore.commit(s, customers, root, "part")
      graft.sinks.SnapshotStore.addBloomFilters(s, root, Seq("c_name"))
      graft.sinks.SnapshotStore.table(s, root)
        .filter(col("c_name") === "Customer#000000042")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE c_name = 'Customer#000000042'
      ORDER BY c_custkey""")),


    // SQL/catalog surface for the snapshot store (SnapshotSource):
    // the ENTIRE read — view registration, filter, aggregate — is
    // plain SQL over the `graft-snapshot` format, so a pure-SQL user
    // gets manifest-driven file skipping with no Scala API in sight.
    // The relation behind the view is exactly SnapshotStore.table's
    // (DataSkippingSpec pins the shared pruning counts).
    ("q101_sql_snapshot", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q101_store") + "/t"
      val li = t(s, d, "lineitem")
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
      graft.sinks.SnapshotStore.commit(s, li, root, "l_returnflag")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_q101 " +
        s"USING `graft-snapshot` OPTIONS (path '$root')")
      s.sql("""
        SELECT l_returnflag, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_q101
        WHERE l_orderkey < 1000
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    }, Some("""
      SELECT l_returnflag, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_orderkey < 1000
      GROUP BY l_returnflag ORDER BY l_returnflag""")),


    // Z-order layout maintenance through the full read path
    // (SnapshotStore.compactZOrder): four arrival-ordered incremental
    // commits build a table whose files all span the key domain, the
    // compaction rewrites it Z-ordered on (custkey, orderkey), and the
    // oracle checks the rewrite changed LAYOUT only — the filtered
    // content equals the plain scan. DataSkippingSpec pins the
    // pruning-count improvement on the same shape.
    ("q102_compact_zorder", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q102_store") + "/t"
      val orders = t(s, d, "orders").withColumn("part", lit("x"))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(4)) === 0).repartition(4),
        root, "part")
      (1 to 3).foreach { i =>
        graft.sinks.SnapshotStore.mergeCommit(s,
          orders.filter(pmod(col("o_orderkey"), lit(4)) === i).repartition(4),
          root, "o_orderkey", "o_orderkey", "part")
      }
      graft.sinks.SnapshotStore.compactZOrder(s, root, "part",
        Seq("o_custkey", "o_orderkey"), filesPerPartition = 8)
      graft.sinks.SnapshotStore.table(s, root)
        .filter(col("o_custkey") < 100)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_custkey < 100 ORDER BY o_orderkey""")),


    // Snapshot-driven text-index maintenance end-to-end (TextIndex
    // .appendForSnapshotVersion / searchWordInSnapshot): index v1,
    // replace ONE partition in v2 (a word-preserving text edit), index
    // the v2 diff, then search through the index — candidates from
    // BOTH carried v1 files and v2's new files, intersected with the
    // live manifest. The result must equal the scan truth, which is
    // exactly q90's oracle (the edit only prefixes text, so 'dup'
    // membership is unchanged).
    ("q110_snapshot_text_index", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q110")
      val root = s"$dir/t"; val idx = s"$dir/idx"
      val docs = t(s, d, "documents")
        .withColumn("part", pmod(col("doc_id"), lit(4)).cast("string"))
        .withColumn("v", lit(1))
      val v1 = graft.sinks.SnapshotStore.commit(s, docs, root, "part")
      graft.operators.TextIndex.appendForSnapshotVersion(s, root, v1, "text", idx)
      val upd = docs
        .filter(pmod(col("doc_id"), lit(4)) === 1 && col("doc_id") < 50)
        .withColumn("text", concat(lit("freshword "), col("text")))
        .withColumn("v", lit(2))
      val v2 = graft.sinks.SnapshotStore.mergeCommit(s, upd, root,
        "doc_id", "v", "part")
      graft.operators.TextIndex.appendForSnapshotVersion(s, root, v2, "text", idx)
      graft.operators.TextIndex.searchWordInSnapshot(s, root, idx, "text", "dup")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang, source FROM documents
      WHERE list_contains(string_split(trim(regexp_replace(regexp_replace(
        lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '), 'dup')
      ORDER BY doc_id""")),


    // Standard time-travel SQL through the V2 snapshot catalog
    // (GraftCatalog + ResolveGraftSnapshot): commit customers, merge a
    // +1000 balance update onto every 3rd key as version 2, then read
    // BOTH versions with plain `VERSION AS OF` — no format options, no
    // Scala API. The oracle recomputes each version's aggregate from
    // the base table and the update rule; GraftCatalogSpec pins that
    // these reads still plan through the skipping file index.
    ("q118_sql_time_travel", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q118_store") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"),
        col("c_mktsegment").as("part"), lit(1L).as("ver"))
      graft.sinks.SnapshotStore.commit(s, c, root, "part")
      graft.sinks.SnapshotStore.mergeCommit(s,
        c.filter(pmod(col("c_custkey"), lit(3)) === 0)
          .withColumn("bal", col("bal") + lit(1000).cast("decimal(18,2)"))
          .withColumn("ver", lit(2L)),
        root, "c_custkey", "ver", "part")
      s.conf.set("spark.sql.catalog.graft_tt",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"""
        SELECT 1 AS snap, count(*) AS n, CAST(sum(bal) AS DOUBLE) AS total
        FROM graft_tt.`$root` VERSION AS OF 1
        UNION ALL
        SELECT 2 AS snap, count(*) AS n, CAST(sum(bal) AS DOUBLE) AS total
        FROM graft_tt.`$root` VERSION AS OF 2
        ORDER BY snap""")
    }, Some("""
      WITH c AS (SELECT c_custkey,
             CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer)
      SELECT 1 AS snap, count(*) AS n, CAST(sum(bal) AS DOUBLE) AS total
      FROM c
      UNION ALL
      SELECT 2 AS snap, count(*) AS n,
        CAST(sum(bal + CASE WHEN c_custkey % 3 = 0
          THEN CAST(1000 AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2))
          END) AS DOUBLE) AS total
      FROM c
      ORDER BY snap""")),


    // Keyed delete as an atomic snapshot commit
    // (SnapshotStore.deleteCommit, K3 at snapshot granularity): the
    // key list carries NO partition column, so the store must probe —
    // a column-pruned (key, partition) semi-join — to find which
    // partitions to rewrite, carry the rest by reference, and the
    // post-delete read must equal the oracle's anti-filter.
    ("q125_snapshot_delete", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q125_store") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_custkey"),
        col("o_totalprice"))
      graft.sinks.SnapshotStore.commit(s, orders, root, "o_orderstatus")
      graft.sinks.SnapshotStore.deleteCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(7)) === 0)
          .select(col("o_orderkey")),
        root, "o_orderkey", "o_orderstatus")
      graft.sinks.SnapshotStore.table(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey""")),


    // Row-level change feed between snapshot versions
    // (SnapshotStore.changes): v1 commits a base, v2 merge-updates
    // every %5==0 key and inserts the %5==4 keys v1 withheld, v3
    // delete-commits the %5==1 keys. The feed v1→v3 must classify
    // exactly those three classes — updates/inserts with to-version
    // values, deletes with from-version values, untouched keys ABSENT
    // — and the oracle derives all of it from the key arithmetic.
    ("q126_change_feed", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q126_store") + "/t"
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
      graft.sinks.SnapshotStore.changes(s, root, 1L, 3L, "o_orderkey")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("rev"), col("_change_type"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 5 = 1 THEN 1 ELSE 2 END AS rev,
        CASE WHEN o_orderkey % 5 = 0 THEN 'update'
             WHEN o_orderkey % 5 = 4 THEN 'insert'
             ELSE 'delete' END AS _change_type
      FROM orders WHERE o_orderkey % 5 IN (0, 1, 4)
      ORDER BY o_orderkey""")),


    // Incremental corpus dedup (Dedup.dedupIncremental): the accepted
    // corpus's MinHash signature index is PERSISTED (snapshot store,
    // partitioned by band) and a new ingest batch — fresh docs, near
    // -dups of indexed docs, and near-dups of other batch docs — is
    // deduplicated against it without re-shingling the corpus. The
    // oracle replays the md5 signatures, the banded probe vs the
    // corpus, and the within-batch keep-first, all in SQL.
    ("q127_incremental_dedup", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q127_store") + "/t"
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      val idx = graft.operators.Dedup.minHashIndex(corpus,
        col("text"), col("doc_id"),
        numHashes = 12, bands = 4, shingleWidth = 3, fastHash = false)
      graft.sinks.SnapshotStore.commit(s, idx, root, "band")
      val batch = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" zz yy xx")).as("text")))
        .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
          .select((col("doc_id") + 300000).as("doc_id"),
            concat(col("text"), lit(" aa bb")).as("text")))
      graft.operators.Dedup.dedupIncremental(batch,
          col("text"), col("doc_id"),
          graft.sinks.SnapshotStore.read(s, root),
          numHashes = 12, bands = 4, shingleWidth = 3,
          threshold = 0.3, fastHash = false)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }, Some {
      val seeds = (0 until 12).map(i => s"list_min(list_transform(sh, s -> md5('$i|' || s)))")
        .mkString("[", ", ", "]")
      s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100),
      batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= 100 AND doc_id < 200
        UNION ALL
        SELECT doc_id + 200000 AS doc_id, text || ' zz yy xx' AS text
        FROM documents WHERE doc_id < 50
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, text || ' aa bb' AS text
        FROM documents WHERE doc_id >= 100 AND doc_id < 120),
      alld AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch),
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
      vs_corpus AS (
        SELECT DISTINCT l.doc_id FROM banded l
        JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
        WHERE l.doc_id >= 100 AND r.doc_id < 100
          AND len(list_filter(generate_series(1, 12),
                i -> l.sig[i] = r.sig[i])) / 12.0 >= 0.3),
      within AS (
        SELECT DISTINCT l.doc_id FROM banded l
        JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
        WHERE l.doc_id >= 100 AND r.doc_id >= 100 AND l.doc_id > r.doc_id
          AND len(list_filter(generate_series(1, 12),
                i -> l.sig[i] = r.sig[i])) / 12.0 >= 0.3)
      SELECT doc_id, length(text) AS n_chars FROM batch
      WHERE doc_id NOT IN (SELECT doc_id FROM vs_corpus)
        AND doc_id NOT IN (SELECT doc_id FROM within)
      ORDER BY doc_id"""
    }),


    // Pure-SQL CDC (the table_changes analog): the q126 change feed
    // consumed ENTIRELY through SQL — a `graft-snapshot` view with
    // changesFrom/changesTo/key options — so a SQL-only user reads
    // row-level diffs with no Scala API in sight. Same oracle as the
    // API form: the classifications derive from the key arithmetic.
    ("q135_sql_change_feed", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q135_store") + "/t"
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
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_q135 " +
        s"USING `graft-snapshot` OPTIONS (path '$root', " +
        s"changesFrom '1', changesTo '3', key 'o_orderkey')")
      s.sql("""
        SELECT o_orderkey, o_orderstatus, o_totalprice, rev, _change_type
        FROM graft_q135 ORDER BY o_orderkey""")
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 5 = 1 THEN 1 ELSE 2 END AS rev,
        CASE WHEN o_orderkey % 5 = 0 THEN 'update'
             WHEN o_orderkey % 5 = 4 THEN 'insert'
             ELSE 'delete' END AS _change_type
      FROM orders WHERE o_orderkey % 5 IN (0, 1, 4)
      ORDER BY o_orderkey""")),


    // E48: RESTORE — roll the table back to v1 by reference (a pure
    // metadata commit), then read the CURRENT version. The restored
    // content must be exactly v1's: the merge's updates and inserts
    // vanish, yet remain time-travelable (spec-pinned). Oracle derives
    // v1 from the same key arithmetic that built it.
    ("q136_snapshot_restore", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q136_store") + "/t"
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
      val v = graft.sinks.SnapshotStore.restore(s, root, 1L)
      require(v == 3L, s"restore committed v$v, expected 3")
      graft.sinks.SnapshotStore.table(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("rev"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS rev
      FROM orders WHERE o_orderkey % 5 <> 4
      ORDER BY o_orderkey""")),


    // E48: DESCRIBE HISTORY — the per-version audit view over a
    // commit → merge → delete → restore sequence. Operations come from
    // the manifest's #op tag; partition and row counts replay from the
    // same key arithmetic (total_rows via the stats sidecar — no data
    // read).
    ("q137_snapshot_history", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q137_store") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(m5 =!= 4).withColumn("rev", lit(1)),
        root, "o_orderstatus")
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 4).withColumn("rev", lit(2)), root,
        "o_orderkey", "rev", "o_orderstatus")
      graft.sinks.SnapshotStore.deleteCommit(s,
        orders.filter(m5 === 1).select(col("o_orderkey")), root,
        "o_orderkey", "o_orderstatus")
      graft.sinks.SnapshotStore.restore(s, root, 1L)
      graft.sinks.SnapshotStore.history(s, root)
        .select(col("version"), col("operation"),
          col("n_partitions"), col("total_rows"))
        .orderBy(col("version"))
    }, Some("""
      SELECT CAST(1 AS BIGINT) AS version, 'commit' AS operation,
        (SELECT count(DISTINCT o_orderstatus) FROM orders
          WHERE o_orderkey % 5 <> 4) AS n_partitions,
        (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 4) AS total_rows
      UNION ALL SELECT 2, 'merge',
        (SELECT count(DISTINCT o_orderstatus) FROM orders),
        (SELECT count(*) FROM orders)
      UNION ALL SELECT 3, 'delete',
        (SELECT count(DISTINCT o_orderstatus) FROM orders
          WHERE o_orderkey % 5 <> 1),
        (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 1)
      UNION ALL SELECT 4, 'restore',
        (SELECT count(DISTINCT o_orderstatus) FROM orders
          WHERE o_orderkey % 5 <> 4),
        (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 4)
      ORDER BY version""")),


    // E53: shallow clone — a zero-copy table fork. Source committed
    // from key arithmetic, cloned, then the CLONE takes a merge
    // (%7==0 rows repriced) while the SOURCE takes a delete (%7==1
    // rows dropped). Reading both sides tagged into one result pins
    // the isolation: the clone shows the merge but not the delete,
    // the source shows the delete but not the merge. Oracle derives
    // both sides from the same arithmetic.
    ("q144_shallow_clone", (s: SparkSession, d: String) => {
      val src = DevRun.fixtureRoot("q144_src") + "/t"
      val dst = DevRun.fixtureRoot("q144_dst") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m7 = pmod(col("o_orderkey"), lit(7))
      graft.sinks.SnapshotStore.commit(s,
        orders.withColumn("rev", lit(1)), src, "o_orderstatus")
      graft.sinks.SnapshotStore.cloneTo(s, src, dst)
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 500.0)
          .withColumn("rev", lit(2)),
        dst, "o_orderkey", "rev", "o_orderstatus")
      graft.sinks.SnapshotStore.deleteCommit(s,
        orders.filter(m7 === 1).select(col("o_orderkey")),
        src, "o_orderkey", "o_orderstatus")
      val srcRead = graft.sinks.SnapshotStore.table(s, src)
        .withColumn("side", lit("source"))
      val dstRead = graft.sinks.SnapshotStore.table(s, dst)
        .withColumn("side", lit("clone"))
      srcRead.unionByName(dstRead)
        .select(col("side"), col("o_orderkey"), col("o_totalprice"), col("rev"))
        .orderBy(col("side"), col("o_orderkey"))
    }, Some("""
      SELECT 'source' AS side, o_orderkey, o_totalprice, 1 AS rev
      FROM orders WHERE o_orderkey % 7 <> 1
      UNION ALL
      SELECT 'clone', o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 500.0
             ELSE o_totalprice END,
        CASE WHEN o_orderkey % 7 = 0 THEN 2 ELSE 1 END
      FROM orders
      ORDER BY side, o_orderkey""")),


    // E48 SQL surface: the SAME commit → merge → delete → restore
    // sequence as q137, but the restore AND the audit view are driven
    // purely in SQL (`RESTORE TABLE … TO VERSION AS OF`, `DESCRIBE
    // HISTORY` — the GraftSqlParser statements Delta users type),
    // through a path-addressed GraftCatalog. Oracle identical to
    // q137's: the SQL surface must be indistinguishable from the API.
    ("q148_sql_restore_history", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q148_store") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(m5 =!= 4).withColumn("rev", lit(1)),
        root, "o_orderstatus")
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 4).withColumn("rev", lit(2)), root,
        "o_orderkey", "rev", "o_orderstatus")
      graft.sinks.SnapshotStore.deleteCommit(s,
        orders.filter(m5 === 1).select(col("o_orderkey")), root,
        "o_orderkey", "o_orderstatus")
      s.conf.set("spark.sql.catalog.graft_q148",
        classOf[graft.sinks.GraftCatalog].getName)
      val restored = s.sql(
        s"RESTORE TABLE graft_q148.`$root` TO VERSION AS OF 1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      require(restored == Seq((1L, 4L)),
        s"SQL restore returned $restored, expected (1,4)")
      s.sql(s"DESCRIBE HISTORY graft_q148.`$root`")
        .select(col("version"), col("operation"),
          col("n_partitions"), col("total_rows"))
        .orderBy(col("version"))
    }, Some("""
      SELECT CAST(1 AS BIGINT) AS version, 'commit' AS operation,
        (SELECT count(DISTINCT o_orderstatus) FROM orders
          WHERE o_orderkey % 5 <> 4) AS n_partitions,
        (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 4) AS total_rows
      UNION ALL SELECT 2, 'merge',
        (SELECT count(DISTINCT o_orderstatus) FROM orders),
        (SELECT count(*) FROM orders)
      UNION ALL SELECT 3, 'delete',
        (SELECT count(DISTINCT o_orderstatus) FROM orders
          WHERE o_orderkey % 5 <> 1),
        (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 1)
      UNION ALL SELECT 4, 'restore',
        (SELECT count(DISTINCT o_orderstatus) FROM orders
          WHERE o_orderkey % 5 <> 4),
        (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 4)
      ORDER BY version""")),


    // E57: OPTIMIZE driven purely in SQL — the partition column
    // resolves from the manifest's #partcol metadata header (recorded
    // by every commit path), so the statement needs only the table
    // name. The fixture writes orders spread over 4 tasks (multi-file
    // partitions), OPTIMIZE compacts to one file per partition, and
    // the read-back must be byte-identical to the source rows — the
    // oracle is a plain projection.
    ("q155_sql_optimize", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q155_store") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sinks.SnapshotStore.commit(s, orders.repartition(4),
        root, "o_orderstatus")
      val before = graft.sinks.SnapshotStore.manifest(s, root, 1)
        .groupBy(_.partition).map(_._2.size).max
      require(before > 1, s"fixture needs multi-file partitions, got max $before")
      s.conf.set("spark.sql.catalog.graft_q155",
        classOf[graft.sinks.GraftCatalog].getName)
      val r = s.sql(s"OPTIMIZE graft_q155.`$root`")
        .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
      require(r == Seq((root, 2L)), s"SQL optimize returned $r")
      val after = graft.sinks.SnapshotStore.manifest(s, root, 2)
        .groupBy(_.partition).map(_._2.size).max
      require(after == 1, s"expected 1 file per partition, got $after")
      graft.sinks.SnapshotStore.table(s, root)
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders ORDER BY o_orderkey""")),


    // DataFrame WRITER surface (df.write.format("graft-snapshot") —
    // the Delta writer analog): base version written with the default
    // ErrorIfExists mode, then an Append that must behave as the K1
    // keyed merge (updates %5==0 rows, inserts the held-out %5==4
    // rows), read back through the plain reader. Oracle replays the
    // key arithmetic — identical semantics to the Scala mergeCommit
    // (q126's construction), now reached without any graft API call
    // on the write side.
    ("q156_dataframe_writer", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q156_store") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      orders.filter(m5 =!= 4).withColumn("rev", lit(1))
        .write.format("graft-snapshot")
        .option("partitionCol", "o_orderstatus").save(root)
      orders.filter(m5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .unionByName(orders.filter(m5 === 4))
        .withColumn("rev", lit(2))
        .write.format("graft-snapshot")
        .option("partitionCol", "o_orderstatus")
        .option("key", "o_orderkey").option("versionCol", "rev")
        .mode("append").save(root)
      s.read.format("graft-snapshot").load(root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("rev"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 5 IN (0, 4) THEN 2 ELSE 1 END AS rev
      FROM orders ORDER BY o_orderkey""")),


    // MERGE INTO SQL surface (GraftSqlParser → mergeCommitOrdered):
    // the reference's PRIMARY operator — the K1 bulk ReplaceOne upsert
    // (mongodb_loader.py:93-197) — in its standard SQL spelling. Base
    // version holds %5!=4 orders at rev 1; the MERGE source carries
    // %5 IN (0,4) rows at rev 2, so matched %5==0 rows are REPLACED
    // wholesale (price bumped, rev 2) and unmatched %5==4 rows insert.
    // Oracle replays the key arithmetic — same construction as q156,
    // now with zero graft API calls on the merge side.
    ("q157_sql_merge_into", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q157_store") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      orders.filter(m5 =!= 4).withColumn("rev", lit(1))
        .write.format("graft-snapshot")
        .option("partitionCol", "o_orderstatus").save(root)
      orders.filter(m5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .unionByName(orders.filter(m5 === 4))
        .withColumn("rev", lit(2))
        .createOrReplaceTempView("q157_updates")
      s.conf.set("spark.sql.catalog.graft_q157",
        classOf[graft.sinks.GraftCatalog].getName)
      val res = s.sql(
        s"MERGE INTO graft_q157.`$root` AS t USING q157_updates AS s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      require(res == Seq((root, 2L)), s"SQL MERGE returned $res, expected v2")
      s.read.format("graft-snapshot").load(root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("rev"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 5 IN (0, 4) THEN 2 ELSE 1 END AS rev
      FROM orders ORDER BY o_orderkey""")),


    // TIMESTAMP AS OF time travel: commit wall-clock is recorded as
    // the #ts manifest header (monotonic-clamped), and a timestamp
    // resolves to the latest version committed at or before it. The
    // base version is read back AS OF its own commit timestamp through
    // the catalog's SQL `TIMESTAMP AS OF` hook, the tip AS OF a
    // far-future timestamp through the DataFrame option — both tagged
    // and unioned so the oracle derives each epoch's content from the
    // key arithmetic alone (wall-clock values never reach the output).
    ("q158_timestamp_as_of", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q158_store") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(m5 =!= 4).withColumn("rev", lit(1)),
        root, "o_orderstatus")
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 4).withColumn("rev", lit(2)), root,
        "o_orderkey", "rev", "o_orderstatus")
      val ts1 = graft.sinks.SnapshotStore.header(s, root, 1L).ts.get
      val ts2 = graft.sinks.SnapshotStore.header(s, root, 2L).ts.get
      require(ts2 > ts1, s"commit timestamps must be monotonic: $ts1, $ts2")
      s.conf.set("spark.sql.catalog.graft_q158",
        classOf[graft.sinks.GraftCatalog].getName)
      val atV1 = s.sql(s"SELECT o_orderkey, rev FROM graft_q158.`$root` " +
        s"TIMESTAMP AS OF timestamp_millis($ts1)")
      val atTip = s.read.format("graft-snapshot")
        .option("timestampAsOf", (ts2 + 3600L * 1000).toString).load(root)
        .select(col("o_orderkey"), col("rev"))
      atV1.withColumn("as_of", lit(1))
        .unionByName(atTip.withColumn("as_of", lit(2)))
        .orderBy(col("as_of"), col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, 1 AS rev, 1 AS as_of FROM orders
      WHERE o_orderkey % 5 <> 4
      UNION ALL
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 5 = 4 THEN 2 ELSE 1 END, 2
      FROM orders
      ORDER BY as_of, o_orderkey""")),


    // Incrementally MAINTAINED quantized-IVF index
    // (Similarity.appendIvfForSnapshotVersion / ivfProbeSnapshot — the
    // q110 text-index maintenance pattern applied to E60): embeddings
    // land in TWO snapshot commits (centroids trained once at first
    // ingest, the faiss discipline), each commit assigns+quantizes
    // ONLY its manifest-diff files; the probe intersects index rows
    // with the live manifest and must rank exactly like q153's
    // from-scratch pipeline (pinned in-query). The oracle recomputes
    // assignment/quantization/integer dots from list primitives, with
    // centroids = the FIRST-commit corpus's first 16 ids.
    ("q160_ivf_incremental", (s: SparkSession, d: String) => {
      import graft.operators.Similarity
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q160")
      val root = s"$dir/t"
      val idxPath = s"$dir/ivf_index"
      val e = s.read.parquet(s"$d/embeddings.parquet")
        .withColumn("pt", pmod(col("vec_id"), lit(4)).cast("string"))
      SnapshotStore.commit(s,
        e.filter(pmod(col("vec_id"), lit(3)) =!= 0), root, "pt")
      val cents = Similarity.ivfCentroids(
        SnapshotStore.read(s, root), "vec_id", "embedding", numCells = 16)
      Similarity.appendIvfForSnapshotVersion(
        s, root, 1L, "vec_id", "embedding", cents, idxPath)
      SnapshotStore.mergeCommit(s,
        e.filter(pmod(col("vec_id"), lit(3)) === 0), root,
        "vec_id", "vec_id", "pt")
      Similarity.appendIvfForSnapshotVersion(
        s, root, 2L, "vec_id", "embedding", cents, idxPath)
      val queries = SnapshotStore.read(s, root).filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"))
      val viaIndex = Similarity.ivfProbeSnapshot(
        s, root, idxPath, cents, queries, "vec_id", "embedding",
        k = 5, nprobe = 2)
      val rebuilt = Similarity.ivfTopKQuantizedCodes(
        Similarity.ivfQuantizedIndex(
          SnapshotStore.read(s, root), "vec_id", "embedding", cents),
        cents, queries, "vec_id", "embedding", k = 5, nprobe = 2)
      val a = viaIndex.select("query_id", "neighbor_id", "qdot", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      val b = rebuilt.select("query_id", "neighbor_id", "qdot", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      require(a == b, s"incremental probe diverged from rebuild: ${a.diff(b)} / ${b.diff(a)}")
      viaIndex.select(col("query_id"), col("neighbor_id"), col("qdot"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH cent AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id % 3 <> 0 ORDER BY vec_id LIMIT 16),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ranked AS (
        SELECT e.vec_id, cent.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.v, cent.cv) /
              (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv)))
            DESC, cent.cid ASC) AS rk
        FROM e CROSS JOIN cent),
      assigned AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
      probes AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk <= 2 AND vec_id < 8),
      cc AS (SELECT vec_id,
        CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
          / 127.0 AS scale,
        embedding FROM embeddings),
      codes AS (SELECT vec_id, scale,
        CASE WHEN scale = 0
          THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
          ELSE list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) END AS c
        FROM cc),
      p AS (SELECT pr.vec_id AS query_id, a.vec_id AS neighbor_id,
        CAST(list_sum(list_transform(generate_series(1, len(n.c)),
          i -> n.c[i] * q.c[i])) AS BIGINT) AS qdot,
        q.scale AS qs, n.scale AS ns
        FROM probes pr
        JOIN assigned a ON a.cell = pr.cell AND a.vec_id <> pr.vec_id
        JOIN codes q ON q.vec_id = pr.vec_id
        JOIN codes n ON n.vec_id = a.vec_id)
      SELECT query_id, neighbor_id, qdot,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY (CAST(qdot AS DOUBLE) * qs) * ns DESC, neighbor_id)
          AS INT) AS rank
      FROM p
      QUALIFY rank <= 5
      ORDER BY query_id, rank""")),


    // DELETE FROM SQL (GraftSqlParser → SnapshotStore.deleteWhere):
    // Delta's predicate DELETE — the SQL spelling of K4's retention
    // delete (mongodb_loader.py:218-231 delete_many). Rows where the
    // predicate is TRUE vanish; the rewrite is bounded to partitions
    // holding a match (probed through the file-skipping index). The
    // oracle keeps the complement of the predicate.
    ("q162_sql_delete", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q162_store") + "/t"
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.format("graft-snapshot")
        .option("partitionCol", "o_orderstatus").save(root)
      s.conf.set("spark.sql.catalog.graft_q162",
        classOf[graft.sinks.GraftCatalog].getName)
      val res = s.sql(s"DELETE FROM graft_q162.`$root` " +
        "WHERE o_orderkey % 7 = 3 AND o_totalprice < 150000.0")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      require(res == Seq((root, 2L)), s"SQL DELETE returned $res, expected v2")
      s.read.format("graft-snapshot").load(root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE NOT (o_orderkey % 7 = 3 AND o_totalprice < 150000.0)
      ORDER BY o_orderkey""")),


    // UPDATE SQL (GraftSqlParser → SnapshotStore.updateWhere): Delta's
    // predicate UPDATE. Both assignments evaluate against the OLD row
    // (the price bump must not feed the tier derivation), values cast
    // back to the columns' existing types, and only partitions holding
    // a match rewrite. Oracle replays the CASE arithmetic.
    ("q163_sql_update", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q163_store") + "/t"
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("tier", lit(0))
        .write.format("graft-snapshot")
        .option("partitionCol", "o_orderstatus").save(root)
      s.conf.set("spark.sql.catalog.graft_q163",
        classOf[graft.sinks.GraftCatalog].getName)
      val res = s.sql(s"UPDATE graft_q163.`$root` " +
        "SET o_totalprice = o_totalprice + 5000.0, " +
        "tier = CASE WHEN o_totalprice >= 200000.0 THEN 2 ELSE 1 END " +
        "WHERE o_orderkey % 7 = 3")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      require(res == Seq((root, 2L)), s"SQL UPDATE returned $res, expected v2")
      s.read.format("graft-snapshot").load(root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("tier"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 5000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 7 <> 3 THEN 0
             WHEN o_totalprice >= 200000.0 THEN 2 ELSE 1 END AS tier
      FROM orders ORDER BY o_orderkey""")),


    // COPY INTO SQL (GraftSqlParser → SnapshotStore.copyInto) —
    // idempotent bulk file ingest, the retryable-scheduler contract:
    // each source file loads exactly once (the #copied manifest
    // ledger, atomic with its commit), a re-run with nothing new is a
    // no-op, and a late-arriving file loads alone. Three waves land
    // here with a VERIFIED no-op re-run between them; the oracle is
    // the plain union of all waves — any double-load doubles rows and
    // breaks the hash.
    ("q164_copy_into", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q164")
      val root = s"$dir/t"
      val src = s"$dir/incoming"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m3 = pmod(col("o_orderkey"), lit(3))
      orders.filter(m3 === 0).write.parquet(s"$src/wave1")
      orders.filter(m3 === 1).write.parquet(s"$src/wave2")
      val (v1, n1) = graft.sinks.SnapshotStore.copyInto(s, root, src,
        partitionCol = Some("o_orderstatus"))
      require(v1 == 1L && n1 > 0, s"first COPY: v$v1, $n1 files")
      s.conf.set("spark.sql.catalog.graft_q164",
        classOf[graft.sinks.GraftCatalog].getName)
      val rerun = s.sql(s"COPY INTO graft_q164.`$root` FROM '$src' " +
        "FILEFORMAT = PARQUET").collect().head
      require(rerun.getLong(1) == 1L && rerun.getLong(2) == 0L,
        s"re-run must be a no-op, got v${rerun.getLong(1)}/${rerun.getLong(2)} files")
      orders.filter(m3 === 2).write.parquet(s"$src/wave3")
      val third = s.sql(s"COPY INTO graft_q164.`$root` FROM '$src' " +
        "FILEFORMAT = PARQUET").collect().head
      require(third.getLong(1) == 2L && third.getLong(2) > 0L,
        s"late wave must load alone, got v${third.getLong(1)}")
      s.read.format("graft-snapshot").load(root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      ORDER BY o_orderkey""")),


    // Schema evolution on merge (Delta's mergeSchema, the reference's
    // Pydantic-defaulting analog — unified_product_schema.py:145-207):
    // a merge batch carrying a NEW column widens the table; carried
    // old-schema files read the column as typed nulls (footer-merged
    // scan), rewritten partitions hold real values for merged rows and
    // nulls for carried-over rows. The oracle derives both from key
    // arithmetic.
    ("q165_schema_evolution", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q165_store") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.withColumn("rev", lit(1)), root, "o_orderstatus")
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 0).withColumn("rev", lit(2))
          .withColumn("o_flag", pmod(col("o_orderkey"), lit(3)).cast("int")),
        root, "o_orderkey", "rev", "o_orderstatus")
      val cur = graft.sinks.SnapshotStore.read(s, root)
      require(cur.columns.contains("o_flag"),
        "merge must have widened the schema with o_flag")
      cur.select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("rev"), col("o_flag"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice,
        CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END AS rev,
        CASE WHEN o_orderkey % 5 = 0
          THEN CAST(o_orderkey % 3 AS INT) END AS o_flag
      FROM orders ORDER BY o_orderkey""")),


    // CHECK-constraint lifecycle (Delta's ALTER TABLE … ADD CONSTRAINT):
    // add (metadata-only commit) → valid merge lands → VIOLATING merge
    // fails loudly and publishes NOTHING (version pinned in-query) →
    // drop → the same batch now lands. The oracle derives the final
    // table from the arithmetic of the two merges that succeeded —
    // enforcement is proven by the %7-batch only appearing with its
    // post-drop values.
    ("q168_sql_constraints", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q168_store") + "/t"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      val m7 = pmod(col("o_orderkey"), lit(7))
      graft.sinks.SnapshotStore.commit(s,
        orders.withColumn("rev", lit(1)), root, "o_orderstatus")
      s.conf.set("spark.sql.catalog.graft_q168",
        classOf[graft.sinks.GraftCatalog].getName)
      val added = s.sql(s"ALTER TABLE graft_q168.`$root` ADD CONSTRAINT " +
        "price_pos CHECK (o_totalprice > 0)").collect()
      require(added.head.getLong(1) == 2L, "ADD CONSTRAINT must publish v2")
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("rev", lit(2)),
        root, "o_orderkey", "rev", "o_orderstatus")
      val doomed = orders.filter(m7 === 3)
        .withColumn("o_totalprice", lit(-5.0)).withColumn("rev", lit(3))
      val failed = try {
        graft.sinks.SnapshotStore.mergeCommit(s, doomed, root,
          "o_orderkey", "rev", "o_orderstatus"); false
      } catch { case e: IllegalStateException =>
        e.getMessage.contains("price_pos") }
      require(failed, "violating merge must fail naming the constraint")
      require(graft.sinks.SnapshotStore.currentVersion(s, root).contains(3L),
        "failed merge must publish nothing")
      s.sql(s"ALTER TABLE graft_q168.`$root` DROP CONSTRAINT price_pos")
      graft.sinks.SnapshotStore.mergeCommit(s, doomed, root,
        "o_orderkey", "rev", "o_orderstatus")
      s.read.format("graft-snapshot").load(root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("rev"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 7 = 3 THEN -5.0
             WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 7 = 3 THEN 3
             WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END AS rev
      FROM orders ORDER BY o_orderkey""")),


    // Partition-scoped OPTIMIZE (Delta's `OPTIMIZE t WHERE p`): only
    // partitions matching the predicate compact; the rest carry their
    // files byte-identically (pinned in-query on the manifest). The
    // oracle is content equality — a layout operation must never
    // change a row.
    ("q169_sql_optimize_where", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q169_store") + "/t"
      graft.sinks.SnapshotStore.commit(s,
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .repartition(3),
        root, "o_orderstatus")
      val before = graft.sinks.SnapshotStore.manifest(s, root, 1L)
      require(before.count(_.partition == "F") > 1 &&
        before.count(_.partition == "O") > 1,
        "fixture needs multi-file partitions")
      s.conf.set("spark.sql.catalog.graft_q169",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"OPTIMIZE graft_q169.`$root` WHERE o_orderstatus = 'F'")
      val after = graft.sinks.SnapshotStore.manifest(s, root, 2L)
      require(after.count(_.partition == "F") == 1,
        "matched partition must compact to one file")
      require(after.filter(_.partition == "O").toSet ==
        before.filter(_.partition == "O").toSet,
        "unmatched partitions must carry byte-identically")
      s.read.format("graft-snapshot").load(root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      ORDER BY o_orderkey""")),


    // DESCRIBE DETAIL (Delta's one-row table summary) — the
    // deterministic fields (format, partition column, version,
    // partition count, constraints in force) oracled; file counts and
    // byte sizes are environment-shaped and pinned by spec instead.
    ("q170_describe_detail", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q170_store") + "/t"
      graft.sinks.SnapshotStore.commit(s,
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        root, "o_orderstatus")
      graft.sinks.SnapshotStore.addConstraint(s, root,
        "price_pos", "o_totalprice > 0")
      s.conf.set("spark.sql.catalog.graft_q170",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"DESCRIBE DETAIL graft_q170.`$root`")
        .select(col("format"), col("partition_column"), col("version"),
          col("num_partitions"), col("num_rows"),
          concat_ws("|", col("constraints")).as("constraints_list"),
          // Healthy table: no swallowed maintenance failure recorded.
          coalesce(col("maintenance_last_error"), lit("none"))
            .as("maintenance_last_error"))
    }, Some("""
      SELECT 'graft-snapshot' AS format,
        'o_orderstatus' AS partition_column,
        CAST(2 AS BIGINT) AS version,
        CAST(count(DISTINCT o_orderstatus) AS INT) AS num_partitions,
        CAST(count(*) AS BIGINT) AS num_rows,
        'price_pos CHECK (o_totalprice > 0)' AS constraints_list,
        'none' AS maintenance_last_error
      FROM orders""")),


    // Deletion vectors (Delta's merge-on-read DELETE): with
    // graft.enableDeletionVectors set, SQL DELETE commits a position
    // list instead of rewriting files — REQUIRE-pinned in-query: after
    // TWO overlapping deletes the data file paths are IDENTICAL to v1
    // (zero rewrite) and both ops tag delete-dv. The hashed result
    // reads through the DV-applying catalog path; REORG … APPLY
    // (PURGE) then materializes, drops every DV, and must preserve the
    // row count. The oracle keeps the complement of the union of both
    // predicates.
    ("q171_deletion_vectors", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q171_store") + "/t"
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.format("graft-snapshot")
        .option("partitionCol", "o_orderstatus").save(root)
      s.conf.set("spark.sql.catalog.graft_q171",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"ALTER TABLE graft_q171.`$root` SET TBLPROPERTIES " +
        "('graft.enableDeletionVectors' = 'true')")
      s.sql(s"DELETE FROM graft_q171.`$root` WHERE o_orderkey % 7 = 3")
      s.sql(s"DELETE FROM graft_q171.`$root` WHERE o_orderkey % 5 = 1")
      val st = graft.sinks.SnapshotStore
      val p1 = st.manifest(s, root, 1L).map(_.path).toSet
      val m4 = st.manifest(s, root, 4L)
      require(m4.map(_.path).toSet == p1,
        "DV deletes must not touch any data file")
      require(m4.exists(_.dv.nonEmpty), "v4 must carry deletion vectors")
      require(Seq(3L, 4L).forall(v =>
        st.header(s, root, v).op.contains("delete-dv")),
        "both deletes must be merge-on-read commits")
      val live = s.sql("SELECT o_orderkey, o_orderstatus, o_totalprice " +
        s"FROM graft_q171.`$root`").orderBy(col("o_orderkey"))
      val n = live.count()
      s.sql(s"REORG TABLE graft_q171.`$root` APPLY (PURGE)")
      require(st.manifest(s, root, 5L).forall(_.dv.isEmpty),
        "REORG PURGE must drop every deletion vector")
      require(st.read(s, root).count() == n,
        "REORG PURGE must preserve live content")
      live
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE NOT (o_orderkey % 7 = 3) AND NOT (o_orderkey % 5 = 1)
      ORDER BY o_orderkey""")),


    // Table properties (Delta's TBLPROPERTIES): free-form metadata in
    // the manifest log, carried forward by every commit. SET / repeat
    // SET (overwrite one key, keep the rest) / UNSET, then SHOW
    // TBLPROPERTIES is the hashed result; a merge commit between the
    // ALTERs proves carry-forward, and the clone REQUIRE pins
    // property inheritance.
    ("q172_tblproperties", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q172_store")
      val root = s"$dir/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val st = graft.sinks.SnapshotStore
      st.commit(s, orders, root, "o_orderstatus")
      s.conf.set("spark.sql.catalog.graft_q172",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"ALTER TABLE graft_q172.`$root` SET TBLPROPERTIES " +
        "('owner' = 'data-eng', 'pipeline' = 'pim', 'retention.days' = '30')")
      // A data commit between the ALTERs: properties must ride along.
      st.mergeCommit(s, orders.limit(10), root,
        "o_orderkey", "o_totalprice", "o_orderstatus")
      s.sql(s"ALTER TABLE graft_q172.`$root` SET TBLPROPERTIES " +
        "('owner' = 'ml-platform')")
      s.sql(s"ALTER TABLE graft_q172.`$root` UNSET TBLPROPERTIES " +
        "('retention.days')")
      val clone = s"$dir/c"
      st.cloneTo(s, root, clone)
      require(st.tablePropertiesMap(s, clone) ==
        Map("owner" -> "ml-platform", "pipeline" -> "pim"),
        "clone must inherit the final property set")
      s.sql(s"SHOW TBLPROPERTIES graft_q172.`$root`").orderBy(col("key"))
    }, Some("""
      SELECT * FROM (VALUES ('owner', 'ml-platform'), ('pipeline', 'pim'))
        AS t(key, value) ORDER BY key""")),


    // Merge-on-read UPDATE (Delta's DV-backed UPDATE): q163's exact
    // assignment arithmetic replayed with graft.enableDeletionVectors
    // set — REQUIRE-pinned in-query: every original data file is
    // CARRIED (now deletion-vectored), the updated copies are new
    // files, and the op tags update-dv. Update cost ∝ matched rows.
    // The oracle is q163's, so the two UPDATE modes are pinned
    // result-identical.
    ("q175_sql_dv_update", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q175_store") + "/t"
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("tier", lit(0))
        .write.format("graft-snapshot")
        .option("partitionCol", "o_orderstatus").save(root)
      s.conf.set("spark.sql.catalog.graft_q175",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"ALTER TABLE graft_q175.`$root` SET TBLPROPERTIES " +
        "('graft.enableDeletionVectors' = 'true')")
      s.sql(s"UPDATE graft_q175.`$root` " +
        "SET o_totalprice = o_totalprice + 5000.0, " +
        "tier = CASE WHEN o_totalprice >= 200000.0 THEN 2 ELSE 1 END " +
        "WHERE o_orderkey % 7 = 3")
      val st = graft.sinks.SnapshotStore
      val p1 = st.manifest(s, root, 1L).map(_.path).toSet
      val m3 = st.manifest(s, root, 3L)
      require(p1.subsetOf(m3.map(_.path).toSet),
        "DV update must carry every original data file")
      require(m3.map(_.path).toSet.size > p1.size,
        "DV update must append new files holding the updated copies")
      require(m3.exists(_.dv.nonEmpty), "DV update must attach vectors")
      require(st.header(s, root, 3L).op.contains("update-dv"),
        "the commit must tag update-dv")
      s.read.format("graft-snapshot").load(root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("tier"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 5000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 7 <> 3 THEN 0
             WHEN o_totalprice >= 200000.0 THEN 2 ELSE 1 END AS tier
      FROM orders ORDER BY o_orderkey""")),


    // INSERT INTO SQL (the unkeyed append in its standard spelling,
    // routed to appendCommit): a VALUES insert and a SELECT insert
    // (with a positional string→int cast) land as new files while v1's
    // files carry by reference — REQUIRE-pinned. The oracle is the
    // union of the seed, the SELECT wave, and the VALUES literals.
    ("q176_sql_insert_into", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q176_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m3 = pmod(col("o_orderkey"), lit(3))
      graft.sinks.SnapshotStore.commit(s, orders.filter(m3 === 0),
        root, "o_orderstatus")
      s.conf.set("spark.sql.catalog.graft_q176",
        classOf[graft.sinks.GraftCatalog].getName)
      orders.filter(m3 =!= 0).createOrReplaceTempView("q176_rest")
      s.sql(s"INSERT INTO graft_q176.`$root` " +
        "SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS STRING) " +
        "FROM q176_rest")
      val out = s.sql(s"INSERT INTO graft_q176.`$root` " +
        "VALUES (9000001, 'Z', 1.5), (9000002, 'Z', 2.5)").collect()
      require(out.head.getLong(1) == 3L, "second INSERT must publish v3")
      val p1 = graft.sinks.SnapshotStore.manifest(s, root, 1L).map(_.path).toSet
      require(p1.subsetOf(graft.sinks.SnapshotStore.manifest(s, root, 3L)
        .map(_.path).toSet), "INSERT must carry prior files by reference")
      s.read.format("graft-snapshot").load(root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT * FROM (VALUES (9000001, 'Z', 1.5), (9000002, 'Z', 2.5))
        AS t(o_orderkey, o_orderstatus, o_totalprice)
      ORDER BY o_orderkey""")),


    // Column mapping — Delta's name mode (ALTER TABLE … RENAME COLUMN
    // as pure metadata): the rename publishes a version whose file
    // paths are IDENTICAL to its parent (require-pinned — zero
    // rewrite; parquet keeps the original physical name forever), a
    // merge then lands under the NEW logical name, and the new files'
    // PHYSICAL schema still carries the original name (require-pinned
    // by a raw read). The hashed result reads through the catalog so
    // the mapping projection sits under real SQL.
    ("q177_rename_column", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q177_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.withColumn("rev", lit(1)), root, "o_orderstatus")
      s.conf.set("spark.sql.catalog.graft_q177",
        classOf[graft.sinks.GraftCatalog].getName)
      val renamed = s.sql(s"ALTER TABLE graft_q177.`$root` " +
        "RENAME COLUMN o_totalprice TO price").collect()
      require(renamed.head.getLong(1) == 2L, "RENAME must publish v2")
      val p1 = graft.sinks.SnapshotStore.manifest(s, root, 1L).map(_.path).toSet
      require(graft.sinks.SnapshotStore.manifest(s, root, 2L)
        .map(_.path).toSet == p1, "RENAME must rewrite zero files")
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_totalprice") + 1000.0).as("price"), lit(2).as("rev")),
        root, "o_orderkey", "rev", "o_orderstatus")
      val newFiles = graft.sinks.SnapshotStore.manifest(s, root, 3L)
        .map(_.path).filterNot(p1)
      require(newFiles.nonEmpty, "merge must write new files")
      val physCols = s.read.parquet(
        new org.apache.hadoop.fs.Path(root, newFiles.head).toString).columns.toSet
      require(physCols.contains("o_totalprice") && !physCols.contains("price"),
        "new files must carry the PHYSICAL column name")
      s.sql(s"SELECT o_orderkey, o_orderstatus, price, rev " +
        s"FROM graft_q177.`$root` ORDER BY o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS price,
        CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END AS rev
      FROM orders ORDER BY o_orderkey""")),


    // DROP COLUMN (metadata tombstone — files untouched, time travel
    // resurrects) + ADD COLUMN (metadata widening — carried files read
    // the new column as typed nulls), composed: drop c_acctbal, add a
    // note column, append a wave that POPULATES it. Require-pins: both
    // ALTERs rewrite zero files; version 1 still shows c_acctbal.
    ("q178_drop_add_column", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q178_store") + "/t"
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_name"),
          col("c_acctbal"))
      graft.sinks.SnapshotStore.commit(s, cust, root, "c_mktsegment")
      s.conf.set("spark.sql.catalog.graft_q178",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"ALTER TABLE graft_q178.`$root` DROP COLUMN c_acctbal")
      s.sql(s"ALTER TABLE graft_q178.`$root` ADD COLUMN note STRING")
      val p1 = graft.sinks.SnapshotStore.manifest(s, root, 1L).map(_.path).toSet
      require(graft.sinks.SnapshotStore.manifest(s, root, 3L)
        .map(_.path).toSet == p1, "both ALTERs must rewrite zero files")
      require(graft.sinks.SnapshotStore.readVersion(s, root, 1L)
        .columns.contains("c_acctbal"), "time travel must resurrect the column")
      graft.sinks.SnapshotStore.appendCommit(s,
        cust.filter(pmod(col("c_custkey"), lit(4)) === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_mktsegment"), col("c_name"), lit("new").as("note")),
        root, "c_mktsegment")
      s.sql(s"SELECT c_custkey, c_mktsegment, c_name, note " +
        s"FROM graft_q178.`$root` ORDER BY c_custkey")
    }, Some("""
      SELECT c_custkey, c_mktsegment, c_name, CAST(NULL AS VARCHAR) AS note
      FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, c_mktsegment, c_name, 'new' AS note
      FROM customer WHERE c_custkey % 4 = 0
      ORDER BY c_custkey""")),


    // CDC-driven replication (Replicate.mirror — Delta's CDF→MERGE
    // mirror pattern): initial full copy records the synced source
    // version ATOMICALLY with the rows, then a catch-up call replays
    // the change feed (keyed merge for inserts/updates, keyed delete
    // for deletes). Require-pins: catch-up applied version 3, the
    // replica's recorded sourceVersion tracks, and a THIRD call is a
    // replica-version no-op. The hashed result is the replica —
    // derived purely from the source arithmetic, so any
    // mis-application (double insert, missed delete, stale update)
    // breaks the hash.
    ("q179_cdc_mirror", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q179_store")
      val src = s"$dir/src"; val dst = s"$dir/dst"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      val m7 = pmod(col("o_orderkey"), lit(7))
      graft.sinks.SnapshotStore.commit(s,
        orders.withColumn("rev", lit(1)), src, "o_orderstatus")
      graft.operators.Replicate.mirror(s, src, dst, "o_orderkey")
      // Source evolves: update the m5 slice, delete the m7=3 slice.
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("rev", lit(2)),
        src, "o_orderkey", "rev", "o_orderstatus")
      graft.sinks.SnapshotStore.deleteCommit(s,
        orders.filter(m7 === 3).select(col("o_orderkey")),
        src, "o_orderkey", "o_orderstatus")
      val synced = graft.operators.Replicate.mirror(s, src, dst, "o_orderkey")
      require(synced == 3L, s"catch-up must reach source v3, got $synced")
      require(graft.sinks.SnapshotStore.tablePropertiesMap(s, dst)
        .get(graft.operators.Replicate.SourceVersionProp).contains("3"),
        "replica must record the synced source version")
      val dstV = graft.sinks.SnapshotStore.currentVersion(s, dst)
      require(graft.operators.Replicate.mirror(s, src, dst, "o_orderkey") == 3L
        && graft.sinks.SnapshotStore.currentVersion(s, dst) == dstV,
        "caught-up mirror must be a replica-version no-op")
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
      ORDER BY o_orderkey""")),


    // CTAS (`CREATE TABLE … PARTITIONED BY (c) AS SELECT …`): the
    // query commits as version 1 through the create-only primitive.
    // The result reads back through the catalog.
    ("q180_ctas", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q180_store") + "/t"
      s.conf.set("spark.sql.catalog.graft_q180",
        classOf[graft.sinks.GraftCatalog].getName)
      t(s, d, "orders").createOrReplaceTempView("q180_orders")
      val out = s.sql(s"CREATE TABLE graft_q180.`$root` " +
        "PARTITIONED BY (o_orderstatus) AS " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice " +
        "FROM q180_orders WHERE o_orderkey % 3 = 0").collect()
      require(out.head.getLong(1) == 1L, "CTAS must publish v1")
      s.sql(s"SELECT o_orderkey, o_orderstatus, o_totalprice " +
        s"FROM graft_q180.`$root` ORDER BY o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""")),


    // Index retrieval through the snapshot read boundary: a text-index
    // search against a table that took a merge-on-read DELETE must not
    // resurrect DV-deleted rows (the index's candidate files are
    // unchanged — only their deletion vectors know). REQUIRE-pins the
    // delete was DV-form (op tag, zero rewritten files); the oracle
    // recomputes the surviving matches from the predicate arithmetic.
    ("q181_dv_index_search", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q181_store")
      val root = s"$dir/t"; val idx = s"$dir/index"
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.sinks.SnapshotStore.commit(s, docs, root, "lang")
      graft.operators.TextIndex.appendForSnapshotVersion(s, root, 1L, "text", idx)
      val v = graft.sinks.SnapshotStore.deleteWhereDv(s, root, "doc_id % 3 = 1")
      require(v == 2L, "DV delete must publish v2")
      require(graft.sinks.SnapshotStore.header(s, root, 2L).op
        .contains("delete-dv"), "delete must be merge-on-read")
      require(graft.sinks.SnapshotStore.manifest(s, root, 2L).map(_.path).toSet ==
        graft.sinks.SnapshotStore.manifest(s, root, 1L).map(_.path).toSet,
        "DV delete must rewrite zero files")
      graft.operators.TextIndex
        .searchWordInSnapshot(s, root, idx, "text", "dup")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang FROM documents
      WHERE doc_id % 3 <> 1 AND list_contains(string_split(trim(
        regexp_replace(regexp_replace(
          lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '), 'dup')
      ORDER BY doc_id"""))
  )
}
