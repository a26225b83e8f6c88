package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-store ENGINE-EVOLUTION queries: multi-column partition
  * specs, composite keys, conditional MERGE, partition-spec
  * evolution, type widening, metadata-priced counts, and the mirror
  * lifecycle — the rounds-10/11 extensions' oracle rows.
  *
  * One slice of [[Queries.all]] — the registry map, oracle pairing,
  * and determinism rules live there; this file only contributes
  * entries. */
private[graft] object EvolutionQueries {
  import Queries.t

  val all: Seq[(String, Queries.Q, Option[String])] = Seq(

    // Multi-column partitioning (VERDICT r9 ask #1): the snapshot
    // store generalized to a real partition SPEC — here
    // (o_orderstatus, bucket). The manifest records the comma-joined
    // spec, files land under nested __part=…/__part1=… directories,
    // and a merge touching only bucket-0 composite partitions carries
    // every other (status, bucket) partition's files BY REFERENCE
    // (require-pinned). Oracle derives the merged state from key
    // arithmetic.
    ("q182_multi_partition", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q182_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(3)).cast("int"))
      graft.sinks.SnapshotStore.commit(s, orders.withColumn("rev", lit(1)),
        root, Seq("o_orderstatus", "bucket"))
      require(graft.sinks.SnapshotStore.header(s, root, 1L).partcol
        .contains("o_orderstatus,bucket"), "spec not recorded in #partcol")
      val m1 = graft.sinks.SnapshotStore.manifest(s, root, 1L)
      require(m1.forall(e => e.path.contains("/__part=") &&
        e.path.contains("/__part1=")), "files not under nested partition dirs")
      // Keys ≡ 0 (mod 15) are exactly bucket 0 ∩ (key%5 == 0): the
      // merge touches only */0 composite partitions.
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(15)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("rev", lit(2)),
        root, "o_orderkey", "rev", Seq("o_orderstatus", "bucket"))
      val m2 = graft.sinks.SnapshotStore.manifest(s, root, 2L).toSet
      require(m1.filterNot(_.partition.endsWith("/0")).forall(m2.contains),
        "a bucket-0 merge rewrote bucket-1/2 partitions")
      require(m1.filter(_.partition.endsWith("/0")).exists(e => !m2.contains(e)),
        "no bucket-0 partition was rewritten")
      graft.sinks.SnapshotStore.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("bucket"),
          col("o_totalprice"), col("rev"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CAST(o_orderkey % 3 AS INTEGER) AS bucket,
        CASE WHEN o_orderkey % 15 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 15 = 0 THEN 2 ELSE 1 END AS rev
      FROM orders ORDER BY o_orderkey""")),


    // Richer MERGE INTO (VERDICT r9 ask #2) — the canonical Delta
    // CDC-apply statement, pure SQL: WHEN MATCHED AND s.deleted THEN
    // DELETE, column-level SET for the update leg, conditional
    // INSERT *. The whole statement is ONE atomic commit
    // (require-pinned: exactly one version advance), and the
    // source-only `deleted` flag must not leak into the table.
    ("q183_sql_merge_cdc", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q183_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(m5 =!= 4).withColumn("rev", lit(1)),
        root, "o_orderstatus")
      orders.filter(m5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("rev", lit(2)).withColumn("deleted", lit(false))
        .unionByName(orders.filter(m5 === 4)
          .withColumn("rev", lit(2)).withColumn("deleted", lit(false)))
        .unionByName(orders.filter(m5 === 1)
          .withColumn("rev", lit(1)).withColumn("deleted", lit(true)))
        .createOrReplaceTempView("q183_cdc")
      s.conf.set("spark.sql.catalog.graft_q183",
        classOf[graft.sinks.GraftCatalog].getName)
      val res = s.sql(
        s"MERGE INTO graft_q183.`$root` t USING q183_cdc s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED AND s.deleted THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, rev = s.rev " +
          "WHEN NOT MATCHED AND NOT s.deleted THEN INSERT *")
        .collect().map(_.getLong(1)).toSeq
      require(res == Seq(2L),
        s"CDC-apply MERGE must be ONE atomic commit (v2), got $res")
      val out = graft.sinks.SnapshotStore.read(s, root)
      require(!out.columns.contains("deleted"),
        "source-only column leaked into the table without SET *")
      out.select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("rev"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 5 IN (0, 4) THEN 2 ELSE 1 END AS rev
      FROM orders WHERE o_orderkey % 5 <> 1
      ORDER BY o_orderkey""")),


    // Composite keys (VERDICT r9 ask #3): a natural key split across
    // two columns — (hi, lo) = (key div 100, key mod 100), unique by
    // construction. The SQL MERGE joins ON both columns
    // (AND-combined), and the change feed classifies on the composite
    // key; the output is the feed itself, so a key-identity bug
    // (joining on lo alone would cross-match hundreds of rows)
    // cannot hash-match the oracle.
    ("q184_composite_key", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q184_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("hi", expr("o_orderkey div 100"))
        .withColumn("lo", pmod(col("o_orderkey"), lit(100)))
        .drop("o_orderkey")
      val key5 = pmod(col("hi") * 100 + col("lo"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(key5 =!= 4).withColumn("rev", lit(1)),
        root, "o_orderstatus")
      orders.filter(key5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("rev", lit(2))
        .unionByName(orders.filter(key5 === 4).withColumn("rev", lit(2)))
        .createOrReplaceTempView("q184_src")
      s.conf.set("spark.sql.catalog.graft_q184",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"MERGE INTO graft_q184.`$root` t USING q184_src s " +
        "ON t.hi = s.hi AND t.lo = s.lo " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
      graft.sinks.SnapshotStore.changes(s, root, 1L, 2L, Seq("hi", "lo"))
        .select(col("hi"), col("lo"), col("rev"), col("_change_type"))
        .orderBy(col("hi"), col("lo"))
    }, Some("""
      SELECT o_orderkey // 100 AS hi, o_orderkey % 100 AS lo,
        2 AS rev,
        CASE WHEN o_orderkey % 5 = 4 THEN 'insert' ELSE 'update' END
          AS _change_type
      FROM orders WHERE o_orderkey % 5 IN (0, 4)
      ORDER BY hi, lo""")),


    // Plain CREATE TABLE (VERDICT r9 ask #5): an EMPTY snapshot table
    // born from DDL — schema recorded in the stats sidecar, partition
    // spec in #partcol — then filled by INSERT INTO, all pure SQL.
    ("q185_sql_create_table", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q185_store") + "/t"
      s.conf.set("spark.sql.catalog.graft_q185",
        classOf[graft.sinks.GraftCatalog].getName)
      val created = s.sql(s"CREATE TABLE graft_q185.`$root` " +
        "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "rev INT) USING `graft-snapshot` PARTITIONED BY (o_orderstatus)")
        .collect().map(_.getLong(1)).toSeq
      require(created == Seq(1L), s"CREATE TABLE must publish v1, got $created")
      val empty = graft.sinks.SnapshotStore.read(s, root)
      require(empty.columns.toSeq ==
        Seq("o_orderkey", "o_orderstatus", "o_totalprice", "rev") &&
        empty.count() == 0, "empty table must read back with the DDL schema")
      t(s, d, "orders").createOrReplaceTempView("q185_src")
      s.sql(s"INSERT INTO graft_q185.`$root` " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice, 1 FROM q185_src " +
        "WHERE o_orderkey % 5 <> 4").collect()
      graft.sinks.SnapshotStore.read(s, root)
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice,
        CAST(1 AS INTEGER) AS rev
      FROM orders WHERE o_orderkey % 5 <> 4
      ORDER BY o_orderkey""")),


    // Manifest checkpointing equivalence (E67, VERDICT r9 ask #7): the
    // SAME five-commit sequence built twice — checkpoint interval 3 vs
    // effectively disabled — must be byte-equivalent at every
    // observable surface: current read, history (operation/partition/
    // row metrics), and the full CDC replay. The pointer itself is
    // require-pinned (present at v3 for interval 3, absent when
    // disabled), so the oracle row proves the checkpoint is a pure
    // optimization hint, never a semantic input.
    ("q187_checkpoint_equivalence", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q187_store")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      def build(root: String, interval: String): Unit = {
        val prev = s.conf.get("spark.graft.checkpointInterval", "10")
        s.conf.set("spark.graft.checkpointInterval", interval)
        try {
          graft.sinks.SnapshotStore.commit(s,
            orders.withColumn("rev", lit(1)), root, "o_orderstatus")
          (0 until 4).foreach { j =>
            graft.sinks.SnapshotStore.mergeCommit(s,
              orders.filter(pmod(col("o_orderkey"), lit(4)) === j)
                .withColumn("o_totalprice", col("o_totalprice") + j)
                .withColumn("rev", lit(10 + j)),
              root, "o_orderkey", "rev", "o_orderstatus")
          }
        } finally s.conf.set("spark.graft.checkpointInterval", prev)
      }
      val a = s"$dir/ckpt3"; val b = s"$dir/nockpt"
      build(a, "3"); build(b, "1000000")
      require(graft.sinks.SnapshotStore.lastCheckpointVersion(s, a)
        .contains(3L), "interval-3 table must checkpoint at v3")
      require(graft.sinks.SnapshotStore.lastCheckpointVersion(s, b).isEmpty,
        "disabled-checkpoint table must have no pointer")
      def surface(root: String) = (
        graft.sinks.SnapshotStore.read(s, root),
        graft.sinks.SnapshotStore.history(s, root)
          .select("version", "operation", "n_partitions", "total_rows",
            "rows_added", "rows_removed"),
        graft.sinks.SnapshotStore.changes(s, root, 1L, 5L, "o_orderkey"))
      val (ra, ha, ca) = surface(a); val (rb, hb, cb) = surface(b)
      // SET equality per surface pair in ONE pass: tag each side,
      // union, group by every value column — a row value present in
      // only one side groups with one distinct tag. Exactly the
      // two-way `x.except(y).isEmpty && y.except(x).isEmpty` proof
      // (except() is set-based symmetric-difference membership, and
      // Spark normalizes NaN/-0.0 identically in both operators), at
      // half the passes: one shuffle of both sides instead of two
      // anti-join actions each scanning both sides.
      def requireSetEqual(x: org.apache.spark.sql.DataFrame,
                          y: org.apache.spark.sql.DataFrame,
                          what: String): Unit = {
        val oneSided = x.withColumn("__side", lit(1))
          .unionByName(y.withColumn("__side", lit(2)))
          .groupBy(x.columns.toSeq.map(col): _*)
          .agg(countDistinct(col("__side")).as("__sides"))
          .filter(col("__sides") < 2)
          .limit(1).collect()
        require(oneSided.isEmpty, s"$what diverged under checkpointing")
      }
      requireSetEqual(ra, rb, "reads")
      requireSetEqual(ha, hb, "history")
      requireSetEqual(ca, cb, "CDC replay")
      ra.orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        o_totalprice + (o_orderkey % 4) AS o_totalprice,
        CAST(10 + (o_orderkey % 4) AS INTEGER) AS rev
      FROM orders ORDER BY o_orderkey""")),


    // Clone + VACUUM DRY RUN, pure SQL (E80, VERDICT r9 ask #7): a
    // SHALLOW CLONE pinned VERSION AS OF 2, then VACUUM's DRY RUN
    // preview require-pinned to equal EXACTLY the files the real
    // VACUUM then deletes (existence checked before and after). The
    // clone reads v2's content afterwards — its referenced files
    // survive because retained source manifests still list them.
    ("q188_sql_clone_vacuum", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q188_store")
      val src = s"$dir/src"; val dst = s"$dir/dst"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(m5 =!= 4).withColumn("rev", lit(1)), src, "o_orderstatus")
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("rev", lit(2)),
        src, "o_orderkey", "rev", "o_orderstatus")
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 4).withColumn("rev", lit(3)),
        src, "o_orderkey", "rev", "o_orderstatus")
      s.conf.set("spark.sql.catalog.graft_q188",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"CREATE TABLE graft_q188.`$dst` SHALLOW CLONE " +
        s"graft_q188.`$src` VERSION AS OF 2").collect()
      val preview = s.sql(s"VACUUM graft_q188.`$src` RETAIN 0 HOURS DRY RUN")
        .collect().map(_.getString(0)).toSet
      require(preview.nonEmpty, "three versions must leave vacuumable files")
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(preview.forall(p =>
        fs.exists(new org.apache.hadoop.fs.Path(src, p))),
        "DRY RUN listed files that do not exist")
      s.sql(s"VACUUM graft_q188.`$src` RETAIN 0 HOURS").collect()
      require(preview.forall(p =>
        !fs.exists(new org.apache.hadoop.fs.Path(src, p))),
        "VACUUM deleted a different set than its DRY RUN previewed")
      require(graft.sinks.SnapshotStore.versions(s, src) == Seq(2L, 3L),
        "VACUUM must drop only the rolled-over manifest")
      graft.sinks.SnapshotStore.read(s, dst)
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END AS rev
      FROM orders WHERE o_orderkey % 5 <> 4
      ORDER BY o_orderkey""")),


    // History operation metrics (E89, VERDICT r9 ask #7):
    // rows_added / rows_removed derived purely from key arithmetic —
    // a merge's touched partitions are the statuses its slice spans,
    // rows_added is those partitions' full post-merge row count and
    // rows_removed their pre-merge count; a keyed delete removes its
    // touched partitions' old files and re-adds the survivors.
    ("q189_history_metrics", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q189_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(m5 =!= 4).withColumn("rev", lit(1)),
        root, "o_orderstatus")
      graft.sinks.SnapshotStore.mergeCommit(s,
        orders.filter(m5 === 4).withColumn("rev", lit(2)),
        root, "o_orderkey", "rev", "o_orderstatus")
      graft.sinks.SnapshotStore.deleteCommit(s,
        orders.filter(m5 === 1).select(col("o_orderkey")),
        root, "o_orderkey", "o_orderstatus")
      graft.sinks.SnapshotStore.history(s, root)
        .select(col("version"), col("operation"),
          col("rows_added"), col("rows_removed"))
        .orderBy(col("version"))
    }, Some("""
      WITH touched2 AS (SELECT DISTINCT o_orderstatus FROM orders
                        WHERE o_orderkey % 5 = 4),
           touched3 AS (SELECT DISTINCT o_orderstatus FROM orders
                        WHERE o_orderkey % 5 = 1)
      SELECT CAST(1 AS BIGINT) AS version, 'commit' AS operation,
        (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 4)
          AS rows_added,
        CAST(0 AS BIGINT) AS rows_removed
      UNION ALL SELECT 2, 'merge',
        (SELECT count(*) FROM orders
          WHERE o_orderstatus IN (SELECT o_orderstatus FROM touched2)),
        (SELECT count(*) FROM orders
          WHERE o_orderkey % 5 <> 4
            AND o_orderstatus IN (SELECT o_orderstatus FROM touched2))
      UNION ALL SELECT 3, 'delete',
        (SELECT count(*) FROM orders
          WHERE o_orderkey % 5 <> 1
            AND o_orderstatus IN (SELECT o_orderstatus FROM touched3)),
        (SELECT count(*) FROM orders
          WHERE o_orderstatus IN (SELECT o_orderstatus FROM touched3))
      ORDER BY version""")),


    // Full-sync MERGE (Delta's WHEN NOT MATCHED BY SOURCE legs — the
    // reference's stale-product retention, mongodb_loader.py's
    // delete-stale flow, as ONE SQL statement): matched rows update,
    // unmatched source rows insert, and target rows ABSENT from the
    // source either delete (guarded) or archive via a t.-scoped
    // column SET — all in one atomic commit (require-pinned).
    ("q190_sql_merge_full_sync", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q190_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(m5 =!= 4).withColumn("rev", lit(1)),
        root, "o_orderstatus")
      orders.filter(m5.isin(0, 2, 4))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("rev", lit(2))
        .createOrReplaceTempView("q190_src")
      s.conf.set("spark.sql.catalog.graft_q190",
        classOf[graft.sinks.GraftCatalog].getName)
      val res = s.sql(
        s"MERGE INTO graft_q190.`$root` t USING q190_src s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT * " +
          "WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 5 = 1 THEN DELETE " +
          "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET rev = 0")
        .collect().map(_.getLong(1)).toSeq
      require(res == Seq(2L),
        s"full-sync MERGE must be ONE atomic commit (v2), got $res")
      graft.sinks.SnapshotStore.read(s, root)
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 IN (0, 2, 4)
             THEN o_totalprice + 1000.0 ELSE o_totalprice END
          AS o_totalprice,
        CASE WHEN o_orderkey % 5 IN (0, 2, 4) THEN 2 ELSE 0 END AS rev
      FROM orders WHERE o_orderkey % 5 <> 1
      ORDER BY o_orderkey""")),


    // Metadata-only partition delete (E96): a DELETE whose predicate
    // references only the partition column drops whole partitions with
    // ONE manifest write — require-pinned: the new manifest is a
    // strict SUBSET of the old (zero files written), and a follow-up
    // TRUNCATE empties the table as metadata while the schema and
    // writability survive. Oracle derives the surviving rows (then the
    // re-inserted wave) from key arithmetic.
    ("q191_partition_delete", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q191_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sinks.SnapshotStore.commit(s, orders, root, "o_orderstatus")
      s.conf.set("spark.sql.catalog.graft_q191",
        classOf[graft.sinks.GraftCatalog].getName)
      val m1 = graft.sinks.SnapshotStore.manifest(s, root, 1L)
      s.sql(s"DELETE FROM graft_q191.`$root` WHERE o_orderstatus = 'F'")
        .collect()
      val m2 = graft.sinks.SnapshotStore.manifest(s, root, 2L)
      require(m2.toSet.subsetOf(m1.toSet) && m2.size < m1.size,
        "partition delete must drop entries without writing files")
      require(!m2.exists(_.partition == "F"), "partition F must be gone")
      val afterDelete = graft.sinks.SnapshotStore.read(s, root)
        .withColumn("phase", lit("deleted"))
      // TRUNCATE then refill a slice: the empty table stays writable.
      s.sql(s"TRUNCATE TABLE graft_q191.`$root`").collect()
      require(graft.sinks.SnapshotStore.read(s, root).count() == 0,
        "TRUNCATE must empty the table")
      require(graft.sinks.SnapshotStore
        .manifest(s, root, 3L).isEmpty, "TRUNCATE must be metadata-only")
      orders.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .createOrReplaceTempView("q191_refill")
      s.sql(s"INSERT INTO graft_q191.`$root` SELECT * FROM q191_refill")
        .collect()
      val refilled = graft.sinks.SnapshotStore.read(s, root)
        .withColumn("phase", lit("refilled"))
      afterDelete.unionByName(refilled)
        .orderBy(col("phase"), col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             'deleted' AS phase
      FROM orders WHERE o_orderstatus <> 'F'
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             'refilled' AS phase
      FROM orders WHERE o_orderkey % 5 = 0
      ORDER BY phase, o_orderkey""")),


    // Multi-column ADD COLUMNS (E95): ONE metadata commit widens the
    // table by an INT and a comma-bearing DECIMAL(12,2) — carried
    // files read both as typed nulls, zero files rewritten
    // (require-pinned: exactly one version advance, manifest paths
    // unchanged), and a follow-up append POPULATES them, proving the
    // widened schema is writable. Oracle derives both waves from key
    // arithmetic.
    ("q192_add_columns_multi", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q192_store") + "/t"
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_name"))
      graft.sinks.SnapshotStore.commit(s, cust, root, "c_mktsegment")
      s.conf.set("spark.sql.catalog.graft_q192",
        classOf[graft.sinks.GraftCatalog].getName)
      val p1 = graft.sinks.SnapshotStore.manifest(s, root, 1L).map(_.path).toSet
      s.sql(s"ALTER TABLE graft_q192.`$root` " +
        "ADD COLUMNS (score INT, bal DECIMAL(12,2))")
      require(graft.sinks.SnapshotStore.versions(s, root) == Seq(1L, 2L),
        "multi-ADD COLUMNS must be exactly ONE version advance")
      require(graft.sinks.SnapshotStore.manifest(s, root, 2L)
        .map(_.path).toSet == p1, "ADD COLUMNS must rewrite zero files")
      graft.sinks.SnapshotStore.appendCommit(s,
        cust.filter(pmod(col("c_custkey"), lit(4)) === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_mktsegment"), col("c_name"),
            pmod(col("c_custkey"), lit(5)).cast("int").as("score"),
            pmod(col("c_custkey"), lit(100)).cast("decimal(12,2)").as("bal")),
        root, "c_mktsegment")
      s.sql(s"SELECT c_custkey, c_mktsegment, c_name, score, " +
        s"CAST(bal AS DOUBLE) AS bal_d FROM graft_q192.`$root` " +
        "ORDER BY c_custkey")
    }, Some("""
      SELECT c_custkey, c_mktsegment, c_name,
             CAST(NULL AS INTEGER) AS score, CAST(NULL AS DOUBLE) AS bal_d
      FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, c_mktsegment, c_name,
             CAST(c_custkey % 5 AS INTEGER) AS score,
             CAST(c_custkey % 100 AS DOUBLE) AS bal_d
      FROM customer WHERE c_custkey % 4 = 0
      ORDER BY c_custkey""")),


    // Metadata-priced row counts (SnapshotStore.rowCount / SHOW
    // PARTITIONS row_count): per-partition and total counts answered
    // from the manifest + stats sidecar with ZERO data files opened —
    // and they must subtract deletion-vector rows. The fixture drops
    // one partition as metadata, then DV-deletes a key slice; the
    // output IS the count table (plus a rowCount total row), so any
    // miscount — stale sidecar, missed dvRows, ghost partition —
    // breaks the hash. Ref: mongodb_loader.py:271-299 count_documents
    // is metadata-priced; Delta answers COUNT(*) from the log.
    ("q193_metadata_counts", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q193_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sinks.SnapshotStore.commit(s, orders, root, "o_orderstatus")
      s.conf.set("spark.sql.catalog.graft_q193",
        classOf[graft.sinks.GraftCatalog].getName)
      // Partition 'F' leaves as metadata; then a row-level slice
      // leaves as deletion vectors (merge-on-read).
      s.sql(s"DELETE FROM graft_q193.`$root` WHERE o_orderstatus = 'F'")
        .collect()
      s.sql(s"ALTER TABLE graft_q193.`$root` " +
        "SET TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
      s.sql(s"DELETE FROM graft_q193.`$root` WHERE o_orderkey % 7 = 3")
        .collect()
      require(graft.sinks.SnapshotStore.manifest(s,
        root, graft.sinks.SnapshotStore.currentVersion(s, root).get)
        .exists(_.dvRows > 0), "the second delete must be vectored")
      val total = graft.sinks.SnapshotStore.rowCount(s, root)
      require(total.isDefined, "rowCount must answer from metadata")
      s.sql(s"SHOW PARTITIONS graft_q193.`$root`")
        .unionByName(s.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row("<total>", total.get)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("partition",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("row_count",
              org.apache.spark.sql.types.LongType)))))
        .orderBy(col("partition"))
    }, Some("""
      SELECT 'o_orderstatus=' || o_orderstatus AS partition,
             count(*) AS row_count
      FROM orders WHERE o_orderstatus <> 'F' AND o_orderkey % 7 <> 3
      GROUP BY o_orderstatus
      UNION ALL
      SELECT '<total>' AS partition, count(*) AS row_count
      FROM orders WHERE o_orderstatus <> 'F' AND o_orderkey % 7 <> 3
      ORDER BY partition""")),


    // Partition-spec evolution (SnapshotStore.repartitionTable —
    // Iceberg's day-two re-spec, as ONE rewrite commit recording the
    // new #partcol): evolve (o_orderstatus) → (o_orderstatus,
    // o_orderpriority), then a merge routed by the NEW spec.
    // Require-pins: the evolution is exactly one version with the
    // composite header; the post-evolution merge touches exactly ONE
    // (status, priority) cell (every other cell carried by
    // reference); time travel still reads v1 under the old spec.
    ("q194_partition_evolution", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q194_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.SnapshotStore.commit(s, orders, root, "o_orderstatus")
      val v2 = graft.sinks.SnapshotStore.repartitionTable(s, root,
        Seq("o_orderstatus", "o_orderpriority"))
      require(v2 == 2L, s"evolution must be one commit, got v$v2")
      require(graft.sinks.SnapshotStore.header(s, root, 2L).partcol
        .contains("o_orderstatus,o_orderpriority"), "new spec not recorded")
      require(graft.sinks.SnapshotStore.header(s, root, 1L).partcol
        .contains("o_orderstatus"), "old spec must stay on v1")
      val m2 = graft.sinks.SnapshotStore.manifest(s, root, 2L).toSet
      graft.sinks.SnapshotStore.mergeCommitOrdered(s,
        orders.filter(col("o_orderstatus") === "O" &&
            col("o_orderpriority") === "1-URGENT")
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
        root, "o_orderkey", Nil, Seq("o_orderstatus", "o_orderpriority"))
      val m3 = graft.sinks.SnapshotStore.manifest(s, root, 3L).toSet
      val cell = "O/1-URGENT"
      require(m3.filterNot(_.partition == cell) ==
        m2.filterNot(_.partition == cell),
        "post-evolution merge must rewrite exactly one cell")
      graft.sinks.SnapshotStore.read(s, root).orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
        CASE WHEN o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
             THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),


    // Type widening on merge evolution (SnapshotStore.widen /
    // enforceSchemaCompatible): a batch whose `score` arrives as LONG
    // merges into an INT-typed table — the recorded schema widens to
    // LONG and the UNTOUCHED segments' INT32 files are read through
    // the widened scan (Spark 4 parquet widening, SPARK-40876).
    // Require-pins: ONE version advance, the non-BUILDING segments'
    // files carried byte-identical, recorded type is LONG. The output
    // is the whole table, so a broken carried-file read or a
    // mis-widened value breaks the hash. Ref: Pydantic coercion,
    // unified_product_schema.py:145-207.
    ("q195_type_widening", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q195_store") + "/t"
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          pmod(col("c_custkey"), lit(100)).cast("int").as("score"))
      graft.sinks.SnapshotStore.commit(s, cust, root, "c_mktsegment")
      val m1 = graft.sinks.SnapshotStore.manifest(s, root, 1L)
      graft.sinks.SnapshotStore.mergeCommitOrdered(s,
        cust.filter(col("c_mktsegment") === "BUILDING" &&
            pmod(col("c_custkey"), lit(4)) === 0)
          .withColumn("score",
            (pmod(col("c_custkey"), lit(100)) + 1000L).cast("long")),
        root, "c_custkey", Nil, "c_mktsegment")
      require(graft.sinks.SnapshotStore.versions(s, root) == Seq(1L, 2L),
        "widening merge must be one version advance")
      val m2 = graft.sinks.SnapshotStore.manifest(s, root, 2L)
      require(m1.filterNot(_.partition == "BUILDING").toSet ==
        m2.filterNot(_.partition == "BUILDING").toSet,
        "untouched segments must carry their INT32 files by reference")
      require(graft.sinks.SnapshotStore.schemaFor(s, root, 2L).get("score")
        .dataType == org.apache.spark.sql.types.LongType,
        "recorded schema must widen to LONG")
      graft.sinks.SnapshotStore.read(s, root)
        .select(col("c_custkey"), col("c_mktsegment"), col("score"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_mktsegment,
        CAST(CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 4 = 0
                  THEN c_custkey % 100 + 1000
                  ELSE c_custkey % 100 END AS BIGINT) AS score
      FROM customer ORDER BY c_custkey""")),


    // Product quantization (Similarity.pqCodebooks/pqIndex/pqTopK —
    // the faiss PQm shape: m=4 codes of ks=8 per vector instead of 64
    // floats, scored by asymmetric distance, never touching the
    // stored floats). Codebooks are the UNTRAINED deterministic seed
    // (first 8 vectors' subvectors), so the oracle replays the ENTIRE
    // pipeline — subspace slicing, L2 code assignment with the
    // code-ascending tie-break, the flat LUT, the ordered ADC sum —
    // in SQL. Any encode/probe misalignment (the flat-index
    // arithmetic is the coupling) breaks the hash.
    ("q196_pq_adc_topk", (s: SparkSession, d: String) => {
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val books = graft.operators.Similarity.pqCodebooks(
        e, "vec_id", "embedding", m = 4, ks = 8)
      val index = graft.operators.Similarity.pqIndex(
        e, "vec_id", "embedding", books)
      graft.operators.Similarity.pqTopK(index, books,
          e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("pq_score"), 4).as("pq_score"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      seeds AS (
        SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS code
        FROM e ORDER BY vec_id LIMIT 8),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      books AS (
        SELECT subs.sub, seeds.code,
          list_slice(seeds.v, subs.sub * 16 + 1, (subs.sub + 1) * 16) AS sv
        FROM seeds CROSS JOIN subs),
      asgn AS (
        SELECT ev.vec_id, b.sub, b.code,
          row_number() OVER (PARTITION BY ev.vec_id, b.sub ORDER BY
            list_distance(list_slice(ev.v, b.sub * 16 + 1, (b.sub + 1) * 16),
                          b.sv) ASC, b.code ASC) AS rk
        FROM e ev CROSS JOIN books b),
      enc AS (SELECT vec_id, sub, code FROM asgn WHERE rk = 1),
      luts AS (
        SELECT q.vec_id AS query_id, b.sub, b.code,
          list_dot_product(
            list_slice(q.v, b.sub * 16 + 1, (b.sub + 1) * 16), b.sv) AS dt
        FROM e q CROSS JOIN books b WHERE q.vec_id < 8),
      norms AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nm FROM e),
      scored AS (
        SELECT l.query_id, enc.vec_id AS neighbor_id,
          SUM(l.dt ORDER BY l.sub) AS adc
        FROM enc JOIN luts l ON l.sub = enc.sub AND l.code = enc.code
        WHERE enc.vec_id <> l.query_id
        GROUP BY l.query_id, enc.vec_id),
      r AS (
        SELECT s.query_id, s.neighbor_id,
          round(s.adc / (qn.nm * nn.nm), 4) AS pq_score,
          row_number() OVER (PARTITION BY s.query_id
            ORDER BY s.adc / (qn.nm * nn.nm) DESC, s.neighbor_id ASC) AS rank
        FROM scored s
        JOIN norms qn ON qn.vec_id = s.query_id
        JOIN norms nn ON nn.vec_id = s.neighbor_id)
      SELECT query_id, neighbor_id, pq_score, rank FROM r WHERE rank <= 5
      ORDER BY query_id, rank""")),


    // Metadata-priced MIN/MAX/COUNT(col) (MetadataCountRule over the
    // stats sidecar): a global filterless aggregate over a bare
    // snapshot scan is answered with ZERO data files opened — longs,
    // doubles, micros timestamps, ASCII strings, and null-count
    // subtraction across MULTIPLE files (two commits), all from
    // footer-exact sidecar bounds. Require-pinned to the LocalTableScan
    // plan (no FileScan), so a silently-broken rewrite can't hide
    // behind a correct scan. Ref: mongodb_loader.py:271-299 stats are
    // metadata-priced; Delta answers MIN/MAX from the log.
    ("q197_metadata_minmax", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q197_store") + "/t"
      // INT96 (Spark's default parquet timestamp encoding) carries no
      // replayable footer order — write standard MICROS so the date
      // column's bounds land in the sidecar like every other engine's
      // stats (Delta/Iceberg write TIMESTAMP_MICROS for the same reason).
      s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null))
          .otherwise(col("o_custkey")).as("cust_n"))
      try {
        graft.sinks.SnapshotStore.commit(s,
          orders.filter(pmod(col("o_orderkey"), lit(2)) === 0),
          root, "o_orderstatus")
        graft.sinks.SnapshotStore.appendCommit(s,
          orders.filter(pmod(col("o_orderkey"), lit(2)) === 1),
          root, "o_orderstatus")
      } finally s.conf.unset("spark.sql.parquet.outputTimestampType")
      s.conf.set("spark.sql.catalog.graft_q197",
        classOf[graft.sinks.GraftCatalog].getName)
      val agg = s.sql(s"""
        SELECT count(*) AS n, count(cust_n) AS c,
               min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key,
               min(o_totalprice) AS mn_price, max(o_totalprice) AS mx_price,
               min(o_orderdate) AS mn_date, max(o_orderdate) AS mx_date,
               min(o_orderstatus) AS mn_status,
               max(o_orderpriority) AS mx_prio
        FROM graft_q197.`$root`""")
      val phys = agg.queryExecution.executedPlan.toString
      require(phys.contains("LocalTableScan") && !phys.contains("FileScan"),
        s"metadata aggregate must not open data files:\n$phys")
      agg
    }, Some("""
      SELECT count(*) AS n,
             count(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE o_custkey END) AS c,
             min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key,
             min(o_totalprice) AS mn_price, max(o_totalprice) AS mx_price,
             min(o_orderdate) AS mn_date, max(o_orderdate) AS mx_date,
             min(o_orderstatus) AS mn_status,
             max(o_orderpriority) AS mx_prio
      FROM orders""")),


    // Mergeable HLL distinct sketches at rest (Sketches.hllSync —
    // DataSketches HLL via Spark's native hll_* aggregates): a sketch
    // TABLE maintained incrementally from the source's change feed
    // across the full lifecycle — initial build, an insert-only window
    // (sketch the delta, UNION it in), then a delete window (rebuild
    // only the touched groups; HLL cannot subtract). Require-pins:
    // each sync is ONE atomic sketch-table commit carrying the source
    // cursor; the low-cardinality estimates (25 nations) are EXACT (so
    // they flow into the hashed output straight from the sketches);
    // the high-cardinality estimates stay within 5% of exact (HLL
    // lgK=12 RSE ≈ 1.6%). The '<all>' row is a sketch UNION — the
    // mergeability that makes per-group sketches answer any rollup
    // without rescanning. Ref: mongodb_loader.py:271-299 metadata-
    // priced stats; the 100 TB shape is COUNT(DISTINCT) dashboards
    // priced by the commit delta, never the corpus.
    ("q198_hll_sketch_sync", (s: SparkSession, d: String) => {
      val base = DevRun.fixtureRoot("q198_store")
      val srcRoot = s"$base/src"
      val skRoot = s"$base/sk"
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      val sync = () => graft.operators.Sketches.hllSync(s, srcRoot, skRoot,
        Seq("c_custkey"), Seq("c_mktsegment"),
        Seq("c_nationkey", "c_custkey"))
      graft.sinks.SnapshotStore.commit(s,
        cust.filter(pmod(col("c_custkey"), lit(3)) =!= 0),
        srcRoot, "c_mktsegment")
      sync()
      require(graft.sinks.SnapshotStore.currentVersion(s, skRoot)
        .contains(1L), "initial sync must be one commit")
      graft.sinks.SnapshotStore.appendCommit(s,
        cust.filter(pmod(col("c_custkey"), lit(3)) === 0),
        srcRoot, "c_mktsegment")
      sync()
      require(graft.sinks.SnapshotStore.currentVersion(s, skRoot)
        .contains(2L), "insert-only sync must be one atomic commit")
      graft.sinks.SnapshotStore.deleteCommit(s,
        cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
          .select(col("c_custkey")), srcRoot, "c_custkey", "c_mktsegment")
      sync()
      require(graft.sinks.SnapshotStore.currentVersion(s, skRoot)
        .contains(3L), "rebuild sync must be one atomic commit")
      require(graft.sinks.SnapshotStore.tablePropertiesMap(s, skRoot)
        .get(graft.operators.Sketches.CursorProp).contains("3"),
        "cursor must ride the sync commit")
      val sk = graft.sinks.SnapshotStore.read(s, skRoot)
      val est = graft.operators.Sketches.estimates(sk,
        Seq("c_mktsegment"), Seq("c_nationkey", "c_custkey"))
      val exact = graft.sinks.SnapshotStore.read(s, srcRoot)
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_nationkey")).as("n_ex"),
          countDistinct(col("c_custkey")).as("c_ex"))
      val off = est.join(exact, Seq("c_mktsegment"))
        .filter(col("c_nationkey_distinct") =!= col("n_ex") ||
          abs(col("c_custkey_distinct") - col("c_ex")) >
            col("c_ex") * lit(0.05))
      require(off.isEmpty,
        s"sketch estimates drifted: ${off.collect().mkString(";")}")
      val perSeg = est.join(exact, Seq("c_mktsegment"))
        .select(col("c_mktsegment").as("segment"),
          col("c_nationkey_distinct").as("nations_distinct"),
          col("c_ex").as("custs"))
      val all = graft.operators.Sketches.globalEstimates(sk,
        Seq("c_nationkey"))
        .crossJoin(graft.sinks.SnapshotStore.read(s, srcRoot)
          .agg(countDistinct(col("c_custkey")).as("custs")))
        .select(lit("<all>").as("segment"),
          col("c_nationkey_distinct").as("nations_distinct"),
          col("custs"))
      perSeg.unionByName(all).orderBy(col("segment"))
    }, Some("""
      WITH survivors AS (
        SELECT * FROM customer WHERE c_custkey % 10 <> 0)
      SELECT c_mktsegment AS segment,
             count(DISTINCT c_nationkey) AS nations_distinct,
             count(DISTINCT c_custkey) AS custs
      FROM survivors GROUP BY 1
      UNION ALL
      SELECT '<all>' AS segment,
             count(DISTINCT c_nationkey) AS nations_distinct,
             count(DISTINCT c_custkey) AS custs
      FROM survivors
      ORDER BY segment""")),


    // STRING z-order keys (Layout.surrogate: order-preserving
    // 8-byte-window numeric surrogate after global common-prefix
    // stripping — a 'SKU#000042' key space spreads over its
    // distinguishing digits). The fixture z-orders one partition into
    // 16 files on (sku, c_custkey), then reads a sku PREFIX predicate:
    // require-pinned, the stats sidecar must prune files (candidate <
    // total — FileStats.prefixPossible over the string bounds), and
    // the hashed output is the matching rows themselves, so a
    // surrogate that broke string ORDER would both mis-prune loudly
    // and mis-hash.
    ("q199_string_zorder_skipping", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q199_store") + "/t"
      val cust = t(s, d, "customer").select(
        concat(lit("SKU#"),
          lpad(pmod(col("c_custkey") * 7919, lit(100000)).cast("string"),
            6, "0")).as("sku"),
        col("c_custkey"), col("c_nationkey"))
      graft.sinks.SnapshotStore.commit(s,
        cust.withColumn("part", lit("x")), root, "part")
      graft.sinks.SnapshotStore.compactZOrder(s, root, "part",
        Seq("sku", "c_custkey"), filesPerPartition = 16)
      val (tbl, idx) = graft.sinks.SnapshotStore.tableWithIndex(s, root)
      val out = tbl.filter(col("sku").startsWith("SKU#001"))
        .select(col("sku"), col("c_custkey"), col("c_nationkey"))
        .orderBy(col("c_custkey"))
      out.collect() // drive the scan so the index records its pruning
      require(idx.totalFiles >= 8,
        s"fixture must spread into many files, got ${idx.totalFiles}")
      require(idx.lastCandidateFiles < idx.totalFiles,
        s"string prefix predicate must prune z-ordered files: " +
          s"${idx.lastCandidateFiles} of ${idx.totalFiles}")
      out
    }, Some("""
      WITH c AS (
        SELECT 'SKU#' || lpad(CAST(c_custkey * 7919 % 100000 AS VARCHAR),
                              6, '0') AS sku,
               c_custkey, c_nationkey
        FROM customer)
      SELECT sku, c_custkey, c_nationkey FROM c
      WHERE sku LIKE 'SKU#001%' ORDER BY c_custkey""")),


    // Change-feed UPDATE PRE-IMAGES (Delta CDF's convention): with
    // preImages=true every update emits an update_preimage row
    // carrying the FROM-version values and an update_postimage row
    // carrying the TO-version values — the pair downstream incremental
    // maintenance subtracts/adds (Rollup, q201). The output IS the
    // feed over a window of updates + inserts + deletes, so a missing
    // or value-swapped pre-image cannot hash-match.
    ("q200_cdf_preimages", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q200_store") + "/t"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m5 = pmod(col("o_orderkey"), lit(5))
      graft.sinks.SnapshotStore.commit(s, orders.filter(m5 =!= 4),
        root, "o_orderstatus")
      graft.sinks.SnapshotStore.upsertDeleteCommit(s, root,
        orders.filter(m5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .unionByName(orders.filter(m5 === 4)),
        Some(orders.filter(m5 === 1).select(col("o_orderkey"))),
        "o_orderkey", "o_orderstatus")
      graft.sinks.SnapshotStore.changes(s, root, 1L, 2L,
          Seq("o_orderkey"), preImages = true)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("_change_type"))
        .orderBy(col("o_orderkey"), col("_change_type"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             'update_preimage' AS _change_type
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0,
             'update_postimage'
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'insert'
      FROM orders WHERE o_orderkey % 5 = 4
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'delete'
      FROM orders WHERE o_orderkey % 5 = 1
      ORDER BY o_orderkey, _change_type""")),


    // Incrementally-maintained EXACT aggregates (Rollup.sync — IVM on
    // the pre-image feed): a materialized GROUP BY table kept in sync
    // across build → insert window → mixed update+delete window.
    // SUM/COUNT maintain additively in every window (pre-images
    // subtract removed contributions); the MIN/MAX column forces the
    // losing groups through the bounded rebuild. Require-pins: ONE
    // atomic rollup commit per sync, cursor rides it. The output is
    // the final rollup table and DuckDB aggregates the derived final
    // state directly — any drift (a stale sum, a max that survived
    // its row's deletion, a NULL sum collapsed to 0) breaks the hash.
    ("q201_incremental_rollup", (s: SparkSession, d: String) => {
      val base = DevRun.fixtureRoot("q201_store")
      val srcRoot = s"$base/src"
      val rollRoot = s"$base/roll"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").as("price"),
        when(pmod(col("o_orderkey"), lit(11)) === 0, lit(null))
          .otherwise(col("o_custkey")).as("cust_n"))
      val sync = () => graft.operators.Rollup.sync(s, srcRoot, rollRoot,
        Seq("o_orderkey"), Seq("o_orderstatus"),
        Seq("cust_n"), Seq("price"))
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0),
        srcRoot, "o_orderstatus")
      sync()
      graft.sinks.SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0),
        srcRoot, "o_orderstatus")
      sync()
      graft.sinks.SnapshotStore.upsertDeleteCommit(s, srcRoot,
        orders.filter(pmod(col("o_orderkey"), lit(7)) === 0 &&
            pmod(col("o_orderkey"), lit(10)) =!= 9)
          .withColumn("price", col("price") + 500.0),
        Some(orders.filter(pmod(col("o_orderkey"), lit(10)) === 9)
          .select(col("o_orderkey"))),
        "o_orderkey", "o_orderstatus")
      sync()
      require(graft.sinks.SnapshotStore.currentVersion(s, rollRoot)
        .contains(3L), "one atomic rollup commit per sync window")
      require(graft.sinks.SnapshotStore.tablePropertiesMap(s, rollRoot)
        .get(graft.operators.Rollup.CursorProp).contains("3"),
        "cursor must ride the sync commit")
      graft.operators.Rollup.view(
          graft.sinks.SnapshotStore.read(s, rollRoot),
          Seq("o_orderstatus"), Seq("cust_n"), Seq("price"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      WITH fin AS (
        SELECT o_orderkey, o_orderstatus,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 500.0
               ELSE o_totalprice END AS price,
          CASE WHEN o_orderkey % 11 = 0 THEN NULL
               ELSE o_custkey END AS cust_n
        FROM orders WHERE o_orderkey % 10 <> 9)
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS row_count,
             CAST(sum(cust_n) AS BIGINT) AS cust_n_sum,
             min(price) AS price_min, max(price) AS price_max
      FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""")),


    // Exact frequency tables / heavy hitters at delta price
    // (Frequencies — a count-only Rollup keyed by the value): counts
    // per (status, priority) maintain additively across an insert
    // window, a VALUE-EDIT window (the pre-image subtracts the old
    // priority's count — a value edit is a move between frequency
    // rows), and deletes. Require-pins one atomic commit per sync;
    // the output is topK(2) per status replayed by DuckDB's
    // count + row_number over the derived final state.
    ("q202_frequency_topk", (s: SparkSession, d: String) => {
      val base = DevRun.fixtureRoot("q202_store")
      val srcRoot = s"$base/src"
      val fqRoot = s"$base/fq"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      val sync = () => graft.operators.Frequencies.sync(s, srcRoot, fqRoot,
        Seq("o_orderkey"), Seq("o_orderstatus"), "o_orderpriority")
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0),
        srcRoot, "o_orderstatus")
      sync()
      graft.sinks.SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0),
        srcRoot, "o_orderstatus")
      sync()
      graft.sinks.SnapshotStore.upsertDeleteCommit(s, srcRoot,
        orders.filter(pmod(col("o_orderkey"), lit(7)) === 0 &&
            pmod(col("o_orderkey"), lit(10)) =!= 9)
          .withColumn("o_orderpriority", lit("9-MOVED")),
        Some(orders.filter(pmod(col("o_orderkey"), lit(10)) === 9)
          .select(col("o_orderkey"))),
        "o_orderkey", "o_orderstatus")
      sync()
      require(graft.sinks.SnapshotStore.currentVersion(s, fqRoot)
        .contains(3L), "one atomic frequency commit per sync window")
      graft.operators.Frequencies.topK(
          graft.sinks.SnapshotStore.read(s, fqRoot),
          Seq("o_orderstatus"), "o_orderpriority", 2)
        .orderBy(col("o_orderstatus"), col("rank"))
    }, Some("""
      WITH fin AS (
        SELECT o_orderstatus,
          CASE WHEN o_orderkey % 7 = 0 THEN '9-MOVED'
               ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderkey % 10 <> 9),
      c AS (
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS row_count
        FROM fin GROUP BY o_orderstatus, o_orderpriority),
      r AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY o_orderstatus
          ORDER BY row_count DESC, o_orderpriority ASC) AS INT) AS rank
        FROM c)
      SELECT o_orderstatus, o_orderpriority, row_count, rank FROM r
      WHERE rank <= 2 ORDER BY o_orderstatus, rank""")),


    // Histogram quantiles at delta price (Histograms — a count-only
    // Rollup over a COMPUTED bin column via Rollup.sync's derive
    // hook): equi-width bins over [0, 600000) in 64 steps, maintained
    // across an insert window, a bin-crossing UPDATE window (+50000),
    // and deletes; NULLs ride the sentinel bin. The hashed output is
    // the maintained bin table — DuckDB replays the bin arithmetic
    // over the derived final state, so a single miscounted bin breaks
    // the hash. Require-pins: one commit per sync, and the
    // interpolated median sits within ONE bin width of the exact
    // percentile (the explicit approximation contract).
    ("q203_histogram_quantiles", (s: SparkSession, d: String) => {
      val base = DevRun.fixtureRoot("q203_store")
      val srcRoot = s"$base/src"
      val hgRoot = s"$base/hg"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        when(pmod(col("o_orderkey"), lit(11)) === 0, lit(null))
          .otherwise(col("o_totalprice")).as("price_n"))
      val (lo, hi, nb) = (0.0, 600000.0, 64)
      val sync = () => graft.operators.Histograms.sync(s, srcRoot, hgRoot,
        Seq("o_orderkey"), Seq("o_orderstatus"), "price_n", lo, hi, nb)
      graft.sinks.SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0),
        srcRoot, "o_orderstatus")
      sync()
      graft.sinks.SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0),
        srcRoot, "o_orderstatus")
      sync()
      graft.sinks.SnapshotStore.upsertDeleteCommit(s, srcRoot,
        orders.filter(pmod(col("o_orderkey"), lit(7)) === 0 &&
            pmod(col("o_orderkey"), lit(10)) =!= 9)
          .withColumn("price_n", col("price_n") + 50000.0),
        Some(orders.filter(pmod(col("o_orderkey"), lit(10)) === 9)
          .select(col("o_orderkey"))),
        "o_orderkey", "o_orderstatus")
      sync()
      require(graft.sinks.SnapshotStore.currentVersion(s, hgRoot)
        .contains(3L), "one atomic histogram commit per sync window")
      val hist = graft.sinks.SnapshotStore.read(s, hgRoot)
      // The interpolated median must sit within one bin width of the
      // NEAREST-RANK median (percentile_disc — the order statistic
      // the selected bin provably contains; the interpolated
      // percentile_cont can drift across empty-bin gaps).
      val med = graft.operators.Histograms.quantiles(hist,
          Seq("o_orderstatus"), Seq(0.5), lo, hi, nb)
        .select(col("o_orderstatus"), col("value"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val exact = graft.sinks.SnapshotStore.read(s, srcRoot)
        .filter(col("price_n").isNotNull)
        .groupBy(col("o_orderstatus"))
        .agg(sort_array(collect_list(col("price_n"))).as("vs"))
        .select(col("o_orderstatus"), element_at(col("vs"),
          greatest(ceil(lit(0.5) * size(col("vs"))), lit(1L))
            .cast("int")).as("p"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val width = (hi - lo) / nb
      exact.foreach { case (g, ex) =>
        require(math.abs(med(g) - ex) <= width + 1e-6,
          s"median($g): interpolated ${med(g)} vs nearest-rank $ex " +
            s"exceeds bin width $width") }
      graft.operators.Histograms.bins(hist, Seq("o_orderstatus"))
        .orderBy(col("o_orderstatus"), col("bin"))
    }, Some("""
      WITH fin AS (
        SELECT o_orderstatus,
          CASE WHEN o_orderkey % 11 = 0 THEN NULL
               WHEN o_orderkey % 7 = 0 THEN o_totalprice + 50000.0
               ELSE o_totalprice END AS price_n
        FROM orders WHERE o_orderkey % 10 <> 9)
      SELECT o_orderstatus,
        CASE WHEN price_n IS NULL THEN -1
             ELSE LEAST(GREATEST(CAST(FLOOR(price_n / 9375.0) AS INT), 0), 63)
        END AS bin,
        CAST(count(*) AS BIGINT) AS row_count
      FROM fin GROUP BY 1, 2 ORDER BY o_orderstatus, bin""")),


    // Global rollup readers (Histograms.globalQuantiles /
    // Frequencies.topKGlobal): corpus-wide answers re-aggregated from
    // the MAINTAINED per-group tables. The quantile walk — bin
    // cumsum, epsilon-clamped target, linear interpolation inside the
    // selected bin — is deterministic arithmetic over bin counts, so
    // DuckDB replays it EXACTLY (hash-matched, not tolerance-pinned);
    // the global top-k replays as count + row_number. One long-format
    // output covers both readers.
    ("q204_global_rollup_readers", (s: SparkSession, d: String) => {
      val base = DevRun.fixtureRoot("q204_store")
      val srcRoot = s"$base/src"
      val hgRoot = s"$base/hg"
      val fqRoot = s"$base/fq"
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice").as("price"))
      graft.sinks.SnapshotStore.commit(s, orders, srcRoot, "o_orderstatus")
      val (lo, hi, nb) = (0.0, 600000.0, 64)
      graft.operators.Histograms.sync(s, srcRoot, hgRoot,
        Seq("o_orderkey"), Seq("o_orderstatus"), "price", lo, hi, nb)
      graft.operators.Frequencies.sync(s, srcRoot, fqRoot,
        Seq("o_orderkey"), Seq("o_orderstatus"), "o_orderpriority")
      val qRows = graft.operators.Histograms.globalQuantiles(
          graft.sinks.SnapshotStore.read(s, hgRoot),
          Seq(0.25, 0.5, 0.75, 0.9), lo, hi, nb)
        .select(concat(lit("q"), col("q")).as("k"),
          round(col("value"), 6).as("v"))
      val tRows = graft.operators.Frequencies.topKGlobal(
          graft.sinks.SnapshotStore.read(s, fqRoot), "o_orderpriority", 3)
        .select(concat(lit("top"), col("rank"), lit(":"),
          col("o_orderpriority")).as("k"),
          col("row_count").cast("double").as("v"))
      qRows.unionByName(tRows).orderBy(col("k"))
    }, Some("""
      WITH b AS (
        SELECT LEAST(GREATEST(CAST(FLOOR(o_totalprice / 9375.0) AS INT),
                              0), 63) AS bin,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1),
      cm AS (
        SELECT bin, c, sum(c) OVER (ORDER BY bin) AS cum,
               sum(c) OVER () AS total
        FROM b),
      qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]::DOUBLE[]) AS q),
      sel AS (
        SELECT q, bin, c, cum, GREATEST(q * total, 1e-9) AS target
        FROM qs CROSS JOIN cm),
      quant AS (
        SELECT 'q' || CAST(q AS VARCHAR) AS k,
               round(0.0 + 9375.0 * (bin + (target - (cum - c)) / c),
                     6) AS v
        FROM sel WHERE cum >= target AND cum - c < target),
      f AS (
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS row_count
        FROM orders GROUP BY 1),
      r AS (
        SELECT *, row_number() OVER (ORDER BY row_count DESC,
          o_orderpriority ASC) AS rank FROM f),
      tk AS (
        SELECT 'top' || CAST(rank AS VARCHAR) || ':' || o_orderpriority AS k,
               CAST(row_count AS DOUBLE) AS v
        FROM r WHERE rank <= 3)
      SELECT k, v FROM quant
      UNION ALL SELECT k, v FROM tk
      ORDER BY k""")),


    // DECIMAL widening on merge evolution (SnapshotStore.widen — the
    // round-11 verdict ask): prices are the reference's
    // decimal-shaped domain (unified_product_schema.py:52-64), and a
    // batch carrying a WIDER decimal must evolve the recorded type
    // value-preservingly instead of refusing. v2 merges a
    // DECIMAL(18,2) batch into a DECIMAL(12,2) table (precision
    // growth; untouched partitions carry their INT64-decimal files
    // byte-identical — require-pinned); v3 appends a DECIMAL(13,4)
    // batch (SCALE growth → union DECIMAL(20,4), so every carried
    // file — (12,2) from v1 AND (18,2) from v2 — rescales on read).
    // The output is the whole table at (20,4): a broken carried-file
    // read, a mis-rescaled value, or a wrong union type breaks the
    // hash.
    ("q205_decimal_widening", (s: SparkSession, d: String) => {
      val root = DevRun.fixtureRoot("q205_store") + "/t"
      val base = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      graft.sinks.SnapshotStore.commit(s, base, root, "o_orderstatus")
      val m1 = graft.sinks.SnapshotStore.manifest(s, root, 1L)
      graft.sinks.SnapshotStore.mergeCommitOrdered(s,
        base.filter(col("o_orderstatus") === "O" &&
            pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("price",
            (col("price") + lit(BigDecimal("100000000000.00")))
              .cast("decimal(18,2)")),
        root, "o_orderkey", Nil, "o_orderstatus")
      require(graft.sinks.SnapshotStore.schemaFor(s, root, 2L).get("price")
        .dataType == org.apache.spark.sql.types.DecimalType(18, 2),
        "precision growth must record DECIMAL(18,2)")
      val m2 = graft.sinks.SnapshotStore.manifest(s, root, 2L)
      require(m1.filterNot(_.partition == "O").toSet ==
        m2.filterNot(_.partition == "O").toSet,
        "untouched partitions must carry their (12,2) files by reference")
      graft.sinks.SnapshotStore.appendCommit(s,
        base.filter(col("o_orderstatus") === "F" &&
            pmod(col("o_orderkey"), lit(10)) === 3)
          .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
            col("o_orderstatus"), col("price").cast("decimal(13,4)").as("price")),
        root, "o_orderstatus")
      require(graft.sinks.SnapshotStore.schemaFor(s, root, 3L).get("price")
        .dataType == org.apache.spark.sql.types.DecimalType(20, 4),
        "scale growth must union to DECIMAL(20,4)")
      // All internal arithmetic, schema require-pins ((18,2)/(20,4))
      // and carried-file assertions above stay DECIMAL; only the FINAL
      // hash surface presents as DOUBLE — a parquet Decimal renders
      // trailing zeros ("112946.2600") where the oracle's float64
      // canonicalization does not (112946.26), so a decimal output
      // column hash-diverges on representation despite exact values
      // (round-12 verdict adjudication).
      require(graft.sinks.SnapshotStore.read(s, root).schema("price")
        .dataType == org.apache.spark.sql.types.DecimalType(20, 4),
        "the stored column itself must stay DECIMAL(20,4)")
      graft.sinks.SnapshotStore.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast("double").as("price"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(12,2)) AS p
        FROM orders)
      SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      FROM (
        SELECT o_orderkey, o_orderstatus,
          CAST(CASE WHEN o_orderstatus = 'O' AND o_orderkey % 10 = 0
               THEN CAST(p + 100000000000.00 AS DECIMAL(18,2)) ELSE p END
               AS DECIMAL(20,4)) AS price
        FROM base
        UNION ALL
        SELECT o_orderkey + 10000000, o_orderstatus,
          CAST(CAST(p AS DECIMAL(13,4)) AS DECIMAL(20,4)) AS price
        FROM base WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 3)
      ORDER BY o_orderkey""")),


    // Incrementally MAINTAINED IVF-PQ index
    // (Similarity.appendIvfPqForSnapshotVersion / ivfPqProbeSnapshot —
    // the round-11 verdict ask: q160's manifest-diff discipline
    // applied to the production `IVFx,PQm` shape). Embeddings land in
    // TWO snapshot commits; centroids AND codebooks freeze at first
    // ingest (faiss train-once — retraining would shift cells /
    // misalign stored codes); each commit encodes ONLY its
    // manifest-diff files. The probe intersects index rows with the
    // live manifest and is require-pinned equal to a from-scratch
    // ivfPqIndex rebuild. The oracle replays the WHOLE maintained
    // pipeline — cell routing from the v1-seeded centroids, PQ
    // encoding against the v1-seeded books, LUT, ordered ADC — over
    // the union corpus.
    ("q206_ivfpq_incremental", (s: SparkSession, d: String) => {
      import graft.operators.Similarity
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q206")
      val root = s"$dir/t"
      val idxPath = s"$dir/pq_index"
      val e = s.read.parquet(s"$d/embeddings.parquet")
        .withColumn("pt", pmod(col("vec_id"), lit(4)).cast("string"))
      SnapshotStore.commit(s,
        e.filter(pmod(col("vec_id"), lit(3)) =!= 0), root, "pt")
      val v1 = SnapshotStore.read(s, root)
      val cents = Similarity.ivfCentroids(v1, "vec_id", "embedding",
        numCells = 16)
      val books = Similarity.pqCodebooks(v1, "vec_id", "embedding",
        m = 4, ks = 8)
      Similarity.appendIvfPqForSnapshotVersion(
        s, root, 1L, "vec_id", "embedding", cents, books, idxPath)
      SnapshotStore.appendCommit(s,
        e.filter(pmod(col("vec_id"), lit(3)) === 0), root, "pt")
      Similarity.appendIvfPqForSnapshotVersion(
        s, root, 2L, "vec_id", "embedding", cents, books, idxPath)
      val queries = SnapshotStore.read(s, root).filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"))
      val viaIndex = Similarity.ivfPqProbeSnapshot(s, root, idxPath,
        cents, books, queries, "vec_id", "embedding", k = 5, nprobe = 2)
      val rebuilt = Similarity.ivfPqTopKIndexed(
        Similarity.ivfPqIndex(SnapshotStore.read(s, root),
          "vec_id", "embedding", cents, books),
        cents, books, queries, "vec_id", "embedding", k = 5, nprobe = 2)
      val a = viaIndex.select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val b = rebuilt.select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      require(a == b,
        s"maintained probe diverged from rebuild: ${a.diff(b)} / ${b.diff(a)}")
      viaIndex.select(col("query_id"), col("neighbor_id"),
          round(col("pq_score"), 4).as("pq_score"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH eall AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      v1 AS (SELECT vec_id, v FROM eall WHERE vec_id % 3 <> 0),
      cent AS (
        SELECT vec_id AS cid, v AS cv FROM v1 ORDER BY vec_id LIMIT 16),
      ranked AS (
        SELECT e.vec_id, cent.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.v, cent.cv) /
              (sqrt(list_dot_product(e.v, e.v)) *
               sqrt(list_dot_product(cent.cv, cent.cv)))
            DESC, cent.cid ASC) AS rk
        FROM eall e CROSS JOIN cent),
      assigned AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
      probes AS (
        SELECT vec_id, cid AS cell FROM ranked WHERE rk <= 2 AND vec_id < 8),
      seeds AS (
        SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS code
        FROM v1 ORDER BY vec_id LIMIT 8),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      books AS (
        SELECT subs.sub, seeds.code,
          list_slice(seeds.v, subs.sub * 16 + 1, (subs.sub + 1) * 16) AS sv
        FROM seeds CROSS JOIN subs),
      asgn AS (
        SELECT ev.vec_id, b.sub, b.code,
          row_number() OVER (PARTITION BY ev.vec_id, b.sub ORDER BY
            list_distance(list_slice(ev.v, b.sub * 16 + 1, (b.sub + 1) * 16),
                          b.sv) ASC, b.code ASC) AS rk
        FROM eall ev CROSS JOIN books b),
      enc AS (SELECT vec_id, sub, code FROM asgn WHERE rk = 1),
      luts AS (
        SELECT q.vec_id AS query_id, b.sub, b.code,
          list_dot_product(
            list_slice(q.v, b.sub * 16 + 1, (b.sub + 1) * 16), b.sv) AS dt
        FROM eall q CROSS JOIN books b WHERE q.vec_id < 8),
      norms AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nm FROM eall),
      cand AS (
        SELECT pr.vec_id AS query_id, a.vec_id AS neighbor_id, pr.cell
        FROM probes pr
        JOIN assigned a ON a.cell = pr.cell AND a.vec_id <> pr.vec_id),
      scored AS (
        SELECT c.query_id, c.neighbor_id, SUM(l.dt ORDER BY l.sub) AS adc
        FROM cand c
        JOIN enc ON enc.vec_id = c.neighbor_id
        JOIN luts l ON l.query_id = c.query_id
          AND l.sub = enc.sub AND l.code = enc.code
        GROUP BY c.query_id, c.neighbor_id),
      r AS (
        SELECT s.query_id, s.neighbor_id,
          round(s.adc / (qn.nm * nn.nm), 4) AS pq_score,
          row_number() OVER (PARTITION BY s.query_id
            ORDER BY s.adc / (qn.nm * nn.nm) DESC, s.neighbor_id ASC) AS rank
        FROM scored s
        JOIN norms qn ON qn.vec_id = s.query_id
        JOIN norms nn ON nn.vec_id = s.neighbor_id)
      SELECT query_id, neighbor_id, pq_score, rank FROM r WHERE rank <= 5
      ORDER BY query_id, rank""")),


    // Key-probe file skipping made oracle-observable (E98 —
    // SnapshotDml.probeCandidateEntries): a RANGE-laid multi-file
    // table takes a 3-key DELETE; the keyed probe must plan the scan
    // from the stats sidecars (require-pinned: ≥1 and STRICTLY fewer
    // candidate files than the manifest lists — the Delta MERGE
    // file-pruning shape, vs the reference's indexed delete_many,
    // mongodb_loader.py:226-245). The output is the surviving keys
    // plus a (-1, 1) witness row the require gate guards: a probe
    // that stopped pruning would abort the query, not drift the hash.
    ("q207_key_probe_delete", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val root = DevRun.fixtureRoot("q207_store") + "/t"
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(4)).cast("string").as("part"))
      SnapshotStore.commit(s,
        orders.repartitionByRange(16, col("o_orderkey"))
          .sortWithinPartitions(col("o_orderkey")), root, "part")
      val total = SnapshotStore.manifest(s, root, 1L).size
      require(total >= 16, s"fixture must be multi-file, got $total")
      val doomed = orders.orderBy(col("o_orderkey")).limit(3)
        .select(col("o_orderkey"))
      SnapshotStore.deleteCommit(s, doomed, root, "o_orderkey", "part")
      val probed = SnapshotStore.lastProbeCandidates.get()
      require(probed >= 1 && probed < total,
        s"3 contiguous keys must probe a strict subset of $total files, " +
          s"probed $probed")
      SnapshotStore.read(s, root)
        .select(col("o_orderkey").as("k"), lit(0).as("pruned"))
        .unionByName(s.range(1)
          .select(lit(-1L).as("k"), lit(1).as("pruned")))
        .orderBy(col("k"))
    }, Some("""
      WITH doomed AS (
        SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3)
      SELECT o_orderkey AS k, 0 AS pruned FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM doomed)
      UNION ALL SELECT -1 AS k, 1 AS pruned
      ORDER BY k""")),


    // HASH-BUCKETED tables (SnapshotStore.bucketTable +
    // graft.bucket.spec): orders and customer are each clustered into
    // 8 buckets on the customer key, an append AFTER clustering
    // proves the layout is maintained by ordinary commits, and the
    // join + keyed aggregation over the two tables is require-pinned
    // to plan with ZERO exchanges on bucketed scans — the co-located
    // bucketed join that, at 100 TB, shuffles neither fact nor
    // dimension (vs the reference's MongoDB joins, which ship every
    // row to the client, mongodb_loader.py). The aggregate itself
    // rides the same co-location (group key ⊇ bucket key).
    ("q208_bucketed_join", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q208")
      val oRoot = s"$dir/orders"; val cRoot = s"$dir/customer"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          pmod(col("o_custkey"), lit(4)).cast("string").as("part"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          pmod(col("c_custkey"), lit(4)).cast("string").as("part"))
      SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(5)) =!= 0), oRoot, "part")
      SnapshotStore.commit(s, cust, cRoot, "part")
      SnapshotStore.bucketTable(s, oRoot, Seq("o_custkey"), 8)
      SnapshotStore.bucketTable(s, cRoot, Seq("c_custkey"), 8)
      // Ordinary append AFTER clustering: the bucket layout must ride
      // along (no re-cluster call), or the plan pin below fails.
      SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(5)) === 0), oRoot, "part")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      try {
        val agg = SnapshotStore.table(s, oRoot)
          .join(SnapshotStore.table(s, cRoot),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("order_cnt"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("total_price"))
        val p = agg.queryExecution.executedPlan.toString
        require(!p.contains("Exchange"),
          s"co-bucketed join+agg must plan shuffle-free:\n$p")
        require(p.contains("Bucketed: true"),
          s"both scans must present the bucket layout:\n$p")
        // DECIMAL aggregation stays internal; the hash surface is
        // DOUBLE (decimal trailing-zero rendering diverges from the
        // oracle's float64 canonicalization — round-12 adjudication).
        agg.select(col("c_custkey"), col("c_mktsegment"), col("order_cnt"),
            col("total_price").cast("double").as("total_price"))
          .orderBy(col("c_custkey"))
      } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }, Some("""
      SELECT c.c_custkey, c.c_mktsegment, COUNT(*) AS order_cnt,
        CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS total_price
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
      ORDER BY c.c_custkey"""))
  ) ++ Seq(

    // Transparent MATERIALIZED-VIEW REWRITE (RollupRewriteRule +
    // spark.graft.rollups): a GROUP BY dashboard query over the
    // snapshot table is require-pinned to answer from the maintained
    // rollup — the plan reads the ROLLUP root and never the source —
    // after a full DML lifecycle (initial build, append, keyed
    // delete, re-sync) proves the answer comes from incrementally
    // MAINTAINED state, not a cached build. COUNT/SUM(decimal)/
    // MIN/MAX/AVG(integral) all derive exactly; the DuckDB oracle
    // aggregates the equivalent final state directly.
    ("q209_rollup_rewrite", (s: SparkSession, d: String) => {
      import graft.operators.Rollup
      import graft.sinks.{RollupRewrite, SnapshotStore}
      val dir = DevRun.fixtureRoot("q209")
      val src = s"$dir/src"; val roll = s"$dir/rollup"
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"),
        pmod(col("o_orderkey"), lit(4)).cast("string").as("part"))
      SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0), src, "part")
      Rollup.sync(s, src, roll, Seq("o_orderkey"), Seq("o_orderstatus"),
        sumCols = Seq("price", "o_custkey"), minMaxCols = Seq("o_orderkey"))
      SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), src, "part")
      SnapshotStore.deleteCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(10)) === 7)
          .select(col("o_orderkey")), src, "o_orderkey", "part")
      Rollup.sync(s, src, roll, Seq("o_orderkey"), Seq("o_orderstatus"),
        sumCols = Seq("price", "o_custkey"), minMaxCols = Seq("o_orderkey"))
      s.conf.set(RollupRewrite.RegistryConf, roll)
      try {
        val agg = SnapshotStore.table(s, src).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), count(col("price")).as("np"),
            sum(col("price")).as("sp"),
            min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"),
            avg(col("o_custkey")).as("ac"))
        require(DevRun.readsOnly(agg, roll),
          s"dashboard query must answer from the rollup, not the corpus:\n" +
            agg.queryExecution.executedPlan)
        // sp rounds through DECIMAL(22,2) then presents as DOUBLE
        // (pre-emptive: its green was trailing-zero luck — round-12
        // verdict: "q209's green is a lottery ticket").
        agg.select(col("o_orderstatus"), col("n"), col("np"),
            col("sp").cast("decimal(22,2)").cast("double").as("sp"),
            col("mn"), col("mx"), round(col("ac"), 6).as("ac"))
          .orderBy(col("o_orderstatus"))
      } finally s.conf.unset(RollupRewrite.RegistryConf)
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n, COUNT(price) AS np,
        CAST(CAST(SUM(price) AS DECIMAL(22,2)) AS DOUBLE) AS sp,
        MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx,
        ROUND(AVG(o_custkey), 6) AS ac
      FROM (SELECT o_orderkey, o_custkey, o_orderstatus,
              CAST(o_totalprice AS DECIMAL(12,2)) AS price
            FROM orders WHERE o_orderkey % 10 <> 7)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")),


    // SELF-MAINTAINING materialized view (Rollup.enableAutoSync →
    // post-commit hook → RollupRewriteRule): after ONE registration
    // call, a lifecycle of ordinary commits — append, keyed merge,
    // keyed delete — keeps the rollup cursor-fresh with ZERO explicit
    // sync calls, and the dashboard query is require-pinned to answer
    // from the rollup on every read. The DuckDB oracle aggregates the
    // equivalent final state directly; a missed hook (stale cursor →
    // no rewrite → the require fails) or a wrong maintained value
    // (hash mismatch) both break the row.
    ("q210_autosync_mv", (s: SparkSession, d: String) => {
      import graft.operators.Rollup
      import graft.sinks.{RollupRewrite, SnapshotStore}
      val dir = DevRun.fixtureRoot("q210")
      val src = s"$dir/src"; val roll = s"$dir/rollup"
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"),
        pmod(col("o_orderkey"), lit(4)).cast("string").as("part"))
      SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0), src, "part")
      // Sum-only rollup: fully additive under every window, so the
      // delete below maintains with NO rebuild scan (MIN/MAX through
      // the rewrite is q209's row).
      Rollup.sync(s, src, roll, Seq("o_orderkey"), Seq("o_orderstatus"),
        sumCols = Seq("price", "o_custkey"))
      Rollup.enableAutoSync(s, src, roll)
      // Ordinary DML from here on — NO sync calls. (Update windows
      // through the hook are AutoSyncSpec's merge case; the oracle row
      // keeps the lifecycle to append + delete so the bench prices the
      // hook, not a third diff window.)
      SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(2)) =!= 0), src, "part")
      SnapshotStore.deleteCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(10)) === 4)
          .select(col("o_orderkey")), src, "o_orderkey", "part")
      s.conf.set(RollupRewrite.RegistryConf, roll)
      try {
        val agg = SnapshotStore.table(s, src).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("price")).as("sp"),
            sum(col("o_custkey")).as("sc"))
        require(DevRun.readsOnly(agg, roll),
          s"auto-synced rollup must answer without any manual sync:\n" +
            agg.queryExecution.executedPlan)
        // DECIMAL maintained state stays internal; DOUBLE hash surface
        // (round-12 adjudication — q210's red was "1106127608.20" vs
        // 1106127608.2, a rendering artifact, not a wrong value).
        agg.select(col("o_orderstatus"), col("n"),
            col("sp").cast("decimal(22,2)").cast("double").as("sp"),
            col("sc"))
          .orderBy(col("o_orderstatus"))
      } finally s.conf.unset(RollupRewrite.RegistryConf)
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(CAST(SUM(price) AS DECIMAL(22,2)) AS DOUBLE) AS sp,
        CAST(SUM(o_custkey) AS BIGINT) AS sc
      FROM (SELECT o_orderkey, o_custkey, o_orderstatus,
              CAST(o_totalprice AS DECIMAL(12,2)) AS price
            FROM orders WHERE o_orderkey % 10 <> 4)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")),


    // SORTED buckets (Hive's CLUSTERED+SORTED BY, q208's layout plus
    // per-bucket ordering): both sides clustered `SORTED BY (key)`,
    // and under Spark's bucketed-ordering conf the merge join is
    // require-pinned to plan with ZERO exchanges AND ZERO sorts —
    // scan, zip, done. Spark TRUSTS the declared order (a wrongly
    // sorted file would silently corrupt the join), so the hash
    // match against DuckDB is the real witness that every bucket
    // file was written in key order.
    ("q211_sorted_bucket_join", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q211")
      val lRoot = s"$dir/lineitem_agg"; val oRoot = s"$dir/orders"
      val lagg = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"),
          count(lit(1)).as("lines"))
        .withColumn("part", lit("all"))
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), lit("all").as("part"))
      SnapshotStore.commit(s, lagg, lRoot, "part")
      SnapshotStore.commit(s, orders, oRoot, "part")
      SnapshotStore.bucketTable(s, lRoot, Seq("l_orderkey"), 8,
        sortCols = Seq("l_orderkey"))
      SnapshotStore.bucketTable(s, oRoot, Seq("o_orderkey"), 8,
        sortCols = Seq("o_orderkey"))
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      try {
        val j = SnapshotStore.table(s, oRoot)
          .join(SnapshotStore.table(s, lRoot),
            col("o_orderkey") === col("l_orderkey"))
        val p = j.queryExecution.executedPlan.toString
        require(!p.contains("Exchange") && !p.contains("Sort ["),
          s"sorted co-bucketed join must need neither shuffle nor sort:\n$p")
        // EXECUTE the sort-free plan INSIDE the conf window and pin the
        // cached result: the harness materializes the returned frame
        // later (confs restored, sorts back) — without this, a writer
        // that destroyed per-bucket order would pass both the plan pin
        // and the hash match, because the pinned plan never ran.
        // qty stays DECIMAL through the stored layout and the sort-free
        // join; only the hash surface casts to DOUBLE ("60.00" vs 60.0
        // — the round-12 rendering adjudication).
        val out = j.select(col("o_orderkey"), col("o_orderstatus"),
            col("qty").cast("double").as("qty"), col("lines"))
          .orderBy(col("o_orderkey")).persist()
        out.count()
        out
      } finally {
        s.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }, Some("""
      SELECT o.o_orderkey, o.o_orderstatus,
        CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        COUNT(*) AS lines
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderstatus
      ORDER BY o.o_orderkey""")),


    // SELF-MAINTAINING frequency tables and histograms (Rollup
    // RECORDABLE derives — FreqGuard / HistBin recorded as
    // graft.rollup.derive.* properties, replayed by syncFromProps):
    // ONE registration each, then ordinary append + value-edit +
    // delete commits with ZERO manual syncs keep both dashboards
    // fresh. Require-pins: both cursors equal the source version
    // (auto-sync fired on every window), and the frequency dashboard's
    // GROUP BY answers from the rollup (the guard derive is
    // content-identity, so MV-rewrite eligibility survives). Output:
    // global quantiles from the maintained bins + per-status top-2
    // priorities — DuckDB replays bin arithmetic, the quantile walk,
    // and count/row_number over the derived final state.
    ("q212_autosync_freq_hist", (s: SparkSession, d: String) => {
      import graft.operators.{Frequencies, Histograms, Rollup}
      import graft.sinks.{RollupRewrite, SnapshotStore}
      val dir = DevRun.fixtureRoot("q212")
      val src = s"$dir/src"; val fq = s"$dir/fq"; val hg = s"$dir/hg"
      // Deterministic third of orders: the fixture is ~8 atomic
      // commits whose wall time amplifies host noise in the bench
      // suite (round-13 adjudication) — every pin is structural
      // (cursor == tip), so the subset changes nothing but cost. The
      // oracle filters identically.
      val orders = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        when(pmod(col("o_orderkey"), lit(11)) === 0, lit(null))
          .otherwise(col("o_totalprice")).as("price_n"))
      val (lo, hi, nb) = (0.0, 600000.0, 64)
      SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0),
        src, "o_orderstatus")
      Frequencies.sync(s, src, fq, Seq("o_orderkey"), Seq("o_orderstatus"),
        "o_orderpriority")
      Histograms.sync(s, src, hg, Seq("o_orderkey"), Seq("o_orderstatus"),
        "price_n", lo, hi, nb)
      Rollup.enableAutoSync(s, src, fq)
      Rollup.enableAutoSync(s, src, hg)
      // Ordinary DML from here on — NO sync calls: append, a
      // value-edit window (moves rows between frequency rows AND
      // across bins), and a keyed delete.
      SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(2)) =!= 0),
        src, "o_orderstatus")
      SnapshotStore.upsertDeleteCommit(s, src,
        orders.filter(pmod(col("o_orderkey"), lit(7)) === 0 &&
            pmod(col("o_orderkey"), lit(10)) =!= 9)
          .withColumn("o_orderpriority", lit("9-MOVED"))
          .withColumn("price_n", col("price_n") + 50000.0),
        Some(orders.filter(pmod(col("o_orderkey"), lit(10)) === 9)
          .select(col("o_orderkey"))),
        "o_orderkey", "o_orderstatus")
      val srcV = SnapshotStore.currentVersion(s, src).get
      Seq("frequency" -> fq, "histogram" -> hg).foreach { case (what, r) =>
        val c = SnapshotStore.tablePropertiesMap(s, r)(Rollup.CursorProp)
          .toLong
        require(c == srcV,
          s"$what cursor v$c is stale vs source v$srcV — the recorded " +
            "derive did not auto-sync")
      }
      s.conf.set(RollupRewrite.RegistryConf, fq)
      try {
        val dash = SnapshotStore.table(s, src)
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
        require(DevRun.readsOnly(dash, fq),
          s"the guard-derived frequency table must stay MV-rewrite-" +
            s"eligible:\n${dash.queryExecution.executedPlan}")
      } finally s.conf.unset(RollupRewrite.RegistryConf)
      val qRows = Histograms.globalQuantiles(
          SnapshotStore.read(s, hg), Seq(0.25, 0.5, 0.75), lo, hi, nb)
        .select(concat(lit("q"), col("q")).as("k"),
          round(col("value"), 6).as("v"))
      val tRows = Frequencies.topK(SnapshotStore.read(s, fq),
          Seq("o_orderstatus"), "o_orderpriority", 2)
        .select(concat(lit("t:"), col("o_orderstatus"), lit(":"),
          col("rank"), lit(":"), col("o_orderpriority")).as("k"),
          col("row_count").cast("double").as("v"))
      qRows.unionByName(tRows).orderBy(col("k"))
    }, Some("""
      WITH fin AS (
        SELECT o_orderstatus,
          CASE WHEN o_orderkey % 7 = 0 THEN '9-MOVED'
               ELSE o_orderpriority END AS prio,
          CASE WHEN o_orderkey % 11 = 0 THEN NULL
               WHEN o_orderkey % 7 = 0 THEN o_totalprice + 50000.0
               ELSE o_totalprice END AS price_n
        FROM orders WHERE o_orderkey % 10 <> 9 AND o_orderkey % 3 = 0),
      b AS (
        SELECT LEAST(GREATEST(CAST(FLOOR(price_n / 9375.0) AS INT), 0),
                     63) AS bin,
               CAST(count(*) AS BIGINT) AS c
        FROM fin WHERE price_n IS NOT NULL GROUP BY 1),
      cm AS (
        SELECT bin, c, sum(c) OVER (ORDER BY bin) AS cum,
               sum(c) OVER () AS total
        FROM b),
      qs AS (SELECT unnest([0.25, 0.5, 0.75]::DOUBLE[]) AS q),
      sel AS (
        SELECT q, bin, c, cum, GREATEST(q * total, 1e-9) AS target
        FROM qs CROSS JOIN cm),
      quant AS (
        SELECT 'q' || CAST(q AS VARCHAR) AS k,
               round(0.0 + 9375.0 * (bin + (target - (cum - c)) / c),
                     6) AS v
        FROM sel WHERE cum >= target AND cum - c < target),
      f AS (
        SELECT o_orderstatus, prio,
               CAST(count(*) AS BIGINT) AS row_count
        FROM fin GROUP BY 1, 2),
      r AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY o_orderstatus
          ORDER BY row_count DESC, prio ASC) AS INT) AS rank
        FROM f),
      tk AS (
        SELECT concat('t:', o_orderstatus, ':',
                      CAST(rank AS VARCHAR), ':', prio) AS k,
               CAST(row_count AS DOUBLE) AS v
        FROM r WHERE rank <= 2)
      SELECT k, v FROM quant
      UNION ALL SELECT k, v FROM tk
      ORDER BY k""")),

    // ANALYZE + COST-BASED OPTIMIZATION (SnapshotStats): table-level
    // rowCount is manifest-derived — exact and fresh at every version
    // with zero scans (require-pinned against the post-delete live
    // count); ONE explicit ANALYZE records per-column NDVs, and under
    // `spark.sql.cbo.*` a selective-filter join flips from shuffled
    // SMJ to broadcast purely from the recorded statistics (both plan
    // states require-pinned in-query). The broadcast threshold is set
    // RELATIVE to the table's actual bytes, so the pin holds at any
    // SF: size-only costing sees the full file size (> threshold, no
    // broadcast); CBO sees rows/NDV(ckb) ≈ 1% (< threshold,
    // broadcast). Values are identical either way — the oracle
    // aggregates the equivalent join directly.
    ("q213_analyze_cbo", (s: SparkSession, d: String) => {
      import graft.sinks.{SnapshotStats, SnapshotStore}
      val dir = DevRun.fixtureRoot("q213")
      val src = s"$dir/orders"
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        pmod(col("o_custkey"), lit(100)).cast("string").as("ckb"),
        pmod(col("o_orderkey"), lit(4)).cast("string").as("part"))
      SnapshotStore.commit(s, orders, src, "part")
      SnapshotStore.deleteWhere(s, src, "o_orderkey % 10 = 7")
      SnapshotStats.analyze(s, src)
      val live = orders.filter(pmod(col("o_orderkey"), lit(10)) =!= 7).count()
      val fact = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_returnflag"), col("l_quantity"))
      def q(): DataFrame = {
        val (dim, _) = SnapshotStore.tableWithIndex(s, src)
        dim.filter(col("ckb") === "7")
          .join(fact, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("decimal(22,2)").cast("double").as("sq"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("decimal(22,2)").cast("double").as("sp"))
          .orderBy(col("l_returnflag"))
      }
      // Threshold RELATIVE to the table's actual bytes (no absolute
      // floor — a floor above a tiny SF's file size would let even
      // size-only costing broadcast and break the A/B pin): size-only
      // sees bytes > bytes/4 → no broadcast; CBO sees ~rows/NDV(ckb)
      // = 1% of rows → well under at every SF.
      val bytes = SnapshotStore.tableWithIndex(s, src)._2.sizeInBytes
      s.conf.set("spark.sql.autoBroadcastJoinThreshold",
        math.max(1L, bytes / 4))
      try {
        val plain = q().queryExecution.executedPlan.toString
        require(!plain.contains("BroadcastHashJoin"),
          s"size-only costing must not broadcast a >threshold dim:\n$plain")
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.cbo.planStats.enabled", "true")
        try {
          val cbo = q()
          val scanStats = cbo.queryExecution.optimizedPlan.collectLeaves()
            .collectFirst {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
                => lr.stats
            }.getOrElse(throw new IllegalStateException("no scan leaf"))
          require(scanStats.rowCount.contains(BigInt(live)),
            s"manifest rowCount must be the exact live count: " +
              s"${scanStats.rowCount} vs $live")
          val planned = cbo.queryExecution.executedPlan.toString
          require(planned.contains("BroadcastHashJoin"),
            s"recorded NDVs must flip the selective join to broadcast:\n$planned")
          cbo.persist()
          cbo.count()
          cbo
        } finally {
          s.conf.unset("spark.sql.cbo.enabled")
          s.conf.unset("spark.sql.cbo.planStats.enabled")
        }
      } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }, Some("""
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sq,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey % 100 = 7 AND o_orderkey % 10 <> 7
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    // DYNAMIC FILE PRUNING (DynamicPruning.joinPruned): a dim slice's
    // join keys skip fact FILES at plan time — the filter that static
    // pushdown can never see because it only exists through the join.
    // The fact table is range-partitioned on the key (the monotonic-
    // ingest-id layout), the dim slice is "the newest tenth of orders"
    // (keys ≥ ⌊9·max/10⌋), and the probe turns that slice into an
    // In-list the skipping index prunes with per-file min/max:
    // require-pinned to open STRICTLY fewer than half the files.
    // Results are join-identical by construction — the oracle runs the
    // plain join in DuckDB.
    ("q214_dynamic_file_pruning", (s: SparkSession, d: String) => {
      import graft.operators.DynamicPruning
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q214")
      val fact = s"$dir/lineitem"
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      // Range partitioning on the join key: 16 key-contiguous
      // partitions, so each file carries a tight [min,max] on
      // l_orderkey — the layout join-time pruning exploits.
      val maxk = li.agg(max(col("l_orderkey"))).collect()(0).getLong(0)
      val width = math.max(1L, maxk / 16 + 1)
      SnapshotStore.commit(s,
        li.withColumn("part", (col("l_orderkey") / lit(width))
          .cast("long").cast("string")), fact, "part")
      val cutoff = maxk * 9 / 10
      val dim = t(s, d, "orders")
        .filter(col("o_orderkey") >= cutoff)
        .select(col("o_orderkey"), col("o_orderstatus"))
      // The slice holds at most maxk/10 + 1 distinct integer keys, so
      // this bound is exact and the engaged-pin holds at ANY SF (the
      // default 100k would disengage past sf≈0.7).
      val bound = math.max(100000L, math.min(Int.MaxValue.toLong,
        maxk / 10 + 1)).toInt
      val (joined, idx, engaged) = DynamicPruning.joinPrunedWithIndex(
        s, fact, "l_orderkey", dim, "o_orderkey", maxKeys = bound)
      val out = joined.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sq"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sp"))
        .orderBy(col("o_orderstatus"))
      out.persist()
      out.count() // plan + listFiles inside this call
      require(engaged, "the dim slice must fit the key-probe bound")
      require(idx.lastCandidateFiles * 2 < idx.totalFiles,
        s"join-time skipping must prune the range-partitioned fact: " +
          s"${idx.lastCandidateFiles} of ${idx.totalFiles} files kept")
      out
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sq,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderkey >= (SELECT (MAX(l_orderkey) * 9) // 10 FROM lineitem)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")),

    // INCREMENTAL CLUSTERING lifecycle (clusterIncremental / OPTIMIZE
    // … ZORDER BY … INCREMENTAL): full pass, ordinary append, then the
    // SQL incremental pass — require-pinned that the second pass
    // carries every first-generation file BY REFERENCE (maintenance ∝
    // the delta, the Delta-liquid cost model) and that a narrow key
    // range still skips through two clustered generations. Content is
    // layout-invariant — the DuckDB oracle aggregates the final state.
    ("q215_incremental_clustering", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q215")
      val root = s"$dir/orders"
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sinks.GraftCatalog].getName)
      // Deterministic third of orders — the multi-commit lifecycle's
      // pins are all path-set algebra (gen-1 ⊆ after, baseline
      // advanced, <half the files), so the subset only cuts the
      // fixture's noise-amplifying wall time. The oracle filters
      // identically.
      val orders = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"),
        pmod(col("o_custkey"), lit(8)).cast("string").as("part"))
      SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
          .repartition(8), root, "part")
      SnapshotStore.clusterIncremental(s, root, "part", Seq("o_orderkey"))
      val gen1 = SnapshotStore.manifest(s, root,
        SnapshotStore.currentVersion(s, root).get).map(_.path).toSet
      SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(5)) === 0)
          .repartition(2), root, "part")
      val out = s.sql(s"OPTIMIZE graft.`$root` ZORDER BY (o_orderkey) INCREMENTAL")
        .collect()
      val v = out(0).getLong(1)
      val after = SnapshotStore.manifest(s, root, v).map(_.path).toSet
      require(gen1.subsetOf(after),
        "the incremental pass must carry gen-1 files by reference")
      require(SnapshotStore.tablePropertiesMap(s, root)
        .get(SnapshotStore.ClusteredAtProp).contains(v.toString),
        "the pass must advance the clustering baseline")
      // Two generations must still skip: a narrow key range opens
      // fewer than half the files.
      val (df, idx) = SnapshotStore.tableWithIndex(s, root)
      val maxk = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
      val slice = df.filter(col("o_orderkey") >= maxk / 2 &&
          col("o_orderkey") <= maxk / 2 + maxk / 50)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sp"))
      slice.persist(); slice.count()
      require(idx.lastCandidateFiles * 2 < idx.totalFiles,
        s"two clustered generations must still skip: " +
          s"${idx.lastCandidateFiles}/${idx.totalFiles}")
      slice
    }, Some("""
      WITH sub AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0)
      SELECT COUNT(*) AS n,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM sub
      WHERE o_orderkey >= (SELECT MAX(o_orderkey) FROM sub) // 2
        AND o_orderkey <= (SELECT MAX(o_orderkey) FROM sub) // 2
          + (SELECT MAX(o_orderkey) FROM sub) // 50""")),

    // CLUSTERING ON WRITE (graft.autoCluster.keys): after ONE property,
    // ordinary appends keep the table clustered — each data commit
    // z-orders its own delta as a post-commit rider. Require-pinned:
    // the clustering baseline equals the tip after EVERY append (zero
    // manual OPTIMIZE calls), and a narrow key range still opens fewer
    // than half the files. Content is layout-invariant — the oracle
    // aggregates the final state.
    ("q217_auto_cluster", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q217")
      val root = s"$dir/orders"
      // Deterministic quarter at write-width 3 — same rationale as
      // q212/q215 (round-15 trim: the pins are structural — baseline
      // == tip, <half the files — and k=3 appends at half the file
      // count prove the identical invariant; this lifecycle was the
      // bench suite's worst-query noise amplifier). Keyed on CUSTKEY:
      // the commits below split on o_orderkey % 3, so an
      // orderkey-modulus subset would empty two of them.
      val orders = t(s, d, "orders")
        .filter(pmod(col("o_custkey"), lit(4)) === 0)
        .select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"),
        pmod(col("o_custkey"), lit(8)).cast("string").as("part"))
      SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
          .repartition(3), root, "part")
      SnapshotStore.setProperties(s, root,
        Seq(SnapshotStore.AutoClusterProp -> "o_orderkey"))
      def tipIsBaseline(): Unit = {
        val tip = SnapshotStore.currentVersion(s, root).get
        require(SnapshotStore.tablePropertiesMap(s, root)
          .get(SnapshotStore.ClusteredAtProp).contains(tip.toString),
          s"the hook must keep baseline == tip (tip $tip)")
      }
      SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 1)
          .repartition(3), root, "part")
      tipIsBaseline()
      SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 2)
          .repartition(3), root, "part")
      tipIsBaseline()
      val (df, idx) = SnapshotStore.tableWithIndex(s, root)
      val maxk = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
      val out = df.filter(col("o_orderkey") >= maxk / 4 &&
          col("o_orderkey") <= maxk / 4 + maxk / 40)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sp"))
      out.persist(); out.count()
      require(idx.lastCandidateFiles * 2 < idx.totalFiles,
        s"an always-clustered table must skip: " +
          s"${idx.lastCandidateFiles}/${idx.totalFiles}")
      out
    }, Some("""
      WITH sub AS (SELECT * FROM orders WHERE o_custkey % 4 = 0)
      SELECT COUNT(*) AS n,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM sub
      WHERE o_orderkey >= (SELECT MAX(o_orderkey) FROM sub) // 4
        AND o_orderkey <= (SELECT MAX(o_orderkey) FROM sub) // 4
          + (SELECT MAX(o_orderkey) FROM sub) // 40""")),

    // OPTIMIZED WRITES (graft.optimizeWrite): after the property, a
    // deliberately fragmented append (6 upstream tasks × 8 partition
    // values = 48 files without it) lands as ≤2 files per partition —
    // require-pinned per partition — and content is write-path-
    // invariant (the oracle aggregates the merged state directly).
    ("q216_optimize_write", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q216")
      val root = s"$dir/orders"
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"),
        pmod(col("o_custkey"), lit(8)).cast("string").as("part"))
      SnapshotStore.commit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), root, "part")
      SnapshotStore.setProperties(s, root,
        Seq(SnapshotStore.OptimizeWriteProp -> "true"))
      val before = SnapshotStore.manifest(s, root,
          SnapshotStore.currentVersion(s, root).get)
        .groupBy(_.partition).view.mapValues(_.size).toMap
      SnapshotStore.appendCommit(s,
        orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
          .repartition(6), root, "part")
      val after = SnapshotStore.manifest(s, root,
          SnapshotStore.currentVersion(s, root).get)
        .groupBy(_.partition).view.mapValues(_.size).toMap
      require(after.forall { case (p, n) => n - before.getOrElse(p, 0) <= 2 },
        s"optimized write must land ~1 file per partition, not one per " +
          s"upstream task: $before -> $after")
      SnapshotStore.table(s, root).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sp"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")),

    // TRANSPARENT dynamic file pruning (DynamicPruningRule, the
    // Delta-DFP shape): the SAME join-time file skipping q214 gets
    // through the explicit operator, here from a PURE SQL join with
    // zero API calls — `spark.graft.dynamicFilePruning=true` is the
    // only change. A/B require-pinned in-query: with the rule off the
    // join opens ALL files (plans elsewhere stay byte-identical);
    // with it on, the dim slice's bounded key probe turns into an
    // In-list the skipping index prunes to STRICTLY fewer than half
    // the files — and the values are the plain join's (the oracle
    // runs it in DuckDB). The key bound is derived from the table's
    // own key range so the pin holds at any SF.
    ("q218_dfp_rule_sql", (s: SparkSession, d: String) => {
      import graft.sinks.{DynamicPruningRule, SnapshotStore}
      val dir = DevRun.fixtureRoot("q218")
      val fact = s"$dir/lineitem"
      // Deterministic half of lineitem keeps the fixture light; the
      // oracle filters identically.
      val li = t(s, d, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(2)) === 0)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      // Range partitioning on the join key (the monotonic-ingest
      // layout): tight per-file [min,max] on l_orderkey.
      val maxk = li.agg(max(col("l_orderkey"))).collect()(0).getLong(0)
      val width = math.max(1L, maxk / 16 + 1)
      SnapshotStore.commit(s,
        li.withColumn("part", (col("l_orderkey") / lit(width))
          .cast("long").cast("string")), fact, "part")
      val cutoff = maxk * 9 / 10
      val (factDf, idx) = SnapshotStore.tableWithIndex(s, fact)
      factDf.createOrReplaceTempView("q218_fact")
      // The dim is a MATERIALIZED slice (the newest tenth of orders,
      // tagged) filtered on a NON-key column: its key selectivity is
      // invisible to static planning — Catalyst's constraint
      // propagation has no o_orderkey predicate to transfer across
      // the join (a `o_orderkey >= cutoff` filter would prune
      // statically without any DFP — that case needs no rule). Only
      // the runtime probe can discover the keys. This is the classic
      // date-sliced-dim star-join shape. The slice is committed as a
      // GRAFT SNAPSHOT (not a bare parquet dir): version-pinned
      // leaves are immutable by construction, so the rule takes the
      // PLAN-TIME path and freezes the probe's keys into the plan; an
      // overwritable parquet directory takes the runtime-probe path
      // instead (q227).
      val dimRoot = s"$dir/dim_hot"
      SnapshotStore.commit(s,
        t(s, d, "orders").filter(col("o_orderkey") >= cutoff)
          .select(col("o_orderkey"), col("o_orderstatus"),
            lit("hot").as("tag")),
        dimRoot, "tag")
      SnapshotStore.table(s, dimRoot).filter(col("tag") === "hot")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .createOrReplaceTempView("q218_dim")
      val sql = """
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
            AS DOUBLE) AS sq
        FROM q218_fact JOIN q218_dim ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      // OFF: default plans are untouched — every file opens. Collected
      // (not persisted): a cached identical plan would be substituted
      // into the ON run before the optimizer ever saw the join.
      val offRows = s.sql(sql).collect().toSeq
      require(idx.lastCandidateFiles == idx.totalFiles,
        s"with the rule off the plain join must open ALL files: " +
          s"${idx.lastCandidateFiles}/${idx.totalFiles}")
      // ON: SF-relative key bound. The slice holds ~maxk/10 keys but
      // NOT exactly (integer-division cutoff + orders keys above the
      // even-lineitem max add a few) — maxk/5 gives the pin 2× margin
      // at every SF where the 10k floor doesn't already cover it.
      s.conf.set(DynamicPruningRule.EnabledConf, "true")
      s.conf.set(DynamicPruningRule.MaxKeysConf,
        math.max(DynamicPruningRule.DefaultMaxKeys.toLong,
          math.min(Int.MaxValue.toLong, maxk / 5)).toString)
      try {
        val on = s.sql(sql)
        on.persist(); on.count() // plan + listFiles inside the window
        require(idx.lastCandidateFiles * 2 < idx.totalFiles,
          s"the transparent rule must skip files from pure SQL: " +
            s"${idx.lastCandidateFiles}/${idx.totalFiles}")
        require(on.collect().toSeq == offRows,
          "pruned and plain joins must be value-identical")
        on
      } finally {
        s.conf.unset(DynamicPruningRule.EnabledConf)
        s.conf.unset(DynamicPruningRule.MaxKeysConf)
      }
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sq
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey % 2 = 0
        AND o_orderkey >= (SELECT (MAX(CASE WHEN l_orderkey % 2 = 0
              THEN l_orderkey END) * 9) // 10 FROM lineitem)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")),

    // COST-BASED JOIN REORDERING from recorded statistics (E121
    // extended): a 3-table star written AS the user would write it —
    // fact ⋈ orders (huge) ⋈ selective supplier slice — joins the big
    // dim first unless the optimizer knows better. A/B require-pinned
    // in-query: without CBO the bottom-most join is (fact, orders) as
    // written; under `spark.sql.cbo.joinReorder.enabled` the ANALYZE'd
    // rowCounts + NDVs reorder it to (fact, supplier-slice) — the
    // selective dim first, the multiplicative win a wrong join order
    // costs at 100 TB. The pin is on RELATIVE cardinalities
    // (|supplier-slice| ≪ |orders|, both manifest-exact), so it holds
    // at any SF. Values are join-order-invariant — the oracle runs
    // the star in DuckDB.
    ("q219_cbo_join_reorder", (s: SparkSession, d: String) => {
      import graft.sinks.{GraftFileIndex, SnapshotStats, SnapshotStore}
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val dir = DevRun.fixtureRoot("q219")
      val factR = s"$dir/lineitem"; val dimOR = s"$dir/orders"
      val dimSR = s"$dir/supplier"
      SnapshotStore.commit(s,
        t(s, d, "lineitem").filter(pmod(col("l_orderkey"), lit(2)) === 0)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"),
            col("l_extendedprice"),
            pmod(col("l_orderkey"), lit(4)).cast("string").as("part")),
        factR, "part")
      SnapshotStore.commit(s,
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          pmod(col("o_orderkey"), lit(4)).cast("string").as("part")),
        dimOR, "part")
      SnapshotStore.commit(s,
        t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"),
          lit("0").as("part")), dimSR, "part")
      Seq(factR, dimOR, dimSR).foreach(r => SnapshotStats.analyze(s, r))
      def q(): DataFrame =
        SnapshotStore.table(s, factR)
          .join(SnapshotStore.table(s, dimOR),
            col("l_orderkey") === col("o_orderkey"))
          .join(SnapshotStore.table(s, dimSR)
              .filter(col("s_nationkey") <= 5),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("decimal(22,2)").cast("double").as("sq"),
            sum(col("l_extendedprice").cast("decimal(18,2)"))
              .cast("decimal(22,2)").cast("double").as("sp"))
          .orderBy(col("o_orderstatus"))
      // Snapshot roots under the BOTTOM-MOST join of the optimized
      // plan — the pair the optimizer chose to join first.
      def bottomRoots(df: DataFrame): Set[String] = {
        val joins = df.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }
        val bottom = joins.find(j => j.collect { case jj: LJoin => jj }
          .size == 1).getOrElse(
          throw new IllegalStateException("no bottom join in the plan"))
        bottom.collectLeaves().collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location match {
              case g: GraftFileIndex => g.tableRoot.getOrElse("")
              case _ => ""
            }
        }.toSet
      }
      val off = q()
      require(bottomRoots(off).contains(dimOR) &&
          !bottomRoots(off).contains(dimSR),
        s"without CBO the star must join as written (orders first): " +
          s"${bottomRoots(off)}")
      val offRows = off.collect().toSeq
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.planStats.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      try {
        val on = q()
        require(bottomRoots(on).contains(dimSR) &&
            !bottomRoots(on).contains(dimOR),
          s"recorded stats must join the SELECTIVE dim first: " +
            s"${bottomRoots(on)}")
        on.persist(); on.count()
        require(on.collect().toSeq == offRows,
          "join order must never change values")
        on
      } finally {
        s.conf.unset("spark.sql.cbo.enabled")
        s.conf.unset("spark.sql.cbo.planStats.enabled")
        s.conf.unset("spark.sql.cbo.joinReorder.enabled")
      }
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sq,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
      WHERE l_orderkey % 2 = 0 AND s_nationkey <= 5
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")),

    // NESTED-FIELD FILE SKIPPING (the reference's own index spec is
    // nested: supplier.id / variants.sku —
    // unified_product_schema.py:229-248): a unified-shaped snapshot
    // whose layout correlates with supplier.id gets file skipping
    // from a `WHERE supplier.id >= …` STRUCT-LEAF predicate —
    // FileStats harvests parquet's dot-path leaf stats at commit and
    // the translation layer now resolves GetStructField chains onto
    // them. Require-pinned to open fewer than half the files; the
    // zero-padded id makes string order == customer-key order, so
    // the oracle filters on the key directly.
    ("q220_nested_skipping", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q220")
      val root = s"$dir/unified"
      val src0 = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      val maxc = src0.agg(max(col("o_custkey"))).collect()(0).getLong(0)
      val widthC = math.max(1L, maxc / 8 + 1)
      // Partitioned by the customer-key band, so each file carries a
      // tight supplier.id range — the layout-correlated shape nested
      // skipping exists for.
      SnapshotStore.commit(s,
        src0.select(col("o_orderkey"),
          struct(format_string("S%07d", col("o_custkey")).as("id"),
            pmod(col("o_custkey"), lit(25)).as("nation")).as("supplier"),
          col("o_totalprice"),
          (col("o_custkey") / lit(widthC)).cast("long").cast("string")
            .as("part")),
        root, "part")
      val cutoff = maxc * 9 / 10
      val cut = f"S$cutoff%07d"
      val (df, idx) = SnapshotStore.tableWithIndex(s, root)
      val out = df.filter(col("supplier.id") >= cut)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sp"))
      out.persist(); out.count() // plan + listFiles inside this call
      require(idx.lastCandidateFiles * 2 < idx.totalFiles,
        s"a struct-leaf predicate must skip files: " +
          s"${idx.lastCandidateFiles}/${idx.totalFiles}")
      out
    }, Some("""
      WITH sub AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0)
      SELECT COUNT(*) AS n,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM sub
      WHERE o_custkey >= (SELECT (MAX(o_custkey) * 9) // 10 FROM sub)""")),

    // GENERATED PARTITION COLUMNS (Delta's `GENERATED ALWAYS AS`,
    // E131): CREATE TABLE records the expression; an INSERT that
    // OMITS the column gets it computed and partition-routed; and a
    // timestamp-only predicate prunes files because the generated
    // layout makes every file's ev_ts range year-tight — the
    // partition-pruning ergonomic the column exists for, pinned as
    // candidate-file algebra. Values oracled vs DuckDB on the
    // equivalent date arithmetic.
    ("q221_generated_partition", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q221")
      val root = s"$dir/events"
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"""CREATE TABLE graft.`$root` (
        ev_ts TIMESTAMP, ev_key BIGINT, price DOUBLE,
        yr DATE GENERATED ALWAYS AS (CAST(date_trunc('YEAR', ev_ts) AS DATE))
      ) USING graft-snapshot PARTITIONED BY (yr)""")
      t(s, d, "orders").filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(
          expr("CAST(o_orderdate AS TIMESTAMP) + " +
            "make_interval(0, 0, 0, 0, CAST(o_orderkey % 24 AS INT), 0, 0)")
            .as("ev_ts"),
          col("o_orderkey").as("ev_key"),
          col("o_totalprice").cast("double").as("price"))
        .createOrReplaceTempView("q221_src")
      // The INSERT omits `yr` — the recorded expression computes it.
      // MICROS timestamps (not Spark's INT96 default): INT96 stats are
      // order-ambiguous and the sidecar refuses them (the DataSkipping
      // pin), so a ts-range-prunable table opts in at write.
      s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try s.sql(
        s"INSERT INTO graft.`$root` SELECT ev_ts, ev_key, price FROM q221_src")
      finally s.conf.unset("spark.sql.parquet.outputTimestampType")
      val (df, idx) = SnapshotStore.tableWithIndex(s, root)
      require(df.filter(col("yr") =!=
          date_trunc("YEAR", col("ev_ts")).cast("date")).count() == 0,
        "every computed yr must equal its expression")
      val years = s.sql(s"SHOW PARTITIONS graft.`$root`").count()
      require(years >= 3, s"expected several year partitions, got $years")
      val out = df.filter(col("ev_ts") >= lit("1996-01-01").cast("timestamp") &&
          col("ev_ts") < lit("1997-01-01").cast("timestamp"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sp"))
      out.persist(); out.count() // plan + listFiles inside this call
      require(idx.lastCandidateFiles * 2 < idx.totalFiles,
        s"a timestamp-only predicate must prune the generated layout: " +
          s"${idx.lastCandidateFiles}/${idx.totalFiles}")
      out
    }, Some("""
      WITH sub AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0)
      SELECT COUNT(*) AS n,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM sub
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-01-01'""")),

    // PERCEPTUAL image near-dup (pHash on the guarded raster path →
    // the banded Hamming machinery L3 owns): 40 order-key-derived
    // PATTERNED images, each present as a PNG and a lossy JPEG
    // re-encode — exact-hash dedup misses re-encodes by construction
    // (every byte differs), the 64-bit DCT pHash pairs them. Output
    // is id-arithmetic: exactly the 40 same-image pairs survive
    // (cross-image pairs require-pinned ABSENT in-query), one corrupt
    // row hashes null and pairs with nothing. The oracle replays the
    // id arithmetic.
    ("q222_phash_near_dup", (s: SparkSession, d: String) => {
      import graft.operators.{Dedup, Multimodal}
      import graft.operators.Multimodal.ImageCodec
      // 40 deterministic seeds from the orders table (inputs come
      // from testdata; the image CONTENT is seed-derived — the same
      // id-arithmetic fixture discipline as q149/q161).
      val keys = t(s, d, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(40)
        .collect().map(_.getLong(0))
      // Min-block-distance seed code: distinct images are GUARANTEED
      // far apart, not random-seed-probably.
      val seeds = ImageCodec.patternSeeds(40)
      val rows = keys.zip(seeds).flatMap { case (k, seed) =>
        val png = ImageCodec.encodePattern(96, 96, seed, "png")
        val jpg = ImageCodec.encodePattern(96, 96, seed, "jpeg")
        Seq((k * 10 + 1, k, png), (k * 10 + 2, k, jpg))
      } :+ ((keys.max * 10 + 3, -1L, Array[Byte](1, 2, 3))) // corrupt
      import s.implicits._
      val media = rows.toSeq.toDF("media_id", "image_key", "content")
      val hashes = Multimodal.perceptualHashes(media)
      require(hashes.filter(col("phash").isNull).count() == 1,
        "exactly the corrupt row must hash null")
      // The signature is 63-bit (DC excluded, bit 63 structurally 0),
      // so band it as 63 bits: bands=21 (3-bit chunks) is
      // pigeonhole-exact to Hamming 20, well above the re-encode
      // threshold here — and every chunk carries 3 INFORMATIVE bits
      // (64-bit banding would give one chunk a constant bit and 2×
      // collision-prone buckets).
      val pairs = Dedup.hammingPairs(hashes, col("media_id"), col("phash"),
        bits = 63, bands = 21, maxHamming = 10)
      val keyed = pairs
        .withColumn("key_a", (col("id_a") / 10).cast("long"))
        .withColumn("key_b", (col("id_b") / 10).cast("long"))
      require(keyed.filter(col("key_a") =!= col("key_b")).count() == 0,
        "distinct images must NOT pair within the re-encode threshold")
      val out = keyed.filter(col("key_a") === col("key_b"))
        .select(col("key_a").as("image_key"), lit(1L).as("near_dup_pairs"))
        .orderBy(col("image_key"))
      out.persist()
      require(out.count() == 40,
        "every png/jpeg re-encode pair must land within the threshold")
      out
    }, Some("""
      SELECT o_orderkey AS image_key, CAST(1 AS BIGINT) AS near_dup_pairs
      FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 40)
      ORDER BY image_key""")),

    // TRANSPARENT DFP through the DELETION-VECTOR read boundary
    // (round-15 headline): q218's shape, but the fact has absorbed a
    // sparse DV DELETE first — the NORMAL state of a long-lived
    // 100 TB fact — so its reads go through the merge-on-read
    // anti-join wrapper. The rule resolves through the wrapper to
    // the skipping index; the In-list pushes BELOW it, DV row
    // filtering still applies above. A/B require-pinned in-query:
    // rule off → ALL files; on → strictly fewer than half, values
    // identical to the plain DV read (the oracle replays the delete
    // as a predicate in DuckDB — deleted rows provably absent).
    ("q223_dfp_dv_fact", (s: SparkSession, d: String) => {
      import graft.sinks.{DynamicPruningRule, SnapshotStore}
      val dir = DevRun.fixtureRoot("q223")
      val fact = s"$dir/lineitem"
      val li = t(s, d, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(2)) === 0)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val maxk = li.agg(max(col("l_orderkey"))).collect()(0).getLong(0)
      val width = math.max(1L, maxk / 16 + 1)
      SnapshotStore.commit(s,
        li.withColumn("part", (col("l_orderkey") / lit(width))
          .cast("long").cast("string")), fact, "part")
      // Sparse delete: ~1/10 of the even keys, scattered across every
      // range partition — a position-list DV on each file, never a
      // partition drop (the predicate is not partition-only).
      SnapshotStore.deleteWhereDv(s, fact, "l_orderkey % 20 = 6")
      val (factDf, idx) = SnapshotStore.tableWithIndex(s, fact)
      factDf.createOrReplaceTempView("q223_fact")
      val cutoff = maxk * 9 / 10
      val dimRoot = s"$dir/dim_hot"
      SnapshotStore.commit(s,
        t(s, d, "orders").filter(col("o_orderkey") >= cutoff)
          .select(col("o_orderkey"), col("o_orderstatus"),
            lit("hot").as("tag")),
        dimRoot, "tag")
      SnapshotStore.table(s, dimRoot).filter(col("tag") === "hot")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .createOrReplaceTempView("q223_dim")
      val sql = """
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
            AS DOUBLE) AS sq
        FROM q223_fact JOIN q223_dim ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      val offRows = s.sql(sql).collect().toSeq
      require(idx.lastCandidateFiles == idx.totalFiles,
        s"rule off: the plain DV join must open ALL files: " +
          s"${idx.lastCandidateFiles}/${idx.totalFiles}")
      s.conf.set(DynamicPruningRule.EnabledConf, "true")
      s.conf.set(DynamicPruningRule.MaxKeysConf,
        math.max(DynamicPruningRule.DefaultMaxKeys.toLong,
          math.min(Int.MaxValue.toLong, maxk / 5)).toString)
      try {
        val on = s.sql(sql)
        on.persist(); on.count()
        require(idx.lastCandidateFiles * 2 < idx.totalFiles,
          s"the rule must prune THROUGH the DV wrapper: " +
            s"${idx.lastCandidateFiles}/${idx.totalFiles}")
        require(on.collect().toSeq == offRows,
          "pruned and plain DV joins must be value-identical")
        on
      } finally {
        s.conf.unset(DynamicPruningRule.EnabledConf)
        s.conf.unset(DynamicPruningRule.MaxKeysConf)
      }
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sq
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey % 2 = 0 AND l_orderkey % 20 <> 6
        AND o_orderkey >= (SELECT (MAX(CASE WHEN l_orderkey % 2 = 0
              THEN l_orderkey END) * 9) // 10 FROM lineitem)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")),

    // DERIVED PARTITION PREDICATES from generated columns (round 15):
    // q221's table shape written with INT96 timestamps — Spark's
    // DEFAULT physical type, which is order-ambiguous so the stats
    // sidecar refuses ev_ts entirely (require-pinned in-query:
    // statsEntries provably carry no ev_ts). Under q221's footer-stats
    // mechanism this table scans EVERYTHING; here the recorded
    // monotone generation expression rewrites `ts >= X AND ts < Y`
    // onto the generated partition column (`yr >= E(X) AND yr <=
    // E(Y−1µs)` — strict bounds tightened one unit before E collapses
    // them), pruning at the listing level with exact partition-column
    // stats. Delta derives the same predicates; this is that algebra.
    ("q224_generated_derive_int96", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q224")
      val root = s"$dir/events"
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"""CREATE TABLE graft.`$root` (
        ev_ts TIMESTAMP, ev_key BIGINT, price DOUBLE,
        yr DATE GENERATED ALWAYS AS (CAST(date_trunc('YEAR', ev_ts) AS DATE))
      ) USING graft-snapshot PARTITIONED BY (yr)""")
      t(s, d, "orders").filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(
          expr("CAST(o_orderdate AS TIMESTAMP) + " +
            "make_interval(0, 0, 0, 0, CAST(o_orderkey % 24 AS INT), 0, 0)")
            .as("ev_ts"),
          col("o_orderkey").as("ev_key"),
          col("o_totalprice").cast("double").as("price"))
        .createOrReplaceTempView("q224_src")
      // INT96 on purpose (and explicitly — a sibling query may have
      // switched the shared session to MICROS): the point is a
      // stats-OPAQUE input column.
      s.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      try s.sql(
        s"INSERT INTO graft.`$root` SELECT ev_ts, ev_key, price FROM q224_src")
      finally s.conf.unset("spark.sql.parquet.outputTimestampType")
      val (df, idx) = SnapshotStore.tableWithIndex(s, root)
      require(idx.statsEntries.exists(_.nonEmpty) &&
          idx.statsEntries.get.forall(!_.cols.contains("ev_ts")),
        "fixture must be stats-opaque on ev_ts (INT96) — otherwise this " +
          "query proves nothing beyond q221")
      val out = df.filter(col("ev_ts") >= lit("1996-01-01").cast("timestamp") &&
          col("ev_ts") < lit("1997-01-01").cast("timestamp"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sp"))
      out.persist(); out.count() // plan + listFiles inside this call
      require(idx.lastCandidateFiles * 2 < idx.totalFiles,
        s"the DERIVED yr predicate must prune where footer stats cannot: " +
          s"${idx.lastCandidateFiles}/${idx.totalFiles}")
      out
    }, Some("""
      WITH sub AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1)
      SELECT COUNT(*) AS n,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM sub
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-01-01'"""))
    ,

    // IDENTITY COLUMNS (Delta's GENERATED ALWAYS AS IDENTITY, E137):
    // the table owns the column — two omitting INSERTs allocate
    // contiguous gap-free ranges (batch 2 continues exactly at the
    // mark), an explicit value is require-pinned REFUSED, a delete
    // never reopens ids (the mark is monotone metadata: batch 3
    // starts past the deleted range). Output is the id-set algebra —
    // count/distinct/min/max/sum — which the oracle reproduces in
    // closed form from the batch sizes (ids are {1..n1+n2} minus the
    // deleted multiples of 7, plus {n1+n2+1..n1+n2+n3}).
    ("q225_identity_column", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q225")
      val root = s"$dir/events"
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"""CREATE TABLE graft.`$root` (
        id BIGINT GENERATED ALWAYS AS IDENTITY,
        ok BIGINT, part STRING
      ) USING graft-snapshot PARTITIONED BY (part)""")
      def slice(m: Int) = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(3)) === m)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(4)).cast("string").as("part"))
      slice(0).createOrReplaceTempView("q225_s0")
      slice(1).createOrReplaceTempView("q225_s1")
      slice(2).createOrReplaceTempView("q225_s2")
      s.sql(s"INSERT INTO graft.`$root` SELECT ok, part FROM q225_s0")
      s.sql(s"INSERT INTO graft.`$root` (ok, part) SELECT ok, part FROM q225_s1")
      // Explicit identity values are REFUSED — the allocator owns the
      // column (GENERATED ALWAYS).
      val refused = try {
        s.sql(s"INSERT INTO graft.`$root` SELECT CAST(1 AS BIGINT), ok, part FROM q225_s0")
        false
      } catch { case e: Exception => e.getMessage.contains("IDENTITY") }
      require(refused, "an explicit identity INSERT must refuse loudly")
      // Delete a scatter of ids, then insert again: the mark is
      // monotone metadata — batch 3 allocates PAST the deleted range.
      SnapshotStore.deleteWhere(s, root, "id % 7 = 0")
      s.sql(s"INSERT INTO graft.`$root` SELECT ok, part FROM q225_s2")
      SnapshotStore.table(s, root).agg(
        count(lit(1)).as("n"),
        countDistinct(col("id")).as("nd"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"),
        sum(col("id")).as("sum_id"))
    }, Some("""
      WITH c AS (SELECT
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 0) AS BIGINT) AS n1,
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 1) AS BIGINT) AS n2,
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 2) AS BIGINT) AS n3
      FROM orders)
      SELECT
        CAST(n1 + n2 + n3 - (n1 + n2) // 7 AS BIGINT) AS n,
        CAST(n1 + n2 + n3 - (n1 + n2) // 7 AS BIGINT) AS nd,
        CAST(1 AS BIGINT) AS min_id,
        CAST(n1 + n2 + n3 AS BIGINT) AS max_id,
        CAST((n1 + n2 + n3) * (n1 + n2 + n3 + 1) // 2
          - 7 * ((n1 + n2) // 7) * ((n1 + n2) // 7 + 1) // 2 AS BIGINT) AS sum_id
      FROM c""")),

    // EQUI-HEIGHT HISTOGRAM STATISTICS (E138, Spark's
    // `spark.sql.statistics.histogram.enabled` contract): RANGE
    // selectivity on a SKEWED column — 99% of dim values dense in
    // [0, 100), 1% outliers at ~1e6+key — where NDV-uniform min/max
    // interpolation estimates `v > 5e5` at ~50% of rows while the
    // histogram bins see a near-empty range. A/B require-pinned
    // in-query with a SELF-CALIBRATING threshold (a quarter of the
    // no-histogram estimate, so the pin is SF-free): NDV-only stats →
    // shuffle join stays; histogram ANALYZE → broadcast. Values are
    // plan-invariant, oracled vs DuckDB's replay of the CASE.
    ("q226_histogram_selectivity", (s: SparkSession, d: String) => {
      import graft.sinks.{SnapshotStats, SnapshotStore}
      val dir = DevRun.fixtureRoot("q226")
      val root = s"$dir/dim"
      SnapshotStore.commit(s,
        t(s, d, "orders").select(
          col("o_orderkey").as("k"),
          when(pmod(col("o_orderkey"), lit(100)) === 0,
            lit(1000000L) + col("o_orderkey"))
            .otherwise(pmod(col("o_custkey"), lit(100))).as("v"),
          pmod(col("o_orderkey"), lit(4)).cast("string").as("part")),
        root, "part")
      val fact = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_returnflag"), col("l_quantity"))
      def q(): DataFrame = SnapshotStore.table(s, root)
        .filter(col("v") > 500000L)
        .join(fact, col("k") === col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sq"))
        .orderBy(col("l_returnflag"))
      SnapshotStats.analyze(s, root) // NDV/bounds only — no histogram
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.planStats.enabled", "true")
      try {
        val uniformEst = q().queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.stats.sizeInBytes
        }.head
        s.conf.set("spark.sql.autoBroadcastJoinThreshold",
          (uniformEst / 4).max(BigInt(1)).toString)
        try {
          val noHist = q()
          require(!noHist.queryExecution.executedPlan.toString
              .contains("BroadcastHashJoin"),
            "uniform interpolation must overestimate the skewed range")
          val offRows = noHist.collect().toSeq
          s.conf.set("spark.sql.statistics.histogram.enabled", "true")
          try SnapshotStats.analyze(s, root)
          finally s.conf.unset("spark.sql.statistics.histogram.enabled")
          val hist = q()
          require(hist.queryExecution.executedPlan.toString
              .contains("BroadcastHashJoin"),
            "histogram bins must expose the near-empty range and flip " +
              "the join to broadcast")
          hist.persist(); hist.count()
          require(hist.collect().toSeq == offRows,
            "histograms steer plans, never results")
          hist
        } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      } finally {
        s.conf.unset("spark.sql.cbo.enabled")
        s.conf.unset("spark.sql.cbo.planStats.enabled")
      }
    }, Some("""
      WITH dim AS (SELECT o_orderkey AS k,
        CASE WHEN o_orderkey % 100 = 0 THEN 1000000 + o_orderkey
             ELSE o_custkey % 100 END AS v
      FROM orders)
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sq
      FROM dim JOIN lineitem ON k = l_orderkey
      WHERE v > 500000
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    // GENERATED BY DEFAULT AS IDENTITY + SYNC IDENTITY (E140, Delta's
    // migration-ingest pair): batch 1 brings its OWN ids (ok*10 — the
    // lift-and-shift load ALWAYS mode refuses), and the mark advances
    // past their max M in the same commit (require-pinned — stricter
    // than Delta, where the watermark lags until a manual SYNC);
    // batch 2 omits and allocates M+1..M+n2 with no collision; a
    // delete of exactly that range followed by ALTER TABLE … SYNC
    // IDENTITY moves the mark BACK to M (require-pinned — the one
    // sanctioned backward move), so batch 3 REUSES the reclaimed
    // range. Output is the id-set algebra, reproduced by the oracle
    // in closed form from the slices.
    ("q228_identity_by_default", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q228")
      val root = s"$dir/events"
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"""CREATE TABLE graft.`$root` (
        id BIGINT GENERATED BY DEFAULT AS IDENTITY,
        ok BIGINT, part STRING
      ) USING graft-snapshot PARTITIONED BY (part)""")
      def slice(m: Int) = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(3)) === m)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(4)).cast("string").as("part"))
      slice(0).selectExpr("ok * 10 AS id", "ok", "part")
        .createOrReplaceTempView("q228_a")
      slice(1).createOrReplaceTempView("q228_b")
      slice(2).createOrReplaceTempView("q228_c")
      def mark(): Long = {
        val rec = SnapshotStore.tablePropertiesMap(s, root)("graft.identity.id")
        rec.split(";").collectFirst {
          case f if f.startsWith("last=") => f.stripPrefix("last=").toLong
        }.get
      }
      // Migration ingest: explicit ids through plain SQL (BY DEFAULT's
      // contract), mark-advanced to their max in the same commit.
      s.sql(s"INSERT INTO graft.`$root` (id, ok, part) SELECT id, ok, part FROM q228_a")
      val m = s.table("q228_a").agg(max(col("id"))).head().getLong(0)
      require(mark() == m,
        s"carried ids must advance the mark to their max $m, got ${mark()}")
      // Omitting batch: allocates M+1.. with no collision.
      s.sql(s"INSERT INTO graft.`$root` (ok, part) SELECT ok, part FROM q228_b")
      // Reclaim: drop exactly the allocated range, SYNC the mark back.
      SnapshotStore.deleteWhere(s, root, s"id > $m")
      s.sql(s"ALTER TABLE graft.`$root` SYNC IDENTITY")
      require(mark() == m,
        s"SYNC IDENTITY must re-base the mark to max(id) = $m, got ${mark()}")
      s.sql(s"INSERT INTO graft.`$root` (ok, part) SELECT ok, part FROM q228_c")
      SnapshotStore.table(s, root).agg(
        count(lit(1)).as("n"),
        countDistinct(col("id")).as("nd"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"),
        sum(col("id")).as("sum_id"))
    }, Some("""
      WITH a AS (SELECT o_orderkey * 10 AS id FROM orders
                 WHERE o_orderkey % 3 = 0),
      ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1,
                    CAST(MIN(id) AS BIGINT) AS mn,
                    CAST(MAX(id) AS BIGINT) AS m,
                    CAST(SUM(id) AS BIGINT) AS sa FROM a),
      cn AS (SELECT
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 2) AS BIGINT) AS n3
      FROM orders)
      SELECT CAST(n1 + n3 AS BIGINT) AS n,
             CAST(n1 + n3 AS BIGINT) AS nd,
             mn AS min_id,
             CAST(m + n3 AS BIGINT) AS max_id,
             CAST(sa + n3 * m + n3 * (n3 + 1) // 2 AS BIGINT) AS sum_id
      FROM ca, cn""")),

    // EXECUTION-TIME dynamic file pruning (E139 — the runtime half of
    // the transparent DFP rule): q218's star join with the dim as a
    // PLAIN PARQUET DIRECTORY — the most common dim shape in a mixed
    // lake, which the plan-time path must never freeze keys over (the
    // directory is overwritable between planning and a cached plan's
    // re-execution). The rule instead mounts a runtime probe rider on
    // the fact scan's file index: the bounded dim probe runs when the
    // physical scan first lists files — after all planning — and the
    // key set prunes the listing through the ordinary stats/Bloom
    // translation. Require-pinned three ways: (a) the OFF run opens
    // ALL files; (b) the ON run's OPTIMIZED PLAN carries ZERO frozen
    // In-lists (proving the runtime path did the work, not a
    // planning-time freeze); (c) the ON run opens strictly fewer than
    // half the files and returns the plain join's values (DuckDB
    // replays the join).
    ("q227_dfp_runtime_dim", (s: SparkSession, d: String) => {
      import graft.sinks.{DynamicPruningRule, SnapshotStore}
      val dir = DevRun.fixtureRoot("q227")
      val fact = s"$dir/lineitem"
      val li = t(s, d, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(2)) === 0)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val maxk = li.agg(max(col("l_orderkey"))).collect()(0).getLong(0)
      val width = math.max(1L, maxk / 16 + 1)
      SnapshotStore.commit(s,
        li.withColumn("part", (col("l_orderkey") / lit(width))
          .cast("long").cast("string")), fact, "part")
      val cutoff = maxk * 9 / 10
      val (factDf, idx) = SnapshotStore.tableWithIndex(s, fact)
      factDf.createOrReplaceTempView("q227_fact")
      // The dim: a bare parquet write, filtered on a non-key column —
      // no graft metadata, no version pin, nothing immutable about it.
      val dimPath = s"$dir/dim_parquet"
      t(s, d, "orders").filter(col("o_orderkey") >= cutoff)
        .select(col("o_orderkey"), col("o_orderstatus"),
          lit("hot").as("tag"))
        .write.parquet(dimPath)
      s.read.parquet(dimPath).filter(col("tag") === "hot")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .createOrReplaceTempView("q227_dim")
      val sql = """
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
            AS DOUBLE) AS sq
        FROM q227_fact JOIN q227_dim ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      val offRows = s.sql(sql).collect().toSeq
      require(idx.lastCandidateFiles == idx.totalFiles,
        s"with the rule off the plain join must open ALL files: " +
          s"${idx.lastCandidateFiles}/${idx.totalFiles}")
      s.conf.set(DynamicPruningRule.EnabledConf, "true")
      s.conf.set(DynamicPruningRule.MaxKeysConf,
        math.max(DynamicPruningRule.DefaultMaxKeys.toLong,
          math.min(Int.MaxValue.toLong, maxk / 5)).toString)
      try {
        val on = s.sql(sql)
        // Nothing froze at planning: the mutable dim's keys must NOT
        // appear as an In/InSet anywhere in the optimized plan.
        val frozen = on.queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition.collect {
              case i: org.apache.spark.sql.catalyst.expressions.In => i: Any
              case i: org.apache.spark.sql.catalyst.expressions.InSet => i: Any
            }.size
        }.sum
        require(frozen == 0,
          "a mutable dim's keys must never freeze into the plan — the " +
            "runtime rider owns this shape")
        on.persist(); on.count() // execution forces listFiles + probe
        require(idx.lastCandidateFiles * 2 < idx.totalFiles,
          s"the runtime probe must skip files for a plain-parquet dim: " +
            s"${idx.lastCandidateFiles}/${idx.totalFiles}")
        require(on.collect().toSeq == offRows,
          "runtime-pruned and plain joins must be value-identical")
        on
      } finally {
        s.conf.unset(DynamicPruningRule.EnabledConf)
        s.conf.unset(DynamicPruningRule.MaxKeysConf)
      }
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sq
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey % 2 = 0
        AND o_orderkey >= (SELECT (MAX(CASE WHEN l_orderkey % 2 = 0
              THEN l_orderkey END) * 9) // 10 FROM lineitem)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")),

    // SELF-MAINTAINING BLOOM SIDECARS (E141, `graft.autoBloom.cols`):
    // a SCATTERED layout (partition uncorrelated with the key, so
    // every file spans the whole key range and min/max is powerless)
    // built from THREE ordinary appends with ZERO manual
    // addBloomFilters calls — the rider keeps per-file blooms current
    // on every commit. Require-pinned in-query: an ABSENT-but-in-range
    // probe (only even keys are committed; the probe key is odd, mid
    // range) opens strictly fewer than half the files purely via the
    // rider-built blooms. Values are the committed content's
    // aggregate, oracled vs DuckDB.
    ("q229_auto_bloom", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q229")
      val root = s"$dir/fact"
      val li = t(s, d, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(2)) === 0)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          // Partition UNCORRELATED with the key: arrival-order shape.
          pmod(col("l_partkey"), lit(4)).cast("string").as("part"))
      def slice(m: Int) = li.filter(pmod(col("l_orderkey"), lit(6)) === m * 2)
      SnapshotStore.commit(s, slice(0), root, "part")
      SnapshotStore.setProperties(s, root, Seq(
        SnapshotStore.AutoBloomProp -> "l_orderkey",
        SnapshotStore.AutoBloomBitsProp -> "64"))
      SnapshotStore.appendCommit(s, slice(1), root,
        graft.sinks.ColSpec(Seq("part")))
      SnapshotStore.appendCommit(s, slice(2), root,
        graft.sinks.ColSpec(Seq("part")))
      // Absent-but-in-range: an ODD key near the middle of an
      // all-even domain. Min/max keeps every file; only the
      // rider-built blooms can certify absence per file.
      val maxk = li.agg(max(col("l_orderkey"))).collect()(0).getLong(0)
      val probe = (maxk / 2) | 1L
      val (df, idx) = SnapshotStore.tableWithIndex(s, root)
      require(df.filter(col("l_orderkey") === probe).count() == 0,
        "the probe key must be absent (odd in an even-only table)")
      require(idx.lastCandidateFiles * 2 < idx.totalFiles,
        s"rider-built blooms must certify absence with zero manual " +
          s"calls: ${idx.lastCandidateFiles}/${idx.totalFiles}")
      SnapshotStore.table(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sq"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sq
      FROM lineitem
      WHERE l_orderkey % 2 = 0
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    // HISTOGRAM-DRIVEN JOIN ESTIMATION (E138 completed to the
    // multiplicative half of the CBO story — q226 proved Filter
    // selectivity, this proves the attach reaches JoinEstimation): a
    // dense dim A (v uniform in [0,100)) equi-joined to a dim B whose
    // v is dense for ~0.1% of rows and far-away unique for the rest.
    // NDV arithmetic estimates |A ⋈ B| ≈ nA·nB/ndv(B.v) ≈ nA — blind
    // to the near-disjoint RANGES — while equi-height bins see that
    // A's whole domain overlaps a sliver of B's first bin. A/B
    // require-pinned with a SELF-CALIBRATING threshold (1/64 of the
    // NDV-only join estimate — the plan's column pruning shrinks the
    // estimate ~4× below the calibration query's unpruned stats, and
    // the binned estimate collapses ~4 orders of magnitude further,
    // so /64 sits cleanly between them at any SF): NDV-only stats →
    // zero broadcast joins in the initial plan; histogram ANALYZE →
    // the (A ⋈ B) output broadcasts into the fact join. Values are
    // plan-invariant, oracled vs DuckDB's replay of the star.
    ("q230_histogram_join_estimation", (s: SparkSession, d: String) => {
      import graft.sinks.{SnapshotStats, SnapshotStore}
      val dir = DevRun.fixtureRoot("q230")
      val rootA = s"$dir/dim_a"; val rootB = s"$dir/dim_b"
      val rootC = s"$dir/fact"
      SnapshotStore.commit(s,
        t(s, d, "orders").select(
          col("o_orderkey").as("ak"),
          pmod(col("o_custkey"), lit(100)).as("av"),
          pmod(col("o_orderkey"), lit(4)).cast("string").as("part")),
        rootA, "part")
      SnapshotStore.commit(s,
        t(s, d, "orders").select(
          col("o_orderkey").as("bk"),
          when(pmod(col("o_orderkey"), lit(1000)) === 0,
            pmod(col("o_custkey"), lit(100)))
            .otherwise(lit(1000000L) + col("o_orderkey")).as("bv"),
          pmod(col("o_orderkey"), lit(4)).cast("string").as("part")),
        rootB, "part")
      SnapshotStore.commit(s,
        t(s, d, "lineitem").select(col("l_orderkey"),
          col("l_returnflag"), col("l_quantity"),
          pmod(col("l_orderkey"), lit(4)).cast("string").as("part")),
        rootC, "part")
      def q(): DataFrame = SnapshotStore.table(s, rootA)
        .join(SnapshotStore.table(s, rootB), col("av") === col("bv"))
        .join(SnapshotStore.table(s, rootC), col("ak") === col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sq"))
        .orderBy(col("l_returnflag"))
      def bhjCount(df: DataFrame): Int =
        "BroadcastHashJoin".r.findAllIn(
          df.queryExecution.executedPlan.toString).length
      SnapshotStats.analyze(s, rootA) // NDV/bounds only
      SnapshotStats.analyze(s, rootB)
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.planStats.enabled", "true")
      try {
        // Calibrate off the NDV-only estimate of the (A ⋈ B) output.
        val ndvEst = SnapshotStore.table(s, rootA)
          .join(SnapshotStore.table(s, rootB), col("av") === col("bv"))
          .queryExecution.optimizedPlan.stats.sizeInBytes
        s.conf.set("spark.sql.autoBroadcastJoinThreshold",
          (ndvEst / 64).max(BigInt(1)).toString)
        try {
          val noHist = q()
          require(bhjCount(noHist) == 0,
            "NDV arithmetic must miss the range disjointness — no " +
              "broadcast anywhere in the initial plan")
          val offRows = noHist.collect().toSeq
          s.conf.set("spark.sql.statistics.histogram.enabled", "true")
          try { SnapshotStats.analyze(s, rootA); SnapshotStats.analyze(s, rootB) }
          finally s.conf.unset("spark.sql.statistics.histogram.enabled")
          val hist = q()
          require(bhjCount(hist) >= 1,
            "equi-height bins must expose the near-disjoint ranges " +
              "and broadcast the (A ⋈ B) output into the fact join")
          hist.persist(); hist.count()
          require(hist.collect().toSeq == offRows,
            "histograms steer plans, never results")
          hist
        } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      } finally {
        s.conf.unset("spark.sql.cbo.enabled")
        s.conf.unset("spark.sql.cbo.planStats.enabled")
      }
    }, Some("""
      WITH a AS (SELECT o_orderkey AS ak, o_custkey % 100 AS av
                 FROM orders),
      b AS (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN o_custkey % 100
                        ELSE 1000000 + o_orderkey END AS bv
            FROM orders)
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sq
      FROM a JOIN b ON av = bv
             JOIN lineitem ON ak = l_orderkey
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    // COLUMN DEFAULT VALUES (E142, Delta's `DEFAULT` clause): columns
    // OMITTED from an INSERT column list fill from their recorded
    // constant expression; an explicitly listed value (slice 1's real
    // o_orderstatus) flows untouched; and `ALTER TABLE … ALTER COLUMN
    // … SET DEFAULT` changes FUTURE inserts only — slice 0 keeps
    // 'new' while slice 2 lands as 'held'. The oracle replays the
    // per-batch defaults in closed form (order statuses O/F/P are
    // disjoint from the default strings by construction).
    ("q231_column_defaults", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q231")
      val root = s"$dir/events"
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"""CREATE TABLE graft.`$root` (
        ok BIGINT, status STRING DEFAULT 'new',
        score BIGINT DEFAULT 40 + 2, part STRING
      ) USING graft-snapshot PARTITIONED BY (part)""")
      def slice(m: Int) = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(3)) === m)
        .select(col("o_orderkey").as("ok"), col("o_orderstatus"),
          pmod(col("o_custkey"), lit(4)).cast("string").as("part"))
      slice(0).createOrReplaceTempView("q231_s0")
      slice(1).createOrReplaceTempView("q231_s1")
      slice(2).createOrReplaceTempView("q231_s2")
      s.sql(s"INSERT INTO graft.`$root` (ok, part) SELECT ok, part FROM q231_s0")
      s.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN status SET DEFAULT 'held'")
      // Slice 1 lists status explicitly — the caller's value wins.
      s.sql(s"INSERT INTO graft.`$root` (ok, status, part) " +
        "SELECT ok, o_orderstatus, part FROM q231_s1")
      s.sql(s"INSERT INTO graft.`$root` (ok, part) SELECT ok, part FROM q231_s2")
      SnapshotStore.table(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("score")).as("sum_score"),
          sum(col("ok")).as("sum_ok"))
        .orderBy(col("status"))
    }, Some("""
      WITH u AS (
        SELECT 'new' AS status, o_orderkey AS ok FROM orders
          WHERE o_orderkey % 3 = 0
        UNION ALL SELECT o_orderstatus, o_orderkey FROM orders
          WHERE o_orderkey % 3 = 1
        UNION ALL SELECT 'held', o_orderkey FROM orders
          WHERE o_orderkey % 3 = 2)
      SELECT status, COUNT(*) AS n,
        CAST(COUNT(*) * 42 AS BIGINT) AS sum_score,
        CAST(SUM(ok) AS BIGINT) AS sum_ok
      FROM u GROUP BY status ORDER BY status""")),

    // INSERT OVERWRITE / replaceWhere (E143, the versioned SQL
    // overwrite family): seed four partitions from orders; a STATIC
    // `PARTITION (part = '1')` overwrite replaces exactly that
    // partition (the untouched partitions' manifest entries
    // require-pinned BYTE-IDENTICAL — carried by reference, zero data
    // movement); a DYNAMIC `PARTITION (part)` overwrite replaces only
    // the partition its output holds. Both are single atomic commits;
    // the oracle rebuilds the final state per-partition in closed
    // form.
    ("q232_insert_overwrite", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q232")
      val root = s"$dir/events"
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sinks.GraftCatalog].getName)
      SnapshotStore.commit(s,
        t(s, d, "orders").select(col("o_orderkey").as("ok"),
          col("o_totalprice").cast("double").as("price"),
          pmod(col("o_orderkey"), lit(4)).cast("string").as("part")),
        root, "part")
      val v1 = SnapshotStore.currentVersion(s, root).get
      val untouched = SnapshotStore.manifest(s, root, v1)
        .filterNot(e => e.partition == "1" || e.partition == "2")
        .map(_.path).toSet
      // STATIC: replace partition 1 with the tripled slice, the query
      // omitting the partition column (the clause supplies it).
      t(s, d, "orders").filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey").as("ok"),
          (col("o_totalprice") * 3).cast("double").as("price"))
        .createOrReplaceTempView("q232_static")
      s.sql(s"INSERT OVERWRITE graft.`$root` PARTITION (part = '1') " +
        "SELECT ok, price FROM q232_static")
      // DYNAMIC: the output lands wholly in partition 2.
      t(s, d, "orders").filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select(col("o_orderkey").as("ok"),
          (col("o_totalprice") * 5).cast("double").as("price"),
          lit("2").as("part"))
        .createOrReplaceTempView("q232_dynamic")
      s.sql(s"INSERT OVERWRITE graft.`$root` PARTITION (part) " +
        "SELECT ok, price, part FROM q232_dynamic")
      val cur = SnapshotStore.currentVersion(s, root).get
      require(cur == v1 + 2, s"two overwrites = two commits, got $cur")
      require(SnapshotStore.manifest(s, root, cur)
          .filterNot(e => e.partition == "1" || e.partition == "2")
          .map(_.path).toSet == untouched,
        "untouched partitions must carry byte-identical file references " +
          "through BOTH overwrites")
      SnapshotStore.table(s, root)
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sp"))
        .orderBy(col("part"))
    }, Some("""
      WITH u AS (
        SELECT o_orderkey % 4 AS part, o_totalprice AS price FROM orders
          WHERE o_orderkey % 4 IN (0, 3)
        UNION ALL SELECT 1, o_totalprice * 3 FROM orders
          WHERE o_orderkey % 3 = 0
        UNION ALL SELECT 2, o_totalprice * 5 FROM orders
          WHERE o_orderkey % 5 = 0)
      SELECT CAST(part AS VARCHAR) AS part, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM u GROUP BY part ORDER BY part""")),

    // FSCK REPAIR TABLE (E144, Delta's operational repair): partition
    // 2's data files are deleted OUT-OF-BAND (the misfired-lifecycle
    // shape) — require-pinned to break a full scan; DRY RUN
    // require-pinned to list exactly the missing files WITHOUT
    // committing; the repair publishes a version without them and the
    // table reads again. The oracle replays the visible data loss
    // (everything except partition 2) in closed form.
    ("q233_fsck_repair", (s: SparkSession, d: String) => {
      import graft.sinks.SnapshotStore
      val dir = DevRun.fixtureRoot("q233")
      val root = s"$dir/events"
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sinks.GraftCatalog].getName)
      SnapshotStore.commit(s,
        t(s, d, "orders").select(col("o_orderkey").as("ok"),
          col("o_totalprice").cast("double").as("price"),
          pmod(col("o_orderkey"), lit(4)).cast("string").as("part")),
        root, "part")
      val doomed = SnapshotStore.manifest(s, root, 1)
        .filter(_.partition == "2").map(_.path)
      require(doomed.nonEmpty, "fixture must land files in partition 2")
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      doomed.foreach(p =>
        f.delete(new org.apache.hadoop.fs.Path(root, p), false))
      val broken = try { SnapshotStore.read(s, root).count(); false }
        catch { case _: Exception => true }
      require(broken, "a scan over the missing files must fail loudly")
      val dry = s.sql(s"FSCK REPAIR TABLE graft.`$root` DRY RUN").collect()
      require(dry.map(_.getString(0)).toSet == doomed.toSet,
        s"DRY RUN must list exactly the missing files, got ${dry.length}")
      require(SnapshotStore.currentVersion(s, root).contains(1L),
        "DRY RUN must not commit")
      s.sql(s"FSCK REPAIR TABLE graft.`$root`")
      require(SnapshotStore.currentVersion(s, root).contains(2L),
        "the repair must publish one new version")
      SnapshotStore.table(s, root)
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,2)"))
            .cast("decimal(22,2)").cast("double").as("sp"))
        .orderBy(col("part"))
    }, Some("""
      SELECT CAST(o_orderkey % 4 AS VARCHAR) AS part, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(22,2))
          AS DOUBLE) AS sp
      FROM orders
      WHERE o_orderkey % 4 <> 2
      GROUP BY part ORDER BY part""")),

    // SHOW CREATE TABLE (E145): the CREATE statement reconstructed
    // from metadata, with clauses (IDENTITY / DEFAULT), the partition
    // spec, and CREATE-time TBLPROPERTIES — round-trip fidelity is
    // spec-pinned (ShowCreateSpec re-runs the output); here the
    // emitted text itself is the oracle (root path substituted for
    // determinism). In-query require: the identity ALLOCATION MARK
    // must never print — a copy-paste re-create reopening allocated
    // ids is the failure mode the managed-state exclusion exists for.
    ("q234_show_create_table", (s: SparkSession, d: String) => {
      val dir = DevRun.fixtureRoot("q234")
      val root = s"$dir/events"
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sinks.GraftCatalog].getName)
      s.sql(s"""CREATE TABLE graft.`$root` (
        id BIGINT GENERATED ALWAYS AS IDENTITY,
        ok BIGINT,
        status STRING DEFAULT 'new',
        part STRING
      ) USING graft-snapshot PARTITIONED BY (part)
      TBLPROPERTIES ('team' = 'ingest')""")
      // Rows land (allocating ids, moving the mark) BEFORE the SHOW —
      // the emitted DDL must be insert-count-invariant.
      t(s, d, "orders").limit(100)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(4)).cast("string").as("part"))
        .createOrReplaceTempView("q234_src")
      s.sql(s"INSERT INTO graft.`$root` (ok, part) SELECT ok, part FROM q234_src")
      val stmt = s.sql(s"SHOW CREATE TABLE graft.`$root`")
        .collect().head.getString(0)
      require(!stmt.contains("last=") && !stmt.contains("graft.identity"),
        s"the allocation mark must never print:\n$stmt")
      import s.implicits._
      Seq(stmt.replace(root, "<root>")).toDF("createtab_stmt")
    }, Some("""
      SELECT * FROM (VALUES
        ('CREATE TABLE `graft`.`<root>` (
  `id` BIGINT GENERATED ALWAYS AS IDENTITY,
  `ok` BIGINT,
  `status` STRING DEFAULT ''new'',
  `part` STRING
) USING graft-snapshot
PARTITIONED BY (`part`)
TBLPROPERTIES (''team'' = ''ingest'')')
      ) AS t(createtab_stmt)
      ORDER BY createtab_stmt"""))
  )
}
