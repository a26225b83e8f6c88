package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{RangeJoin, Upsert}
import graft.functions.Parsers

/** Reference-parity core: TPC-H-ish relational queries, parser/
  * scalar-function parity (F1-F19), and the window/join/aggregate
  * operator family of SURVEY.md §2.1-§2.8.
  *
  * One slice of [[Queries.all]] — the registry map, oracle pairing,
  * and determinism rules live there; this file only contributes
  * entries. */
private[graft] object ParityQueries {
  import Queries.{t, dsum}

  val all: Seq[(String, Queries.Q, Option[String])] = Seq(

    // ── Star-schema query surface (SURVEY §3.3 Q1–Q9 analogs) ──────────

    ("q01_pricing_summary", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem").filter(col("l_shipdate") <= lit("2000-12-01"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= '2000-12-01'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),


    ("q02_filter_project", (s: SparkSession, d: String) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber")).limit(500)
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
      FROM lineitem
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01' AND l_quantity > 45
      ORDER BY l_orderkey, l_linenumber LIMIT 500""")),


    ("q03_join_agg_segment", (s: SparkSession, d: String) => {
      t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }, Some("""
      SELECT c_mktsegment, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),


    ("q04_count_by_supplier", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n")).orderBy(col("l_suppkey"))
    }, Some("SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey")),


    ("q05_count_by_status", (s: SparkSession, d: String) => {
      t(s, d, "orders").groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n")).orderBy(col("o_orderstatus"))
    }, Some("SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")),


    ("q06_point_lookup", (s: SparkSession, d: String) => {
      t(s, d, "orders").filter(col("o_orderkey") === 100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    }, Some("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = 100")),


    ("q07_first_n", (s: SparkSession, d: String) => {
      t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey")).limit(3)
    }, Some("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 3")),


    ("q08_stale_selection", (s: SparkSession, d: String) => {
      t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1996-01-01") && col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_orderdate FROM orders
      WHERE o_orderdate < '1996-01-01' AND o_orderpriority = '1-URGENT'
      ORDER BY o_orderkey""")),


    // J5 — quantity-tier range resolution via broadcast range join.
    ("q09_tier_pricing", (s: SparkSession, d: String) => {
      val tiers = s.createDataFrame(Seq(
        (1.0, Some(9.0), "small"), (10.0, Some(24.0), "mid"), (25.0, None, "bulk")))
        .toDF("min_qty", "max_qty", "tier")
      RangeJoin.resolveTier(t(s, d, "lineitem"), tiers,
          col("l_quantity"), col("min_qty"), col("max_qty"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("tier"))
    }, Some("""
      SELECT t.tier, count(*) AS n,
        CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem l
      LEFT JOIN (VALUES (1.0, 9.0, 'small'), (10.0, 24.0, 'mid'), (25.0, NULL, 'bulk'))
        t(min_qty, max_qty, tier)
        ON l.l_quantity >= t.min_qty AND (t.max_qty IS NULL OR l.l_quantity <= t.max_qty)
      GROUP BY t.tier ORDER BY t.tier""")),


    // J1-style broadcast dimension join.
    ("q10_dim_join_brand", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("p_brand"))
    }, Some("""
      SELECT p_brand, count(*) AS n,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")),


    ("q11_star_multijoin", (s: SparkSession, d: String) => {
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy(col("r_name"))
    }, Some("""
      SELECT r_name, count(*) AS n_customers,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""")),


    // W3 — window dedup / top-1 per key.
    ("q12_top_order_per_customer", (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"))
    }, Some("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) WHERE rn = 1 ORDER BY o_custkey""")),


    // J8/U1 — unionByName across sources.
    ("q13_union_sources", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderstatus") === "F").select(col("o_orderkey"), col("o_orderstatus"))
      val b = o.filter(col("o_orderstatus") === "O").select(col("o_orderstatus"), col("o_orderkey"))
      a.unionByName(b).groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus, count(*) AS n FROM (
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
        UNION ALL SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O')
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),


    // J7/K3 — anti join.
    ("q14_customers_without_orders", (s: SparkSession, d: String) => {
      t(s, d, "customer")
        .join(t(s, d, "orders").select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""")),


    ("q15_customers_with_urgent", (s: SparkSession, d: String) => {
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment")).orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey""")),


    // K1 — keyed merge upsert: last writer wins, incoming over existing.
    ("q16_merge_upsert", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val existing = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("ts"), col("value"))
      val incoming = ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), col("ts"), (col("value") * 2).as("value"))
      Upsert.merge(existing, incoming, "event_id", "ts")
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, ts, value FROM (
        SELECT event_id, ts, value,
          row_number() OVER (PARTITION BY event_id ORDER BY ts DESC, src DESC) AS rn
        FROM (
          SELECT event_id, ts, value, 0 AS src FROM events WHERE event_id % 2 = 0
          UNION ALL
          SELECT event_id, ts, value * 2 AS value, 1 AS src FROM events WHERE event_id % 3 = 0))
      WHERE rn = 1 ORDER BY event_id""")),


    // K6 — uniqueness check.
    ("q17_duplicate_keys", (s: SparkSession, d: String) => {
      Upsert.duplicateKeys(t(s, d, "lineitem"), "l_orderkey").orderBy(col("l_orderkey"))
    }, Some("""
      SELECT l_orderkey, count(*) AS n FROM lineitem
      GROUP BY l_orderkey HAVING count(*) > 1 ORDER BY l_orderkey""")),


    // K3 — keyed delete via anti join, then accounting.
    ("q18_delete_by_keys", (s: SparkSession, d: String) => {
      val badCustomers = t(s, d, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("o_custkey"))
      Upsert.deleteByKeys(t(s, d, "orders"), badCustomers, "o_custkey")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus, count(*) AS n FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),


    // K4 — predicate delete (retention).
    ("q19_retention_delete", (s: SparkSession, d: String) => {
      Upsert.deleteWhere(t(s, d, "orders"),
          col("o_orderstatus") === "F" && col("o_orderdate") < lit("1997-01-01"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus, count(*) AS n FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_orderdate < '1997-01-01')
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),


    // A5 — order-sensitive first element per group.
    ("q20_first_per_group", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(min(struct(col("l_linenumber"), col("l_partkey")))
          .getField("l_partkey").as("first_partkey"))
        .orderBy(col("l_orderkey"))
    }, Some("""
      SELECT l_orderkey, l_partkey AS first_partkey FROM lineitem
      QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) = 1
      ORDER BY l_orderkey""")),


    // W4 — in-group ordering into a sorted array.
    ("q21_sorted_linenumbers", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(concat_ws(",",
          transform(sort_array(collect_list(col("l_linenumber"))), x => x.cast("string")))
          .as("linenumbers"))
        .orderBy(col("l_orderkey"))
    }, Some("""
      SELECT l_orderkey, array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers
      FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")),


    // F16 — JSON field extraction.
    ("q22_json_extract", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .filter(col("k") > 50)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type, count(*) AS n FROM events
      WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
      GROUP BY event_type ORDER BY event_type""")),


    // Time-bucketed aggregation (streaming-shaped, batch-executed).
    ("q23_events_hourly", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }, Some("""
      SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),


    // J5 as-of variant — greatest threshold <= value.
    ("q24_asof_band", (s: SparkSession, d: String) => {
      val tiers = s.createDataFrame(Seq(
        (0.0, "b0"), (100.0, "b1"), (200.0, "b2"), (300.0, "b3"), (400.0, "b4")))
        .toDF("thr", "band")
      RangeJoin.resolveAsOf(t(s, d, "events"), Seq("event_id"), tiers,
          col("value"), col("thr"))
        .select(col("event_id"), col("band")).orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, band FROM (
        SELECT e.event_id, t.band,
          row_number() OVER (PARTITION BY e.event_id ORDER BY t.thr DESC) AS rn
        FROM events e
        LEFT JOIN (VALUES (0.0,'b0'),(100.0,'b1'),(200.0,'b2'),(300.0,'b3'),(400.0,'b4')) t(thr, band)
          ON e.value >= t.thr)
      WHERE rn = 1 ORDER BY event_id""")),


    // ── Scalar parser functions (SURVEY §2.7) over testdata columns ────

    ("q25_parse_float_comma", (s: SparkSession, d: String) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          Parsers.parseFloatComma(
            concat(col("doc_id").cast("string"), lit(","), (col("n_chars") % 10).cast("string")))
            .as("parsed"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CAST(replace(doc_id || ',' || (n_chars % 10), ',', '.') AS DOUBLE) AS parsed
      FROM documents ORDER BY doc_id""")),


    ("q26_parse_int_thousands", (s: SparkSession, d: String) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          Parsers.parseIntSeparators(
            concat(col("doc_id").cast("string"), lit("."),
              lpad((col("n_chars") % 1000).cast("string"), 3, "0")))
            .as("parsed"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CAST(replace(doc_id || '.' || lpad(CAST(n_chars % 1000 AS VARCHAR), 3, '0'), '.', '') AS INTEGER) AS parsed
      FROM documents ORDER BY doc_id""")),


    ("q27_parse_currency", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .select(col("event_id"),
          Parsers.parseCurrency(
            when(col("event_type") === "error", lit("N/A"))
              .otherwise(concat(lit("£"), col("value").cast("string"))))
            .as("parsed"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS parsed
      FROM events ORDER BY event_id""")),


    ("q28_parse_iso_date", (s: SparkSession, d: String) => {
      t(s, d, "orders")
        .select(col("o_orderkey"),
          date_format(Parsers.parseIsoDate(
            when(col("o_orderkey") % 10 === 0, lit("not-a-date"))
              .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))), "yyyy-MM-dd")
            .as("parsed"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 10 = 0 THEN NULL
             ELSE strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') END AS parsed
      FROM orders ORDER BY o_orderkey""")),


    ("q29_yes_no_flag", (s: SparkSession, d: String) => {
      t(s, d, "part")
        .select(col("p_partkey"),
          Parsers.yesNoFlag(when(col("p_size") % 2 === 0, lit("Yes")).otherwise(lit("no")))
            .as("flag"))
        .orderBy(col("p_partkey"))
    }, Some("SELECT p_partkey, p_size % 2 = 0 AS flag FROM part ORDER BY p_partkey")),


    ("q30_snake_to_title", (s: SparkSession, d: String) => {
      t(s, d, "events").select(col("event_type")).distinct()
        .select(col("event_type"),
          Parsers.snakeToTitle(concat(col("event_type"), lit("_rate"))).as("title"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type,
        upper(substr(event_type, 1, 1)) || substr(event_type, 2) || ' Rate' AS title
      FROM (SELECT DISTINCT event_type FROM events) ORDER BY event_type""")),


    ("q31_namespaced_key", (s: SparkSession, d: String) => {
      t(s, d, "supplier")
        .select(col("s_suppkey"), Parsers.namespacedKey("sup_", col("s_suppkey")).as("key"))
        .orderBy(col("s_suppkey"))
    }, Some("SELECT s_suppkey, 'sup_' || s_suppkey AS key FROM supplier ORDER BY s_suppkey")),


    ("q32_code_lookup", (s: SparkSession, d: String) => {
      val mapping = Map("A" -> "returned", "N" -> "none", "R" -> "refused")
      t(s, d, "lineitem")
        .select(Parsers.codeLookup(mapping)(col("l_returnflag")).as("label"))
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
        .orderBy(col("label"))
    }, Some("""
      SELECT CASE l_returnflag WHEN 'A' THEN 'returned' WHEN 'N' THEN 'none'
        WHEN 'R' THEN 'refused' END AS label, count(*) AS n
      FROM lineitem GROUP BY 1 ORDER BY label""")),


    ("q33_derive_status", (s: SparkSession, d: String) => {
      val df = t(s, d, "documents")
      val disc = when(col("doc_id") % 3 === 0, lit("2099-12-31"))
        .when(col("doc_id") % 3 === 1, lit("2020-01-01"))
        .otherwise(lit(null).cast("string"))
      val plc = when(col("doc_id") % 5 === 0, lit("PRODUCT DISCONTINUED")).otherwise(lit("OK"))
      df.select(col("doc_id"), Parsers.deriveStatus(disc, plc).as("status"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 1 THEN 'discontinued'
             WHEN doc_id % 5 = 0 THEN 'discontinued'
             ELSE 'active' END AS status
      FROM documents ORDER BY doc_id""")),


    ("q34_struct_or_null", (s: SparkSession, d: String) => {
      val df = t(s, d, "part")
      val l = when(col("p_size") > 25, col("p_size").cast("double"))
      val dims = Parsers.structOrNull(Seq(
        "length" -> l, "width" -> lit(null).cast("double"), "height" -> lit(null).cast("double")))
      df.select(col("p_partkey"), dims.isNotNull.as("has_dims"),
          dims.getField("length").as("length"))
        .orderBy(col("p_partkey"))
    }, Some("""
      SELECT p_partkey, p_size > 25 AS has_dims,
        CASE WHEN p_size > 25 THEN CAST(p_size AS DOUBLE) END AS length
      FROM part ORDER BY p_partkey""")),


    ("q35_parse_dims", (s: SparkSession, d: String) => {
      val df = t(s, d, "part")
      val str = when(col("p_partkey") % 2 === 0,
          concat(col("p_size").cast("string"), lit("x"), (col("p_size") * 2).cast("string"),
            lit("x"), (col("p_size") * 3).cast("string"), lit("mm")))
        .otherwise(
          concat(col("p_size").cast("string"), lit(" x "), (col("p_size") + 1).cast("string"),
            lit(" x "), (col("p_size") + 2).cast("string"), lit(" cm")))
      val p = Parsers.parseDims(str)
      df.select(col("p_partkey"),
          p.getField("length").as("length"), p.getField("width").as("width"),
          p.getField("height").as("height"), p.getField("unit").as("unit"))
        .orderBy(col("p_partkey"))
    }, Some("""
      SELECT p_partkey,
        CAST(p_size AS DOUBLE) AS length,
        CAST(CASE WHEN p_partkey % 2 = 0 THEN p_size * 2 ELSE p_size + 1 END AS DOUBLE) AS width,
        CAST(CASE WHEN p_partkey % 2 = 0 THEN p_size * 3 ELSE p_size + 2 END AS DOUBLE) AS height,
        CASE WHEN p_partkey % 2 = 0 THEN 'mm' ELSE 'cm' END AS unit
      FROM part ORDER BY p_partkey""")),


    ("q36_parse_weight", (s: SparkSession, d: String) => {
      val p = Parsers.parseWeight(concat(col("p_size").cast("string"), lit(".5 kg")))
      t(s, d, "part")
        .select(col("p_partkey"), p.getField("value").as("value"), p.getField("unit").as("unit"))
        .orderBy(col("p_partkey"))
    }, Some("""
      SELECT p_partkey, p_size + 0.5 AS value, 'kg' AS unit FROM part ORDER BY p_partkey""")),


    ("q37_split_keywords", (s: SparkSession, d: String) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws("|", Parsers.splitKeywords(
            concat(col("source"), lit(","), col("lang"), lit(" , extra")))).as("keywords"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, source || '|' || lang || '|extra' AS keywords
      FROM documents ORDER BY doc_id""")),


    ("q38_merge_singleton_maps", (s: SparkSession, d: String) => {
      val merged = Parsers.mergeSingletonMaps(array(
        map(lit("lang"), col("lang")), map(lit("src"), col("source"))))
      t(s, d, "documents")
        .select(col("doc_id"), element_at(merged, "lang").as("lang_val"),
          element_at(merged, "src").as("src_val"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang AS lang_val, source AS src_val FROM documents ORDER BY doc_id""")),


    // Engine capability beyond reference parity (SURVEY §2.5 note):
    // hierarchical ROLLUP aggregation — subtotals + grand total free
    // from Catalyst.
    ("q69_rollup", (s: SparkSession, d: String) => {
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority"))
    }, Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY status, priority""")),


    // Engine capability: running aggregation window (per-customer
    // cumulative spend in order-date order).
    ("q70_running_total", (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      FROM orders WHERE o_custkey < 100
      ORDER BY o_custkey, o_orderkey""")),


    // The reference's read-side query surface over the REAL unified
    // table (mongodb_loader.py:259-286 / README.md:290-304): nested
    // supplier.id predicate (P2), boolean is_printable (P3), array-of-
    // structs category match (P4), group-count (A1). Three suppliers
    // cover all three predicate shapes (all nine sync through the CLI
    // and RemainingSuppliersSpec); rows-only — the pipeline itself is
    // not SQL-expressible in DuckDB.
    ("q71_unified_readside", (s: SparkSession, d: String) => {
      import graft.pipeline.{Pipeline, SupplierConfig}
      val sink = DevRun.fixtureRoot("q71") + "/products"
      val refDir = "/root/reference/sample data"
      val cfgs = Seq(
        "midocean" -> s"$refDir/MidOcean Sample Data.jsonc",  // P3 printable
        "laltex" -> s"$refDir/Laltex Sample Data.jsonc",      // P2 supplier.id
        "xd" -> s"$refDir/XD Sample Data.jsonc"               // P4 Drinkware category
      ).map { case (id, p) => SupplierConfig(id, p) }
      val results = Pipeline.runFullSync(s, cfgs, sink)
      require(results.forall(_.status == "success"),
        s"sync statuses: ${results.map(r =>
          s"${r.supplier}=${r.status}${r.errorSamples.mkString("[", "; ", "]")}")}")
      val unified = s.read.parquet(sink)
      unified
        .filter(col("is_printable") ||                                   // P3
          exists(col("categories"), c => c.getField("name") === "Drinkware") || // P4
          col("supplier.id") === "laltex")                               // P2
        .groupBy(col("supplier.id").as("supplier"))                      // A1
        .agg(count(lit(1)).as("n_matching"),
          sum(size(col("variants"))).as("n_variants"))
        .orderBy(col("supplier"))
    }, Some("""
      SELECT * FROM (VALUES
        ('laltex', 4, 25),
        ('midocean', 5, 14),
        ('xd', 1, 1)
      ) AS t(supplier, n_matching, n_variants)
      ORDER BY supplier""")),


    // Text-index analog (ref: unified_product_schema.py:241 declares a
    // Mongo text index on name): substring search over the name
    // column. At 100 TB this is a scan-side predicate (no index);
    // contains() stays in whole-stage codegen and benefits from
    // parquet row-group pruning on any leading predicates.
    ("q72_name_search", (s: SparkSession, d: String) => {
      t(s, d, "part")
        .filter(contains(lower(col("p_name")), lit("green")))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .orderBy(col("p_partkey"))
    }, Some("""
      SELECT p_partkey, p_name, p_brand FROM part
      WHERE contains(lower(p_name), 'green') ORDER BY p_partkey""")),


    // §2.10 stateful logic, batch-checkable: the stream's
    // latest-per-key fold (StockStream.latestPerSku) equals one
    // max_by hash-aggregate over the full update history.
    ("q73_stock_latest_batch", (s: SparkSession, d: String) => {
      val updates = t(s, d, "events").select(
        concat(lit("sku_"), col("user_id")).as("sku"),
        col("value").as("qty"),
        col("ts").as("modified_at"))
      graft.streaming.StockStream.latestPerSkuBatch(updates)
        .orderBy(col("sku"))
    }, Some("""
      WITH u AS (SELECT 'sku_' || user_id AS sku, value AS qty, ts FROM events),
      r AS (SELECT sku, qty, ts,
              row_number() OVER (PARTITION BY sku ORDER BY ts DESC, qty DESC) AS rn
            FROM u)
      SELECT sku, qty, ts AS modified_at FROM r WHERE rn = 1 ORDER BY sku""")),


    // The unified.jsonc per-variant DOCUMENT view (Nest.variantView):
    // one row per variant with product context, over a real
    // 3-supplier sync. Deterministic output pinned as VALUES
    // (regenerate: tools/gen_values_oracle.py).
    ("q81_variant_view", (s: SparkSession, d: String) => {
      import graft.pipeline.{Pipeline, SupplierConfig}
      val sink = DevRun.fixtureRoot("q81") + "/products"
      val refDir = "/root/reference/sample data"
      val cfgs = Seq(
        "midocean" -> s"$refDir/MidOcean Sample Data.jsonc",
        "laltex" -> s"$refDir/Laltex Sample Data.jsonc",
        "xd" -> s"$refDir/XD Sample Data.jsonc"
      ).map { case (id, p) => SupplierConfig(id, p) }
      val results = Pipeline.runFullSync(s, cfgs, sink)
      require(results.forall(_.status == "success"),
        s"sync statuses: ${results.map(r => s"${r.supplier}=${r.status}")}")
      graft.operators.Nest.variantView(s.read.parquet(sink))
        .select(col("parent_product_id"), col("supplier"), col("sku"),
          col("size"), col("color"), col("stock_available"), col("n_prices"))
        .orderBy(col("parent_product_id"), col("sku"))
    }, Some("""
      SELECT * FROM (VALUES
        ('laltex_AA0131', 'laltex', 'AA0131BK', '190x80x2mm', 'Black', 19437.0, 10),
        ('laltex_AA0131', 'laltex', 'AA0131CY', '190x80x2mm', 'Cyan', 10928.0, 10),
        ('laltex_AA0131', 'laltex', 'AA0131GN', '190x80x2mm', 'Green', 2670.0, 10),
        ('laltex_AA0131', 'laltex', 'AA0131NBL', '190x80x2mm', 'Navy Blue', 5241.0, 10),
        ('laltex_AA0131', 'laltex', 'AA0131PK', '190x80x2mm', 'Pink', 1187.0, 10),
        ('laltex_AA0131', 'laltex', 'AA0131PL', '190x80x2mm', 'Purple', 4897.0, 10),
        ('laltex_AA0131', 'laltex', 'AA0131RD', '190x80x2mm', 'Red', 4865.0, 10),
        ('laltex_AA0131', 'laltex', 'AA0131WH', '190x80x2mm', 'White', 6648.0, 10),
        ('laltex_AA0135', 'laltex', 'AA0135WH', '75x33x6mm', 'White', NULL, 10),
        ('laltex_AA0411', 'laltex', 'AA0411BK', '112x121x3mm', 'Black', NULL, 10),
        ('laltex_AA0411', 'laltex', 'AA0411BL', '112x121x3mm', 'Blue', NULL, 10),
        ('laltex_AA0411', 'laltex', 'AA0411GN', '112x121x3mm', 'Green', NULL, 10),
        ('laltex_AA0411', 'laltex', 'AA0411PL', '112x121x3mm', 'Purple', NULL, 10),
        ('laltex_AA0411', 'laltex', 'AA0411RD', '112x121x3mm', 'Red', NULL, 10),
        ('laltex_AA0411', 'laltex', 'AA0411WH', '112x121x3mm', 'White', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412AM', '96x215x25mm', 'Amber', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412BL', '96x215x25mm', 'Blue', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412GN', '96x215x25mm', 'Green', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412LBL', '96x215x25mm', 'Light Blue', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412PK', '96x215x25mm', 'Pink', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412PL', '96x215x25mm', 'Purple', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412RD', '96x215x25mm', 'Red', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412TR', '96x215x25mm', 'Transparent', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412WH', '96x215x25mm', 'White', NULL, 10),
        ('laltex_AA0412', 'laltex', 'AA0412YL', '96x215x25mm', 'Yellow', NULL, 10),
        ('midocean_AR1249', 'midocean', 'AR1249-16', NULL, 'Matt Silver', NULL, 1),
        ('midocean_AR1253', 'midocean', 'AR1253-16', NULL, 'Matt Silver', NULL, 1),
        ('midocean_AR1470', 'midocean', 'AR1470-01', NULL, 'Brown', NULL, 1),
        ('midocean_AR1589', 'midocean', 'AR1589-03', NULL, 'Black', NULL, 1),
        ('midocean_AR1804', 'midocean', 'AR1804-03', NULL, 'Black', NULL, 1),
        ('midocean_AR1804', 'midocean', 'AR1804-04', NULL, 'Blue', NULL, 1),
        ('midocean_AR1804', 'midocean', 'AR1804-05', NULL, 'Red', NULL, 1),
        ('midocean_AR1804', 'midocean', 'AR1804-06', NULL, 'White', NULL, 0),
        ('midocean_AR1804', 'midocean', 'AR1804-10', NULL, 'Orange', NULL, 0),
        ('midocean_AR1804', 'midocean', 'AR1804-12', NULL, 'Turquoise', NULL, 0),
        ('midocean_AR1804', 'midocean', 'AR1804-15', NULL, 'Stone Grey', NULL, 0),
        ('midocean_AR1804', 'midocean', 'AR1804-37', NULL, 'Royal Blue', NULL, 0),
        ('midocean_AR1804', 'midocean', 'AR1804-48', NULL, 'Lime', NULL, 0),
        ('midocean_AR1804', 'midocean', 'AR1804-85', NULL, 'French Navy', NULL, 0),
        ('xd_V10200', 'xd', '102001', NULL, 'grey', 17525.0, 6)
      ) AS t(parent_product_id, supplier, sku, size, color, stock_available, n_prices)
      ORDER BY parent_product_id, sku""")),


    // Derived decoration summaries (Nest.withPrintSummary — the
    // reference materializes numberOfPrintPositions /
    // allAvailableMethods / allAvailablePositions on the document,
    // unified.jsonc:266-270). Deterministic over the MidOcean sample;
    // VALUES oracle (tools/gen_values_oracle.py).
    ("q82_print_summary", (s: SparkSession, d: String) => {
      val sample = "/root/reference/sample data/MidOcean Sample Data.jsonc"
      graft.operators.Nest.withPrintSummary(
          graft.suppliers.MidOcean.unified(s, sample))
        .select(col("product_id"), col("number_of_print_positions"),
          col("all_available_methods"), col("all_available_positions"))
        .orderBy(col("product_id"))
    }, Some("""
      SELECT * FROM (VALUES
        ('midocean_AR1249', 4, 'debossing, digital_print, embroidery, laser_engraving, pad_print, screen_print, sublimation, transfer', 'LASER COMPASS, PD BOX, TOP BOX, TOP COMPASS'),
        ('midocean_AR1253', 3, 'debossing, digital_print, embroidery, laser_engraving, pad_print, screen_print, sublimation, transfer', 'BELOW BUTTONS, LEFT OF SOLAR CEL, RIGHT OF SOLAR CEL'),
        ('midocean_AR1470', 3, 'debossing, digital_print, embroidery, laser_engraving, pad_print, screen_print, sublimation, transfer', 'FRONT POCKET, FRONT TRANSFER, TOP'),
        ('midocean_AR1589', 4, 'debossing, digital_print, embroidery, laser_engraving, pad_print, screen_print, sublimation, transfer', 'BACK LEATHER PART, BACK SILVER PART, FRONT LEATHER PART, FRONT SILVER PART'),
        ('midocean_AR1804', 5, 'debossing, digital_print, embroidery, laser_engraving, pad_print, screen_print, sublimation, transfer', 'BACK, BACK PD, FRONT, FRONT PAD, FRONT PD')
      ) AS t(product_id, number_of_print_positions, all_available_methods, all_available_positions)
      ORDER BY product_id""")),


    // Per-column data-quality profile (Stats.columnProfile, exact
    // mode): the "which feed column went sparse this sync" report.
    ("q84_column_profile", (s: SparkSession, d: String) => {
      graft.operators.Stats.columnProfile(t(s, d, "customer"),
          Seq("c_mktsegment", "c_nationkey"))
        .orderBy(col("col_name"))
    }, Some("""
      SELECT 'c_mktsegment' AS col_name, count(*) AS n_rows,
        CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        count(DISTINCT c_mktsegment) AS n_distinct,
        CAST(min(c_mktsegment) AS VARCHAR) AS min,
        CAST(max(c_mktsegment) AS VARCHAR) AS max
      FROM customer
      UNION ALL
      SELECT 'c_nationkey', count(*),
        CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        count(DISTINCT c_nationkey),
        CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
      FROM customer
      ORDER BY col_name""")),


    // J6 — two-dimensional band resolution (RangeJoin.resolveBands2D):
    // the print-price-grid pattern (area band × quantity band, ref
    // flat-structure/midocean.json:118-353 and the Keramikos
    // qty×colours grid, flat-structure/keramikos.json:9-40), exercised
    // as a size-band × price-band lookup the oracle replays as a
    // relational range join. The bands tile the full (size, price)
    // space so every part resolves to exactly one band.
    ("q85_band2d_pricing", (s: SparkSession, d: String) => {
      val bands = s.createDataFrame(Seq(
        (1, Some(10), 0.0, Some(999.99), "S-low"),
        (1, Some(10), 1000.0, None, "S-high"),
        (11, Some(25), 0.0, Some(999.99), "M-low"),
        (11, Some(25), 1000.0, None, "M-high"),
        (26, None, 0.0, None, "L-any")))
        .toDF("min_size", "max_size", "min_price", "max_price", "band")
      RangeJoin.resolveBands2D(t(s, d, "part"), bands,
          col("p_size"), col("min_size"), col("max_size"),
          col("p_retailprice"), col("min_price"), col("max_price"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sum_price"))
        .orderBy(col("band"))
    }, Some("""
      SELECT b.band, count(*) AS n,
        CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM part p
      LEFT JOIN (VALUES
        (1, 10, 0.0, 999.99, 'S-low'), (1, 10, 1000.0, NULL, 'S-high'),
        (11, 25, 0.0, 999.99, 'M-low'), (11, 25, 1000.0, NULL, 'M-high'),
        (26, NULL, 0.0, NULL, 'L-any'))
        b(min_size, max_size, min_price, max_price, band)
        ON p.p_size >= b.min_size AND (b.max_size IS NULL OR p.p_size <= b.max_size)
       AND p.p_retailprice >= b.min_price
       AND (b.max_price IS NULL OR p.p_retailprice <= b.max_price)
      GROUP BY b.band ORDER BY b.band""")),


    // Gap-based sessionization (Sessionize.sessions): per-user
    // sessions with a 30-minute inactivity bound, replayed by the
    // oracle as gaps-and-islands. Both sides work in integer epoch
    // MICROseconds — the events table is nanosecond-precision parquet
    // and Spark's reader truncates to micros, so the oracle truncates
    // identically (epoch_ns // 1000) instead of comparing raw
    // timestamps. Spark MERGES touching windows (SessionizeSpec), so
    // the island break is strictly greater-than the gap.
    ("q92_sessionize", (s: SparkSession, d: String) => {
      graft.streaming.Sessionize.sessions(t(s, d, "events"), gap = "30 minutes")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
      m AS (SELECT user_id, us,
        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
             OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        THEN 1 ELSE 0 END AS brk FROM e),
      g AS (SELECT user_id, us,
        sum(brk) OVER (PARTITION BY user_id ORDER BY us
                       ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      SELECT user_id, min(us) AS start_us, max(us) AS end_us,
        CAST(count(*) AS BIGINT) AS n_events
      FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""")),


    // Big×big temporal as-of join (RangeJoin.asofJoin): every 10th
    // event acts as a per-user "state change" dim; each event picks up
    // the latest state at or before its own timestamp. The engine runs
    // union + one window pass (one shuffle, no inequality-join
    // blowup); the oracle replays it as a correlated latest-dim
    // lookup. Ties (same user, same microsecond) resolve to the
    // greatest payload on both sides. The carried level is a raw
    // column value — no arithmetic — so the hash compare is exact.
    ("q93_asof_join", (s: SparkSession, d: String) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val dims = e.filter(pmod(col("event_id"), lit(10)) === 0)
        .select(col("user_id"), col("ts"), col("value").as("level"))
      graft.operators.RangeJoin.asofJoin(
          e.drop("value"), dims, "user_id", "ts", "ts", Seq("level"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("level"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, value
                 FROM events),
      d AS (SELECT user_id, us, value AS level FROM e WHERE event_id % 10 = 0)
      SELECT e.event_id, e.user_id, e.us,
        (SELECT dd.level FROM d dd
          WHERE dd.user_id = e.user_id AND dd.us <= e.us
          ORDER BY dd.us DESC, dd.level DESC LIMIT 1) AS level
      FROM e ORDER BY event_id""")),


    // Stream-stream interval join, batch-executed
    // (EventStream.recentActivity): each event paired with the same
    // user's events in the trailing 10 minutes, rolled up per event.
    // The identical expression runs as a watermarked stream×stream
    // join (EventStreamSpec pins the equivalence); the oracle replays
    // the interval join in integer microseconds.
    ("q98_recent_activity", (s: SparkSession, d: String) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.streaming.EventStream.recentActivity(e, e, within = "10 minutes")
        .groupBy(col("event_id"), col("user_id"))
        .agg(count(lit(1)).as("n_prior"), max(col("prior_value")).as("max_prior_value"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, value
                 FROM events)
      SELECT l.event_id, l.user_id, CAST(count(*) AS BIGINT) AS n_prior,
        max(r.value) AS max_prior_value
      FROM e l JOIN e r ON l.user_id = r.user_id
        AND r.us >= l.us - 600000000 AND r.us <= l.us
        AND r.event_id != l.event_id
      GROUP BY l.event_id, l.user_id ORDER BY l.event_id""")),


    // Automatic as-of variant selection (RangeJoin.asofJoinAuto):
    // q93's join through the auto path — events keys are uniform at
    // this scale, so the sampler must pick the plain single-window
    // variant and reproduce q93's answer exactly (AsofJoinSpec pins
    // that a hot key flips the choice to bucketed).
    ("q104_asof_auto", (s: SparkSession, d: String) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val dims = e.filter(pmod(col("event_id"), lit(10)) === 0)
        .select(col("user_id"), col("ts"), col("value").as("level"))
      graft.operators.RangeJoin.asofJoinAuto(
          e.drop("value"), dims, "user_id", "ts", "ts", Seq("level"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("level"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, value
                 FROM events),
      d AS (SELECT user_id, us, value AS level FROM e WHERE event_id % 10 = 0)
      SELECT e.event_id, e.user_id, e.us,
        (SELECT dd.level FROM d dd
          WHERE dd.user_id = e.user_id AND dd.us <= e.us
          ORDER BY dd.us DESC, dd.level DESC LIMIT 1) AS level
      FROM e ORDER BY event_id""")),


    // COMPUTE-BOUND scaling probe (round-17 measurement legibility):
    // at sf0.1 every other query is per-job-overhead-bound, so the
    // driver's low-core vs 32-core comparison reads flat ("cores
    // ignored") even though the env contract is honored. This query
    // gives the scaling block something to grip: ~1.8 B elements of
    // pure 64-bit modular arithmetic (explode a 3072-long sequence
    // per lineitem row, fold each element through a 3-step LCG) —
    // codegen'd, allocation-free, lock-free, embarrassingly parallel.
    // NOT sha2/md5: Spark's digest expressions construct a
    // MessageDigest per call and measured NEGATIVE core scaling under
    // contention (196 core-seconds at 32 threads vs 43 at 8). The
    // grouping key derives from the computed value, so Bench's
    // `result.count()` cannot prune the arithmetic (count() over an
    // aggregate drops aggregate-only expressions — measured). All
    // operands stay positive and far below 2^63 (ANSI mode throws on
    // overflow), and `%` on positives agrees between Spark and DuckDB.
    ("q235_compute_scaling_probe", (s: SparkSession, d: String) => {
      val v = "((((((l_orderkey % 1000003) * 2654435761 + i) % 1000000007) " +
        "* 48271 + 11) % 1000000007) * 16807 + 7) % 1000000007"
      t(s, d, "lineitem")
        .select(col("l_orderkey"))
        // Spread BEFORE the explode: lineitem is one row group, so
        // without this the whole amplified generate runs in a single
        // scan task (measured: 48 s flat at 8 AND 32 cores). The
        // EXPLICIT partition count pins one partition per core —
        // derived from the session (defaultParallelism follows the
        // local[N] master / executor fleet), never a constant — and
        // opts this exchange out of AQE coalescing, which would fold
        // the ~10 MB shuffle to ~10 tasks and cap the measurable
        // parallelism at 10 regardless of cores (measured 0.61
        // ratio32/8 coalesced vs ~0.35 pinned).
        .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
        .select(col("l_orderkey"),
          explode(sequence(lit(1L), lit(3072L))).as("i"))
        .select(expr(v).as("v"))
        .groupBy(expr("v % 32").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("bucket"))
    }, Some("""
      WITH e AS (
        SELECT ((((((l_orderkey % 1000003) * 2654435761 + i) % 1000000007)
          * 48271 + 11) % 1000000007) * 16807 + 7) % 1000000007 AS v
        FROM lineitem, range(1, 3073) r(i))
      SELECT v % 32 AS bucket, count(*) AS n,
        CAST(sum(v) AS BIGINT) AS sum_v,
        min(v) AS min_v, max(v) AS max_v
      FROM e GROUP BY bucket ORDER BY bucket"""))
  )
}
