package graft.sinks

import java.nio.file.Files

/** `SHOW CREATE TABLE` ([[SnapshotStore.showCreateTable]], E145):
  * the CREATE statement reconstructed from metadata, with ROUND-TRIP
  * fidelity as the contract — running the output on a fresh root
  * reproduces the full DDL surface — and managed runtime state
  * (allocation marks, ANALYZE records, layout baselines) absent by
  * design. */
class ShowCreateSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${Files.createTempDirectory("showcreate").toString}/t"

  private def stmt(root: String): String = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql(s"SHOW CREATE TABLE graft.`$root`").collect().head.getString(0)
  }

  test("round-trip: the emitted statement re-creates the full DDL surface on a fresh root") {
    val root = freshRoot()
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql(s"""CREATE TABLE graft.`$root` (
      id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 100 INCREMENT BY 5),
      k BIGINT,
      status STRING DEFAULT 'new',
      yr DATE GENERATED ALWAYS AS (CAST(date_trunc('YEAR', ev_ts) AS DATE)),
      ev_ts TIMESTAMP,
      part STRING
    ) USING graft-snapshot PARTITIONED BY (part)
    CLUSTER BY (k) SORTED BY (ev_ts) INTO 4 BUCKETS
    TBLPROPERTIES ('graft.autoBloom.cols' = 'k', 'team' = 'ingest')""")
    val first = stmt(root)
    // Managed clauses print as clauses, properties as properties.
    assert(first.contains("GENERATED BY DEFAULT AS IDENTITY (START WITH 100 INCREMENT BY 5)"))
    assert(first.contains("GENERATED ALWAYS AS (CAST(date_trunc('YEAR', ev_ts) AS DATE))"))
    assert(first.contains("DEFAULT 'new'"))
    assert(first.contains("CLUSTER BY (`k`) SORTED BY (`ev_ts`) INTO 4 BUCKETS"))
    assert(first.contains("'graft.autoBloom.cols' = 'k'") &&
      first.contains("'team' = 'ingest'"), first)
    // Re-run the EMITTED statement against a fresh root; its own SHOW
    // CREATE must agree clause-for-clause (only the identifier line
    // differs).
    val root2 = freshRoot()
    val replay = first.replace(s"`graft`.`$root`", s"graft.`$root2`")
    assert(replay != first, "the identifier must have been substituted")
    spark.sql(replay)
    def body(s: String): String = s.split("\n", 2)(1)
    assert(body(stmt(root2)) == body(first),
      s"round-trip must be clause-identical:\n${stmt(root2)}\nvs\n$first")
  }

  test("managed runtime state never prints — a copy-paste re-create cannot reopen ids or inherit stale records") {
    val root = freshRoot()
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql(s"""CREATE TABLE graft.`$root` (
      id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, part STRING
    ) USING graft-snapshot PARTITIONED BY (part)""")
    Seq((1L, "0"), (2L, "1")).toDF("k", "part")
      .createOrReplaceTempView("sc_src")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k, part FROM sc_src")
    SnapshotStats.analyze(spark, root)
    val s1 = stmt(root)
    assert(!s1.contains("graft.identity") && !s1.contains("graft.stats") &&
      !s1.contains("graft.generatedTimeZone") && !s1.contains("last="),
      s"managed state leaked into SHOW CREATE:\n$s1")
    assert(s1.contains("GENERATED ALWAYS AS IDENTITY"),
      "…but the clause itself must print")
    // The shared predicate covers EVERY engine-state family — the
    // printer and the CREATE guard read the same line. A rollup's
    // self-description/cursor is the nastiest leak: a re-created
    // empty copy would satisfy the MV rewrite's freshness check.
    for (k <- Seq("graft.rollup.sourceVersion", "graft.rollup.source",
        "graft.layout.clusterKeys", "graft.layout.clusteredAt",
        "graft.sketch.sourceVersion", "graft.mirror.sourceVersion",
        "graft.stats.analyzed.version", "graft.maintenance.lastError",
        "graft.identity.id", "graft.generatedTimeZone"))
      assert(SnapshotStore.managedPropertyKey(k), s"$k must be managed")
    for (k <- Seq("graft.autoBloom.cols", "graft.autoCluster.keys",
        "graft.maintenance.async", "graft.targetFileSize",
        "graft.vacuum.minRetainHours", "team"))
      assert(!SnapshotStore.managedPropertyKey(k),
        s"$k is user config and must print/accept")
  }

  test("CREATE-time TBLPROPERTIES ride v1 atomically; raw managed keys in the clause refuse") {
    val root = freshRoot()
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql(s"""CREATE TABLE graft.`$root` (
      k BIGINT, part STRING
    ) USING graft-snapshot PARTITIONED BY (part)
    TBLPROPERTIES ('graft.targetFileSize' = '1048576')""")
    assert(SnapshotStore.tablePropertiesMap(spark, root)
      .get("graft.targetFileSize").contains("1048576"))
    assert(SnapshotStore.currentVersion(spark, root).contains(1L),
      "properties must ride version 1, not a follow-up commit")
    val e = intercept[Exception](spark.sql(s"""CREATE TABLE graft.`${freshRoot()}` (
      k BIGINT, part STRING
    ) USING graft-snapshot PARTITIONED BY (part)
    TBLPROPERTIES ('graft.identity.k' = 'start=1;step=1;last=0;type=BIGINT')"""))
    assert(e.getMessage.contains("managed metadata"), e.getMessage)
  }
}
