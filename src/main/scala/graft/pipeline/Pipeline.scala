package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Upsert

/** Pipeline orchestration (SURVEY §2.8 R1–R5) + the error-channel /
  * partial-success semantics (§2.9, A4) the reference treats as an
  * observable output (ref: etl/base.py:247-253, 294-313).
  *
  * Spark-first re-expression:
  *  - The reference's 100-row micro-batches disappear — partitions are
  *    the batches.
  *  - Per-record skip-and-log becomes a declarative validation split:
  *    rows failing any rule route to an errors DataFrame (persisted,
  *    then counted — counts come from the persisted frame, not
  *    best-effort accumulators, so they're exact under task retry).
  *  - Per-supplier isolation (orchestrator.py:72-78) is a driver-side
  *    try/catch per supplier; one supplier's failure never kills the
  *    run.
  *  - The sink is the partitioned-parquet keyed merge (K1, W3 window)
  *    partitioned by supplier_id, so a sync rewrites one supplier's
  *    partition, not the table.
  */
object ErrorChannel {

  /** Validation rules the unified boundary enforces (the role Pydantic
    * required-field validation plays in the reference —
    * etl/base.py:135-145). Each rule: (message, predicate-that-must-hold). */
  val standardRules: Seq[(String, Column)] = Seq(
    "missing product_id" -> (col("product_id").isNotNull && col("product_id") =!= ""),
    "missing name" -> (col("name").isNotNull && col("name") =!= ""),
    "missing supplier id" -> col("supplier.id").isNotNull,
    "invalid status" -> col("status").isin(graft.schema.Enums.productStatuses.toSeq: _*))

  /** Tag rows with an `__errors` array column (empty = valid). One
    * map-side projection, no shuffle. Callers that consume both halves
    * should persist THIS frame once and filter it twice — persisting
    * the two filtered halves separately materializes the upstream
    * pipeline twice. */
  def tag(df: DataFrame, rules: Seq[(String, Column)] = standardRules): DataFrame = {
    val errs = array_compact(array(rules.map { case (msg, ok) =>
      when(!coalesce(ok, lit(false)), lit(msg)) }: _*))
    df.withColumn("__errors", errs)
  }

  /** Split into (valid rows, invalid rows + `__errors` array column). */
  def split(df: DataFrame, rules: Seq[(String, Column)] = standardRules)
      : (DataFrame, DataFrame) = {
    val tagged = tag(df, rules)
    (tagged.filter(size(col("__errors")) === 0).drop("__errors"),
      tagged.filter(size(col("__errors")) > 0))
  }
}

/** A4 run accounting — the reference's ETLResult (etl/base.py:22-44). */
case class ETLResult(
    supplier: String,
    status: String, // success | partial_success | failed
    processed: Long,
    success: Long,
    errors: Long,
    errorSamples: Seq[String],
    durationMs: Long)

/** R1 — registry of supplier pipelines (the factory at
  * etl/base.py:315-369, as an explicit idiomatic map). */
trait SupplierPipeline {
  def id: String
  def unified(spark: SparkSession, feedPath: String): DataFrame
}

object Registry {
  import graft.suppliers.{Keramikos, Laltex, MidOcean, PfConcept, Preseli,
    Ralawise, SandS, Sanmar, Xd}

  private final case class Builtin(id: String, run: (SparkSession, String) => DataFrame)
      extends SupplierPipeline {
    def unified(spark: SparkSession, feedPath: String): DataFrame = run(spark, feedPath)
  }

  private val builtins: Map[String, SupplierPipeline] = Seq(
    Builtin(MidOcean.supplierId, MidOcean.unified),
    Builtin(Laltex.supplierId, Laltex.unified),
    Builtin(Ralawise.supplierId, Ralawise.unified),
    Builtin(Keramikos.supplierId, Keramikos.unified),
    Builtin(Preseli.supplierId, Preseli.unified),
    Builtin(Xd.supplierId, Xd.unified),
    Builtin(PfConcept.supplierId, PfConcept.unified),
    Builtin(SandS.supplierId, SandS.unified),
    Builtin(Sanmar.supplierId, Sanmar.unified)).map(p => p.id -> p).toMap

  /** Runtime registrations (R1's open registry — the reference's
    * `@etl_component` decorator lets deployments add suppliers without
    * touching the factory; this is the explicit-call equivalent).
    * Last registration per id wins; built-ins are not overridable. */
  private val extras =
    new java.util.concurrent.ConcurrentHashMap[String, SupplierPipeline]()

  def register(p: SupplierPipeline): Unit = extras.put(p.id, p)

  def all: Map[String, SupplierPipeline] = {
    import scala.jdk.CollectionConverters._
    extras.asScala.toMap ++ builtins
  }
}

case class SupplierConfig(id: String, feedPath: String)

object Pipeline {

  /** R2/R4 — run one supplier end-to-end: transform → validate-split →
    * stamp (K7) → keyed merge into the partitioned unified table (K1).
    * `since` (§2.10 incremental): None = full sync. `deadLetterPath`:
    * rejected rows are APPENDED there (partitioned by supplier, with
    * their `__errors` reasons and a batch timestamp) for offline triage
    * and replay — the error channel's 5-sample report stays the quick
    * look, the dead-letter table is the complete record. */
  def runSupplier(spark: SparkSession, cfg: SupplierConfig, sinkPath: String,
                  since: Option[java.sql.Timestamp] = None,
                  atomicSink: Boolean = false,
                  deadLetterPath: Option[String] = None): ETLResult = {
    val t0 = System.nanoTime()
    try {
      val pipeline = Registry.all.getOrElse(cfg.id,
        throw new IllegalArgumentException(s"unknown supplier: ${cfg.id}"))
      val unified0 = pipeline.unified(spark, cfg.feedPath)
      // Incremental mode: the reference declares --since but falls back
      // to full sync (etl/base.py:267-273); we actually filter when the
      // source carries a modification timestamp, else full-sync too.
      val unified = since match {
        case Some(ts) if unified0.columns.contains("updated_at") =>
          unified0.filter(col("updated_at").isNull || col("updated_at") >= lit(ts))
        case _ => unified0
      }
      // Persist the TAGGED frame once; both halves are filters over it,
      // so the supplier transform runs a single time.
      val tagged = ErrorChannel.tag(unified)
      tagged.persist()
      val bad = tagged.filter(size(col("__errors")) > 0)
      val good = Upsert.stamped(Upsert.stamped(Upsert.stamped(
        tagged.filter(size(col("__errors")) === 0).drop("__errors"),
        "updated_at"), "created_at"), "last_sync")
        .withColumn("supplier_id", col("supplier.id"))
      // One accounting pass over the persisted frame for both counts.
      val counts = tagged.agg(count(lit(1)),
        count_if(size(col("__errors")) > 0)).head()
      val errorCount = counts.getLong(1)
      val successCount = counts.getLong(0) - errorCount
      if (successCount > 0) {
        // Sink selection (S8): the default is dynamic-partition-
        // overwrite parquet; "snapshot" mode commits through the atomic
        // manifest store (crash-safe publish, optimistic retry against
        // concurrent sibling suppliers).
        if (atomicSink)
          graft.sinks.SnapshotStore.mergeCommit(spark, good, sinkPath,
            keys = "product_id", versionCol = "last_sync",
            partitionCols = "supplier_id")
        else
          Upsert.mergeIntoParquet(spark, good, sinkPath,
            keyCol = "product_id", versionCol = "last_sync",
            partitionCol = "supplier_id")
      }
      val samples =
        if (errorCount == 0) Nil
        else bad.select(concat_ws("; ", col("__errors"))).limit(5)
          .collect().map(_.getString(0)).toSeq
      deadLetterPath.foreach { dl =>
        // Each supplier appends under its own hive-style directory:
        // readers of `dl` still infer supplier_id as a partition
        // column, and concurrent sibling suppliers never share a
        // _temporary staging dir (the append-commit race a single
        // partitionBy write into the shared root would have).
        if (errorCount > 0)
          bad.withColumn("rejected_at", current_timestamp())
            .write.mode("append").parquet(s"$dl/supplier_id=${cfg.id}")
      }
      tagged.unpersist()
      val status =
        if (errorCount == 0) "success"
        else if (successCount > 0) "partial_success"
        else "failed"
      ETLResult(cfg.id, status, successCount + errorCount, successCount,
        errorCount, samples, (System.nanoTime() - t0) / 1000000)
    } catch {
      case e: Exception =>
        ETLResult(cfg.id, "failed", 0, 0, 1,
          Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)),
          (System.nanoTime() - t0) / 1000000)
    }
  }

  /** R3 — full sync across suppliers with per-supplier isolation (J8:
    * all land in one unified table). `since` → incremental mode
    * (§2.10).
    *
    * Suppliers are independent DAGs, so their jobs are submitted from a
    * driver thread pool instead of serially — on a cluster the
    * scheduler interleaves their stages and the sync takes
    * max(supplier) rather than sum(supplier). Concurrent merges into
    * the shared sink are safe because each supplier reads and
    * dynamically overwrites ONLY its own `supplier_id` partitions
    * (Upsert.mergeIntoParquet), and dynamic partition overwrite stages
    * under a per-job directory. Isolation semantics are unchanged:
    * runSupplier catches per-supplier failures and returns a "failed"
    * ETLResult; results keep `cfgs` order. */
  def runFullSync(spark: SparkSession, cfgs: Seq[SupplierConfig],
                  sinkPath: String,
                  since: Option[java.sql.Timestamp] = None,
                  atomicSink: Boolean = false,
                  deadLetterPath: Option[String] = None): Seq[ETLResult] = {
    if (cfgs.isEmpty) Nil
    else if (cfgs.size == 1)
      Seq(runSupplier(spark, cfgs.head, sinkPath, since, atomicSink, deadLetterPath))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(cfgs.size, 8))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futures = cfgs.map(cfg =>
          scala.concurrent.Future(
            runSupplier(spark, cfg, sinkPath, since, atomicSink, deadLetterPath)))
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
  }

  /** R5/A1-A3 — status report over the unified table. Snapshot-mode
    * tables (a `manifests/` dir under the sink) read through the
    * current manifest; plain parquet sinks read directly. */
  def statusReport(spark: SparkSession, sinkPath: String): DataFrame = {
    val manifests = new org.apache.hadoop.fs.Path(sinkPath, "manifests")
    val fs = manifests.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df =
      if (fs.exists(manifests)) graft.sinks.SnapshotStore.read(spark, sinkPath)
      else spark.read.parquet(sinkPath)
    df.groupBy(col("supplier_id"), col("status"))
      .agg(count(lit(1)).as("n_products"),
        sum(size(col("variants"))).as("n_variants"))
      .orderBy(col("supplier_id"), col("status"))
  }
}

/** R3 — CLI entry point: sync / incremental / validate / status /
  * create-config (ref: etl/orchestrator.py:314-399). Config is a JSON
  * file: {"sink": "...", "suppliers": [{"id": "...", "feedPath": "..."}]} */
object Main {
  def main(args: Array[String]): Unit = {
    val action = args.headOption.getOrElse("sync")
    val configPath = args.lift(1).getOrElse("config/graft.json")
    if (action == "create-config") {
      // No Spark session needed: write a starter config and exit
      // (ref: orchestrator.py create-config action).
      val starter =
        """{
          |  "sink": "/tmp/graft-unified/products",
          |  "suppliers": [
          |    {"id": "midocean", "feedPath": "/path/to/MidOcean feed.jsonc"}
          |  ]
          |}""".stripMargin
      java.nio.file.Files.writeString(java.nio.file.Paths.get(configPath), starter)
      println(s"wrote starter config to $configPath")
      return
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val cfgText = graft.sources.FeedReader.loadText(spark, configPath)
        .getOrElse(sys.error(s"config not found: $configPath"))
      import spark.implicits._
      val cfg = spark.read.json(Seq(cfgText).toDS())
      val sink = cfg.select("sink").collect()(0).getString(0)
      // Optional "sinkMode": "snapshot" selects the atomic manifest
      // store; anything else (or absent) keeps partition-overwrite
      // parquet.
      val atomicSink = cfg.columns.contains("sinkMode") &&
        cfg.select("sinkMode").collect()(0).getString(0) == "snapshot"
      // Optional "deadLetter": rejected rows append under this path.
      val deadLetter =
        if (cfg.columns.contains("deadLetter"))
          Option(cfg.select("deadLetter").collect()(0).getString(0))
        else None
      val suppliers = cfg.select(explode(col("suppliers")).as("s"))
        .select("s.id", "s.feedPath").collect()
        .map(r => SupplierConfig(r.getString(0), r.getString(1))).toSeq
      def report(results: Seq[ETLResult]): Unit = results.foreach { r =>
        println(s"[${r.supplier}] ${r.status}: processed=${r.processed} " +
          s"success=${r.success} errors=${r.errors} in ${r.durationMs}ms" +
          (if (r.errorSamples.nonEmpty) s" first-errors=${r.errorSamples.mkString(" | ")}" else ""))
      }
      action match {
        case "sync" =>
          report(Pipeline.runFullSync(spark, suppliers, sink,
            atomicSink = atomicSink, deadLetterPath = deadLetter))
        case "incremental" =>
          // --since <ISO timestamp>; sources without a modification
          // timestamp fall back to full sync (ref: etl/base.py:267-273).
          val since = args.lift(2)
            .map(s => java.sql.Timestamp.valueOf(s.replace('T', ' ')))
            .orElse(Some(new java.sql.Timestamp(0L)))
          report(Pipeline.runFullSync(spark, suppliers, sink, since, atomicSink,
            deadLetter))
        case "validate" =>
          suppliers.foreach { s =>
            val ok = graft.sources.FeedReader.validate(spark, s.feedPath)
            println(s"[${s.id}] feed ${if (ok) "OK" else "MISSING"}: ${s.feedPath}")
          }
        case "status" =>
          Pipeline.statusReport(spark, sink).show(100, truncate = false)
        case other =>
          sys.error(s"unknown action: $other (sync|incremental|validate|status|create-config)")
      }
    } finally spark.stop()
  }
}
