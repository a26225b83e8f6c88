package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sinks.SnapshotStore

/** Runs one workload: generate seeded inputs, set up the fixture
  * through the program, then drive closed-loop single-client ops for
  * `--seconds`. Prints human-readable lines, then one JSON line.
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` runs the
  * same ops untraced, then traced, and reports the per-layer metrics
  * plus the overhead of tracing (traced over untraced `op_p50_ms`,
  * minus one). The traced ops are real program calls with only the
  * op's span around each; a workload that takes a call apart into its
  * layers (`hasSplit`) then runs those split ops as a third phase, which
  * gives the layers' self times. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Path.of(opt("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val code =
      try run(spark, name, seed, seconds, trace, work, cpus, sessionS, opt)
      catch {
        case e: GeneratorFault =>
          println(s"generator fault, refusing to start: ${e.getMessage}")
          3
      } finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
                  work: Path, cpus: Int, sessionS: Double, opt: Map[String, String]): Int = {
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, work, seed, tracer)
    val w: Workload = name match {
      case "catalog_sync" => new CatalogSync(ctx)
      case "stock_trickle" => new StockTrickle(ctx)
      // Not a benchmark workload: a small stock_trickle that the build
      // runs once to load the classes the class-data archive records.
      case "train" => new StockTrickle(ctx, productsPerSupplier = 200)
      case "catalog_reads" => new CatalogReads(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx, replicas = 4)
    }
    val tg = System.nanoTime()
    w.generate()
    println(f"inputs generated in ${(System.nanoTime() - tg) / 1e9}%.3f s (not part of setup)")
    val loads = (1 to w.setupRepeats).map { _ =>
      val t = System.nanoTime()
      w.setup()
      (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + Stats.percentile(loads, 50)
    val bad = w.setupFailures()
    if (bad.nonEmpty) throw new IllegalStateException(s"fixture load failed: ${bad.mkString("; ")}")
    println(f"setup: session $sessionS%.3f s + fixture ${setupS - sessionS}%.3f s" +
      loads.map(x => f"$x%.3f").mkString(" (median of loads: ", ", ", " s)"))

    val failures = mutable.Buffer.empty[String]
    var opNo = 0L
    /** `minOps` ops, then more until `budgetS` has passed; a measuring
      * loop (`whole`) also ends only on a complete mix. */
    def loop(budgetS: Double, split: Boolean, minOps: Int, whole: Boolean = true): Seq[Sample] = {
      val out = mutable.Buffer.empty[Sample]
      val start = System.nanoTime()
      while (out.size < minOps || (whole && out.size % w.cycle != 0) ||
             (System.nanoTime() - start) / 1e9 < budgetS) {
        opNo += 1
        val op = w.next(opNo, split)
        tracer.beginOp(opNo)
        val a = System.nanoTime()
        val ran = try { tracer.span("op")(op.run()); None }
          catch { case e: Exception => Some(s"${op.kind} threw: $e") }
        val ms = (System.nanoTime() - a) / 1e6
        val f = ran.toSeq ++ (if (ran.isEmpty) op.check() else Nil)
        failures ++= f.map(x => s"op $opNo (${op.kind}): $x")
        out += Sample(op.kind, op.path, ms, op.items, f.isEmpty)
      }
      if (whole) Heap.sample()
      out.toSeq
    }

    // Warm-up: the first ops pay JIT, codegen and first rider runs;
    // checked, not sampled.
    val warm = loop(0, split = false, minOps = w.warmupOps, whole = false)
    val phases = if (!trace) 1 else if (w.hasSplit) 3 else 2
    val untraced = loop(seconds / phases, split = false, minOps = w.cycle * w.measuredMixes)
    val (calls, split) =
      if (!trace) (Nil, Nil)
      else {
        w.enterTraced()
        val before = w.tableRoot.map(TableStats(spark, _))
        tracer.enable()
        val c = Phase(loop(seconds / phases, split = false, minOps = w.cycle), tracer.take(), ctx.takeCounters())
        val after = w.tableRoot.map(TableStats(spark, _))
        val s =
          if (!w.hasSplit) c
          else Phase(loop(seconds / phases, split = true, minOps = w.cycle), tracer.take(), ctx.takeCounters())
        tracer.disable()
        layerMetrics(w, ctx.spark, untraced, c, s, before.zip(after))
        writeTrace(Path.of(opt("traces")).resolve(s"$name-seed$seed.jsonl"), tracer,
          Seq("calls" -> c) ++ (if (w.hasSplit) Seq("split" -> s) else Nil))
        (c.samples, if (w.hasSplit) s.samples else Nil)
      }
    val heapMb = Heap.peakMb
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    println(f"JVM wall before shutdown: $jvmS%.1f s")

    val samples = warm ++ untraced ++ calls ++ split
    val attempted = samples.size
    val failed = samples.count(!_.ok)
    failures.take(10).foreach(f => println(s"FAILED $f"))
    val e2e = endToEnd(w, untraced, setupS, heapMb)
    report(w, name, seed, cpus, warm, untraced, calls ++ split, e2e)
    val metrics = if (trace) layers.toSeq else e2e
    println(Json.result(failed == 0, attempted, failed, metrics))
    if (failed == 0) 0 else 1
  }

  /** One traced phase: its samples, its spans and attributed jobs, and
    * the counters the workload kept during it. */
  final case class Phase(samples: Seq[Sample], trace: (Seq[Span], Seq[(JobRec, Int)]),
                         counters: Map[String, Double]) {
    def spans: Seq[Span] = trace._1
    def jobs: Seq[(JobRec, Int)] = trace._2
  }

  /** The traced phases' spans and jobs, one JSON object a line. */
  private def writeTrace(path: Path, tr: Tracer, phases: Seq[(String, Phase)]): Unit = {
    Files.createDirectories(path.getParent)
    val spans = phases.flatMap { case (ph, p) => p.spans.map(x =>
      s"""{"phase": "$ph", "span": ${x.id}, "parent": ${x.parent}, "op": ${x.op}, "name": "${x.name}", """ +
        f""""start_ms": ${tr.toMs(x.start)}%.3f, "end_ms": ${tr.toMs(x.end)}%.3f}""")
    }
    val jobs = phases.flatMap { case (ph, p) => p.jobs.map { case (j, sid) =>
      s"""{"phase": "$ph", "job": ${j.jobId}, "span": $sid, "start_ms": ${j.startMs}, """ +
        s""""end_ms": ${j.endMs}, "tasks": ${j.tasks}}"""
    } }
    Files.write(path, (spans ++ jobs).asJava)
    println(s"trace: ${spans.size} spans, ${jobs.size} jobs written to $path")
  }

  /** name -> (value, unit) of the per-layer metrics, in report order. */
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  private def endToEnd(w: Workload, s: Seq[Sample], setupS: Double, heapMb: Double)
      : Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS, "s"),
    "op_p50_ms" -> (w.opP50Ms(s), "ms"),
    "heap_after_gc_mb" -> (heapMb, "MB"))

  /** Every metric by its workload-specific name, with percentile and
    * sample count, as lines before the JSON result. */
  private def report(w: Workload, name: String, seed: Long, cpus: Int, warm: Seq[Sample], s: Seq[Sample],
                     traced: Seq[Sample], e2e: Seq[(String, (Double, String))]): Unit = {
    val maxHeap = Runtime.getRuntime.maxMemory / (1 << 20)
    println(s"workload $name seed $seed cpus $cpus heap_max ${maxHeap}MB ops ${s.size}" +
      (if (traced.nonEmpty) s" traced_ops ${traced.size}" else ""))
    def lat(label: String, xs: Seq[Double], scale: Double, unit: String): Unit = if (xs.nonEmpty) {
      println(f"  ${label}_p50_$unit = ${Stats.percentile(xs, 50) / scale}%.4f $unit (n=${xs.size})")
      Stats.tail(xs).foreach { case (p, v, beyond) =>
        println(f"  ${label}_tail_$unit = ${v / scale}%.4f $unit (p$p%s, n=${xs.size}, $beyond beyond)")
      }
    }
    val wallS = s.map(_.ms).sum / 1000
    name match {
      case "catalog_sync" =>
        println(f"  sync_products_per_s = ${s.map(_.items).sum / wallS}%.2f products/s")
        lat("sync_round", s.map(_.ms), 1000, "s")
      case "stock_trickle" | "train" =>
        val up = s.filter(_.kind == "upsert")
        println(f"  upsert_products_per_s = ${up.map(_.items).sum / (up.map(_.ms).sum / 1000)}%.2f products/s")
        lat("upsert", up.map(_.ms), 1000, "s")
        up.groupBy(_.path).toSeq.sortBy(_._1).foreach { case (k, xs) =>
          println(f"    $k%-12s upsert p50 ${Stats.percentile(xs.map(_.ms), 50) / 1000}%.4f s (n=${xs.size})")
        }
        lat("read_back", s.filter(_.kind == "read_back").map(_.ms), 1, "ms")
      case "catalog_reads" =>
        lat("lookup", s.filter(_.kind == "lookup").map(_.ms), 1, "ms")
        lat("query", s.filter(_.kind != "lookup").map(_.ms), 1, "ms")
        s.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
          println(f"    $k%-12s p50 ${Stats.percentile(xs.map(_.ms), 50)}%.2f ms (n=${xs.size})")
        }
      case "corpus_dedup" =>
        println(f"  corpus_docs_per_s = ${s.map(_.items).sum / wallS}%.2f docs/s")
        lat("pass", s.map(_.ms), 1000, "s")
    }
    if (warm.nonEmpty) println(warm.map(x => f"${x.kind} ${x.ms}%.0f").mkString("  warm-up ms: ", ", ", ""))
    println(s.map(x => f"${x.kind} ${x.ms}%.0f").mkString("  measured ms: ", ", ", ""))
    val all = warm ++ s ++ traced
    println(f"  op_error_ratio = ${all.count(!_.ok).toDouble / all.size}%.4f ratio (n=${all.size})")
    e2e.foreach { case (k, (v, u)) => println(f"  $k = $v%.4f $u") }
    layers.foreach { case (k, (v, u)) => println(f"  $k = $v%.6f $u") }
  }

  /** Per-layer metrics. From the phase of real program calls (`c`):
    * Spark jobs per op, riders, planning, table-root counts before and
    * after it, and tracing overhead. From the split phase (`sp`, the
    * same phase for a workload without one): the layers' self times. */
  private def layerMetrics(w: Workload, spark: SparkSession, untraced: Seq[Sample], c: Phase,
                           sp: Phase, table: Option[(TableStats, TableStats)]): Unit = {
    def put(k: String, v: Double, u: String): Unit = layers(k) = (v, u)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    // Per-op figures are per primary op: a mix's secondary ops (the
    // read-back after an upsert) count toward the op they follow.
    def nPrimary(p: Phase): Double = math.max(1, p.samples.count(_.kind == w.primaryKind)).toDouble
    def selfOf(p: Phase, name: String): Double = {
      val self = Intervals.selfSeconds(p.spans)
      p.spans.filter(_.name == name).map(x => self(x.id)).sum
    }
    val n = nPrimary(sp)
    val k = sp.counters.withDefaultValue(0.0)
    def perOp(name: String): Double = selfOf(sp, name) / n

    val spanById = sp.spans.map(x => x.id -> x).toMap
    val parseJobs = sp.jobs.filter { case (_, sid) => spanById.get(sid).exists(_.name == "sources") }
    put("sources.parse_s", perOp("sources"), "s")
    put("sources.parse_tasks", ratio(parseJobs.map(_._1.tasks).sum, parseJobs.size), "count")
    put("sources.feed_mb_per_s", ratio(k("feed_bytes") / 1e6, selfOf(sp, "sources")), "MB/s")
    put("suppliers.transform_s", perOp("suppliers"), "s")
    put("suppliers.products_per_s", ratio(k("products_transformed"), selfOf(sp, "suppliers")), "1/s")
    put("pipeline.validate_s", perOp("pipeline"), "s")
    put("pipeline.rejected_ratio", ratio(k("rows_rejected"), k("rows_processed")), "ratio")
    put("sinks.commit_s", perOp("sinks.commit"), "s")

    val nc = nPrimary(c)
    val kc = c.counters.withDefaultValue(0.0)
    put("sinks.riders_s", selfOf(c, "sinks.riders") / nc, "s")
    val primary = c.samples.filter(_.kind == w.primaryKind)
    val upserts = primary.size * w.upsertsPerOp
    table match {
      case Some((b, a)) =>
        val newDirs = a.dataDirs -- b.dataDirs
        val referenced = a.referencedDirsSince(spark, b.version) & newDirs
        put("sinks.write_attempts_per_version", ratio(newDirs.size, referenced.size), "ratio")
        put("sinks.versions_per_upsert", ratio((a.version - b.version).toDouble, upserts), "count")
        put("sinks.bytes_written_per_product",
          ratio((a.diskBytes - b.diskBytes).toDouble,
            if (upserts == 0) 0 else primary.map(_.items).sum.toDouble), "B")
        put("sinks.files_added_per_commit", a.filesAddedPerCommit(spark, b.version), "count")
        put("sinks.files_live", a.liveFiles, "count")
        put("sinks.storage_amp", ratio(a.diskBytes.toDouble, a.liveBytes.toDouble), "ratio")
      case None =>
        Seq("sinks.write_attempts_per_version" -> "ratio", "sinks.versions_per_upsert" -> "count",
          "sinks.bytes_written_per_product" -> "B", "sinks.files_added_per_commit" -> "count",
          "sinks.files_live" -> "count", "sinks.storage_amp" -> "ratio")
          .foreach { case (key, u) => put(key, 0.0, u) }
    }

    val planning = c.spans.filter(_.name == "planning")
    put("planning.plan_ms", ratio(selfOf(c, "planning") * 1000, planning.size), "ms")
    put("planning.files_kept_ratio", ratio(kc("files_kept"), kc("files_total")), "ratio")

    // Spark execution per op of the real calls: jobs and tasks
    // attributed to any span of the op, job wall as the union of their
    // intervals inside the op.
    val tr = w.ctx.tracer
    val opOfSpan = c.spans.map(x => x.id -> x.op).toMap
    val jobsByOp = c.jobs.groupBy { case (_, sid) => opOfSpan.getOrElse(sid, -1L) }
    val perOpJobs = c.spans.filter(_.parent == 0).map { o =>
      val js = jobsByOp.getOrElse(o.op, Nil).map(_._1)
      val lo = tr.toMs(o.start); val hi = tr.toMs(o.end)
      val jobMs = Intervals.covered(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)), lo, hi)
      (js.size, js.map(_.tasks).sum, jobMs / 1000, (hi - lo - jobMs) / 1000)
    }
    put("spark.jobs_per_op", perOpJobs.map(_._1).sum / nc, "count")
    put("spark.tasks_per_op", perOpJobs.map(_._2).sum / nc, "count")
    put("spark.job_s", perOpJobs.map(_._3).sum / nc, "s")
    put("spark.driver_gap_s", perOpJobs.map(_._4).sum / nc, "s")

    put("operators.exact_dedup_s", perOp("operators.exact_dedup"), "s")
    put("operators.minhash_pairs_s", perOp("operators.minhash_pairs"), "s")
    put("operators.cluster_s", perOp("operators.cluster"), "s")
    put("operators.ann_topk_s", perOp("operators.ann_topk"), "s")
    put("operators.candidate_pairs", k("candidate_pairs") / n, "count")
    put("operators.pairs_kept_ratio", ratio(k("pairs_kept"), k("candidate_pairs")), "ratio")

    put("root.self_s", perOp("op"), "s")
    put("trace.overhead_ratio", ratio(w.opP50Ms(c.samples), w.opP50Ms(untraced)) - 1, "ratio")
  }
}

/** Percentiles over latency samples. */
object Stats {
  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest of the usual tail percentiles with at least ten
    * samples beyond it: (percentile, value, samples beyond). */
  def tail(xs: Seq[Double]): Option[(String, Double, Int)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => xs.size * (1 - p / 100) >= 10).map { p =>
      val v = percentile(xs, p)
      (if (p == p.floor) p.toInt.toString else p.toString, v, xs.count(_ > v))
    }
}

/** Old-generation occupancy after a full collection, forced (outside
  * any timed op) at the end of every measuring phase. A peak over GCs
  * the JVM picks itself would depend on when they happen to run. */
object Heap {
  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private var peak = 0L
  def sample(): Unit = {
    // The first collection finds unreachable broadcasts, shuffles and
    // cached blocks; Spark's cleaner thread then drops them, and the
    // second collection measures what is really retained.
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldPools.foreach(p => Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed)))
  }
  def peakMb: Double = peak / 1048576.0
}

/** What the table root shows from outside: data-attempt directories,
  * bytes on disk, the live snapshot's files, and the version. */
final case class TableStats(root: String, version: Long, dataDirs: Set[String], diskBytes: Long,
                            liveFiles: Int, liveBytes: Long) {
  private def dirOf(path: String): Option[String] =
    path.split('/').toList match {
      case "data" :: d :: _ => Some(d)
      case _ => None
    }

  def referencedDirsSince(spark: SparkSession, from: Long): Set[String] =
    ((from + 1) to version).filter(SnapshotStore.manifestExists(spark, root, _))
      .flatMap(v => SnapshotStore.manifest(spark, root, v).flatMap(e => dirOf(e.path))).toSet

  /** Mean files a data-changing version added over its predecessor. */
  def filesAddedPerCommit(spark: SparkSession, from: Long): Double = {
    val vs = (from to version).filter(SnapshotStore.manifestExists(spark, root, _))
    val added = vs.sliding(2).collect { case Seq(a, b) =>
      (SnapshotStore.manifest(spark, root, b).map(_.path).toSet --
        SnapshotStore.manifest(spark, root, a).map(_.path)).size
    }.filter(_ > 0).toSeq
    if (added.isEmpty) 0.0 else added.sum.toDouble / added.size
  }
}

object TableStats {
  def apply(spark: SparkSession, root: String): TableStats = {
    val r = Path.of(root)
    val v = SnapshotStore.currentVersion(spark, root).getOrElse(-1L)
    val live = SnapshotStore.manifest(spark, root, v)
    val dataDir = r.resolve("data")
    val dirs =
      if (Files.isDirectory(dataDir))
        Files.list(dataDir).iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("v_")).toSet
      else Set.empty[String]
    val w = Files.walk(r)
    val disk = try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    val liveBytes = live.map(e => Files.size(r.resolve(e.path))).sum
    TableStats(root, v, dirs, disk, live.size, liveBytes)
  }
}

/** The one JSON line the harness reads. */
object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, (Double, String))]): String =
    metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
