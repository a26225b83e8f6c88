package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev-only wall-time breakdown for one registered query (guide §1):
  * `runMain graft.JobProfile <query> [runs]` runs the query with a
  * listener that records every Spark job's duration, task count and
  * callsite, then prints jobs sorted by cost plus the driver-side gap
  * (wall − Σ job time) — the number that tells lifecycle fixtures
  * where the commit machinery (manifest IO, planning, footer reads)
  * spends time vs actual cluster work. */
object JobProfile {

  /** The first `graft.` frame of an SQL execution's call-site long form
    * (`SparkListenerSQLExecutionStart.details`, one frame a line): the
    * program code that started the execution. A job's own
    * `callSite.short` cannot name it when AQE submits the job from its
    * own thread — it then reads `withThreadLocalCaptured at
    * CompletableFuture.java`. */
  private[graft] def graftFrame(details: String): Option[String] =
    Option(details).toSeq.flatMap(_.linesIterator).map(_.trim.stripPrefix("at "))
      .find(_.startsWith("graft."))

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q212_autosync_freq_hist")
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevRun.session()

    case class J(id: Int, exec: String, desc: String, site: String, start: Long,
                 var end: Long = 0, var stages: Int = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    // SQL execution id -> the graft frame that started it
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    // site ("op at File.scala:line") -> (stage count, Σ wall ms, Σ tasks)
    val sites = new java.util.concurrent.ConcurrentHashMap[String, (Int, Long, Int)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          graftFrame(s.details).foreach(execSites.put(s.executionId, _))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String): Option[String] =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        // Keyed by SQL execution: the execution's graft frame names
        // the job; a job outside any SQL execution keeps its call site.
        val exec = prop("spark.sql.execution.id")
        val site = exec.flatMap(x => Option(execSites.get(x.toLong)))
          .orElse(prop("callSite.short")).getOrElse("")
        val desc = prop("spark.job.description").getOrElse("")
        jobs.put(e.jobId, J(e.jobId, exec.getOrElse("-"), desc, site, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        // attribute stages to the job holding them open
        jobs.forEach { (_, j) =>
          if (j.end == 0) { j.stages += 1; j.tasks += e.stageInfo.numTasks }
        }
        val si = e.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(0L)
        sites.merge(si.name, (1, wall, si.numTasks), (a, b) =>
          (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
    }

    // Poor-man's flame graph: sample the MAIN thread every 10 ms and
    // histogram the deepest graft.* frame chain — attributes wall time
    // to store/operator code paths (a blocking action keeps its caller
    // on the stack for the whole job).
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          val graftFrames = st.filter { f =>
            val c = f.getClassName
            (c.startsWith("graft.") || c.contains("sql.graft")) &&
              !c.contains("JobProfile")
          }
          val sig = graftFrames.reverse.takeRight(4)
            .map(f => s"${f.getClassName.stripPrefix("graft.").stripPrefix("sinks.").stripPrefix("operators.")}.${f.getMethodName}:${f.getLineNumber}")
            .mkString(" > ")
          if (sig.nonEmpty) samples.merge(sig, 1, _ + _)
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val fn = SparkEntry.queries(name)
    // warmup
    fn(spark, sfDir).count()
    spark.sparkContext.addSparkListener(listener)
    var bestWall = Double.MaxValue
    (1 to runs).foreach { r =>
      jobs.clear(); sites.clear(); samples.clear()
      val t0 = System.nanoTime()
      sampling = true
      fn(spark, sfDir).count()
      sampling = false
      val wall = (System.nanoTime() - t0) / 1e9
      bestWall = math.min(bestWall, wall)
      Thread.sleep(300) // let listener events drain
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      val totalJob = js.map(j => (j.end - j.start) / 1e3).sum
      println(f"== $name run $r: wall=$wall%.3f s, jobs=${js.size}, sum(job)=$totalJob%.3f s, driver-gap=${wall - totalJob}%.3f s")
      js.sortBy(j => -(j.end - j.start)).take(15).foreach { j =>
        println(f"   job ${j.id}%4d exec=${j.exec}%-5s ${(j.end - j.start) / 1e3}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site.take(60)}%-60s ${j.desc.take(70)}")
      }
      println("   -- main-thread samples by graft call path (10 ms each) --")
      samples.entrySet().asScala.toSeq.sortBy(-_.getValue).take(35).foreach { en =>
        println(f"   ${en.getValue * 0.01}%7.2f s  ${en.getKey.take(170)}")
      }
    }
    println(f"BEST $name wall=$bestWall%.3f s")
    spark.stop()
  }
}
