package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** [[JobProfile]] names a job by the program frame that started its SQL
  * execution, not by the job's own call site. */
class JobProfileSpec extends SparkSpec {

  test("graftFrame takes the innermost graft frame of a call-site long form") {
    val details = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
      "graft.operators.Rollup$.sync(Rollup.scala:394)",
      "graft.sinks.SnapshotStore$.postCommit(SnapshotStore.scala:900)",
      "graft.JobProfile$.main(JobProfile.scala:90)").mkString("\n")
    assert(JobProfile.graftFrame(details).contains("graft.operators.Rollup$.sync(Rollup.scala:394)"))
    assert(JobProfile.graftFrame("java.lang.Thread.run(Thread.java:833)").isEmpty)
    assert(JobProfile.graftFrame(null).isEmpty)
  }

  private val Tag = "graft.jobProfileSpec"

  test("every job of an SQL execution carries an execution id whose start names a graft frame") {
    val starts = new ConcurrentHashMap[Long, String]()
    val jobExecs = new ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => starts.put(s.executionId, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(Tag) != null)
          .foreach(p => jobExecs.put(e.jobId, String.valueOf(p.getProperty("spark.sql.execution.id"))))
    }
    spark.sparkContext.addSparkListener(listener)
    // Only this thread's jobs (and the ones AQE submits for it) carry the tag.
    spark.sparkContext.setLocalProperty(Tag, "1")
    try {
      import org.apache.spark.sql.functions._
      // A shuffle under AQE: its stages run as jobs AQE submits itself.
      spark.range(200).groupBy(col("id") % 7).count().collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobExecs.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
      assert(!jobExecs.isEmpty)
      jobExecs.values.forEach { x =>
        val frame = scala.util.Try(x.toLong).toOption.flatMap(id => JobProfile.graftFrame(starts.get(id)))
        assert(frame.exists(_.startsWith("graft.JobProfileSpec")), s"execution $x: $frame")
      }
    } finally {
      spark.sparkContext.setLocalProperty(Tag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
