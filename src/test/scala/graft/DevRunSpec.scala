package graft

import java.io.File

import org.apache.spark.sql.graft.ExitCleanupProbe
import org.scalatest.funsuite.AnyFunSuite

/** The dev-run module's pure parts. The test JVM's one session comes
  * from [[SparkSpec]], so [[DevRun.session]] is not built here. */
class DevRunSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS takes a positive integer and defaults to every core") {
    assert(DevRun.parseCpus(Some("8")) == 8)
    assert(DevRun.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    Seq("*", "0", "-1", "").foreach { raw =>
      val e = intercept[IllegalArgumentException](DevRun.parseCpus(Some(raw)))
      assert(e.getMessage.contains(s"got '$raw'"), e.getMessage)
    }
  }

  test("fixture roots are fresh directories under one parent that is deleted at exit") {
    val roots = Seq("a", "a", "b").map(t => new File(DevRun.fixtureRoot(t)))
    assert(roots.distinct.size == 3)
    assert(roots.forall(_.isDirectory))
    assert(roots.map(_.getParentFile).toSet == Set(DevRun.fixtureParent))
    assert(roots.head.getName.startsWith("a") && roots(2).getName.startsWith("b"))
    assert(ExitCleanupProbe.registered(DevRun.fixtureParent))
  }
}
