package graft.sinks

import java.util.concurrent.{Callable, CyclicBarrier, Executors}

import scala.jdk.CollectionConverters._

import SnapshotStore.ManifestEntry

/** The manifest publish is an atomic create-if-absent: committers that
  * race [[SnapshotStore.writeManifest]] for one version leave exactly
  * one winner, and the version reads back whole — the winner's header
  * and entries, never one writer's data under another's checksum. */
class ManifestPublishRaceSpec extends graft.SparkSpec {

  private val Writers = 6
  private val Rounds = 60

  test("racing writers of one version leave exactly one readable winner") {
    val root = s"${freshDir()}/t"
    val pool = Executors.newFixedThreadPool(Writers)
    try (1 to Rounds).foreach { v =>
      val entries = (0 until Writers).map(w =>
        Seq(ManifestEntry("a", s"part-v$v-w$w-0.parquet"), ManifestEntry("b", s"part-v$v-w$w-1.parquet")))
      // Every writer waits at the barrier, then all publish at once.
      val start = new CyclicBarrier(Writers)
      val racers = (0 until Writers).map { w =>
        new Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            SnapshotStore.writeManifest(spark, root, v, entries(w), "race",
              edit = _.copy(extra = Seq(s"#racer\t$w")))
          }
        }
      }
      val won = pool.invokeAll(racers.asJava).asScala.map(_.get())
      val winners = won.zipWithIndex.collect { case (true, w) => w }
      assert(winners.size == 1, s"v$v: winners ${winners.mkString(",")}")
      val header = SnapshotStore.header(spark, root, v)
      assert(header.extra == Seq(s"#racer\t${winners.head}"), s"v$v")
      assert(header.committer.isDefined, s"v$v")
      assert(SnapshotStore.manifest(spark, root, v) == entries(winners.head), s"v$v")
    } finally pool.shutdownNow()
    assert(SnapshotStore.currentVersion(spark, root).contains(Rounds.toLong))
  }
}
