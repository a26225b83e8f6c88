package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The one OCC commit primitive ([[SnapshotStore.occ]]) driven
  * directly, with attempt bodies that interleave a competing commit at
  * a chosen point — races made deterministic. */
class CommitPrimitiveSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("occ").resolve("t").toString

  test("a constraint added between an attempt's check and its publish refuses the write on retry") {
    val root = freshRoot()
    SnapshotStore.commit(spark, Seq((1L, "a")).toDF("k", "part"), root, "part")
    val bad = Seq((-5L, "a")).toDF("k", "part")
    var attempts = 0
    // Attempt 1: another writer publishes v2 with `k > 0`, then this
    // body (the real append body) checks the row against ITS tip, v1,
    // which has no constraint, and stages it. The publish of v2 loses;
    // attempt 2 must re-check against v2 and refuse.
    val e = intercept[IllegalStateException] {
      SnapshotStore.occ(spark, root, "append-commit", needsTable = false) { cur =>
        attempts += 1
        if (attempts == 1) SnapshotStore.addConstraint(spark, root, "k_pos", "k > 0")
        SnapshotStore.appendAttempt(spark, bad, root, ColSpec.parse("part"), cur,
          "append")
      }
    }
    assert(e.getMessage.contains("k_pos"), e.getMessage)
    assert(attempts == 2)
    assert(SnapshotStore.versions(spark, root) == Seq(1L, 2L))
    assert(SnapshotStore.tableConstraints(spark, root, 2).map(_._1) == Seq("k_pos"))
    SnapshotStore.versions(spark, root).foreach { v =>
      assert(SnapshotStore.readVersion(spark, root, v).filter(col("k") < 0).isEmpty,
        s"v$v holds the violating row")
    }
  }

  test("every lost race re-runs the body at the new tip; the budget is 10 attempts") {
    val root = freshRoot()
    SnapshotStore.commit(spark, Seq((1L, "a")).toDF("k", "part"), root, "part")
    val tips = scala.collection.mutable.ArrayBuffer.empty[Long]
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.occ(spark, root, "test") { cur =>
        tips += cur
        // A competing commit takes cur + 1 before every publish.
        SnapshotStore.setProperties(spark, root, Seq("n" -> cur.toString))
        SnapshotStore.metadataCommit(spark, root, cur, "test")
      }
    }
    assert(e.getMessage == s"lost the test race 10 times under $root")
    assert(tips == (1L to 10L), "each attempt must see exactly the winner's tip")
    assert(SnapshotStore.currentVersion(spark, root).contains(11L))
  }

  test("a rebase republishes the staged files at head + 1 without re-running the body") {
    val root = freshRoot()
    SnapshotStore.commit(spark, Seq((1L, "a")).toDF("k", "part"), root, "part")
    val bases = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var runs = 0
    val v = SnapshotStore.occ(spark, root, "test") { cur =>
      runs += 1
      // An interloper takes cur + 1 after this body staged its files.
      SnapshotStore.setProperties(spark, root, Seq("n" -> "1"))
      val staged = SnapshotStore.appendAttempt(spark, Seq((2L, "b")).toDF("k", "part"),
        root, ColSpec.parse("part"), cur, "append")
      new SnapshotStore.Staged(staged.carried, staged.fresh, "append", "part",
        rebase = Some { (base: Long, head: Long) =>
          bases += (base -> head)
          Some(SnapshotStore.manifest(spark, root, head))
        })
    }
    assert(runs == 1 && bases == Seq(1L -> 2L) && v == 3L)
    assert(SnapshotStore.manifest(spark, root, 3).map(_.path)
      .exists(_.startsWith("data/v_2-")), "the rebase must reuse attempt 1's files")
    assert(SnapshotStore.read(spark, root).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    assert(SnapshotStore.tablePropertiesMap(spark, root).get("n").contains("1"))
  }

  test("the merge rebase treats a moved constraint set between base and head as a conflict") {
    val root = freshRoot()
    SnapshotStore.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "part"), root, "part")
    def rebase(base: Long, head: Long) =
      SnapshotStore.mergeRebase(spark, root, Set("a"), Map.empty)(base, head)
    SnapshotStore.setProperties(spark, root, Seq("n" -> "1")) // v2: disjoint
    assert(rebase(1, 2).map(_.map(_.partition).toSet).contains(Set("b")))
    SnapshotStore.addConstraint(spark, root, "k_pos", "k > 0") // v3
    assert(rebase(1, 3).isEmpty, "rows checked against v1 must not rebase past a new constraint")
    SnapshotStore.setProperties(spark, root, Seq("n" -> "2")) // v4: disjoint again
    assert(rebase(3, 4).isDefined, "an unchanged constraint set still rebases")
  }

  test("a NoOp body publishes nothing; a missing table is refused unless allowed") {
    val root = freshRoot()
    val e = intercept[IllegalStateException](
      SnapshotStore.occ(spark, root, "test")(cur => SnapshotStore.NoOp(cur)))
    assert(e.getMessage.contains("no committed snapshot"))
    assert(SnapshotStore.occ(spark, root, "test", needsTable = false)(
      cur => SnapshotStore.NoOp(cur)) == 0L)
    assert(SnapshotStore.versions(spark, root).isEmpty)
  }
}
