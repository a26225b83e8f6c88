package graft

import graft.operators.{Checkpoints, Dedup}

/** The one-config reliable-checkpoint switch: every lineage-truncation
  * site goes through Checkpoints.truncate, which uses localCheckpoint
  * by default and a reliable checkpoint under `graft.checkpointDir`. */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("default mode truncates lineage without touching a checkpoint dir") {
    val df = Seq(1, 2, 3).toDF("n")
    val out = Checkpoints.truncate(df.select(($"n" * 2).as("m")))
    assert(out.as[Int].collect().sorted.toSeq == Seq(2, 4, 6))
  }

  test("graft.checkpointDir routes every truncation point through a reliable checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try {
      val out = Checkpoints.truncate(Seq(1, 2, 3).toDF("n"))
      assert(out.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
      // An iterative operator drives multiple truncations through the
      // same switch: connected components over a 2-cluster pair set.
      val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
        .toDF("id_a", "id_b")
      val comps = Dedup.connectedComponents(pairs)
        .select("id", "component").as[(String, String)].collect().toMap
      assert(comps == Map("a" -> "a", "b" -> "a", "c" -> "a",
        "x" -> "x", "y" -> "x"))
      // Reliable-checkpoint files actually landed under the configured dir.
      def rddFiles(f: java.io.File): Int =
        Option(f.listFiles()).toSeq.flatten.map(c =>
          (if (c.isDirectory) rddFiles(c) else 0) +
            (if (c.getName.startsWith("rdd-") || c.getName.startsWith("part-")) 1 else 0)).sum
      assert(rddFiles(new java.io.File(dir)) > 0,
        s"no checkpoint files under $dir")
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }
}
