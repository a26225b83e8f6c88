package graft

/** Dev-only SAME-SESSION A/B: run a query list with a runtime conf
  * flipped between two values, interleaved per pass, and report
  * per-query min wall for each arm. Cross-JVM A/B on this host is
  * polluted by ±20-30% session drift (round 16's lesson); flipping a
  * runtime-settable conf inside ONE warmed JVM removes the drift
  * entirely — both arms share JIT state, page cache and host load.
  *
  * usage: runMain graft.AbProbe <confKey> <valA> <valB> <q1,q2,...> [passes]
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: AbProbe <confKey> <valA> <valB> <q1,q2,...> [passes]")
    val Array(key, valA, valB) = args.take(3)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val passes = args.lift(4).map(_.toInt).getOrElse(3)
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevRun.session()
    val qs = names.map(n => n -> SparkEntry.queries(n))
    // Untimed warmup under each arm so JIT/codegen is hot for both.
    Seq(valA, valB).foreach { v =>
      spark.conf.set(key, v)
      qs.foreach { case (_, fn) => fn(spark, sfDir).count() }
    }
    val best = scala.collection.mutable.Map[(String, String), Double]()
    (1 to passes).foreach { p =>
      // Arm order alternates per pass so neither arm always pays a
      // transient stall window.
      val arms = if (p % 2 == 1) Seq(valA, valB) else Seq(valB, valA)
      arms.foreach { v =>
        spark.conf.set(key, v)
        qs.foreach { case (n, fn) =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          val k = (n, v)
          best(k) = math.min(best.getOrElse(k, Double.MaxValue), sec)
        }
      }
    }
    println(f"== AbProbe $key: A=$valA vs B=$valB, min of $passes passes ==")
    var ta = 0.0; var tb = 0.0
    names.foreach { n =>
      val a = best((n, valA)); val b = best((n, valB))
      ta += a; tb += b
      println(f"  A $a%7.3f | B $b%7.3f  (B/A ${b / a}%.3f)  $n")
    }
    println(f"  A TOTAL $ta%.2f s | B TOTAL $tb%.2f s (B/A ${tb / ta}%.3f)")
    spark.stop()
  }
}
