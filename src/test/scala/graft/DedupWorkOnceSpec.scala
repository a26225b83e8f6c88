package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.TextAnalysis
import graft.operators.Dedup

/** The corpus dedup operators do each piece of work once: a self-join
  * over the signatures reads them from one materialization, and
  * connected components starts from the one-hop minimum. */
class DedupWorkOnceSpec extends SparkSpec {
  import spark.implicits._

  /** Finished physical plans of every SQL execution `body` runs. The
    * listener bus is asynchronous, so a marker query run after `body`
    * tells when every earlier plan has arrived. */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val marker = "dedup_work_once_marker"
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    @volatile var marked = false
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.toString.contains(marker)) marked = true else plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(marker)).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marked, "the marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Every node that ran, through AQE's final plan and its query
    * stages. A reused exchange is a leaf and does not count again. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** (token-array shuffles, signature aggregates) over `plans`. The
    * signature aggregate is the final half of the per-id aggregate
    * that outputs `sig` (or its first slot, `firstSigCol`, when the
    * projection to `sig` is not folded into it). */
  private def workCounts(plans: Seq[SparkPlan], firstSigCol: String): (Int, Int) = {
    val all = plans.flatMap(nodes)
    (all.count {
      case e: ShuffleExchangeExec => e.output.exists(_.name == "__ws")
      case _ => false
    }, all.count {
      case a: BaseAggregateExec =>
        a.aggregateExpressions.exists(e => e.mode == Final || e.mode == Complete) &&
          a.output.exists(o => o.name == "sig" || o.name == firstSigCol)
      case _ => false
    })
  }

  private lazy val docs = {
    val base = (1 to 40).map(i => s"document $i talks about topic ${i % 5} with shared filler words")
    val near = (1 to 10).map(i => s"document $i talks about topic ${i % 5} with shared filler words dup")
    val copies = base.take(3)
    (base ++ near ++ copies).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text").cache()
  }

  test("minHashPairs runs the token-array shuffle and the signature aggregate once per call") {
    docs.count()
    var pairs = 0L
    val plans = plansOf {
      pairs = Dedup.minHashPairs(docs, $"text", $"id", threshold = 0.5).collect().length
    }
    assert(pairs >= 10, s"the near-duplicates must pair up, got $pairs pairs")
    assert(workCounts(plans, "__h0") == ((1, 1)),
      "(token shuffles, signature aggregates) per minHashPairs call")
  }

  test("simHashPairs runs the token-array shuffle and the signature aggregate once per call") {
    docs.count()
    var pairs = 0L
    val plans = plansOf {
      pairs = Dedup.simHashPairs(docs, $"text", $"id", maxHamming = 3).collect().length
    }
    assert(pairs >= 3, s"the exact copies must pair up, got $pairs pairs")
    assert(workCounts(plans, "__b0") == ((1, 1)),
      "(token shuffles, signature aggregates) per simHashPairs call")
  }

  test("dedupIncremental runs the batch's token-array shuffle and signature aggregate once per call") {
    val dir = freshDir()
    docs.write.parquet(s"$dir/docs")
    Dedup.minHashIndex(docs.filter($"id" < 20), $"text", $"id").write.parquet(s"$dir/index")
    val index = spark.read.parquet(s"$dir/index")
    val files = spark.read.parquet(s"$dir/docs").filter($"id" >= 20)
    // The batch shapes the callers pass: a micro-batch read from
    // files (the streaming ingest), and a filtered, scored batch (the
    // ingest capstone query). Neither is cached, so AQE reuses one
    // exchange for the three readers of the batch's signatures, and
    // dedupIncremental needs no truncation to compute them once.
    val batches = Seq(
      "file batch" -> files,
      "scored batch" -> files.withColumn("logit", TextAnalysis.qualityLogit($"text"))
        .filter($"logit" > -1e9))
    for ((kind, batch) <- batches) {
      var kept = Set.empty[Long]
      val plans = plansOf {
        kept = Dedup.dedupIncremental(batch, $"text", $"id", index)
          .select($"id").as[Long].collect().toSet
      }
      assert(kept.nonEmpty && !kept.exists(Set(50L, 51L, 52L)),
        s"$kind: the copies of indexed docs must drop and fresh docs stay, kept $kept")
      assert(workCounts(plans, "__h0") == ((1, 1)),
        s"$kind: (token shuffles, signature aggregates) per dedupIncremental call")
    }
  }

  test("seeded labels: a clique and a star around its least id converge in one round") {
    val clique = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val star = (11L to 20L).map(leaf => (10L, leaf))
    for ((shape, edges, least) <- Seq(("clique", clique, 1L), ("star", star, 10L))) {
      val (labels, iters) = Dedup.connectedComponentsIters(edges.toDF("id_a", "id_b"), maxIter = 25)
      val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps.size == edges.flatMap(e => Seq(e._1, e._2)).distinct.size, s"$shape: every node labeled")
      assert(comps.values.forall(_ == least), s"$shape: every node maps to $least, got $comps")
      assert(iters == 1, s"$shape took $iters rounds; seeded labels need 1")
    }
  }
}
