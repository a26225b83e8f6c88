package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffled equi-joins.
  *
  * AQE's skew-join split (`spark.sql.adaptive.skewJoin`) handles most
  * hot-key skew at runtime; this explicit salt is for the cases AQE
  * can't re-plan — a skewed SortMergeJoin feeding a required
  * distribution, or deliberate pre-partitioning in a pipeline that
  * reuses the exchange. Design: each big-side row gets one of `salts`
  * deterministic salt values, the small side is replicated `salts`
  * times, and the join key becomes (key, salt) — a hot key's rows
  * spread over `salts` reducers at the cost of small×salts duplication.
  */
object Skew {

  /** Inner/left equi-join of a skewed `big` side against a modest
    * `small` side on `key`, salted `salts` ways. Semantically identical
    * to `big.join(small, key, joinType)`; physically the shuffle spreads
    * each key across `salts` partitions. Salt is a deterministic hash
    * of the whole big-side row (no RNG — stable under retries). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      "salting replicates the small side; only inner/left joins are sound")
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.toSeq.map(col): _*)), lit(salts.toLong)).cast("int"))
    val smallSalted = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigSalted.join(smallSalted, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
