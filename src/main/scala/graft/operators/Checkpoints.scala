package graft.operators

import org.apache.spark.sql.DataFrame

/** One switch for every lineage-truncation point (iterative operators
  * re-plan from a materialized prefix: connected components' label
  * rounds, k-means' Lloyd iterations, TF-IDF's term-count staging,
  * the merge sink's read/overwrite fence; and relations read more than
  * once, computed once: the banded MinHash signature rows of
  * `Dedup.minHashPairs` and the SimHash signatures of
  * `Dedup.simHashPairs`, each ahead of its band self-join).
  *
  * Default is `localCheckpoint` — blocks cached on this JVM's
  * executors, the right cost on a single box. Setting
  * `graft.checkpointDir` (SQL conf or --conf at submit) swaps every
  * site to a RELIABLE checkpoint in that directory: on a real cluster
  * local checkpoint blocks die with their executor and any retried
  * stage then recomputes the full lineage (or fails outright for a
  * truncated one), while a reliable checkpoint survives executor loss
  * — the documented "swap on a real cluster" knob, made one config.
  */
object Checkpoints {

  val ConfKey = "graft.checkpointDir"

  /** Truncate `df`'s lineage: reliable checkpoint when
    * [[ConfKey]] is set, local checkpoint otherwise. Eager in both
    * modes (call sites fence subsequent reads/overwrites on the
    * materialization). */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        // setCheckpointDir appends a per-SparkContext UUID subdir, so
        // "already set" is the only cheap idempotence check available.
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        // Persist first (the RDD.checkpoint-documented pattern): the
        // eager action AND the checkpoint file write both consume the
        // plan — unpersisted, each truncation point would recompute its
        // full lineage twice.
        df.persist()
        try df.checkpoint(eager = true) finally df.unpersist()
      case None => df.localCheckpoint(eager = true)
    }
  }
}
