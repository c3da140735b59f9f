package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Eval

/** CONTINUOUS distribution-drift detection: the per-trigger companion
  * to the batch two-sample KS gate (`q_ks_test`). The production
  * deployment of a drift test is not one batch run — it watches a
  * live feed (classifier scores, order values, token counts) against
  * a frozen reference sample and alerts when the incoming window's
  * distribution walks away.
  *
  * Recipe (the [[StreamingCusum]] pattern, applied at the relation
  * level): the reference sample is a STATIC relation; every micro
  * batch is unioned with it inside `foreachBatch` and handed to the
  * exact batch operator [[Eval.ksTest]] — so the streamed statistic
  * is BY CONSTRUCTION the batch statistic of (that trigger's rows vs
  * the reference), bit for bit; StreamingKsSpec pins it across uneven
  * trigger splits. No new math enters the streaming path — the same
  * two-phase prefix scan runs per trigger.
  *
  * Scale shape: the reference relation is scanned once per trigger
  * (persist it for a long-running monitor); the per-trigger work is
  * ksTest's — one map-side-combinable group-by on the value plus the
  * distributed prefix scan over |distinct values| rows. State across
  * triggers lives entirely in the sink (one row per trigger), so a
  * restart replays cleanly from the checkpoint with zero operator
  * state.
  */
object StreamingKs {

  /** One KS row per micro-batch: (batch_id, n_a, n_b, ks_num, ks_den,
    * ks, drift) where side A is the incoming trigger window, side B
    * the reference, and drift = ks > threshold. Empty triggers emit
    * nothing (ksTest's empty-input contract). The caller starts the
    * returned writer (choose sink/checkpoint/trigger there).
    */
  def ksPerTrigger(stream: DataFrame, value: String, reference: DataFrame,
      refValue: String, threshold: Double,
      onBatch: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    val ref = reference.select(col(refValue).cast("long").as("_v"),
      lit(false).as("_is_a"))
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // an empty trigger has no distribution to test — emit nothing
      // (the union with the reference would otherwise yield a
      // degenerate n_a = 0 row with a NULL statistic)
      if (!batch.isEmpty) {
        val both = batch.select(col(value).cast("long").as("_v"),
          lit(true).as("_is_a")).unionByName(ref)
        val stat = Eval.ksTest(both, col("_v"), col("_is_a"))
          .withColumn("batch_id", lit(batchId))
          .withColumn("drift",
            coalesce(col("ks") > lit(threshold), lit(false)))
        onBatch(stat)
      }
      ()
    }
  }
}
