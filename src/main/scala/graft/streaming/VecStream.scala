package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.queries.VecIndex

/** Always-on vector-index maintenance: the streaming form of
  * [[graft.queries.VecIndex.append]].
  *
  * The cluster shape this demonstrates is the one a production embedding
  * store runs: the index is TRAINED once (codebooks/centroids frozen),
  * and arriving vectors are folded in continuously — each micro-batch is
  * an assignment + PQ-encode job against the frozen driver-local
  * artifacts, never a training job. `foreachBatch` is the standard
  * Structured Streaming pattern for maintaining an external artifact
  * (the index) from a stream.
  *
  * Determinism: assignment against frozen centroids is a pure function of
  * the vector, so the final index content is independent of micro-batch
  * boundaries and arrival order — the spec pins it row-identical to the
  * batch build. */
object VecStream {

  /** Hold out every `holdMod`-th vector as the "arriving" stream: install
    * the reduced index (same frozen artifacts), stream the holdout in
    * through foreachBatch appends, and return the maintained index's
    * per-list occupancy — identical to the batch build's. */
  def streamingIndexAppend(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val holdMod = 4
    // train-once artifacts (builds if absent); the "already indexed"
    // corpus is everything outside the holdout. replace() swaps the
    // installed generation and frees the displaced frames' storage.
    val full = VecIndex.coarse(spark, sfDir)
    val fullPq = VecIndex.pq(spark, sfDir)
    VecIndex.replace(spark, sfDir,
      VecIndex.Coarse(full.cent,
        full.lists.filter(col("vec_id") % holdMod =!= 0).localCheckpoint(true)),
      VecIndex.Pq(fullPq.codebooks,
        fullPq.codes.filter(col("vec_id") % holdMod =!= 0).localCheckpoint(true)))
    // the holdout arrives as a stream; each micro-batch appends against
    // the frozen artifacts (no training jobs in the hot path)
    val arriving = FlowStream.tableStream(spark, sfDir, "embeddings")
      .filter(col("vec_id") % holdMod === 0)
      .select(col("vec_id"), col("embedding"))
    val q = arriving.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // rebase the micro-batch onto the outer session (foreachBatch hands
        // an isolated session; append combines it with the installed frames)
        VecIndex.append(spark, sfDir, spark.createDataFrame(batch.rdd, batch.schema))
      }
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the maintained index: per-list occupancy (deterministic assignment
    // against frozen centroids ⇒ row-identical to the batch build)
    VecIndex.coarse(spark, sfDir).lists
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("list_id").cast("long").as("list_id"), col("n_vecs"))
  }
}
