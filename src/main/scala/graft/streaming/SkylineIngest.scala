package graft.streaming

import graft.ops.{Aggregations, Materialize}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the 2D skyline ([[graft.ops.Aggregations.skyline2D]]):
  * maintain the pareto frontier of everything ingested. The algebraic
  * property doing the work is the skyline's MONOTONE DECOMPOSITION,
  * skyline(A ∪ B) = skyline(skyline(A) ∪ B) — a point dominated inside A
  * is transitively dominated by some member of skyline(A), so dropping
  * it early never changes the answer. The persisted state is therefore
  * the FRONTIER ONLY (typically orders of magnitude smaller than the
  * corpus: expected O(log² n) points for independent dims), and each
  * micro-batch recomputes the skyline of (frontier ∪ batch) — a
  * frontier-plus-batch-sized job regardless of how much history was
  * ingested, written through the atomic swap (the frontier SHRINKS when
  * a new point dominates old members, so append semantics are wrong).
  *
  * Delivery contract: at-least-once — a replayed row is an exact
  * duplicate, and the id-dedup before the skyline keeps equal points
  * single while the skyline itself keeps distinct-id ties alive
  * together (same contract as the batch operator).
  */
object SkylineIngest {

  def start(rows: DataFrame, frontierDir: String, checkpointDir: String,
            idCol: String, xCol: String, yCol: String): StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ingestBatch(batch, frontierDir, idCol, xCol, yCol)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One ingest step (also directly usable from a batch scheduler). */
  def ingestBatch(batch: DataFrame, frontierDir: String, idCol: String,
                  xCol: String, yCol: String): Unit = {
    val spark = batch.sparkSession
    val recs = batch.select(idCol, xCol, yCol)
    val old =
      if (Stores.hasParquet(spark, frontierDir)) spark.read.parquet(frontierDir)
      else recs.limit(0)
    val next = Aggregations.skyline2D(
        old.unionByName(recs).dropDuplicates(idCol), xCol, yCol)
      .transform(Materialize.writeOnce) // cut lineage before the swap overwrites the input
    graft.pipeline.Pipeline.atomicOverwrite(spark, next, frontierDir)
  }

  /** The current frontier — equal to the batch skyline over everything
    * ingested so far.
    */
  def frontier(spark: SparkSession, frontierDir: String): DataFrame =
    spark.read.parquet(frontierDir)

}
