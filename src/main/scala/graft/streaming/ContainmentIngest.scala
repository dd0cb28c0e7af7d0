package graft.streaming

import graft.ops.{Dedup, Materialize}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the EXACT containment join
  * ([[graft.ops.Dedup.containmentSelfPairs]]) — the zero-false-negative
  * sibling of the anchor-blocked [[QuoteIngest]], same
  * foreachBatch-vs-persistent-index shape as [[SetSimIngest]]. Each
  * micro-batch runs [[graft.ops.Dedup.containmentIncremental]] against
  * the accumulated document store (which covers new-in-old, old-in-new
  * AND new-in-new — containment is direction-sensitive, so both
  * blocking legs matter) and appends the verified pairs; then the
  * batch's documents join the store.
  *
  * State posture: the store is the plain (id, text) document table —
  * what exact containment verification needs anyway; prefixes and the
  * vocabulary order are recomputed per ingest from the accumulated
  * corpus (any total order is lemma-valid; a production deployment
  * persisting prefix rows under a pinned order is the same operator
  * with a cheaper probe — the [[SetSimIngest]] contract).
  *
  * Delivery contract: at-least-once — pair rows are immutable facts
  * keyed by the unordered id pair, so [[pairs]] dedups on read; the
  * (id, id) self-pair dies on id inequality inside the incremental
  * operator, and its verify reads one sorted-token row per document,
  * so a replay can never shift a pair's containment values.
  */
object ContainmentIngest {

  def start(docs: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, idCol: String, textCol: String,
            threshold: Double, k: Int = 3,
            maxBucketSize: Int = 0): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ingestBatch(batch, indexDir, pairsDir, idCol, textCol, threshold,
          k, maxBucketSize)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One ingest step (also directly usable from a batch scheduler). */
  def ingestBatch(batch: DataFrame, indexDir: String, pairsDir: String,
                  idCol: String, textCol: String, threshold: Double,
                  k: Int = 3, maxBucketSize: Int = 0): Unit = {
    val spark = batch.sparkSession
    // materialize before the index read below can race it
    val recs = batch.select(col(idCol), col(textCol))
      .transform(Materialize.sharedNow)
    Materialize.withPersisted(recs) {
      val old =
        if (Stores.hasParquet(spark, indexDir)) spark.read.parquet(indexDir)
        else recs.limit(0)
      Dedup.containmentIncremental(old, recs, idCol, threshold, textCol,
          k, maxBucketSize)
        .write.mode("append").parquet(pairsDir)
      recs.write.mode("append").parquet(indexDir)
    }
  }

  /** The accumulated verified pairs, replay-deduped — equal to the
    * batch [[graft.ops.Dedup.containmentSelfPairs]] over everything
    * ingested so far.
    */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
      .dropDuplicates("doc_a", "doc_b")

  /** Store hygiene (the family-wide compact face): rewrite both stores
    * to their read-side replay-dedup fixpoints through the atomic swap
    * ([[Stores.compactDedup]]) — replayed deliveries and append-file
    * fragmentation collapse; reads before and after see the same
    * relations.
    */
  def compact(spark: SparkSession, indexDir: String, pairsDir: String,
              idCol: String): Unit = {
    Stores.compactDedup(spark, indexDir, Seq(idCol))
    Stores.compactDedup(spark, pairsDir, Seq("doc_a", "doc_b"))
  }

}
