package graft.streaming

import graft.ops.{Dedup, Materialize}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the EXACT WEIGHTED containment join
  * ([[graft.ops.Dedup.weightedContainmentPairs]]) — the multiset
  * sibling of [[ContainmentIngest]]: repetition must be COVERED, not
  * just present, so a templated-spam page streaming in is flagged only
  * when its repeated boilerplate weight is matched. Each micro-batch
  * runs [[graft.ops.Dedup.weightedContainmentIncremental]] against the
  * accumulated document store (both blocking legs: containment is
  * direction-sensitive and either side of a cross pair can be the
  * contained one) and appends the verified pairs; then the batch's
  * documents join the store.
  *
  * State and delivery contracts are [[WeightedSetSimIngest]]'s: plain
  * (id, text) store, at-least-once appends, [[pairs]] dedups on read,
  * replay-proof verify (one weight row / weight sum per document
  * inside the incremental operator).
  */
object WeightedContainmentIngest {

  def start(docs: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, idCol: String, textCol: String,
            threshold: Double, k: Int = 1,
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
                  k: Int = 1, maxBucketSize: Int = 0): Unit = {
    val spark = batch.sparkSession
    // store schema normalized to (doc_id, text) — the QuoteIngest
    // convention, so purge's doc_id key matches ANY caller idCol
    // materialize before the index read below can race it
    val recs = batch.select(col(idCol).as("doc_id"),
        col(textCol).as("text"))
      .transform(Materialize.sharedNow)
    Materialize.withPersisted(recs) {
      val old =
        if (Stores.hasParquet(spark, indexDir)) spark.read.parquet(indexDir)
        else recs.limit(0)
      Dedup.weightedContainmentIncremental(old, recs, "doc_id", threshold,
          "text", k, maxBucketSize)
        .write.mode("append").parquet(pairsDir)
      recs.write.mode("append").parquet(indexDir)
    }
  }

  /** The accumulated verified pairs, replay-deduped — equal to the
    * batch [[graft.ops.Dedup.weightedContainmentPairs]] over everything
    * ingested so far.
    */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
      .dropDuplicates("doc_a", "doc_b")

  /** Right-to-be-forgotten over both stores (document store by doc_id,
    * pairs by either side), each rewritten through the atomic swap.
    * Returns rows removed per path.
    */
  def purge(spark: SparkSession, ids: DataFrame, indexDir: String,
            pairsDir: String): Map[String, Long] =
    NearDupIngest.purge(spark, ids,
      pairsDirs = Seq(pairsDir), docsDirs = Seq(indexDir))

  /** Store hygiene (the family-wide compact face): rewrite both stores
    * to their read-side replay-dedup fixpoints through the atomic swap
    * ([[Stores.compactDedup]]) — replayed deliveries and append-file
    * fragmentation collapse; reads before and after see the same
    * relations.
    */
  def compact(spark: SparkSession, indexDir: String,
              pairsDir: String): Unit = {
    Stores.compactDedup(spark, indexDir, Seq("doc_id"))
    Stores.compactDedup(spark, pairsDir, Seq("doc_a", "doc_b"))
  }

}
