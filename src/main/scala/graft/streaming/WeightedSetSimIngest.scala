package graft.streaming

import graft.ops.{Dedup, Materialize}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the EXACT WEIGHTED set-similarity join
  * ([[graft.ops.Dedup.weightedSetSimilarityPairs]]) — the multiset
  * sibling of [[SetSimIngest]], same foreachBatch-vs-persistent-index
  * shape. Each micro-batch runs
  * [[graft.ops.Dedup.weightedSetSimilarityIncremental]] against the
  * accumulated document store (new-vs-old plus the new-vs-new self
  * leg) and appends the verified pairs; then the batch's documents
  * join the store. Every unordered pair with weighted Jaccard
  * Σ min(tf) / Σ max(tf) ≥ threshold is emitted at least once.
  *
  * State posture: the store is the plain (id, text) document table —
  * what exact weighted verification needs anyway; term frequencies and
  * the vocabulary order are recomputed per ingest from the accumulated
  * corpus (ANY total order satisfies the weighted prefix lemma, so a
  * deployment persisting weighted prefix rows under a pinned order is
  * the same operator with a cheaper probe — the [[SetSimIngest]]
  * contract, stated on the batch operator).
  *
  * Delivery contract: at-least-once — pair rows are immutable facts
  * keyed by the unordered id pair, so [[pairs]] dedups on read; the
  * (id, id) self-pair dies on id inequality inside the incremental
  * operator, and its verify reads one (doc, token) weight row and one
  * weight sum per document (replay-deduped inside the operator), so a
  * replay can never shift a pair's weighted Jaccard.
  */
object WeightedSetSimIngest {

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
      Dedup.weightedSetSimilarityIncremental(old, recs, "doc_id", threshold,
          "text", k, maxBucketSize)
        .write.mode("append").parquet(pairsDir)
      recs.write.mode("append").parquet(indexDir)
    }
  }

  /** The accumulated verified pairs, replay-deduped — equal to the
    * batch [[graft.ops.Dedup.weightedSetSimilarityPairs]] over
    * everything ingested so far.
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
