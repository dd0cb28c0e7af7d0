package graft.streaming

import graft.ops.{Materialize, QualityModel}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming deploy face of the in-engine quality classifier
  * ([[graft.ops.QualityModel]]): document micro-batches are scored
  * against a PERSISTED (feature, w) weight relation, every (doc_id,
  * score, pred) is appended to an audit directory, and documents at or
  * above `minScore` are appended to the kept corpus — the
  * `foreachBatch`-vs-stored-model shape of [[NearDupIngest]] and
  * [[DeconIngest]], completing the family symmetry (train once in
  * batch, serve forever on the stream).
  *
  * The weights are re-read from `weightsDir` every micro-batch (a
  * dim-bounded parquet — the read is trivially cheap): retraining just
  * overwrites the directory and the NEXT batch picks the new model up,
  * no stream restart. Per-doc scores are independent, so stream
  * results equal batch scoring of the union exactly (spec-pinned).
  *
  * Delivery contract: at-least-once, same as the other ingest faces —
  * replays append duplicate (doc_id, score) rows; both sinks are
  * append-grown tables whose readers dedup by id when exactness
  * matters. Score rows are stamped with the micro-batch `epoch_id` at
  * write time: when an at-least-once replay spans a weights retrain
  * the store holds two genuinely different (doc_id, score) rows, and
  * the epoch stamp is what lets [[compact]] keep one DETERMINISTICALLY
  * (min-provenance — the [[WindowCountsIngest.compact]] convention)
  * instead of freezing whichever row `dropDuplicates` happened to hit.
  */
object ScoringIngest {

  def start(docs: DataFrame, weightsDir: String, scoresDir: String,
            keptDir: String, checkpointDir: String, dim: Int = 64,
            minScore: Double = 0.5, idCol: String = "doc_id",
            textCol: String = "text"): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], epoch: Long) =>
        ingestBatch(batch, weightsDir, scoresDir, keptDir, dim, minScore,
          idCol, textCol, epoch)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  def ingestBatch(batch: DataFrame, weightsDir: String, scoresDir: String,
                  keptDir: String, dim: Int, minScore: Double,
                  idCol: String, textCol: String,
                  epoch: Long = 0L): Unit = {
    val spark = batch.sparkSession
    val w = spark.read.parquet(weightsDir)
    // one materialization for the two sinks
    val scored = QualityModel.scoreHashedLogReg(batch, idCol, textCol, w, dim)
      .transform(Materialize.sharedNow)
    Materialize.withPersisted(scored) {
      scored.withColumn("epoch_id", lit(epoch))
        .write.mode("append").parquet(scoresDir)
      batch.join(scored.filter(col("score") >= minScore).select(col(idCol)),
          Seq(idCol), "left_semi")
        .write.mode("append").parquet(keptDir)
    }
  }

  /** Per-doc score relation, replay-deduped the way [[compact]]
    * finalizes it: one row per document, the min-(epoch_id, score)
    * delivery kept — deterministic even when a replay spanned a
    * weights retrain.
    */
  def scores(spark: org.apache.spark.sql.SparkSession,
             scoresDir: String, idCol: String = "doc_id"): DataFrame =
    dedupScores(spark.read.parquet(scoresDir), idCol)

  private def dedupScores(raw0: DataFrame, idCol: String): DataFrame = {
    // stores written before the epoch stamp existed read as epoch 0 —
    // their rows are all same-weights replays, so any deterministic
    // choice is exact and min-(0, score) picks the lowest score
    val raw =
      if (raw0.columns.contains("epoch_id")) raw0
      else raw0.withColumn("epoch_id", lit(0L))
    raw.groupBy(col(idCol))
      .agg(min(struct(col("epoch_id"), col("score"), col("pred")))
        .as("kept"))
      .select(col(idCol), col("kept.score").as("score"),
        col("kept.pred").as("pred"), col("kept.epoch_id").as("epoch_id"))
  }

  /** Store hygiene (the family-wide compact face): rewrite both sinks
    * to one row per document — the documented reader dedup key —
    * through the atomic swap. The score sink keeps the
    * min-(epoch_id, score) row per document: a plain same-weights
    * replay carries identical (epoch_id, score) and collapses exactly,
    * while a replay that spanned a weights RETRAIN (two genuinely
    * different score rows for one doc) resolves to the earliest
    * delivery deterministically rather than leaving the choice to
    * `dropDuplicates` row order.
    *
    * r21 (ADVICE r20): the kept sink is now reconciled against the
    * SURVIVING score rows, not merely id-deduped — a doc admitted to
    * keptDir because its later-epoch score passed `minScore` is REMOVED
    * when its canonical (min-epoch) compacted score is below the cut,
    * so the two sinks can never permanently disagree about corpus
    * membership after a retrain-spanning replay. `minScore` must match
    * the ingest's gate (both default 0.5). Membership identity: a doc
    * whose min-epoch score passed was written to keptDir by that very
    * batch, so {kept} ∩ {surviving >= minScore} = {surviving >=
    * minScore} — the reconcile only ever drops later-epoch strays.
    * Quiesce contract as family-wide: run with the ingest stopped
    * ([[Stores.compactDedup]]).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, scoresDir: String,
              keptDir: String, idCol: String = "doc_id",
              minScore: Double = 0.5): Unit = {
    if (Stores.hasParquet(spark, scoresDir)) {
      // snapshot the surviving rows BEFORE the swap invalidates the
      // files the plan reads
      val surviving = dedupScores(spark.read.parquet(scoresDir), idCol)
        .transform(Materialize.writeOnce)
      graft.pipeline.Pipeline.atomicOverwrite(spark, surviving, scoresDir)
      if (Stores.hasParquet(spark, keptDir)) {
        val kept = spark.read.parquet(keptDir).dropDuplicates(idCol)
          .join(surviving.filter(col("score") >= minScore)
            .select(col(idCol)), Seq(idCol), "left_semi")
        graft.pipeline.Pipeline.atomicOverwrite(spark, kept, keptDir)
      }
    } else Stores.compactDedup(spark, keptDir, Seq(idCol))
  }

}
