package graft.streaming

import graft.ops.Materialize
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the Markov transition matrix (`events_markov`) —
  * continuously maintained per-user event-sequence transition counts.
  *
  * The hard part is the epoch BOUNDARY: the last event of a user's
  * batch N pairs with their first event of batch N+1, a transition
  * neither batch sees alone. Each epoch therefore persists TWO
  * epoch-keyed relations:
  *  - `trans`: within-epoch transition partials (additive counts);
  *  - `edges`: per user, the FIRST and LAST event of the epoch by
  *    (event time, event_id), plus the epoch's per-user min/max
  *    timestamps.
  * [[report]] merges the within-epoch counts with the stitched
  * boundary transitions (each user's last-of-epoch-e → first-of-epoch-
  * e', for consecutive epochs e < e' in which the user appears).
  *
  * Contract (stated loudly, the `LineDedupIngest` prefix-semantics
  * convention): ingestion must be EVENT-TIME ORDERED PER USER across
  * epochs — every event of a user's later epoch carries a timestamp
  * at or after all of the user's earlier epochs. Under that contract
  * the stitched result equals the batch operator over everything
  * ingested, bit-for-bit. [[orderViolations]] is the audit face: it
  * returns every (user, epoch pair) whose time ranges overlap — run it
  * before trusting a report on a stream that might violate the
  * contract (the report itself stays deterministic either way; it just
  * no longer matches the batch ordering).
  *
  * Replay safety: both relations are deterministic functions of batch
  * content, epoch-keyed; [[report]] collapses duplicates before
  * summing (the `IvmIngest` pattern).
  */
object MarkovIngest {

  def start(events: DataFrame, storeDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], epoch: Long) =>
        ingestBatch(batch, storeDir, epoch)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** `batch` needs (user_id, event_id, event_type, ts). */
  def ingestBatch(batch: DataFrame, storeDir: String, epochId: Long): Unit = {
    val ev = batch.select(col("user_id"), col("event_id"),
        col("event_type"), unix_timestamp(col("ts")).as("tsec"))
      .transform(Materialize.writeOnce)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec"), col("event_id"))
    ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(s"$storeDir/trans")
    ev.groupBy(col("user_id"))
      .agg(min(struct(col("tsec"), col("event_id"), col("event_type")))
          .as("__f"),
        max(struct(col("tsec"), col("event_id"), col("event_type")))
          .as("__l"))
      .select(col("user_id"),
        col("__f.event_type").as("first_type"),
        col("__l.event_type").as("last_type"),
        col("__f.tsec").as("min_tsec"), col("__l.tsec").as("max_tsec"))
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(s"$storeDir/edges")
  }

  private def edges(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(s"$storeDir/edges")
      .dropDuplicates("epoch_id", "user_id")

  /** The maintained transition matrix `(from_type, to_type, n, p)` —
    * within-epoch partials plus the stitched boundaries. Equals the
    * batch `events_markov` rule over everything ingested when the
    * ordered-ingestion contract holds.
    */
  def report(spark: SparkSession, storeDir: String): DataFrame = {
    val within = spark.read.parquet(s"$storeDir/trans")
      .dropDuplicates("epoch_id", "from_type", "to_type")
      .groupBy(col("from_type"), col("to_type")).agg(sum(col("n")).as("n"))
    // stitch: per user, order epochs; last_type of epoch k pairs with
    // first_type of epoch k+1 (epochs a user skips are skipped over —
    // hence the rank, not the raw epoch id)
    val e = edges(spark, storeDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_id"))
    val stitched = e
      .withColumn("next_first", lead(col("first_type"), 1).over(w))
      .filter(col("next_first").isNotNull)
      .groupBy(col("last_type").as("from_type"),
        col("next_first").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val trans = within.unionByName(stitched)
      .groupBy(col("from_type"), col("to_type")).agg(sum(col("n")).as("n"))
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from"), 6).as("p"))
  }

  /** Store hygiene (the [[ActivityIngest.compactKeys]] convention):
    * rewrite both stores to their replay-dedup fixpoints through the
    * atomic swap. Epoch structure is preserved in BOTH: `trans`
    * partials are additive (the cross-epoch-fold double-count trap),
    * and `edges` rows feed the consecutive-epoch stitch, whose
    * pairing — and the [[orderViolations]] audit — reads the per-epoch
    * ranges. The edges store is the O(users × epochs) one; a full fold
    * (one boundary row per user) would need a write-side epoch
    * watermark to stay replay-safe — a different ingest contract,
    * documented here rather than silently assumed.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    graft.pipeline.Pipeline.atomicOverwrite(spark,
      spark.read.parquet(s"$storeDir/trans")
        .dropDuplicates("epoch_id", "from_type", "to_type"),
      s"$storeDir/trans")
    graft.pipeline.Pipeline.atomicOverwrite(spark,
      spark.read.parquet(s"$storeDir/edges")
        .dropDuplicates("epoch_id", "user_id"),
      s"$storeDir/edges")
  }

  /** The contract audit: per user, every pair of CONSECUTIVE epochs
    * whose event-time ranges are out of order (later epoch starts
    * before the earlier one ended) — nonempty means [[report]] no
    * longer matches the batch ordering for those users.
    */
  def orderViolations(spark: SparkSession, storeDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_id"))
    edges(spark, storeDir)
      .withColumn("next_min", lead(col("min_tsec"), 1).over(w))
      .withColumn("next_epoch", lead(col("epoch_id"), 1).over(w))
      // <= not <: an EQUAL timestamp across the boundary is also a
      // violation — the batch rule breaks that tie on event_id, which
      // the stitch cannot see, so the conservative audit flags it
      .filter(col("next_min").isNotNull &&
        col("next_min") <= col("max_tsec"))
      .select(col("user_id"), col("epoch_id"), col("next_epoch"),
        col("max_tsec"), col("next_min"))
  }
}
