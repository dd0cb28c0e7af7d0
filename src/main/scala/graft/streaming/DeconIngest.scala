package graft.streaming

import graft.ops.{Dedup, Materialize, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming benchmark decontamination: the ingestion-time face of
  * [[graft.ops.TextAnalysis.decontaminate]]. Each micro-batch of
  * documents is word-n-gram-shingled and checked against a PERSISTENT
  * benchmark gram index (an ordinary parquet table, built once from the
  * eval suites and extended as new benchmarks land); clean rows append
  * to the release corpus, flagged rows append to an audit table with
  * their overlap counts.
  *
  * Scale posture: the gram index is benchmark-sized (MBs) by definition
  * and is broadcast per batch, so every micro-batch pays one map-side
  * pass over its own documents — no corpus state, no shuffle of text,
  * no growth in per-batch cost as the released corpus accumulates.
  *
  * Delivery contract: `foreachBatch` is at-least-once for plain-file
  * sinks — a retried batch can append its clean rows and audit rows
  * twice. Both tables are keyed by document id (dedup on read or a
  * transactional sink upgrades to exactly-once without logic changes),
  * mirroring [[NearDupIngest]]'s contract.
  */
object DeconIngest {

  /** Build or extend the benchmark gram index: the DISTINCT word n-grams
    * of `benchmark` appended to `indexDir`. Append-grown across calls as
    * benchmark suites accrete; readers collapse duplicates
    * ([[graft.ops.TextAnalysis.contaminationReportIndexed]] applies
    * `distinct`), so re-registering a benchmark is harmless.
    */
  def writeBenchIndex(benchmark: DataFrame, indexDir: String,
                      idCol: String = "doc_id", textCol: String = "text",
                      n: Int = 8): Unit =
    Dedup.shingleRows(benchmark, idCol, textCol, n)
      .select(col("s")).distinct()
      .write.mode("append").parquet(indexDir)

  /** Start the decontamination stream: `docs` must carry `idCol` +
    * `textCol`. Clean rows append to `cleanDir`; flagged (doc_id,
    * n_overlap) audit rows append to `flaggedDir`. The gram index at
    * `benchIndexDir` must exist before the first batch (decontamination
    * without a benchmark is a configuration error, not an empty set —
    * failing fast beats silently releasing everything).
    */
  def start(docs: DataFrame, benchIndexDir: String, cleanDir: String,
            flaggedDir: String, checkpointDir: String,
            idCol: String = "doc_id", textCol: String = "text",
            n: Int = 8): StreamingQuery = {
    // fail BEFORE the stream starts, not lazily inside the first batch's
    // foreachBatch thread where the error surfaces as an opaque query
    // termination
    require(Stores.hasParquet(docs.sparkSession, benchIndexDir),
      s"benchmark gram index not found at $benchIndexDir — build it with " +
        "DeconIngest.writeBenchIndex before starting the stream " +
        "(decontamination without a benchmark would silently release everything)")
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ingestBatch(batch, benchIndexDir, cleanDir, flaggedDir, idCol,
          textCol, n)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }


  /** One decontamination step (also directly usable from a batch
    * scheduler): flag the batch against the stored gram index, append
    * the audit rows, append the clean remainder.
    */
  def ingestBatch(batch: DataFrame, benchIndexDir: String, cleanDir: String,
                  flaggedDir: String, idCol: String, textCol: String,
                  n: Int): Unit = {
    val spark = batch.sparkSession
    val benchGrams = spark.read.parquet(benchIndexDir)
    // flagged is contamination-sized: one eager materialization feeds
    // both the audit append and the anti-join broadcast (the same
    // eager-flagged discipline as the batch operator)
    val flagged = TextAnalysis.contaminationReportIndexed(
      batch, benchGrams, idCol, textCol, n).transform(Materialize.writeOnce)
    flagged.write.mode("append").parquet(flaggedDir)
    val flaggedIds = flagged.select(col("doc_id"))
    batch.join(broadcast(flaggedIds),
        batch(idCol) === flaggedIds("doc_id"), "left_anti")
      .write.mode("append").parquet(cleanDir)
  }

  // ---- embedding-space face (r14) -----------------------------------

  /** Build or extend the benchmark EMBEDDING index — the semantic
    * analogue of [[writeBenchIndex]] for
    * [[graft.ops.Similarity.embeddingContaminationReport]]'s rung:
    * (vec_id, embedding) rows appended as benchmark suites accrete.
    * Re-registration is harmless (readers collapse duplicate ids).
    */
  def writeBenchEmbIndex(benchmark: DataFrame, indexDir: String): Unit =
    benchmark.select(col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id")
      .write.mode("append").parquet(indexDir)

  /** Start the embedding-decontamination stream: each micro-batch of
    * (vec_id, embedding) rows is cosine-checked against the persistent
    * benchmark embedding index (benchmark-sized, broadcast per batch —
    * the [[ingestBatch]] posture exactly: no corpus state, per-batch
    * cost flat as the release accumulates). Clean rows append to
    * `cleanDir`; flagged (vec_id, bench_id, cosine, n_matches) audit
    * rows to `flaggedDir`.
    */
  def startEmbedding(vecs: DataFrame, benchIndexDir: String,
                     cleanDir: String, flaggedDir: String,
                     checkpointDir: String,
                     threshold: Double): StreamingQuery = {
    require(Stores.hasParquet(vecs.sparkSession, benchIndexDir),
      s"benchmark embedding index not found at $benchIndexDir — build it " +
        "with DeconIngest.writeBenchEmbIndex before starting the stream")
    vecs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ingestEmbeddingBatch(batch, benchIndexDir, cleanDir, flaggedDir,
          threshold)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** One embedding-decon step (also directly usable from a batch
    * scheduler): report the batch against the stored benchmark
    * embeddings, append the audit rows, append the clean remainder.
    */
  def ingestEmbeddingBatch(batch: DataFrame, benchIndexDir: String,
                           cleanDir: String, flaggedDir: String,
                           threshold: Double): Unit = {
    val spark = batch.sparkSession
    val bench = spark.read.parquet(benchIndexDir).dropDuplicates("vec_id")
    val flagged = graft.ops.Similarity.embeddingContaminationReport(
      batch, bench, threshold).transform(Materialize.writeOnce)
    flagged.write.mode("append").parquet(flaggedDir)
    val flaggedIds = flagged.select(col("vec_id").as("__flag_id"))
    batch.join(broadcast(flaggedIds),
        batch("vec_id") === col("__flag_id"), "left_anti")
      .write.mode("append").parquet(cleanDir)
  }

  /** Compact the append-grown benchmark embedding index (duplicate-id
    * collapse + file-count reset; [[compactBenchIndex]]'s contract).
    */
  def compactBenchEmbIndex(spark: SparkSession, indexDir: String,
                           numFiles: Int): Unit =
    graft.pipeline.Pipeline.atomicOverwrite(spark,
      spark.read.parquet(indexDir).dropDuplicates("vec_id")
        .repartition(numFiles),
      indexDir)

  /** Compact the append-grown gram index (thousands of micro-appends →
    * `numFiles`), collapsing accumulated duplicate grams in the same
    * pass. Same atomic-swap and concurrency contract as
    * [[NearDupIngest.compactTable]].
    */
  def compactBenchIndex(spark: SparkSession, indexDir: String,
                        numFiles: Int): Unit =
    graft.pipeline.Pipeline.atomicOverwrite(spark,
      spark.read.parquet(indexDir).distinct().repartition(numFiles),
      indexDir)
}
