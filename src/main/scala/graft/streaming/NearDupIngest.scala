package graft.streaming

import graft.ops.{Dedup, Materialize, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming near-dup ingestion: the streaming face of fuzzy dedup. Each
  * micro-batch of documents is MinHash-banded and LSH-joined against a
  * PERSISTENT band-index table (plus batch-internal), then appended to
  * that index — so the near-dup candidate set grows with the corpus while
  * every batch pays only O(batch x bucket density), never a corpus
  * self-join. This is `foreachBatch` driving
  * [[graft.ops.Dedup.incrementalLshCandidates]]'s join shape with the
  * index side read from storage instead of recomputed.
  *
  * State posture: there is NO Spark streaming state at all — the index is
  * an ordinary parquet table (at production scale: bucketed by `sig`, on
  * a transactional table format), so state is storage-bounded, survives
  * restarts, and is shared by the batch operators
  * ([[graft.ops.Dedup.bandIndex]] produces the identical relation).
  *
  * Delivery contract: `foreachBatch` is at-least-once for plain-file
  * sinks — a retried batch can append its band rows and pairs twice.
  * Candidate pairs are a SET (downstream verification dedups via
  * `distinct`, as [[graft.ops.Dedup.jaccardVerify]] already does), and
  * duplicate index rows only produce duplicate candidates, never wrong
  * ones; a transactional sink upgrades this to exactly-once without
  * touching the logic.
  */
object NearDupIngest {

  /** Start the ingestion stream: `docs` must carry `idCol` + `textCol`.
    * Candidate pairs (doc_a, doc_b) are appended to `pairsDir`; the band
    * index accumulates in `indexDir`. `maxBucketSize` > 0 arms the
    * combined-count hot-bucket backstop per ingest (the streaming face of
    * the same hazard: a flood arriving over many micro-batches makes the
    * INDEX side of the bucket hot) — capped documents still enter the
    * index, they just skip candidate generation, loudly.
    */
  def start(docs: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            numHashes: Int = 16, bands: Int = 4,
            textCol: String = "text", k: Int = 3,
            maxBucketSize: Int = 0): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ingestBatch(batch, indexDir, pairsDir, idCol, numHashes, bands,
          textCol, k, maxBucketSize)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One ingest step (also directly usable from a batch scheduler): band
    * the batch, join new-vs-index and new-vs-new, append pairs, append
    * the batch's bands to the index.
    */
  def ingestBatch(batch: DataFrame, indexDir: String, pairsDir: String,
                  idCol: String, numHashes: Int, bands: Int,
                  textCol: String, k: Int, maxBucketSize: Int = 0): Unit = {
    val spark = batch.sparkSession
    val bNew = Dedup.bandIndex(batch, idCol, numHashes, bands, textCol, k)
      .transform(Materialize.sharedNow)
    Materialize.withPersisted(bNew) {
      val bOld =
        if (Stores.hasParquet(spark, indexDir)) spark.read.parquet(indexDir)
        else bNew.limit(0) // first batch: intra-only
      Dedup.incrementalLshCandidatesIndexed(bOld, bNew, maxBucketSize)
        .write.mode("append").parquet(pairsDir)
      bNew.write.mode("append").parquet(indexDir)
    }
  }

  /** Right-to-be-forgotten purge across a near-dup deployment's
    * persisted stores: drop every index row, pair row and stored
    * document referencing any of `ids` (a one-column relation of doc
    * ids), each store rewritten through the atomic swap
    * ([[graft.pipeline.Pipeline.purgeIds]]). After the purge the
    * stores are indistinguishable from a deployment that NEVER
    * ingested those documents: future batches cannot pair against
    * them, reports cannot mention them, and re-ingesting a copy of a
    * purged text is treated as brand new (spec-pinned). Returns rows
    * removed per store path.
    */
  def purge(spark: org.apache.spark.sql.SparkSession,
            ids: DataFrame,
            indexDirs: Seq[String] = Nil,
            pairsDirs: Seq[String] = Nil,
            docsDirs: Seq[String] = Nil): Map[String, Long] = {
    val byDoc = (indexDirs ++ docsDirs).map(d =>
      d -> graft.pipeline.Pipeline.purgeIds(spark, d, ids, Seq("doc_id")))
    val byPair = pairsDirs.map(d =>
      d -> graft.pipeline.Pipeline.purgeIds(spark, d, ids,
        Seq("doc_a", "doc_b")))
    (byDoc ++ byPair).toMap
  }

  /** Compact an append-grown table (band index, pairs, or document
    * store): every micro-batch appends its own small file set, so a
    * long-running ingest accumulates thousands of tiny files and each
    * batch's index read pays the listing + open cost. This rewrites the
    * table into `numFiles` files behind [[graft.pipeline.Pipeline]]'s
    * atomic swap (write to a dot-prefixed temp sibling — invisible to
    * readers — then rename), so a crash mid-compaction never surfaces a
    * half table. Returns (parquet files before, after).
    *
    * Concurrency contract: rows appended between the read and the swap
    * would be lost — run this from the ingest's own thread between
    * micro-batches (foreachBatch is serial per query) or in a
    * maintenance window, exactly like any non-transactional table
    * format. A table format with snapshot isolation removes the caveat
    * without changing the call.
    */
  def compactTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                   numFiles: Int): (Int, Int) = {
    def nFiles = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }
    val before = nFiles
    if (before > 0) {
      // the source files stay in place while the temp sibling is written,
      // so the read plan underneath the overwrite stays valid
      graft.pipeline.Pipeline.atomicOverwrite(spark,
        spark.read.parquet(dir).repartition(numFiles), dir)
    }
    (before, nFiles)
  }


  /** Verified streaming ingestion: like [[start]], but the pipeline also
    * maintains a DOCUMENT store alongside the band index and
    * exact-Jaccard-verifies every batch's candidates against it, so what
    * lands in `verifiedDir` is (doc_a, doc_b, jaccard) at or above
    * `threshold` — the full two-phase fuzzy-dedup contract at ingestion
    * time, not just candidates. Verification cost per batch is
    * O(batch candidates), corpus-independent (the store is semi-joined
    * down to documents appearing in a candidate pair before shingling).
    */
  def startVerified(docs: DataFrame, indexDir: String, docsDir: String,
                    verifiedDir: String, checkpointDir: String,
                    threshold: Double, idCol: String = "doc_id",
                    numHashes: Int = 16, bands: Int = 4,
                    textCol: String = "text", k: Int = 3,
                    maxBucketSize: Int = 0): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ingestVerifiedBatch(batch, indexDir, docsDir, verifiedDir, threshold,
          idCol, numHashes, bands, textCol, k, maxBucketSize)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  def ingestVerifiedBatch(batch: DataFrame, indexDir: String, docsDir: String,
                          verifiedDir: String, threshold: Double,
                          idCol: String, numHashes: Int, bands: Int,
                          textCol: String, k: Int,
                          maxBucketSize: Int = 0): Unit = {
    val spark = batch.sparkSession
    val batchDocs = batch.select(col(idCol), col(textCol))
    val bNew = Dedup.bandIndex(batchDocs, idCol, numHashes, bands, textCol, k)
      .transform(Materialize.sharedNow)
    Materialize.withPersisted(bNew) {
      val bOld =
        if (Stores.hasParquet(spark, indexDir)) spark.read.parquet(indexDir)
        else bNew.limit(0) // first batch: intra-only
      val cand = Dedup.incrementalLshCandidatesIndexed(bOld, bNew, maxBucketSize)
      // the verification corpus = stored docs + this batch (not yet written);
      // jaccardVerify semi-joins it down to candidate members before the
      // shingle explode, so this union is never scanned in full
      val store =
        if (Stores.hasParquet(spark, docsDir))
          spark.read.parquet(docsDir).unionByName(batchDocs)
        else batchDocs
      Dedup.jaccardVerify(store, cand, idCol, k, threshold, textCol)
        .write.mode("append").parquet(verifiedDir)
      batchDocs.write.mode("append").parquet(docsDir)
      bNew.write.mode("append").parquet(indexDir)
    }
    spark.catalog.clearCache() // release jaccardVerify's internal persists
  }

  // ---- SimHash family ----------------------------------------------------

  /** Streaming SimHash near-dup ingestion — same foreachBatch-vs-index
    * shape as [[start]], for the Hamming sketch family. The persisted
    * index rows ([[graft.ops.Dedup.simhashBandIndex]]) carry the full
    * sketch halves, so the batch-vs-index join emits VERIFIED pairs
    * (hamming <= maxHamming) directly, not just candidates.
    */
  def startSimhash(docs: DataFrame, indexDir: String, pairsDir: String,
                   checkpointDir: String, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 3,
                   maxBucketSize: Int = 0): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ingestSimhashBatch(batch, indexDir, pairsDir, idCol, textCol,
          maxHamming, maxBucketSize)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  def ingestSimhashBatch(batch: DataFrame, indexDir: String, pairsDir: String,
                         idCol: String, textCol: String, maxHamming: Int,
                         maxBucketSize: Int = 0): Unit = {
    val spark = batch.sparkSession
    val bNew = Dedup.simhashBandIndex(Dedup.simhash(batch, idCol, textCol))
      .transform(Materialize.sharedNow)
    Materialize.withPersisted(bNew) {
      val bOld =
        if (Stores.hasParquet(spark, indexDir)) spark.read.parquet(indexDir)
        else bNew.limit(0) // first batch: intra-only
      val pairs = Dedup.incrementalSimhashPairsIndexed(bOld, bNew,
        maxHamming, maxBucketSize)
      pairs.write.mode("append").parquet(pairsDir)
      bNew.write.mode("append").parquet(indexDir)
    }
  }

  // ---- Embedding family --------------------------------------------------

  /** Streaming embedding near-dup ingestion: each micro-batch of
    * (vec_id, embedding) rows is SRP-bucketed, cosine-verified against
    * the persisted [[graft.ops.Similarity.srpIndex]] (whose rows carry
    * embedding + norm, so verification is inline), and appended to it.
    */
  def startEmbedding(vecs: DataFrame, indexDir: String, pairsDir: String,
                     checkpointDir: String, planes: Int, dim: Int,
                     threshold: Double,
                     maxBucketSize: Int = 0): StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ingestEmbeddingBatch(batch, indexDir, pairsDir, planes, dim,
          threshold, maxBucketSize)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  def ingestEmbeddingBatch(batch: DataFrame, indexDir: String,
                           pairsDir: String, planes: Int, dim: Int,
                           threshold: Double,
                           maxBucketSize: Int = 0): Unit = {
    val spark = batch.sparkSession
    val bNew = Similarity.srpIndex(batch, planes, dim)
      .transform(Materialize.sharedNow)
    Materialize.withPersisted(bNew) {
      val bOld =
        if (Stores.hasParquet(spark, indexDir)) spark.read.parquet(indexDir)
        else bNew.limit(0) // first batch: intra-only
      val pairs = Similarity.incrementalSrpNearDupIndexed(bOld, bNew,
        threshold, maxBucketSize)
      pairs.write.mode("append").parquet(pairsDir)
      bNew.write.mode("append").parquet(indexDir)
    }
  }

  // ---- Semantic (SemDeDup) family ------------------------------------

  /** Streaming SemDeDup ingestion: each micro-batch of
    * (vec_id, embedding) rows is assigned to its k-means cell under the
    * FROZEN `codebook` (the one the persisted
    * [[graft.ops.Similarity.semanticIndex]] was built with —
    * [[graft.ops.Similarity.kmeansTrain]] on the seed corpus, stored
    * alongside the index), cosine-verified against the index within its
    * cell, and appended to it. Same foreachBatch-vs-index shape as
    * [[startEmbedding]], with a learned data-dependent bucketer instead
    * of SRP hyperplanes: cell assignment is deterministic per row GIVEN
    * the codebook, which is why the codebook must stay frozen across
    * batches (re-training mid-stream would re-cell the already-indexed
    * corpus; periodic re-trains rebuild the index offline, standard IVF
    * maintenance).
    */
  def startSemantic(vecs: DataFrame, indexDir: String, pairsDir: String,
                    checkpointDir: String, codebook: DataFrame,
                    threshold: Double,
                    maxBucketSize: Int = 0): StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ingestSemanticBatch(batch, indexDir, pairsDir, codebook, threshold,
          maxBucketSize)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  def ingestSemanticBatch(batch: DataFrame, indexDir: String,
                          pairsDir: String, codebook: DataFrame,
                          threshold: Double,
                          maxBucketSize: Int = 0): Unit = {
    val spark = batch.sparkSession
    val bNew = Similarity.semanticIndex(batch, codebook)
      .transform(Materialize.sharedNow)
    Materialize.withPersisted(bNew) {
      val bOld =
        if (Stores.hasParquet(spark, indexDir)) spark.read.parquet(indexDir)
        else bNew.limit(0) // first batch: intra-only
      val pairs = Similarity.incrementalSrpNearDupIndexed(bOld, bNew,
        threshold, maxBucketSize)
      pairs.write.mode("append").parquet(pairsDir)
      bNew.write.mode("append").parquet(indexDir)
    }
  }
}
