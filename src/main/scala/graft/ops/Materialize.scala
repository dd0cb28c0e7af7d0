package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place that decides how an intermediate relation is stored.
  * Operators name an intent; the mechanism (eager `localCheckpoint` or
  * `persist`) and the storage level follow from it here, so a level is
  * never re-argued per call site.
  *
  *   - [[writeOnce]]: eager `localCheckpoint`, `MEMORY_AND_DISK_SER`. A
  *     lineage cut that is written once and read a few times (candidate
  *     sets, flagged ids, store snapshots, memoized builds). Serialized
  *     blocks are compact buffers the old generation scans cheaply; r21
  *     measured live row-object graphs of tens of GiB billing
  *     multi-second GC pauses to the dedup queries on a 91 GiB heap.
  *   - [[iterative]]: eager `localCheckpoint`, `MEMORY_AND_DISK`
  *     (deserialized). A cut that an iterative loop re-reads every round
  *     (graph edges and rank vectors, the connected-components rounds). A
  *     serialized block charges a deserialization to every read: the r21
  *     blanket `_SER` sweep measured graph_components +15-25% from it, and
  *     r22 moved these sites back.
  *   - [[shared]] / [[sharedNow]]: `persist(MEMORY_AND_DISK)`, deserialized.
  *     A sketch-sized input that several join sides or loop passes read.
  *     SQL-cache blocks are already compact columnar `CachedBatch`es; the
  *     r21 `_SER` experiment on them was a 5x wall regression on the
  *     containment family (a Java serialize per store, a deserialize per
  *     read, humongous buffers). [[sharedNow]] also counts the relation
  *     once, serially, before its readers run: the two sides of a join
  *     (stream + broadcast thread) otherwise race to compute the same
  *     cache blocks and stall on block locks (multi-10x, nondeterministic).
  *   - [[sharedSerialized]]: `persist(MEMORY_AND_DISK_SER)` plus the
  *     serial count, for the one large persisted input pinned across two
  *     window passes (`EventOps.seqPatternsGap3`).
  *
  * Release. A persisted input read by a result must stay cached until the
  * result is materialized: unpersisting first leaves the result's jobs
  * racing the block removal. [[withPersisted]] scopes that: it releases its
  * inputs only after the body returned, and refuses a Dataset result that
  * is not a cut. Persisted inputs that a returned plan still reads are not
  * released here; the caller's `spark.catalog.clearCache()` does, as
  * Verify and Bench do per query.
  */
object Materialize {

  /** Write-once lineage cut: eager `localCheckpoint`, serialized. */
  def writeOnce(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

  /** Iterative re-read cut: eager `localCheckpoint`, deserialized. */
  def iterative(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)

  /** Shared persisted input, materialized lazily by its first reader. */
  def shared(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Shared persisted input, materialized now by one serial count. */
  def sharedNow(df: DataFrame): DataFrame = {
    val p = shared(df)
    p.count()
    p
  }

  /** Shared persisted input kept serialized, materialized now. */
  def sharedSerialized(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK_SER)
    p.count()
    p
  }

  /** Runs `body` and then releases `inputs`, on normal return and when
    * `body` throws. A Dataset result must be a cut ([[writeOnce]] or
    * [[iterative]]): anything lazier would still read the inputs after
    * their release.
    */
  def withPersisted[T](inputs: DataFrame*)(body: => T): T =
    try {
      val out = body
      out match {
        case ds: Dataset[_] => require(ds.queryExecution.logical.isInstanceOf[LogicalRDD],
          "withPersisted: a Dataset result must be cut before its inputs are released")
        case _ => ()
      }
      out
    } finally inputs.foreach(_.unpersist())
}
