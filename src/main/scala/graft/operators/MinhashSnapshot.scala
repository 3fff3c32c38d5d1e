package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.BatchStore

/** The persisted MinHash band-key snapshot behind incremental (delta)
  * text dedup — [[LLMOps.deltaDedupCandidates]] / q_l40, the streaming
  * sink [[graft.streaming.StreamOps.streamingDeltaDedup]] and the ingest
  * pipeline. Its lifecycle is [[graft.io.BatchStore]]'s; the doc_id
  * vacuum matters here because dedup history is derived PII the
  * right-to-be-forgotten path must also reclaim.
  *
  * One catalog: `band_keys/` — one (doc_id, band_keys: array<string>)
  * row per doc ([[LLMOps.minhashBandKeys]], position b holding band b's
  * key): ~64 B/doc regardless of document size, written row-locally with
  * no shuffle, and the [[Banded]] input shape, so the delta finds each
  * pair's first agreeing band with no distinct. The layout is a
  * persisted format: a store that still holds the older exploded
  * `bands/` catalog ((doc_id, band_key) rows) is refused by [[append]],
  * [[bands]], [[compact]] and [[vacuum]], and [[bootstrap]] over it
  * deletes `bands/`.
  */
object MinhashSnapshot {

  private val BandKeys = "band_keys"

  private val Legacy = BatchStore.Legacy(Seq("bands"), "MinhashSnapshot.bootstrap")

  private def store(dir: String) = BatchStore(dir, Seq(BandKeys))

  private def opened(s: SparkSession, dir: String): BatchStore =
    Legacy.refuse(s, store(dir))

  private def bandsOf(docs: DataFrame): DataFrame =
    LLMOps.minhashBandKeys(LLMOps.shingleSetsOf(docs))

  /** Build the snapshot from scratch over `docs` (possibly empty — the
    * seed a streaming run starts from). START-FRESH semantics: stale
    * `_batch-*` flags from a PREVIOUS stream's lifetime are dropped —
    * a re-seeded dir is new history, and a new stream's checkpoint
    * restarts batch ids at 0, so a kept flag would silently no-op the
    * new stream's first batches (its pairs never written, its bands
    * never landed). Seed a dir written by the pre-r17 flat layout by
    * re-running this (it IS the migration); the flat files are simply
    * ignored thereafter.
    */
  def bootstrap(s: SparkSession, docs: DataFrame, dir: String): Unit = {
    val st = store(dir)
    Legacy.drop(s, st)
    st.bootstrap(s, Map(BandKeys -> bandsOf(docs)), dropBatchFlags = true)
  }

  /** Exactly-once batch append of `newDocs`' band keys under `batchId`
    * (the [[graft.io.BatchStore.append]] tag; −1 self-allocates).
    */
  def append(s: SparkSession, newDocs: DataFrame, dir: String,
      batchId: Long = -1L): Unit =
    appendAfter(s, newDocs, dir, batchId)(())

  /** [[append]] that runs `first` inside the batch, after a torn prior
    * attempt's bands are removed and before this batch's land — the
    * slot for work that reads the snapshot as of strictly-earlier
    * batches (the delta's candidate pairs). A committed batch skips it;
    * a replayed one re-runs it, so it must be idempotent.
    */
  private[graft] def appendAfter(s: SparkSession, newDocs: DataFrame,
      dir: String, batchId: Long)(first: => Unit): Unit =
    opened(s, dir).append(s, batchId) { land =>
      first
      land(BandKeys, bandsOf(newDocs))
    }

  /** The snapshot's (doc_id, band_keys) rows — snapshot-resolved
    * ([[BatchStore.readCat]]): retired files are invisible, post-snapshot
    * batch files included.
    */
  def bands(s: SparkSession, dir: String): DataFrame =
    opened(s, dir).readCat(s, BandKeys)

  def batchCommitted(s: SparkSession, dir: String, batchId: Long): Boolean =
    store(dir).batchCommitted(s, batchId)

  /** Fold per-batch file sprawl ([[BatchStore.compact]]). */
  def compact(s: SparkSession, dir: String): Unit = opened(s, dir).compact(s)

  def dataFileCount(s: SparkSession, dir: String): Int =
    store(dir).dataFileCount(s)

  def recover(s: SparkSession, dir: String): Boolean = store(dir).recover(s)

  /** Forget docs absent from `liveDocs` — band keys are derived PII. */
  def vacuum(s: SparkSession, dir: String,
      liveDocs: DataFrame): BatchStore.VacuumStats =
    opened(s, dir).vacuumByDocId(s, liveDocs)
}
