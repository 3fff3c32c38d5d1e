package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.BatchStore

/** The persisted MinHash band-key snapshot behind incremental (delta)
  * text dedup — [[LLMOps.deltaDedupCandidates]] / q_l40, the streaming
  * sink [[graft.streaming.StreamOps.streamingDeltaDedup]] and the ingest
  * pipeline — on the [[graft.io.BatchStore]] lifecycle: namespaced
  * `_batch-<tag>` flags with remnant-delete on replay (a replayed batch
  * lands exactly once, never a stacked second copy), snapshot-pointer
  * compact with flag→watermark rollup, doc_id vacuum (dedup history is
  * derived PII the right-to-be-forgotten path must also reclaim) and
  * deletion-only recover. Single maintainer, snapshot-isolated readers.
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
    * seed a streaming run starts from). Mode-overwrite idempotent;
    * commits by publishing snapshot 0. START-FRESH semantics: stale
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
    st.cleanRootMetadata(s, dropBatchFlags = true)
    Legacy.drop(s, st)
    val rows = bandsOf(docs)
    rows.write.mode("overwrite").parquet(s"$dir/$BandKeys")
    st.publishBootstrap(s, Map(BandKeys -> rows.schema))
  }

  /** Exactly-once batch append of `newDocs`' band keys. `batchId` ≥ 0 =
    * the caller's (stream-namespace) id; −1 self-allocates a MANUAL
    * `m<N>` tag — the namespaces are disjoint, so an ad-hoc append can
    * never shadow a restarted stream's next micro-batch (the BatchStore
    * contract). Committed tag → no-op; uncommitted → remnants deleted,
    * batch redone.
    */
  def append(s: SparkSession, newDocs: DataFrame, dir: String,
      batchId: Long = -1L): Unit = {
    val st = opened(s, dir)
    val flags = st.loadFlags(s)
    val tag = st.resolveTag(flags, batchId)
    if (flags.committed(tag)) return
    st.recover(s)
    st.removeRemnants(s, tag)
    st.landBatchFiles(s, bandsOf(newDocs), BandKeys, tag)
    st.commitFlag(s, tag)
  }

  /** Clear a torn prior attempt of `batchId` (recover + remnant-delete)
    * WITHOUT running the batch — the first move of a foreachBatch body
    * that reads the snapshot (for its candidate pairs) before appending
    * to it, so a crashed attempt's half-landed bands never feed the
    * replay's own pair computation.
    */
  def beginBatch(s: SparkSession, dir: String, batchId: Long): Unit = {
    val st = store(dir)
    st.recover(s)
    st.removeRemnants(s, batchId.toString)
  }

  /** The snapshot's (doc_id, band_keys) rows — snapshot-resolved
    * ([[BatchStore.readCat]]): retired files are invisible, post-snapshot
    * batch files included.
    */
  def bands(s: SparkSession, dir: String): DataFrame =
    opened(s, dir).readCat(s, BandKeys)

  def batchCommitted(s: SparkSession, dir: String, batchId: Long): Boolean =
    store(dir).batchCommitted(s, batchId)

  /** Fold per-batch file sprawl + roll flags into the watermark. */
  def compact(s: SparkSession, dir: String): Unit = opened(s, dir).compact(s)

  def dataFileCount(s: SparkSession, dir: String): Int =
    store(dir).dataFileCount(s)

  def recover(s: SparkSession, dir: String): Boolean = store(dir).recover(s)

  /** Forget docs absent from `liveDocs` — band keys are derived PII. */
  def vacuum(s: SparkSession, dir: String,
      liveDocs: DataFrame): BatchStore.VacuumStats =
    opened(s, dir).vacuumByDocId(s, liveDocs)
}
