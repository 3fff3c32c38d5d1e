package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.BatchStore

/** The persisted MinHash band-key snapshot behind incremental (delta)
  * text dedup — [[LLMOps.deltaDedupCandidates]] / q_l40 and the
  * streaming sink [[graft.streaming.StreamOps.streamingDeltaDedup]] —
  * run on the SAME [[graft.io.BatchStore]] lifecycle as the media
  * fingerprint store: namespaced `_batch-<tag>` flags with
  * remnant-delete on replay, snapshot-pointer compact with flag→
  * watermark rollup, doc_id vacuum (a forgotten doc's band keys leave
  * the snapshot too — dedup history is derived PII the
  * right-to-be-forgotten path must also reclaim), and deletion-only
  * recover.
  *
  * Before this store existed the snapshot was a bare mode("append")
  * parquet dir: a batch replayed after a crash stacked a second copy of
  * its band keys forever — tolerable for CORRECTNESS only because
  * duplicate bands merely produce duplicate candidates that a
  * downstream distinct removes, but each stacked copy re-inflates the
  * LSH bucket join's recall-side work on every later batch. Under the
  * BatchStore discipline a replay rewrites instead: the remnants of the
  * crashed attempt are deleted and the batch lands exactly once
  * (append-equals-rebuild, spec-pinned in EngineSpec mirroring the
  * media store's crash legs).
  *
  * One catalog: `bands/` — (doc_id, band_key) rows, ~64 B/doc regardless
  * of document size, so 100 TB of corpus stores as a few hundred GB of
  * snapshot. Single maintainer, snapshot-isolated readers (the
  * BatchStore contract).
  */
object MinhashSnapshot {

  private def store(dir: String) = BatchStore(dir, Seq("bands"))

  private def bandsOf(docs: DataFrame): DataFrame =
    LLMOps.minhashBands(LLMOps.shinglePostingsOf(docs))

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
    val bands = bandsOf(docs)
    bands.write.mode("overwrite").parquet(s"$dir/bands")
    st.publishBootstrap(s, Map("bands" -> bands.schema))
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
    val st = store(dir)
    val flags = st.loadFlags(s)
    val tag = st.resolveTag(flags, batchId)
    if (flags.committed(tag)) return
    st.recover(s)
    st.removeRemnants(s, tag)
    st.landBatchFiles(s, bandsOf(newDocs), "bands", tag)
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

  /** The snapshot's band keys — snapshot-resolved ([[BatchStore.readCat]]):
    * retired files are invisible, post-snapshot batch files included.
    */
  def bands(s: SparkSession, dir: String): DataFrame =
    store(dir).readCat(s, "bands")

  def batchCommitted(s: SparkSession, dir: String, batchId: Long): Boolean =
    store(dir).batchCommitted(s, batchId)

  /** Fold per-batch file sprawl + roll flags into the watermark. */
  def compact(s: SparkSession, dir: String): Unit = store(dir).compact(s)

  def dataFileCount(s: SparkSession, dir: String): Int =
    store(dir).dataFileCount(s)

  def recover(s: SparkSession, dir: String): Boolean = store(dir).recover(s)

  /** Forget docs absent from `liveDocs` — band keys are derived PII. */
  def vacuum(s: SparkSession, dir: String,
      liveDocs: DataFrame): BatchStore.VacuumStats =
    store(dir).vacuumByDocId(s, liveDocs)

  def reapRetired(s: SparkSession, dir: String): Int =
    store(dir).reapRetired(s)
}
