package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The WRITE side of the CDC chunk economy: q_l42/q_l43 MEASURE what a
  * content-addressed chunk store would reclaim; this object actually
  * builds one — a unique-chunk store plus a per-document manifest — and
  * re-materializes documents from it, the storage-dedup primitive
  * (rsync/LBFS/backup dedup) applied corpus-wide. Reference analog: the
  * clone pipeline's extract→reload round trip (Program.cs:560-720), here
  * at sub-document granularity with content-defined boundaries.
  *
  * Layout under `dir`:
  *   - `chunks/`   — one row per UNIQUE chunk: (h, len, x, chunk_text).
  *     Identity is (rolling-hash h, len, xxhash64 x): h alone is mod
  *     1e9+7 and WOULD birthday-collide on large corpora (~5 expected
  *     collisions per 10^5 distinct chunks); the 64-bit x pushes
  *     corruption odds below 2^-40 at 100 TB scale while staying
  *     engine-reproducible. Reference counts are NOT stored — they are
  *     derivable from the manifest ([[referenceCounts]]) and storing them
  *     would force [[append]] to rewrite history on every batch.
  *   - `manifest/` — one row per document chunk slot: (doc_id, idx, h,
  *     len, x). Re-materialization is manifest ⋈ chunks, re-assembled in
  *     idx order.
  *
  * Scale shape: chunking is the one corpus-sized computation and runs
  * TWICE (once per output) rather than being cached — a localCheckpoint
  * here would materialize the whole corpus to executor disk, strictly
  * worse than re-running a shuffle-free codegen pass. The store write
  * shuffles one (h, len, x)-keyed exchange whose payload is each unique
  * chunk's text once; the manifest write carries only ids and hashes.
  * [[append]] makes growth incremental at the corpus boundary: a new
  * batch is chunked, anti-joined against the (store-sized, text-free)
  * existing key set, and only never-seen chunk text lands — history is
  * never re-read, never rewritten, exactly the q_l40 delta-dedup /
  * ingestWithManifest contract.
  *
  * Since r17 the store rides the [[BatchStore]] lifecycle the
  * fingerprint and MinHash stores share: appends land `batch<tag>-*`
  * files under namespaced `_batch` flags (committed tag → replay
  * no-ops; crashed tag → remnant-delete + rewrite), appends also
  * anti-join the batch's doc_ids against the manifest so a replay
  * after ANY crash point — including the bootstrap's own
  * snapshot-landed/flag-lost window — never duplicates a manifest
  * slot; vacuum commits through the snapshot pointer (dirty chunk AND
  * manifest files rewritten as `fold-*` names, originals retired one
  * grace round, readers snapshot-isolated — the old whole-manifest
  * swap is gone); and [[compact]]/[[recover]]/[[reapRetired]] complete
  * the maintenance surface. This closed [[graft.streaming.StreamOps
  * .ingestChunkStore]]'s documented residual window (a crash between
  * the append and its checkpoint-side marker used to re-apply the
  * batch and duplicate manifest slots).
  */
object ChunkStore {

  /** Per-document chunk spans: (doc_id, idx, h, len, chunk_text). Offsets
    * are recovered from the packed (hash, len) array the codegen chunker
    * emits — lengths arrive in document order, so offset = running sum —
    * keeping the boundary logic in exactly one place
    * ([[graft.functions.ContentChunks]]). Documents longer than the
    * packed-length cap (2^20-1 codepoints per chunk) are out of contract.
    */
  private[graft] def chunked(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("idx")
    docs
      .select(col("doc_id"), col("text"),
        posexplode(graft.functions.ContentChunks(col("text"))).as(Seq("idx", "p")))
      .select(col("doc_id"), col("text"), col("idx"),
        expr("p DIV 1048576").as("h"), (col("p") % 1048576L).as("len"))
      .withColumn("off", sum(col("len")).over(w) - col("len"))
      .select(col("doc_id"), col("idx"), col("h"), col("len"),
        expr("substring(text, CAST(off + 1 AS INT), CAST(len AS INT))")
          .as("chunk_text"))
  }

  private def keyed(docs: DataFrame): DataFrame =
    chunked(docs.select("doc_id", "text").where(col("text").isNotNull))
      .withColumn("x", xxhash64(col("chunk_text")))

  /** Build the store from scratch: unique chunks + the per-doc manifest.
    * Null-text documents are excluded by contract (they have no chunks to
    * store); callers that must round-trip them keep them in a side table.
    */
  def write(docs: DataFrame, dir: String): Unit = {
    val st = store(dir)
    val s = docs.sparkSession
    // START-FRESH seeding: stale batch flags are a previous stream's
    // history (the MinhashSnapshot.bootstrap rationale)
    st.cleanRootMetadata(s, dropBatchFlags = true)
    val c = keyed(docs)
    // the two catalog writes are independent jobs over the same chunk
    // frame — submit them concurrently (guide §2.6) so the manifest
    // write back-fills the executors the chunk-dedup's tail leaves
    // idle. (Deliberately NOT localCheckpoint-ed to share the chunking
    // pass: the chunk rows carry the corpus text, and pinning a
    // corpus-sized block set trades a second chunking scan for executor
    // storage pressure at 100 TB — the wrong side of §5.) REBALANCE
    // sizes output files by bytes instead of landing one file per scan
    // task (§6).
    graft.Par.all(Seq(
      () => c.groupBy("h", "len", "x")
        .agg(first(col("chunk_text")).as("chunk_text"))
        .hint("rebalance")
        .write.mode("overwrite").parquet(s"$dir/chunks"),
      () => c.select("doc_id", "idx", "h", "len", "x")
        .hint("rebalance")
        .write.mode("overwrite").parquet(s"$dir/manifest")))
    st.publishBootstrap(s) // the commit point: [[bootstrapped]] flips here
  }

  private def store(dir: String) = BatchStore(dir, Seq("chunks", "manifest"))

  /** Has a [[write]] COMMITTED here (its snapshot published)? The
    * bootstrap-or-append branch a streaming sink takes — a torn write
    * reads false and re-runs idempotently (its data writes are
    * mode-overwrite).
    */
  def bootstrapped(s: SparkSession, dir: String): Boolean =
    store(dir).snapshotExists(s)

  /** Snapshot-resolved unique-chunk catalog. */
  def chunks(s: SparkSession, dir: String): DataFrame =
    store(dir).readCat(s, "chunks")

  /** Snapshot-resolved per-document manifest. */
  def manifest(s: SparkSession, dir: String): DataFrame =
    store(dir).readCat(s, "manifest")

  def batchCommitted(s: SparkSession, dir: String, batchId: Long): Boolean =
    store(dir).batchCommitted(s, batchId)

  /** Commit a stream-namespace batch flag against THIS store's layout —
    * the hook a streaming bootstrap leg uses to mark its batch id
    * committed without re-declaring the store's private catalog list
    * (the [[graft.operators.FingerprintStore.commitBatchFlag]] mirror).
    */
  def commitBatchFlag(s: SparkSession, dir: String, batchId: Long): Unit =
    store(dir).commitFlag(s, batchId.toString)

  /** Fold per-batch file sprawl ([[BatchStore.compact]]). */
  def compact(s: SparkSession, dir: String): Unit = store(dir).compact(s)

  def recover(s: SparkSession, dir: String): Boolean = store(dir).recover(s)

  def reapRetired(s: SparkSession, dir: String): Int =
    store(dir).reapRetired(s)

  def dataFileCount(s: SparkSession, dir: String): Int =
    store(dir).dataFileCount(s)

  /** Incrementally ingest a batch: documents whose doc_id the manifest
    * already holds are skipped (an ids-only anti-join — so a replay
    * after ANY crash point, including the bootstrap's own
    * committed-but-unflagged window, never duplicates a manifest slot),
    * then only chunks the store has never seen are written, found by a
    * left-anti join against the existing KEY projection — the store
    * side of that join carries no chunk text, so the exchange is
    * key-sized, and history parquet is neither re-read for content nor
    * rewritten. Cross-batch repeats therefore cost one manifest row,
    * not a second copy of the span.
    *
    * Idempotence is the [[BatchStore]] contract: `batchId` ≥ 0 = the
    * caller's (stream-namespace) id, −1 self-allocates a MANUAL `m<N>`
    * tag; committed tag → no-op, crashed tag → remnants deleted, batch
    * redone, flag LAST.
    */
  def append(s: SparkSession, docs: DataFrame, dir: String,
      batchId: Long = -1L): Unit = {
    val st = store(dir)
    val flags = st.loadFlags(s)
    val tag = st.resolveTag(flags, batchId)
    if (flags.committed(tag)) return // committed batch replayed: no-op
    st.recover(s)
    st.removeRemnants(s, tag)
    val seen = manifest(s, dir).select("doc_id").distinct()
    val fresh = docs.join(seen, Seq("doc_id"), "left_anti")
    val c = keyed(fresh)
    val existing = chunks(s, dir).select("h", "len", "x")
    st.landBatchFiles(s,
      c.select("h", "len", "x", "chunk_text")
        .dropDuplicates("h", "len", "x")
        .join(existing, Seq("h", "len", "x"), "left_anti"),
      "chunks", tag)
    st.landBatchFiles(s, c.select("doc_id", "idx", "h", "len", "x"),
      "manifest", tag)
    st.commitFlag(s, tag)
  }

  /** Reference counts, derived from the manifest at read time (stored
    * counts would go stale on every append): the reclaim-audit view —
    * refs == manifest slots per chunk, by construction.
    */
  def referenceCounts(s: SparkSession, dir: String): DataFrame =
    manifest(s, dir)
      .groupBy("h", "len", "x").agg(count(lit(1)).as("refs"))

  /** Re-materialize (doc_id, text) from the store: manifest ⋈ chunks on
    * the full identity triple, chunks re-assembled in slot order. One
    * manifest-sized shuffle for the join (the store side is
    * unique-chunks-sized) and one doc_id-keyed aggregation.
    */
  def materialize(s: SparkSession, dir: String): DataFrame = {
    val uniq = chunks(s, dir).select("h", "len", "x", "chunk_text")
    manifest(s, dir)
      .join(uniq, Seq("h", "len", "x"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("idx"), col("chunk_text")))),
          e => e("chunk_text")),
        "").as("text"))
  }

  /** Vacuum report: manifest slots dropped, unique chunks reclaimed, chunk
    * files rewritten vs left untouched.
    */
  final case class VacuumStats(droppedSlots: Long, reclaimedChunks: Long,
      rewrittenFiles: Int, untouchedFiles: Int)

  /** Reclaim storage after document deletion: drop the manifest rows of
    * docs absent from `liveDocs` (a `doc_id` frame — the retention set),
    * then delete every chunk whose derived reference count hits zero —
    * q_l43's reclaim WORKLIST made actionable. BOTH catalogs follow the
    * rewrite-dirty-files discipline: only manifest files holding a dead
    * slot and chunk files holding a dead chunk are re-read and
    * rewritten — clean files are never touched (the old implementation
    * swapped the ENTIRE manifest every vacuum; now manifest cost rides
    * its dirty set too). The swap is the [[BatchStore]]
    * snapshot-pointer commit: survivors land as `fold-<token>-*` files,
    * the new snapshot retires the dirty originals, and they stay on
    * disk one maintenance round of grace — so concurrent readers,
    * including ones planned before the vacuum, are never broken
    * mid-scan, and recovery is deletion-only ([[recover]]).
    *
    * Concurrency: single maintainer, snapshot-isolated readers.
    */
  def vacuum(s: SparkSession, dir: String, liveDocs: DataFrame): VacuumStats = {
    val st = store(dir)
    val (token, k, liveF) = st.beginMaintenance(s)
    def rd(files: Seq[String]): DataFrame = s.read.parquet(files: _*)
    val live = liveDocs.select("doc_id").distinct().localCheckpoint(true)
    val newLive = scala.collection.mutable.Map[String, Set[String]]()
    val newRetired = scala.collection.mutable.Map[String, Set[String]]()
    Seq("chunks", "manifest").foreach { cat =>
      newLive(cat) = liveF(cat)
        .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
      newRetired(cat) = Set.empty
    }
    val manFiles = liveF("manifest")
    val chunkFiles = liveF("chunks")
    if (manFiles.isEmpty || chunkFiles.isEmpty) {
      st.finishMaintenance(s, token, k, newLive.toMap, newRetired.toMap)
      return VacuumStats(0L, 0L, 0, chunkFiles.size)
    }

    // ONE ids-only pass over the manifest yields the dead-slot total and
    // the dirty manifest files together
    val deadSlotsPerFile = rd(manFiles)
      .withColumn("f", StatsManifest.normalizedInputFile())
      .select("doc_id", "f")
      .join(live, Seq("doc_id"), "left_anti")
      .groupBy("f").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val droppedSlots = deadSlotsPerFile.values.sum
    // chunks still referenced by a surviving slot; the key set is
    // consumed by the dead scan AND the dirty rewrite, so materialize it
    val liveKeys = rd(manFiles).join(live, Seq("doc_id"), "left_semi")
      .select("h", "len", "x").distinct().localCheckpoint(true)
    val deadChunksPerFile = rd(chunkFiles)
      .withColumn("f", StatsManifest.normalizedInputFile())
      .select("h", "len", "x", "f")
      .join(liveKeys, Seq("h", "len", "x"), "left_anti")
      .groupBy("f").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val reclaimed = deadChunksPerFile.values.sum

    if (droppedSlots == 0 && reclaimed == 0) {
      st.finishMaintenance(s, token, k, newLive.toMap, newRetired.toMap)
      return VacuumStats(0L, 0L, 0, chunkFiles.size)
    }
    def rewriteDirty(cat: String, dirty: Set[String],
        survivors: DataFrame): Unit = if (dirty.nonEmpty) {
      val staged = s"$dir/.vacuum-staged-$cat"
      // the staging scan opens ONLY the dirty files (UDF filters on the
      // input_file_name-derived column don't push down)
      survivors.write.mode("overwrite").parquet(staged)
      val folded = st.foldStagedIn(s, staged, cat, token)
      val dirtyNames =
        dirty.map(f => new org.apache.hadoop.fs.Path(f).getName)
      newLive(cat) = (newLive(cat) -- dirtyNames) ++ folded
      newRetired(cat) = dirtyNames
    }
    val dirtyChunks = deadChunksPerFile.keySet
    rewriteDirty("chunks", dirtyChunks,
      rd(dirtyChunks.toSeq).join(liveKeys, Seq("h", "len", "x"), "left_semi"))
    val dirtyMan = deadSlotsPerFile.keySet
    rewriteDirty("manifest", dirtyMan,
      rd(dirtyMan.toSeq).join(live, Seq("doc_id"), "left_semi"))
    st.finishMaintenance(s, token, k, newLive.toMap, newRetired.toMap)
    VacuumStats(droppedSlots, reclaimed, dirtyChunks.size,
      chunkFiles.size - dirtyChunks.size)
  }

}
