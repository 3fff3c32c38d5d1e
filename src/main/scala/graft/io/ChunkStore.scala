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
  * The store's lifecycle (exactly-once appends, snapshot-isolated
  * maintenance, recovery) is [[BatchStore]]'s; this object supplies the
  * rows. Appends also anti-join the batch's doc_ids against the manifest,
  * so a replay after the bootstrap's own snapshot-landed/flag-lost
  * window never duplicates a manifest slot.
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
    * START-FRESH seeding: stale batch flags are a previous stream's
    * history (the MinhashSnapshot.bootstrap rationale).
    */
  def write(docs: DataFrame, dir: String): Unit = {
    val c = keyed(docs)
    // the two catalog writes run concurrently over the same chunk frame.
    // (Deliberately NOT localCheckpoint-ed to share the chunking pass:
    // the chunk rows carry the corpus text, and pinning a corpus-sized
    // block set trades a second chunking scan for executor storage
    // pressure at 100 TB — the wrong side of §5.) REBALANCE sizes output
    // files by bytes instead of landing one file per scan task (§6).
    store(dir).bootstrap(docs.sparkSession, Map(
      "chunks" -> c.groupBy("h", "len", "x")
        .agg(first(col("chunk_text")).as("chunk_text")).hint("rebalance"),
      "manifest" -> c.select("doc_id", "idx", "h", "len", "x").hint("rebalance")),
      dropBatchFlags = true)
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
    * not a second copy of the span. `batchId` is the
    * [[BatchStore.append]] tag (−1 self-allocates).
    */
  def append(s: SparkSession, docs: DataFrame, dir: String,
      batchId: Long = -1L): Unit = store(dir).append(s, batchId) { land =>
    val seen = manifest(s, dir).select("doc_id").distinct()
    val c = keyed(docs.join(seen, Seq("doc_id"), "left_anti"))
    land("chunks", c.select("h", "len", "x", "chunk_text")
      .dropDuplicates("h", "len", "x")
      .join(chunks(s, dir).select("h", "len", "x"), Seq("h", "len", "x"),
        "left_anti"))
    land("manifest", c.select("doc_id", "idx", "h", "len", "x"))
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
    * then delete every chunk no surviving slot references — q_l43's
    * reclaim WORKLIST made actionable. Both catalogs ride
    * [[BatchStore.vacuum]]: the manifest keyed by doc_id, the chunks by
    * the (h, len, x) keys of the surviving slots, so only files holding
    * a dead slot or chunk are rewritten.
    */
  def vacuum(s: SparkSession, dir: String, liveDocs: DataFrame): VacuumStats = {
    val byCat = store(dir).vacuum(s, liveDocs, Map("chunks" -> (ids =>
      manifest(s, dir).join(ids, Seq("doc_id"), "left_semi")
        .select("h", "len", "x").distinct())))
    val (man, ch) = (byCat("manifest"), byCat("chunks"))
    VacuumStats(man.droppedRows, ch.droppedRows, ch.rewrittenFiles,
      ch.untouchedFiles)
  }

}
