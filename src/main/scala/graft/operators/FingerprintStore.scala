package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.BatchStore
import graft.operators.TrainPrep.{pinCounted, unpinTracked}

/** Persisted, incrementally-maintained catalog of media FINGERPRINTS —
  * the [[graft.io.BatchStore]] commit discipline applied to the
  * multimodal family. Media decode is the most expensive per-row kernel
  * in this engine (the video near-dup row is decode-dominated: demux +
  * per-frame PNG decode ~2× the join's own cost), and without a store
  * every near-dup analysis re-decodes the corpus per RUN — a
  * localCheckpoint only pins decode within one query. With the store,
  * decode happens ONCE per media item for the life of the corpus:
  * [[bootstrap]] decodes everything, [[append]] decodes ONLY the batch's
  * never-seen items, and every serving join reads 8-byte digests off
  * parquet — blobs never shuffle, and at 100 TB the steady-state cost of
  * the whole perceptual-dedup family is O(new media per day), not
  * O(corpus) per analysis.
  *
  * Layout under `dir`: ONE parquet catalog, `digests/`, of
  * (doc_id, kind, frame, digest, format, decoded) rows. `kind` says what
  * a row is:
  *   - 0 — the 64-bit perceptual dHash of a png/bmp item
  *     ([[Multimodal.imageDHash]]); frame = −1.
  *   - 1 — the `audioBits`-bit energy-gradient fingerprint of a wav item
  *     ([[Multimodal.audioFingerprint]]); frame = −1. The width is fixed
  *     at bootstrap and recorded in a root `_audiobits-<b>` marker (the
  *     Ivf `_watermark-` idiom): fingerprints of different widths don't
  *     compare, so append and serving both read the marker instead of
  *     trusting a caller-supplied width.
  *   - 2 — one per-frame dHash posting of an mp4 item
  *     ([[Multimodal.videoFrameDHash]]), frame = its index: the video
  *     identity is its frame-hash set, kept at frame granularity so
  *     frame-level analyses read the same rows the pair join does.
  *   - −1 — the LEDGER row, one per INGESTED item, carrying `format` and
  *     `decoded` (digest rows leave both null; the ledger row leaves
  *     `digest` null). Every batch item gets one — including items whose
  *     bytes failed their format's decoder (decoded = false), so a
  *     corrupt item is quarantined ONCE and never re-attempted on later
  *     appends (re-ingesting a FIXED payload needs a new doc_id, which a
  *     content-derived id gives for free). The ledger is the append
  *     anti-join's store side: ids only, never blobs.
  *
  * One decode pass ([[fusedDigests]]) yields every row of a batch, so
  * [[bootstrap]] is one write and [[append]] one batch landing. The
  * per-kind readers ([[imageHashes]], [[audioFingerprints]],
  * [[videoPostings]], [[ledger]]) are kind-filtered, column-pruned views
  * with the column names and types of the per-kind catalogs this layout
  * replaced. The layout is a persisted format: a store in that older
  * layout (`image/ audio/ video/ ledger/`, no `digests/`) is refused by
  * [[append]] and the readers, and [[bootstrap]] over it removes the old
  * directories.
  *
  * The store's lifecycle (exactly-once appends, snapshot isolation,
  * maintenance, crash recovery) is [[graft.io.BatchStore]]'s; the spec
  * legs for every crash window live in EngineSpec and
  * StreamBatchParitySpec against THIS store.
  *
  * Scale shape of [[append]]: the new-id set is computed ids-only
  * (doc_id anti-join against the ledger — key-sized exchange), then the
  * batch's blob rows are filtered to new ids via a BROADCAST semi-join
  * when the new-id set is driver-safe, so the blob column never crosses
  * an exchange; above the broadcast bound it degrades to one BATCH-sized
  * blob shuffle (never store-sized). History parquet is read ids-only
  * and never rewritten.
  */
object FingerprintStore {

  /** New-id sets up to this many rows ride a broadcast semi-join (ids
    * are 8 B each — 4M ids ≈ 32 MB, inside a sane driver); bigger
    * batches fall back to the shuffle semi-join.
    */
  private val BroadcastIdCap = 4000000L

  private val Digests = "digests"

  /** The per-kind catalog directories of the layout `digests` replaced. */
  private val Legacy = BatchStore.Legacy(Seq("image", "audio", "video", "ledger"),
    "FingerprintStore.bootstrap")

  private val LedgerKind = -1

  private def store(dir: String) = BatchStore(dir, Seq(Digests))

  /** [[store]], refusing a store still in the legacy per-kind layout —
    * reading it as `digests` would serve an empty catalog.
    */
  private def opened(s: SparkSession, dir: String): BatchStore =
    Legacy.refuse(s, store(dir))

  private def fsOf(s: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def audioBitsMarks(s: SparkSession, dir: String): Seq[Int] = {
    val hits = fsOf(s, dir).globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/_audiobits-*"))
    if (hits == null) Nil
    else hits.toSeq.map(_.getPath.getName.stripPrefix("_audiobits-").toInt)
  }

  /** The store's fingerprint width for audio, from the root marker. */
  def audioBitsOf(s: SparkSession, dir: String): Int = {
    val marks = audioBitsMarks(s, dir)
    require(marks.nonEmpty,
      s"fingerprint store at $dir has no _audiobits marker — not bootstrapped?")
    marks.max
  }

  /** Has a [[bootstrap]] COMMITTED here (its `_audiobits` marker, the
    * last step, exists)? The bootstrap-or-append branch a streaming sink
    * takes — a torn bootstrap reads false and re-runs idempotently.
    */
  def bootstrapped(s: SparkSession, dir: String): Boolean =
    audioBitsMarks(s, dir).nonEmpty

  /** Is this caller-supplied (stream-namespace) batch id committed —
    * flag-or-watermark ([[graft.io.BatchStore.batchCommitted]])?
    */
  def batchCommitted(s: SparkSession, dir: String, batchId: Long): Boolean =
    store(dir).batchCommitted(s, batchId)

  /** Commit a stream-namespace batch flag directly (the bootstrap leg of
    * [[graft.streaming.StreamOps.ingestMediaBatch]], where the catalog
    * write is mode-overwrite-idempotent and [[append]] never runs).
    */
  def commitBatchFlag(s: SparkSession, dir: String, batchId: Long): Unit =
    store(dir).commitFlag(s, batchId.toString)

  /** Decode each media item ONCE into its `digests` rows in a single
    * partition-parallel pass: the item's digest rows (kind 0 = image
    * dHash, 1 = audio fingerprint, 2 = per-frame video dHash; frame = −1
    * for the single-digest kinds) followed by its ledger row (kind −1,
    * decoded = whether any digest came out). The per-format kernels and
    * quarantine policy are exactly the Multimodal catalog builders'
    * ([[Multimodal.dHashOf]] / [[Multimodal.audioFingerprintOf]] /
    * [[Multimodal.videoFrameDHashes]] over the same disjoint format
    * slices — parity spec-pinned); fusing them means ingest reads the
    * media bytes once instead of once per kind, and the ledger needs no
    * join against the digests.
    */
  private[operators] def fusedDigests(s: SparkSession, media: DataFrame,
      audioBits: Int): DataFrame = {
    import s.implicits._
    media.select(col("doc_id"), col("meta.format").as("format"), col("blob"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, fmt, blob) =>
        val digests: Array[(Int, Int, Long)] = fmt match {
          case "png" | "bmp" =>
            Multimodal.dHashOf(blob).toArray.map(h => (0, -1, h))
          case "wav" =>
            Multimodal.audioFingerprintOf(blob, audioBits).toArray
              .map(h => (1, -1, h))
          case "mp4" =>
            Multimodal.videoFrameDHashes(blob).toArray.flatMap(hs =>
              hs.zipWithIndex.map { case (h, f) => (2, f, h) })
          case _ => Array.empty
        }
        digests.iterator.map { case (k, f, h) =>
          (id, k, f, Option(h), null: String, Option.empty[Boolean])
        } ++ Iterator.single(
          (id, LedgerKind, -1, Option.empty[Long], fmt, Option(digests.nonEmpty)))
      })
      .toDF("doc_id", "kind", "frame", "digest", "format", "decoded")
  }

  /** `rows` sorted by kind within each partition, so every file it
    * writes keeps each kind in a contiguous run of row groups: the
    * readers' and [[append]]'s `kind = k` filters then skip the other
    * kinds by parquet row-group statistics instead of scanning every
    * video frame's digest.
    */
  private def byKind(rows: DataFrame): DataFrame = rows.sortWithinPartitions("kind")

  /** Build the store from scratch over `media` ((doc_id, blob, meta) —
    * the [[graft.io.Readers.binaryMedia]] / [[Multimodal.withMedia]]
    * shape): one decode pass, one [[graft.io.BatchStore.bootstrap]]
    * (keeping batch flags: a streaming sink bootstraps inside its own
    * stream's lifetime), then (LAST) the `_audiobits` marker — a crash
    * anywhere before the marker re-runs bootstrap idempotently. A
    * legacy-layout store's per-kind directories are removed first.
    */
  def bootstrap(s: SparkSession, media: DataFrame, dir: String,
      audioBits: Int = 32): Unit = {
    require(audioBits % 8 == 0 && audioBits >= 16 && audioBits <= 64,
      s"audioBits $audioBits: the banded serving join needs a multiple " +
        "of 8 in [16,64]")
    val st = store(dir)
    Legacy.drop(s, st)
    // REBALANCE before the write: the digest rows inherit the media
    // scan's partitioning (one partition per ~file-listing split), so a
    // bare write lands one near-empty parquet file per scan task — the
    // small-files problem. The AQE rebalance exchange sizes output
    // partitions by bytes (advisoryPartitionSizeInBytes), so file count
    // follows data volume at any scale with no tuned constant.
    st.bootstrap(s, Map(Digests ->
      byKind(fusedDigests(s, media, audioBits).hint("rebalance"))),
      dropBatchFlags = false)
    fsOf(s, dir).create(new org.apache.hadoop.fs.Path(
      s"$dir/_audiobits-$audioBits"), true).close()
  }

  /** Incrementally ingest a batch: decode ONLY media whose doc_id the
    * ledger has never seen, and land their digest and ledger rows as one
    * batch. History is read ids-only (the ledger rows' doc_id) and never
    * rewritten; a batch overlapping already-ingested ids costs one
    * key-sized anti-join, zero decodes for the overlap. `batchId` is the
    * [[graft.io.BatchStore.append]] tag: a streaming sink's batch id
    * ([[graft.streaming.StreamOps.ingestMedia]]), or −1 to self-allocate
    * one; replay at any crash point equals the rebuild (spec-pinned in
    * EngineSpec).
    */
  def append(s: SparkSession, media: DataFrame, dir: String,
      batchId: Long = -1L): Unit = {
    val st = opened(s, dir)
    st.append(s, batchId) { land =>
      val audioBits = audioBitsOf(s, dir)
      // materialized once, counted by the pinning job, reused below
      val (newIds, newIdPins, n) = pinCounted(media.select("doc_id").distinct()
        .join(kind(st, s, LedgerKind).select("doc_id"), Seq("doc_id"), "left_anti"))
      try {
        if (n > 0L) {
          val fresh =
            if (n <= BroadcastIdCap)
              media.join(broadcast(newIds), Seq("doc_id"), "left_semi")
            else media.join(newIds, Seq("doc_id"), "left_semi")
          land(Digests, byKind(fusedDigests(s, fresh, audioBits)))
        }
      } finally unpinTracked(s, newIdPins)
    }
  }

  /** The kind-`k` rows of the store's `digests` catalog. */
  private def kind(st: BatchStore, s: SparkSession, k: Int): DataFrame =
    st.readCat(s, Digests).filter(col("kind") === k)

  def imageHashes(s: SparkSession, dir: String): DataFrame =
    kind(opened(s, dir), s, 0).select(col("doc_id"), col("digest").as("dhash"))
  def audioFingerprints(s: SparkSession, dir: String): DataFrame =
    kind(opened(s, dir), s, 1).select(col("doc_id"), col("digest").as("afp"))
  def videoPostings(s: SparkSession, dir: String): DataFrame =
    kind(opened(s, dir), s, 2).select(col("doc_id"), col("frame"),
      col("digest").as("dhash"))
  def ledger(s: SparkSession, dir: String): DataFrame =
    kind(opened(s, dir), s, LedgerKind).select("doc_id", "format", "decoded")

  /** The near-dup joins, SERVED FROM THE STORE — hash-identical to their
    * decode-path twins ([[Multimodal.imageNearDupPairs]] /
    * [[Multimodal.audioNearDupPairs]] / [[Multimodal.videoNearDupPairs]],
    * parity spec-pinned) with zero decode work: the joins read persisted
    * digests, so their cost is the banding/Jaccard exchange alone.
    */
  def imageNearDupPairs(s: SparkSession, dir: String,
      maxHamming: Int = 6, ordered: Boolean = true): DataFrame =
    Multimodal.hammingNearDupPairs(imageHashes(s, dir), "dhash", 64,
      maxHamming, ordered = ordered)

  def audioNearDupPairs(s: SparkSession, dir: String,
      maxHamming: Int = 3, ordered: Boolean = true): DataFrame =
    Multimodal.hammingNearDupPairs(audioFingerprints(s, dir), "afp",
      audioBitsOf(s, dir), maxHamming, ordered = ordered)

  def videoNearDupPairs(s: SparkSession, dir: String,
      minJaccard: Double = 0.8, maxVideosPerFrame: Int = 0,
      ordered: Boolean = true): DataFrame =
    Multimodal.videoJaccardPairs(videoPostings(s, dir), minJaccard,
      maxVideosPerFrame, ordered = ordered)

  /** Fold the per-batch file sprawl — [[graft.io.BatchStore.compact]]. */
  def compact(s: SparkSession, dir: String): Unit = opened(s, dir).compact(s)

  /** Count of live data files — the [[compact]] trigger a
    * live ingest loop polls.
    */
  def dataFileCount(s: SparkSession, dir: String): Int =
    store(dir).dataFileCount(s)

  /** Roll back (or forward) a torn vacuum/compact —
    * [[graft.io.BatchStore.recover]].
    */
  def recover(s: SparkSession, dir: String): Boolean = store(dir).recover(s)

  type VacuumStats = BatchStore.VacuumStats

  /** Reclaim the store after media deletion — the right-to-be-forgotten
    * path a 100 TB media catalog cannot skip: drop every catalog and
    * ledger row whose doc_id is absent from `liveDocs` (the retention
    * set). A vacuumed id is fully forgotten — a later [[append]] of the
    * same id re-ingests it fresh (the ledger row is gone), which is
    * exactly right for a deletion followed by a legitimate re-upload.
    * Mechanics (dirty-file cost shape, snapshot-pointer swap, grace +
    * reap): [[graft.io.BatchStore.vacuum]].
    */
  def vacuum(s: SparkSession, dir: String,
      liveDocs: DataFrame): VacuumStats =
    opened(s, dir).vacuumByDocId(s, liveDocs)

  /** Eagerly reap retired files — [[graft.io.BatchStore.reapRetired]]. */
  def reapRetired(s: SparkSession, dir: String): Int =
    store(dir).reapRetired(s)
}
