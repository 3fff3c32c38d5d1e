package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming surface (SURVEY §2.C streaming row; the reference
  * has no streams, so this is the driver-mandated extension). The batch
  * twins live in [[graft.operators.Temporal]] and are oracle-checked; these
  * transformations share their semantics (same bucket/gap constants) so the
  * streaming path is validated against the batch results on the same data.
  *
  * All of these are *unbounded-input* designs: watermarks bound state, and
  * every aggregation is keyed so state partitions across executors.
  */
object StreamOps extends Serializable {

  /** Table dirs whose flat-layout migration guard has passed once this
    * JVM (driver-side; foreachBatch bodies run on the driver). See
    * [[ingestWithManifest]].
    */
  @transient private lazy val migrationChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** True microseconds since epoch. `Timestamp.getTime` is whole millis
    * (it already includes the integral-ms part of `getNanos`), so the
    * conversion floors getTime to seconds and adds the full
    * micros-of-second (getNanos is the NON-NEGATIVE fraction even for
    * pre-epoch instants, which is why the seconds division must FLOOR —
    * `/` truncates toward zero and would mis-place 1969-12-31T23:59:59.5
    * after the epoch). Naive `getTime * 1000 + getNanos / 1000`
    * double-counts the millisecond component and is non-monotonic across
    * second boundaries (12:00:00.600 would sort after 12:00:01.000).
    */
  private[streaming] def tsMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** The per-store commit marker for foreachBatch idempotence: reads and
    * writes live in ONE place so both ingest paths share the protocol.
    * Writes are write-temp-then-rename — `fs.create(marker, true)`
    * truncates in place, so a crash mid-write would otherwise leave an
    * empty marker that both loses the committed id and poisons every
    * restart with a parse failure.
    */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(marker)) -1L
    else {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path, batchId: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      marker.getParent, marker.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(marker)) fs.delete(marker, false)
    require(fs.rename(tmp, marker), s"marker rename $tmp -> $marker failed")
  }

  /** Tumbling 1-hour count per event type with a 10-minute watermark —
    * streaming Q-T01. Late events beyond the watermark are dropped;
    * in-watermark late data updates its window (Append emits only closed
    * windows).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        approx_count_distinct("user_id").as("approx_users"))
      .select(col("window.start").as("hr"), col("event_type"), col("cnt"),
        col("approx_users"))

  /** Sliding window: 1-hour windows advancing every 15 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("cnt"))

  /** Session windows with a 30-minute gap — streaming Q-T02 via the
    * built-in session_window (SURVEY §7.4 item 5: no custom state needed
    * for plain sessionization).
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("events"))

  /** Streaming exact dedup: drop events whose `keyCols` were already seen,
    * with state bounded by the watermark (a duplicate arriving later than
    * the watermark delay is passed through rather than state growing
    * forever — the streaming twin of the batch dropDuplicates dedup).
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment join: the static side is planned per
    * micro-batch, no watermark or state needed — the streaming twin of
    * the clone pipeline's dimension joins. `broadcastDim = true` hints
    * the static side for broadcast (correct for genuine dimension
    * tables); pass false for a large static side and let Spark's
    * size-based planning (or a bucketed layout co-partitioned with the
    * stream's shuffle) decide instead — force-broadcasting a big table
    * every micro-batch is a driver OOM at scale.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      joinCols: Seq[String], broadcastDim: Boolean = true): DataFrame = {
    val d = if (broadcastDim) org.apache.spark.sql.functions.broadcast(dim) else dim
    events.join(d, joinCols)
  }

  /** Stream-stream inner join: both sides buffer in state, so the join
    * condition MUST carry the event-time range bound — together with the
    * watermarks it lets Spark evict state for rows too old to ever match
    * again (a post-join filter would leave state unbounded, the classic
    * stream-join leak). Right-side events match a left event at the same
    * key within [leftTs, leftTs + maxGap]. Timestamp column names must
    * differ between the sides (both survive into the output).
    */
  def joinStreams(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, delay: String = "10 minutes",
      maxGap: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, delay)
    val r = right.withWatermark(rightTs, delay)
    l.join(r, l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + org.apache.spark.sql.functions.expr(s"INTERVAL $maxGap"))
      .drop(r(key))
  }

  /** Rate-limited file replay source — the ingestion-control answer for
    * a 100 TB backfill: `maxFilesPerTrigger` bounds how much each
    * micro-batch ingests, so replaying a huge landing zone can't build a
    * first batch larger than the cluster (the file-source analog of
    * Kafka's `maxOffsetsPerTrigger`; for a rate-limited Kafka replay set
    * that option the same way). Backpressure at the source is the only
    * kind Structured Streaming has — once a batch is formed it runs to
    * completion, so the knob IS the batch-size contract.
    */
  def replayFiles(s: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Micro-batch JDBC sink via foreachBatch: each batch goes through the
    * batch [[graft.io.Writers.jdbc]] path (batched prepared statements,
    * the reference's bulk-copy profile), giving the streaming pipeline the
    * same sink surface as the clone pipeline. foreachBatch is at-least-
    * once; pair with an idempotent or keyed target for exactly-once.
    */
  def foreachBatchJdbc(events: DataFrame, url: String, table: String,
      props: java.util.Properties, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.io.Writers.jdbc(batch, url, table, props)
      }

  /** Streaming incremental dedup — q_l40's daily-delta operator as a
    * continuous pipeline. Each micro-batch of documents finds its LSH
    * duplicate-candidate pairs against everything seen so far via
    * [[graft.operators.LLMOps.deltaDedupCandidates]] (shingling ONLY the
    * batch; history is the [[graft.operators.MinhashSnapshot]] store in
    * `snapshotDir`), writes them to `pairsDir`, then appends its own band
    * keys to the snapshot so later batches dedup against it. Every
    * candidate pair is emitted exactly once across a run — by the
    * micro-batch that completes it — so the union of emitted pairs equals
    * the full-corpus batch candidates (parity-checked in
    * StreamBatchParitySpec). Seed `snapshotDir` with
    * `MinhashSnapshot.bootstrap` (possibly of an empty frame) before
    * starting; readers see `ingest_batch` as a trailing partition column
    * on the pairs table.
    */
  def streamingDeltaDedup(docs: DataFrame, snapshotDir: String,
      pairsDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deltaDedupBatch(batch, batchId, snapshotDir, pairsDir)
      }

  /** One [[streamingDeltaDedup]] micro-batch, also [[ingestPipeline]]'s
    * step 3, exactly once under foreachBatch replay: the batch is one
    * snapshot append, whose body overwrites the batch's own
    * `ingest_batch=<id>` pairs partition before the band keys land. A
    * committed batch id no-ops; a torn attempt's half-landed bands are
    * removed before the pairs are computed, so the delta sees
    * strictly-earlier docs (its precondition).
    */
  private def deltaDedupBatch(batch: DataFrame, batchId: Long,
      snapshotDir: String, pairsDir: String): Unit = {
    import graft.operators.{LLMOps, MinhashSnapshot}
    val s = batch.sparkSession
    MinhashSnapshot.appendAfter(s, batch, snapshotDir, batchId) {
      LLMOps.deltaDedupCandidates(s, batch, snapshotDir)
        .write.mode("overwrite")
        .parquet(s"$pairsDir/ingest_batch=$batchId")
    }
  }

  /** Streaming parquet ingest that keeps the table's stats manifest
    * ([[graft.io.StatsManifest]]) current: each micro-batch appends its
    * rows under `tableDir`, then incrementally manifests ONLY the files
    * it just added (`StatsManifest.append` footer-reads new files alone —
    * history is never re-read, the same corpus-boundary contract as
    * [[streamingDeltaDedup]]'s band snapshot) and rewrites the manifest
    * table (overwrite is delete-then-write, not atomic — a concurrent
    * manifest reader should retry, or the manifest should live in a
    * table format with atomic swap; the DATA table is append-only and
    * never at risk). The manifest is the reader's snapshot: `readPruned`
    * opens ONLY manifest-listed files, so a reader on the N−1 manifest
    * sees the table as of batch N−1 — consistent, but batch N's rows
    * arrive only when its manifest publishes (the Delta/Iceberg version
    * contract; it is the STATS that are advisory, not the file list).
    * Readers that must see unpublished files read the directory
    * directly. The overwrite is safe
    * against its own read because `append` returns an EAGER localCheckpoint:
    * the updated manifest is materialized before the old one is replaced.
    * foreachBatch is at-least-once: each batch writes its own
    * `ingest_batch=<id>` partition subdirectory with OVERWRITE (the
    * decontamGate/ingestPipeline discipline), so a replayed batch
    * rewrites the same subdirectory instead of appending duplicate rows,
    * and the manifest tracks whatever files exist — append == rebuild at
    * every point (parity-checked in StreamBatchParitySpec).
    */
  def ingestWithManifest(docs: DataFrame, tableDir: String,
      manifestDir: String, statCols: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        manifestBatch(batch, batchId, tableDir, manifestDir, statCols)
      }

  /** One batch of [[ingestWithManifest]], shared with [[ingestPipeline]]'s
    * table step: write the batch's `ingest_batch=<id>` partition, then
    * append it to the manifest (or build the manifest when there is none)
    * and overwrite the manifest with the result.
    */
  private def manifestBatch(batch: DataFrame, batchId: Long,
      tableDir: String, manifestDir: String, statCols: Seq[String]): Unit = {
    import graft.io.{Readers, StatsManifest}
    val s = batch.sparkSession
    // MIGRATION GUARD: a table written by the pre-partitioned version
    // of this sink has parquet files flat at the tableDir root. Mixing
    // those with `ingest_batch=<id>` subdirectories is silent data
    // loss — Spark's partition discovery over a mixed-depth layout
    // returns ONLY the subdirectory rows, so every pre-upgrade row
    // would vanish from reads with no error. Fail loudly BEFORE the
    // first partitioned write creates that state; the fix is a
    // one-time relocation of the root files into a bootstrap
    // partition (e.g. `ingest_batch=-1`). The guard can only ever
    // fire before this sink's first partitioned write, so one clean
    // pass memoizes it — not a root listing (a LIST call on object
    // stores) per micro-batch for the stream's whole lifetime.
    if (!migrationChecked.contains(tableDir)) {
      val tPath = new org.apache.hadoop.fs.Path(tableDir)
      val tFs = tPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (tFs.exists(tPath)) {
        val rootParquet = tFs.listStatus(tPath)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        require(rootParquet.isEmpty,
          s"$tableDir holds ${rootParquet.length} root-level parquet " +
            "file(s) from a flat-layout ingest; writing ingest_batch=* " +
            "partitions beside them would silently hide every " +
            "root-level row from partition-discovery reads. Relocate " +
            s"them into $tableDir/ingest_batch=-1/ first.")
      }
      migrationChecked.add(tableDir)
    }
    batch.write.mode("overwrite")
      .parquet(s"$tableDir/ingest_batch=$batchId")
    val mPath = new org.apache.hadoop.fs.Path(manifestDir)
    val fs = mPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val updated =
      if (fs.exists(mPath) && StatsManifest.listParquet(s, manifestDir).nonEmpty)
        StatsManifest.append(s, tableDir, Readers.parquet(s, manifestDir), statCols)
      else StatsManifest.build(s, tableDir, statCols)
    updated.write.mode("overwrite").parquet(manifestDir)
  }

  /** Streaming twin of the CDC chunk store ([[graft.io.ChunkStore]]):
    * each micro-batch of arriving documents is ingested incrementally —
    * first batch builds the store, later batches [[graft.io.ChunkStore
    * .append]] only never-seen chunks. Same foreachBatch shape as
    * [[ingestWithManifest]]; per-batch cost is batch-chunking plus one
    * key-sized anti-join against the store, never a history re-read.
    *
    * foreachBatch is at-least-once, and a replayed batch carries the
    * SAME batchId — since r17 the store's own [[graft.io.BatchStore]]
    * discipline IS the replay contract (the ingestMedia shape): append
    * runs under the stream's batch id, a committed id no-ops, a crashed
    * attempt's remnants are deleted and rewritten, and append's
    * manifest doc_id anti-join makes even the bootstrap's
    * committed-but-unflagged window converge — the pre-r17 residual
    * (a crash between the append and the checkpoint-side marker
    * re-applied the batch and DUPLICATED manifest slots, corrupting
    * `materialize`'s byte-exact reconstruction) is closed, not
    * documented. The `_graft_last_batch` marker remains as the cheap
    * fast-path (one small read vs a flag glob). Reprocessing from a
    * CLEARED checkpoint restarts batch ids at 0 against a store whose
    * flags remember them — point the restarted stream at a fresh store
    * dir (or re-seed via [[graft.io.ChunkStore.write]], which drops
    * stale flags), same as ingestMedia.
    */
  def ingestChunkStore(docs: DataFrame, storeDir: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestChunkStoreBatch(batch, batchId, storeDir, checkpoint)
      }

  /** The per-batch body of [[ingestChunkStore]], exposed for the
    * idempotence pin in StreamOpsSpec: a second call with an
    * already-committed batchId must be a no-op.
    */
  private[graft] def ingestChunkStoreBatch(batch: DataFrame, batchId: Long,
      storeDir: String, markerDir: String): Unit = {
    val s = batch.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(s"$markerDir/_graft_last_batch")
    val fs = marker.getFileSystem(conf)
    if (batchId > readMarker(fs, marker)) {
      writeOrAppendStore(batch, storeDir, batchId)
      writeMarker(fs, marker, batchId)
    }
  }

  /** The chunk store's bootstrap-or-append branch, shared by both ingest
    * paths. Bootstrapped-ness is the store's SNAPSHOT flag (committed
    * LAST by `write`), not directory existence — a torn bootstrap reads
    * false and re-runs its overwrite-idempotent writes; a committed
    * bootstrap whose batch flag was lost replays down the APPEND path,
    * where the manifest doc_id anti-join blocks every row and the flag
    * recommits over zero new data (the ingestMedia bootstrap contract).
    */
  private def writeOrAppendStore(batch: DataFrame, storeDir: String,
      batchId: Long = -1L): Unit = {
    import graft.io.ChunkStore
    val s = batch.sparkSession
    if (ChunkStore.batchCommitted(s, storeDir, batchId.max(0L)) &&
        batchId >= 0L) return // committed batch replayed: no-op
    if (ChunkStore.bootstrapped(s, storeDir))
      ChunkStore.append(s, batch, storeDir, batchId)
    else {
      ChunkStore.write(batch, storeDir)
      if (batchId >= 0L)
        ChunkStore.commitBatchFlag(s, storeDir, batchId)
    }
  }

  /** Streaming vector ingestion into the persisted IVF store
    * ([[graft.operators.Ivf]]): each micro-batch of (vec_id, label,
    * embedding) rows appends via [[graft.operators.Ivf.maintainIndex]]
    * with the STREAM's batchId — the store's per-batch
    * `ingest_batch=<id>` OVERWRITE + `_batch-<id>` flag discipline IS
    * the foreachBatch replay contract, so a batch replayed after a lost
    * checkpoint commit rewrites its own partition and a completed batch
    * is a no-op, with no marker machinery beyond what the store already
    * carries. The first non-empty batch BOOTSTRAPS the store (label-
    * seeded centroids, like [[graft.operators.Ivf.bootstrapStore]]
    * callers everywhere); appends assign against the frozen serving
    * centroids and the store retrains itself when the incremental drift
    * readout crosses `driftThreshold` — the full maintenance lifecycle
    * (drift, retrain, version publication, racing-rewrite carry) runs
    * unchanged under streaming arrival, because the sink is just the
    * store's own batch API driven by the stream's ids.
    *
    * At 100 TB this is the shape a live embedding pipeline needs: the
    * per-batch cost is one batch-sized assignment pass plus O(cells ×
    * batches) metadata (never a history rescan), and serving reads
    * ([[graft.operators.Ivf.annFromStore]]/`annPqFromStore`) stay
    * available throughout — the `_ready` flag protocol means a reader
    * never sees a torn version, and a mid-append reader's worst case is
    * missing the one in-flight batch (the standard file-sink caveat,
    * same as [[ingestWithManifest]]).
    *
    * `compactEvery`/`vacuumRetainMs` wire the store's two maintenance
    * moves into the ingest loop as POLICY — the housekeeping a live
    * store otherwise needs an operator for: once the serving version
    * accumulates `compactEvery` ingest partitions, the sink compacts
    * (folding file count back to cells × filesPerCell), and with
    * `vacuumRetainMs >= 0` it then vacuums versions superseded past the
    * window — bounding both axes of unbounded growth (files per
    * version, versions per store). Housekeeping runs AFTER the batch's
    * flag commits and is best-effort: a crash in between skips one
    * round, never data, and the next batch catches up.
    */
  def ingestVectors(vecs: DataFrame, storeDir: String, checkpoint: String,
      driftThreshold: Double = 0.3, kmeansIters: Int = 2,
      compactEvery: Int = 0, vacuumRetainMs: Long = -1L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestVectorsBatch(batch, batchId, storeDir, driftThreshold,
          kmeansIters, compactEvery, vacuumRetainMs)
      }

  /** The per-batch body of [[ingestVectors]], exposed for the replay /
    * bootstrap / retrain pins in StreamOpsSpec. The bootstrap branch
    * commits its `_batch-<id>` flag itself (bootstrapStore predates
    * batch ids) and stakes a `_bootstrap_batch-<id>` marker BEFORE the
    * bootstrap runs — the marker closes the one crash window the flag
    * alone leaves open: a crash AFTER bootstrapStore publishes
    * `_ready-0` but BEFORE the flag lands would make the replayed batch
    * look like an ordinary append and maintainIndex would double-ingest
    * the whole bootstrap corpus as `ingest_batch=0`. With the marker,
    * the replay recognizes its batch as the consumed bootstrap and just
    * commits the flag; a crash BEFORE bootstrapStore re-runs it, whose
    * v0 writes are overwrite-idempotent. (foreachBatch replays the
    * failed batch before any later one, so the marker can never pin a
    * batch a different bootstrap beat to the store.) An empty
    * micro-batch commits its id and moves on (bootstrapping from zero
    * rows would train no centroids and poison every later read).
    */
  private[graft] def ingestVectorsBatch(batch: DataFrame, batchId: Long,
      storeDir: String, driftThreshold: Double = 0.3,
      kmeansIters: Int = 2, compactEvery: Int = 0,
      vacuumRetainMs: Long = -1L): Unit = {
    import graft.operators.Ivf
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val batchFlag = new org.apache.hadoop.fs.Path(s"$storeDir/_batch-$batchId")
    if (fs.exists(batchFlag)) return // completed batch replayed: no-op
    val bootMarker = new org.apache.hadoop.fs.Path(
      s"$storeDir/_bootstrap_batch-$batchId")
    val ready = fs.globStatus(new org.apache.hadoop.fs.Path(s"$storeDir/_ready-*"))
    val bootstrapped = ready != null && ready.nonEmpty
    if (!bootstrapped) {
      if (!batch.isEmpty) {
        fs.mkdirs(bootMarker.getParent)
        fs.create(bootMarker, true).close() // stake BEFORE the bootstrap
        Ivf.bootstrapStore(s, batch, storeDir, kmeansIters)
      }
      fs.create(batchFlag, true).close()
    } else if (fs.exists(bootMarker) || batch.isEmpty) {
      // this batch IS the consumed bootstrap (crash landed between
      // _ready and the flag) — or carries nothing: commit the id only
      fs.create(batchFlag, true).close()
    } else {
      Ivf.maintainIndex(s, storeDir, batch, batchId, driftThreshold,
        kmeansIters) // writes its own _batch flag
    }
    // HOUSEKEEPING, after the batch's own write committed its flag: the
    // maintenance policy a live store runs inline with ingestion.
    // Best-effort by design — a crash between the flag and here skips
    // one housekeeping round (the replay no-ops the append and the NEXT
    // batch's round catches up), never the data. compactEvery folds the
    // per-batch partition sprawl back to cells × filesPerCell once the
    // serving version accumulates that many ingest partitions (the
    // file-count growth appends trade for cheap writes); vacuumRetainMs
    // ≥ 0 then GCs versions superseded past the window — together they
    // bound BOTH axes of unbounded growth (files per version, versions
    // per store) without an operator in the loop.
    val nowReady = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$storeDir/_ready-*"))
    if (nowReady != null && nowReady.nonEmpty) { // no store yet: nothing to keep
      if (compactEvery > 0) {
        val serving = Ivf.describeStore(s, storeDir).collect()
          .filter(_.getBoolean(1)).maxBy(_.getLong(0))
        if (serving.getLong(4) >= compactEvery) Ivf.compactStore(s, storeDir)
      }
      if (vacuumRetainMs >= 0L) Ivf.vacuumStore(s, storeDir, vacuumRetainMs)
    }
  }

  /** Streaming MEDIA ingestion into the persisted fingerprint store
    * ([[graft.operators.FingerprintStore]]) — the arrival shape the
    * store exists for: a live media crawl delivers (doc_id, blob, meta)
    * rows continuously, each micro-batch decodes ONLY its never-seen
    * ids, and every near-dup analysis thereafter reads persisted
    * digests instead of re-decoding the corpus. The sink is the store's
    * own batch API driven by the stream's batch ids: the store's
    * `batch<id>-*` file prefix + `_batch-<id>` flag discipline IS the
    * foreachBatch replay contract — a batch replayed after a lost
    * checkpoint commit (or a crash at ANY point inside the append)
    * deletes its own remnants and rewrites, a completed batch no-ops —
    * so the catalogs are exactly-once under partial-failure replay with
    * no marker machinery beyond what the store already carries.
    *
    * The first non-empty batch BOOTSTRAPS the store at `audioBits`;
    * later batches append. The bootstrap needs no extra crash marker
    * (unlike [[ingestVectors]]'s): its catalog writes are
    * mode(overwrite) — a crash before the `_audiobits` marker re-runs
    * it idempotently — and a crash AFTER the marker but before the
    * batch flag replays down the APPEND path, where the fully-written
    * ledger anti-joins every id away and the flag commits over zero new
    * rows. An empty pre-bootstrap batch commits its id and waits
    * (bootstrapping zero rows would fix `audioBits` into an empty store
    * for no benefit).
    */
  def ingestMedia(media: DataFrame, storeDir: String, checkpoint: String,
      audioBits: Int = 32, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestMediaBatch(batch, batchId, storeDir, audioBits, compactEvery)
      }

  /** The per-batch body of [[ingestMedia]], exposed for the replay /
    * crash-window pins in StreamBatchParitySpec. With `compactEvery`
    * > 0, HOUSEKEEPING runs after the batch's flag commits (the
    * ingestVectors policy discipline): once the store's catalog
    * accumulates more than that many data files — every append lands
    * ~shuffle-partitions files, so a long-lived crawl
    * otherwise grows to the small-files wall — the store compacts.
    * Best-effort by design: a crash mid-compact leaves the recovery
    * marker, the NEXT batch's append rolls it back
    * ([[graft.operators.FingerprintStore.recover]] runs inside
    * append), and a later round re-compacts; data is never at risk,
    * only one housekeeping round.
    */
  private[graft] def ingestMediaBatch(batch: DataFrame, batchId: Long,
      storeDir: String, audioBits: Int = 32, compactEvery: Int = 0): Unit = {
    import graft.operators.FingerprintStore
    val s = batch.sparkSession
    // completed batch replayed: no-op. The committed check is
    // flag-OR-watermark — compact may have rolled this id's flag up
    if (FingerprintStore.batchCommitted(s, storeDir, batchId)) return
    if (!FingerprintStore.bootstrapped(s, storeDir)) {
      if (!batch.isEmpty)
        FingerprintStore.bootstrap(s, batch, storeDir, audioBits)
      FingerprintStore.commitBatchFlag(s, storeDir, batchId)
    } else {
      // append commits the _batch flag itself, including over an
      // all-overlap or empty batch
      FingerprintStore.append(s, batch, storeDir, batchId)
    }
    if (compactEvery > 0 && FingerprintStore.bootstrapped(s, storeDir) &&
        FingerprintStore.dataFileCount(s, storeDir) > compactEvery)
      FingerprintStore.compact(s, storeDir)
  }

  /** Streaming decontamination gate: per micro-batch of arriving
    * (doc_id, text[, ...]) documents, drop every doc that NEAR-matches
    * the held-out benchmark (the [[graft.operators.TrainPrep
    * .fuzzyDecontam]] semantics) BEFORE it lands — the admission control
    * a crawl loop runs so eval contamination never enters the corpus,
    * instead of being scrubbed after the fact. Clean docs append to
    * `$baseDir/clean/`; dropped docs land in `$baseDir/dropped/` with
    * their match evidence (bench_id, jaccard) for audit.
    *
    * The static benchmark side is shingled ONCE per store and PERSISTED
    * as per-doc shingle sets to `$baseDir/_bench_sets` (parquet,
    * [[persistedBenchSets]]): a restarted stream reloads the sets instead
    * of re-shingling the benchmark — restart parity is pinned in
    * StreamBatchParitySpec. Each batch then bands its own docs against a
    * scan of the sets through the row-local MinHash kernel
    * ([[graft.operators.TrainPrep.fuzzyDecontamAgainst]]): no aggregate
    * over the benchmark runs per batch. Same `_graft_last_batch` marker
    * contract as [[ingestChunkStore]] (documented there): replayed
    * batches no-op. The marker alone only guards COMPLETED batches; a
    * crash between the dropped/ and clean/ appends would replay the
    * batch, so each batch writes into its own `ingest_batch=<id>`
    * partition subdirectory with OVERWRITE — the replay rewrites the
    * same subdirectory and the sinks stay exactly-once under
    * partial-failure replay too. Readers see `ingest_batch` as a
    * trailing partition column.
    */
  def decontamGate(docs: DataFrame, bench: DataFrame, baseDir: String,
      checkpoint: String, threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val benchSets = persistedBenchSets(bench, s"$baseDir/_bench_sets")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        decontamGateBatch(batch, batchId, benchSets, baseDir, checkpoint,
          threshold)
      }
  }

  /** Benchmark shingle sets (bench_id, sh) ([[graft.operators.TrainPrep
    * .benchSetsOf]]), computed once per STORE (not per stream lifetime):
    * first start shingles the benchmark and persists the sets to parquet;
    * every restart reloads them from disk. A localCheckpoint here would
    * silently re-shingle the benchmark on every restart — harmless for a
    * small eval suite but a contract violation once the gate guards many
    * streams against a large benchmark union. Deterministic content, so a
    * concurrent double start overwrites with identical bytes.
    *
    * The banded join needs one row per bench_id, so a benchmark with a
    * duplicate bench_id is refused here, once, before publication — not
    * per batch. The result is read back through [[graft.io.Readers
    * .parquet]] (schema from one footer, no inference job). Publishing
    * removes a `_bench_postings` directory beside `dir`: the postings
    * cache earlier versions of the gate kept, which nothing reads now.
    */
  private[graft] def persistedBenchSets(bench: DataFrame, dir: String): DataFrame = {
    import graft.io.Readers
    import graft.operators.TrainPrep
    import org.apache.hadoop.fs.Path
    val s = bench.sparkSession
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // STAGE-AND-RENAME publication: parquet overwrite is delete-then-
    // write, so two streams bootstrapping the same baseDir could
    // interleave and a reader could list a half-written directory. The
    // sets are written COMPLETELY into a private staging directory (flag
    // file last) and published with one atomic rename; a loser of the
    // publish race discards its stage and reads the winner's copy. A
    // directory WITHOUT the flag is a crashed write and is rebuilt.
    val readyFlag = new Path(p, "_graft_ready")
    if (!fs.exists(readyFlag)) {
      val stage = new Path(
        dir + "__stage-" + java.util.UUID.randomUUID().toString)
      TrainPrep.benchSetsOf(bench).write.mode("overwrite").parquet(stage.toString)
      val ids = Readers.parquet(s, stage.toString)
        .agg(count(lit(1)), countDistinct(col("bench_id"))).head()
      if (ids.getLong(0) != ids.getLong(1)) {
        fs.delete(stage, true)
        throw new IllegalArgumentException(s"benchmark for $dir has " +
          s"${ids.getLong(0) - ids.getLong(1)} duplicate bench_id row(s); " +
          "the banded join needs one row per bench_id")
      }
      fs.create(new Path(stage, "_graft_ready"), true).close()
      if (fs.exists(p) && !fs.exists(readyFlag))
        fs.delete(p, true) // crashed write: replace wholesale
      publishStagedDir(fs, stage, p)
      fs.delete(new Path(p.getParent, "_bench_postings"), true)
    }
    Readers.parquet(s, dir)
  }

  /** Publish a fully-staged directory to `dest` with rename semantics
    * that survive losing a concurrent race for the same destination.
    * Hadoop's `rename(src, dst)` into an EXISTING directory does not
    * fail — it moves (HDFS) or copies (RawLocalFileSystem's fallback)
    * the source INSIDE dst and returns true — so the old
    * `if (!rename) delete(stage)` loser branch was dead code and the
    * loser's full copy nested itself into the published table forever.
    * The loser is detected by the destination existing (before the
    * rename, or nested inside it after a lost photo-finish) and its
    * stage discarded; contents are deterministic, so the winner's copy
    * is identical.
    */
  private[graft] def publishStagedDir(fs: org.apache.hadoop.fs.FileSystem,
      stage: org.apache.hadoop.fs.Path,
      dest: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(dest) && fs.rename(stage, dest)) {
      // a racing winner may have created dest between the exists check
      // and the rename, nesting our whole stage inside the winner's copy
      val nested = new org.apache.hadoop.fs.Path(dest, stage.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
    }
    if (fs.exists(stage)) fs.delete(stage, true) // lost the race outright
  }

  /** The per-batch body of [[decontamGate]], exposed for the replay pins
    * in StreamBatchParitySpec: a call with an already-committed batchId
    * must no-op, and a REPLAY of an uncommitted batch (crash before the
    * marker write, after some sinks landed) must leave the sinks with
    * exactly one copy of the batch's rows.
    */
  private[graft] def decontamGateBatch(batch: DataFrame, batchId: Long,
      benchSets: DataFrame, baseDir: String, checkpoint: String,
      threshold: Double): Unit = {
    import graft.operators.TrainPrep
    val s = batch.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val marker =
      new org.apache.hadoop.fs.Path(s"$checkpoint/_graft_last_batch")
    val fs = marker.getFileSystem(conf)
    if (batchId > readMarker(fs, marker)) {
      // the batch frame is re-derived per consumer below (matches +
      // anti-join); pin it once so the source isn't re-read twice
      val b = batch.localCheckpoint()
      val matches = TrainPrep
        .fuzzyDecontamAgainst(b, benchSets, threshold)
        .localCheckpoint() // evidence consumed twice (dropped + anti)
      matches.write.mode("overwrite")
        .parquet(s"$baseDir/dropped/ingest_batch=$batchId")
      b.join(matches.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        .write.mode("overwrite")
        .parquet(s"$baseDir/clean/ingest_batch=$batchId")
      writeMarker(fs, marker, batchId)
    }
  }

  /** The composed corpus-ingest pipeline — every streaming ingest piece
    * run as ONE foreachBatch, the shape a production crawl loop actually
    * deploys. Per micro-batch of (doc_id, text[, ...]) documents, under
    * `baseDir`:
    *   0. `rejected/` — OPT-IN admission control: the map-side qL22
    *                    quality gate (`qualityGate = true`) and/or fuzzy
    *                    benchmark decontamination (`decontamBench`, its
    *                    shingle sets persisted once to `_bench_sets/` —
    *                    [[decontamGate]]'s per-batch path) run FIRST;
    *                    rejects land here with a `reason` column and
    *                    never reach any other sink;
    *   1. `store/`    — chunk-store build/append (only never-seen chunks
    *                    land; [[ingestChunkStoreBatch]]'s logic);
    *   2. `table/`    — raw batch appended as parquet, and
    *      `manifest/`  — the stats manifest incrementally republished
    *                    (only the new files get footer reads):
    *                    [[ingestWithManifest]]'s batch body, flat-layout
    *                    migration guard included;
    *   3. `pairs/`    — near-dup candidate pairs touching this batch,
    *                    banded against the running snapshot, and
    *      `snapshot/` — a [[graft.operators.MinhashSnapshot]] the batch's
    *                    band keys are then appended to (seeded empty once,
    *                    when absent): [[streamingDeltaDedup]]'s body.
    * One checkpoint-resident `_graft_last_batch` marker skips fully
    * committed batches under foreachBatch's at-least-once replay (same
    * identity contract as [[ingestChunkStore]], documented there), and
    * the marker's residual window — a crash BETWEEN sink writes replays
    * the batch — is closed per sink: rejected/, table/ and pairs/ write
    * into per-batch `ingest_batch=<id>` partition subdirectories with
    * OVERWRITE (the replay rewrites the same subdirectory), the chunk
    * store's append is a key-sized anti-join (already-landed chunks
    * don't re-land), the manifest append left-semi-joins the live file
    * listing (rows for overwritten files drop out), and the snapshot
    * append is exactly-once under the stream's batch id — a batch lands
    * O(batch) files, never rewriting history. Readers of the partitioned
    * sinks see `ingest_batch` as a trailing partition column. Accumulated
    * `pairs/` over any batch split equals the batch q_l06 full-corpus
    * candidate set: within-batch pairs surface when the batch arrives,
    * cross-batch pairs when their later endpoint does — pinned in
    * StreamBatchParitySpec.
    */
  def ingestPipeline(docs: DataFrame, baseDir: String,
      checkpoint: String,
      qualityGate: Boolean = false,
      decontamBench: Option[DataFrame] = None,
      decontamThreshold: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.{MinhashSnapshot, TrainPrep}
    // the static benchmark side is shingled ONCE and persisted, outside
    // the stream (the decontamGate contract): batches pay only their own
    // shingling, and a restarted stream reloads instead of re-shingling
    val benchSets = decontamBench.map(bench =>
      persistedBenchSets(bench, s"$baseDir/_bench_sets"))
    // seeded only when absent: a restarted stream keeps the history its
    // committed batches appended
    val snapDir = s"$baseDir/snapshot"
    val ss = docs.sparkSession
    val snapPath = new org.apache.hadoop.fs.Path(snapDir)
    if (!snapPath.getFileSystem(ss.sparkContext.hadoopConfiguration).exists(snapPath))
      MinhashSnapshot.bootstrap(ss, ss.createDataFrame(ss.sparkContext.emptyRDD[Row],
        docs.select("doc_id", "text").schema), snapDir)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(s"$checkpoint/_graft_last_batch")
        val fs = marker.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
        if (batchId > readMarker(fs, marker)) {
          // the batch feeds three consumers (chunking, manifest write,
          // shingling) — materialize once instead of re-reading the
          // source three times
          val raw = batch.localCheckpoint()

          // 0) ADMISSION (opt-in): quality gate, then benchmark
          // decontamination — rejects land in rejected/ with a reason
          // column for audit; only admitted docs reach any sink, so at
          // crawl scale contamination and junk never enter the corpus
          // rejects from both gates accumulate and land in ONE write so
          // the batch's rejected/ partition holds the complete audit row
          // set (two sequential overwrites of the same subdirectory would
          // keep only the second gate's rows)
          var b = raw
          var rejects = Seq.empty[DataFrame]
          if (qualityGate) {
            val ok = TrainPrep.qualitySurvivors(b).localCheckpoint()
            rejects :+= b.join(ok.select("doc_id"), Seq("doc_id"), "left_anti")
              .withColumn("reason", lit("quality"))
            b = ok
          }
          benchSets.foreach { bs =>
            val contaminated = TrainPrep
              .fuzzyDecontamAgainst(b, bs, decontamThreshold)
              .select("doc_id").distinct().localCheckpoint()
            rejects :+= b.join(contaminated, Seq("doc_id"), "left_semi")
              .withColumn("reason", lit("contaminated"))
            b = b.join(contaminated, Seq("doc_id"), "left_anti")
              .localCheckpoint()
          }
          rejects.reduceOption(_ unionByName _).foreach(
            _.write.mode("overwrite")
              .parquet(s"$baseDir/rejected/ingest_batch=$batchId"))

          // 1) chunk store (shared bootstrap-or-append branch, the
          // stream's batch id — a replay no-ops at the store's own flag)
          writeOrAppendStore(b.select("doc_id", "text"),
            s"$baseDir/store", batchId)

          // 2) raw table + incremental manifest: batch-stamped partition
          // + overwrite, so a partial-failure replay rewrites the SAME
          // subdirectory instead of appending duplicate rows; the
          // manifest's append (left-semi against the live file listing)
          // drops any rows for files the overwrite removed
          manifestBatch(b, batchId, s"$baseDir/table", s"$baseDir/manifest",
            Seq("doc_id"))

          // 3) banded delta-dedup against the running snapshot
          deltaDedupBatch(b, batchId, snapDir, s"$baseDir/pairs")

          writeMarker(fs, marker, batchId)
        }
      }
  }

  // ---- custom stateful path: flatMapGroupsWithState ----------------------

  final case class Event(user_id: Long, ts: Timestamp, event_type: String)
  final case class SessionState(sessionStartUs: Long, lastSeenUs: Long, nEvents: Long)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Custom sessionization via flatMapGroupsWithState — the escape hatch
    * for session payloads session_window can't express (e.g. carrying
    * custom per-session aggregates). Emits a session when its gap timeout
    * expires. State per user is O(1); the watermark bounds total state.
    */
  /** The [[statefulSessions]] semantics re-expressed on Spark 4's
    * `transformWithState` (arbitrary stateful processing v2): typed
    * `ValueState` from the handle, EXPLICIT event-time timers
    * (register/delete) instead of the single implicit fMGWS timeout, and
    * the RocksDB state-store provider it requires — the API new state
    * gets written against, proven here to carry the same session
    * semantics (exact-output parity with the fMGWS twin is pinned in
    * StreamOpsSpec). Per-user state stays O(1); the watermark bounds
    * timers and state exactly as before.
    */
  def statefulSessionsTws(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor,
      TTLConfig, TimeMode, TimerValues, ValueState}
    val gapUs = gapMinutes * 60L * 1000000L

    class SessionProcessor extends StatefulProcessor[Long, Event, SessionOut] {
      @transient private var st: ValueState[SessionState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[SessionState]("session",
          org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

      private def micros(t: Timestamp): Long = tsMicros(t)

      override def handleInputRows(userId: Long, rows: Iterator[Event],
          timers: TimerValues): Iterator[SessionOut] = {
        var out = List.empty[SessionOut]
        var cur = if (st.exists()) Some(st.get()) else None
        rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
          val us = micros(e.ts)
          cur match {
            case Some(s) if us - s.lastSeenUs <= gapUs =>
              cur = Some(s.copy(
                sessionStartUs = math.min(s.sessionStartUs, us),
                lastSeenUs = math.max(s.lastSeenUs, us),
                nEvents = s.nEvents + 1))
            case Some(s) =>
              out ::= SessionOut(userId, new Timestamp(s.sessionStartUs / 1000L),
                new Timestamp(s.lastSeenUs / 1000L), s.nEvents)
              cur = Some(SessionState(us, us, 1L))
            case None =>
              cur = Some(SessionState(us, us, 1L))
          }
        }
        cur.foreach { s =>
          st.update(s)
          // explicit timer management replaces fMGWS's setTimeoutTimestamp:
          // drop any stale timer, arm one at lastSeen+gap (floored past the
          // watermark, which rejects already-expired registrations)
          getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
          val timeoutMs = s.lastSeenUs / 1000L + gapMinutes * 60L * 1000L
          getHandle.registerTimer(
            math.max(timeoutMs, timers.getCurrentWatermarkInMs() + 1000L))
        }
        out.reverseIterator
      }

      override def handleExpiredTimer(userId: Long, timers: TimerValues,
          expired: ExpiredTimerInfo): Iterator[SessionOut] = {
        if (!st.exists()) return Iterator.empty
        val s = st.get()
        st.clear()
        Iterator(SessionOut(userId, new Timestamp(s.sessionStartUs / 1000L),
          new Timestamp(s.lastSeenUs / 1000L), s.nEvents))
      }
    }

    events
      .withWatermark("ts", "10 minutes")
      .selectExpr("user_id", "ts", "event_type")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }

  final case class KeyCount(user_id: Long, cnt: Long)

  /** Per-key running counts on `transformWithState`'s OTHER mode —
    * `TimeMode.ProcessingTime` with state TTL (`TTLConfig`), the idiom for
    * "forget keys not seen for X" caches (dim lookups, rate limits) where
    * no event-time watermark exists. Spark 4.1 trap, reproduced and
    * pinned in StreamOpsSpec: in ProcessingTime mode the planner keeps
    * scheduling micro-batches to advance processing time for TTL/timers,
    * so an unbounded-trigger query never drains and
    * `processAllAvailable()` livelocks. ProcessingTime+TTL pipelines must
    * therefore run under a BOUNDED trigger (`Trigger.AvailableNow`, or a
    * periodic trigger without drain-and-wait); state resumes from the
    * checkpoint across runs. EventTime+explicit-timer pipelines
    * ([[statefulSessionsTws]]) drain normally. The spec fails if either
    * arm stops holding.
    */
  def ttlCountsTws(spark: SparkSession, events: DataFrame,
      ttlMs: Long): Dataset[KeyCount] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TTLConfig,
      TimeMode, TimerValues, ValueState}

    class CountProcessor extends StatefulProcessor[Long, Event, KeyCount] {
      @transient private var st: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[Long]("cnt",
          org.apache.spark.sql.Encoders.scalaLong,
          TTLConfig(java.time.Duration.ofMillis(ttlMs)))

      override def handleInputRows(key: Long, rows: Iterator[Event],
          timers: TimerValues): Iterator[KeyCount] = {
        // an expired (TTL-evicted) value reads as absent — the count
        // restarts, which is exactly the cache semantics TTL buys
        val prev = if (st.exists()) st.get() else 0L
        val n = prev + rows.size
        st.update(n)
        Iterator(KeyCount(key, n))
      }
    }

    events.selectExpr("user_id", "ts", "event_type").as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new CountProcessor, TimeMode.ProcessingTime(),
        OutputMode.Update())
  }

  final case class TypeStats(user_id: Long, event_type: String, cnt: Long,
      recent_path: String)

  /** Per-user composite state on `transformWithState`'s remaining typed
    * primitives — `MapState` (per-event-type counts) and `ListState`
    * (bounded last-`k` event-type ring) — under `TimeMode.None`, the
    * time-free arbitrary-state mode (drains normally; no timers, no TTL,
    * no watermark requirement). Emits, per user per batch, one row per
    * type TOUCHED in that batch carrying its running count and the
    * current ring. State per user is O(#types + k); StreamOpsSpec pins
    * exact parity with the batch groupBy/window twin.
    */
  def typeStatsTws(spark: SparkSession, events: DataFrame,
      k: Int = 3): Dataset[TypeStats] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{ListState, MapState,
      StatefulProcessor, TTLConfig, TimeMode, TimerValues}

    class StatsProcessor extends StatefulProcessor[Long, Event, TypeStats] {
      @transient private var counts: MapState[String, Long] = _
      @transient private var recent: ListState[String] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        val enc = org.apache.spark.sql.Encoders
        counts = getHandle.getMapState[String, Long]("counts",
          enc.STRING, enc.scalaLong, TTLConfig.NONE)
        recent = getHandle.getListState[String]("recent",
          enc.STRING, TTLConfig.NONE)
      }

      override def handleInputRows(userId: Long, rows: Iterator[Event],
          timers: TimerValues): Iterator[TypeStats] = {
        val batch = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_type))
        val touched = collection.mutable.LinkedHashSet.empty[String]
        batch.foreach { e =>
          val next = (if (counts.containsKey(e.event_type))
            counts.getValue(e.event_type) else 0L) + 1L
          counts.updateValue(e.event_type, next)
          recent.appendValue(e.event_type)
          touched += e.event_type
        }
        // trim the ring to its cap once per batch, not once per event —
        // ListState reads are store scans, appends are cheap
        val ring = recent.get().toArray.takeRight(k)
        recent.put(ring)
        val path = ring.mkString(">")
        touched.iterator.map(t =>
          TypeStats(userId, t, counts.getValue(t), path))
      }
    }

    events.selectExpr("user_id", "ts", "event_type").as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new StatsProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  def statefulSessions(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        // gap timeout expired with no new events: close and emit the session
        val s = state.get
        state.remove()
        Iterator(SessionOut(userId, new Timestamp(s.sessionStartUs / 1000L),
          new Timestamp(s.lastSeenUs / 1000L), s.nEvents))
      } else {
        var out = List.empty[SessionOut]
        var st = state.getOption
        // µs-exact to match the batch twin Temporal.qT02 (see tsMicros)
        def micros(t: Timestamp): Long = tsMicros(t)
        rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
          val us = micros(e.ts)
          st match {
            case Some(s) if us - s.lastSeenUs <= gapUs =>
              // max(): a late in-watermark event from an earlier batch must
              // not move the session's high-water mark backwards (that
              // would cause false splits and regressed session ends)
              st = Some(s.copy(
                sessionStartUs = math.min(s.sessionStartUs, us),
                lastSeenUs = math.max(s.lastSeenUs, us),
                nEvents = s.nEvents + 1))
            case Some(s) => // gap exceeded: close previous session, open new
              out ::= SessionOut(userId, new Timestamp(s.sessionStartUs / 1000L),
                new Timestamp(s.lastSeenUs / 1000L), s.nEvents)
              st = Some(SessionState(us, us, 1L))
            case None =>
              st = Some(SessionState(us, us, 1L))
          }
        }
        st.foreach { s =>
          state.update(s)
          // the timeout must not trail the watermark (Spark rejects that);
          // a session already older than the watermark times out next batch
          val timeoutMs = s.lastSeenUs / 1000L + gapMinutes * 60L * 1000L
          state.setTimeoutTimestamp(math.max(timeoutMs, state.getCurrentWatermarkMs() + 1000L))
        }
        out.reverseIterator
      }
    }

    events
      .withWatermark("ts", "10 minutes")
      .selectExpr("user_id", "ts", "event_type")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
