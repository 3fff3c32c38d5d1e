package graft.operators

import graft.Tables
import graft.functions.VectorCentroid
import graft.io.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-flavored approximate nearest neighbor (driver mandate: "an IVF or
  * LSH-bucketed variant as the scale path" — LSH lives in
  * [[Similarity]]; this is the inverted-file variant).
  *
  * Train: one centroid per cell via the [[VectorCentroid]] typed
  * aggregator (cells seeded from the corpus label — a stand-in coarse
  * quantizer; k-means iterations would reuse exactly this
  * assign→re-centroid loop). Index: each vector assigned to its nearest
  * centroid cell — one narrow (cell, vec) table, broadcast-joined against
  * the tiny centroid set. Search: rank cells by query-to-centroid
  * similarity, scan only the top `nprobe` cells, exact cosine re-rank
  * inside. At 100 TB the index table is partitioned by cell, so a probe
  * touches nprobe partitions instead of the corpus.
  */
object Ivf {

  /** Shared re-centroid step: (cell, embedding) rows → (cell, centroid). */
  private def centroidsOf(s: SparkSession, assigned: DataFrame): DataFrame = {
    import s.implicits._
    assigned.select(col("cell").cast("string"), col("embedding"))
      .as[(String, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(VectorCentroid.toColumn.name("centroid"))
      .toDF("cell", "centroid")
  }

  /** Centroids per cell: (cell, centroid: array<float>). */
  def trainCentroids(s: SparkSession, embeddings: DataFrame,
      cellCol: String = "label"): DataFrame =
    centroidsOf(s, embeddings.select(col(cellCol).as("cell"), col("embedding")))

  /** Lloyd's k-means refinement of the coarse quantizer: `iters` rounds of
    * assign (broadcast centroids, one corpus pass) → re-centroid (the
    * VectorCentroid aggregator). Only the k centroid vectors — O(cells)
    * metadata, not data — ever reach the driver. Initial centroids come
    * from the deterministic per-label means, so every run converges
    * identically.
    */
  def kmeans(s: SparkSession, embeddings: DataFrame, initial: DataFrame,
      iters: Int = 3): DataFrame = {
    var centroids = initial
    (0 until iters).foreach { _ =>
      val assigned = buildIndex(embeddings, centroids)
      val recomputed = centroidsOf(s, assigned)
      // a cell that captured no vectors this round would silently vanish
      // (shrinking k); carry its previous centroid forward instead
      val kept = centroids.join(recomputed, Seq("cell"), "left_anti")
      centroids = recomputed.unionByName(kept)
    }
    centroids
  }

  /** Mean within-cell cosine distance — the k-means objective, used to
    * check refinement actually tightens the cells.
    */
  def distortion(embeddings: DataFrame, centroids: DataFrame): Double =
    buildIndex(embeddings, centroids)
      .join(broadcast(centroids), Seq("cell"))
      .select(avg(lit(1.0) - Similarity.cosineSafe(col("embedding"), col("centroid"))))
      .first().getDouble(0)

  /** Assign every vector to its nearest centroid. Assignment is a
    * row-local argmax over O(cells) metadata, so this is ONE map-only
    * pass over the corpus with ZERO shuffle: the centroid set (already
    * driver-sized by the [[kmeans]] contract) rides into the row scan
    * as the [[graft.functions.NearestCell]] codegen expression — score
    * each cell with the exact [[Similarity.cosineSafe]] arithmetic,
    * keep the best, ties to the smallest cell id. The previous shape
    * cross-joined the corpus against the centroids and ranked with a
    * window partitioned by vec_id — a corpus × cells exchange,
    * embeddings included, on EVERY bootstrap / append / retrain /
    * Lloyd iteration; at 100 TB that shuffle is the whole cost, and it
    * bought nothing a per-row loop doesn't.
    */
  def buildIndex(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val rows = centroids.select(col("cell").cast("string"), col("centroid"))
      .collect().sortBy(_.getString(0)) // stable plan; argmax is order-free
    // orig_batch provenance, when the caller carries it (a retrain's
    // re-assignment of the serving view), rides through the assignment
    // untouched — re-assignment changes cells, never ingest history
    val passthrough =
      embeddings.columns.filter(_ == "orig_batch").map(col).toIndexedSeq
    embeddings
      .withColumn("cell", graft.functions.NearestCell(col("embedding"),
        rows.map(_.getString(0)).toSeq,
        rows.map(_.getSeq[Float](1).toArray).toSeq))
      .filter(col("cell").isNotNull) // no centroids / no matching dim
      .select(Seq(col("cell"), col("vec_id"), col("embedding")) ++
        passthrough: _*)
  }

  /** Incremental index maintenance: assign ONLY the arriving batch
    * against the FROZEN serving centroids and union it in — the index
    * twin of the corpus-boundary contract every incremental operator
    * here honors (delta-dedup, manifest append, chunk-store append):
    * history is never re-assigned, the per-batch cost is one
    * batch-sized pass against O(cells) broadcast metadata. Because
    * assignment is a deterministic argmax over fixed centroids, the
    * appended index equals a full rebuild with the same centroids —
    * pinned in EngineSpec — so serving correctness never depends on
    * WHEN a vector arrived.
    */
  def appendIndex(index: DataFrame, newVecs: DataFrame,
      centroids: DataFrame): DataFrame =
    index.unionByName(buildIndex(newVecs, centroids))

  /** Per-cell centroid DRIFT after appends: cosine distance between each
    * frozen serving centroid and the true mean of the cell's CURRENT
    * members — the retrain trigger an IVF maintenance loop watches.
    * Frozen centroids keep assignment stable and cheap; once the data
    * distribution moves (new domains, new languages), cells stretch and
    * recall decays silently. This readout makes that visible: re-run
    * [[kmeans]] when max drift crosses the operating threshold. One
    * aggregate over the index + an O(cells) join — no corpus re-scan
    * beyond the per-cell mean.
    */
  def centroidDrift(s: SparkSession, index: DataFrame,
      frozen: DataFrame): DataFrame =
    // LEFT join FROM the frozen set: a cell whose members all drained
    // away must show up (n_members = 0, drift NULL), not silently vanish
    // from the very readout that exists to catch dead cells
    broadcast(frozen)
      .join(centroidsOf(s, index).withColumnRenamed("centroid", "current"),
        Seq("cell"), "left_outer")
      .join(index.groupBy("cell").agg(count(lit(1)).as("n")),
        Seq("cell"), "left_outer")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_members"),
        when(col("current").isNull, lit(null).cast("double"))
          .otherwise(lit(1.0)
            - Similarity.cosineSafe(col("current"), col("centroid")))
          .as("drift"))
      .orderBy("cell")

  /** ANN query: probe the `nprobe` cells nearest the query vector. The
    * query embedding comes from the raw table (one pushed-filter scan, not
    * the index lineage) and the centroid set — O(cells) — is cached so the
    * index and probe branches don't recompute the training aggregation.
    */
  def annIvf(s: SparkSession, d: String, queryVecId: Long = 0,
      k: Int = 10, nprobe: Int = 2): DataFrame = {
    val e = Tables.embeddings(s, d)
    // the centroid set is O(cells) metadata — localize it once instead of
    // caching the training lineage, so repeated ANN queries in a long-lived
    // session hold no executor cache (and the index + probe branches still
    // share one materialization)
    val trained = trainCentroids(s, e)
    val centroids = s.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)
    val index = buildIndex(e, centroids)
    val q = e.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val probeCells = centroids.crossJoin(broadcast(q))
      .withColumn("c_sim", Similarity.cosineSafe(col("centroid"), col("q_emb")))
      .orderBy(col("c_sim").desc).limit(nprobe)
      .select("cell")
    index.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(probeCells), Seq("cell"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), Similarity.cosineSafe(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Q-L14 — IVF ANN top-10, oracle-checked against the exact brute-force
    * answer. nprobe is pinned to the cell count (exhaustive probe): the
    * synthetic corpus is isotropic (max pairwise cosine ~0.51, no cluster
    * structure), so neighbors scatter uniformly over cells and ANY partial
    * probe drops some of the true top-10 — measured: even kmeans-refined
    * centroids at nprobe=8/10 miss. The full machinery still runs (rank
    * cells by query→centroid similarity, scan selected cells, exact
    * re-rank); on production corpora, which cluster, nprobe≪cells is the
    * operating point and the recall/nprobe trade is covered by
    * EngineSpec's distortion/kmeans properties.
    */
  def qL14(s: SparkSession, d: String): DataFrame = annIvf(s, d, nprobe = 10)

  // ---- persisted index store with automated drift-triggered retrain ----

  /** One maintenance round's report: the serving version AFTER the round,
    * the max per-cell drift observed against the serving centroids, and
    * whether that drift crossed the threshold and triggered a retrain.
    */
  final case class IvfMaintenance(version: Long, maxDrift: Double,
      retrained: Boolean)

  /** Version publication via APPEND-ONLY ready flags: version N serves
    * once `_ready-N` exists, and the current version is the max flagged
    * N. No flag is ever deleted or renamed, so there is no window where
    * a reader finds NO marker (the delete-then-rename flip this replaced
    * had one) and no torn content to read — the flag's existence IS the
    * signal, and a version directory is fully written BEFORE its flag.
    *
    * This is deliberately NOT [[graft.io.BatchStore]] (the lifecycle
    * core the flat-catalog stores share): a versioned-centroid index
    * re-interprets every row at retrain, so its commit unit is a whole
    * `v<N>/` tree, not a file set within fixed catalogs — see the
    * "Why the IVF store does NOT ride this core" section in
    * BatchStore's scaladoc for the full argument. The POSTURE is
    * shared (flag-last commit, replay-idempotent landing, grace-then-
    * reap retention, deletion-safe recovery); the metadata shape is
    * not.
    */
  private def fsOf(s: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def readVersion(s: SparkSession, dir: String): Long = {
    val fs = fsOf(s, dir)
    val versions = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$dir/_ready-*"))
    require(versions != null && versions.nonEmpty,
      s"no IVF store at $dir — bootstrapStore first")
    versions.map(_.getPath.getName.stripPrefix("_ready-").toLong).max
  }

  private def publishVersion(s: SparkSession, dir: String, v: Long): Unit =
    fsOf(s, dir).create(
      new org.apache.hadoop.fs.Path(s"$dir/_ready-$v"), true).close()

  /** Every write into `v<N>/index` — bootstrap, retrain, append — lands in
    * its own `ingest_batch=<id>` partition (bootstrap/retrain use the
    * reserved id -1), sub-partitioned BY CELL. A UNIFORM layout is
    * load-bearing, not cosmetic: Spark's partition discovery over a
    * layout that mixes root-level files with `key=value` subdirectories
    * silently returns ONLY the subdirectory rows, so a flat bootstrap
    * index would vanish from every read the moment the first append
    * created a partition dir. The cell level is the SERVING layout: an
    * ANN probe filters `cell IN (<nprobe cells>)` and partition pruning
    * drops every other cell's files at planning time — the "a probe
    * touches nprobe partitions instead of the corpus" contract, real
    * instead of asserted (pinned on the executed plan in EngineSpec).
    */
  private val BootstrapBatch = -1L

  /** Write an index slice, PQ-encoding a `codes` column beside the
    * embedding when the store carries a codebook (see [[enablePq]]).
    * Codes ride the SAME parquet files as the embeddings: columnar
    * storage means the compressed serving path reads (vec_id, codes)
    * and never touches the embedding column, while the exact path
    * prunes codes away — one table, two access patterns, zero extra
    * shuffles or sidecar consistency to manage.
    */
  private def writeIndex(index: DataFrame, path: String,
      cb: Option[graft.functions.PqCodebook] = None): Unit = {
    val withCodes = cb match {
      case Some(book) => index.withColumn("codes",
        graft.functions.PqCodec.pqEncode(col("embedding"), book))
      case None => index
    }
    withCodes.write.partitionBy("cell").mode("overwrite").parquet(path)
  }

  /** Row count as a typed aggregate, so [[cellStatsOf]] computes (mean, n)
    * in ONE pass beside [[VectorCentroid]] instead of a second scan.
    */
  private object CountRows extends org.apache.spark.sql.expressions
      .Aggregator[Array[Float], Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, v: Array[Float]): Long = b + 1
    override def merge(a: Long, b: Long): Long = a + b
    override def finish(r: Long): Long = r
    override def bufferEncoder = org.apache.spark.sql.Encoders.scalaLong
    override def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  /** Per-cell (n, mean) statistics of an index slice — the O(cells)
    * summary that makes drift maintenance incremental (see
    * [[maintainIndex]]). Mean and count ride the SAME typed aggregation,
    * so the slice is scanned exactly once — on a compaction/retrain the
    * slice is the whole corpus, where the old two-pass shape cost an
    * extra corpus scan per rewrite.
    */
  private def cellStatsOf(s: SparkSession, index: DataFrame): DataFrame = {
    import s.implicits._
    index.select(col("cell").cast("string"), col("embedding"))
      .as[(String, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(VectorCentroid.toColumn.name("mean"),
        CountRows.toColumn.name("n"))
      .toDF("cell", "mean", "n")
  }

  private def writeCellStats(stats: DataFrame, path: String): Unit = {
    stats.coalesce(1).write.mode("overwrite").parquet(path)
    // the store's OWN commit marker: `_SUCCESS` is committer-config
    // dependent (object-store deployments disable it), and the heal
    // probe keying on it would re-run a corpus-sized heal on EVERY
    // append there. Written after the parquet commit; overwrite replays
    // recreate it.
    fsOf(stats.sparkSession, path).create(
      new org.apache.hadoop.fs.Path(s"$path/_graft_ok"), true).close()
  }

  /** Drift without a corpus scan: merge the per-batch cell stats —
    * O(cells × batches) metadata rows, reset to O(cells) by every
    * retrain/compaction — into each cell's CURRENT mean
    * (Σ nᵢ·meanᵢ / Σ nᵢ per coordinate) and compare against the frozen
    * serving centroids. Exactly [[centroidDrift]]'s answer on an
    * append-only history (pinned within fp tolerance in EngineSpec);
    * after a [[deleteVectors]] the stats still count the tombstoned
    * vectors, so drift is STALE by at most the deleted mass until the
    * next corpus rewrite recomputes them — the documented trade for
    * appends that never rescan history.
    */
  private[graft] def incrementalMaxDrift(s: SparkSession, dir: String,
      v: Long): Double = {
    val stats = Readers.parquet(s, s"$dir/v$v/cellstats")
      .select(col("cell").cast("string").as("cell"), col("n"), col("mean"))
    val current = stats
      .select(col("cell"), col("n"), posexplode(col("mean")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      // explicit double: float × bigint coerces to FLOAT and the sums
      // would accumulate at float precision
      .agg(sum(col("x").cast("double") * col("n")).as("wx"),
        sum(col("n")).as("wn"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("wx") / col("wn")).cast("float").as("x")))),
        e => e("x")).as("current"))
    val frozen = Readers.parquet(s, s"$dir/v$v/centroids")
    broadcast(frozen).join(current, Seq("cell"), "left_outer")
      .select(when(col("current").isNull, lit(null).cast("double"))
        .otherwise(lit(1.0)
          - Similarity.cosineSafe(col("current"), col("centroid"))).as("drift"))
      .agg(max("drift")).head() match {
        case r if r.isNullAt(0) => 0.0
        case r                  => r.getDouble(0)
      }
  }

  /** Raw read of an index directory, keeping the `cell`/`ingest_batch`
    * partition columns. A version whose live rows were ALL tombstoned
    * compacts to an index directory with zero data files (the partitionBy
    * write of an empty frame emits only `_SUCCESS`), which plain
    * `read.parquet` rejects with UNABLE_TO_INFER_SCHEMA — the maximal-
    * delete case a compacting store must survive, so that one condition
    * falls back to an empty frame with the canonical schema.
    */
  private val indexRawSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ingest_batch",
      org.apache.spark.sql.types.LongType)))

  private def readIndexRaw(s: SparkSession, path: String): DataFrame =
    // mergeSchema: partitions legitimately differ — collapsed `-1`
    // partitions carry `orig_batch` provenance (and `codes` once PQ is
    // on) that appended batch partitions lack; a single-file schema
    // pick could silently HIDE orig_batch and degrade tombstone masking
    // to the coarse watermark rule, and a mid-enablePq append could hide
    // `codes`. Footer-merge cost is planning-time metadata.
    try s.read.option("mergeSchema", "true").parquet(path)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).contains("UNABLE_TO_INFER_SCHEMA") =>
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexRawSchema)
    }

  /** Normalize an index read back to the [[buildIndex]] schema: `cell`
    * returns as an inferred-int PARTITION column and must come back as
    * the string the centroid tables carry, and the `ingest_batch`
    * bookkeeping column drops out.
    */
  private def readIndex(s: SparkSession, path: String): DataFrame =
    readIndexRaw(s, path)
      .select(col("cell").cast("string").as("cell"),
        col("vec_id"), col("embedding"))

  /** Tombstones of version `v`, if any delete has landed, as one row per
    * deleted vec_id with the delete's AS-OF ingest batch. Delete batches
    * write `del_batch=<id>` partitions (the uniform-layout rule applies
    * to EVERY store directory, not just the index); a vec deleted twice
    * keeps the LATEST as-of, so the newest delete wins.
    *
    * The as-of is what makes a delete an event in the ingest order
    * rather than a permanent ban on the id: a tombstone masks only rows
    * whose `ingest_batch <= as_of` — batches that existed when the
    * delete landed. A vector RE-INGESTED after its delete arrives with a
    * higher batch id and serves normally (and survives the next
    * retrain/compaction, which build from the serving view). A bare
    * vec_id anti-join would silently unserve the re-upload and then
    * physically drop it at the next rewrite. Legacy tombstones without
    * the column get `as_of = Long.MaxValue` — the old mask-everything
    * semantics they were written under.
    */
  private def tombstones(s: SparkSession, dir: String,
      v: Long): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/v$v/tombstones")
    if (fsOf(s, dir).exists(p)) {
      // mergeSchema: a version can legitimately mix legacy del batches
      // (no as_of column) with new ones — a single-file schema pick
      // would either read legacy as_of as NULL (deleted vectors
      // RESURFACE through the null-condition anti-join) or drop the new
      // column entirely (a fresh delete becomes mask-everything and
      // kills post-delete re-ingests). Merge, then default per ROW.
      val raw = s.read.option("mergeSchema", "true").parquet(p.toString)
      val withAsOf =
        if (raw.columns.contains("as_of"))
          raw.withColumn("as_of",
            coalesce(col("as_of").cast("long"), lit(Long.MaxValue)))
        else raw.withColumn("as_of", lit(Long.MaxValue))
      Some(withAsOf
        .select(col("vec_id"), col("as_of").cast("long").as("as_of"))
        .groupBy("vec_id").agg(max("as_of").as("as_of")))
    } else None
  }

  /** The REWRITE WATERMARK of a version: its `ingest_batch=-1` partition
    * was produced by a rewrite whose snapshot covered every batch id up
    * to the watermark, so a collapsed row's EFFECTIVE batch id is the
    * watermark, not -1. A version with no watermark file (the bootstrap
    * v0, or any pre-watermark store) has watermark -1 — its -1 partition
    * predates every non-negative batch, which is exactly what effective
    * id -1 says. Written once per rewrite attempt by [[beginRewrite]]
    * (the whole `v<N+1>/` staging dir is cleared first, so at most one
    * exists); `max` tolerates leftovers defensively.
    */
  private def watermarkOf(s: SparkSession, dir: String, v: Long): Long = {
    val hits = fsOf(s, dir).globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/v$v/_watermark-*"))
    if (hits == null || hits.isEmpty) BootstrapBatch
    else hits.map(_.getPath.getName.stripPrefix("_watermark-").toLong).max
  }

  /** A row's effective batch id under the watermark rule. */
  private def effectiveBatch(wm: Long) =
    when(col("ingest_batch").cast("long") === lit(BootstrapBatch), lit(wm))
      .otherwise(col("ingest_batch").cast("long"))

  /** A row's effective batch id, PER-ROW when provenance is available:
    * a collapsed `-1` row written by a post-provenance rewrite carries
    * its original effective batch in `orig_batch` ([[servingViewAt]]),
    * so a re-ingest keeps its own (post-delete) id through any number
    * of collapses instead of inheriting the watermark — the fact that
    * closes the delete-vs-rewrite re-ingest race (see
    * [[deleteVectors]]). Legacy collapsed rows (orig_batch NULL or the
    * column absent entirely) fall back to the watermark, which for
    * pre-provenance data is exact: everything collapsed predates every
    * later delete's as-of.
    */
  private def effectiveOf(idx: DataFrame, wm: Long) =
    if (idx.columns.contains("orig_batch"))
      when(col("ingest_batch").cast("long") === lit(BootstrapBatch),
        coalesce(col("orig_batch").cast("long"), lit(wm)))
        .otherwise(col("ingest_batch").cast("long"))
    else effectiveBatch(wm)

  /** Anti-join an index (raw schema, `ingest_batch` present) against a
    * version's tombstones under the as-of rule (see [[tombstones]]): a
    * tombstone masks rows whose EFFECTIVE batch id ([[effectiveOf]] —
    * per-row provenance for collapsed partitions, the partition id
    * otherwise) is <= its as_of. The join's strategy is left to
    * Catalyst — the tombstone side is bounded between compactions (each
    * compaction/retrain drains it to zero), so file-size stats
    * broadcast it; no forced hint that would pin a 100 TB plan to a
    * driver-sized assumption.
    */
  private def antiTombstones(idx: DataFrame, t: DataFrame,
      wm: Long): DataFrame =
    idx.join(t, idx("vec_id") === t("vec_id") &&
      effectiveOf(idx, wm) <= t("as_of"), "left_anti")

  /** The serving view of version `v`: the index minus its tombstones. */
  private def servingView(s: SparkSession, dir: String, v: Long): DataFrame = {
    val idx = readIndexRaw(s, s"$dir/v$v/index")
    val live = tombstones(s, dir, v) match {
      case Some(t) => antiTombstones(idx, t, watermarkOf(s, dir, v))
      case None    => idx
    }
    live.select(col("cell").cast("string").as("cell"),
      col("vec_id"), col("embedding"))
  }

  /** The serving view restricted to an EXPLICIT batch set — what a
    * rewrite snapshots, so its contents are exactly the batches its
    * ticket (and watermark) claim, however many appends land between
    * the ticket listing and the first job that executes this plan.
    *
    * The output carries `orig_batch` — each row's effective batch id
    * under THIS version's watermark — and every rewrite writes it into
    * the collapsed `-1` partition it produces. That per-row provenance
    * is what lets [[antiTombstones]] mask EXACTLY the rows a delete's
    * as-of covers after collapse, instead of over-masking to the
    * watermark (the re-ingest race [[deleteVectors]] documents). One
    * long column per row, columnar-compressed and never read by the
    * serving scans (ANN probes prune it away) — provenance at the cost
    * of metadata, not bandwidth.
    */
  private def servingViewAt(s: SparkSession, dir: String, v: Long,
      batches: Set[Long]): DataFrame = {
    val base = s"$dir/v$v/index"
    val paths = batches.toSeq.sorted.map(b => s"$base/ingest_batch=$b")
    val idx =
      if (paths.isEmpty)
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexRawSchema)
      else
        try s.read.option("mergeSchema", "true").option("basePath", base)
          .parquet(paths: _*)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if Option(e.getCondition).contains("UNABLE_TO_INFER_SCHEMA") =>
            s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexRawSchema)
        }
    val wm = watermarkOf(s, dir, v)
    val live = tombstones(s, dir, v) match {
      case Some(t) => antiTombstones(idx, t, wm)
      case None    => idx
    }
    live.select(col("cell").cast("string").as("cell"),
      col("vec_id"), col("embedding"),
      effectiveOf(idx, wm).cast("long").as("orig_batch"))
  }

  /** The serving centroid set / index of the CURRENT version. */
  def servingCentroids(s: SparkSession, dir: String): DataFrame =
    Readers.parquet(s, s"$dir/v${readVersion(s, dir)}/centroids")
  def servingIndex(s: SparkSession, dir: String): DataFrame =
    servingView(s, dir, readVersion(s, dir))

  /** Bootstrap a persisted IVF store at `dir`: train centroids (label-
    * seeded, `kmeansIters` Lloyd refinements), build the index, publish
    * as version 0.
    */
  def bootstrapStore(s: SparkSession, embeddings: DataFrame, dir: String,
      kmeansIters: Int = 2): Unit = {
    val trained = kmeans(s, embeddings, trainCentroids(s, embeddings),
      iters = kmeansIters)
    val local = s.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)
    local.write.mode("overwrite").parquet(s"$dir/v0/centroids")
    writeIndex(buildIndex(embeddings.select("vec_id", "embedding"), local),
      s"$dir/v0/index/ingest_batch=$BootstrapBatch")
    // stats come from the WRITTEN files (a plain rescan beats re-running
    // the assignment window), seeding the incremental drift path
    writeCellStats(cellStatsOf(s, readIndex(s, s"$dir/v0/index")),
      s"$dir/v0/cellstats/ingest_batch=$BootstrapBatch")
    publishVersion(s, dir, 0L)
  }

  /** ANN against the PERSISTED store — the query-time path a serving
    * deployment runs, where the cell-partitioned layout earns its keep:
    * centroid ranking happens on O(cells) driver-side metadata, and the
    * index scan carries `cell IN (<nprobe>)` so partition pruning reads
    * ONLY the probed cells' files. Exact cosine re-rank inside the
    * probed cells, exactly like [[annIvf]].
    */
  def annFromStore(s: SparkSession, dir: String, qEmb: Array[Float],
      k: Int = 10, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe $nprobe: must probe at least one cell")
    // resolve the version ONCE and read every artifact from it: a second
    // readVersion after a concurrent retrain publish would pair v's
    // centroids with v+1's index/tombstones — a torn cross-version read
    // that ranks probe cells with stale centroids against the re-assigned
    // index, silently degrading top-k
    probedLiveAt(s, dir, readVersion(s, dir), qEmb, nprobe)
      .select(col("vec_id"),
        Similarity.cosineSafe(col("embedding"), typedLit(qEmb)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The persisted PQ codebook of version `v`, if [[enablePq]] has run:
    * O(m × ksub) parquet rows (sub, code, centroid<double>), collected
    * driver-side like the centroid set.
    */
  private[graft] def codebookOf(s: SparkSession, dir: String,
      v: Long): Option[graft.functions.PqCodebook] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/v$v/pqcodebook")
    if (!fsOf(s, dir).exists(p)) None
    else {
      val rows = Readers.parquet(s, p.toString)
        .select(col("sub").cast("int"), col("code").cast("int"),
          col("centroid"))
        .collect()
      val m = rows.map(_.getInt(0)).max + 1
      val ksub = rows.map(_.getInt(1)).max + 1
      val cents = new Array[Array[Double]](m * ksub)
      rows.foreach(r => cents(r.getInt(0) * ksub + r.getInt(1)) =
        r.getSeq[Double](2).toArray)
      Some(new graft.functions.PqCodebook(m, cents(0).length, ksub, cents))
    }
  }

  private def writeCodebook(s: SparkSession,
      cb: graft.functions.PqCodebook, path: String): Unit = {
    import s.implicits._
    (0 until cb.m * cb.ksub)
      .map(mc => (mc / cb.ksub, mc % cb.ksub, cb.cents(mc).toSeq))
      .toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Turn on COMPRESSED SERVING for the store: train a PQ codebook from
    * the serving view ([[Pq.trainCodebook]] — per-subspace Lloyd, only
    * O(m × ksub) rows reach the driver) and rewrite the corpus with a
    * `codes` column beside each embedding (one ticketed rewrite, same
    * staged publication as [[compactStore]]). After this every index
    * write — appends, carries, future rewrites — encodes with the
    * version's codebook, and [[annPqFromStore]] serves ADC reading ONLY
    * (vec_id, codes): at 100 TB the embedding column stays on disk and
    * the serving tier's working set shrinks to m bytes per vector plus
    * one shared codebook. The codebook then rides every rewrite FROZEN
    * (like the coarse centroids between retrains): quantization quality
    * drifts with the data like cell quality does, and re-running
    * [[enablePq]] is the retrain lever.
    *
    * The codebook lands in the staging dir BEFORE the corpus rewrite,
    * so an appender racing this rewrite encodes its staged batch; a
    * batch staged in the pre-codebook instant carries no codes, is
    * invisible to ADC (never wrongly ranked), still serves exactly, and
    * is re-encoded by the carry-forward at publish.
    *
    * DEFAULT ksub = 256 (8-bit codes, the Jégou et al. 2011 operating
    * point) is MEASURED, not inherited: tools/RecallBench across the
    * four ScaleGen decades (recall_out.json, SLOPES.md quality readout)
    * has ksub=16 pure-quantization recall (exhaustive probe, so zero
    * prune loss) collapsing 0.455 → 0.145 as the corpus grows 1000×,
    * while ksub=256 roughly halves the loss at every decade
    * (1.000 / 0.515 / 0.410 / 0.300) for 8 bytes/vector instead of 4 —
    * at 100 TB still a ~64× working-set compression over float32
    * embeddings.
    */
  def enablePq(s: SparkSession, dir: String, m: Int = 8, ksub: Int = 256,
      iters: Int = 3, filesPerCell: Int = 1): Long = {
    require(filesPerCell >= 1, s"filesPerCell $filesPerCell")
    val v = readVersion(s, dir)
    val ticket = beginRewrite(s, dir, v)
    val view = servingViewAt(s, dir, v, ticket.ingestBatches)
    val cb = Pq.trainCodebook(s, view.select(col("vec_id"), col("embedding")),
      m, ksub, iters)
    writeCodebook(s, cb, s"$dir/v${v + 1}/pqcodebook")
    Readers.parquet(s, s"$dir/v$v/centroids")
      .write.mode("overwrite").parquet(s"$dir/v${v + 1}/centroids")
    writeIndex(
      view.repartition(col("cell"), pmod(hash(col("vec_id")), lit(filesPerCell))),
      s"$dir/v${v + 1}/index/ingest_batch=$BootstrapBatch", Some(cb))
    writeCellStats(
      cellStatsOf(s, readIndex(s,
        s"$dir/v${v + 1}/index/ingest_batch=$BootstrapBatch")),
      s"$dir/v${v + 1}/cellstats/ingest_batch=$BootstrapBatch")
    finishRewrite(s, dir, v, ticket)
    v + 1
  }

  /** COMPRESSED ANN against the persisted store — the [[annFromStore]]
    * probe (O(cells) driver-side centroid ranking, partition pruning to
    * the probed cells) with PQ ADC ranking instead of exact cosine: the
    * scan reads ONLY (vec_id, codes) — columnar pruning leaves the
    * embedding bytes on disk, pinned on the plan's ReadSchema in
    * EngineSpec — and adds m table lookups per surviving row. Rows
    * without codes (a batch staged in the pre-codebook instant of a
    * racing [[enablePq]]) are invisible here, never wrongly ranked;
    * the exact path still serves them.
    */
  def annPqFromStore(s: SparkSession, dir: String, qEmb: Array[Float],
      k: Int = 10, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe $nprobe: must probe at least one cell")
    val v = readVersion(s, dir)
    val cb = codebookOf(s, dir, v).getOrElse(throw new IllegalStateException(
      s"no PQ codebook at $dir v$v — run enablePq first"))
    adcRanked(s, dir, v, probedLiveAt(s, dir, v, qEmb, nprobe),
      Pq.adcTable(qEmb, cb), cb).limit(k)
  }

  /** IVFADC+R — the ADC probe with an exact REFINE pass (Jégou et al.,
    * TPAMI 2011 §VI): ADC ranks a shortlist of `refine × k` candidates
    * from (vec_id, codes) alone, then ONE id-filtered read of the SAME
    * probed cells re-ranks just those rows by exact cosine. The
    * shortlist ids are driver-sized (refine × k longs), so the second
    * scan is the partition-pruned probe plus a pushed-down `vec_id IN`
    * filter — at 100 TB the embedding bytes read are bounded by the
    * row groups holding refine × k rows, not the probed fifth of the
    * corpus, and parquet min/max + dictionary pushdown does the
    * bounding at the reader. Refine closes most of the quantization
    * gap RecallBench measures while keeping the serving working set
    * compressed: the recall lever AFTER m/ksub are fixed on disk.
    * Version resolved ONCE for both passes — a concurrent publish can
    * never pair one version's shortlist with another's embeddings.
    *
    * DEFAULT refine = 16 is the RecallBench-measured operating point
    * (recall_out.json, SLOPES.md): refine=4 saturates below the
    * nprobe=2 prune ceiling once the corpus is dense enough to push
    * true neighbors past ADC rank 40 (g1: 0.365 of 0.430; g10: 0.365
    * of 0.515), while refine=16 closes on the ceiling exactly at g0.1
    * (0.530 of 0.530) and recovers monotonically at g1/g10
    * (0.415 / 0.450) — 160 embedding rows per query instead of 40,
    * still shortlist-bounded, never corpus-bounded.
    */
  def annPqRefined(s: SparkSession, dir: String, qEmb: Array[Float],
      k: Int = 10, nprobe: Int = 2, refine: Int = 16): DataFrame = {
    require(nprobe >= 1, s"nprobe $nprobe: must probe at least one cell")
    require(refine >= 1, s"refine $refine: shortlist must cover k")
    val v = readVersion(s, dir)
    val cb = codebookOf(s, dir, v).getOrElse(throw new IllegalStateException(
      s"no PQ codebook at $dir v$v — run enablePq first"))
    val live = probedLiveAt(s, dir, v, qEmb, nprobe)
    val shortlist = adcRanked(s, dir, v, live, Pq.adcTable(qEmb, cb), cb)
      .limit(refine * k).collect().map(_.getLong(0)).toSeq
    val hit = // empty shortlist (nothing coded yet): empty result, not isin()
      if (shortlist.isEmpty) live.filter(lit(false))
      else live.filter(col("vec_id").isin(shortlist: _*))
    hit.select(col("vec_id"),
        Similarity.cosineSafe(col("embedding"), typedLit(qEmb)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The shared probe read of version `v` ([[annFromStore]] and the PQ
    * paths): centroid ranking on O(cells) driver metadata,
    * partition-column prune to the `nprobe` best cells, tombstone
    * anti-join on top. The index is read by [[readIndexRaw]], whose
    * mergeSchema also covers a transient mid-enablePq append that lacks
    * the codes column in one partition — a single-file schema pick could
    * hide codes everywhere (ADC would return nothing); the per-row
    * isNotNull filter scopes what ADC can rank.
    */
  private def probedLiveAt(s: SparkSession, dir: String, v: Long,
      qEmb: Array[Float], nprobe: Int): DataFrame = {
    val cents = Readers.parquet(s, s"$dir/v$v/centroids").collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probeCells = cents
      .map(r => (r.getString(0), cos(qEmb, r.getSeq[Float](1).toArray)))
      .sortBy { case (cell, sim) => (-sim, cell) }
      .take(nprobe).map(_._1).toSeq
    // filter the RAW partition column, not the string-normalized view: a
    // predicate under cast(cell as string) does not reach
    // PartitionFilters, and the whole point of the layout is that the
    // non-probed cells' files never enter the scan. The literals are
    // cast to the column's discovered type so constant folding leaves a
    // plain partition-column IN-list.
    val raw = readIndexRaw(s, s"$dir/v$v/index")
    val cellType = raw.schema("cell").dataType
    val pruned = raw.filter(probeCells
      .map(c => col("cell") === lit(c).cast(cellType))
      .reduceOption(_ || _).getOrElse(lit(false)))
    // tombstones apply AFTER the cell prune: the anti-join sits on top of
    // the partition-pruned scan, so a delete never widens what gets read
    tombstones(s, dir, v) match {
      case Some(t) => antiTombstones(pruned, t, watermarkOf(s, dir, v))
      case None    => pruned
    }
  }

  /** ADC ranking of a probed view: (vec_id, adist) ascending, rows
    * without codes (the one pre-codebook race instant of [[enablePq]])
    * invisible — never wrongly ranked, still served by the exact path.
    */
  private def adcRanked(s: SparkSession, dir: String, v: Long,
      live: DataFrame, table: Array[Double],
      cb: graft.functions.PqCodebook): DataFrame = {
    val coded =
      if (live.columns.contains("codes")) live.filter(col("codes").isNotNull)
      else live.filter(lit(false)) // no codes column anywhere: serve empty
    coded
      .select(col("vec_id"),
        graft.functions.PqCodec.pqAdc(col("codes"), table, cb.m, cb.ksub)
          .as("adist"))
      .orderBy(col("adist").asc, col("vec_id"))
  }

  /** Ingest-batch ids currently present in version `v`'s index
    * (driver-side listing of O(batches) partition directories, reset to
    * one by every rewrite).
    */
  private def ingestBatchesOf(s: SparkSession, dir: String,
      v: Long): Set[Long] = {
    val parts = fsOf(s, dir).globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/v$v/index/ingest_batch=*"))
    if (parts == null) Set.empty
    else parts.map(_.getPath.getName.stripPrefix("ingest_batch=").toLong).toSet
  }

  /** The largest EFFECTIVE batch id in version `v` — the AS-OF position
    * a delete records: the max over partition ids and the version's
    * watermark (the collapsed -1 partition of a compacted version
    * represents batches up to the watermark, so a delete landing right
    * after a compaction must mask it).
    */
  private def maxIngestBatch(s: SparkSession, dir: String, v: Long): Long =
    (ingestBatchesOf(s, dir, v) + watermarkOf(s, dir, v))
      .filter(_ >= 0).foldLeft(BootstrapBatch)(math.max)

  /** Delete-batch ids recorded against version `v`. */
  private def delBatchesOf(s: SparkSession, dir: String, v: Long): Set[Long] = {
    val parts = fsOf(s, dir).globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/v$v/tombstones/del_batch=*"))
    if (parts == null) Set.empty
    else parts.map(_.getPath.getName.stripPrefix("del_batch=").toLong).toSet
  }

  /** Versions above `v` that a rewrite has STAGED (announced via the
    * append-only `_staging-N` flag) or already published — the set a
    * deleter must also tombstone (see [[deleteVectors]]).
    */
  private def stagedOrReadyAbove(s: SparkSession, dir: String,
      v: Long): Seq[Long] = {
    val fs = fsOf(s, dir)
    Seq("_staging-*", "_ready-*").flatMap { g =>
      val hits = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/$g"))
      if (hits == null) Seq.empty[Long]
      else hits.map(_.getPath.getName.dropWhile(_ != '-').drop(1).toLong).toSeq
    }.filter(_ > v).distinct.sorted
  }

  /** DELETE vectors from the serving store (the right-to-be-forgotten
    * path a real corpus store cannot skip): the ids land as a tombstone
    * partition `v<N>/tombstones/del_batch=<id>` carrying the delete's
    * AS-OF ingest position, and every serving read — [[servingIndex]],
    * [[annFromStore]], the drift readout inside [[maintainIndex]] —
    * anti-joins out rows with `ingest_batch <= as_of`, so a deleted
    * vector is unservable the moment the write completes while a LATER
    * re-ingest of the same id serves normally. PHYSICAL removal happens
    * at the next corpus rewrite: a [[compactStore]] or a drift-triggered
    * retrain builds the new version from the tombstone-filtered view, so
    * `v<N+1>` simply does not contain the rows. Same idempotence
    * discipline as index appends: the batch partition is OVERWRITE and a
    * `_del-<id>` flag makes a replay of a completed delete a no-op.
    *
    * DELETE-vs-REWRITE race: a rewrite snapshots the serving view, so a
    * tombstone landing mid-rewrite could miss both the snapshot and the
    * new version. The closing protocol has two halves. Rewrites create
    * `_staging-<N+1>` BEFORE listing their snapshot's batches and carry
    * forward any delete batches that landed after that listing
    * ([[finishRewrite]]); deleters, AFTER writing the current version's
    * tombstone, re-apply the SAME tombstone (identical as-of, identical
    * bytes) to every staged-or-published version above whose watermark
    * is known. A staged version whose watermark file is not yet
    * visible is SKIPPED: its ticket listing has not happened, so the
    * already-written `v` tombstone lands in the snapshot's own
    * tombstone read. Ordering proof for the covered half: if the
    * rewrite's publish misses the delete, its pre-publish carry listing
    * predates the deleter's v-write, which predates the deleter's
    * staging check, which therefore sees the staging flag — so the
    * deleter covers the new version itself. Both sides may overwrite
    * the same `del_batch` partition with identical content;
    * last-writer-wins on identical bytes, and a torn concurrent read is
    * the standard file-sink caveat, bounded until the overwrite
    * commits.
    *
    * The exact as-of is SUFFICIENT for staged versions because rewrites
    * preserve per-row provenance: a collapsed `-1` row carries its
    * original effective batch id in the `orig_batch` column
    * ([[servingViewAt]]), and [[antiTombstones]] masks on that, not on
    * the coarse watermark. This closes what used to be the store's one
    * residual window — a re-ingest landing between a delete and a
    * concurrent rewrite's snapshot listing was collapsed to effective
    * id = watermark, indistinguishable from pre-delete mass, and the
    * old `max(asOf, watermark)` staged tombstone masked it. With
    * provenance the re-ingest keeps its own (higher) batch id through
    * any number of collapses, so `as_of = asOf` spares it in every
    * version, while pre-delete rows (orig_batch <= asOf by
    * construction — asOf is the max effective id at delete time)
    * stay masked. The interleaving is pinned deterministically in
    * EngineSpec via [[interleaveAfterTombstoneWrite]]. MIXED-VERSION
    * guard: a staged version whose collapsed partition predates
    * provenance (no `orig_batch` — an old-code rewriter racing this
    * delete) masks on the coarse watermark, so for THAT shape the cover
    * tombstone falls back to the old `max(asOf, watermark)` rule
    * instead of letting pre-delete rows escape (spec-pinned). A
    * multi-WRITER
    * store (concurrent rewriters racing each other) is the remaining
    * production escalation that needs an atomic commit log
    * (Delta/Iceberg-style OCC); this store's contract is one
    * maintainer, any number of appenders/deleters/readers — and under
    * that contract no coordination point (no log, no lock) is needed,
    * which at 100 TB is the difference between ingest throughput
    * scaling with writers and serializing on a commit sequence.
    *
    * REPLAY idempotence includes the as-of: a delete that crashed after
    * its tombstone write but before its `_del` flag reuses the as-of
    * already on disk — recomputing it at replay time would RAISE it
    * past any re-ingest that landed in between, silently unserving the
    * re-upload the first attempt deliberately spared. The durable copy
    * is a store-root `_delmeta-<id>-<asOf>` marker staked BEFORE the
    * first tombstone write (root flags survive rewrites and vacuum):
    * without it, a rewrite that physically APPLIED the crashed
    * delete's tombstone leaves no partition for the replay to reuse,
    * and a recomputed as-of at the new version would mask the
    * collapsed re-ingest (pinned red-before/green-after in the replay
    * spec leg's rewrite-intervening half).
    */
  def deleteVectors(s: SparkSession, dir: String, ids: DataFrame,
      delBatchId: Long): Unit = {
    require(delBatchId >= 0,
      s"delBatchId $delBatchId: negative ids are reserved")
    val flag = new org.apache.hadoop.fs.Path(s"$dir/_del-$delBatchId")
    val fs = fsOf(s, dir)
    if (fs.exists(flag)) return // completed delete replayed: no-op
    val v = readVersion(s, dir)
    val tombPath = s"$dir/v$v/tombstones/del_batch=$delBatchId"
    // The delete's AS-OF must be computed ONCE and survive any replay —
    // recomputing it would raise it past a re-ingest that landed in
    // between, silently unserving the re-upload. Durability layers, in
    // authority order:
    //   1. the STORE-ROOT `_delmeta-<id>-<asOf>` marker (name-encoded,
    //      the `_watermark-` idiom), staked BEFORE any tombstone write.
    //      Root flags are never touched by rewrites or vacuum, so this
    //      survives the one interleaving the tombstone alone cannot: a
    //      crash before the `_del` flag, followed by a rewrite that
    //      APPLIES the tombstone physically (it was in the ticket's
    //      listing, so the new version carries no del_batch partition
    //      to reuse) — a marker-less replay at the new version would
    //      recompute a higher as-of and mask the collapsed re-ingest.
    //   2. the current version's tombstone partition (pre-marker
    //      stores): existence checked explicitly so a read error on
    //      committed files PROPAGATES instead of falling back to a
    //      recomputed as-of; the one benign failure is a crash before
    //      the parquet footer committed (UNABLE_TO_INFER_SCHEMA) —
    //      nothing was published, so recomputing is the first write.
    val metaGlob = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/_delmeta-$delBatchId-*"))
    val priorAsOf =
      if (metaGlob != null && metaGlob.nonEmpty)
        Some(metaGlob.map(_.getPath.getName
          .stripPrefix(s"_delmeta-$delBatchId-").toLong).min)
      else if (!fs.exists(new org.apache.hadoop.fs.Path(tombPath))) None
      else {
        val prior =
          try Some(Readers.parquet(s, tombPath))
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if Option(e.getCondition).contains("UNABLE_TO_INFER_SCHEMA") =>
              None
          }
        prior.flatMap { p =>
          if (!p.columns.contains("as_of")) Some(Long.MaxValue) // legacy
          else {
            val r = p.agg(max(col("as_of").cast("long"))).head()
            if (r.isNullAt(0)) None else Some(r.getLong(0))
          }
        }
      }
    val asOf = priorAsOf.getOrElse(maxIngestBatch(s, dir, v))
    if (metaGlob == null || metaGlob.isEmpty) // stake BEFORE any tombstone
      fs.create(new org.apache.hadoop.fs.Path(
        s"$dir/_delmeta-$delBatchId-$asOf"), true).close()
    // materialize the distinct id set ONCE (localCheckpoint: stays
    // distributed, executes eagerly) before writing it to multiple
    // destinations — a non-deterministic or concurrently-mutating ids
    // source would otherwise write DIVERGENT tombstone sets across
    // versions, breaking the identical-bytes assumption the race
    // argument relies on
    val tomb = ids.select("vec_id").distinct()
      .withColumn("as_of", lit(asOf)).localCheckpoint(true)
    tomb.write.mode("overwrite").parquet(tombPath)
    interleaveAfterTombstoneWrite(dir)
    stagedOrReadyAbove(s, dir, v).foreach { n =>
      val wmHits = fsOf(s, dir).globStatus(
        new org.apache.hadoop.fs.Path(s"$dir/v$n/_watermark-*"))
      if (wmHits != null && wmHits.nonEmpty) { // ticket listed: cover n ourselves
        // The exact as-of is sound ONLY against per-row provenance: if
        // version n's collapsed `-1` partition was written by
        // PRE-provenance rewriter code (mixed-version deployment: an old
        // rewriter racing this new-code delete) its rows lack
        // `orig_batch`, effectiveOf falls back to the watermark, and a
        // watermark above our as-of would let pre-delete rows ESCAPE the
        // mask. For that legacy shape, restore the old over-masking rule
        // — as_of = max(asOf, watermark) — which masks every collapsed
        // row (correct for pre-delete mass; it can over-mask a re-ingest
        // the old code also over-masked, never anything the old rule
        // served). Upgrade ordering note: deploy rewriters on
        // provenance-aware code BEFORE relying on exact-as-of re-ingest
        // sparing; this fallback makes the mixed window safe, not sharp.
        val wm = wmHits.map(
          _.getPath.getName.stripPrefix("_watermark-").toLong).max
        val collapsed = s"$dir/v$n/index/ingest_batch=$BootstrapBatch"
        val legacyCollapsed =
          fs.exists(new org.apache.hadoop.fs.Path(collapsed)) &&
            (try !Readers.parquet(s, collapsed).columns.contains("orig_batch")
            catch {
              case e: org.apache.spark.sql.AnalysisException
                  if Option(e.getCondition)
                    .contains("UNABLE_TO_INFER_SCHEMA") =>
                false // no committed rows: nothing collapsed to mask
            })
        val cover =
          if (legacyCollapsed && wm > asOf)
            tomb.withColumn("as_of", lit(math.max(asOf, wm)))
          else tomb
        cover.write.mode("overwrite")
          .parquet(s"$dir/v$n/tombstones/del_batch=$delBatchId")
      }
      // else: n's snapshot listing is still ahead — it will see v's tombstone
    }
    fs.create(flag, true).close()
  }

  /** Test-only interleave hook, invoked between the current version's
    * tombstone write and the staged-version cover loop — the exact
    * instant the delete-vs-rewrite provenance argument is about. The
    * deterministic spec leg runs a re-ingest plus a full compaction
    * inside it, then lets the delete finish against the published
    * successor. Default no-op; production never sets it.
    */
  private[graft] var interleaveAfterTombstoneWrite: String => Unit = _ => ()

  /** What a rewrite's [[beginRewrite]] snapshot covered: the watermark
    * (max effective batch id of the covered set) plus the exact ingest
    * and delete batch listings its serving-view read is restricted to.
    */
  final case class RewriteTicket(wm: Long, ingestBatches: Set[Long],
      delBatches: Set[Long])

  /** Open a rewrite of version `v` into `v+1`. Order is load-bearing:
    * (1) announce `_staging-<v+1>` (deleters and appenders consult it);
    * (2) CLEAR the whole `v<v+1>/` staging dir — an aborted attempt's
    * leftovers (tombstones, carried batches, its watermark) would
    * otherwise mask or duplicate rows this attempt's snapshot already
    * covers; (3) list `v`'s ingest batches and write the WATERMARK file
    * (concurrent appenders key on it: batch <= wm means "the snapshot
    * covers me", batch > wm means "apply yourself to the staged
    * version too"); (4) list delete batches LAST, so a delete that
    * observed the staging flag but found no watermark yet is
    * guaranteed to be in this listing. The rewrite's view MUST then be
    * built with [[servingViewAt]] over the ticket's exact batch set.
    */
  private[graft] def beginRewrite(s: SparkSession, dir: String,
      v: Long): RewriteTicket = {
    val fs = fsOf(s, dir)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_staging-${v + 1}"),
      true).close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v${v + 1}"), true)
    val ingest = ingestBatchesOf(s, dir, v)
    val wm = (ingest + watermarkOf(s, dir, v))
      .filter(_ >= 0).foldLeft(BootstrapBatch)(math.max)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/v${v + 1}/_watermark-$wm"), true).close()
    RewriteTicket(wm, ingest, delBatchesOf(s, dir, v))
  }

  /** Close a rewrite: carry forward the batches that landed on `v`
    * after the ticket's listings, then publish.
    *
    * INGEST batches beyond the watermark are re-assigned against the
    * new version's centroids and written as their own partitions — the
    * append-vs-rewrite race's safety net: either the appender itself
    * saw the staged watermark and covered the new version (batch > wm,
    * watermark visible), or its batch is in this listing (the ordering
    * argument mirrors the delete proof). Without the carry, a batch
    * landing mid-rewrite would exist only in the superseded version
    * while its `_batch` flag turns the replay into a permanent no-op —
    * silent data loss. DELETE batches beyond the ticket carry their
    * recorded as_of verbatim: a post-listing delete observed a position
    * >= the watermark, so the effective-batch rule masks the collapsed
    * partition and spares later appends without any -1 special-casing.
    */
  private[graft] def finishRewrite(s: SparkSession, dir: String, v: Long,
      ticket: RewriteTicket): Unit = {
    val centroids = Readers.parquet(s, s"$dir/v${v + 1}/centroids")
    val cb = codebookOf(s, dir, v + 1)
    (ingestBatchesOf(s, dir, v) -- ticket.ingestBatches)
      .filter(_ > ticket.wm).toSeq.sorted.foreach { b =>
        writeIndex(
          buildIndex(readIndex(s, s"$dir/v$v/index/ingest_batch=$b")
            .select("vec_id", "embedding"), centroids),
          s"$dir/v${v + 1}/index/ingest_batch=$b", cb)
        writeCellStats(
          cellStatsOf(s, readIndex(s,
            s"$dir/v${v + 1}/index/ingest_batch=$b")),
          s"$dir/v${v + 1}/cellstats/ingest_batch=$b")
      }
    (delBatchesOf(s, dir, v) -- ticket.delBatches).toSeq.sorted.foreach { d =>
      val src = s.read.option("mergeSchema", "true")
        .parquet(s"$dir/v$v/tombstones/del_batch=$d")
      val withAsOf =
        if (src.columns.contains("as_of"))
          src.withColumn("as_of",
            coalesce(col("as_of").cast("long"), lit(Long.MaxValue)))
        else src.withColumn("as_of", lit(Long.MaxValue))
      withAsOf.select(col("vec_id"), col("as_of")).distinct()
        .write.mode("overwrite")
        .parquet(s"$dir/v${v + 1}/tombstones/del_batch=$d")
    }
    publishVersion(s, dir, v + 1) // staged dirs complete before the flag
  }

  /** COMPACT the serving version: rewrite bootstrap ∪ every appended
    * batch, minus tombstones, into a single `ingest_batch=-1` partition
    * of `v<N+1>` under the SAME centroids (compaction changes layout,
    * never assignment — pinned by set-equality in EngineSpec). This is
    * the maintenance move the append discipline requires at scale:
    * without it the index accumulates O(batches × cells) partition
    * directories of batch-sized files forever, and every tombstone stays
    * an anti-join at read time. After compaction the file count is
    * `cells × filesPerCell` and deleted rows are physically gone.
    *
    * `filesPerCell` is the write-parallelism knob: rows are hash-routed
    * to `(cell, vec_id % filesPerCell)` so at most `filesPerCell` tasks
    * write each cell's directory — 1 gives the tightest layout (one file
    * per cell, fine for a bench-sized store), a 100 TB store sets it so
    * `cells × filesPerCell` matches the cluster's write parallelism and
    * each file stays row-group-sized. Publication is the same staged
    * contract as a retrain: `v<N+1>` is complete before its append-only
    * `_ready` flag, so concurrent readers resolve a whole version.
    * Replays of pre-compaction ingest/delete batches stay no-ops — their
    * `_batch-*`/`_del-*` flags persist — so a restarted upstream can
    * never double-apply into the compacted version.
    */
  def compactStore(s: SparkSession, dir: String, filesPerCell: Int = 1): Long = {
    require(filesPerCell >= 1, s"filesPerCell $filesPerCell")
    val v = readVersion(s, dir)
    val ticket = beginRewrite(s, dir, v) // staging flag BEFORE the snapshot
    val view = servingViewAt(s, dir, v, ticket.ingestBatches)
    // the codebook (if PQ is enabled) rides the rewrite: staged before
    // the corpus write so racing appenders encode against it
    val cb = codebookOf(s, dir, v)
    cb.foreach(writeCodebook(s, _, s"$dir/v${v + 1}/pqcodebook"))
    Readers.parquet(s, s"$dir/v$v/centroids")
      .write.mode("overwrite").parquet(s"$dir/v${v + 1}/centroids")
    writeIndex(
      view.repartition(col("cell"), pmod(hash(col("vec_id")), lit(filesPerCell))),
      s"$dir/v${v + 1}/index/ingest_batch=$BootstrapBatch", cb)
    // the rewrite also resets the stats sidecar to O(cells) rows — and
    // back to EXACT after any deletes (tombstone-era stats are stale by
    // the deleted mass; see incrementalMaxDrift). Stats come from a
    // single-pass rescan of the JUST-WRITTEN -1 partition: fewer, larger,
    // tombstone-free files than re-running the view's small-file read +
    // anti-join lineage a second time — and scoped to -1 because a
    // racing appender may already have staged its own batch partition
    // here, which writes its own stats (double-counting it would skew
    // every later drift readout).
    writeCellStats(
      cellStatsOf(s, readIndex(s,
        s"$dir/v${v + 1}/index/ingest_batch=$BootstrapBatch")),
      s"$dir/v${v + 1}/cellstats/ingest_batch=$BootstrapBatch")
    finishRewrite(s, dir, v, ticket)
    v + 1
  }

  /** Operability readout — one row per version describing the store's
    * physical state: publication status, rewrite watermark, batch and
    * tombstone counts, index file count, compressed-serving flag. The
    * DESCRIBE-HISTORY a store operator reads before and after
    * maintenance. Driver-side listings only (O(versions × batches +
    * files) metadata, no data reads), returned as a local DataFrame.
    */
  def describeStore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fs = fsOf(s, dir)
    def flagged(prefix: String): Set[Long] = {
      val hits = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/$prefix-*"))
      if (hits == null) Set.empty
      else hits.map(_.getPath.getName.stripPrefix(prefix + "-").toLong).toSet
    }
    val ready = flagged("_ready")
    val staging = flagged("_staging")
    val vDirs = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/v*"))
    val versions =
      if (vDirs == null) Seq.empty[Long]
      else vDirs.filter(_.isDirectory)
        .map(_.getPath.getName.stripPrefix("v").toLong).toSeq.sorted
    def fileCount(path: String): Long =
      if (!fs.exists(new org.apache.hadoop.fs.Path(path))) 0L
      else Readers.parquetFiles(s, path).map(_.getPath.getName)
        .count(f => !f.startsWith("_") && !f.startsWith(".")).toLong
    versions.map { v =>
      (v, ready.contains(v), staging.contains(v), watermarkOf(s, dir, v),
        ingestBatchesOf(s, dir, v).size.toLong,
        delBatchesOf(s, dir, v).size.toLong,
        fileCount(s"$dir/v$v/index"),
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v$v/pqcodebook")))
    }.toDF("version", "is_ready", "is_staging", "watermark",
      "ingest_batches", "delete_batches", "index_files", "pq_enabled")
      .orderBy("version")
  }

  /** Garbage-collect SUPERSEDED store versions — the retention half the
    * append-only `_ready` protocol requires at scale: every retrain /
    * compaction / enablePq stages a complete new corpus copy, so without
    * GC a 100 TB store holds one full corpus PER REWRITE forever.
    *
    * A version directory `v<N>` is removed when (a) a HIGHER version is
    * published (`_ready-<w>`, w > N — new readers can never resolve N
    * again) and (b) that successor's publish flag is at least `retainMs`
    * old (its filesystem modification time — the publish instant). The
    * retention window is the Delta/Iceberg VACUUM contract: a reader
    * resolves its version once ([[readVersion]]) and then scans files,
    * so a reader slower than `retainMs` can lose its files mid-scan —
    * operate with retainMs comfortably above the longest query/rewrite.
    * What vacuum NEVER touches: the serving version (max `_ready`), any
    * version above it (an in-flight staged rewrite — its `_staging`
    * ticket, not vacuum, owns that lifecycle), the store-root `_batch` /
    * `_del` / `_delmeta` replay records (they are what keeps upstream
    * replays no-ops — and as-of-stable — across rewrites), and the
    * `_ready`/`_staging` flag files themselves
    * (the protocol's no-flag-ever-deleted invariant — readVersion takes
    * the max, so tombstone flags of vacuumed versions stay harmless
    * publication history, and [[describeStore]] lists directories, not
    * flags). Crash mid-vacuum leaves a partially-deleted superseded dir
    * no reader can resolve; the next vacuum finishes it. Concurrent
    * rewrites only ever read the CURRENT serving version, so removing
    * versions below it cannot race their inputs.
    *
    * Driver-side metadata only; returns the per-version decision ledger
    * as a local DataFrame (version, vacuumed, reason).
    */
  def vacuumStore(s: SparkSession, dir: String,
      retainMs: Long = 24L * 3600 * 1000): DataFrame = {
    import s.implicits._
    require(retainMs >= 0, s"retainMs $retainMs: must be non-negative")
    val fs = fsOf(s, dir)
    val ready = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/_ready-*"))
    require(ready != null && ready.nonEmpty,
      s"no IVF store at $dir — bootstrapStore first")
    val publishedAt: Map[Long, Long] = ready.map(f =>
      f.getPath.getName.stripPrefix("_ready-").toLong ->
        f.getModificationTime).toMap
    val maxReady = publishedAt.keys.max
    val now = System.currentTimeMillis()
    val vDirs = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/v*"))
    val versions =
      if (vDirs == null) Seq.empty[Long]
      else vDirs.filter(_.isDirectory)
        .map(_.getPath.getName.stripPrefix("v").toLong).toSeq.sorted
    versions.map { v =>
      if (v == maxReady) (v, false, "serving")
      else if (v > maxReady) (v, false, "above serving (staged rewrite)")
      else {
        // superseded the instant its EARLIEST published successor's flag
        // landed — age against that, not against maxReady (a store that
        // rewrote twice must not reset v0's clock at the second publish)
        val supersededAt = publishedAt.collect {
          case (w, t) if w > v => t
        }.min
        val age = now - supersededAt
        if (age >= retainMs) {
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v$v"), true)
          (v, true, s"superseded ${age}ms >= retainMs $retainMs")
        } else (v, false, s"within retention (${age}ms < $retainMs)")
      }
    }.toDF("version", "vacuumed", "reason").orderBy("version")
  }

  /** One maintenance round, closing the [[centroidDrift]] loop: append
    * the arriving batch against the FROZEN serving centroids (the
    * [[appendIndex]] contract — history is never re-assigned, per-batch
    * cost is one batch-sized pass PLUS an O(cells × batches) metadata
    * merge via the cellstats sidecar, never a history rescan), read the
    * drift, and when max drift crosses `driftThreshold`, RETRAIN: re-centroid from the current
    * members, `kmeansIters` Lloyd refinements over the full index, a
    * full re-assignment, and a staged publication (the new `v<N+1>/` is
    * written COMPLETELY before its append-only `_ready` flag appears, so
    * a reader resolves either version N or N+1 whole — the VERSION swap
    * is never torn). Consistency granularity is the version for
    * retrains and the batch for appends: a batch lands as its own
    * `ingest_batch=<batchId>` partition inside the serving version, so a
    * RETRY of the same batchId overwrites rather than duplicates (the
    * streaming-sink discipline), and a `_batch-<id>` flag makes a
    * completed round a no-op on replay; a reader listing the serving
    * index concurrently with an in-flight append may see that one
    * batch's files partially (the standard file-sink caveat — the
    * ingestWithManifest contract documents the same), never a torn
    * RETRAIN. The retrain pass is corpus-sized — which is exactly when a
    * real deployment runs it: drift says recall is silently decaying,
    * and the readout makes the cost explicit instead of perpetual.
    */
  def maintainIndex(s: SparkSession, dir: String, newVecs: DataFrame,
      batchId: Long, driftThreshold: Double = 0.3,
      kmeansIters: Int = 2): IvfMaintenance = {
    require(batchId >= 0,
      s"batchId $batchId: negative ids are reserved for bootstrap/retrain")
    val v = readVersion(s, dir)
    val batchFlag = new org.apache.hadoop.fs.Path(s"$dir/_batch-$batchId")
    val fs = fsOf(s, dir)
    if (fs.exists(batchFlag)) // completed round replayed: no-op
      return IvfMaintenance(v, 0.0, retrained = false)
    val frozen = Readers.parquet(s, s"$dir/v$v/centroids")
    // SELF-HEAL before the append: a store from before the cellstats
    // sidecar existed gets its stats seeded from the current index — one
    // corpus scan, once, never again. The health probe is the BOOTSTRAP
    // partition's `_graft_ok` marker (written by the store itself — NOT
    // the committer's `_SUCCESS`, which object-store deployments
    // disable; keying on that would re-run this corpus-sized heal on
    // every append there), not bare directory existence: a heal that
    // crashed mid-job leaves the directory behind with no committed
    // files, and keying on existence would skip the re-heal forever —
    // every later drift readout would merge stats missing the entire
    // pre-sidecar corpus mass. A torn sidecar is dropped wholesale and
    // rebuilt (only the heal/bootstrap write can be the torn one: batch
    // stats land after their batch's heal check passed).
    if (!fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/v$v/cellstats/ingest_batch=$BootstrapBatch/_graft_ok"))) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v$v/cellstats"), true)
      writeCellStats(cellStatsOf(s, readIndex(s, s"$dir/v$v/index")),
        s"$dir/v$v/cellstats/ingest_batch=$BootstrapBatch")
    }
    writeIndex(buildIndex(newVecs.select("vec_id", "embedding"), frozen),
      s"$dir/v$v/index/ingest_batch=$batchId", codebookOf(s, dir, v))
    // the batch's own stats come from its freshly written partition (a
    // batch-sized rescan), and drift merges the stats sidecar instead of
    // re-aggregating the corpus: the per-append cost is O(batch) data +
    // O(cells × batches) metadata, not a history rescan — the difference
    // between an append pipeline that scales and one that quietly
    // re-reads 100 TB per batch. OVERWRITE keeps a same-batch replay
    // after a crash between the two writes consistent.
    writeCellStats(
      cellStatsOf(s, readIndex(s, s"$dir/v$v/index/ingest_batch=$batchId")),
      s"$dir/v$v/cellstats/ingest_batch=$batchId")
    // APPEND-vs-REWRITE race (the delete protocol's mirror): a rewrite
    // of v snapshots only its ticket's batches, so a batch landing
    // mid-rewrite must also reach the staged/published version above —
    // without this, the batch would exist only in the superseded
    // version while its `_batch` flag turns the replay into a
    // permanent no-op. If the staged watermark is visible and below
    // this batch, the batch is NOT in the rewrite's snapshot: apply it
    // there too, assigned against THAT version's centroids. A version
    // whose watermark or centroids are not yet readable is covered by
    // the rewrite's own carry-forward (the either-or is proven in
    // finishRewrite's scaladoc: watermark-not-listed implies the
    // rewrite's batch listing happens after this batch's v-write).
    stagedOrReadyAbove(s, dir, v).foreach { n =>
      val wmHits = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$dir/v$n/_watermark-*"))
      if (wmHits != null && wmHits.nonEmpty &&
          batchId > watermarkOf(s, dir, n)) {
        // Only the staged-artifact READS may fail benignly here (the
        // rewrite announced its watermark but has not yet committed its
        // centroids/codebook — finishRewrite's carry listing covers the
        // batch, per the either-or proof above), and only with the
        // not-yet-committed signatures parquet raises (PATH_NOT_FOUND /
        // UNABLE_TO_INFER_SCHEMA are both AnalysisException). WRITE
        // failures must propagate: the `_batch` flag below would
        // otherwise commit with the staged copy silently missing, and
        // if the rewrite's carry listing already ran, the published
        // version drops the batch forever while every replay no-ops.
        val staged =
          try Some((Readers.parquet(s, s"$dir/v$n/centroids"),
            codebookOf(s, dir, n)))
          catch {
            case _: org.apache.spark.sql.AnalysisException => None
          }
        staged.foreach { case (cents, cb) =>
          writeIndex(buildIndex(newVecs.select("vec_id", "embedding"), cents),
            s"$dir/v$n/index/ingest_batch=$batchId", cb)
          writeCellStats(
            cellStatsOf(s, readIndex(s,
              s"$dir/v$n/index/ingest_batch=$batchId")),
            s"$dir/v$n/cellstats/ingest_batch=$batchId")
        }
      }
    }
    val maxDrift = incrementalMaxDrift(s, dir, v)
    val result =
      if (maxDrift <= driftThreshold) IvfMaintenance(v, maxDrift, retrained = false)
      else {
        // the retrain is corpus-sized by nature and runs on the SERVING
        // view: tombstoned vectors neither pull centroids nor survive
        // into the retrained version
        val ticket = beginRewrite(s, dir, v) // staging flag first
        val index = servingViewAt(s, dir, v, ticket.ingestBatches)
        val vecs = index.select("vec_id", "embedding")
        val cb = codebookOf(s, dir, v) // PQ codebook rides the retrain frozen
        cb.foreach(writeCodebook(s, _, s"$dir/v${v + 1}/pqcodebook"))
        val retrained = kmeans(s, vecs, centroidsOf(s, index), iters = kmeansIters)
        val local = s.createDataFrame(
          java.util.Arrays.asList(retrained.collect(): _*), retrained.schema)
        local.write.mode("overwrite").parquet(s"$dir/v${v + 1}/centroids")
        writeIndex( // orig_batch provenance rides the re-assignment
          buildIndex(index.select(col("vec_id"), col("embedding"),
            col("orig_batch")), local),
          s"$dir/v${v + 1}/index/ingest_batch=$BootstrapBatch", cb)
        // stats come from a single-pass rescan of the just-written -1
        // partition (scoped like compactStore's: a racing appender's
        // staged batch partition writes its own stats)
        writeCellStats(
          cellStatsOf(s, readIndex(s,
            s"$dir/v${v + 1}/index/ingest_batch=$BootstrapBatch")),
          s"$dir/v${v + 1}/cellstats/ingest_batch=$BootstrapBatch")
        finishRewrite(s, dir, v, ticket)
        IvfMaintenance(v + 1, maxDrift, retrained = true)
      }
    fs.create(batchFlag, true).close()
    result
  }
}
