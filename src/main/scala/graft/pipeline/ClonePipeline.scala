package graft.pipeline

import graft.{Par, Tables}
import graft.ddl.DdlRenderer
import graft.io.{Readers, Writers}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, sum, when}
import org.apache.spark.sql.types.StructType

/** Clone orchestration — the reference's `CloneDatabase`
  * (/root/reference/Program.cs:56-112) re-architected for Spark.
  *
  * The reference runs nine sequential phases single-threaded, fully
  * materializing each table in driver memory. Here:
  *   - DDL is rendered from schema metadata (pure, driver-side, tiny);
  *   - data movement is N independent distributed jobs, submitted
  *     concurrently through [[graft.Par.all]] (the per-table loop at
  *     Program.cs:76-79 is embarrassingly parallel — each table is its
  *     own Spark job, and the scheduler interleaves their tasks across
  *     the cluster). A failed table surfaces only after every other
  *     table's job has finished, so no write outlives the call;
  *   - load-then-constrain ordering is preserved: constraint/index scripts
  *     are returned for application *after* the data phase, matching
  *     Program.cs:74-110.
  *
  * Metadata comes from work already done, not from re-reads: each source
  * table's schema from one footer on the driver ([[graft.Tables.load]]),
  * the DDL from those same schemas, a plain table's row count from an
  * `Observation` on its write, and a laid-out table's from the `rows`
  * column of the manifest built from its written footers.
  *
  * The target here is a directory of parquet tables (the corpus-native
  * sink); a JDBC target plugs in through graft.io.Writers.jdbc +
  * graft.io.ScriptExecutor for the DDL.
  */
object ClonePipeline {

  final case class CloneReport(
      tables: Seq[String],
      rowCounts: Map[String, Long],
      ddl: Map[String, String],
      manifests: Map[String, String] = Map.empty)

  /** Opt-in per-table layout for [[clone]] — the Spark answer to the
    * reference's clustered-index DDL (Program.cs:408-469): instead of an
    * index structure, the cloned table LANDS clustered (range or Z-order
    * on `clusterCols`) and a [[graft.io.StatsManifest]] is built from the
    * fresh footers and persisted next to it — so a 100 TB clone is
    * pruned-readable from its first query, without a second layout pass.
    *   - `zOrder = false`: range-cluster (one sort dimension dominates);
    *     `true`: Z-order (multi-dimensional range queries).
    *   - `statCols` default to `clusterCols`; `stringStatCols` adds
    *     truncated string bands (see StatsManifest.bandWidth).
    */
  final case class TableLayout(
      clusterCols: Seq[String],
      zOrder: Boolean = false,
      numFiles: Int = 32,
      statCols: Seq[String] = Nil,
      stringStatCols: Seq[String] = Nil,
      bandWidth: Int = graft.io.StatsManifest.StringBandWidth)

  /** Render the full pre-data DDL script for the corpus (A8+A9 phases).
    *
    * `fullTextKeys` optionally names, per table, the column the full-text
    * KEY INDEX's backing PRIMARY KEY is built on; tables not in the map
    * default to their leading column. Either way the choice is VALIDATED
    * against the data (r5, advisor item): the reference introspects a
    * real unique index from sys.indexes (Program.cs:505-536), so blindly
    * trusting column position could emit an `ALTER ... ADD PRIMARY KEY`
    * that fails on load (nulls) or on constraint creation (duplicates).
    * The check is one column-pruned aggregate per text table — noise next
    * to the clone's full data copy.
    */
  def renderDdl(spark: SparkSession, srcDir: String,
      tables: Seq[String] = Tables.names, schema: String = "dbo",
      fullTextKeys: Map[String, String] = Map.empty): Map[String, String] =
    ddlOf(spark, srcDir, tables.map(t => t -> Tables.table(spark, srcDir, t).schema),
      schema, fullTextKeys)

  /** [[renderDdl]] over schemas the caller already holds. */
  private def ddlOf(spark: SparkSession, srcDir: String,
      schemas: Seq[(String, StructType)], schema: String = "dbo",
      fullTextKeys: Map[String, String] = Map.empty): Map[String, String] =
    schemas.map { case (t, st) =>
      // free-text columns get the full-text surface (A14): catalog
      // bootstrap + guarded CREATE FULLTEXT INDEX. CREATE FULLTEXT INDEX
      // requires its KEY INDEX to be a real unique index on the target
      // (the reference reads the name from sys.indexes, Program.cs:505-536;
      // struct-derived tables have nothing to introspect), so the same
      // script FIRST adds a PRIMARY KEY named PK_<table> on the validated
      // key column — rendered NOT NULL so the ALTER is valid — and only
      // then attaches the full-text index to it.
      val textCols = st.fields.collect {
        case f if f.name == "text" &&
          f.dataType == org.apache.spark.sql.types.StringType => f.name
      }.toSeq
      val ddl =
        if (textCols.isEmpty) DdlRenderer.createTableFromStruct(schema, t, st)
        else {
          val keyCol = fullTextKeys.getOrElse(t, st.fields.head.name)
          require(st.fieldNames.contains(keyCol),
            s"full-text key column '$keyCol' not in table '$t'")
          validateKeyColumn(spark, srcDir, t, keyCol)
          DdlRenderer.createTableFromStruct(schema, t, st,
            notNullCols = Set(keyCol)) + "\n" +
            DdlRenderer.addKeyConstraint(DdlRenderer.KeyConstraint(
              schema, t, s"PK_$t", DdlRenderer.PrimaryKey, Seq(keyCol))) + "\n" +
            DdlRenderer.createFullTextCatalogs(Nil) + "\n" +
            DdlRenderer.createFullTextIndex(DdlRenderer.FullTextIndexSpec(
              schema, t, textCols, keyIndex = s"PK_$t"))
        }
      t -> ddl
    }.toMap

  /** A column promoted to PRIMARY KEY must actually be unique and
    * null-free in the data — asserted with one exact aggregate over just
    * that column (parquet column pruning makes this a single-column scan).
    */
  private def validateKeyColumn(spark: SparkSession, srcDir: String,
      table: String, keyCol: String): Unit = {
    import org.apache.spark.sql.functions._
    val r = Tables.table(spark, srcDir, table)
      .agg(count(lit(1)).as("n"), count(col(keyCol)).as("non_null"),
        countDistinct(col(keyCol)).as("distinct"))
      .head()
    val (n, nonNull, distinct) = (r.getLong(0), r.getLong(1), r.getLong(2))
    require(nonNull == n,
      s"full-text key '$table.$keyCol' has ${n - nonNull} NULLs — " +
        "cannot back a PRIMARY KEY; pass fullTextKeys to pick another column")
    require(distinct == n,
      s"full-text key '$table.$keyCol' has duplicates ($distinct distinct " +
        s"of $n rows) — cannot back a PRIMARY KEY; pass fullTextKeys to " +
        "pick another column")
  }

  /** Clone every table from srcDir to tgtDir, tables concurrently
    * ([[graft.Par.all]]; excludeSchemas mirrors the reference's dead
    * schema filter, Program.cs:155-157, as a real config).
    */
  def clone(spark: SparkSession, srcDir: String, tgtDir: String,
      tables: Seq[String] = Tables.names,
      excludeTables: Set[String] = Set.empty,
      layouts: Map[String, TableLayout] = Map.empty): CloneReport = {
    val work = tables.filterNot(excludeTables)
    val done = Par.all(work.map { t => () =>
      val df = Tables.table(spark, srcDir, t)
      val path = s"$tgtDir/$t.parquet"
      // empty-table short circuit (Program.cs:612-616) is a no-op for
      // parquet writes, so we just write. The whole per-table layout
      // decision lives in this ONE match: the clustered write AND the
      // footer-only manifest (persisted NEXT TO the table, registered so
      // this session's ManifestPruneRule prunes immediately) come from
      // the same TableLayout. Neither branch re-reads the written table
      // to count it.
      val (rows, manifestDir) = layouts.get(t) match {
        case None => (writeObserving(df, path, count(lit(1))), None)
        case Some(l) =>
          if (l.zOrder) Writers.zOrderedN(df, path, l.clusterCols, l.numFiles)
          else Writers.rangeClustered(df, path, l.clusterCols, l.numFiles)
          val mDir = s"$tgtDir/$t.manifest"
          val statCols =
            if (l.statCols.nonEmpty) l.statCols
            else l.clusterCols.filterNot(l.stringStatCols.contains)
          val m = graft.io.StatsManifest.build(spark, path, statCols,
            l.stringStatCols, l.bandWidth)
          // the clustered write's range exchange samples (re-runs) its
          // child, so an Observation there would count rows twice; the
          // manifest's per-file footer row counts are summed by its write
          val n = writeObserving(m, mDir, coalesce(sum(col("rows")), lit(0L)))
          graft.plans.ManifestRegistry.register(spark, path, m)
          (n, Some(mDir))
      }
      (t, rows, manifestDir, df.schema)
    })
    CloneReport(work, done.map(r => r._1 -> r._2).toMap,
      ddlOf(spark, srcDir, done.map(r => r._1 -> r._4)),
      done.collect { case (t, _, Some(m), _) => t -> m }.toMap)
  }

  /** Write `df` as parquet to `path` and return `metric` (a bigint
    * aggregate) over the rows written, taken by an `Observation` on the
    * write itself. Only for plans that run once per write.
    */
  private def writeObserving(df: DataFrame, path: String, metric: Column): Long = {
    val obs = Observation()
    Writers.parquet(df.observe(obs, metric.as("v")), path)
    obs.get("v").asInstanceOf[Long]
  }

  final case class SyncReport(sourceRows: Long, deltaRows: Long, targetRows: Long)

  /** MERGE-style last-writer-wins upsert — the set-based equivalent of
    * {{{
    * MERGE INTO target t USING updates u ON <keyCols equal>
    *   WHEN MATCHED AND u.version >= t.version THEN UPDATE SET *
    *   WHEN NOT MATCHED THEN INSERT *
    * }}}
    * expressed as union + windowed keep-latest so it runs on any file
    * source: Spark's actual `MERGE INTO` SQL requires a v2 catalog with
    * row-level-operation support (Delta/Iceberg — not in this build's
    * dependency set), so this API *is* the merge surface, and
    * [[incrementalSync]] is its transactional wrapper. The highest
    * `versionCol` per key wins; on a version tie the updates side wins
    * (matching the MERGE above), so re-merging the same batch is a no-op.
    * One shuffle on the key columns; at scale the target should be
    * bucketed by the same keys so successive merges reuse the layout.
    */
  def merge(target: DataFrame, updates: DataFrame, keyCols: Seq[String],
      versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__graft_src").desc)
    target.withColumn("__graft_src", lit(0))
      .unionByName(updates.withColumn("__graft_src", lit(1)))
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn", "__graft_src")
  }

  /** Incremental sync — the capability the reference's full-copy clone
    * (Program.cs:611: `SELECT * ... ToList()` every run) conspicuously
    * lacks. Rows whose `versionCol` exceeds the target's high-water mark
    * are the delta (every source row when the target has no version, e.g.
    * an empty target), upserted with [[merge]]'s last-writer-wins rule.
    * A missing target is an initial load of the whole source.
    *
    * Scale shape: the delta scan is a pushed-down range filter on
    * `versionCol` (prunes row groups / partitions at the source); the
    * merge shuffles target ∪ delta once on the key — the standard
    * merge-on-read compaction cost. The result lands in a fresh directory
    * and replaces the target atomically-enough for a filesystem (write
    * temp, delete old, rename), never reading and overwriting in place.
    * Counts come from work the sync does anyway: the source is scanned
    * once for both its row count and the delta's, the high-water mark
    * aggregate also counts the target, and the written target is counted
    * by an `Observation` on its write.
    *
    * Writing the target's files deregisters its root from
    * [[graft.plans.ManifestRegistry]]: a manifest registered for it (as a
    * laid-out [[clone]] does) lists the replaced files, and both manifest
    * rules would answer from them. The persisted `<t>.manifest` a
    * laid-out clone writes beside a `<t>.parquet` target describes the
    * old files too, so it is deleted BEFORE the new files are written: a
    * crash leaves old files without a manifest, never new files with an
    * old one, and registering the deleted manifest fails loudly instead
    * of pruning wrongly. Rebuild it with `StatsManifest.build`.
    */
  def incrementalSync(spark: SparkSession, source: DataFrame, tgtPath: String,
      keyCols: Seq[String], versionCol: String): SyncReport = {
    val tgt = new org.apache.hadoop.fs.Path(tgtPath)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dropPersistedManifest(): Unit =
      if (tgtPath.endsWith(".parquet"))
        fs.delete(new org.apache.hadoop.fs.Path(
          tgtPath.stripSuffix(".parquet") + ".manifest"), true)
    if (!fs.exists(tgt)) {
      dropPersistedManifest()
      val n = writeObserving(source, tgtPath, count(lit(1)))
      graft.plans.ManifestRegistry.deregister(spark, tgtPath)
      return SyncReport(n, n, n)
    }
    val target = Readers.parquet(spark, tgtPath)
    val t = target.agg(max(col(versionCol)), count(lit(1))).head()
    val inDelta = if (t.isNullAt(0)) lit(true) else col(versionCol) > lit(t.get(0))
    val c = source.agg(count(lit(1)), count(when(inDelta, true))).head()
    val (sourceRows, deltaRows) = (c.getLong(0), c.getLong(1))
    if (deltaRows == 0)
      return SyncReport(sourceRows, 0, t.getLong(1))
    dropPersistedManifest()
    val merged = merge(target, source.filter(inDelta), keyCols, versionCol)
    val tmp = new org.apache.hadoop.fs.Path(tgtPath + "__sync_tmp")
    val targetRows = writeObserving(merged, tmp.toString, count(lit(1)))
    // swap order matters for crash safety: park the live target aside
    // FIRST, then promote the new data, then drop the parked copy — a
    // crash at any point leaves either the old or the new target
    // recoverable on disk (delete-then-rename instead has a window where
    // the only copy is the tmp dir and readers see a missing path)
    val old = new org.apache.hadoop.fs.Path(tgtPath + "__sync_old")
    if (fs.exists(old)) fs.delete(old, true) // leftover from a crashed run
    if (!fs.rename(tgt, old))
      throw new java.io.IOException(s"rename $tgt -> $old failed")
    if (!fs.rename(tmp, tgt)) {
      fs.rename(old, tgt) // restore the parked target before giving up
      throw new java.io.IOException(s"rename $tmp -> $tgt failed")
    }
    graft.plans.ManifestRegistry.deregister(spark, tgtPath)
    fs.delete(old, true)
    SyncReport(sourceRows, deltaRows, targetRows)
  }

  /** Q-M01 — the clone-surface metadata query: corpus schemas rendered as
    * idempotent DDL, one row per (table, ddl). Verified structurally
    * (rows-only) — DDL text has no DuckDB oracle.
    */
  def qM01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    renderDdl(spark, dir).toSeq.toDF("table_name", "ddl").orderBy("table_name")
  }

  /** SCD2 history from a change log: each change row becomes a validity
    * interval `[valid_from, valid_to)` closed by the key's NEXT change
    * (`lead` over the key), open (`valid_to` NULL, `is_current` true) for
    * the latest. The slowly-changing-dimension layer the clone surface
    * needs once [[incrementalSync]] keeps only latest-state: history
    * answers "what was the value at T", sync answers "what is it now".
    *
    * One shuffle on the key columns — the same partitioning [[merge]]
    * uses, so a bucketed-by-key layout serves both. `orderCols` breaks
    * same-timestamp ties deterministically (pass the change log's
    * sequence/id column).
    */
  def scd2History(changes: DataFrame, keyCols: Seq[String], tsCol: String,
      orderCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((tsCol +: orderCols).map(col): _*)
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Point-in-time (AS OF) lookup over an SCD2 history: the rows whose
    * validity interval covers `at`. With the history range-clustered on
    * `valid_from` ([[graft.io.Writers.rangeClustered]]) the predicate
    * prunes row groups at the scan.
    */
  def pointInTime(history: DataFrame, at: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    history.filter(col("valid_from") <= at &&
      (col("valid_to").isNull || col("valid_to") > at))
  }

  /** Q-M04 — SCD2 + AS OF: treat the event log as each user's value
    * change log, build the validity intervals, and snapshot every user's
    * value as of a fixed instant; DuckDB recomputes the same window.
    */
  def qM04(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val changes = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"), col("ts"))
    val hist = scd2History(changes, Seq("user_id"), "ts", Seq("event_id"))
    pointInTime(hist, lit("2024-01-15 00:00:00").cast("timestamp"))
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("valid_from")).as("from_us"))
      .orderBy("user_id")
  }
}
