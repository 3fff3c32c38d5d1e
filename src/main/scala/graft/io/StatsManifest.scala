package graft.io

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** File-level data skipping from parquet footer statistics — the read-side
  * payoff of the clustered layouts ([[Writers.rangeClustered]],
  * [[Writers.zOrdered]]) and the lakehouse primitive the reference's
  * clustered-index DDL (Program.cs:611-668) maps to on object storage:
  * a table's per-file (min, max, rows) manifest, built WITHOUT scanning
  * data pages, that a planner consults to hand Spark only the files a
  * range predicate can touch.
  *
  * Spark's own parquet reader already skips ROW GROUPS inside each file
  * it opens (pushed filters vs row-group stats), but it still lists,
  * opens and footer-reads every file of the table per query. At 100 TB /
  * ~800k files that is the dominant planning cost on S3 — the reason
  * Delta/Iceberg keep exactly this manifest next to the data. Build once
  * per write (footer reads only, distributed — one task per file batch),
  * persist it wherever tables live, prune file lists manifest-side.
  *
  * Columns are restricted to physically-numeric parquet types — INT32/
  * INT64 keys and z-values, DATE (epoch-day INT32), TIMESTAMP_MILLIS/
  * _MICROS (normalized to epoch-µs on read, so the manifest domain always
  * matches Catalyst's internal micros), and ≤18-digit DECIMAL (unscaled
  * INT32/INT64, the layout Spark writes for those precisions). Binary-
  * backed stats (wide decimals, INT96) degrade to NULL = keep-the-file:
  * min/max comparison semantics for truncated binary stats are subtle
  * (PARQUET-1685) and skipping is an optimization, never a correctness
  * bet. TIMESTAMP(NANOS) also degrades to NULL — under the legacy
  * nanosAsLong flag the engine sees raw ns Longs, so µs-normalized stats
  * would prune in the wrong unit.
  *
  * STRING columns (r11) get their own truncated-safe band channel,
  * opt-in via `stringCols`: per file, `smin_<c>`/`smax_<c>` hold a
  * ≤16-char ASCII band derived from the footer's binary min/max with the
  * PARQUET-1685 discipline — the lower band is a plain prefix (a prefix
  * sorts ≤ its extension in every lexicographic order), the upper band is
  * truncate-AND-INCREMENT (the rightmost incrementable char bumps, the
  * tail drops), so the stored band always CONTAINS the file's true
  * values even though it is shorter than them. Values or literals
  * outside printable ASCII degrade that side to NULL (keep-the-file):
  * within ASCII, UTF-8 byte order, UTF8String order and Java char order
  * all coincide, so band comparisons are order-consistent in every
  * engine domain; outside it they can disagree (surrogates vs 4-byte
  * code points) and no band is stored rather than betting on an order.
  * This is what lets `c_name LIKE 'Customer#000001%'` and string ranges
  * skip files on a name-clustered layout.
  */
object StatsManifest {

  /** Default max chars stored per string band (Iceberg's `truncate(16)`
    * default) — wide enough to separate real key prefixes, narrow enough
    * that an 800k-file manifest stays tiny. Keys whose discriminating
    * chars sit deeper (e.g. zero-padded ids with a long shared prefix)
    * pass a wider `bandWidth` to [[build]] — the band stays sound at any
    * width; width only tunes how much it discriminates.
    */
  val StringBandWidth = 16

  private def manifestSchema(cols: Seq[String],
      stringCols: Seq[String]): StructType =
    StructType(
      StructField("file", StringType, nullable = false) +:
      StructField("rows", LongType, nullable = false) +:
      (cols.flatMap(c => Seq(
        StructField(s"min_$c", LongType, nullable = true),
        StructField(s"max_$c", LongType, nullable = true),
        // per-file NULL-value count (Iceberg's null_value_counts): what
        // upgrades band pruning to metadata-ONLY answers — a file whose
        // band sits inside the query band still needs its nulls counted
        // before its `rows` can be credited without a scan. NULL =
        // footer didn't say = the file is never credited without a scan.
        StructField(s"nulls_$c", LongType, nullable = true))) ++
       stringCols.flatMap(c => Seq(
        StructField(s"smin_$c", StringType, nullable = true),
        StructField(s"smax_$c", StringType, nullable = true)))))

  private[graft] def isPrintableAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x20 || c > 0x7e) return false
      i += 1
    }
    true
  }

  /** Truncated LOWER band of a string min: a plain ≤16-char prefix (a
    * prefix is ≤ its extension in any lexicographic order). None outside
    * printable ASCII.
    */
  private[graft] def bandLo(s: String,
      width: Int = StringBandWidth): Option[String] =
    if (!isPrintableAscii(s)) None else Some(s.take(width))

  /** Truncated UPPER band of a string max: the value itself when short
    * enough, else the [[bump]] of its 16-char prefix. None outside
    * printable ASCII or when no char can bump.
    */
  private[graft] def bandHi(s: String,
      width: Int = StringBandWidth): Option[String] =
    if (!isPrintableAscii(s)) None
    else if (s.length <= width) Some(s)
    else bump(s.substring(0, width))

  /** The rightmost incrementable char of the printable-ASCII prefix `p`
    * bumped and the tail dropped: ≥ every string starting with `p`. None
    * when no char can bump (all '~').
    */
  private[graft] def bump(p: String): Option[String] = {
    val i = p.lastIndexWhere(_ < '~')
    if (i < 0) None else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** Per-file (min, max) of each of `cols` plus row count, from parquet
    * FOOTERS only — no data pages are read. Footer reads are distributed
    * (one Spark task per slice of the file list); only the file PATHS and
    * the finished manifest rows (one per file) ever sit on the driver.
    * A column chunk with no usable statistics yields NULL min/max — the
    * pruner then keeps the file (skipping is an optimization, never a
    * correctness bet).
    */
  def build(s: SparkSession, dir: String, cols: Seq[String],
      stringCols: Seq[String] = Nil,
      bandWidth: Int = StringBandWidth): DataFrame =
    buildForFiles(s, parquetPaths(s, dir), cols, stringCols, bandWidth)

  private def parquetPaths(s: SparkSession, dir: String): Seq[String] =
    Readers.parquetFiles(s, dir).map(_.getPath.toString)

  private def buildForFiles(s: SparkSession, paths: Seq[String],
      cols: Seq[String], stringCols: Seq[String] = Nil,
      bandWidth: Int = StringBandWidth): DataFrame = {
    import org.apache.hadoop.fs.Path
    // Configuration is not serializable; ship its entries and rebuild per
    // executor so scheme-specific settings (S3 endpoints/credential
    // providers) survive the trip
    val confEntries = s.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => e.getKey -> e.getValue).toVector
    val colsLocal = cols
    val stringColsLocal = stringCols
    val bandWidthLocal = bandWidth
    // slices scale with the file count: a fixed small number would leave
    // one task sequentially opening tens of thousands of S3 footers on
    // the advertised million-file table
    val slices = math.max(1, math.min(paths.size,
      math.max(s.sparkContext.defaultParallelism, paths.size / 64)))
    val rows = s.sparkContext.parallelize(paths, slices).mapPartitions { files =>
      val c = new org.apache.hadoop.conf.Configuration(false)
      confEntries.foreach { case (k, v) => c.set(k, v) }
      files.map { file =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(file), c)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val nRows = blocks.map(_.getRowCount).sum
          // normalize a chunk's numeric stat into the domain Catalyst
          // compares in: TIMESTAMP_MILLIS → µs (exact: ms-precision data
          // has µs = ms*1000), MICROS/DATE/ints → identity, NANOS → None
          // (the legacy read path surfaces raw ns Longs — µs stats would
          // prune in the wrong unit)
          import org.apache.parquet.schema.LogicalTypeAnnotation
          import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
          def statDomain(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
              : Option[Long => Long] =
            cc.getPrimitiveType.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit match {
                  case TimeUnit.MILLIS => Some(v => Math.multiplyExact(v, 1000L))
                  case TimeUnit.MICROS => Some(identity)
                  case _               => None // NANOS: see above
                }
              case _ => Some(identity) // ints, DATE days, decimal unscaled
            }
          val stats: Seq[Any] = colsLocal.flatMap { col =>
            val chunks = blocks.map(_.getColumns.asScala
              .find(_.getPath.toDotString == col).orNull)
            // null-value count, independent of min/max usability: every
            // chunk must SAY its null count (isNumNullsSet) or the file's
            // count is unknown (NULL) and countSplit puts it in the scan class
            val nulls: Any = {
              val counts = chunks.map(cc =>
                if (cc == null || cc.getStatistics == null ||
                  !cc.getStatistics.isNumNullsSet) -1L
                else cc.getStatistics.getNumNulls)
              if (chunks.isEmpty || counts.exists(_ < 0)) null
              else Long.box(counts.sum)
            }
            // a physically-binary column (string/wide-decimal/INT96 stats —
            // outside this manifest's declared scope) degrades to NULL =
            // keep-the-file, same as missing stats, rather than a
            // task-killing cast
            if (chunks.isEmpty ||
                chunks.exists(cc => cc == null || cc.getStatistics == null ||
                  !cc.getStatistics.hasNonNullValue ||
                  !cc.getStatistics.genericGetMin.isInstanceOf[Number] ||
                  statDomain(cc).isEmpty))
              Seq(null, null, nulls)
            else {
              val mins = chunks.map(cc => statDomain(cc).get(
                cc.getStatistics.genericGetMin.asInstanceOf[Number].longValue))
              val maxs = chunks.map(cc => statDomain(cc).get(
                cc.getStatistics.genericGetMax.asInstanceOf[Number].longValue))
              Seq(mins.min, maxs.max, nulls)
            }
          }
          // string bands: footer binary min/max decoded as UTF-8, reduced
          // across row groups, then truncated with the PARQUET-1685
          // discipline (bandLo/bandHi). Each side degrades independently;
          // non-ASCII or unusable stats yield NULL = keep-the-file.
          val strStats: Seq[Any] = stringColsLocal.flatMap { col =>
            val chunks = blocks.map(_.getColumns.asScala
              .find(_.getPath.toDotString == col).orNull)
            if (chunks.isEmpty ||
                chunks.exists(cc => cc == null || cc.getStatistics == null ||
                  !cc.getStatistics.hasNonNullValue ||
                  !cc.getStatistics.genericGetMin
                    .isInstanceOf[org.apache.parquet.io.api.Binary]))
              Seq(null, null)
            else {
              def str(b: Any): String = new String(
                b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
                java.nio.charset.StandardCharsets.UTF_8)
              val mins = chunks.map(cc => str(cc.getStatistics.genericGetMin))
              val maxs = chunks.map(cc => str(cc.getStatistics.genericGetMax))
              // Java-order reduce is safe here: orders only disagree on
              // non-ASCII contenders, and any non-ASCII winner (or a
              // non-ASCII true extreme hiding behind an ASCII pick —
              // impossible: non-ASCII beats ASCII in every order) nulls
              // out in bandLo/bandHi anyway
              Seq(bandLo(mins.min, bandWidthLocal).orNull,
                bandHi(maxs.max, bandWidthLocal).orNull)
            }
          }
          Row.fromSeq(file +: nRows +: (stats ++ strStats))
        } finally reader.close()
      }
    }
    // a manifest is a SNAPSHOT of the directory, not a recipe to re-list
    // it: materialize eagerly so later evaluations (after files are
    // compacted/vacuumed away) never re-run the footer reads — the
    // in-session stand-in for the manifest table a production pipeline
    // persists next to the data
    s.createDataFrame(rows, manifestSchema(cols, stringCols))
      .localCheckpoint(eager = true)
  }

  /** Incremental manifest maintenance: footer-read ONLY files not yet in
    * `existing` and union them in (dropped files fall out). An ingest job
    * appending a few files to a million-file table pays a few footer
    * reads, not a full relisting of stats — same incremental-at-the-
    * corpus-boundary contract as the delta-dedup snapshot (q_l40).
    */
  def append(s: SparkSession, dir: String, existing: DataFrame,
      cols: Seq[String], stringCols: Seq[String] = Nil,
      bandWidth: Int = StringBandWidth): DataFrame =
    appendNew(s, dir, existing)(
      buildForFiles(s, _, cols, stringCols, bandWidth))

  /** The shared [[append]]/[[appendWithBlooms]] body: `freshRows` builds
    * the manifest rows of the files absent from `existing`; the rows of
    * files no longer listed fall out.
    */
  private def appendNew(s: SparkSession, dir: String, existing: DataFrame)(
      freshRows: Seq[String] => DataFrame): DataFrame = {
    // both file lists are driver-sized (one path per file — the same
    // order as any planner's file listing), so the set difference is
    // plain driver code; only the kept-rows filter runs as a join
    val current = parquetPaths(s, dir)
    val known = existing.select("file").collect().map(_.getString(0)).toSet
    val newFiles = current.filterNot(known)
    val fresh = if (newFiles.isEmpty) existing.limit(0) else freshRows(newFiles)
    val currentDf = s.createDataFrame(
      s.sparkContext.parallelize(current.map(Row(_)),
        math.max(1, math.min(current.size, s.sparkContext.defaultParallelism))),
      StructType(Seq(StructField("file", StringType, nullable = false))))
    // allowMissingColumns: a manifest persisted BEFORE the nulls_<c>
    // channel existed must keep appending — its old rows get NULL null
    // counts (= unknown, the scan-class semantics countSplit already
    // assigns them), not an AnalysisException that kills the ingest stream.
    // That tolerance is for the nulls channel ONLY: any other divergence
    // (a different `cols`/`stringCols`/`bloomCols` list than the manifest
    // was built with) would silently degrade the mismatched stats columns
    // to NULL — fail loudly instead, as a plain unionByName always did.
    val nonNullsDiff =
      (fresh.columns.toSet diff existing.columns.toSet) ++
        (existing.columns.toSet diff fresh.columns.toSet)
    require(nonNullsDiff.forall(_.startsWith("nulls_")),
      s"manifest append schema mismatch beyond the nulls channel: " +
        s"${nonNullsDiff.filterNot(_.startsWith("nulls_")).toSeq.sorted.mkString(", ")} " +
        "— append must use the same columns the manifest was built with")
    existing.join(currentDf, Seq("file"), "left_semi")
      .unionByName(fresh, allowMissingColumns = true)
      .localCheckpoint(eager = true) // same snapshot semantics as build()
  }

  /** Per-file BLOOM sidecars for equality/IN skipping on columns where
    * min/max bounds cannot prune (unclustered, high-cardinality ids —
    * the Delta bloom-index use case): each of `bloomCols` gains a
    * `bloom_<col>` binary column holding a serialized
    * `org.apache.spark.util.sketch.BloomFilter` over the file's values,
    * canonicalized THROUGH STRINGS (both build and probe cast to string,
    * so integral and string columns share one portable code path). Build
    * is one distributed pass grouped by `input_file_name()` — per-group
    * state is one file's values, the same magnitude a file's writer
    * already held. Blooms ride the manifest as data, and probing happens
    * manifest-side in Spark ([[pruneFiles]]) — at an 800k-file table the
    * driver never holds the sketch bytes, only surviving file names.
    * `expectedItems` sizes the sketch (~1.2 bytes/item at fpp 0.03):
    * tune to rows-per-file; undersizing only raises false positives,
    * which cost skipping, never correctness.
    */
  def withBlooms(s: SparkSession, dir: String, manifest: DataFrame,
      bloomCols: Seq[String], expectedItems: Long = 100000L,
      fpp: Double = 0.03): DataFrame =
    manifest
      .join(bloomsForFiles(s, parquetPaths(s, dir), bloomCols, expectedItems,
        fpp), Seq("file"), "left_outer")
      .localCheckpoint(eager = true) // same snapshot semantics as build()

  /** Incremental stats+bloom maintenance: the [[append]] contract with
    * bloom sidecars — only files absent from `existing` get footer reads
    * AND bloom passes; every already-manifested file keeps its rows and
    * sketches untouched. `existing` must itself carry `bloom_<c>` columns
    * for exactly `bloomCols` (i.e. came from [[withBlooms]] or here).
    */
  def appendWithBlooms(s: SparkSession, dir: String, existing: DataFrame,
      cols: Seq[String], bloomCols: Seq[String],
      expectedItems: Long = 100000L, fpp: Double = 0.03,
      stringCols: Seq[String] = Nil,
      bandWidth: Int = StringBandWidth): DataFrame =
    appendNew(s, dir, existing)(newFiles =>
      buildForFiles(s, newFiles, cols, stringCols, bandWidth)
        .join(bloomsForFiles(s, newFiles, bloomCols, expectedItems, fpp),
          Seq("file"), "left_outer"))

  /** One distributed pass over exactly `files`: (file, bloom_<c>...) —
    * the per-file value sets a file's writer already held in memory.
    */
  private def bloomsForFiles(s: SparkSession, files: Seq[String],
      bloomCols: Seq[String], expectedItems: Long,
      fpp: Double): DataFrame = {
    require(bloomCols.nonEmpty, "bloomCols must name at least one column")
    val mk = udf { vals: Seq[String] =>
      val bf = org.apache.spark.util.sketch.BloomFilter
        .create(math.max(expectedItems, vals.size.toLong), fpp)
      vals.foreach(v => if (v != null) bf.putString(v))
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    Readers.parquet(s, files)
      .select(normalizedInputFile().as("file") +:
        bloomCols.map(c => col(c).cast("string").as(c)): _*)
      .groupBy("file")
      .agg(mk(collect_list(col(bloomCols.head))).as(s"bloom_${bloomCols.head}"),
        bloomCols.tail.map(c => mk(collect_list(col(c))).as(s"bloom_$c")): _*)
  }

  /** `input_file_name()` normalized to listing-style Path strings:
    * the function renders URIs (`file:///a/b`) where listing-based
    * manifests hold Path strings (`file:/a/b`) — joins between the two
    * silently miss without this (every bloom NULL = no skipping; vacuum
    * would see every file as clean). Shared by the bloom build and the
    * dirty-file attribution of [[ChunkStore.vacuum]] and
    * [[graft.operators.FingerprintStore.vacuum]].
    */
  private[graft] def normalizedInputFile(): Column = {
    val norm = udf { u: String =>
      new org.apache.hadoop.fs.Path(new java.net.URI(u)).toString
    }
    norm(input_file_name())
  }

  private val bloomMightContain = udf { (b: Array[Byte], points: Seq[String]) =>
    b == null || {
      val bf = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(b))
      points.exists(bf.mightContainString)
    }
  }

  /** The conjunctive range-intersection predicate: a file can hold a row
    * satisfying `lo <= col <= hi` for ALL bounds only if every bound's
    * [min, max] overlaps it. NULL stats keep the file (null-safe trues).
    */
  private def survives(bounds: Seq[(String, Long, Long)]): Column =
    if (bounds.isEmpty) lit(true) // no bounds = nothing pruned
    else bounds.map { case (c, lo, hi) =>
      col(s"min_$c").isNull || col(s"max_$c").isNull ||
        (col(s"max_$c") >= lo && col(s"min_$c") <= hi)
    }.reduce(_ && _)

  /** String-band overlap: the file survives unless its (non-NULL) band
    * provably misses the [lo, hi] query band. Each side checks
    * independently so a file whose max degraded to NULL still prunes on
    * its min. Comparisons run in Spark's UTF8String order; bands are
    * printable-ASCII by construction, where every relevant order agrees.
    */
  private def survivesStr(
      strBounds: Seq[(String, Option[String], Option[String])]): Column =
    strBounds.map { case (c, lo, hi) =>
      val okLo = lo.map(v => col(s"smax_$c").isNull || col(s"smax_$c") >= v)
        .getOrElse(lit(true))
      val okHi = hi.map(v => col(s"smin_$c").isNull || col(s"smin_$c") <= v)
        .getOrElse(lit(true))
      okLo && okHi
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** AND across point-set columns, OR within one column's points: a file
    * survives a column's point set if its bloom is absent/NULL or might
    * contain ANY point. String-canonical domain (see [[withBlooms]]).
    */
  private def survivesPoints(manifest: DataFrame,
      points: Seq[(String, Seq[String])]): Column =
    points.filter { case (c, ps) =>
      ps.nonEmpty && manifest.columns.contains(s"bloom_$c")
    }.map { case (c, ps) =>
      bloomMightContain(col(s"bloom_$c"), typedLit(ps))
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** Files the bounds (and, when blooms exist, the equality point sets)
    * cannot rule out. Driver-sized output: one string per SURVIVING
    * file — the same order of magnitude as the file listing Spark's own
    * planner materializes for any read.
    */
  def pruneFiles(manifest: DataFrame, bounds: Seq[(String, Long, Long)],
      points: Seq[(String, Seq[String])] = Nil,
      strBounds: Seq[(String, Option[String], Option[String])] = Nil)
      : Seq[String] =
    manifest.where(survives(bounds) && survivesPoints(manifest, points) &&
        survivesStr(strBounds.filter { case (c, lo, hi) =>
          (lo.nonEmpty || hi.nonEmpty) &&
            manifest.columns.contains(s"smin_$c")
        }))
      .select("file").collect().map(_.getString(0)).toSeq

  /** The metadata-first split of a COUNT(*) under a conjunctive band
    * predicate, the Iceberg/Delta "metadata-only query" that
    * [[graft.plans.MetaCountRule]] plans: (metadata-credited rows,
    * fully-covered file count, boundary file list). On a clustered layout
    * a band predicate splits the table's files into three classes: files
    * the bands rule out, files that sit WHOLLY inside the query band (for
    * every bound: non-NULL stats, min ≥ lo, max ≤ hi, and ZERO nulls in
    * the column — a NULL row satisfies no band, so the footer's null
    * count is what licenses crediting the file's `rows` blind), and
    * boundary files that genuinely straddle an edge. Only the third class
    * needs a scan; at 100 TB with range/Z-order clustering that is
    * O(band surface), not O(band volume). Any file with missing stats or
    * null counts lands in the boundary class, so the answer stays exact;
    * manifests persisted before the nulls channel existed (no
    * `nulls_<c>` columns) credit nothing. Manifest frames are
    * file-count-sized eager checkpoints, so this is driver work of the
    * same magnitude as any file listing.
    */
  def countSplit(manifest: DataFrame, bounds: Seq[(String, Long, Long)])
      : (Long, Int, Seq[String]) = {
    require(bounds.nonEmpty, "countSplit needs at least one band bound")
    val surviving = manifest.where(survives(bounds))
    val fullCov = coalesce(bounds.map { case (c, lo, hi) =>
      val nullsKnown =
        if (manifest.columns.contains(s"nulls_$c")) col(s"nulls_$c") === 0L
        else lit(false)
      col(s"min_$c").isNotNull && col(s"max_$c").isNotNull &&
        col(s"min_$c") >= lo && col(s"max_$c") <= hi && nullsKnown
    }.reduce(_ && _), lit(false))
    val full = surviving.where(fullCov)
      .agg(coalesce(sum("rows"), lit(0L)).as("r"), count(lit(1)).as("n"))
      .head()
    val scanFiles = surviving.where(!fullCov)
      .select("file").collect().map(_.getString(0)).toSeq
    (full.getLong(0), full.getLong(1).toInt, scanFiles)
  }

  /** Join-driven file pruning — Delta's "dynamic file pruning" shape as an
    * explicit pre-pass: before an equi-join `fact.factCol = dim.dimCol`
    * executes, prune the FACT side's file list with the BUILD side's
    * observed key domain. Spark's own DPP covers hive PARTITION dirs and
    * its runtime bloom covers ROWS post-scan; neither stops a 100 TB fact
    * table from LISTING AND OPENING every parquet file when the dim
    * predicate survives only a sliver of the key space — this does, from
    * the same manifest the static prune path uses.
    *
    * Envelope first: the dim keys' [min, max] is computed over the FULL
    * key set (one small-side aggregate — a subset's envelope would prune
    * unsoundly), and any file whose [min_, max_] band misses it drops.
    * When the dim side is small enough to enumerate (`countDistinct <=
    * pointCap`, the broadcast-join regime where this matters), each file
    * additionally survives only if SOME key lands inside its band
    * (catches files straddling the envelope's interior gaps) and, when a
    * `bloom_<factCol>` sidecar exists, only if the bloom might contain
    * some key — the unclustered-layout path where bands cannot help.
    * NULL dim keys never join, so they never widen the envelope; an empty
    * build side keeps zero files (the join is provably empty).
    *
    * Sound by the same contract as every prune here: a file is dropped
    * only when NO row of it can match ANY dim key; the join itself still
    * re-filters exactly, so a false bloom positive costs I/O, never rows.
    */
  def pruneFilesByJoin(manifest: DataFrame, factCol: String,
      dimKeys: DataFrame, dimCol: String, pointCap: Int = 10000)
      : Seq[String] = {
    val ks = dimKeys.select(col(dimCol).cast("long").as("k")).na.drop("any")
    val env = ks.agg(min("k").as("lo"), max("k").as("hi"),
      countDistinct(col("k")).as("n")).head()
    if (env.isNullAt(0)) return Nil // no non-null dim keys: empty join
    val (lo, hi, n) = (env.getLong(0), env.getLong(1), env.getLong(2))
    // a bloom-only manifest (build with cols = Nil + withBlooms — the
    // advertised unclustered-layout case) has no min_/max_ channel for
    // the fact column; band logic degrades to keep-all, blooms still cut
    val banded = manifest.columns.contains(s"min_$factCol")
    val bounds = if (banded) Seq((factCol, lo, hi)) else Nil
    if (n > pointCap) pruneFiles(manifest, bounds)
    else {
      val points = ks.distinct().collect().map(_.getLong(0)).toSeq.sorted
      val pts = typedLit(points)
      // band check per point-SET: min/max NULL keeps the file, else some
      // key must land inside the file's band (subsumes the envelope test)
      val inBand =
        if (!banded) lit(true)
        else col(s"min_$factCol").isNull ||
          col(s"max_$factCol").isNull ||
          exists(pts, p => p >= col(s"min_$factCol") &&
            p <= col(s"max_$factCol"))
      manifest
        .where(inBand && survivesPoints(manifest,
          Seq((factCol, points.map(_.toString)))))
        .select("file").collect().map(_.getString(0)).toSeq
    }
  }

  /** [[pruneFilesByJoin]] materialized as a read: the surviving fact
    * files, ready for the caller's join (which re-filters exactly — no
    * residual predicate is needed beyond the join itself).
    */
  def readPrunedByJoin(s: SparkSession, dir: String, manifest: DataFrame,
      factCol: String, dimKeys: DataFrame, dimCol: String,
      pointCap: Int = 10000): DataFrame = {
    val keep = pruneFilesByJoin(manifest, factCol, dimKeys, dimCol, pointCap)
    if (keep.isEmpty) Readers.parquet(s, dir).where(lit(false))
    else s.read.option("basePath", dir).parquet(keep: _*)
  }
}
