package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.StructType

/** Source readers (SURVEY §2.A A16, §2.C sources rows).
  *
  * The reference's extract is `SELECT * FROM [s].[t]` fully materialized in
  * driver memory (/root/reference/Program.cs:611 — and a second time at 692).
  * Here every source is a distributed scan: parquet/csv/json files are
  * splittable reads, and JDBC tables are range-partitioned on a numeric key
  * so N executor tasks stream N disjoint slices — nothing ever lands on the
  * driver.
  */
object Readers {

  /** Parquet read whose schema comes from ONE footer, read on the driver.
    *
    * Spark's own (non-merging) inference reads one footer too, but in a
    * Spark job per `read`. This picks the same file that inference would
    * pick: `_common_metadata`, else `_metadata`, else the first data file
    * by path. Other names starting with `_` or `.` are skipped. The footer
    * is converted by Spark's `readSchemaFromFooter` with the session's
    * conf, so flags such as `nanosAsLong` apply as they do in inference.
    * The schema is then passed to the read, and no job runs until an
    * action does.
    *
    * Fallback to plain `s.read.parquet(path)`: a path that is missing or
    * a glob, a directory holding subdirectories (partition discovery), a
    * directory with no data file (Spark raises its own error) and a
    * session with `spark.sql.parquet.mergeSchema` on.
    */
  def parquet(s: SparkSession, path: String): DataFrame =
    footerSchema(s, path).fold(s.read.parquet(path))(s.read.schema(_).parquet(path))

  /** [[parquet]] over named files. With `schema` the read takes it and
    * no footer is read; without, the schema comes from the footer of the
    * first file by path, the pick the directory form makes. An empty
    * list falls back to `s.read.parquet`, as a directory with no data
    * file does.
    */
  def parquet(s: SparkSession, files: Seq[String],
      schema: Option[StructType] = None): DataFrame =
    schema.orElse(files.minOption.flatMap(footerSchema(s, _)))
      .fold(s.read.parquet(files: _*))(s.read.schema(_).parquet(files: _*))

  /** The parquet files under `dir` (recursive, names ending `.parquet`)
    * with their lengths, through the path's own `FileSystem` — listing
    * only, no footer touched. The walk uses plain `listStatus`:
    * `listFiles` builds a `LocatedFileStatus` per file, whose
    * constructor loads permissions, one `ls -ld` subprocess per file on
    * the local file system. Spark's own leaf listing avoids it the same
    * way. A missing `dir` throws `FileNotFoundException`.
    */
  def parquetFiles(s: SparkSession, dir: String): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) walk(f.getPath)
      else if (f.getPath.getName.endsWith(".parquet")) Seq(f)
      else Nil
    }
    walk(root)
  }

  private def footerSchema(s: SparkSession, path: String): Option[StructType] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = PlanBridge.sqlConf(s)
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoop = PlanBridge.newHadoopConf(s)
    val root = new Path(path)
    val fs = root.getFileSystem(hadoop)
    def hidden(f: FileStatus) =
      f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith(".")
    val leaves: Seq[FileStatus] =
      try {
        val top = fs.getFileStatus(root)
        if (top.isFile) Seq(top)
        else {
          val kids = fs.listStatus(root).toSeq
          if (kids.exists(k => k.isDirectory && !hidden(k))) Nil
          else kids.filter(_.isFile)
        }
      } catch { case _: java.io.FileNotFoundException => Nil }
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.filterNot(hidden).sortBy(_.getPath.toString).headOption)
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoop),
          HadoopReadOptions.builder(hadoop).withMetadataFilter(SKIP_ROW_GROUPS).build())
        val footer = try reader.getFooter finally reader.close()
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(conf))
      }
  }

  /** Schema-evolution read: merge the footers of every file under `path`
    * into the union schema, so a directory whose older files predate an
    * added column still reads as one table (old rows surface NULL for the
    * new column). Off the default path on purpose — footer merging lists
    * and reads every file's schema, a driver-side cost a 100 TB table
    * pays only when its files genuinely disagree.
    */
  def parquetMergeSchema(s: SparkSession, path: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(path)

  def csv(s: SparkSession, path: String, header: Boolean = true,
      inferSchema: Boolean = true): DataFrame =
    s.read.option("header", header).option("inferSchema", inferSchema).csv(path)

  def json(s: SparkSession, path: String): DataFrame = s.read.json(path)

  /** Error-tolerant CSV ingest: malformed rows are CAPTURED, not fatal and
    * not silently dropped — PERMISSIVE mode parses what it can and lands
    * the raw text of each bad line in `_quarantine`, so the caller can
    * split the frame into clean rows (`_quarantine IS NULL`) and a
    * quarantine sink for replay/inspection. At 100 TB a single mangled
    * line must cost one quarantined row, never a failed task
    * (FAILFAST) or an invisible data loss (DROPMALFORMED). Requires an
    * explicit schema: the quarantine contract is only meaningful against
    * a declared shape.
    *
    * Spark restriction: a query whose column pruning reaches the scan with
    * ONLY `_quarantine` required (e.g. `.select("_quarantine")` straight
    * off this frame) raises AnalysisException — the CSV source refuses to
    * resolve the internal corrupt-record column alone. Keep at least one
    * data column in any projection over the raw frame (or `cache()` it,
    * which pins the full schema); [[csvSplitQuarantine]] packages the
    * usual split so callers don't hit this edge.
    */
  def csvWithQuarantine(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true): DataFrame =
    s.read
      .option("header", header)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantine")
      .schema(schema.add("_quarantine", "string"))
      .csv(path)

  /** The quarantine-sink pattern pre-split: (clean rows with the declared
    * schema, quarantined rows keeping every parsed column PLUS
    * `_quarantine`). The quarantine side deliberately carries the data
    * columns — the shape a replay sink wants. NOTE the scan restriction
    * documented on [[csvWithQuarantine]] still applies to the RETURNED
    * frames: an action whose pruned schema is only the corrupt column —
    * a bare `count()` on either side, whose plan references nothing but
    * the `_quarantine` filter (count() prunes any intermediate select
    * away) — raises the corrupt-column-only AnalysisException. And a
    * column-pruned projection is WORSE than refused: the scan re-parses
    * only the selected columns, so a row malformed in an unselected
    * column parses clean and silently leaves the quarantine. Work
    * full-width (collect/save of all columns) or `cache()` the frame —
    * both pin the full-schema parse. Both edges pinned in EngineSpec.
    */
  def csvSplitQuarantine(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val df = csvWithQuarantine(s, path, schema, header)
    (df.filter(col("_quarantine").isNull).drop("_quarantine"),
      df.filter(col("_quarantine").isNotNull))
  }

  /** JSON-lines twin of [[csvWithQuarantine]]: same PERMISSIVE +
    * `_quarantine` contract over `spark.read.json` (one mangled line =
    * one quarantined row carrying the raw text), same explicit-schema
    * requirement, same corrupt-column-only projection restriction.
    */
  def jsonWithQuarantine(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantine")
      .schema(schema.add("_quarantine", "string"))
      .json(path)

  /** The pre-split quarantine pattern for JSON lines — see
    * [[csvSplitQuarantine]].
    */
  def jsonSplitQuarantine(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val df = jsonWithQuarantine(s, path, schema)
    (df.filter(col("_quarantine").isNull).drop("_quarantine"),
      df.filter(col("_quarantine").isNotNull))
  }

  /** ORC source (columnar like parquet: pushdown + pruning apply; Avro is
    * omitted — the spark-avro datasource module isn't on this classpath).
    */
  def orc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  /** XML source — built into Spark 4 core (the former spark-xml module),
    * no external jar. One row per `rowTag` element; files holding many
    * row elements split per-element, so a sharded XML dump scans in
    * parallel like csv/json lines. Explicit schema for the same reasons
    * the csv/json ingest paths demand one: inference re-reads every file,
    * and the quarantine contract below needs a declared row shape.
    *
    * String fidelity (pinned in EngineSpec): markup escaping, unicode,
    * newlines and INTERIOR whitespace runs round-trip exactly, but
    * SURROUNDING whitespace is trimmed (`ignoreSurroundingSpaces`
    * defaults true — pass it false via options on a hand-rolled read if
    * padding is data) and a whitespace-only value collapses to the
    * empty string. XML is the interop format here; values where leading
    * space is semantic belong in parquet/csv.
    */
  def xml(s: SparkSession, path: String, rowTag: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.option("rowTag", rowTag).schema(schema).xml(path)

  /** XML twin of [[csvWithQuarantine]]: PERMISSIVE parse, one mangled
    * row element = one quarantined row carrying its raw XML text in
    * `_quarantine` — never a failed task, never silent loss. The same
    * corrupt-column-only projection restriction applies.
    */
  def xmlWithQuarantine(s: SparkSession, path: String, rowTag: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read
      .option("rowTag", rowTag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantine")
      .schema(schema.add("_quarantine", "string"))
      .xml(path)

  /** The pre-split quarantine pattern for XML — see
    * [[csvSplitQuarantine]].
    */
  def xmlSplitQuarantine(s: SparkSession, path: String, rowTag: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val df = xmlWithQuarantine(s, path, rowTag, schema)
    (df.filter(col("_quarantine").isNull).drop("_quarantine"),
      df.filter(col("_quarantine").isNotNull))
  }

  /** Raw text corpus source: one row per LINE (`value` string), or one
    * row per FILE with `wholetext` — the ingestion shape of a crawl dump
    * before any schema exists. Splittable per-line; `wholetext` reads
    * each file in one task (document-per-file corpora), so pair it with
    * many files, not one giant one.
    */
  def text(s: SparkSession, path: String,
      wholetext: Boolean = false): DataFrame =
    s.read.option("wholetext", wholetext).text(path)

  /** Raw binary-file source: (path, modificationTime, length, content)
    * per file — the ingestion shape of a MEDIA corpus (the blobs the
    * Multimodal operators decode arrive as files, not parquet cells).
    * `glob` pushes an extension filter into the FILE LISTING (e.g.
    * `*.wav` never reads non-matching bytes at all); recursive lookup is
    * on because media corpora arrive sharded into directory trees. Per-
    * file content is one row — Spark caps it at
    * `spark.sql.sources.binaryFile.maxLength` (Int.MaxValue); bigger
    * objects belong in a streaming copy, not a DataFrame cell.
    */
  def binaryFiles(s: SparkSession, path: String,
      glob: Option[String] = None): DataFrame = {
    val r = s.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
    glob.foldLeft(r)((rd, g) => rd.option("pathGlobFilter", g)).load(path)
  }

  /** A directory of raw media files as the (doc_id, blob, meta) frame
    * every [[graft.operators.Multimodal]] operator consumes — the REAL
    * ingestion path beside the synthetic `withMedia` fixture source:
    * `doc_id` is the xxhash64 of the file path (deterministic, stable
    * across re-ingestions of the same tree) — or, with `idFromStem`,
    * the numeric file stem (`…/123.wav` → 123), the shape of a corpus
    * whose ids were assigned upstream and carried in the filenames —
    * `meta.format` comes from the file extension (lowercased; the
    * decode operators quarantine payloads that don't parse as their
    * claimed format), and the dims are PROBED from headers only
    * ([[graft.operators.Multimodal.probeDims]]: PNG IHDR / BMP info
    * header / mp4 stsz + first-frame IHDR — no pixel or sample decode),
    * with 0 = not-applicable-or-unprobeable (all wav dims, any
    * malformed payload). At 100 TB this is one file listing + a
    * per-file content scan; everything downstream (fingerprints,
    * features, near-dup joins) already shuffles digests, never the
    * blobs.
    */
  def binaryMedia(s: SparkSession, path: String,
      glob: Option[String] = None, idFromStem: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val id =
      if (idFromStem) {
        // anchored to the WHOLE stem (the segment between the last '/'
        // and the extension): "a123.wav" or "x.wav" is an id-less
        // filename in an ids-in-stems corpus — a data-layout bug — and
        // must fail LOUDLY, not ingest as 123 or as a silent NULL id
        val stem = regexp_extract(col("path"), "(?:^|/)([0-9]+)\\.[^./]+$", 1)
        when(stem === "",
          raise_error(concat(
            lit("binaryMedia(idFromStem=true): filename stem is not a "),
            lit("bare numeric doc_id: "), col("path"))))
          .otherwise(stem.cast("long"))
      } else xxhash64(col("path"))
    val fmt = lower(element_at(split(col("path"), "\\."), -1))
    val probe = udf((f: String, b: Array[Byte]) =>
      graft.operators.Multimodal.probeDims(f, b))
    binaryFiles(s, path, glob)
      .withColumn("p", probe(fmt, col("content")))
      .select(
        id.as("doc_id"),
        col("content").as("blob"),
        struct(
          fmt.as("format"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_frames").as("n_frames")).as("meta"))
  }

  /** Partitioned JDBC scan. `partitionColumn` should be the PK/identity
    * column — the reference's identity seed/increment metadata
    * (Program.cs:169-170) gives natural bounds. With no partition column
    * the scan degrades to a single task (small/dimension tables only).
    */
  def jdbc(s: SparkSession, url: String, table: String,
      props: java.util.Properties,
      partitionColumn: Option[String] = None,
      lowerBound: Long = 0L, upperBound: Long = 0L,
      numPartitions: Int = 32): DataFrame = {
    SqlServerDialect.register() // idempotent; no-op for non-sqlserver URLs
    partitionColumn match {
      case Some(col) =>
        s.read.jdbc(url, table, col, lowerBound, upperBound, numPartitions, props)
      case None =>
        s.read.jdbc(url, table, props)
    }
  }
}
