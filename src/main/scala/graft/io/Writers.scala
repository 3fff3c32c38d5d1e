package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** Sink writers (SURVEY §2.A A18-A20).
  *
  * The reference picks between 1000-row literal INSERT batches (identity
  * tables, /root/reference/Program.cs:623-675) and SqlBulkCopy with
  * 3000-row batches (688-743). Both collapse to `df.write.jdbc` — batched
  * prepared statements issued per partition — with the identity path wrapped
  * in SET IDENTITY_INSERT ON/OFF (Program.cs:625-629, 670-674).
  */
object Writers {

  /** SQL Server datetime domain (Program.cs:723-729). */
  val MinDatetime: java.sql.Timestamp = java.sql.Timestamp.valueOf("1753-01-01 00:00:00")
  val MaxDatetime: java.sql.Timestamp = java.sql.Timestamp.valueOf("9999-12-31 23:59:59.997")

  /** Clamp every timestamp column into the SQL Server datetime domain —
    * the bulk path's normalization (Program.cs:723-729), as a column
    * expression so it runs inside codegen rather than per-row driver code.
    */
  def clampDatetimes(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == TimestampType).foldLeft(df) { (d, f) =>
      val c = col(f.name)
      d.withColumn(f.name,
        when(c < lit(MinDatetime), lit(MinDatetime))
          .when(c > lit(MaxDatetime), lit(MaxDatetime))
          .otherwise(c))
    }

  /** Parquet sink: the corpus-native target. */
  def parquet(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  /** ORC sink (columnar twin of [[parquet]]). */
  def orc(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** CSV sink with header, for row-oriented interchange — the export twin
    * of [[Readers.csv]]. Timestamps render ISO-8601 in the session zone
    * (UTC per build.sbt); no columnar pushdown on re-read, so this is an
    * interchange format, not a storage layout.
    */
  def csv(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** JSON-lines sink — the export twin of [[Readers.json]]. */
  def json(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** XML sink — the export twin of [[Readers.xml]] (Spark 4 core
    * datasource; one `rowTag` element per row, `rootTag` wrapping each
    * part file). Interop format only: row-splittable on read but
    * schema-per-element verbose — parquet/orc stay the analytic layout.
    */
  def xml(df: DataFrame, path: String, rowTag: String = "ROW",
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("rowTag", rowTag).xml(path)

  /** Hive-style partitioned parquet: one directory per `partitionCols`
    * value combination, so a filter on those columns prunes whole
    * directories before any file is opened — at 100 TB the difference
    * between scanning a day and scanning the archive. Low-cardinality
    * columns only (each combination is a directory); high-cardinality
    * layout wants [[bucketed]] instead.
    */
  def partitionedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed catalog table: pre-shuffles once at write time so every
    * later equi-join/aggregation on `bucketCol` against a like-bucketed table
    * is exchange-free — the persistent-layout answer to the reference's
    * CLUSTERED indexes (SURVEY A13: index metadata becomes physical
    * layout, not a b-tree).
    */
  def bucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int = 32): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Range-clustered parquet layout: rows are range-partitioned AND
    * sorted on `clusterCols`, so every output file covers a disjoint
    * (or boundary-touching — equal keys never split) key range and row
    * groups inside each file are sorted. Parquet stores per-row-group
    * min/max for the cluster columns, so a pushed-down range predicate
    * skips whole row groups / files at read time — the sort-based
    * complement to [[partitionedParquet]] (directory pruning needs low
    * cardinality; range clustering handles high-cardinality/continuous
    * keys like timestamps — the Z-order idea restricted to one sort
    * dimension, which is what plain parquet stats can exploit).
    */
  def rangeClustered(df: DataFrame, path: String, clusterCols: Seq[String],
      numFiles: Int = 32, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode(mode).parquet(path)

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative integer columns — a pure Column expression (fold of
    * shift/mask/or), so it stays inside whole-stage codegen.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    zValueN(Seq(a, b), bits)

  /** N-dimensional Morton interleave: output bit `k·N + d` is bit `k` of
    * dimension `d` — [[zValue]] is the N=2 case. `N·bits` must fit a
    * long's positive range; 3 dims × 16 bits or 4 × 12 are typical
    * (a date × tenant × key clustering wants exactly this).
    */
  def zValueN(dims: Seq[Column], bits: Int = 16): Column = {
    require(dims.nonEmpty && dims.size * bits <= 63,
      s"zValueN: ${dims.size} dims x $bits bits exceeds a long")
    val n = dims.size
    dims.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, d)) =>
      (0 until bits).foldLeft(acc) { (a, k) =>
        a.bitwiseOR(shiftleft(shiftrightunsigned(c.cast("long"), k)
          .bitwiseAND(1L), k * n + d))
      }
    }
  }

  /** Z-order-clustered parquet layout: range-partition + sort on the
    * Morton interleave of TWO cluster keys, so every file's row-group
    * stats bound a small rectangle in BOTH dimensions — [[rangeClustered]]
    * prunes range predicates on its leading key only; this prunes on
    * either (or both) of two high-cardinality keys, the multi-dimensional
    * layout a 100 TB table with two common filter columns wants.
    *
    * Each dimension is min-max normalized to the shared `bits` budget
    * before interleaving — interleaving RAW values makes the wider
    * dimension's high bits dominate the code and the narrow dimension
    * gets no locality at all (measured: a 0–9 key kept ~99% of its span
    * per file un-normalized). The min/max pre-pass is one bounded 1-row
    * aggregate (at warehouse scale these bounds come free from table
    * metadata). The `_z` helper column is dropped before writing: the
    * payoff is purely in row placement.
    */
  def zOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int = 32, bits: Int = 16,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    zOrderedN(df, path, Seq(colA, colB), numFiles, bits, mode)

  /** N-dimensional [[zOrdered]]: range-partition + sort on
    * [[zValueN]] of the min-max-normalized cluster keys. Same contract,
    * any number of dimensions that fits the bit budget — each output
    * file bounds a small HYPER-rectangle, so row-group stats prune a
    * range predicate on ANY of the cluster keys.
    */
  def zOrderedN(df: DataFrame, path: String, clusterCols: Seq[String],
      numFiles: Int = 32, bits: Int = 16,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    // an order-preserving long per key: days for DATE, microseconds (read
    // in UTC) for TIMESTAMP and TIMESTAMP_NTZ; a plain cast nulls or
    // rejects them
    def asLong(c: String): Column = df.select(c).schema.head.dataType match {
      case DateType => unix_date(col(c)).cast("long")
      case TimestampType | TimestampNTZType => unix_micros(ColumnBridge.column(
        Cast(ColumnBridge.expression(col(c)), TimestampType, Some("UTC"))))
      case _ => col(c).cast("long")
    }
    val aggs = clusterCols.flatMap(c => Seq(min(asLong(c)), max(asLong(c))))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    // empty input OR an all-null key column: no meaningful bounds to
    // normalize against — write unclustered rather than NPE on null stats
    if ((0 until 2 * clusterCols.size).exists(mm.isNullAt)) {
      df.write.mode(mode).parquet(path)
      return
    }
    // scale in DOUBLE: a long (x-lo)*(2^bits-1) product overflows for key
    // spans beyond ~1.4e14 (epoch-micros columns spanning years — the
    // advertised use case) and would silently garble every code
    def norm(c: Column, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else ((c.cast("double") - lit(lo.toDouble)) / lit((hi - lo).toDouble) *
        lit(((1L << bits) - 1).toDouble)).cast("long")
    val dims = clusterCols.zipWithIndex.map { case (c, i) =>
      norm(asLong(c), mm.getLong(2 * i), mm.getLong(2 * i + 1))
    }
    df.withColumn("_z", zValueN(dims, bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(mode).parquet(path)
  }

  /** Small-file compaction — the table-maintenance pass every large lake
    * needs: streaming/ingest jobs leave directories of KB-sized files
    * whose per-file open/footer cost eventually dominates scans (and
    * whose listing cost hits the driver). Rewrites `src` into
    * `ceil(totalBytes / targetFileBytes)` files at `dst` (never
    * in-place: the caller swaps directories after validating, so a
    * failed compaction can't destroy the source). Uses coalesce — a
    * partition-merge with NO shuffle — because compaction must not pay
    * a corpus-wide exchange. Returns (filesBefore, filesAfter).
    */
  def compactParquet(s: org.apache.spark.sql.SparkSession, src: String,
      dst: String, targetFileBytes: Long = 128L << 20): (Int, Int) = {
    val before = Readers.parquetFiles(s, src)
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    Readers.parquet(s, src).coalesce(n).write.mode(SaveMode.Overwrite).parquet(dst)
    (before.size, Readers.parquetFiles(s, dst).size)
  }

  /** JDBC append with the reference's batch/timeout profile
    * (batchsize 1000|3000, queryTimeout 600 — Program.cs:631,695,662,703).
    * For identity tables use [[jdbcWithSessionSetup]] — Spark's writer has
    * no per-connection init hook (`sessionInitStatement` is a *read-path*
    * option), so the ON/OFF wrap needs the explicit partition writer.
    */
  def jdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties,
      batchSize: Int = 3000,
      clampDates: Boolean = false): Unit = {
    SqlServerDialect.register() // idempotent; no-op for non-sqlserver URLs
    val data = if (clampDates) clampDatetimes(df) else df
    data.write.mode(SaveMode.Append)
      .option("batchsize", batchSize)
      .option("queryTimeout", 600)
      .jdbc(url, table, props)
  }

  /** Identity-aware JDBC append: per partition, open a connection, run
    * `setup` (e.g. `SET IDENTITY_INSERT [t] ON` — session-scoped in SQL
    * Server, so it MUST share the insert connection, mirroring
    * Program.cs:625-629/670-674), then write prepared-statement batches.
    * Distributed: one connection+transaction per partition, no driver
    * materialization.
    */
  def jdbcWithSessionSetup(df: DataFrame, url: String, table: String,
      props: java.util.Properties,
      setup: Seq[String],
      teardown: Seq[String] = Nil,
      batchSize: Int = 1000,
      quote: String => String = identity): Unit = {
    val schema = df.schema
    val cols = schema.fieldNames
    // pass quote = s => s"[$s]" (SQL Server) / "\"" + _ + "\"" when
    // identifiers are reserved words or contain specials; default unquoted
    // so case-insensitive engines resolve mixed-case frame/table names
    val insertSql = s"INSERT INTO ${quote(table)} (${cols.map(quote).mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
    // JDBC type per column for typed setNull — untyped setObject(null)
    // fails on drivers that cannot infer the SQL type (Derby, Postgres)
    val sqlTypes: Array[Int] = schema.fields.map(f => f.dataType match {
      case org.apache.spark.sql.types.IntegerType   => java.sql.Types.INTEGER
      case org.apache.spark.sql.types.LongType      => java.sql.Types.BIGINT
      case org.apache.spark.sql.types.ShortType     => java.sql.Types.SMALLINT
      case org.apache.spark.sql.types.BooleanType   => java.sql.Types.BOOLEAN
      case org.apache.spark.sql.types.DoubleType    => java.sql.Types.DOUBLE
      case org.apache.spark.sql.types.FloatType     => java.sql.Types.REAL
      case _: org.apache.spark.sql.types.DecimalType => java.sql.Types.DECIMAL
      case org.apache.spark.sql.types.TimestampType => java.sql.Types.TIMESTAMP
      case org.apache.spark.sql.types.DateType      => java.sql.Types.DATE
      case org.apache.spark.sql.types.BinaryType    => java.sql.Types.VARBINARY
      case _                                        => java.sql.Types.VARCHAR
    })
    val propsMap = {
      import scala.jdk.CollectionConverters._
      props.asScala.toMap
    }
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val p = new java.util.Properties()
        propsMap.foreach { case (k, v) => p.setProperty(k, v) }
        val conn = java.sql.DriverManager.getConnection(url, p)
        try {
          conn.setAutoCommit(false)
          setup.foreach { s =>
            val st = conn.createStatement(); try st.execute(s) finally st.close()
          }
          val ps = conn.prepareStatement(insertSql)
          try {
            var n = 0
            rows.foreach { row =>
              var i = 0
              while (i < cols.length) {
                if (row.isNullAt(i)) ps.setNull(i + 1, sqlTypes(i))
                else ps.setObject(i + 1, row.get(i))
                i += 1
              }
              ps.addBatch()
              n += 1
              if (n % batchSize == 0) ps.executeBatch()
            }
            if (n % batchSize != 0) ps.executeBatch()
          } finally ps.close()
          teardown.foreach { s =>
            val st = conn.createStatement(); try st.execute(s) finally st.close()
          }
          conn.commit()
        } catch { case e: Throwable =>
          // JDBC leaves close-with-open-transaction behavior driver-defined
          // (some drivers commit); roll back explicitly so a failed partition
          // can never persist a partial batch
          try conn.rollback() catch { case _: Throwable => () }
          throw e
        } finally conn.close()
      }
    }
  }
}
