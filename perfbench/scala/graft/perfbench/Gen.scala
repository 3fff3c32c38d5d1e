package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, salt, row id) through `xxhash64`, so the same seed writes the
  * same rows in the same order, and the program only ever reads files.
  */
object Gen {
  /** The cloned database: the TPC-H-shaped tables the queries read. */
  val CorpusTables: Seq[String] = Seq("customer", "orders", "lineitem")

  private def u(seed: Long, salt: Int, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))

  private def pick(seed: Long, salt: Int, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, salt, id, xs.size) + 1).cast("int"))

  /** 1995-01-01 plus a seeded number of days below `span`, as the
    * fixture's zone-less TIMESTAMP (UTC session: the cast keeps the value).
    */
  private def day(seed: Long, salt: Int, id: Column, span: Long): Column =
    timestamp_seconds(lit(788918400L) + u(seed, salt, id, span) * 86400L)
      .cast("timestamp_ntz")

  final case class Sizes(customer: Long, supplier: Long, part: Long,
      orders: Long) {
    def lineitem: Long = 4 * orders
  }

  /** TPC-H-shaped sizes at scale factor `sf`, like the fixture corpus. */
  def sizes(sf: Double): Sizes = Sizes((150000 * sf).toLong,
    math.max(10L, (10000 * sf).toLong), (200000 * sf).toLong,
    (1500000 * sf).toLong)

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** The relational corpus (fixture schemas) of [[CorpusTables]]. */
  def corpus(s: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val n = sizes(sf)
    val par = s.sparkContext.defaultParallelism
    val id = col("id")
    // the fixture stores timestamps as TIMESTAMP_MICROS, not Spark's INT96
    val key = "spark.sql.parquet.outputTimestampType"
    val prevTs = s.conf.getOption(key)
    s.conf.set(key, "TIMESTAMP_MICROS")
    try {
      write(s.range(0, n.customer, 1, par).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        u(seed, 1, id, 25).cast("int").as("c_nationkey"),
        ((u(seed, 2, id, 1099270) - 99427) / 100.0).as("c_acctbal"),
        pick(seed, 3, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
        s"$dir/customer.parquet")
      write(orders(s, 0L, n.orders, n.customer, seed, 0L), s"$dir/orders.parquet")
      write(s.range(0, n.lineitem, 1, par).select(
        u(seed, 20, id, n.orders).as("l_orderkey"),
        u(seed, 21, id, n.part).as("l_partkey"),
        u(seed, 22, id, n.supplier).as("l_suppkey"),
        (u(seed, 23, id, 7) + 1).cast("int").as("l_linenumber"),
        (u(seed, 24, id, 50) + 1).cast("double").as("l_quantity"),
        ((u(seed, 25, id, 9910000) + 90000) / 100.0).as("l_extendedprice"),
        (u(seed, 26, id, 11) / 100.0).as("l_discount"),
        (u(seed, 27, id, 9) / 100.0).as("l_tax"),
        pick(seed, 28, id, Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, 29, id, Seq("F", "O")).as("l_linestatus"),
        day(seed, 30, id, 2498).as("l_shipdate")),
        s"$dir/lineitem.parquet")
    } finally prevTs match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Orders with keys in [from, until) at row version `version` — the
    * corpus table and the rows a sync batch inserts share one recipe.
    * `o_version` (beyond the fixture schema) is what `incrementalSync`
    * keys its delta on, so the clone of orders is a valid sync target.
    */
  private def orders(s: SparkSession, from: Long, until: Long, nCust: Long,
      seed: Long, version: Long): DataFrame = {
    val id = col("id")
    s.range(from, until, 1, s.sparkContext.defaultParallelism).select(
      id.as("o_orderkey"), u(seed, 12, id, nCust).as("o_custkey"),
      pick(seed, 13, id, Seq("F", "O", "P")).as("o_orderstatus"),
      ((u(seed, 14, id, 49896490) + 101370) / 100.0).as("o_totalprice"),
      day(seed, 15, id, 2404).as("o_orderdate"),
      pick(seed, 16, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"),
      lit(version).as("o_version"))
  }

  /** The sync source's later history: `sync_batch_<k>` for k = 1..batches,
    * each re-pricing ~5% of the existing orders and inserting `orders/100`
    * new ones, at version k.
    */
  def syncBatches(s: SparkSession, dir: String, sf: Double, seed: Long,
      batches: Int): Unit = {
    val n = sizes(sf)
    val key = col("o_orderkey")
    val inserts = math.max(1L, n.orders / 100)
    (1 to batches).foreach { k =>
      val updated = s.read.parquet(s"$dir/orders.parquet")
        .filter(u(seed, 100 + k, key, 100) < 5)
        .withColumn("o_totalprice", (u(seed, 200 + k, key, 49896490) + 101370) / 100.0)
        .withColumn("o_orderstatus", lit("F"))
        .withColumn("o_version", lit(k.toLong))
      val from = n.orders + (k - 1) * inserts
      write(updated.unionByName(orders(s, from, from + inserts, n.customer, seed, k)),
        s"$dir/sync_batch_$k.parquet")
    }
  }

  /** `ScaleGen media` rows staged as one file per item (`<doc_id>.<fmt>`),
    * ids below `split` under `dir/a`, the rest under `dir/b` — the shape
    * `Readers.binaryMedia(idFromStem = true)` ingests. Returns staged bytes.
    */
  def stageMedia(s: SparkSession, dir: String, n: Long, split: Long,
      seed: Long): Long = {
    graft.tools.ScaleGen.generateMedia(s, dir, n, seed)
    Files.createDirectories(Paths.get(dir, "a"))
    Files.createDirectories(Paths.get(dir, "b"))
    var bytes = 0L
    s.read.parquet(s"$dir/media.parquet")
      .select(col("doc_id"), col("blob"), col("meta.format")).toLocalIterator()
      .forEachRemaining { r =>
        val id = r.getLong(0)
        val blob = r.getAs[Array[Byte]](1)
        Files.write(Paths.get(dir, if (id < split) "a" else "b",
          s"$id.${r.getString(2)}"), blob)
        bytes += blob.length
      }
    bytes
  }

  /** Order-insensitive content hash: (rows, sum of per-row xxhash64). */
  def contentHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** `df` with `like`'s column order and types (a read-back or an
    * independently computed oracle table, made hash-comparable).
    */
  def conform(df: DataFrame, like: DataFrame): DataFrame = {
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    df.select(like.schema.fields.toIndexedSeq.map(f =>
      col(s"`${byLower(f.name.toLowerCase)}`").cast(f.dataType).as(f.name)): _*)
  }

  /** Bytes of every file under `path` (0 when absent). */
  def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }

  def rmrf(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(Files.delete(_))
      finally st.close()
    }
  }
}
