package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus table access (TESTDATA.md): one parquet file per table under a
  * scale-factor directory. Centralizing the reads keeps every operator
  * scan-pruned (parquet column pruning + predicate pushdown happen at the
  * Catalyst level as long as we never materialize here).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema from the table's footer on the driver ([[graft.io.Readers.parquet]]),
    * so resolving a table runs no Spark job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.io.Readers.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The corpus's `events.ts` physical type has drifted across testdata
    * regenerations — observed variants so far:
    *   - parquet TIMESTAMP(NANOS): Spark 4 refuses it natively; with the
    *     legacy nanosAsLong flag it surfaces as LongType nanos
    *   - TIMESTAMP_MICROS(isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ,
    *     which `unix_micros`/window functions reject
    *   - TIMESTAMP_MICROS(isAdjustedToUTC=true): plain TimestampType
    * Normalize every variant to a µs-precision TimestampType `ts`. The
    * session timezone is pinned to UTC (build.sbt / SparkFixture), so the
    * NTZ→instant cast is value-preserving and matches DuckDB, which reads
    * the same column as a naive TIMESTAMP whose `epoch_us` equals
    * `unix_micros` under UTC. Any OTHER type is a corpus contract break we
    * refuse loudly (drift guard) instead of letting six downstream queries
    * each throw their own analysis error.
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // legacy ns-as-long corpus
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType => // µs naive: reinterpret as UTC instant
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts drifted to unsupported type $other — extend Tables.normalizeEventsTs " +
          "(corpus schema contract: TESTDATA.md/FIXTURES.md)")
    }

  /** Side effect (deliberate): sets the session-wide legacy nanosAsLong
    * flag, because a TIMESTAMP(NANOS) scan consults it at EXECUTION time —
    * restoring it after schema resolution would break the deferred read.
    * Harmless for µs corpora (the flag only affects ns columns).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(load(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Canonical accessor by name (events gets its nanos normalization). */
  def table(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else load(s, d, name)

  /** Register every corpus table as a temp view (for spark.sql users),
    * plus graft's custom SQL functions — the SQL-text surface
    * ([[SparkEntry.sparkSql]]) spells dedup/similarity queries with
    * `shingle_hash`/`cosine_sim`/`content_chunks`/..., so a registered
    * session must resolve them.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    graft.plans.Graft.ensureRegistered(spark)
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
  }
}
