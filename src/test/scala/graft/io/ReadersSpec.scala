package graft.io

import graft.{SparkFixture, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `Readers.parquet` takes its schema from one footer on the driver; it
  * must read exactly what `spark.read.parquet` reads (schema, including
  * nullability and metadata, and content) on every input shape.
  */
class ReadersSpec extends AnyFunSuite with SparkFixture {

  /** Row count and order-insensitive content hash. */
  private def hash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def assertParity(ours: DataFrame, spark: DataFrame, what: String): Unit = {
    assert(ours.schema == spark.schema, what)
    assert(hash(ours) == hash(spark), what)
  }

  test("every corpus table reads with Spark's inferred schema and content") {
    Tables.names.foreach { t =>
      val p = s"$sfDir/$t.parquet"
      if (t == "events") {
        // Tables.events sets nanosAsLong first; the footer conversion
        // must honor it as inference does
        val ours = Tables.events(spark, sfDir)
        assertParity(ours, Tables.normalizeEventsTs(spark.read.parquet(p)), t)
      } else assertParity(Readers.parquet(spark, p), spark.read.parquet(p), t)
    }
  }

  test("Spark-written directory with _SUCCESS and .crc files, and one of " +
      "its files read alone") {
    val dir = Files.createTempDirectory("graft-readers").toString + "/t"
    Tables.orders(spark, sfDir).repartition(3).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertParity(Readers.parquet(spark, dir), spark.read.parquet(dir), "directory")
    val one = s"$dir/${names.filter(_.endsWith(".parquet")).min}"
    assertParity(Readers.parquet(spark, one), spark.read.parquet(one), "single file")
  }

  test("a hive-partitioned directory keeps its partition column") {
    val dir = Files.createTempDirectory("graft-readers-part").toString + "/t"
    Tables.nation(spark, sfDir).write.partitionBy("n_regionkey").parquet(dir)
    val ours = Readers.parquet(spark, dir)
    assert(ours.columns.contains("n_regionkey"))
    assertParity(ours, spark.read.parquet(dir), "partitioned")
  }

  test("an empty directory fails as Spark's read does") {
    val dir = Files.createTempDirectory("graft-readers-empty").toString
    def failure(read: => DataFrame) =
      intercept[org.apache.spark.sql.AnalysisException](read)
    val (ours, theirs) = (failure(Readers.parquet(spark, dir)),
      failure(spark.read.parquet(dir)))
    assert(ours.getCondition == theirs.getCondition, ours.getMessage)
  }
}
