package graft.io

import graft.{SparkFixture, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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

  test("the file-list form reads what Spark reads, and takes a given schema " +
      "without reading a footer") {
    val dir = Files.createTempDirectory("graft-readers-files").toString + "/t"
    Tables.orders(spark, sfDir).repartition(3).write.parquet(dir)
    val files = Readers.parquetFiles(spark, dir).map(_.getPath.toString)
    assert(files.size == 3, files)
    assertParity(Readers.parquet(spark, files), spark.read.parquet(files: _*), "files")
    val narrow = org.apache.spark.sql.types.StructType(
      Seq(spark.read.parquet(dir).schema("o_orderkey")))
    assert(Readers.parquet(spark, files, Some(narrow)).schema == narrow)
  }

  test("parquetFiles lists what a listFiles walk lists, in its order, with " +
      "the lengths") {
    val dir = Files.createTempDirectory("graft-readers-list").toString + "/t"
    Tables.nation(spark, sfDir).write.partitionBy("n_regionkey").parquet(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(root, true)
    val walked = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.toString, f.getLen)).toSeq
    assert(walked.nonEmpty)
    assert(Readers.parquetFiles(spark, dir).map(f => (f.getPath.toString, f.getLen))
      == walked)
  }

  test("src/main lists and reads parquet only through Readers") {
    // one way to list and read parquet: a raw directory read runs a
    // schema-inference job, and a listFiles walk builds a
    // LocatedFileStatus per file (one permission subprocess each on the
    // local file system). Ivf's union-schema reads spell
    // option("mergeSchema", "true") and stay outside on purpose, as do
    // the tools.
    val banned = Seq("""listFiles\(""", """listLocatedStatus\(""",
      """\.read\s*\.\s*(parquet|schema)\(""").map(_.r)
    val root = Paths.get("src/main/scala")
    val readers = Paths.get("graft", "io", "Readers.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith(readers)))
    val offenders = for {
      f <- files
      rel = root.relativize(f)
      if rel != readers && !rel.startsWith(Paths.get("graft", "tools"))
      text = Files.readString(f)
      b <- banned if b.findFirstIn(text).nonEmpty
    } yield s"$rel: $b"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
