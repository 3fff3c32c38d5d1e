package graft.io

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WritersSpec extends AnyFunSuite with SparkFixture {

  test("zOrderedN clusters DATE and TIMESTAMP_NTZ keys into range-ordered files") {
    // perm is a permutation of 0..399; both keys increase strictly with it
    // and span the epoch, so a file's perm range is its key range
    val perm = col("id") * 37 % 400
    val df = spark.range(0, 400, 1, 4).select(col("id"), perm.as("perm"),
      date_add(lit(java.sql.Date.valueOf("1969-06-01")), perm.cast("int")).as("d"),
      timestamp_seconds(lit(-86400L * 30) + perm * 25200L)
        .cast("timestamp_ntz").as("ts"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    Seq("d", "ts").foreach { k =>
      Writers.zOrderedN(df, s"$tmp/$k", Seq(k), numFiles = 4)
      val back = spark.read.parquet(s"$tmp/$k")
      assert(back.schema.map(_.dataType) == df.schema.map(_.dataType), k)
      assert(back.orderBy("id").collect().sameElements(df.orderBy("id").collect()), k)
      val ranges = back.groupBy(input_file_name())
        .agg(min("perm"), max("perm")).collect()
        .map(r => (r.getLong(1), r.getLong(2))).sorted
      assert(ranges.length > 1, s"$k: one file — the write was not clustered")
      assert(ranges.sliding(2).forall { case Array(a, b) => a._2 < b._1 },
        s"$k: overlapping file ranges ${ranges.mkString(", ")}")
    }
  }
}
