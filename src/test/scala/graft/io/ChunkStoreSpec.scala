package graft.io

import graft.{SparkFixture, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChunkStoreSpec extends AnyFunSuite with SparkFixture {

  test("vacuum leaves no pinned RDD behind") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-pins").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .where(col("text").isNotNull)
    ChunkStore.write(docs, dir)
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinned
    ChunkStore.vacuum(spark, dir, docs.filter(col("doc_id") % 3 =!= 0).select("doc_id"))
    assert(pinned == before, "vacuum leaked a pin")
  }
}
