package graft.operators

import graft.{SparkFixture, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintStoreSpec extends AnyFunSuite with SparkFixture {

  private lazy val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
    .localCheckpoint()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-fps-$tag").toString

  test("append and vacuum leave no pinned RDD behind") {
    val dir = tmp("pins")
    FingerprintStore.bootstrap(spark, media.filter(col("doc_id") % 2 === 0), dir)
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinned
    FingerprintStore.append(spark, media.filter(col("doc_id") % 2 =!= 0), dir)
    assert(pinned == before, "append leaked a pin")
    FingerprintStore.vacuum(spark, dir,
      media.filter(col("doc_id") % 3 =!= 0).select("doc_id"))
    assert(pinned == before, "vacuum leaked a pin")
  }

  test("a store in the legacy per-kind layout is refused with a " +
      "re-bootstrap message, and bootstrap over it replaces the layout") {
    val dir = tmp("legacy")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    Seq("image", "audio", "video", "ledger").foreach(cat =>
      Seq((1L, 2L)).toDF("doc_id", "x").write.parquet(s"$dir/$cat"))
    fs.create(new Path(s"$dir/_audiobits-32"), true).close()
    def refused(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains("re-bootstrap"), e.getMessage)
    }
    refused(FingerprintStore.append(spark, media, dir))
    refused(FingerprintStore.imageHashes(spark, dir))
    refused(FingerprintStore.ledger(spark, dir))
    refused(FingerprintStore.compact(spark, dir))

    FingerprintStore.bootstrap(spark, media, dir)
    Seq("image", "audio", "video", "ledger").foreach(cat =>
      assert(!fs.exists(new Path(s"$dir/$cat")), s"$cat/ survived bootstrap"))
    assert(FingerprintStore.ledger(spark, dir).count() == media.count())
    assert(FingerprintStore.imageHashes(spark, dir).columns.toSeq ==
      Seq("doc_id", "dhash"))
  }
}
