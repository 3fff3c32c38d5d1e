package graft.operators

import graft.{SparkFixture, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSpecBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Spark-job ceilings for the dedup path's store and graph operators. At
  * this size they are bound by job count (driver time between jobs), not
  * by data, so a job added back is the regression to catch; counts are
  * deterministic where wall time is not.
  */
class DedupJobBudgetSpec extends AnyFunSuite with SparkFixture {

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    GraftSpecBridge.drainListenerBus(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      GraftSpecBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }

  test("bootstrap, append, compact and connected components stay within " +
      "their job ceilings") {
    val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    LLMOps.qL05(spark, sfDir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .write.parquet(s"$dir/pairs")
    Seq[(String, Int, () => Unit)](
      ("bootstrap", 4, () => FingerprintStore.bootstrap(spark,
        media.filter(col("doc_id") % 4 =!= 0), s"$dir/store")),
      ("append", 8, () => FingerprintStore.append(spark, media, s"$dir/store")),
      ("compact", 2, () => FingerprintStore.compact(spark, s"$dir/store")),
      ("connectedComponents", 4, () =>
        TrainPrep.connectedComponents(spark.read.parquet(s"$dir/pairs"))
          .write.parquet(s"$dir/cc"))
    ).foreach { case (op, ceiling, run) =>
      val jobs = jobsOf(run())
      assert(jobs <= ceiling, s"$op ran $jobs jobs, ceiling $ceiling")
    }
  }
}
