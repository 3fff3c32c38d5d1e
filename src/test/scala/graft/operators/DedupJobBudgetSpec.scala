package graft.operators

import graft.{SparkFixture, Tables}
import graft.io.{ChunkStore, Readers, StatsManifest, Writers}
import graft.pipeline.ClonePipeline
import graft.pipeline.ClonePipeline.TableLayout
import graft.plans.ManifestRegistry
import graft.plans.ManifestRuleSupport.{MetaCount, Prune, sessionWith}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSpecBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Spark-job ceilings for the dedup path's store and graph operators, BPE
  * training, the chunk store, the clone and sync path, benchmark
  * decontamination (one-shot and one streaming-gate batch) and the
  * manifest rules' planning. At this size they are bound
  * by job count (driver time between jobs), not by data, so a job added
  * back is the regression to catch; counts are deterministic where wall
  * time is not.
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
      ("videoNearDupPairs", 3, () => FingerprintStore.videoNearDupPairs(spark,
        s"$dir/store", ordered = false).collect()),
      ("connectedComponents", 4, () =>
        TrainPrep.connectedComponents(spark.read.parquet(s"$dir/pairs"))
          .write.parquet(s"$dir/cc"))
    ).foreach { case (op, ceiling, run) =>
      val jobs = jobsOf(run())
      assert(jobs <= ceiling, s"$op ran $jobs jobs, ceiling $ceiling")
    }
  }

  test("bpeMerges runs the same Spark jobs for 5 merges as for 50") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .limit(40).localCheckpoint()
    // the merge loop runs driver-side: only the word count is a job
    val jobs = Seq(5, 50).map(m =>
      jobsOf(LLMOps.bpeMerges(docs, numMerges = m).collect()))
    assert(jobs.head == jobs.last, s"jobs for 5 vs 50 merges: $jobs")
    assert(jobs.last <= 1, s"bpeMerges ran ${jobs.last} jobs, ceiling 1")
  }

  test("ChunkStore write and vacuum stay within their job ceilings") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .where(col("text").isNotNull)
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    Seq[(String, Int, () => Unit)](
      ("ChunkStore.write", 7, () => ChunkStore.write(docs, dir)),
      ("ChunkStore.vacuum", 15, () => ChunkStore.vacuum(spark, dir,
        docs.filter(col("doc_id") % 3 =!= 0).select("doc_id")))
    ).foreach { case (op, ceiling, run) =>
      val jobs = jobsOf(run())
      assert(jobs <= ceiling, s"$op ran $jobs jobs, ceiling $ceiling")
    }
  }

  test("Readers.parquet, clone, layout clone and sync stay within their " +
      "job ceilings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    // a sync target at version 0 and a source re-versioning a tenth of
    // its keys and adding ten more at version 1
    spark.range(100).select(col("id"), (col("id") * 7).as("v"), lit(0L).as("version"))
      .write.parquet(s"$dir/sync_v0")
    spark.range(110).select(col("id"), (col("id") * 7 + 1).as("v"),
        when(col("id") % 10 === 0 || col("id") >= 100, 1L).otherwise(0L).as("version"))
      .write.parquet(s"$dir/sync_v1")
    ClonePipeline.incrementalSync(spark, spark.read.parquet(s"$dir/sync_v0"),
      s"$dir/synced", Seq("id"), "version")
    val syncSource = spark.read.parquet(s"$dir/sync_v1")
    val layouts = Map(
      "lineitem" -> TableLayout(Seq("l_shipdate"), numFiles = 4),
      "orders" -> TableLayout(Seq("o_custkey", "o_totalprice"), zOrder = true,
        numFiles = 4))
    // schemas and counts come from the read and the write already done:
    // one job per plain table (its write), no re-read and no DDL job
    try Seq[(String, Int, () => Unit)](
      ("Readers.parquet", 0, () => Readers.parquet(spark, s"$dir/sync_v0").schema),
      ("clone", 3, () => ClonePipeline.clone(spark, sfDir, s"$dir/clone",
        Seq("region", "nation", "customer"))),
      ("clone with layouts", 12, () => ClonePipeline.clone(spark, sfDir,
        s"$dir/clone_layout", Seq("orders", "lineitem"), layouts = layouts)),
      ("incrementalSync", 6, () => ClonePipeline.incrementalSync(spark,
        syncSource, s"$dir/synced", Seq("id"), "version"))
    ).foreach { case (op, ceiling, run) =>
      val jobs = jobsOf(run())
      assert(jobs <= ceiling, s"$op ran $jobs jobs, ceiling $ceiling")
    } finally layouts.keys.foreach(t => graft.plans.ManifestRegistry
      .deregister(spark, s"$dir/clone_layout/$t.parquet"))
  }

  test("fuzzy decontamination and one gate batch stay within their job " +
      "ceilings") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("bench_id"),
        concat(col("text"), lit(" held out eval sample")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val sets = graft.streaming.StreamOps.persistedBenchSets(bench,
      s"$dir/out/_bench_sets")
    val half = docs.filter(col("doc_id") % 2 === 0).localCheckpoint()
    Seq[(String, Int, () => Unit)](
      ("fuzzyDecontam", 8, () => TrainPrep.fuzzyDecontam(docs, bench).collect()),
      ("decontamGateBatch", 14, () => graft.streaming.StreamOps
        .decontamGateBatch(half, 0L, sets, s"$dir/out", s"$dir/ckpt", 0.5))
    ).foreach { case (op, ceiling, run) =>
      val jobs = jobsOf(run())
      assert(jobs <= ceiling, s"$op ran $jobs jobs, ceiling $ceiling")
    }
  }

  test("registerManifest and the ivf serving centroids stay within their " +
      "job ceilings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    Writers.rangeClustered(Tables.orders(spark, sfDir).select("o_orderkey"),
      s"$dir/t", Seq("o_orderkey"), numFiles = 4)
    StatsManifest.build(spark, s"$dir/t", Seq("o_orderkey"))
      .write.parquet(s"$dir/manifest")
    Ivf.bootstrapStore(spark, Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding"), s"$dir/ivf")
    // the manifest's schema comes from one footer, so its eager
    // checkpoint is the one job; the centroid frame runs none until an
    // action does
    try Seq[(String, Int, () => Unit)](
      ("registerManifest", 1, () =>
        graft.plans.Graft.registerManifest(spark, s"$dir/t", s"$dir/manifest")),
      ("servingCentroids", 0, () => Ivf.servingCentroids(spark, s"$dir/ivf"))
    ).foreach { case (op, ceiling, run) =>
      val jobs = jobsOf(run())
      assert(jobs <= ceiling, s"$op ran $jobs jobs, ceiling $ceiling")
    } finally ManifestRegistry.deregister(spark, s"$dir/t")
  }

  test("the manifest rules plan a banded filter and a banded COUNT(*) " +
      "within their job ceilings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    Writers.rangeClustered(li, dir, Seq("l_orderkey"), numFiles = 16)
    ManifestRegistry.register(spark, dir,
      StatsManifest.build(spark, dir, Seq("l_orderkey")))
    try {
      val k = li.agg(min("l_orderkey"), max("l_orderkey")).head()
      val (lo, hi) = (k.getLong(0) + (k.getLong(1) - k.getLong(0)) / 4,
        k.getLong(0) + 3 * (k.getLong(1) - k.getLong(0)) / 4)
      val (prune, metacount) = (sessionWith(spark, Prune), sessionWith(spark, MetaCount))
      // planning reads the manifest once per OR-free filter, not once per
      // conjunct (this filter has five after IsNotNull inference)
      Seq[(String, Int, () => Unit)](
        ("prune planning", 2, () => prune.read.parquet(dir)
          .where(col("l_orderkey").between(lo, hi) && col("l_quantity") > 0)
          .queryExecution.optimizedPlan),
        ("metacount planning", 4, () => metacount.read.parquet(dir)
          .where(col("l_orderkey").between(lo, hi)).groupBy().count()
          .queryExecution.optimizedPlan)
      ).foreach { case (op, ceiling, run) =>
        val jobs = jobsOf(run())
        assert(jobs <= ceiling, s"$op ran $jobs jobs, ceiling $ceiling")
      }
    } finally ManifestRegistry.deregister(spark, dir)
  }
}
