package graft.streaming

import graft.{SparkFixture, Tables}
import graft.operators.Temporal
import graft.plans.ManifestRegistry
import graft.plans.ManifestRuleSupport.{Prune, sessionWith}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch/stream parity over the real corpus: each streaming operator
  * replayed from a file source must produce exactly its oracle-checked
  * batch twin's results (same bucket/gap semantics, no dropped or
  * duplicated events) — tumbling windows vs Q-T01, session windows vs
  * Q-T05, stream-stream joins vs the equivalent batch range join, plus a
  * rate-limited multi-micro-batch replay. This is the t1 streaming smoke
  * from SURVEY §5.2 run against real files rather than a MemoryStream.
  */
class StreamBatchParitySpec extends AnyFunSuite with SparkFixture {

  /** Stage the events corpus file into a fresh directory (simulating an
    * arriving-files landing zone) and return a normalized streaming frame —
    * THE SAME normalization Tables.events applies (shared helper, so the
    * spec can't drift from the corpus contract again).
    */
  private def stagedEventsStream(): org.apache.spark.sql.DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("part-0.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(dir.toString))
  }

  test("file-source streaming tumbling counts equal the batch query") {
    // stream the events table through the same normalization Tables.events
    // applies (nanos → µs), one file = one micro-batch replay
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file-stream source wants a directory; stage the single corpus
    // file into one (simulating an arriving-files landing zone)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("part-0.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(dir.toString)
    val events = Tables.normalizeEventsTs(raw)

    val q = StreamOps.tumblingCounts(events).writeStream
      .format("memory").queryName("parity").outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("parity")
        .select(col("hr"), col("event_type"), col("cnt"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = Temporal.qT01(spark, sfDir)
        .select(col("hr"), col("event_type"), col("cnt"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("file-source streaming session windows equal the batch Q-T05 sessions") {
    // session-window aggregation rejects update mode; complete mode emits
    // the full session set, closed sessions or not, so it is comparable
    val q = StreamOps.sessionCounts(stagedEventsStream()).writeStream
      .format("memory").queryName("parity_sessions").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("parity_sessions")
        .select(col("user_id"), unix_micros(col("s_start")).as("s_start"),
          unix_micros(col("s_end")).as("s_end"), col("events"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = Temporal.qT05(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream join equals the equivalent batch range join") {
    // view events joined to click events of the same user within 10
    // minutes after the view — the classic attribution join
    val raw = stagedEventsStream()
    val views = raw.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
    val clicks = raw.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val q = StreamOps.joinStreams(views, clicks, "user_id", "view_ts", "click_ts")
      .writeStream
      .format("memory").queryName("parity_join").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("parity_join")
        .select("user_id", "view_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ev = Tables.events(spark, sfDir)
      val bv = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      val bc = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val batch = bv.join(bc, bv("user_id") === bc("c_uid") &&
          bc("click_ts") >= bv("view_ts") &&
          bc("click_ts") <= bv("view_ts") + expr("INTERVAL 10 minutes"))
        .select("user_id", "view_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("rate-limited replay (maxFilesPerTrigger=1) processes multiple " +
      "micro-batches and still matches the batch counts") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // split the corpus into three TIME-ORDERED landing files (a replay of
    // history arrives oldest-first; a random split would rightly lose
    // events to the watermark) and move them into the watched directory
    // with ascending modification times — the file source processes
    // oldest-modified first, so each micro-batch only moves time forward
    import java.nio.file.Files
    val stage = Files.createTempDirectory("graft-replay-stage")
    val dir = Files.createTempDirectory("graft-replay")
    // normalize BEFORE slicing so the slice math is corpus-variant-agnostic
    // (Long nanos / NTZ µs / UTC µs all become TimestampType here) and the
    // re-written slice files are plain µs-UTC parquet
    val rawBatch = Tables.normalizeEventsTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val tsUs = unix_micros(col("ts"))
    val mm = rawBatch.agg(min(tsUs), max(tsUs)).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cuts = Seq(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val slices = Seq(
      rawBatch.filter(tsUs <= cuts(0)),
      rawBatch.filter(tsUs > cuts(0) && tsUs <= cuts(1)),
      rawBatch.filter(tsUs > cuts(1)))
    slices.zipWithIndex.foreach { case (df, i) =>
      val out = stage.resolve(s"s$i")
      df.coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator()
      var moved = false
      while (part.hasNext) {
        val p = part.next()
        if (p.toString.endsWith(".parquet")) {
          Files.move(p, dir.resolve(s"$i.parquet")); moved = true
        }
      }
      assert(moved, s"slice $i produced no parquet part file")
      Thread.sleep(1050) // distinct mtimes → deterministic replay order
    }
    // slices were written post-normalization, so the stream reads plain
    // TimestampType and normalizeEventsTs is an identity passthrough here
    val schema = rawBatch.schema
    val raw = Tables.normalizeEventsTs(
      StreamOps.replayFiles(spark, dir.toString, schema))
    val q = StreamOps.tumblingCounts(raw).writeStream
      .format("memory").queryName("parity_replay").outputMode("update").start()
    try {
      q.processAllAvailable()
      // update mode re-emits a (window, type) row per batch it changed in;
      // the FINAL count per key is the largest (counts only grow)
      val streamed = spark.table("parity_replay")
        .groupBy("hr", "event_type").agg(max("cnt").as("cnt"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = Temporal.qT01(spark, sfDir)
        .select(col("hr"), col("event_type"), col("cnt"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      // the replay genuinely ran as several micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    } finally q.stop()
  }

  test("streaming incremental dedup emits exactly the batch LSH candidates") {
    import graft.operators.LLMOps
    val docs = Tables.documents(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft-sdedup")
    val landing = base.resolve("landing")
    java.nio.file.Files.createDirectory(landing)
    // three time-ordered arrival files (ascending mtimes — the file
    // source forms micro-batches oldest-modified first)
    val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    Seq((0L, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, n + 1))
      .zipWithIndex.foreach { case ((lo, hi), i) =>
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
        val part = new java.io.File(s"$base/stage$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = landing.resolve(f"arrive-$i%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1000000000L + i * 60000L)
      }
    // empty seed snapshot: the run starts with no history
    graft.operators.MinhashSnapshot.bootstrap(spark, docs.limit(0), s"$base/snap")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val q = StreamOps.streamingDeltaDedup(stream, s"$base/snap",
      s"$base/pairs", s"$base/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    // union of per-batch deltas == the oracle-checked full-corpus
    // candidates: no pair lost between batches, none double-counted
    val streamed = spark.read.parquet(s"$base/pairs").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = LLMOps.minhashCandidates(LLMOps.shingleSets(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // the snapshot holds exactly ONE copy of every doc's bands — the
    // MinhashSnapshot store's exactly-once contract (the old bare
    // mode-append snapshot stacked duplicates under replay)
    import graft.operators.MinhashSnapshot
    val bands = MinhashSnapshot.bands(spark, s"$base/snap")
    assert(bands.groupBy("doc_id").count()
      .where(col("count") > 1).isEmpty,
      "the band snapshot must never hold duplicate rows")
    // a committed stream batch replayed AFTER the run no-ops, even with
    // different rows
    val preBands = bands.count()
    MinhashSnapshot.append(spark, docs.limit(5), s"$base/snap", 2L)
    assert(MinhashSnapshot.bands(spark, s"$base/snap").count() == preBands)
  }

  test("streaming chunk-store ingest over micro-batches reconstructs the " +
      "corpus byte-exactly and never duplicates a chunk") {
    import graft.io.ChunkStore
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").where(col("text").isNotNull)
    val base = java.nio.file.Files.createTempDirectory("graft-scs").toString
    val landing = new java.io.File(s"$base/landing"); landing.mkdirs()
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    // three arrival files, ascending mtimes → three micro-batches: the
    // first takes the write path, the rest the append path
    Seq((0L, n / 3, 0), (n / 3, 2 * n / 3, 1), (2 * n / 3, n + 1, 2))
      .foreach { case (lo, hi, i) =>
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
        val part = new java.io.File(s"$base/stage$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(landing, f"arrive-$i%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1000000000L + i * 60000L)
      }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val q = StreamOps.ingestChunkStore(stream, s"$base/store", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    // byte-exact reconstruction of the full corpus from the streamed store
    val mismatches = docs.as("o")
      .join(ChunkStore.materialize(spark, s"$base/store").as("r"),
        "doc_id", "full_outer")
      .where(col("o.text").isNull || col("r.text").isNull ||
        col("o.text") =!= col("r.text")).count()
    assert(mismatches == 0, s"$mismatches docs failed the streamed round trip")
    // the incremental path kept the store unique
    assert(spark.read.parquet(s"$base/store/chunks")
      .groupBy("h", "len", "x").count().where(col("count") > 1).count() == 0)
  }

  test("composed streaming ingest pipeline: chunk store, manifest and " +
      "banded dedup pairs all reach batch parity over 3 micro-batches") {
    import graft.io.{ChunkStore, StatsManifest}
    import graft.operators.LLMOps
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").where(col("text").isNotNull)
    val base = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val landing = new java.io.File(s"$base/landing"); landing.mkdirs()
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    Seq((0L, n / 3, 0), (n / 3, 2 * n / 3, 1), (2 * n / 3, n + 1, 2))
      .foreach { case (lo, hi, i) =>
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
        val part = new java.io.File(s"$base/stage$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(landing, f"arrive-$i%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1000000000L + i * 60000L)
      }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val q = StreamOps.ingestPipeline(stream, s"$base/out", s"$base/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "the pipeline must have run over >= 3 micro-batches")
    // 1) chunk store: byte-exact reconstruction, no duplicate chunks
    val mismatches = docs.as("o")
      .join(ChunkStore.materialize(spark, s"$base/out/store").as("r"),
        "doc_id", "full_outer")
      .where(col("o.text").isNull || col("r.text").isNull ||
        col("o.text") =!= col("r.text")).count()
    assert(mismatches == 0, s"$mismatches docs failed the composed round trip")
    assert(spark.read.parquet(s"$base/out/store/chunks")
      .groupBy("h", "len", "x").count().where(col("count") > 1).count() == 0)
    // 2) manifest: incremental republish equals a from-scratch rebuild
    def mkey(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val maintained = spark.read.parquet(s"$base/out/manifest")
      .select("file", "rows", "min_doc_id", "max_doc_id")
      .collect().map(mkey).toSet
    val rebuilt = StatsManifest.build(spark, s"$base/out/table", Seq("doc_id"))
      .select("file", "rows", "min_doc_id", "max_doc_id")
      .collect().map(mkey).toSet
    assert(maintained == rebuilt)
    assert(maintained.toSeq.map(_._2).sum == docs.count())
    // 3) accumulated pairs equal the batch q_l06 full-corpus candidates:
    // within-batch pairs surfaced with their batch, cross-batch pairs
    // when the later endpoint arrived
    val streamedPairs = spark.read.parquet(s"$base/out/pairs").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = LLMOps.minhashCandidates(LLMOps.shingleSets(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedPairs.nonEmpty)
    assert(streamedPairs == batchPairs)
    // and the snapshot now holds exactly one band-key row per doc of
    // the corpus
    val snap = graft.operators.MinhashSnapshot.bands(spark, s"$base/out/snapshot")
    assert(snap.count() == docs.count())
    assert(snap.select("doc_id").distinct().count() == docs.count())
  }

  test("streaming ingest maintains the stats manifest: incremental append " +
      "equals a from-scratch rebuild, and no row is lost") {
    import graft.io.StatsManifest
    val docs = Tables.documents(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    // 3 landing files => 3 micro-batches at maxFilesPerTrigger=1
    docs.repartition(3).write.parquet(s"$base/landing")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/landing")
    val q = StreamOps.ingestWithManifest(stream, s"$base/table",
      s"$base/manifest", Seq("doc_id"), s"$base/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val maintained = spark.read.parquet(s"$base/manifest")
      .select("file", "rows", "min_doc_id", "max_doc_id")
      .collect().map(key).toSet
    val rebuilt = StatsManifest.build(spark, s"$base/table", Seq("doc_id"))
      .select("file", "rows", "min_doc_id", "max_doc_id")
      .collect().map(key).toSet
    assert(maintained == rebuilt)
    // every ingested row is accounted for, and pruning works off the
    // maintained manifest
    assert(maintained.toSeq.map(_._2).sum == docs.count())
    val lo = docs.agg(min("doc_id")).head().getLong(0)
    ManifestRegistry.register(spark, s"$base/table",
      spark.read.parquet(s"$base/manifest"))
    try assert(sessionWith(spark, Prune).read.parquet(s"$base/table")
      .where(col("doc_id") === lo).count() == 1)
    finally ManifestRegistry.deregister(spark, s"$base/table")
  }

  test("ingest migration guard: a flat-layout table from the pre-" +
      "partitioned sink fails loudly instead of silently losing its rows") {
    val docs = Tables.documents(spark, sfDir).limit(20)
    val base = java.nio.file.Files.createTempDirectory("graft-mig").toString
    docs.coalesce(1).write.parquet(s"$base/landing")
    // simulate the pre-upgrade sink: parquet files FLAT at the table root
    docs.coalesce(1).write.parquet(s"$base/table")
    assert(new java.io.File(s"$base/table").listFiles()
      .exists(f => f.isFile && f.getName.endsWith(".parquet")))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/landing")
    val q = StreamOps.ingestWithManifest(stream, s"$base/table",
      s"$base/manifest", Seq("doc_id"), s"$base/ckpt").start()
    val ex = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) String.valueOf(t.getMessage)
      else String.valueOf(t.getMessage) + " | " + rootMsg(t.getCause)
    assert(rootMsg(ex).contains("root-level parquet"),
      s"expected the migration-guard message, got: ${rootMsg(ex).take(400)}")
    // the guard fired BEFORE the first partitioned write — the legacy
    // rows are still whole and visible
    assert(spark.read.parquet(s"$base/table").count() == docs.count())
  }

  test("bench sets publication is staged: a published dir carries the " +
      "ready flag, and a flagless (crashed/legacy) dir is rebuilt whole") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-bp").toString
    val dir = s"$base/_bench_sets"
    def setsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val first = setsOf(StreamOps.persistedBenchSets(bench, dir))
    assert(first.nonEmpty && first == setsOf(
      graft.operators.LLMOps.shingleSetsOf(bench.withColumnRenamed("bench_id", "doc_id"))))
    assert(new java.io.File(s"$dir/_graft_ready").isFile,
      "published sets must carry the staged-publication flag")
    // a dir WITHOUT the flag is treated as torn: rebuilt wholesale, same
    // deterministic content (here we also corrupt it to prove the rebuild)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_graft_ready"), false)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    files.tail.foreach(_.delete()) // half-written state a reader could list
    val rebuilt = setsOf(StreamOps.persistedBenchSets(bench, dir))
    assert(rebuilt == first, "flagless dir must be rebuilt to full content")
    assert(new java.io.File(s"$dir/_graft_ready").isFile)
    // and a published dir RELOADS instead of rewriting: same files remain
    val inode = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    StreamOps.persistedBenchSets(bench, dir).count()
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(after == inode, "a ready dir must be reloaded, not rewritten")
  }

  test("persistedBenchSets refuses a duplicate bench_id before publishing " +
      "and replaces a leftover postings cache") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-bs").toString
    val e = intercept[IllegalArgumentException](StreamOps.persistedBenchSets(
      bench.unionByName(bench.limit(1)), s"$base/_bench_sets"))
    assert(e.getMessage.contains("duplicate bench_id"), e.getMessage)
    assert(new java.io.File(base).list().isEmpty,
      "a refused benchmark must leave neither a stage nor a published dir")
    // an earlier gate's postings cache beside the sets goes on publication
    bench.select(col("bench_id"), lit(1L).as("h"))
      .write.parquet(s"$base/_bench_postings")
    StreamOps.persistedBenchSets(bench, s"$base/_bench_sets")
    assert(new java.io.File(base).list().toSeq == Seq("_bench_sets"))
  }

  test("admission-gated ingest pipeline: quality + decontam rejects match " +
      "their batch twins, and only admitted docs reach table and store") {
    import graft.io.ChunkStore
    import graft.operators.TrainPrep
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("bench_id"),
        concat(col("text"), lit(" held out eval sample")).as("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-adm").toString
    val landing = new java.io.File(s"$base/landing"); landing.mkdirs()
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    Seq((0L, n / 2, 0), (n / 2, n + 1, 1)).foreach { case (lo, hi, i) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
      val part = new java.io.File(s"$base/stage$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(landing, f"arrive-$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val q = StreamOps.ingestPipeline(stream, base, s"$base/ckpt",
      qualityGate = true, decontamBench = Some(bench)).start()
    try q.processAllAvailable() finally q.stop()
    // batch twins: quality survivors (map-side == qL39's shuffle stage is
    // pinned in EngineSpec), then decontam over the survivors
    val survivors = TrainPrep.qualitySurvivors(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val qualityRejects = docs.collect().map(_.getLong(0)).toSet -- survivors
    val contaminated = TrainPrep
      .fuzzyDecontam(docs.join(
        TrainPrep.qualitySurvivors(docs).select("doc_id"), Seq("doc_id")),
        bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rejected = spark.read.parquet(s"$base/rejected")
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rejected.filter(_._2 == "quality").keySet == qualityRejects)
    assert(rejected.filter(_._2 == "contaminated").keySet == contaminated)
    // admitted = survivors minus contaminated, exactly what landed
    val admitted = survivors -- contaminated
    val tableIds = spark.read.parquet(s"$base/table")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tableIds == admitted && admitted.nonEmpty)
    // the chunk store round-trips exactly the admitted corpus
    val stored = ChunkStore.materialize(spark, s"$base/store")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = docs.filter(col("doc_id").isInCollection(admitted))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stored == want)
  }

  test("streaming media ingest over micro-batches lands on the batch " +
      "bootstrap's exact catalogs, and crash-window replays stay " +
      "exactly-once") {
    import graft.operators.{FingerprintStore, Multimodal}
    val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
      .localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("graft-smi").toString
    val landing = new java.io.File(s"$base/landing"); landing.mkdirs()
    val n = media.agg(max("doc_id")).head().getLong(0) + 1
    // three arrival files, ascending mtimes → three micro-batches: the
    // first bootstraps the store, the rest ride the append path
    Seq((0L, n / 3, 0), (n / 3, 2 * n / 3, 1), (2 * n / 3, n + 1, 2))
      .foreach { case (lo, hi, i) =>
        media.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
        val part = new java.io.File(s"$base/stage$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(landing, f"arrive-$i%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1000000000L + i * 60000L)
      }
    val stream = spark.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val q = StreamOps.ingestMedia(stream, s"$base/store", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    // streamed store == from-scratch batch bootstrap, all four catalogs
    val ref = s"$base/ref"
    FingerprintStore.bootstrap(spark, media, ref)
    def catalogs(d: String): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      FingerprintStore.imageHashes(spark, d).orderBy("doc_id"),
      FingerprintStore.audioFingerprints(spark, d).orderBy("doc_id"),
      FingerprintStore.videoPostings(spark, d).orderBy("doc_id", "frame"),
      FingerprintStore.ledger(spark, d).orderBy("doc_id"))
      .map(_.collect().toSeq)
    assert(catalogs(s"$base/store") == catalogs(ref),
      "arrival order must be irrelevant to the persisted catalogs")
    // REPLAY, the foreachBatch contract: a batch re-delivered after a
    // lost checkpoint commit no-ops (flag present)…
    val b2 = spark.read.parquet(s"$base/stage2")
    StreamOps.ingestMediaBatch(b2, 2L, s"$base/store")
    assert(catalogs(s"$base/store") == catalogs(ref))
    // …and the bootstrap's own crash window (marker landed, flag lost)
    // replays down the append path, where the ledger blocks every id
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/store/_batch-0"), false)
    StreamOps.ingestMediaBatch(spark.read.parquet(s"$base/stage0"), 0L,
      s"$base/store")
    assert(catalogs(s"$base/store") == catalogs(ref))
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$base/store/_batch-0")),
      "the replayed batch must re-commit its flag")
    // an empty pre-bootstrap batch commits its id and waits
    val empty = s"$base/store-empty"
    StreamOps.ingestMediaBatch(media.limit(0), 0L, empty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$empty/_batch-0")))
    assert(fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$empty/_audiobits-*")).isEmpty,
      "an empty first batch must not bootstrap")
    // HOUSEKEEPING policy: a batch landing with compactEvery set folds
    // the per-batch file sprawl once the catalogs exceed the budget —
    // catalogs stay row-identical, file count drops, and the replayed
    // batch before it still no-ops (flags survive compaction)
    val preFiles = FingerprintStore.dataFileCount(spark, s"$base/store")
    StreamOps.ingestMediaBatch( // id 99: the stream may have committed
      media.limit(0), 99L, s"$base/store", compactEvery = 2) // a trailing empty batch
    assert(catalogs(s"$base/store") == catalogs(ref),
      "compaction must not move a row")
    assert(FingerprintStore.dataFileCount(spark, s"$base/store") < preFiles,
      "the compactEvery policy must fold files")
    StreamOps.ingestMediaBatch(b2, 2L, s"$base/store")
    assert(catalogs(s"$base/store") == catalogs(ref))
    // a compact TORN mid-swap (marker staked, uncommitted fold files
    // planted) is INVISIBLE to readers under the snapshot scheme and
    // rolled back by the NEXT batch's append — the docstring's
    // best-effort-housekeeping claim, end to end
    fs.create(new org.apache.hadoop.fs.Path(
      s"$base/store/_maint-inprogress-torntest"), true).close()
    val junk = new org.apache.hadoop.fs.Path(
      s"$base/store/digests/fold-torntest-0-junk.parquet")
    fs.create(junk, true).close()
    assert(catalogs(s"$base/store") == catalogs(ref),
      "a torn compact's fold files must be invisible to readers")
    StreamOps.ingestMediaBatch(media.limit(0), 100L, s"$base/store")
    assert(catalogs(s"$base/store") == catalogs(ref),
      "the next batch's append must roll a torn maintenance back")
    assert(!fs.exists(junk))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$base/store/_maint-inprogress-torntest")))
  }

  test("a manual append between stream batches cannot shadow the " +
      "stream's next micro-batch: stop, ad-hoc append, restart — the " +
      "store still equals the from-scratch bootstrap") {
    import graft.operators.{FingerprintStore, Multimodal}
    val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
      .localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("graft-smm").toString
    val landing = new java.io.File(s"$base/landing"); landing.mkdirs()
    val n = media.agg(max("doc_id")).head().getLong(0) + 1
    // four slices: 0..2 arrive before the stop, 3 is the MANUAL append,
    // 4 arrives after the restart
    val cuts = Seq(0L, n / 5, 2 * n / 5, 3 * n / 5, 4 * n / 5, n + 1)
    def slice(i: Int) = media.filter(
      col("doc_id") >= cuts(i) && col("doc_id") < cuts(i + 1))
    def land(i: Int): Unit = {
      slice(i).coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
      val part = new java.io.File(s"$base/stage$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(landing, f"arrive-$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1000000000L + i * 60000L)
    }
    (0 to 2).foreach(land)
    val stream1 = spark.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val q1 = StreamOps.ingestMedia(stream1, s"$base/store", s"$base/ckpt")
      .start()
    try q1.processAllAvailable() finally q1.stop()
    // the stream committed batches 0..2; an ad-hoc self-allocating
    // append now lands slice 3 — in the MANUAL namespace (_batch-m0),
    // so it cannot pre-commit the flag the restarted stream's next
    // checkpointed batch id (3) will present
    FingerprintStore.append(spark, slice(3), s"$base/store")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$base/store/_batch-m0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$base/store/_batch-3")),
      "the manual append must not occupy the stream namespace")
    // restart: slice 4 arrives as the stream's REAL batch 3
    land(4)
    val stream2 = spark.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val q2 = StreamOps.ingestMedia(stream2, s"$base/store", s"$base/ckpt")
      .start()
    try q2.processAllAvailable() finally q2.stop()
    // nothing dropped: the store equals a from-scratch bootstrap over
    // ALL the media — before the namespace split, the manual append
    // would have committed _batch-3 and the restarted stream's batch 3
    // (slice 4) would have silently no-opped
    val ref = s"$base/ref"
    FingerprintStore.bootstrap(spark, media, ref)
    def catalogs(d: String): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      FingerprintStore.imageHashes(spark, d).orderBy("doc_id"),
      FingerprintStore.audioFingerprints(spark, d).orderBy("doc_id"),
      FingerprintStore.videoPostings(spark, d).orderBy("doc_id", "frame"),
      FingerprintStore.ledger(spark, d).orderBy("doc_id"))
      .map(_.collect().toSeq)
    assert(catalogs(s"$base/store") == catalogs(ref),
      "stream + manual + restarted stream must converge on the rebuild")
  }

  test("streaming decontamination gate drops exactly the batch fuzzy-" +
      "decontam matches; clean output is the complement") {
    import graft.operators.TrainPrep
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("bench_id"),
        concat(col("text"), lit(" held out eval sample")).as("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-sgate").toString
    val landing = new java.io.File(s"$base/landing"); landing.mkdirs()
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    Seq((0L, n / 3, 0), (n / 3, 2 * n / 3, 1), (2 * n / 3, n + 1, 2))
      .foreach { case (lo, hi, i) =>
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
        val part = new java.io.File(s"$base/stage$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(landing, f"arrive-$i%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1000000000L + i * 60000L)
      }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val q = StreamOps.decontamGate(stream, bench, s"$base/out", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    // dropped evidence over any batch split == the one-shot batch matches
    val streamed = spark.read.parquet(s"$base/out/dropped")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = TrainPrep.fuzzyDecontam(docs, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // clean = corpus minus dropped doc ids, no duplicates introduced
    val cleanIds = spark.read.parquet(s"$base/out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val droppedIds = streamed.map(_._1)
    assert(cleanIds.distinct.size == cleanIds.size)
    assert(cleanIds.toSet ==
      docs.collect().map(_.getLong(0)).toSet -- droppedIds)
    // restart contract: the benchmark shingle sets were persisted on
    // first start, so a restarted gate must RELOAD them, not re-shingle —
    // pinned by corrupting nothing and checking the file-backed sets
    // exist and match a fresh shingling
    val persisted = spark.read.parquet(s"$base/out/_bench_sets")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val reshingled = graft.operators.LLMOps.shingleSetsOf(
        bench.select(col("bench_id").as("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(persisted == reshingled && persisted.nonEmpty)
  }

  test("decontam gate batch replay is exactly-once: a crash between sink " +
      "writes and the marker re-runs the batch without duplicating rows") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("bench_id"),
        concat(col("text"), lit(" held out eval sample")).as("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val sets = StreamOps.persistedBenchSets(bench, s"$base/out/_bench_sets")
    val half = docs.agg(max("doc_id")).head().getLong(0) / 2
    val b0 = docs.filter(col("doc_id") <= half)
    StreamOps.decontamGateBatch(b0, 0L, sets, s"$base/out", s"$base/ckpt", 0.5)
    val afterFirst = spark.read.parquet(s"$base/out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    // simulate the crash-before-marker replay: delete the marker (as if
    // the batch's sinks landed but the commit was lost) and re-run the
    // SAME batch id — the stamped-partition overwrite must leave content
    // identical, not doubled
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt/_graft_last_batch"),
      false)
    StreamOps.decontamGateBatch(b0, 0L, sets, s"$base/out", s"$base/ckpt", 0.5)
    val afterReplay = spark.read.parquet(s"$base/out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(afterReplay == afterFirst)
    assert(afterReplay.distinct.size == afterReplay.size)
    // and a call with an already-committed id no-ops (marker guard)
    StreamOps.decontamGateBatch(b0, 0L, sets, s"$base/out", s"$base/ckpt", 0.5)
    // second batch extends, first batch's partition is untouched
    StreamOps.decontamGateBatch(docs.filter(col("doc_id") > half), 1L, sets,
      s"$base/out", s"$base/ckpt", 0.5)
    val all = spark.read.parquet(s"$base/out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(all.distinct.size == all.size)
    val droppedAll = spark.read.parquet(s"$base/out/dropped")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(all.toSet == docs.collect().map(_.getLong(0)).toSet -- droppedAll)
  }
}
