package graft.tools

import graft.operators.Multimodal.mix64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic corpus generator for the THIRD scale decade
  * (SLOPES): the driver's testdata tops out at sf0.1 (~5k documents),
  * which cannot expose candidate-driven growth in the LSH/pair-generation
  * family — band-collision fan-out grows with corpus², not rows, so a
  * superlinear plan looks flat until the corpus is big enough for
  * collisions to dominate. This generator reproduces the fixture tables'
  * SHAPE (documents / embeddings / supplier schemas, word-salad text over
  * the same small vocabulary, 20 sources, 5 langs, isotropic 64-dim
  * float embeddings, zero-padded supplier names) at any row count, from
  * pure splitmix64 functions of (seed, id) — regenerable anywhere, no
  * stored corpus.
  *
  * Two deliberate additions the fixtures lack, because dedup cost is
  * CANDIDATE-driven: ~1.5% of documents are near-duplicates of an
  * earlier doc (each word substituted with 5% probability) plus ~0.3%
  * exact duplicates, and ~2% of embeddings are small perturbations of an
  * earlier vector (cosine ≈ 0.999). Real corpora have duplicate mass;
  * a generator without it would measure the no-collision best case.
  *
  * Usage: runMain graft.tools.ScaleGen <outDir> <nDocs> [seed]
  * (embeddings = 2n/5 rows, supplier = n/5 — the fixture ratios).
  */
object ScaleGen {

  private val Vocab: Array[String] = Array(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "customer",
    "query", "big", "data", "column", "join", "small", "group", "stream",
    "order", "filter", "vector", "the", "a", "index", "shuffle", "broadcast",
    "cache", "stage", "task", "plan", "codegen", "parquet", "footer")

  /** Stream draw k of the (seed, id) chain: uniform non-negative long. */
  private def draw(seed: Long, id: Long, k: Long): Long =
    mix64(seed + id * 0x9e3779b97f4a7c15L + k * 0xbf58476d1ce4e5b9L) >>> 1

  /** The base word salad of doc `id`: 30..90 vocabulary words. */
  private def salad(seed: Long, id: Long): Array[String] = {
    val n = (draw(seed, id, 0) % 61L).toInt + 30
    Array.tabulate(n)(w =>
      Vocab((draw(seed, id, 100L + w) % Vocab.length).toInt))
  }

  private[tools] def docText(seed: Long, id: Long): String = {
    val kind = draw(seed, id, 1) % 1000L
    if (id >= 10 && kind < 3) {
      // exact duplicate of an earlier doc (0.3%)
      docText(seed, draw(seed, id, 2) % (id / 2))
    } else if (id >= 10 && kind < 18) {
      // near-duplicate (1.5%): each word substituted with 5% probability
      val base = draw(seed, id, 3) % (id / 2)
      val words = docTextWords(seed, base)
      words.zipWithIndex.map { case (w, i) =>
        if (draw(seed, id, 200L + i) % 100L < 5L)
          Vocab((draw(seed, id, 300L + i) % Vocab.length).toInt)
        else w
      }.mkString(" ")
    } else salad(seed, id).mkString(" ")
  }

  /** Word array of the doc's FINAL text (one recursion level: a near-dup
    * of a near-dup re-derives through docText — ids halve each hop, so
    * the chain terminates).
    */
  private def docTextWords(seed: Long, id: Long): Array[String] =
    docText(seed, id).split(" ")

  private[tools] def embedding(seed: Long, id: Long): Array[Float] = {
    val kind = draw(seed, 1L << 40 | id, 4) % 1000L
    if (id >= 10 && kind < 20) {
      // planted near-dup (2%): an earlier vector plus ±0.02 noise
      val base = draw(seed, 1L << 40 | id, 5) % (id / 2)
      embedding(seed, base).zipWithIndex.map { case (v, i) =>
        v + ((draw(seed, 1L << 41 | id, 500L + i) % 4001L).toInt - 2000) * 1e-5f
      }
    } else Array.tabulate(64)(i =>
      ((draw(seed, 1L << 40 | id, 600L + i) % 2000001L).toInt - 1000000) * 1e-6f)
  }

  /** Fixture-shaped `events` table at any size, for the sessionization /
    * window family's fourth decade: same schema (event_id, ts, user_id,
    * event_type, value, props), the fixture's ~67 events per user over a
    * 30-day window (user count scales with rows so per-user session
    * structure is decade-invariant), roughly-ordered Poisson-ish arrival
    * times from the same integer-hash draws as the doc tables.
    */
  def generateEvents(s: SparkSession, outDir: String, nEvents: Long,
      seed: Long = 42L): Unit = {
    val par = s.sparkContext.defaultParallelism
    val nUsers = math.max(2L, nEvents / 67)
    val startUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val windowUs = 30L * 24 * 3600 * 1000000L
    val slotUs = math.max(1L, windowUs / nEvents)
    s.range(0, nEvents, 1, par)
      .select(col("id").as("event_id"),
        timestamp_micros(lit(startUs) + col("id") * slotUs +
          pmod(col("id") * 2654435761L + lit(seed), lit(slotUs))).as("ts"),
        pmod(col("id") * 48271L + lit(seed), lit(nUsers)).as("user_id"),
        element_at(array(Seq("view", "click", "purchase", "error", "scroll")
          .map(lit): _*),
          (pmod(col("id") * 40503L, lit(5)) + 1).cast("int")).as("event_type"),
        (pmod(col("id") * 69621L, lit(10000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id") * 16807L, lit(100)),
          lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** Per-row media content seed: a near/exact duplicate of doc `base`
    * reuses base's seed so the payload bytes re-derive from the BASE row.
    */
  private def mediaSeed(seed: Long, id: Long): Long =
    mix64(seed ^ (id * 0x9e3779b97f4a7c15L))

  /** The dup plant of media row `id`: Some((base, isExact)) for the
    * ~0.3% exact and ~1.5% near duplicates, None for fresh rows —
    * mirroring the planted duplicate mass of the text/embedding tables,
    * because the audio/video near-dup joins are candidate-driven exactly
    * like LSH and a corpus without duplicate mass would measure the
    * no-collision best case. Exposed so the planted-recall spec can
    * recompute the expected pair set.
    */
  private[graft] def mediaDupOf(seed: Long, id: Long): Option[(Long, Boolean)] = {
    val kind = draw(seed, (1L << 42) | id, 11) % 1000L
    if (id < 10 || kind >= 18) None
    else Some((draw(seed, (1L << 42) | id, 12) % (id / 2), kind < 3))
  }

  /** A duplicate INHERITS its base's format (a near-dup of a video is a
    * video); fresh rows split ~50/50 wav / mp4.
    */
  private[graft] def mediaFormat(seed: Long, id: Long): String =
    mediaDupOf(seed, id) match {
      case Some((b, _)) => mediaFormat(seed, b)
      case None =>
        if (draw(seed, (1L << 42) | id, 10) % 2L == 0L) "wav" else "mp4"
    }

  /** Fully-resolved PCM of a wav row: duplicates derive from the base's
    * ACTUAL samples (the docText chain-resolution discipline — a
    * near-dup of a near-dup edits the edited waveform, so the planted
    * (base, id) pair is genuinely near under the fingerprint). The
    * near-dup edit replaces a ~n/40 contiguous window (1–2 of the
    * fingerprint's 33 energy frames) with an alternate stream —
    * fingerprint Hamming stays within the join's default radius.
    */
  private[graft] def wavSamplesOf(seed: Long, id: Long): Array[Int] =
    mediaDupOf(seed, id) match {
      case Some((b, true)) => wavSamplesOf(seed, b)
      case Some((b, false)) =>
        val s = wavSamplesOf(seed, b).clone()
        val n = s.length
        val len = math.max(1, n / 40)
        val at = (draw(seed, (1L << 44) | id, 14) % (n - len).toLong).toInt
        var i = 0
        while (i < len) {
          s(at + i) = graft.operators.Multimodal
            .syntheticSample(mediaSeed(seed, id) ^ 0x5a5aL, i)
          i += 1
        }
        s
      case None =>
        val n = (draw(seed, (1L << 43) | id, 13) % 1500L).toInt + 100
        Array.tabulate(n)(
          graft.operators.Multimodal.syntheticSample(mediaSeed(seed, id), _))
    }

  /** (content seed, frame count) of an mp4 row: a near-dup TRIMS the
    * base's frame chain by ~10% (a cut — frame f's pixels are a pure
    * function of (contentSeed, f), so every kept frame's hash is
    * identical and the frame-set Jaccard lands near 0.9); an exact dup
    * keeps both. The content seed rides the whole dup chain.
    */
  private[graft] def mp4SpecOf(seed: Long, id: Long): (Long, Int) =
    mediaDupOf(seed, id) match {
      case Some((b, true)) => mp4SpecOf(seed, b)
      case Some((b, false)) =>
        val (cs, nb) = mp4SpecOf(seed, b)
        (cs, math.max(1, nb - math.max(1, nb / 10)))
      case None =>
        (mediaSeed(seed, id),
          (draw(seed, (1L << 43) | id, 15) % 300L).toInt + 1)
    }

  private[graft] def mediaRow(seed: Long, id: Long): (Array[Byte], String, Int) = {
    import graft.operators.Multimodal
    if (mediaFormat(seed, id) == "wav")
      (Multimodal.encodeWavSamples(wavSamplesOf(seed, id)), "wav", 0)
    else {
      val (cs, nf) = mp4SpecOf(seed, id)
      // 8x6 frames, NOT the fixture 4x3: a scale corpus needs real frame-
      // hash entropy (~40 informative dHash bits vs ~9 at 4x3), or every
      // hash becomes a collision bucket and the near-dup join measures
      // hash-space saturation instead of the engine
      (Multimodal.encodeMp4(cs, nf, frameW = 8, frameH = 6), "mp4", nf)
    }
  }

  /** Media corpus (wav + mp4, ~50/50) with planted duplicate mass, shaped
    * like [[graft.operators.Multimodal.withMedia]]'s output so the
    * fingerprint catalogs and near-dup joins run unchanged.
    */
  def generateMedia(s: SparkSession, outDir: String, nRows: Long,
      seed: Long = 42L): Unit = {
    val par = s.sparkContext.defaultParallelism
    val row = udf((id: Long) => mediaRow(seed, id))
    s.range(0, nRows, 1, par)
      .select(col("id").as("doc_id"), row(col("id")).as("r"))
      .select(col("doc_id"), col("r._1").as("blob"),
        struct(col("r._2").as("format"), lit(0).as("width"),
          lit(0).as("height"), col("r._3").as("n_frames")).as("meta"))
      .write.mode("overwrite").parquet(s"$outDir/media.parquet")
  }

  def generate(s: SparkSession, outDir: String, nDocs: Long,
      seed: Long = 42L): Unit = {
    import s.implicits._
    val par = s.sparkContext.defaultParallelism
    val text = udf((id: Long) => docText(seed, id))
    s.range(0, nDocs, 1, par)
      .select(col("id").as("doc_id"), text(col("id")).as("text"),
        element_at(array(Seq("en", "de", "fr", "es", "pt").map(lit): _*),
          (pmod(col("id") * 2654435761L, lit(5)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("id") * 40503L, lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = udf((id: Long) => embedding(seed, id))
    s.range(0, nDocs * 2 / 5, 1, par)
      .select(col("id").as("vec_id"), emb(col("id")).as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    s.range(0, nDocs / 5, 1, math.max(1, (nDocs / 5000).toInt))
      .select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pmod(col("id") * 2654435761L, lit(25)).cast("int").as("s_nationkey"),
        (pmod(col("id") * 48271L, lit(900000)) / 100.0 + 100.0).as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")
  }

  def main(args: Array[String]): Unit = {
    val (mode, rest) =
      if (args.nonEmpty && Set("docs", "events", "media")(args(0)))
        (args(0), args.drop(1))
      else ("docs", args)
    require(rest.length >= 2,
      "usage: ScaleGen [docs|events|media] <outDir> <n> [seed]")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val seed = if (rest.length > 2) rest(2).toLong else 42L
    mode match {
      case "events" => generateEvents(spark, rest(0), rest(1).toLong, seed)
      case "media"  => generateMedia(spark, rest(0), rest(1).toLong, seed)
      case _        => generate(spark, rest(0), rest(1).toLong, seed)
    }
    spark.stop()
  }
}
