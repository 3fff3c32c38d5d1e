package graft

import graft.functions.PolyHash
import graft.io.Writers
import graft.operators.Multimodal
import graft.pipeline.ClonePipeline
import graft.plans.ManifestRegistry
import graft.plans.ManifestRuleSupport.{MetaCount, Prune, scanFiles, sessionWith}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Spark-backed specs over the sf0.001 corpus: the custom expression, the
  * date-clamp normalizer, the clone round-trip and the multimodal plumbing.
  */
class EngineSpec extends AnyFunSuite with SparkFixture {

  /** `body` with `m` registered as the manifest of the table at `dir`. */
  private def withManifest[T](dir: String, m: DataFrame)(body: => T): T = {
    ManifestRegistry.register(spark, dir, m)
    try body finally ManifestRegistry.deregister(spark, dir)
  }

  /** Collect every DISTINCT FileSourceScanExec whose location matches
    * `pathPart`, walking through AQE wrappers (AdaptiveSparkPlanExec and
    * the leaf QueryStageExec nodes a finalized plan nests stages in) and
    * subquery plans — plan-tree truth, not string-rendering regexes
    * (which change count across Spark versions). ReusedExchangeExec is a
    * reference to an exchange counted elsewhere (ONE physical execution),
    * so it is deliberately not descended into.
    */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan,
      pathPart: String): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    planNodes(p).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(pathPart)) => s
    }

  /** Every node of a physical plan, descending through AQE wrappers
    * (AdaptiveSparkPlanExec and the QueryStageExec leaves a finalized
    * plan nests stages in) and subquery plans — the ONE traversal every
    * plan-pin in this suite shares, so an unwrap fix lands everywhere at
    * once. ReusedExchangeExec is a LeafExecNode (a reference to an
    * exchange walked elsewhere), so it contributes no duplicates.
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _                        => Nil
    }
    p +: (extra ++ p.children ++ p.subqueries).flatMap(planNodes)
  }

  test("PolyHash matches the reference fold and handles edge cases") {
    def naive(s: String): Long = {
      var acc = 0L
      s.codePoints().toArray.foreach(cp => acc = (acc * 31 + cp) % 1000000007L)
      acc
    }
    import spark.implicits._
    val cases = Seq("", "a", "hello world", "é€ñ", "x" * 10000)
    val got = cases.toDF("s").select(PolyHash(col("s")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(naive))
  }

  test("PolyHash stays inside whole-stage codegen") {
    // use range (not a local Seq) so ConvertToLocalRelation can't
    // constant-fold the projection away before physical planning
    val plan = spark.range(10)
      .select(PolyHash(concat(lit("doc-"), col("id").cast("string"))).as("h"))
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
  }

  test("SignSketch stays in codegen and matches the interpreted HOF math " +
      "bit-for-bit") {
    import spark.implicits._
    import graft.functions.SignSketch
    val vecs = Seq(
      (1L, Array(0.25f, -1.5f, 3.75f, 0.0f)),
      (2L, Array(-0.1f, -0.2f, -0.3f, -0.4f)),
      (3L, Array(Float.MinPositiveValue, 1e10f, -1e-10f, 42.42f)))
      .toDF("vec_id", "embedding")
    // the reference: the same planes and left fold spelled as (interpreted)
    // higher-order functions — any divergence breaks the DuckDB oracle too
    val hof = (0 until 8).map { i =>
      val dot = aggregate(
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (v, j) => v.cast("double") *
            (((j.cast("long") + lit(i.toLong * 64)) * lit(2654435761L) % lit(1000003L))
              .cast("double") / lit(1000003.0) - lit(0.5))),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val got = vecs.select(col("vec_id"), SignSketch(col("embedding"), 8).as("b"),
        hof.as("ref"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    got.foreach { case (b, ref) => assert(b == ref) }
    // and it plans inside whole-stage codegen (the reason it exists)
    val plan = spark.range(8)
      .select(SignSketch(array(col("id").cast("float"),
        (col("id") * 2).cast("float")), 8).as("b"))
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
    // a null ELEMENT propagates to a NULL sketch (the HOF dot product and
    // DuckDB's list_reduce both go NULL), in both codegen and interpreted
    // paths; a null ARRAY is NULL as before
    val withNulls = Seq(
      (1L, Array[java.lang.Float](1.0f, null, 3.0f)),
      (2L, Array[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (3L, null))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), SignSketch(col("embedding"), 8).as("b"))
    assert(withNulls.orderBy("vec_id").collect()
      .map(r => r.isNullAt(1)).toSeq == Seq(true, false, true))
  }

  test("JlProject stays in codegen and matches the interpreted HOF folds " +
      "bit-for-bit, including the corpus quantize path and null elements") {
    import spark.implicits._
    import graft.functions.JlProject
    import org.apache.spark.sql.Column
    val m = 16
    // the reference: the m independent aggregate(zip_with(...)) folds the
    // expression replaced — the q_l53 oracle spells the same ±1 sums
    def hofProj(qv: Column): Column = {
      def sign(i: Column, j: Int): Column =
        when(pmod((i + lit(j * 64L)) * lit(2654435761L), lit(1000003L)) % 2 === 0,
          lit(1L)).otherwise(lit(-1L))
      array((0 until m).map { j =>
        aggregate(zip_with(qv,
            sequence(lit(0L), size(qv).cast("long") - 1L),
            (v, i) => v.cast("long") * sign(i, j)),
          lit(0L), (acc, x) => acc + x)
      }: _*)
    }
    // real corpus path: quantized embeddings through both formulations
    val q = graft.operators.Similarity
      .quantizeInt8(Tables.embeddings(spark, sfDir).limit(50), "embedding")
    val cmp = q.select(col("vec_id"),
        JlProject(col("qv"), m).as("a"), hofProj(col("qv")).as("b"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2)))
    // codegen span (the reason the expression exists)
    val plan = spark.range(8)
      .select(JlProject(array(col("id").cast("int"),
        (col("id") * 2).cast("int")), m).as("p"))
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
    // null array / null element both degrade to an array of m NULL
    // coordinates (never a NULL array) — the HOF folds' exact semantics
    val withNulls = Seq(
      (1L, Array[java.lang.Integer](1, null, 3)),
      (2L, Array[java.lang.Integer](1, 2, 3)),
      (3L, null),
      // empty array: the HOF zipped [] against sequence(0,-1) = [0,-1],
      // padding with nulls — all-NULL coordinates, NOT zeros
      (4L, Array.empty[java.lang.Integer]))
      .toDF("vec_id", "qv")
    val got = withNulls
      .select(col("vec_id"), JlProject(col("qv"), m).as("a"),
        hofProj(col("qv")).as("b"))
      .orderBy("vec_id").collect()
    got.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2))
      assert(r.getSeq[Any](1) == r.getSeq[Any](2))
    }
    assert(got(0).getSeq[Any](1).forall(_ == null))
    assert(got(2).getSeq[Any](1).forall(_ == null))
    assert(got(3).getSeq[Any](1).forall(_ == null))
  }

  test("ShingleHash matches the unfused shingle-string → PolyHash path") {
    import graft.operators.LLMOps
    val docs = Tables.documents(spark, sfDir).limit(100)
    val unfused = docs.select(col("doc_id"),
      explode(LLMOps.shingles(LLMOps.tokens(col("text")), 3)).as("sh"))
      .select(col("doc_id"), PolyHash(col("sh")).as("h"))
    val fused = docs.select(col("doc_id"),
      explode(graft.functions.ShingleHash(col("text"), 3)).as("h"))
    assert(fused.count() == unfused.count())
    assert(fused.except(unfused).isEmpty && unfused.except(fused).isEmpty)
  }

  test("simhash: exact-duplicate texts share a signature on both hash paths") {
    import graft.operators.LLMOps
    // the sf0.001 corpus has no exact-dup texts — manufacture them by
    // unioning a doc_id-shifted copy, so every text occurs exactly twice
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val docs = base.unionByName(
      base.withColumn("doc_id", col("doc_id") + 1000000L))
    // ground truth: exact text duplicates MUST collide under any simhash
    // (identical token multisets → identical votes), so every doc whose
    // text occurs n>1 times has to land in some multi-member signature
    // group — for the oracle-checked portable 30-bit variant AND the
    // production 64-bit xxhash64 variant
    val nDupDocs = docs.groupBy("text").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    assert(nDupDocs > 0, "corpus lost its exact duplicates — test is vacuous")
    for (portable <- Seq(true, false)) {
      val bits = if (portable) 30 else 64
      val groups = LLMOps.simhashGroups(docs, bits, portable)
      val covered = groups.agg(coalesce(sum(col("members")), lit(0L)))
        .head().getLong(0)
      assert(covered >= nDupDocs,
        s"portable=$portable: $covered grouped members < $nDupDocs exact-dup docs")
    }
    intercept[IllegalArgumentException] {
      LLMOps.simhashGroups(docs, bits = 31, portable = true)
    }
  }

  test("connectedComponents labels chains, triangles and islands correctly") {
    import spark.implicits._
    import graft.operators.TrainPrep
    // a 5-vertex chain (diameter 4 — forces multiple propagation rounds),
    // a triangle, and a 2-vertex island
    val edges = Seq(
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (10L, 11L)
    ).toDF("src", "dst")
    val got = TrainPrep.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      10L -> 10L, 11L -> 10L)
    assert(got == expected)
  }

  test("connectedComponents: zero edges converge to zero clusters") {
    import spark.implicits._
    import graft.operators.TrainPrep
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(TrainPrep.connectedComponents(empty).isEmpty)
  }

  test("connectedComponents frees superseded checkpoint blocks") {
    import spark.implicits._
    import graft.operators.TrainPrep
    // diameter-4 chain forces >= 3 propagation rounds — enough history
    // that a leak of per-round snapshots would be visible in the registry
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = TrainPrep.connectedComponents(edges)
    labels.collect()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    // only the FINAL labels snapshot may stay pinned (the returned frame
    // reads it); bidir and every intermediate round must be gone
    assert(pinned.size <= 1, s"leaked checkpoint blocks: $pinned")
  }

  test("hash split is content-addressed: duplicate texts share a split") {
    import graft.operators.TrainPrep
    // manufactured duplicates under fresh doc_ids must not change any
    // document's split (the anti-leakage property the operator exists for)
    val single = TrainPrep.qL20(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(single.values.map(_._1).sum == Tables.documents(spark, sfDir).count())
    val again = TrainPrep.qL20(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(single == again) // deterministic
  }

  test("leak-safe split: the corpus conserves, the cluster count is the " +
      "CC-derived one, and the guard is non-vacuous — the naive own-text " +
      "split WOULD straddle a near-dup cluster on this corpus") {
    import graft.operators.{LLMOps, TrainPrep}
    val docs = Tables.documents(spark, sfDir)
    val agg = TrainPrep.qL58(spark, sfDir).collect()
    // conservation: every document lands in exactly one split
    assert(agg.map(_.getLong(1)).sum == docs.count())
    assert(agg.map(_.getLong(3)).sum ==
      docs.agg(sum("n_chars")).head().getLong(0))
    // the clusters column is exactly the CC arithmetic: singletons +
    // components = docs − clustered members + components
    val pairs = LLMOps.qL05(spark, sfDir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = TrainPrep.connectedComponents(pairs)
    val expectClusters = docs.count() - comp.count() +
      comp.select("comp").distinct().count()
    assert(agg.map(_.getLong(2)).sum == expectClusters,
      s"clusters ${agg.map(_.getLong(2)).sum} != CC-derived $expectClusters")
    // non-vacuity: at least one near-dup cluster's members hash their
    // OWN texts into different buckets — the exact leak the rep-bucket
    // rule closes (were this zero, the test would pin nothing)
    def splitExpr(c: org.apache.spark.sql.Column) = {
      val b = conv(substring(md5(c), 1, 8), 16, 10).cast("long") % 100
      when(b < 90, "train").when(b < 95, "val").otherwise("test")
    }
    val ownSplit = docs.select(col("doc_id").as("id"),
      splitExpr(col("text")).as("own"))
    val straddlers = comp.join(ownSplit, Seq("id"))
      .groupBy("comp").agg(countDistinct("own").as("k"))
      .filter(col("k") > 1).count()
    assert(straddlers > 0,
      "no cluster straddles the naive split on this corpus — vacuous")
  }

  test("sequence packing: two-level cumulative sum is shard-size invariant") {
    import graft.operators.TrainPrep
    // the shard decomposition is pure bookkeeping: any shard size (including
    // one shard per doc, and one shard for everything) packs identically.
    // Since r14 the shard offsets are a DISTRIBUTED window over the totals
    // frame (no driver collect); shardSize=1<<20 makes that window the
    // trivial one-shard-per-source case and the small sizes exercise the
    // multi-shard prefix sum — this equality IS the offsets parity pin.
    val ref = TrainPrep.qL21(spark, sfDir, capacity = 256, shardSize = 1 << 20)
      .collect().toSeq
    Seq(1, 7, 128).foreach { ss =>
      val got = TrainPrep.qL21(spark, sfDir, capacity = 256, shardSize = ss)
        .collect().toSeq
      assert(got == ref, s"shardSize=$ss diverged")
    }
  }

  test("sequence packing: bins are contiguous and start at zero per source") {
    import graft.operators.TrainPrep
    val packed = TrainPrep.qL21(spark, sfDir, capacity = 256, shardSize = 64).cache()
    try {
      assert(packed.filter(col("start_bin") > col("end_bin")).isEmpty)
      // the first doc of every source starts in bin 0
      val firsts = packed.groupBy("source")
        .agg(min_by(col("start_bin"), col("doc_id")).as("first_bin"))
      assert(firsts.filter(col("first_bin") =!= 0L).isEmpty)
      // the packed stream has no gaps: each doc starts in the bin its
      // predecessor ended in, or the one after (token stream is contiguous)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      val gaps = packed
        .withColumn("prev_end", lag(col("end_bin"), 1).over(w))
        .filter(col("prev_end").isNotNull &&
          (col("start_bin") < col("prev_end") ||
           col("start_bin") > col("prev_end") + 1))
      assert(gaps.isEmpty)
    } finally packed.unpersist()
  }

  test("clampDatetimes clamps to SQL Server datetime domain and is idempotent") {
    import spark.implicits._
    val df = Seq(
      java.sql.Timestamp.valueOf("1700-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-06-15 12:00:00"),
      java.sql.Timestamp.valueOf("9999-12-31 23:59:59.999")
    ).toDF("ts")
    val once = Writers.clampDatetimes(df)
    val twice = Writers.clampDatetimes(once)
    val vals = once.collect().map(_.getTimestamp(0))
    assert(vals(0) == Writers.MinDatetime)
    assert(vals(1) == java.sql.Timestamp.valueOf("2024-06-15 12:00:00"))
    assert(vals(2) == Writers.MaxDatetime)
    assert(twice.collect().map(_.getTimestamp(0)).toSeq == vals.toSeq)
  }

  test("fuzzyPairs: deletion blocking recalls substitution, insert, delete and equal pairs") {
    import spark.implicits._
    // the supplier corpus only exercises substitutions (equal-length
    // names); pin the pigeonhole argument for every edit type here
    val df = Seq((1L, "alpha"), (2L, "alpja"), (3L, "alph"), (4L, "alphas"),
      (5L, "alpha"), (6L, "zzz"), (7L, "")).toDF("id", "name")
    val got = graft.operators.LLMOps.fuzzyPairs(df, "id", "name")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = df.select(col("id").as("id_a"), col("name").as("na"))
      .crossJoin(df.select(col("id").as("id_b"), col("name").as("nb")))
      .filter(col("id_a") < col("id_b") &&
        levenshtein(col("na"), col("nb")) <= 1)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(expected.contains((1L, 2L)) && expected.contains((1L, 3L)) &&
      expected.contains((1L, 4L)) && expected.contains((1L, 5L)))
  }

  test("bm25: ranked docs contain query terms; funnel stages are monotone") {
    import graft.operators.{FullText, Temporal}
    val top = FullText.qL25(spark, sfDir).collect()
    assert(top.length == 10)
    // every ranked doc matched between 1 and all 3 query terms, tf covers
    // at least the matched terms, and dl bounds tf
    top.foreach { r =>
      val (nTerms, tfTotal, dl) = (r.getLong(2), r.getLong(3), r.getLong(1))
      assert(nTerms >= 1 && nTerms <= 3)
      assert(tfTotal >= nTerms && tfTotal <= dl)
    }
    val f = Temporal.qT06(spark, sfDir).head()
    assert(f.getLong(0) >= f.getLong(1) && f.getLong(1) >= f.getLong(2),
      s"funnel not monotone: $f")
    assert(f.getLong(0) > 0)
    // the scale claim: all three stage windows and the per-user reduce
    // ride ONE user_id exchange (plus the final single-partition gather)
    val plan = Temporal.qT06(spark, sfDir).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1,
      s"funnel re-shuffles:\n$plan")
    assert("Window".r.findAllMatchIn(plan).size == 3)
  }

  test("scd2History: seamless intervals, one current row per key, AS OF picks it") {
    import spark.implicits._
    val changes = Seq(
      (1L, 10L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, 11L, "b", java.sql.Timestamp.valueOf("2024-01-05 00:00:00")),
      (1L, 12L, "c", java.sql.Timestamp.valueOf("2024-01-09 00:00:00")),
      (2L, 20L, "x", java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))
    ).toDF("k", "seq", "v", "ts")
    val h = ClonePipeline.scd2History(changes, Seq("k"), "ts", Seq("seq")).cache()
    try {
      // every non-final interval closes exactly at the next valid_from
      val nextFrom = lead(col("valid_from"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")
          .orderBy("ts", "seq"))
      assert(h.withColumn("nf", nextFrom)
        .filter(col("valid_to").isNotNull && col("valid_to") =!= col("nf"))
        .isEmpty)
      assert(h.filter(col("is_current")).count() == 2) // one per key
      val asOf = ClonePipeline.pointInTime(h,
        lit("2024-01-06 00:00:00").cast("timestamp"))
        .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(asOf == Map(1L -> "b", 2L -> "x"))
      // before any change for key 2's first event: nothing valid
      val early = ClonePipeline.pointInTime(h,
        lit("2024-01-02 00:00:00").cast("timestamp"))
        .select("k").collect().map(_.getLong(0)).toSet
      assert(early == Set(1L))
    } finally h.unpersist()
  }

  test("rangeClustered layout: output files cover disjoint key ranges") {
    val dir = Files.createTempDirectory("graft-rangeclust").toString + "/li"
    Writers.rangeClustered(Tables.lineitem(spark, sfDir), dir,
      Seq("l_shipdate"), numFiles = 8)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length > 1, "need multiple files to prove disjointness")
    // per-file [min, max] of the cluster key must not interleave — the
    // property parquet row-group stats pruning relies on
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(unix_micros(col("l_shipdate").cast("timestamp"))),
          max(unix_micros(col("l_shipdate").cast("timestamp")))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file ranges interleave: $hi > $lo2")
      case _ =>
    }
  }

  test("zValue matches a reference Morton interleave on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(300)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    def morton(a: Long, b: Long): Long =
      (0 until 16).foldLeft(0L)((acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
    val got = cases.toDF("a", "b")
      .select(Writers.zValue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map { case (a, b) => morton(a, b) })
  }

  test("AQE splits a skewed shuffle join at runtime") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key carrying ~95% of rows, plus a uniform tail
      val pad = "x" * 64
      val large = ((1 to 60000).map(_ => 1L) ++ (1 to 3000).map(i => (i % 50 + 2).toLong))
        .toDF("k").withColumn("pad", lit(pad))
      val small = (1L to 60L).toDF("k").withColumn("v", col("k") * 10)
      val joined = large.join(small, "k")
      // materialize THROUGH this DataFrame's own QueryExecution (count()
      // plans a separate aggregate query, leaving this plan un-finalized)
      assert(joined.collect().length == 63000)
      val plan = joined.queryExecution.executedPlan.toString
      // AQE marks the rebalanced shuffle read; the skew-split must have fired
      assert(plan.contains("AQEShuffleRead skewed"),
        s"AQE skew split did not fire:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("zOrdered layout: per-file bounding boxes are tight in BOTH dimensions") {
    val dir = Files.createTempDirectory("graft-zorder").toString + "/li"
    val li = Tables.lineitem(spark, sfDir)
    Writers.zOrdered(li, dir, "l_partkey", "l_suppkey", numFiles = 16)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length > 4, "need several files to measure locality")
    val g = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    val (pSpan, sSpan) = ((g.getLong(1) - g.getLong(0)).toDouble,
      (g.getLong(3) - g.getLong(2)).toDouble)
    val boxes = files.map { f =>
      val r = spark.read.parquet(f).agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey"), count(lit(1))).head()
      ((r.getLong(1) - r.getLong(0)).toDouble,
        (r.getLong(3) - r.getLong(2)).toDouble, r.getLong(4))
    }
    assert(boxes.map(_._3).sum == li.count(), "z-order write lost rows")
    // a single-key range layout leaves the OTHER dimension at ~full span
    // per file; the Morton layout must shrink the mean span in BOTH
    val meanP = boxes.map(_._1).sum / boxes.length
    val meanS = boxes.map(_._2).sum / boxes.length
    assert(meanP < 0.6 * pSpan, s"partkey span not clustered: $meanP vs $pSpan")
    assert(meanS < 0.6 * sSpan, s"suppkey span not clustered: $meanS vs $sSpan")
    // empty input: the stats pre-pass yields null min/max — must write an
    // empty dataset, not throw
    val emptyDir = Files.createTempDirectory("graft-zorder-empty").toString + "/e"
    Writers.zOrdered(li.filter(lit(false)), emptyDir, "l_partkey", "l_suppkey")
    assert(spark.read.parquet(emptyDir).count() == 0)
  }

  test("renderDdl rejects a non-key full-text key column and honors fullTextKeys") {
    import spark.implicits._
    // a 'documents' table whose LEADING column is non-unique: positional
    // PK promotion must fail validation instead of emitting broken DDL
    val dir = Files.createTempDirectory("graft-ftkey").toString
    Seq((1L, 10L, "alpha text"), (1L, 11L, "beta text"), (2L, 12L, "gamma text"))
      .toDF("group_id", "doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val err = intercept[IllegalArgumentException] {
      ClonePipeline.renderDdl(spark, dir, tables = Seq("documents"))
    }
    assert(err.getMessage.contains("duplicates"))
    // an explicit unique non-null key renders, PK'd on that column
    val ddl = ClonePipeline.renderDdl(spark, dir, tables = Seq("documents"),
      fullTextKeys = Map("documents" -> "doc_id"))("documents")
    assert(ddl.contains("PRIMARY KEY") && ddl.contains("[doc_id]"))
    // a key column that isn't in the table at all fails fast
    assert(intercept[IllegalArgumentException] {
      ClonePipeline.renderDdl(spark, dir, tables = Seq("documents"),
        fullTextKeys = Map("documents" -> "nope"))
    }.getMessage.contains("not in table"))
  }

  test("ClonePipeline: parquet clone preserves row counts and schemas; DDL renders per table") {
    val tgt = Files.createTempDirectory("graft-clone").toString
    val report = ClonePipeline.clone(spark, sfDir, tgt,
      tables = Seq("region", "nation", "customer"))
    assert(report.rowCounts("region") == 5)
    assert(report.rowCounts("nation") == 25)
    Seq("region", "nation", "customer").foreach { t =>
      val src = Tables.load(spark, sfDir, t)
      val cloned = spark.read.parquet(s"$tgt/$t.parquet")
      assert(cloned.schema == src.schema, s"schema drift for $t")
      assert(cloned.count() == src.count())
      val ddl = report.ddl(t)
      assert(ddl.contains(s"CREATE TABLE [dbo].[$t]"))
      assert(ddl.contains("IF OBJECT_ID"))
    }
  }

  test("ClonePipeline layout opt-in: the cloned table lands clustered with " +
      "a persisted manifest, and a pruned read skips files with parity") {
    import graft.io.StatsManifest
    import graft.plans.{Graft, ManifestRegistry}
    val tgt = Files.createTempDirectory("graft-clone-layout").toString
    val report = ClonePipeline.clone(spark, sfDir, tgt,
      tables = Seq("region", "orders"),
      layouts = Map("orders" -> ClonePipeline.TableLayout(
        clusterCols = Seq("o_orderkey"), numFiles = 16)))
    try {
      // un-layouted table: no manifest, plain clone unchanged
      assert(!report.manifests.contains("region"))
      // layouted table: manifest persisted next to the data and usable
      val mDir = report.manifests("orders")
      val m = spark.read.parquet(mDir)
      assert(m.columns.contains("min_o_orderkey"))
      assert(m.count() == 16)
      val o = spark.read.parquet(s"$tgt/orders.parquet")
      val (kLo, kHi) = (o.agg(min("o_orderkey")).head().getLong(0),
        o.agg(max("o_orderkey")).head().getLong(0))
      val span = kHi - kLo
      val bounds = Seq(("o_orderkey", kLo + span / 2, kLo + span / 2 + span / 8))
      val kept = StatsManifest.pruneFiles(m, bounds)
      assert(kept.nonEmpty && kept.size <= 4,
        s"cloned layout should confine a 1/8th band to ~2 of 16 files, kept ${kept.size}")
      // and the clone() call itself registered the manifest: the rule
      // prunes a plain read in an opted-in session
      val iso = spark.newSession()
      Graft.ensureRegistered(iso)
      iso.conf.set("spark.graft.manifest.prune", "true")
      def q(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(s"$tgt/orders.parquet")
          .where(col("o_orderkey").between(bounds.head._2, bounds.head._3))
          .orderBy("o_orderkey")
      assert(q(iso).collect().sameElements(q(spark).collect()),
        "pruned clone read: parity")
      // row counts + DDL behave exactly as the plain clone
      assert(report.rowCounts("orders") ==
        Tables.orders(spark, sfDir).count())
      assert(report.ddl("orders").contains("CREATE TABLE [dbo].[orders]"))
      // a NEW session (clone registration gone) bootstraps from the
      // PERSISTED manifest with one registerManifest call and prunes again
      ManifestRegistry.deregister(spark, s"$tgt/orders.parquet")
      Graft.registerManifest(spark, s"$tgt/orders.parquet", mDir)
      assert(StatsManifest.pruneFiles(
        spark.read.parquet(mDir), bounds).size <= 4)
      assert(q(iso).collect().sameElements(q(spark).collect()),
        "persisted-manifest bootstrap: parity")
    } finally ManifestRegistry.deregister(spark, s"$tgt/orders.parquet")
  }

  test("asofJoin picks the latest left row at or before each right timestamp") {
    import spark.implicits._
    import graft.operators.AsOf
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 11:00:00"), 110L),
      (2L, ts("2024-01-01 10:30:00"), 200L)
    ).toDF("key", "qt", "quote_id")
    val trades = Seq(
      (1L, ts("2024-01-01 09:59:00"), "t1"), // before any quote → null
      (1L, ts("2024-01-01 10:00:00"), "t2"), // exactly at quote → inclusive
      (1L, ts("2024-01-01 12:00:00"), "t3"), // after both → latest
      (2L, ts("2024-01-01 10:45:00"), "t4"),
      (3L, ts("2024-01-01 10:00:00"), "t5")  // key with no quotes
    ).toDF("key", "tt", "trade")
    val got = AsOf.asofJoin(quotes, trades, "key", "qt", "tt", "quote_id")
      .select("trade", "__asof").collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toMap
    assert(got == Map(
      "t1" -> None, "t2" -> Some(100L), "t3" -> Some(110L),
      "t4" -> Some(200L), "t5" -> None))
  }

  test("IVF ANN: centroid aggregator trains per cell; probe returns k results") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir)
    val centroids = Ivf.trainCentroids(spark, e)
    assert(centroids.count() == e.select("label").distinct().count())
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    assert(centroids.select(size(col("centroid"))).distinct().first().getInt(0) == dim)
    val topk = Ivf.annIvf(spark, sfDir, queryVecId = 0, k = 10, nprobe = 2)
    val rows = topk.collect()
    assert(rows.length == 10)
    // descending similarity, deterministic tie-break
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("k-means refinement does not worsen the IVF objective") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir)
    val init = Ivf.trainCentroids(spark, e)
    val before = Ivf.distortion(e, init)
    val refined = Ivf.kmeans(spark, e, init, iters = 2)
    val after = Ivf.distortion(e, refined)
    assert(after <= before + 1e-9, s"distortion rose: $before -> $after")
  }

  test("AQE splits a skewed shuffle join at runtime (OptimizeSkewedJoin " +
      "fires on a constructed hot key)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    // the salted-join helper (q_j14) covers DELIBERATE skew handling; this
    // pins Spark's own runtime answer — AQE detecting the hot partition
    // from map-output sizes and splitting it — so we know the built-in
    // path our plans rely on at 100 TB actually engages
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // hot key 1 carries 100k rows; keys 2..100 carry ~100 each — one
      // shuffle partition dwarfs the median by far more than factor 2
      val fact = spark.range(0, 100000)
        .select(lit(1L).as("k"), col("id").as("payload"))
        .unionAll(spark.range(0, 10000)
          .select((col("id") % 99 + 2).as("k"), col("id").as("payload")))
      val dim = spark.range(1, 101).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("name"))
      val joined = fact.join(dim, "k")
      // collect() through the SAME frame — count() would finalize a
      // different QueryExecution and leave this one un-finalized
      assert(joined.collect().length == 110000) // correctness first
      def skewJoins(p: SparkPlan): Seq[SparkPlan] = planNodes(p).collect {
        case j: SortMergeJoinExec if j.isSkewJoin    => j
        case j: ShuffledHashJoinExec if j.isSkewJoin => j
      }
      // the collect() above finalized the adaptive plan on this frame
      assert(skewJoins(joined.queryExecution.executedPlan).nonEmpty,
        joined.queryExecution.executedPlan.toString)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("incrementalSync deregisters the target's manifest, so neither " +
      "manifest rule answers from the replaced files") {
    val base = Files.createTempDirectory("graft-sync-manifest").toString
    def orders(lo: Long, hi: Long, version: Long) = spark.range(lo, hi)
      .select(col("id").as("o_orderkey"), (col("id") % 97).as("o_custkey"),
        lit(version).as("o_version"))
    orders(0, 2000, 0).write.parquet(s"$base/src/orders.parquet")
    val tgt = s"$base/clone/orders.parquet"
    // a laid-out clone registers the target's manifest in this session
    ClonePipeline.clone(spark, s"$base/src", s"$base/clone", Seq("orders"),
      layouts = Map("orders" ->
        ClonePipeline.TableLayout(Seq("o_orderkey"), numFiles = 8)))
    try {
      ClonePipeline.incrementalSync(spark,
        orders(0, 2000, 0).unionByName(orders(2000, 3000, 1)), tgt,
        Seq("o_orderkey"), "o_version")
      def band(s: SparkSession) =
        s.read.parquet(tgt).where(col("o_orderkey") >= 2500).count()
      assert(band(spark) == 500)
      assert(band(sessionWith(spark, Prune)) == 500)
      assert(sessionWith(spark, MetaCount).read.parquet(tgt).count() == 3000)
    } finally ManifestRegistry.deregister(spark, tgt)
  }

  test("incrementalSync deletes the target's persisted manifest, so a " +
      "later registration fails instead of pruning wrongly") {
    val base = Files.createTempDirectory("graft-sync-persisted").toString
    def orders(lo: Long, hi: Long, version: Long) = spark.range(lo, hi)
      .select(col("id").as("o_orderkey"), (col("id") % 97).as("o_custkey"),
        lit(version).as("o_version"))
    orders(0, 2000, 0).write.parquet(s"$base/src/orders.parquet")
    val tgt = s"$base/clone/orders.parquet"
    val report = ClonePipeline.clone(spark, s"$base/src", s"$base/clone",
      Seq("orders"), layouts = Map("orders" ->
        ClonePipeline.TableLayout(Seq("o_orderkey"), numFiles = 8)))
    try {
      val manifestDir = report.manifests("orders")
      assert(new java.io.File(manifestDir).exists())
      ClonePipeline.incrementalSync(spark,
        orders(0, 2000, 0).unionByName(orders(2000, 3000, 1)), tgt,
        Seq("o_orderkey"), "o_version")
      // the persisted manifest lists the replaced files: registering it
      // would prune the new keys away, so it is gone
      assert(!new java.io.File(manifestDir).exists())
      intercept[org.apache.spark.sql.AnalysisException](
        graft.plans.Graft.registerManifest(spark, tgt, manifestDir))
      assert(sessionWith(spark, Prune).read.parquet(tgt)
        .where(col("o_orderkey") >= 2500).count() == 500)
    } finally ManifestRegistry.deregister(spark, tgt)
  }

  test("stats manifest: footer-only stats equal a data-scan recount; " +
      "range pruning opens fewer files and returns exactly the full-scan rows") {
    import graft.io.StatsManifest
    val dir = Files.createTempDirectory("graft-manifest").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    Writers.rangeClustered(li, dir, Seq("l_orderkey"), numFiles = 16)
    val m = StatsManifest.build(spark, dir, Seq("l_orderkey"))
    def byName(path: String) = new org.apache.hadoop.fs.Path(path).getName
    // footer truth: every file's (min, max, rows) matches scanning the data
    val rescan = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("mn"), max("l_orderkey").as("mx"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => byName(r.getString(0)) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val manifested = m.collect()
      .map(r => byName(r.getString(0)) -> ((r.getLong(2), r.getLong(3), r.getLong(1))))
      .toMap
    assert(manifested == rescan)
    // prune to a band ~1/8th of the key span: most files must drop out
    val (kLo, kHi) = (li.agg(min("l_orderkey")).head().getLong(0),
      li.agg(max("l_orderkey")).head().getLong(0))
    val span = kHi - kLo
    val bounds = Seq(("l_orderkey", kLo + span / 2, kLo + span / 2 + span / 8))
    val keep = StatsManifest.pruneFiles(m, bounds)
    assert(keep.nonEmpty && keep.size <= 4,
      s"range clustering should confine a 1/8th band to ~2 of 16 files, kept ${keep.size}")
    // the prune rule opens exactly those files and returns the full-scan rows
    def band(s: SparkSession) = s.read.parquet(dir)
      .where(col("l_orderkey").between(bounds.head._2, bounds.head._3))
      .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    withManifest(dir, m) {
      val pruned = band(sessionWith(spark, Prune))
      assert(scanFiles(pruned) == keep.size)
      assert(pruned.collect().sameElements(band(spark).collect()))
    }
  }

  test("metadata-first count: interior files credit footer rows without a " +
      "scan, boundary files scan, null-bearing files never credit blind") {
    import graft.io.StatsManifest
    val dir = Files.createTempDirectory("graft-metacount").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    Writers.rangeClustered(li, dir, Seq("l_orderkey"), numFiles = 16)
    val m = StatsManifest.build(spark, dir, Seq("l_orderkey"))
    val kLo = li.agg(min("l_orderkey")).head().getLong(0)
    val kHi = li.agg(max("l_orderkey")).head().getLong(0)
    // a band covering the middle ~half: interior files are fully covered,
    // only the two edge-straddling files may need data pages
    val bounds = Seq(("l_orderkey", kLo + (kHi - kLo) / 4,
      kLo + 3 * (kHi - kLo) / 4))
    def bandCount(s: SparkSession) = s.read.parquet(dir)
      .where(col("l_orderkey").between(bounds.head._2, bounds.head._3))
      .groupBy().count()
    val (metaRows, fullFiles, boundary) = StatsManifest.countSplit(m, bounds)
    assert(metaRows > 0 && fullFiles >= 4,
      s"interior files should credit from metadata: $metaRows rows, $fullFiles files")
    assert(boundary.size <= 2, s"only boundary files may scan: ${boundary.size}")
    withManifest(dir, m) {
      val r = bandCount(sessionWith(spark, MetaCount))
      assert(r.head().getLong(0) == bandCount(spark).head().getLong(0))
      assert(scanFiles(r, allowEmpty = true) == boundary.size)
    }
    // a column CONTAINING nulls: the null-bearing file must fall into the
    // scan class (footer rows include null rows, which satisfy no band)
    val ndir = Files.createTempDirectory("graft-metacount-null").toString
    import spark.implicits._
    Seq[(java.lang.Long, Long)]((1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("k", "pay").coalesce(1).write.mode("append").parquet(ndir)
    Seq[(java.lang.Long, Long)]((4L, 4L), (null, 5L), (null, 6L))
      .toDF("k", "pay").coalesce(1).write.mode("append").parquet(ndir)
    val nm = StatsManifest.build(spark, ndir, Seq("k"))
    withManifest(ndir, nm) {
      val nr = sessionWith(spark, MetaCount).read.parquet(ndir)
        .where(col("k").between(0L, 10L)).groupBy().count()
      assert(nr.head().getLong(0) == 4L, "null rows must not be counted")
      assert(scanFiles(nr) == 1,
        "the null-bearing file must scan, the clean file credits blind")
    }
  }

  test("metadata-first min/max: zero data reads on a fully-statted table; " +
      "stat-less files scan and fold in; all-null columns don't poison") {
    import graft.io.StatsManifest
    val dir = Files.createTempDirectory("graft-metaminmax").toString
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    Writers.rangeClustered(li, dir, Seq("l_orderkey"), numFiles = 8)
    val m = StatsManifest.build(spark, dir, Seq("l_orderkey"))
    withManifest(dir, m) {
      val r = sessionWith(spark, MetaCount).read.parquet(dir)
        .agg(min("l_orderkey"), max("l_orderkey"))
      assert(r.head() == li.agg(min("l_orderkey"), max("l_orderkey")).head())
      assert(scanFiles(r, allowEmpty = true) == 0,
        "fully-statted table must not scan")
    }
    // an ALL-NULL column file degrades to NULL stats, so metadata cannot
    // answer: the rule declines and the scan folds every file in; the
    // all-null file yields no non-null value and must not poison it
    val ndir = Files.createTempDirectory("graft-metaminmax-null").toString
    import spark.implicits._
    Seq[(java.lang.Long, Long)]((5L, 1L), (9L, 2L))
      .toDF("k", "pay").coalesce(1).write.mode("append").parquet(ndir)
    Seq[(java.lang.Long, Long)]((null, 3L), (null, 4L))
      .toDF("k", "pay").coalesce(1).write.mode("append").parquet(ndir)
    val nm = StatsManifest.build(spark, ndir, Seq("k"))
    withManifest(ndir, nm) {
      val nr = sessionWith(spark, MetaCount).read.parquet(ndir)
        .agg(min("k"), max("k"))
      assert(nr.head() == Row(5L, 9L))
      assert(scanFiles(nr) == 2, "a NULL stat must decline the metadata answer")
    }
  }

  test("join-driven file pruning: a selective dim key set opens few fact " +
      "files on clustered AND hash-scattered layouts, with exact join parity") {
    import graft.io.StatsManifest
    val dir = Files.createTempDirectory("graft-dfp").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    Writers.rangeClustered(li, dir, Seq("l_orderkey"), numFiles = 16)
    val m = StatsManifest.withBlooms(spark, dir,
      StatsManifest.build(spark, dir, Seq("l_orderkey")), Seq("l_orderkey"))
    val kLo = li.agg(min("l_orderkey")).head().getLong(0)
    val kHi = li.agg(max("l_orderkey")).head().getLong(0)
    // two key islands near the ends of the key space: the ENVELOPE spans
    // everything, so only the per-point band check can drop the interior
    val dim = Tables.orders(spark, sfDir)
      .where(col("o_orderkey").between(kLo, kLo + 20) ||
        col("o_orderkey").between(kHi - 20, kHi))
      .select("o_orderkey", "o_totalprice")
    val keep = StatsManifest.pruneFilesByJoin(m, "l_orderkey", dim, "o_orderkey")
    assert(keep.nonEmpty && keep.size <= 4,
      s"two key islands should confine the join to ~2 of 16 files, kept ${keep.size}")
    val pruned = StatsManifest
      .readPrunedByJoin(spark, dir, m, "l_orderkey", dim, "o_orderkey")
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .collect().map(_.toString).sorted
    val full = spark.read.parquet(dir)
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .collect().map(_.toString).sorted
    assert(pruned.nonEmpty && pruned.sameElements(full))
    // past pointCap the envelope-only fallback stays SOUND (a superset of
    // the point check's survivors, never fewer)
    val keepEnv = StatsManifest.pruneFilesByJoin(m, "l_orderkey", dim,
      "o_orderkey", pointCap = 1)
    assert(keep.toSet.subsetOf(keepEnv.toSet))
    // empty build side proves the join empty without opening any file
    assert(StatsManifest.pruneFilesByJoin(m, "l_orderkey",
      dim.where(lit(false)), "o_orderkey").isEmpty)

    // hash-scattered layout: every file spans the whole key range (bands
    // keep all 8), so skipping must come from the bloom sidecars
    val dir2 = Files.createTempDirectory("graft-dfp2").toString
    li.repartition(8, col("l_orderkey")).write.mode("overwrite").parquet(dir2)
    val m2 = StatsManifest.withBlooms(spark, dir2,
      StatsManifest.build(spark, dir2, Seq("l_orderkey")), Seq("l_orderkey"))
    val dim2 = Tables.orders(spark, sfDir)
      .where(col("o_orderkey").isin(kLo, kHi)).select("o_orderkey")
    val keep2 = StatsManifest.pruneFilesByJoin(m2, "l_orderkey", dim2,
      "o_orderkey")
    assert(keep2.nonEmpty && keep2.size <= 3,
      s"2 keys hit at most 2 hash buckets (+bloom fp margin), kept ${keep2.size}")
    val pruned2 = StatsManifest
      .readPrunedByJoin(spark, dir2, m2, "l_orderkey", dim2, "o_orderkey")
      .join(dim2, col("l_orderkey") === col("o_orderkey"))
      .collect().map(_.toString).sorted
    val full2 = spark.read.parquet(dir2)
      .join(dim2, col("l_orderkey") === col("o_orderkey"))
      .collect().map(_.toString).sorted
    assert(pruned2.nonEmpty && pruned2.sameElements(full2))

    // bloom-ONLY manifest (no stats bands at all — the pure unclustered
    // case): band logic degrades to keep-all instead of crashing on the
    // missing min_/max_ columns, blooms still skip, join parity holds
    val m3 = StatsManifest.withBlooms(spark, dir2,
      StatsManifest.build(spark, dir2, Nil), Seq("l_orderkey"))
    val keep3 = StatsManifest.pruneFilesByJoin(m3, "l_orderkey", dim2,
      "o_orderkey")
    assert(keep3.nonEmpty && keep3.size <= 3,
      s"bloom-only manifest should still skip, kept ${keep3.size}")
    val pruned3 = StatsManifest
      .readPrunedByJoin(spark, dir2, m3, "l_orderkey", dim2, "o_orderkey")
      .join(dim2, col("l_orderkey") === col("o_orderkey"))
      .collect().map(_.toString).sorted
    assert(pruned3.sameElements(full2))
    // past pointCap a bloom-only manifest has nothing to prune with:
    // keep-all, never a crash
    assert(StatsManifest.pruneFilesByJoin(m3, "l_orderkey", dim2,
      "o_orderkey", pointCap = 1).size == 8)
  }

  test("writePackedShards lands bin-aligned hive-partitioned shards that " +
      "reconstruct each source's token stream exactly") {
    import graft.operators.{LLMOps, TrainPrep}
    val out = Files.createTempDirectory("graft-shards").toString
    val (nBins, nShards) = TrainPrep.writePackedShards(spark, sfDir, out,
      capacity = 128, binsPerShard = 4, shardSize = 128)
    assert(nBins > 0 && nShards > 0 && nShards <= nBins)
    val bins = spark.read.parquet(out)
    assert(bins.columns.sorted.toSeq ==
      Seq("bin", "n_tok", "shard", "source", "text"))
    // bin -> shard mapping is exact, and every bin except each source's
    // last holds exactly `capacity` tokens
    assert(bins.where(col("shard") =!= expr("bin div 4")).count() == 0)
    val lastBin = bins.groupBy("source").agg(max("bin").as("mx"))
    assert(bins.join(lastBin, Seq("source"))
      .where(col("bin") =!= col("mx") && col("n_tok") =!= 128).count() == 0,
      "a non-final bin missed its capacity")
    // stream reconstruction: bins concatenated in bin order equal the
    // source's documents concatenated in doc_id order, token for token
    val rebuilt = bins.orderBy("source", "bin")
      .collect().groupBy(_.getAs[String]("source"))
      .view.mapValues(_.sortBy(_.getAs[Long]("bin"))
        .map(_.getAs[String]("text")).mkString(" ")).toMap
    val expected = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        array_join(LLMOps.tokens(col("text")), " ").as("t"))
      .orderBy("source", "doc_id").collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getAs[String]("t")).mkString(" ")).toMap
    assert(rebuilt.keySet == expected.keySet)
    rebuilt.keySet.foreach { src =>
      assert(rebuilt(src) == expected(src), s"stream drift in source $src")
    }
  }

  test("sentenceDedup catalogs cross-document repeated sentences and " +
      "skips fragments below the length floor") {
    import spark.implicits._
    import graft.operators.LLMOps
    val boiler = "subscribe to our newsletter for updates"
    val license = "all rights reserved by the original author"
    val docs = Seq(
      (0L, s"unique opening thought. $boiler. some closing words here"),
      (1L, s"$boiler. another unrelated body sentence follows here"),
      (2L, s"totally different content lives here. $license. tail text"),
      (3L, s"$license. and a second body nobody else shares. ok"),
      (4L, s"$boiler. $license. a document carrying both boilerplates")
    ).toDF("doc_id", "text")
    val cat = LLMOps.sentenceDedup(docs).collect()
    // exactly the two boilerplate sentences repeat (short fragments like
    // 'ok' are floored out); copies and holders are exact
    assert(cat.length == 2, s"expected 2 repeated sentences, got ${cat.length}")
    val byCopies = cat.map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(byCopies == Set((3L, 3L, 0L), (3L, 3L, 2L)),
      s"copies/n_docs/first_doc drifted: ${byCopies.mkString(",")}")
    // the catalog is keyed by the portable poly hash of the sentence text
    val hs = cat.map(_.getLong(0)).toSet
    def ph(s: String) = {
      var acc = 0L; s.foreach(c => acc = (acc * 31 + c) % 1000000007L); acc
    }
    assert(hs == Set(ph(boiler), ph(license)))
  }

  test("chunk-store vacuum reclaims dead-doc chunks, rewrites only dirty " +
      "files, and survivors still round-trip byte-exactly") {
    import graft.io.ChunkStore
    val dir = Files.createTempDirectory("graft-vacuum").toString + "/store"
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").where(col("text").isNotNull)
    ChunkStore.write(docs, dir)
    val filesBefore = ChunkStore.chunks(spark, dir)
      .select(input_file_name()).distinct().count()
    val chunksBefore = ChunkStore.chunks(spark, dir).count()
    // a reader PLANNED BEFORE the vacuum (snapshot isolation, r17)
    val preplanned = ChunkStore.chunks(spark, dir)
    // retain two thirds of the corpus
    val live = docs.filter(col("doc_id") % 3 =!= 0)
    val stats = ChunkStore.vacuum(spark, dir, live.select("doc_id"))
    assert(stats.droppedSlots > 0, "dead docs must drop manifest slots")
    assert(stats.rewrittenFiles + stats.untouchedFiles >= filesBefore - 1)
    assert(preplanned.count() == chunksBefore,
      "a reader planned before the vacuum must materialize after it")
    // every surviving chunk is still referenced (no orphans), and the
    // store shrank by exactly the reclaimed chunks — reads are
    // SNAPSHOT-RESOLVED (the retired originals stay on disk one
    // maintenance round of grace, invisible to fresh readers)
    val keysOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select("h", "len", "x").distinct()
    val chunkKeys = keysOf(ChunkStore.chunks(spark, dir))
    val refKeys = keysOf(ChunkStore.manifest(spark, dir))
    assert(chunkKeys.join(refKeys, Seq("h", "len", "x"), "left_anti").count() == 0,
      "vacuum left unreferenced chunks behind")
    assert(ChunkStore.chunks(spark, dir).count() ==
      chunksBefore - stats.reclaimedChunks)
    // no duplicate keys introduced by the file swap
    assert(ChunkStore.chunks(spark, dir)
      .groupBy("h", "len", "x").count().where(col("count") > 1).count() == 0)
    // byte-exact round trip of the survivors
    val mismatches = live.as("o")
      .join(ChunkStore.materialize(spark, dir).as("r"), "doc_id", "full_outer")
      .where(col("o.text").isNull || col("r.text").isNull ||
        col("o.text") =!= col("r.text")).count()
    assert(mismatches == 0, s"$mismatches docs failed the post-vacuum round trip")
    // idempotence: a second vacuum with the same retention is a no-op
    val again = ChunkStore.vacuum(spark, dir, live.select("doc_id"))
    assert(again.droppedSlots == 0 && again.reclaimedChunks == 0 &&
      again.rewrittenFiles == 0)
    // a FURTHER retention shrink vacuums again — possibly rewriting files
    // the first vacuum itself produced — and still round-trips exactly
    val live2 = live.filter(col("doc_id") % 5 =!= 1)
    val third = ChunkStore.vacuum(spark, dir, live2.select("doc_id"))
    assert(third.droppedSlots > 0)
    assert(keysOf(ChunkStore.chunks(spark, dir))
      .join(keysOf(ChunkStore.manifest(spark, dir)),
        Seq("h", "len", "x"), "left_anti").count() == 0)
    val mismatches2 = live2.as("o")
      .join(ChunkStore.materialize(spark, dir).as("r"), "doc_id", "full_outer")
      .where(col("o.text").isNull || col("r.text").isNull ||
        col("o.text") =!= col("r.text")).count()
    assert(mismatches2 == 0, s"$mismatches2 docs failed the re-vacuum round trip")
    // GRACE + REAP: the second vacuum reaped the first's retired files;
    // an eager reap then converges the raw listing on the live set
    ChunkStore.reapRetired(spark, dir)
    val rawFiles = graft.io.Readers.parquetFiles(spark, s"$dir/chunks").length +
      graft.io.Readers.parquetFiles(spark, s"$dir/manifest").length
    assert(rawFiles == ChunkStore.dataFileCount(spark, dir),
      "reap must converge the raw listing on the live set")
    // batch appends are exactly-once under the store's flag discipline:
    // a committed batch replayed with DIFFERENT rows is a no-op
    val preCount = ChunkStore.manifest(spark, dir).count()
    ChunkStore.append(spark, docs.limit(5), dir, batchId = 42L)
    val afterFirst = ChunkStore.manifest(spark, dir).count()
    ChunkStore.append(spark,
      docs.limit(20).withColumn("text", concat(col("text"), lit("x"))),
      dir, batchId = 42L)
    assert(ChunkStore.manifest(spark, dir).count() == afterFirst)
    assert(afterFirst >= preCount)
  }

  test("stats manifest string bands: truncate-safe min/max prune string " +
      "ranges and prefix queries with full parity") {
    import graft.io.StatsManifest
    // band helpers: the lower band is a plain prefix (<= its extension),
    // the upper band bumps the rightmost char so it bounds every string
    // carrying the truncated prefix; non-ASCII degrades to None
    assert(StatsManifest.bandLo("Customer#000000123") == Some("Customer#0000001"))
    assert(StatsManifest.bandHi("Customer#000000123") == Some("Customer#0000002"))
    assert(StatsManifest.bandLo("short") == Some("short"))
    assert(StatsManifest.bandHi("short") == Some("short"))
    assert(StatsManifest.bandHi("Customer#000000123") .exists(_ > "Customer#000000123"))
    assert(StatsManifest.bandLo("café") == None)
    assert(StatsManifest.bandHi("café") == None)
    assert(StatsManifest.bandHi("~" * 20) == None)

    val dir = Files.createTempDirectory("graft-manifest-str").toString
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    Writers.rangeClustered(c, dir, Seq("c_name"), numFiles = 16)
    // c_name is zero-padded ('Customer#000000042') so its discriminating
    // chars sit at positions 17-18 — exactly the key shape the bandWidth
    // knob exists for
    val m = StatsManifest.build(spark, dir, Nil, stringCols = Seq("c_name"),
      bandWidth = 18)
    assert(m.columns.contains("smin_c_name") && m.columns.contains("smax_c_name"))
    // every file carries a band (ASCII corpus), and the band truly bounds
    // the file's values
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("c_name").as("mn"), max("c_name").as("mx")).collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName ->
        ((r.getString(1), r.getString(2)))).toMap
    m.collect().foreach { r =>
      val name = new org.apache.hadoop.fs.Path(r.getString(0)).getName
      val (mn, mx) = perFile(name)
      val (smin, smax) = (r.getAs[String]("smin_c_name"), r.getAs[String]("smax_c_name"))
      assert(smin != null && smax != null, s"$name: band missing")
      assert(smin <= mn && smax >= mx, s"$name: band [$smin,$smax] not a bound of [$mn,$mx]")
    }
    // a narrow string range prunes most of the 16 files
    val names = c.select("c_name").orderBy("c_name").collect().map(_.getString(0))
    val (lo, hi) = (names(names.length / 2), names(names.length / 2 + names.length / 16))
    val kept = StatsManifest.pruneFiles(m, Nil,
      strBounds = Seq(("c_name", Some(lo), Some(hi))))
    assert(kept.nonEmpty && kept.size <= 4,
      s"string band should confine a 1/16th range to a few of 16 files, kept ${kept.size}")
    val got = spark.read.option("basePath", dir).parquet(kept: _*)
      .where(col("c_name") >= lo && col("c_name") <= hi)
      .orderBy("c_custkey").collect()
    val full = spark.read.parquet(dir)
      .where(col("c_name") >= lo && col("c_name") <= hi)
      .orderBy("c_custkey").collect()
    assert(got.sameElements(full), "string-band prune: parity")
  }

  test("stats manifest over the z-ordered layout: a bound on EITHER " +
      "dimension alone prunes files") {
    import graft.io.StatsManifest
    val dir = Files.createTempDirectory("graft-manifest-z").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    Writers.zOrdered(li, dir, "l_partkey", "l_suppkey", numFiles = 16)
    val m = StatsManifest.build(spark, dir, Seq("l_partkey", "l_suppkey"))
    val nFiles = m.count()
    // narrow band on each dimension SEPARATELY — the property rangeClustered
    // cannot give its trailing key (its spec pins leading-key pruning only)
    val pLo = li.agg(min("l_partkey")).head().getLong(0)
    val pHi = li.agg(max("l_partkey")).head().getLong(0)
    val partBand = Seq(("l_partkey", pLo, pLo + (pHi - pLo) / 8))
    val suppBand = Seq(("l_suppkey", li.agg(min("l_suppkey")).head().getLong(0),
      li.agg(min("l_suppkey")).head().getLong(0)))
    val keptP = StatsManifest.pruneFiles(m, partBand).size
    val keptS = StatsManifest.pruneFiles(m, suppBand).size
    assert(keptP < nFiles, s"partkey band kept all $nFiles files")
    assert(keptS < nFiles, s"suppkey band kept all $nFiles files")
    // and pruned reads stay exact on the non-leading dimension
    def q(s: SparkSession) = s.read.parquet(dir)
      .where(col("l_suppkey").between(suppBand.head._2, suppBand.head._3))
      .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    withManifest(dir, m) {
      val got = q(sessionWith(spark, Prune))
      assert(scanFiles(got) == keptS)
      assert(got.collect().sameElements(q(spark).collect()))
    }
  }

  test("zValueN matches a reference 3-D Morton interleave; the 3-D layout " +
      "prunes files on ANY of its three dimensions") {
    import graft.io.StatsManifest
    // reference bit-interleave on random triples
    def ref(v: Seq[Long], bits: Int): Long = {
      var z = 0L
      for (k <- 0 until bits; d <- v.indices)
        z |= ((v(d) >> k) & 1L) << (k * v.size + d)
      z
    }
    val rnd = new scala.util.Random(7)
    val triples = Seq.fill(200)(Seq(rnd.nextInt(1 << 12).toLong,
      rnd.nextInt(1 << 12).toLong, rnd.nextInt(1 << 12).toLong))
    import spark.implicits._
    val got = triples.map(t => (t(0), t(1), t(2))).toDF("a", "b", "c")
      .select(Writers.zValueN(Seq(col("a"), col("b"), col("c")), 12).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == triples.map(ref(_, 12)))
    // 3-D clustered layout: a narrow band on EACH dimension alone drops files
    val dir = Files.createTempDirectory("graft-z3").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    Writers.zOrderedN(li, dir, Seq("l_orderkey", "l_partkey", "l_suppkey"),
      numFiles = 16, bits = 12)
    val m = StatsManifest.build(spark, dir,
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    val nFiles = m.count()
    val pruning = sessionWith(spark, Prune)
    withManifest(dir, m) {
      for (c <- Seq("l_orderkey", "l_partkey", "l_suppkey")) {
        val lo = li.agg(min(c)).head().getLong(0)
        val hi = li.agg(max(c)).head().getLong(0)
        val band = Seq((c, lo, lo + (hi - lo) / 8))
        val kept = StatsManifest.pruneFiles(m, band).size
        assert(kept < nFiles, s"$c band kept all $nFiles files")
        // pruned read stays exact
        def q(s: SparkSession) = s.read.parquet(dir)
          .where(col(c).between(band.head._2, band.head._3))
          .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        assert(scanFiles(q(pruning)) == kept)
        assert(q(pruning).collect().sameElements(q(spark).collect()))
      }
    }
  }

  test("stats manifest over a hive-partitioned layout: partition columns " +
      "survive the pruned read; data-column bounds still prune") {
    import graft.io.StatsManifest
    val dir = Files.createTempDirectory("graft-manifest-hive").toString
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    Writers.partitionedParquet(o, dir, Seq("o_orderpriority"))
    val m = StatsManifest.build(spark, dir, Seq("o_orderkey"))
    val (kLo, kHi) = (o.agg(min("o_orderkey")).head().getLong(0),
      o.agg(max("o_orderkey")).head().getLong(0))
    val bounds = Seq(("o_orderkey", kLo, kLo + (kHi - kLo) / 4))
    // the partition column is still resolvable (basePath), so the pruned
    // read answers the same query the full read does
    def q(s: SparkSession) = s.read.parquet(dir)
      .where(col("o_orderkey").between(bounds.head._2, bounds.head._3))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n")).orderBy("o_orderpriority")
    withManifest(dir, m) {
      val pruned = q(sessionWith(spark, Prune))
      assert(scanFiles(pruned) == StatsManifest.pruneFiles(m, bounds).size)
      val got = pruned.collect()
      assert(got.sameElements(q(spark).collect()) && got.nonEmpty)
    }
    // bounds on the PARTITION column have no footer stats: every file
    // survives (skipping never bets on absent stats) — and empty bounds
    // are the no-op, not a crash
    assert(StatsManifest.pruneFiles(m, Seq.empty).size == m.count())
  }

  test("stats manifest append: only new files are footer-read, dropped " +
      "files fall out, result equals a full rebuild") {
    import graft.io.StatsManifest
    import org.apache.spark.sql.SaveMode
    val dir = Files.createTempDirectory("graft-manifest-inc").toString
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    li.where(col("l_orderkey") % 2 === 0).repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val m1 = StatsManifest.build(spark, dir, Seq("l_orderkey"))
    li.where(col("l_orderkey") % 2 === 1).repartition(3)
      .write.mode(SaveMode.Append).parquet(dir)
    val m2 = StatsManifest.append(spark, dir, m1, Seq("l_orderkey"))
    val rebuilt = StatsManifest.build(spark, dir, Seq("l_orderkey"))
    assert(m2.orderBy("file").collect()
      .sameElements(rebuilt.orderBy("file").collect()))
    // a no-op append over an unchanged directory adds nothing
    val m3 = StatsManifest.append(spark, dir, m2, Seq("l_orderkey"))
    assert(m3.orderBy("file").collect()
      .sameElements(rebuilt.orderBy("file").collect()))
    // compaction/vacuum deletes a file: the next append drops its row
    val victim = new org.apache.hadoop.fs.Path(
      rebuilt.orderBy("file").head().getString(0))
    victim.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(victim, false)
    val m4 = StatsManifest.append(spark, dir, m3, Seq("l_orderkey"))
    assert(m4.count() == rebuilt.count() - 1 &&
      !m4.select("file").collect().map(_.getString(0)).contains(victim.toString))
    // schema forward-compat: a manifest persisted BEFORE the nulls_<c>
    // channel (simulated by dropping the column) must keep appending —
    // its old rows carry NULL null counts (= unknown, scan-class), and
    // the fresh rows carry real ones
    val legacy = m4.drop("nulls_l_orderkey")
    li.where(col("l_orderkey") % 7 === 3).coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir)
    val m5 = StatsManifest.append(spark, dir, legacy, Seq("l_orderkey"))
    assert(m5.count() == m4.count() + 1)
    assert(m5.where(col("nulls_l_orderkey").isNotNull).count() == 1,
      "only the freshly appended file should carry a known null count")
  }

  test("plan contract, every registered query: no CartesianProduct " +
      "anywhere; every BroadcastNestedLoopJoin broadcasts a provably " +
      "bounded side (scalar agg, unique-key lookup, or capped local table)") {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal}
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, LocalTableScanExec, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the standing scale audit, automated: a cartesian is never an
    // acceptable plan at 100 TB, and a nested-loop broadcast is only safe
    // when the BUILD SIDE'S OUTPUT cardinality is bounded. The bounding
    // node must be the build side's root (below cardinality-preserving
    // wrappers) — an exists-anywhere match would bless a huge join that
    // merely CONTAINS a scalar aggregate somewhere.
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x         => Seq(x)
    }
    // Sound cardinality bounding: every case either bounds the node's
    // OUTPUT directly — ungrouped aggregate (<= 1 row by structure, the
    // scalar-subquery pattern q_q01/q_l37 use), a filter with a bare
    // equality conjunct on a corpus-unique id (the q_l02/q_l31
    // query-vector lookup; a disjunction would not bound it), a
    // driver-local table under a CHECKED row cap (IVF centroids) — or
    // recurses into a child whose cardinality is an upper bound
    // (filters, projections, exchanges, sorts, codegen/AQE wrappers are
    // all cardinality-non-increasing). Anything else is unbounded.
    val uniqueIds = Set("vec_id", "doc_id")
    def bounded(p: SparkPlan): Boolean = p match {
      case h: HashAggregateExec       => h.groupingExpressions.isEmpty
      // exactly 1 row by construction — the shape a metadata-serving
      // rewrite (MetaCountRule) leaves behind when it folds a scalar
      // aggregate to literals over OneRowRelation (q_x05)
      case _: org.apache.spark.sql.execution.OneRowRelationExec => true
      case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
      case s: SortAggregateExec       => s.groupingExpressions.isEmpty
      case l: LocalTableScanExec      => l.rows.lengthCompare(10000) <= 0
      case f: FilterExec =>
        conjuncts(f.condition).exists {
          case EqualTo(a: AttributeReference, _: Literal) => uniqueIds(a.name)
          case EqualTo(_: Literal, a: AttributeReference) => uniqueIds(a.name)
          case _                                          => false
        } || bounded(f.child)
      case e: BroadcastExchangeExec => bounded(e.child)
      // a reused exchange has exactly the referenced exchange's output
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        bounded(r.child)
      case pr: ProjectExec          => bounded(pr.child)
      case w: WholeStageCodegenExec => bounded(w.child)
      case i: InputAdapter          => bounded(i.child)
      case c: ColumnarToRowExec     => bounded(c.child)
      case s: SortExec              => bounded(s.child)
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case q: QueryStageExec        => bounded(q.plan)
      case _                        => false
    }
    val dir = sfDir
    SparkEntry.queries.foreach { case (name, build) =>
      val df = build(spark, dir)
      // execute (t1 scale, results are aggregate-sized) so AQE FINALIZES
      // this frame's plan — the static plan would hide any join strategy
      // adaptive re-planning swaps in at runtime
      df.collect()
      val nodes = planNodes(df.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name plans a CartesianProduct")
      nodes.collect { case b: BroadcastNestedLoopJoinExec => b }.foreach { b =>
        val buildPlan = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft  => b.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
        }
        assert(bounded(buildPlan),
          s"$name broadcasts an unbounded side through BNLJ:\n$buildPlan")
      }
    }
  }

  test("qT09 plan: ONE hash exchange serves both the lead() window and " +
      "the per-user aggregate") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // the qT08 partitioning-reuse pattern, pinned: a window followed by a
    // groupBy on the SAME key must not pay a second data shuffle — at
    // 100 TB the second exchange would double the job's network cost
    val df = graft.operators.Temporal.qT09(spark, sfDir)
    df.collect() // finalize the adaptive plan on this frame
    def hashExchanges(p: SparkPlan): Seq[SparkPlan] = {
      val here = p match {
        case e: ShuffleExchangeLike
          if e.outputPartitioning.toString.contains("hashpartitioning") => Seq(e)
        case _ => Nil
      }
      val extra = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case _                        => Nil
      }
      here ++ (extra ++ p.children).flatMap(hashExchanges)
    }
    val n = hashExchanges(df.queryExecution.executedPlan).size
    assert(n == 1,
      s"expected exactly one hash exchange, found $n:\n${df.queryExecution.executedPlan}")
  }

  test("observedQualityFunnel: counters ride the survivor pass via " +
      "Dataset.observe and equal the oracle-checked aggregate (q_l22)") {
    import graft.operators.TrainPrep
    val (survivors, obs) = TrainPrep.observedQualityFunnel(spark, sfDir)
    val nSurvivors = survivors.count() // the action that flushes observe
    val got = obs.get
    val want = TrainPrep.qL22(spark, sfDir).head()
    for (k <- Seq("total", "pass_len", "pass_wlen", "pass_rep", "pass_stop",
        "pass_all"))
      assert(got(k) == want.getAs[Long](k), s"counter $k: $got vs $want")
    assert(nSurvivors == want.getAs[Long]("pass_all"))
  }

  test("ContentChunks: chunks tile the text exactly, an edit stays local " +
      "(shared suffix re-hashes identically), and the expression is codegen'd") {
    import graft.functions.ContentChunks
    import spark.implicits._
    val base = ("the quick brown fox jumps over the lazy dog " * 30).trim
    val edited = "XY " + base // edit at the very front
    val rows = Seq(base, edited).toDF("text")
      .select(ContentChunks(col("text")).as("ps"), length(col("text")).as("n"))
      .collect()
    // coverage: packed lengths tile the document with no gap/overlap
    rows.foreach { r =>
      assert(r.getSeq[Long](0).map(_ % 1048576L).sum == r.getInt(1).toLong)
    }
    // content-defined boundaries: after the first post-edit cut the chunk
    // sequences realign, so all but a prefix of the chunk stream is
    // byte-identical — the property offset-based (fixed-size) chunking
    // fundamentally lacks
    val a = rows(0).getSeq[Long](0)
    val b = rows(1).getSeq[Long](0)
    val common = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.length
    assert(common >= a.length - 3,
      s"front edit disturbed ${a.length - common} of ${a.length} chunks")
    // the empty string yields exactly one empty chunk (hash 0, len 0) —
    // the same single-element reduce the oracle's empty slice produces
    assert(Seq("").toDF("text")
      .select(ContentChunks(col("text")).as("ps"))
      .head().getSeq[Long](0) == Seq(0L))
    // codegen presence, same pin as PolyHash — and EXECUTED with the
    // interpreted fallback off, so a Janino compile failure in the
    // generated chunking loop fails the test instead of silently
    // degrading to interpreted eval
    val cg = spark.range(4)
      .select(ContentChunks(concat(lit("txt"), col("id").cast("string"))).as("c"))
    assert(cg.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(cg.collect().length == 4)
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("canonicalize: NFC/case/whitespace variants share one fingerprint; " +
      "the ASCII corpus is a fixed point") {
    import graft.operators.LLMOps
    import spark.implicits._
    val composed   = "Café du Monde"        // é as U+00E9
    val decomposed = "Café du Monde"       // e + combining acute
    val spaced     = "  café   DU  monde "  // case + whitespace noise
    val nbsp       = "caf\u00e9 du\u00a0monde"  // &nbsp; between words
    assert(composed != decomposed) // byte-different inputs...
    val fps = Seq(composed, decomposed, spaced, nbsp).toDF("text")
      .select(LLMOps.charHash(LLMOps.canonicalize(col("text"))).as("fp"))
      .distinct().collect()
    assert(fps.length == 1) // ...one canonical fingerprint
    // on the synthetic corpus canonicalize is the identity — the reason
    // the oracle-checked dedup rows need no canonicalize of their own
    val docs = Tables.documents(spark, sfDir)
    assert(docs.where(
      LLMOps.canonicalize(col("text")) =!= col("text")).count() == 0)
  }

  test("NfcNormalize stays inside whole-stage codegen") {
    val df = spark.range(4)
      .select(graft.functions.NfcNormalize(
        concat(lit("café"), col("id").cast("string"))).as("t"))
    val plan = df.queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty, s"NfcNormalize fell out of codegen:\n$plan")
    // plan shape alone passes even when Janino rejects the generated
    // source at runtime (Spark silently falls back to interpreted) —
    // execute with the fallback OFF so a codegen compile error fails here
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(df.collect().length == 4)
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("scrubPii replaces emails, IPv4s and phone numbers with typed tokens") {
    import graft.operators.LLMOps
    import spark.implicits._
    val rows = Seq(
      "contact john.doe+spam@example.co.uk or call +1 (415) 555-2671 now",
      "server at 192.168.0.1 port 8080 uptime 123456789012",
      "reach me: john.doe@192.168.0.1",
      "no pii here").toDF("text")
    val out = rows.select(LLMOps.scrubPii(col("text")).as("t"))
      .as[String].collect()
    assert(out(0) == "contact <EMAIL> or call <PHONE> now")
    assert(out(1) == "server at <IP> port 8080 uptime 123456789012")
    // an IP-literal domain is still an email: the local part must not
    // survive as "john.doe@<IP>"
    assert(out(2) == "reach me: <EMAIL>")
    assert(out(3) == "no pii here")
  }

  test("runtime bloom filter: a selective dim predicate reaches the fact " +
      "side as bloom_filter_might_contain (InjectRuntimeFilter fires)") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    // the third runtime-pruning leg next to DPP (partition granularity)
    // and AQE skew split (shuffle granularity): at 100 TB a shuffle join
    // against a filtered dim moves every fact row unless the dim's
    // predicate reaches the fact SCAN as a row-level filter — Spark's
    // InjectRuntimeFilter builds a bloom filter over the dim's join keys
    // and semi-filters the fact leg pre-shuffle. The scan-size floor
    // exists only because the test corpus is far below the 10 GB
    // production threshold; the plan shape is the one a real cluster gets
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.lineitem(spark, sfDir).select("l_partkey", "l_quantity")
      val pr = Tables.part(spark, sfDir)
        .where(col("p_type") === "PROMO").select("p_partkey")
      val joined = li.join(pr, col("l_partkey") === col("p_partkey"))
      val opt = joined.queryExecution.optimizedPlan
      val hasBloom = opt.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[BloomFilterMightContain])))
      assert(hasBloom, s"no bloom_filter_might_contain injected:\n$opt")
      // the filter is pruning-only: row set identical with it disabled
      val n = joined.count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      try {
        val plain = li.join(pr, col("l_partkey") === col("p_partkey")).count()
        assert(n == plain, s"bloom-filtered count $n != plain $plain")
      } finally
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("saltedJoin produces exactly the plain-join rows") {
    import graft.operators.Scale
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey")
    val plain = o.join(c, Seq("o_custkey")).select("o_orderkey", "c_name")
    val salted = Scale.saltedJoin(o, c, "o_custkey", buckets = 8)
      .select("o_orderkey", "c_name")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("approx distinct twin lands within 5% of exact") {
    import graft.operators.Scale
    val approx = Scale.qA06(spark, sfDir).collect()(0).getLong(0)
    val exact = Tables.orders(spark, sfDir)
      .select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("persisted per-day HLL sketches union to the all-time distinct count") {
    import graft.operators.Scale
    val events = Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
    // per-day sketches (what an ingest job would persist), stored + reloaded
    val tmp = java.nio.file.Files.createTempDirectory("graft-hll").toString
    Scale.sketchPerPartition(events, "day", "user_id")
      .write.parquet(s"$tmp/sketches")
    val stored = spark.read.parquet(s"$tmp/sketches")
    assert(stored.count() > 1) // genuinely incremental: several partitions
    val est = Scale.unionEstimate(stored).head().getLong(0)
    val exact = events.select(countDistinct(col("user_id"))).head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"est=$est exact=$exact")
    // adding one more day's sketch never rescans the stored history
    val moreDays = stored.limit(3)
    val est2 = Scale.unionEstimate(moreDays).head().getLong(0)
    assert(est2 > 0 && est2 <= est)
  }

  test("bucketed tables join without a shuffle") {
    import graft.io.Writers
    // a fresh session's catalog doesn't know tables left in the warehouse
    // dir by a previous JVM — clear both catalog entry and location
    Seq("orders_b", "customer_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    Writers.bucketed(Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice"), "orders_b", "o_custkey", 8)
    Writers.bucketed(Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name"), "customer_b", "c_custkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == Tables.orders(spark, sfDir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("csv and json sources round-trip through Readers") {
    import graft.io.{Readers, Writers}
    val tmp = java.nio.file.Files.createTempDirectory("graft-io").toString
    val nation = Tables.nation(spark, sfDir)
    nation.write.option("header", true).csv(s"$tmp/nation_csv")
    nation.write.json(s"$tmp/nation_json")
    val fromCsv = Readers.csv(spark, s"$tmp/nation_csv")
    val fromJson = Readers.json(spark, s"$tmp/nation_json")
    assert(fromCsv.count() == 25 && fromJson.count() == 25)
    val exp = nation.select("n_nationkey", "n_name").orderBy("n_nationkey")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(fromCsv.select("n_nationkey", "n_name").orderBy("n_nationkey")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq == exp)
    assert(fromJson.selectExpr("cast(n_nationkey as int)", "n_name").orderBy("n_nationkey")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq == exp)
  }

  test("parquetMergeSchema reads a schema-evolved directory as one table") {
    import spark.implicits._
    import graft.io.Readers
    val tmp = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    // v1 files predate the `score` column; v2 files carry it
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$tmp/t")
    Seq((3L, "c", 0.5)).toDF("id", "v", "score")
      .write.mode("append").parquet(s"$tmp/t")
    val df = Readers.parquetMergeSchema(spark, s"$tmp/t")
    assert(df.schema.fieldNames.toSet == Set("id", "v", "score"))
    val rows = df.select("id", "score").orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(rows.toSeq == Seq((1L, None), (2L, None), (3L, Some(0.5))))
  }

  test("csvWithQuarantine captures malformed rows instead of failing or " +
      "dropping them") {
    import graft.io.Readers
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-quarantine")
    java.nio.file.Files.writeString(tmp.resolve("in.csv"),
      """id,qty,name
        |1,10,alpha
        |2,notanumber,beta
        |3,30,gamma
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("qty", LongType), StructField("name", StringType)))
    // pre-split helper, uncached: full-width actions work as-is; the
    // restriction/pruning edges that DO survive the split are pinned
    // explicitly at the end of this test
    val (cleanDf, quarDf) = Readers.csvSplitQuarantine(spark, tmp.toString, schema)
    val clean = cleanDf.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(clean == Seq((1L, 10L, "alpha"), (3L, 30L, "gamma")))
    assert(cleanDf.columns.toSeq == Seq("id", "qty", "name"))
    // the bad line is captured verbatim for replay, not dropped; the
    // quarantine frame keeps the data columns (replay-sink shape)
    val quarantined = quarDf.collect()
      .map(_.getAs[String]("_quarantine")).toSeq
    assert(quarantined == Seq("2,notanumber,beta"))
    // the corrupt-column-only scan restriction SURVIVES the split (as the
    // helper's doc now states): a bare count() prunes to nothing but the
    // _quarantine filter and Spark refuses the scan — pinned so the doc
    // can't drift from the behavior
    val e = intercept[Exception] { quarDf.count() }
    assert(e.getMessage.toLowerCase.contains("corrupt"), e.getMessage)
    // ...and column-pruned projections are WORSE than refused: the scan
    // re-parses only the selected columns, so a row malformed in an
    // UNSELECTED column ("notanumber" in qty) parses clean and its
    // quarantine row vanishes — subset-selects silently change the
    // quarantine semantics (pinned so the doc can't drift)
    assert(quarDf.select("id", "_quarantine").collect().isEmpty)
    // the sound workarounds: full-width actions (the collect()s above),
    // or cache(), which pins the full-schema parse
    assert(quarDf.cache().count() == 1)
    quarDf.unpersist()
  }

  test("jsonWithQuarantine captures malformed JSON lines with the same " +
      "contract as the CSV path") {
    import graft.io.Readers
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-jquarantine")
    java.nio.file.Files.writeString(tmp.resolve("in.json"),
      """{"id": 1, "qty": 10, "name": "alpha"}
        |{"id": 2, "qty": oops not json
        |{"id": 3, "qty": 30, "name": "gamma"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("qty", LongType), StructField("name", StringType)))
    val (cleanDf, quarDf) = Readers.jsonSplitQuarantine(spark, tmp.toString, schema)
    val clean = cleanDf.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(clean == Seq((1L, 10L, "alpha"), (3L, 30L, "gamma")))
    assert(cleanDf.columns.toSeq == Seq("id", "qty", "name"))
    val quarantined = quarDf.collect()
      .map(_.getAs[String]("_quarantine")).toSeq
    assert(quarantined == Seq("""{"id": 2, "qty": oops not json"""))
  }

  test("xml source/sink: rowTag elements parse against an explicit schema, " +
      "a mangled element lands in _quarantine with the same contract as " +
      "csv/json, and the xml sink round-trips a frame losslessly") {
    import graft.io.{Readers, Writers}
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-xquarantine")
    java.nio.file.Files.writeString(tmp.resolve("in.xml"),
      """<rows>
        |<row><id>1</id><qty>10</qty><name>alpha</name></row>
        |<row><id>2</id><qty>notanumber</qty><name>beta</name></row>
        |<row><id>3</id><qty>30</qty><name>gamma</name></row>
        |</rows>
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("qty", LongType), StructField("name", StringType)))
    val (cleanDf, quarDf) =
      Readers.xmlSplitQuarantine(spark, tmp.toString, "row", schema)
    val clean = cleanDf.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(clean == Seq((1L, 10L, "alpha"), (3L, 30L, "gamma")))
    assert(cleanDf.columns.toSeq == Seq("id", "qty", "name"))
    // the mangled element is captured for replay, not dropped or fatal
    val quarantined = quarDf.collect()
      .map(_.getAs[String]("_quarantine")).toSeq
    assert(quarantined.size == 1 && quarantined.head.contains("notanumber"),
      quarantined.mkString)
    // sink round trip: write a real table slice as XML, read it back with
    // the declared schema — row set must survive both codec directions
    val supCols = Seq("s_suppkey", "s_nationkey", "s_acctbal")
    val sup = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(supCols.map(org.apache.spark.sql.functions.col): _*)
    val out = tmp.resolve("sup_xml").toString
    Writers.xml(sup, out, rowTag = "supplier")
    val back = Readers.xml(spark, out, "supplier",
      org.apache.spark.sql.types.StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))))
    assert(back.count() == sup.count())
    assert(back.exceptAll(sup).isEmpty && sup.exceptAll(back).isEmpty)
  }

  test("xml codec string fidelity: markup escaping, unicode, newlines and " +
      "interior whitespace round-trip exactly; the leading/trailing-space " +
      "and empty-string edges are pinned to their documented lossiness") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val exact = Seq("a<b", "a&b", "x>y", "\"quoted\"", "it's",
      "tab\there", "line\nbreak", "ünïcødé ✓", "a]]>b",
      "pad  interior   runs", "<tag attr=\"v\"/>", "&amp; pre-escaped")
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("t", StringType)))
    def roundTrip(in: Seq[String]): Seq[(String, String)] =
      in.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
        .select(col("t"),
          from_xml(to_xml(struct(col("id"), col("t"))), sch)
            .getField("t").as("rt"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    roundTrip(exact).foreach { case (t, rt) =>
      assert(rt == t, s"xml codec must round-trip ${t.replace("\n", "\\n")} " +
        s"exactly, got ${Option(rt).map(_.replace("\n", "\\n"))}")
    }
    // the edges: pin what the codec actually does so the Readers scaladoc
    // can't drift from behavior — SURROUNDING whitespace is trimmed
    // (ignoreSurroundingSpaces defaults true in the Spark 4 XML source;
    // interior runs survive, see "pad  interior   runs" above), and the
    // empty string survives as empty, not null
    assert(roundTrip(Seq("", " ", "  padded  ")).map(_._2) ==
      Seq("", "", "padded"))
  }

  test("incrementalSync: initial load, upsert merge, and no-op delta") {
    import spark.implicits._
    val tgt = Files.createTempDirectory("graft-sync").toString + "/t"
    val v1 = Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L))
      .toDF("id", "val", "version")
    val r1 = ClonePipeline.incrementalSync(spark, v1, tgt, Seq("id"), "version")
    assert(r1.targetRows == 3 && r1.deltaRows == 3)
    // source evolves: id=2 updated (higher version), id=4 inserted,
    // id=1 unchanged (old version — must NOT be re-copied)
    val v2 = Seq((1L, "a", 10L), (2L, "B2", 20L), (3L, "c", 10L),
      (4L, "d", 20L)).toDF("id", "val", "version")
    val r2 = ClonePipeline.incrementalSync(spark, v2, tgt, Seq("id"), "version")
    assert(r2.deltaRows == 2, r2.toString) // only the two version-20 rows
    assert(r2.targetRows == 4)
    val got = spark.read.parquet(tgt).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "B2", 20L), (3L, "c", 10L),
      (4L, "d", 20L)))
    // idempotent: same source again ⇒ zero delta, target untouched
    val r3 = ClonePipeline.incrementalSync(spark, v2, tgt, Seq("id"), "version")
    assert(r3.deltaRows == 0 && r3.targetRows == 4)
  }

  test("incrementalSync into an existing empty target copies every source row") {
    import spark.implicits._
    val tgt = Files.createTempDirectory("graft-sync-empty").toString + "/t"
    val v1 = Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L))
      .toDF("id", "val", "version")
    v1.filter(lit(false)).write.parquet(tgt)
    // an empty target has no high-water mark: the whole source is the delta
    val r = ClonePipeline.incrementalSync(spark, v1, tgt, Seq("id"), "version")
    assert(r == ClonePipeline.SyncReport(3, 3, 3), r.toString)
    assert(spark.read.parquet(tgt).count() == 3)
  }

  test("incrementalSync into a target whose scheme is not the default " +
      "file system's") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${AltSchemeFileSystem.Scheme}.impl",
      classOf[AltSchemeFileSystem].getName)
    try {
      val tgt = s"${AltSchemeFileSystem.Scheme}://" +
        Files.createTempDirectory("graft-sync-alt").toString + "/t"
      val v1 = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("id", "val", "version")
      val v2 = Seq((1L, "a", 10L), (2L, "B2", 20L), (3L, "c", 20L))
        .toDF("id", "val", "version")
      // the initial load probes the target, the merge swaps it by renames
      assert(ClonePipeline.incrementalSync(spark, v1, tgt, Seq("id"), "version")
        == ClonePipeline.SyncReport(2, 2, 2))
      assert(ClonePipeline.incrementalSync(spark, v2, tgt, Seq("id"), "version")
        == ClonePipeline.SyncReport(3, 2, 3))
      assert(spark.read.parquet(tgt).orderBy("id").as[(Long, String, Long)]
        .collect().toSeq == Seq((1L, "a", 10L), (2L, "B2", 20L), (3L, "c", 20L)))
    } finally conf.unset(s"fs.${AltSchemeFileSystem.Scheme}.impl")
  }

  test("manifest build, compaction, the fingerprint store and the ivf " +
      "readout list files without building a LocatedFileStatus") {
    import graft.io.StatsManifest
    import graft.operators.{FingerprintStore, Ivf}
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val scheme = NoLocatedStatusFileSystem.Scheme
    conf.set(s"fs.$scheme.impl", classOf[NoLocatedStatusFileSystem].getName)
    try {
      val local = Files.createTempDirectory("graft-noloc").toString
      val root = s"$scheme://$local"
      def parquetCount(sub: String): Int = Files.walk(java.nio.file.Paths
        .get(local, sub)).iterator().asScala.count(_.toString.endsWith(".parquet"))
      Writers.rangeClustered(Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey"), s"$root/t", Seq("o_orderkey"),
        numFiles = 4)
      assert(StatsManifest.build(spark, s"$root/t", Seq("o_orderkey")).count()
        == parquetCount("t"))
      assert(Writers.compactParquet(spark, s"$root/t", s"$root/t1")
        == (parquetCount("t"), 1))
      val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
        .localCheckpoint()
      FingerprintStore.bootstrap(spark, media.filter(col("doc_id") % 4 =!= 0),
        s"$root/store")
      FingerprintStore.append(spark, media, s"$root/store")
      assert(FingerprintStore.ledger(spark, s"$root/store")
        .select("doc_id").distinct().count() == media.count())
      Ivf.bootstrapStore(spark, Tables.embeddings(spark, sfDir)
        .select("vec_id", "label", "embedding"), s"$root/ivf")
      assert(Ivf.describeStore(spark, s"$root/ivf").collect().map(_.getLong(6))
        .toSeq == Seq(parquetCount("ivf/v0/index").toLong))
    } finally conf.unset(s"fs.$scheme.impl")
  }

  test("bloom semi-filter: no false negatives, fp rate near design point") {
    import graft.operators.Scale
    val part = Tables.part(spark, sfDir).select(col("p_partkey"))
      .filter(col("p_partkey") % 7 === 0)
    val li = Tables.lineitem(spark, sfDir)
    val semi = li.join(part, li("l_partkey") === part("p_partkey"), "left_semi")
    val passed = Scale.bloomSemiFilter(li, "l_partkey", part, "p_partkey")
    // hard guarantee: every true match passes
    assert(semi.except(passed).isEmpty)
    // false positives bounded: ~1% design point at 10 bits/item
    val (nSemi, nPassed, total) = (semi.count(), passed.count(), li.count())
    val fp = if (total == nSemi) 0.0 else (nPassed - nSemi).toDouble / (total - nSemi)
    assert(fp <= 0.03, s"false-positive rate $fp")
  }

  test("count-min sketch: estimates bound every token and merge losslessly") {
    import org.apache.spark.util.sketch.CountMinSketch
    val toks = Tables.documents(spark, sfDir)
      .select(explode(graft.operators.LLMOps.tokens(col("text"))).as("token"))
    def sketchOf(df: org.apache.spark.sql.DataFrame): CountMinSketch =
      CountMinSketch.readFrom(new java.io.ByteArrayInputStream(
        df.agg(count_min_sketch(col("token"), lit(1e-4), lit(0.99), lit(42)).as("s"))
          .head().getAs[Array[Byte]](0)))
    val full = sketchOf(toks)
    val n = toks.count()
    val exact = toks.groupBy("token").agg(count(lit(1)).as("cnt")).collect()
    exact.foreach { r =>
      val est = full.estimateCount(r.getString(0))
      assert(est >= r.getLong(1), s"CMS undercounted ${r.getString(0)}")
      assert(est <= r.getLong(1) + (1e-4 * n).toLong + 1,
        s"CMS overshot bound for ${r.getString(0)}: $est vs ${r.getLong(1)}")
    }
    // incremental pattern: per-half sketches merged == full-pass estimates
    val h1 = sketchOf(Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0)
      .select(explode(graft.operators.LLMOps.tokens(col("text"))).as("token")))
    val h2 = sketchOf(Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1)
      .select(explode(graft.operators.LLMOps.tokens(col("text"))).as("token")))
    h1.mergeInPlace(h2)
    exact.take(50).foreach { r =>
      assert(h1.estimateCount(r.getString(0)) == full.estimateCount(r.getString(0)))
    }
  }

  test("merge: MERGE-semantics upsert — insert, update, tie, no-op, idempotent") {
    import spark.implicits._
    val target = Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L))
      .toDF("id", "val", "version")
    val updates = Seq(
      (2L, "B2", 20L), // higher version → update wins
      (3L, "C?", 10L), // equal version → updates side wins the tie
      (4L, "d", 5L),   // new key → insert (even with a lower version)
      (1L, "A?", 3L)   // lower version → target row survives
    ).toDF("id", "val", "version")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val once = ClonePipeline.merge(target, updates, Seq("id"), "version")
    assert(rows(once) == Seq((1L, "a", 10L), (2L, "B2", 20L),
      (3L, "C?", 10L), (4L, "d", 5L)))
    // idempotent: merging the same batch into the merged result is a no-op
    val twice = ClonePipeline.merge(once, updates, Seq("id"), "version")
    assert(rows(twice) == rows(once))
  }

  test("csv and json sinks round-trip through their readers") {
    import graft.io.{Readers, Writers}
    val tmp = java.nio.file.Files.createTempDirectory("graft-rt").toString
    val nation = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name", "n_regionkey")
    Writers.csv(nation, s"$tmp/nation_csv")
    val csvBack = Readers.csv(spark, s"$tmp/nation_csv")
      .selectExpr("CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey")
    assert(csvBack.orderBy("n_nationkey").collect()
      .sameElements(nation.orderBy("n_nationkey").collect()))
    Writers.json(nation, s"$tmp/nation_json")
    val jsonBack = Readers.json(spark, s"$tmp/nation_json")
      .select("n_nationkey", "n_name", "n_regionkey")
    assert(jsonBack.orderBy("n_nationkey").collect()
      .sameElements(nation.orderBy("n_nationkey").collect()))
  }

  test("first_equal_index: exact semantics and codegen") {
    import graft.functions.FirstEqualIndex
    import org.apache.spark.sql.graft.ColumnBridge
    def fe(a: Seq[Long], b: Seq[Long]): Long = {
      import spark.implicits._
      Seq((a, b)).toDF("a", "b")
        .select(ColumnBridge.column(FirstEqualIndex(
          ColumnBridge.expression(col("a")), ColumnBridge.expression(col("b")))))
        .head().getLong(0)
    }
    assert(fe(Seq(1L, 2L, 3L), Seq(9L, 2L, 3L)) == 2L) // first agreement wins
    assert(fe(Seq(1L, 2L), Seq(1L, 2L)) == 1L)
    assert(fe(Seq(1L, 2L), Seq(3L, 4L)) == 0L)          // never agree
    assert(fe(Seq.empty, Seq(1L)) == 0L)                 // length mismatch
    def fs(a: Seq[String], b: Seq[String]): Long = {
      import spark.implicits._
      Seq((a, b)).toDF("a", "b")
        .select(FirstEqualIndex(col("a"), col("b")))
        .head().getLong(0)
    }
    assert(fs(Seq("0:1", "1:2"), Seq("0:9", "1:2")) == 2L)
    assert(fs(Seq("x", "y"), Seq("x", "y")) == 1L)
    assert(fs(Seq("x", "y"), Seq("y", "x")) == 0L)
    assert(fs(Seq(null, "y"), Seq(null, "y")) == 2L)    // null agrees with nothing
    assert(fs(Seq("x"), Seq.empty) == 0L)
    // stays inside whole-stage codegen (range defeats constant folding)
    Seq(array(col("id")), array(col("id").cast("string"))).foreach { arr =>
      val f = spark.range(4)
        .select(ColumnBridge.column(FirstEqualIndex(
          ColumnBridge.expression(arr),
          ColumnBridge.expression(arr))).as("f"))
      assert(f.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.nonEmpty)
      assert(f.collect().forall(_.getLong(0) == 1L))
    }
  }

  test("orc source/sink round-trips with parity to parquet") {
    import graft.io.{Readers, Writers}
    val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val nation = Tables.nation(spark, sfDir)
    Writers.orc(nation, s"$tmp/nation_orc")
    val back = Readers.orc(spark, s"$tmp/nation_orc")
    assert(back.schema == nation.schema)
    assert(back.orderBy("n_nationkey").collect()
      .sameElements(nation.orderBy("n_nationkey").collect()))
    // columnar pushdown applies to orc like parquet
    val plan = back.filter(col("n_regionkey") === 1)
      .select("n_name").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,1)]"), plan)
  }

  test("partitioned write prunes partitions at read time") {
    import graft.io.Writers
    val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
    val events = Tables.events(spark, sfDir)
    Writers.partitionedParquet(events, s"$tmp/events_by_type", Seq("event_type"))
    val types = new java.io.File(s"$tmp/events_by_type")
      .listFiles().map(_.getName).filter(_.startsWith("event_type="))
    assert(types.length > 1, types.mkString(","))
    val one = spark.read.parquet(s"$tmp/events_by_type")
      .filter(col("event_type") === "click")
    val plan = one.queryExecution.executedPlan.toString
    // the filter lands in PartitionFilters (directory pruning), not in
    // PushedFilters (row-group pruning inside opened files)
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("""(?s).*PartitionFilters: \[([^\]]*)\].*""", "$1")
        .contains("event_type"), plan)
    assert(one.count() ==
      events.filter(col("event_type") === "click").count())
  }

  test("small-file compaction merges a fragmented directory without " +
      "changing its contents") {
    import graft.io.Writers
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val events = Tables.events(spark, sfDir)
    // simulate an ingest job's fragmentation: 64 tiny files
    events.repartition(64).write.parquet(s"$tmp/frag")
    val (before, after) = Writers.compactParquet(spark, s"$tmp/frag",
      s"$tmp/compact", targetFileBytes = 4L << 20)
    assert(before == 64)
    assert(after < 8, s"expected a handful of files, got $after")
    // contents identical (row multiset; compaction must not drop or dup)
    val a = spark.read.parquet(s"$tmp/frag").orderBy("event_id").collect()
    val b = spark.read.parquet(s"$tmp/compact").orderBy("event_id").collect()
    assert(a.sameElements(b))
    // coalesce path: the compaction plan contains no shuffle exchange
    val plan = spark.read.parquet(s"$tmp/frag").coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the walk goes through the Hadoop FileSystem API resolved from the
    // path's scheme (HDFS/S3-ready): an explicit file:-scheme URI must
    // behave identically to the bare path above
    val (beforeFs, afterFs) = Writers.compactParquet(spark,
      s"file:$tmp/frag", s"file:$tmp/compact_fs", targetFileBytes = 4L << 20)
    assert(beforeFs == 64 && afterFs == after, s"($beforeFs, $afterFs)")
    val c = spark.read.parquet(s"$tmp/compact_fs").orderBy("event_id").collect()
    assert(a.sameElements(c))
  }

  test("jpeg rows decode through the real image path with bounded lossy " +
      "error vs the lossless truth") {
    import spark.implicits._
    val dim = 16
    // same pixels, two encodings: png is the lossless truth, jpg the
    // JDK's real lossy codec (ImageIO encodes/decodes JPEG natively —
    // no oracle row because lossy decode isn't bit-reproducible in
    // another engine, per the multimodal oracle policy)
    val rows = (1L to 32L).map { id =>
      val w = 8 + (id % 12).toInt
      val h = 8 + ((id * 7) % 12).toInt
      (id, Multimodal.encodeImage(id, w, h, "png"),
        Multimodal.encodeImage(id, w, h, "jpg"), w, h)
    }
    val truth = rows.map { case (id, png, _, _, _) =>
      id -> Multimodal.decodeAndEmbedImage(png, dim).get }.toMap
    // jpeg rows flow through the DISTRIBUTED feature extract, same as
    // png/bmp/wav/mp4 corpus rows
    val media = rows.toDF("doc_id", "png", "blob", "width", "height")
      .select(col("doc_id"), col("blob"),
        struct(lit("jpeg").as("format"), col("width"), col("height"),
          lit(1).as("n_frames")).as("meta"))
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    assert(feats.keySet == truth.keySet)
    rows.foreach { case (id, _, jpg, w, h) =>
      val f = feats(id)
      // the REAL decoder produced these, not the quarantine byte fold
      assert(!f.toArray.sameElements(Multimodal.byteFoldFallback(jpg, dim)))
      val t = truth(id)
      // lossy-bounded: cosine vs the lossless-truth features stays high
      // and per-bucket error stays a fraction of the bucket scale
      val dot = f.zip(t).map { case (a, b) => a.toDouble * b }.sum
      val cos = dot / (math.sqrt(f.map(x => x.toDouble * x).sum) *
        math.sqrt(t.map(x => x.toDouble * x).sum))
      assert(cos > 0.95, s"doc $id cosine $cos")
      val scale = (w * h).toDouble / dim // pixels per bucket (lum <= 1 each)
      val maxErr = f.zip(t).map { case (a, b) => math.abs(a - b) }.max
      assert(maxErr < 0.30 * scale, s"doc $id maxErr $maxErr scale $scale")
    }
  }

  test("minhash snapshot store: batch appends are exactly-once under " +
      "crash replay, self-allocated tags use the manual namespace, " +
      "compact folds files without changing the band set, and vacuum " +
      "forgets a doc's band keys") {
    import graft.operators.MinhashSnapshot
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .localCheckpoint()
    val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val dir = java.nio.file.Files.createTempDirectory("graft-mhs").toString
    val ref = java.nio.file.Files.createTempDirectory("graft-mhs-ref").toString
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    MinhashSnapshot.bootstrap(spark, docs, ref) // the expected end state
    def bandSet(d: String) = MinhashSnapshot.bands(spark, d)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).mkString(" ")))
      .sorted.toSeq
    val want = bandSet(ref)

    MinhashSnapshot.bootstrap(spark,
      docs.filter(col("doc_id") < n / 2), dir)
    MinhashSnapshot.append(spark,
      docs.filter(col("doc_id") >= n / 2), dir, batchId = 7L)
    assert(bandSet(dir) == want, "append must equal the rebuild")
    // CRASH SHAPE 1 — some of the batch's files landed, flag lost:
    // replay deletes the remnants and rewrites, never duplicates (the
    // bare mode-append snapshot this store replaced stacked a second
    // copy of every band key here)
    fs.delete(new Path(s"$dir/_batch-7"), false)
    val rem = fs.globStatus(new Path(s"$dir/band_keys/batch7-*"))
    assert(rem.nonEmpty)
    fs.delete(rem.head.getPath, false) // half-landed: drop one file
    MinhashSnapshot.append(spark,
      docs.filter(col("doc_id") >= n / 2), dir, batchId = 7L)
    assert(bandSet(dir) == want,
      "a half-landed batch must rewrite on replay, not duplicate")
    // CRASH SHAPE 2 — everything landed, flag lost
    fs.delete(new Path(s"$dir/_batch-7"), false)
    MinhashSnapshot.append(spark,
      docs.filter(col("doc_id") >= n / 2), dir, batchId = 7L)
    assert(bandSet(dir) == want)
    // COMMITTED batch replayed: a no-op even with different rows
    MinhashSnapshot.append(spark, docs.limit(3), dir, batchId = 7L)
    assert(bandSet(dir) == want)
    // self-allocating appends draw MANUAL tags — disjoint from stream
    // ids by construction (the BatchStore namespace contract)
    MinhashSnapshot.append(spark, docs.limit(0), dir)
    assert(fs.exists(new Path(s"$dir/_batch-m0")))
    // COMPACT: pre-planned readers survive the swap; the band set and
    // the committed view are unchanged; file sprawl folds
    val preplanned = MinhashSnapshot.bands(spark, dir)
    val filesBefore = MinhashSnapshot.dataFileCount(spark, dir)
    MinhashSnapshot.compact(spark, dir)
    assert(bandSet(dir) == want, "compact must not move a row")
    assert(MinhashSnapshot.dataFileCount(spark, dir) < filesBefore)
    assert(preplanned.collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).mkString(" "))).sorted.toSeq == want,
      "a reader planned before the compact must materialize after it")
    assert(MinhashSnapshot.batchCommitted(spark, dir, 7L),
      "rollup must keep committed batches committed")
    // VACUUM: a forgotten doc's band keys leave the snapshot (derived
    // PII under right-to-be-forgotten); survivors are untouched
    val victim = n - 1
    val stats = MinhashSnapshot.vacuum(spark, dir,
      docs.filter(col("doc_id") =!= victim))
    assert(stats.droppedRows > 0)
    assert(bandSet(dir) == want.filterNot(_._1 == victim))
    // recover on a clean store is a no-op
    assert(!MinhashSnapshot.recover(spark, dir))
    // RE-SEED drops stale batch history: a new stream with a fresh
    // checkpoint restarts ids at 0 — kept flags would silently no-op
    // its first batches (pairs never written, bands never landed)
    MinhashSnapshot.bootstrap(spark, docs.limit(0), dir)
    assert(!MinhashSnapshot.batchCommitted(spark, dir, 7L),
      "bootstrap must start history fresh")
    assert(MinhashSnapshot.bands(spark, dir).isEmpty)
    // OLD LAYOUT — exploded (doc_id, band_key) rows in bands/, no
    // band_keys/: refused with a re-bootstrap message, and bootstrap
    // over it replaces the layout
    val old = java.nio.file.Files.createTempDirectory("graft-mhs-old").toString
    import spark.implicits._
    Seq((1L, "0:1:2:3:4")).toDF("doc_id", "band_key").write.parquet(s"$old/bands")
    def refused(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains("re-bootstrap"), e.getMessage)
    }
    refused(MinhashSnapshot.append(spark, docs.limit(3), old))
    refused(MinhashSnapshot.bands(spark, old))
    refused(MinhashSnapshot.compact(spark, old))
    refused(MinhashSnapshot.vacuum(spark, old, docs))
    MinhashSnapshot.bootstrap(spark, docs, old)
    assert(!fs.exists(new Path(s"$old/bands")), "bands/ survived bootstrap")
    assert(bandSet(old) == want)
  }

  test("delta dedup: new batch vs stored snapshot equals full recompute; " +
      "history is never re-shingled") {
    import graft.operators.LLMOps
    val docs = Tables.documents(spark, sfDir)
    val cutoff = math.floor(
      (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 0.8).toLong
    val tmp = java.nio.file.Files.createTempDirectory("graft-l40").toString
    graft.operators.MinhashSnapshot.bootstrap(spark,
      docs.filter(col("doc_id") < cutoff), s"$tmp/snap")
    val delta = LLMOps.deltaDedupCandidates(spark,
      docs.filter(col("doc_id") >= cutoff), s"$tmp/snap")
      .orderBy("doc_a", "doc_b")
    // semantics: exactly the full-corpus candidates touching the new batch
    val d = delta.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val f = LLMOps.minhashCandidates(LLMOps.shingleSets(spark, sfDir))
      .filter(col("doc_a") >= cutoff || col("doc_b") >= cutoff)
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(d == f)
    // plan pins. The batch's bands are localCheckpointed inside
    // deltaDedupCandidates (one shingle pass, not two), so the candidate
    // plan must contain NO documents scan AT ALL — document text is read
    // exactly once, at band-build time — while history's band keys come
    // from exactly one scan of the stored snapshot.
    val plan = delta.queryExecution.executedPlan
    assert(fileScans(plan, "documents.parquet").isEmpty,
      "candidate plan re-reads document text")
    assert(fileScans(plan, "snap").size == 1)
    // and the band-build expression the operator checkpoints carries the
    // new-batch pushed filter: history text is never shingled
    val bandPlan = LLMOps.minhashBandKeys(LLMOps.shingleSetsOf(
        docs.filter(col("doc_id") >= cutoff)))
      .queryExecution.executedPlan
    val docScans = fileScans(bandPlan, "documents.parquet")
    assert(docScans.nonEmpty)
    docScans.foreach { sc =>
      val pf = sc.metadata("PushedFilters")
      assert(pf.contains(s"GreaterThanOrEqual(doc_id,$cutoff)"), pf)
    }
  }

  test("dynamic partition pruning fires on a dim-filtered join against a " +
      "partitioned fact") {
    import graft.io.Writers
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val events = Tables.events(spark, sfDir)
    Writers.partitionedParquet(events, s"$tmp/events_pt", Seq("event_type"))
    val fact = spark.read.parquet(s"$tmp/events_pt")
    // the partition filter is NOT static: it comes out of the dim filter
    // at runtime, so only dynamic pruning can skip the fact directories.
    // The dim must be a real source (a local Seq constant-folds the filter
    // into a LocalTableScan and DPP's selective-predicate check sees none)
    Seq(("click", "engage"), ("view", "engage"),
      ("purchase", "convert"), ("signup", "convert"), ("error", "ops"))
      .toDF("event_type", "category").write.parquet(s"$tmp/dim")
    val dim = spark.read.parquet(s"$tmp/dim")
    val joined = fact.join(broadcast(dim.filter($"category" === "ops")), "event_type")
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruningexpression"),
      s"no DPP subquery in plan:\n$planStr")
    // execute through the SAME DataFrame (AQE finalizes on it) and read
    // the fact scan's runtime metrics: only the matching directory is read
    val rows = joined.collect()
    assert(rows.length ==
      events.filter(col("event_type") === "error").count().toInt)
    val scan = fileScans(joined.queryExecution.executedPlan, "events_pt").head
    val nPartitions = new java.io.File(s"$tmp/events_pt")
      .listFiles().count(_.getName.startsWith("event_type="))
    assert(nPartitions > 1)
    assert(scan.metrics("numPartitions").value == 1,
      s"DPP read ${scan.metrics("numPartitions").value} of $nPartitions partitions")
  }

  test("cached token postings tokenize the corpus once across qL35's " +
      "three consumers, with identical results") {
    import graft.operators.LLMOps
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.documents(spark, sfDir)
    // baseline BEFORE persisting: Spark substitutes a cached plan into any
    // query containing the matching subtree, so the uncached scan count
    // must be measured while no postings cache exists
    val base = LLMOps.qL35(spark, sfDir)
    val baseRows = base.collect().toSeq
    // both pair sides + the marginals + the N aggregate each scan documents
    assert(fileScans(base.queryExecution.executedPlan, "documents.parquet").size == 4)
    val posts = LLMOps.tokenPostings(docs).persist(MEMORY_AND_DISK)
    try {
      val cached = LLMOps.qL35(spark, sfDir, postings = Some(posts))
      assert(cached.collect().toSeq == baseRows)
      // cached: only the N aggregate reads the file — the three postings
      // consumers read the in-memory postings
      assert(fileScans(cached.queryExecution.executedPlan, "documents.parquet").size == 1)
      // shingle twin: qL27 over a persisted postings frame matches default
      val l27Base = LLMOps.qL27(spark, sfDir).collect().toSeq
      val sposts = LLMOps.shinglePostings(docs).persist(MEMORY_AND_DISK)
      try {
        assert(LLMOps.qL27(spark, sfDir, postings = Some(sposts)).collect().toSeq ==
          l27Base)
      } finally sposts.unpersist()
    } finally posts.unpersist()
  }

  test("cosineSafe ranks zero-norm vectors last instead of NaN-first") {
    import spark.implicits._
    import graft.operators.Similarity
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f)), // zero vector: raw cosine is NaN
      (3L, Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("q_emb")
    val ranked = df.crossJoin(q)
      .select(col("vec_id"), Similarity.cosineSafe(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(ranked.last == 2L, s"zero vector not ranked last: $ranked")
  }

  test("annLshVec is annLsh's probe twin: for a corpus-drawn query the " +
      "embedding-keyed variant returns the self row first and then " +
      "exactly the vec_id-keyed ranking") {
    import graft.operators.Similarity
    val q0 = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    val viaVec = Similarity.annLshVec(spark, sfDir, q0, k = 11,
      bits = 6, tables = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaVec.head._1 == 0L && viaVec.head._2 > 0.999999,
      s"self must rank first: ${viaVec.head}")
    val viaId = Similarity.annLsh(spark, sfDir, k = 10,
      bits = 6, tables = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaVec.tail == viaId,
      "probe twin must rank the identical candidate set identically")
  }

  test("full-text AND search tolerates duplicate/case-colliding query terms") {
    import graft.operators.FullText
    val idx = FullText.invertedIndex(Tables.documents(spark, sfDir))
    val once = FullText.searchAll(idx, Seq("the")).count()
    val duped = FullText.searchAll(idx, Seq("The", "the", "THE")).count()
    assert(once > 0 && duped == once)
  }

  test("profiler: one row per column with consistent counts") {
    import graft.operators.Profiler
    val nation = Tables.nation(spark, sfDir)
    val prof = Profiler.profile(nation).collect()
    assert(prof.length == nation.schema.fields.length)
    val byCol = prof.map(r => r.getAs[String]("column") -> r).toMap
    assert(byCol("n_nationkey").getAs[Long]("row_count") == 25L)
    assert(byCol("n_nationkey").getAs[Long]("null_count") == 0L)
    // numerics render via DECIMAL(38,2) so the string is engine-portable
    assert(byCol("n_nationkey").getAs[String]("min_value") == "0.00")
    assert(byCol("n_nationkey").getAs[String]("max_value") == "24.00")
    assert(byCol("n_nationkey").getAs[Long]("approx_distinct") > 20L)
    assert(byCol("n_name").getAs[Any]("mean") == null) // non-numeric
  }

  test("profiler: HLL estimate within bound of exact distinct on every column") {
    import graft.operators.Profiler
    val ok = Profiler.distinctBounds(Tables.nation(spark, sfDir)).collect()
    assert(ok.length == Tables.nation(spark, sfDir).schema.fields.length)
    assert(ok.forall(_.getAs[Boolean]("within_bound")))
  }

  test("multimodal: known 2x2 PNG decodes to exact expected features") {
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // red
    img.setRGB(1, 0, 0x00ff00) // green
    img.setRGB(0, 1, 0x0000ff) // blue
    img.setRGB(1, 1, 0xffffff) // white
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val feats = Multimodal.decodeAndEmbedImage(bos.toByteArray, dim = 4).get
    val third = (255 / 765.0).toFloat
    assert(feats.toSeq == Seq(third, third, third, 1f))
    // same bytes folded into fewer buckets: integer pixel sums accumulate
    // before the single division (red+blue=510, green+white=1020)
    val two = Multimodal.decodeAndEmbedImage(bos.toByteArray, dim = 2).get
    assert(two.toSeq == Seq((510 / 765.0).toFloat, (1020 / 765.0).toFloat))
  }

  test("multimodal: imageNearDupPairs pairs constructed near-identical " +
      "images via the banded Hamming join and compares nothing else") {
    import spark.implicits._
    def png(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def grey(v: Int): Int = (v << 16) | (v << 8) | v
    // A: a left-to-right brightness ramp — every dHash gradient bit is 1
    val a = png(36, 32)((x, _) => grey(x * 7))
    // B: the same ramp with ONE sampled cell (gx=3 → sx=12, gy=0 → sy=0)
    // darkened enough to flip exactly the (y=0, x=2→3) comparison —
    // a near-identical image, Hamming distance 1
    val b = png(36, 32)((x, y) =>
      if (x == 12 && y == 0) grey(0) else grey(x * 7))
    // C: the reversed ramp — every gradient bit 0, Hamming 64 from A;
    // shares NO 8-bit band with A/B, so the join never even compares it
    val c = png(36, 32)((x, _) => grey((35 - x) * 7))
    assert(java.lang.Long.bitCount(
      Multimodal.dHashOf(a).get ^ Multimodal.dHashOf(b).get) == 1)
    assert(java.lang.Long.bitCount(
      Multimodal.dHashOf(a).get ^ Multimodal.dHashOf(c).get) == 64)
    val media = Seq((1L, a), (2L, b), (3L, c))
      .toDF("doc_id", "blob")
      .withColumn("meta", struct(lit("png").as("format"),
        lit(36).as("width"), lit(32).as("height"), lit(1).as("n_frames")))
    val pairs = Multimodal.imageNearDupPairs(spark, media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1)))
    // an undecodable blob is dropped (quarantine policy), never hashed
    val corrupt = media.unionByName(Seq((4L, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "blob")
      .withColumn("meta", struct(lit("png").as("format"),
        lit(1).as("width"), lit(1).as("height"), lit(1).as("n_frames"))))
    assert(Multimodal.imageDHash(spark, corrupt).count() == 3)
  }

  test("multimodal: audioNearDupPairs pairs a lightly edited clip with its " +
      "original via the 32-bit banded Hamming join; unrelated audio stays out") {
    import spark.implicits._
    // A: a clip with a deterministic loudness ramp (frame energies
    // strictly increasing -> all 32 gradient bits set); B: the same clip
    // with ONE frame's samples attenuated — a light edit flipping two
    // adjacent gradient signs... keep it to one boundary: amplify frame 0
    // slightly so only bit 0 flips; C: the reversed ramp (all bits 0)
    val n = 330 // 10 samples per frame
    def wav(amp: Int => Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(n * 2)
      (0 until n).foreach(i => bb.putShort(amp(i).toShort))
      bb.array()
    }
    val a = wav(i => 100 * (i * 33 / n) + 100) // frame f energy ~ f
    // B: frame 0 boosted past frame 1's energy — exactly bit 0 flips
    val b = wav(i => if (i * 33 / n == 0) 350 else 100 * (i * 33 / n) + 100)
    val c = wav(i => 100 * (32 - i * 33 / n) + 100)
    assert(java.lang.Long.bitCount(
      Multimodal.audioFingerprintOf(a).get ^
        Multimodal.audioFingerprintOf(b).get) == 1)
    assert(java.lang.Long.bitCount(
      Multimodal.audioFingerprintOf(a).get ^
        Multimodal.audioFingerprintOf(c).get) == 32)
    val media = Seq((1L, a), (2L, b), (3L, c))
      .toDF("doc_id", "blob")
      .withColumn("meta", struct(lit("wav").as("format"),
        lit(0).as("width"), lit(0).as("height"), lit(1).as("n_frames")))
    val pairs = Multimodal.audioNearDupPairs(spark, media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1)))
    // a fingerprint width the 8-bit banding can't split fails AT THE API
    // BOUNDARY with the banding constraint named (r14 advice: bits=50
    // used to surface downstream as a confusing hashBits error)
    val bad = intercept[IllegalArgumentException](
      Multimodal.audioNearDupPairs(spark, media, bits = 50))
    assert(bad.getMessage.contains("multiple of 8"), bad.getMessage)
  }

  test("hammingNearDupPairs has FULL recall vs brute force on randomized " +
      "hash sets, at both 64-bit/8-band and 32-bit/4-band configs") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    Seq((64, 7), (32, 3)).foreach { case (bits, maxH) =>
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      // random hashes plus planted near-pairs: flip <= maxH random bits
      val base = (0 until 40).map(i => (i.toLong, rnd.nextLong() & mask))
      val planted = (0 until 15).map { k =>
        val (srcId, h) = base(rnd.nextInt(base.size))
        var p = h
        (0 until rnd.nextInt(maxH + 1)).foreach(_ =>
          p ^= (1L << rnd.nextInt(bits)))
        (100L + k, p, srcId)
      }
      val rows = base ++ planted.map(t => (t._1, t._2))
      val brute = (for {
        (ia, ha) <- rows; (ib, hb) <- rows
        if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= maxH
      } yield (ia, ib)).toSet
      val got = graft.operators.Multimodal.hammingNearDupPairs(
          rows.toDF("doc_id", "h"), "h", bits, maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute && brute.nonEmpty,
        s"bits=$bits maxH=$maxH: got ${got.size}, brute ${brute.size}")
    }
  }

  test("multimodal: videoNearDupPairs pairs a spliced-frame edit with its " +
      "original by frame-hash Jaccard; unrelated videos share no frame") {
    import spark.implicits._
    val a = Multimodal.encodeMp4(7L, 20)
    // B: byte-identical container with ONE frame slot replaced by a frame
    // from a different stream — a single-frame edit: 19 of 20 frame
    // hashes survive, J = 19/21
    val donor = Multimodal.encodeMp4(8L, 1)
    val b = a.clone()
    val slotOff = Multimodal.Mp4HeaderLen + 5 * Multimodal.Mp4FrameSize
    System.arraycopy(donor, Multimodal.Mp4HeaderLen, b, slotOff,
      Multimodal.Mp4FrameSize)
    val c = Multimodal.encodeMp4(99L, 20) // unrelated
    val hsA = Multimodal.videoFrameDHashes(a).get
    val hsB = Multimodal.videoFrameDHashes(b).get
    assert(hsA.length == 20 && hsB.length == 20)
    assert(hsA.zip(hsB).count { case (x, y) => x != y } == 1)
    val media = Seq((1L, a), (2L, b), (3L, c))
      .toDF("doc_id", "blob")
      .withColumn("meta", struct(lit("mp4").as("format"),
        lit(4).as("width"), lit(3).as("height"), lit(20).as("n_frames")))
    val pairs = Multimodal.videoNearDupPairs(spark, media, minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 1)
    val (da, db, j) = pairs.head
    assert(da == 1L && db == 2L && math.abs(j - 19.0 / 21.0) < 1e-9, s"$pairs")
  }

  test("binaryFile media ingestion: a directory tree of raw wav/png/mp4 " +
      "files feeds every decode operator exactly like the parquet " +
      "fixture, the glob prunes the listing, and doc_ids are stable " +
      "across re-ingestion") {
    import graft.io.Readers
    val dir = java.nio.file.Files.createTempDirectory("graft-binmedia")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("shard0"))
    def put(p: java.nio.file.Path, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(p, bytes)
    put(dir.resolve("a.wav"), Multimodal.encodeWav(3L, 300))
    put(sub.resolve("b.wav"), Multimodal.encodeWav(4L, 250))
    put(dir.resolve("c.png"), Multimodal.encodeImage(5L, 6, 5, "png"))
    put(sub.resolve("d.mp4"), Multimodal.encodeMp4(6L, 4))
    put(dir.resolve("junk.txt"), "not media".getBytes("UTF-8"))
    val media = Readers.binaryMedia(spark, dir.toString)
    assert(media.count() == 5) // the txt row ingests; no decoder claims it
    // each decode operator routes by meta.format and produces the same
    // digest as the direct per-blob kernel — disk → binaryFile source →
    // operator equals the in-memory path end-to-end
    val afp = Multimodal.audioFingerprint(spark, media).collect()
    assert(afp.map(_.getLong(1)).toSet == Set(
      Multimodal.audioFingerprintOf(Multimodal.encodeWav(3L, 300)).get,
      Multimodal.audioFingerprintOf(Multimodal.encodeWav(4L, 250)).get))
    val dh = Multimodal.imageDHash(spark, media).collect()
    assert(dh.length == 1 &&
      dh.head.getLong(1) ==
        Multimodal.dHashOf(Multimodal.encodeImage(5L, 6, 5, "png")).get)
    val vf = Multimodal.videoFrameDHash(spark, media).collect()
    assert(vf.map(_.getLong(2)).toSeq.sorted ==
      Multimodal.videoFrameDHashes(Multimodal.encodeMp4(6L, 4)).get.toSeq.sorted)
    // the glob prunes at the LISTING: only wav files enter the scan
    assert(Readers.binaryMedia(spark, dir.toString, Some("*.wav")).count() == 2)
    // deterministic identity: re-ingesting the same tree yields the same ids
    val ids1 = media.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Readers.binaryMedia(spark, dir.toString)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2 && ids1.distinct.size == 5)
    // raw text corpus source: per-line and per-file shapes
    assert(Readers.text(spark, dir.resolve("junk.txt").toString).count() == 1)
    assert(Readers.text(spark, dir.resolve("junk.txt").toString,
      wholetext = true).head().getString(0) == "not media")
    // meta dims are PROBED from headers (r15, closing the r14 zeroed-dims
    // nit): PNG IHDR / mp4 stsz + first-frame IHDR carry the REAL
    // encoded dims; wav and unparseable payloads probe to the honest 0
    val metas = media.select(col("meta.format"), col("meta.width"),
        col("meta.height"), col("meta.n_frames"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).toSet
    assert(metas == Set(
      ("wav", 0, 0, 0), ("png", 6, 5, 1),
      ("mp4", Multimodal.Mp4FrameW, Multimodal.Mp4FrameH, 4),
      ("txt", 0, 0, 0)), metas.toString)
    // a BMP payload probes its little-endian info-header dims
    put(dir.resolve("e.bmp"), Multimodal.encodeImage(7L, 9, 4, "bmp"))
    val bm = Readers.binaryMedia(spark, dir.toString, Some("*.bmp"))
      .select(col("meta.width"), col("meta.height"), col("meta.n_frames"))
      .head()
    assert((bm.getInt(0), bm.getInt(1), bm.getInt(2)) == ((9, 4, 1)))
    // idFromStem: numeric filenames become the doc_id — the ingestion
    // shape of a corpus whose ids were assigned upstream (q_mm09)
    put(sub.resolve("12345.wav"), Multimodal.encodeWav(9L, 100))
    val stemmed = Readers.binaryMedia(spark, dir.toString,
      Some("12345.wav"), idFromStem = true)
    assert(stemmed.select("doc_id").head().getLong(0) == 12345L)
  }

  test("multimodal: audio fingerprint width is an operating point — a " +
      "within-frame permutation collides at 32 bits and separates at 48, " +
      "and a genuine edit still pairs at the wider width") {
    import spark.implicits._
    // B permutes samples WITHIN each of A's 33 equal frames (rotate by
    // one inside each 30-sample block): the 33 frame |amplitude| sums
    // are unchanged, so the 32-bit gradient fingerprint collides
    // EXACTLY — the aliasing a 10M-clip corpus hits by birthday — while
    // the 49-frame grid of the 48-bit fingerprint cuts across the
    // rotation and separates the pair
    val n = 990 // 33 frames of exactly 30 samples
    val a = Array.tabulate(n)(Multimodal.syntheticSample(5L, _))
    val b = new Array[Int](n)
    (0 until 33).foreach { f =>
      val lo = f * 30
      (0 until 30).foreach(j => b(lo + (j + 1) % 30) = a(lo + j))
    }
    val blobA = Multimodal.encodeWavSamples(a)
    val blobB = Multimodal.encodeWavSamples(b)
    assert(Multimodal.audioFingerprintOf(blobA).get ==
      Multimodal.audioFingerprintOf(blobB).get,
      "within-frame permutation must collide at the default width")
    assert(Multimodal.audioFingerprintOf(blobA, bits = 48).get !=
      Multimodal.audioFingerprintOf(blobB, bits = 48).get,
      "the 48-bit grid must separate the permuted clip")
    // a real near-dup (leading-silence edit) still pairs at 48 bits
    val edit = a.clone(); (0 until 16).foreach(edit(_) = 0)
    val media = Seq((1L, blobA), (2L, blobB),
        (3L, Multimodal.encodeWavSamples(edit)))
      .toDF("doc_id", "blob")
      .withColumn("meta", struct(lit("wav").as("format"),
        lit(0).as("width"), lit(0).as("height"), lit(0).as("n_frames")))
    val at32 = Multimodal.audioNearDupPairs(spark, media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val at48 = Multimodal.audioNearDupPairs(spark, media, bits = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at32.contains((1L, 2L)), s"32-bit alias pair must surface: $at32")
    assert(!at48.contains((1L, 2L)),
      s"48 bits must drop the aliased pair: $at48")
    assert(at48.contains((1L, 3L)),
      s"the genuine edit must survive the widening: $at48")
  }

  test("multimodal planted twins: trimLastFrame remuxes byte-identically " +
      "to the shorter encode, and the wav silence twin moves the " +
      "fingerprint at most 2 bits") {
    // the q_mm08 oracle regenerates twin postings as frames 0..F-2 of
    // the SAME chain — valid only if the trim remux equals the shorter
    // encoder output byte for byte
    val full = Multimodal.encodeMp4(42L, 7)
    val trimmed = Multimodal.trimLastFrame(full).get
    assert(java.util.Arrays.equals(trimmed, Multimodal.encodeMp4(42L, 6)),
      "trim remux must equal the shorter encode byte-identically")
    assert(Multimodal.trimLastFrame(Multimodal.encodeMp4(42L, 1)).isEmpty,
      "a single-frame payload has no trimmable twin")
    // audio: the leading-silence mutation touches only the first frame
    // energies — the twin stays within the Hamming-3 serving threshold
    val orig = Multimodal.encodeWav(42L, 400)
    val ss = Multimodal.decodeWav(orig).get
    (0 until Multimodal.AudioTwinSilence).foreach(ss(_) = 0)
    val twinFp = Multimodal.audioFingerprintOf(
      Multimodal.encodeWavSamples(ss)).get
    val origFp = Multimodal.audioFingerprintOf(orig).get
    assert(java.lang.Long.bitCount(twinFp ^ origFp) <= 2,
      s"silence edit moved the fingerprint too far: $origFp vs $twinFp")
  }

  test("fingerprint store: append equals rebuild across all three " +
      "catalogs, overlapping ids never re-decode, corrupt payloads " +
      "quarantine once, and the store-served near-dup joins match the " +
      "decode path exactly") {
    import graft.operators.FingerprintStore
    val corpus = Multimodal.withMedia(Tables.documents(spark, sfDir))
    val media = corpus
      .unionByName(Multimodal.plantAudioTwins(spark, corpus))
      .unionByName(Multimodal.plantVideoTwins(spark, corpus))
      .localCheckpoint() // one fixture materialization for the whole spec
    val half = media.filter(col("doc_id") % 2 === 0)
    val rest = media.filter(col("doc_id") % 2 =!= 0)

    def catalogs(d: String): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      FingerprintStore.imageHashes(spark, d).orderBy("doc_id"),
      FingerprintStore.audioFingerprints(spark, d).orderBy("doc_id"),
      FingerprintStore.videoPostings(spark, d).orderBy("doc_id", "frame"))
      .map(_.collect().toSeq)

    // APPEND-EQUALS-REBUILD: bootstrap(half) + append(rest) lands on the
    // identical catalogs as a from-scratch bootstrap over everything
    val inc = java.nio.file.Files.createTempDirectory("graft-fps-inc").toString
    val full = java.nio.file.Files.createTempDirectory("graft-fps-full").toString
    FingerprintStore.bootstrap(spark, half, inc)
    FingerprintStore.append(spark, rest, inc)
    FingerprintStore.bootstrap(spark, media, full)
    assert(catalogs(inc) == catalogs(full))
    assert(FingerprintStore.ledger(spark, inc).count() == media.count())

    // OVERLAP IS NEVER RE-DECODED: re-append already-seen ids carrying
    // DIFFERENT payloads — if append decoded (or stored) them, the
    // fingerprints would move / duplicate; the ledger must block at the
    // ids-only anti-join
    val mutated = rest.withColumn("blob",
      concat(col("blob"), col("blob"))) // same ids, different bytes
    FingerprintStore.append(spark, mutated, inc)
    assert(catalogs(inc) == catalogs(full),
      "an overlapping append must be a no-op on the catalogs")
    assert(FingerprintStore.ledger(spark, inc).count() == media.count())

    // CORRUPT PAYLOAD QUARANTINE: a new id whose bytes fail the claimed
    // format's decoder lands in the ledger decoded=false with no
    // fingerprint — and a LATER append of the same id (even with now-
    // valid bytes) is blocked, so the decode is attempted exactly once
    import spark.implicits._
    val badId = 99000001L
    val bad = Seq((badId, Array.fill[Byte](64)(7)))
      .toDF("doc_id", "blob")
      .withColumn("meta", struct(lit("wav").as("format"),
        lit(0).as("width"), lit(0).as("height"), lit(0).as("n_frames")))
    FingerprintStore.append(spark, bad, inc)
    val l = FingerprintStore.ledger(spark, inc)
      .filter(col("doc_id") === badId).collect()
    assert(l.length == 1 && !l.head.getAs[Boolean]("decoded"))
    assert(FingerprintStore.audioFingerprints(spark, inc)
      .filter(col("doc_id") === badId).isEmpty)
    val fixed = bad.withColumn("blob",
      typedLit(Multimodal.encodeWav(badId, 200)))
    FingerprintStore.append(spark, fixed, inc)
    assert(FingerprintStore.audioFingerprints(spark, inc)
      .filter(col("doc_id") === badId).isEmpty,
      "a quarantined id must not re-decode on a later append")

    // STORE-SERVED JOIN PARITY: the three near-dup joins read persisted
    // digests yet must land on the decode path's exact pair sets (the
    // q_mm07/q_mm08 workloads, served with zero decode work)
    assert(FingerprintStore.audioNearDupPairs(spark, full).collect()
      .sameElements(Multimodal.audioNearDupPairs(spark, media).collect()))
    assert(FingerprintStore.videoNearDupPairs(spark, full).collect()
      .sameElements(Multimodal.videoNearDupPairs(spark, media).collect()))
    assert(FingerprintStore.imageNearDupPairs(spark, full).collect()
      .sameElements(Multimodal.imageNearDupPairs(spark, media).collect()))
    // and the served plans carry no blob column anywhere
    val served = FingerprintStore.videoNearDupPairs(spark, full)
      .queryExecution.executedPlan.toString
    assert(!served.contains("blob"), served)
  }

  test("fingerprint store append replay is exactly-once: a crash at any " +
      "point inside a batch — catalogs landed without the ledger, or " +
      "everything landed without the flag — rewrites on retry instead " +
      "of duplicating, and a flagged batch replays as a no-op") {
    import graft.operators.FingerprintStore
    import org.apache.hadoop.fs.Path
    val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
      .localCheckpoint()
    val half = media.filter(col("doc_id") % 2 === 0)
    val rest = media.filter(col("doc_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-fps-rep").toString
    val ref = java.nio.file.Files.createTempDirectory("graft-fps-ref").toString
    FingerprintStore.bootstrap(spark, media, ref) // the expected end state
    def catalogs(d: String): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      FingerprintStore.imageHashes(spark, d).orderBy("doc_id"),
      FingerprintStore.audioFingerprints(spark, d).orderBy("doc_id"),
      FingerprintStore.videoPostings(spark, d).orderBy("doc_id", "frame"),
      FingerprintStore.ledger(spark, d).orderBy("doc_id"))
      .map(_.collect().toSeq)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    FingerprintStore.bootstrap(spark, half, dir)
    FingerprintStore.append(spark, rest, dir, batchId = 7L)
    // CRASH SHAPE 1 — some of the batch's digests files landed, flag
    // lost (the r15 duplicate window): reconstruct it by deleting the
    // flag and all but the first of the batch's files, then replay
    fs.delete(new Path(s"$dir/_batch-7"), false)
    val landed = fs.globStatus(new Path(s"$dir/digests/batch7-*"))
      .map(_.getPath).sortBy(_.getName)
    assert(landed.length > 1, "the batch must land several files")
    landed.tail.foreach(fs.delete(_, false))
    FingerprintStore.append(spark, rest, dir, batchId = 7L)
    assert(catalogs(dir) == catalogs(ref),
      "replaying a catalogs-landed/ledger-lost batch must rewrite, not " +
        "duplicate")
    // CRASH SHAPE 2 — everything landed, flag lost: replay rewrites the
    // whole batch and still converges on the rebuild state
    fs.delete(new Path(s"$dir/_batch-7"), false)
    FingerprintStore.append(spark, rest, dir, batchId = 7L)
    assert(catalogs(dir) == catalogs(ref))
    assert(FingerprintStore.ledger(spark, dir)
      .groupBy("doc_id").count().where(col("count") > 1).isEmpty,
      "the ledger must stay one-row-per-item across replays")
    // COMMITTED batch replayed: a no-op even with different rows
    FingerprintStore.append(spark,
      media.withColumn("blob", concat(col("blob"), col("blob"))),
      dir, batchId = 7L)
    assert(catalogs(dir) == catalogs(ref))
    // the self-allocating batch-API path inherits the discipline — and
    // draws from the MANUAL namespace (m-tags), so its flags can never
    // collide with a checkpointed stream's numeric ids: its next id IS
    // the crashed one (no flag landed), so a bare retried append()
    // rewrites the same batch
    val dir2 = java.nio.file.Files.createTempDirectory("graft-fps-r2").toString
    FingerprintStore.bootstrap(spark, half, dir2)
    FingerprintStore.append(spark, rest, dir2) // self-allocates tag m0
    assert(fs.exists(new Path(s"$dir2/_batch-m0")),
      "self-allocated batches must flag in the manual namespace")
    fs.delete(new Path(s"$dir2/_batch-m0"), false)
    fs.globStatus(new Path(s"$dir2/digests/batchm0-*"))
      .foreach(h => fs.delete(h.getPath, false))
    FingerprintStore.append(spark, rest, dir2) // re-allocates tag m0
    assert(catalogs(dir2) == catalogs(ref))
  }

  test("fingerprint store vacuum composes with keeper resolution: " +
      "vacuuming to the keeper set leaves a store whose near-dup joins " +
      "find nothing left to dedup — the right-to-be-forgotten pipeline " +
      "end to end") {
    import graft.operators.{FingerprintStore, TrainPrep}
    val corpus = Multimodal.withMedia(Tables.documents(spark, sfDir))
    val media = corpus
      .unionByName(Multimodal.plantImageTwins(spark, corpus))
      .unionByName(Multimodal.plantAudioTwins(spark, corpus))
      .unionByName(Multimodal.plantVideoTwins(spark, corpus))
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft-fps-kp").toString
    FingerprintStore.bootstrap(spark, media, dir)
    def pairs(d: String) =
      FingerprintStore.imageNearDupPairs(spark, d).select("doc_a", "doc_b")
        .unionByName(FingerprintStore.audioNearDupPairs(spark, d)
          .select("doc_a", "doc_b"))
        .unionByName(FingerprintStore.videoNearDupPairs(spark, d)
          .select("doc_a", "doc_b"))
    val before = pairs(dir).localCheckpoint()
    assert(before.count() > 0, "fixture must contain planted near-dups")
    // keepers = smallest id per cluster (originals), plus every
    // unclustered id — the LIVE set after a dedup pass
    val comp = TrainPrep.connectedComponents(
      before.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val dropped = comp.filter(col("id") =!= col("comp")) // comp = min id
      .select(col("id").as("doc_id"))
    val live = FingerprintStore.ledger(spark, dir).select("doc_id")
      .exceptAll(dropped)
    val stats = FingerprintStore.vacuum(spark, dir, live)
    assert(stats.droppedRows > 0, stats.toString)
    // the vacuumed store serves ONLY keepers, and dedup finds nothing:
    // every planted pair linked an original to its twin, the twin lost
    assert(pairs(dir).isEmpty,
      "a keeper-vacuumed store must have no near-dup pairs left")
    assert(FingerprintStore.ledger(spark, dir)
      .join(dropped, Seq("doc_id"), "left_semi").isEmpty,
      "dropped ids must be gone from the ledger")
    // a forgotten twin re-appends fresh (deletion then re-upload) — pick
    // one whose DIRECT pair partner is a surviving keeper, so the
    // re-formed pair is guaranteed (a chain component's dropped tail
    // might only have paired with other dropped members)
    val victim = before
      .join(comp.filter(col("id") === col("comp"))
        .select(col("id").as("doc_a")), Seq("doc_a"))
      .select("doc_b").head().getLong(0)
    FingerprintStore.append(spark,
      media.filter(col("doc_id") === victim), dir)
    assert(pairs(dir).count() > 0,
      "re-appending a forgotten twin must re-pair it with its keeper")
  }

  test("fingerprint store compact folds the per-batch file sprawl " +
      "without moving a row, rolls contiguous flags into the watermark " +
      "(replays still no-op), snapshot-isolates pre-planned readers, " +
      "and a torn compact rolls back exactly via recover") {
    import graft.operators.FingerprintStore
    import org.apache.hadoop.fs.Path
    val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft-fps-cmp").toString
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // bootstrap + three appends under EXPLICIT (stream-namespace) ids —
    // the ingestMedia arrival shape; the batch discipline lands
    // ~partitions files per catalog per batch
    FingerprintStore.bootstrap(spark, media.filter(col("doc_id") % 4 === 0),
      dir)
    (1 to 3).foreach(i => FingerprintStore.append(spark,
      media.filter(col("doc_id") % 4 === i), dir, batchId = i - 1L))
    def catalogs(d: String): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      FingerprintStore.imageHashes(spark, d).orderBy("doc_id"),
      FingerprintStore.audioFingerprints(spark, d).orderBy("doc_id"),
      FingerprintStore.videoPostings(spark, d).orderBy("doc_id", "frame"),
      FingerprintStore.ledger(spark, d).orderBy("doc_id"))
      .map(_.collect().toSeq)
    val before = catalogs(dir)
    val filesBefore = FingerprintStore.dataFileCount(spark, dir)
    // a reader PLANNED BEFORE the compact: its file list is resolved
    // here, against the pre-compact snapshot
    val preplanned = FingerprintStore.audioFingerprints(spark, dir)
    FingerprintStore.compact(spark, dir)
    assert(catalogs(dir) == before, "compact must not move a row")
    val filesAfter = FingerprintStore.dataFileCount(spark, dir)
    assert(filesAfter < filesBefore,
      s"compact must fold files: $filesBefore -> $filesAfter")
    // SNAPSHOT ISOLATION: the pre-compact plan still materializes the
    // pre-compact rows — displaced originals are retired and RETAINED
    // through one maintenance round of grace, never deleted at swap
    assert(preplanned.orderBy("doc_id").collect().toSeq == before(1),
      "a reader planned before a compact must materialize after it")
    // FLAG ROLLUP: the contiguous committed prefix 0..2 folds into the
    // stream-namespace watermark — one root file, not one per batch
    assert(!fs.exists(new Path(s"$dir/_batch-0")),
      "compact must roll contiguous flags up")
    assert(fs.exists(new Path(s"$dir/_batchmark-2")))
    // a committed batch replayed AFTER rollup + compaction still
    // no-ops, even with different rows (the committed check is
    // flag-OR-watermark; append's remnant glob can't match fold- names)
    FingerprintStore.append(spark,
      media.filter(col("doc_id") % 4 === 1)
        .withColumn("blob", concat(col("blob"), col("blob"))),
      dir, batchId = 0L)
    assert(catalogs(dir) == before,
      "a committed batch must replay as a no-op after compaction")
    // GRACE + REAP: the retired originals are still on disk (that is
    // what isolated the pre-planned reader); an eager reap deletes them
    // and the raw listing converges on the live set
    def rawCount() =
      graft.io.Readers.parquetFiles(spark, s"$dir/digests").length
    assert(rawCount() > filesAfter,
      "displaced originals must be retained through the grace window")
    assert(FingerprintStore.reapRetired(spark, dir) > 0)
    assert(rawCount() == FingerprintStore.dataFileCount(spark, dir),
      "reap must converge the raw listing on the live set")
    assert(catalogs(dir) == before, "reap must not move a live row")

    // TORN MAINTENANCE: a crashed compact leaves only INVISIBLE junk —
    // fold-<token>-* files no snapshot references, plus the marker.
    // Readers never see it; recover deletes it (no restore step exists)
    val token = "torntoken"
    fs.create(new Path(s"$dir/_maint-inprogress-$token"), true).close()
    val junk = new Path(s"$dir/digests/fold-$token-0-junk.parquet")
    fs.create(junk, true).close() // zero-byte garbage: unreadable
    assert(catalogs(dir) == before,
      "uncommitted fold files must be invisible to readers")
    assert(FingerprintStore.recover(spark, dir))
    assert(!fs.exists(junk),
      "recover must delete the torn compact's fold files")
    assert(!fs.exists(new Path(s"$dir/_maint-inprogress-$token")))
    assert(catalogs(dir) == before)
    assert(!FingerprintStore.recover(spark, dir),
      "a clean store must recover as a no-op")
    // recover also drops a crashed append's staging parquet — all
    // three stage kinds are transient junk under its contract
    val stage = new Path(s"$dir/.append-staged-ledger")
    fs.mkdirs(stage)
    FingerprintStore.recover(spark, dir)
    assert(!fs.exists(stage),
      "recover must clean append staging remnants too")
  }

  test("fingerprint store vacuum: dropped ids vanish from every catalog, " +
      "clean files are never touched, and a vacuumed id re-appends " +
      "fresh — the right-to-be-forgotten + legitimate-re-upload path") {
    import graft.operators.{FingerprintStore, Multimodal}
    val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
      .localCheckpoint()
    val half = media.filter(col("doc_id") % 2 === 0)
    val rest = media.filter(col("doc_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-fps-vac").toString
    FingerprintStore.bootstrap(spark, half, dir)
    val bootFiles =
      graft.io.Readers.parquetFiles(spark, s"$dir/digests").map(_.getPath).toSet
    FingerprintStore.append(spark, rest, dir)

    // forget every odd id (the appended batch): the bootstrap-era files
    // hold only even ids, so they are CLEAN and must survive untouched
    val live = media.filter(col("doc_id") % 2 === 0).select("doc_id")
    val expectDrop =
      FingerprintStore.ledger(spark, dir)
        .filter(col("doc_id") % 2 =!= 0).count() +
        FingerprintStore.imageHashes(spark, dir)
          .filter(col("doc_id") % 2 =!= 0).count() +
        FingerprintStore.audioFingerprints(spark, dir)
          .filter(col("doc_id") % 2 =!= 0).count() +
        FingerprintStore.videoPostings(spark, dir)
          .filter(col("doc_id") % 2 =!= 0).count()
    val stats = FingerprintStore.vacuum(spark, dir, live)
    assert(stats.droppedRows == expectDrop, stats.toString)
    Seq(
      FingerprintStore.ledger(spark, dir),
      FingerprintStore.imageHashes(spark, dir),
      FingerprintStore.audioFingerprints(spark, dir),
      FingerprintStore.videoPostings(spark, dir)).foreach { cat =>
      assert(cat.filter(col("doc_id") % 2 =!= 0).isEmpty,
        "vacuumed ids must vanish from every catalog")
    }
    // clean (bootstrap-era) files never moved, never rewritten
    val after =
      graft.io.Readers.parquetFiles(spark, s"$dir/digests").map(_.getPath).toSet
    assert(bootFiles.subsetOf(after),
      "vacuum must not touch files holding only live rows")
    assert(stats.untouchedFiles >= bootFiles.size, stats.toString)
    // the catalogs still EQUAL a from-scratch bootstrap over the
    // retained media (vacuum is exact, not approximate)
    val ref = java.nio.file.Files.createTempDirectory("graft-fps-vref").toString
    FingerprintStore.bootstrap(spark, half, ref)
    assert(FingerprintStore.audioFingerprints(spark, dir)
      .orderBy("doc_id").collect().toSeq ==
      FingerprintStore.audioFingerprints(spark, ref)
        .orderBy("doc_id").collect().toSeq)
    // a vacuumed id is FORGOTTEN: re-appending it ingests fresh (the
    // deletion-then-legitimate-re-upload sequence)
    val victim = rest.select("doc_id").filter(col("doc_id") % 2 =!= 0)
      .head().getLong(0)
    FingerprintStore.append(spark,
      media.filter(col("doc_id") === victim), dir)
    assert(FingerprintStore.ledger(spark, dir)
      .filter(col("doc_id") === victim).count() == 1,
      "a vacuumed id must re-ingest on a later append")
    // no trash left behind after a completed vacuum
    assert(!new java.io.File(s"$dir/.vacuum-trash").exists())
    // TOTAL-KILL leg: vacuuming every wav id empties the audio catalog
    // entirely — the snapshot-resolved read must return ZERO rows (with
    // the schema intact), not resurrect the retired originals that stay
    // on disk through the grace window
    val noWav = FingerprintStore.ledger(spark, dir)
      .filter(col("format") =!= "wav").select("doc_id")
    FingerprintStore.vacuum(spark, dir, noWav)
    val emptied = FingerprintStore.audioFingerprints(spark, dir)
    assert(emptied.columns.toSeq == Seq("doc_id", "afp"),
      "an emptied catalog must keep its schema")
    assert(emptied.count() == 0,
      "a vacuum that kills a whole catalog must read as empty, not " +
        "resurrect retired files")
    assert(FingerprintStore.ledger(spark, dir)
      .filter(col("format") === "wav").isEmpty)
  }

  test("multimodal: the boilerplate-frame cap drops exactly the >K-video " +
      "frame hashes — boiler-only pairs leave, genuine near-dups stay") {
    import spark.implicits._
    // three UNRELATED videos that all share one "intro card" frame slot
    // (the donor frame spliced into slot 0 of each), plus a genuine
    // near-dup pair; 8x6 frames so unrelated content never collides
    val intro = Multimodal.encodeMp4(1000L, 1, frameW = 8, frameH = 6)
    def withIntro(v: Array[Byte]): Array[Byte] = {
      val out = v.clone()
      System.arraycopy(intro, Multimodal.Mp4HeaderLen, out,
        Multimodal.Mp4HeaderLen, Multimodal.Mp4FrameSize)
      out
    }
    val u1 = withIntro(Multimodal.encodeMp4(7L, 12, frameW = 8, frameH = 6))
    val u2 = withIntro(Multimodal.encodeMp4(8L, 12, frameW = 8, frameH = 6))
    val u3 = withIntro(Multimodal.encodeMp4(9L, 12, frameW = 8, frameH = 6))
    val near = Multimodal.encodeMp4(7L, 11, frameW = 8, frameH = 6) // trim of u1's tail
    val media = Seq((1L, u1), (2L, u2), (3L, u3), (4L, near))
      .toDF("doc_id", "blob")
      .withColumn("meta", struct(lit("mp4").as("format"),
        lit(8).as("width"), lit(6).as("height"), lit(12).as("n_frames")))
    // uncapped at a LOW threshold: the shared intro frame alone creates
    // cross-video candidate pairs (the fan-out a crawl-scale corpus
    // multiplies into K² per boilerplate hash)
    val uncapped = Multimodal.videoNearDupPairs(spark, media,
        minJaccard = 0.01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((2L, 3L)),
      s"shared intro must pair everything uncapped: $uncapped")
    // capped at K=2: the intro hash (3 videos > K) leaves the universe —
    // boiler-only pairs disappear; the genuine near-dup survives on its
    // own frames with Jaccard over the SURVIVING universe
    val capped = Multimodal.videoNearDupPairs(spark, media,
        minJaccard = 0.8, maxVideosPerFrame = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.map(p => (p._1, p._2)).toSet == Set((1L, 4L)),
      s"only the genuine pair may survive the cap: ${capped.toSeq}")
    // u1 minus intro: 11 content frames; near: 10 of them (trim) + its
    // own slot-0 frame (u1's slot-0 was overwritten by the intro, so
    // near's frame 0 is unique to near): J = 10 / (11 + 11 - 10)
    assert(math.abs(capped.head._3 - 10.0 / 12.0) < 1e-9, s"${capped.toSeq}")
  }

  test("multimodal: WAV round-trips through the RIFF encoder/decoder exactly") {
    // synthetic stream round-trip: every sample recovered bit-exactly
    val enc = Multimodal.encodeWav(seed = 7L, nSamples = 257)
    val dec = Multimodal.decodeWav(enc).get
    assert(dec.length == 257)
    assert(dec.toSeq == (0 until 257).map(Multimodal.syntheticSample(7L, _)))
    // feature fold: |amplitude| bucket sums with one terminal division —
    // hand-check on a 4-sample payload folded into 2 buckets
    val samples = Seq(1000, -2000, 30000, -32768)
    val bb = java.nio.ByteBuffer.allocate(44 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(44).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes).putInt(8)
    samples.foreach(v => bb.putShort(v.toShort))
    val feats = Multimodal.decodeAndEmbedAudio(bb.array(), dim = 2).get
    assert(feats.toSeq == Seq(
      ((1000 + 30000) / 32768.0).toFloat, ((2000 + 32768) / 32768.0).toFloat))
    // malformed payloads are rejected, not crashed on
    assert(Multimodal.decodeWav("nonsense".getBytes).isEmpty)
    assert(Multimodal.decodeWav(enc.take(40)).isEmpty)
  }

  test("multimodal: mp4 container round-trips through the ISO-BMFF demuxer") {
    val blob = Multimodal.encodeMp4(seed = 11L, nFrames = 5)
    val (size, count, payload) = Multimodal.demuxMp4(blob).get
    assert(size == Multimodal.Mp4FrameSize && count == 5)
    assert(payload.length == 5 * Multimodal.Mp4FrameSize)
    // every frame slot is a REAL PNG whose pixels continue the doc-level
    // splitmix64 chain at offset f·(w·h)
    val (fw, fh) = (Multimodal.Mp4FrameW, Multimodal.Mp4FrameH)
    for (f <- 0 until 5) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload, f * size, size))
      assert(img != null, s"frame $f is not a decodable image")
      assert(img.getWidth == fw && img.getHeight == fh)
      val ref = Multimodal.syntheticImage(
        11L + f.toLong * fw * fh * 0x9e3779b97f4a7c15L, fw, fh)
      for (y <- 0 until fh; x <- 0 until fw)
        assert((img.getRGB(x, y) & 0xffffff) == (ref.getRGB(x, y) & 0xffffff),
          s"frame $f pixel ($x,$y) diverges from the synthetic chain")
    }
    // the constant-header claim sampleFrames relies on: mdat payload
    // starts exactly at Mp4HeaderLen
    assert(blob.slice(Multimodal.Mp4HeaderLen, Multimodal.Mp4HeaderLen + 4).toSeq ==
      payload.take(4).toSeq)
    // malformed containers are rejected, not crashed on
    assert(Multimodal.demuxMp4("nonsense".getBytes).isEmpty)
    assert(Multimodal.demuxMp4(blob.take(60)).isEmpty)
  }

  test("multimodal: real image resize halves dimensions and re-decodes") {
    val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
    val resized = Multimodal.resizeImages(spark, media, factor = 2)
    val imgRows = resized.filter(col("format").isin("png", "bmp"))
      .join(media.select(col("doc_id"), col("meta.width").as("w0"),
        col("meta.height").as("h0")), "doc_id")
      .limit(20).collect()
    assert(imgRows.nonEmpty)
    imgRows.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("blob_small")))
      assert(img != null, s"resized blob no longer decodes (doc ${r.getLong(0)})")
      assert(img.getWidth == math.max(1, r.getInt(r.fieldIndex("w0")) / 2))
      assert(img.getHeight == math.max(1, r.getInt(r.fieldIndex("h0")) / 2))
    }
    // non-image rows pass through untouched
    val wav = resized.filter(col("format") === "wav").limit(1).head()
    assert(Multimodal.decodeWav(wav.getAs[Array[Byte]]("blob_small")).isDefined)
  }

  test("multimodal: sampled frame bytes are the REAL mdat frame payloads") {
    val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
    val row = Multimodal.sampleFrames(media)
      .filter(col("frame_idx") === 10).orderBy("doc_id").head()
    val (docId, gotBytes) = (row.getLong(0), row.getAs[Array[Byte]](2))
    // frame 10 of doc `docId` must decode as the PNG of chain offset 10·(w·h)
    val (fw, fh) = (Multimodal.Mp4FrameW, Multimodal.Mp4FrameH)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gotBytes))
    assert(img != null, "sampled frame bytes are not a decodable PNG")
    val ref = Multimodal.syntheticImage(
      docId + 10L * fw * fh * 0x9e3779b97f4a7c15L, fw, fh)
    for (y <- 0 until fh; x <- 0 until fw)
      assert((img.getRGB(x, y) & 0xffffff) == (ref.getRGB(x, y) & 0xffffff))
  }

  test("multimodal: synthetic PNG and BMP payloads round-trip through ImageIO") {
    for (fmt <- Seq("png", "bmp")) {
      val bytes = Multimodal.encodeImage(seed = 42L, w = 5, h = 3, fmt = fmt)
      val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(decoded != null, s"$fmt bytes did not decode")
      assert(decoded.getWidth == 5 && decoded.getHeight == 3)
      // both encodings are lossless → identical pixels → identical features
      val ref = Multimodal.syntheticImage(42L, 5, 3)
      for (y <- 0 until 3; x <- 0 until 5)
        assert((decoded.getRGB(x, y) & 0xffffff) == (ref.getRGB(x, y) & 0xffffff))
    }
    assert(Multimodal.decodeAndEmbedImage("not an image".getBytes, 4).isEmpty)
  }

  test("multimodal: feature extraction yields fixed-dim vectors for every doc") {
    val docs = Tables.documents(spark, sfDir)
    val feats = Multimodal.extractFeatures(spark, Multimodal.withMedia(docs), dim = 16)
    assert(feats.count() == docs.count())
    val dims = feats.select(size(col("features"))).distinct().collect().map(_.getInt(0))
    assert(dims.toSeq == Seq(16))
    // deterministic: same input → same features
    val a = Multimodal.qMM02(spark, sfDir).collect().toSeq
    val b = Multimodal.qMM02(spark, sfDir).collect().toSeq
    assert(a == b)
  }

  test("plan-audit dumps track the registered query set") {
    // plans/ is a local (gitignored) artifact, so a fresh clone legitimately
    // has none — but once PlanAudit has run, every registered query must
    // have a dump, or the audit is silently stale for the newest queries
    // (r02 shipped 7 unreviewed plans that way).
    val dir = new java.io.File("plans")
    if (dir.isDirectory) {
      val missing = SparkEntry.queries.keys.toSeq.sorted
        .filterNot(n => new java.io.File(dir, s"$n.txt").isFile)
      assert(missing.isEmpty,
        s"stale plan audit — rerun `sbt \"runMain graft.PlanAudit\"`; missing: ${missing.mkString(", ")}")
    }
  }

  test("every registered query emits scalar-only final columns") {
    // The driver's oracle harness sorts result frames with pandas, which
    // cannot hash numpy arrays: an array/struct/map in a final schema is a
    // guaranteed red correctness row (r02's q_v03). Schema-only (analysis,
    // no execution) for lazy queries; the eager driver-side queries
    // (SparkEntry.eagerQueries) run their pipeline at DataFrame
    // construction, so this test executes those few by design.
    import org.apache.spark.sql.types._
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sfDir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[StructType] ||
                  f.dataType.isInstanceOf[MapType] => s"$name.${f.name}"
      }
    }
    assert(offenders.isEmpty, s"non-scalar final columns: ${offenders.mkString(", ")}")
  }

  test("multimodal: frame sampling emits every 10th frame for mp4 rows only") {
    val media = Multimodal.withMedia(Tables.documents(spark, sfDir))
    val mp4 = media.filter(col("meta.format") === "mp4")
    val sampled = Multimodal.sampleFrames(media)
    val expected = mp4.select((floor((col("meta.n_frames") - 1) / 10) + 1).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(sampled.count() == expected)
  }

  test("q14 promo share: part broadcasts, value in (0, 100)") {
    import graft.operators.Relational
    val q = Relational.qJ15(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"part not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
    val v = q.head().getDouble(0)
    assert(v > 0 && v < 100, s"promo share out of range: $v")
  }

  test("q22 dormant customers: anti-join set respects both predicates") {
    import graft.operators.Relational
    val got = Relational.qQ07(spark, sfDir).agg(sum("numcust")).head().getLong(0)
    // brute-force the same definition with independent DataFrame code
    val c = Tables.customer(spark, sfDir)
    val thr = c.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("t")).head().getDouble(0)
    val recent = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val expected = c.filter(col("c_acctbal") > thr)
      .select("c_custkey").collect().map(_.getLong(0))
      .count(k => !recent.contains(k))
    assert(got == expected, s"q22 numcust $got != brute-force $expected")
  }

  test("z-score outliers: stats side broadcasts; every row exceeds threshold") {
    import graft.operators.Relational
    val q = Relational.qA18(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"stats not broadcast:\n$plan")
    val rows = q.collect()
    assert(rows.nonEmpty, "threshold selects nothing at sf0.001")
    rows.foreach(r => assert(math.abs(r.getDouble(3)) > 1.5 - 1e-9))
  }

  test("dup-ngram ratio: exact on a constructed doc; corpus output shuffle-free") {
    import spark.implicits._
    import graft.operators.LLMOps
    // "a b a b a b" → shingles: "a b a","b a b","a b a","b a b" = 4 total, 2 distinct
    val df = Seq("a b a b a b").toDF("text")
      .select(LLMOps.shingles(LLMOps.tokens(col("text")), 3).as("shl"))
      .select(size(col("shl")).as("n"), size(array_distinct(col("shl"))).as("d"))
      .head()
    assert(df.getInt(0) == 4 && df.getInt(1) == 2)
    val q = LLMOps.qL28(spark, sfDir)
    // per-row math + TakeOrdered only — no hash-partition exchange anywhere
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"qL28 shuffles:\n$plan")
    val rows = q.collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // distinct <= total
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0)
    }
    // ranked non-increasing
    assert(rows.map(_.getDouble(3)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("type-token ratio: vocab bounds and no Expand in the plan") {
    import graft.operators.LLMOps
    val q = LLMOps.qL29(spark, sfDir)
    // the two-level rewrite must not plan the distinct-agg Expand
    assert(!q.queryExecution.executedPlan.toString.contains("Expand"))
    val rows = q.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (vocab, toks, ttr) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(vocab >= 1 && vocab <= toks)
      assert(math.abs(ttr - vocab.toDouble / toks) < 1e-12)
    }
  }

  test("trailing 7-day window: monotone within the frame, one user exchange") {
    import graft.operators.Temporal
    val q = Temporal.qW07(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1,
      s"qW07 re-shuffles:\n$plan")
    val rows = q.collect()
    assert(rows.nonEmpty)
    // every event contributes to its own frame
    rows.foreach(r => assert(r.getLong(3) >= 1))
    // the whole-history check: a user's final trailing count never exceeds
    // their total event count
    val totals = Tables.events(spark, sfDir).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      assert(rs.map(_.getLong(3)).max <= totals(u))
    }
  }

  test("int8 quantization: exact codes on a known vector; top-k recall vs exact") {
    import spark.implicits._
    import graft.operators.Similarity
    // maxabs = 2.0 → codes floor(x/2*127+0.5): 1.0→64, -0.5→floor(-31.25)=-32,
    // 2.0→127, 0→0 (floor-based half-up rounds -31.75 away from zero)
    val df = Seq((1L, Seq(1.0f, -0.5f, 2.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "embedding")
      .select("qv").head().getSeq[Int](0)
    assert(got == Seq(64, -32, 127, 0), s"codes $got")
    // the scratch column must not leak, and an all-zero vector must code
    // to zeros (not NULLs from a 0-divisor)
    val zero = Similarity.quantizeInt8(
      Seq((2L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding"), "embedding")
    assert(zero.columns.toSeq == Seq("vec_id", "embedding", "qv"))
    assert(zero.select("qv").head().getSeq[Int](0) == Seq(0, 0))
    // quantized top-10 should largely agree with exact float cosine top-10
    val exact = Similarity.qL02(spark, sfDir).collect().map(_.getLong(0)).toSet
    val quant = Similarity.qL31(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert((exact & quant).size >= 7,
      s"quantized recall too low: ${(exact & quant).size}/10")
  }

  test("vocab build: dense contiguous ids, frequency-ranked") {
    import graft.operators.LLMOps
    val rows = LLMOps.qL32(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).toSeq == rows.indices.map(_.toLong))
    val cnts = rows.map(_.getLong(2))
    assert(cnts.sliding(2).forall(p => p(0) >= p(1)), "counts not non-increasing")
    assert(rows.map(_.getString(1)).distinct.length == rows.length)
  }

  test("tpch q13/q15/q17/q18 shapes: broadcast dims, zero-count bucket kept") {
    import graft.operators.Relational
    // Q13: the zero-order bucket must exist (left join, not inner)
    val dist = Relational.qA19(spark, sfDir).collect()
    val total = dist.map(_.getLong(1)).sum
    assert(total == Tables.customer(spark, sfDir).count(),
      "custdist buckets don't partition the customer set")
    // Q17: ONE scan of lineitem (the per-part average rides a window over
    // the brand-pruned subset, not a second fact-table pass)
    val q17 = Relational.qJ16(spark, sfDir)
    val p17 = q17.queryExecution.executedPlan.toString
    assert(!p17.contains("SortMergeJoin"), s"q17 shuffled a join:\n$p17")
    assert("lineitem\\.parquet".r.findAllMatchIn(p17).size == 1,
      s"q17 scans lineitem more than once:\n$p17")
    assert(q17.head().getDouble(0) > 0)
    // Q15: returns at least one winner and all winners tie at the max
    val winners = Relational.qJ17(spark, sfDir).collect()
    assert(winners.nonEmpty)
    assert(winners.map(_.getDouble(2)).distinct.length == 1)
  }

  test("weighted sampling: deterministic, and acceptance tracks the mean weight") {
    import graft.operators.LLMOps
    val a = LLMOps.qL33(spark, sfDir).collect().map(_.getLong(0)).toSeq
    val b = LLMOps.qL33(spark, sfDir).collect().map(_.getLong(0)).toSeq
    assert(a == b, "hash-draw sampling must be run-deterministic")
    // expected acceptance = rate × mean weight; the poly-hash draw is
    // uniform enough for a ±35% relative tolerance on a 500-doc corpus
    val docs = Tables.documents(spark, sfDir)
    val expected = docs.select(
      (lit(0.5) * least(lit(1.0), col("n_chars").cast("double") / 400.0)).as("p"))
      .agg(sum("p")).head().getDouble(0)
    assert(a.length > 0 && math.abs(a.length - expected) < 0.35 * expected,
      s"acceptance ${a.length} far from expected $expected")
  }

  test("co-occurrence: exact counts on a constructed corpus; one doc exchange") {
    import spark.implicits._
    import graft.operators.LLMOps
    // pair (a,b) in docs 1+2, (a,c) in doc 1, (b,c) in doc 1; repeats
    // within a doc count once
    Seq((1L, "a b c a"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text").createOrReplaceTempView("documents_cooc_test")
    val toks = spark.table("documents_cooc_test")
      .select(col("doc_id"), explode(array_distinct(LLMOps.tokens(col("text")))).as("t"))
    val pairs = toks.select(col("doc_id"), col("t").as("t_a"))
      .join(toks.select(col("doc_id"), col("t").as("t_b")), Seq("doc_id"))
      .filter(col("t_a") < col("t_b"))
      .groupBy("t_a", "t_b").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
    // corpus query: the self-join must ride ONE doc_id exchange per side,
    // not explode into a cartesian
    val plan = LLMOps.qL34(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"qL34 went cartesian:\n$plan")
  }

  test("KS drift: sample sizes partition the input; statistic bounded") {
    import graft.operators.Profiler
    val r = Profiler.qA20(spark, sfDir).head()
    val o = Tables.orders(spark, sfDir)
    assert(r.getLong(0) == o.filter(col("o_orderpriority") === "1-URGENT").count())
    assert(r.getLong(1) == o.filter(col("o_orderpriority") === "5-LOW").count())
    val ks = r.getDouble(2)
    assert(ks >= 0.0 && ks <= 1.0, s"ks out of range: $ks")
    // both samples draw from the same synthetic distribution: drift small
    assert(ks < 0.2, s"same-distribution KS unexpectedly large: $ks")
  }

  test("tableDiff classifies known drift exactly") {
    import spark.implicits._
    import graft.operators.Profiler
    val cols = Seq("id" -> true, "v" -> false)
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val tgt = Seq((2L, "b"), (3L, "CHANGED"), (4L, "d"), (5L, "e")).toDF("id", "v")
    val r = Profiler.tableDiff(src, tgt, "id", cols).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 1L, 2L)),
      s"diff classification wrong: $r")
  }

  test("chunk store round-trips every document byte-exactly and dedups") {
    import graft.io.ChunkStore
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-spec").toString
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").where(col("text").isNotNull)
    ChunkStore.write(docs, dir)
    // re-materialized text equals the original, for EVERY document
    val rebuilt = ChunkStore.materialize(spark, dir)
    val mismatches = docs.as("o")
      .join(rebuilt.as("r"), "doc_id", "full_outer")
      .where(col("o.text").isNull || col("r.text").isNull ||
        col("o.text") =!= col("r.text"))
      .count()
    assert(mismatches == 0, s"$mismatches docs failed the round trip")
    // the store is genuinely deduplicated: unique rows < manifest slots,
    // and derived reference counts reconcile exactly with the manifest
    val chunks = spark.read.parquet(s"$dir/chunks")
    val manifest = spark.read.parquet(s"$dir/manifest")
    assert(chunks.count() < manifest.count())
    assert(ChunkStore.referenceCounts(spark, dir)
      .agg(sum("refs")).head().getLong(0) == manifest.count())
    // manifest slots are dense per doc: idx 0..n-1 with no gaps
    val badSlots = manifest.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("idx").as("mx"), min("idx").as("mn"))
      .where(col("mn") =!= 0 || col("mx") =!= col("n") - 1).count()
    assert(badSlots == 0)
  }

  test("chunk store round-trips multibyte unicode: offsets are codepoint-" +
      "based end to end (UTF-16 slicing would corrupt supplementary chars)") {
    import graft.io.ChunkStore
    import spark.implicits._
    // the corpus is ASCII, so only this spec guards the agreement between
    // the chunker's codepoint offsets and substring's slicing on CJK,
    // surrogate-pair (emoji), combining-mark and mixed content
    val nasty = Seq(
      "日本語のテキストを繰り返す。" * 20,
      "emoji 😀🎉🚀 inside the stream 😀🎉🚀 " * 15,
      "étude with combining marks étude " * 12, // é as e + U+0301
      "ascii then 中文 then عربى then русский " * 10,
      "𝕞𝕒𝕥𝕙𝕖𝕞𝕒𝕥𝕚𝕔𝕒𝕝 𝖇𝖔𝖑𝖉 " * 18, // supplementary-plane letters
      "" // empty text round-trips as one empty chunk
    )
    val rng = new scala.util.Random(42)
    val alphabet = "abc日本語😀𝕞é ".toCharArray
    val fuzz = (0 until 40).map { _ =>
      val sb = new StringBuilder
      (0 until 200 + rng.nextInt(400)).foreach(_ => sb += alphabet(rng.nextInt(alphabet.length)))
      sb.toString // may split surrogate pairs — substring/codePoints must still agree
    }
    val docs = (nasty ++ fuzz).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-uni").toString
    ChunkStore.write(docs, dir)
    val bad = docs.as("o")
      .join(ChunkStore.materialize(spark, dir).as("r"), "doc_id", "full_outer")
      .where(col("o.text").isNull || col("r.text").isNull ||
        col("o.text") =!= col("r.text"))
      .select("doc_id").collect().map(_.getLong(0))
    assert(bad.isEmpty, s"unicode round trip corrupted doc_ids ${bad.mkString(",")}")
  }

  test("chunk store append ingests a new batch without duplicating chunks " +
      "or rewriting history, and the combined store still round-trips") {
    import graft.io.ChunkStore
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-append").toString
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").where(col("text").isNotNull)
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    val (half1, half2) =
      (docs.filter(col("doc_id") < n / 2), docs.filter(col("doc_id") >= n / 2))
    ChunkStore.write(half1, dir)
    val filesBefore = new java.io.File(s"$dir/chunks").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val rowsBefore = spark.read.parquet(s"$dir/chunks").count()
    ChunkStore.append(spark, half2, dir)
    // history untouched: every pre-append store file survives unmodified
    val filesAfter = new java.io.File(s"$dir/chunks").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(filesBefore.forall { case (name, mtime) =>
      filesAfter.get(name).contains(mtime)
    }, "append rewrote pre-existing store files")
    // no duplicate chunk keys across the batch boundary
    val chunks = spark.read.parquet(s"$dir/chunks")
    assert(chunks.groupBy("h", "len", "x").count()
      .where(col("count") > 1).count() == 0)
    // cross-batch reuse actually happened: batch 2 added fewer store rows
    // than its own distinct-chunk count (shared spans were suppressed)
    val added = chunks.count() - rowsBefore
    val half2Distinct = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cs-h2").toString
      ChunkStore.write(half2, tmp)
      spark.read.parquet(s"$tmp/chunks").count()
    }
    assert(added < half2Distinct,
      s"no cross-batch chunk reuse (added $added of $half2Distinct)")
    // and the combined store reconstructs the FULL corpus byte-exactly
    val mismatches = docs.as("o")
      .join(ChunkStore.materialize(spark, dir).as("r"), "doc_id", "full_outer")
      .where(col("o.text").isNull || col("r.text").isNull ||
        col("o.text") =!= col("r.text")).count()
    assert(mismatches == 0, s"$mismatches docs failed the post-append round trip")
  }

  test("content checksum is row-order independent and change-sensitive") {
    import graft.operators.Profiler
    val base = Profiler.qM08(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // same data, violently re-ordered → identical checksum
    val orders = Tables.orders(spark, sfDir)
      .repartition(7, col("o_orderpriority"))
      .sortWithinPartitions(col("o_totalprice").desc)
    val cols = Profiler.checksumTables.toMap.apply("orders")
    val reordered = orders
      .select(graft.functions.PolyHash(Profiler.canonicalRow(cols)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    assert((reordered.getLong(0), reordered.getLong(1)) == base("orders"))
    // a single changed value → different checksum
    val perturbed = Tables.orders(spark, sfDir)
      .withColumn("o_totalprice",
        when(col("o_orderkey") === 1, col("o_totalprice") + 0.01)
          .otherwise(col("o_totalprice")))
      .select(graft.functions.PolyHash(Profiler.canonicalRow(cols)).as("h"))
      .agg(sum(col("h"))).head().getLong(0)
    assert(perturbed != base("orders")._2)
  }

  test("tpch q21 shape: one lineitem scan; only-late-supplier semantics") {
    import spark.implicits._
    import graft.operators.Relational
    // Plan pin (real corpus): the two existentials must NOT re-scan the
    // fact table — one lineitem scan feeding per-(order,supplier)
    // aggregates + a window, per the qJ18 scaladoc.
    val q21 = Relational.qJ18(spark, sfDir)
    val n = fileScans(q21.queryExecution.executedPlan, "lineitem.parquet").size
    assert(n == 1,
      s"q21 scans lineitem $n times:\n${q21.queryExecution.executedPlan}")
    // Semantics (constructed corpus): o1 has the only-late supplier s1
    // (2 late lines) → qualifies with numwait=2; o2 has TWO late
    // suppliers → NOT EXISTS fails; o3 is status O → excluded; o4 is
    // single-supplier → EXISTS fails.
    val dir = Files.createTempDirectory("graft-q21").toString
    Seq((1L, 1L, "R"), (1L, 1L, "R"), (1L, 2L, "N"),
        (2L, 1L, "R"), (2L, 2L, "R"),
        (3L, 1L, "R"), (3L, 2L, "N"),
        (4L, 1L, "R"))
      .toDF("l_orderkey", "l_suppkey", "l_returnflag")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "F"), (2L, "F"), (3L, "O"), (4L, "F"))
      .toDF("o_orderkey", "o_orderstatus").write.parquet(s"$dir/orders.parquet")
    Seq((1L, "Supplier#1", 5L), (2L, "Supplier#2", 5L))
      .toDF("s_suppkey", "s_name", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    Seq((5L, "NATION_5")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    val rows = Relational.qJ18(spark, dir).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Supplier#1", 2L)))
  }

  test("tpch q2 shape: one lineitem scan, one exchange feeds both windows " +
      "and the distinct") {
    import graft.operators.Relational
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val q = Relational.qQ09(spark, sfDir)
    val plan = q.queryExecution.executedPlan
    assert(fileScans(plan, "lineitem.parquet").size == 1)
    // hash(p_partkey) satisfies the offer window, the per-part window AND
    // the distinct aggregate: exactly one shuffle in the whole plan
    def shuffles(p: SparkPlan): Int = {
      val extra = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec        => Seq(s.plan)
        case _                        => Nil
      }
      (if (p.isInstanceOf[ShuffleExchangeExec]) 1 else 0) +
        (extra ++ p.children ++ p.subqueries).map(shuffles).sum
    }
    assert(shuffles(plan) == 1, s"expected exactly one shuffle:\n$plan")
  }

  test("tpch q19 shape: each side's OR-half is pushed into its parquet scan") {
    import graft.operators.Relational
    val q = Relational.qJ20(spark, sfDir)
    val plan = q.queryExecution.executedPlan
    val li = fileScans(plan, "lineitem.parquet")
    val pt = fileScans(plan, "part.parquet")
    assert(li.size == 1 && pt.size == 1)
    // the quantity OR-bounds reach the fact scan; brand/size reach part —
    // candidate rows are pruned at the parquet reader, not post-join
    val liPushed = li.head.metadata("PushedFilters")
    val ptPushed = pt.head.metadata("PushedFilters")
    assert(liPushed.contains("Or(") && liPushed.contains("l_quantity"), liPushed)
    assert(ptPushed.contains("Or(") && ptPushed.contains("p_brand") &&
      ptPushed.contains("p_size"), ptPushed)
  }

  test("pmi: exact integer lift on a constructed corpus, min-support filter") {
    import spark.implicits._
    import graft.operators.LLMOps
    // 5 docs contain {a,b}, 3 contain {c,d} (below min support 5),
    // N = 8 → lift(a,b) = 8·5/(5·5) = 1.6 → lift_ppm = 1_600_000.
    val dir = Files.createTempDirectory("graft-pmi").toString
    ((1 to 5).map(i => (i.toLong, "a b")) ++
     (6 to 8).map(i => (i.toLong, "c d")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = LLMOps.qL35(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ("a", "b", 5L, 5L, 5L, 1600000L))
  }

  test("fuzzy decontamination: near-dup benchmark matches found, unrelated " +
      "docs and sub-threshold overlaps excluded") {
    import graft.operators.TrainPrep
    import spark.implicits._
    // 30-token distinctive texts: A, a light edit of A, and unrelated B —
    // deterministic hashes make the band recall a fixed property, not luck
    val a = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val aEdit = ((1 to 28).map(i => s"alpha$i") ++ Seq("edited", "tail"))
      .mkString(" ")
    val b = (1 to 30).map(i => s"beta$i").mkString(" ")
    val docs = Seq((1L, a), (2L, aEdit), (3L, b)).toDF("doc_id", "text")
    val bench = Seq((100L, a + " eval suffix")).toDF("bench_id", "text")
    val got = TrainPrep.fuzzyDecontam(docs, bench, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 100L), (2L, 100L)),
      s"got ${got.mkString(",")}")
    // the source doc matches tighter than its edited cousin; both clear 0.5
    val j = got.map(t => (t._1, t._3)).toMap
    assert(j(1L) > j(2L) && j.values.forall(v => v > 0.5 && v <= 1.0))
    // raising the bar drops the edited cousin but keeps the source
    val strict = TrainPrep.fuzzyDecontam(docs, bench, threshold = j(2L) + 0.01)
      .collect().map(_.getLong(0)).toSeq
    assert(strict == Seq(1L))
  }

  test("fuzzy decontamination reports a doc_id that docs repeats as one " +
      "match") {
    import graft.operators.TrainPrep
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") === 13L)
      .select(col("doc_id").as("bench_id"),
        concat(col("text"), lit(" held out eval sample")).as("text"))
    val once = TrainPrep.fuzzyDecontam(docs, bench).collect().toSeq
    val repeated = TrainPrep.fuzzyDecontam(
      docs.union(docs.filter(col("doc_id") === 13L)), bench).collect().toSeq
    assert(once.map(_.getLong(0)).contains(13L), once.mkString(","))
    assert(repeated == once, s"repeated doc: ${repeated.mkString(",")}")
  }

  test("rrf fusion: exact integer scores, union of lists, rank-monotone") {
    import graft.operators.FullText
    import spark.implicits._
    val sparse = Seq((10L, 1L), (20L, 2L)).toDF("doc_id", "r_sparse")
    val dense = Seq((20L, 1L), (30L, 2L)).toDF("doc_id", "r_dense")
    val got = FullText.rrfFuse(sparse, dense).collect()
    // floor(1e6/61)=16393, floor(1e6/62)=16129 — doc 20 sums both lists
    assert(got.map(_.getLong(0)).toSeq == Seq(20L, 10L, 30L))
    assert(got.map(_.getLong(3)).toSeq == Seq(16129L + 16393L, 16393L, 16129L))
    // absent-list ranks surface as NULL, never as a fake rank
    val r20 = got.find(_.getLong(0) == 10L).get
    assert(!r20.isNullAt(1) && r20.isNullAt(2))
    // corpus smoke: ≤ 20 fused rows, scores non-increasing, every row from
    // at least one input list
    val fused = FullText.qL51(spark, sfDir).collect()
    assert(fused.nonEmpty && fused.length <= 20)
    val scores = fused.map(_.getLong(3))
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    assert(fused.forall(r => !r.isNullAt(1) || !r.isNullAt(2)))
  }

  test("bigram-LM scoring: re-run identical, and the ranking's adjacent-gap " +
      "margin dwarfs fold ulp jitter") {
    import graft.operators.LLMOps
    val once = LLMOps.qL52(spark, sfDir).collect().toSeq
    val again = LLMOps.qL52(spark, sfDir).collect().toSeq
    assert(once == again && once.nonEmpty)
    // the ranking pin rests on adjacent score gaps being astronomically
    // wider than the ~1e-16-relative ln()/fold jitter; pin the measured
    // floor (distinct-score neighbors) with ~6 orders of margin
    val scored = LLMOps.qL52(spark, sfDir, k = 1 << 20, withScore = true)
      .collect().map(_.getDouble(3))
    val gaps = scored.zip(scored.tail).map { case (x, y) => x - y }
    assert(gaps.forall(_ >= 0.0))
    val distinctGaps = gaps.filter(_ > 0.0)
    assert(distinctGaps.nonEmpty && distinctGaps.min > 1e-10,
      s"min adjacent gap ${distinctGaps.min}")
    // zero-gap neighbors must be byte-identical texts (exact ties only)
    val rows = LLMOps.qL52(spark, sfDir, k = 1 << 20, withScore = true).collect()
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.zip(rows.tail).foreach { case (x, y) =>
      if (x.getDouble(3) == y.getDouble(3))
        assert(texts(x.getLong(0)) == texts(y.getLong(0)))
    }
  }

  test("random projection: exact integer coordinates on a known vector, " +
      "and genuine near-dups survive projection into the top ranks") {
    import graft.operators.Similarity
    import spark.implicits._
    // a vector already at int8 scale (maxabs = 127 → codes = values):
    // every projected coordinate must equal the hand-computed signed sum
    val v = Array.tabulate(8)(i => (i + 1).toFloat * 127f / 8f)
    val df = Seq((0L, v.toSeq)).toDF("vec_id", "embedding")
    val proj = Similarity.projectInt8(
      Similarity.quantizeInt8(df, "embedding"), m = 4)
      .select("proj").head().getSeq[Long](0)
    def sign(i: Int, j: Int): Long =
      if (((i + j * 64L) * 2654435761L) % 1000003L % 2L == 0L) 1L else -1L
    val codes = v.map(x => math.floor(x / 127.0 * 127.0 + 0.5).toLong)
    val expect = (0 until 4).map(j =>
      codes.indices.map(i => codes(i) * sign(i, j)).sum)
    assert(proj == expect, s"got $proj want $expect")
    // structure preservation: 3 slight perturbations of a base vector and
    // 60 unrelated random vectors — the perturbed ids must fill the
    // projected top-3 (near-dup cosines survive dimension reduction even
    // where noise-level rankings do not)
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    def perturbed(seed: Int) = {
      val r2 = new scala.util.Random(seed)
      base.map(x => x + r2.nextFloat() * 0.02f)
    }
    val rows = Seq((0L, base.toSeq)) ++
      (1 to 3).map(i => (i.toLong, perturbed(i).toSeq)) ++
      (4 to 63).map { i =>
        // ONE Random per decoy, hoisted out of the fill: Array.fill
        // re-evaluates its by-name argument per element, so the old
        // inline `new Random(seed).nextFloat()` made every decoy a
        // CONSTANT vector — 60 copies of one direction, not 60 random
        // distractors
        val r = new scala.util.Random(100 + i)
        (i.toLong, Array.fill(64)(r.nextFloat() * 2f - 1f).toSeq)
      }
    val e = rows.toDF("vec_id", "embedding")
    val p = Similarity.projectInt8(
      Similarity.quantizeInt8(e, "embedding"), m = 16)
      .select("vec_id", "proj")
    val q0 = p.filter(col("vec_id") === 0).select(col("proj").as("proj0"))
    val top = p.filter(col("vec_id") =!= 0).crossJoin(broadcast(q0))
      .select(col("vec_id"),
        (aggregate(zip_with(col("proj"), col("proj0"), (x, y) => x * y),
          lit(0L), (a, z) => a + z).cast("double")
          / (sqrt(aggregate(col("proj"), lit(0L), (a, x) => a + x * x)
              .cast("double"))
            * sqrt(aggregate(col("proj0"), lit(0L), (a, x) => a + x * x)
              .cast("double")))).as("s"))
      .orderBy(col("s").desc).limit(3).collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 2L, 3L), s"projected top-3 was $top")
  }

  test("ivf maintenance: appended index equals a same-centroid rebuild; " +
      "drift stays at the Lloyd floor when stationary and jumps under shift") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val cut = e.agg(max("vec_id")).head().getLong(0) / 2
    val old = e.filter(col("vec_id") <= cut)
    val fresh = e.filter(col("vec_id") > cut)
    val frozen = Ivf.trainCentroids(spark, old)
    val frozenLocal = spark.createDataFrame(
      java.util.Arrays.asList(frozen.collect(): _*), frozen.schema)
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    val appended = Ivf.appendIndex(Ivf.buildIndex(old, frozenLocal), fresh,
      frozenLocal).select("cell", "vec_id").collect().map(key).toSet
    val rebuilt = Ivf.buildIndex(e, frozenLocal)
      .select("cell", "vec_id").collect().map(key).toSet
    assert(appended == rebuilt && appended.size == e.count())
    // stationary floor: on the training data itself, drift equals the
    // pending Lloyd update (label-seeded centroids are not a fixpoint on
    // this isotropic corpus) — bounded, and the baseline for the shift leg
    val stat = Ivf.centroidDrift(spark, Ivf.buildIndex(old, frozenLocal),
      frozenLocal).collect()
    // every frozen cell is reported, populated cells carry a drift value
    assert(stat.length == frozenLocal.count())
    val statMax = stat.filter(!_.isNullAt(2)).map(_.getDouble(2)).max
    assert(stat.nonEmpty && statMax < 0.3, s"stationary drift $statMax")
    // a drained cell stays VISIBLE: drift against an index missing one
    // cell's members reports that cell with n_members = 0 and NULL drift
    val someCell = frozenLocal.select("cell").head().getString(0)
    val drained = Ivf.centroidDrift(spark,
      Ivf.buildIndex(old, frozenLocal).where(col("cell") =!= someCell),
      frozenLocal).collect()
    val deadRow = drained.find(_.getString(0) == someCell).get
    assert(deadRow.getLong(1) == 0L && deadRow.isNullAt(2),
      s"drained cell must surface: $deadRow")
    // distribution shift: the arriving batch concentrates near one fixed
    // direction (x*0.05 + 0.3 — a new domain, not isotropic noise); every
    // shifted vector lands in the cell nearest that direction and drags
    // its mean, and the readout must clearly separate from the floor
    val shifted = fresh
      .select(col("vec_id"), transform(col("embedding"),
        x => (x * lit(0.05) + lit(0.3)).cast("float")).as("embedding"))
    val grown = Ivf.appendIndex(Ivf.buildIndex(old, frozenLocal), shifted,
      frozenLocal)
    val drifted = Ivf.centroidDrift(spark, grown, frozenLocal).collect()
    val driftMax = drifted.filter(!_.isNullAt(2)).map(_.getDouble(2)).max
    assert(driftMax > statMax + 0.15 && driftMax > 0.4,
      s"max drift $driftMax vs stationary $statMax after adversarial shift")
  }

  test("pq: Lloyd training tightens reconstruction monotonically and beats " +
      "the arithmetic seed; planted near-dups survive quantization into " +
      "the ADC top ranks; encode plans map-only and drops malformed rows") {
    import graft.operators.Pq
    import graft.functions.{PqCodebook, PqCodec}
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def unit(x: Array[Float]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < x.length) { val v = x(i).toDouble; s += v * v; i += 1 }
      val n = math.sqrt(s); x.map(_.toDouble / n)
    }
    // reconstruction MSE from the engine's own codes (exact local math)
    def mse(cb: PqCodebook): Double = {
      val codes = Pq.encode(e, cb).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
      val errs = vecs.map { case (id, x) =>
        val v = unit(x)
        codes(id).zipWithIndex.map { case (code, sub) =>
          val c = cb.cents(sub * cb.ksub + code)
          (0 until cb.dsub).map { j =>
            val d = v(sub * cb.dsub + j) - c(j); d * d
          }.sum
        }.sum
      }
      errs.sum / errs.size
    }
    val seed = Pq.hashCodebook(m = 8, ksub = 16, dsub = 8)
    val cb1 = Pq.trainCodebook(spark, e, m = 8, ksub = 16, iters = 1)
    val cb3 = Pq.trainCodebook(spark, e, m = 8, ksub = 16, iters = 3)
    val (m0, m1, m3) = (mse(seed), mse(cb1), mse(cb3))
    info(f"reconstruction MSE: arithmetic seed $m0%.4f, 1 Lloyd $m1%.4f, 3 Lloyd $m3%.4f")
    assert(m1 < m0 * 0.5,
      s"one Lloyd round must beat the arithmetic seed decisively: $m1 vs $m0")
    assert(m3 <= m1 * 1.001, s"Lloyd must not regress: $m3 vs $m1")
    // ranking claim, pinned the way the JL-projection test pins it: on
    // the sf corpus every pairwise cosine is small and tightly bunched
    // (isotropic by design — max ~0.51), so top-10 membership there is
    // noise ANY lossy quantizer scrambles; what PQ must preserve is the
    // near-dup structure the pipeline actually hunts. Plant it: 3 tiny
    // perturbations of a base vector among 60 random ones — the trained
    // ADC top-3 must be exactly the planted near-dups
    val q = vecs(0L)
    val base = Array.tabulate(64)(i =>
      math.sin(i * 0.7).toFloat + (if (i % 3 == 0) 0.5f else -0.2f))
    def perturbed(seed: Int) = {
      val r = new scala.util.Random(seed)
      base.map(x => x + r.nextFloat() * 0.02f)
    }
    import spark.implicits._
    val planted = (Seq((0L, base.toSeq)) ++
      (1 to 3).map(i => (i.toLong, perturbed(i).toSeq)) ++
      (4 to 63).map { i =>
        val r = new scala.util.Random(100 + i) // hoisted: one RNG per decoy
        (i.toLong, Array.fill(64)(r.nextFloat() * 2f - 1f).toSeq)
      })
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val cbP = Pq.trainCodebook(spark, planted, m = 8, ksub = 16, iters = 3)
    val tab = Pq.adcTable(base, cbP)
    val top3 = Pq.encode(planted.filter(col("vec_id") =!= 0L), cbP)
      .select(col("vec_id"),
        PqCodec.pqAdc(col("codes"), tab, cbP.m, cbP.ksub).as("adist"))
      .orderBy(col("adist").asc, col("vec_id")).limit(3)
      .collect().map(_.getLong(0)).toSet
    assert(top3 == Set(1L, 2L, 3L),
      s"planted near-dups must survive quantization into the top ranks: $top3")
    // encode is ONE map-only pass: no Exchange in the plan
    val plan = Pq.encode(e, cb3).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode must not shuffle:\n${plan.take(1200)}")
    // malformed rows: wrong dimension drops (NULL codes), never crashes;
    // out-of-range codes yield NULL ADC
    import spark.implicits._
    val mixed = Seq((1L, Array(1f, 2f)), (2L, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    assert(Pq.encode(mixed, cb3).collect().map(_.getLong(0)).toSeq == Seq(2L))
    val badCodes = Seq((1L, Array.fill(8)(99))).toDF("vec_id", "codes")
    val adc = badCodes.select(PqCodec.pqAdc(col("codes"),
      Pq.adcTable(q, cb3), cb3.m, cb3.ksub).as("adist")).head()
    assert(adc.isNullAt(0), "out-of-range code must ADC to NULL")
    // zero-norm vectors drop from TRAINING too (the slices guard, same
    // contract as encode): a corpus containing an all-zero row trains to
    // a codebook with no NaN anywhere — before the guard the NaN slices
    // silently poisoned every centroid mean they touched
    val withZero = e.select("vec_id", "embedding").unionAll(
      Seq((999999L, Array.fill(64)(0f))).toDF("vec_id", "embedding"))
    val cbZ = Pq.trainCodebook(spark, withZero, m = 8, ksub = 16, iters = 1)
    assert(cbZ.cents.forall(_.forall(v => !v.isNaN && !v.isInfinite)),
      "a zero-norm training row must drop, not poison centroid means")
  }

  test("pq ivfadc composition: the cell prune in front of the ADC scan " +
      "equals the pure scan exactly under an exhaustive probe, and a " +
      "narrow probe stays within the probed cells") {
    import graft.operators.{Ivf, Pq}
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val cb = Pq.trainCodebook(spark, e, m = 8, ksub = 16, iters = 2)
    val nCells = Ivf.trainCentroids(spark, e).count().toInt
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pure = pairs(Pq.adcTopK(spark, sfDir, cb))
    val full = pairs(Pq.ivfAdcTopK(spark, sfDir, cb, nprobe = nCells))
    assert(full == pure,
      "exhaustive-probe IVFADC must equal the pure ADC scan value-exact")
    // narrow probe: never silently widens past the probed cells
    val narrow = Pq.ivfAdcTopK(spark, sfDir, cb, k = 5, nprobe = 2)
      .collect().map(_.getLong(0))
    assert(narrow.length == 5)
    val trained = Ivf.trainCentroids(spark, e)
    val local = spark.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)
    val cellOf = Ivf.buildIndex(e, local).select("cell", "vec_id")
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    assert(narrow.map(cellOf).toSet.size <= 2,
      s"results crossed the probed-cell boundary")
    // ADC+R: a shortlist covering the whole corpus makes the refine pass
    // THE exact ranking — value-equal to brute-force cosine top-k (same
    // fold, same tie-break); a tight shortlist still fills k rows,
    // exact-cosine ordered
    val n = e.count().toInt
    assert(pairs(Pq.adcRefineTopK(spark, sfDir, cb, refine = n)) ==
      pairs(graft.operators.Similarity.qL02(spark, sfDir)),
      "exhaustive-shortlist ADC+R must equal exact brute-force top-k")
    val tight = Pq.adcRefineTopK(spark, sfDir, cb, k = 5, refine = 2).collect()
    assert(tight.length == 5 &&
      tight.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("ivf buildIndex: the NearestCell codegen assignment equals the " +
      "window-rank reference it replaced, breaks ties to the smallest " +
      "cell, and plans with ZERO exchange") {
    import graft.operators.{Ivf, Similarity}
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val cents = Ivf.trainCentroids(spark, e)
    val local = spark.createDataFrame(
      java.util.Arrays.asList(cents.collect(): _*), cents.schema)
    val got = Ivf.buildIndex(e, local)
    // reference: the corpus × cells cross-join + window rank this replaced
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim").desc, col("cell"))
    val ref = e.crossJoin(broadcast(local))
      .withColumn("sim", Similarity.cosineSafe(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("cell", "vec_id")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    assert(got.select("cell", "vec_id").collect().map(key).toSet ==
      ref.collect().map(key).toSet,
      "map-only assignment must equal the window-rank reference")
    // assignment is map-only: no Exchange anywhere in the plan — the old
    // shape shuffled corpus × cells rows (embeddings included) per call
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"buildIndex must not shuffle:\n${plan.take(1500)}")
    // ties go to the smallest cell id (the window's ORDER BY sim DESC, cell)
    import spark.implicits._
    val dup = Seq(("b", Array(1f, 0f)), ("a", Array(1f, 0f)))
      .toDF("cell", "centroid")
    val vecs = Seq((1L, Array(0.5f, 0.5f)), (2L, Array(1f, 0.1f)))
      .toDF("vec_id", "embedding")
    assert(Ivf.buildIndex(vecs, dup).select("cell").collect()
      .map(_.getString(0)).toSeq == Seq("a", "a"))
    // no centroids → empty index, not a crash
    assert(Ivf.buildIndex(vecs, dup.limit(0)).count() == 0)
  }

  test("ivf store maintenance: stationary arrivals append without retrain; " +
      "drifted arrivals trigger a complete-version retrain swap that " +
      "restores assignment quality") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val cut = e.agg(max("vec_id")).head().getLong(0) / 2
    val old = e.filter(col("vec_id") <= cut)
    val mid = (cut + e.agg(max("vec_id")).head().getLong(0)) / 2
    val calmAll = e.filter(col("vec_id") > cut && col("vec_id") <= mid)
    val calmCut = (cut + mid) / 2
    val calmA = calmAll.filter(col("vec_id") <= calmCut)
    val calmB = calmAll.filter(col("vec_id") > calmCut)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Ivf.bootstrapStore(spark, old, dir)
    // stationary arrivals across TWO batches: drift stays at the Lloyd
    // floor, no retrain, serving version unchanged, and the serving index
    // is exactly bootstrap ∪ all appended batches (the r12 mixed-layout
    // regression silently dropped the bootstrap corpus after the first
    // append — this leg pins the union contract)
    val r1 = Ivf.maintainIndex(spark, dir, calmA, batchId = 1L,
      driftThreshold = 0.35)
    assert(!r1.retrained && r1.version == 0, s"$r1")
    assert(r1.maxDrift < 0.35)
    val r1b = Ivf.maintainIndex(spark, dir, calmB, batchId = 2L,
      driftThreshold = 0.35)
    assert(!r1b.retrained && r1b.version == 0, s"$r1b")
    val served1 = Ivf.servingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(served1.distinct.size == served1.size)
    assert(served1.size == old.count() + calmAll.count(),
      s"serving index must be bootstrap ∪ batches: ${served1.size}")
    assert(old.select("vec_id").collect().map(_.getLong(0))
      .forall(served1.contains), "bootstrap rows vanished from serving index")
    // a completed round REPLAYED (same batchId) is a no-op: no duplicate
    // rows, no second drift evaluation
    val replay = Ivf.maintainIndex(spark, dir, calmA, batchId = 1L,
      driftThreshold = 0.35)
    assert(!replay.retrained && replay.version == 0 && replay.maxDrift == 0.0)
    assert(Ivf.servingIndex(spark, dir).count() == served1.size.toLong)
    // drifted arrivals (the adversarial-shift recipe: a new tight domain
    // far from the training distribution): retrain must trigger, publish
    // version 1 with BOTH artifacts complete, and post-retrain drift must
    // fall back toward the Lloyd floor
    val shifted = e.filter(col("vec_id") > mid)
      .select(col("vec_id"), transform(col("embedding"),
        x => (x * lit(0.05) + lit(0.3)).cast("float")).as("embedding"))
    val r2 = Ivf.maintainIndex(spark, dir, shifted, batchId = 3L,
      driftThreshold = 0.35)
    assert(r2.retrained && r2.version == 1, s"$r2")
    assert(r2.maxDrift > 0.35)
    val postDrift = Ivf.centroidDrift(spark, Ivf.servingIndex(spark, dir),
        Ivf.servingCentroids(spark, dir)).collect()
      .filter(!_.isNullAt(2)).map(_.getDouble(2)).foldLeft(0.0)(math.max)
    assert(postDrift < r2.maxDrift - 0.05 && postDrift < 0.35,
      s"post-retrain drift $postDrift vs trigger ${r2.maxDrift}")
    // the new version serves the COMPLETE corpus exactly once, and the
    // superseded v0 is still intact on disk (readers mid-flight on the
    // old version finish against a whole index, never a mix)
    val served2 = Ivf.servingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(served2.distinct.size == served2.size && served2.size == e.count())
    assert(new java.io.File(s"$dir/v0/index").isDirectory &&
      new java.io.File(s"$dir/v0/centroids").isDirectory)
  }

  test("ivf store vacuum: superseded versions are removed only past the " +
      "retention window, the serving version and everything above it " +
      "survive, and the append-only flags stay put") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val cut = e.agg(max("vec_id")).head().getLong(0) / 2
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-vac").toString
    Ivf.bootstrapStore(spark, e.filter(col("vec_id") <= cut), dir)
    // the adversarial-shift recipe: force a retrain so v1 supersedes v0
    val shifted = e.filter(col("vec_id") > cut)
      .select(col("vec_id"), transform(col("embedding"),
        x => (x * lit(0.05) + lit(0.3)).cast("float")).as("embedding"))
    val r = Ivf.maintainIndex(spark, dir, shifted, batchId = 1L,
      driftThreshold = 0.35)
    assert(r.retrained && r.version == 1, s"$r")
    val servedBefore = Ivf.servingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    def ledger(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    // default retention (24h): v0 is superseded but fresh — kept
    assert(ledger(Ivf.vacuumStore(spark, dir)) ==
      Seq((0L, false), (1L, false)))
    assert(new java.io.File(s"$dir/v0/index").isDirectory)
    // a directory ABOVE serving (an in-flight staged rewrite) is never
    // touched, even at zero retention
    assert(new java.io.File(s"$dir/v2/index").mkdirs())
    // zero retention: v0 goes, serving and the staged dir stay
    assert(ledger(Ivf.vacuumStore(spark, dir, retainMs = 0L)) ==
      Seq((0L, true), (1L, false), (2L, false)))
    assert(!new java.io.File(s"$dir/v0").exists())
    assert(new java.io.File(s"$dir/v2/index").isDirectory)
    // the append-only flag invariant holds: _ready-0 is publication
    // history, and the store still resolves + serves version 1 intact
    assert(new java.io.File(s"$dir/_ready-0").isFile)
    val servedAfter = Ivf.servingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(servedAfter == servedBefore, "vacuum must not change serving")
    val q = e.filter(col("vec_id") === 0L).head().getSeq[Float](2).toArray
    assert(Ivf.annFromStore(spark, dir, q, k = 5, nprobe = 10).count() == 5)
    // re-vacuum is a no-op ledger over what remains
    assert(ledger(Ivf.vacuumStore(spark, dir, retainMs = 0L)) ==
      Seq((1L, false), (2L, false)))
    // the store keeps maintaining after a vacuum: a fresh append lands
    // in the serving version and the union contract still holds
    val r2 = Ivf.maintainIndex(spark, dir,
      e.filter(col("vec_id") <= 3).select("vec_id", "embedding"),
      batchId = 2L, driftThreshold = 10.0)
    assert(!r2.retrained && r2.version == 1, s"$r2")
    assert(Ivf.servingIndex(spark, dir).count() ==
      servedBefore.size.toLong + e.filter(col("vec_id") <= 3).count())
  }

  test("ivf store randomized lifecycle vs a model: any seeded sequence of " +
      "appends, deletes, re-ingests, compactions, forced retrains and " +
      "vacuums serves exactly the model's multiset after every step") {
    import graft.operators.Ivf
    // MODEL: a delete masks every copy of the id present when it lands
    // (as-of = max ingest batch at delete time, and every live copy's
    // effective batch is <= that by construction — rewrites collapse to
    // the watermark, never past the newest batch); a re-ingest AFTER the
    // delete serves. So per id, the serving copy count is the number of
    // ingests since its last delete. The store never dedups: two
    // ingests of one id without a delete between them serve twice.
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val embOf = e.collect().map(r => r.getLong(0) ->
      (r.get(1), r.getSeq[Float](2).toArray)).toMap
    val pool = embOf.keys.toSeq.sorted.take(60)
    def batchDf(ids: Seq[Long]) = {
      import spark.implicits._
      ids.map(id => (id, embOf(id)._2)).toDF("vec_id", "embedding")
    }
    // fixed seed in CI; sweep locally with GRAFT_MODEL_SEED=n
    val rnd = new scala.util.Random(
      sys.env.getOrElse("GRAFT_MODEL_SEED", "13").toLong)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-model").toString
    val boot = pool.take(20)
    Ivf.bootstrapStore(spark, e.filter(col("vec_id").isin(boot: _*)), dir)
    val model = scala.collection.mutable.Map[Long, Int]()
    boot.foreach(id => model(id) = 1)
    var ingestId = 0L
    var delId = 0L
    def liveIds = model.filter(_._2 > 0).keys.toSeq.sorted
    def check(step: String): Unit = {
      val served = Ivf.servingIndex(spark, dir)
        .groupBy("vec_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      val want = model.filter(_._2 > 0).toMap
      assert(served == want,
        s"after $step: served ${served.toSeq.sorted} != model ${want.toSeq.sorted}")
    }
    check("bootstrap")
    (1 to 14).foreach { step =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 =>       // append fresh + re-ingested ids
          val fresh = pool.filterNot(model.contains).take(rnd.nextInt(4))
          val re = rnd.shuffle(model.keys.toSeq.sorted) // incl. deleted ones
            .take(rnd.nextInt(3))
          val ids = (fresh ++ re).distinct
          if (ids.nonEmpty) {
            ingestId += 1
            Ivf.maintainIndex(spark, dir, batchDf(ids), ingestId,
              driftThreshold = 10.0)
            ids.foreach(id => model(id) = model.getOrElse(id, 0) + 1)
          }
        case 3 | 4 =>           // delete a random live subset
          val ids = rnd.shuffle(liveIds).take(1 + rnd.nextInt(3))
          if (ids.nonEmpty) {
            Ivf.deleteVectors(spark, dir, batchDf(ids).select("vec_id"), delId)
            delId += 1
            ids.foreach(id => model(id) = 0)
          }
        case 5 | 6 =>           // compaction (corpus rewrite, same centroids)
          Ivf.compactStore(spark, dir)
        case 7 =>               // forced retrain (any nonzero drift trips it)
          val ids = rnd.shuffle(liveIds).take(2)
          if (ids.nonEmpty) {
            ingestId += 1
            Ivf.maintainIndex(spark, dir, batchDf(ids), ingestId,
              driftThreshold = 1e-9)
            ids.foreach(id => model(id) = model.getOrElse(id, 0) + 1)
          }
        case 8 =>               // delete with a re-ingest + rewrite racing
          // MID-delete (the provenance interleaving): as-of is computed
          // before the hook, so the hook's re-ingest must serve and the
          // hook's compaction must not let the staged cover mask it
          val vics = rnd.shuffle(liveIds).take(1 + rnd.nextInt(2))
          if (vics.nonEmpty) {
            val re = rnd.shuffle((model.keys.toSeq ++ vics).distinct.sorted)
              .take(1 + rnd.nextInt(2))
            Ivf.interleaveAfterTombstoneWrite = { d =>
              Ivf.interleaveAfterTombstoneWrite = _ => ()
              ingestId += 1
              Ivf.maintainIndex(spark, d, batchDf(re), ingestId,
                driftThreshold = 10.0)
              Ivf.compactStore(spark, d)
            }
            try Ivf.deleteVectors(spark, dir,
              batchDf(vics).select("vec_id"), delId)
            finally Ivf.interleaveAfterTombstoneWrite = _ => ()
            delId += 1
            // model order mirrors the causal order: the delete covers
            // what existed at its as-of, THEN the re-ingest serves
            vics.foreach(id => model(id) = 0)
            re.foreach(id => model(id) = model.getOrElse(id, 0) + 1)
          }
        case _ =>               // vacuum at zero retention, mid-lifecycle
          Ivf.vacuumStore(spark, dir, retainMs = 0L)
      }
      check(s"step $step (op ${rnd.toString})")
    }
    // the store still answers after the whole gauntlet
    val q = embOf(pool.head)._2
    assert(Ivf.annFromStore(spark, dir, q, k = 3, nprobe = 10).count() == 3)
  }

  test("ivf store serving-read contract: a reader resolving versions at " +
      "ANY stage of an in-flight retrain sees a complete version") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rc").toString
    Ivf.bootstrapStore(spark, e, dir)
    val n = e.count()
    def servedComplete(): Unit = {
      val served = Ivf.servingIndex(spark, dir)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(served.distinct.size == served.size && served.size == n,
        s"reader saw an incomplete serving index: ${served.size} of $n")
    }
    // replicate maintainIndex's retrain publication stages ON DISK and
    // interleave a reader between every pair: the append-only `_ready-N`
    // flag is written LAST, so a reader listing flags mid-retrain must
    // resolve version 0 — whole — until the instant v1 is fully staged
    servedComplete() // stage 0: bootstrap only
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stage 1: v1/centroids written, no flag
    val c0 = spark.read.parquet(s"$dir/v0/centroids")
    c0.write.parquet(s"$dir/v1/centroids")
    servedComplete()
    // stage 2: v1/index partially written (one partition dir exists with
    // files, as a mid-write lister would observe), still no flag
    spark.read.parquet(s"$dir/v0/index").drop("ingest_batch")
      .limit(3).write.partitionBy("cell")
      .parquet(s"$dir/v1/index/ingest_batch=-1")
    servedComplete()
    // stage 3: v1 fully staged, flag not yet published — reader still on v0
    spark.read.parquet(s"$dir/v0/index").drop("ingest_batch")
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/v1/index/ingest_batch=-1")
    servedComplete()
    // stage 4: flag lands — the swap is atomic from the reader's view
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_ready-1"), true).close()
    servedComplete()
    assert(Ivf.servingCentroids(spark, dir).count() == c0.count())
  }

  test("ivf store ANN probe: cell partition pruning reaches the scan, " +
      "exhaustive probe equals brute force, narrow probe stays in-cell") {
    import graft.operators.{Ivf, Similarity}
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-ann").toString
    Ivf.bootstrapStore(spark, e, dir)
    val nCells = Ivf.servingCentroids(spark, dir).count().toInt
    val qEmb = e.filter(col("vec_id") === 0L).head()
      .getSeq[Float](2).toArray
    // exhaustive probe (nprobe = cells) == exact brute-force top-10
    val exact = e.crossJoin(broadcast(
        e.filter(col("vec_id") === 0L).select(col("embedding").as("q"))))
      .select(col("vec_id"),
        Similarity.cosineSafe(col("embedding"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    val full = Ivf.annFromStore(spark, dir, qEmb, k = 10, nprobe = nCells)
      .collect().map(_.getLong(0)).toSeq
    assert(full == exact, s"exhaustive store probe must be exact:\n$full\n$exact")
    // narrow probe: the non-probed cells' files must be PRUNED AT
    // PLANNING — the layout contract, pinned on the executed plan
    val narrow = Ivf.annFromStore(spark, dir, qEmb, k = 5, nprobe = 2)
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(2000))
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty,
      "cell predicate must be a partition filter, not a post-scan one: " +
        plan.take(2000))
    val got = narrow.collect()
    assert(got.length == 5)
    // every returned vec lives in one of the 2 probed cells (the probe
    // never silently widened), and the scanned row count is cell-bounded
    val served = Ivf.servingIndex(spark, dir)
    val cellOf = served.collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    val probed = got.map(r => cellOf(r.getLong(0))).toSet
    assert(probed.size <= 2, s"results from ${probed.size} cells: $probed")
  }

  test("ivf store deletes + compaction: tombstones leave serving " +
      "immediately and replay as no-ops; compaction folds O(batches) " +
      "partitions into O(cells) files, physically drops deletes, and the " +
      "compacted store still probes pruned and maintains") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val cut = maxId / 2
    val mid = (cut + maxId) / 2
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString
    Ivf.bootstrapStore(spark, e.filter(col("vec_id") <= cut), dir)
    Ivf.maintainIndex(spark, dir,
      e.filter(col("vec_id") > cut && col("vec_id") <= mid), batchId = 1L,
      driftThreshold = 0.9)
    Ivf.maintainIndex(spark, dir, e.filter(col("vec_id") > mid),
      batchId = 2L, driftThreshold = 0.9)
    val n = e.count()
    assert(Ivf.servingIndex(spark, dir).count() == n)
    def partFiles(path: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.startsWith("part-")) 1 else 0
      walk(new java.io.File(path))
    }
    val filesBefore = partFiles(s"$dir/v0/index")
    // delete one bootstrap-era and one appended vector; the first
    // victim's own embedding is the strongest possible query against it
    // (self-similarity 1.0 — if anything still serves it, ANN will)
    val victims = Seq(0L, cut + 1)
    val vEmb = e.filter(col("vec_id") === victims.head).head()
      .getSeq[Float](2).toArray
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id").isin(victims: _*)).select("vec_id"),
      delBatchId = 1L)
    val served = Ivf.servingIndex(spark, dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(served.size == n - 2 && victims.forall(!served.contains(_)))
    val nCells = Ivf.servingCentroids(spark, dir).count().toInt
    val ann = Ivf.annFromStore(spark, dir, vEmb, k = 10, nprobe = nCells)
      .collect().map(_.getLong(0))
    assert(!ann.contains(victims.head),
      "a deleted vector must be unservable the moment the delete lands")
    // replay of a COMPLETED delete batch (same id, different payload) is
    // a no-op: the would-be second victim stays served
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === 5L).select("vec_id"), delBatchId = 1L)
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === 5L).count() == 1)
    // compact: layout changes, the serving view does not
    val before = Ivf.servingIndex(spark, dir).select("cell", "vec_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(Ivf.compactStore(spark, dir) == 1L)
    val after = Ivf.servingIndex(spark, dir).select("cell", "vec_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before, "compaction must preserve the serving view")
    // physical: deleted rows are GONE from the raw files (not merely
    // filtered), no tombstones carry over, and the file count collapsed
    // from O(batches x tasks x cells) to exactly cells (filesPerCell=1)
    val raw1 = spark.read.parquet(s"$dir/v1/index")
    assert(raw1.filter(col("vec_id").isin(victims: _*)).count() == 0)
    assert(raw1.select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(-1L))
    assert(!new java.io.File(s"$dir/v1/tombstones").exists())
    val filesAfter = partFiles(s"$dir/v1/index")
    assert(filesAfter == nCells && filesAfter < filesBefore,
      s"$filesBefore files -> $filesAfter, cells = $nCells")
    assert(new java.io.File(s"$dir/v0/index").isDirectory) // readers mid-flight
    // the compacted store is a first-class store: the probe still prunes
    // at planning, and maintenance appends still union in (re-ingesting
    // a previously deleted id makes it servable again)
    val plan = Ivf.annFromStore(spark, dir, vEmb, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty,
      plan.take(2000))
    val r = Ivf.maintainIndex(spark, dir,
      e.filter(col("vec_id") === victims.head), batchId = 3L,
      driftThreshold = 0.9)
    assert(!r.retrained && r.version == 1L)
    assert(Ivf.servingIndex(spark, dir).count() == n - 1)
  }

  test("ivf store delete then re-ingest in the SAME version: the as-of " +
      "tombstone masks only pre-delete batches, so the re-upload serves " +
      "immediately and survives the next rewrite") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val cut = maxId / 2
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rein").toString
    Ivf.bootstrapStore(spark, e.filter(col("vec_id") <= cut), dir)
    Ivf.maintainIndex(spark, dir, e.filter(col("vec_id") > cut),
      batchId = 1L, driftThreshold = 0.9)
    val victims = Seq(0L, 3L)
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id").isin(victims: _*)).select("vec_id"),
      delBatchId = 7L)
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id").isin(victims: _*)).count() == 0)
    // the right-to-be-forgotten re-upload: one victim arrives again in a
    // NEW batch of the same version — it must serve (a bare vec_id
    // anti-join would silently unserve it forever), the other must not
    Ivf.maintainIndex(spark, dir, e.filter(col("vec_id") === victims.head),
      batchId = 2L, driftThreshold = 0.9)
    val served = Ivf.servingIndex(spark, dir)
      .filter(col("vec_id").isin(victims: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(served == Seq(victims.head),
      s"re-ingested victim must serve, the other must not: $served")
    val vEmb = e.filter(col("vec_id") === victims.head).head()
      .getSeq[Float](2).toArray
    val nCells = Ivf.servingCentroids(spark, dir).count().toInt
    assert(Ivf.annFromStore(spark, dir, vEmb, k = 3, nprobe = nCells)
      .collect().map(_.getLong(0)).contains(victims.head),
      "ANN must see the re-ingested vector")
    // ... and the next PHYSICAL rewrite keeps the re-upload while
    // dropping the still-deleted victim (the rewrite builds from the
    // as-of-filtered serving view, not a mask-everything id ban)
    val v1 = Ivf.compactStore(spark, dir)
    val raw = spark.read.parquet(s"$dir/v$v1/index")
    assert(raw.filter(col("vec_id") === victims.head).count() == 1)
    assert(raw.filter(col("vec_id") === victims(1)).count() == 0)
    // a delete AFTER the re-ingest removes the re-uploaded copy too
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === victims.head).select("vec_id"),
      delBatchId = 8L)
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === victims.head).count() == 0)
  }

  test("ivf store delete racing a rewrite: the staging protocol tombstones " +
      "the staged version, carry-forward covers a deleter that crashed " +
      "early, and a stale staged tombstone never masks a re-ingest") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 60)
    val n = e.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-race").toString
    Ivf.bootstrapStore(spark, e, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a rewrite opens: the staging flag is announced BEFORE its snapshot
    val consumed = Ivf.beginRewrite(spark, dir, 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_staging-1")))
    // ... and stages v1 from that (pre-delete) snapshot: a full copy
    spark.read.parquet(s"$dir/v0/centroids").write.parquet(s"$dir/v1/centroids")
    spark.read.parquet(s"$dir/v0/index").drop("ingest_batch")
      .write.partitionBy("cell").parquet(s"$dir/v1/index/ingest_batch=-1")
    // a delete lands MID-REWRITE: the deleter sees the staging flag and
    // tombstones the staged version too, masking only its rewrite
    // partition (as_of = -1)
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === 1L).select("vec_id"), delBatchId = 1L)
    val staged = spark.read.parquet(s"$dir/v1/tombstones")
    assert(staged.select("vec_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(staged.select(col("as_of").cast("long")).head().getLong(0) == -1L)
    // a SECOND deleter crashes after its current-version write but before
    // its staged-version write — the rewrite's pre-publish carry-forward
    // must cover it
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === 2L).select("vec_id"), delBatchId = 2L)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/v1/tombstones/del_batch=2"), true) // simulate the crash
    Ivf.finishRewrite(spark, dir, 0L, consumed)
    val servedSet = Ivf.servingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!servedSet.contains(1L) && !servedSet.contains(2L),
      "both mid-rewrite deletes must hold in the published version")
    assert(servedSet.size == n - 2)
    // the staged tombstones mask only the rewrite: a later re-ingest serves
    Ivf.maintainIndex(spark, dir, e.filter(col("vec_id") === 1L),
      batchId = 9L, driftThreshold = 2.1)
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === 1L).count() == 1)
    // an ABORTED earlier rewrite attempt left stale tombstones staged at
    // v2; the next real rewrite must clear them, or they would mask its
    // rewrite of the re-ingested row
    e.filter(col("vec_id") === 1L).select("vec_id")
      .withColumn("as_of", lit(-1L))
      .write.parquet(s"$dir/v2/tombstones/del_batch=1")
    assert(Ivf.compactStore(spark, dir) == 2L)
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === 1L).count() == 1,
      "a stale staged tombstone from an aborted rewrite masked a re-ingest")
  }

  test("ivf store re-ingest racing a delete AND a rewrite: per-row " +
      "provenance through the collapse keeps the exact-as-of tombstone " +
      "from masking the re-upload — the formerly documented residual " +
      "window, closed") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-prov").toString
    Ivf.bootstrapStore(spark, e.filter(col("vec_id") < 40), dir)
    Ivf.maintainIndex(spark, dir, e.filter(col("vec_id") >= 40),
      batchId = 5L, driftThreshold = 2.1)
    // THE interleaving the pre-provenance protocol could not serve
    // correctly (Ivf.scala used to document it as the one residual
    // window): the deleter computes as-of 5 and writes v0's tombstone;
    // BEFORE its staged-cover step, a re-ingest of the victim lands
    // (batch 6) and a full compaction collapses it into v1's -1
    // partition (watermark 6); the deleter then resumes against the
    // published v1. The old max(asOf, watermark) cover masked the
    // collapsed re-ingest (effective id = watermark = 6 <= 6); with
    // orig_batch provenance the collapsed row keeps its own id 6 > 5
    // and the byte-identical as-of-5 tombstone spares it.
    val victim = 7L
    var fired = 0
    Ivf.interleaveAfterTombstoneWrite = { d =>
      fired += 1
      Ivf.interleaveAfterTombstoneWrite = _ => () // nested ops: no recursion
      Ivf.maintainIndex(spark, d, e.filter(col("vec_id") === victim),
        batchId = 6L, driftThreshold = 2.1)
      Ivf.compactStore(spark, d)
    }
    try Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === victim).select("vec_id"), delBatchId = 11L)
    finally Ivf.interleaveAfterTombstoneWrite = _ => ()
    assert(fired == 1, "the interleave hook must drive the schedule")
    // the staged cover recorded the EXACT as-of (5) — not the watermark
    // (6) the old rule would have written and masked with
    val staged = spark.read.parquet(s"$dir/v1/tombstones/del_batch=11")
    assert(staged.select(col("as_of").cast("long")).head().getLong(0) == 5L,
      "staged tombstone must carry the delete's own as-of")
    // the collapsed -1 partition carries per-row provenance: the
    // re-ingest kept batch 6, the collapsed pre-delete mass its own ids
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/v1/index")
    assert(raw.columns.contains("orig_batch"))
    assert(raw.filter(col("vec_id") === victim)
      .select(col("orig_batch").cast("long")).head().getLong(0) == 6L,
      "the collapsed re-ingest must keep its own batch id")
    // the re-ingested victim SERVES in the published version (pre-fix:
    // masked and then physically dropped at the next rewrite), exactly
    // once — its pre-delete copy is gone
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === victim).count() == 1,
      "the staged tombstone masked the collapsed re-ingest")
    assert(Ivf.servingIndex(spark, dir).count() == e.count(),
      "only the victim's pre-delete copy may be dropped")
    // a delete AFTER the dust settles still removes the re-upload, and
    // the NEXT rewrite keeps masking exactly (provenance survives
    // chained collapses)
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === victim).select("vec_id"), delBatchId = 12L)
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === victim).count() == 0)
    Ivf.compactStore(spark, dir)
    assert(Ivf.servingIndex(spark, dir).count() == e.count() - 1)
  }

  test("ivf store mixed-version cover: a staged version collapsed by " +
      "PRE-provenance rewriter code (no orig_batch) gets the old " +
      "max(asOf, watermark) tombstone, so the delete takes effect " +
      "instead of silently failing") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-legacy").toString
    Ivf.bootstrapStore(spark, e.filter(col("vec_id") < 40), dir)
    Ivf.maintainIndex(spark, dir, e.filter(col("vec_id") >= 40),
      batchId = 5L, driftThreshold = 2.1)
    val victim = 7L
    // the provenance-race schedule, but the racing rewriter is OLD code:
    // after it collapses everything into v1's -1 partition, strip
    // orig_batch to reproduce pre-provenance rewriter output
    Ivf.interleaveAfterTombstoneWrite = { d =>
      Ivf.interleaveAfterTombstoneWrite = _ => ()
      Ivf.maintainIndex(spark, d, e.filter(col("vec_id") === victim),
        batchId = 6L, driftThreshold = 2.1)
      Ivf.compactStore(spark, d)
      val p = s"$d/v1/index/ingest_batch=-1"
      val stripped = spark.read.parquet(p).drop("orig_batch")
        .localCheckpoint(true)
      stripped.write.mode("overwrite").parquet(p)
    }
    try Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === victim).select("vec_id"), delBatchId = 21L)
    finally Ivf.interleaveAfterTombstoneWrite = _ => ()
    // v0's tombstone keeps the exact as-of (5); the LEGACY staged cover
    // falls back to the watermark (6) — an exact-as-of cover against a
    // provenance-less collapse (every row's effective id = watermark =
    // 6 > 5) would mask NOTHING and the delete would silently fail
    assert(spark.read.parquet(s"$dir/v0/tombstones/del_batch=21")
      .select(col("as_of").cast("long")).head().getLong(0) == 5L)
    assert(spark.read.parquet(s"$dir/v1/tombstones/del_batch=21")
      .select(col("as_of").cast("long")).head().getLong(0) == 6L,
      "legacy collapsed partition must get the max(asOf, watermark) cover")
    // the delete HOLDS in the published version. The collapsed re-ingest
    // is over-masked too — exactly the old rule's documented behavior,
    // never worse; with provenance-aware rewriters the exact-as-of path
    // (previous spec) spares it
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === victim).count() == 0,
      "pre-delete rows escaped the legacy staged cover")
    assert(Ivf.servingIndex(spark, dir).count() == e.count() - 1)
  }

  test("ivf store append racing a rewrite: a batch landing mid-rewrite " +
      "reaches the new version via the appender's staged write OR the " +
      "rewrite's carry-forward, and the batch-flag replay no-op is safe") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 80)
    val cut = 59L
    val base = e.filter(col("vec_id") <= cut)
    val batch = e.filter(col("vec_id") > cut)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-apprace").toString
    Ivf.bootstrapStore(spark, base, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a compaction opens (ticket + watermark) and stages its centroids
    val ticket = Ivf.beginRewrite(spark, dir, 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v1/_watermark--1")))
    spark.read.parquet(s"$dir/v0/centroids").write.parquet(s"$dir/v1/centroids")
    // an append lands MID-REWRITE: batch 5 > watermark -1 and the staged
    // centroids are readable, so the appender covers the staged version
    val r = Ivf.maintainIndex(spark, dir, batch, batchId = 5L,
      driftThreshold = 2.1)
    assert(!r.retrained && r.version == 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/v1/index/ingest_batch=5")),
      "appender must stage its batch into the in-flight version")
    // ... the rewrite completes from its TICKET snapshot (which excludes
    // batch 5 by construction) and publishes
    spark.read.parquet(s"$dir/v0/index/ingest_batch=-1").drop("ingest_batch")
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/v1/index/ingest_batch=-1")
    Ivf.finishRewrite(spark, dir, 0L, ticket)
    val served = Ivf.servingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served.size == e.count(),
      s"published version must hold bootstrap + the racing batch: ${served.size}")
    assert(batch.select("vec_id").collect().map(_.getLong(0)).forall(served),
      "the racing batch's vectors vanished from the new version")
    // the batch flag makes the replay a no-op — SAFE only because the
    // batch already lives in the published version
    val replay = Ivf.maintainIndex(spark, dir, batch, batchId = 5L,
      driftThreshold = 2.1)
    assert(!replay.retrained && replay.maxDrift == 0.0)
    assert(Ivf.servingIndex(spark, dir).count() == e.count())
    // CARRY-FORWARD half: a second rewrite opens, another batch lands but
    // its staged write "crashed" (simulated by deleting it) — the
    // rewrite's finish must carry the batch into the new version
    val more = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding")
      .filter(col("vec_id") >= 80 && col("vec_id") < 100)
    val t2 = Ivf.beginRewrite(spark, dir, 1L)
    spark.read.parquet(s"$dir/v1/centroids").write.parquet(s"$dir/v2/centroids")
    // the rewrite stages its collapsed index from the TICKET's batches
    // (batch 6 has not landed yet, so a plain read is that snapshot)
    spark.read.parquet(s"$dir/v1/index").drop("ingest_batch")
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/v2/index/ingest_batch=-1")
    Ivf.maintainIndex(spark, dir, more, batchId = 6L, driftThreshold = 2.1)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/v2/index/ingest_batch=6"), true) // simulate the crash
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/v2/cellstats/ingest_batch=6"), true)
    Ivf.finishRewrite(spark, dir, 1L, t2)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/v2/index/ingest_batch=6")),
      "finishRewrite must carry a post-snapshot batch forward")
    assert(Ivf.servingIndex(spark, dir).count() == e.count() + more.count())
  }

  test("ivf store delete replay reuses its original as-of: a crash before " +
      "the _del flag cannot raise the mask past a re-ingest that landed " +
      "in between") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 50)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-replay").toString
    Ivf.bootstrapStore(spark, e.filter(col("vec_id") < 40), dir)
    Ivf.maintainIndex(spark, dir,
      e.filter(col("vec_id") >= 40), batchId = 1L, driftThreshold = 2.1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === 7L).select("vec_id"), delBatchId = 3L)
    // crash AFTER the tombstone write, BEFORE the flag
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_del-3"), false)
    // a re-ingest of the victim lands before the delete is replayed
    Ivf.maintainIndex(spark, dir, e.filter(col("vec_id") === 7L),
      batchId = 2L, driftThreshold = 2.1)
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === 7L).count() == 1)
    // the replay must reuse as_of = 1 (the original attempt's position),
    // not recompute 2 — recomputing would silently unserve the re-upload
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === 7L).select("vec_id"), delBatchId = 3L)
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === 7L).count() == 1,
      "a replayed delete recomputed its as-of and masked a later re-ingest")
    // the REWRITE-INTERVENING half (r14, review finding): another delete
    // crashes before its flag, its victim is re-ingested, and a
    // COMPACTION runs before the replay — the rewrite applied the
    // crashed tombstone physically (it was in the ticket listing), so
    // the new version has NO del_batch partition to reuse and a
    // tombstone-only guard would recompute a HIGHER as-of and mask the
    // collapsed re-ingest. The store-root _delmeta marker is what the
    // replay must fall back on.
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === 9L).select("vec_id"), delBatchId = 4L)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_del-4"), false) // crash
    Ivf.maintainIndex(spark, dir, e.filter(col("vec_id") === 9L),
      batchId = 3L, driftThreshold = 2.1) // re-ingest lands
    Ivf.compactStore(spark, dir) // tombstone applied + dropped
    assert(!new java.io.File(s"$dir/v1/tombstones/del_batch=4").exists(),
      "precondition: the rewrite must leave no partition to reuse")
    Ivf.deleteVectors(spark, dir, // the replay
      e.filter(col("vec_id") === 9L).select("vec_id"), delBatchId = 4L)
    assert(Ivf.servingIndex(spark, dir)
      .filter(col("vec_id") === 9L).count() == 1,
      "a replay after an intervening rewrite recomputed its as-of and " +
        "masked the collapsed re-ingest")
  }

  test("ivf store mixed tombstone schemas: legacy del batches (no as_of) " +
      "keep mask-everything semantics beside new as-of batches, and " +
      "neither corrupts the other") {
    import graft.operators.Ivf
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 50)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-legacy").toString
    Ivf.bootstrapStore(spark, e, dir)
    // a LEGACY delete: vec_id-only parquet, written by the pre-as_of code
    Seq(11L).toDF("vec_id").write
      .parquet(s"$dir/v0/tombstones/del_batch=0")
    // a NEW delete through the API
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === 12L).select("vec_id"), delBatchId = 1L)
    val served = Ivf.servingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!served.contains(11L) && !served.contains(12L),
      s"both delete generations must mask: $served")
    // re-ingests: the NEW delete spares its re-upload (as_of rule); the
    // LEGACY one keeps the mask-everything semantics it was written under
    Ivf.maintainIndex(spark, dir,
      e.filter(col("vec_id").isin(11L, 12L)), batchId = 1L,
      driftThreshold = 2.1)
    val after = Ivf.servingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(after.contains(12L), "as-of delete must spare the re-ingest")
    assert(!after.contains(11L), "legacy delete must keep masking")
  }

  test("ivf store maximal delete: compacting a fully-tombstoned version " +
      "publishes an EMPTY serving version that still reads, probes, and " +
      "accepts appends") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 40)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
    Ivf.bootstrapStore(spark, e, dir)
    val qEmb = e.filter(col("vec_id") === 0L).head().getSeq[Float](2).toArray
    Ivf.deleteVectors(spark, dir, e.select("vec_id"), delBatchId = 1L)
    assert(Ivf.servingIndex(spark, dir).count() == 0)
    // the compaction of an all-deleted version writes an index directory
    // with ZERO data files — it must publish and read back as empty, not
    // wedge on schema inference
    assert(Ivf.compactStore(spark, dir) == 1L)
    assert(Ivf.servingIndex(spark, dir).count() == 0)
    assert(Ivf.annFromStore(spark, dir, qEmb, k = 5, nprobe = 2).count() == 0)
    // a degenerate probe fails loudly, not with an opaque empty-reduce
    intercept[IllegalArgumentException] {
      Ivf.annFromStore(spark, dir, qEmb, k = 5, nprobe = 0)
    }
    // the empty version is a first-class store: appends repopulate it
    val small = e.filter(col("vec_id") < 10)
    val r = Ivf.maintainIndex(spark, dir, small, batchId = 2L,
      driftThreshold = 2.1)
    assert(!r.retrained && r.version == 1L)
    assert(Ivf.servingIndex(spark, dir).count() == small.count())
    val nCells = Ivf.servingCentroids(spark, dir).count().toInt
    assert(Ivf.annFromStore(spark, dir, qEmb, k = 3, nprobe = nCells)
      .count() == 3)
  }

  test("ivf store PQ serving: enablePq rewrites the corpus with codes, " +
      "annPqFromStore matches the trained quantizer exactly while " +
      "reading ONLY (vec_id, codes), and appends/deletes/compactions " +
      "keep the codebook and codes flowing") {
    import graft.operators.{Ivf, Pq}
    import graft.functions.PqCodec
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 80)
    val base = e.filter(col("vec_id") < 60)
    val batch = e.filter(col("vec_id") >= 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-pq").toString
    Ivf.bootstrapStore(spark, base, dir)
    assert(Ivf.enablePq(spark, dir, m = 8, ksub = 16, iters = 2) == 1L)
    val cb = Ivf.codebookOf(spark, dir, 1L).get
    val qEmb = e.filter(col("vec_id") === 0L).head().getSeq[Float](2).toArray
    val nCells = Ivf.servingCentroids(spark, dir).count().toInt
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // exhaustive-probe store ADC == the pure trained-quantizer ranking
    // over the same serving corpus, value-exact
    def reference(k: Int) = pairs(
      Pq.encode(Ivf.servingIndex(spark, dir), cb)
        .select(col("vec_id"), PqCodec.pqAdc(col("codes"),
          Pq.adcTable(qEmb, cb), cb.m, cb.ksub).as("adist"))
        .orderBy(col("adist").asc, col("vec_id")).limit(k))
    assert(pairs(Ivf.annPqFromStore(spark, dir, qEmb, k = 10,
      nprobe = nCells)) == reference(10))
    // the compressed read touches codes, never embeddings: ReadSchema
    // must exclude the embedding column (columnar pruning is the point)
    val plan = Ivf.annPqFromStore(spark, dir, qEmb, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty,
      plan.take(1500))
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("embedding")),
      s"ADC scan must not read embeddings: $readSchemas")
    // IVFADC+R: with the shortlist covering the whole probed corpus the
    // refine pass IS the exact ranking — value-equal to annFromStore
    // under the same probe (same cosine, same tie-break)
    val nServe = Ivf.servingIndex(spark, dir).count().toInt
    assert(pairs(Ivf.annPqRefined(spark, dir, qEmb, k = 10,
        nprobe = nCells, refine = nServe)) ==
      pairs(Ivf.annFromStore(spark, dir, qEmb, k = 10, nprobe = nCells)),
      "exhaustive refine must equal the exact serving path")
    // a tight shortlist still fills k rows, exact-cosine ranked
    val tight = Ivf.annPqRefined(spark, dir, qEmb, k = 5, nprobe = nCells,
      refine = 2).collect()
    assert(tight.length == 5 &&
      tight.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
    // appends encode against the version's codebook and serve via ADC
    Ivf.maintainIndex(spark, dir, batch, batchId = 1L, driftThreshold = 2.1)
    val q70 = e.filter(col("vec_id") === 70L).head().getSeq[Float](2).toArray
    assert(Ivf.annPqFromStore(spark, dir, q70, k = 3, nprobe = nCells)
      .collect().map(_.getLong(0)).contains(70L),
      "an appended vector must be servable through ADC")
    // deletes leave ADC immediately
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") === 70L).select("vec_id"), delBatchId = 9L)
    assert(!Ivf.annPqFromStore(spark, dir, q70, k = 10, nprobe = nCells)
      .collect().map(_.getLong(0)).contains(70L))
    // compaction carries codebook + codes; ADC keeps serving
    assert(Ivf.compactStore(spark, dir) == 2L)
    assert(Ivf.codebookOf(spark, dir, 2L).nonEmpty,
      "the codebook must ride the rewrite")
    val raw2 = spark.read.parquet(s"$dir/v2/index")
    assert(raw2.columns.contains("codes") &&
      raw2.filter(col("codes").isNull).count() == 0,
      "every compacted row must carry codes")
    assert(Ivf.annPqFromStore(spark, dir, qEmb, k = 10, nprobe = nCells)
      .collect().map(_.getLong(0)).nonEmpty)
    // the operability readout reflects the lifecycle just exercised:
    // three published versions, PQ from v1 on, the delete recorded
    // against v1 and drained by v2, and v2's watermark covering batch 1
    val d = Ivf.describeStore(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(d.keySet == Set(0L, 1L, 2L))
    assert(Seq(0L, 1L, 2L).forall(v => d(v).getBoolean(1)), "all published")
    assert(!d(0L).getBoolean(7) && d(1L).getBoolean(7) && d(2L).getBoolean(7),
      "pq_enabled must flip at the enablePq rewrite")
    assert(d(1L).getLong(5) == 1L && d(2L).getLong(5) == 0L,
      "the delete lives on v1 and is drained by v2")
    assert(d(2L).getLong(3) == 1L,
      s"v2's watermark must cover batch 1: ${d(2L)}")
  }

  test("ivf store incremental drift: the cellstats merge equals the " +
      "corpus-scan readout on an append-only history, self-heals a " +
      "legacy store, ignores tombstones until compaction restores " +
      "exactness") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val cut = maxId / 2
    val m1 = cut + (maxId - cut) / 3
    val m2 = cut + 2 * (maxId - cut) / 3
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString
    Ivf.bootstrapStore(spark, e.filter(col("vec_id") <= cut), dir)
    Ivf.maintainIndex(spark, dir,
      e.filter(col("vec_id") > cut && col("vec_id") <= m1), batchId = 1L,
      driftThreshold = 0.9)
    Ivf.maintainIndex(spark, dir,
      e.filter(col("vec_id") > m1 && col("vec_id") <= m2), batchId = 2L,
      driftThreshold = 0.9)
    def exactMax(): Double = Ivf.centroidDrift(spark,
        Ivf.servingIndex(spark, dir), Ivf.servingCentroids(spark, dir))
      .collect().filter(!_.isNullAt(2)).map(_.getDouble(2))
      .foldLeft(0.0)(math.max)
    val inc = Ivf.incrementalMaxDrift(spark, dir, 0L)
    assert(math.abs(inc - exactMax()) < 1e-6,
      s"incremental $inc vs corpus-scan ${exactMax()}")
    assert(inc > 0.0, "a drift of exactly 0 would mean the stats merged nothing")
    // self-heal: a store with no stats sidecar (pre-sidecar layout) gets
    // reseeded by the next append — and a TORN heal (the directory exists
    // from a crashed mid-write attempt but holds no committed stats) must
    // be re-healed, not trusted: the health probe is the bootstrap
    // partition's _SUCCESS marker, not bare directory existence
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v0/cellstats"), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$dir/v0/cellstats/ingest_batch=-1")) // torn: dir, no _SUCCESS
    val r = Ivf.maintainIndex(spark, dir,
      e.filter(col("vec_id") > m2), batchId = 3L, driftThreshold = 0.9)
    assert(!r.retrained)
    assert(math.abs(r.maxDrift - exactMax()) < 1e-6,
      s"post-heal drift ${r.maxDrift} vs corpus-scan ${exactMax()}")
    // deletes leave the sidecar untouched (drift stale by the deleted
    // mass, by contract) ...
    Ivf.deleteVectors(spark, dir,
      e.filter(col("vec_id") % 7 === 0).select("vec_id"), delBatchId = 1L)
    assert(Ivf.incrementalMaxDrift(spark, dir, 0L) == r.maxDrift,
      "a delete must not touch the stats sidecar")
    // ... and the compaction rewrite restores exact stats over the
    // tombstone-filtered corpus
    val v1 = Ivf.compactStore(spark, dir)
    assert(math.abs(Ivf.incrementalMaxDrift(spark, dir, v1) - exactMax()) < 1e-6)
  }

  test("scalegen media corpus: the banded audio/video near-dup joins " +
      "recover every recoverable planted duplicate and nothing unrelated") {
    import graft.tools.ScaleGen
    import graft.operators.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("graft-media").toString
    val n = 600L
    ScaleGen.generateMedia(spark, dir, n)
    val media = spark.read.parquet(s"$dir/media.parquet")
    assert(media.count() == n)
    def root(id: Long): Long = ScaleGen.mediaDupOf(42L, id) match {
      case Some((b, _)) => root(b)
      case None         => id
    }
    val planted = (0L until n).flatMap(id =>
      ScaleGen.mediaDupOf(42L, id).map { case (b, e) =>
        (b, id, e, ScaleGen.mediaFormat(42L, id)) })
    val wavPlanted = planted.filter(_._4 == "wav")
    val mp4Planted = planted.filter(_._4 == "mp4")
    assert(wavPlanted.nonEmpty && mp4Planted.nonEmpty,
      s"seed 42 must plant both modalities at n=$n: $planted")
    // ---- audio: the ~n/40 edit window touches <= 2 of the 33 energy
    // frames, so <= 3 gradient bits flip — structurally INSIDE the
    // join's default Hamming radius: recall of planted pairs must be
    // total, and every recovered pair must lie within one content chain
    val audio = Multimodal.audioNearDupPairs(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(audio.forall { case (a, b) => root(a) == root(b) },
      s"unrelated audio pair leaked: ${audio.filterNot { case (a, b) => root(a) == root(b) }}")
    wavPlanted.foreach { case (b, id, exact, _) =>
      val pair = (math.min(b, id), math.max(b, id))
      assert(audio.contains(pair),
        s"planted ${if (exact) "exact" else "near"} audio dup $pair missed")
    }
    // ---- video: a ~10% trim keeps Jaccard >= 0.8 except for tiny base
    // chains (2..4 frames, where one dropped frame alone breaks 0.8) —
    // those are structurally unrecoverable at the default threshold and
    // excluded; everything else must be recovered, nothing unrelated
    val video = Multimodal.videoNearDupPairs(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(video.forall { case (a, b) => root(a) == root(b) },
      s"unrelated video pair leaked: ${video.filterNot { case (a, b) => root(a) == root(b) }}")
    val recoverable = mp4Planted.filter { case (b, id, exact, _) =>
      val nfB = ScaleGen.mp4SpecOf(42L, b)._2
      val nfId = ScaleGen.mp4SpecOf(42L, id)._2
      exact || nfId.toDouble / nfB.toDouble >= 0.8
    }
    assert(recoverable.nonEmpty)
    recoverable.foreach { case (b, id, exact, _) =>
      val pair = (math.min(b, id), math.max(b, id))
      assert(video.contains(pair),
        s"planted ${if (exact) "exact" else "near"} video dup $pair missed")
    }
  }

  /** Test-side BPE references, independent of `LLMOps`: a word's
    * code-point symbols, the leftmost-first non-overlapping merge, and
    * the UTF-8 byte order that ranks tied pairs (Latin-1 decoding of the
    * UTF-8 bytes makes String order unsigned-byte order).
    */
  private def bpeSymbols(w: String): Seq[String] =
    w.codePoints.toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  private def refMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var pend: String = null
    syms.foreach { x =>
      if (pend == null) pend = x
      else if (pend == a && x == b) { out += (a + b); pend = null }
      else { out += pend; pend = x }
    }
    if (pend != null) out += pend
    out.toSeq
  }

  private def utf8Key(s: String): String =
    new String(s.getBytes("UTF-8"), "ISO-8859-1")

  test("bpe training: hand-computed Sennrich merges on a constructed " +
      "corpus, deterministic re-run, and encode round-trips every word") {
    import graft.operators.LLMOps
    import spark.implicits._
    // aaab ×3 + aab ×1: pair counts (a,a)=2·3+1=7, (a,b)=4 → merge (a,a);
    // then [aa,a,b]×3 / [aa,b]×1 gives (aa,a)=3, (a,b)=3, (aa,b)=1 — the
    // 3-tie falls to the lexicographic smallest pair (a,b); then (aa,ab)
    val docs = Seq((1L, "aaab aaab aab"), (2L, "aaab")).toDF("doc_id", "text")
    val merges = LLMOps.bpeMerges(docs, numMerges = 3)
    val got = merges.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((0, "a", "a", 7L), (1, "a", "b", 3L),
      (2, "aa", "ab", 3L)), s"got ${got.mkString(",")}")
    // deterministic: same rules on re-run
    val again = LLMOps.bpeMerges(docs, numMerges = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(again.toSeq == got.toSeq)
    // encode: leftmost-first application in rank order, byte round-trip
    val words = Seq(("aaab", 3L), ("aab", 1L)).toDF("word", "n")
    val enc = LLMOps.applyBpe(words, merges).collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(enc("aaab") == Seq("aaab") && enc("aab") == Seq("aa", "b"),
      s"got $enc")
    // corpus smoke: training runs on real docs, every piece list
    // reassembles its word exactly
    val corpusMerges = LLMOps.bpeMerges(
      Tables.documents(spark, sfDir).limit(100), numMerges = 10)
    assert(corpusMerges.count() == 10)
    val corpusWords = Tables.documents(spark, sfDir).limit(100)
      .select(explode(LLMOps.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
    val bad = LLMOps.applyBpe(corpusWords, corpusMerges)
      .where(concat_ws("", col("pieces")) =!= col("word")).count()
    assert(bad == 0, s"$bad words failed the encode round trip")
  }

  test("source-overlap boilerplate cap drops exactly the >K-source " +
      "shingles and nothing else") {
    import graft.operators.LLMOps
    import spark.implicits._
    // five sources; every doc ends in the same boilerplate phrase — ONE
    // shingle held by all 5 sources — and s1/s2 share their full text
    // (4 shingles); every other cross-source overlap is boiler-only
    val docs = Seq(
      ("s1", "alpha beta gamma common boiler plate"),
      ("s2", "alpha beta gamma common boiler plate"),
      ("s3", "delta eps zeta common boiler plate"),
      ("s4", "eta theta iota common boiler plate"),
      ("s5", "kappa lam mu common boiler plate"))
      .toDF("source", "text")
    val uncapped = LLMOps.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // all 10 pairs share at least the boilerplate shingle
    assert(uncapped.size == 10)
    assert(uncapped(("s1", "s2")) == 4)
    assert(uncapped(("s3", "s4")) == 1)
    // cap 4: the 5-source boilerplate shingle drops; the 2-source
    // shingles all survive — boiler-only pairs leave the matrix, the
    // real s1/s2 overlap keeps its 3 non-boiler shingles
    val capped = LLMOps.sourceOverlap(docs, maxSourcesPerShingle = 4)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(capped.keySet == Set(("s1", "s2")))
    val (inter, union, jac) = capped(("s1", "s2"))
    assert(inter == 3 && union == 3 && jac == 1.0)
  }

  test("bpe trainer equals a naive recount-every-round trainer on " +
      "randomized corpora") {
    import graft.operators.LLMOps
    import spark.implicits._
    // the reference recounts every adjacent pair each round, takes the
    // argmax by (count DESC, left, right) in UTF-8 byte order and merges
    // it everywhere
    def naive(words: Seq[String], numMerges: Int): Seq[(Int, String, String, Long)] = {
      var vocab = words.groupBy(identity).toSeq
        .map { case (w, ws) => (bpeSymbols(w), ws.size.toLong) }
      (0 until numMerges).flatMap { rank =>
        val counts = vocab
          .flatMap { case (syms, n) =>
            syms.sliding(2).collect { case Seq(a, b) => (a, b) -> n } }
          .groupMapReduce(_._1)(_._2)(_ + _)
        if (counts.isEmpty) None
        else {
          val ((a, b), c) = counts.toSeq
            .minBy { case ((a, b), c) => (-c, utf8Key(a), utf8Key(b)) }
          vocab = vocab.map { case (syms, n) => (refMerge(syms, a, b), n) }
          Some((rank, a, b, c))
        }
      }
    }
    // small alphabets force the adversarial regimes: count ties resolved
    // lexicographically, self-pairs over runs, deep nested symbols; the
    // last alphabet mixes a BMP character with a supplementary-plane one,
    // whose UTF-16 order is the reverse of their UTF-8 order
    val alphabets = (0 until 6).map(t => "abcd".take(2 + t % 3).map(_.toString)) :+
      Seq("a", "\uFF41", "\uD83D\uDE00")
    val rnd = new scala.util.Random(23)
    alphabets.zipWithIndex.foreach { case (alpha, trial) =>
      val docs = (0 until 30).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(6) + 1)(
          Seq.fill(rnd.nextInt(10) + 1)(alpha(rnd.nextInt(alpha.length)))
            .mkString).mkString(" "))
      }.toDF("doc_id", "text")
      val words = docs.select(explode(LLMOps.tokens(col("text"))))
        .collect().map(_.getString(0)).filter(_.nonEmpty).toSeq
      val got = LLMOps.bpeMerges(docs, numMerges = 22).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      val want = naive(words, 22)
      assert(got == want, s"trial $trial: got $got, want $want")
    }
  }

  test("bpe encoder equals rank-ordered exhaustive application on any " +
      "rule table") {
    import graft.operators.LLMOps
    import spark.implicits._
    // the reference: every rule, in rank order, merged over the whole word
    def exhaustive(rules: Seq[(Int, String, String)], w: String): Seq[String] =
      rules.sortBy(_._1).foldLeft(bpeSymbols(w)) { case (syms, (_, a, b)) =>
        refMerge(syms, a, b) }
    def check(label: String, rules: Seq[(Int, String, String)],
        words: DataFrame): Unit = {
      val merges = rules.toDF("rank", "left", "right")
      val got = LLMOps.applyBpe(words, merges).select("word", "pieces")
        .collect().map(r => r.getString(0) -> r.getSeq[String](1))
      assert(got.nonEmpty, label)
      got.foreach { case (w, ps) =>
        assert(ps == exhaustive(rules, w), s"$label: word $w")
        assert(ps.mkString("") == w, s"$label: word $w lost characters")
      }
    }
    val rnd = new scala.util.Random(41)
    def randomDocs(alpha: String) = (0 until 40).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(5) + 1)(
        Seq.fill(rnd.nextInt(8) + 1)(alpha(rnd.nextInt(alpha.length)))
          .mkString).mkString(" "))
    }.toDF("doc_id", "text")
    def wordsOf(docs: DataFrame) = docs
      .select(explode(LLMOps.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
    // trained tables
    (0 until 3).foreach { trial =>
      val docs = randomDocs("abcd".take(2 + trial))
      val rules = LLMOps.bpeMerges(docs, numMerges = 15).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      check(s"trained trial $trial", rules, wordsOf(docs))
    }
    // arbitrary tables: 1-8 rules over single and merged symbols at
    // sparse, shuffled ranks — pairs trained tables never hold, in orders
    // no trainer learns (a rule can precede the rule that mints its symbol)
    val syms = Vector("a", "b", "c", "aa", "ab", "ba", "bc", "abc")
    val words = wordsOf(randomDocs("abc")).localCheckpoint()
    (0 until 20).foreach { trial =>
      val n = rnd.nextInt(8) + 1
      val ranks = rnd.shuffle((0 until 3 * n).toList).take(n)
      val rules = ranks.map(r =>
        (r, syms(rnd.nextInt(syms.size)), syms(rnd.nextInt(syms.size))))
      check(s"arbitrary trial $trial ($rules)", rules, words)
    }
    // rank order is undefined on a tie and the sweep starts at rank 0
    Seq(Seq((0, "a", "b"), (0, "b", "c")), Seq((-1, "a", "b"))).foreach { bad =>
      intercept[IllegalArgumentException](
        LLMOps.applyBpe(words, bad.toDF("rank", "left", "right")))
    }
  }

  test("map-side quality gate equals the shuffle-based qL39 stage") {
    import graft.operators.{LLMOps, TrainPrep}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val mapSide = TrainPrep.qualitySurvivors(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the qL39/qL22 formulation: (doc, token) aggregate for the max-token
    // frequency, then the same four predicates
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
    val wc = size(LLMOps.tokens(col("text"))).cast("double")
    val stats = docs.select(col("doc_id"), wc.as("wc"),
      (length(col("text")).cast("double") / wc).as("mtl"),
      (size(filter(LLMOps.tokens(col("text")), t => t.isin(stop: _*)))
        .cast("double") / wc).as("sr"))
    val rep = docs.select(col("doc_id"), explode(LLMOps.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").cast("double").as("max_tok"))
    val shuffled = stats.join(rep, Seq("doc_id"))
      .filter(col("wc").between(20.0, 80.0) && col("mtl").between(3.0, 10.0) &&
        (col("max_tok") / col("wc")) <= 0.125 && col("sr") >= 0.01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mapSide == shuffled && mapSide.nonEmpty)
  }

  test("bpe merge fold: randomized equivalence with a reference leftmost-" +
      "first merge, including self-pair runs and adjacent-rule overlaps") {
    import graft.operators.LLMOps
    val rnd = new scala.util.Random(11)
    // a small overlapping alphabet forces self-pairs (a,a) over runs and
    // merged-symbol lookalikes ("ab" vs a+b) — the tricky merge cases
    val alphabet = Vector("a", "b", "ab", "c")
    val rules = Seq(("a", "a"), ("a", "b"), ("ab", "c"), ("c", "a"), ("b", "b"))
    rules.foreach { case (a, b) =>
      val cases = (0 until 60).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(4))))
      }
      val got = cases.map { case (id, syms) =>
        id -> LLMOps.mergeLocal(syms.toArray, a, b).toSeq }.toMap
      cases.foreach { case (id, syms) =>
        val expect = refMerge(syms, a, b)
        assert(got(id) == expect,
          s"rule ($a,$b) on $syms: got ${got(id)}, want $expect")
        assert(got(id).mkString("") == syms.mkString(""),
          s"rule ($a,$b) on $syms lost characters")
      }
    }
  }

  test("length trim keeps ~90% of each language between its exact p5/p95") {
    import graft.operators.TrainPrep
    val kept = TrainPrep.qL30(spark, sfDir).collect()
    val totals = Tables.documents(spark, sfDir).groupBy("lang")
      .agg(count(lit(1)).as("n"), min("n_chars").as("mn"), max("n_chars").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(kept.nonEmpty && kept.length == totals.size)
    kept.foreach { r =>
      val (n, mn, mx) = totals(r.getString(0))
      val frac = r.getLong(1).toDouble / n
      // exact p5/p95 bounds keep 90% ± discreteness slack on small groups
      assert(frac >= 0.80 && frac <= 0.95, s"${r.getString(0)} kept $frac")
      assert(r.getLong(2) >= mn && r.getLong(3) <= mx)
    }
  }
}

/** The local file system under a second scheme, so a path can name a
  * file system other than `fs.defaultFS`; registered per test through
  * `fs.<scheme>.impl`.
  */
class AltSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${AltSchemeFileSystem.Scheme}:///")
  override def getScheme: String = AltSchemeFileSystem.Scheme
}

object AltSchemeFileSystem {
  val Scheme = "graftalt"
}

/** The local file system under its own scheme with `listLocatedStatus`
  * refused: `FileSystem.listFiles` goes through it and builds a
  * `LocatedFileStatus` per file, whose constructor loads permissions
  * (one `ls -ld` subprocess per file on the local file system).
  */
class NoLocatedStatusFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${NoLocatedStatusFileSystem.Scheme}:///")
  override def getScheme: String = NoLocatedStatusFileSystem.Scheme
  override protected def listLocatedStatus(f: org.apache.hadoop.fs.Path,
      filter: org.apache.hadoop.fs.PathFilter)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] =
    throw new UnsupportedOperationException(s"listLocatedStatus($f)")
}

object NoLocatedStatusFileSystem {
  val Scheme = "graftnoloc"
}
