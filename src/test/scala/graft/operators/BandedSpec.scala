package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class BandedSpec extends AnyFunSuite with SparkFixture
    with AdaptiveSparkPlanHelper {

  // small alphabets make collisions dense: most pairs agree somewhere,
  // many in several bands — the case the first-agreeing-band filter is for
  private def randomRows(rnd: scala.util.Random, n: Int, idBase: Long,
      strings: Boolean): Seq[(Long, Seq[Any])] =
    rnd.shuffle((0 until n).map(i => idBase + i)).map { id =>
      val keys = Seq.fill(1 + rnd.nextInt(4)) {
        val k = rnd.nextInt(3)
        if (!strings) k.toLong
        else if (rnd.nextInt(8) == 0) null
        else s"k$k"
      }
      (id, keys)
    }

  private def frame(rows: Seq[(Long, Seq[Any])], strings: Boolean): DataFrame = {
    val keyType = if (strings) StringType else LongType
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("keys", ArrayType(keyType)), StructField("w", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (id, ks) => Row(id, ks, id * 10) }, 3),
      schema)
  }

  private def agree(a: Seq[Any], b: Seq[Any]): Boolean =
    a.zip(b).exists { case (x, y) => x != null && x == y }

  test("selfPairs and crossPairs equal the brute-force agreeing pairs, " +
      "each exactly once, over array<bigint> and array<string>") {
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 4; strings <- Seq(false, true)) {
      val rows = randomRows(rnd, 20 + rnd.nextInt(20), 0L, strings)
      val self = Banded.selfPairs(frame(rows, strings), "id", "keys",
          carry = Seq("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(self.forall { case (a, b, wa, wb) => wa == a * 10 && wb == b * 10 })
      val selfWant = (for {
        (a, ka) <- rows; (b, kb) <- rows if a < b && agree(ka, kb)
      } yield (a, b)).sorted
      assert(self.map(p => (p._1, p._2)).toSeq.sorted == selfWant,
        s"self trial=$trial strings=$strings")

      // overlapping id ranges: two namespaces, so (3, 3) is a real pair
      val other = randomRows(rnd, 10 + rnd.nextInt(20), 5L, strings)
      val cross = Banded.crossPairs(frame(rows, strings), frame(other, strings),
          "id", "keys")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val crossWant = (for {
        (a, ka) <- rows; (b, kb) <- other if agree(ka, kb)
      } yield (a, b)).sorted
      assert(cross == crossWant, s"cross trial=$trial strings=$strings")
      assert(selfWant.nonEmpty && crossWant.nonEmpty)
    }
  }

  // the optimized plan prints top-down: nothing above the band join may
  // aggregate, i.e. no distinct collapses the candidates
  private def assertNoAggregateAboveBandJoin(df: DataFrame): Unit = {
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("first_equal_index"), plan)
    assert(!plan.take(plan.indexOf("Join")).contains("Aggregate"), plan)
  }

  test("minhash and decontam candidates have no aggregate above the band join") {
    assertNoAggregateAboveBandJoin(
      LLMOps.minhashCandidates(LLMOps.shingleSets(spark, sfDir)))
    // decontamination (q_l50's path, and the streaming gate's per-batch
    // plan over persisted bench sets): no aggregate anywhere, so none
    // over the benchmark's rows
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val dir = Files.createTempDirectory("graft-bsets").toString
    for (df <- Seq(TrainPrep.qL50(spark, sfDir),
        TrainPrep.fuzzyDecontamAgainst(docs,
          graft.streaming.StreamOps.persistedBenchSets(bench, s"$dir/sets")))) {
      assertNoAggregateAboveBandJoin(df)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Aggregate"), plan)
    }
    // the delta against the persisted snapshot (q_l40's path)
    assertNoAggregateAboveBandJoin(LLMOps.qL40(spark, sfDir))
  }

  test("hammingNearDupPairs shuffles once, hash-partitioned, below its band join") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val hashes = (0 until 60).map(i => (i.toLong, rnd.nextLong() & 0xffffL))
      .toDF("doc_id", "h")
    val pairs = Multimodal.hammingNearDupPairs(hashes, "h", 32, 3,
      ordered = false)
    assert(pairs.collect().nonEmpty)
    val exchanges = collect(pairs.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1 &&
      exchanges.head.outputPartitioning.isInstanceOf[HashPartitioning],
      pairs.queryExecution.executedPlan)
  }

  test("src/main holds one banded first-agreeing-band join: Banded") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def offenders(pattern: String, allowed: Set[String]): Seq[String] =
      for {
        f: Path <- files if !allowed(f.getFileName.toString)
        if Files.readString(f).contains(pattern)
      } yield s"${root.relativize(f)}: $pattern"
    assert(files.exists(_.endsWith(Paths.get("graft", "operators", "Banded.scala"))))
    val bad = offenders("FirstEqualIndex",
        Set("Banded.scala", "FirstEqualIndex.scala", "SimilarityJoinRewrite.scala")) ++
      offenders("\"band_key\"", Set("Banded.scala"))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("src/main computes MinHash band keys in one place: " +
      "LLMOps.minhashBandKeys") {
    // a call `MinhashBands(` or a member `MinhashBands.` outside the
    // kernel's own file: only minhashBandKeys' body may hold one
    val use = "MinhashBands\\s*[.(]".r
    val root = Paths.get("src/main/scala")
    val hits = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "MinhashBands.scala")
      .flatMap(f => use.findAllMatchIn(Files.readString(f)).map(m => (f, m.start)))
      .toSeq
    val where = hits.map { case (f, at) => s"${root.relativize(f)}@$at" }
    assert(where.size == 1, where.mkString(", "))
    val (file, at) = hits.head
    val src = Files.readString(file)
    val body = src.indexOf("def minhashBandKeys(")
    assert(file.endsWith(Paths.get("graft", "operators", "LLMOps.scala")) &&
      body >= 0 && body < at && src.indexOf("def ", body + 1) > at,
      s"MinhashBands used at ${where.head}, outside LLMOps.minhashBandKeys")
  }
}
