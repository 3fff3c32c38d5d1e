package graft.functions

import graft.{SparkFixture, Tables}
import graft.operators.LLMOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MinhashBandsSpec extends AnyFunSuite with SparkFixture
    with AdaptiveSparkPlanHelper {

  /** The oracle-tier corpus beside the smoke corpus. */
  private val sf001 =
    new java.io.File(sfDir).toPath.resolveSibling("sf0.01").toString

  /** The band keys as 16 min-aggregates over the postings, spelled out
    * with literal constants: the reference both spellings (the kernel on
    * sets, `minhashBandArray` on postings) must equal, since persisted
    * snapshots hold these keys.
    */
  private def aggregateKeys(postings: DataFrame): DataFrame = {
    val mins = (0 until 16).map { k =>
      min((lit(31L + 17L * k) * col("h") + lit(7L + 11L * k)) % PolyHash.Mod)
        .as(s"m$k")
    }
    val bands = (0 until 4).map { b =>
      concat_ws(":", (lit(b) +: (0 until 4).map(j => col(s"m${b * 4 + j}")))
        .map(_.cast("string")): _*)
    }
    postings.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array(bands: _*).as("want"))
  }

  private def withCodegen[T](on: Boolean)(body: => T): T = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> on.toString,
      "spark.sql.codegen.factoryMode" -> (if (on) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("minhash_bands equals the 16-min-aggregate band keys on every " +
      "sf0.01 doc, interpreted and codegen'd, on sets and on postings") {
    val postings = LLMOps.shinglePostings(spark, sf001)
    val nDocs = Tables.documents(spark, sf001).count()
    for (codegen <- Seq(true, false)) withCodegen(codegen) {
      val sets = Tables.documents(spark, sf001).select(col("doc_id"),
        MinhashBands(array_distinct(ShingleHash(col("text"), 3))).as("got"))
      val viaPostings = LLMOps.minhashBandArray(postings)
        .select(col("doc_id"), col("band_keys").as("got"))
      val want = aggregateKeys(postings)
      assert(want.count() == nDocs)
      for (got <- Seq(sets, viaPostings)) {
        val diff = got.join(want, Seq("doc_id"), "full_outer")
          .filter(!(col("got") <=> col("want")))
        assert(diff.isEmpty, s"codegen=$codegen: ${diff.take(3).mkString("; ")}")
      }
      val stages = sets.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w
      }
      assert(stages.exists(_.toString.contains("minhash_bands")) == codegen,
        sets.queryExecution.executedPlan)
    }
  }

  test("minhash_bands: empty and null sets, null elements skipped") {
    import spark.implicits._
    val rows = Seq[Option[Seq[Option[Long]]]](
      Some(Seq(Some(5L), None, Some(9L))), Some(Seq(Some(5L), Some(9L))),
      Some(Seq.empty), None)
      .toDF("hs").select(MinhashBands(col("hs"))).collect()
      .map(r => Option(r.getSeq[String](0)))
    assert(rows(0) == rows(1) && rows(0).get.length == 4)
    assert(rows(0).get.zipWithIndex.forall { case (k, b) =>
      k.startsWith(s"$b:") && k.split(':').length == 5 })
    assert(rows(2).contains(Seq.empty))
    assert(rows(3).isEmpty)
  }

  test("qL05, qL06 and minhashCandidates band per-doc sets: no aggregate " +
      "keyed on a shingle hash and no join on one") {
    def onH(es: Seq[Expression]) = es.exists(_.references.exists {
      a: Attribute => a.name == "h" })
    for (df <- Seq(LLMOps.qL05(spark, sfDir), LLMOps.qL06(spark, sfDir),
        LLMOps.minhashCandidates(LLMOps.shingleSets(spark, sfDir)))) {
      val plan = df.queryExecution.executedPlan
      val aggs = collect(plan) { case a: BaseAggregateExec => a }
      assert(!aggs.exists(a => onH(a.groupingExpressions)), plan)
      val joinKeys = collect(plan) {
        case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
        case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
        case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
      }
      assert(joinKeys.nonEmpty && !joinKeys.exists(onH), plan)
      assert(plan.toString.contains("minhash_bands"), plan)
    }
  }
}
