package graft.plans

import graft.functions.{ContentChunks, CosineSim, LshBuckets, NGramGenerator, PolyHash, ShingleHash, SignSketch}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, ExpressionInfo, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graft.PlanBridge

/** Session wiring for graft's Catalyst extensions: custom expressions as
  * SQL functions, the [[GroupTopKStrategy]] planner strategy, and the
  * optimizer rules ([[SimilarityJoinRewrite]] and the rest).
  *
  * Two registration paths, same components ([[Graft.plannerStrategies]],
  * [[Graft.optimizerRules]]):
  *   - `SparkSession.builder().withExtensions(new GraftExtensions)` (or
  *     `spark.sql.extensions=graft.plans.GraftExtensions`) at build time;
  *   - [[Graft.ensureRegistered]] on a live session (Verify/Bench receive
  *     their session ready-made), via the public `spark.experimental`
  *     hooks plus a bridged temp-function registration. Idempotent.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Graft.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.Graft", name), builder))
    }
    Graft.plannerStrategies.foreach(st => ext.injectPlannerStrategy(_ => st))
    Graft.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object Graft {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got $other")
  }

  /** Custom codegen expressions exposed to SQL. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> { args: Seq[Expression] =>
      require(args.length == 2, "cosine_sim(vec, vec)")
      CosineSim(args(0), args(1), safe = false)
    },
    "cosine_sim_safe" -> { args: Seq[Expression] =>
      require(args.length == 2, "cosine_sim_safe(vec, vec)")
      CosineSim(args(0), args(1), safe = true)
    },
    "poly_hash" -> { args: Seq[Expression] =>
      require(args.length == 1, "poly_hash(str)")
      PolyHash(args(0))
    },
    "shingle_hash" -> { args: Seq[Expression] =>
      require(args.length == 2, "shingle_hash(str, n)")
      ShingleHash(args(0), intArg(args(1), "shingle_hash", 2))
    },
    "lsh_buckets" -> { args: Seq[Expression] =>
      require(args.length == 4, "lsh_buckets(vec, bits, tables, seed)")
      LshBuckets(args(0), intArg(args(1), "lsh_buckets", 2),
        intArg(args(2), "lsh_buckets", 3),
        intArg(args(3), "lsh_buckets", 4).toLong)
    },
    "sign_sketch" -> { args: Seq[Expression] =>
      require(args.length == 2, "sign_sketch(vec, bits)")
      SignSketch(args(0), intArg(args(1), "sign_sketch", 2))
    },
    // table-valued: one row per n-gram (SELECT ngrams(text, 3) ...)
    "ngrams" -> { args: Seq[Expression] =>
      require(args.length == 2, "ngrams(str, n)")
      NGramGenerator(args(0), intArg(args(1), "ngrams", 2))
    },
    // CDC chunk boundaries as packed (hash, len) longs; optional window
    // and divisor default to the ChunkStore configuration (w=8, div=32)
    "content_chunks" -> { args: Seq[Expression] =>
      require(args.length == 1 || args.length == 3,
        "content_chunks(str[, w, div])")
      if (args.length == 1) ContentChunks(args(0), 8, 32)
      else ContentChunks(args(0), intArg(args(1), "content_chunks", 2),
        intArg(args(2), "content_chunks", 3))
    },
  )

  /** graft's planner strategies, as both registration paths inject them. */
  val plannerStrategies: Seq[SparkStrategy] = Seq(GroupTopKStrategy)

  /** graft's optimizer rules in injection order, which is the order they
    * run in within the batch. MetaCountRule must see the
    * Aggregate-over-Filter shape BEFORE ManifestPruneRule swaps the
    * scan's file index (a pruned index's roots no longer match the
    * registry, so metacount could never fire after); both are
    * independently opt-in.
    */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(SimilarityJoinRewrite,
    MetaCountRule, ManifestPruneRule, RoundTripElisionRule)

  /** Post-hoc registration on a live session. Safe to call per query. */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    sqlFunctions.foreach { case (name, builder) =>
      PlanBridge.registerFunction(spark, name, builder)
    }
    val x = spark.experimental
    x.extraStrategies = x.extraStrategies ++
      plannerStrategies.filterNot(x.extraStrategies.contains)
    x.extraOptimizations = x.extraOptimizations ++
      optimizerRules.filterNot(x.extraOptimizations.contains)
  }

  /** Load a PERSISTED stats manifest (e.g. one a clone-layout opt-in or
    * `ingestPipeline` published next to its table) and register it for
    * [[ManifestPruneRule]] — the one-call session bootstrap a new reader
    * runs so an already-laid-out table is pruned-readable immediately.
    * The manifest is materialized eagerly (registry entries must be
    * snapshots, not re-listing recipes — same contract as
    * `StatsManifest.build`). Returns the registered frame.
    */
  def registerManifest(spark: SparkSession, tableDir: String,
      manifestDir: String): DataFrame = {
    ensureRegistered(spark)
    val m = spark.read.parquet(manifestDir).localCheckpoint(eager = true)
    ManifestRegistry.register(spark, tableDir, m)
    m
  }

  /** Top-k rows per group via the custom operator: the rows whose
    * row_number under `order` within each `group` is ≤ k (arbitrary
    * tie-break — pass a total order for determinism). Plain columns in
    * `order` sort ascending.
    */
  def groupTopK(df: DataFrame, group: Seq[Column], order: Seq[Column],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    ensureRegistered(spark)
    val orderExprs = order.map(PlanBridge.catalystExpression(_) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    PlanBridge.ofRows(spark,
      GroupTopK(group.map(PlanBridge.catalystExpression), orderExprs, k,
        PlanBridge.planOf(df)))
  }
}
