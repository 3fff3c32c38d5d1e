package graft.operators

import graft.functions.FirstEqualIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The banded near-duplicate kernel under every dedup surface: MinHash
  * bands for text ([[LLMOps.minhashCandidates]], the delta join of a new
  * batch against the persisted snapshot [[LLMOps.deltaDedupCandidates]],
  * [[TrainPrep.fuzzyDecontam]] — all three key per-doc shingle sets
  * row-locally through [[LLMOps.minhashBandKeys]]), LSH tables for embeddings
  * ([[Similarity.nearDupPairs]]) and 8-bit hash bands for media
  * fingerprints ([[Multimodal.hammingNearDupPairs]]).
  *
  * Each input row is one id plus `keys`, an `array<bigint>` or
  * `array<string>` whose position i holds band i's key; two rows are a
  * candidate when they agree at some position. Precondition: ONE row per
  * id on each side — only then is each candidate emitted exactly once
  * (nothing deduplicates the output). Output: `id_a, id_b`, then each
  * `carry` column as `<name>_a` and `<name>_b`.
  *
  *  - First agreeing band: a pair agreeing in k bands meets in k rows of
  *    the (pos, key) equi-join; the join keeps only the row whose two
  *    carried key prefixes (the keys before `pos`) never agree (codegen
  *    [[graft.functions.FirstEqualIndex]] = 0), not a pair-sized distinct.
  *    The equi-join already gives agreement at `pos`, so each exploded
  *    row ships only the prefix, not the whole key array.
  *  - Explicit spread: the exploded rows hash-repartition on (pos, key) to
  *    `defaultParallelism`. They are a few longs per band but each bucket
  *    fans out quadratically, and AQE, sizing from the pre-join bytes,
  *    would coalesce the exchange to one task. A self-join reuses it.
  *  - No global sort: an `orderBy`'s range exchange samples its child,
  *    re-running the join, so only callers that need a total order add it.
  */
object Banded {

  /** Pairs of rows of `rows` that agree at some band, `id_a < id_b`. */
  def selfPairs(rows: DataFrame, id: String, keys: String,
      carry: Seq[String] = Nil): DataFrame =
    join(rows, None, id, keys, carry)

  /** (left, right) pairs agreeing at some band; same column names. */
  def crossPairs(left: DataFrame, right: DataFrame, id: String,
      keys: String, carry: Seq[String] = Nil): DataFrame =
    join(left, Some(right), id, keys, carry)

  private def join(l: DataFrame, r: Option[DataFrame], id: String,
      keys: String, carry: Seq[String]): DataFrame = {
    def side(df: DataFrame, s: String) =
      df.select((col(id).as("id") +: col(keys).as("keys") +: carry.map(col)) :+
          posexplode(col(keys)).as(Seq("pos", "key")): _*)
        .withColumn("keys", slice(col("keys"), lit(1), col("pos")))
        .repartition(df.sparkSession.sparkContext.defaultParallelism,
          col("pos"), col("key"))
        .select((Seq("pos", "key", "id", "keys") ++ carry)
          .map(c => col(c).as(s"${c}_$s")): _*)
    side(l, "a").join(side(r.getOrElse(l), "b"),
        col("pos_a") === col("pos_b") && col("key_a") === col("key_b") &&
          FirstEqualIndex(col("keys_a"), col("keys_b")) === 0 &&
          (if (r.isEmpty) col("id_a") < col("id_b") else lit(true)))
      .select(("id" +: carry).flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }
}
