package graft.operators

import graft.{Par, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text search — the Spark re-expression of the reference's full-text
  * catalog/index surface (SURVEY §2.A A14, /root/reference/Program.cs:474-536).
  * SQL Server's CREATE FULLTEXT INDEX has no Spark twin; the *capability*
  * (find documents containing terms) becomes an inverted-index DataFrame:
  * one (token, doc_id) posting per distinct token per document, partitioned
  * by token — a term lookup touches one shuffle partition, an AND query is
  * a posting-list self-join, never a corpus scan.
  */
object FullText {

  /** Build the inverted index: distinct (token, doc_id) postings. Tokens
    * split on non-word runs (`\W+`), so punctuation/tabs/newlines don't
    * stay glued to words — "big data." must be findable by "data".
    */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(lower(col("text")), "\\W+")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()

  /** AND-search: documents containing every query term (posting-list
    * intersection via groupBy count, one shuffle).
    */
  def searchAll(index: DataFrame, terms: Seq[String]): DataFrame = {
    // postings are distinct per (token, doc): compare against the count of
    // DISTINCT normalized terms or duplicate query terms never match
    val distinctTerms = terms.map(_.toLowerCase).distinct
    index.filter(col("token").isin(distinctTerms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched"))
      .filter(col("matched") === distinctTerms.length)
      .select("doc_id")
  }

  /** OR-search with a tf ranking: documents containing any term, ranked by
    * how many distinct terms matched.
    */
  def searchAny(index: DataFrame, terms: Seq[String]): DataFrame =
    index.filter(col("token").isin(terms.map(_.toLowerCase): _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched"))

  /** Q-L15 — full-text AND search for two common terms, oracle-checked
    * against DuckDB evaluating the same token-set predicate directly.
    */
  def qL15(s: SparkSession, d: String): DataFrame = {
    val idx = invertedIndex(Tables.documents(s, d))
    searchAll(idx, Seq("the", "data")).orderBy("doc_id")
  }

  /** BM25 ranked retrieval (Robertson k1=1.2, b=0.75, Lucene-style
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5))) — the scoring layer a
    * ranked full-text surface needs on top of the boolean searches above.
    *
    * Scale shape: term frequencies come from ONE corpus scan whose
    * explode is pre-filtered to the query's terms (the generator emits
    * |terms| rows per doc at most, so the (doc, term) shuffle is
    * query-sized, not corpus-sized); document frequencies reduce that
    * same frame to |terms| rows and broadcast back; corpus stats
    * (N, total token count) are one cheap aggregate. Nothing
    * vocabulary-sized ever shuffles — at 100 TB the costs are the scan
    * and a top-k.
    *
    * Determinism contract: the raw score NEVER enters the output — ln()
    * is the one non-portable op in the formula (measured: the JVM's
    * Math.log C2 intrinsic, StrictMath's fdlibm, and DuckDB's libm all
    * disagree in the last ulp on a fraction of arguments, and the JIT
    * tiers aren't even self-consistent). What IS hashed is the RANKING
    * plus exact-integer row facts (dl, matched-term count, total tf):
    * last-ulp score jitter can only reorder rows whose scores sit within
    * ~1e-16 of each other, and the measured minimum adjacent gap in the
    * top-k neighborhood is ≥ 7e-6 at every test SF — ten orders of
    * magnitude of margin; exact ties (duplicate texts) have identical
    * inputs in both engines and fall to the doc_id tie-break.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // duplicate terms would silently double their contribution through
    // the per-term conditional sums below
    require(terms.distinct.size == terms.size, "bm25 terms must be distinct")
    val spark = docs.sparkSession
    val toks = LLMOps.tokens(col("text"))
    // the term-matching scan runs once: per matched doc, its length and
    // the matching tokens only (the corpus-stats aggregate below is a
    // second, explode-free scan — it needs ALL docs' lengths, which the
    // term filter here discards)
    val base = docs.select(col("doc_id"),
      size(toks).cast("long").as("dl"),
      explode(filter(toks, t => t.isin(terms: _*))).as("t"))
    // tf is query-sized (≤ |terms| rows per matched doc) and feeds BOTH
    // the scoring join and the document frequencies — persisted so the
    // term-matching scan isn't duplicated per consumer (Catalyst prunes
    // self-referenced frames into different scans), and unpersisted once
    // the ≤ k result rows are materialized: this function is EAGER
    val tf = base.groupBy("doc_id", "dl", "t")
      .agg(count(lit(1)).cast("double").as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dfreq = tf.groupBy("t").agg(count(lit(1)).cast("double").as("df"))
      val stats = docs
        .select(size(toks).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
      val contrib = tf.join(broadcast(dfreq), "t")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("dl"), col("t"), col("tf"),
          (log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5))
              / (col("df") + lit(0.5)))
            * ((col("tf") * lit(2.2))
              / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75)
                * (col("dl").cast("double")
                  / (col("tot_dl").cast("double") / col("n_docs").cast("double")))))))
            .as("contrib"))
      // per-term conditional sums added in FIXED term order: a plain
      // SUM(contrib) would add doubles in shuffle arrival order
      val perDoc = contrib.groupBy("doc_id", "dl").agg(
        sum(when(col("t") === terms.head, col("contrib"))).as("c0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          sum(when(col("t") === t, col("contrib"))).as(s"c${i + 1}")
        } ++ Seq(
          count(lit(1)).as("n_terms"),
          sum(col("tf")).cast("long").as("tf_total")): _*)
      val score = terms.indices
        .map(i => coalesce(col(s"c$i"), lit(0.0)))
        .reduce(_ + _)
      val out = perDoc
        .orderBy(score.desc, col("doc_id"))
        .limit(k)
        .select(col("doc_id"), col("dl"), col("n_terms"), col("tf_total"))
      val rows = out.collect() // ≤ k rows
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally tf.unpersist(false)
  }

  /** Q-L25 — BM25 top-10 for a three-term query over the corpus's common
    * vocabulary; DuckDB recomputes the identical scores.
    */
  def qL25(s: SparkSession, d: String): DataFrame =
    bm25(Tables.documents(s, d), Seq("data", "join", "filter"))

  /** Reciprocal-rank fusion of two ranked lists — the standard way a
    * hybrid retrieval stack (sparse BM25 + dense embedding ANN) combines
    * rankings whose raw scores live on incomparable scales (Cormack &
    * Clarke's RRF, the default fusion in every hybrid-search engine).
    *
    * Determinism contract: classic RRF sums 1/(K + rank) in floating
    * point; this implementation defines the score as the exact integer
    * Σ floor(1e6 / (K + rank)) instead — rank-monotone per list, and a
    * BIGINT fold any engine reproduces bit-exactly, so the fused ranking
    * AND the score are hashable (no BM25-style margin argument needed at
    * the fusion layer). An id absent from one list contributes 0 from it.
    *
    * Scale shape: one full-outer equi-join on the id. Fused inputs are
    * top-k lists (k-bounded) in the retrieval use, but nothing here
    * assumes it — fusing two corpus-sized rankings is the same plan.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, kConst: Int = 60): DataFrame = {
    // SQL `div`: exact integral division (a double `/` + cast would also
    // land right here — denominators this small keep the quotient ≥ 1/80
    // from any integer boundary — but exactness shouldn't need a proof)
    def part(r: String) = coalesce(expr(s"1000000L div (${kConst}L + $r)"),
      lit(0L))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_sparse"), col("r_dense"),
        (part("r_sparse") + part("r_dense")).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  /** Q-L51 — hybrid retrieval: the q_l25 BM25 top-10 (sparse) fused with
    * the q_l02 cosine top-10 (dense, `embeddings.vec_id` = `doc_id` by
    * corpus construction) via integer-exact [[rrfFuse]]. Both input
    * rankings are k-bounded, so extracting 1-based ranks from the ordered
    * results is driver-side work on ≤ k rows (the Scale.scala top-k
    * embellishment idiom), and the fusion itself is the distributed join.
    * EAGER: both top-k lists materialize at construction.
    */
  def qL51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the two top-k retrievals are INDEPENDENT jobs — submit them
    // concurrently so the dense pass back-fills executors the sparse
    // pass's tail leaves idle (guide §2.6), instead of serializing two
    // full pipelines; each collect is ≤ k rows
    val Seq(sparseIds, denseIds) = Par.all(Seq(
      () => bm25(Tables.documents(s, d), Seq("data", "join", "filter"))
        .select("doc_id").collect().map(_.getLong(0)),
      () => Similarity.qL02(s, d).select("vec_id").collect().map(_.getLong(0))))
    val sparse = sparseIds.zipWithIndex
      .map { case (id, i) => (id, i + 1L) }.toSeq.toDF("doc_id", "r_sparse")
    val dense = denseIds.zipWithIndex
      .map { case (id, i) => (id, i + 1L) }.toSeq.toDF("doc_id", "r_dense")
    rrfFuse(sparse, dense)
  }
}
