package graft.operators

import graft.Tables
import graft.functions.{CosineSim, LshBuckets}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity search (driver mandate: brute-force cosine top-k as
  * the baseline plus an LSH-bucketed scale path).
  *
  * All vector math is composed from codegen'd higher-order functions
  * (zip_with / transform / aggregate) over ArrayType(FloatType) columns —
  * no UDFs, so the whole pipeline stays inside WholeStageCodegen. Floats are
  * widened to double before multiplication and folded sequentially, which
  * gives bit-identical results to any engine doing the same left fold.
  */
object Similarity {

  /** Sequential left-fold dot product of two float-array columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, z) => acc + z)

  /** L2 norm of a float-array column, in double. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(
      transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, z) => acc + z))

  /** Raw cosine (codegen expression): zero-norm inputs give 0/0 = NaN,
    * which Spark and DuckDB both order as the largest double — the
    * oracle-parity behavior for qL02. ANN paths use [[cosineSafe]].
    */
  def cosine(a: Column, b: Column): Column = CosineSim(a, b, safe = false)

  /** Zero-safe cosine (codegen expression): zero-norm vectors score -1 and
    * rank last, instead of NaN topping every descending top-k (or, under
    * ANSI SQL division, erroring the query).
    */
  def cosineSafe(a: Column, b: Column): Column = CosineSim(a, b, safe = true)

  /** Q-L02 — exact cosine top-k against a single query vector (vec_id = 0).
    * The 1-row query side is broadcast; the scan side streams, so this is a
    * single pass over the corpus at any scale — the canonical brute-force
    * ANN baseline.
    */
  def qL02(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosine(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** ANN via multi-table LSH: candidates share the query's bucket in ANY
    * of `tables` hash tables (OR-amplified recall, same construction as
    * [[nearDupPairs]]); exact cosine re-ranks the distinct candidate set.
    * Recall/latency tune: more tables or fewer bits → more candidates.
    */
  def annLsh(s: SparkSession, d: String, k: Int = 10, bits: Int = 6,
      tables: Int = 4): DataFrame = {
    val e = Tables.embeddings(s, d)
    val bucketed = e.withColumn("bucket",
      explode(LshBuckets(col("embedding"), bits, tables)))
    val q2 = bucketed.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("bucket"))
    // candidate dedup carries ONLY ids (a candidate may collide in
    // several tables): the distinct's shuffle moves 8-byte ids, and the
    // embeddings rejoin by id afterwards — the same ids-only-through-
    // the-shuffle discipline as [[nearDupPairs]], which measured the
    // arrays-through-distinct formulation 4× slower there; the width
    // difference grows with vector dimension at corpus scale
    val candIds = bucketed.filter(col("vec_id") =!= 0)
      .join(broadcast(q2.select("bucket")), Seq("bucket"))
      .select("vec_id").distinct()
    candIds
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))))
      .select(col("vec_id"), cosineSafe(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** [[annLsh]] keyed by a query EMBEDDING instead of a corpus vec_id —
    * the probe twin `tools/RecallBench` sweeps (its ground-truth
    * convention keeps the query row in its own top-k, so this variant
    * does NOT self-exclude; for a corpus-drawn query the result is
    * exactly [[annLsh]]'s plus the self row ranked first, spec-pinned).
    * The query's buckets come from the same [[graft.functions
    * .LshBuckets]] expression over the literal vector, so probe and
    * corpus hash identically by construction.
    */
  def annLshVec(s: SparkSession, d: String, qEmb: Array[Float],
      k: Int = 10, bits: Int = 6, tables: Int = 4): DataFrame = {
    val e = Tables.embeddings(s, d)
    val bucketed = e.withColumn("bucket",
      explode(LshBuckets(col("embedding"), bits, tables)))
    val q2 = s.range(1)
      .select(explode(LshBuckets(typedLit(qEmb), bits, tables)).as("bucket"))
    // ids-only dedup, embeddings rejoined by id — see [[annLsh]]
    bucketed.join(broadcast(q2), Seq("bucket"))
      .select("vec_id").distinct()
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("vec_id"),
        cosineSafe(col("embedding"), typedLit(qEmb)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding near-duplicate pairs via multi-table LSH: `tables` hash
    * tables of `bits` random-hyperplane bits each; a pair is a candidate
    * if it collides in ANY table (OR-amplification — one table of b bits
    * has per-pair recall (1-θ/π)^b, which at cosine ~0.5 is a few percent;
    * L tables lift it to 1-(1-p)^L). Candidates get an exact cosine
    * confirm above the threshold. No O(n²) cross product at any stage.
    * Defaults are production-shaped (0.9+ near-dups, 8-bit tables);
    * bucket width should track corpus size — bits ≈ log2(n / desired
    * bucket size) — or bucket joins go quadratic. Candidates come from
    * [[Banded.selfPairs]] over the per-table bucket arrays, so the join
    * carries ids and buckets, never the embeddings; the exact-cosine
    * verify rejoins the embeddings by id once per unique candidate.
    */
  def nearDupPairs(s: SparkSession, d: String, threshold: Double = 0.9,
      bits: Int = 8, tables: Int = 6): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cand = Banded.selfPairs(e.select(col("vec_id"),
      LshBuckets(col("embedding"), bits, tables).as("bks")), "vec_id", "bks")
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosineSafe(col("emb_a"), col("emb_b")).as("sim"))
      .filter(col("sim") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** Per-vector int8 scalar quantization: max-abs scale to [-127, 127],
    * explicit half-up rounding (`floor(x + 0.5)`) so Spark and any oracle
    * engine quantize identically — `round()`'s half-even/half-up choice is
    * engine-specific, `floor` is not. An all-zero vector scales by 1
    * instead of 0 (codes stay 0) — dividing by a 0 max-abs would emit
    * all-NULL codes under Spark's non-ANSI division and NaN elsewhere.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("maxabs",
        aggregate(col(vecCol), lit(0.0), (m, x) => greatest(m, abs(x.cast("double")))))
      .withColumn("qv", transform(col(vecCol),
        x => floor(x.cast("double") /
          when(col("maxabs") === 0.0, 1.0).otherwise(col("maxabs")) *
          127.0 + 0.5).cast("int")))
      .drop("maxabs")

  /** Q-L31 — quantized cosine top-k: the memory/bandwidth lever for the
    * 100 TB ANN path. int8 codes are 4× narrower than float32 — the scan,
    * the shuffle, and the broadcast all shrink 4×; at cluster scale the
    * quantized corpus is what you persist and the full-precision vectors
    * are fetched only for reranking the top candidates. The dot product
    * and norms are exact BIGINT folds over the int8 codes, so the final
    * cosine is one deterministic double — hash-comparable, unlike any
    * float32 accumulation. Same single-pass broadcast shape as qL02.
    */
  def qL31(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val quantized = quantizeInt8(Tables.embeddings(s, d), "embedding")
      .select("vec_id", "qv")
    val q0 = quantized.filter(col("vec_id") === 0).select(col("qv").as("qv0"))
    def sqnorm(c: Column): Column =
      aggregate(transform(c, x => x.cast("long") * x.cast("long")),
        lit(0L), (acc, z) => acc + z)
    quantized.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"),
        aggregate(zip_with(col("qv"), col("qv0"),
          (a, b) => a.cast("long") * b.cast("long")), lit(0L), (acc, z) => acc + z)
          .as("dotq"),
        sqnorm(col("qv")).as("nq"), sqnorm(col("qv0")).as("nq0"))
      .select(col("vec_id"),
        (col("dotq").cast("double") /
          (sqrt(col("nq").cast("double")) * sqrt(col("nq0").cast("double"))))
          .as("sim_q"))
      .orderBy(col("sim_q").desc, col("vec_id"))
      .limit(k)
  }

  /** Q-L36 — embedding-diversity sample: stratify the corpus by an 8-bit
    * sign sketch (8 hyperplane dot products, sign bits packed into a
    * bucket id) and keep the first `perBucket` vectors per bucket — the
    * cluster-balanced corpus-sampling op that caps dense embedding
    * regions while keeping coverage of rare ones.
    *
    * The quantizer is deliberately NOT the learned one: Ivf.kmeans cells
    * depend on float-mean accumulation order, so no other engine can
    * reproduce them bit-exactly, while these hyperplane components are
    * exact-integer-derived (h(i,j) = ((i·64+j)·2654435761 mod 1000003)
    * / 1000003 − 0.5) and the dot is the same left fold both engines run
    * in array order — the qL33 portability tradeoff, applied to vector
    * space. Scale: the sketch is one codegen pass; the per-bucket cap
    * runs on the custom GroupTopK operator, so ≤ perBucket rows per
    * (bucket, partition) cross the shuffle and a dense bucket can never
    * concentrate its region into one window sort.
    */
  /** Q-L46 — embedding drift BETWEEN label populations: cosine between
    * per-label centroid-sum vectors, the per-slice distribution-shift
    * monitor an embedding pipeline runs between sources/batches/label
    * slices (a drop in cross-label centroid similarity flags feature or
    * upstream-model drift). Determinism: float centroid means are
    * accumulation-order-dependent, so the vectors are int8-quantized
    * FIRST ([[quantizeInt8]]'s exact half-up codes) and everything up to
    * the single terminal division is BIGINT — per-(label, dimension)
    * code sums, their dot products and squared norms are exact integers,
    * and cosine(Σa, Σb) is invariant to the dropped 1/n scaling.
    * Scale: one corpus scan fans out to labels × dim rows (map-side
    * combined) — the pairwise stage runs on centroid sums, never
    * vectors, so it is label-count², not corpus², work.
    */
  def qL46(s: SparkSession, d: String): DataFrame = {
    val codes = quantizeInt8(Tables.embeddings(s, d), "embedding")
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
    // localCheckpoint (the qL19 pattern): sums feeds the norms aggregate
    // AND both sides of the pairwise join — without pinning, each of the
    // three consumers re-runs the corpus quantize + posexplode +
    // aggregate chain (three documents-scans in the r20 before-plan).
    // The pinned frame is labels × dims rows — bounded, never corpus
    val sums = codes.groupBy("label", "pos")
      .agg(sum(col("v").cast("long")).as("sv"))
      .localCheckpoint()
    // products widened to DECIMAL(38,0) before summing: sv ~ 127·n per
    // dimension, so sv² overflows a silently-wrapping long sum once a
    // label holds ~7e7 vectors — the same overflow discipline as
    // connectedComponents' labelSum and qL35's exact lift (DuckDB's
    // BIGINT sum promotes to HUGEINT, so the oracle was already exact)
    val norms = sums.groupBy("label")
      .agg(sum(col("sv").cast("decimal(19,0)") * col("sv")).as("n2"))
    sums.select(col("label").as("label_a"), col("pos"), col("sv").as("sa"))
      .join(sums.select(col("label").as("label_b"), col("pos"),
        col("sv").as("sb")), Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("sa").cast("decimal(19,0)") * col("sb")).as("dot"))
      .join(norms.select(col("label").as("label_a"), col("n2").as("n2a")),
        Seq("label_a"))
      .join(norms.select(col("label").as("label_b"), col("n2").as("n2b")),
        Seq("label_b"))
      .select(col("label_a"), col("label_b"),
        (col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))))
          .as("sim"))
      .orderBy("label_a", "label_b")
  }

  def qL36(s: SparkSession, d: String, perBucket: Int = 4): DataFrame = {
    // SignSketch = one bits × dim tight loop inside whole-stage codegen;
    // the equivalent zip_with/aggregate formulation runs 8 INTERPRETED
    // passes per row (Spark higher-order functions don't codegen — the
    // LshBuckets lesson), byte-for-byte the same math and fold order
    val sketch = graft.functions.SignSketch(col("embedding"), bits = 8)
    graft.plans.Graft.groupTopK(
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"))
          .select(sketch.as("bucket"), col("vec_id")),
        group = Seq(col("bucket")),
        order = Seq(col("vec_id")),
        k = perBucket)
      .orderBy("bucket", "vec_id")
  }

  /** Q-L49 — SemDeDup-style semantic DROP CATALOG: the actionable step
    * [[nearDupPairs]] (q_l13) feeds. Greedy first-seen keeper semantics —
    * a vector is dropped iff SOME earlier (smaller-id) vector sits within
    * `threshold` cosine of it; `dup_of` is the smallest such id, the
    * keeper chain's root candidate (the same convention as exact-dedup
    * q_l04: earlier wins, so a rerun over a grown corpus never flips an
    * old keep decision — the property an incremental pipeline needs).
    * One row per DROPPED vector: (vec_id, label, dup_of, max_sim,
    * n_earlier); survivors are the complement, so the output is the
    * smaller side at every real dedup rate.
    *
    * Scale shape: candidate generation is the banded LSH join (ids only
    * through the shuffle), verification exact-after-prune, and the
    * keeper reduction is one groupBy over surviving pairs — never
    * corpus² anywhere. The pinned full-recall config matches q_l13, so
    * the exact DuckDB pair set is the oracle here too.
    */
  def qL49(s: SparkSession, d: String, threshold: Double = 0.45,
      bits: Int = 2, tables: Int = 14): DataFrame = {
    val pairs = nearDupPairs(s, d, threshold, bits, tables)
    pairs.groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"), max(col("sim")).as("max_sim"),
        count(lit(1)).as("n_earlier"))
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")),
        Seq("vec_id"))
      .select("vec_id", "label", "dup_of", "max_sim", "n_earlier")
      .orderBy("vec_id")
  }

  /** Johnson–Lindenstrauss random projection of int8-quantized embeddings
    * to `m` dims with deterministic ±1 signs — the dimension-reduction
    * lever between full vectors and [[qL36]]'s 1-bit sketches: a 64-dim
    * float scan becomes an m-long-dim one (here 4×), preserving pairwise
    * cosine to JL tolerance, and every downstream ANN structure (LSH,
    * IVF) gets cheaper to build and probe. The sign matrix is the qL36
    * hyperplane idiom — a multiplicative hash of (i, j), so no model is
    * stored and any engine regenerates it; quantize-first makes each
    * projected coordinate an exact BIGINT sum (the qL46 discipline),
    * so projected dots/norms are integers and the only double op is the
    * terminal cosine division. Projection is a pure per-row map — zero
    * shuffle at any corpus size.
    */
  def projectInt8(quantized: DataFrame, m: Int = 16): DataFrame =
    // ONE codegen expression (m × dim tight loop), not m interpreted
    // aggregate(zip_with(...)) passes — the same HOF-vs-codegen lesson as
    // SignSketch below; JlProjectSpec pins bit-parity against the HOF
    // formulation this replaced
    quantized.withColumn("proj",
      graft.functions.JlProject(col("qv"), m))

  /** Q-L53 — projected ANN with recall annotation: cosine top-k in the
    * [[projectInt8]] 16-dim space against the vec_id-0 query, each hit
    * flagged with whether it also sits in the EXACT full-dimension top-k
    * (the recall readout a pipeline monitors when deciding how hard the
    * projected space may prune before the exact re-rank). Projected dots
    * and norms fold over exact BIGINTs, so the similarity doubles are
    * engine-identical and the whole row set hashes.
    */
  def qL53(s: SparkSession, d: String, m: Int = 16, k: Int = 10): DataFrame = {
    val p = projectInt8(quantizeInt8(Tables.embeddings(s, d), "embedding"), m)
      .select("vec_id", "proj")
    val q0 = p.filter(col("vec_id") === 0).select(col("proj").as("proj0"))
    def dotL(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, z) => acc + z)
    def n2(a: Column): Column =
      aggregate(a, lit(0L), (acc, x) => acc + x * x)
    val topProj = p.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"),
        (dotL(col("proj"), col("proj0")).cast("double")
          / (sqrt(n2(col("proj")).cast("double"))
            * sqrt(n2(col("proj0")).cast("double")))).as("proj_sim"))
      .orderBy(col("proj_sim").desc, col("vec_id"))
      .limit(k)
    val exact = qL02(s, d, k)
      .select(col("vec_id"), lit(1L).as("hit"))
    topProj.join(broadcast(exact), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("proj_sim"),
        col("hit").isNotNull.as("in_exact"))
      .orderBy(col("proj_sim").desc, col("vec_id"))
  }
}
