package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators — the stages between "deduped
  * documents" and "training batches" that a 100 TB pipeline runs after the
  * LLMOps dedup family: duplicate-cluster resolution (connected components
  * over near-dup pairs), deterministic content-hash train/val/test
  * splitting, sequence packing into fixed token budgets, and a C4-style
  * quality-filter funnel.
  *
  * Everything is declarative DataFrame code (codegen'd built-ins, no UDFs);
  * the one iterative operator (connected components) loops a bounded number
  * of distributed rounds with lineage truncation — never a driver-side
  * traversal.
  */
object TrainPrep {

  /** Connected components by min-label propagation: each vertex starts
    * labeled with its own id, and every round adopts the minimum label of
    * its neighborhood; a fixpoint labels every member of a component with
    * the component's global minimum id.
    *
    * Scale shape: each hop is one equi-join + one aggregate (both
    * shuffle on vertex id — AQE coalesces as components collapse), and
    * `localCheckpoint` truncates the plan once per round so the lineage
    * doesn't grow with the hop count. Hops needed = graph diameter.
    * Near-dup TEXT clusters are band-join cliques with diameter ≤ ~2
    * (keep the default hopsPerRound = 1: the loop ends after 1-2
    * rounds); the mixed-media perceptual graph chains to diameter ~15
    * (r20 measurement), so its caller batches `hopsPerRound = 3` hops
    * per checkpointed round — same total message volume, a third of the
    * round barriers / checkpoints / convergence probes, at the price of
    * ≤ hopsPerRound−1 no-op hop subplans in the confirming round.
    * (Pointer-jumping and Kiveris et al.'s large-star/small-star were
    * both simulated on the r20 media graph first: its alternating-id
    * chains keep the label forest at depth 1, so neither cuts the hop
    * count — see OPTIMIZATION_r20.md.)
    *
    * `edges` needs `src`/`dst` long columns; undirectedness is enforced
    * here. Returns (id, component) for every vertex with at least one
    * edge — isolated docs are their own singleton cluster by definition
    * and never enter the edge list.
    *
    * Checkpoint hygiene (r5, advisor item): each round's localCheckpoint
    * pins its blocks in executor storage, so superseded label snapshots
    * are UNPERSISTED as soon as the next round materializes — storage
    * holds at most (bidir + current labels + one round in flight) for the
    * loop's lifetime, not one snapshot per round. `localCheckpoint` is
    * deliberate for the dedup-cluster topology (2-3 rounds, executor-local
    * blocks, no HDFS round-trip) but is NOT fault-tolerant: losing an
    * executor mid-loop fails the job. For long multi-round runs on a real
    * cluster, set `spark.sparkContext.setCheckpointDir(...)` and pass
    * `reliable = true` to use replicated reliable checkpoints instead
    * (checkpoint files are cleaned by the context cleaner when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is on).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      reliable: Boolean = false, hopsPerRound: Int = 1): DataFrame = {
    require(hopsPerRound >= 1, s"hopsPerRound $hopsPerRound")
    val spark = edges.sparkSession
    // no distinct(): duplicate edges change message volume, never the
    // min-aggregate's result — and the input (verified pair sets) is
    // already deduplicated, so the extra shuffle would buy nothing.
    // Symmetrization is ONE explode pass over the edge frame, not a
    // union of two selects of it: the union form duplicates the edge
    // subtree, so materializing bidir re-ran the caller's whole pair
    // pipeline (three banded near-dup joins, in the mixed-media case)
    // twice — exchange reuse shares the joins' exchanges across the
    // branches but the final pair aggregates still re-run (r20, §2.4).
    val (bidir, bidirIds) = pinTracked(
      edges.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")), reliable)
    // fused first round: instead of identity labels (which make round 1's
    // join a pure relabeling), every vertex STARTS at min(own id, min
    // neighbor id) — one aggregate over bidir, no join, and the loop
    // below begins where the identity-init version's round 1 ended
    // (one fewer join round + checkpoint + convergence probe; r20, §2.4)
    var (labels, labelIds) = pinTracked(
      bidir.groupBy(col("src").as("id"))
        .agg(min(least(col("src"), col("dst"))).as("comp")), reliable)
    // convergence via the label-sum invariant: min-propagation can only
    // DECREASE labels, so an unchanged sum(comp) is exactly a fixpoint —
    // one cheap scalar aggregate per round instead of a change-detection
    // join against the previous labels. Summed as decimal(38,0): a long
    // sum overflows (silently, wrapping) once vertex count × id magnitude
    // passes 2^63, which a 100 TB corpus with 64-bit ids does. An empty
    // graph sums to SQL NULL — normalized to zero so the zero-edge corpus
    // converges to zero clusters instead of NPE-ing on the comparison
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    try {
      while (!converged && iter < maxIter) {
        // hopsPerRound propagation steps chained into ONE checkpointed
        // plan/action — see the class doc's multi-hop note (r20, §2.4)
        var cur = labels
        for (_ <- 0 until hopsPerRound) {
          val msgs = bidir
            .join(cur.withColumnRenamed("id", "src"), Seq("src"))
            .select(col("dst").as("id"), col("comp"))
          cur = cur.union(msgs).groupBy("id").agg(min("comp").as("comp"))
        }
        // localCheckpoint is eager: `next`'s blocks exist once this
        // returns, so the previous round's snapshot is safe to drop
        val (next, nextIds) = pinTracked(cur, reliable)
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        unpinTracked(spark, labelIds)
        labels = next
        labelIds = nextIds
        iter += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
    } catch { case t: Throwable =>
      // a failed round (or non-convergence) must not strand corpus-scale
      // edge/label blocks in executor storage for the session lifetime
      unpinTracked(spark, labelIds ++ bidirIds)
      throw t
    }
    // the edge list is dead once the fixpoint is reached; only the final
    // labels stay pinned (the caller's frame reads them)
    unpinTracked(spark, bidirIds)
    labels
  }

  /** Checkpoint `df` (local unless `reliable`) plus the persistent-RDD
    * registry diff that identifies its blocks, so [[unpinTracked]] can
    * drop a bounded-lifetime pin (`Dataset.unpersist` can't reach a
    * LogicalRDD's blocks). Caveat: no OTHER thread may persist RDDs
    * during the eager checkpoint, or its blocks could be dropped too.
    */
  private[graft] def pinTracked(df: DataFrame,
      reliable: Boolean = false): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = if (reliable) df.checkpoint() else df.localCheckpoint()
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  private[graft] def unpinTracked(s: SparkSession, ids: Set[Int]): Unit = {
    val live = s.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Q-L19 — near-duplicate cluster resolution: the verified Jaccard
    * pairs (the q_l05 two-stage MinHash→exact pipeline) become edges, and
    * connected components turn pairwise matches into dedup GROUPS — the
    * step that decides "keep one document per cluster" correctly when
    * A~B and B~C but A!~C. Output: one row per cluster (id = min member
    * doc_id), with its size. The DuckDB oracle recomputes the same
    * clusters with a recursive transitive-closure CTE.
    */
  def qL19(s: SparkSession, d: String): DataFrame = {
    val pairs = LLMOps.qL05(s, d)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(pairs)
      .groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("size"))
      .orderBy("cluster_id")
  }

  /** Q-L45 — cluster KEEPER selection: the action step q_l19's cluster
    * resolution feeds — per near-dup cluster, keep the longest member
    * (ties to the smallest doc_id), the "most complete page wins"
    * heuristic every dedup pipeline applies before dropping the rest.
    * Exact-integer ordering key (n_chars), so keeper choice is
    * engine-portable where a float quality score's ties are not.
    * Scale: the per-cluster window partitions by component label —
    * bounded by cluster size, never corpus-sized; everything upstream is
    * the banded q_l05 chain.
    */
  def qL45(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = LLMOps.qL05(s, d)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = connectedComponents(pairs)
    val j = comp.join(
      Tables.documents(s, d).select(col("doc_id").as("id"), col("n_chars")),
      Seq("id"))
    val w = Window.partitionBy("comp").orderBy(col("n_chars").desc, col("id"))
    j.withColumn("rn", row_number().over(w))
      .groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("size"),
        max(when(col("rn") === 1, col("id"))).as("keeper_id"),
        max(when(col("rn") === 1, col("n_chars"))).as("kept_chars"))
      .orderBy("cluster_id")
  }

  /** Q-L20 — deterministic content-hash train/val/test split (90/5/5):
    * bucket = first 32 bits of md5(text) mod 100. Content-addressed, so
    * (a) re-ingesting the corpus with different doc_ids keeps every
    * document's split, and (b) exact duplicates land in the SAME split —
    * no train/test leakage through dup pairs. No shuffle beyond the final
    * tiny aggregate; the hash is evaluated scan-side.
    */
  def qL20(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(splitCol.as("split"), col("n_chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("docs"), sum("n_chars").as("total_chars"))
      .orderBy("split")
  }

  /** Q-L58 — LEAKAGE-SAFE train/val/test split: [[qL20]]'s content-hash
    * split made near-dup-aware. Hashing each document's OWN text puts
    * exact duplicates on the same side by construction, but NEAR
    * duplicates (the q_l05 verified pairs) can still straddle the test
    * boundary — the eval-contamination leak a content-hash split alone
    * cannot close. Here every document inherits its near-dup CLUSTER's
    * split: clusters are the q_l19 connected components, the
    * representative is the component label (the cluster's min doc_id by
    * construction of min-propagation), and the split bucket hashes the
    * REPRESENTATIVE's text — so no cluster can span two splits, and a
    * singleton hashes its own text, exactly q_l20. Scale shapes: the
    * pair chain is the banded q_l05 pipeline (ids-only shuffles), CC is
    * the bounded-round label propagation over the pair set (tiny next
    * to the corpus — near-dup mass, not corpus mass), and the rep-text
    * lookup is one id-keyed join against a column-pruned second scan of
    * documents, never corpus × corpus. Output: per split — docs,
    * distinct clusters (singletons counted as their own), chars.
    */
  def qL58(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
    val pairs = LLMOps.qL05(s, d)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = connectedComponents(pairs)
    val withRep = docs
      .join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("comp"), col("doc_id")).as("rep_id"))
    val repText = Tables.documents(s, d)
      .select(col("doc_id").as("rep_id"), col("text").as("rep_text"))
    withRep.join(repText, Seq("rep_id"))
      .select(splitOf(col("rep_text")).as("split"),
        col("rep_id"), col("n_chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("rep_id")).as("clusters"),
        sum("n_chars").as("total_chars"))
      .orderBy("split")
  }

  /** Q-L21 — sequence packing, concat-then-chunk (the GPT pretraining
    * layout): documents are concatenated in (source, doc_id) order and
    * the token stream is cut into fixed 2048-token bins; each doc reports
    * the bin span it occupies.
    *
    * The cumulative token sum is TWO-LEVEL (r5, advisor item): a
    * per-source window alone leaves one sequential task per source, and
    * a corpus has few sources — at 100 TB that is a handful of
    * single-threaded corpus-length scans. Instead:
    *   1. docs are cut into contiguous `shardSize`-doc shards
    *      (`doc_id div shardSize` — deterministic and engine-portable;
    *      assumes reasonably dense ids, otherwise substitute a range
    *      partitioning of doc_id for the div);
    *   2. a window per (source, shard) computes the shard-local running
    *      sum — parallel across shards, each group ≤ shardSize rows;
    *   3. shard token totals (corpus/shardSize rows — tiny: at 10^11
    *      docs / 2^20-doc shards, ~100k rows) are prefix-summed per
    *      source by a DISTRIBUTED window over the totals frame (one
    *      sequential task per source, over shard counts, not docs),
    *      then broadcast-joined back as each shard's offset.
    * Offset + local sum = the identical global cumulative sum, fully
    * parallel. The totals pass is an EAGER second scan of the corpus
    * (tokenization runs twice) — the deliberate alternative to caching
    * the tokenized base across the two consumers, which pins a
    * corpus-sized block set in executor storage for the session lifetime
    * (Catalyst prunes self-referenced frames into different scans, so
    * exchange reuse can't merge them without a cache).
    */
  def qL21(s: SparkSession, d: String, capacity: Int = 2048,
      shardSize: Int = 1 << 20): DataFrame =
    docCumTokens(s, d, shardSize)
      .select(col("source"), col("doc_id"), col("n_tok"),
        expr(s"(cum - n_tok) div $capacity").as("start_bin"),
        expr(s"(cum - 1) div $capacity").as("end_bin"))
      .orderBy("source", "doc_id")

  /** The qL21 two-level cumulative token sum, shared with
    * [[writePackedShards]]: per doc, `cum` = the running token total of
    * its source up to AND including it (shard-local windows + a
    * DISTRIBUTED per-source window prefix-summing the shard totals —
    * see qL21's doc for why the single per-source window over DOCS is
    * a scale hazard).
    */
  private def docCumTokens(s: SparkSession, d: String,
      shardSize: Int): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(LLMOps.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("shard", expr(s"doc_id div $shardSize"))
    // shard offsets stay DISTRIBUTED (r14, verdict item): the exclusive
    // per-source prefix sum runs as a window over the TOTALS frame —
    // corpus/shardSize rows, one sequential task per source but over
    // shard counts, not docs — instead of collecting every (source,
    // shard) total to the driver and looping. At 10^11 docs / 2^20-doc
    // shards that is ~100k rows the driver never has to hold; the
    // broadcast below moves only the finished offsets.
    val wOff = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("source", "shard")
      .agg(sum("n_tok").as("shard_tok"))
      .select(col("source"), col("shard"),
        coalesce(sum("shard_tok").over(wOff), lit(0L)).as("offset"))
    val wLocal = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("local_cum", sum("n_tok").over(wLocal))
      .join(broadcast(offsets), Seq("source", "shard"))
      .withColumn("cum", col("local_cum") + col("offset"))
      .select("source", "doc_id", "n_tok", "cum")
  }

  /** Write the packed corpus as bin-aligned TRAINING SHARDS — the
    * artifact qL21 only measures, made real: per source, the token
    * stream (documents concatenated in doc_id order) is cut into
    * `capacity`-token bins, one row per bin carrying its space-joined
    * text and token count, landed hive-partitioned by
    * (source, shard = bin div binsPerShard) so a dataloader reads one
    * shard directory per worker and partition pruning serves
    * "source = X, shards [a, b)" requests without listing the rest.
    * Every bin except each source's last holds exactly `capacity`
    * tokens, and concatenating bins in bin order reproduces the source's
    * token stream byte-exactly (both pinned in EngineSpec).
    * Scale shape: the fan-out is one row per TOKEN but it carries only
    * (gpos, token) pairs into a capacity-bounded per-bin aggregate
    * (array_sort inside the agg — deterministic, like qT08's path
    * build); no corpus-length sequential task anywhere (the two-level
    * cumsum supplies global positions).
    */
  def writePackedShards(s: SparkSession, d: String, outDir: String,
      capacity: Int = 2048, binsPerShard: Int = 64,
      shardSize: Int = 1 << 20): (Long, Long) = {
    val off = docCumTokens(s, d, shardSize)
      .select(col("source"), col("doc_id"), (col("cum") - col("n_tok")).as("doc_off"))
    val bins = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), LLMOps.tokens(col("text")).as("toks"))
      .join(off, Seq("source", "doc_id"))
      .select(col("source"), col("doc_off"),
        posexplode(col("toks")).as(Seq("p", "tok")))
      .select(col("source"), (col("doc_off") + col("p")).as("gpos"), col("tok"))
      .withColumn("bin", expr(s"gpos div $capacity"))
      .groupBy("source", "bin")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("gpos"), col("tok")))),
          e => e("tok")), " ").as("text"),
        count(lit(1)).as("n_tok"))
      .withColumn("shard", expr(s"bin div $binsPerShard"))
    bins.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("source", "shard").parquet(outDir)
    val out = s.read.parquet(outDir)
    (out.count(), out.select("source", "shard").distinct().count())
  }

  /** The content-hash split expression shared by qL20/qL24 — first 32
    * bits of md5(text) mod 100, 90/5/5.
    */
  private def splitCol = splitOf(col("text"))

  private def splitOf(text: Column) = {
    val bucket = conv(substring(md5(text), 1, 8), 16, 10)
      .cast("long") % 100
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  }

  /** Q-L23 — language-balanced sampling: keep at most `cap` documents per
    * language, chosen in deterministic pseudo-random order (md5 of
    * content, doc_id tie-break) so the sample is reproducible across runs
    * and engines. Runs on the custom GroupTopK operator — ≤ cap rows per
    * (lang, partition) cross the shuffle, so one dominant language cannot
    * concentrate its whole partition into a single window sort (the
    * skew trap of the ROW_NUMBER() formulation the oracle uses).
    */
  def qL23(s: SparkSession, d: String, cap: Int = 50): DataFrame =
    graft.plans.Graft.groupTopK(
        Tables.documents(s, d)
          .select(col("lang"), col("doc_id"), col("n_chars"),
            md5(col("text")).as("mh")),
        group = Seq(col("lang")),
        order = Seq(col("mh"), col("doc_id")),
        k = cap)
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang")

  /** Q-L37 — data-mixture weights: temperature-sampled source weights
    * (α = 0.5: weight ∝ corpus-mass^α), the mixture knob a training run
    * turns to up-sample small high-quality sources without letting the
    * biggest source drown the blend. Exact arithmetic discipline: the
    * per-source mass is floor(sqrt(n_chars)) — an exact BIGINT, since
    * IEEE sqrt is correctly rounded and char counts sit far below 2^52 —
    * so the normalizing sum is an integer fold and the ONLY double op is
    * the terminal division (summing raw sqrt doubles would be
    * accumulation-order-dependent and engine-divergent). Scale: one
    * map-side-combined aggregate over a bounded source set; the 1-row
    * total broadcasts back.
    */
  def qL37(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("w_int", floor(sqrt(col("n_chars").cast("double"))).cast("long"))
    val tot = perSource.agg(sum(col("w_int")).as("z"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_chars"),
        (col("w_int").cast("double") / col("z").cast("double")).as("weight"))
      .orderBy("source")
  }

  /** The qL22 quality predicate over an arbitrary (doc_id, text, ...)
    * frame, entirely MAP-SIDE: max-token frequency comes from the qL54
    * run-length fold over the doc's own sorted tokens instead of qL22's
    * (doc, token) shuffle — same value (a sorted run's length IS the
    * token's count), zero exchanges, which is what a streaming admission
    * gate needs. Returns the rows that pass all four C4-style filters;
    * EngineSpec pins set-equality with the shuffle-based qL39 stage.
    */
  def qualitySurvivors(docs: DataFrame): DataFrame = {
    val stop = LLMOps.stopwords
    val w = LLMOps.tokens(col("text"))
    val wc = size(w).cast("double")
    // codegen folds (RunGrams/CountIn) — value-identical to the
    // runArgmax(array_sort)/filter+isin HOF chain they replaced (r20,
    // §4; RunGramsSpec), so the qL22-parity pin is untouched
    docs.filter(
      wc.between(20.0, 80.0) &&
        (length(col("text")).cast("double") / wc).between(3.0, 10.0) &&
        (graft.functions.TopRunGram(w, 1).getField("cnt").cast("double") / wc)
          <= 0.125 &&
        (graft.functions.CountIn(w, stop).cast("double") / wc) >= 0.01)
  }

  /** Q-L55 — the qL37 mixture weights made ACTIONABLE: materialize a
    * temperature-rebalanced sample of the corpus. Per source, the target
    * character mass is its α=0.5 weight share of `totalFraction` of the
    * corpus; the per-source acceptance rate is target/chars (clamped at
    * 1 — up-sampling beyond 1× means REPEATING documents, which the
    * reported rate makes visible rather than silently doing), and each
    * document accepts iff its salted content-hash uniform < rate — the
    * qL33 deterministic draw, so the SAME documents are chosen on every
    * run, engine, and partitioning. Output is the per-source accounting
    * row (targets, rates, achieved docs/chars); the kept documents
    * themselves are the same predicate applied corpus-side.
    *
    * Scale shape: two bounded-cardinality aggregates + a broadcast of
    * the source-rate table + one pure per-row predicate over the corpus
    * — no corpus shuffle before the bounded output aggregate.
    */
  def qL55(s: SparkSession, d: String, totalFraction: Double = 0.5)
      : DataFrame = {
    val docs = Tables.documents(s, d)
    val perSource = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .withColumn("w_int",
        floor(sqrt(col("chars").cast("double"))).cast("long"))
    val tot = perSource.agg(sum(col("w_int")).as("z"),
      sum(col("chars")).as("total_chars"))
    val rates = perSource.crossJoin(broadcast(tot))
      .withColumn("target_chars",
        col("w_int").cast("double") / col("z").cast("double")
          * (lit(totalFraction) * col("total_chars").cast("double")))
      .withColumn("rate",
        least(lit(1.0), col("target_chars") / col("chars").cast("double")))
    val u = LLMOps.charHash(concat(col("text"), lit("|mix"))).cast("double") /
      lit(graft.functions.PolyHash.Mod).cast("double")
    val kept = docs
      .join(broadcast(rates.select("source", "rate")), Seq("source"))
      .filter(u < col("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"),
        sum(col("n_chars")).as("kept_chars"))
    rates.join(kept, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("chars"), col("w_int"),
        col("rate"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
      .orderBy("source")
  }

  /** Q-L24 — train/test contamination scan: how many train-split docs
    * share at least one 3-word shingle with any test-split doc — the
    * eval-integrity check a training pipeline runs after splitting.
    *
    * Shape (r5, advisor item): train postings LEFT SEMI JOIN the distinct
    * test-shingle set on the shingle hash, then one countDistinct(doc_id).
    * The r4 version did this with a single postings scan and a window
    * `max(split='test') over (partition by h)` — fewer scans, but a
    * window group must MATERIALIZE per key, and a stopword trigram
    * ("of the and") has document frequency orders of magnitude above a
    * minhash band key: at 100 TB one hot shingle concentrates a corpus
    * fraction into a single window task. The semi-join keeps the hot key
    * safe at every stage instead:
    *   - the test side collapses to ONE row per distinct hash via an
    *     aggregate — map-side combined, so the hot hash never even
    *     shuffles more than once per input partition;
    *   - the train side streams through the join probe — skewed probe
    *     partitions split fine under AQE, nothing buffers per key;
    *   - no broadcast of the test side (5% of a 100 TB corpus — the
    *     classic mistake this operator exists to avoid).
    * Cost accounting vs r4: the corpus is scanned three times, but
    * shingling — the dominant per-row cost — runs on train (90%) + test
    * (5%) = 95% of documents vs 100% for the window plan, and the third
    * scan only evaluates the md5 split bucket. Strictly less work, no
    * per-key materialization anywhere.
    */
  def qL24(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), splitCol.as("split"), col("text"))
    // duplicate (doc, h) postings (a 3-gram repeated inside one doc) are
    // harmless: the final count is distinct-by-doc and the test side is
    // distinct-by-hash — so no dedup pass is spent on them
    val trainPosts = LLMOps.shinglePostings(
      docs.filter(col("split") === "train"), distinctPerDoc = false)
    val testShingles = LLMOps.shinglePostings(
      docs.filter(col("split") === "test"), keep = Nil, distinctPerDoc = false)
      .distinct()
    val contaminated = trainPosts.join(testShingles, Seq("h"), "left_semi")
      .agg(countDistinct(col("doc_id")).as("contaminated_docs"))
    docs.filter(col("split") === "train")
      .agg(count(lit(1)).as("train_docs"))
      .crossJoin(contaminated)
      .select(col("train_docs"), col("contaminated_docs"),
        (col("contaminated_docs").cast("double") / col("train_docs"))
          .as("contamination_rate"))
  }

  /** Fuzzy benchmark decontamination: which corpus documents are NEAR-
    * duplicates of a held-out evaluation set — the Dolma/DataComp-style
    * complement to [[qL24]]'s exact-shingle contamination scan. qL24 flags
    * a train doc for sharing ONE 3-gram with the test split (high recall,
    * noisy); this operator flags whole-document near-duplication against
    * an external benchmark (a quoted or lightly-edited eval sample inside
    * a crawl), which single-shingle overlap badly over-triggers on and
    * whole-doc exact hashes entirely miss.
    *
    * Shape: the same two-stage discipline as the LLMOps dedup family —
    * MinHash band keys on BOTH sides, candidates from the banded join
    * ([[Banded.crossPairs]], never corpus × benchmark), then the exact
    * shingle-intersection Jaccard confirms ≥ `threshold`; the verify join
    * touches only candidate documents' postings.
    *
    * `docs` needs (doc_id, text); `bench` needs (bench_id, text). Returns
    * (doc_id, bench_id, jaccard) for confirmed matches — the drop list a
    * pipeline anti-joins against before training.
    */
  def fuzzyDecontam(docs: DataFrame, bench: DataFrame,
      threshold: Double = 0.5): DataFrame =
    fuzzyDecontamAgainst(docs,
      LLMOps.shinglePostingsOf(
        bench.select(col("bench_id").as("doc_id"), col("text")))
        .select(col("doc_id").as("bench_id"), col("h")),
      threshold)

  /** [[fuzzyDecontam]] against PRECOMPUTED benchmark postings
    * (bench_id, h) — the shape a streaming gate needs: the static
    * benchmark side is shingled once (and checkpointed by the caller),
    * each arriving batch pays only its own shingling plus the banded
    * join. Bands are derived from the postings on both sides, so the
    * candidate discipline is identical to the one-shot path.
    */
  def fuzzyDecontamAgainst(docs: DataFrame, benchPosts: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val cp = LLMOps.shinglePostingsOf(docs)
    val bp = benchPosts.select("bench_id", "h")
    decontamCandidates(cp, bp.withColumnRenamed("bench_id", "doc_id"))
      .join(cp, Seq("doc_id"))
      .join(bp, Seq("bench_id", "h"))
      .groupBy("doc_id", "bench_id", "n_c", "n_b")
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_id"), col("bench_id"),
        (col("inter").cast("double")
          / (col("n_c") + col("n_b") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_id", "bench_id")
  }

  /** (doc_id, bench_id, n_c, n_b) MinHash candidates of two (doc_id, h)
    * postings, with each side's posting count.
    */
  private[graft] def decontamCandidates(docPosts: DataFrame,
      benchPosts: DataFrame): DataFrame =
    Banded.crossPairs(LLMOps.minhashBandArray(docPosts),
        LLMOps.minhashBandArray(benchPosts), "doc_id", "band_keys", Seq("n_sh"))
      .select(col("id_a").as("doc_id"), col("id_b").as("bench_id"),
        col("n_sh_a").as("n_c"), col("n_sh_b").as("n_b"))

  /** Q-L50 — fuzzy decontamination against a constructed benchmark: every
    * 13th document, with a fixed four-token suffix appended, stands in
    * for an eval set that quotes corpus text with light edits (the q_l44
    * deterministic-mutation idiom, so DuckDB rebuilds the identical
    * benchmark and the whole band/verify pipeline is hash-checkable).
    * Every benchmark doc must recover its source (J ≈ 0.7–0.96 depending
    * on length) and nothing below the 0.5 near-dup bar may appear.
    */
  def qL50(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("bench_id"),
        concat(col("text"), lit(" held out eval sample")).as("text"))
    fuzzyDecontam(docs, bench)
  }

  /** Q-L22 — C4-style quality-filter funnel: per-document word count,
    * mean token length, repetition ratio (max single-token frequency /
    * word count) and stopword ratio, aggregated into one funnel row of
    * how many docs survive each filter and all of them. The repetition
    * stat needs a (doc, token) aggregate — two shuffles total (token
    * counts, then per-doc max), both map-side combined; every predicate
    * is engine-portable arithmetic so DuckDB recomputes the funnel
    * exactly.
    */
  def qL22(s: SparkSession, d: String): DataFrame = {
    // mirrored verbatim in the q_l22 oracle SQL (and LLMOps.stopwords) —
    // edit all sites together or parity breaks
    val stop = LLMOps.stopwords
    val docs = Tables.documents(s, d)
    val wc = size(LLMOps.tokens(col("text"))).cast("double")
    val stats = docs.select(
      col("doc_id"),
      wc.as("wc"),
      (length(col("text")).cast("double") / wc).as("mean_tok_len"),
      (size(filter(LLMOps.tokens(col("text")), t => t.isin(stop: _*)))
        .cast("double") / wc).as("stop_ratio"))
    val rep = docs
      .select(col("doc_id"), explode(LLMOps.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").cast("double").as("max_tok"))
    val fLen = col("wc").between(20.0, 80.0)
    val fWlen = col("mean_tok_len").between(3.0, 10.0)
    val fRep = (col("max_tok") / col("wc")) <= 0.125
    val fStop = col("stop_ratio") >= 0.01
    stats.join(rep, Seq("doc_id"))
      .agg(
        count(lit(1)).as("total"),
        sum(when(fLen, 1L).otherwise(0L)).as("pass_len"),
        sum(when(fWlen, 1L).otherwise(0L)).as("pass_wlen"),
        sum(when(fRep, 1L).otherwise(0L)).as("pass_rep"),
        sum(when(fStop, 1L).otherwise(0L)).as("pass_stop"),
        sum(when(fLen && fWlen && fRep && fStop, 1L).otherwise(0L)).as("pass_all"))
  }

  /** The funnel ACCOUNTING as a side-channel of the real job: where qL22
    * runs the counters as their own aggregate, a production pipeline's
    * output is the SURVIVING documents — and the per-rule pass counts
    * should ride along via `Dataset.observe`, collected by the executors
    * during the same pass (no second scan, no extra shuffle, no separate
    * accounting job — at 100 TB the dedicated recount IS the cost
    * difference). Returns (survivors, observation); read
    * `observation.get` after any action on the survivors. Counter
    * equality with the oracle-checked qL22 row is pinned in EngineSpec.
    */
  def observedQualityFunnel(s: SparkSession, d: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val stop = LLMOps.stopwords
    val docs = Tables.documents(s, d)
    val wc = size(LLMOps.tokens(col("text"))).cast("double")
    val stats = docs.select(
      col("doc_id"),
      wc.as("wc"),
      (length(col("text")).cast("double") / wc).as("mean_tok_len"),
      (size(filter(LLMOps.tokens(col("text")), t => t.isin(stop: _*)))
        .cast("double") / wc).as("stop_ratio"))
    val rep = docs
      .select(col("doc_id"), explode(LLMOps.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").cast("double").as("max_tok"))
    val fLen = col("wc").between(20.0, 80.0)
    val fWlen = col("mean_tok_len").between(3.0, 10.0)
    val fRep = (col("max_tok") / col("wc")) <= 0.125
    val fStop = col("stop_ratio") >= 0.01
    val obs = org.apache.spark.sql.Observation("quality_funnel")
    val observed = stats.join(rep, Seq("doc_id"))
      .observe(obs,
        count(lit(1)).as("total"),
        sum(when(fLen, 1L).otherwise(0L)).as("pass_len"),
        sum(when(fWlen, 1L).otherwise(0L)).as("pass_wlen"),
        sum(when(fRep, 1L).otherwise(0L)).as("pass_rep"),
        sum(when(fStop, 1L).otherwise(0L)).as("pass_stop"),
        sum(when(fLen && fWlen && fRep && fStop, 1L).otherwise(0L)).as("pass_all"))
    (observed.where(fLen && fWlen && fRep && fStop).select("doc_id"), obs)
  }

  /** Q-L39 — the end-to-end corpus-prep pipeline as ONE flow: quality
    * gate (qL22's four predicates) → exact dedup (keep the MIN doc_id
    * per text — a deterministic winner, where `first` would be
    * partition-order roulette) → content-hash split (qL20's md5 recipe)
    * → per-split doc and token totals. This is the composition a real
    * training-data run executes nightly; each stage is individually
    * oracle-checked elsewhere (q_l22/q_l04/q_l20), this row pins that
    * they compose without re-materializing: the only corpus-sized
    * shuffles are qL22's (doc,token) aggregate and the dedup's
    * text-keyed aggregate over quality SURVIVORS — everything after is
    * split-cardinality.
    */
  def qL39(s: SparkSession, d: String): DataFrame = {
    val stop = LLMOps.stopwords
    val docs = Tables.documents(s, d)
    val wc = size(LLMOps.tokens(col("text"))).cast("double")
    val stats = docs.select(
      col("doc_id"), col("text"),
      wc.as("wc"),
      (length(col("text")).cast("double") / wc).as("mean_tok_len"),
      (size(filter(LLMOps.tokens(col("text")), t => t.isin(stop: _*)))
        .cast("double") / wc).as("stop_ratio"))
    val rep = docs
      .select(col("doc_id"), explode(LLMOps.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").cast("double").as("max_tok"))
    val quality = stats.join(rep, Seq("doc_id"))
      .filter(col("wc").between(20.0, 80.0) &&
        col("mean_tok_len").between(3.0, 10.0) &&
        (col("max_tok") / col("wc")) <= 0.125 &&
        col("stop_ratio") >= 0.01)
      .select("doc_id", "text", "wc")
    val deduped = quality.groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"), min(col("wc")).as("wc"))
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
      .cast("long") % 100
    deduped
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("docs"),
        sum(col("wc").cast("long")).as("total_tokens"))
      .orderBy("split")
  }

  /** Q-L59 — the UNIFIED corpus-prep capstone across TEXT and MEDIA:
    * one oracle-checked provenance funnel over a corpus whose documents
    * CARRY media ([[Multimodal.withMedia]] — doc i's blob derives from
    * doc_id i), composing the q_l39 text side with the q_mm10 media
    * side under ONE keeper story. Stages, each row = the survivors
    * after that stage (docs + token total), then the final split:
    *
    *   - `00_ingested` — the raw corpus.
    *   - `10_quality` — qL22's four-predicate gate.
    *   - `20_text_dedup` — exact dedup, MIN doc_id per text keeps.
    *   - `30_decontam` — drop any keeper sharing a 3-shingle with the
    *     held-out benchmark (doc_id % 13 — the eval-set convention the
    *     streaming admission gate uses); exact-overlap decontamination,
    *     the q_l24 semi-join shape against a benchmark-sized hash set.
    *   - `40_media_dedup` — drop any doc whose MEDIA lost its near-dup
    *     cluster: all three perceptual families (image dHash, audio
    *     fingerprint, video frame-set Jaccard) served from the
    *     persisted fingerprint store, one CC pass, richest-member-wins
    *     ([[Multimodal.mixedMediaRanked]]); planted twins (media-only
    *     provenance rows, ids ≥ TwinOffset) can lose a cluster but are
    *     never corpus documents, so only corpus losers drop here.
    *   - `50_train`/`50_val`/`50_test` — the q_l20 md5 content-hash
    *     split of the final kept set, with `packed_bins` = the number
    *     of 2048-token training bins the split packs into (the qL21
    *     contiguous-stream bin count; [[writePackedShards]] is the
    *     operator that lands the real artifact).
    *
    * This is the nightly run a training-data org actually executes —
    * quality, text dedup, eval decontamination, cross-modality media
    * dedup, split, pack — as ONE query with one provenance table out.
    *
    * Scale shape: ONE corpus-sized shuffle on the text chain (the
    * text-keyed dedup window) — the repetition signal that qL39 buys
    * with a (doc,token) aggregate comes here from the map-side
    * [[qualitySurvivors]] run-length fold, value-equal by the r11
    * spec pin; the survivor frame is localCheckpoint-ed once
    * and every later stage joins ids-only against it (contaminated ids,
    * media losers — both bounded sets, checkpointed). The media side
    * reads the PERSISTED store — decode happened once at ingest
    * (bootstrap is priced by q_mm10); blobs appear only scan-side in
    * the richness projection, and every exchange after the scans
    * carries ids, shingle hashes or digests. The DuckDB oracle rebuilds
    * the whole funnel: quality/dedup/split per the q_l39 CTEs, decontam
    * per the q_l06 poly-hash shingle chain, and the media losers from
    * the q_mm10 digest-rebuild chain (splitmix64 → dHash/fingerprint/
    * frame-hash → all-pairs → recursive-CTE closure → richness rank).
    *
    * Fault-tolerance trade (§5, deliberate): the in-query pins here
    * (`base`, the contaminated-id set, the media-loser set) are
    * `localCheckpoint` — lineage is truncated, so losing an executor
    * mid-query fails the job instead of recomputing; the retry re-runs
    * the query. That is the right default for a nightly batch run
    * (cheap executor-local blocks, no replicated-store round-trip); a
    * deployment on preemptible nodes should set a checkpoint dir and
    * swap these pins to reliable `checkpoint()` — the
    * [[connectedComponents]] `reliable` flag is the same trade exposed
    * on the one operator where rounds make mid-flight loss likely.
    */
  def qL59(s: SparkSession, d: String): DataFrame = {
    val stop = LLMOps.stopwords
    val docs = Tables.documents(s, d)
    val wc = size(LLMOps.tokens(col("text"))).cast("double")
    val stats = docs.select(
      col("doc_id"), col("text"),
      wc.as("wc"),
      (length(col("text")).cast("double") / wc).as("mean_tok_len"),
      (graft.functions.CountIn(LLMOps.tokens(col("text")), stop)
        .cast("double") / wc).as("stop_ratio"),
      // max-token frequency as the qL54 run-length fold over the doc's
      // own sorted tokens — a sorted run's length IS the token's count,
      // so this is value-equal to the (doc, token) shuffle aggregate
      // (spec-pinned set-equal in EngineSpec's map-side quality-gate
      // parity test) at zero
      // exchanges: the one avoidable corpus-sized shuffle qL39 carries
      // stays out of the flagship composed run. The fold is the RunGrams
      // codegen expression (r20, §4) — keeps the whole stats Project
      // inside whole-stage codegen, so the repeated tokens(text)
      // subexpression is eliminated instead of re-split per feature.
      graft.functions.TopRunGram(LLMOps.tokens(col("text")), 1)
        .getField("cnt").cast("double").as("max_tok"))
    val qual = col("wc").between(20.0, 80.0) &&
      col("mean_tok_len").between(3.0, 10.0) &&
      (col("max_tok") / col("wc")) <= 0.125 &&
      col("stop_ratio") >= 0.01
    // one corpus pass carries the quality AND keeper flags: keeper =
    // the MIN doc_id among a text's quality survivors (the qL04/qL39
    // deterministic winner, as a window so the funnel counts fall out
    // of the same frame)
    val wTxt = Window.partitionBy("text")
    // ONE materialized corpus pass (localCheckpoint) carries the quality
    // AND keeper flags for everything below: the funnel-heads aggregate
    // and the keeper frame previously each re-ran the tokenize + dedup-
    // window subtree (the two most expensive operators in the query) —
    // the heads branch as a recomputation at action time, the keeper
    // branch as the eager checkpoint. Pinning base instead runs
    // tokenize + window once; every consumer (heads, keepers → shingles
    // / split, tallies) re-reads executor-local blocks.
    val base = stats
      .withColumn("q", qual)
      .withColumn("k", col("q") &&
        col("doc_id") === min(when(col("q"), col("doc_id"))).over(wTxt))
      .localCheckpoint()
    // funnel heads (one aggregate): ingested / quality / text-dedup
    val heads = base.agg(
      count(lit(1)).as("d0"), sum(col("wc").cast("long")).as("t0"),
      sum(when(col("q"), 1L).otherwise(0L)).as("d1"),
      sum(when(col("q"), col("wc").cast("long")).otherwise(0L)).as("t1"),
      sum(when(col("k"), 1L).otherwise(0L)).as("d2"),
      sum(when(col("k"), col("wc").cast("long")).otherwise(0L)).as("t2"))
      .selectExpr("stack(3, '00_ingested', d0, t0, '10_quality', d1, t1, " +
        "'20_text_dedup', d2, t2) AS (stage, docs, total_tokens)")
      .withColumn("packed_bins", lit(0L))
    // the keeper frame referenced by every stage below is a narrow
    // filter+select over the PINNED base — no second checkpoint (its
    // lineage is already executor-local blocks, not the corpus pass)
    val keepers = base.filter(col("k")).select("doc_id", "text", "wc")
    // 30: exact benchmark decontamination (q_l24 semi-join shape — the
    // benchmark hash set aggregates to one row per distinct shingle,
    // never broadcast by hint: eval suites are small, AQE decides)
    val benchShingles = LLMOps.shinglePostings(
      docs.filter(col("doc_id") % 13 === 0), keep = Nil,
      distinctPerDoc = false).distinct()
    val contaminated = LLMOps.shinglePostings(keepers,
        distinctPerDoc = false)
      .join(benchShingles, Seq("h"), "left_semi")
      .select("doc_id").distinct().localCheckpoint()
    val clean = keepers.join(contaminated, Seq("doc_id"), "left_anti")
    // 40: media losers, served from the persisted fingerprint store
    // over the staged mixed-media fixture (decode amortized at ingest;
    // q_mm10 prices the bootstrap)
    val tmp = Multimodal.stageMm10Fixture(s, d)
    val ingested = graft.io.Readers.binaryMedia(s, tmp, idFromStem = true)
    val store = Multimodal.stageFixtureOnce("mm10s", d) { dir =>
      FingerprintStore.bootstrap(s, ingested, dir)
    }
    val mediaLosers = Multimodal.mixedMediaRanked(s, ingested, store)
      .filter(col("rn") > 1 && col("id") < Multimodal.TwinOffset)
      .select(col("id").as("doc_id")).localCheckpoint()
    val kept = clean.join(mediaLosers, Seq("doc_id"), "left_anti")
    def tally(name: String, f: DataFrame): DataFrame =
      f.agg(count(lit(1)).as("docs"),
          sum(col("wc").cast("long")).as("total_tokens"))
        .select(lit(name).as("stage"), col("docs"), col("total_tokens"),
          lit(0L).as("packed_bins"))
    // 50: md5 content-hash split of the kept set + the 2048-token bin
    // count each split packs into (contiguous stream — qL21's measure)
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
      .cast("long") % 100
    val splits = kept
      .withColumn("stage", concat(lit("50_"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test")))
      .groupBy("stage")
      .agg(count(lit(1)).as("docs"),
        sum(col("wc").cast("long")).as("total_tokens"))
      .withColumn("packed_bins",
        expr("(total_tokens + 2047) div 2048"))
    heads
      .unionByName(tally("30_decontam", clean))
      .unionByName(tally("40_media_dedup", kept))
      .unionByName(splits.select("stage", "docs", "total_tokens",
        "packed_bins"))
      .orderBy("stage")
  }

  /** Q-L30 — per-language length trimming (drop the p5/p95 tails of
    * `n_chars` within each language before training). Pass 1 reduces the
    * corpus to one (lo, hi) row per language — a bounded, broadcastable
    * stats table; pass 2 re-scans with the broadcast bounds, so no
    * per-language window sort of the full corpus ever happens. The exact
    * `percentile` aggregate buffers each group's values (fine per-language
    * here and required for bit-parity with the DuckDB quantile_cont
    * oracle); at 100 TB swap it for `approx_percentile` — pass 2 and the
    * plan shape are unchanged.
    */
  def qL30(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bounds = docs.groupBy("lang")
      .agg(expr("percentile(n_chars, array(0.05D, 0.95D))").as("b"))
      .select(col("lang"), col("b").getItem(0).as("lo"), col("b").getItem(1).as("hi"))
    docs.join(broadcast(bounds), Seq("lang"))
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .groupBy("lang")
      .agg(count(lit(1)).as("kept_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("lang")
  }
}
