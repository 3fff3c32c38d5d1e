package graft.operators

import graft.Tables
import graft.functions.{MinhashBands, PolyHash, ShingleHash}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` table (driver
  * mandate): deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard),
  * language ID, quality scoring, token counting, document fingerprinting.
  *
  * Everything is built from codegen'd higher-order functions — no UDFs — so
  * each operator is a single declarative plan that Catalyst can pipeline.
  * Where an oracle must reproduce hash values, hashing is a polynomial
  * char-code hash (engine-portable, exact integer math) instead of an
  * engine-private hash function; the xxhash64-based variants are the faster
  * production path and are checked structurally (rows-only).
  */
object LLMOps {
  private val P = PolyHash.Mod // portable polynomial-hash modulus

  /** qL40's self-contained snapshot target: ONE root per JVM with a
    * subdirectory per corpus dir, so repeated bench/verify constructions
    * can't grow /tmp without bound (the leak the old per-construction
    * createTempDirectory had) AND a frame built for one corpus never
    * aliases a snapshot later overwritten for another — same-corpus
    * reconstruction rewrites identical content, which a held frame
    * tolerates.
    */
  private lazy val l40SnapRoot: String =
    java.nio.file.Files.createTempDirectory("graft_l40_snap").toString
  private[operators] def l40SnapDir(corpusDir: String): String =
    s"$l40SnapRoot/${corpusDir.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** Stopword list for lang-ID / quality scoring — mirrored verbatim in the
    * q_l08/q_l09 oracle SQL; edit all sites together or parity breaks.
    */
  private[operators] val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Whitespace tokens of lowercased text. */
  def tokens(c: Column): Column = split(lower(c), " ")

  /** Consecutive n-word shingles; a doc shorter than n yields one shingle
    * (the whole text) so every doc participates in dedup.
    */
  def shingles(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(w, i + lit(j + 1))): _*)))
      .otherwise(array(array_join(w, " ")))

  /** Portable polynomial string hash (native codegen expression; the DuckDB
    * oracle computes the identical fold with list_reduce over ord()), which
    * is why this exists alongside xxhash64.
    */
  def charHash(sh: Column): Column = PolyHash(sh)

  /** Canonicalization ahead of exact-hash dedup: Unicode NFC
    * ([[graft.functions.NfcNormalize]]), lowercase, whitespace-run
    * collapse (UNICODE_CHARACTER_CLASS `\s`, so NBSP and friends — what
    * every HTML `&nbsp;` becomes — collapse like ASCII spaces), trim.
    * Web-scale crawls carry the same text composed and decomposed (café
    * as U+00E9 vs e+U+0301) — byte-different, so an un-canonicalized
    * fingerprint splits true duplicates across keys. Lowercasing is
    * locale-neutral `lower`, not full case folding (ß≠SS) — duplicates
    * differing only under full folding stay separate, a deliberate
    * conservative choice. ASCII text is a fixed point (NFC fast-path, no
    * reallocation), which is why the oracle-checked dedup rows over this
    * corpus need no canonicalize step of their own — identity there,
    * pinned in EngineSpec along with the variants-collapse property.
    */
  def canonicalize(c: Column): Column =
    trim(regexp_replace(lower(graft.functions.NfcNormalize(c)), "(?U)\\s+", " "))

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // user@10.0.0.1 has a digit TLD, so EmailRe misses it; without this
  // pass the IP rewrite would leave the identifying local part behind
  // ("john.doe@<IP>")
  private val EmailIpRe = "[A-Za-z0-9._%+-]+@(?:\\d{1,3}\\.){3}\\d{1,3}"
  private val Ipv4Re  = "(?<!\\d)(?:\\d{1,3}\\.){3}\\d{1,3}(?!\\d)"
  // country code only with an explicit '+': without it the bare-digit
  // form is exactly the 10-digit 3-3-4 shape, so long numeric IDs
  // (12-digit counters, order numbers) never read as phones
  private val PhoneRe =
    "(?<!\\d)(?:\\+\\d{1,3}[-. ]?)?\\(?\\d{3}\\)?[-. ]?\\d{3}[-. ]?\\d{4}(?!\\d)"

  /** Regex PII redaction to typed placeholders — the scrub pass a
    * training-data pipeline runs before anything leaves quarantine.
    * Most-specific first (email, then IPv4, then NANP-ish phone) so an
    * earlier pass never leaves digit runs a later pattern re-matches;
    * digit look-arounds keep phone/IP from biting into longer numbers.
    * Four codegen'd `regexp_replace`s, no UDF. The synthetic corpus
    * contains no PII (TESTDATA.md) so there is deliberately no oracle row
    * — the operator is pinned on constructed rows in EngineSpec.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, EmailRe, "<EMAIL>"),
          EmailIpRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  // ------------------------------------------------------ postings builders

  /** Shared (keep..., token `t`) postings: the corpus tokenize pass that
    * qL34/qL35's pair generation and the marginal counts all start from.
    * Not persisted: at 100 TB a materialized postings table is larger
    * than the corpus text, so each consumer recomputes it (each pass
    * prunes to the two columns it needs); a pipeline running several
    * postings consumers back to back persists the returned frame — ONE
    * tokenize stage then feeds every consumer from the cache — and owns
    * the unpersist.
    */
  def tokenPostings(docs: DataFrame, keep: Seq[String] = Seq("doc_id"),
      distinctPerDoc: Boolean = true): DataFrame = {
    val arr = if (distinctPerDoc) array_distinct(tokens(col("text")))
              else tokens(col("text"))
    docs.select(keep.map(col) :+ explode(arr).as("t"): _*)
  }

  /** Shingle-hash twin of [[tokenPostings]]: (keep..., shingle hash `h`)
    * rows for the n-word shingles — the shared scan under qL24's
    * contamination semi-join and qL27's boilerplate flag join. Same
    * caller-persists contract.
    */
  def shinglePostings(docs: DataFrame, n: Int = 3,
      keep: Seq[String] = Seq("doc_id"),
      distinctPerDoc: Boolean = true): DataFrame = {
    val arr0 = graft.functions.ShingleHash(col("text"), n)
    val arr = if (distinctPerDoc) array_distinct(arr0) else arr0
    docs.select(keep.map(col) :+ explode(arr).as("h"): _*)
  }

  // ---------------------------------------------------------------- queries

  /** Q-L01 — exact-dedup cardinality: total vs distinct text. */
  def qL01(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .agg(count(lit(1)).as("total_docs"),
        countDistinct(col("text")).as("distinct_docs"))

  /** Q-L03 — token frequency top-20 (text analysis mandate). */
  def qL03(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)

  /** Q-L04 — exact dedup keepers: group by full text, keep min doc_id.
    * At 100 TB the groupBy key would be a 128-bit content hash rather than
    * the full text (same plan shape, tiny shuffle payload) — see
    * fingerprint() below, which supplies exactly that key.
    */
  def qL04(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("text")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("copies"))
      .select("keeper_id", "copies")
      .orderBy("keeper_id")

  /** Per-doc distinct shingle-hash sets (doc_id, sh) — the
    * [[minhashCandidates]] input. `doc_id` is the documents key, so one
    * row per id, [[Banded]]'s precondition.
    */
  def shingleSets(s: SparkSession, d: String): DataFrame =
    shingleSetsOf(Tables.documents(s, d))

  /** [[shingleSets(s,d)]] over an arbitrary (doc_id, text) frame — the
    * snapshot writer and the delta shingle only the docs they are given.
    */
  def shingleSetsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(ShingleHash(col("text"), 3)).as("sh"))

  /** (doc_id, band_keys) of per-doc shingle sets ([[shingleSets]]):
    * the [[graft.functions.MinhashBands]] kernel, row-local, so no
    * posting is exploded or shuffled. One row per input row — the
    * [[Banded]] input shape and the persisted [[MinhashSnapshot]] row.
    */
  def minhashBandKeys(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), MinhashBands(col("sh")).as("band_keys"))

  /** LSH candidate pairs (doc_a < doc_b) of per-doc shingle sets
    * ([[shingleSets]]: (doc_id, sh), one row per id) via
    * [[Banded.selfPairs]] over [[minhashBandKeys]]; the band join
    * carries ids only.
    */
  def minhashCandidates(sets: DataFrame): DataFrame =
    Banded.selfPairs(minhashBandKeys(sets), "doc_id", "band_keys")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))

  /** Exact Jaccard of candidate pairs over their shingle sets, the verify
    * stage of [[qL05]] and [[TrainPrep.fuzzyDecontamAgainst]]: `cand`'s
    * two id columns (a, b) rejoin `setsA` and `setsB` ((id, sh) frames,
    * id first, one row per id) by id, and each pair's sets intersect in
    * place, so no posting is exploded or shuffled. Output: (a, b,
    * jaccard), with jaccard = |A∩B| / (|A| + |B| − |A∩B|) in doubles.
    */
  private[operators] def setJaccard(cand: DataFrame, setsA: DataFrame,
      setsB: DataFrame): DataFrame = {
    val Array(a, b) = cand.columns
    def side(sets: DataFrame, id: String, x: String) =
      sets.select(col(sets.columns(0)).as(id), col("sh").as(s"sh_$x"))
    cand
      .join(side(setsA, a, "a"), Seq(a))
      .join(side(setsB, b, "b"), Seq(b))
      .select(col(a), col(b),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).as("n_ab"))
      .select(col(a), col(b),
        (col("inter").cast("double") / (col("n_ab") - col("inter")).cast("double"))
          .as("jaccard"))
  }

  // ------------------------------------------- incremental (delta) dedup

  /** Delta-dedup candidates: LSH pairs touching at least one NEW doc.
    * Only the new batch is shingled; ONE [[Banded.crossPairs]] bands it
    * against (stored snapshot ∪ itself), so the per-batch cost is O(batch)
    * + a band join whose history side is the snapshot scan, one row per
    * doc. Pairs wholly inside history were emitted by earlier runs and are
    * absent. Equals the full-corpus [[minhashCandidates]] restricted to
    * pairs with a new-batch endpoint — how the q_l40 oracle recomputes it.
    *
    * Precondition: no id of `newDocs` is in the snapshot yet, which
    * computing the pairs inside the batch's own snapshot append
    * ([[MinhashSnapshot.appendAfter]]: after a torn attempt's bands are
    * removed, before this batch's land) guarantees. Then each side holds
    * one row per id, and keeping a right row only when it is history
    * (`hist`) or `id_a < id_b` emits each pair exactly once with no
    * distinct.
    */
  def deltaDedupCandidates(s: SparkSession, newDocs: DataFrame,
      snapshotDir: String): DataFrame = {
    // fresh is referenced on both sides of the join: without lineage
    // truncation the batch would be shingled and minhashed TWICE per
    // invocation — band keys are ~64 B/doc, so the checkpoint is cheap
    val fresh = minhashBandKeys(shingleSetsOf(newDocs))
      .withColumn("hist", lit(false)).localCheckpoint()
    val all = MinhashSnapshot.bands(s, snapshotDir)
      .withColumn("hist", lit(true)).unionByName(fresh)
    Banded.crossPairs(fresh, all, "doc_id", "band_keys", Seq("hist"))
      .filter(col("hist_b") || col("id_a") < col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
  }

  /** Q-L40 — incremental dedup across corpus snapshots, end-to-end: the
    * oldest 80% of the corpus (by doc_id — the stand-in for yesterday's
    * date partitions) is snapshotted via [[MinhashSnapshot.bootstrap]],
    * then the newest 20% dedups against history + itself via
    * [[deltaDedupCandidates]] without re-shingling a single history doc
    * (plan-pinned in EngineSpec: every documents scan carries the
    * new-batch pushed filter). The DuckDB oracle recomputes the FULL
    * corpus candidates and filters to pairs touching the new batch —
    * hash-match proves delta == full on the same data.
    */
  def qL40(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // floor((max+1) * 0.8): exact double math both engines (ids << 2^52)
    val cutoff = math.floor(
      (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 0.8).toLong
    // per-JVM, per-corpus snapshot dir (see l40SnapDir): bounded /tmp
    // use, no cross-corpus aliasing for held frames
    val snap = LLMOps.l40SnapDir(d)
    MinhashSnapshot.bootstrap(s, docs.filter(col("doc_id") < cutoff), snap)
    deltaDedupCandidates(s, docs.filter(col("doc_id") >= cutoff), snap)
      .orderBy("doc_a", "doc_b")
  }

  /** Q-L41 — longest duplicated token span per near-dup candidate pair:
    * the exact-substring dedup measure (a duplicated SPAN inside
    * otherwise-distinct documents is what paragraph-level dedup removes;
    * pairwise Jaccard can't see it). Candidates come from the banded LSH
    * pass (never all pairs); then POSITIONAL shingle postings of just the
    * candidate docs join on hash, and the longest run of consecutive
    * matches falls out of the classic diagonal gaps-and-islands: matches
    * on one diagonal (pa − pb) that are consecutive in pa share
    * `pa − row_number()`, so the max island size is the longest shared
    * shingle run — `run + 2` tokens for 3-word shingles. All shuffles are
    * keyed on the pair (bounded by candidate count), and postings are
    * built only for docs that appear in some candidate pair.
    */
  def qL41(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint (the qL19 pattern): cand is referenced three times
    // below (both pairDocs halves + the match join), and without lineage
    // truncation each reference re-runs the whole banded-LSH chain —
    // measured 24 documents scans in the uncheckpointed plan vs 3 after.
    // Candidate pairs are id-only rows bounded by the LSH collision count,
    // safe to materialize.
    val cand = minhashCandidates(shingleSets(s, d)).localCheckpoint()
    // positional (not distinct) postings, only for docs in some pair
    val pairDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val posts = Tables.documents(s, d)
      .join(pairDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(ShingleHash(col("text"), 3)).as(Seq("pos", "h")))
    val m = cand
      .join(posts.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("h")), Seq("doc_a"))
      .join(posts.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("h")), Seq("doc_b", "h"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
      .withColumn("island", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "island")
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg((max(col("run")) + 2L).as("max_shared_tokens"))
      .orderBy("doc_a", "doc_b")
  }

  /** Q-L05 — exact n-gram Jaccard verification of the MinHash-LSH
    * candidates: the two-stage dedup pipeline (candidate generation never
    * compares all pairs; the exact set intersection touches only
    * candidate docs). Confirmed pairs have J ≥ 0.2 over distinct shingle
    * hashes — the DuckDB oracle reproduces the identical hash math.
    *
    * Set-based, nothing shuffles postings: [[minhashCandidates]] bands
    * each doc's distinct shingle hashes, kept as one array on one row,
    * and verification ([[setJaccard]]) rejoins the two sets by id and
    * intersects them in place.
    */
  def qL05(s: SparkSession, d: String): DataFrame = {
    val sets = shingleSets(s, d)
    setJaccard(minhashCandidates(sets), sets, sets)
      .filter(col("jaccard") >= 0.2)
      .orderBy("doc_a", "doc_b")
  }

  /** Q-L06 — MinHash + LSH dedup candidates (16 hashes, 4 bands of 4):
    * per-doc shingle sets → band keys row-locally (codegen) → bucket
    * self-join. The only shuffles are the band-key join's. This is the shape
    * that survives 100 TB — candidate generation never compares all pairs.
    */
  def qL06(s: SparkSession, d: String): DataFrame =
    minhashCandidates(shingleSets(s, d)).orderBy("doc_a", "doc_b")

  /** SimHash dedup groups: explode tokens → token hash → `bits` signed
    * bit-vote sums in one partial+final hash agg → sign → bit → group by
    * signature. All codegen'd; two shuffles total (per-doc agg keyed on
    * doc_id, then the tiny per-signature agg).
    *
    * `portable = false` (production path) votes on all 64 bits of
    * xxhash64; `portable = true` votes on the low `bits` (≤ 30) of the
    * polynomial char hash, whose values DuckDB reproduces exactly — the
    * signature quality is the same idea at a narrower width, the point is
    * an engine-portable oracle for the whole vote/sign/regroup pipeline.
    */
  def simhashGroups(docs: DataFrame, bits: Int, portable: Boolean): DataFrame = {
    require(!portable || bits <= 30,
      s"portable poly-hash carries 30 usable bits (mod 1e9+7), got $bits")
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
    val tokHash = if (portable) charHash(col("t")) else xxhash64(col("t"))
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), tokHash.as("h"))
    val voteAggs = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"v$j")
    }
    val votes = tok.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    val sig = (0 until bits).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    votes.select(col("doc_id"), sig.as("sh"))
      .groupBy("sh")
      .agg(count(lit(1)).as("members"), min(col("doc_id")).as("keeper_id"))
      .filter(col("members") > 1)
      .orderBy("keeper_id")
  }

  /** Q-L07 — SimHash dedup groups, oracle-checked (r4): the portable
    * 30-bit poly-hash variant, whose signatures DuckDB recomputes
    * bit-for-bit (list_reduce char fold → per-bit votes → sign →
    * signature). The 64-bit xxhash64 variant is the production path
    * (spec-covered; xxhash64 has no DuckDB twin).
    */
  def qL07(s: SparkSession, d: String): DataFrame =
    simhashGroups(Tables.documents(s, d), bits = 30, portable = true)

  /** Q-L08 — language ID by stopword-ratio heuristic, scored against the
    * labeled lang column (confusion counts).
    */
  def qL08(s: SparkSession, d: String): DataFrame = {
    val stop = stopwords
    val w = tokens(col("text"))
    val ratio = size(filter(w, t => t.isin(stop: _*))).cast("double") /
      size(w).cast("double")
    Tables.documents(s, d)
      .select(col("lang"),
        when(ratio >= 0.03, "en").otherwise("unk").as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "lang_pred")
  }

  /** Q-L09 — quality-score histogram: stopword ratio, mean token length and
    * a length prior folded into [0,1]; bucketed by floor(score*10) so the
    * aggregate is integer-exact.
    */
  def qL09(s: SparkSession, d: String): DataFrame = {
    val stop = stopwords
    val w = tokens(col("text"))
    val stopRatio = size(filter(w, t => t.isin(stop: _*))).cast("double") /
      size(w).cast("double")
    val meanTokLen = length(col("text")).cast("double") / size(w).cast("double")
    val lengthOk = when(size(w).between(30, 1000), 1.0).otherwise(0.0)
    val score = (least(stopRatio * 5.0, lit(1.0)) + least(meanTokLen / 10.0, lit(1.0)) + lengthOk) / 3.0
    Tables.documents(s, d)
      .select(floor(score * 10).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("docs"))
      .orderBy("bucket")
  }

  /** Q-L10 — token statistics per source: regex word tokens + chars. */
  def qL10(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .cast("long")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("source")

  /** Repeated-SENTENCE catalog: the dedup granularity between whole
    * documents (qL11) and content-defined byte chunks (qL42) —
    * boilerplate sentences ("click here to subscribe", license lines)
    * repeat across otherwise-distinct pages and are what sentence-level
    * dedup (C4's three-sentence rule, RefinedWeb's line dedup) removes.
    * Sentences split on the given delimiter regex, fragments under
    * `minChars` skipped, keyed by the portable poly hash: the shuffle
    * carries (hash, len) longs, never sentence text, and the top-k
    * catalog is a TakeOrdered, not a global sort — the same scale
    * posture as the chunk catalog qL43. API-level operator (EngineSpec):
    * the synthetic corpus carries no sentence punctuation, so an oracle
    * row over it would be vacuous — the reason this one is spec-checked
    * on constructed documents instead.
    */
  def sentenceDedup(docs: DataFrame, delim: String = "\\. ",
      minChars: Int = 20, k: Int = 50): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), delim)).as("sent"))
      .where(length(col("sent")) >= minChars)
      // (h, len, x) composite key — the ChunkStore discipline: the
      // mod-1e9+7 poly hash alone birthday-collides at corpus scale
      // (~5 expected per 1e5 distinct sentences), and a collision here
      // would merge unrelated sentences into one false "repeated" row
      .select(col("doc_id"), charHash(col("sent")).as("h"),
        length(col("sent")).cast("long").as("len"),
        xxhash64(col("sent")).as("x"))
      .groupBy("h", "len", "x")
      .agg(count(lit(1)).as("copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .where(col("copies") > 1)
      .select(col("h"), col("copies"), col("n_docs"), col("first_doc"),
        col("len").as("sent_chars"), col("x"))
      // `x` closes the ordering over the full composite key: two colliding
      // sentences with equal poly-hash AND length would otherwise tie
      // nondeterministically at the limit(k) boundary — exactly the
      // collision regime the (h, len, x) group key exists for
      .orderBy(col("copies").desc, col("h"), col("sent_chars"), col("x"))
      .limit(k)
      .drop("x")

  /** Q-L11 — document fingerprint (polynomial rolling hash over the whole
    * text, portable math): the compact dedup key for the 100 TB path.
    */
  def qL11(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), charHash(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Q-L17 — exact top-20 tokens via the Misra-Gries sketch + recount
    * plan: pass 1 aggregates a bounded [[graft.functions.HeavyHitters]]
    * sketch (≤ capacity counters shuffled, NOT one row per distinct
    * token), pass 2 recounts exactly over only the candidate tokens.
    * Same answer as Q-L03's naive plan (and the same oracle) — the
    * difference is that at corpus scale the vocabulary-sized shuffle is
    * gone. Exactness needs the k-th count > N/(capacity+1) (with
    * capacity 2048 that is a ~0.05% frequency floor, far below any
    * stop-word) — and rather than trusting the corpus, the invariant is
    * CHECKED at runtime against the recounted k-th candidate: a corpus
    * drift that sank a top-k token below the floor would otherwise
    * return a silently-wrong top-k that only an offline oracle compare
    * could catch.
    */
  def qL17(s: SparkSession, d: String, k: Int = 20,
      capacity: Int = 2048): DataFrame = {
    val mg = udaf(new graft.functions.HeavyHitters(capacity), Encoders.STRING)
    val toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
    val sketchRow = toks.agg(mg(col("token")).as("sketch"),
      count(lit(1)).as("n")).head()
    val sketch = sketchRow.getMap[String, Long](0)
    val totalTokens = sketchRow.getLong(1)
    val candidates = sketch.keys.toSeq
    // Misra-Gries can legitimately retain fewer than k counters (a
    // near-uniform corpus cancels them); the missing ranks could then be
    // occupied by below-floor tokens the sketch never saw, so returning
    // the short list would be silently wrong — fall back to the exact
    // vocabulary-sized plan instead (correct for any corpus, including
    // one with < k distinct tokens, where min(k, distinct) rows IS the
    // full answer).
    val sketchUsable = candidates.size >= k
    val top =
      (if (sketchUsable) toks.filter(col("token").isin(candidates: _*))
       else toks)
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(k)
    val rows = top.collect() // ≤ k rows — the heavy passes already ran
    val floor = totalTokens.toDouble / (capacity + 1)
    if (sketchUsable && rows.length == k && rows.last.getLong(1) <= floor)
      throw new IllegalStateException(
        s"heavy-hitters exactness violated: k-th count ${rows.last.getLong(1)} " +
          s"<= N/(capacity+1) = $floor — raise capacity (=$capacity)")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
  }

  /** Q-L16 — top-20 character 3-grams via the custom
    * [[graft.functions.NGramGenerator]] UDTF: shingles stream out of the
    * generator one at a time instead of materializing an array<string> of
    * every n-gram per document before the explode.
    */
  def qL16(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(graft.functions.NGramGenerator(lower(col("text")), 3).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(20)

  /** Q-L27 — boilerplate detection: per document, how many of its
    * distinct 3-word shingles occur in at least `dfThreshold` of ALL
    * documents — the C4-style signal for navigation chrome / license
    * headers / template text that near-dup clustering misses (boilerplate
    * repeats across otherwise-distinct pages).
    *
    * Shape: distinct (doc, shingle) postings → shingle document
    * frequencies (map-side combined, one row per shingle) → flag join
    * back on the shingle hash (hot boilerplate shingles stream through
    * the probe side; the flag side is one row per hash) → per-doc
    * counts. The corpus is shingle-scanned twice (the DF aggregate and
    * the join probe prune differently — same documented tradeoff as the
    * contamination scan); nothing vocabulary-sized is ever broadcast.
    */
  def qL27(s: SparkSession, d: String, dfThreshold: Double = 0.5,
      postings: Option[DataFrame] = None): DataFrame = {
    val docs = Tables.documents(s, d)
    val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    def posts = postings.getOrElse(shinglePostings(docs))
    val flagged = posts.groupBy("h").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .select(col("h"),
        (col("df").cast("double") / col("n_docs") >= dfThreshold).as("is_boiler"))
    posts.join(flagged, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("boiler_shingles"))
      .orderBy("doc_id")
  }

  /** Fuzzy (edit-distance ≤ 1) self-join by DELETION-NEIGHBORHOOD
    * blocking — the SymSpell trick, and the string-edit member of the
    * bucketed near-dup family (MinHash buckets Jaccard; hyperplane
    * buckets cosine; deletion keys bucket edit distance): every string
    * emits itself plus each single-character deletion as a block key.
    * Two strings with ed(a,b) ≤ 1 ALWAYS share a key — equal strings
    * share s; a substitution shares the deletion at the differing
    * position; an insertion/deletion shares the shorter string itself —
    * so recall is 1.0 by pigeonhole, and the exact levenshtein verify
    * makes precision 1.0. No all-pairs comparison anywhere; candidates
    * are bucket-joins on the key (len+1 keys per string), deduped on
    * BARE ids before the verify so each pair pays one distance call.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val keyed = df
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("k", explode(expr(
        "transform(sequence(0, length(s)), i -> CASE WHEN i = 0 THEN s " +
          "ELSE concat(substring(s, 1, i - 1), substring(s, i + 1, length(s))) END)")))
    val cand = keyed.select(col("id").as("id_a"), col("s").as("s_a"), col("k"))
      .join(keyed.select(col("id").as("id_b"), col("s").as("s_b"), col("k")),
        Seq("k"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "s_a", "s_b")
      .distinct()
    cand
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
  }

  /** Q-L26 — fuzzy supplier-name pairs: the DuckDB oracle brute-forces
    * every pair with exact levenshtein; the blocked plan must find the
    * identical set.
    */
  def qL26(s: SparkSession, d: String): DataFrame =
    fuzzyPairs(Tables.supplier(s, d), "s_suppkey", "s_name")
      .withColumnRenamed("id_a", "supp_a").withColumnRenamed("id_b", "supp_b")
      .orderBy("supp_a", "supp_b")

  /** Q-L28 — within-doc duplicate-n-gram ratio (the Gopher repetition
    * rule qL22 does NOT cover: qL22's funnel flags top-TOKEN dominance;
    * this flags repeated 3-gram spans — boilerplate headers, chorus-like
    * text). Entirely per-row array math (shingle, distinct, two sizes) —
    * zero shuffles; the only exchange is the top-100 TakeOrdered, which
    * carries ≤ 100 rows per partition at any corpus size.
    */
  def qL28(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // materialize the token array behind its own projection: inlining
      // `shingles(tokens(text))` as one expression re-evaluates split()
      // inside every element_at of every shingle (~3x shingle-count splits
      // per doc — measured 6.2 s vs 0.6 s at sf0.1)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), shingles(col("w"), 3).as("shl"))
      .select(col("doc_id"),
        size(col("shl")).cast("long").as("n_shingles"),
        size(array_distinct(col("shl"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_shingles"))
          .as("dup_ratio"))
      .orderBy(col("dup_ratio").desc, col("doc_id"))
      .limit(100)

  /** Q-L29 — type-token ratio (lexical diversity) per source. The naive
    * `countDistinct + count` in one aggregate plans an Expand (2× the
    * exploded token stream through the shuffle); the two-level form —
    * count per (source, token), then count-rows + sum — shuffles each
    * distinct pair once with full map-side combine, same answer.
    */
  def qL29(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("tokens"))
      .select(col("source"), col("vocab"), col("tokens"),
        (col("vocab").cast("double") / col("tokens")).as("ttr"))
      .orderBy("source")

  /** Q-L33 — deterministic weighted sampling: accept document d iff
    * u(d) < rate × weight(d), where u(d) is the portable poly hash of the
    * text (salted, so it is independent of every other hash-derived
    * decision in the pipeline) scaled to [0, 1), and weight upweights
    * longer documents (min(1, n_chars/400)). The standard quality-biased
    * corpus sampler, with the hash as the uniform draw: reproducible
    * across runs/engines/partitionings — rand() is none of those — and
    * embarrassingly parallel (pure per-row predicate, no shuffle before
    * the ordered output).
    */
  def qL33(s: SparkSession, d: String, rate: Double = 0.5): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        (charHash(concat(col("text"), lit("|ws"))).cast("double") / P)
          .as("u"),
        least(lit(1.0), col("n_chars").cast("double") / 400.0).as("wt"))
      .filter(col("u") < lit(rate) * col("wt"))
      .select("doc_id", "n_chars")
      .orderBy("doc_id")

  /** Q-L34 — token co-occurrence pairs: for each document, every
    * unordered pair of DISTINCT tokens co-occurring in it, counted across
    * the corpus (the PMI / word-association building block). Fan-out is
    * bounded by the per-doc distinct-token count squared — vocabulary-
    * bounded, not length-bounded, because the pair join runs on
    * `array_distinct` tokens — and the pair counts aggregate with full
    * map-side combine. The within-doc pair generation is a self-join of
    * the exploded distinct tokens on doc_id with `a < b`, which Spark
    * co-partitions on the one doc_id exchange.
    */
  def qL34(s: SparkSession, d: String, k: Int = 20,
      postings: Option[DataFrame] = None): DataFrame = {
    val toks = postings.getOrElse(tokenPostings(Tables.documents(s, d)))
    toks.select(col("doc_id"), col("t").as("t_a"))
      .join(toks.select(col("doc_id"), col("t").as("t_b")), Seq("doc_id"))
      .filter(col("t_a") < col("t_b"))
      .groupBy("t_a", "t_b")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("t_a"), col("t_b"))
      .limit(k)
  }

  /** Q-L35 — pointwise mutual information over the q_l34 co-occurrence
    * pairs: lift = N·n(a,b) / (n(a)·n(b)), the word-association score the
    * co-occurrence operator exists to feed (PMI = log lift; log is
    * monotonic, so ranking by lift IS ranking by PMI and the hashed
    * output stays transcendental-free — the BM25 lesson). All counts are
    * exact integers and the score is emitted as `lift_ppm`, a single
    * BIGINT floor-division `(1e6·N·n_ab) div (n_a·n_b)` that both
    * engines compute bit-identically. The multiply is widened to
    * DECIMAL(38,0) (HUGEINT on the oracle side) so it stays exact far
    * past the BIGINT wrap point (1e6·N·n_ab up to 1e38, vs 9.2e18
    * unwidened) instead of Spark silently wrapping where DuckDB raises;
    * only the final integral quotient — bounded by 1e6·N — lands back in
    * BIGINT.
    * Scale: pair generation is the qL34 doc_id-co-partitioned self-join
    * on DISTINCT tokens; the marginals are vocabulary-sized and join the
    * (min-support-filtered) pair table by key — nothing corpus-sized
    * shuffles twice and nothing vocabulary-sized broadcasts eagerly (AQE
    * may choose to, at runtime, when it measures the side as small).
    * The three postings consumers (both self-join sides + marginals)
    * re-tokenize by default; pass a persisted [[tokenPostings]] to run
    * the tokenize stage once for all three.
    */
  def qL35(s: SparkSession, d: String, k: Int = 30, minPair: Int = 5,
      postings: Option[DataFrame] = None): DataFrame = {
    val toks = postings.getOrElse(tokenPostings(Tables.documents(s, d)))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_total"))
    val marg = toks.groupBy("t").agg(count(lit(1)).as("n_t"))
    val pairs = toks.select(col("doc_id"), col("t").as("t_a"))
      .join(toks.select(col("doc_id"), col("t").as("t_b")), Seq("doc_id"))
      .filter(col("t_a") < col("t_b"))
      .groupBy("t_a", "t_b")
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPair)
    pairs
      .join(marg.select(col("t").as("t_a"), col("n_t").as("n_a")), "t_a")
      .join(marg.select(col("t").as("t_b"), col("n_t").as("n_b")), "t_b")
      .crossJoin(broadcast(nDocs))
      .withColumn("lift_ppm",
        expr("(cast(1000000 as decimal(38,0)) * n_total * n_ab) div " +
          "(cast(n_a as decimal(38,0)) * n_b)"))
      .select("t_a", "t_b", "n_ab", "n_a", "n_b", "lift_ppm")
      .orderBy(col("lift_ppm").desc, col("t_a"), col("t_b"))
      .limit(k)
  }

  /** Q-L38 — bigram transition counts: adjacent-token pairs IN ORDER,
    * counted corpus-wide — the Markov / n-gram language-model building
    * block (next-token statistics), complementary to qL34's UNordered
    * document-level co-occurrence. Fan-out is exactly tokens−1 per doc
    * (linear, not squared — no distinct-pair join needed because
    * adjacency is positional), and the pair counts aggregate with full
    * map-side combine; top-k via TakeOrdered, never a global sort.
    */
  def qL38(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(s, d)
      .select(explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))).as("bg"))
      .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Q-L52 — bigram-LM quality scoring (the CCNet/KenLM perplexity-filter
    * shape, self-contained): score every document by its mean add-1-
    * smoothed bigram log-probability under the LM the corpus itself
    * defines — lp(doc) = Σ tf·ln((c₂+1)/(c₁+V)) / n_bigrams — and keep
    * the top-k most predictable documents. The production pipeline swaps
    * the corpus counts for a reference-LM count table; the plan is
    * unchanged (that table joins exactly like c₂/c₁ do here).
    *
    * Scale shape: bigram generation is qL38's linear positional zip (no
    * pair join); the count tables are vocabulary-sized aggregates with
    * full map-side combine that join back BY KEY (never broadcast by
    * hint — a 100 TB corpus's bigram table outgrows any driver); per-doc
    * state is one doc-bounded struct array.
    *
    * Determinism contract (the qL25 discipline): ln() is last-ulp
    * non-portable, so the double score never enters the output — hashed
    * columns are the doc id and exact-integer facts, and the RANKING is
    * pinned by the total-order sort. To make that ranking reproducible at
    * all, the per-doc sum folds in ONE fixed order in both engines: the
    * (w1, w2)-sorted struct array, folded sequentially (a bare SUM of
    * doubles would add in shuffle arrival order). Exact ties (duplicate
    * texts) have identical fold inputs and fall to the doc_id tie-break;
    * EngineSpec pins the adjacent-gap margin around the top-k boundary.
    */
  def qL52(s: SparkSession, d: String, k: Int = 100,
      withScore: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, d)
    val toksC = tokens(col("text"))
    val bigrams = docs.select(col("doc_id"),
        explode(arrays_zip(
          slice(toksC, lit(1), size(toksC) - 1),
          slice(toksC, lit(2), size(toksC) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val dtf = bigrams.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("tf"))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val uni = docs.select(explode(toksC).as("t"))
    val c1 = uni.groupBy("t").agg(count(lit(1)).as("c1"))
      .withColumnRenamed("t", "w1")
    val vocab = uni.agg(countDistinct(col("t")).as("v"))
    val perDoc = dtf
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(
          struct(col("w1"), col("w2"), col("tf"), col("c2"), col("c1"))))
          .as("lst"),
        sum(col("tf")).as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"))
      .crossJoin(broadcast(vocab))
    val fold = aggregate(col("lst"), lit(0.0), (acc, x) =>
      acc + x.getField("tf").cast("double")
        * log((x.getField("c2").cast("double") + lit(1.0))
          / (x.getField("c1").cast("double") + col("v").cast("double"))))
    val score = fold / col("n_bigrams").cast("double")
    val ranked = perDoc.orderBy(score.desc, col("doc_id")).limit(k)
    // withScore: spec-only escape hatch — the double score is NOT part of
    // the hashed contract (see the determinism note above); EngineSpec uses
    // it to pin the adjacent-gap margin the ranking pin rests on
    if (withScore)
      ranked.select(col("doc_id"), col("n_bigrams"), col("distinct_bigrams"),
        score.as("score"))
    else ranked.select("doc_id", "n_bigrams", "distinct_bigrams")
  }

  /** Q-L32 — vocabulary construction: frequency-ranked token → id table,
    * the tokenizer-training output every corpus pipeline persists. The
    * corpus-sized work is the map-side-combined token count; the
    * unpartitioned ranking window then sorts only the VOCABULARY (a
    * bounded artifact — ids must be globally dense, so a global order is
    * the semantics, not an accident), which is why the single-partition
    * window is acceptable here and nowhere near the corpus scan.
    */
  def qL32(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("token_id",
        (row_number().over(Window.orderBy(col("cnt").desc, col("token"))) - 1)
          .cast("long"))
      .select("token_id", "token", "cnt")
      .orderBy("token_id")
  }

  /** Q-L42 — content-defined chunk dedup
    * ([[graft.functions.ContentChunks]]: rolling-hash boundaries, w=8,
    * div=32): per source, total vs distinct chunks and the characters a
    * chunk-store would reclaim from repeats. The sub-document granularity
    * between whole-doc fingerprints (qL11) and shingle similarity (qL05) —
    * repeated SPANS dedup even when no two documents are equal. Linear
    * fan-out (≈len/div chunks per doc), group keys are packed longs: the
    * shuffle carries hashes, never text.
    */
  def qL42(s: SparkSession, d: String): DataFrame = {
    val packed = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.ContentChunks(col("text"))).as("p"))
    val g = packed
      .select(col("source"), expr("p DIV 1048576").as("h"),
        (col("p") % 1048576L).as("len"))
      .groupBy("source", "h", "len")
      .agg(count(lit(1)).as("cnt"))
    g.groupBy("source")
      .agg(sum(col("cnt")).as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum((col("cnt") - 1) * col("len")).as("dup_chars"))
      .orderBy("source")
  }

  /** Q-L43 — the repeated-span CATALOG over the same CDC chunking: the
    * top-50 chunks by reclaimable characters, with copy/document counts
    * and the earliest holder — qL42 says how much a chunk-store saves
    * per source; this says WHICH spans and WHERE, the worklist an actual
    * dedup/reclaim job executes. Same linear fan-out; the only shuffle
    * keys are packed chunk longs, and GroupTopK-style truncation happens
    * in the final TakeOrdered(50), not a full sort spill.
    */
  def qL43(s: SparkSession, d: String): DataFrame = {
    val packed = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.ContentChunks(col("text"))).as("p"))
    packed
      .select(expr("p DIV 1048576").as("h"), (col("p") % 1048576L).as("len"),
        col("doc_id"))
      .groupBy("h", "len")
      .agg(count(lit(1)).as("copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .where(col("copies") > 1)
      .select(col("h"), col("len"), col("copies"), col("n_docs"),
        col("first_doc"),
        ((col("copies") - 1) * col("len")).as("reclaimable_chars"))
      .orderBy(col("reclaimable_chars").desc, col("h"), col("len"))
      .limit(50)
  }

  /** Q-L44 — chunk-level churn between corpus versions: how much of a
    * re-crawl is actually NEW bytes once the chunk store absorbs it. A
    * deterministic "v2" mutates every 10th document (an appended span)
    * and every 17th≡3 (a prepended span); both corpora are CDC-chunked
    * and v2's chunks anti-join v1's distinct key set — content-defined
    * boundaries localize each edit, so a mutated document re-uses almost
    * all of its spans and the store ingests only the edit neighborhoods
    * ([[graft.io.ChunkStore.append]]'s exact admission rule). Per source:
    * total v2 chunks, chunks the v1 store already serves, new chunks, and
    * the characters those new occurrences carry (occurrence-level churn —
    * the bytes v1 cannot serve; the store's distinct-absorption cost is
    * bounded above by it). One scan per version; the anti-join carries
    * only packed longs.
    */
  def qL44(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val v2 = docs.withColumn("text",
      when(col("doc_id") % 10 === 0, concat(col("text"), lit(" updated content block")))
        .when(col("doc_id") % 17 === 3, concat(lit("breaking prefix "), col("text")))
        .otherwise(col("text")))
    val v1Keys = docs
      .select(explode(graft.functions.ContentChunks(col("text"))).as("p"))
      .distinct()
    val v2Chunks = v2.select(col("source"),
      explode(graft.functions.ContentChunks(col("text"))).as("p"))
    val newPerSource = v2Chunks.join(v1Keys, Seq("p"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("new_chunks"),
        sum(col("p") % 1048576L).as("new_chars"))
    v2Chunks.groupBy("source").agg(count(lit(1)).as("total_chunks"))
      .join(newPerSource, Seq("source"), "left_outer")
      .select(col("source"), col("total_chunks"),
        (col("total_chunks") - coalesce(col("new_chunks"), lit(0L))).as("reused_chunks"),
        coalesce(col("new_chunks"), lit(0L)).as("new_chunks"),
        coalesce(col("new_chars"), lit(0L)).as("new_chars"))
      .orderBy("source")
  }

  /** Q-L47 — per-document REPETITION signals, the Gopher/MassiveText
    * repetition filters at word-n-gram granularity:
    * `top2_frac` = fraction of the document's characters covered by its
    * most frequent word 2-gram (count × gram chars ÷ text chars), and
    * `dup5_frac` = fraction covered by ALL word 5-grams occurring more
    * than once (Σ count × gram chars ÷ text chars, each occurrence
    * counted — overlaps may push the numerator past the denominator,
    * which is fine for a threshold signal). Ties for the top 2-gram
    * resolve to the lexicographically smallest gram, so the argmax is
    * engine-portable.
    *
    * Scale shape: entirely MAP-SIDE — per doc, each signal is ONE
    * gram→sort→run-length fold (equal grams are adjacent after the
    * sort, so run-lengths are counts; the first max-count run met in
    * sorted order IS the smallest-gram tiebreak), evaluated as a single
    * codegen expression ([[graft.functions.TopRunGram]] /
    * [[graft.functions.DupRunGramChars]] — the declarative
    * shingles/array_sort/aggregate spelling they replaced is
    * CodegenFallback end-to-end; value-parity pinned in RunGramsSpec).
    * O(n log n) per document, no exploded-gram shuffle — at
    * 100 TB the only shuffle is the final order-by of per-doc rows,
    * where a real pipeline would instead filter on the fractions
    * map-side and shuffle nothing.
    */
  def qL47(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("chars"),
      tokens(col("text")).as("w"))
    // gram → sort → run-fold as ONE codegen expression per signal
    // (graft.functions.RunGrams): the declarative shingles/array_sort/
    // aggregate chain is CodegenFallback end-to-end — thousands of
    // interpreted lambda evaluations per document (r20, §4; parity
    // spec-pinned in RunGramsSpec)
    val g = base.select(col("doc_id"), col("chars"),
      graft.functions.TopRunGram(col("w"), 2).as("t2"),
      graft.functions.DupRunGramChars(col("w"), 5).as("d5"))
    g.select(col("doc_id"), col("chars"), col("t2"), col("d5"))
      .select(col("doc_id"),
        col("t2.gram").as("top2_gram"),
        col("t2.cnt").as("top2_cnt"),
        ((col("t2.cnt") * length(col("t2.gram")).cast("long")).cast("double")
          / col("chars").cast("double")).as("top2_frac"),
        (col("d5").cast("double") / col("chars").cast("double"))
          .as("dup5_frac"))
      .orderBy(col("dup5_frac").desc, col("top2_frac").desc, col("doc_id"))
      .limit(100)
  }

  /** Q-L54 — per-document quality-FEATURE TABLE: the featurization step
    * between raw text and a quality classifier (the fastText/logistic
    * gate every production corpus pipeline trains) — one row per doc
    * with the signal family the individual queries report in aggregate:
    * token/char counts, mean token length, stopword ratio, per-doc TTR,
    * max-token frequency (the qL22 repetition numerator), and the
    * Gopher top-2-gram / duplicated-5-gram char fractions (qL47).
    *
    * Shape: ENTIRELY map-side — every feature is an array fold over the
    * doc's own sorted token/gram arrays (the qL47 run-length idiom
    * replaces qL22's (doc, token) shuffle for max-token frequency), so
    * the whole table is ONE corpus scan with zero shuffles before the
    * output sort. At 100 TB that is the difference between featurizing
    * in one pass and running the signal queries separately. Every ratio
    * is an exact-integer pair divided once in double — engine-portable,
    * so the full row set hashes.
    */
  def qL54(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      length(col("text")).cast("long").as("chars"),
      tokens(col("text")).as("w"))
    // every fold is a codegen expression (RunGrams / CountIn): the
    // declarative shingles/array_sort/aggregate/filter chain was
    // CodegenFallback end-to-end and dominated this one-scan query
    // (r20, §4; value-parity spec-pinned in RunGramsSpec)
    val g = base.select(col("doc_id"), col("lang"), col("source"),
      col("chars"),
      size(col("w")).cast("long").as("wc"),
      size(array_distinct(col("w"))).cast("long").as("dt"),
      graft.functions.CountIn(col("w"), stopwords).cast("long")
        .as("stops"),
      graft.functions.TopRunGram(col("w"), 1).getField("cnt").as("max_tok"),
      graft.functions.TopRunGram(col("w"), 2).as("t2"),
      graft.functions.DupRunGramChars(col("w"), 5).as("d5"))
    g.select(col("doc_id"), col("lang"), col("source"),
        col("wc").as("n_tokens"), col("chars").as("n_chars"),
        (col("chars").cast("double") / col("wc").cast("double"))
          .as("mean_tok_len"),
        (col("stops").cast("double") / col("wc").cast("double"))
          .as("stop_ratio"),
        (col("dt").cast("double") / col("wc").cast("double")).as("ttr"),
        (col("max_tok").cast("double") / col("wc").cast("double"))
          .as("max_tok_frac"),
        ((col("t2.cnt") * length(col("t2.gram")).cast("long")).cast("double")
          / col("chars").cast("double")).as("top2_frac"),
        (col("d5").cast("double") / col("chars").cast("double"))
          .as("dup5_frac"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------ BPE tokenizer training

  /** The most distinct words [[bpeMerges]] trains on: the collected
    * word-frequency table is driver memory.
    */
  private val MaxLocalVocab = 2000000

  /** BPE tokenizer TRAINING (Sennrich et al., "Neural Machine Translation
    * of Rare Words with Subword Units"): learn `numMerges` merge rules
    * from the corpus. Returns (rank, left, right, pair_count) in merge
    * order — the artifact a tokenizer ships.
    *
    * Scale shape: the ONLY corpus-sized work is the word count (one
    * map-side-combined aggregate). The merge loop runs on the
    * word-FREQUENCY table — vocabulary-sized, sublinear in the corpus
    * (Heaps' law) — collected once and trained driver-side by
    * [[bpeMergesLocal]], the in-memory stage every production BPE trainer
    * runs after distributed counting: zero Spark jobs per merge
    * (measured: 1,000 merges over a 10k-word vocabulary in ~5 s, vs
    * ~218 s for a loop that ran one distributed round per merge). A
    * vocabulary above `MaxLocalVocab` distinct words is refused.
    * Determinism: the argmax tiebreak is (count DESC, left, right) —
    * lexicographic smallest pair — so every run learns the same rules.
    */
  def bpeMerges(docs: DataFrame, numMerges: Int = 20): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val wordFreq = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .limit(MaxLocalVocab + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(wordFreq.length <= MaxLocalVocab,
      s"bpeMerges: the vocabulary exceeds $MaxLocalVocab distinct words")
    bpeMergesLocal(wordFreq, numMerges)
      .toDF("rank", "left", "right", "pair_count")
  }

  /** The driver-local BPE merge loop: the EXACT sequential algorithm
    * (adjacency counts with overlap semantics, the (count DESC, left,
    * right) tiebreak, the [[mergeLocal]] merge step) with pair-count
    * DELTA maintenance — each round rewrites only the words containing
    * the merged pair and adjusts counts by removing/re-adding just those
    * words' contributions, so a merge costs O(words containing the
    * pair), not O(vocabulary). Rule equality with a naive
    * recount-every-round trainer is spec-pinned on randomized corpora.
    */
  private[graft] def bpeMergesLocal(wordFreq: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val words: Array[Array[String]] = wordFreq.map(w => symbols(w._1))
    val freq = wordFreq.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // Lazy-invalidation max-heap for the per-round argmax: every count
    // UPDATE pushes a fresh (count, pair) entry; pops that disagree with
    // the live pairCount are stale and discarded. The heap order is the
    // sequential tiebreak — count DESC, then lexicographic (l, r) — so
    // the surviving top IS the scan argmax, at O(log P) per update
    // instead of O(P) per round (the difference between minutes and
    // hours at a 32k-merge production vocabulary).
    // lexicographic tiebreak in UTF-8 BYTE order — Spark's StringType
    // order (UTF8String binary order), so an `orderBy` over the pairs
    // ranks them the same way. Java String.compareTo is UTF-16 code-unit
    // order, which DISAGREES for supplementary-plane characters (U+FFFF
    // vs emoji).
    def utf8Compare(a: String, b: String): Int = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    }
    val heap = new java.util.PriorityQueue[(Long, String, String)](64,
      (a: (Long, String, String), b: (Long, String, String)) => {
        val c = java.lang.Long.compare(b._1, a._1)
        if (c != 0) c
        else {
          val l = utf8Compare(a._2, b._2)
          if (l != 0) l else utf8Compare(a._3, b._3)
        }
      })
    def contribute(idx: Int, sign: Long): Unit = {
      val w = words(idx)
      var i = 0
      while (i < w.length - 1) {
        val p = (w(i), w(i + 1))
        val c = pairCount.getOrElse(p, 0L) + sign * freq(idx)
        if (c == 0L) pairCount.remove(p)
        else { pairCount(p) = c; heap.add((c, p._1, p._2)) }
        if (sign > 0L) pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += idx
        else pairWords.get(p).foreach(_ -= idx)
        i += 1
      }
    }
    words.indices.foreach(contribute(_, 1L))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      var top = heap.poll()
      while (top != null &&
          !pairCount.get((top._2, top._3)).contains(top._1))
        top = heap.poll() // stale: superseded count or removed pair
      if (top == null) exhausted = true
      else {
        val best = (top._2, top._3)
        val bc = top._1
        merges += ((rank, best._1, best._2, bc))
        // snapshot: contribute() mutates the membership set being iterated
        val touched = pairWords.getOrElse(best, mutable.BitSet.empty).toArray
        touched.foreach { idx =>
          contribute(idx, -1L)
          words(idx) = mergeLocal(words(idx), best._1, best._2)
          contribute(idx, 1L)
        }
        rank += 1
      }
    }
    merges.result()
  }

  /** A word's initial BPE symbols: one per Unicode code point, the way
    * Spark's `split(word, "")` splits. `String.split("")` would cut a
    * supplementary-plane character into two lone UTF-16 surrogates.
    */
  private def symbols(word: String): Array[String] =
    word.codePoints.toArray.map(cp => new String(Character.toChars(cp)))

  /** The BPE merge step: leftmost-first, non-overlapping replacement of
    * adjacent (a, b) by their concatenation. A merged symbol is emitted
    * closed, so "aaa" under (a,a) becomes [aa, a] — the classic
    * left-to-right semantics. Both [[bpeMergesLocal]] and [[applyBpe]]
    * merge through it.
    */
  private[graft] def mergeLocal(syms: Array[String], a: String,
      b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pend: String = null
    syms.foreach { x =>
      if (pend == null) pend = x
      else if (pend == a && x == b) { out += (a + b); pend = null }
      else { out += pend; pend = x }
    }
    if (pend != null) out += pend
    out.toArray
  }

  /** Apply [[bpeMerges]] rules to a word-frequency table: (word, n) →
    * (word, n, pieces array<string>) — the ENCODE side of the trained
    * tokenizer, run once per DISTINCT word (vocabulary-sized, then joined
    * back to the corpus by key at any scale). The rule table rides to
    * executors once, in the UDF closure (rule-table-sized).
    *
    * The encoding is rank-ordered exhaustive application — every rule,
    * in rank order, applied to the whole word by [[mergeLocal]] — done
    * as a rank-cursor sweep: from cursor −1, take the lowest rank above
    * the cursor whose pair is adjacent in the word, apply it and move the
    * cursor there; stop when no such rank is left. A rule whose pair is
    * absent is a no-op in the exhaustive order, so skipping it changes
    * nothing: the sweep equals rank-ordered application on ANY rule
    * table with distinct non-negative ranks, trained or not, at O(len²)
    * rule lookups per word. A null word encodes to null pieces.
    */
  def applyBpe(words: DataFrame, merges: DataFrame): DataFrame = {
    val rules = merges.select("rank", "left", "right").collect()
      .map(r => (r.getInt(0), (r.getString(1), r.getString(2))))
    require(rules.forall(_._1 >= 0) &&
      rules.map(_._1).distinct.length == rules.length,
      "applyBpe: rule ranks must be distinct and non-negative")
    // pair → its ranks ascending (an untrained table may repeat a pair)
    val ranks: Map[(String, String), Array[Int]] =
      rules.groupBy(_._2).map { case (p, rs) => p -> rs.map(_._1).sorted }
    val encode = udf((word: String) =>
      if (word == null) null
      else {
        var pieces = symbols(word)
        var cur = -1
        var done = false
        while (!done) {
          var best = Int.MaxValue
          var bestAt = -1
          var i = 0
          while (i < pieces.length - 1) {
            ranks.get((pieces(i), pieces(i + 1))).flatMap(_.find(_ > cur))
              .foreach(r => if (r < best) { best = r; bestAt = i })
            i += 1
          }
          if (bestAt < 0) done = true
          else {
            pieces = mergeLocal(pieces, pieces(bestAt), pieces(bestAt + 1))
            cur = best
          }
        }
        pieces
      })
    words.withColumn("pieces", encode(col("word")))
  }

  /** Q-L48 — cross-SOURCE shingle-overlap matrix: pairwise Jaccard of the
    * sources' distinct 3-shingle-hash sets — the corpus-level leakage /
    * provenance monitor (which crawls duplicate which, which "independent"
    * sources share boilerplate) that doc-pair dedup (qL05/qL06) never
    * surfaces because it reports pairs, not populations.
    *
    * Scale shape: the self-join runs on (source, hash) postings — the
    * shuffle carries packed longs, never text — and per-hash fan-out is
    * bounded by sources-sharing-that-shingle squared (≤ sources², never
    * docs²). At a real crawl with millions of sources that bound is the
    * problem: ONE boilerplate shingle shared by 1e6 sources fans out to
    * 1e12 pairs. `maxSourcesPerShingle` is that cap, made real: a
    * shingle held by more than K sources is boilerplate (the qL27
    * per-doc flag, applied corpus-wide) and is dropped from the matrix
    * BEFORE the self-join — one count per shingle, keys-only — bounding
    * per-hash fan-out at K² regardless of crawl size. The capped matrix
    * is the boilerplate-blind overlap (both intersections AND the n_sh
    * set sizes exclude capped shingles, keeping jaccard a true ratio
    * over the surviving universe — spec-pinned). The 20-source corpus
    * query runs uncapped, which keeps the oracle exact.
    */
  def qL48(s: SparkSession, d: String,
      maxSourcesPerShingle: Int = Int.MaxValue): DataFrame =
    sourceOverlap(Tables.documents(s, d), maxSourcesPerShingle)

  /** The [[qL48]] operator over an explicit (source, text) frame — split
    * out so the boilerplate cap is spec-testable on constructed corpora.
    */
  def sourceOverlap(docs: DataFrame,
      maxSourcesPerShingle: Int = Int.MaxValue): DataFrame = {
    val raw = docs
      .select(col("source"), explode(ShingleHash(col("text"), 3)).as("h"))
      .distinct()
    val posts =
      if (maxSourcesPerShingle == Int.MaxValue) raw
      else {
        // keys-only pre-count; the join back is a shuffle on h the
        // self-join below pays anyway
        val keep = raw.groupBy("h").agg(count(lit(1)).as("n_src"))
          .where(col("n_src") <= maxSourcesPerShingle)
          .select("h")
        raw.join(keep, Seq("h"), "left_semi")
      }
    val sizes = posts.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = posts.as("a")
      .join(posts.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter_sh"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("n_sh").as("n_a")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("n_sh").as("n_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter_sh"),
        (col("n_a") + col("n_b") - col("inter_sh")).as("union_sh"),
        (col("inter_sh").cast("double") /
          (col("n_a") + col("n_b") - col("inter_sh")).cast("double"))
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }
}
