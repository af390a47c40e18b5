package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextFunctions._
import TextParams._

/**
 * Document deduplication suite over `documents(doc_id, text, ...)` — the
 * training-data-pipeline operators a 100 TB corpus needs before the spatial
 * stages. Five independent strategies, cheapest to most semantic:
 *
 *  1. exact        — hash-groupBy on md5(text); keeper = min doc_id.
 *  2. ngramJaccard — EXACT set similarity over token-trigram shingles via a
 *                    prefix-filtered self-join (100% recall, near-linear;
 *                    the full inverted-index join survives only behind
 *                    exactBaseline=true as the small-input oracle).
 *  3. minhashLsh   — 16-hash minhash signature, 4x4 banding; candidate pairs
 *                    share >= 1 band, then exact-Jaccard verification. The
 *                    classic shingle -> minhash -> band -> bucket-join plan:
 *                    cost is O(docs x bands), never O(docs^2).
 *  4. simhash      — 60-bit majority-vote fingerprint; near-dup = hamming
 *                    <= MaxHamming, candidates via 4-way band join (pigeonhole:
 *                    any pair within hamming 3 shares one of 4 bands).
 *  5. embedding    — cosine near-dup over `embeddings` (see Similarity).
 *
 * Scale notes: every strategy is equi-join + aggregation shaped — shuffles
 * key on content hashes (uniform by construction), band buckets are
 * bounded-size, and the verify joins are semi-join-narrow. No driver-side
 * materialization anywhere.
 */
object Dedup {

  /** Exact dedup: one row per doc with its content group and keep flag. */
  def exact(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
    val keepers = hashed.groupBy("content_hash")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("group_size"))
    hashed.join(keepers, "content_hash")
      .select(col("doc_id"), col("content_hash"), col("keeper_id"),
        col("group_size"), (col("doc_id") === col("keeper_id")).as("keep"))
  }

  private def spread(df: DataFrame): DataFrame = graft.util.Spread.spread(df)

  /**
   * (doc_id, sh: array<string>) shingle sets, one row per doc.
   *
   * `tokens` MUST be materialized in its own projection before `shingles`
   * consumes it: higher-order functions evaluate interpreted, so an inlined
   * `shingles(tokens(text))` re-runs the whole tokenization for every
   * `element_at` — O(len^2) per document. As a separate aliased projection
   * the token array is computed once per row; CollapseProject keeps it
   * un-inlined because `shingles` references it more than once and it is
   * not a cheap expression.
   */
  private def docShingles(docs: DataFrame): DataFrame =
    spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shingles(col("toks")).as("sh"))

  /** (doc_id, shingle) inverted index, distinct per doc. */
  private def shingleIndex(docs: DataFrame): DataFrame =
    docShingles(docs).select(col("doc_id"), explode(col("sh")).as("shingle"))

  /**
   * Candidate verification for the MinHash-LSH plan (the n-gram PPJoin
   * plan verifies off its own checkpointed hash arrays): exact Jaccard
   * over ONLY the candidate pairs, tokenizing ONLY the docs appearing in
   * some candidate (broadcast semi-join BEFORE the CPU-heavy shingle
   * computation; the reference's filter-before-fetch discipline,
   * src/osm/ReferencesHandler.cpp:27-61). Shingles travel as distinct
   * 60-bit hashes (`trigram60`), matching the ngram path and the DuckDB
   * oracle's sqlHash60 — set sizes/intersections agree by construction.
   *
   * The localCheckpoints are load-bearing, not just recompute savers: the
   * outer jaccard filter's constraints otherwise infer isnotnull(size(sh))
   * and PushDownPredicates INLINES the whole shingle tree into a Filter
   * evaluated on EVERY doc below the semi-join (filters get no
   * CollapseProject protection), re-tokenizing the full corpus per
   * consumer. The checkpoint cuts constraint propagation at a table that is
   * candidate-docs-small.
   */
  private def verifiedJaccardPairs(docs: DataFrame, candidatesRaw: DataFrame,
                                   threshold: Double): DataFrame = {
    val candidates = candidatesRaw
      .select(col("doc_a"), col("doc_b")).distinct().localCheckpoint()
    val candidateIds = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val docSh = docs.join(candidateIds.hint("broadcast"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.trigram60(col("toks")).as("sh"))
      .withColumn("n", size(col("sh")))
      .localCheckpoint()
    candidates
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sha"), col("n").as("na")), "doc_a")
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("shb"), col("n").as("nb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /**
   * EXACT n-gram Jaccard pairs >= threshold.
   *
   * Default plan: prefix-filtered self-join (the PPJoin family, public
   * set-similarity-join literature). Shingles get a global total order by
   * ascending document frequency (rare first); a doc of n shingles indexes
   * only its first  n - ceil(t*n) + 1  shingles in that order. If
   * J(A,B) >= t then |A∩B| >= ceil(t*|A|) (from i(1+t) >= t(a+b) >= t(a+i)),
   * so the O-minimal common shingle provably lies in BOTH prefixes — the
   * prefix-collision join has 100% recall while joining mostly-rare keys,
   * never the full inverted index (whose common-shingle candidate set is
   * quadratic — the r01 registered plan, VERDICT.md). Exact intersection
   * verification then reproduces the all-pairs oracle bit-for-bit.
   * ceil() takes a 1e-9 epsilon DOWN so float noise in t*n can only
   * lengthen a prefix (recall-safe), never shorten it. The self-join also
   * carries PPJoin's length filter — J >= t forces t*max(|A|,|B|) <=
   * min(|A|,|B|) (i <= min, u >= max) — and PPJoin's positional filter
   * (see inline derivation), both with epsilon slack on the recall side.
   *
   * Plan mechanics (all load-bearing, measured at sf0.1):
   *  - Shingles travel as DISTINCT 60-bit hashes (`trigram60`, one native
   *    pass per row) from the first projection on: every downstream
   *    exchange — the freq groupBy, the prefix aggregation, the candidate
   *    self-join, and the verify's array columns — carries longs instead
   *    of ~20-char strings (3-4x narrower rows), and array_intersect in
   *    the verify compares longs. Set sizes/intersections over the hash
   *    sets equal those over the string sets up to 60-bit collisions, and
   *    the DuckDB oracle applies the SAME hash (TextParams.sqlHash60), so
   *    engine and oracle agree by construction.
   *  - The hashed-shingle table is localCheckpointed ONCE up front and
   *    feeds both the inverted index (freq + prefix ranking) and the final
   *    verify join — one corpus-sized materialization is the floor for ANY
   *    plan that consumes shingles twice; it stays distributed (executor
   *    storage), and it pins the tokens->trigram60 pass at exactly once
   *    (historically, interpreted-HOF shingling re-ran per array element
   *    when inlined under Generate — 10.9 s vs 0.25 s at sf0.1).
   *  - Per-doc prefix selection is a hash aggregation (collect_list of
   *    (df, shingle), per-row sort_array, slice) rather than a row_number
   *    window: one exchange on doc_id with map-side partial aggregation and
   *    NO per-partition sort of the full inverted index; the per-row sort is
   *    bounded by the doc's own shingle count.
   *
   * `exactBaseline = true` keeps the r01 full inverted-index join as the
   * small-input oracle-of-record.
   */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = JaccardThreshold,
                        exactBaseline: Boolean = false): DataFrame = {
    if (exactBaseline) {
      val idx = shingleIndex(docs)
      val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = idx.as("a").join(idx.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      return inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    }
    val docSh = docShingleHashes(docs)
    ppjoinVerify(ppjoinCandidates(ppjoinPrefixes(docSh, threshold), threshold),
      docSh, threshold)
  }

  /** hashed-shingle corpus projection (doc_id, sh: array<long>, n),
   * checkpointed once — feeds both the inverted index and the verify. */
  private def docShingleHashes(docs: DataFrame): DataFrame =
    spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.trigram60(col("toks")).as("sh"))
      .withColumn("n", size(col("sh"))).localCheckpoint()

  /** per-doc PPJoin prefix rows (doc_id, n, p, shingle): shingles ranked by
   * ascending document frequency (ties by hash for determinism), first
   * n - ceil(t*n) + 1 kept, p = 1-based rank in the global order. */
  private def ppjoinPrefixes(docSh: DataFrame, threshold: Double): DataFrame = {
    val idx = docSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val freq = idx.groupBy("shingle").agg(count(lit(1)).as("df"))
    idx.join(freq, "shingle")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df"), col("shingle"))).as("items"))
      .select(col("doc_id"), size(col("items")).as("n"),
        posexplode(slice(sort_array(col("items")), lit(1),
          (size(col("items")) - ceil(size(col("items")) * threshold - lit(1e-9)) + 1)
            .cast("int"))))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("p"),
        col("col.shingle").as("shingle"))
  }

  /** distinct candidate pairs from the prefix self-join, with PPJoin's
   * length and positional filters. */
  private def ppjoinCandidates(prefixes: DataFrame, threshold: Double): DataFrame =
    prefixes.as("a").join(prefixes.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) * threshold <=
            least(col("a.n"), col("b.n")) + 1e-9 &&
          // PPJoin positional filter: at the FIRST common shingle in the
          // global order (positions pa/pb in each prefix) the overlap is
          // bounded by 1 + min(na-pa, nb-pb) — every other common shingle
          // sorts after it in BOTH docs. J >= t needs i(1+t) >= t(na+nb),
          // so prune when the bound can't reach t/(1+t)*(na+nb); epsilon
          // loosens only (recall-safe). A qualifying pair always survives
          // via its first common shingle, which both prefixes provably
          // contain (the prefix-length argument above).
          lit(1) + least(col("a.n") - col("a.p"), col("b.n") - col("b.p")) >=
            (col("a.n") + col("b.n")) * (threshold / (1 + threshold)) - 1e-9)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** exact verify straight off the checkpointed shingle-hash arrays — no
   * second corpus tokenization (the arrays are already materialized behind
   * a LogicalRDD, so no further barrier is required). */
  private def ppjoinVerify(candidates: DataFrame, docSh: DataFrame,
                           threshold: Double): DataFrame =
    candidates
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sha"), col("n").as("na")), "doc_a")
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("shb"), col("n").as("nb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** (doc_id, sig) minhash signatures. Two projections: shingle hashes once,
   * then the NumHashes permutation minima over the hash array (CollapseProject
   * keeps non-cheap producers un-inlined, so the hashes aren't re-derived). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // trigram hashes straight off the token array — no shingle strings;
      // identical signatures (minhash minima are multiset-invariant)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.trigram_hashes(col("toks"), lit(M1), lit(P1)).as("hs"))
      .select(col("doc_id"), minhashSigFromHashes(col("hs")).as("sig"))

  /**
   * MinHash-LSH near-dup pairs: band join for candidates, exact Jaccard
   * verify. Bands explode to (band, key) rows; the join keys are
   * (band, 4-hash key string) — uniformly distributed, skew-free.
   */
  def minhashLshPairs(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    val sigs = minhashSignatures(docs)
    val bandRows = sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)), b =>
        array_join(slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand)), ","))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    val candidates = bandRows.as("a").join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // verify ONLY the candidates (never the full inverted-index self-join,
    // whose common-shingle pairs are quadratic in corpus size)
    verifiedJaccardPairs(docs, candidates, threshold)
  }

  /** (doc_id, simhash) 60-bit fingerprints (token hashes computed natively). */
  def simhashes(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"),
        graft.functions.GraftFunctions.hash60_array(tokens(col("text"))).as("hs"))
      .select(col("doc_id"), simhashFromHashes(col("hs")).as("simhash"))

  /**
   * SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= MaxHamming.
   * Candidates via SimHashBands 15-bit band-equality joins (pigeonhole
   * guarantees recall at hamming <= SimHashBands - 1).
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = MaxHamming): DataFrame = {
    val bits = SimHashBits / SimHashBands
    val sigs = simhashes(docs)
    val bands = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimHashBands).map(b =>
        shiftrightunsigned(col("simhash"), b * bits).bitwiseAND((1L << bits) - 1)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }
}
