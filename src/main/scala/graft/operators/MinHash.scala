package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-duplicate detection (SURVEY §2.11
  * `dedup_minhash`) — the 100 TB-scale path for document dedup.
  *
  * Design: k=32 hash "permutations" built from xxhash64 with a per-slot
  * prefix (deterministic, seedless, identical on every executor), banded
  * 8x4. Two docs become a candidate pair iff they agree on at least one
  * band, so the join key is (band_id, band_hash) — a bucketed equi-join
  * whose cost is sum of bucket sizes squared, NOT |docs|^2. At Jaccard 0.8
  * the detection probability is 1-(1-0.8^4)^8 ≈ 0.985 (MinHashSpec asserts
  * >= 0.95 agreement with exact Jaccard on sf0.001).
  *
  * Everything is codegen'd HOFs over the token array — no UDF, no
  * per-row JVM closures, no driver-side state.
  */
object MinHash {
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand = 4 // NumHashes / Bands

  /** Per-slot mixing constants: rotation amounts and xor masks derived from
    * the golden-ratio constant (deterministic, no RNG). rotate-then-xor is a
    * bijection on 64-bit values, so min over the mixed hashes is a valid
    * minhash permutation family — and unlike multiplicative hashing it
    * cannot overflow (Spark 4 runs ANSI mode: long overflow throws).
    */
  private[graft] val rots: IndexedSeq[Int] =
    (0 until NumHashes).map(j => (j * 19 + 7) % 63 + 1)
  private[graft] val xorMasks: IndexedSeq[Long] =
    (0 until NumHashes).map(j => 0x9E3779B97F4A7C15L * (2 * j + 1)) // Scala wraps

  /** One xxhash64 per token (NOT per token x slot — that was 32x the hash
    * work), mixed into each slot bijectively. r17: the codegen'd TokenHashes
    * kernel (`transform` is CodegenFallback — interpreted per element);
    * equivalence vs the HOF reference pinned in HashExprsSpec.
    */
  def baseHashes(toks: Column): Column =
    org.apache.spark.sql.graftext.HashExprs.tokenHashes(toks)

  /** Word n-gram shingles of a token array: ["a","b","c"] at n=2 ->
    * ["a b", "b c"]. Shingling makes the Jaccard signal ORDER-sensitive
    * (bag-of-shingles distinguishes "a b c" from "c b a" where unigram sets
    * cannot) — the standard preprocessing before minhash for text dedup.
    * A doc shorter than n shingles to its whole text.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** 32-slot minhash signature from per-token base hashes — the codegen'd
    * custom Expression (same rot/xor formula; equivalence pinned by
    * ExprSpec's test against the HOF reference).
    */
  def signatureFromBase(base: Column): Column =
    org.apache.spark.sql.graftext.VectorExprs.minhashSlots(base, NumHashes)

  /** 64-bit HASHED word n-gram shingles: the shingle set under a 64-bit
    * hash — each shingle is xxhash64 over its window's token hashes, so no
    * shingle STRING is ever materialized (shingles() builds L substrings
    * per doc via slice+concat_ws; this is pure long math over one token-hash
    * array — measured ~2x cheaper end-to-end on the shingled dedup query).
    * Downstream set ops (minhash banding, Jaccard verify) are identical on
    * the hashed set up to 64-bit collisions (~p²/2⁶⁵ per doc pair —
    * negligible). A doc shorter than n hashes to its whole token-hash array.
    */
  def hashedShingles(toks: Column, n: Int): Column = {
    require(n == 2, s"hashedShingles implements bigrams (n=2), got n=$n")
    // r17: one codegen'd pass (HashedBigrams) — the zip_with/slice HOF chain
    // it replaced is the spec-side equivalence reference (HashExprsSpec pins
    // them element-identical, including the short-doc whole-array fold).
    org.apache.spark.sql.graftext.HashExprs.hashedBigrams(toks)
  }

  /** 32-slot minhash signature of a distinct-token array. */
  def signature(toks: Column): Column = signatureFromBase(baseHashes(toks))

  /** (doc_id, band, band_hash) — one row per band per doc.
    *
    * The repartition between the base-hash projection and the signature is
    * a deliberate stage boundary: the base array is referenced by all 32
    * slot expressions, and the exchange both guarantees it is computed once
    * per doc and is reused by every downstream consumer (ReuseExchange).
    * Partitioning by doc_id is also the natural co-location key.
    */
  def bandedSignatures(docs: DataFrame): DataFrame =
    bandedSignatures(docs, array_distinct(split(col("text"), " ")))

  /** As above with an explicit tokenization (e.g. shingles(toks, 2) for the
    * order-sensitive word-bigram variant).
    */
  def bandedSignatures(docs: DataFrame, toksExpr: Column): DataFrame =
    bandedFromToks(
      docs.select(col("doc_id"), toksExpr.as("toks")).repartition(col("doc_id")))

  /** Banding from a pre-tokenized (doc_id, toks) frame. Callers that also
    * need the token arrays downstream (the dedup verify joins) pass ONE
    * repartitioned frame here and reuse its exchange — the tokenization
    * (expensive for shingles: per-position slice+concat over the whole
    * array) then runs once, not once per consumer.
    */
  def bandedFromToks(toksDF: DataFrame): DataFrame =
    bandedFromBase(
      toksDF.select(col("doc_id"), baseHashes(col("toks")).as("base")))

  /** Banding from a PRE-HASHED (doc_id, base: array<long>) frame — base =
    * one xxhash64 per token, i.e. exactly what [[baseHashes]] produces.
    * Callers that verify candidates with exact Jaccard (verifiedEdges,
    * dedupAssignments) hash BEFORE their repartition and pass the hashed
    * frame here, so the exchange they share with the verify joins carries
    * 8 B/token longs instead of token strings (guide §2.3: shuffle fewer
    * bytes) and the signatures stay byte-identical (same xxhash64 values
    * minhashed either way).
    */
  def bandedFromBase(baseDF: DataFrame): DataFrame =
    baseDF
      // Token-less docs are excluded from banding: minhash of an empty set
      // is undefined (the native expression would yield identical
      // Long.MaxValue slots and bucket ALL empty docs as mutual near-dups).
      // Empty/identical docs belong to exact dedup (q_dedup_exact). They
      // get a null signature, whose posexplode emits no rows, rather than
      // a filter: a filter here is pushed below the callers' shared
      // exchange and makes the banding subtree differ from the verify
      // joins', so the exchange is no longer reused.
      .select(col("doc_id"),
        signatureFromBase(when(size(col("base")) > 0, col("base"))).as("sig"))
      // r17: codegen'd BandHashes + posexplode — the transform/slice/struct
      // HOF chain (now the spec-side bandHashesHof equivalence reference)
      // paid 8 interpreted lambda binds + slice allocations per banded row.
      // posexplode's pos IS the band id (same 0..Bands-1 order and values).
      .select(col("doc_id"), posexplode(
        org.apache.spark.sql.graftext.HashExprs.bandHashes(col("sig"), RowsPerBand))
        .as(Seq("band", "bh")))

  /** Distinct candidate pairs (a_id < b_id) sharing >= 1 band bucket. */
  def candidatePairs(docs: DataFrame): DataFrame =
    LshJoin.bucketedPairs(bandedSignatures(docs), Seq("band", "bh"), "doc_id")

  /** All verified near-dup pairs: LSH candidates, then the standard
    * exact-Jaccard verification (integer cross-multiplication, J >= 0.8) on
    * candidates only — the work is |candidates|, not |docs|^2. This corpus's
    * 30-word vocabulary makes most pairs collide at the banding threshold
    * (s* = (1/8)^(1/4) ≈ 0.6), which is exactly why the verify step exists.
    *
    * NOTE (measured, sf0.1): ~34% of ALL doc pairs here have J >= 0.75, so
    * the pair LIST itself is Θ(n²) — fine for the sf0.001 quality gate
    * (MinHashSpec), wrong as the scale artifact. The scalable query shape
    * is dedupAssignments below.
    */
  def nearDuplicates(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("toks"))
    candidatePairs(docs)
      .join(toks.select(col("doc_id").as("a_id"), col("toks").as("ta")), Seq("a_id"))
      .join(toks.select(col("doc_id").as("b_id"), col("toks").as("tb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("n_int"),
        size(array_union(col("ta"), col("tb"))).cast("long").as("n_uni"))
      .filter(col("n_int") * 5 >= col("n_uni") * 4)
  }

  /** The 100 TB dedup artifact: one row per doc with a canonical
    * representative — min-label propagation over band buckets (each doc
    * adopts the smallest doc_id sharing any band), then ONE exact-Jaccard
    * verification per doc against its proposed canonical. Linear in
    * docs x bands end to end: the n² pair list is never materialized.
    * Unverified proposals fall back to self (the doc stays canonical).
    * A document whose doc_id is null gets no row.
    */
  def dedupAssignments(docs: DataFrame): DataFrame =
    dedupAssignments(docs, array_distinct(split(col("text"), " ")))

  /** TRANSITIVE near-dup clusters: one row per doc with the canonical
    * (min) doc_id of its connected component in the verified-similarity
    * graph — where dedupAssignments is the one-hop artifact (a chain
    * A~B~C with A≁C leaves C self-canonical there), this collapses the
    * whole chain onto A.
    *
    * Edge generation stays LINEAR in docs x bands: per LSH bucket, each doc
    * contributes its edge to the bucket MIN (star — same components as the
    * bucket clique) plus to its sorted PREDECESSOR (chain — keeps a bucket
    * connected when its min fails verification against some member but
    * neighboring members verify pairwise). Every edge is then verified with
    * ONE exact Jaccard (J >= 0.8); the n² bucket-pair list is never
    * materialized. Bounded-edge approximation, documented: exact components
    * over ALL verified candidate pairs would need quadratic in-bucket
    * verification; near-dups that share a bucket but verify only against a
    * non-adjacent, non-min member can still split — acceptable for a
    * training-data dedup artifact and the standard LSH-CC tradeoff.
    *
    * Components by the alternating-star algorithm (Components.altStar).
    */
  def dedupClusters(docs: DataFrame): DataFrame =
    dedupClusters(docs, array_distinct(split(col("text"), " ")))

  /** Shared candidate + exact-verify edge pipeline for transitive
    * clustering: LSH-banded candidate pairs (bucket-min + sorted-
    * predecessor families from one window pass), then exact Jaccard >= 0.8
    * verification. Returns (a_id, b_id), a_id < b_id, deduped.
    *
    * r17: the per-doc frame behind the shared exchange carries the 64-bit
    * HASHED token set (one xxhash64 per token — the very values the banding
    * minhashes), not the token strings. The exchange is read three times
    * (banding + both verify joins) and the first verify join's output
    * carries a full per-doc array through the b_id exchange — all of it now
    * 8 B/element longs with no string bytes (guide §2.3), and the Jaccard
    * set ops hash/compare longs instead of UTF8Strings. Signatures are
    * byte-identical (same hashes minhashed either way); intersection/union
    * SIZES equal the string-set sizes absent a 64-bit token-hash collision
    * inside a compared pair (~p²/2⁶⁵ — the hashedShingles precedent above).
    * Measured at sf1 (probe, warm, interleaved): 3.07 → 1.87 s for the
    * verified-edge count, edge set EQUAL (125,537 edges, 0 diffs).
    */
  def verifiedEdges(docs: DataFrame, toksExpr: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), baseHashes(toksExpr).as("th"))
      .repartition(col("doc_id"))
    // Ordered bucket window: the running min over ascending doc_id IS the
    // bucket min, and lag(1) is the sorted predecessor — one window pass
    // yields both edge families.
    val wB = Window.partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))
    val edges = bandedFromBase(toks.select(col("doc_id"), col("th").as("base")))
      .select(col("doc_id"),
        min(col("doc_id")).over(wB).as("bmin"),
        lag(col("doc_id"), 1).over(wB).as("prev"))
      .select(col("doc_id"), explode(array(col("bmin"), col("prev"))).as("nbr"))
      .filter(col("nbr").isNotNull && col("nbr") < col("doc_id"))
      .select(col("nbr").as("a_id"), col("doc_id").as("b_id"))
      .distinct()
    edges
      .join(toks.select(col("doc_id").as("a_id"), col("th").as("ta")), Seq("a_id"))
      .join(toks.select(col("doc_id").as("b_id"), col("th").as("tb")), Seq("b_id"))
      .filter(size(array_intersect(col("ta"), col("tb"))) * 5 >=
        size(array_union(col("ta"), col("tb"))) * 4)
      .select(col("a_id"), col("b_id"))
  }

  /** As above with an explicit tokenization. Clustering runs the
    * alternating-star algorithm (Components.altStar): an isolated probe
    * (BASELINE.md round 7; the probe main is in git history at 7a28436)
    * measured it 1.39x/1.43x faster than minLabel at sf1/sf10 over this
    * exact pipeline at label-identical output (the shrinking edge set
    * beats carrying the full set + a pointer-jump join every pass);
    * minLabel remains the choice when driver-restart resume from persisted
    * labels (initLabels) is needed.
    */
  def dedupClusters(docs: DataFrame, toksExpr: Column,
                    maxPasses: Int = 10): DataFrame = {
    val verified = verifiedEdges(docs, toksExpr)
    // verifiedEdges' contract IS altStar's pre-canonical form (a_id < b_id,
    // deduped, no self-loops) — the flag skips the redundant initial
    // distinct exchange over the full edge set.
    Components.altStar(docs.select(col("doc_id")), verified, "doc_id", maxPasses,
      edgesPreCanonical = true)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("is_dup", (col("cluster_id") =!= col("doc_id")).cast("long"))
  }

  /** As above with an explicit tokenization — banding AND the exact-Jaccard
    * verification both run over the same token expression.
    */
  def dedupAssignments(docs: DataFrame, toksExpr: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE tokenization behind one exchange, consumed by the banding path
    // and both verify joins (ReuseExchange). As in verifiedEdges (r17), the
    // exchange carries the 64-bit hashed token set, not the token strings —
    // same signatures, same verify sizes, 8 B/element through every reader.
    // Reuse needs the three consumers' subtrees below the exchange to be
    // identical, so no consumer may push a filter under it: the banding
    // drops token-less docs by a null signature (bandedFromBase), and the
    // shared frame itself carries the `doc_id IS NOT NULL` that the
    // candidate join would otherwise infer and push down on its side only.
    val toks = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), baseHashes(toksExpr).as("th"))
      .repartition(col("doc_id"))
    val bands = bandedFromBase(toks.select(col("doc_id"), col("th").as("base")))
    // Bucket-min via a window over ONE pass of the banded frame: the
    // groupBy+self-join formulation consumed `bands` twice and AQE did not
    // reuse the exchange, recomputing every signature. (band, bh) is
    // high-cardinality, so the window partitions stay small.
    val wBucket = Window.partitionBy(col("band"), col("bh"))
    val proposed = bands
      .withColumn("bmin", min(col("doc_id")).over(wBucket))
      .groupBy(col("doc_id")).agg(min(col("bmin")).as("cand"))
    // Left joins from toks: a doc excluded from banding (no tokens) still
    // gets its one output row, self-canonical (the when() is NULL there).
    toks
      .join(proposed, Seq("doc_id"), "left_outer")
      .join(toks.select(col("doc_id").as("cand"), col("th").as("ct")),
        Seq("cand"), "left_outer")
      .select(col("doc_id"),
        when(size(array_intersect(col("th"), col("ct"))) * 5 >=
            size(array_union(col("th"), col("ct"))) * 4,
          col("cand")).otherwise(col("doc_id")).as("dup_of"))
      .withColumn("is_dup", (col("dup_of") =!= col("doc_id")).cast("long"))
  }
}
