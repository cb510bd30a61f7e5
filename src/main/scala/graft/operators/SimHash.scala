package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** SimHash near-duplicate detection — the Hamming-space twin of MinHash.
  *
  * fingerprint64: bit b of the fingerprint is the majority vote of bit b
  * across the token hashes. Similar token sets flip few majority votes, so
  * near-dup docs land within small Hamming distance.
  *
  * Banding: a 64-bit fingerprint split into 4 x 16-bit chunks. By
  * pigeonhole, Hamming distance <= 3 forces at least one chunk to match
  * exactly, so the candidate join is a bucketed equi-join on
  * (chunk_id, chunk_value) — never an n² scan — and the exact bit_count
  * check runs on candidates only. All static bit positions: every shift
  * amount is a Scala constant, so nothing fights ANSI overflow rules.
  */
object SimHash {
  val Bits = 64
  val Chunks = 4
  val ChunkBits = 16 // Bits / Chunks
  val MaxHamming = 3 // pigeonhole-complete for Chunks = MaxHamming + 1
  val SubChunks = 4
  val SubBits = 12 // (Bits - ChunkBits) / SubChunks

  /** 64-bit simhash of a token array (majority vote per bit) — the
    * codegen'd custom Expression (equivalence vs the HOF reference pinned
    * in ExprSpec).
    */
  def fingerprint64(toks: Column): Column =
    org.apache.spark.sql.graftext.VectorExprs.simhash64(
      org.apache.spark.sql.graftext.HashExprs.tokenHashes(toks))

  /** (doc_id, fp, chunk, cv) — one row per 16-bit chunk per doc. */
  def chunked(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        fingerprint64(array_distinct(split(col("text"), " "))).as("fp"))
      .repartition(col("doc_id")) // fingerprint computed once; exchange reused
      .select(col("doc_id"), col("fp"), explode(array((0 until Chunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("fp"), c * ChunkBits)
            .bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("ch"))
      .select(col("doc_id"), col("fp"), col("ch.chunk").as("chunk"), col("ch.cv").as("cv"))

  /** Verified near-dup pairs: Hamming(fp_a, fp_b) <= MaxHamming. */
  def nearDuplicatePairs(docs: DataFrame): DataFrame = {
    val ch = chunked(docs)
    val a = ch.select(col("chunk"), col("cv"), col("doc_id").as("a_id"), col("fp").as("a_fp"))
    val b = ch.select(col("chunk"), col("cv"), col("doc_id").as("b_id"), col("fp").as("b_fp"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast(LongType).as("hd"))
      .filter(col("hd") <= MaxHamming)
      .distinct()
  }

  /** Two-level pigeonhole keys over one fingerprint: for hd <= 3, some
    * 16-bit chunk matches exactly (level 1) AND, within that chunk's
    * candidates, the remaining 48 bits still differ by <= 3, so some 12-bit
    * sub-block of them ALSO matches exactly (level 2). 16 (chunk, cv, sub,
    * scv) rows per fingerprint, each key pinning 28 exact bits. All shifts
    * static -> ANSI-safe, fully codegen'd.
    */
  private[graft] def keyed2(fps: DataFrame): DataFrame = {
    def chunkVal(fp: Column, c: Int): Column =
      shiftrightunsigned(fp, c * ChunkBits).bitwiseAND(lit(0xFFFFL))
    def subVal(fp: Column, c: Int, s: Int): Column = {
      // the other 3 chunks concatenated into 48 bits, then 12-bit block s
      val rest = (0 until Chunks).filter(_ != c).zipWithIndex.map {
        case (cc, i) => shiftleft(chunkVal(fp, cc), i * ChunkBits)
      }.reduce((a, b) => a.bitwiseOR(b))
      shiftrightunsigned(rest, s * SubBits).bitwiseAND(lit(0xFFFL))
    }
    fps.select(col("fp"), col("gmin"), explode(array((for {
      c <- 0 until Chunks; s <- 0 until SubChunks
    } yield struct(lit(c).as("chunk"), chunkVal(col("fp"), c).as("cv"),
      lit(s).as("sub"), subVal(col("fp"), c, s).as("scv"))): _*)).as("k"))
      .select(col("fp"), col("gmin"), col("k.chunk").as("chunk"),
        col("k.cv").as("cv"), col("k.sub").as("sub"), col("k.scv").as("scv"))
  }

  /** Scale artifact (same shape and SEMANTICS as MinHash.dedupAssignments):
    * one row per doc with a verified smaller-id near-dup (hd <= MaxHamming),
    * or itself.
    *
    * Pipeline — linear in docs + distinct fingerprints, NO pair join:
    *   1. collapse docs to DISTINCT fingerprints (identical texts are exact
    *      dups; largest measured group at sf1 is 2,327 docs = 1 row here);
    *   2. 16 two-level pigeonhole keys per fp (keyed2: a 16-bit chunk + a
    *      12-bit sub-block of the remaining 48 — for hd <= 3 SOME key of a
    *      true near-dup pair matches exactly);
    *   3. per bucket, ONE window-min proposal (min-gmin member, carried
    *      with its fp), verified per BUCKET row (16 bit_counts per fp,
    *      still O(fps x 16)); the answer is the min over VERIFIED
    *      proposals — so a bucket whose min fails the Hamming check
    *      cannot mask a different bucket whose min would have passed.
    *      A fp all of whose proposals fail falls back to the own-group
    *      min, so exact duplicates always collapse.
    *
    * Why not the exact all-pairs-in-bucket join: on this corpus the hot
    * buckets are dense Hamming BALLS — at sf3 (150 k docs, 91 k distinct
    * fps) the bucketed pair join is ~98 M pairs and pinning more bits
    * doesn't split the balls (measured: a third pigeonhole level cuts
    * pairs only 1.5x for 4x the rows). The one-proposal-per-bucket form is
    * O(fps x 16) regardless of bucket density; what it gives up is only the
    * case where a bucket's MIN member fails verification while a NON-min
    * member of the same bucket would have passed (under-merge to self,
    * never a wrong merge).
    */
  def dedupAssignments(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // repartition(fp): a deliberate exchange both the groupBy and the final
    // per-doc join consume (ReuseExchange) — without it the doc scan +
    // fingerprint run once per consumer. Same pattern as
    // MinHash.bandedSignatures. Reuse needs the consumers' subtrees below
    // the exchange to be identical, so none may push a filter under it.
    // The inner join on fp would infer `fp IS NOT NULL` and push it down
    // on its side only, where it also fingerprints every doc a second
    // time. So fp is made non-nullable instead: docs with null text, whose
    // fingerprint is null and never joins, are dropped first, and the
    // coalesce (a no-op on non-null text) tells the optimizer so.
    val fps = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), coalesce(
        fingerprint64(array_distinct(split(col("text"), " "))), lit(0L)).as("fp"))
      .repartition(col("fp"))
    val groups = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("gmin"))
    // Per bucket: min (gmin, fp) struct = the bucket's best proposal and
    // the fingerprint needed to verify it. Each of a fp's 16 proposals is
    // verified individually (bit_count is one codegen'd instruction per
    // row) and the min runs over the VERIFIED ones only — min() skips the
    // nulls a failed check leaves behind. The own group sits in its own
    // buckets, so a bucket whose min IS the own group verifies trivially
    // (hd = 0) and min(verified) <= gmin always holds.
    val wBucket = Window.partitionBy(col("chunk"), col("cv"), col("sub"), col("scv"))
    val verified = keyed2(groups)
      .withColumn("bbest", min(struct(col("gmin"), col("fp"))).over(wBucket))
      .withColumn("bver",
        when(bit_count(col("fp").bitwiseXOR(col("bbest.fp"))) <= MaxHamming,
          col("bbest.gmin")))
      .groupBy(col("fp")).agg(min(col("bver")).as("nbest"))
    fps
      .join(groups, Seq("fp"))
      .join(verified, Seq("fp"), "left_outer")
      .select(col("doc_id"),
        coalesce(least(
          when(col("gmin") < col("doc_id"), col("gmin")),
          when(col("nbest") < col("doc_id"), col("nbest"))),
          col("doc_id")).as("dup_of"))
      .withColumn("is_dup", (col("dup_of") =!= col("doc_id")).cast(LongType))
  }
}
