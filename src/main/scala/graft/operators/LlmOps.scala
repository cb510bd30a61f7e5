package graft.operators

import graft.QueryPack
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** SURVEY.md §2.11 — LLM-data-pipeline operators over the documents and
  * embeddings tables: text analysis, exact dedup, n-gram Jaccard
  * similarity, quantized vector search, multimodal join.
  *
  * Determinism: similarity is pure integer arithmetic — token-set Jaccard
  * stays as (5*intersection >= 4*union) cross-multiplication, and vector
  * dot products quantize each float to round(x*1000) BIGINT first. A float
  * has a 24-bit mantissa, so x*1000 (= x*8*125, <= 31 significant bits) is
  * exactly representable in double: the quantization has NO half-way
  * rounding cases and is identical across engines.
  *
  * Scale posture: the all-pairs Jaccard is probe-bounded by design (the
  * unbounded 100 TB path is minhash banding — see MinHash.scala); the
  * brute-force top-k broadcasts only the bounded probe set and computes
  * dot products with the codegen'd QuantizedDot expression (no explode of the candidate
  * side, no shuffle of per-element rows).
  */
object LlmOps extends QueryPack {

  private def bi(c: Column) = c.cast(LongType)

  /** round(x*1000) per element, exact bigint quantization of a float vector. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000.0).cast(LongType))

  /** Quantized dot product of two equal-length bigint arrays — the
    * codegen'd custom Expression (graftext.QuantizedDot): ~50x faster than
    * the HOF formulation on the sf0.1 all-pairs workload (zip_with/aggregate
    * are CodegenFallback; the custom loop stays in WholeStageCodegen).
    */
  def qdot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.VectorExprs.qdotNative(a, b)

  /** SQL twin of quantize for one element (DuckDB 1-based list index). */
  private def sqlQe(tbl: String): String =
    s"CAST(round(CAST($tbl.embedding[CAST(i AS INT)+1] AS DOUBLE) * 1000.0) AS BIGINT)"

  /** The corpus's embedding dimension, sourced from the single
    * [[graft.Tables.EmbeddingDim]] constant. The q_sim_dot_topk /
    * q_multimodal_join oracle twins iterate `range(EmbDim)` — generated
    * from the same constant — so the Spark side pins the same invariant:
    * a mismatched vector raises with the dimensions in the message instead
    * of surfacing as a confusing oracle value mismatch.
    */
  private val EmbDim = graft.Tables.EmbeddingDim

  /** The one text normalization used by every norm-keyed dedup pass:
    * lowercase → strip non-[a-z0-9 ] → collapse runs of spaces → trim.
    * SQL twin: [[normTextSql]] (the 'g' regexp flag — §7.3 trap).
    * Since r16 this is the one-pass codegen expression
    * [[org.apache.spark.sql.graftext.NormText]] — byte-identical to the
    * builtin chain `trim(regexp_replace(regexp_replace(lower(text),
    * "[^a-z0-9 ]", ""), " +", " "))` it replaced (equivalence argument
    * and the exact non-ASCII fallback live with the expression); the
    * builtin chain paid two java.util.regex passes per document, ~95%
    * of q_dedup_exact_norm's wall (md5-only twin 0.95 s vs 18.5 s at
    * sf10, BENCH_sf10_r15).
    */
  private val normText: Column =
    org.apache.spark.sql.graftext.TextExprs.normText(col("text"))
  private val normTextSql: String =
    """trim(regexp_replace(regexp_replace(lower(text),
      |         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))""".stripMargin
  private def quantizeChecked(v: Column): Column =
    when(size(v) === EmbDim, quantize(v)).otherwise(raise_error(concat(
      lit(s"expected $EmbDim-dim embedding, got "), size(v).cast("string"))))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_quality" -> ((s, d) => {
      val toks = split(col("text"), " ")
      documents(s, d)
        .select(col("doc_id"),
          size(toks).cast(LongType).as("n_toks"),
          size(array_distinct(toks)).cast(LongType).as("n_uniq"),
          graft.functions.TextAnalysis.stopwordCount(toks).as("n_stop"),
          graft.functions.TextAnalysis.qualityScoreMilli(toks).as("quality_milli"))
        .orderBy(col("doc_id").asc)
    }),

    "q_text_token_count" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.wordCount(col("text")).cast(LongType).as("n_words"),
          graft.functions.TextAnalysis.subwordCount(col("text")).cast(LongType).as("n_subwords"))
        .orderBy(col("doc_id").asc)
    }),

    // Pattern redaction — the PII-scrub shape (strip emails / IDs / blocked
    // terms before training). Both engines run the SAME regex source (Java
    // regex and RE2 agree on this alternation + \b class), replacement is
    // per-row regexp_replace in one codegen projection — embarrassingly
    // parallel, no shuffle, the 100 TB cost is one scan. removed_chars is
    // the audit column: how much text the scrub deleted.
    "q_text_redact" -> ((s, d) => {
      val pat = "\\b(customer|order|part)\\b"
      documents(s, d)
        .select(col("doc_id"),
          regexp_replace(col("text"), pat, "<X>").as("redacted"),
          (length(col("text")) -
            length(regexp_replace(col("text"), pat, ""))).cast(LongType)
            .as("removed_chars"))
        .orderBy(col("doc_id").asc)
    }),

    // Curriculum length binning: fixed-width buckets over n_chars (the
    // portable width_bucket — pure arithmetic, no engine-specific binning
    // fn), per-bin doc count + char mass + language spread. One two-phase
    // agg; bins are bounded (11) regardless of corpus size.
    "q_doc_length_bins" -> ((s, d) => {
      val bin = least(greatest(floor(col("n_chars") / lit(50.0)).cast(LongType),
        lit(0L)), lit(10L))
      documents(s, d)
        .groupBy(bin.as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("bin").asc)
    }),

    // Engine-specific hash (xxhash64): rows-only driver check; quality gate
    // in TextAnalysisSpec (order sensitivity, collision-freedom on corpus).
    "q_text_fingerprint" -> ((s, d) => {
      val toks = split(col("text"), " ")
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.fingerprint(toks).as("fp"))
        .orderBy(col("doc_id").asc)
    }),

    // Heuristic language ID next to the ground-truth lang column. This
    // corpus draws every language's text from the SAME synthetic vocabulary,
    // so corpus accuracy is structurally impossible — the function's quality
    // gate is the crafted-sentence golden test in TextAnalysisSpec.
    "q_text_langid" -> ((s, d) => {
      val toks = split(col("text"), " ")
      documents(s, d)
        .select(col("doc_id"), col("lang"),
          graft.functions.TextAnalysis.langId(toks).as("lang_pred"))
        .orderBy(col("doc_id").asc)
    }),

    "q_text_tokens_tf" -> ((s, d) => {
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term").asc)
    }),

    // Stopword filtering with ORDER PRESERVED — the text-cleaning step of a
    // curation pipeline, as a re-aggregation (posexplode -> filter ->
    // collect_list(struct(pos,term)) -> array_sort -> join) instead of a
    // filter() higher-order function: HOFs are CodegenFallback, and the
    // shuffled rows here are only the SURVIVING tokens. Docs that are all
    // stopwords drop out of the result in BOTH engines (filter precedes the
    // group). The per-doc sort of the collected list touches <= |doc|
    // elements after aggregation.
    // r17 session-5 shape (guide §2.4 — the §15 q_text_dedup_spans lesson
    // applied again): the previous form posexploded every token, shuffled
    // (doc_id, pos, term) ROWS to a per-doc collect_list, array_sorted
    // them and reassembled — per-token rows crossed the wire to rebuild
    // the order the document already had. Now the token ARRAY is filtered
    // in place (one pass per doc, order preserved for free): no explode,
    // no token exchange, no per-doc aggregate — the only shuffle left is
    // the declared output sort. Docs whose every token is a stopword drop
    // (n_kept >= 1), exactly as the groupBy dropped their zero surviving
    // rows. A shape probe (sf10, one JVM, interleaved; git history at
    // 7a28436): 2.7–3.4 s → 1.6–2.0 s; PipelineOpsSpec pins row-identity
    // to the explode reference; oracle-hash-gated.
    "q_text_stopfilter" -> ((s, d) => {
      val stop = Seq("the", "a", "value", "row")
      val kept = filter(split(col("text"), " "),
        t => !t.isInCollection(stop))
      documents(s, d)
        .select(col("doc_id"),
          array_join(kept, " ").as("clean_text"),
          size(kept).cast(LongType).as("n_kept"))
        .filter(col("n_kept") >= 1)
        .orderBy(col("doc_id").asc)
    }),

    // posexplode / lateral-with-position: first occurrence position of each
    // term per document (0-based). Two-phase (doc, term) min aggregate over
    // the exploded stream — same shuffle volume as the tf aggregate.
    "q_text_first_pos" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .groupBy(col("doc_id"), col("term"))
        .agg(min(col("pos")).cast(LongType).as("first_pos"))
        .orderBy(col("doc_id").asc, col("term").asc)
    }),

    // Top-3 TF-IDF terms per document. IDF is integer-exact cross-engine:
    // idf_e6 = floor(1e6 * N / df) — one correctly-rounded IEEE division of
    // exact integers (no ln(), whose last ulp differs between libm builds).
    // Scale shape: tf is a two-phase (doc, term) aggregate; df aggregates tf
    // (not the corpus) and is vocabulary-sized -> broadcast, as is the
    // 1-row doc count; the rerank window partitions per doc over <= |vocab|
    // rows. Nothing here re-shuffles the exploded token stream twice.
    "q_text_tfidf" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_e6").desc, col("term").asc)
      tf.join(broadcast(df), Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("score_e6",
          col("tf") * floor(lit(1000000.0) * col("n_docs") / col("df")).cast(LongType))
        .withColumn("rn", bi(row_number().over(w)))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("score_e6"))
        .orderBy(col("doc_id").asc, col("rn").asc)
    }),

    // Unigram language-model scoring — the perplexity-style quality filter
    // of a training-data pipeline (low-surprisal docs = repetitive/boiler-
    // plate, high = noise), in EXACT integer arithmetic: per-word
    // surprisal is floor(log2(N div cnt)) computed as length(bin(x))-1 —
    // binary digit-length of an exact integer division, identical in both
    // engines (the repo's no-ln() oracle discipline: libm last-ulp drift
    // is the reason BM25/tfidf are integer-exact too). Whole-bit word
    // granularity averages out at the doc level: bits/token resolution is
    // ~1/n_toks bit, reported as exact millibits via integer division.
    // One tokenize pass AT RUNTIME: word counts derive from the (doc,
    // word) tf table (cnt = sum tf), and though the logical plan
    // references that subtree three times, AQE exchange reuse executes
    // the tokenize+tf shuffle once and the downstream branches read the
    // reused exchange (PlanSpec gates the final adaptive plan: 1
    // Generate, 2 ReusedExchange). The vocab-sized surprisal table
    // broadcasts (at 100 TB vocab it degrades to a hash join on the word
    // key — never corpus x vocab).
    "q_text_unigram_ppl" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val cnts = tf.groupBy(col("w")).agg(sum(col("tf")).as("cnt"))
      val n = cnts.agg(sum(col("cnt")).as("n_total"))
      val bits = cnts.crossJoin(broadcast(n))
        .withColumn("sbits", bi(length(bin(expr("n_total div cnt"))) - 1))
      tf.join(broadcast(bits.select(col("w"), col("sbits"))), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(bi(sum(col("tf") * col("sbits"))).as("surprisal_bits"),
          bi(sum(col("tf"))).as("n_toks"))
        .withColumn("mbits_per_tok",
          expr("(1000 * surprisal_bits) div n_toks"))
        .orderBy(col("doc_id").asc)
    }),

    "q_text_stats" -> ((s, d) => {
      val docs = documents(s, d)
      val base = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      val toks = docs
        .select(col("lang"), col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("lang"), col("source"))
        .agg(countDistinct(col("term")).as("n_distinct_terms"))
      base.join(toks, Seq("lang", "source"))
        .select(col("lang"), col("source"), col("n_docs"), col("sum_chars"),
          (col("sum_chars").cast("double") / col("n_docs").cast("double")).as("avg_chars"),
          col("n_distinct_terms"))
        .orderBy(col("lang").asc, col("source").asc)
    }),

    "q_dedup_exact" -> ((s, d) => {
      documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("text_md5"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("min_doc_id"))
        .orderBy(col("text_md5").asc)
    }),

    // Normalize-then-hash exact dedup — the standard LLM-pipeline pass
    // between raw exact dedup and near-dup sketching: lowercase, strip
    // non-alphanumerics, collapse whitespace runs, THEN hash. Catches the
    // trivial variants (case, punctuation, double spaces) that raw md5
    // misses at a fraction of MinHash's cost. Same two-phase hash-groupBy
    // shape as q_dedup_exact: trivially bucketed at any scale, shuffle
    // carries (16-byte hash, count, min) — never the text.
    // DuckDB twin needs the 'g' regexp flag (replace-all is Spark's
    // default, DuckDB's is first-match-only — §7.3 trap list).
    "q_dedup_exact_norm" -> ((s, d) => {
      documents(s, d)
        .groupBy(md5(normText.cast("binary")).as("norm_md5"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("min_doc_id"))
        .orderBy(col("norm_md5").asc)
    }),

    // Token-set Jaccard >= 0.8 over a bounded probe set (doc_id < 200).
    // Pure integers: 5*|A∩B| >= 4*|A∪B| with |A∪B| = |A|+|B|-|A∩B|.
    "q_sim_jaccard" -> ((s, d) => {
      val tok = documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      val sz = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val a = tok.select(col("doc_id").as("a_id"), col("tok"))
      val b = tok.select(col("doc_id").as("b_id"), col("tok"))
      val inter = a.join(b, Seq("tok")).filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_int"))
      inter
        .join(sz.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
        .join(sz.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("n_int"),
          (col("sz_a") + col("sz_b") - col("n_int")).as("n_uni"))
        .filter(col("n_int") * 5 >= col("n_uni") * 4)
        .orderBy(col("a_id").asc, col("b_id").asc)
    }),

    // Character-trigram Jaccard — the token-FREE dedup flavor (scripts
    // without whitespace segmentation dedup on char n-grams, not words).
    // Same cross-multiplied integer threshold as q_sim_jaccard; same
    // bounded-probe posture (the unbounded path is the identical trigram
    // sets through MinHash banding). The lambda only touches the bound
    // index + a plain attribute, so no per-element re-evaluation of a
    // computed array (the O(L²) HOF trap).
    "q_sim_ngram_char" -> ((s, d) => {
      // threshold 2/3 (3x/2x cross-multiply): char-trigram overlap is
      // word-ORDER-sensitive, so the corpus's token-set near-dups sit lower
      // than their 0.8 token Jaccard — >= 0.7 here matches only exact
      // trigram-set dups (3 pairs), 2/3 is the discriminating band (33).
      // r17: codegen'd CharNGrams replaces the interpreted HOF
      // transform/substr chain — the HOF re-walked the string's UTF-8
      // bytes from the front per gram (O(len²) bytes touched per doc);
      // exact twin on the len >= 3 domain the filter establishes
      // (equivalence gate in ExprSpec; the query stays oracle-hash-gated).
      val tri = documents(s, d)
        .filter(col("doc_id") < 200 && length(col("text")) >= 3)
        .select(col("doc_id"), explode(array_distinct(
          org.apache.spark.sql.graftext.TextExprs.charNGrams(col("text"), 3))).as("g"))
      val sz = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val a = tri.select(col("doc_id").as("a_id"), col("g"))
      val b = tri.select(col("doc_id").as("b_id"), col("g"))
      val inter = a.join(b, Seq("g")).filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_int"))
      inter
        .join(sz.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
        .join(sz.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("n_int"),
          (col("sz_a") + col("sz_b") - col("n_int")).as("n_uni"))
        .filter(col("n_int") * 3 >= col("n_uni") * 2)
        .orderBy(col("a_id").asc, col("b_id").asc)
    }),

    // Brute-force quantized top-5: candidates stream, probes broadcast
    // (bounded set), dot product via the codegen'd QuantizedDot expression — the
    // per-probe window is over a constant-size probe partition count.
    "q_sim_dot_topk" -> ((s, d) => {
      val emb = embeddings(s, d).select(col("vec_id"), quantizeChecked(col("embedding")).as("qv"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("p_id"), col("qv").as("p_qv"))
      val cands = emb.select(col("vec_id").as("c_id"), col("qv").as("c_qv"))
      val w = Window.partitionBy(col("p_id")).orderBy(col("dot").desc, col("c_id").asc)
      cands.crossJoin(broadcast(probes))
        .filter(col("p_id") =!= col("c_id"))
        .select(col("p_id"), col("c_id"), qdot(col("p_qv"), col("c_qv")).as("dot"))
        .withColumn("rn", bi(row_number().over(w)))
        .filter(col("rn") <= 5)
        .select(col("p_id"), col("rn"), col("c_id"), col("dot"))
        .orderBy(col("p_id").asc, col("rn").asc)
    }),

    // Multimodal: relational text columns and the vector column side by
    // side in one row — stats from both modalities, vector reduced by a
    // quantized integer norm.
    "q_multimodal_join" -> ((s, d) => {
      val docs = documents(s, d)
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("label"), quantizeChecked(col("embedding")).as("qv"))
        .select(col("vec_id"), col("label"), qdot(col("qv"), col("qv")).as("norm_q"))
      docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          bi(col("label")).as("label"),
          bi(size(split(col("text"), " "))).as("n_toks"),
          col("norm_q"))
        .orderBy(col("doc_id").asc)
    }),

    // Canonical-representative selection: within each normalized-text dup
    // group keep the highest-quality doc (max n_chars, tie min doc_id) —
    // the pass a training pipeline runs right after exact-norm dedup so
    // survivors are the BEST copy, not an arbitrary one. One shuffle on
    // the 32-char norm hash (the text itself never shuffles); window
    // partitions are dup-group-sized, tiny at any corpus size.
    "q_dedup_keep_best" -> ((s, d) => {
      val w = Window.partitionBy(col("norm_md5"))
      val wOrd = w.orderBy(col("n_chars").desc, col("doc_id").asc)
      documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          md5(normText.cast("binary")).as("norm_md5"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n_dups", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select(col("norm_md5"), col("doc_id"), col("n_chars"), col("n_dups"))
        .orderBy(col("norm_md5").asc)
    }),

    // Token-budget shard packing: assign each doc to a training shard so
    // shards hold ~800 tokens, packed in doc_id order WITHIN each source
    // (shard boundaries must not interleave sources). shard_id =
    // (running tokens BEFORE this doc) div budget — pure bigint math.
    // Scale: the window partitions on source, so per-partition state is
    // one source's running counter; a single colossal source flips to the
    // classic two-phase form (per-split subtotals + broadcast prefix
    // offsets) with identical output — the declarative shape is the same.
    "q_shard_pack" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      documents(s, d)
        .select(col("doc_id"), col("source"),
          bi(size(split(col("text"), " "))).as("n_toks"))
        .withColumn("cum_toks", sum(col("n_toks")).over(w))
        .select(col("doc_id"), col("source"), col("n_toks"),
          expr("(cum_toks - n_toks) div 800").as("shard_id"))
        .orderBy(col("doc_id").asc)
    }),

    // The END-TO-END curation pipeline as ONE declarative plan — the
    // "switch your corpus build to this library" composition: gopher
    // quality gate → exact-norm keep-best dedup (among survivors) →
    // eval-set decontamination (Decontam.sweep, broadcast regime) →
    // token-budget shard packing of what remains. Every stage reuses the
    // EXACT semantics of its standalone registered query (same rules,
    // same constants), and the whole chain is hash-compared against a
    // DuckDB twin built by chaining the four stage oracles — so the
    // composition itself (stage order, survivor propagation, n_toks
    // plumbed once from the quality aggregate) is oracle-verified, not
    // just the parts. Catalyst fuses the chain: one tokenize for the
    // quality gate, one for the gram sweep, windows partitioned on their
    // natural keys — no driver-side staging, no intermediate
    // materialization. At 100 TB each stage is the shape its standalone
    // row documents; composing them adds joins on doc_id (the natural
    // bucket key), nothing quadratic.
    "q_pipeline_curate" -> ((s, d) => {
      val stops = graft.functions.TextAnalysis.EnStopwords
      val idiv = graft.functions.TextAnalysis.idiv _
      val docs = documents(s, d)
      val qual = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"), max(col("c")).as("max_tf"),
          sum(when(col("tok").isin(stops: _*), col("c")).otherwise(lit(0L)))
            .as("n_stop"))
        .filter(col("n_toks") >= 20 &&
          idiv(col("max_tf") * 1000, col("n_toks")) <= 150 &&
          idiv(col("n_stop") * 1000, col("n_toks")) >= 30)
        .select(col("doc_id"), bi(col("n_toks")).as("n_toks"))
      val best = docs.join(qual, "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"), col("n_toks"),
          md5(normText.cast("binary")).as("norm_md5"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("norm_md5"))
            .orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("rn") === 1)
      val contaminated = Decontam.sweep(
          docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100))
        .select(col("doc_id"))
      val train = best.filter(col("doc_id") >= 100)
        .join(contaminated, Seq("doc_id"), "left_anti")
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      train
        .withColumn("cum_toks", sum(col("n_toks")).over(w))
        .select(col("doc_id"), col("source"), col("n_toks"),
          expr("(cum_toks - n_toks) div 800").as("shard_id"))
        .orderBy(col("doc_id").asc)
    }),

    // Language-mixture quota sampling: cap every language at 60 docs,
    // chosen by deterministic content-hash order (md5(text)) so the
    // sample is reproducible and engine-independent — the rebalancing
    // pass that turns a crawl's language skew into a target mixture.
    // Same salted two-phase prune as q_win_rank: per-(lang,salt) local
    // row_number <= 60 keeps every row whose exact quota rank can be
    // <= 60 (any strictly-better row survives with it), so the exact
    // low-cardinality window only ever sees 60*16 rows per language.
    "q_sample_mixture" -> ((s, d) => {
      val ord = Seq(col("h").asc, col("doc_id").asc)
      val w1 = Window.partitionBy(col("lang"), col("salt")).orderBy(ord: _*)
      val w = Window.partitionBy(col("lang")).orderBy(ord: _*)
      documents(s, d)
        .select(col("doc_id"), col("lang"), md5(col("text").cast("binary")).as("h"))
        .withColumn("salt", pmod(col("doc_id"), lit(16L)))
        .withColumn("rn1", row_number().over(w1))
        .filter(col("rn1") <= 60)
        .withColumn("rn", bi(row_number().over(w)))
        .filter(col("rn") <= 60)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy(col("lang").asc, col("rn").asc)
    }),

    // Deterministic training-order shuffle: a seeded two-round
    // multiplicative-congruential permutation key over doc_id (Lehmer
    // rounds mod the Mersenne prime 2^31-1 — exact BIGINT arithmetic in
    // ANY engine; no rand(), no engine-specific hash), then shard =
    // key mod 64 and the within-shard read position. The pass that turns
    // a crawler-ordered corpus into the decorrelated order a trainer
    // consumes, reproducible across engines and runs (the seed lives in
    // the key formula). Scale: rows shuffle ONCE on shard (the writer
    // partitioning); each shard orders independently, and shard count
    // scales as n_docs/docs_per_shard — no single-partition window.
    "q_corpus_shuffle" -> ((s, d) => {
      val p = lit(2147483647L)
      val h1 = pmod((col("doc_id") + lit(20260814L)) * lit(48271L), p)
      val key = pmod(h1 * lit(16807L), p)
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("key").asc, col("doc_id").asc)
      documents(s, d)
        .select(col("doc_id"), key.as("key"))
        .withColumn("shard", pmod(col("key"), lit(64L)))
        .withColumn("pos", bi(row_number().over(w)))
        .select(col("shard"), col("pos"), col("doc_id"), col("key"))
        .orderBy(col("shard").asc, col("pos").asc)
    }),

    // Temperature-rebalanced mixture weights (alpha = 1/2): the standard
    // multilingual recipe w_i ∝ p_i^alpha that upweights low-resource
    // sources before sampling. alpha is fixed at 0.5 so the power is
    // sqrt — IEEE-754 CORRECTLY-ROUNDED in every engine (pow is not),
    // and each sqrt is immediately quantized to an exact integer
    // (floor(sqrt(n)*1e6)) so the normalizing sum is BIGINT math, not a
    // cross-row FP accumulation (§7.3). Output: per-source weight in
    // milli and the draw allocation of a 1M-sample budget. Scale: a
    // source-cardinality aggregate plus a 1-row broadcast — this is the
    // quota vector the mixture sampler consumes.
    "q_sample_temperature" -> ((s, d) => {
      val idiv = graft.functions.TextAnalysis.idiv _
      val q = documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("qw", floor(sqrt(col("n_docs")) * 1000000).cast(LongType))
      val z = q.agg(sum(col("qw")).as("z"))
      q.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"),
          idiv(col("qw") * 1000, col("z")).as("w_milli"),
          idiv(col("qw") * 1000000, col("z")).as("draws_per_m"))
        .orderBy(col("source").asc)
    }),

    // Corpus bigram frequency (top-20): the n-gram statistics pass behind
    // LM data inspection. Adjacent-pair arrays via two offset slices
    // zipped pairwise — no positional explode, so the shuffle carries one
    // row per bigram OCCURRENCE pre-aggregated map-side; top-20 is
    // TakeOrderedAndProject (no global sort materialization).
    "q_text_bigrams" -> ((s, d) => {
      // r17 session-5: the zip_with(slice, slice, concat_ws) chain IS
      // word 2-grams — NGramsJoined(2), the codegen kernel the gram
      // family already runs on (guide §4; the HOF chain was interpreted
      // per element). Same pairs: zip_with over the two len-1 slices
      // emits concat_ws(" ", t_i, t_{i+1}) for i = 1..len-1, and both
      // forms emit nothing for len < 2 or null text. DecontamSpec pins
      // the kernel element-identical to the HOF form at n = 2;
      // a shape probe (sf10, one JVM; git history at 7a28436):
      // 2.2–2.5 s → 0.70–0.76 s (3.1×); oracle-hash-gated.
      documents(s, d)
        .select(split(col("text"), " ").as("toks"))
        .select(explode(Decontam.gramsOf(col("toks"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)
    }),

    // Train/eval decontamination: flag training docs (doc_id >= 100)
    // sharing any 5-token-gram with the eval set (doc_id < 100) — the
    // standard benchmark-leakage sweep. Distinct eval grams are a small
    // relation (broadcast side of the equi-join at any training-corpus
    // size: eval sets don't grow with the crawl); per-doc grams are
    // array_distinct'd and the eval side deduped, so count(*) after the
    // join IS the distinct shared-gram count.
    // Repetition-ratio quality signal (the Gopher-style degenerate-text
    // detector): per-doc max token frequency over total tokens as an exact
    // integer milli-ratio. Two chained aggregations — (doc, tok) counts,
    // then per-doc max/sum — both partial+final; the second stage's input
    // is already collapsed to distinct tokens per doc.
    "q_text_repetition" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"), max(col("c")).as("max_tf"))
        .select(col("doc_id"), col("n_toks"), col("max_tf"),
          graft.functions.TextAnalysis.idiv(col("max_tf") * 1000, col("n_toks"))
            .as("rep_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // Gopher-style composite quality gate: keep a doc iff it is long
    // enough (>= 20 tokens), not degenerate (repetition <= 150 milli) and
    // natural-language-like (stopword share >= 30 milli) — the
    // keep/drop decision pass a crawl cleaner runs before training.
    // Thresholds calibrated so all three rules fire on real subsets of the
    // corpus (43 / 39 / 92 of 500 docs at sf0.01). One explode + two
    // aggregations; the stopword mass folds into the same (doc, tok) frame
    // as the repetition stats, so the gate costs no extra scan.
    "q_text_gopher" -> ((s, d) => {
      val stops = graft.functions.TextAnalysis.EnStopwords
      val idiv = graft.functions.TextAnalysis.idiv _
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"), max(col("c")).as("max_tf"),
          sum(when(col("tok").isin(stops: _*), col("c")).otherwise(lit(0L)))
            .as("n_stop"))
        .select(col("doc_id"), col("n_toks"),
          idiv(col("max_tf") * 1000, col("n_toks")).as("rep_milli"),
          idiv(col("n_stop") * 1000, col("n_toks")).as("stop_milli"))
        .withColumn("keep",
          col("n_toks") >= 20 && col("rep_milli") <= 150 && col("stop_milli") >= 30)
        .orderBy(col("doc_id").asc)
    }),

    // Single implementation lives in Decontam.sweep (tokenize-once gram
    // builder — the round-5 version inlined split() inside the transform
    // lambda, re-evaluating the tokenizer per element_at: quadratic per
    // row, measured 5.8-10.8 s vs 0.9 s steady-state at sf0.1). Defaults =
    // the oracle-gated broadcast regime; hash-gram and bloom regimes are
    // knobs asserted equivalent in DecontamSpec.
    "q_text_decontam" -> ((s, d) => {
      val docs = documents(s, d)
      Decontam.sweep(docs.filter(col("doc_id") >= 100),
        docs.filter(col("doc_id") < 100))
    }),

    // Cross-source contamination matrix: for every source pair, how many
    // distinct 5-token-grams they share — the "which corpora overlap"
    // sweep run before choosing mixture weights (exact-norm dup groups
    // never cross sources in this corpus, so gram granularity is the
    // signal). NOT a gram self-join: the planner does not reuse the two
    // identical gram-distinct subtrees of that shape (the q_basket_pairs
    // lesson — the corpus would be tokenized twice).
    //
    // r17 session-5 shape (guide §4 + §2.3): each gram's source SET is a
    // source BITMASK — `bit_or(1L << sid)` is a DeclarativeAggregate the
    // whole-stage codegen path partial-aggregates map-side, where the
    // previous collect_set was a TypedImperativeAggregate whose
    // ObjectHashAggregate falls back to SORT-based aggregation past 128
    // distinct keys (gram keys are millions: every map task was sorting
    // its gram rows before the exchange). The per-pair counts then come
    // from the mask HISTOGRAM (|masks| ≤ 2^|sources| rows, tiny next to
    // |grams|), expanded against the source dimension twice — so the
    // second aggregation's input is mask-sized, not gram-sized.
    // A shape probe (sf10, one JVM, interleaved; git history at 7a28436):
    // set shape 10.1–10.4 s vs mask shape 4.5–4.7 s, outputs identical at
    // sf1 AND sf10;
    // PipelineOpsSpec pins mask ≡ set row-identical; oracle-hash-gated.
    //
    // The source dimension: sids is |sources|-row (a categorical corpus
    // label — 20 values in this corpus at every SF; a crawl's corpus
    // registry is equally tiny). It materializes once via an eager
    // localCheckpoint (the rfmScalable precedent: a config/dimension-
    // bounded frame consumed by several plan branches), so its global
    // row_number window runs exactly once over |sources| rows and the
    // registered plan keeps ONE parquet scan. sid ≥ 63 cannot silently
    // wrap the mask: the qvec raise_error pattern guards it loudly (the
    // eager build fails fast), and the set-shape reference below stays
    // the fallback a >63-source deployment would re-register.
    //
    // Pair expansion: each mask row explodes its SET BITS (a ≤63-element
    // array per mask-histogram row — histogram-sized, not gram-sized),
    // pairs aggregate on (sid_a, sid_b), and the names attach by two
    // broadcast EQUI joins. sid order ≡ alphabetical source order (the
    // row_number is over source ASC), so sid_a < sid_b ⇔ src_a < src_b
    // and the declared ordering is unchanged.
    "q_dedup_cross_source" -> ((s, d) => {
      val sids = documents(s, d).select(col("source")).distinct()
        .select(col("source"),
          (row_number().over(Window.orderBy(col("source"))).cast(LongType)
            - 1L).as("rawsid"))
        .select(col("source"),
          when(col("rawsid") <= 62L, col("rawsid")).otherwise(raise_error(
            concat(lit("source bitmask overflow: >63 sources, sid="),
              col("rawsid").cast("string")))).as("sid"))
        .localCheckpoint(true)
      val masks = documents(s, d)
        .select(col("source"), split(col("text"), " ").as("toks"))
        .select(col("source"), explode(Decontam.gramsOf(col("toks"), 5)).as("g"))
        .join(broadcast(sids), "source")
        .groupBy(col("g"))
        .agg(bit_or(expr("shiftleft(1L, CAST(sid AS INT))")).as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("n_grams"))
      val bits = expr(
        """filter(transform(sequence(0L, 62L),
          |  i -> CASE WHEN (mask >> CAST(i AS INT)) & 1 = 1 THEN i END),
          |  b -> b IS NOT NULL)""".stripMargin)
      masks
        .select(col("n_grams"), explode(bits).as("ia"), col("mask"))
        .select(col("n_grams"), col("ia"), explode(bits).as("ib"))
        .filter(col("ia") < col("ib"))
        .groupBy(col("ia"), col("ib"))
        .agg(sum(col("n_grams")).as("n_shared"))
        .join(broadcast(sids.select(col("source").as("src_a"), col("sid").as("ia"))), "ia")
        .join(broadcast(sids.select(col("source").as("src_b"), col("sid").as("ib"))), "ib")
        .select(col("src_a"), col("src_b"), col("n_shared"))
        .orderBy(col("src_a").asc, col("src_b").asc)
    }),

    // Edit-distance similarity over a bounded candidate frame — the
    // character-level fuzzy-dedup check that catches near-dups token
    // sketches miss (typos, small insertions). Levenshtein is O(|a|*|b|)
    // per pair, so the pair frame is the SAME bounded-probe shape as
    // q_sim_jaccard (same-lang, doc_id-capped probe set); the 100 TB
    // migration is identical too: LSH/simhash buckets propose, this
    // verifies inside each bucket. The milli ratio is exact integer math
    // (cross-multiplied, single idiv).
    "q_sim_edit" -> ((s, d) => {
      val probe = documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("lang"), col("text"))
      val lev = levenshtein(col("a.text"), col("b.text"))
      probe.as("a").join(probe.as("b"),
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          lev.cast("bigint").as("lev"),
          graft.functions.TextAnalysis.idiv(
            lev.cast("bigint") * 1000,
            greatest(length(col("a.text")), length(col("b.text"))).cast("bigint"))
            .as("lev_milli"))
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    }),

    // BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query-term set —
    // the ranking step of a retrieval/curation pipeline, in EXACT integer
    // arithmetic: ln-idf is replaced by its monotone odds-ratio surrogate
    // (2N-2df+1)/(2df+1) scaled e3 (capped at 1000x so the later product
    // stays < 2^63), and the tf saturation term is cross-multiplied into
    // one bigint ratio — with k1=6/5, b=3/4 and avgdl=total/N,
    //   tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    //     = 44*tf*total / (20*tf*total + 6*total + 18*dl*N).
    // Both divisions use SQL `div` (exact bigint, NOT the double-space
    // idiv — numerators reach ~4e16 at sf10, past 2^53). Scale shape: the
    // token explode is filtered to the query terms BEFORE the (doc, term)
    // aggregate, df (<= |terms| rows) and the 1-row corpus stats
    // broadcast, and dl joins tf on the doc key. Top-20 on a total order.
    "q_text_bm25" -> ((s, d) => {
      val qterms = Seq("spark", "join", "fast")
      val toks = documents(s, d).select(col("doc_id"), split(col("text"), " ").as("l"))
      val dl = toks.select(col("doc_id"), size(col("l")).cast(LongType).as("dl"))
      val stats = dl.agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("dl")).cast(LongType).as("total"))
      val tf = toks.select(col("doc_id"), explode(col("l")).as("term"))
        .filter(col("term").isInCollection(qterms))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).cast(LongType).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).cast(LongType).as("df"))
      tf.join(broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("idf_num", lit(1000L) * (lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)))
        .withColumn("idf_den", lit(2L) * col("df") + lit(1L))
        .withColumn("tfc_num", lit(1000000L) * lit(44L) * col("tf") * col("total"))
        .withColumn("tfc_den",
          lit(20L) * col("tf") * col("total") + lit(6L) * col("total")
            + lit(18L) * col("dl") * col("n_docs"))
        .withColumn("idf_e3", least(expr("idf_num div idf_den"), lit(1000000L)))
        .withColumn("tfc_e6", expr("tfc_num div tfc_den"))
        .groupBy(col("doc_id"))
        .agg(sum(col("idf_e3") * col("tfc_e6")).cast(LongType).as("score_e9"),
          count(lit(1)).cast(LongType).as("n_terms"))
        .orderBy(col("score_e9").desc, col("doc_id").asc)
        .limit(20)
    }),

    // Sliding token-window chunking (size 8, stride 4) — the pretraining
    // data-prep step that turns documents into fixed-width overlapping
    // training windows. Pure narrow ops after the scan: sequence() emits
    // the window starts, slice() re-materializes each window from the
    // already-split token array — the token stream is never exploded, so
    // the only wide op is the final presentation sort. Tail windows keep
    // their natural ragged length (n_tokens < 8) rather than padding.
    "q_text_chunk" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .withColumn("n", size(col("l")).cast(LongType))
        .filter(col("n") >= 1)
        .select(col("doc_id"), col("l"), col("n"),
          explode(sequence(lit(0), (col("n") - 1).cast("int"), lit(4))).as("st"))
        .select(col("doc_id"),
          expr("cast(st as bigint) div 4").as("chunk_idx"),
          array_join(slice(col("l"), col("st") + 1, lit(8)), " ").as("chunk_text"),
          least(lit(8L), col("n") - col("st")).cast(LongType).as("n_tokens"))
        .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    }),

    // Corpus vocabulary profile per language: vocab size, hapax count
    // (tokens whose corpus frequency within the language is exactly 1 —
    // the classic OOV-risk signal), total token mass, and type-token
    // ratio as an exact integer milli. Two chained partial+final
    // aggregations; stage 2's input is already collapsed to distinct
    // (lang, tok), so the fine-grained (lang, tok) shuffle is the only
    // data-sized exchange — the final per-lang rollup moves
    // vocab-bounded rows, not token mass.
    "q_text_vocab_stats" -> ((s, d) => {
      val idiv = graft.functions.TextAnalysis.idiv _
      val tf = documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("lang"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(col("c")).as("n_toks"))
        .select(col("lang"), col("vocab"), col("hapax"), col("n_toks"),
          idiv(col("vocab") * 1000, col("n_toks")).as("ttr_milli"))
        .orderBy(col("lang").asc)
    }),

    // Per-doc token rarity: mean corpus frequency of the doc's tokens in
    // exact integer math (sum of per-occurrence corpus counts // token
    // count) — low mean_cf = rare vocabulary, the cheap lexical-novelty
    // signal a mixture sampler weights by. The corpus frequency table
    // derives from the SAME (doc, tok) frame it joins back onto (at
    // 100 TB persist tf rather than recompute — the join stays an
    // equi-join on tok whose tf side is distinct-per-doc, so hot tokens
    // carry at most n_docs rows and AQE skew-split handles the head).
    "q_text_rarity" -> ((s, d) => {
      val idiv = graft.functions.TextAnalysis.idiv _
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val cf = tf.groupBy(col("tok")).agg(sum(col("c")).as("cf"))
      tf.join(cf, "tok")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"),
          sum(col("c") * col("cf")).as("cf_sum"))
        .select(col("doc_id"), col("n_toks"), col("cf_sum"),
          idiv(col("cf_sum"), col("n_toks")).as("mean_cf"))
        .orderBy(col("doc_id").asc)
    }),

    // Cross-document duplicate n-gram fraction (the Dolma/Gopher
    // "fraction of doc covered by duplicated n-grams" quality signal —
    // distinct from q_text_repetition, which is WITHIN-doc degeneracy):
    // per doc, the share of its distinct sliding 5-gram shingles that
    // appear in >= 2 documents, as an exact integer milli. Reuses
    // Decontam.gramsOf (tokenize-once: the HOF lambda must capture a
    // projected attribute, not an inline split). Docs under 5 tokens
    // have no shingles and drop out on both engines. Scale shape: the
    // doc-frequency table is distinct (doc, gram) rows aggregated on
    // gram; the join back is a gram equi-join where a boilerplate gram
    // carries at most n_docs rows — the banded-LSH dedup family handles
    // the "find WHICH docs share" question; this operator only scores.
    "q_text_dup_ngrams" -> ((s, d) => {
      val idiv = graft.functions.TextAnalysis.idiv _
      val grams = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"),
          explode(array_distinct(Decontam.gramsOf(col("toks"), 5))).as("gram"))
      val df = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      grams.join(df, "gram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          idiv(col("n_dup") * 1000, col("n_grams")).as("dup_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // Span-level duplicate REMOVAL (the ExactSubstr-style rewrite of Lee
    // et al.'s "Deduplicating Training Data Makes Language Models
    // Better", at 5-gram granularity): every token position covered by a
    // 5-gram that occurs in >= 2 DISTINCT documents is dropped from ALL
    // its documents, and the surviving tokens are reassembled in order.
    // This is the transform counterpart to q_text_dup_ngrams' score —
    // within-doc repeats do NOT trigger removal (that degeneracy is
    // q_text_repetition's axis). Fully-covered docs stay in the output
    // with text_clean = ''. Scale shape: a text REWRITE is data-sized by
    // necessity — tokens shuffle exactly once (the per-doc reassembly);
    // the duplicate-start detection rides the same distinct-(doc, gram)
    // frame as q_text_dup_ngrams (equi-join on gram, never all-pairs),
    // covered positions are bounded by 5x duplicate starts, and the
    // kept-token anti-join co-partitions on (doc_id, p). At 100 TB this
    // pass runs AFTER the LSH family has removed whole near-dup docs, so
    // the gram side is the residual boilerplate tail.
    // r17 shape: tokens never shuffle. The pre-r17 form exploded every
    // token into a (doc_id, p, tok) row, anti-joined on (doc_id, p), and
    // reassembled with a collect_list+array_sort aggregation — the corpus
    // crossed the wire as token ROWS twice (anti-join + reassembly). Now
    // only the COVERED POSITIONS aggregate per doc (collect_set — the
    // dedup rides the aggregate instead of a separate distinct exchange),
    // and the text is rebuilt from the doc's own token array:
    // array_except(sequence(1, n), covered) preserves first-array order,
    // so the kept positions come out ascending and element_at reassembles
    // in place. Exact same strings, counts, and '' for fully-covered docs
    // (array_except to an empty array); oracle-hash-gated.
    "q_text_dedup_spans" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val grams = toks.filter(size(col("toks")) >= 5)
        .select(col("doc_id"),
          posexplode(Decontam.gramsOf(col("toks"), 5)).as(Seq("i0", "gram")))
        .select(col("doc_id"), (col("i0") + 1).cast(LongType).as("i"), col("gram"))
      val dupGrams = grams.select(col("doc_id"), col("gram")).distinct()
        .groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2)
      val coveredAgg = grams.join(dupGrams, "gram")
        .select(col("doc_id"), explode(sequence(col("i"), col("i") + 4)).as("p"))
        .groupBy(col("doc_id")).agg(collect_set(col("p")).as("cov"))
      toks
        .join(coveredAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("toks")).cast(LongType).as("n_toks"),
          array_except(
            sequence(lit(1L), size(col("toks")).cast(LongType)),
            coalesce(col("cov"), array().cast("array<bigint>"))).as("kept"),
          col("toks"))
        .select(col("doc_id"), col("n_toks"),
          size(col("kept")).cast(LongType).as("n_kept"),
          (col("n_toks") - size(col("kept")).cast(LongType)).as("n_removed"),
          concat_ws(" ",
            transform(col("kept"), p => element_at(col("toks"), p.cast("int"))))
            .as("text_clean"))
        .orderBy(col("doc_id").asc)
    })
  )

  /** DuckDB twin of TextAnalysis.langId, generated from the SAME
    * LangProfiles constant (single source of truth): per-language
    * multiplicity-counting profile hits (list_filter + IN keeps
    * duplicates, matching CountInSet), then a CASE chain whose >= at each
    * step gives the alphabetically-earliest language tie priority —
    * exactly the (score, rev) struct-max semantics on the Spark side.
    */
  private val langIdOracleSql: String = {
    val ordered = graft.functions.TextAnalysis.LangProfiles.toSeq.sortBy(_._1)
    val scoreCols = ordered.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(",")
      s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS BIGINT) AS s_$lang"
    }.mkString(",\n  ")
    val langs = ordered.map(_._1)
    val cases = langs.dropRight(1).zipWithIndex.map { case (lang, i) =>
      val rest = langs.drop(i + 1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
      s"WHEN $rest THEN '$lang'"
    }.mkString("\n  ")
    s"""SELECT doc_id, lang,
       | CASE $cases
       |  ELSE '${langs.last}' END AS lang_pred
       |FROM (SELECT doc_id, lang,
       |  $scoreCols
       |  FROM documents)
       |ORDER BY doc_id ASC""".stripMargin
  }

  /** Stopword IN-list for the gopher twin, generated from the same
    * EnStopwords constant the Spark side folds over.
    */
  private val stopInList: String =
    graft.functions.TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(",")

  override def oracle: Map[String, String] = Map(
    "q_text_langid" -> langIdOracleSql,

    "q_text_repetition" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
        |  CAST(MAX(c) AS BIGINT) AS max_tf,
        |  (CAST(MAX(c) AS BIGINT) * 1000) // CAST(SUM(c) AS BIGINT) AS rep_milli
        |FROM tf GROUP BY doc_id
        |ORDER BY doc_id ASC""".stripMargin,

    "q_text_gopher" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
         |    CAST(MAX(c) AS BIGINT) AS max_tf,
         |    CAST(SUM(CASE WHEN tok IN ($stopInList) THEN c ELSE 0 END) AS BIGINT) AS n_stop
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, n_toks,
         |  (max_tf * 1000) // n_toks AS rep_milli,
         |  (n_stop * 1000) // n_toks AS stop_milli,
         |  (n_toks >= 20 AND (max_tf * 1000) // n_toks <= 150
         |     AND (n_stop * 1000) // n_toks >= 30) AS keep
         |FROM agg
         |ORDER BY doc_id ASC""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id, n_toks, n_uniq, n_stop,
        | (n_uniq * 1000) // n_toks - (n_stop * 500) // n_toks AS quality_milli
        |FROM (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
        |  CAST(len(list_filter(string_split(text, ' '),
        |       t -> t IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop
        |  FROM documents)
        |ORDER BY doc_id ASC""".stripMargin,

    "q_text_token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words,
        | CAST(len(regexp_extract_all(text, '[bcdfghjklmnpqrstvwxyz]+'))
        |     + len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_subwords
        |FROM documents
        |ORDER BY doc_id ASC""".stripMargin,

    "q_text_redact" ->
      """SELECT doc_id,
        | regexp_replace(text, '\b(customer|order|part)\b', '<X>', 'g')
        |   AS redacted,
        | CAST(length(text) -
        |   length(regexp_replace(text, '\b(customer|order|part)\b', '', 'g'))
        |   AS BIGINT) AS removed_chars
        |FROM documents
        |ORDER BY doc_id ASC""".stripMargin,

    "q_doc_length_bins" ->
      """SELECT LEAST(GREATEST(CAST(floor(n_chars / 50.0) AS BIGINT), 0), 10)
        |    AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents
        |GROUP BY 1
        |ORDER BY bin ASC""".stripMargin,

    "q_text_tokens_tf" ->
      """SELECT tok AS term, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY 1
        |ORDER BY n DESC, term ASC""".stripMargin,

    "q_text_stopfilter" ->
      """WITH pos AS (
        |  SELECT doc_id, l[CAST(i AS INT)] AS term, i AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |       generate_series(1, 100000) AS t(i)
        |  WHERE i <= len(l))
        |SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS clean_text,
        |       COUNT(*) AS n_kept
        |FROM pos
        |WHERE term NOT IN ('the', 'a', 'value', 'row')
        |GROUP BY doc_id
        |ORDER BY doc_id ASC""".stripMargin,

    // DuckDB has no lateral ordinality for unnest — index the split list
    // with a constant-bound generate_series instead (same trick as
    // q_sim_ngram_char); 1-based list index maps to Spark's 0-based pos.
    "q_text_first_pos" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |pos AS (
        |  SELECT doc_id, l[CAST(i AS INT)] AS term, i - 1 AS pos
        |  FROM toks, generate_series(1, 100000) AS t(i)
        |  WHERE i <= len(l))
        |SELECT doc_id, term, CAST(MIN(pos) AS BIGINT) AS first_pos
        |FROM pos GROUP BY doc_id, term
        |ORDER BY doc_id ASC, term ASC""".stripMargin,

    // 1000000.0 would parse as DECIMAL in DuckDB (decimal literals are not
    // DOUBLE there) — CAST keeps the idf division in IEEE double space,
    // matching Spark's lit(1000000.0).
    "q_text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf,
        |    CAST(tf * CAST(FLOOR(CAST(1000000 AS DOUBLE) * n_docs / df) AS BIGINT) AS BIGINT) AS score_e6
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, score_e6,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |         ORDER BY score_e6 DESC, term ASC) AS BIGINT) AS rn
        |  FROM scored)
        |SELECT doc_id, rn, term, tf, score_e6 FROM ranked WHERE rn <= 3
        |ORDER BY doc_id ASC, rn ASC""".stripMargin,

    "q_text_unigram_ppl" ->
      """WITH tf AS (
        |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2),
        |cnts AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnts),
        |bits AS (
        |  SELECT w, CAST(length(bin(n_total // cnt)) - 1 AS BIGINT) AS sbits
        |  FROM cnts CROSS JOIN n)
        |SELECT doc_id,
        |  CAST(SUM(tf * sbits) AS BIGINT) AS surprisal_bits,
        |  CAST(SUM(tf) AS BIGINT) AS n_toks,
        |  CAST((1000 * SUM(tf * sbits)) // SUM(tf) AS BIGINT) AS mbits_per_tok
        |FROM tf JOIN bits USING (w)
        |GROUP BY doc_id
        |ORDER BY doc_id ASC""".stripMargin,

    "q_text_stats" ->
      """WITH base AS (
        |  SELECT lang, source, COUNT(*) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 1, 2
        |), toks AS (
        |  SELECT lang, source, COUNT(DISTINCT tok) AS n_distinct_terms
        |  FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |)
        |SELECT base.lang, base.source, n_docs, sum_chars,
        |       CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_chars,
        |       n_distinct_terms
        |FROM base JOIN toks ON base.lang = toks.lang AND base.source = toks.source
        |ORDER BY base.lang ASC, base.source ASC""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, COUNT(*) AS n_dups, min(doc_id) AS min_doc_id
        |FROM documents
        |GROUP BY 1
        |ORDER BY text_md5 ASC""".stripMargin,

    "q_dedup_exact_norm" ->
      s"""SELECT md5($normTextSql) AS norm_md5,
         |  COUNT(*) AS n_dups, min(doc_id) AS min_doc_id
         |FROM documents
         |GROUP BY 1
         |ORDER BY norm_md5 ASC""".stripMargin,

    "q_dedup_keep_best" ->
      s"""SELECT norm_md5, doc_id, n_chars, n_dups FROM (
         |  SELECT md5($normTextSql) AS norm_md5, doc_id, n_chars,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY md5($normTextSql)
         |         ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rn,
         |    COUNT(*) OVER (PARTITION BY md5($normTextSql)) AS n_dups
         |  FROM documents)
         |WHERE rn = 1
         |ORDER BY norm_md5 ASC""".stripMargin,

    "q_shard_pack" ->
      """SELECT doc_id, source, n_toks, (cum_toks - n_toks) // 800 AS shard_id
        |FROM (
        |  SELECT doc_id, source, n_toks,
        |    CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
        |  FROM (SELECT doc_id, source,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |        FROM documents))
        |ORDER BY doc_id ASC""".stripMargin,

    // The four stage oracles chained verbatim (same rules/constants as
    // the standalone q_text_gopher / q_dedup_keep_best / q_text_decontam
    // / q_shard_pack twins).
    "q_pipeline_curate" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |qual AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks
         |  FROM tf GROUP BY doc_id
         |  HAVING SUM(c) >= 20
         |     AND (MAX(c) * 1000) // SUM(c) <= 150
         |     AND (SUM(CASE WHEN tok IN ($stopInList) THEN c ELSE 0 END) * 1000) // SUM(c) >= 30),
         |best AS (
         |  SELECT doc_id, source, n_toks FROM (
         |    SELECT d.doc_id, d.source, q.n_toks,
         |      ROW_NUMBER() OVER (PARTITION BY md5($normTextSql)
         |           ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
         |    FROM documents d JOIN qual q USING (doc_id))
         |  WHERE rn = 1),
         |grams AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(t) - 3),
         |    i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' ||
         |         t[CAST(i AS INT) + 2] || ' ' || t[CAST(i AS INT) + 3] || ' ' ||
         |         t[CAST(i AS INT) + 4]))) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 100),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM grams JOIN ev USING (g) WHERE doc_id >= 100),
         |train AS (
         |  SELECT b.doc_id, b.source, b.n_toks FROM best b
         |  WHERE b.doc_id >= 100
         |    AND b.doc_id NOT IN (SELECT doc_id FROM contaminated))
         |SELECT doc_id, source, n_toks, (cum_toks - n_toks) // 800 AS shard_id
         |FROM (SELECT doc_id, source, n_toks,
         |        CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id ASC
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
         |      FROM train)
         |ORDER BY doc_id ASC""".stripMargin,

    "q_sample_mixture" ->
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |         ORDER BY md5(text) ASC, doc_id ASC) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 60
        |ORDER BY lang ASC, rn ASC""".stripMargin,

    "q_corpus_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    (((doc_id + 20260814) * 48271) % 2147483647) * 16807 % 2147483647 AS key
        |  FROM documents)
        |SELECT key % 64 AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY key % 64
        |       ORDER BY key ASC, doc_id ASC) AS BIGINT) AS pos,
        |  doc_id, key
        |FROM k
        |ORDER BY shard ASC, pos ASC""".stripMargin,

    // sqrt is correctly rounded in both engines (pow is not); quantizing
    // each sqrt to BIGINT micros BEFORE the sum keeps the normalizer out
    // of cross-row FP accumulation (§7.3).
    "q_sample_temperature" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |q AS (SELECT source, n_docs,
        |        CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS qw FROM c),
        |z AS (SELECT SUM(qw) AS z FROM q)
        |SELECT source, n_docs,
        |  CAST((qw * 1000) // z.z AS BIGINT) AS w_milli,
        |  CAST((qw * 1000000) // z.z AS BIGINT) AS draws_per_m
        |FROM q, z
        |ORDER BY source ASC""".stripMargin,

    "q_text_bigrams" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1])) AS bigram
        |  FROM toks)
        |SELECT bigram, COUNT(*) AS n
        |FROM bg GROUP BY 1
        |ORDER BY n DESC, bigram ASC
        |LIMIT 20""".stripMargin,

    "q_text_decontam" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(t) - 3),
        |    i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' ||
        |         t[CAST(i AS INT) + 2] || ' ' || t[CAST(i AS INT) + 3] || ' ' ||
        |         t[CAST(i AS INT) + 4]))) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 100)
        |SELECT doc_id, COUNT(*) AS n_shared
        |FROM grams JOIN ev USING (g)
        |WHERE doc_id >= 100
        |GROUP BY doc_id
        |ORDER BY doc_id ASC""".stripMargin,

    "q_dedup_cross_source" ->
      """WITH gs AS (
        |  SELECT DISTINCT source, unnest(list_transform(
        |    range(1, len(t) - 3),
        |    i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' ||
        |         t[CAST(i AS INT) + 2] || ' ' || t[CAST(i AS INT) + 3] || ' ' ||
        |         t[CAST(i AS INT) + 4])) AS g
        |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents))
        |SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        |FROM gs a JOIN gs b ON a.g = b.g AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY src_a ASC, src_b ASC""".stripMargin,

    "q_sim_edit" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) * 1000
        |    // CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS lev_milli
        |FROM (SELECT doc_id, lang, text FROM documents WHERE doc_id < 60) a
        |JOIN (SELECT doc_id, lang, text FROM documents WHERE doc_id < 60) b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,

    "q_sim_jaccard" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents WHERE doc_id < 200
        |), sz AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_int
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, n_int, sa.sz + sb.sz - n_int AS n_uni
        |FROM pairs
        |JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |WHERE 5 * n_int >= 4 * (sa.sz + sb.sz - n_int)
        |ORDER BY a_id ASC, b_id ASC""".stripMargin,

    // DuckDB's generate_series cannot take lateral column args — cross-join
    // a constant-bound series and filter to the per-doc length instead.
    "q_sim_ngram_char" ->
      """WITH tri AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
        |  FROM documents, generate_series(1, 100000) AS t(i)
        |  WHERE doc_id < 200 AND length(text) >= 3 AND i <= length(text) - 2),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tri GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_int
        |  FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, n_int, (sa.sz + sb.sz - n_int) AS n_uni
        |FROM inter
        |JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |WHERE n_int * 3 >= (sa.sz + sb.sz - n_int) * 2
        |ORDER BY a_id ASC, b_id ASC""".stripMargin,

    "q_sim_dot_topk" ->
      s"""WITH q AS (
         |  SELECT vec_id, i, ${sqlQe("embeddings")} AS qe
         |  FROM embeddings, range($EmbDim) t(i)
         |), d AS (
         |  SELECT p.vec_id AS p_id, c.vec_id AS c_id,
         |         CAST(SUM(p.qe * c.qe) AS BIGINT) AS dot
         |  FROM q p JOIN q c ON p.i = c.i
         |  WHERE p.vec_id < 10 AND p.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT p_id, c_id, dot,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY p_id
         |              ORDER BY dot DESC, c_id ASC) AS BIGINT) AS rn
         |  FROM d
         |)
         |SELECT p_id, rn, c_id, dot FROM r
         |WHERE rn <= 5
         |ORDER BY p_id ASC, rn ASC""".stripMargin,

    "q_multimodal_join" ->
      s"""WITH qn AS (
         |  SELECT vec_id, CAST(SUM(qe * qe) AS BIGINT) AS norm_q
         |  FROM (SELECT vec_id, ${sqlQe("embeddings")} AS qe
         |        FROM embeddings, range($EmbDim) t(i))
         |  GROUP BY 1
         |)
         |SELECT doc_id, lang, n_chars, CAST(label AS BIGINT) AS label,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, norm_q
         |FROM documents
         |JOIN embeddings ON doc_id = embeddings.vec_id
         |JOIN qn ON qn.vec_id = doc_id
         |ORDER BY doc_id ASC""".stripMargin,

    // DuckDB's `//` on BIGINT operands is exact integer division — the
    // twin of Spark's `div` (both truncate; all operands positive here).
    "q_text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |dl AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl FROM toks),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |                 CAST(SUM(dl) AS BIGINT) AS total FROM dl),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(l) AS term FROM toks)
        |  WHERE term IN ('spark', 'join', 'fast')
        |  GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    LEAST((1000 * (2*n_docs - 2*df + 1)) // (2*df + 1), 1000000) AS idf_e3,
        |    (1000000 * (44 * tf * total)) //
        |      (20 * tf * total + 6 * total + 18 * dl * n_docs) AS tfc_e6
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, CAST(SUM(idf_e3 * tfc_e6) AS BIGINT) AS score_e9,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM scored
        |GROUP BY doc_id
        |ORDER BY score_e9 DESC, doc_id ASC
        |LIMIT 20""".stripMargin,

    // Window starts via constant-bound generate_series (the q_text_first_pos
    // trick); DuckDB list slices are 1-based INCLUSIVE, so l[st+1 : st+8]
    // is exactly Spark's slice(l, st+1, 8) and clamps at the tail.
    "q_text_chunk" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |starts AS (
        |  SELECT doc_id, l, CAST(i AS BIGINT) AS st
        |  FROM toks, generate_series(0, 100000, 4) AS g(i)
        |  WHERE i <= len(l) - 1)
        |SELECT doc_id, st // 4 AS chunk_idx,
        |  array_to_string(l[CAST(st+1 AS INT):CAST(st+8 AS INT)], ' ') AS chunk_text,
        |  CAST(LEAST(8, len(l) - st) AS BIGINT) AS n_tokens
        |FROM starts
        |ORDER BY doc_id ASC, chunk_idx ASC""".stripMargin,

    "q_text_vocab_stats" ->
      """WITH tf AS (
        |  SELECT lang, tok, COUNT(*) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST(SUM(c) AS BIGINT) AS n_toks,
        |  (CAST(COUNT(*) AS BIGINT) * 1000) // CAST(SUM(c) AS BIGINT) AS ttr_milli
        |FROM tf GROUP BY lang
        |ORDER BY lang ASC""".stripMargin,

    "q_text_rarity" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |cf AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cf FROM tf GROUP BY tok)
        |SELECT tf.doc_id, CAST(SUM(tf.c) AS BIGINT) AS n_toks,
        |  CAST(SUM(tf.c * cf.cf) AS BIGINT) AS cf_sum,
        |  CAST(SUM(tf.c * cf.cf) AS BIGINT) // CAST(SUM(tf.c) AS BIGINT) AS mean_cf
        |FROM tf JOIN cf USING (tok)
        |GROUP BY tf.doc_id
        |ORDER BY doc_id ASC""".stripMargin,

    // Sliding 5-gram shingles via the constant-bound generate_series
    // trick (q_text_first_pos); list_slice is 1-based INCLUSIVE, so
    // l[i : i+4] is exactly the 5-token window at 1-based start i. The
    // i <= len-4 bound drops docs under 5 tokens entirely, matching the
    // Spark side's size(toks) >= 5 filter.
    "q_text_dup_ngrams" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(l, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS gram
        |  FROM toks, generate_series(1, 100000) AS t(i)
        |  WHERE i <= len(l) - 4),
        |df AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  (CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000)
        |    // CAST(COUNT(*) AS BIGINT) AS dup_milli
        |FROM grams g JOIN df USING (gram)
        |GROUP BY g.doc_id
        |ORDER BY doc_id ASC""".stripMargin,

    // Same positional-gram machinery as q_text_dup_ngrams, plus the
    // covered-position expansion (i..i+4 per duplicate start) and the
    // ordered string_agg reassembly. ANTI JOIN keeps only uncovered
    // positions; fully-covered docs come back via the LEFT JOIN with
    // text_clean = ''.
    "q_text_dedup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p, l[CAST(i AS INT)] AS tok
        |  FROM toks, generate_series(1, 100000) AS t(i)
        |  WHERE i <= len(l)),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    array_to_string(list_slice(l, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS gram
        |  FROM toks, generate_series(1, 100000) AS t(i)
        |  WHERE i <= len(l) - 4),
        |dup AS (SELECT gram FROM grams GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT g.doc_id, g.i + o AS p
        |  FROM grams g JOIN dup USING (gram), generate_series(0, 4) AS s(o)),
        |kept AS (
        |  SELECT pos.doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS text_clean
        |  FROM pos ANTI JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
        |  GROUP BY pos.doc_id)
        |SELECT t.doc_id, CAST(len(l) AS BIGINT) AS n_toks,
        |  COALESCE(n_kept, 0) AS n_kept,
        |  CAST(len(l) AS BIGINT) - COALESCE(n_kept, 0) AS n_removed,
        |  COALESCE(text_clean, '') AS text_clean
        |FROM toks t LEFT JOIN kept ON t.doc_id = kept.doc_id
        |ORDER BY t.doc_id ASC""".stripMargin
  )
}
