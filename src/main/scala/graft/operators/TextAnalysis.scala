package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.tables.Tables

/** Text-analysis surface over `documents` — the training-data-pipeline
  * operators (token counting, language ID, quality scoring, fingerprinting).
  * Everything is a narrow per-row projection: no shuffle except the final
  * presentation sort (and aggregations where stated), so these scale as pure
  * map stages over 100 TB of documents.
  */
object TextAnalysis {

  /** Per-document token statistics: whitespace tokens, BPE-ish pre-tokenizer
    * tokens, letters, punctuation — the budgeting numbers an LLM-data
    * pipeline computes for every document.
    */
  def qTextTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        wsTokenCount(col("text")).as("n_ws_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        letterCount(col("text")).as("n_letters"),
        punctCount(col("text")).as("n_punct"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** Quality scoring + its component ratios, with a corpus-level verdict. */
  def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    val nw = wsTokenCount(col("text"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        nw.as("n_words"),
        (wordSetCount(col("text"), Stopwords).cast("double") / nw).as("stop_ratio"),
        (punctCount(col("text")).cast("double") / length(col("text"))).as("punct_ratio"),
        qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer fertility by language: tokens per character and tokens per
    * whitespace word, the compression numbers that decide how a fixed token
    * budget translates into per-language document mass in a training mix
    * (high-fertility languages eat the budget faster). Exact contract: the
    * per-language sums are BIGINTs and both ratios are ppm FLOOR-DIVISIONS
    * (`DIV` / `//` — truncation identical on positive integers), so every
    * output cell is an exact integer. One map-side-combined aggregation to
    * |langs| groups; pure map stage before it.
    */
  def qTokenFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        bpeTokenCount(col("text")).as("tk"),
        wsTokenCount(col("text")).as("ws"),
        length(col("text")).cast("long").as("ch"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tk")).as("n_tokens"),
        sum(col("ws")).as("n_words"),
        sum(col("ch")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("(1000000 * n_tokens) DIV n_chars").as("fertility_ppm"),
        expr("(1000000 * n_tokens) DIV n_words").as("tpw_ppm"))
      .orderBy(col("lang"))

  /** Inter-annotator agreement (Cohen's kappa) between two RULE-BASED
    * labelers — the audit a pipeline runs before trusting weak labels:
    * chance-corrected agreement near 0 means the cheap rules are not
    * measuring the same thing and neither should gate the corpus alone.
    * Annotator A = punctuation-clean (punct·20 ≤ chars, i.e. ≤5% punct);
    * annotator B = stopword-rich (stopwords·5 ≥ words, i.e. ≥20% stop
    * ratio) — both integer CROSS-MULTIPLIED predicates, no ratio doubles.
    * κ = (pₒ−pₑ)/(1−pₑ) is carried as exact BIGINT numerator/denominator
    * (agree·n − a₁b₁ − a₀b₀ over n² − a₁b₁ − a₀b₀) and collapsed by ONE
    * IEEE division, bit-identical across engines; a degenerate source
    * where an annotator is constant (pₑ=1) yields NULL, not NaN. Scale:
    * one aggregation to |sources| groups over row-local predicates.
    */
  def qKappa(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("source"),
      when(punctCount(col("text")) * 20 <= length(col("text")), 1L)
        .otherwise(0L).as("a"),
      when(wordSetCount(col("text"), Stopwords) * 5
        >= wsTokenCount(col("text")), 1L).otherwise(0L).as("b"))
    val chance = col("a_pos") * col("b_pos") +
      (col("n") - col("a_pos")) * (col("n") - col("b_pos"))
    val num = col("n_agree") * col("n") - chance
    val den = col("n") * col("n") - chance
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("a")).as("a_pos"),
        sum(col("b")).as("b_pos"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("source"), col("n"), col("a_pos"), col("b_pos"),
        col("n_agree"),
        (col("n_agree").cast("double") / col("n").cast("double")).as("po"),
        (chance.cast("double") / (col("n") * col("n")).cast("double"))
          .as("pe"),
        when(den === 0L, lit(null).cast("double"))
          .otherwise(num.cast("double") / den.cast("double")).as("kappa"))
      .orderBy(col("source"))
  }

  /** The corpus' closed language-label set (FIXTURES.md), in the fixed
    * order the randomized-response index arithmetic uses on both engines.
    */
  val LdpLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** P(report truth) in ppm for [[qLdpFreq]] — 600000 with k=5 makes the
    * lie mass split EXACTLY (q = 100000 ppm per other category), so the
    * unbiased estimator's denominator is the clean constant 500000. This
    * is ε = ln(p/q) = ln 6 k-ary randomized response (Warner 1965;
    * generalized RR as in Kairouz et al. 2016).
    */
  val LdpPppm = 600000L

  /** LOCAL differential privacy — the collection-side complement of the
    * central-DP release [[qDpCounts]]: each document reports its language
    * through k-ary randomized response (truth w.p. p, otherwise one of
    * the k−1 other labels uniformly), and the aggregator — who never sees
    * a trustworthy label — inverts the known noise to an unbiased
    * frequency estimate: n̂_c = (obs_c − n·q)/(p − q). The report draw is
    * the deterministic 60-bit md5 fold (seeded mechanism — NOT private
    * as shipped, exactly like [[qDpCounts]]'s seed caveat: real
    * deployments replace the hash with fresh client randomness; the
    * MACHINERY — index arithmetic, noise inversion, exactness — is what
    * the gate checks). True counts ride along as the honesty column.
    * Scale: two map-side-combined aggregations to ≤ k groups, one
    * broadcast 1-row total; the estimator is integer arithmetic collapsed
    * by one division by the constant 500000.
    */
  def qLdpFreq(s: SparkSession, dir: String): DataFrame = {
    val k = LdpLangs.length
    val langsLit = array(LdpLangs.map(lit): _*)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val u = graft.functions.SketchExpressions.md5Prefix60Long(concat(
      col("doc_id").cast("string"), lit("#rr"))) % 1000000L
    val i = (array_position(langsLit, col("lang")) - 1).cast("long")
    val j = col("u") % (k - 1)
    val jAdj = when(j < col("i"), j).otherwise(j + 1)
    val reported = docs
      .withColumn("u", u).withColumn("i", i)
      .select(col("lang"),
        element_at(langsLit,
          (when(col("u") < LdpPppm, col("i")).otherwise(jAdj) + 1)
            .cast("int")).as("rep"))
    val obs = reported.groupBy(col("rep").as("lang"))
      .agg(count(lit(1)).as("n_obs"))
    val truth = reported.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_true"))
    val tot = docs.agg(count(lit(1)).as("n"))
    val qPpm = (1000000L - LdpPppm) / (k - 1)
    truth.join(obs, Seq("lang")).crossJoin(broadcast(tot))
      .select(col("lang"), col("n_true"), col("n_obs"),
        ((lit(1000000L) * col("n_obs") - lit(qPpm) * col("n"))
          .cast("double") / (LdpPppm - qPpm)).as("est"))
      .orderBy(col("lang"))
  }

  /** Language ID heuristic vs the labeled `lang` column: per (label,
    * prediction) cell counts — a confusion matrix as a query. (The corpus
    * text is synthetic English-ish vocabulary, so the interesting output is
    * the deterministic machinery, not linguistic accuracy.)
    */
  def qLangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // one-pass native scorer; TextFunctions.langId is the portable twin
      // it is proven equal to (ExpressionParitySpec)
      .select(col("lang"),
        graft.functions.LangIdExpression.langId(col("text"), LangMarkers).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))

  /** MIXED-LANGUAGE audit — the curation defect document-level lang-id
    * hides: a doc whose CHUNKS classify differently (half English, half
    * German, or language-less boilerplate spans inside a labeled doc) is
    * exactly what per-doc routing mislabels and what degrades
    * monolingual training mixes. Chunking reuses the strided
    * [[qChunkOverlap]] windows; each chunk runs the same one-pass
    * [[graft.functions.LangIdExpression]] scorer as the doc level, so
    * doc and chunk predictions are comparable by construction. Pure map
    * stage (the langId-inside-transform composition stays row-local,
    * zero shuffles before the output sort).
    */
  def qLangMix(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val chunks = graft.functions.SketchExpressions
      .tokenChunksStrided(tk, ChunkWidth, ChunkStride)
    val preds = transform(chunks,
      c => graft.functions.LangIdExpression.langId(c, LangMarkers))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        graft.functions.LangIdExpression.langId(col("text"), LangMarkers)
          .as("pred_doc"),
        size(chunks).cast("long").as("n_chunks"),
        size(array_distinct(preds)).cast("long").as("n_langs"),
        when(size(array_distinct(preds)) > 1, 1L).otherwise(0L)
          .as("flag_mixed"))
      .orderBy(col("doc_id"))
  }

  /** Content fingerprints: exact (md5), normalized (sorted distinct token
    * set), and sha256 — the keys exact/canonical dedup joins on.
    */
  def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("fp_md5"),
        normFingerprint(col("text")).as("fp_norm"),
        sha2(col("text"), 256).as("fp_sha256"))
      .orderBy(col("doc_id"))

  /** Corpus-wide top-20 bigrams: one-pass n-gram expression, explode,
    * count, top-k (TakeOrderedAndProject — only 20 rows leave the agg).
    */
  def qBigrams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(
        graft.functions.SketchExpressions.wordNGrams(
          filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0),
          2, distinct = false))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  /** TF-IDF: term frequency per (doc, term) from exploded tokens, document
    * frequency per term, idf = ln(N/df). Two aggregations + one broadcast-
    * able join on term — the classic shape that scales (no per-doc loops).
    * Output: top-3 scored terms for the first 20 docs, tf/df kept as exact
    * integers alongside the double score.
    */
  def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nDocs = docs.select(countDistinct(col("doc_id")).as("nd"))
    val tokens = docs
      .select(col("doc_id"), explode(
        filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0))
        .as("term"))
    val tf = tokens.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tokens.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      // JVM Math.log and libm ln differ in the last ulp for some inputs;
      // round far above that noise, far below score granularity
      .withColumn("tfidf",
        round(col("tf") * log(col("nd").cast("double") / col("df")), 9))
      .filter(col("doc_id") < 20)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
        col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Bucket width (BPE tokens) for [[qLenHist]]. */
  val LenHistWidth = 32L

  /** Document-length histogram over BPE-ish token counts — the first plot
    * anyone makes of a training corpus (sequence-length planning, truncation
    * budgets, packing efficiency forecasts). ONE scan, a row-local bucket
    * expression, and an aggregate with #buckets groups; exact integers end
    * to end.
    */
  /** Exact per-source length quantiles (p50/p90/p99 of `n_chars`) by the
    * percentile_disc rank rule — value at 1-based rank ⌈p·n⌉ — computed
    * with explicit window arithmetic so both engines run the IDENTICAL
    * integer selection (Spark's `percentile` and DuckDB's `quantile_cont`
    * interpolate with engine-specific formulas; rank selection is
    * engine-portable and returns an actual corpus value). Never reads
    * `text`: a metadata-only scan (ReadSchema pruned to two columns).
    *
    * Scale: exact quantiles need a per-source sort — one shuffle on
    * source, sort within partition; at 100 TB with few sources the
    * per-source stream is the bottleneck. The production path is the
    * mergeable-sketch twin [[qLenQuantilesSketch]] (same role as
    * [[graft.operators.Events]]' exact KMV twin): this operator is the
    * exact contract the sketch's in-plan ε-rank validation runs against.
    */
  def qLenQuantiles(s: SparkSession, dir: String): DataFrame = {
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val ranked = Tables.documents(s, dir)
      .select(col("source"), col("n_chars"))
      .withColumn("rn", row_number().over(bySrc.orderBy(col("n_chars"))))
      .withColumn("cnt", count(lit(1)).over(bySrc))
    def pick(p: Double, name: String) =
      max(when(col("rn") === ceil(col("cnt") * lit(p)), col("n_chars"))).as(name)
    ranked.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"))
  }

  /** Sketch capacity for [[qLenQuantilesSketch]]: buffers never exceed 2k
    * items/level, and groups smaller than 2k never compact (estimates are
    * then exact — true for every test SF; the compaction path is pinned by
    * `QuantileSketchSpec`).
    */
  val SketchK = 4096
  /** Probe grid for [[qLenQuantilesSketch]]. */
  val SketchProbs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
  /** Accepted rank error, percent of the group size (ε = 2%): far above the
    * sketch's observed error at [[SketchK]], far below anything a caller
    * budgeting sequence lengths would notice.
    */
  val SketchEpsPct = 2L

  /** The 100 TB twin of [[qLenQuantiles]] (the round-5 verdict's one `weak`
    * plan): per-source quantiles via the mergeable [[graft.functions
    * .QuantileSketch]] aggregate instead of exact rank selection through
    * `Window.partitionBy(source)` — the exact form funnels EVERY row of a
    * source through one task (a ~5 TB single-task sort at target scale);
    * the sketch is a regular partial-aggregating groupBy whose per-buffer
    * state is O(k·log n).
    *
    * Output contract (what makes a randomized-placement sketch hash-
    * checkable): the query emits, per (source, probe-quantile), the group
    * size and an IN-PLAN VALIDATION of the estimate against the exact rank
    * bound — `within_bound` = 1 iff the estimate's true rank interval
    * [count(<v)+1, count(≤v)] intersects [⌈p·n⌉ − εn, ⌈p·n⌉ + εn], computed
    * by broadcasting the ≤ |sources|·|probs| estimates back over one
    * corpus scan (map-side partial aggregation, exact integer arithmetic —
    * no sort, no window anywhere). The oracle independently derives the
    * (source, p, n) grid and pins within_bound = 1: a sketch rank error
    * beyond ε is a loud cross-engine hash mismatch. The exact values
    * remain oracle-checked by the [[qLenQuantiles]] twin.
    */
  def qLenQuantilesSketch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").cast("long").as("n_chars"))
    val sk = docs.groupBy(col("source"))
      .agg(
        graft.functions.QuantileSketchAggregate
          .quantileSketch(col("n_chars"), SketchK, SketchProbs).as("est"),
        count(lit(1)).as("n_docs"))
    val probsArr = array(SketchProbs.map(lit): _*)
    val est = sk
      .select(col("source"), col("n_docs"),
        posexplode(col("est")).as(Seq("i", "est")))
      .select(col("source"), col("n_docs"),
        element_at(probsArr, col("i") + 1).as("p"), col("est"))
    val t = ceil(col("p") * col("n_docs")) // 1-based target rank ⌈p·n⌉
    docs.join(broadcast(est), "source")
      .groupBy(col("source"), col("p"), col("n_docs"), col("est"))
      .agg(
        sum(when(col("n_chars") < col("est"), 1L).otherwise(0L)).as("rank_lt"),
        sum(when(col("n_chars") <= col("est"), 1L).otherwise(0L)).as("rank_le"))
      .select(col("source"), col("p"), col("n_docs"),
        ((col("rank_lt") + 1 - t) * 100 <= lit(SketchEpsPct) * col("n_docs") &&
          (t - col("rank_le")) * 100 <= lit(SketchEpsPct) * col("n_docs"))
          .cast("long").as("within_bound"))
      .orderBy(col("source"), col("p"))
  }

  def qLenHist(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(bpeTokenCount(col("text")).cast("long").as("tk"))
      .groupBy(expr(s"(tk div $LenHistWidth) * $LenHistWidth").as("bucket_lo"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tk")).as("bucket_tokens"),
        min(col("tk")).as("min_tk"),
        max(col("tk")).as("max_tk"))
      .orderBy(col("bucket_lo"))

  /** Minimum bigram occurrence count for [[qTextPmi]] (kills the noise
    * floor where PMI is maximal for hapax pairs).
    */
  val PmiMinCount = 5L
  /** Top collocations reported by [[qTextPmi]]. */
  val PmiTopK = 20

  /** Bigram collocations by pointwise mutual information:
    * pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) over bigram
    * occurrences and p(·) over unigram occurrences. The statistics are
    * three exact-integer aggregates (unigram counts, bigram counts, the
    * two corpus totals); the join keying bigrams back to their parts
    * shuffles on word — vocabulary-sized, never corpus-sized — and the
    * totals are 1-row broadcasts. The ln is evaluated on one double
    * division of exact integers and rounded far above libm's last-ulp
    * noise (the q_tfidf convention), so ranks are cross-engine stable.
    */
  def qTextPmi(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val bi = toks.select(explode(
        graft.functions.SketchExpressions.wordNGrams(col("t"), 2, distinct = false))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= PmiMinCount)
    val nUni = uni.agg(sum(col("n_w")).as("n_uni"))
    // total bigram occurrences must count ALL bigrams, not just frequent ones
    val nBig = toks
      .select(greatest(size(col("t")) - 1, lit(0)).cast("long").as("nb"))
      .agg(sum(col("nb")).as("n_big"))

    bi
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBig))
      .withColumn("pmi",
        expr("round(ln((CAST(n_ab AS DOUBLE) * n_uni * n_uni) / " +
          "(CAST(n_a AS DOUBLE) * n_b * n_big)), 9)"))
      .select(col("bigram"), col("n_ab"), col("n_a"), col("n_b"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(PmiTopK)
  }

  /** Head-vocabulary size for [[qVocabCoverage]] (the synthetic corpus
    * draws from a ~30-word vocabulary, so a small head keeps coverage
    * informative; a real corpus would use 10⁴–10⁵).
    */
  val VocabSize = 10

  /** Head-vocabulary coverage per source: build the corpus' top-[[VocabSize]]
    * token vocabulary (count desc, word asc — a total order, so the head is
    * deterministic), then measure what fraction of each source's token mass
    * it covers — the tokenizer/vocab fit diagnostic run before committing a
    * tokenizer to a corpus. Two aggregates (vocabulary-sized, then
    * source-sized) and one broadcast join of the tiny head table against
    * the exploded token stream; nothing corpus-sized shuffles twice.
    */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(
        filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0))
        .as("word"))
    val vocab = toks.groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(VocabSize)
      .select(col("word"), lit(1L).as("in_vocab"))
    toks
      .join(broadcast(vocab), Seq("word"), "left_outer")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_covered"))
      .select(col("source"), col("n_tokens"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_tokens"), 6).as("coverage"))
      .orderBy(col("source"))
  }

  /** [[qHeavyHitters]] sketch capacity and threshold denominator: an item
    * is a heavy hitter iff `HeavyPhiDen · count > n_total` (frequency >
    * 1%). The Misra–Gries guarantee covers every item with frequency >
    * 1/(k+1) = 1/513, comfortably below the 1/100 threshold, so the
    * sketch's candidate set provably contains every true heavy hitter
    * under ANY partitioning/merge order.
    */
  val HeavyK = 512
  val HeavyPhiDen = 100

  /** Exact heavy hitters via the two-pass sketch-then-verify scheme
    * (pass 1: [[graft.functions.FreqSketchAggregate.freqSketch]] proposes
    * ≤ [[HeavyK]] candidates in one mergeable bounded-state aggregation;
    * pass 2: exact counts of ONLY the candidates via a broadcast join).
    * The output is deterministic and oracle-exact — the sketch's
    * order-dependent internals never reach it, only the guaranteed
    * candidate-superset property does.
    *
    * 100 TB shape: `GROUP BY word` over a trillion-token corpus shuffles
    * the full vocabulary (heavy-tailed, skewed); here the only keyed
    * shuffle is over occurrences OF THE ≤ k candidates (head items —
    * bounded key count, and partial aggregation collapses each partition
    * to ≤ k rows before the wire). Both passes are corpus-linear scans.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(
        filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0))
        .as("w"))
    val sketch = words.agg(
      graft.functions.FreqSketchAggregate.freqSketch(col("w"), HeavyK).as("cand"),
      count(lit(1)).as("tot"))
    val cand = sketch.select(explode(col("cand")).as("w"), col("tot"))
    words
      .join(broadcast(cand), Seq("w"))
      .groupBy(col("w"), col("tot"))
      .agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") * HeavyPhiDen > col("tot"))
      .select(
        col("w").as("word"),
        col("n_occ"),
        round(col("n_occ").cast("double") / col("tot"), 9).as("share"))
      .orderBy(col("n_occ").desc, col("word"))
  }

  /** Posting-list cap for [[qInvertedIndex]]. */
  val PostingsCap = 20

  /** Inverted index — the canonical MapReduce application after word count:
    * word → document frequency + the first [[PostingsCap]] doc ids. The
    * posting list uses the bounded [[graft.functions.MinKLongs]] aggregate,
    * NOT `slice(sort_array(collect_list(...)))`: a stopword's group on a
    * 100 TB corpus is billions of ids, and only a k-bounded buffer keeps
    * partial aggregation (map-side combine) and shuffle payload at
    * k·8 bytes per group×partition instead of materializing the group.
    */
  def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(
        filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)))
        .as("word"))
      .groupBy(col("word"))
      .agg(
        count(lit(1)).as("df"),
        // stringified: the driver's row-sort hash gate needs scalar cells
        // (the q_complex_types convention)
        array_join(transform(
          graft.functions.TopKAggregate.minK(col("doc_id"), PostingsCap),
          d => d.cast("string")), ",").as("postings"))
      .orderBy(col("word"))

  /** Gopher-style repetition signals per document: token/type counts,
    * type-token ratio, and the most-frequent-bigram share of all bigrams —
    * the filters that drop boilerplate/spam before training. A pure MAP
    * stage: the top-bigram count is the row-local [[graft.functions.MaxFreqCount]]
    * expression over the one-pass n-gram array, so nothing about a
    * per-document signal shuffles the corpus (the groupBy(doc, gram)
    * formulation moved ~n_tokens rows per document with string keys through
    * two Exchanges — at 100 TB that is the whole corpus re-keyed twice for
    * a value each row can compute itself).
    */
  def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val rawTtr = col("n_types").cast("double") / col("n_tokens")
    val rawFrac = col("top_bigram_n").cast("double") / (col("n_tokens") - 1)
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(tk).cast("long").as("n_tokens"),
        size(array_distinct(tk)).cast("long").as("n_types"),
        graft.functions.SketchExpressions.maxFreqCount(
          graft.functions.SketchExpressions.wordNGrams(tk, 2, distinct = false))
          .as("top_bigram_n"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_types"),
        when(col("n_tokens") > 0, rawTtr).as("ttr"),
        col("top_bigram_n"),
        when(col("n_tokens") > 1, rawFrac).as("top_bigram_frac"),
        (coalesce(when(col("n_tokens") > 0, rawTtr), lit(1.0)) < 0.5 ||
          coalesce(when(col("n_tokens") > 1, rawFrac), lit(0.0)) > 0.2)
          .as("flag_repetitive"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns for [[qTextRedact]] — constructs valid in BOTH Java regex
    * (Spark) and RE2 (DuckDB): character classes, bounded repetition, \b.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction — the scrub pass a training-data pipeline runs before
    * anything else sees the text. The corpus has no natural PII (letters and
    * spaces only), so the query PLANTS a deterministic email/phone/IP per
    * document (same construction in the oracle), then counts and redacts
    * them. Pure map stage; the redacted text leaves as an md5 so the result
    * stays narrow.
    */
  def qTextRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com call 555-123-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") * 7) % 256).cast("string"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(planted, EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]"),
        IpRe, "[IP]")
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        regexp_count(planted, lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(planted, lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(planted, lit(IpRe)).cast("long").as("n_ips"),
        md5(redacted).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Self-repeat n-gram width and plant modulus for [[qTextSelfrepeat]]. */
  val SelfrepeatNgram = 5
  val SelfrepeatPlantMod = 5L

  /** Within-document duplicate n-gram fraction (the Gopher repetition
    * family's other axis: [[qTextRepetition]] measures dominance of ONE
    * bigram; this measures how much of the document is repeated spans of
    * any kind — boilerplate headers, chorus lines, copy-paste padding).
    * The corpus has no natural self-repetition, so every
    * [[SelfrepeatPlantMod]]-th document is PLANTED doubled (text ++ text,
    * same construction in the oracle): a doubled document repeats every
    * 5-gram, pushing repeat_frac to ~0.5+. Pure MAP stage — the n-gram
    * list, its distinct count, and the ratio are all row-local; nothing
    * shuffles at any corpus size.
    */
  def qTextSelfrepeat(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % SelfrepeatPlantMod === 0,
      concat(col("text"), lit(" "), col("text"))).otherwise(col("text"))
    val tk = filter(split(lower(planted), "[^a-z]+"), t => length(t) > 0)
    val rawFrac = (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams")
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        graft.functions.SketchExpressions.wordNGrams(
          tk, SelfrepeatNgram, distinct = false).as("g"))
      .select(
        col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .select(
        col("doc_id"), col("n_grams"), col("n_distinct"),
        when(col("n_grams") > 0, rawFrac).as("repeat_frac"),
        (coalesce(when(col("n_grams") > 0, rawFrac), lit(0.0)) > 0.3)
          .as("flag_selfrepeat"))
      .orderBy(col("doc_id"))
  }

  /** Within-document maximal repeated token spans — the intra-doc twin of
    * the cross-document span detector ([[Dedup.qDedupSubstring]]), sharing
    * its constants: [[Dedup.SpanNgram]]-token gram unit, runs of ≥
    * [[Dedup.MinRunTokens]] tokens reported, grams occurring more than
    * [[Dedup.MaxSpanOcc]] times per doc dropped. The signal a curation
    * pass uses to find boilerplate/chorus padding INSIDE a document
    * (where [[qTextSelfrepeat]] measures gram-set reuse, this finds the
    * exact maximal spans). Documents with no qualifying run are omitted
    * (the oracle's aggregation naturally omits them). Every
    * [[SelfrepeatPlantMod]]-th document is planted doubled — its longest
    * span is the whole original document (spec-pinned).
    *
    * Scale shape: both endpoints of an intra-doc span live in one row, so
    * the WHOLE signal is row-local — one [[graft.functions.SelfSpans]]
    * pass, a pure map stage at any corpus size. The oracle pays a
    * positional explode, a capped per-doc self-join, and two aggregations
    * for the same three numbers.
    */
  def qTextSelfspan(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % SelfrepeatPlantMod === 0,
      concat(col("text"), lit(" "), col("text"))).otherwise(col("text"))
    val tk = filter(split(lower(planted), "[^a-z]+"), t => length(t) > 0)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.SketchExpressions.selfSpans(
          tk, Dedup.SpanNgram, Dedup.MinRunTokens, Dedup.MaxSpanOcc).as("sp"))
      .filter(element_at(col("sp"), 1) > 0L)
      .select(col("doc_id"),
        element_at(col("sp"), 1).as("n_runs"),
        element_at(col("sp"), 2).as("max_run_tokens"),
        element_at(col("sp"), 3).as("matched_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model scoring — the perplexity-proxy quality signal
    * (a cheap stand-in for the model-based filters of CCNet/LLaMA data
    * prep): train add-one-smoothed bigram probabilities ON the corpus
    * itself, then score every document by mean log P(w_i | w_{i-1}) and
    * perplexity. Shapes for 100 TB: the count tables are vocabulary- (not
    * corpus-) sized aggregates, the score pass is explode → two keyed
    * joins against those tables → one groupBy(doc_id) — everything
    * shuffles on bounded keys, nothing is quadratic, no driver loop. The
    * double mean is rounded to 9 decimals: engines sum partitions in
    * different orders and libm/JVM ln() differ in the last ulp, both
    * ~1e-14 — far below the rounding grain, far above score granularity.
    */
  def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val docs = Tables.documents(s, dir).select(col("doc_id"), tk.as("tk"))
    val bg = docs
      .select(col("doc_id"), explode(
        graft.functions.SketchExpressions.wordNGrams(col("tk"), 2, distinct = false))
        .as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val bgCounts = bg.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
    // prefix counts derive from the bigram table (vocabulary-sized input)
    // instead of a second tokenize+explode pass over the corpus:
    // Σ c_bg grouped by w1 ≡ counting bg rows by w1
    val w1Counts = bgCounts
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c_bg")).as("c_w1"))
    val vocab = docs.select(explode(col("tk")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bg
      .join(bgCounts, "bg")
      .join(w1Counts, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c_bg") + 1).cast("double") / (col("c_w1") + col("v")))), 9)
          .as("avg_logp"))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logp"),
        round(exp(-col("avg_logp")), 6).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** Per-document n-gram NOVELTY — the curation-side mirror of dedup: how
    * much of each document's shingle set appears here for the FIRST time
    * (by doc_id order)? Low-novelty documents are template/near-duplicate
    * content even when no single pair crosses a dedup threshold; corpus
    * builders use exactly this to rank sources by marginal contribution.
    * Shingles travel as 60-bit md5 longs (the dedup sketches' trick), so
    * the shuffle is 8-byte keys: one groupBy(shingle) for first-occurrence,
    * one join back, one groupBy(doc) — corpus-linear, shuffle-on-key.
    */
  def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), explode(
        graft.functions.SketchExpressions.md5Prefix60(
          graft.functions.SketchExpressions.wordNGrams(tk, 3)))
        .as("h"))
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh
      .join(first, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Pattern for [[qGrep]] — letters-only literals from the corpus
    * vocabulary, so Java and RE2 regex semantics agree.
    */
  val GrepPattern = "(hash|merge) join"

  /** Distributed grep (the MapReduce paper's second canonical example):
    * per-source document and match counts for a regex — a pure map stage
    * plus one tiny keyed aggregation.
    */
  def qGrep(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        regexp_count(col("text"), lit(GrepPattern)).cast("long").as("m"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("m") > 0, 1L).otherwise(0L)).as("n_matching_docs"),
        sum(col("m")).as("n_matches"))
      .orderBy(col("source"))

  /** Gopher rule thresholds (Rae et al. 2021, Table A1, adapted to this
    * corpus: the word-count floor and duplicate-word ceiling are tuned so
    * the synthetic corpus splits non-trivially; the mean-word-length
    * window is the paper's [3, 10]).
    */
  val GopherMinWords = 25L
  val GopherMaxWords = 100000L
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMinDistinctStop = 2L
  val GopherMaxDupFrac = 0.6

  /** Gopher-style rule battery (Rae et al. 2021): per-document hard
    * quality gates — word-count window, mean-word-length window, minimum
    * distinct stopwords, duplicate-word-fraction ceiling — each emitted as
    * a 0/1 flag next to its underlying measurement, plus the conjunctive
    * keep decision. Complements [[qTextQuality]] (a soft score) and the
    * repetition filters (n-gram granularity). One scan, all row-local
    * expressions — a pure map stage at 100 TB.
    */
  /** Adds the Gopher measurements, 0/1 rule flags and conjunctive `keep`
    * to any frame with a `text` column (all row-local) — shared by
    * [[qGopher]] (per-doc report) and [[qDataCard]] (corpus composition).
    */
  private def withGopherCols(df: DataFrame): DataFrame = {
    val nW = size(col("tk")).cast("long")
    val meanWl = aggregate(col("tk"), lit(0L), (a, w) => a + length(w))
      .cast("double") / size(col("tk"))
    val nStop = size(array_intersect(array_distinct(col("tk")),
      lit(Stopwords.toArray))).cast("long")
    val dupFrac =
      lit(1.0) - size(array_distinct(col("tk"))).cast("double") / size(col("tk"))
    val flag = (c: org.apache.spark.sql.Column) => when(c, 1L).otherwise(0L)
    df
      .withColumn("tk",
        filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0))
      .withColumn("n_words", nW)
      .withColumn("mean_word_len", meanWl)
      .withColumn("n_stop_distinct", nStop)
      .withColumn("dup_word_frac", dupFrac)
      .withColumn("r_words",
        flag(nW >= GopherMinWords && nW <= GopherMaxWords))
      .withColumn("r_word_len",
        flag(meanWl >= GopherMinMeanWordLen && meanWl <= GopherMaxMeanWordLen))
      .withColumn("r_stop", flag(nStop >= GopherMinDistinctStop))
      .withColumn("r_dup", flag(dupFrac <= GopherMaxDupFrac))
      .withColumn("keep",
        flag(col("r_words") + col("r_word_len") + col("r_stop") + col("r_dup") === 4L))
  }

  /** (doc_id, keep) Gopher verdicts for an arbitrary (doc_id, text)
    * corpus — the quality-gate stage of [[SqlSurface.pipelineTwin]].
    */
  private[operators] def gopherKeep(corpus: DataFrame): DataFrame =
    withGopherCols(corpus).select(col("doc_id"), col("keep"))

  def qGopher(s: SparkSession, dir: String): DataFrame =
    withGopherCols(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("n_stop_distinct"), col("dup_word_frac"), col("r_words"),
        col("r_word_len"), col("r_stop"), col("r_dup"), col("keep"))
      .orderBy(col("doc_id"))

  /** Gopher n-gram repetition thresholds (Rae et al. 2021, Table A1 — the
    * headline axis of each family: top-2-gram character fraction ≤ 0.20,
    * duplicate-5-gram character fraction ≤ 0.15).
    */
  val GopherTopNgram = 2
  val GopherDupNgram = 5
  val GopherMaxTop2Frac = 0.20
  val GopherMaxDup5Frac = 0.15

  /** The n-gram half of the Gopher repetition battery ([[qGopher]] covers
    * the word-level gates; [[qTextRepetition]]/[[qTextSelfrepeat]] measure
    * single-gram dominance and gram-set reuse): per document, the
    * top-2-gram character fraction and the duplicate-5-gram character
    * fraction with the paper's NO-DOUBLE-COUNT semantics — characters
    * under overlapping duplicate occurrences count once, a position-set
    * union computed in one row-local pass by
    * [[graft.functions.NGramCoverage]]. The corpus has no natural
    * self-repetition at 5-gram width, so every [[SelfrepeatPlantMod]]-th
    * document is planted doubled (the [[qTextSelfrepeat]] construction; a
    * doubled document's every position is covered → dup5_frac = 1.0,
    * spec-pinned). Pure MAP stage — nothing shuffles at any corpus size;
    * the oracle pays three per-doc aggregations for the same numbers.
    * Fractions are single IEEE divisions of exact integers — identical
    * across engines, no rounding needed.
    */
  def qGopherNgram(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % SelfrepeatPlantMod === 0,
      concat(col("text"), lit(" "), col("text"))).otherwise(col("text"))
    val tk = filter(split(lower(planted), "[^a-z]+"), t => length(t) > 0)
    val flag = (c: org.apache.spark.sql.Column) => when(c, 1L).otherwise(0L)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.SketchExpressions.ngramCoverage(tk, GopherTopNgram).as("g2"),
        graft.functions.SketchExpressions.ngramCoverage(tk, GopherDupNgram).as("g5"))
      .select(col("doc_id"),
        element_at(col("g2"), 7).as("total_chars"),
        element_at(col("g2"), 2).as("top2_count"),
        when(element_at(col("g2"), 1) > 0L,
          (element_at(col("g2"), 2) * element_at(col("g2"), 3)).cast("double") /
            element_at(col("g2"), 7))
          .otherwise(0.0).as("top2_frac"),
        element_at(col("g5"), 4).as("dup5_grams"),
        element_at(col("g5"), 5).as("dup5_words"),
        when(element_at(col("g2"), 7) > 0L,
          element_at(col("g5"), 6).cast("double") / element_at(col("g2"), 7))
          .otherwise(0.0).as("dup5_frac"))
      .select(col("*"),
        flag(col("top2_frac") <= GopherMaxTop2Frac).as("r_top2"),
        flag(col("dup5_frac") <= GopherMaxDup5Frac).as("r_dup5"))
      .withColumn("keep", flag(col("r_top2") + col("r_dup5") === 2L))
      .orderBy(col("doc_id"))
  }

  /** Hashed-feature linear quality classifier — the fastText-style filter
    * stage of CCNet/LLaMA/GPT-3 data prep (Joulin et al. 2017 model shape):
    * features are word unigrams + bigrams hashed into [[QcBuckets]] weight
    * slots; a document's score is the mean slot weight; keep = score > 0.
    * Slot weights here are DERIVED deterministically from the slot id
    * (60-bit md5 of "w<slot>", folded to ±1.0) — a stand-in exercising the
    * exact production plumbing: feature hashing, slot lookup, exact
    * accumulation. A trained model swaps the derivation for a broadcast
    * weight-table join (the [[Sampling.qDsir]] shape) with no other plan
    * change. Exactness contract: weights are ppb-scaled BIGINTs, the
    * per-doc sum is an exact integer sum (order-independent); the only
    * double is one final division. Everything is ROW-LOCAL — a pure map
    * stage at any corpus size, zero shuffle before the presentation sort.
    */
  val QcBuckets = 4096
  /** Weight modulus: fold a 60-bit hash to [-1e9, 1e9] ppb. */
  val QcWeightMod = 2000000001L

  /** The materialized slot-weight vector: w(b) = 60-bit md5 prefix of
    * "w<b>" folded to ±1e9 ppb — the same derivation the oracle writes in
    * SQL, computed ONCE driver-side and shipped as a plan literal (the
    * fastText deployment shape: a dense weight vector broadcast with the
    * task, one array lookup per feature). The first formulation derived
    * each weight per FEATURE with an interpreted md5+conv lambda —
    * ~600 evals per document, 1.72 s at sf0.1 vs 0.6 s for this (A/B in
    * BASELINE.md round-5 notes).
    */
  private[graft] lazy val QcWeights: Seq[Long] = {
    val mdInst = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(QcBuckets) { b =>
      mdInst.reset()
      val d = mdInst.digest(("w" + b).getBytes("UTF-8"))
      var v = 0L
      var j = 0
      while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      v = (v << 4) | ((d(7) & 0xffL) >> 4)
      v % QcWeightMod - 1000000000L
    }
  }

  def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val feats = concat(tk,
      graft.functions.SketchExpressions.wordNGrams(tk, 2, distinct = false))
    val slots = transform(
      graft.functions.SketchExpressions.md5Prefix60(feats),
      h => pmod(h, lit(QcBuckets.toLong)))
    val wlit = typedLit(QcWeights)
    Tables.documents(s, dir)
      .select(col("doc_id"), slots.as("s"))
      .select(col("doc_id"),
        size(col("s")).cast("long").as("n_feats"),
        aggregate(col("s"), lit(0L),
          (a, b) => a + element_at(wlit, (b + 1).cast("int"))).as("w_ppb"))
      .select(col("doc_id"), col("n_feats"), col("w_ppb"),
        when(col("n_feats") > 0L,
          col("w_ppb").cast("double") / (col("n_feats") * lit(1000000000L)))
          .otherwise(0.0).as("score"))
      .withColumn("keep", when(col("score") > 0.0, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** TRAINED quality classifier — closes the train→deploy loop
    * [[qQualityClassifier]] only deploys: a distributed batch POCKET
    * PERCEPTRON (Rosenblatt 1958; pocket selection Gallant 1990, the
    * standard batch fix for oscillation on non-separable/collinear
    * data) over hashed unigram features. Labels distill a keyword-ratio
    * heuristic — y = +1 iff count("join") > count("scan") — the weak-
    * supervision shape (Snorkel-style rule → model) every fastText
    * quality filter starts from; measured on this corpus the deployed
    * pocket round classifies 90–97% correctly vs the ~62% majority
    * floor (sf0.001/0.01/0.1), so the training demonstrably learns.
    *
    * INTEGER weights by construction: features are occurrence counts,
    * labels ±1, updates Σ y per slot occurrence, pocket choice an
    * integer-error argmin — so training is exactly mirrorable in the
    * DuckDB oracle as [[QtRounds]] statically-unrolled relational
    * rounds (the BPE-merge CTE discipline), no float tolerance.
    *
    * Scale shape (the k-means/BPE hybrid-loop contract): per round, ONE
    * row-local margin evaluation against the broadcast weight literal
    * (the same `aggregate(slots, wlit)` plan as the deployed
    * classifier — no join, no window), one exact error count, one
    * ≤[[QtBuckets]]-group aggregation of misclassified docs' slot
    * occurrences, one ≤[[QtBuckets]]-row driver collect. Driver state
    * is the weight vector + pocket copy — bounded, corpus-independent.
    * At 100 TB each round is one map + one tiny shuffle; round count is
    * a constant hyperparameter.
    */
  val QtBuckets = 256
  /** Pocket rounds: round t evaluates (and may pocket) w_{t-1}, then
    * updates; w_0 = 0 is evaluated too, so the deployed model never
    * falls below the majority-class floor.
    */
  val QtRounds = 12
  /** Bias slot index (constant one occurrence per doc, appended after
    * the token slots — threshold rules are not learnable without it).
    */
  val QtBias: Long = QtBuckets.toLong

  /** (doc_id, source, y, ss): per-doc label + hashed slot array with
    * trailing bias slot (one entry per token occurrence — duplicates
    * ARE the counts). The tokenizer expression is referenced by both
    * the label rule and the slot hash, so it evaluates ~3× per row
    * after CollapseProject — acceptable here (one-time build + one
    * deployed scan; the TokenChunks-class fix is not warranted at this
    * cost).
    */
  /** Train/test assignment modulus and boundary (md5 bucket of doc_id:
    * buckets 0-7 train, 8-9 held out).
    */
  val QtSplitMod = 10
  val QtTrainBuckets = 8

  private def qtDocs(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    Tables.documents(s, dir)
      .select(
        col("doc_id"), col("source"),
        Sampling.hashBucket(col("doc_id"), QtSplitMod).as("bucket"),
        when(size(filter(tk, t => t === "join")) >
          size(filter(tk, t => t === "scan")), 1L).otherwise(-1L).as("y"),
        concat(
          transform(graft.functions.SketchExpressions.md5Prefix60(tk),
            h => pmod(h, lit(QtBuckets.toLong))),
          array(lit(QtBias))).as("ss"))
  }

  private def qtMargin(wlit: org.apache.spark.sql.Column) =
    aggregate(col("ss"), lit(0L),
      (a, b) => a + element_at(wlit, (b + 1).cast("int")))

  /** Train [[QtRounds]] pocket-perceptron rounds — the weight vector is
    * the model artifact, the frames it was trained from hold no state.
    * Round t: err(w) counted exactly (pred = m > 0); strictly-smaller
    * error pockets a copy (earliest minimal round wins ties — the
    * oracle's ORDER BY err, t); then w += Σ_{docs: y·m ≤ 0} y·x
    * (w_0 = 0 ⇒ round 1's update sums every document).
    */
  private def trainPocket(
      trainDocs: DataFrame, buckets: Int = QtBuckets): Seq[Long] = {
    val docs = trainDocs.persist()
    try {
      val w = Array.fill(buckets + 1)(0L)
      var pocket = w.clone()
      var pocketErr = Long.MaxValue
      for (round <- 1 to QtRounds) {
        val wlit = typedLit(w.toSeq)
        // ONE job per round (r14): the error census rides the update
        // job as an observe() metric over the margin rows (the
        // CollectMetrics node sits above the update filter, so it sees
        // every document) — previously err was its own count() job, i.e.
        // 2 jobs × QtRounds × four trainings of pure job overhead.
        val obs = new org.apache.spark.sql.Observation(s"pocket_err_$round")
        val updates = docs.withColumn("m", qtMargin(wlit))
          .observe(obs, sum(when((col("m") > 0L) =!= (col("y") === 1L), 1L)
            .otherwise(0L)).as("err"))
          .filter(col("y") * col("m") <= 0)
          .select(col("y"), explode(col("ss")).as("slot"))
          .groupBy(col("slot")).agg(sum(col("y")).as("dw"))
          .collect()
        val err = obs.get.get("err").collect { case v: Long => v }
          .getOrElse(0L)
        if (err < pocketErr) { pocket = w.clone(); pocketErr = err }
        updates.foreach(r => w(r.getAs[Long]("slot").toInt) +=
          r.getAs[Long]("dw"))
      }
      pocket.toSeq
    } finally { docs.unpersist(blocking = false); () }
  }

  private val qtWeightsMemo = new SessionMemo[Seq[Long]]()
  private[graft] def qtWeights(s: SparkSession, dir: String): Seq[Long] =
    qtWeightsMemo.getOrElseUpdate(s, dir)(trainPocket(qtDocs(s, dir)))

  /** Weights trained on the TRAIN buckets only — the honest-evaluation
    * twin [[qQualityTrainEval]] deploys.
    */
  private val qtEvalWeightsMemo = new SessionMemo[Seq[Long]]()
  private[graft] def qtEvalWeights(s: SparkSession, dir: String): Seq[Long] =
    qtEvalWeightsMemo.getOrElseUpdate(s, dir)(
      trainPocket(qtDocs(s, dir).filter(col("bucket") < QtTrainBuckets)))

  /** Deploy the pocketed weights (plan literal, the fastText shape) and
    * report the per-source confusion ledger + exact integer margin mass —
    * the evaluation table a curation team reads before turning the
    * filter on. Row-local scoring, one |sources|-group aggregation.
    */
  def qQualityTrain(s: SparkSession, dir: String): DataFrame = {
    val wlit = typedLit(qtWeights(s, dir))
    qtDocs(s, dir)
      .withColumn("m", qtMargin(wlit))
      .withColumn("pred", when(col("m") > 0L, 1L).otherwise(-1L))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") === 1L && col("y") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("pred") === 1L && col("y") === -1L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("pred") === -1L && col("y") === 1L, 1L).otherwise(0L))
          .as("fn"),
        sum(when(col("pred") === -1L && col("y") === -1L, 1L).otherwise(0L))
          .as("tn"),
        sum(col("m")).as("margin_sum"))
      .orderBy(col("source"))
  }

  /** Held-out evaluation of the trained classifier — the honest
    * deployment readout: weights trained on the md5-split TRAIN buckets
    * only, confusion reported per split. Generalization (test ≈ train
    * accuracy) is what licenses turning the filter on; same row-local
    * scoring plan, one 2-group aggregation.
    */
  def qQualityTrainEval(s: SparkSession, dir: String): DataFrame = {
    val wlit = typedLit(qtEvalWeights(s, dir))
    qtDocs(s, dir)
      .withColumn("m", qtMargin(wlit))
      .withColumn("pred", when(col("m") > 0L, 1L).otherwise(-1L))
      .groupBy(when(col("bucket") < QtTrainBuckets, "train")
        .otherwise("test").as("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") === 1L && col("y") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("pred") === 1L && col("y") === -1L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("pred") === -1L && col("y") === 1L, 1L).otherwise(0L))
          .as("fn"),
        sum(when(col("pred") === -1L && col("y") === -1L, 1L).otherwise(0L))
          .as("tn"),
        sum(col("m")).as("margin_sum"))
      .orderBy(col("split"))
  }

  /** Reliability diagram of the deployed classifier — the calibration
    * readout between "trained" and "turned on": documents bucketed by the
    * SIGNED LOG2 MAGNITUDE of their exact integer margin (bucket =
    * sign(m) · bitlength(|m|), computed as `length(bin(abs(m)))` so both
    * engines bucket identically with zero float surface), each bucket
    * reporting its size and empirical positive rate. A well-behaved
    * score is monotone: strongly negative buckets ≈ 0, strongly positive
    * ≈ 1 (spec asserts the ends; the gate pins every cell). Same
    * row-local margin scoring against the broadcast pocket weights, one
    * ≤ ~128-group aggregation.
    */
  def qQualityCalib(s: SparkSession, dir: String): DataFrame = {
    val wlit = typedLit(qtWeights(s, dir))
    qtDocs(s, dir)
      .withColumn("m", qtMargin(wlit))
      .withColumn("bucket",
        when(col("m") === 0L, 0L)
          .otherwise(signum(col("m")).cast("long") *
            length(bin(abs(col("m")))).cast("long")))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"))
      .select(col("bucket"), col("n_docs"), col("n_pos"),
        (col("n_pos").cast("double") / col("n_docs").cast("double"))
          .as("frac_pos"))
      .orderBy(col("bucket"))
  }

  /** Ranking quality of the trained classifier — exact tie-corrected
    * Mann–Whitney AUC per source (Hanley & McNeil 1982; AUC = U/(n₊n₋)
    * with ties counted half, the rank-sum identity). Completes the
    * evaluation suite between the threshold-bound confusion ledger
    * ([[qQualityTrain]]) and the reliability diagram ([[qQualityCalib]]):
    * AUC is the THRESHOLD-FREE readout a curation team uses to pick the
    * operating point the other two then audit.
    *
    * Exactness: scores are the exact integer margins, so U is computed
    * as the integer 2U = Σ_v n₊(v)·(2·cumNegBelow(v) + n₋(v)) over the
    * per-distinct-margin frame — no per-document ranking, no float
    * surface; `auc_ppb` is exact two-step integer division (exact while
    * 2·n₊·n₋ < 2⁶³/10⁹ per source, asserted in the spec for this corpus;
    * an open-ended corpus would first quantize margins into the
    * [[qQualityCalib]] buckets) and `auc` is one IEEE division of the
    * same exact integers. Scale: one (source, margin)-keyed aggregation
    * (the only corpus-sized shuffle), then a window over the
    * per-distinct-value frame partitioned by source — value-domain-sized,
    * not corpus-sized — then a |sources|-group aggregation.
    */
  /** (source, y, m) under the given weight literal — the spec's
    * brute-force pairwise cross-check reads this frame.
    */
  private[graft] def qAucScored(s: SparkSession, dir: String,
      wlit: org.apache.spark.sql.Column): DataFrame =
    qtDocs(s, dir).withColumn("m", qtMargin(wlit))

  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val wlit = typedLit(qtWeights(s, dir))
    val perVal = qAucScored(s, dir, wlit)
      .groupBy(col("source"), col("m"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("m"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    perVal
      .withColumn("cum_neg_lt",
        coalesce(sum(col("n") - col("np")).over(w), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("np")).as("n_pos"),
        sum(col("n") - col("np")).as("n_neg"),
        sum(col("np") *
          (lit(2L) * col("cum_neg_lt") + (col("n") - col("np")))).as("u2"))
      .filter(col("n_pos") > 0L && col("n_neg") > 0L)
      .withColumn("den", lit(2L) * col("n_pos") * col("n_neg"))
      .select(col("source"), col("n_pos"), col("n_neg"), col("u2"),
        (expr("u2 div den") * lit(1000000000L) +
          expr("(u2 % den) * 1000000000 div den")).as("auc_ppb"),
        (col("u2").cast("double") / col("den").cast("double")).as("auc"))
      .orderBy(col("source"))
  }

  /** ROC / precision-recall sweep of the trained classifier over the
    * [[qQualityCalib]] margin buckets — the curve whose exact area
    * [[qAuc]] anchors: one row per signed-log2-margin threshold,
    * reporting the confusion counts and tpr/fpr/precision at "predict
    * positive iff bucket ≥ t". Counts cumulate FROM THE TOP over the
    * ≤ ~128-row bucket frame (a bounded-frame window walk, the
    * [[qQualityCalib]] scale shape — the corpus shuffles once into the
    * bucket histogram and never again); rates are exact two-step ppb
    * integer divisions. The bucketed sweep trades resolution for a
    * bounded threshold axis — the exact threshold-free ranking quality
    * lives in [[qAuc]].
    */
  def qRocCurve(s: SparkSession, dir: String): DataFrame = {
    val wlit = typedLit(qtWeights(s, dir))
    val W = org.apache.spark.sql.expressions.Window
    val hist = qAucScored(s, dir, wlit)
      .withColumn("bucket",
        when(col("m") === 0L, 0L)
          .otherwise(signum(col("m")).cast("long") *
            length(bin(abs(col("m")))).cast("long")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"))
    hist
      .withColumn("tp", sum(col("np"))
        .over(W.orderBy(col("bucket").desc)
          .rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("fp", sum(col("n") - col("np"))
        .over(W.orderBy(col("bucket").desc)
          .rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("pos", sum(col("np")).over(W.partitionBy()))
      .withColumn("neg", sum(col("n") - col("np")).over(W.partitionBy()))
      .select(col("bucket"), col("tp"), col("fp"),
        (expr("tp div pos") * lit(1000000000L) +
          expr("(tp % pos) * 1000000000 div pos")).as("tpr_ppb"),
        (expr("fp div neg") * lit(1000000000L) +
          expr("(fp % neg) * 1000000000 div neg")).as("fpr_ppb"),
        (expr("tp div (tp + fp)") * lit(1000000000L) +
          expr("(tp % (tp + fp)) * 1000000000 div (tp + fp)"))
          .as("prec_ppb"))
      .orderBy(col("bucket").desc)
  }

  /** Flip bucket for the planted label noise of [[qLabelNoise]]: docs
    * whose md5 split bucket equals this get their rule label INVERTED —
    * a deterministic ~10% symmetric noise rate.
    */
  val QtFlipBucket = 9L

  /** (doc_id, flipped, y, ss): the [[qtDocs]] frame under PLANTED label
    * noise — the rule label inverted on the [[QtFlipBucket]] md5 bucket.
    */
  private def qtNoisyDocs(s: SparkSession, dir: String): DataFrame =
    qtDocs(s, dir)
      .withColumn("flipped", col("bucket") === QtFlipBucket)
      .withColumn("y", when(col("flipped"), -col("y")).otherwise(col("y")))

  /** Pocket weights trained on the NOISY labels — the honest CL setting
    * (the model only ever sees the labels being audited).
    */
  private val qtNoisyWeightsMemo = new SessionMemo[Seq[Long]]()
  private[graft] def qtNoisyWeights(s: SparkSession, dir: String): Seq[Long] =
    qtNoisyWeightsMemo.getOrElseUpdate(s, dir)(
      trainPocket(qtNoisyDocs(s, dir)))

  /** Label-noise audit by CONFIDENT LEARNING (Northcutt, Jiang & Chuang,
    * JAIR 2021): plant a deterministic ~10% label flip
    * ([[QtFlipBucket]]), train the pocket perceptron ON the noisy
    * labels, estimate the (noisy label × confident label) joint from the
    * deployed scores, and read label errors off the off-diagonal — with
    * the planted ground truth riding along (`n_flipped` per cell), so
    * the query MEASURES the recovery rather than asserting it: the
    * off-diagonal cells are strongly enriched in genuinely-flipped
    * documents (spec asserts majority; the gate pins every cell).
    * Adapted to the exact-integer margin: the per-class confidence
    * threshold is the class's MEAN MARGIN among its own labeled examples
    * — compared cross-multiplied (m·n_j vs S_j, the q_kappa discipline)
    * so no division ever happens; a document is confidently positive iff
    * its margin clears the noisy-positive class's mean, confidently
    * negative iff it undercuts the noisy-negative class's mean, and when
    * both hold the larger threshold EXCESS wins (again cross-multiplied,
    * ties toward +1). Unconfident documents drop out, exactly as CL
    * prescribes. Scale: one row-local scoring pass, one broadcast 1-row
    * threshold frame, one ≤4-group aggregation; products are bounded by
    * max|m|·n² — far inside BIGINT through petabyte corpora.
    */
  def qLabelNoise(s: SparkSession, dir: String): DataFrame = {
    val wlit = typedLit(qtNoisyWeights(s, dir))
    val scored = qtNoisyDocs(s, dir)
      .withColumn("m", qtMargin(wlit))
      .select(col("y"), col("flipped"), col("m"))
    val th = scored.agg(
      sum(when(col("y") === 1L, col("m")).otherwise(0L)).as("s_pos"),
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("y") === -1L, col("m")).otherwise(0L)).as("s_neg"),
      sum(when(col("y") === -1L, 1L).otherwise(0L)).as("n_neg"))
    scored.crossJoin(broadcast(th))
      .withColumn("cpos", col("m") * col("n_pos") >= col("s_pos"))
      .withColumn("cneg", col("m") * col("n_neg") <= col("s_neg"))
      .filter(col("cpos") || col("cneg"))
      .withColumn("conf",
        when(col("cpos") && col("cneg"),
          when((col("m") * col("n_pos") - col("s_pos")) * col("n_neg") >=
            (col("s_neg") - col("m") * col("n_neg")) * col("n_pos"), 1L)
            .otherwise(-1L))
          .otherwise(when(col("cpos"), 1L).otherwise(-1L)))
      .groupBy(col("y"), col("conf"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flipped"), 1L).otherwise(0L)).as("n_flipped"),
        sum(col("m")).as("margin_sum"))
      .orderBy(col("y"), col("conf"))
  }

  // ------------------------------------------------------------------
  // Bigram-feature pocket perceptron: a task LINEAR-IN-UNIGRAMS models
  // cannot learn
  // ------------------------------------------------------------------

  /** Bigram slot count — 4× the unigram table: the corpus has ~40× more
    * distinct bigrams than unigrams, and at 256 slots the self-pair
    * features collide with common ordinary bigrams badly enough that the
    * pocket never clears the majority floor (measured: 0.786 at 256/4096
    * mixed-feature slots vs 0.99 at 1024 bigram-only).
    */
  val QtBiBuckets = 1024
  val QtBiBias: Long = QtBiBuckets.toLong

  /** (doc_id, source, y, ss) with BIGRAM-hashed slots and an ADJACENCY
    * label: y = +1 iff any adjacent token pair repeats (the
    * [[withGopherCols]] repetition family — "batch batch batch" is a
    * quality defect). The rule is a function of token ADJACENCY, which
    * no linear model over unigram counts can express (permuting a
    * document's tokens changes the label but not its unigram bag);
    * hashed bigram features make it linearly separable. Unigram slots
    * are deliberately EXCLUDED: measured, their bag-noise swamps the
    * adjacency signal (0.79 mixed vs 0.99 bigram-only at 12 rounds).
    */
  private def qtBiDocs(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val bigrams = graft.functions.SketchExpressions
      .wordNGrams(tk, 2, distinct = false)
    val selfRepeat = size(filter(
      zip_with(tk, slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => a === b),
      x => x)) > 0
    Tables.documents(s, dir)
      .select(
        col("doc_id"), col("source"),
        when(selfRepeat, 1L).otherwise(-1L).as("y"),
        concat(
          transform(graft.functions.SketchExpressions.md5Prefix60(bigrams),
            h => pmod(h, lit(QtBiBuckets.toLong))),
          array(lit(QtBiBias))).as("ss"))
  }

  private val qtBiWeightsMemo = new SessionMemo[Seq[Long]]()
  private[graft] def qtBiWeights(s: SparkSession, dir: String): Seq[Long] =
    qtBiWeightsMemo.getOrElseUpdate(s, dir)(
      trainPocket(qtBiDocs(s, dir), QtBiBuckets))

  /** Deploy the bigram-trained pocket weights — same ledger shape as
    * [[qQualityTrain]]; the value is in what the 12 rounds LEARN here
    * (an adjacency rule outside the unigram hypothesis class, ~0.99 vs
    * the 0.786 majority floor at sf0.001). Same scale shape: row-local
    * margins against a broadcast literal, one |sources|-group
    * aggregation; training state is the 1025-long weight vector.
    */
  def qQualityTrainBi(s: SparkSession, dir: String): DataFrame = {
    val wlit = typedLit(qtBiWeights(s, dir))
    qtBiDocs(s, dir)
      .withColumn("m", qtMargin(wlit))
      .withColumn("pred", when(col("m") > 0L, 1L).otherwise(-1L))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") === 1L && col("y") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("pred") === 1L && col("y") === -1L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("pred") === -1L && col("y") === 1L, 1L).otherwise(0L))
          .as("fn"),
        sum(when(col("pred") === -1L && col("y") === -1L, 1L).otherwise(0L))
          .as("tn"),
        sum(col("m")).as("margin_sum"))
      .orderBy(col("source"))
  }

  /** Overlapping-window document chunking — the RAG/context-window prep
    * step (width [[ChunkWidth]] tokens, stride [[ChunkStride]], so
    * consecutive chunks share width−stride tokens): per doc, the chunk
    * inventory plus content fingerprints. One pass of the strided
    * [[graft.functions.SketchExpressions.tokenChunksStrided]] codegen
    * chunker — the same expression class the line-dedup family uses at
    * stride = width — so the whole query is a pure map stage at any
    * corpus size; chunk text never leaves the row (fingerprints only).
    */
  val ChunkWidth = 12
  val ChunkStride = 8

  def qChunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.SketchExpressions
          .tokenChunksStrided(tk, ChunkWidth, ChunkStride).as("chunks"),
        size(tk).cast("long").as("n_tokens"))
      .select(
        col("doc_id"), col("n_tokens"),
        size(col("chunks")).cast("long").as("n_chunks"),
        when(size(col("chunks")) > 0, md5(element_at(col("chunks"), 1)))
          .otherwise(lit(null)).as("first_chunk_md5"),
        aggregate(
          graft.functions.SketchExpressions.md5Prefix60(col("chunks")),
          lit(0L), (a, b) => a.bitwiseXOR(b)).as("chunk_xor"))
      .orderBy(col("doc_id"))
  }

  /** Offset for the funnel's planted re-crawl duplicates. */
  val FunnelDupOffset = 30000000L

  /** End-to-end curation FUNNEL — the stage-by-stage survivor ledger
    * every curation run logs (ingest → quality gate → dedup), per
    * source: docs and token mass in, Gopher-gate survivors, exact-dedup
    * keep-first survivors, final token mass. The corpus plants re-crawl
    * duplicates (every 7th doc again under a new id) so the dedup stage
    * demonstrably removes mass.
    *
    * Scale shape: Gopher flags are row-local; the dedup stage shuffles
    * only (md5, doc_id) for the keep-first resolution and joins the
    * 1-row-per-hash result back — text never rides an Exchange; one
    * corpus-linear pass end to end.
    */
  def qCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val docs = base.union(
      base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + FunnelDupOffset).as("doc_id"),
          col("source"), col("text")))
    val g = withGopherCols(docs)
      .select(col("doc_id"), col("source"), col("n_words"), col("keep"),
        md5(col("text")).as("h"))
    val first = g.filter(col("keep") === 1L)
      .groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    g.join(first, Seq("h"), "left_outer")
      .withColumn("survived",
        when(col("keep") === 1L && col("doc_id") === col("first_id"), 1L)
          .otherwise(0L))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("keep")).as("n_gopher"),
        sum(col("survived")).as("n_unique"),
        sum(when(col("survived") === 1L, col("n_words")).otherwise(0L))
          .as("n_tokens_final"))
      .orderBy(col("source"))
  }

  /** Corpus data card (the composition table a curation team publishes
    * with a dataset): per (source, language) — document count, token
    * mass, Gopher-gate survival, mean quality score. One scan of
    * row-local columns + one ~|sources|·|langs|-group aggregation; at
    * 100 TB this is a single map + tiny-keyspace shuffle.
    */
  def qDataCard(s: SparkSession, dir: String): DataFrame =
    withGopherCols(Tables.documents(s, dir))
      .withColumn("quality", qualityScore(col("text")))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("keep")).as("n_gopher_kept"),
        round(avg(col("quality")), 9).as("avg_quality"))
      .orderBy(col("source"), col("lang"))

  /** Vocabulary GROWTH curve (Heaps 1978): new distinct words per decile
    * of the deterministic epoch order — the corpus forecast a tokenizer/
    * vocab budget decision reads (how fast does vocab still grow at the
    * corpus tail → how much new data adds new types vs repeats). Order
    * is [[GlobalOrder]]'s md5 permutation, so the curve is reproducible
    * and layout-independent. Shape: each word's FIRST position is one
    * vocabulary-sized aggregation (min pos over occurrences — no
    * sequential scan: first-occurrence is an algebraic min under any
    * order), then a 10-group fold; the corpus-scale work is the one
    * word-explode shuffle, same as [[qVocabCoverage]].
    */
  def qVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val ranked = GlobalOrder.rankedDocs(s, dir)
      .select(col("doc_id"), col("pos"))
    val n = Tables.documents(s, dir).count()
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tk).as("word"))
    val decile = (colName: String) =>
      expr(s"(($colName - 1) * 10) div $n")
    val firstSeen = words
      .join(ranked, "doc_id")
      .groupBy(col("word"))
      .agg(min(col("pos")).as("first_pos"))
      .groupBy(decile("first_pos").as("decile"))
      .agg(count(lit(1)).as("n_new_words"))
    val docMass = Tables.documents(s, dir)
      .select(col("doc_id"), size(tk).cast("long").as("tks")) // incl. 0-token docs
      .join(ranked, "doc_id")
      .groupBy(decile("pos").as("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tks")).as("n_tokens"))
    docMass
      .join(firstSeen, Seq("decile"), "left")
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_new_words"), lit(0L)).as("n_new_words"))
      .orderBy(col("decile"))
  }

  /** k-anonymity floor for [[qKanonRelease]]: no published group may
    * describe fewer than KAnonK documents (Sweeney 2002 — the release
    * rule that keeps a composition table from identifying individual
    * sources' rare strata). 8 exercises both branches at spec scale:
    * every (lang, source) group at sf0.001 is 1–16 docs.
    */
  val KAnonK = 8L

  /** k-anonymized data-card release: the (lang, source) composition table
    * with every group smaller than [[KAnonK]] SUPPRESSED — folded into a
    * single ('*', '*') residual row so column totals stay auditable while
    * no published stratum is narrower than k. The privacy counterpart of
    * [[qDataCard]] (Sweeney, IJUFKS 2002; the same generalize-or-suppress
    * rule every census release applies). One tiny-keyspace aggregation +
    * a ≤|groups|-row residual fold — the suppression adds no corpus-scale
    * work at 100 TB.
    */
  def qKanonRelease(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"))
    val kept = g.filter(col("n_docs") >= KAnonK)
    val residual = g.filter(col("n_docs") < KAnonK)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_chars_total")).as("n_chars_total"))
      .select(lit("*").as("lang"), lit("*").as("source"),
        col("n_docs"), col("n_chars_total"))
      .filter(col("n_docs").isNotNull) // no residual row when nothing suppressed
    kept.select(col("lang"), col("source"), col("n_docs"),
      col("n_chars_total"))
      .unionByName(residual)
      .orderBy(col("lang"), col("source"))
  }

  /** l-diversity floor and length-band width for [[qLDiversity]]. */
  val LDivL = 3L
  val LDivBandChars = 500

  /** l-diversity audit — the companion check [[qKanonRelease]]'s size
    * floor cannot express (Machanavajjhala et al., ICDE 2006): a
    * stratum can be large yet still leak if its SENSITIVE attribute is
    * near-constant. Strata are the quasi-identifiers an attacker can
    * observe (lang × length band); the sensitive attribute is the
    * document's source: a stratum passes only if ≥ [[LDivL]] distinct
    * sources appear in it, otherwise knowing a document's language and
    * rough length pins (or near-pins) its origin. One tiny-keyspace
    * aggregation with a distinct count per stratum — no corpus-scale
    * work beyond the single groupBy at any SF.
    */
  def qLDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"),
        expr(s"n_chars div $LDivBandChars").as("len_band"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .withColumn("pass",
        when(col("n_sources") >= LDivL, 1L).otherwise(0L))
      .orderBy(col("lang"), col("len_band"))

  /** Truncation bound for [[qDpCounts]]' noise: noise ∈ [−DpB, +DpB]. */
  val DpB = 8

  /** Per-k weights of the truncated two-sided geometric distribution at
    * α = 1/2 (weight ∝ α^|k|, scaled by 2^[[DpB]] to integers): the
    * geometric mechanism of Ghosh, Roughgarden & Sundararajan (STOC 2009)
    * — universally optimal for count queries at ε = ln(1/α) = ln 2 —
    * truncated to a bounded support so the release arithmetic stays
    * all-integer and the worst-case error is certifiable (±[[DpB]]).
    */
  private val dpWeights: Seq[(Int, Long)] =
    (-DpB to DpB).map(k => k -> (1L << (DpB - math.abs(k))))

  /** Σ weights — the modulus the uniform hash draw is reduced to. */
  val DpScale: Long = dpWeights.map(_._2).sum

  /** Inverse-CDF lookup as a CASE chain over exact integer cumulative
    * thresholds — generated once and evaluated LITERAL-FOR-LITERAL on
    * both engines (the hllEstSql discipline, integer edition: no
    * transcendental sampling, so the mechanism is bit-reproducible).
    */
  private def dpNoiseCaseSql(u: String): String = {
    val cum = dpWeights.scanLeft(0L)(_ + _._2).tail
    dpWeights.map(_._1).zip(cum).dropRight(1)
      .map { case (k, c) => s"WHEN $u < $c THEN $k" }
      .mkString("CASE ", " ", s" ELSE $DpB END")
  }

  /** Differentially-private release of the per-(lang, source) document
    * counts — the noisy histogram a curator publishes when even the
    * [[qKanonRelease]] suppression leaks too much (counts themselves are
    * the disclosure). Mechanism: truncated two-sided geometric noise
    * ([[dpWeights]]) added to each true count, clamped at zero.
    * IMPORTANT: as shipped this is NOT differentially private — the
    * "noise" is derived deterministically from the PUBLIC group key's
    * salted md5, so the mechanism is exactly invertible by anyone who
    * recomputes the hash; the seeding exists so the release is
    * reproducible and oracle-checkable. It becomes the Ghosh et al.
    * (STOC 2009) geometric mechanism — and only then do the zero-clamp's
    * post-processing guarantees apply — once the seed is replaced with
    * fresh per-publication randomness (one line: the seed).
    * Scale shape: one map-side-combined aggregation to a tiny keyspace;
    * the noise is row-local integer arithmetic over that bounded frame.
    */
  def qDpCounts(s: SparkSession, dir: String): DataFrame = {
    val u = "CAST(conv(substring(md5(concat(lang, '|', source, '#dp')), " +
      s"1, 15), 16, 10) AS BIGINT) % $DpScale"
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("source"),
        greatest(lit(0L), col("n") + expr(dpNoiseCaseSql(s"($u)")))
          .as("n_noisy"))
      .orderBy(col("lang"), col("source"))
  }

  /** Unigram (word) Shannon entropy + type-token ratio per document — the
    * Gopher-adjacent diversity signals (low entropy = TEMPLATE/boilerplate
    * text, low TTR = heavy word reuse). H = ln(n) − (Σ c·ln c)/n over
    * per-doc word counts c — computed ROW-LOCALLY by the one-pass
    * [[graft.functions.UnigramStats]] expression: the first formulation
    * (groupBy(doc, word) → groupBy(doc)) shuffled the corpus twice for a
    * per-row answer; this is a pure map stage at any corpus size. The
    * oracle keeps the grouped-SQL formulation — identical up to float
    * summation order, bridged by the 9-decimal rounding convention
    * ([[qTfidf]]); a zero-token doc yields no (doc, word) group in the
    * oracle, so it is filtered here to match.
    */
  def qTextEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.SketchExpressions.unigramStats(
        filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0))
        .as("u"))
      .filter(element_at(col("u"), 1) > 0.0)
      .select(
        col("doc_id"),
        element_at(col("u"), 1).cast("long").as("n_words"),
        element_at(col("u"), 2).cast("long").as("n_distinct"),
        round(element_at(col("u"), 2) / element_at(col("u"), 1), 9).as("ttr"),
        round(
          log(element_at(col("u"), 1)) -
            element_at(col("u"), 3) / element_at(col("u"), 1), 9).as("entropy"))
      .orderBy(col("doc_id"))

  /** BM25 parameters (Robertson/Sparck Jones; Lucene's defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Shared persisted (doc_id, term) postings for the BM25 family
    * ([[qBm25]], [[qBm25Search]]): tf, dl, df and the corpus totals each
    * re-aggregate the exploded token stream, so without the persist the
    * tokenize+explode pipeline evaluated 4x PER QUERY (the
    * sharedSignatures double-evaluation class, fourth instance). At
    * 100 TB this is the postings table a search stack materializes once.
    * Same re-mark guard as Dedup.sharedSignatures: Bench's cache clear
    * unpersists the frame without evicting the memo entry.
    */
  private val postingsCache = new graft.operators.SessionMemo.PersistedDF
  private def sharedTokens(s: SparkSession, dir: String): DataFrame =
    postingsCache.getOrElseUpdate(s, dir)(
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(
          filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0))
          .as("term")))

  /** BM25 scoring (the [[qTfidf]] shape with document-length
    * normalization and the Lucene idf): top-3 terms for the first 20 docs,
    * integer components (tf/df/dl) alongside the rounded score. Corpus
    * statistics (df, avgdl, N) come from the FULL corpus; only the scored
    * doc subset is bounded. Scale shape: tf/dl/df are one exploded-token
    * aggregation each; the scored side is filtered early and broadcast
    * into the vocabulary-sized df join; N/avgdl is a 1-row broadcast.
    * Full-corpus BM25 drops the filter: tf⋈df shuffles on term, ⋈dl on
    * doc_id — standard co-partitioned joins.
    */
  def qBm25(s: SparkSession, dir: String): DataFrame = {
    val tokens = sharedTokens(s, dir)
    val tf = tokens.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df = tokens.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tokens.agg(
      count(lit(1)).as("total"), countDistinct(col("doc_id")).as("nd"))
    val avgdl = col("total").cast("double") / col("nd")
    val idf = log(lit(1.0) +
      ((col("nd") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)))
    // constants combine at RUNTIME (lit(k1) + lit(1.0), not Scala k1+1.0)
    // so the oracle can mirror the identical IEEE operation tree with e0
    // double literals — a Scala-folded constant could differ by 1 ulp
    val tfNorm = (col("tf") * (lit(Bm25K1) + lit(1.0))) /
      (col("tf") + lit(Bm25K1) *
        ((lit(1.0) - lit(Bm25B)) + lit(Bm25B) * col("dl") / avgdl))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("bm25").desc, col("term"))
    broadcast(tf.filter(col("doc_id") < 20))
      .join(df, "term")
      .join(broadcast(dl.filter(col("doc_id") < 20)), "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("bm25", round(idf * tfNorm, 9))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
        col("tf"), col("df"), col("dl"), col("bm25"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Fixed keyword queries for [[qBm25Search]] — literal, so retrieval is
    * a pure function of the corpus (terms chosen from the synthetic
    * vocabulary's head).
    */
  val SearchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("join", "scan", "filter"),
    1L -> Seq("hash", "merge", "sort"),
    2L -> Seq("stream", "batch", "window"),
    3L -> Seq("vector", "query", "slow"))
  val SearchTopK = 5

  /** Top-k DOCUMENT retrieval for keyword queries — the end-to-end search
    * path [[qBm25]] (per-doc term weights) and [[qInvertedIndex]] (the
    * index itself) build toward: query terms broadcast-join the
    * (doc, term) postings, each hit scores the [[qBm25]] IEEE expression
    * (shared verbatim), and per-(query, doc) scores combine as EXACT
    * ppb integers (each term's score snaps to its nearest 10⁻⁹ grid
    * point before the sum), so the disjunctive accumulation is
    * order-independent — float summation across an unordered group is
    * exactly the nondeterminism the cents convention exists to kill.
    * Rank (score desc, doc_id), keep [[SearchTopK]]. Scale: the postings
    * join ships only rows whose term matches a query term (a broadcast
    * semi-filter at the scan), the score frame is hits-proportional, and
    * the rank moves |Q|·k rows — the inverted-index retrieval shape at
    * any corpus size.
    */
  def qBm25Search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tokens = sharedTokens(s, dir)
    val tf = tokens.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dfT = tokens.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tokens.agg(
      count(lit(1)).as("total"), countDistinct(col("doc_id")).as("nd"))
    val avgdl = col("total").cast("double") / col("nd")
    val idf = log(lit(1.0) +
      ((col("nd") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * (lit(Bm25K1) + lit(1.0))) /
      (col("tf") + lit(Bm25K1) *
        ((lit(1.0) - lit(Bm25B)) + lit(Bm25B) * col("dl") / avgdl))
    val q = SearchQueries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_ppb").desc, col("doc_id"))
    broadcast(q)
      .join(tf, "term")
      .join(dfT, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("ppb",
        floor(round(idf * tfNorm, 9) * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ppb")).as("score_ppb"), count(lit(1)).as("n_terms"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SearchTopK)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("n_terms"),
        (col("score_ppb").cast("double") / lit(1.0e9)).as("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Mean-reciprocal-rank retrieval evaluation over the [[qBm25Search]]
    * ranking — completes the retrieval-eval triple next to graded ANN
    * NDCG (q_ann_ndcg) and rank fusion (q_rank_fusion). Relevance is
    * CONJUNCTIVE MATCH (a doc is relevant to a query iff it contains
    * every query term — a scoring-independent ground truth derivable on
    * both engines), so the readout measures whether BM25 surfaces the
    * all-terms docs above partial matches. The first relevant rank is
    * computed WITHOUT ranking the corpus: the best relevant row per
    * query is an argmax struct-aggregate, and its rank is 1 + the count
    * of scored rows ordering strictly before it (score_ppb desc, doc_id
    * tiebreak — the exact [[qBm25Search]] order), one candidate-
    * proportional aggregation against the |Q|-row broadcast. `rr_ppb` is
    * exact integer division of the ppb grid. Scale: everything after
    * the shared postings joins is hits-proportional; no global sort, no
    * per-query corpus window.
    */
  /** Memoized per-(query, doc) scored frame for [[qMrr]] — the argmax
    * leg and the count-ordering-before leg both read it, so without the
    * persist the postings joins evaluate twice per query (the
    * sharedSignatures double-evaluation class). Hits-proportional rows;
    * same re-mark guard as [[sharedTokens]].
    */
  private val mrrScoredCache = new graft.operators.SessionMemo.PersistedDF
  private def mrrScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mrrScoredCache.getOrElseUpdate(s, dir) {
      val tokens = sharedTokens(s, dir)
      val tf = tokens.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dl = tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val dfT = tokens.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val stats = tokens.agg(
        count(lit(1)).as("total"), countDistinct(col("doc_id")).as("nd"))
      val avgdl = col("total").cast("double") / col("nd")
      val idf = log(lit(1.0) +
        ((col("nd") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)))
      val tfNorm = (col("tf") * (lit(Bm25K1) + lit(1.0))) /
        (col("tf") + lit(Bm25K1) *
          ((lit(1.0) - lit(Bm25B)) + lit(Bm25B) * col("dl") / avgdl))
      val q = SearchQueries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t, ts.size.toLong)) }
        .toDF("query_id", "term", "q_size")
      broadcast(q)
        .join(tf, "term")
        .join(dfT, "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("ppb",
          floor(round(idf * tfNorm, 9) * lit(1.0e9) + lit(0.5)).cast("long"))
        .groupBy(col("query_id"), col("q_size"), col("doc_id"))
        .agg(sum(col("ppb")).as("score_ppb"), count(lit(1)).as("n_terms"))
    }
  }

  def qMrr(s: SparkSession, dir: String): DataFrame = {
    // ONE pass over the scored frame (r14): the argmax leg + the
    // rank-count leg used to read `scored` twice (and rebuild it from the
    // postings when a self-caching slot had just cleared the session
    // cache); the first relevant document's global rank under
    // (score desc, doc_id asc) IS the row_number at that document, so a
    // single window + same-key aggregation produces best/rank/counts in
    // one evaluation — rank counted, not ranked-and-joined, exactly as
    // before (ties broken identically; spec + oracle unchanged).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_ppb").desc, col("doc_id").asc)
    mrrScored(s, dir)
      .withColumn("rk", row_number().over(w))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("n_terms") === col("q_size"), 1L).otherwise(0L))
          .as("n_relevant"),
        min(when(col("n_terms") === col("q_size"),
          struct(col("rk"), col("doc_id")))).as("bst"))
      .filter(col("bst").isNotNull)
      .select(col("query_id"), col("n_scored"), col("n_relevant"),
        col("bst.doc_id").as("best_doc_id"),
        col("bst.rk").cast("long").as("first_rank"))
      .withColumn("rr_ppb", expr("1000000000 div first_rank"))
      .orderBy(col("query_id"))
  }

  /** Number of top adjacent-symbol pairs [[qBpeMerges]] reports. */
  val BpeTopPairs = 20

  /** Adjacent character-pair counts — the statistic behind a BPE
    * tokenizer's FIRST merge step (Sennrich et al. 2016): count every
    * adjacent symbol pair across all token occurrences, rank by frequency.
    * Corpus builders run exactly this sweep (iterated) to train the
    * tokenizer on the corpus the engine just curated, so the counting pass
    * belongs in the engine: explode tokens → explode per-token pairs
    * (both corpus-linear) → a ≤|alphabet|²-key aggregation with map-side
    * partials — ONE tiny shuffle at any corpus size. The per-element
    * lambda only references the exploded token attribute (a bound ref, so
    * the CollapseProject/inlining trap that bit `withShingles` cannot
    * re-evaluate anything expensive per element).
    *
    * Full BPE training iterates merge→recount; the recount is this same
    * plan over re-chunked tokens, and iteration count is the vocab size —
    * driver-loop territory like the k-means Lloyd steps
    * ([[graft.operators.Similarity]]), deliberately not unrolled here.
    */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair"))
    Tables.documents(s, dir)
      .select(explode(tk).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= BpeTopPairs)
      .select(col("rk"), col("pair"), col("n"))
      .orderBy(col("rk"))
  }

  /** Token-count calibration: closed-form least squares of the BPE-ish
    * token count against the character count, per language — the
    * regression a token-budget pass deploys so it can estimate token
    * mass from cheap char counts WITHOUT tokenizing 100 TB. One
    * partial-aggregating pass collects the six exact integer sufficient
    * statistics (n, Σx, Σy, Σxy, Σx², Σy²); slope, intercept, and R²
    * are then IEEE arithmetic over those exact integers with the same
    * expression shape on both engines (the shared-verbatim double
    * discipline), so the output doubles are bit-identical:
    * slope = num/d1, intercept = (Σy − slope·Σx)/n,
    * r2 = (num/d1)·(num/d2), with num = n·Σxy − Σx·Σy,
    * d1 = n·Σx² − (Σx)², d2 = n·Σy² − (Σy)². The products stay inside
    * int64 here (n·Σx² ≈ 9×10¹⁶ at sf0.1); a 100 TB deployment promotes
    * the six sums to DECIMAL(38,0) — the fit is still one map-side
    * combinable aggregation with a |langs|-row result.
    */
  def qLenFit(s: SparkSession, dir: String): DataFrame = {
    val stats = Tables.documents(s, dir)
      .select(col("lang"), col("n_chars").as("x"),
        graft.functions.TextFunctions.bpeTokenCount(col("text")).as("y"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val num = (col("n_docs") * col("sxy") - col("sx") * col("sy")).cast("double")
    val d1 = (col("n_docs") * col("sxx") - col("sx") * col("sx")).cast("double")
    val d2 = (col("n_docs") * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / d1
    stats.select(
      col("lang"), col("n_docs"),
      slope.as("slope"),
      ((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n_docs").cast("double")).as("intercept"),
      ((num / d1) * (num / d2)).as("r2"))
      .orderBy(col("lang"))
  }

  /** Chi-square feature selection against the quality label — the
    * vocabulary-ranking pass that decides which tokens a fastText-class
    * quality classifier gets as features. Per token, the 2×2
    * document-frequency contingency vs the label (a = positive docs
    * containing it, b = negative docs containing it, margins from the
    * 1-row broadcast totals):
    * χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)). The cross-product
    * difference stays exact int64 (≤ N²/4); the ×N numerator would not,
    * so χ² is IEEE arithmetic over the exact integers with the same
    * expression shape on both engines. Margin filters (5 ≤ df < N) keep
    * every factor positive — no 0/0 NaN ordering hazard. One explode +
    * vocabulary-sized aggregation, a 1-row broadcast, TakeOrdered top-50
    * — no corpus-scale sort, no window.
    */
  def qFeatureChi2(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val docs = Tables.documents(s, dir).select(
      when(size(filter(tk, t => t === "join")) >
        size(filter(tk, t => t === "scan")), 1L).otherwise(0L).as("y"),
      array_distinct(tk).as("ts"))
    val totals = docs.agg(
      count(lit(1)).as("n_all"), sum(col("y")).as("n_pos"))
    val counts = docs.select(col("y"), explode(col("ts")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("y")).as("pos_df"))
    val a = col("pos_df")
    val b = col("df") - col("pos_df")
    val c = col("n_pos") - col("pos_df")
    val d = (col("n_all") - col("n_pos")) - b
    val diff = (a * d - b * c).cast("double")
    val chi2 = col("n_all").cast("double") * diff * diff /
      (col("df").cast("double") * (col("n_all") - col("df")).cast("double") *
        col("n_pos").cast("double") * (col("n_all") - col("n_pos")).cast("double"))
    counts.crossJoin(broadcast(totals))
      .filter(col("df") >= 5 && col("df") < col("n_all"))
      .select(col("token"), col("df"), col("pos_df"), chi2.as("chi2"))
      .orderBy(col("chi2").desc, col("token")).limit(50)
  }

  /** Robust per-source length statistics WITHOUT a per-source sort: exact
    * lower-median, MAD (median absolute deviation), and lower-quartile
    * IQR from the bounded-domain value histogram (the [[Sampling.qCurriculum]]
    * class — `groupBy(source, value).count()` has ≤|sources|·|domain|
    * output rows, so the cumulative walks, INCLUDING the second-order
    * |x − med| walk for MAD, are one bounded driver roundtrip off ONE
    * distributed aggregation). A second row-local pass counts robust
    * outliers (|x − med| > 3·MAD) against the broadcast stats — the
    * filter rule a curation pipeline deploys, which mean/stddev z-scores
    * get wrong exactly when outliers are present (the breakdown-point
    * argument for MAD). Lower quantiles (⌈p·N⌉-th value) keep every
    * output an exact integer on both engines — no midpoint averaging.
    */
  /** Hard cap on the histogram driver roundtrip of [[qRobustStats]] and
    * [[Sampling.qCurriculum]] — the domain-bounded-collect pattern is only
    * safe while the bound HOLDS, so it is asserted, not assumed.
    */
  val MaxHistDomain: Int = 1 << 20

  def qRobustStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the roundtrip is bounded by |sources|x|n_chars domain|, which is
    // corpus-CONTENT-dependent — assert the bound instead of trusting it
    // (limit makes the assertion one job, a loud failure instead of a
    // driver OOM; past the cap the right tool is QuantileSketchLongs,
    // the q_len_quantiles_sketch path)
    val hist = docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
      .limit(MaxHistDomain + 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(hist.length <= MaxHistDomain,
      s"robust-stats histogram exceeds $MaxHistDomain (source x n_chars) " +
        "rows; switch to the KLL sketch path for unbounded domains")
    def lowerQ(sorted: Seq[(Long, Long)], pos: Long): Long =
      sorted.scanLeft((0L, 0L)) { case ((_, acc), (v, c)) => (v, acc + c) }
        .drop(1).find(_._2 >= pos).get._1
    val stats = hist.groupBy(_._1).toSeq.map { case (src, rows) =>
      val h = rows.map(t => (t._2, t._3)).sortBy(_._1).toSeq
      val n = h.map(_._2).sum
      val med = lowerQ(h, (n + 1) / 2)
      val dev = h.groupBy { case (v, _) => math.abs(v - med) }
        .map { case (d, cs) => (d, cs.map(_._2).sum) }.toSeq.sortBy(_._1)
      (src, n, med, lowerQ(dev, (n + 1) / 2),
        lowerQ(h, (n + 3) / 4), lowerQ(h, (3 * n + 3) / 4))
    }
    val statsDf = s.createDataFrame(stats)
      .toDF("source", "n_docs", "median", "mad", "q1", "q3")
    docs.select(col("source"), col("n_chars"))
      .join(broadcast(statsDf), "source")
      .groupBy(col("source"), col("n_docs"), col("median"), col("mad"),
        col("q1"), col("q3"))
      .agg(sum(when(abs(col("n_chars") - col("median")) > lit(3) * col("mad"),
        1L).otherwise(0L)).as("n_outliers"))
      .select(col("source"), col("n_docs"), col("median"), col("mad"),
        col("q1"), col("q3"), col("n_outliers"))
      .orderBy(col("source"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_robust_stats" -> qRobustStats,
    "q_feature_chi2" -> qFeatureChi2,
    "q_len_fit" -> qLenFit,
    "q_bpe_merges" -> qBpeMerges,
    "q_len_quantiles" -> qLenQuantiles,
    "q_len_quantiles_sketch" -> qLenQuantilesSketch,
    "q_gopher" -> qGopher,
    "q_gopher_ngram" -> qGopherNgram,
    "q_quality_classifier" -> qQualityClassifier,
    "q_quality_train" -> qQualityTrain,
    "q_auc" -> qAuc,
    "q_roc_curve" -> qRocCurve,
    "q_mrr" -> qMrr,
    "q_quality_train_eval" -> qQualityTrainEval,
    "q_quality_calib" -> qQualityCalib,
    "q_label_noise" -> qLabelNoise,
    "q_bm25_search" -> qBm25Search,
    "q_quality_train_bi" -> qQualityTrainBi,
    "q_chunk_overlap" -> qChunkOverlap,
    "q_curation_funnel" -> qCurationFunnel,
    "q_data_card" -> qDataCard,
    "q_kanon" -> qKanonRelease,
    "q_ldiversity" -> qLDiversity,
    "q_dp_counts" -> qDpCounts,
    "q_vocab_growth" -> qVocabGrowth,
    "q_text_entropy" -> qTextEntropy,
    "q_bm25" -> qBm25,
    "q_text_tokens" -> qTextTokens,
    "q_token_fertility" -> qTokenFertility,
    "q_kappa" -> qKappa,
    "q_ldp_freq" -> qLdpFreq,
    "q_len_hist" -> qLenHist,
    "q_text_pmi" -> qTextPmi,
    "q_vocab" -> qVocabCoverage,
    "q_heavy_hitters" -> qHeavyHitters,
    "q_text_quality" -> qTextQuality,
    "q_lang_id" -> qLangId,
    "q_lang_mix" -> qLangMix,
    "q_text_fingerprint" -> qTextFingerprint,
    "q_text_bigrams" -> qBigrams,
    "q_tfidf" -> qTfidf,
    "q_inverted_index" -> qInvertedIndex,
    "q_text_repetition" -> qTextRepetition,
    "q_text_selfrepeat" -> qTextSelfrepeat,
    "q_text_selfspan" -> qTextSelfspan,
    "q_lm_score" -> qLmScore,
    "q_ngram_novelty" -> qNgramNovelty,
    "q_text_redact" -> qTextRedact,
    "q_grep" -> qGrep
  )

  private val stopList = Stopwords.map(w => s"'$w'").mkString(", ")

  /** DuckDB twin of [[graft.functions.TextFunctions.qualityScore]] over a
    * `text` column — shared with the quality-weighted sampling oracle
    * ([[Sampling]]), so the formula lives in exactly one SQL string.
    */
  private[operators] def qualitySqlExpr: String =
    s"""0.4 * (CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x IN ($stopList))) AS DOUBLE)
       |       / len(string_split_regex(trim(text), '\\s+')))
       |+ 0.3 * (1.0 - CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text))
       |+ 0.3 * least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 100.0, 1.0)""".stripMargin
  private def markerList(lang: String): String =
    LangMarkers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
  private def scoreCol(c: String, lang: String): String =
    s"len(list_filter(string_split_regex(lower($c), '[^a-z]+'), x -> x IN (${markerList(lang)})))"
  private def score(lang: String): String = scoreCol("text", lang)

  /** The lang-id decision CASE over pre-computed scores — shared by the
    * doc-level and chunk-level oracles so the tie-break order lives in
    * exactly one SQL string.
    */
  private def langCaseSql: String =
    """CASE WHEN n_cjk > 0 THEN 'zh'
      |     WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
      |     WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      |     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      |     WHEN s_fr >= s_es THEN 'fr'
      |     ELSE 'es' END""".stripMargin

  /** Shared Gopher CTE chain (tokenize → measure → flag) with `passCols`
    * carried through — the SQL twin of [[withGopherCols]], used by both
    * the q_gopher and q_data_card oracles.
    */
  private[operators] def gopherSqlCtes(passCols: String, from: String = "documents"): String =
    s"""t AS (SELECT $passCols, text,
       |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |              x -> length(x) > 0) AS tk
       |  FROM $from),
       |m AS (SELECT $passCols, text,
       |  CAST(len(tk) AS BIGINT) AS n_words,
       |  CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE) / len(tk)
       |    AS mean_word_len,
       |  CAST(len(list_intersect(list_distinct(tk), [$stopList])) AS BIGINT)
       |    AS n_stop_distinct,
       |  1.0e0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
       |    AS dup_word_frac
       |  FROM t),
       |f AS (SELECT *,
       |  CASE WHEN n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
       |    THEN 1 ELSE 0 END AS r_words,
       |  CASE WHEN mean_word_len >= ${GopherMinMeanWordLen}e0
       |        AND mean_word_len <= ${GopherMaxMeanWordLen}e0
       |    THEN 1 ELSE 0 END AS r_word_len,
       |  CASE WHEN n_stop_distinct >= $GopherMinDistinctStop
       |    THEN 1 ELSE 0 END AS r_stop,
       |  CASE WHEN dup_word_frac <= ${GopherMaxDupFrac}e0
       |    THEN 1 ELSE 0 END AS r_dup
       |  FROM m)""".stripMargin

  /** Shared oracle builder for the pocket-perceptron queries
    * (statically unrolled rounds, the BPE-merge CTE discipline; all
    * reused CTEs MATERIALIZED — DuckDB inlines CTEs by default, and the
    * unroll would otherwise re-open the parquet once per reference).
    * Round 1's update is the closed form (w_0 = 0 ⇒ every train doc has
    * y·m ≤ 0); rounds 2..QtRounds-1 add update→weights→margin CTEs over
    * `ltr` (lab restricted by `trainWhere` — empty trains on the full
    * corpus); the pocket argmin evaluates w_0..w_{QtRounds-1} by exact
    * TRAINING error (earliest minimal round wins ties); the confusion
    * ledger scores ALL docs under the pocketed weights, grouped by
    * `groupExpr AS groupName`.
    */
  /** The training-replay CTE chain through `sc(source, bucket, y, m)` —
    * shared by the confusion oracles ([[pocketOracleSql]]) and the
    * calibration oracle, so every readout scores the SAME unrolled
    * pocket weights.
    */
  private val PocketDefaultLabel: String =
    "len(list_filter(t, x -> x = 'join')) > " +
      "len(list_filter(t, x -> x = 'scan'))"

  private val PocketDefaultFeat: String =
    s"""tk AS (SELECT doc_id, unnest(t) AS tok FROM tt),
       |f AS MATERIALIZED (SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % $QtBuckets AS slot
       |  FROM tk
       |  UNION ALL
       |  SELECT doc_id, CAST($QtBias AS BIGINT) AS slot FROM documents)"""
      .stripMargin

  private def pocketScoreCtes(
      trainWhere: String,
      labelPred: String = PocketDefaultLabel,
      featF: String = PocketDefaultFeat): String = {
    val lastW = QtRounds - 1
    val steps = (2 to lastW).map { t =>
      s"""u$t AS MATERIALIZED (SELECT slot, CAST(sum(ltr.y) AS BIGINT) AS dw
         |  FROM f JOIN ltr USING (doc_id) JOIN m${t - 1} USING (doc_id)
         |  WHERE ltr.y * m${t - 1}.m <= 0 GROUP BY slot),
         |w$t AS MATERIALIZED (SELECT w${t - 1}.slot, w${t - 1}.w + coalesce(u$t.dw, 0) AS w
         |  FROM w${t - 1} LEFT JOIN u$t USING (slot)),
         |m$t AS MATERIALIZED (SELECT f.doc_id, CAST(sum(w$t.w) AS BIGINT) AS m
         |  FROM f JOIN ltr USING (doc_id) JOIN w$t USING (slot)
         |  GROUP BY f.doc_id)""".stripMargin
    }.mkString(",\n")
    val errs = (1 to lastW).map { t =>
      s"""err$t AS MATERIALIZED (SELECT $t AS t, count(*) AS e
         |  FROM ltr JOIN m$t USING (doc_id)
         |  WHERE (m$t.m > 0) <> (ltr.y = 1))""".stripMargin
    }.mkString(",\n")
    val errUnion = (0 to lastW)
      .map(t => s"SELECT t, e FROM err$t").mkString(" UNION ALL ")
    val wallUnion = (1 to lastW)
      .map(t => s"SELECT $t AS t, slot, w FROM w$t").mkString(" UNION ALL ")
    s"""WITH tt AS MATERIALIZED (SELECT doc_id, source,
       |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |              x -> length(x) > 0) AS t
       |  FROM documents),
       |lab AS MATERIALIZED (SELECT doc_id, source,
       |  ${Sampling.bucketSql("doc_id", QtSplitMod)} AS bucket,
       |  CASE WHEN $labelPred
       |    THEN 1 ELSE -1 END AS y
       |  FROM tt),
       |ltr AS MATERIALIZED (SELECT * FROM lab $trainWhere),
       |$featF,
       |w1 AS MATERIALIZED (SELECT slot, CAST(sum(y) AS BIGINT) AS w
       |  FROM f JOIN ltr USING (doc_id) GROUP BY slot),
       |m1 AS MATERIALIZED (SELECT f.doc_id, CAST(sum(w1.w) AS BIGINT) AS m
       |  FROM f JOIN ltr USING (doc_id) JOIN w1 USING (slot)
       |  GROUP BY f.doc_id),
       |$steps,
       |err0 AS (SELECT 0 AS t, count(*) AS e FROM ltr WHERE y = 1),
       |$errs,
       |best AS (SELECT t FROM ($errUnion) ORDER BY e, t LIMIT 1),
       |wbest AS (SELECT slot, w FROM ($wallUnion)
       |  WHERE t = (SELECT t FROM best)),
       |sc AS (SELECT lab.source, lab.bucket, lab.y, coalesce(mm.m, 0) AS m
       |  FROM lab LEFT JOIN (SELECT f.doc_id,
       |      CAST(sum(wbest.w) AS BIGINT) AS m
       |    FROM f JOIN wbest USING (slot) GROUP BY f.doc_id) mm
       |  USING (doc_id))""".stripMargin
  }

  private def pocketOracleSql(
      trainWhere: String, groupExpr: String, groupName: String,
      labelPred: String = PocketDefaultLabel,
      featF: String = PocketDefaultFeat): String =
    s"""${pocketScoreCtes(trainWhere, labelPred, featF)}
       |SELECT $groupExpr AS $groupName, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN m > 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS tp,
       |  CAST(sum(CASE WHEN m > 0 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS fp,
       |  CAST(sum(CASE WHEN m <= 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS fn,
       |  CAST(sum(CASE WHEN m <= 0 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS tn,
       |  CAST(sum(m) AS BIGINT) AS margin_sum
       |FROM sc GROUP BY $groupName ORDER BY $groupName""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_bpe_merges" ->
      s"""WITH toks AS (
         |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                     x -> length(x) > 0) AS t
         |  FROM documents),
         |w AS (SELECT unnest(t) AS w FROM toks),
         |p AS (
         |  SELECT unnest(list_transform(range(1, length(w)),
         |                               i -> substr(w, i, 2))) AS pair
         |  FROM w WHERE length(w) >= 2),
         |c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair),
         |r AS (SELECT pair, n,
         |        row_number() OVER (ORDER BY n DESC, pair) AS rk FROM c)
         |SELECT CAST(rk AS BIGINT) AS rk, pair, n
         |FROM r WHERE rk <= $BpeTopPairs ORDER BY rk""".stripMargin,
    "q_len_quantiles" ->
      """WITH b AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY source) AS cnt
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(CASE WHEN rn = ceil(cnt * 0.5e0) THEN n_chars END) AS BIGINT) AS p50,
        |  CAST(max(CASE WHEN rn = ceil(cnt * 0.9e0) THEN n_chars END) AS BIGINT) AS p90,
        |  CAST(max(CASE WHEN rn = ceil(cnt * 0.99e0) THEN n_chars END) AS BIGINT) AS p99,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM b GROUP BY source ORDER BY source""".stripMargin,
    // contract oracle (see qLenQuantilesSketch scaladoc): DuckDB derives
    // the (source, p, n_docs) grid; within_bound = 1 is the pinned
    // contract, PROVEN Spark-side by exact integer rank arithmetic —
    // a sketch estimate beyond ε rank error hash-mismatches loudly
    "q_len_quantiles_sketch" ->
      s"""SELECT source, p, count(*) AS n_docs,
         |  CAST(1 AS BIGINT) AS within_bound
         |FROM documents
         |CROSS JOIN (SELECT unnest([${
        SketchProbs.map(p => s"CAST($p AS DOUBLE)").mkString(", ")
      }]) AS p) probs
         |GROUP BY source, p ORDER BY source, p""".stripMargin,
    "q_gopher" ->
      s"""WITH ${gopherSqlCtes("doc_id")}
         |SELECT doc_id, n_words, mean_word_len, n_stop_distinct, dup_word_frac,
         |  CAST(r_words AS BIGINT) AS r_words,
         |  CAST(r_word_len AS BIGINT) AS r_word_len,
         |  CAST(r_stop AS BIGINT) AS r_stop,
         |  CAST(r_dup AS BIGINT) AS r_dup,
         |  CAST(CASE WHEN r_words + r_word_len + r_stop + r_dup = 4
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    // Asymmetric by construction (round-5 advisor note, accepted): the
    // oracle matches grams via 60-bit md5 prefixes while the Spark-side
    // SelfSpans expression compares exact token windows, so a WITHIN-
    // document 60-bit collision would surface as a spurious cross-engine
    // mismatch rather than an agreed-upon wrong answer. Accepted because
    // the collision budget is tiny (≤ ~200 grams/doc → < 2·10⁻¹⁴ per doc)
    // and the failure mode is loud (hash mismatch), not silent; hashing on
    // the Spark side too would only hide genuine within-doc collisions.
    "q_text_selfspan" -> {
      val n = Dedup.SpanNgram
      val gram = (1 to n).map(j => s"t[pos+$j]").mkString(" || ' ' || ")
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % $SelfrepeatPlantMod = 0
         |      THEN text || ' ' || text ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |              x -> length(x) > 0) AS t
         |  FROM corpus),
         |ph0 AS (SELECT doc_id,
         |  unnest(range(0, greatest(len(t) - ${n - 1}, 0))) AS pos, t
         |  FROM toks),
         |ph AS (SELECT doc_id, pos,
         |  ('0x' || substr(md5($gram), 1, 15))::BIGINT AS h
         |  FROM ph0),
         |ok AS (SELECT doc_id, h FROM ph GROUP BY doc_id, h
         |       HAVING count(*) >= 2 AND count(*) <= ${Dedup.MaxSpanOcc}),
         |m AS (SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b
         |      FROM ph a JOIN ph b
         |        ON b.doc_id = a.doc_id AND b.h = a.h AND b.pos > a.pos
         |      JOIN ok ON ok.doc_id = a.doc_id AND ok.h = a.h),
         |runs AS (SELECT doc_id, pos_b - pos_a AS diag, pos_a,
         |    pos_a - row_number() OVER (
         |      PARTITION BY doc_id, pos_b - pos_a ORDER BY pos_a) AS island
         |  FROM m),
         |ragg AS (SELECT doc_id, count(*) + ${n - 1} AS run_tokens
         |  FROM runs GROUP BY doc_id, diag, island
         |  HAVING count(*) + ${n - 1} >= ${Dedup.MinRunTokens})
         |SELECT doc_id, count(*) AS n_runs,
         |  CAST(max(run_tokens) AS BIGINT) AS max_run_tokens,
         |  CAST(sum(run_tokens) AS BIGINT) AS matched_tokens
         |FROM ragg GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_gopher_ngram" ->
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % $SelfrepeatPlantMod = 0
         |      THEN text || ' ' || text ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |              x -> length(x) > 0) AS t
         |  FROM corpus),
         |base AS (SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(t, w -> length(w))), 0)
         |    AS BIGINT) AS total_chars
         |  FROM toks),
         |g2 AS (SELECT doc_id, t[i+1] || ' ' || t[i+2] AS g FROM (
         |  SELECT doc_id, unnest(range(0, greatest(len(t) - 1, 0))) AS i, t
         |  FROM toks)),
         |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
         |t2 AS (SELECT doc_id, c AS top2_count,
         |    CAST(length(replace(g, ' ', '')) AS BIGINT) AS top2_chars
         |  FROM (SELECT doc_id, g, c, row_number() OVER (
         |          PARTITION BY doc_id ORDER BY c DESC, g) AS rk FROM c2)
         |  WHERE rk = 1),
         |g5 AS (SELECT doc_id, i,
         |    t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
         |      || ' ' || t[i+5] AS g
         |  FROM (SELECT doc_id, unnest(range(0, greatest(len(t) - 4, 0))) AS i, t
         |        FROM toks)),
         |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
         |d5 AS (SELECT doc_id, count(*) AS dup5_grams FROM c5
         |       WHERE c >= 2 GROUP BY doc_id),
         |cov AS (SELECT DISTINCT doc_id, p FROM (
         |  SELECT g5.doc_id, unnest(range(g5.i, g5.i + 5)) AS p
         |  FROM g5 JOIN c5 ON c5.doc_id = g5.doc_id AND c5.g = g5.g
         |  WHERE c5.c >= 2)),
         |cs AS (SELECT cov.doc_id, count(*) AS dup5_words,
         |    CAST(sum(length(t[p+1])) AS BIGINT) AS dup5_chars
         |  FROM cov JOIN toks ON toks.doc_id = cov.doc_id
         |  GROUP BY cov.doc_id),
         |rep AS (SELECT b.doc_id, b.total_chars,
         |  CAST(coalesce(t2.top2_count, 0) AS BIGINT) AS top2_count,
         |  CASE WHEN coalesce(t2.top2_count, 0) > 0
         |    THEN CAST(t2.top2_count * t2.top2_chars AS DOUBLE) / b.total_chars
         |    ELSE 0.0e0 END AS top2_frac,
         |  CAST(coalesce(d5.dup5_grams, 0) AS BIGINT) AS dup5_grams,
         |  CAST(coalesce(cs.dup5_words, 0) AS BIGINT) AS dup5_words,
         |  CASE WHEN b.total_chars > 0
         |    THEN CAST(coalesce(cs.dup5_chars, 0) AS DOUBLE) / b.total_chars
         |    ELSE 0.0e0 END AS dup5_frac
         |  FROM base b
         |  LEFT JOIN t2 ON t2.doc_id = b.doc_id
         |  LEFT JOIN d5 ON d5.doc_id = b.doc_id
         |  LEFT JOIN cs ON cs.doc_id = b.doc_id)
         |SELECT *,
         |  CAST(CASE WHEN r_top2 + r_dup5 = 2 THEN 1 ELSE 0 END AS BIGINT)
         |    AS keep
         |FROM (SELECT *,
         |  CAST(CASE WHEN top2_frac <= ${GopherMaxTop2Frac}e0
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_top2,
         |  CAST(CASE WHEN dup5_frac <= ${GopherMaxDup5Frac}e0
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_dup5
         |  FROM rep)
         |ORDER BY doc_id""".stripMargin,
    "q_curation_funnel" ->
      s"""WITH fd AS (SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $FunnelDupOffset AS doc_id, source, text
         |  FROM documents WHERE doc_id % 7 = 0),
         |${gopherSqlCtes("doc_id, source", "fd")},
         |gg AS (SELECT doc_id, source, n_words,
         |    CASE WHEN r_words + r_word_len + r_stop + r_dup = 4
         |      THEN 1 ELSE 0 END AS keep,
         |    md5(text) AS h
         |  FROM f),
         |fst AS (SELECT h, min(doc_id) AS first_id
         |  FROM gg WHERE keep = 1 GROUP BY h)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
         |  CAST(sum(keep) AS BIGINT) AS n_gopher,
         |  CAST(sum(CASE WHEN keep = 1 AND doc_id = first_id
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN keep = 1 AND doc_id = first_id
         |    THEN n_words ELSE 0 END) AS BIGINT) AS n_tokens_final
         |FROM gg LEFT JOIN fst USING (h)
         |GROUP BY source ORDER BY source""".stripMargin,
    "q_chunk_overlap" ->
      s"""WITH tt AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |              x -> length(x) > 0) AS tk
         |  FROM documents),
         |c AS (SELECT doc_id, len(tk) AS n_tokens,
         |  list_transform(range(0, (len(tk) + ${ChunkStride - 1}) // $ChunkStride),
         |    i -> array_to_string(
         |      tk[i*$ChunkStride+1 : i*$ChunkStride+$ChunkWidth], ' '))
         |    AS chunks
         |  FROM tt)
         |SELECT doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(chunks) AS BIGINT) AS n_chunks,
         |  CASE WHEN len(chunks) > 0 THEN md5(chunks[1]) END
         |    AS first_chunk_md5,
         |  CAST(coalesce(list_aggregate(list_transform(chunks,
         |    c -> ('0x' || substr(md5(c), 1, 15))::BIGINT), 'bit_xor'), 0)
         |    AS BIGINT) AS chunk_xor
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_quality_train" -> pocketOracleSql("", "source", "source"),
    // same unrolled pocket replay through sc(source, bucket, y, m); the
    // tie-corrected rank-sum identity over the per-distinct-margin frame
    "q_auc" ->
      s"""${pocketScoreCtes("")}
         |, pv AS (SELECT source, m, count(*) AS n,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np
         |  FROM sc GROUP BY source, m),
         |cum AS (SELECT source, n, np,
         |    CAST(coalesce(sum(n - np) OVER (PARTITION BY source ORDER BY m
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_neg_lt
         |  FROM pv),
         |ag AS (SELECT source,
         |    CAST(sum(np) AS BIGINT) AS n_pos,
         |    CAST(sum(n - np) AS BIGINT) AS n_neg,
         |    CAST(sum(np * (2 * cum_neg_lt + (n - np))) AS BIGINT) AS u2
         |  FROM cum GROUP BY source)
         |SELECT source, n_pos, n_neg, u2,
         |  CAST((u2 // (2 * n_pos * n_neg)) * 1000000000
         |    + ((u2 % (2 * n_pos * n_neg)) * 1000000000)
         |      // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppb,
         |  CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
         |FROM ag WHERE n_pos > 0 AND n_neg > 0
         |ORDER BY source""".stripMargin,
    // calib's bucket histogram walked top-down; rates as the two-step
    // exact ppb integer division
    "q_roc_curve" ->
      s"""${pocketScoreCtes("")}
         |, bkt AS (
         |  SELECT CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END
         |        * length(bin(abs(m))) AS BIGINT) END AS bucket, y
         |  FROM sc),
         |h AS (SELECT bucket, count(*) AS n,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np
         |  FROM bkt GROUP BY bucket),
         |c AS (SELECT bucket,
         |    CAST(sum(np) OVER (ORDER BY bucket DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS tp,
         |    CAST(sum(n - np) OVER (ORDER BY bucket DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS fp,
         |    CAST(sum(np) OVER () AS BIGINT) AS pos,
         |    CAST(sum(n - np) OVER () AS BIGINT) AS neg
         |  FROM h)
         |SELECT bucket, tp, fp,
         |  CAST((tp // pos) * 1000000000
         |    + ((tp % pos) * 1000000000) // pos AS BIGINT) AS tpr_ppb,
         |  CAST((fp // neg) * 1000000000
         |    + ((fp % neg) * 1000000000) // neg AS BIGINT) AS fpr_ppb,
         |  CAST((tp // (tp + fp)) * 1000000000
         |    + ((tp % (tp + fp)) * 1000000000) // (tp + fp) AS BIGINT)
         |    AS prec_ppb
         |FROM c ORDER BY bucket DESC""".stripMargin,
    "q_quality_calib" ->
      s"""${pocketScoreCtes("")}
         |, bkt AS (
         |  SELECT CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END
         |        * length(bin(abs(m))) AS BIGINT) END AS bucket, y
         |  FROM sc)
         |SELECT bucket, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |    AS frac_pos
         |FROM bkt GROUP BY bucket ORDER BY bucket""".stripMargin,
    // same unrolled pocket replay, retrained on the FLIPPED labels;
    // thresholds and excess comparisons are the cross-multiplied
    // integers the Spark side uses verbatim
    "q_label_noise" ->
      s"""${
        pocketScoreCtes("", labelPred =
          s"($PocketDefaultLabel) <> " +
            s"(${Sampling.bucketSql("doc_id", QtSplitMod)} = $QtFlipBucket)")
      }
         |, th AS (
         |  SELECT
         |    CAST(sum(CASE WHEN y = 1 THEN m ELSE 0 END) AS BIGINT) AS s_pos,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |    CAST(sum(CASE WHEN y = -1 THEN m ELSE 0 END) AS BIGINT) AS s_neg,
         |    CAST(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
         |  FROM sc),
         |cj AS (
         |  SELECT sc.y, sc.m, sc.bucket,
         |    th.s_pos, th.n_pos, th.s_neg, th.n_neg,
         |    (sc.m * th.n_pos >= th.s_pos) AS cpos,
         |    (sc.m * th.n_neg <= th.s_neg) AS cneg
         |  FROM sc CROSS JOIN th),
         |asg AS (
         |  SELECT y, m, bucket,
         |    CASE WHEN cpos AND cneg THEN
         |        CASE WHEN (m * n_pos - s_pos) * n_neg >=
         |                  (s_neg - m * n_neg) * n_pos
         |          THEN 1 ELSE -1 END
         |      WHEN cpos THEN 1 ELSE -1 END AS conf
         |  FROM cj WHERE cpos OR cneg)
         |SELECT CAST(y AS BIGINT) AS y, CAST(conf AS BIGINT) AS conf,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN bucket = $QtFlipBucket THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_flipped,
         |  CAST(sum(m) AS BIGINT) AS margin_sum
         |FROM asg GROUP BY y, conf ORDER BY y, conf""".stripMargin,
    "q_quality_train_bi" -> pocketOracleSql(
      "", "source", "source",
      labelPred =
        "len(list_filter(range(1, len(t)), i -> t[i] = t[i + 1])) > 0",
      featF =
        s"""bg AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(t)),
           |                          i -> t[i] || ' ' || t[i + 1])) AS bg
           |  FROM tt),
           |f AS MATERIALIZED (SELECT doc_id,
           |    ('0x' || substr(md5(bg), 1, 15))::BIGINT % $QtBiBuckets AS slot
           |  FROM bg
           |  UNION ALL
           |  SELECT doc_id, CAST($QtBiBias AS BIGINT) AS slot FROM documents)"""
          .stripMargin),
    "q_quality_train_eval" -> pocketOracleSql(
      s"WHERE bucket < $QtTrainBuckets",
      s"CASE WHEN bucket < $QtTrainBuckets THEN 'train' ELSE 'test' END",
      "split"),
    "q_quality_classifier" ->
      s"""WITH toks AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |              x -> length(x) > 0) AS t
         |  FROM documents),
         |f AS (SELECT doc_id, unnest(list_concat(t,
         |    CASE WHEN len(t) >= 2
         |      THEN list_transform(range(0, len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
         |      ELSE [] END)) AS x
         |  FROM toks),
         |w AS (SELECT doc_id,
         |  ('0x' || substr(md5('w' || CAST(
         |     ('0x' || substr(md5(x), 1, 15))::BIGINT % $QcBuckets AS VARCHAR)),
         |   1, 15))::BIGINT % $QcWeightMod - 1000000000 AS w_ppb
         |  FROM f),
         |agg AS (SELECT doc_id, count(*) AS n_feats,
         |  CAST(sum(w_ppb) AS BIGINT) AS w_ppb FROM w GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(a.n_feats, 0) AS BIGINT) AS n_feats,
         |  CAST(coalesce(a.w_ppb, 0) AS BIGINT) AS w_ppb,
         |  CASE WHEN coalesce(a.n_feats, 0) > 0
         |    THEN CAST(a.w_ppb AS DOUBLE) / (a.n_feats * 1000000000)
         |    ELSE 0.0e0 END AS score,
         |  CAST(CASE WHEN coalesce(a.n_feats, 0) > 0 AND
         |    CAST(a.w_ppb AS DOUBLE) / (a.n_feats * 1000000000) > 0.0e0
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_ldiversity" ->
      s"""SELECT lang, n_chars // $LDivBandChars AS len_band,
         |  count(*) AS n_docs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(CASE WHEN count(DISTINCT source) >= $LDivL THEN 1 ELSE 0
         |    END AS BIGINT) AS pass
         |FROM documents GROUP BY 1, 2 ORDER BY lang, len_band""".stripMargin,
    "q_kanon" ->
      s"""WITH g AS (
         |  SELECT lang, source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         |  FROM documents GROUP BY lang, source)
         |SELECT lang, source, n_docs, n_chars_total FROM g
         |WHERE n_docs >= $KAnonK
         |UNION ALL
         |SELECT '*' AS lang, '*' AS source,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars_total) AS BIGINT) AS n_chars_total
         |FROM g WHERE n_docs < $KAnonK HAVING count(*) > 0
         |ORDER BY lang, source""".stripMargin,
    // the identical seeded geometric mechanism: same salted-md5 uniform
    // draw, same integer CDF thresholds (dpNoiseCaseSql is shared verbatim)
    "q_dp_counts" -> {
      val u = s"('0x' || substr(md5(lang || '|' || source || '#dp'), 1, 15))" +
        s"::BIGINT % $DpScale"
      s"""WITH g AS (
         |  SELECT lang, source, count(*) AS n FROM documents
         |  GROUP BY lang, source)
         |SELECT lang, source,
         |  CAST(greatest(0, n + ${dpNoiseCaseSql(s"($u)")}) AS BIGINT)
         |    AS n_noisy
         |FROM g ORDER BY lang, source""".stripMargin
    },
    // epoch order = the shuffle-order md5 permutation (same expression
    // as the q_shuffle_order oracle); first occurrence is an algebraic
    // min, so the curve needs no sequential scan on either engine
    "q_vocab_growth" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |ordd AS (SELECT doc_id, row_number() OVER (ORDER BY
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |    doc_id) AS pos
        |  FROM documents),
        |tt AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |              x -> length(x) > 0) AS t
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(t) AS word FROM tt),
        |fs AS (SELECT word, min(pos) AS first_pos
        |  FROM w JOIN ordd USING (doc_id) GROUP BY word),
        |nw AS (SELECT ((first_pos - 1) * 10) // (SELECT n FROM nn)
        |    AS decile, count(*) AS n_new_words
        |  FROM fs GROUP BY 1),
        |dm AS (SELECT ((pos - 1) * 10) // (SELECT n FROM nn) AS decile,
        |    count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS n_tokens
        |  FROM tt JOIN ordd USING (doc_id) GROUP BY 1)
        |SELECT dm.decile, n_docs, n_tokens,
        |  CAST(coalesce(n_new_words, 0) AS BIGINT) AS n_new_words
        |FROM dm LEFT JOIN nw ON dm.decile = nw.decile
        |ORDER BY dm.decile""".stripMargin,
    "q_data_card" ->
      s"""WITH ${gopherSqlCtes("source, lang")}
         |SELECT source, lang, count(*) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN r_words + r_word_len + r_stop + r_dup = 4
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_kept,
         |  round(avg($qualitySqlExpr), 9) AS avg_quality
         |FROM f GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "q_text_entropy" ->
      """WITH tk AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                     x -> length(x) > 0)) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM tk GROUP BY doc_id, w)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_words,
        |  count(*) AS n_distinct,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT), 9) AS ttr,
        |  round(ln(CAST(sum(c) AS DOUBLE))
        |        - sum(c * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE), 9)
        |    AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_bm25_search" -> {
      val vals = SearchQueries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
        .mkString(", ")
      s"""WITH qv AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
         |  FROM (VALUES $vals) AS t(query_id, term)),
         |tk AS (SELECT doc_id,
         |  unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                     x -> length(x) > 0)) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY term),
         |st AS (SELECT count(*) AS total, count(DISTINCT doc_id) AS nd FROM tk),
         |sc AS (SELECT qv.query_id, tf.doc_id,
         |  CAST(floor(round(ln(1.0e0 + ((nd - df) + 0.5e0) / (df + 0.5e0)) *
         |    ((tf * (${Bm25K1}e0 + 1.0e0)) /
         |     (tf + ${Bm25K1}e0 * ((1.0e0 - ${Bm25B}e0) +
         |        ${Bm25B}e0 * dl / (CAST(total AS DOUBLE) / nd)))), 9)
         |    * 1.0e9 + 0.5e0) AS BIGINT) AS ppb
         |  FROM qv JOIN tf USING (term) JOIN df USING (term)
         |  JOIN dl USING (doc_id) CROSS JOIN st),
         |agg AS (SELECT query_id, doc_id,
         |  CAST(sum(ppb) AS BIGINT) AS score_ppb,
         |  CAST(count(*) AS BIGINT) AS n_terms
         |  FROM sc GROUP BY query_id, doc_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_ppb DESC, doc_id) AS rk
         |  FROM agg)
         |SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, n_terms,
         |  CAST(score_ppb AS DOUBLE) / 1.0e9 AS score
         |FROM r WHERE rk <= $SearchTopK ORDER BY query_id, rk""".stripMargin
    },
    // same scoring CTEs as q_bm25_search with q_size riding qv; the
    // first relevant rank via the ranking window, conjunctive relevance
    "q_mrr" -> {
      val vals = SearchQueries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t', ${ts.size})") }
        .mkString(", ")
      s"""WITH qv AS (SELECT CAST(query_id AS BIGINT) AS query_id, term,
         |    CAST(q_size AS BIGINT) AS q_size
         |  FROM (VALUES $vals) AS t(query_id, term, q_size)),
         |tk AS (SELECT doc_id,
         |  unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                     x -> length(x) > 0)) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY term),
         |st AS (SELECT count(*) AS total, count(DISTINCT doc_id) AS nd FROM tk),
         |sc AS (SELECT qv.query_id, qv.q_size, tf.doc_id,
         |  CAST(floor(round(ln(1.0e0 + ((nd - df) + 0.5e0) / (df + 0.5e0)) *
         |    ((tf * (${Bm25K1}e0 + 1.0e0)) /
         |     (tf + ${Bm25K1}e0 * ((1.0e0 - ${Bm25B}e0) +
         |        ${Bm25B}e0 * dl / (CAST(total AS DOUBLE) / nd)))), 9)
         |    * 1.0e9 + 0.5e0) AS BIGINT) AS ppb
         |  FROM qv JOIN tf USING (term) JOIN df USING (term)
         |  JOIN dl USING (doc_id) CROSS JOIN st),
         |agg AS (SELECT query_id, q_size, doc_id,
         |  CAST(sum(ppb) AS BIGINT) AS score_ppb,
         |  CAST(count(*) AS BIGINT) AS n_terms
         |  FROM sc GROUP BY query_id, q_size, doc_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_ppb DESC, doc_id) AS rk
         |  FROM agg),
         |rel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant,
         |    CAST(min(rk) AS BIGINT) AS first_rank
         |  FROM r WHERE n_terms = q_size GROUP BY query_id),
         |best AS (SELECT r.query_id, r.doc_id AS best_doc_id
         |  FROM r JOIN rel ON r.query_id = rel.query_id
         |    AND r.rk = rel.first_rank),
         |ns AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_scored
         |  FROM agg GROUP BY query_id)
         |SELECT query_id, n_scored, n_relevant, best_doc_id, first_rank,
         |  CAST(1000000000 // first_rank AS BIGINT) AS rr_ppb
         |FROM rel JOIN best USING (query_id) JOIN ns USING (query_id)
         |ORDER BY query_id""".stripMargin
    },
    "q_bm25" ->
      s"""WITH tk AS (SELECT doc_id,
         |  unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                     x -> length(x) > 0)) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY term),
         |st AS (SELECT count(*) AS total, count(DISTINCT doc_id) AS nd FROM tk),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, dl.dl,
         |  round(ln(1.0e0 + ((nd - df) + 0.5e0) / (df + 0.5e0)) *
         |    ((tf * (${Bm25K1}e0 + 1.0e0)) /
         |     (tf + ${Bm25K1}e0 * ((1.0e0 - ${Bm25B}e0) +
         |        ${Bm25B}e0 * dl / (CAST(total AS DOUBLE) / nd)))), 9) AS bm25
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.doc_id < 20),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY bm25 DESC, term) AS rk FROM sc)
         |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, dl, bm25
         |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // The robust-stats oracle mirrors the histogram walks with window
    // cumulative sums (fine in DuckDB — the window-free discipline is a
    // SPARK-side scale constraint): lower quantile = min{v : cum(v) ≥
    // ⌈p·N⌉}, MAD from the second-order |v − med| histogram, outliers
    // re-counted from the raw rows.
    "q_robust_stats" ->
      """WITH h AS (SELECT source, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source),
        |cum AS (SELECT source, v,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cc
        |  FROM h),
        |med AS (SELECT source, CAST(min(v) AS BIGINT) AS median
        |  FROM cum JOIN n USING (source)
        |  WHERE cc >= (n_docs + 1) // 2 GROUP BY source),
        |q1 AS (SELECT source, CAST(min(v) AS BIGINT) AS q1
        |  FROM cum JOIN n USING (source)
        |  WHERE cc >= (n_docs + 3) // 4 GROUP BY source),
        |q3 AS (SELECT source, CAST(min(v) AS BIGINT) AS q3
        |  FROM cum JOIN n USING (source)
        |  WHERE cc >= (3 * n_docs + 3) // 4 GROUP BY source),
        |h2 AS (SELECT h.source, abs(h.v - med.median) AS d,
        |    CAST(sum(h.c) AS BIGINT) AS c2
        |  FROM h JOIN med USING (source) GROUP BY 1, 2),
        |cum2 AS (SELECT source, d,
        |    CAST(sum(c2) OVER (PARTITION BY source ORDER BY d) AS BIGINT) AS cc2
        |  FROM h2),
        |mad AS (SELECT source, CAST(min(d) AS BIGINT) AS mad
        |  FROM cum2 JOIN n USING (source)
        |  WHERE cc2 >= (n_docs + 1) // 2 GROUP BY source),
        |outl AS (SELECT d.source,
        |    CAST(count(*) FILTER (abs(d.n_chars - med.median) > 3 * mad.mad)
        |      AS BIGINT) AS n_outliers
        |  FROM documents d JOIN med USING (source) JOIN mad USING (source)
        |  GROUP BY d.source)
        |SELECT source, n_docs, median, mad, q1, q3, n_outliers
        |FROM n JOIN med USING (source) JOIN mad USING (source)
        |  JOIN q1 USING (source) JOIN q3 USING (source)
        |  JOIN outl USING (source)
        |ORDER BY source""".stripMargin,
    // χ² is the shared-verbatim IEEE expression N·diff² / (df·(N−df)·
    // pos·(N−pos)) over BIGINT-pinned exact counts; diff = ad − bc is
    // written out twice verbatim (once per χ² factor) because SQL has no
    // let-binding that survives the dtype pin.
    "q_feature_chi2" ->
      """WITH docs AS (
        |  SELECT CASE WHEN
        |      len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x = 'join'))
        |      > len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x = 'scan'))
        |    THEN 1 ELSE 0 END AS y,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> length(x) > 0)) AS ts
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
        |    CAST(sum(y) AS BIGINT) AS n_pos FROM docs),
        |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(y) AS BIGINT) AS pos_df
        |  FROM (SELECT y, unnest(ts) AS token FROM docs) GROUP BY token)
        |SELECT token, df, pos_df,
        |  CAST(n_all AS DOUBLE)
        |    * CAST(pos_df * ((n_all - n_pos) - (df - pos_df))
        |           - (df - pos_df) * (n_pos - pos_df) AS DOUBLE)
        |    * CAST(pos_df * ((n_all - n_pos) - (df - pos_df))
        |           - (df - pos_df) * (n_pos - pos_df) AS DOUBLE)
        |    / (CAST(df AS DOUBLE) * CAST(n_all - df AS DOUBLE)
        |       * CAST(n_pos AS DOUBLE) * CAST(n_all - n_pos AS DOUBLE)) AS chi2
        |FROM cnt CROSS JOIN tot
        |WHERE df >= 5 AND df < n_all
        |ORDER BY chi2 DESC, token LIMIT 50""".stripMargin,
    // Shared-verbatim IEEE discipline: slope/intercept/r2 are written as
    // the SAME arithmetic over the SAME exact-integer sums as the Spark
    // plan (num/d1; (sy − slope·sx)/n; (num/d1)·(num/d2)) — each sum is
    // pinned to BIGINT first (DuckDB sums are HUGEINT) so the int→double
    // rounding is the identical IEEE operation on both engines.
    "q_len_fit" ->
      """WITH s AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(n_chars * y) AS BIGINT) AS sxy,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM (SELECT lang, n_chars,
        |    CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+')) AS BIGINT) AS y
        |    FROM documents) GROUP BY lang)
        |SELECT lang, n_docs,
        |  CAST(n_docs * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_docs * sxx - sx * sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE)
        |     - (CAST(n_docs * sxy - sx * sy AS DOUBLE)
        |        / CAST(n_docs * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n_docs AS DOUBLE) AS intercept,
        |  (CAST(n_docs * sxy - sx * sy AS DOUBLE)
        |     / CAST(n_docs * sxx - sx * sx AS DOUBLE))
        |  * (CAST(n_docs * sxy - sx * sy AS DOUBLE)
        |     / CAST(n_docs * syy - sy * sy AS DOUBLE)) AS r2
        |FROM s ORDER BY lang""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS BIGINT) AS n_letters,
        |  CAST(length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same md5 report draw, same index arithmetic, same clean-constant
    // estimator inversion
    "q_ldp_freq" -> {
      val langsSql = LdpLangs.map(l => s"'$l'").mkString("[", ", ", "]")
      val k = LdpLangs.length
      val qPpm = (1000000L - LdpPppm) / (k - 1)
      s"""WITH d AS (
         |  SELECT lang,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#rr'), 1, 15))::BIGINT
         |      % 1000000 AS u,
         |    list_position($langsSql, lang) - 1 AS i
         |  FROM documents),
         |r AS (
         |  SELECT lang,
         |    ($langsSql)[CASE WHEN u < $LdpPppm THEN i
         |      ELSE CASE WHEN u % ${k - 1} < i THEN u % ${k - 1}
         |           ELSE u % ${k - 1} + 1 END END + 1] AS rep
         |  FROM d),
         |obs AS (SELECT rep AS lang, count(*) AS n_obs FROM r GROUP BY 1),
         |tr AS (SELECT lang, count(*) AS n_true FROM r GROUP BY 1),
         |tot AS (SELECT count(*) AS n FROM documents)
         |SELECT tr.lang AS lang, n_true, n_obs,
         |  CAST(1000000 * n_obs - $qPpm * n AS DOUBLE) / ${LdpPppm - qPpm}
         |    AS est
         |FROM tr JOIN obs ON tr.lang = obs.lang CROSS JOIN tot
         |ORDER BY lang""".stripMargin
    },
    // same tokenizer twins as q_text_tokens; `//` and DIV truncate
    // identically on positive integers
    "q_token_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+')) AS BIGINT) AS tk,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws,
        |    CAST(length(text) AS BIGINT) AS ch
        |  FROM documents),
        |a AS (
        |  SELECT lang, count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS n_tokens,
        |    CAST(sum(ws) AS BIGINT) AS n_words, CAST(sum(ch) AS BIGINT) AS n_chars
        |  FROM t GROUP BY lang)
        |SELECT lang, n_docs, n_tokens, n_chars,
        |  (1000000 * n_tokens) // n_chars AS fertility_ppm,
        |  (1000000 * n_tokens) // n_words AS tpw_ppm
        |FROM a ORDER BY lang""".stripMargin,
    // identical cross-multiplied annotator predicates; κ collapsed by one
    // IEEE division of exact BIGINTs on both engines
    "q_kappa" ->
      s"""WITH d AS (
         |  SELECT source,
         |    CASE WHEN length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) * 20
         |              <= length(text) THEN 1 ELSE 0 END AS a,
         |    CASE WHEN len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                              x -> x IN ($stopList))) * 5
         |              >= len(string_split_regex(trim(text), '\\s+'))
         |         THEN 1 ELSE 0 END AS b
         |  FROM documents),
         |g AS (
         |  SELECT source, count(*) AS n,
         |    CAST(sum(a) AS BIGINT) AS a_pos, CAST(sum(b) AS BIGINT) AS b_pos,
         |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
         |  FROM d GROUP BY source),
         |k AS (
         |  SELECT *,
         |    a_pos * b_pos + (n - a_pos) * (n - b_pos) AS chance
         |  FROM g)
         |SELECT source, n, a_pos, b_pos, n_agree,
         |  CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |  CAST(chance AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
         |  CASE WHEN n * n - chance = 0 THEN NULL
         |       ELSE CAST(n_agree * n - chance AS DOUBLE)
         |            / CAST(n * n - chance AS DOUBLE) END AS kappa
         |FROM k ORDER BY source""".stripMargin,
    "q_len_hist" ->
      s"""WITH t AS (
         |  SELECT CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+')) AS BIGINT) AS tk
         |  FROM documents)
         |SELECT (tk // $LenHistWidth) * $LenHistWidth AS bucket_lo,
         |  count(*) AS n_docs,
         |  CAST(sum(tk) AS BIGINT) AS bucket_tokens,
         |  min(tk) AS min_tk,
         |  max(tk) AS max_tk
         |FROM t GROUP BY bucket_lo ORDER BY bucket_lo""".stripMargin,
    "q_text_pmi" ->
      s"""WITH toks AS (
         |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                     x -> length(x) > 0) AS t
         |  FROM documents),
         |uni AS (
         |  SELECT w, count(*) AS n_w
         |  FROM (SELECT unnest(t) AS w FROM toks) u GROUP BY w),
         |bi AS (
         |  SELECT bigram, count(*) AS n_ab FROM (
         |    SELECT unnest(CASE WHEN len(t) >= 2
         |      THEN list_transform(range(0, len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
         |      ELSE [] END) AS bigram
         |    FROM toks) g
         |  GROUP BY bigram HAVING count(*) >= $PmiMinCount),
         |n_uni AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_uni FROM uni),
         |n_big AS (
         |  SELECT CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS n_big FROM toks)
         |SELECT bigram, n_ab,
         |  a.n_w AS n_a, b.n_w AS n_b,
         |  round(ln((CAST(n_ab AS DOUBLE) * n_uni * n_uni) /
         |           (CAST(a.n_w AS DOUBLE) * b.n_w * n_big)), 9) AS pmi
         |FROM bi
         |JOIN uni a ON a.w = string_split(bigram, ' ')[1]
         |JOIN uni b ON b.w = string_split(bigram, ' ')[2]
         |CROSS JOIN n_uni CROSS JOIN n_big
         |ORDER BY pmi DESC, bigram LIMIT $PmiTopK""".stripMargin,
    "q_heavy_hitters" ->
      s"""WITH w AS (
         |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                            x -> length(x) > 0)) AS w
         |  FROM documents),
         |t AS (SELECT count(*) AS tot FROM w),
         |c AS (SELECT w, count(*) AS n_occ FROM w GROUP BY w)
         |SELECT w AS word, CAST(n_occ AS BIGINT) AS n_occ,
         |  round(CAST(n_occ AS DOUBLE) / tot, 9) AS share
         |FROM c, t WHERE n_occ * $HeavyPhiDen > tot
         |ORDER BY n_occ DESC, word""".stripMargin,
    "q_vocab" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                                    x -> length(x) > 0)) AS word
         |  FROM documents),
         |vocab AS (
         |  SELECT word FROM (
         |    SELECT word, count(*) AS n FROM toks GROUP BY word
         |    ORDER BY n DESC, word LIMIT $VocabSize) v)
         |SELECT source, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN vocab.word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |  round(CAST(sum(CASE WHEN vocab.word IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS coverage
         |FROM toks LEFT JOIN vocab ON toks.word = vocab.word
         |GROUP BY source ORDER BY source""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
         |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x IN ($stopList))) AS DOUBLE)
         |    / len(string_split_regex(trim(text), '\\s+')) AS stop_ratio,
         |  CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
         |    / length(text) AS punct_ratio,
         |  0.4 * (CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x IN ($stopList))) AS DOUBLE)
         |         / len(string_split_regex(trim(text), '\\s+')))
         |  + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text))
         |  + 0.3 * least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 100.0, 1.0) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |    ${score("en")} AS s_en, ${score("de")} AS s_de,
         |    ${score("fr")} AS s_fr, ${score("es")} AS s_es,
         |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS n_cjk
         |  FROM documents)
         |SELECT lang,
         |  $langCaseSql AS pred,
         |  count(*) AS n
         |FROM scored GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,
    "q_lang_mix" ->
      s"""WITH tt AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |              x -> length(x) > 0) AS tk
         |  FROM documents),
         |c AS (SELECT doc_id,
         |  list_transform(range(0, (len(tk) + ${ChunkStride - 1}) // $ChunkStride),
         |    i -> array_to_string(
         |      tk[i*$ChunkStride+1 : i*$ChunkStride+$ChunkWidth], ' '))
         |    AS chunks
         |  FROM tt),
         |x AS (SELECT doc_id, unnest(chunks) AS ch FROM c),
         |cs AS (SELECT doc_id,
         |    ${scoreCol("ch", "en")} AS s_en, ${scoreCol("ch", "de")} AS s_de,
         |    ${scoreCol("ch", "fr")} AS s_fr, ${scoreCol("ch", "es")} AS s_es,
         |    length(regexp_replace(ch, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))
         |      AS n_cjk
         |  FROM x),
         |cp AS (SELECT doc_id, $langCaseSql AS pred FROM cs),
         |agg AS (SELECT doc_id, count(*) AS n_chunks,
         |    count(DISTINCT pred) AS n_langs
         |  FROM cp GROUP BY doc_id),
         |ds AS (SELECT doc_id,
         |    ${score("en")} AS s_en, ${score("de")} AS s_de,
         |    ${score("fr")} AS s_fr, ${score("es")} AS s_es,
         |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))
         |      AS n_cjk
         |  FROM documents)
         |SELECT ds.doc_id, $langCaseSql AS pred_doc,
         |  CAST(coalesce(agg.n_chunks, 0) AS BIGINT) AS n_chunks,
         |  CAST(coalesce(agg.n_langs, 0) AS BIGINT) AS n_langs,
         |  CAST(CASE WHEN coalesce(agg.n_langs, 0) > 1 THEN 1 ELSE 0 END
         |    AS BIGINT) AS flag_mixed
         |FROM ds LEFT JOIN agg USING (doc_id)
         |ORDER BY ds.doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  md5(text) AS fp_md5,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> length(x) > 0))), ' ')) AS fp_norm,
        |  sha256(text) AS fp_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_bigrams" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                     x -> length(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT unnest(CASE WHEN len(t) >= 2
        |    THEN list_transform(range(0, len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |    ELSE [] END) AS bigram
        |  FROM toks)
        |SELECT bigram, count(*) AS n FROM grams
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> length(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    round(tf.tf * ln(CAST(nd.nd AS DOUBLE) / df.df), 9) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN nd
        |  WHERE tf.doc_id < 20),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, tfidf
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_inverted_index" ->
      s"""WITH pairs AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                                     x -> length(x) > 0))) AS word
         |  FROM documents)
         |SELECT word, count(*) AS df,
         |  array_to_string((list_sort(list(doc_id)))[1:$PostingsCap], ',') AS postings
         |FROM pairs GROUP BY word ORDER BY word""".stripMargin,
    "q_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_types,
        |    unnest(CASE WHEN len(tk) >= 2
        |      THEN list_transform(range(0, len(tk) - 1), i -> tk[i+1] || ' ' || tk[i+2])
        |      ELSE [NULL] END) AS bg
        |  FROM toks),
        |cnt AS (
        |  SELECT doc_id, n_tokens, n_types, bg, count(*) AS c
        |  FROM bg GROUP BY doc_id, n_tokens, n_types, bg),
        |top AS (
        |  SELECT doc_id, n_tokens, n_types,
        |    max(CASE WHEN bg IS NOT NULL THEN c END) AS tbn
        |  FROM cnt GROUP BY doc_id, n_tokens, n_types)
        |SELECT doc_id, n_tokens, n_types,
        |  CASE WHEN n_tokens > 0 THEN CAST(n_types AS DOUBLE) / n_tokens END AS ttr,
        |  CAST(coalesce(tbn, 0) AS BIGINT) AS top_bigram_n,
        |  CASE WHEN n_tokens > 1
        |    THEN CAST(coalesce(tbn, 0) AS DOUBLE) / (n_tokens - 1) END AS top_bigram_frac,
        |  (coalesce(CASE WHEN n_tokens > 0 THEN CAST(n_types AS DOUBLE) / n_tokens END, 1.0) < 0.5
        |   OR coalesce(CASE WHEN n_tokens > 1
        |        THEN CAST(coalesce(tbn, 0) AS DOUBLE) / (n_tokens - 1) END, 0.0) > 0.2)
        |    AS flag_repetitive
        |FROM top ORDER BY doc_id""".stripMargin,
    "q_text_selfrepeat" -> {
      val n = SelfrepeatNgram
      val gram = (1 to n).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % $SelfrepeatPlantMod = 0
         |      THEN text || ' ' || text ELSE text END AS text
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                             x -> length(x) > 0) AS t
         |  FROM planted),
         |g AS (
         |  SELECT doc_id, CASE WHEN len(t) >= $n
         |    THEN list_transform(range(0, len(t) - ${n - 1}), i -> $gram)
         |    ELSE [] END AS g5
         |  FROM toks)
         |SELECT doc_id,
         |  CAST(len(g5) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(g5)) AS BIGINT) AS n_distinct,
         |  CASE WHEN len(g5) > 0
         |    THEN CAST(len(g5) - len(list_distinct(g5)) AS DOUBLE) / len(g5) END
         |    AS repeat_frac,
         |  coalesce(CASE WHEN len(g5) > 0
         |    THEN CAST(len(g5) - len(list_distinct(g5)) AS DOUBLE) / len(g5) END, 0.0)
         |    > 0.3 AS flag_selfrepeat
         |FROM g ORDER BY doc_id""".stripMargin
    },
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                             x -> length(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
        |    THEN list_transform(range(0, len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |    ELSE [] END) AS bg
        |  FROM toks),
        |w AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bg),
        |bgc AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY bg),
        |w1c AS (SELECT w1, count(*) AS c_w1 FROM w GROUP BY w1),
        |v AS (SELECT count(DISTINCT w2) AS v
        |      FROM (SELECT unnest(t) AS w2 FROM toks)),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    round(avg(ln(CAST(c_bg + 1 AS DOUBLE) / (c_w1 + v))), 9) AS avg_logp
        |  FROM w JOIN bgc USING (bg) JOIN w1c USING (w1) CROSS JOIN v
        |  GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, avg_logp,
        |  round(exp(-avg_logp), 6) AS ppl
        |FROM scored ORDER BY doc_id""".stripMargin,
    "q_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                             x -> length(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_transform(
        |    list_distinct(CASE WHEN len(t) >= 3
        |      THEN list_transform(range(0, len(t) - 2),
        |             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |      ELSE [] END),
        |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS h
        |  FROM toks),
        |first AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h)
        |SELECT sh.doc_id,
        |  count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS novelty
        |FROM sh JOIN first USING (h)
        |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,
    "q_text_redact" -> {
      val plantedSql =
        """text || ' contact user' || doc_id || '@example.com call 555-123-' ||
          |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
          |  ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)""".stripMargin
      s"""WITH planted AS (SELECT doc_id, $plantedSql AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$IpRe')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$EmailRe', '[EMAIL]', 'g'),
         |    '$PhoneRe', '[PHONE]', 'g'),
         |    '$IpRe', '[IP]', 'g')) AS redacted_md5
         |FROM planted ORDER BY doc_id""".stripMargin
    },
    "q_grep" ->
      s"""WITH m AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(text, '$GrepPattern')) AS BIGINT) AS m
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matching_docs,
         |  CAST(sum(m) AS BIGINT) AS n_matches
         |FROM m GROUP BY source ORDER BY source""".stripMargin
  )
}
