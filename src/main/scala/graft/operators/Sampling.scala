package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Reproducible sampling and dataset-split assignment over `documents` —
  * the training-pipeline primitives a 100 TB corpus needs to be carved
  * deterministically:
  *
  *   - content-independent hash-mod sampling (NOT `df.sample`, whose
  *     output depends on partitioning and row order — useless as a stable
  *     contract across engines, re-runs, or backfills);
  *   - train/val/test assignment by hash range, so a document's split is
  *     a pure function of its id — stable under corpus growth, shard
  *     moves, and engine swaps.
  *
  * Both derive a bucket from `md5(doc_id)` (60-bit hex prefix, the same
  * cross-engine trick the dedup sketches use): one narrow scan, the
  * filter/assignment is a row-local codegen'd expression, zero shuffle
  * for the sample and a 3-group aggregate for the split stats.
  */
object Sampling {

  /** 1-in-SampleMod deterministic sample. */
  val SampleMod = 20

  /** md5-prefix bucket in [0, mod): engine-portable (md5 is md5
    * everywhere; 15 hex chars = 60 bits fits a long exactly).
    */
  private[graft] def hashBucket(key: Column, mod: Int): Column =
    graft.functions.SketchExpressions
      .md5Prefix60Long(key.cast("string")) % mod

  private[graft] def bucketSql(key: String, mod: Int): String =
    s"('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 15))::BIGINT % $mod"

  /** The train/val/test assignment rule of [[qSplitAssign]] as a reusable
    * row-local label — shared with the split-leakage audit
    * ([[Dedup.qSplitLeakage]]) so both sides of "does a near-dup pair
    * straddle the split?" use the one rule.
    */
  private[graft] def splitLabel(id: Column): Column = {
    val b = hashBucket(id, 100)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** DuckDB twin of [[splitLabel]]. */
  private[graft] def splitLabelSql(key: String): String =
    s"""CASE WHEN ${bucketSql(key, 100)} < 80 THEN 'train'
       |     WHEN ${bucketSql(key, 100)} < 90 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** Reproducible 1-in-20 sample: membership is a pure function of
    * doc_id. The filter never touches `text`, so the scan reads only the
    * projected columns (check ReadSchema).
    */
  def qSampleHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(hashBucket(col("doc_id"), SampleMod) === 0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Train/val/test split by hash range (80/10/10) with per-split
    * corpus stats — the assignment every sharded training job re-derives
    * identically with no coordination.
    */
  def qSplitAssign(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(
        splitLabel(col("doc_id")).as("split"),
        col("lang"), col("n_chars"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"))
  }

  /** Per-language sampling rates for [[qSampleStratified]], as 1-in-N mods
    * (en kept sparsely, low-resource langs kept densely) — the language
    * rebalancing step of corpus construction.
    */
  val StratModsByLang: Seq[(String, Int)] =
    Seq("en" -> 20, "de" -> 5, "fr" -> 5, "es" -> 2, "zh" -> 1)
  /** Mod for languages not listed. */
  val StratDefaultMod = 10

  /** Stratified deterministic sample: per-language 1-in-N hash-mod
    * membership, summarized per language (count kept + exact expected
    * membership check stays row-local; no per-stratum pass over the
    * corpus — ONE scan, the rate lookup is a CASE on `lang`).
    */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val mod = StratModsByLang.foldRight(lit(StratDefaultMod)) {
      case ((l, m), acc) => when(col("lang") === l, m).otherwise(acc)
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), mod.as("mod"))
      .filter(hashBucket(col("doc_id"), 10000) % col("mod") === 0)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_kept"),
        min(col("doc_id")).as("first_doc"),
        sum(col("n_chars")).cast("long").as("kept_chars"))
      .orderBy(col("lang"))
  }

  /** Per-source target retention percentages for [[qSourceMix]] — the
    * editorial knob of corpus construction (curated sources kept whole,
    * crawl-grade sources downsampled). Integer percents so the kept-token
    * budget stays exact integer arithmetic on both engines.
    */
  val MixPctBySource: Seq[(String, Int)] =
    Seq("src0" -> 100, "src1" -> 50, "src2" -> 10)
  /** Retention percent for sources not listed. */
  val MixDefaultPct = 25

  /** Source-mix reweighting: per-source document/token inventory joined
    * with the target retention rates into kept-token budgets — the report
    * that decides what a sampling pass must keep per source. ONE scan of
    * (source, text) + a #sources-sized aggregate; the rate lookup is a
    * row-local CASE, and the budget is integer arithmetic (pct/100 with
    * `div`), exact at any corpus size.
    */
  def qSourceMix(s: SparkSession, dir: String): DataFrame = {
    val pct = MixPctBySource.foldRight(lit(MixDefaultPct)) {
      case ((src, p), acc) => when(col("source") === src, p).otherwise(acc)
    }
    Tables.documents(s, dir)
      .select(col("source"),
        graft.functions.TextFunctions.wsTokenCount(col("text")).as("tk"),
        pct.cast("long").as("pct"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tk")).as("total_tokens"),
        max(col("pct")).as("target_pct"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("target_pct"),
        expr("(total_tokens * target_pct) div 100").as("kept_tokens"))
      .orderBy(col("source"))
  }

  /** Quality bands → 1-in-N keep rates for [[qQualitySample]]: high-quality
    * documents kept whole, low-quality heavily downsampled — the
    * quality-weighted retention step between scoring and training-set
    * assembly.
    */
  val QualityHigh = 0.7
  val QualityMid = 0.5
  val QualityMods: (Int, Int, Int) = (1, 2, 10) // high, mid, low

  /** Quality-weighted deterministic sampling: band each document by its
    * quality score ([[graft.functions.TextFunctions.qualityScore]] — the
    * same expression q_text_quality hash-matches against DuckDB, so band
    * assignment is cross-engine exact), then keep 1-in-N by hash-mod with
    * a per-band N. ONE scan: score, band, membership, and the kept-token
    * sum are all row-local; the aggregate is 3 groups.
    */
  def qQualitySample(s: SparkSession, dir: String): DataFrame = {
    val q = graft.functions.TextFunctions.qualityScore(col("text"))
    val (hi, mid, lo) = QualityMods
    val band = when(q >= QualityHigh, "high")
      .when(q >= QualityMid, "mid").otherwise("low")
    val mod = when(q >= QualityHigh, hi).when(q >= QualityMid, mid).otherwise(lo)
    val kept = hashBucket(col("doc_id"), 10000) % mod === 0
    Tables.documents(s, dir)
      .select(
        band.as("band"),
        kept.as("kept"),
        graft.functions.TextFunctions.wsTokenCount(col("text")).as("tk"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("tk")).otherwise(0L)).as("kept_tokens"))
      .orderBy(col("band"))
  }

  /** Context-window length (tokens) for [[qPack]] — small enough that the
    * synthetic corpus produces multi-pack streams at every SF.
    */
  val PackCtxLen = 512L
  /** Per-source stream shards for [[qPack]]: each (source, shard) stream
    * packs independently, so parallelism scales with shard count, not
    * source count. This is the ORACLE DEFAULT (baked into the oracle SQL —
    * changing it moves every pack hash); production callers size shards to
    * the corpus via [[autoShards]] and pass the result to
    * [[packInventory]]/[[packAssignment]]/[[packFit]] — per-stream window
    * length, not a constant, is what must stay bounded at 100 TB.
    */
  val PackShards = 8

  /** Documents per (source, shard) stream a single window-partition task
    * should own. ~1M rows of (id, count) per task is minutes of work; at
    * 100 TB / ~10¹⁰ docs and one source this yields ~10⁴ shards — 10⁴-way
    * packing parallelism instead of [[PackShards]]=8 single-task streams.
    */
  val PackTargetDocsPerStream = 1L << 20

  /** Shard count for a corpus of `docCount` documents over its largest
    * source: enough shards that no stream exceeds `targetPerStream`
    * documents, never fewer than the oracle default (so tiny corpora keep
    * multi-stream behavior exercised).
    */
  def autoShards(
      docCount: Long,
      targetPerStream: Long = PackTargetDocsPerStream): Int = {
    require(targetPerStream > 0, "targetPerStream must be positive")
    val needed = (docCount + targetPerStream - 1) / targetPerStream
    math.max(PackShards.toLong, needed).min(Int.MaxValue).toInt
  }

  /** Sequence packing: concatenate each (source, shard) document stream in
    * doc_id order and cut it into [[PackCtxLen]]-token training sequences
    * (the concat-and-chunk packing LM pipelines use — no per-document
    * padding, documents may span a boundary). The running token offset is
    * ONE window over (source, shard) — the only shuffle — and every stream
    * packs independently, so at 100 TB parallelism is #sources × #shards
    * and no stream needs global coordination. Report per source: document
    * and token inventory, pack count (= Σ per-stream ⌈tokens/ctx⌉), and
    * how many documents straddle a pack boundary (expected fraction ≈
    * mean_doc_tokens / ctx — the attention-mask fragmentation cost).
    */
  def qPack(s: SparkSession, dir: String): DataFrame =
    packInventory(s, dir, PackShards)

  /** [[qPack]] parameterized on stream shard count — see [[autoShards]] —
    * and on the token-count column (`tk`): the regex PROXY by default,
    * real trained-BPE counts from [[Bpe.qPackBpe]].
    */
  private[graft] def packInventory(
      s: SparkSession, dir: String, shards: Int,
      tk: Column = graft.functions.TextFunctions.bpeTokenCount(col("text")))
      : DataFrame = {
    val docs = Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      hashBucket(col("doc_id"), shards).as("shard"),
      tk.cast("long").as("tk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .withColumn("seq_end", sum(col("tk")).over(w))
      .withColumn("spans",
        col("tk") > 0 &&
          expr(s"((seq_end - tk) div $PackCtxLen) != ((seq_end - 1) div $PackCtxLen)"))
      .groupBy(col("source"), col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tk")).as("tokens"),
        sum(when(col("spans"), 1L).otherwise(0L)).as("n_spanning"))
      .withColumn("n_packs", expr(s"(tokens + ${PackCtxLen - 1}) div $PackCtxLen"))
      .groupBy(col("source"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("tokens")).as("total_tokens"),
        sum(col("n_packs")).as("n_packs"),
        sum(col("n_spanning")).as("n_spanning"))
      .orderBy(col("source"))
  }

  /** Per-document pack ASSIGNMENT for [[qPack]]'s concat-and-chunk layout —
    * the consumable product (which training sequence holds each document),
    * not just the inventory report: stream-local pack index and token
    * offset, from the same single window. A training-data writer would
    * `partitionBy(source, shard)` this and write sequences; the sample here
    * is bounded to the first documents per stream so the result stays a
    * report (the full assignment is the same plan minus the filter).
    */
  def qPackIds(s: SparkSession, dir: String): DataFrame =
    packAssignment(s, dir, PackShards)
      // bounded REPORT rows only — the full assignment is the product; this
      // filter (mirrored in the oracle SQL) just keeps the gate row set
      // small, and sits above the full-corpus window on purpose
      .filter(col("doc_id") < 100)
      .orderBy(col("doc_id"))

  /** [[qPackIds]] parameterized on stream shard count, unfiltered: the
    * full per-document assignment a sequence writer would materialize.
    */
  private[graft] def packAssignment(
      s: SparkSession, dir: String, shards: Int): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      hashBucket(col("doc_id"), shards).as("shard"),
      graft.functions.TextFunctions.bpeTokenCount(col("text")).cast("long").as("tk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .withColumn("seq_end", sum(col("tk")).over(w))
      .select(col("doc_id"), col("source"), col("shard"), col("tk"),
        (col("seq_end") - col("tk")).as("seq_start"),
        expr(s"(seq_end - tk) div $PackCtxLen").as("pack_id"))
  }

  /** Per-(source, shard) stream totals of next-fit packing, emitted by the
    * [[qPackFit]] state machine.
    */
  private[operators] final case class PackedStream(
      source: String, shard: Long, n_docs: Long, total: Long, kept: Long,
      dropped: Long, packs: Long, padding: Long)

  /** NO-SPLIT sequence packing (next-fit): documents never straddle a
    * context window — a doc that doesn't fit the current pack's remainder
    * closes it (remainder becomes PADDING) and opens the next; a doc longer
    * than the window is truncated to it (overflow becomes DROPPED tokens).
    * This is the packing used when attention must not cross document
    * boundaries; the padding/dropped columns are exactly the efficiency
    * price versus [[qPack]]'s concat-and-chunk (zero padding, boundary
    * crossings instead).
    *
    * The pack assignment is a sequential recurrence over each stream
    * (current fill decides the next doc's fate — not expressible as a
    * window function, which cannot fold state forward with resets), so this
    * is the one place the module drops to `mapPartitions`: streams are
    * repartitioned to their (source, shard) key and sorted within
    * partitions, the state machine walks each stream contiguously, and
    * across streams the work stays embarrassingly parallel — per-stream
    * sequentiality is inherent to the operator, not a plan artifact. Emits
    * one summary row per stream (bounded), then a #sources-sized aggregate.
    */
  def qPackFit(s: SparkSession, dir: String): DataFrame =
    packFit(s, dir, PackShards)

  /** [[qPackFit]] parameterized on stream shard count — see [[autoShards]]. */
  private[graft] def packFit(
      s: SparkSession, dir: String, shards: Int): DataFrame = {
    import s.implicits._
    val ctx = PackCtxLen
    Tables.documents(s, dir)
      .select(
        col("source"),
        hashBucket(col("doc_id"), shards).as("shard"),
        col("doc_id"),
        graft.functions.TextFunctions.bpeTokenCount(col("text")).cast("long").as("tk"))
      .repartition(col("source"), col("shard"))
      .sortWithinPartitions(col("source"), col("shard"), col("doc_id"))
      .as[(String, Long, Long, Long)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[PackedStream]
        var cur: (String, Long) = null
        var fill, packs, padding, dropped, kept, total, nDocs = 0L
        def close(): Unit = if (cur != null)
          out += PackedStream(cur._1, cur._2, nDocs, total, kept, dropped,
            packs, padding + (ctx - fill))
        it.foreach { case (src, shard, _, tk) =>
          if (cur == null || cur != ((src, shard))) {
            close()
            cur = (src, shard)
            fill = 0L; packs = 0L; padding = 0L; dropped = 0L
            kept = 0L; total = 0L; nDocs = 0L
          }
          val eff = math.min(tk, ctx)
          if (packs == 0L) { packs = 1L; fill = eff }
          else if (fill + eff > ctx) { packs += 1; padding += ctx - fill; fill = eff }
          else fill += eff
          nDocs += 1; total += tk; kept += eff; dropped += tk - eff
        }
        close()
        out.iterator
      }
      .groupBy(col("source"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("packs")).as("n_packs"),
        sum(col("total")).as("total_tokens"),
        sum(col("kept")).as("kept_tokens"),
        sum(col("dropped")).as("dropped_tokens"),
        sum(col("padding")).as("padding_tokens"))
      .orderBy(col("source"))
  }

  /** DSIR hashed-feature space: word bigrams folded into this many
    * buckets. 1024 keeps the bucket table broadcast-trivial while leaving
    * ~2 docs/bucket of resolution at sf0.01; real deployments use 10⁴–10⁵
    * (Xie et al. 2023 use 10⁴) — the plan shape is bucket-count-invariant.
    */
  val DsirBuckets = 1024

  /** DSIR target distribution: English documents (language-targeted
    * selection — the most common curation use of importance resampling).
    */
  val DsirTargetLang = "en"

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score each
    * raw document by how much more likely its hashed-bigram bag is under a
    * TARGET distribution (here `lang = 'en'`) than under the RAW corpus
    * distribution. Features are word bigrams hashed into [[DsirBuckets]]
    * buckets (60-bit md5, the engine-portable trick); both distributions
    * are add-1-smoothed bucket unigram models, so
    * `log λ(doc) = Σ_feats [ln p̂_T(b) − ln p̂_R(b)]`.
    *
    * Exactness contract: bucket counts and totals are exact integers; the
    * per-BUCKET log-ratio is rounded once to 9 decimals and carried as a
    * ppb-scaled BIGINT, so the per-DOC sum is an exact integer sum —
    * order-independent under any shuffle/merge order (a raw double sum
    * over thousands of features would be summation-order-sensitive).
    *
    * Scale shape: one explode → one [[DsirBuckets]]-sized aggregation
    * (map-side partial) builds both distributions in a single pass
    * (conditional sum for the target side); the scoring pass joins the
    * exploded features against the BROADCAST bucket table and reduces by
    * doc_id — corpus-linear, one 8-byte-key shuffle per pass, no
    * vocabulary-sized shuffle anywhere. At 100 TB, persist the exploded
    * feature table (or re-derive it — the two passes here mirror
    * [[graft.operators.TextAnalysis.qLmScore]]'s accepted recompute).
    */
  def qDsir(s: SparkSession, dir: String): DataFrame = {
    val tk = filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0)
    val feats = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(
        graft.functions.SketchExpressions.md5Prefix60(
          graft.functions.SketchExpressions.wordNGrams(tk, 2, distinct = false)))
        .as("h"))
      .select(col("doc_id"), col("lang"),
        (col("h") % DsirBuckets).as("b"))
    val counts = feats.groupBy(col("b")).agg(
      count(lit(1)).as("c_raw"),
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("c_t"))
    val totals = counts.agg(
      sum(col("c_raw")).as("tot_r"), sum(col("c_t")).as("tot_t"))
    // constants combine at runtime (lit + lit), oracle mirrors the IEEE tree
    val bD = lit(DsirBuckets.toDouble)
    val llr = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        round((log(col("c_t") + lit(1.0)) - log(col("tot_t") + bD)
          - (log(col("c_raw") + lit(1.0)) - log(col("tot_r") + bD))) * lit(1.0e9))
          .cast("long").as("llr_ppb"))
    feats
      .join(broadcast(llr), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("llr_ppb")).as("w_ppb"))
      .select(col("doc_id"), col("n_feats"), col("w_ppb"),
        (col("w_ppb").cast("double") / lit(1.0e9)).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Curriculum deciles WITHOUT a global sort — the scalable `ntile`
    * replacement for bounded-integer columns: `ntile(10) OVER (ORDER BY
    * n_chars)` funnels the corpus through one task (the round-5 weak
    * class); instead, EXACT decile boundaries come from the value
    * HISTOGRAM — n_chars is integer-valued with a bounded domain, so
    * `groupBy(value).count()` has ≤|domain| output rows, the cumulative
    * walk over them is a bounded driver roundtrip (the k-means/BPE
    * class), and assignment is a 9-term row-local comparison against the
    * broadcast boundary literals. boundary b_k = min{v : cum(v) ≥
    * ⌈k·N/10⌉}; decile(v) = #{k : v > b_k} — ties share a decile on both
    * engines by construction (no ntile row-splitting arbitrariness,
    * which is also what makes the result engine-portable at all). Output
    * mirrors what a curriculum loader consumes: per decile, the doc
    * count and char-mass envelope.
    */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // asserted domain bound (see TextAnalysis.MaxHistDomain): the collect
    // is only safe while |n_chars domain| stays bounded, so a breach is a
    // loud requirement failure, not a driver OOM
    val hist = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      .limit(TextAnalysis.MaxHistDomain + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(hist.length <= TextAnalysis.MaxHistDomain,
      s"curriculum histogram exceeds ${TextAnalysis.MaxHistDomain} distinct " +
        "n_chars values; switch to the KLL sketch path for unbounded domains")
    val n = hist.map(_._2).sum
    val cum = hist.scanLeft((0L, 0L)) { case ((_, acc), (v, c)) => (v, acc + c) }.drop(1)
    val bounds = (1 to 9).map { k =>
      val need = (k * n + 9) / 10
      cum.find(_._2 >= need).get._1
    }
    val decile = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col("n_chars") > b, 1L).otherwise(0L)
    }
    docs
      .select(col("n_chars"), decile.as("decile"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("decile"))
  }

  /** Budget fraction for [[qBudgetAlloc]] (percent of total corpus
    * chars): high enough that the small languages SATURATE (keep all
    * their data) while the dominant one is rationed — the interesting
    * branch of the waterfill at every SF of the proportion-stable
    * corpus.
    */
  val AllocPct = 80

  /** Char-budget allocation across languages by EXACT integer
    * waterfilling — the "data mixing recipe" computation behind every
    * budgeted training run: give each language an equal share of the
    * budget, cap a language at what it actually has (saturation), and
    * re-distribute the slack to the rest. The equal-weight waterfill has
    * a CLOSED FORM (no iteration): sorted by availability ascending, the
    * saturated set is a prefix, and the first unsaturated index k is the
    * first row where avail·(remaining rows) exceeds the remaining
    * budget; everyone from k on shares the remainder by integer division
    * with the leftover distributed one char each in the same sort order
    * (largest-remainder apportionment, deterministic). One corpus
    * aggregation produces the |langs|-row frame; every window after it
    * runs on that bounded frame. All arithmetic is BIGINT — identical
    * allocations on both engines at any scale.
    */
  def qBudgetAlloc(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("available"), col("lang"))
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("available"))
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("prefix",
        sum(col("available")).over(w.rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(W.partitionBy()))
      .withColumn("budget",
        expr(s"(sum(available) OVER () * $AllocPct) div 100"))
      .withColumn("rem_before",
        col("budget") - (col("prefix") - col("available")))
      .withColumn("unsat",
        col("available") * (col("n") - col("idx") + 1L) > col("rem_before"))
      .withColumn("k",
        min(when(col("unsat"), col("idx"))).over(W.partitionBy()))
      .withColumn("rbase",
        min(when(col("idx") === col("k"), col("rem_before")))
          .over(W.partitionBy()))
      .withColumn("m_unsat", col("n") - col("k") + 1L)
      .withColumn("allocated",
        when(col("k").isNull || col("idx") < col("k"), col("available"))
          .otherwise(expr("rbase div m_unsat") +
            when(col("idx") - col("k") < col("rbase") % col("m_unsat"), 1L)
              .otherwise(0L)))
      .withColumn("saturated",
        when(col("k").isNull || col("idx") < col("k"), 1L).otherwise(0L))
      .select(col("lang"), col("available"), col("allocated"),
        col("saturated"))
      .orderBy(col("lang"))
  }

  /** Weighted-waterfill mix weights: English 2, every other language 1
    * (an English-leaning recipe). At the corpus' proportions this lands
    * in the MIXED branch — the smallest tail language saturates, the
    * rest share by weight after one redistribution — the case the
    * closed form must get right beyond [[qBudgetAlloc]]'s all-tails-
    * saturate outcome.
    */
  val AllocWEn = 2L

  /** WEIGHTED waterfill — the general data-mixing recipe: language i
    * targets budget·w_i/Σw, capped at availability, slack
    * re-distributed by weight. The closed form survives weighting: under
    * the avail/weight sort (exact integer key available·Σw/w — weights
    * divide the scale factor, so no rationals), the saturated set is
    * still a prefix, and the first unsaturated index k is the first row
    * where avail·(suffix weight sum) exceeds (remaining budget)·w —
    * cross-multiplied BIGINT, no division until the final shares. The
    * remainder of the integer-division shares is spread one char each in
    * sort order (largest-remainder, deterministic), so Σ allocated =
    * min(budget, total available) EXACTLY. Same bounded-frame shape as
    * [[qBudgetAlloc]]: one corpus aggregation, windows over |langs|
    * rows.
    */
  def qBudgetAllocW(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("skey"), col("lang"))
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("available"))
      .withColumn("wt", when(col("lang") === "en", lit(AllocWEn))
        .otherwise(lit(1L)))
      // exact integer sort key ∝ available/wt (AllocWEn divides the scale)
      .withColumn("skey", expr(s"(available * $AllocWEn) div wt"))
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("prefix_avail",
        sum(col("available")).over(w.rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("suffix_w",
        sum(col("wt")).over(w.rowsBetween(0, W.unboundedFollowing)))
      .withColumn("budget",
        expr(s"(sum(available) OVER () * $AllocPct) div 100"))
      .withColumn("rem_before",
        col("budget") - (col("prefix_avail") - col("available")))
      .withColumn("unsat",
        col("available") * col("suffix_w") > col("rem_before") * col("wt"))
      .withColumn("k",
        min(when(col("unsat"), col("idx"))).over(W.partitionBy()))
      .withColumn("rr",
        min(when(col("idx") === col("k"), col("rem_before")))
          .over(W.partitionBy()))
      .withColumn("wsum",
        min(when(col("idx") === col("k"), col("suffix_w")))
          .over(W.partitionBy()))
      .withColumn("base",
        when(col("k").isNull || col("idx") < col("k"), col("available"))
          .otherwise(expr("(rr * wt) div wsum")))
      .withColumn("leftover",
        col("rr") - sum(when(col("idx") >= col("k"), col("base")))
          .over(W.partitionBy()))
      .withColumn("allocated",
        when(col("k").isNull || col("idx") < col("k"), col("available"))
          .otherwise(col("base") +
            when(col("idx") - col("k") < col("leftover"), 1L).otherwise(0L)))
      .withColumn("saturated",
        when(col("k").isNull || col("idx") < col("k"), 1L).otherwise(0L))
      .select(col("lang"), col("available"), col("wt").as("weight"),
        col("allocated"), col("saturated"))
      .orderBy(col("lang"))
  }

  /** Sampling budget distributed by [[qMixtureAlloc]]. */
  val MixBudget = 1000000L

  /** Temperature-flattened mixture allocation — the domain-weighting
    * step of multi-source training-data assembly (sample source i with
    * weight ∝ n_i^τ, τ < 1, so low-resource sources are boosted relative
    * to proportional sampling; the multilingual-LM convention). τ = 1/2
    * keeps everything EXACT-INTEGER: the weight is isqrt(n_chars) — a
    * float sqrt corrected by one integer comparison each way, so both
    * engines agree on the floor for any BIGINT — and the budget split is
    * floor(B·w_i/W) plus largest-remainder top-ups ranked by the integer
    * remainder B·w_i mod W (deficit D = B − Σfloor top-ups, ties to the
    * smaller source name). No IEEE summation-order hazard anywhere: the
    * only division is integral. The per-source frame is |sources|-sized,
    * so the ranking window is a bounded-frame walk, not a corpus funnel.
    */
  def qMixtureAlloc(s: SparkSession, dir: String): DataFrame = {
    val masses = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    // corrected isqrt: exact floor(sqrt(x)) for any BIGINT despite the
    // double-rounding of sqrt (the correction is ±1 at most)
    val s0 = floor(sqrt(col("n_chars").cast("double"))).cast("long")
    val w = when((s0 + 1) * (s0 + 1) <= col("n_chars"), s0 + 1)
      .when(s0 * s0 > col("n_chars"), s0 - 1)
      .otherwise(s0)
    val weighted = masses.withColumn("w", w)
    val totals = weighted.agg(sum(col("w")).as("tw"))
    val W = org.apache.spark.sql.expressions.Window
    val rk = W.orderBy(
      (col("w") * MixBudget % col("tw")).desc, col("source"))
    weighted.crossJoin(broadcast(totals))
      .withColumn("base", expr(s"w * ${MixBudget}L div tw"))
      .withColumn("deficit",
        lit(MixBudget) - sum(col("base")).over(W.partitionBy()))
      .withColumn("idx", row_number().over(rk).cast("long"))
      .select(col("source"), col("n_docs"), col("n_chars"), col("w"),
        (col("base") +
          when(col("idx") <= col("deficit"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("source"))
  }

  /** Bootstrap replicate count. */
  val BootB = 200

  /** Tail rank of the 95% interval: the [[BootTailRank]]-th smallest /
    * largest replicate mean (2.5% of [[BootB]]).
    */
  val BootTailRank = 5

  /** Cumulative Poisson(1) inverse-CDF thresholds, ppm-floored: weight k
    * is drawn when the 60-bit hash folded to [0,10⁶) falls below the k-th
    * threshold (k > 7 collapses to 8 — P ≈ 10⁻⁵). Computed once here and
    * inlined as the SAME literals into the Spark when-chain and the
    * oracle CASE, so no cross-engine exp/factorial is ever compared.
    */
  private[graft] val BootCumPpm: Seq[Long] = {
    val fact = (0 to 7).scanLeft(1L)((a, k) => a * (k + 1)).init
    fact.map(f => math.exp(-1.0) / f)
      .scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(1e6 * c).toLong)
  }

  /** Poisson bootstrap confidence interval for the corpus mean document
    * length — THE resampling scheme that works at 100 TB (Chamandy et al.,
    * "Estimating uncertainty for massive data streams", Google 2012):
    * classical bootstrap resampling needs the whole sample per replicate;
    * Poisson bootstrap replaces it with an independent per-(row, replicate)
    * Poisson(1) weight, so all [[BootB]] replicates ride ONE corpus pass
    * that partial-aggregates map-side to B groups. Weights are drawn by
    * deterministic inverse-CDF over the engine-portable 60-bit md5 hash
    * ([[BootCumPpm]]); per-replicate sums are exact BIGINTs; each replicate
    * mean and the interval endpoints are single IEEE divisions / order
    * statistics of those exact sums — bit-identical across engines (no
    * variance accumulation, no float sums). The interval is the 2.5%/97.5%
    * rank pair over the B replicate means.
    */
  def qBootstrap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val u = graft.functions.SketchExpressions.md5Prefix60Long(concat(
      col("doc_id").cast("string"),
      lit("#boot"), col("b").cast("string"))) % 1000000L
    val w = BootCumPpm.zipWithIndex.reverse
      .foldLeft(lit(8L): Column) { case (acc, (c, k)) =>
        when(col("u") < c, lit(k.toLong)).otherwise(acc)
      }
    val rep = docs
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .withColumn("u", u)
      .select(col("b"), w.as("w"), col("n_chars"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("sum_w"),
        sum(col("w") * col("n_chars")).as("sum_wx"))
    // BOTH interval endpoints from ONE pass: the k-th smallest / largest
    // of the B replicate means are positions in one sorted B-element
    // array (identical values to the order-limit rank pair, tie-or-not),
    // so the explode+aggregate subtree evaluates once instead of once
    // per endpoint (the double-evaluation fix class, measured 1.5 s →
    // ~0.8 s steady at sf0.1)
    val ci = rep
      .select((col("sum_wx").cast("double") / col("sum_w").cast("double"))
        .as("m"))
      .agg(sort_array(collect_list(col("m"))).as("ms"))
      .select(element_at(col("ms"), BootTailRank).as("ci_lo"),
        element_at(col("ms"), -BootTailRank).as("ci_hi"))
    val base = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sx"))
    base.crossJoin(broadcast(ci))
      .select(col("n_docs"),
        (col("sx").cast("double") / col("n_docs").cast("double")).as("mean"),
        lit(BootB.toLong).as("n_boot"), col("ci_lo"), col("ci_hi"))
  }

  /** Poisson bootstrap for a NON-MEAN statistic — the ratio of the
    * English-doc mean length to the corpus mean length (the relative-
    * length readout a mixture tuner reads next to [[qMixtureAlloc]]).
    * Same one-pass Chamandy scheme as [[qBootstrap]] (independent salt,
    * `#bratio`), extended by CONDITIONAL sums: each replicate group
    * carries (Σw, Σwx, Σw·1[en], Σwx·1[en]) as exact BIGINTs, so ANY
    * algebraic functional of subgroup sums rides the same single corpus
    * pass — the replicate statistic here is three IEEE divisions of
    * exact integers in a fixed parenthesization, bit-identical across
    * engines. Replicates where the en-subgroup draws zero total weight
    * are dropped on BOTH sides (deterministic, P ≈ e^{-n_en}); the CI is
    * the same 2.5%/97.5% rank pair. Closes the round-8 opportunity
    * "bootstrap for non-mean statistics" (docs/HISTORY.md, last section).
    */
  def qBootstrapRatio(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), (col("lang") === "en").as("is_en"))
    val u = graft.functions.SketchExpressions.md5Prefix60Long(concat(
      col("doc_id").cast("string"),
      lit("#bratio"), col("b").cast("string"))) % 1000000L
    val w = BootCumPpm.zipWithIndex.reverse
      .foldLeft(lit(8L): Column) { case (acc, (c, k)) =>
        when(col("u") < c, lit(k.toLong)).otherwise(acc)
      }
    val rep = docs
      .select(col("doc_id"), col("n_chars"), col("is_en"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .withColumn("u", u)
      .select(col("b"), w.as("w"), col("n_chars"), col("is_en"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("sum_w"),
        sum(col("w") * col("n_chars")).as("sum_wx"),
        sum(when(col("is_en"), col("w")).otherwise(0L)).as("sum_w_en"),
        sum(when(col("is_en"), col("w") * col("n_chars")).otherwise(0L))
          .as("sum_wx_en"))
      .filter(col("sum_w_en") > 0L && col("sum_w") > 0L)
    // one-pass rank pair off the sorted replicate array (see qBootstrap)
    val ci = rep
      .select(((col("sum_wx_en").cast("double") /
        col("sum_w_en").cast("double")) /
        (col("sum_wx").cast("double") / col("sum_w").cast("double"))).as("m"))
      .agg(sort_array(collect_list(col("m"))).as("ms"))
      .select(element_at(col("ms"), BootTailRank).as("ci_lo"),
        element_at(col("ms"), -BootTailRank).as("ci_hi"))
    val base = docs.agg(
      sum(when(col("is_en"), 1L).otherwise(0L)).as("n_en"),
      count(lit(1)).as("n_docs"),
      sum(when(col("is_en"), col("n_chars")).otherwise(0L)).as("sx_en"),
      sum(col("n_chars")).as("sx"))
    base.crossJoin(broadcast(ci))
      .select(col("n_en"), col("n_docs"),
        ((col("sx_en").cast("double") / col("n_en").cast("double")) /
          (col("sx").cast("double") / col("n_docs").cast("double")))
          .as("ratio"),
        lit(BootB.toLong).as("n_boot"), col("ci_lo"), col("ci_hi"))
  }

  /** Poisson bootstrap for an ORDER STATISTIC — a CI for the corpus
    * median length, the case the replicate-sums trick of
    * [[qBootstrapRatio]] cannot express. Each replicate's exact lower
    * weighted median (the [[TextAnalysis.qRobustStats]] convention:
    * smallest v with cumweight ≥ ⌈W/2⌉) comes from ONE
    * (replicate, value)-keyed aggregation over the same single corpus
    * pass — ≤ B·|domain| rows, the bounded-domain histogram pattern —
    * walked by a replicate-partitioned cumulative window, so no
    * per-replicate sort of the corpus ever happens. Every output is an
    * exact BIGINT (medians of an integer domain; the CI is the
    * 2.5%/97.5% rank pair over B exact medians) — zero float surface.
    * Salt `#bmed` keeps the draw independent of the other bootstrap
    * queries. At an unbounded value domain the histogram leg switches
    * to per-replicate KLL sketches ([[TextAnalysis.MaxHistDomain]]
    * rationale).
    */
  def qBootstrapMedian(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val u = graft.functions.SketchExpressions.md5Prefix60Long(concat(
      col("doc_id").cast("string"),
      lit("#bmed"), col("b").cast("string"))) % 1000000L
    val w = BootCumPpm.zipWithIndex.reverse
      .foldLeft(lit(8L): Column) { case (acc, (c, k)) =>
        when(col("u") < c, lit(k.toLong)).otherwise(acc)
      }
    val W = org.apache.spark.sql.expressions.Window
    val byB = W.partitionBy(col("b"))
    val meds = docs
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .withColumn("u", u)
      .select(col("b"), w.as("w"), col("n_chars"))
      .groupBy(col("b"), col("n_chars"))
      .agg(sum(col("w")).as("sw"))
      .filter(col("sw") > 0L)
      .withColumn("cum", sum(col("sw"))
        .over(byB.orderBy(col("n_chars"))
          .rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("sw")).over(byB))
      .filter(col("cum") >= expr("(tot + 1) div 2"))
      .groupBy(col("b")).agg(min(col("n_chars")).as("med"))
    // one-pass rank pair off the sorted replicate array (see qBootstrap)
    val ci = meds
      .agg(sort_array(collect_list(col("med"))).as("ms"))
      .select(element_at(col("ms"), BootTailRank).as("ci_lo"),
        element_at(col("ms"), -BootTailRank).as("ci_hi"))
    // population lower median off the unweighted histogram — the global
    // window walks the ≤|domain|-row frame, not the corpus
    val base = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c"))
        .over(W.orderBy(col("n_chars"))
          .rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("c")).over(W.partitionBy()))
      .filter(col("cum") >= expr("(tot + 1) div 2"))
      .agg(max(col("tot")).as("n_docs"), min(col("n_chars")).as("median"))
    base.crossJoin(broadcast(ci))
      .select(col("n_docs"), col("median"),
        lit(BootB.toLong).as("n_boot"), col("ci_lo"), col("ci_hi"))
  }

  /** Poisson bootstrap for a REGRESSION COEFFICIENT — a CI for the OLS
    * slope of document length (chars) on whitespace-token count, closing
    * the last replicate-statistic class the round-8 verdict named (the
    * algebraic / ratio / order-statistic trio plus a MODEL parameter).
    * The slope is a rational function of five sufficient sums, so it
    * rides [[qBootstrapRatio]]'s conditional-sum frame unchanged: each
    * replicate group carries (Σw, Σwx, Σwy, Σwxy, Σwx²) as exact BIGINTs
    * from the ONE corpus pass, and the replicate statistic is a single
    * IEEE division of two exact integers —
    * (Σw·Σwxy − Σwx·Σwy) / (Σw·Σwx² − Σwx²) — in a fixed
    * parenthesization, bit-identical across engines. Magnitudes are
    * bounded (w ≤ 8, x ≤ tokens/doc, y ≤ chars/doc ⇒ the numerator
    * products stay < 2⁶³ through sf0.1 with 10³× headroom). Replicates
    * with a degenerate design (zero weighted x-variance) are dropped on
    * both sides; the CI is the 2.5%/97.5% rank pair. Salt `#bslope`
    * keeps the draw independent of the sibling bootstrap queries.
    */
  def qBootstrapSlope(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wsTokenCount(col("text")).as("x"),
        col("n_chars").as("y"))
    val u = graft.functions.SketchExpressions.md5Prefix60Long(concat(
      col("doc_id").cast("string"),
      lit("#bslope"), col("b").cast("string"))) % 1000000L
    val w = BootCumPpm.zipWithIndex.reverse
      .foldLeft(lit(8L): Column) { case (acc, (c, k)) =>
        when(col("u") < c, lit(k.toLong)).otherwise(acc)
      }
    val rep = docs
      .select(col("doc_id"), col("x"), col("y"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .withColumn("u", u)
      .select(col("b"), w.as("w"), col("x"), col("y"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("sum_w"),
        sum(col("w") * col("x")).as("sum_wx"),
        sum(col("w") * col("y")).as("sum_wy"),
        sum(col("w") * col("x") * col("y")).as("sum_wxy"),
        sum(col("w") * col("x") * col("x")).as("sum_wx2"))
      .select(
        (col("sum_w") * col("sum_wxy") - col("sum_wx") * col("sum_wy"))
          .as("num"),
        (col("sum_w") * col("sum_wx2") - col("sum_wx") * col("sum_wx"))
          .as("den"))
      .filter(col("den") > 0L)
    // one-pass rank pair off the sorted replicate array (see qBootstrap)
    val ci = rep
      .select((col("num").cast("double") / col("den").cast("double")).as("m"))
      .agg(sort_array(collect_list(col("m"))).as("ms"))
      .select(element_at(col("ms"), BootTailRank).as("ci_lo"),
        element_at(col("ms"), -BootTailRank).as("ci_hi"))
    val base = docs
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"))
      .select(col("n_docs"),
        ((col("n_docs") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_docs") * col("sx2") - col("sx") * col("sx")).cast("double"))
          .as("slope"))
    base.crossJoin(broadcast(ci))
      .select(col("n_docs"), col("slope"), lit(BootB.toLong).as("n_boot"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Grouped k-fold cross-validation assignment — the GroupKFold
    * discipline: folds partition GROUPS (sources), not rows, so no
    * group's documents ever straddle a fold and within-group leakage
    * (the failure mode [[graft.operators.Dedup.qSplitLeakage]] audits
    * for near-dup pairs) is impossible BY CONSTRUCTION for group-level
    * signals. Assignment is the portable md5 bucket of the source name —
    * stable under re-partitioning, re-ingestion, and corpus growth
    * (a new document joins its source's existing fold). Output is the
    * per-fold balance ledger a CV harness checks before training.
    * Scale: one row-local label + one |K·sources|-bounded aggregation.
    */
  val KFolds = 5
  def qGroupKfold(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("fold", hashBucket(col("source"), KFolds))
      .groupBy(col("fold"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy(col("fold"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bootstrap" -> qBootstrap,
    "q_group_kfold" -> qGroupKfold,
    "q_bootstrap_ratio" -> qBootstrapRatio,
    "q_bootstrap_median" -> qBootstrapMedian,
    "q_bootstrap_slope" -> qBootstrapSlope,
    "q_mixture_alloc" -> qMixtureAlloc,
    "q_budget_alloc" -> qBudgetAlloc,
    "q_budget_alloc_w" -> qBudgetAllocW,
    "q_curriculum" -> qCurriculum,
    "q_dsir" -> qDsir,
    "q_pack" -> qPack,
    "q_pack_ids" -> qPackIds,
    "q_pack_fit" -> qPackFit,
    "q_sample_hash" -> qSampleHash,
    "q_split_assign" -> qSplitAssign,
    "q_sample_stratified" -> qSampleStratified,
    "q_source_mix" -> qSourceMix,
    "q_quality_sample" -> qQualitySample
  )

  def oracleSql: Map[String, String] = Map(
    // same md5 weight draw, same ppm thresholds, same rank-pair interval
    "q_bootstrap" -> {
      val caseW = BootCumPpm.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
      s"""WITH r AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, $BootB)),
         |h AS (
         |  SELECT r.b, d.n_chars,
         |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#boot' ||
         |      CAST(r.b AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS u
         |  FROM documents d CROSS JOIN r),
         |ww AS (SELECT b, CASE $caseW ELSE 8 END AS w, n_chars FROM h),
         |rep AS (
         |  SELECT b, CAST(sum(w) AS BIGINT) AS sum_w,
         |    CAST(sum(w * n_chars) AS BIGINT) AS sum_wx
         |  FROM ww GROUP BY b),
         |m AS (SELECT b,
         |    CAST(sum_wx AS DOUBLE) / CAST(sum_w AS DOUBLE) AS m FROM rep),
         |lo AS (SELECT max(m) AS ci_lo FROM
         |  (SELECT m FROM m ORDER BY m ASC, b ASC LIMIT $BootTailRank)),
         |hi AS (SELECT min(m) AS ci_hi FROM
         |  (SELECT m FROM m ORDER BY m DESC, b DESC LIMIT $BootTailRank)),
         |base AS (SELECT count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sx FROM documents)
         |SELECT n_docs, CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean,
         |  CAST($BootB AS BIGINT) AS n_boot, ci_lo, ci_hi
         |FROM base, lo, hi""".stripMargin
    },
    "q_group_kfold" ->
      s"""SELECT ${bucketSql("source", KFolds)} AS fold,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars
         |FROM documents GROUP BY fold ORDER BY fold""".stripMargin,
    // same draw with the #bmed salt; weighted lower medians off the
    // per-replicate histogram, everything an exact BIGINT
    "q_bootstrap_median" -> {
      val caseW = BootCumPpm.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
      s"""WITH r AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, $BootB)),
         |h AS (
         |  SELECT r.b, d.n_chars,
         |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#bmed' ||
         |      CAST(r.b AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS u
         |  FROM documents d CROSS JOIN r),
         |ww AS (SELECT b, CASE $caseW ELSE 8 END AS w, n_chars FROM h),
         |hist AS (SELECT b, n_chars, CAST(sum(w) AS BIGINT) AS sw
         |  FROM ww GROUP BY b, n_chars HAVING sum(w) > 0),
         |cw AS (SELECT b, n_chars,
         |    sum(sw) OVER (PARTITION BY b ORDER BY n_chars
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(sw) OVER (PARTITION BY b) AS tot
         |  FROM hist),
         |med AS (SELECT b, CAST(min(n_chars) AS BIGINT) AS med
         |  FROM cw WHERE cum >= (tot + 1) // 2 GROUP BY b),
         |lo AS (SELECT max(med) AS ci_lo FROM
         |  (SELECT med, b FROM med ORDER BY med ASC, b ASC
         |   LIMIT $BootTailRank)),
         |hi AS (SELECT min(med) AS ci_hi FROM
         |  (SELECT med, b FROM med ORDER BY med DESC, b DESC
         |   LIMIT $BootTailRank)),
         |ph AS (SELECT n_chars, count(*) AS c FROM documents
         |  GROUP BY n_chars),
         |pc AS (SELECT n_chars,
         |    sum(c) OVER (ORDER BY n_chars
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(c) OVER () AS tot
         |  FROM ph),
         |base AS (SELECT CAST(max(tot) AS BIGINT) AS n_docs,
         |    CAST(min(n_chars) AS BIGINT) AS median
         |  FROM pc WHERE cum >= (tot + 1) // 2)
         |SELECT n_docs, median, CAST($BootB AS BIGINT) AS n_boot,
         |  ci_lo, ci_hi
         |FROM base, lo, hi""".stripMargin
    },
    // same draw with the #bratio salt; subgroup sums as exact BIGINTs,
    // the replicate ratio in the identical IEEE parenthesization
    "q_bootstrap_ratio" -> {
      val caseW = BootCumPpm.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
      s"""WITH r AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, $BootB)),
         |h AS (
         |  SELECT r.b, d.n_chars, d.lang = 'en' AS is_en,
         |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#bratio' ||
         |      CAST(r.b AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS u
         |  FROM documents d CROSS JOIN r),
         |ww AS (SELECT b, CASE $caseW ELSE 8 END AS w, n_chars, is_en FROM h),
         |rep AS (
         |  SELECT b, CAST(sum(w) AS BIGINT) AS sum_w,
         |    CAST(sum(w * n_chars) AS BIGINT) AS sum_wx,
         |    CAST(sum(CASE WHEN is_en THEN w ELSE 0 END) AS BIGINT)
         |      AS sum_w_en,
         |    CAST(sum(CASE WHEN is_en THEN w * n_chars ELSE 0 END) AS BIGINT)
         |      AS sum_wx_en
         |  FROM ww GROUP BY b),
         |m AS (SELECT b,
         |    (CAST(sum_wx_en AS DOUBLE) / CAST(sum_w_en AS DOUBLE)) /
         |    (CAST(sum_wx AS DOUBLE) / CAST(sum_w AS DOUBLE)) AS m
         |  FROM rep WHERE sum_w_en > 0 AND sum_w > 0),
         |lo AS (SELECT max(m) AS ci_lo FROM
         |  (SELECT m FROM m ORDER BY m ASC, b ASC LIMIT $BootTailRank)),
         |hi AS (SELECT min(m) AS ci_hi FROM
         |  (SELECT m FROM m ORDER BY m DESC, b DESC LIMIT $BootTailRank)),
         |base AS (SELECT
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_en,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS BIGINT)
         |    AS sx_en,
         |  CAST(sum(n_chars) AS BIGINT) AS sx FROM documents)
         |SELECT n_en, n_docs,
         |  (CAST(sx_en AS DOUBLE) / CAST(n_en AS DOUBLE)) /
         |  (CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS ratio,
         |  CAST($BootB AS BIGINT) AS n_boot, ci_lo, ci_hi
         |FROM base, lo, hi""".stripMargin
    },
    // same draw with the #bslope salt; the slope is one IEEE division of
    // two exact BIGINT polynomials of the five sufficient sums
    "q_bootstrap_slope" -> {
      val caseW = BootCumPpm.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
      s"""WITH r AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, $BootB)),
         |d AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS x,
         |    n_chars AS y
         |  FROM documents),
         |h AS (
         |  SELECT r.b, d.x, d.y,
         |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#bslope' ||
         |      CAST(r.b AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS u
         |  FROM d CROSS JOIN r),
         |ww AS (SELECT b, CASE $caseW ELSE 8 END AS w, x, y FROM h),
         |rep AS (
         |  SELECT b, CAST(sum(w) AS BIGINT) AS sum_w,
         |    CAST(sum(w * x) AS BIGINT) AS sum_wx,
         |    CAST(sum(w * y) AS BIGINT) AS sum_wy,
         |    CAST(sum(w * x * y) AS BIGINT) AS sum_wxy,
         |    CAST(sum(w * x * x) AS BIGINT) AS sum_wx2
         |  FROM ww GROUP BY b),
         |m AS (SELECT b,
         |    CAST(sum_w * sum_wxy - sum_wx * sum_wy AS DOUBLE) /
         |    CAST(sum_w * sum_wx2 - sum_wx * sum_wx AS DOUBLE) AS m
         |  FROM rep WHERE sum_w * sum_wx2 - sum_wx * sum_wx > 0),
         |lo AS (SELECT max(m) AS ci_lo FROM
         |  (SELECT m FROM m ORDER BY m ASC, b ASC LIMIT $BootTailRank)),
         |hi AS (SELECT min(m) AS ci_hi FROM
         |  (SELECT m FROM m ORDER BY m DESC, b DESC LIMIT $BootTailRank)),
         |base AS (SELECT count(*) AS n_docs,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(x * x) AS BIGINT) AS sx2 FROM d)
         |SELECT n_docs,
         |  CAST(n_docs * sxy - sx * sy AS DOUBLE) /
         |    CAST(n_docs * sx2 - sx * sx AS DOUBLE) AS slope,
         |  CAST($BootB AS BIGINT) AS n_boot, ci_lo, ci_hi
         |FROM base, lo, hi""".stripMargin
    },
    "q_mixture_alloc" ->
      s"""WITH m AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars
         |  FROM documents GROUP BY source),
         |sq AS (
         |  SELECT *, CAST(floor(sqrt(CAST(n_chars AS DOUBLE))) AS BIGINT)
         |    AS s0
         |  FROM m),
         |wt AS (
         |  SELECT source, n_docs, n_chars,
         |    CASE WHEN (s0 + 1) * (s0 + 1) <= n_chars THEN s0 + 1
         |         WHEN s0 * s0 > n_chars THEN s0 - 1
         |         ELSE s0 END AS w
         |  FROM sq),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wt),
         |base AS (
         |  SELECT source, n_docs, n_chars, w,
         |    w * $MixBudget // tw AS base,
         |    w * $MixBudget % tw AS rem
         |  FROM wt CROSS JOIN tot),
         |d AS (SELECT CAST($MixBudget - sum(base) AS BIGINT) AS deficit
         |  FROM base),
         |rk AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, source)
         |    AS BIGINT) AS idx
         |  FROM base)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_chars,
         |  CAST(w AS BIGINT) AS w,
         |  CAST(base + CASE WHEN idx <= (SELECT deficit FROM d)
         |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM rk ORDER BY source""".stripMargin,
    "q_budget_alloc" ->
      s"""WITH m AS (
         |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS available
         |  FROM documents GROUP BY lang),
         |t AS (
         |  SELECT lang, available,
         |    CAST(row_number() OVER w AS BIGINT) AS idx,
         |    CAST(sum(available) OVER (ORDER BY available, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS prefix,
         |    CAST(count(*) OVER () AS BIGINT) AS n,
         |    CAST((sum(available) OVER () * $AllocPct) // 100 AS BIGINT)
         |      AS budget
         |  FROM m WINDOW w AS (ORDER BY available, lang)),
         |u AS (
         |  SELECT *, budget - (prefix - available) AS rem_before,
         |    available * (n - idx + 1) > budget - (prefix - available)
         |      AS unsat
         |  FROM t),
         |kk AS (
         |  SELECT *,
         |    min(CASE WHEN unsat THEN idx END) OVER () AS k
         |  FROM u),
         |rb AS (
         |  SELECT *,
         |    min(CASE WHEN idx = k THEN rem_before END) OVER () AS rbase,
         |    n - k + 1 AS m_unsat
         |  FROM kk)
         |SELECT lang, available,
         |  CAST(CASE WHEN k IS NULL OR idx < k THEN available
         |    ELSE rbase // m_unsat +
         |      CASE WHEN idx - k < rbase % m_unsat THEN 1 ELSE 0 END
         |    END AS BIGINT) AS allocated,
         |  CAST(CASE WHEN k IS NULL OR idx < k THEN 1 ELSE 0 END AS BIGINT)
         |    AS saturated
         |FROM rb ORDER BY lang""".stripMargin,
    "q_budget_alloc_w" ->
      s"""WITH m AS (
         |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS available,
         |    CAST(CASE WHEN lang = 'en' THEN $AllocWEn ELSE 1 END AS BIGINT)
         |      AS wt
         |  FROM documents GROUP BY lang),
         |t AS (
         |  SELECT lang, available, wt,
         |    (available * $AllocWEn) // wt AS skey
         |  FROM m),
         |o AS (
         |  SELECT lang, available, wt,
         |    CAST(row_number() OVER w AS BIGINT) AS idx,
         |    CAST(sum(available) OVER (ORDER BY skey, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS prefix_avail,
         |    CAST(sum(wt) OVER (ORDER BY skey, lang
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         |      AS suffix_w,
         |    CAST((sum(available) OVER () * $AllocPct) // 100 AS BIGINT)
         |      AS budget
         |  FROM t WINDOW w AS (ORDER BY skey, lang)),
         |u AS (
         |  SELECT *, budget - (prefix_avail - available) AS rem_before,
         |    available * suffix_w > (budget - (prefix_avail - available)) * wt
         |      AS unsat
         |  FROM o),
         |kk AS (SELECT *, min(CASE WHEN unsat THEN idx END) OVER () AS k
         |  FROM u),
         |rb AS (
         |  SELECT *,
         |    min(CASE WHEN idx = k THEN rem_before END) OVER () AS rr,
         |    min(CASE WHEN idx = k THEN suffix_w END) OVER () AS wsum
         |  FROM kk),
         |bs AS (
         |  SELECT *,
         |    CASE WHEN k IS NULL OR idx < k THEN available
         |      ELSE (rr * wt) // wsum END AS base
         |  FROM rb),
         |lo AS (
         |  SELECT *,
         |    rr - sum(CASE WHEN idx >= k THEN base END) OVER () AS leftover
         |  FROM bs)
         |SELECT lang, available, wt AS weight,
         |  CAST(CASE WHEN k IS NULL OR idx < k THEN available
         |    ELSE base + CASE WHEN idx - k < leftover THEN 1 ELSE 0 END
         |    END AS BIGINT) AS allocated,
         |  CAST(CASE WHEN k IS NULL OR idx < k THEN 1 ELSE 0 END AS BIGINT)
         |    AS saturated
         |FROM lo ORDER BY lang""".stripMargin,
    "q_curriculum" ->
      """WITH h AS (SELECT n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY n_chars),
        |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cc
        |  FROM h),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |b AS (SELECT k, min(v) AS bv
        |  FROM cum CROSS JOIN (SELECT unnest(range(1, 10)) AS k) ks
        |  CROSS JOIN nn
        |  WHERE cc >= (k * n + 9) // 10 GROUP BY k),
        |d AS (SELECT n_chars,
        |  CAST((SELECT count(*) FROM b WHERE documents.n_chars > b.bv)
        |    AS BIGINT) AS decile
        |  FROM documents)
        |SELECT decile, count(*) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,
    "q_dsir" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                x -> length(x) > 0) AS t
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, lang, unnest(list_transform(
         |    CASE WHEN len(t) >= 2
         |      THEN list_transform(range(0, len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
         |      ELSE [] END,
         |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $DsirBuckets)) AS b
         |  FROM toks),
         |c AS (
         |  SELECT b, count(*) AS c_raw,
         |    CAST(sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c_t
         |  FROM f GROUP BY b),
         |tot AS (
         |  SELECT CAST(sum(c_raw) AS BIGINT) AS tot_r,
         |         CAST(sum(c_t) AS BIGINT) AS tot_t FROM c),
         |l AS (
         |  SELECT b, CAST(round(
         |    (ln(c_t + 1.0e0) - ln(tot_t + ${DsirBuckets}.0e0)
         |     - (ln(c_raw + 1.0e0) - ln(tot_r + ${DsirBuckets}.0e0))) * 1.0e9)
         |    AS BIGINT) AS llr_ppb
         |  FROM c CROSS JOIN tot)
         |SELECT f.doc_id, count(*) AS n_feats,
         |  CAST(sum(llr_ppb) AS BIGINT) AS w_ppb,
         |  CAST(sum(llr_ppb) AS BIGINT) / 1.0e9 AS weight
         |FROM f JOIN l USING (b)
         |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin,
    "q_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    ${bucketSql("doc_id", PackShards)} AS shard,
         |    CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+')) AS BIGINT) AS tk
         |  FROM documents),
         |c AS (
         |  SELECT source, shard, tk,
         |    sum(tk) OVER (PARTITION BY source, shard ORDER BY doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq_end
         |  FROM t),
         |g AS (
         |  SELECT source, shard, count(*) AS n_docs,
         |    CAST(sum(tk) AS BIGINT) AS tokens,
         |    sum(CASE WHEN tk > 0
         |             AND ((seq_end - tk) // $PackCtxLen) <> ((seq_end - 1) // $PackCtxLen)
         |        THEN 1 ELSE 0 END) AS n_spanning
         |  FROM c GROUP BY source, shard)
         |SELECT source,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum((tokens + ${PackCtxLen - 1}) // $PackCtxLen) AS BIGINT) AS n_packs,
         |  CAST(sum(n_spanning) AS BIGINT) AS n_spanning
         |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "q_pack_ids" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    ${bucketSql("doc_id", PackShards)} AS shard,
         |    CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+')) AS BIGINT) AS tk
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, shard, tk,
         |    sum(tk) OVER (PARTITION BY source, shard ORDER BY doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq_end
         |  FROM t)
         |SELECT doc_id, source, shard, tk,
         |  CAST(seq_end - tk AS BIGINT) AS seq_start,
         |  CAST((seq_end - tk) // $PackCtxLen AS BIGINT) AS pack_id
         |-- doc_id < 100 bounds the REPORT rows only (mirrors the Spark-side
         |-- filter above the full-corpus window); the full assignment is the
         |-- same query without it
         |FROM c WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "q_pack_fit" -> {
      val c = PackCtxLen
      s"""WITH RECURSIVE base AS (
         |  SELECT source,
         |    ${bucketSql("doc_id", PackShards)} AS shard,
         |    doc_id,
         |    CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+')) AS BIGINT) AS tk
         |  FROM documents),
         |seq AS (
         |  SELECT source, shard, tk,
         |    row_number() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn
         |  FROM base),
         |step AS (
         |  SELECT source, shard, rn,
         |    least(tk, $c) AS fill,
         |    CAST(1 AS BIGINT) AS packs,
         |    CAST(0 AS BIGINT) AS padding,
         |    tk - least(tk, $c) AS dropped,
         |    least(tk, $c) AS kept,
         |    tk AS total
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT p.source, p.shard, n.rn,
         |    CASE WHEN p.fill + least(n.tk, $c) > $c
         |         THEN least(n.tk, $c) ELSE p.fill + least(n.tk, $c) END,
         |    CASE WHEN p.fill + least(n.tk, $c) > $c THEN p.packs + 1 ELSE p.packs END,
         |    CASE WHEN p.fill + least(n.tk, $c) > $c
         |         THEN p.padding + ($c - p.fill) ELSE p.padding END,
         |    p.dropped + (n.tk - least(n.tk, $c)),
         |    p.kept + least(n.tk, $c),
         |    p.total + n.tk
         |  FROM step p
         |  JOIN seq n ON n.source = p.source AND n.shard = p.shard AND n.rn = p.rn + 1),
         |last AS (
         |  SELECT source, shard, max(rn) AS mx FROM seq GROUP BY source, shard),
         |fin AS (
         |  SELECT st.source, st.rn AS n_docs, st.packs, st.total, st.kept,
         |    st.dropped, st.padding + ($c - st.fill) AS padding
         |  FROM step st
         |  JOIN last l ON st.source = l.source AND st.shard = l.shard AND st.rn = l.mx)
         |SELECT source,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(packs) AS BIGINT) AS n_packs,
         |  CAST(sum(total) AS BIGINT) AS total_tokens,
         |  CAST(sum(kept) AS BIGINT) AS kept_tokens,
         |  CAST(sum(dropped) AS BIGINT) AS dropped_tokens,
         |  CAST(sum(padding) AS BIGINT) AS padding_tokens
         |FROM fin GROUP BY source ORDER BY source""".stripMargin
    },
    "q_sample_hash" ->
      s"""SELECT doc_id, lang, source, n_chars
         |FROM documents
         |WHERE ${bucketSql("doc_id", SampleMod)} = 0
         |ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" -> {
      val cases = StratModsByLang
        .map { case (l, m) => s"WHEN '$l' THEN $m" }
        .mkString(" ")
      s"""WITH m AS (
         |  SELECT doc_id, lang, n_chars,
         |    CASE lang $cases ELSE $StratDefaultMod END AS mod
         |  FROM documents)
         |SELECT lang, count(*) AS n_kept, min(doc_id) AS first_doc,
         |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
         |FROM m
         |WHERE (${bucketSql("doc_id", 10000)}) % mod = 0
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q_source_mix" -> {
      val cases = MixPctBySource
        .map { case (src, p) => s"WHEN '$src' THEN $p" }
        .mkString(" ")
      s"""WITH t AS (
         |  SELECT source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tk,
         |    CAST(CASE source $cases ELSE $MixDefaultPct END AS BIGINT) AS pct
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(tk) AS BIGINT) AS total_tokens,
         |  max(pct) AS target_pct,
         |  (CAST(sum(tk) AS BIGINT) * max(pct)) // 100 AS kept_tokens
         |FROM t GROUP BY source ORDER BY source""".stripMargin
    },
    "q_quality_sample" -> {
      val (hi, mid, lo) = QualityMods
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tk,
         |    ${TextAnalysis.qualitySqlExpr} AS q
         |  FROM documents),
         |banded AS (
         |  SELECT tk,
         |    CASE WHEN q >= $QualityHigh THEN 'high'
         |         WHEN q >= $QualityMid THEN 'mid' ELSE 'low' END AS band,
         |    (${bucketSql("doc_id", 10000)})
         |      % (CASE WHEN q >= $QualityHigh THEN $hi
         |              WHEN q >= $QualityMid THEN $mid ELSE $lo END) = 0 AS kept
         |  FROM scored)
         |SELECT band, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN kept THEN tk ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM banded GROUP BY band ORDER BY band""".stripMargin
    },
    "q_split_assign" ->
      s"""SELECT
         |  CASE WHEN ${bucketSql("doc_id", 100)} < 80 THEN 'train'
         |       WHEN ${bucketSql("doc_id", 100)} < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  count(DISTINCT lang) AS n_langs
         |FROM documents
         |GROUP BY 1
         |ORDER BY split""".stripMargin
  )
}
