package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.expr

/** The SQL-only user path, under the driver's hard gate: these queries are
  * written ENTIRELY in `spark.sql` text — no DataFrame DSL — driving the
  * engine's curation stages through the [[graft.GraftExtensions]]-registered
  * generators ([[graft.functions.Generators]]). A BI tool or SQL notebook
  * pointed at a session built with the extensions can run the same
  * tokenize/shingle pipeline the Scala operators use, and the DuckDB oracle
  * hash-checks that the SQL surface computes the SAME bits (including the
  * engine-portable 60-bit md5 shingle hashes).
  */
object SqlSurface {

  /** Positional token census through the `tokens` generator — the
    * reference's wc Map contract (`wc.go:14-38`: split on non-letters, no
    * case folding) with 0-based positions, SQL end to end. first_pos makes
    * the output POSITION-sensitive, so a tokenizer that filtered empties
    * after numbering (or numbered bytes, not tokens) would hash-mismatch.
    */
  def qSqlTokens(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Generators.register(s)
    s.sql(
      s"""SELECT token, count(*) AS n, CAST(min(pos) AS BIGINT) AS first_pos
         |FROM parquet.`$dir/documents.parquet`
         |LATERAL VIEW tokens(text) g AS pos, token
         |GROUP BY token
         |ORDER BY token""".stripMargin)
  }

  /** Whole-corpus census of the span detectors' positional shingle-hash
    * stream through the `shingle_hashes` generator — n_distinct/min/max and
    * a modular checksum over the EXACT 60-bit hash values plus the position
    * sum, so any divergence in tokenizer, n-gram windowing, or hash
    * arithmetic between the SQL surface and the house rule
    * ([[graft.functions.SketchExpressions]] `Md5Prefix60Array`) flips the
    * oracle hash. Scale shape: the generator streams (pos, h) per row into
    * a map-side-combined aggregation — no per-document array ever crosses
    * the exchange.
    */
  def qSqlShingles(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Generators.register(s)
    s.sql(
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
         |  CAST(min(h) AS BIGINT) AS min_h,
         |  CAST(max(h) AS BIGINT) AS max_h,
         |  CAST(sum(h % 9973) AS BIGINT) AS chk,
         |  CAST(sum(pos) AS BIGINT) AS pos_sum
         |FROM parquet.`$dir/documents.parquet`
         |LATERAL VIEW shingle_hashes(text, 3) s AS pos, h""".stripMargin)
  }

  /** MinHash SIGNATURES from pure SQL text — the first stage of the
    * dedup pipeline as a SQL-only entry point: shingle-hash stream via
    * the `shingle_hashes` generator, per-document hash sets, all
    * [[Dedup.NumHashes]] universal-hash minima via the registered
    * `affine_minhashes` codegen expression. Output is the signature
    * table itself (doc_id + m0..m15), so a SQL user can band/bucket it
    * with plain GROUP BYs downstream; the oracle replicates the affine
    * arithmetic from the same [[graft.functions.Sketches]] constants the
    * DataFrame path uses. Documents with zero shingles are excluded on
    * both engines (the generator emits nothing; the oracle filters),
    * mirroring [[Dedup.minhashBanded]].
    */
  /** Shared Spark-SQL CTE text ending in `sig(doc_id, mh)` — the
    * shingle-hash collection + MinHash signature stages over `fromSql`
    * (any relation/subquery producing (doc_id, text)); used verbatim by
    * [[qSqlMinhash]] and [[qSqlLshPairs]] so the two entry points cannot
    * drift in shingle width, hash rule, or signature count.
    */
  /** The shingle-collection half of [[sigCtesSql]] — a CTE ending in
    * `hs(doc_id, hs)`; split out so the df-kill pipeline variant can
    * materialize the collected shingles BEFORE the kill + minhash stage
    * (the kill's df census references the frame three ways, and Spark
    * shares no uncached CTE subtrees).
    */
  private def hsCteSql(fromSql: String): String =
    s"""hs AS (
       |  SELECT doc_id, collect_list(h) AS hs
       |  FROM $fromSql
       |  LATERAL VIEW shingle_hashes(text, 3) s AS pos, h
       |  GROUP BY doc_id)""".stripMargin

  private def sigCtesSql(fromSql: String): String =
    s"""${hsCteSql(fromSql)},
       |sig AS (SELECT doc_id, hs,
       |          affine_minhashes(hs, ${Dedup.NumHashes}) AS mh
       |        FROM hs)""".stripMargin

  /** The per-band key structs over a `mh` signature column — the banding
    * arithmetic of [[qSqlLshPairs]] and [[qSqlPipeline]], shared so the
    * two entry points cannot drift in band count or key derivation.
    * `rowsPerBand` is the same fleet-scale geometry knob as
    * [[Dedup.minhashBanded]]'s (8×2 default unchanged); any divisor of
    * [[Dedup.NumHashes]] regroups the same signature column.
    */
  private[graft] def bandStructsSql(
      rowsPerBand: Int = Dedup.RowsPerBand): String = {
    require(Dedup.NumHashes % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide NumHashes=${Dedup.NumHashes}")
    (0 until Dedup.NumHashes / rowsPerBand).map { b =>
      val ms = (0 until rowsPerBand)
        .map(r => s"element_at(mh, ${b * rowsPerBand + r + 1})")
        .mkString(", ")
      s"struct($b AS band_idx, md5(concat_ws(',', $ms)) AS band_key)"
    }.mkString(",\n    ")
  }

  /** Shared Spark-SQL CTE text ending in `gmet(doc_id, n_words,
    * mean_word_len, n_stop_distinct, dup_word_frac, r_words, r_word_len,
    * r_stop, r_dup, keep)` — the Gopher battery over `fromSql`; used
    * verbatim by [[qSqlGopher]] and [[qSqlPipeline]] so the gate
    * thresholds cannot drift between the standalone entry point and the
    * pipeline's first stage.
    */
  private def gopherCtesSql(fromSql: String): String = {
    import graft.operators.{TextAnalysis => TA}
    val stops = graft.functions.TextFunctions.Stopwords
      .map(w => s"'$w'").mkString(", ")
    s"""gt AS (
       |  SELECT doc_id,
       |    filter(split(lower(text), '[^a-z]+'), x -> x != '') AS tk
       |  FROM $fromSql),
       |gm AS (
       |  SELECT doc_id,
       |    CAST(size(tk) AS BIGINT) AS n_words,
       |    CAST(aggregate(tk, 0L, (a, w) -> a + length(w)) AS DOUBLE)
       |      / size(tk) AS mean_word_len,
       |    CAST(size(array_intersect(array_distinct(tk), array($stops)))
       |      AS BIGINT) AS n_stop_distinct,
       |    1.0D - CAST(size(array_distinct(tk)) AS DOUBLE) / size(tk)
       |      AS dup_word_frac
       |  FROM gt),
       |gmet AS (
       |  SELECT doc_id, n_words, mean_word_len, n_stop_distinct, dup_word_frac,
       |    CASE WHEN n_words >= ${TA.GopherMinWords}
       |          AND n_words <= ${TA.GopherMaxWords}
       |      THEN 1L ELSE 0L END AS r_words,
       |    CASE WHEN mean_word_len >= ${TA.GopherMinMeanWordLen}D
       |          AND mean_word_len <= ${TA.GopherMaxMeanWordLen}D
       |      THEN 1L ELSE 0L END AS r_word_len,
       |    CASE WHEN n_stop_distinct >= ${TA.GopherMinDistinctStop}
       |      THEN 1L ELSE 0L END AS r_stop,
       |    CASE WHEN dup_word_frac <= ${TA.GopherMaxDupFrac}D
       |      THEN 1L ELSE 0L END AS r_dup,
       |    CASE WHEN n_words >= ${TA.GopherMinWords}
       |          AND n_words <= ${TA.GopherMaxWords}
       |          AND mean_word_len >= ${TA.GopherMinMeanWordLen}D
       |          AND mean_word_len <= ${TA.GopherMaxMeanWordLen}D
       |          AND n_stop_distinct >= ${TA.GopherMinDistinctStop}
       |          AND dup_word_frac <= ${TA.GopherMaxDupFrac}D
       |      THEN 1L ELSE 0L END AS keep
       |  FROM gm)""".stripMargin
  }

  def qSqlMinhash(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Generators.register(s)
    val ms = (0 until Dedup.NumHashes)
      .map(k => s"CAST(element_at(mh, ${k + 1}) AS BIGINT) AS m$k")
      .mkString(",\n  ")
    s.sql(
      s"""WITH ${sigCtesSql(s"parquet.`$dir/documents.parquet`")}
         |SELECT doc_id, $ms
         |FROM sig
         |ORDER BY doc_id""".stripMargin)
  }

  /** Keep-first line-level dedup from pure SQL text — the CCNet-style
    * line filter as a SQL-only entry point: fixed-[[Dedup.LineTokens]]
    * token lines via the registered `token_chunks` + `md5_prefix60`
    * expressions, global first instance per line hash as one exact
    * BIGINT min (doc_id·2³² + line_no — the [[Dedup.linesKeepCorpus]]
    * packing), per-document kept/duplicate accounting plus a positional
    * checksum of the kept line numbers so a wrong keep-set can't hide
    * behind a right count.
    */
  def qSqlLinesKeep(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Generators.register(s)
    s.sql(
      s"""WITH ln AS (
         |  SELECT doc_id, line_no, h, doc_id * ${1L << 32} + line_no AS inst
         |  FROM parquet.`$dir/documents.parquet`
         |  LATERAL VIEW posexplode(md5_prefix60(token_chunks(
         |    filter(split(lower(text), '[^a-z]+'), t -> t != ''),
         |    ${Dedup.LineTokens}))) t AS line_no, h),
         |fi AS (SELECT h, min(inst) AS first_inst FROM ln GROUP BY h)
         |SELECT doc_id,
         |  count(*) AS n_lines,
         |  CAST(sum(CASE WHEN inst = first_inst THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN inst = first_inst THEN line_no ELSE -1 END)
         |    AS BIGINT) AS kept_pos_chk
         |FROM ln JOIN fi USING (h)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin)
  }

  /** The Gopher rule battery from pure SQL text — identical thresholds,
    * flags and output shape to [[TextAnalysis.qGopher]] (bit-equality of
    * the two paths is spec-pinned), written with Spark SQL builtins only:
    * the quality-gate stage of the curation pipeline needs no extension
    * functions at all, just the SQL dialect.
    */
  def qSqlGopher(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""WITH ${gopherCtesSql(s"parquet.`$dir/documents.parquet`")}
         |SELECT doc_id, n_words, mean_word_len, n_stop_distinct,
         |  dup_word_frac, r_words, r_word_len, r_stop, r_dup, keep
         |FROM gmet
         |ORDER BY doc_id""".stripMargin)

  /** The rest of the MinHash-LSH pipeline from pure SQL text —
    * [[qSqlMinhash]]'s signatures banded ([[Dedup.NumBands]] bands ×
    * [[Dedup.RowsPerBand]] rows, md5 band keys), bucket-capped at
    * [[Dedup.MaxLshBucket]], expanded to candidate pairs with their
    * shared-band counts: the [[Dedup.minhashBanded]] →
    * [[Dedup.minhashCandidates]] stages as GROUP BYs a SQL user can
    * write, constants pinned to the Scala path's. With q_sql_minhash /
    * q_sql_lines_keep / q_sql_gopher, the dedup surface is now drivable
    * end to end from a SQL notebook: quality-gate → line-clean →
    * signature → candidate pairs.
    *
    * Plan discipline (pinned in PlanRegressionSpec): the pair expansion
    * is a bucket-collect + in-bucket explode, NOT a banded-table
    * self-join — Spark shares no uncached subtrees, so a self-join here
    * re-evaluates the whole tokenize→shingle→signature pipeline per
    * reference (the round-1 sharedSignatures lesson, SQL edition; the
    * self-join draft measured 2.62 s vs this shape's one evaluation).
    */
  def qSqlLshPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Generators.register(s)
    // ONE array-of-structs explode over the single sig frame — a UNION
    // ALL of per-band SELECTs would re-evaluate the signature pipeline
    // once per band (8×), the same unshared-subtree trap as a self-join
    val bandStructs = bandStructsSql()
    s.sql(
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM parquet.`$dir/documents.parquet`
         |  UNION ALL
         |  SELECT doc_id + ${Dedup.PlantOffset}, text || '${Dedup.Tail}'
         |  FROM parquet.`$dir/documents.parquet`),
         |${sigCtesSql("corpus")},
         |banded AS (
         |  SELECT doc_id, bk.band_idx AS band_idx, bk.band_key AS band_key
         |  FROM sig
         |  LATERAL VIEW explode(array(
         |    $bandStructs)) t AS bk),
         |buckets AS (
         |  SELECT sort_array(collect_list(doc_id)) AS ids
         |  FROM banded GROUP BY band_idx, band_key),
         |pairs AS (
         |  SELECT explode(flatten(transform(ids, (a, i) ->
         |    transform(slice(ids, i + 2, size(ids)),
         |      b -> struct(a AS doc_a, b AS doc_b))))) AS p
         |  FROM buckets
         |  WHERE size(ids) > 1 AND size(ids) <= ${Dedup.MaxLshBucket})
         |SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
         |  count(*) AS n_shared_bands
         |FROM pairs
         |GROUP BY p.doc_a, p.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** Max cluster-propagation rounds for [[qSqlPipeline]] (≥ the duplicate
    * graph's diameter; the loop fails loudly rather than emit a
    * half-propagated ledger).
    */
  val PipelineMaxRounds = 30

  /** The END-TO-END curation pipeline from SQL text — the round-11 SQL
    * entry points COMPOSED: Gopher quality gate → boilerplate line-clean
    * (df > [[Dedup.BoilerplateDf]] lines dropped from every kept doc —
    * NOT the global keep-first rule, which would gut the very duplicate
    * signal the dedup stage exists to find: a tail-copy's lines are all
    * second instances) → MinHash signatures over the CLEANED text → LSH
    * banding → bucket-capped candidate pairs → exact-Jaccard verify
    * (≥ [[Dedup.JaccardThreshold]]) → duplicate clusters → per-document
    * keep LEDGER (status ∈ gated/kept/duplicate, cluster_id = the
    * cluster's canonical min doc_id, −1 for gated docs).
    *
    * Every statement is pure SQL text; each heavy stage MATERIALIZES as
    * a parquet table in the session warehouse (`saveAsTable` — the
    * layout a 100 TB notebook pipeline would actually write), so the
    * shared signature pipeline evaluates exactly ONCE per run and every
    * downstream stage SCANS it (plan-pinned in PlanRegressionSpec: the
    * ledger's optimized plan reads the stage tables, zero live shingle
    * generators). CACHE TABLE was measured and rejected here: Spark's
    * cache-manager key matching on these deep generator+lambda plans is
    * unstable across re-resolution (the same view text sometimes misses
    * its own cache entry), and a silent cache miss would re-run the
    * whole signature pipeline per reference. Scala plays only the
    * notebook-cell-runner role: issue statements in order, read the
    * changed-root count each label round observes on its own write (the
    * same driver-side zero/nonzero decision [[ConnectedComponents]]'
    * change-count loop makes), name
    * each round's table (Spark SQL temp views re-resolve names lazily,
    * so an iterative fixpoint needs per-round names), and clear stale
    * on-disk table locations left by a previous JVM's in-memory catalog.
    * Cluster rule: min-label propagation over the verified-pair graph,
    * seeded from the EDGE-INCIDENT node set only (round-12 verdict item
    * 1: seeding from the full signature table made every round's label
    * table CORPUS-sized; the final ledger LEFT-joins the root table and
    * treats absent doc_ids as 'kept', so the edge-incident seed is
    * result-identical) — converges in diameter rounds; each round's
    * tables and joins are DUPLICATE-SET-sized (spec-pinned: |lbl_0| =
    * |edge-incident nodes| ≤ 2·|edges|), so 100 TB cost is O(diameter)
    * duplicate-set-sized shuffles, and the [[Dedup.MaxLshBucket]] cap
    * upstream bounds the edge count. Every stage table/view name carries
    * a corpus-dir tag (the graft_partsupp naming discipline), so a
    * second call in the same session for a different dir cannot rebind
    * the tables under a previously returned lazy DataFrame. Results
    * are hash-gated against DuckDB's from-scratch recompute of the whole
    * composition (recursive-CTE closure) and spec-pinned bit-equal to
    * the Scala-DSL twin [[pipelineTwin]].
    */
  /** Dir-tagged stage-table/view name for [[qSqlPipeline]] — exposed so
    * the spec can read the round tables back by name. The readable tag
    * alone is NOT injective (`/a.b` and `/a/b` both map to `_a_b`), so
    * an 8-hex md5 of the raw dir string rides along: two distinct dirs
    * can never alias each other's stage tables — the exact silent-rebind
    * hazard the tagging exists to close.
    */
  private[graft] def plTable(dir: String, name: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    s"graft_pl_$name${dir.replaceAll("[^A-Za-z0-9]", "_")}_$h"
  }

  def qSqlPipeline(s: SparkSession, dir: String): DataFrame =
    sqlPipeline(s, dir, Dedup.RowsPerBand, dfKill = false, variant = "")

  /** [[qSqlPipeline]] at the MEASURED 100 TB operating point (round-13
    * verdict task 3): the same six-stage SQL-text pipeline with the two
    * knobs the round-12/13 metrology priced applied together — template
    * shingles df-killed before signing ([[Dedup.ShingleDfKillDenom]],
    * its own materialized stage, the [[Dedup.qDedupDfkillWide]] rule
    * re-expressed as SQL text over the pipeline's CLEANED corpus) and
    * the wide [[Dedup.WideRowsPerBand]] band geometry — the combination
    * docs/REHEARSAL_r13.json measured at candidates ~n^0.97 with e2e
    * recall 0.990, vs the default geometry's ~n^1.46. Stage tables carry
    * a `w_` variant prefix so both pipelines coexist in one session on
    * one corpus. Hash-gated against DuckDB's from-scratch recompute of
    * the SAME composition (kill included) and spec-pinned bit-equal to
    * the parameterized Scala twin.
    */
  def qSqlPipelineWide(s: SparkSession, dir: String): DataFrame =
    sqlPipeline(s, dir, Dedup.WideRowsPerBand, dfKill = true, variant = "w_")

  private def sqlPipeline(
      s: SparkSession, dir: String,
      rowsPerBand: Int, dfKill: Boolean, variant: String): DataFrame = {
    graft.functions.Generators.register(s)
    val L = Dedup.LineTokens
    def pt(name: String): String = plTable(dir, variant + name)
    // DROP TABLE IF EXISTS covers this session; dropWithLocation also
    // clears a previous JVM's on-disk location (the in-memory catalog
    // forgets managed tables at shutdown but their files survive)
    def write(table: String, df: DataFrame): Unit = {
      graft.scale.Scale.dropWithLocation(s, table)
      df.write.format("parquet").saveAsTable(table)
    }
    def mat(table: String, query: String): Unit = write(table, s.sql(query))
    // every variant builds its own gate → clean → shs chain, so both
    // variants have the same stage shape whatever ran before in the session
    s.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW ${pt("corpus")} AS
         |SELECT doc_id, text FROM parquet.`$dir/documents.parquet`
         |UNION ALL
         |SELECT doc_id + ${Dedup.PlantOffset} AS doc_id,
         |  text || '${Dedup.Tail}' AS text
         |FROM parquet.`$dir/documents.parquet`""".stripMargin)
    mat(pt("gate"),
      s"""WITH ${gopherCtesSql(pt("corpus"))}
         |SELECT doc_id, keep FROM gmet""".stripMargin)
    // gate → boilerplate line-clean → collected shingle sets per doc,
    // ending in `hs(doc_id, hs)`
    val cleanedHsCtes =
      s"""kept AS (
         |  SELECT c.doc_id, c.text FROM ${pt("corpus")} c
         |  JOIN ${pt("gate")} g ON c.doc_id = g.doc_id
         |  WHERE g.keep = 1),
         |ln AS (
         |  SELECT doc_id, line_no, z.c AS chunk, z.h AS h
         |  FROM (
         |    SELECT doc_id,
         |      zip_with(ch, md5_prefix60(ch),
         |        (c, h) -> named_struct('c', c, 'h', h)) AS zz
         |    FROM (SELECT doc_id,
         |            token_chunks(filter(split(lower(text), '[^a-z]+'),
         |              t -> t != ''), $L) AS ch
         |          FROM kept))
         |  LATERAL VIEW posexplode(zz) t AS line_no, z),
         |bp AS (
         |  SELECT h FROM ln GROUP BY h
         |  HAVING count(DISTINCT doc_id) > ${Dedup.BoilerplateDf}),
         |cleaned AS (
         |  SELECT ln.doc_id,
         |    array_join(transform(array_sort(collect_list(
         |      named_struct('line_no', line_no, 'chunk', chunk))),
         |      x -> x.chunk), ' ') AS text
         |  FROM ln LEFT ANTI JOIN bp ON ln.h = bp.h
         |  GROUP BY ln.doc_id)""".stripMargin
    // the collected shingle sets materialize as their own stage: the wide
    // variant's df census references the frame three ways (a CTE would
    // re-run the whole tokenize→shingle pipeline per reference — Spark
    // shares no uncached subtrees), and both signature routes read it
    mat(pt("shs"),
      s"""WITH $cleanedHsCtes,
         |${hsCteSql("cleaned")}
         |SELECT doc_id, hs FROM hs""".stripMargin)
    if (!dfKill)
      mat(pt("sig"),
        s"""SELECT doc_id, hs,
           |  affine_minhashes(hs, ${Dedup.NumHashes}) AS mh
           |FROM ${pt("shs")}""".stripMargin)
    else
      // template-shingle df-kill before signing ([[Dedup.dfkillFiltered]]
      // as SQL text): a shingle hash in MORE than |corpus|/denom distinct
      // docs (each doc's hs counted once via array_distinct) is template
      // mass — dropped from every doc's shingle set; docs whose set
      // empties drop out of the signature table (→ 'kept' in the ledger)
      mat(pt("sig"),
        s"""WITH hot AS (
           |  SELECT h FROM (
           |    SELECT doc_id, explode(array_distinct(hs)) AS h
           |    FROM ${pt("shs")}) d
           |  GROUP BY h
           |  HAVING count(*) * ${Dedup.ShingleDfKillDenom} >
           |    (SELECT count(*) FROM ${pt("shs")})),
           |kil AS (
           |  SELECT e.doc_id, collect_list(e.h) AS hs
           |  FROM (SELECT doc_id, explode(hs) AS h FROM ${pt("shs")}) e
           |  LEFT ANTI JOIN hot ON e.h = hot.h
           |  GROUP BY e.doc_id)
           |SELECT doc_id, hs,
           |  affine_minhashes(hs, ${Dedup.NumHashes}) AS mh
           |FROM kil""".stripMargin)
    // the candidate stage materializes separately from the verify (split
    // in round 14 so the rehearsal harness can census candidate mass per
    // scale directly off the stage table — the quantity whose growth
    // exponent the band geometry controls)
    mat(pt("cand"),
      s"""WITH banded AS (
         |  SELECT doc_id, bk.band_idx AS band_idx, bk.band_key AS band_key
         |  FROM ${pt("sig")}
         |  LATERAL VIEW explode(array(
         |    ${bandStructsSql(rowsPerBand)})) t AS bk),
         |buckets AS (
         |  SELECT sort_array(collect_list(doc_id)) AS ids
         |  FROM banded GROUP BY band_idx, band_key)
         |SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b FROM (
         |  SELECT explode(flatten(transform(ids, (a, i) ->
         |    transform(slice(ids, i + 2, size(ids)),
         |      b -> named_struct('doc_a', a, 'doc_b', b))))) AS p
         |  FROM buckets
         |  WHERE size(ids) > 1 AND size(ids) <= ${Dedup.MaxLshBucket}) t""".stripMargin)
    mat(pt("edges"),
      s"""SELECT cand.doc_a AS src, cand.doc_b AS dst
         |FROM ${pt("cand")} cand
         |JOIN ${pt("sig")} a ON cand.doc_a = a.doc_id
         |JOIN ${pt("sig")} b ON cand.doc_b = b.doc_id
         |WHERE CAST(size(array_intersect(a.hs, b.hs)) AS DOUBLE) /
         |      size(array_distinct(concat(a.hs, b.hs)))
         |      >= ${Dedup.JaccardThreshold}""".stripMargin)
    (0 to PipelineMaxRounds).foreach(i =>
      graft.scale.Scale.dropWithLocation(s, pt(s"lbl_$i")))
    // seed the propagation from the EDGE-INCIDENT node set, not the
    // corpus-sized sig table: docs touching no verified edge keep their
    // own id trivially, and the ledger's LEFT JOIN + null→'kept' rule
    // below already treats their absence as exactly that — so every
    // round table stays duplicate-set-sized (≤ 2·|edges| rows)
    mat(pt("lbl_0"),
      s"""SELECT doc_id, doc_id AS root FROM (
         |  SELECT src AS doc_id FROM ${pt("edges")}
         |  UNION
         |  SELECT dst FROM ${pt("edges")}) inc""".stripMargin)
    // a round's own write counts the nodes whose root changed; the first
    // round that changes none is the fixpoint
    var round = 0
    var converged = false
    while (!converged && round < PipelineMaxRounds) {
      val changed = new Observation()
      write(pt(s"lbl_${round + 1}"), s.sql(
        s"""SELECT d.doc_id AS doc_id,
           |  least(d.root, coalesce(min(r.root), d.root)) AS root,
           |  d.root AS prev
           |FROM ${pt(s"lbl_$round")} d
           |LEFT JOIN (SELECT src AS a, dst AS b FROM ${pt("edges")}
           |           UNION ALL
           |           SELECT dst AS a, src AS b FROM ${pt("edges")}) e
           |  ON d.doc_id = e.a
           |LEFT JOIN ${pt(s"lbl_$round")} r ON e.b = r.doc_id
           |GROUP BY d.doc_id, d.root""".stripMargin)
        .observe(changed, expr("count_if(root <> prev)").as("n"))
        .drop("prev"))
      converged = changed.get("n") == 0L
      round += 1
    }
    require(converged,
      s"q_sql_pipeline cluster propagation did not converge in " +
        s"$PipelineMaxRounds rounds")
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ${pt("root")} AS
             |SELECT doc_id, root FROM ${pt(s"lbl_$round")}""".stripMargin)
    s.sql(
      s"""SELECT c.doc_id,
         |  CASE WHEN g.keep = 0 THEN 'gated'
         |       WHEN l.root IS NULL OR l.root = c.doc_id THEN 'kept'
         |       ELSE 'duplicate' END AS status,
         |  CASE WHEN g.keep = 0 THEN CAST(-1 AS BIGINT)
         |       ELSE coalesce(l.root, c.doc_id) END AS cluster_id
         |FROM ${pt("corpus")} c
         |JOIN ${pt("gate")} g ON c.doc_id = g.doc_id
         |LEFT JOIN ${pt("root")} l ON c.doc_id = l.doc_id
         |ORDER BY doc_id""".stripMargin)
  }

  /** Scala-DSL twin of [[qSqlPipeline]] — the same six stages composed
    * from the operators the registry already gates individually
    * (TextAnalysis Gopher flags, the boilerplate df rule, tokenChunks +
    * md5Prefix60, withHashedShingles, verifiedPairs, the distributed CC
    * closure). The spec pins bit-equality of the two ledgers, so the SQL
    * surface and the DataFrame engine can never drift on the pipeline's
    * semantics.
    */
  private[graft] def pipelineTwin(
      s: SparkSession, dir: String,
      rowsPerBand: Int = Dedup.RowsPerBand,
      dfKill: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.SketchExpressions
    val corpus = Dedup.nearDupDocs(s, dir)
    val gate = TextAnalysis.gopherKeep(corpus)
    val kept = corpus
      .join(gate.filter(col("keep") === 1L).select(col("doc_id")), "doc_id")
    val chunksCol = SketchExpressions.tokenChunks(
      filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0),
      Dedup.LineTokens)
    val ln = kept
      .select(col("doc_id"),
        posexplode(zip_with(chunksCol, SketchExpressions.md5Prefix60(chunksCol),
          (c, h) => struct(c.as("c"), h.as("h")))).as(Seq("line_no", "z")))
      .select(col("doc_id"), col("line_no"),
        col("z.c").as("chunk"), col("z.h").as("h"))
    val bp = ln.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > Dedup.BoilerplateDf)
      .select(col("h"))
    val cleaned = ln.join(bp, Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("line_no"), col("chunk")))),
          x => x.getField("chunk")),
        " ").as("text"))
    val withHs0 = Dedup.withHashedShingles(cleaned)
      .filter(size(col("hs")) > 0)
    // the wide pipeline's df-kill stage: THE production kill
    // ([[Dedup.dfkillApply]] — >1/denom-df census over this frame's own
    // docs, per-doc distinct membership), not a copy of it, so the twin
    // pin certifies the exact operator the census family deploys
    val withHs = if (!dfKill) withHs0 else Dedup.dfkillApply(withHs0)
    val comp = ConnectedComponents.components(
      Dedup.verifiedPairs(withHs, rowsPerBand))
    corpus
      .join(gate, "doc_id")
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        when(col("keep") === 0L, "gated")
          .when(col("component").isNull || col("component") === col("doc_id"),
            "kept")
          .otherwise("duplicate").as("status"),
        when(col("keep") === 0L, lit(-1L))
          .otherwise(coalesce(col("component"), col("doc_id")))
          .as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_tokens" -> qSqlTokens,
    "q_sql_shingles" -> qSqlShingles,
    "q_sql_minhash" -> qSqlMinhash,
    "q_sql_lines_keep" -> qSqlLinesKeep,
    "q_sql_gopher" -> qSqlGopher,
    "q_sql_lsh_pairs" -> qSqlLshPairs,
    "q_sql_pipeline" -> qSqlPipeline,
    "q_sql_pipeline_wide" -> qSqlPipelineWide
  )

  private val hsql = (g: String) => s"('0x' || substr(md5($g), 1, 15))::BIGINT"

  /** DuckDB twin of [[sigCtesSql]]'s inputs: the tokenize → trigram →
    * 60-bit-hash chain ending in `hsd(doc_id, hs)` over `from`, shared
    * by the q_sql_minhash and q_sql_lsh_pairs oracles.
    */
  private def duckHsCtes(from: String): String =
    s"""tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> length(x) > 0) AS ts
       |  FROM $from),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(ts) >= 3
       |    THEN list_transform(range(0, len(ts) - 2),
       |           i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])
       |    ELSE [] END AS sh
       |  FROM tk),
       |hsd AS (
       |  SELECT doc_id,
       |    list_transform(sh, x -> ${hsql("x")}) AS hs
       |  FROM sh WHERE len(sh) > 0)""".stripMargin

  /** DuckDB twin of the `affine_minhashes` expression: the m0..m15
    * signature columns from `hsd.hs`, same [[graft.functions.Sketches]]
    * constants — shared by both MinHash-family oracles.
    */
  private def duckSigCols: String = {
    import graft.functions.Sketches
    (0 until Dedup.NumHashes)
      .map(k => s"CAST(list_min(list_transform(hs, h -> " +
        s"((${Sketches.a(k)} * (h % ${Sketches.Prime}) + ${Sketches.b(k)})" +
        s" % ${Sketches.Prime}))) AS BIGINT) AS m$k")
      .mkString(",\n  ")
  }

  /** DuckDB from-scratch recompute of the WHOLE pipeline composition at
    * a given band geometry, optionally with the template-shingle df-kill
    * between shingle collection and signing — the shared oracle builder
    * behind q_sql_pipeline (8×2, no kill) and q_sql_pipeline_wide
    * ([[Dedup.WideRowsPerBand]]×4 + kill): gopher gate (shared CTE
    * builder), boilerplate line removal, trigram 60-bit shingles +
    * affine minhash over the CLEANED (and optionally killed) text,
    * banding, bucket-capped candidate pairs, exact-Jaccard verify on
    * distinct shingle sets, transitive closure via recursive CTE (min
    * reachable id = canonical), and the gated/kept/duplicate ledger.
    */
  private def duckPipelineSql(rowsPerBand: Int, dfKill: Boolean): String = {
    val L = Dedup.LineTokens
    val nBands = Dedup.NumHashes / rowsPerBand
    val bandRows = (0 until nBands).map { b =>
      val ms = (0 until rowsPerBand)
        .map(r => s"m${b * rowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, md5(concat_ws(',', $ms)) AS band_key FROM sig"
    }.mkString("\nUNION ALL\n")
    // the kill re-derives each doc's shingle list with >1/denom-df hashes
    // removed (df counts distinct docs via list_distinct; the corpus size
    // is |docs with ≥1 shingle| = |hsd|, matching the Spark stage's |shs|)
    val killCtes =
      if (!dfKill) ""
      else
        s"""hot AS (
           |  SELECT h FROM (
           |    SELECT doc_id, unnest(list_distinct(hs)) AS h FROM hsd) d
           |  GROUP BY h
           |  HAVING count(*) * ${Dedup.ShingleDfKillDenom} >
           |    (SELECT count(*) FROM hsd)),
           |ke AS (
           |  SELECT doc_id, unnest(hs) AS h FROM hsd),
           |khs AS (
           |  SELECT doc_id, list(h) AS hs FROM ke
           |  WHERE h NOT IN (SELECT h FROM hot)
           |  GROUP BY doc_id),
           |""".stripMargin
    val sigFrom = if (dfKill) "khs" else "hsd"
    s"""WITH RECURSIVE plcorpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${Dedup.PlantOffset}, text || '${Dedup.Tail}'
       |  FROM documents),
       |${TextAnalysis.gopherSqlCtes("doc_id", "plcorpus")},
       |gate AS (
       |  SELECT doc_id,
       |    CASE WHEN r_words + r_word_len + r_stop + r_dup = 4
       |      THEN 1 ELSE 0 END AS keep
       |  FROM f),
       |keepd AS (SELECT doc_id, text FROM f
       |          WHERE r_words + r_word_len + r_stop + r_dup = 4),
       |tkk AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> length(x) > 0) AS tk
       |  FROM keepd),
       |ln0 AS (
       |  SELECT doc_id,
       |    list_transform(range(0, (len(tk) + ${L - 1}) // $L),
       |      i -> struct_pack(line_no := i,
       |             chunk := array_to_string(tk[i*$L+1 : i*$L+$L], ' ')))
       |      AS ls
       |  FROM tkk),
       |ph0 AS (SELECT doc_id, unnest(ls) AS s FROM ln0),
       |ph AS (SELECT doc_id, CAST(s.line_no AS BIGINT) AS line_no,
       |         s.chunk AS chunk,
       |         ('0x' || substr(md5(s.chunk), 1, 15))::BIGINT AS h
       |       FROM ph0),
       |bpl AS (SELECT h FROM ph GROUP BY h
       |        HAVING count(DISTINCT doc_id) > ${Dedup.BoilerplateDf}),
       |cleaned AS (
       |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY line_no) AS text
       |  FROM ph WHERE h NOT IN (SELECT h FROM bpl)
       |  GROUP BY doc_id),
       |${duckHsCtes("cleaned")},
       |${killCtes}sig AS (SELECT doc_id, $duckSigCols FROM $sigFrom),
       |dh AS (SELECT doc_id, list_distinct(hs) AS dh FROM $sigFrom),
       |banded AS ($bandRows),
       |ok AS (
       |  SELECT band_idx, band_key FROM banded
       |  GROUP BY band_idx, band_key
       |  HAVING count(*) > 1 AND count(*) <= ${Dedup.MaxLshBucket}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a
       |  JOIN banded b ON a.band_idx = b.band_idx
       |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.band_idx = a.band_idx AND ok.band_key = a.band_key),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst
       |  FROM cand
       |  JOIN dh x ON cand.doc_a = x.doc_id
       |  JOIN dh y ON cand.doc_b = y.doc_id
       |  WHERE CAST(len(list_intersect(x.dh, y.dh)) AS DOUBLE) /
       |        (len(x.dh) + len(y.dh) - len(list_intersect(x.dh, y.dh)))
       |        >= ${Dedup.JaccardThreshold}),
       |edges2 AS (SELECT src AS a, dst AS b FROM edges
       |           UNION SELECT dst, src FROM edges),
       |reach AS (
       |  SELECT a, b FROM edges2
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges2 e ON r.b = e.a),
       |roots AS (SELECT a AS doc_id, least(a, min(b)) AS root
       |          FROM reach GROUP BY a)
       |SELECT c.doc_id,
       |  CASE WHEN g.keep = 0 THEN 'gated'
       |       WHEN r.root IS NULL OR r.root = c.doc_id THEN 'kept'
       |       ELSE 'duplicate' END AS status,
       |  CASE WHEN g.keep = 0 THEN CAST(-1 AS BIGINT)
       |       ELSE coalesce(r.root, c.doc_id) END AS cluster_id
       |FROM plcorpus c
       |JOIN gate g ON c.doc_id = g.doc_id
       |LEFT JOIN roots r ON c.doc_id = r.doc_id
       |ORDER BY c.doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // same tokenizer (\p{L} runs, empties dropped BEFORE numbering),
    // positions re-derived via generate_subscripts
    "q_sql_tokens" ->
      """SELECT token, count(*) AS n, CAST(min(pos) AS BIGINT) AS first_pos
        |FROM (
        |  SELECT unnest(ts) AS token, generate_subscripts(ts, 1) - 1 AS pos
        |  FROM (SELECT list_filter(string_split_regex(text, '[^\p{L}]+'),
        |                 x -> length(x) > 0) AS ts
        |        FROM documents))
        |GROUP BY token ORDER BY token""".stripMargin,
    // same lowercase letter tokens, same in-order trigram windows, same
    // 60-bit md5 prefix arithmetic
    "q_sql_shingles" -> {
      s"""WITH tk AS (
         |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |           x -> length(x) > 0) AS ts
         |  FROM documents),
         |g AS (
         |  SELECT unnest(CASE WHEN len(ts) >= 3
         |    THEN list_transform(range(0, len(ts) - 2),
         |      i -> struct_pack(pos := i,
         |             gram := ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
         |    ELSE [] END) AS s
         |  FROM tk),
         |h AS (SELECT s.pos AS pos, ${hsql("s.gram")} AS h FROM g)
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
         |  CAST(min(h) AS BIGINT) AS min_h,
         |  CAST(max(h) AS BIGINT) AS max_h,
         |  CAST(sum(h % 9973) AS BIGINT) AS chk,
         |  CAST(sum(pos) AS BIGINT) AS pos_sum
         |FROM h""".stripMargin
    },
    // same lowercase trigram shingles + 60-bit hashes, same affine
    // constants (graft.functions.Sketches a/b/Prime), same
    // empty-signature exclusion
    "q_sql_minhash" ->
      s"""WITH ${duckHsCtes("documents")}
         |SELECT doc_id, $duckSigCols
         |FROM hsd
         |ORDER BY doc_id""".stripMargin,
    // same 10-token line chunks (partial tail chunk included), same
    // 60-bit line hashes, same packed-BIGINT first-instance rule
    "q_sql_lines_keep" -> {
      val L = Dedup.LineTokens
      s"""WITH tkt AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                x -> length(x) > 0) AS tk
         |  FROM documents),
         |ln0 AS (
         |  SELECT doc_id,
         |    list_transform(range(0, (len(tk) + ${L - 1}) // $L),
         |      i -> ('0x' || substr(md5(
         |        array_to_string(tk[i*$L+1 : i*$L+$L], ' ')), 1, 15))::BIGINT)
         |      AS hs
         |  FROM tkt),
         |ph0 AS (SELECT doc_id, unnest(range(0, len(hs))) AS pos, hs FROM ln0),
         |ph AS (SELECT doc_id, CAST(pos AS BIGINT) AS line_no, hs[pos+1] AS h,
         |       doc_id * ${1L << 32} + pos AS inst FROM ph0),
         |fi AS (SELECT h, min(inst) AS first_inst FROM ph GROUP BY h)
         |SELECT doc_id, count(*) AS n_lines,
         |  CAST(sum(CASE WHEN inst = first_inst THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN inst = first_inst THEN line_no ELSE -1 END)
         |    AS BIGINT) AS kept_pos_chk
         |FROM ph JOIN fi USING (h)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },
    // same signatures as the q_sql_minhash oracle, same banding and
    // bucket-cap arithmetic as the Dedup oracle chain
    "q_sql_lsh_pairs" -> {
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val ms = (0 until Dedup.RowsPerBand)
          .map(r => s"m${b * Dedup.RowsPerBand + r}").mkString(", ")
        s"SELECT doc_id, $b AS band_idx, md5(concat_ws(',', $ms)) AS band_key FROM sig"
      }.mkString("\nUNION ALL\n")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${Dedup.PlantOffset}, text || '${Dedup.Tail}'
         |  FROM documents),
         |${duckHsCtes("corpus")},
         |sig AS (SELECT doc_id, $duckSigCols FROM hsd),
         |banded AS ($bandRows),
         |ok AS (
         |  SELECT band_idx, band_key FROM banded
         |  GROUP BY band_idx, band_key
         |  HAVING count(*) > 1 AND count(*) <= ${Dedup.MaxLshBucket})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS n_shared_bands
         |FROM banded a
         |JOIN banded b ON a.band_idx = b.band_idx
         |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |JOIN ok ON ok.band_idx = a.band_idx AND ok.band_key = a.band_key
         |GROUP BY a.doc_id, b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // the WHOLE pipeline recomputed from scratch: gopher gate (shared
    // CTE builder), boilerplate line removal, trigram 60-bit shingles +
    // affine minhash over the CLEANED text, banding, bucket-capped
    // candidate pairs, exact-Jaccard verify on distinct shingle sets,
    // transitive closure via recursive CTE (min reachable id = canonical),
    // and the same gated/kept/duplicate ledger rules
    "q_sql_pipeline" ->
      duckPipelineSql(Dedup.RowsPerBand, dfKill = false),
    // the same composition with the 100 TB knobs: >1/denom-df shingles
    // killed between collection and signing, 4-row bands
    "q_sql_pipeline_wide" ->
      duckPipelineSql(Dedup.WideRowsPerBand, dfKill = true),
    // the q_gopher oracle verbatim (shared CTE builder) — the SQL entry
    // point and the DataFrame path answer to the same ground truth
    "q_sql_gopher" ->
      s"""WITH ${TextAnalysis.gopherSqlCtes("doc_id")}
         |SELECT doc_id, n_words, mean_word_len, n_stop_distinct, dup_word_frac,
         |  CAST(r_words AS BIGINT) AS r_words,
         |  CAST(r_word_len AS BIGINT) AS r_word_len,
         |  CAST(r_stop AS BIGINT) AS r_stop,
         |  CAST(r_dup AS BIGINT) AS r_dup,
         |  CAST(CASE WHEN r_words + r_word_len + r_stop + r_dup = 4
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin
  )
}
