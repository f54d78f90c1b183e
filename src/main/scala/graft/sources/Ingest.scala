package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SessionMemo
import graft.tables.Tables

/** Raw-text INGESTION SOURCE — the missing first step of every curation
  * pipeline (reference: the line-oriented text input and its split
  * assignment, `mapreduce.go:74-112`): gzip-compressed JSONL files →
  * the `documents` relation, with content-addressed doc-id assignment
  * and malformed-record accounting.
  *
  * The corpus under test is DERIVED deterministically from the driver's
  * `documents.parquet` (the fixture discipline of the multimodal PNG
  * oracle): each doc serializes to one JSON line
  * `{"source":…,"lang":…,"text":…}` — WITHOUT its doc_id, because raw
  * crawl shards carry no ids — and every doc with `doc_id % 97 == 0`
  * is planted malformed by truncating the line's last 5 characters (a
  * strict prefix of a one-object JSON text is never valid JSON, so the
  * plant is unambiguous and both engines can mirror the rule from the
  * parquet side). Files are md5-bucket sharded and written gzip —
  * non-splittable on purpose: at 100 TB ingestion parallelism IS the
  * shard count (one task per .gz file), which is how crawl dumps
  * actually arrive; the operator downstream of the scan never assumes
  * splittability.
  *
  * Doc-id assignment is CONTENT-ADDRESSED: 60-bit md5 prefix of
  * `source \u0001 text` — fully distributed (no zipWithIndex barrier,
  * no global prefix-sum, no driver roundtrip), stable under re-ingest
  * and shard reordering, and it makes exact re-crawl duplicates
  * COLLIDE, which is a feature: `n_ids < n_records` is the first dedup
  * signal a pipeline sees. Malformed lines are quarantined under the
  * reserved source `__malformed__` (counted, never silently dropped —
  * PERMISSIVE parse with an explicit corrupt-record column), so the
  * ingest ledger always satisfies `Σ n_records = input lines`.
  */
object Ingest {

  /** Shard-file count of the fixture (gzip ⇒ also the scan parallelism). */
  val IngestShards = 4

  /** Plant rule: docs whose id ≡ 0 (mod 97) arrive truncated. */
  val MalformedMod = 97

  /** 60-bit content address of a parsed record (same md5-prefix idiom as
    * [[Export]]'s row fingerprint; `\u0001` keeps (source, text)
    * concatenation injective for any text free of control chars).
    */
  private def contentId =
    graft.functions.SketchExpressions.md5Prefix60Long(
      concat(col("source"), lit("\u0001"), col("text")))

  /** One JSON line per doc (doc_id deliberately NOT serialized), with
    * the deterministic malformed plant applied.
    */
  private[graft] def fixtureLines(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("line",
        to_json(struct(col("source"), col("lang"), col("text"))))
      .select(
        col("doc_id"),
        when(col("doc_id") % MalformedMod === 0,
          expr(s"substring(line, 1, length(line) - 5)"))
          .otherwise(col("line")).as("value"))

  /** Write the gzip JSONL fixture (one file per md5-bucket shard, lines
    * in doc_id order within a shard — byte-deterministic for a fixed
    * corpus) and return its path. The fixture is input data, not query
    * state, so Bench cache clears never need to rebuild it.
    */
  private[graft] def fixturePath(s: SparkSession, dir: String): String =
    SessionMemo.fixture(s, "graft_ingest_jsonl", dir) { out =>
      fixtureLines(s, dir)
        .withColumn("shard",
          graft.operators.Sampling.hashBucket(col("doc_id"), IngestShards))
        .repartition(IngestShards, col("shard"))
        .sortWithinPartitions(col("doc_id"))
        .select(col("value"), col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .option("compression", "gzip")
        .text(out)
    }

  private val IngestSchema =
    "source STRING, lang STRING, text STRING, _corrupt_record STRING"

  private def parsedCols(raw: DataFrame): DataFrame =
    raw.select(
      col("source"), col("lang"), col("text"),
      col("_corrupt_record").isNotNull.as("is_malformed"))

  /** Parsed ingest frame: (source, lang, text, is_malformed) — one row
    * per input line, malformed lines carried with null fields (their raw
    * bytes live in `_corrupt_record` before projection).
    */
  private[graft] def parsed(s: SparkSession, dir: String): DataFrame =
    parsedCols(s.read
      .schema(IngestSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(fixturePath(s, dir)))

  /** Ingest ledger: per source — line count, distinct content-addressed
    * ids (re-crawl duplicates collide by design), char volume, and an
    * order-independent id fingerprint; malformed lines quarantined under
    * `__malformed__`. One groupBy over the parsed scan — ingestion at
    * 100 TB is one pass, shard-parallel, no coordination.
    */
  def qIngestJsonl(s: SparkSession, dir: String): DataFrame =
    parsed(s, dir)
      .select(
        when(col("is_malformed"), lit("__malformed__"))
          .otherwise(col("source")).as("source"),
        when(col("is_malformed"), lit(null)).otherwise(contentId).as("cid"),
        when(col("is_malformed"), lit(null)).otherwise(col("lang")).as("lang"),
        when(col("is_malformed"), lit(null))
          .otherwise(length(col("text"))).as("n_chars"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_records"),
        countDistinct(col("cid")).as("n_ids"),
        countDistinct(col("lang")).as("n_langs"),
        coalesce(sum(col("n_chars")), lit(0L)).cast("long").as("n_chars"),
        coalesce(expr("bit_xor(cid)"), lit(0L)).as("id_xor"))
      .orderBy(col("source"))

  /** The ALGEBRAIC subset of the ledger (no countDistinct — not
    * expressible as a streaming running aggregate): per source, line
    * count, char volume, and the order-independent id fingerprint.
    * Shared verbatim by the batch query and the streaming twin, so the
    * batch≡stream spec compares the exact same aggregation logic.
    */
  private[graft] def ledgerLite(parsedDf: DataFrame): DataFrame =
    parsedDf
      .select(
        when(col("is_malformed"), lit("__malformed__"))
          .otherwise(col("source")).as("source"),
        when(col("is_malformed"), lit(null)).otherwise(contentId).as("cid"),
        when(col("is_malformed"), lit(null))
          .otherwise(length(col("text"))).as("n_chars"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_records"),
        coalesce(sum(col("n_chars")), lit(0L)).cast("long").as("n_chars"),
        coalesce(expr("bit_xor(cid)"), lit(0L)).as("id_xor"))

  /** Plant rule for the CSV fixture: docs whose id ≡ 0 (mod 89) arrive
    * with a non-numeric value in the typed `n_chars` column. (A
    * token-COUNT mismatch is deliberately not the plant: Spark's CSV
    * PERMISSIVE mode pads/drops tokens without flagging the record —
    * only conversion failures reach `_corrupt_record`.)
    */
  val CsvMalformedMod = 89

  /** The quoting challenge: a derived field containing BOTH the
    * separator and the quote char, so the CSV round trip exercises
    * quoting + quote-escaping, not just token splitting (the corpus text
    * itself is separator-free, which would make an unquoted dialect
    * vacuously pass).
    */
  private def noteCol: Column =
    concat(lit("len=\""), col("n_chars").cast("string"),
      lit("\", lang="), col("lang"))

  /** One CSV line per doc via Spark's own writer dialect (`to_csv`,
    * default quote/escape), malformed plant applied AFTER serialization.
    */
  private[graft] def fixtureLinesCsv(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("line",
        to_csv(struct(col("source"), col("lang"), col("n_chars"),
          noteCol.as("note"), col("text"))))
      .select(
        col("doc_id"),
        when(col("doc_id") % CsvMalformedMod === 0,
          concat(col("source"), lit(","), col("lang"), lit(",xx,bad,bad")))
          .otherwise(col("line")).as("value"))

  /** Write the sharded CSV fixture — UNCOMPRESSED, deliberately unlike
    * the gzip JSONL fixture: a plain text shard is byte-splittable, so at
    * 100 TB one shard feeds many tasks (gzip pins one task per file);
    * having both arrival modes under the gate covers both scan shapes.
    */
  private[graft] def csvFixturePath(s: SparkSession, dir: String): String =
    SessionMemo.fixture(s, "graft_ingest_csv", dir) { out =>
      fixtureLinesCsv(s, dir)
        .withColumn("shard",
          graft.operators.Sampling.hashBucket(col("doc_id"), IngestShards))
        .repartition(IngestShards, col("shard"))
        .sortWithinPartitions(col("doc_id"))
        .select(col("value"), col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(out)
    }

  private val CsvSchema =
    "source STRING, lang STRING, n_chars BIGINT, note STRING, " +
      "text STRING, _corrupt_record STRING"

  /** CSV ingest ledger — [[qIngestJsonl]]'s shape over the CSV arrival
    * format: per source, record count, distinct content ids, char
    * volume, and an order-independent fingerprint of the PARSED quoted
    * field (`note_xor` — proves the quote/separator round trip
    * byte-exact, not merely that lines split); malformed lines
    * quarantined under `__malformed__`. One pass, shard-parallel.
    */
  def qIngestCsv(s: SparkSession, dir: String): DataFrame = {
    // n_chars MUST be in the projection: Spark's CSV column pruning hands
    // the parser only the required columns, and corruption is detected at
    // CONVERSION time — prune the typed column away and the planted 'xx'
    // is never converted, so `_corrupt_record` stays null (measured; the
    // char sums below therefore use the PARSED n_chars, which also pins
    // the typed round trip)
    val parsedCsv = s.read
      .schema(CsvSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(csvFixturePath(s, dir))
      .select(col("source"), col("lang"), col("n_chars"), col("note"),
        col("text"), col("_corrupt_record").isNotNull.as("is_malformed"))
    val noteId =
      graft.functions.SketchExpressions.md5Prefix60Long(col("note"))
    parsedCsv
      .select(
        when(col("is_malformed"), lit("__malformed__"))
          .otherwise(col("source")).as("source"),
        when(col("is_malformed"), lit(null)).otherwise(contentId).as("cid"),
        when(col("is_malformed"), lit(null)).otherwise(noteId).as("nid"),
        when(col("is_malformed"), lit(null))
          .otherwise(col("n_chars")).as("n_chars"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_records"),
        countDistinct(col("cid")).as("n_ids"),
        coalesce(sum(col("n_chars")), lit(0L)).cast("long").as("n_chars"),
        coalesce(expr("bit_xor(cid)"), lit(0L)).as("id_xor"),
        coalesce(expr("bit_xor(nid)"), lit(0L)).as("note_xor"))
      .orderBy(col("source"))
  }

  /** Schema-evolution fixture: epoch v=1 parquet written WITHOUT the
    * `lang` column, epoch v=2 with it — the schema-drift arrival mode of
    * any long-lived ingestion (a producer adds a field mid-stream and the
    * lake must keep reading both vintages).
    */
  private[graft] def evoFixturePath(s: SparkSession, dir: String): String =
    SessionMemo.fixture(s, "graft_schema_evo", dir) { out =>
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"))
        .write.mode("overwrite").parquet(s"$out/v=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("lang"))
        .write.mode("overwrite").parquet(s"$out/v=2")
    }

  /** Schema-merged read across parquet vintages: `mergeSchema=true`
    * reconciles the per-file footers into the union schema and
    * back-fills the missing `lang` with nulls for the v=1 files, while
    * the directory name materializes as the partition column `v` — so
    * one scan serves both vintages with partition pruning intact. The
    * per-vintage census (null back-fill count vs real lang cardinality)
    * is what a migration audit reads. Scale note: footer merging is a
    * driver-side metadata operation over file FOOTERS, not data — at
    * 100 TB pin the union schema explicitly instead of paying the
    * inference listing on every query.
    */
  def qSchemaMerge(s: SparkSession, dir: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(evoFixturePath(s, dir))
      .groupBy(col("v").cast("long").as("v"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("source")).as("n_sources"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_lang_null"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("v"))

  /** STREAMING ingest twin — the arrival mode of real crawl dumps: a
    * directory that fills with gzip JSONL shards, each micro-batch
    * ingesting the shards that appeared since the last trigger
    * (`maxFilesPerTrigger=1` makes one shard per batch). Same PERMISSIVE
    * parse, same quarantine, same [[ledgerLite]] aggregation as batch —
    * complete-mode running totals per source. IngestSpec proves the
    * final snapshot equals the batch ledger over the same shards.
    */
  def ingestStream(
      s: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    ledgerLite(parsedCols(s.readStream
      .schema(IngestSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(fixturePath(s, dir))))

  // ------------------------------------------------------------------
  // Streaming ingest → dedup composition
  // ------------------------------------------------------------------

  /** Re-crawl plant for the streaming composition: every 7th doc's line
    * appears AGAIN in an extra shard (valid JSON, identical content ⇒
    * identical content id — the collision the addressing exists for).
    */
  val RecrawlMod = 7

  /** Combined fixture for the streaming pipeline: the ingest shards PLUS
    * one re-crawl shard (shard index [[IngestShards]]), one dir so the
    * file-source stream sees one arriving-crawl directory.
    */
  private[graft] def pipelineFixturePath(s: SparkSession, dir: String): String =
    SessionMemo.fixture(s, "graft_ingest_pipeline", dir) { out =>
      val base = fixtureLines(s, dir)
        .withColumn("shard",
          graft.operators.Sampling.hashBucket(col("doc_id"), IngestShards))
      val recrawl = fixtureLines(s, dir)
        .filter(col("doc_id") % RecrawlMod === 0 &&
          col("doc_id") % MalformedMod =!= 0)
        .withColumn("shard", lit(IngestShards))
      base.unionByName(recrawl)
        .repartition(IngestShards + 1, col("shard"))
        .sortWithinPartitions(col("doc_id"))
        .select(col("value"), col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .option("compression", "gzip")
        .text(out)
    }

  /** A first-claim decision for one ingested document. */
  final case class DocClaim(
      cid: Long, source: String, n_chars: Long, kept: Boolean)

  /** The END-TO-END streaming curation entry: raw gzip JSONL shards
    * arrive (one per trigger — the crawl-dump arrival mode), each batch
    * is PERMISSIVE-parsed with the malformed quarantine, good records
    * are content-addressed, and an incremental keep-first dedup claims
    * each content id as it first appears — the
    * [[graft.streaming.IncrementalDedup.incrementalLineClaims]] state
    * shape lifted to document granularity, composed directly onto the
    * ingest stream. State is one boolean per distinct content id (the
    * cardinality a batch `distinct` shuffles, amortized over the
    * stream); claims emit Append, so any downstream ledger aggregates in
    * the sink. IngestSpec proves the drained claim set reproduces the
    * batch parse→address→keep-first pipeline exactly, duplicates
    * included.
    */
  def ingestDedupStream(
      s: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): org.apache.spark.sql.Dataset[DocClaim] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val good = parsedCols(s.readStream
      .schema(IngestSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(pipelineFixturePath(s, dir)))
      .filter(!col("is_malformed"))
      .select(contentId.as("cid"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .as[(Long, String, Long)]
    good
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, DocClaim](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (cid: Long, rows: Iterator[(Long, String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          var claimed = state.getOption.getOrElse(false)
          val out = List.newBuilder[DocClaim]
          rows.foreach { case (_, src, nc) =>
            out += DocClaim(cid, src, nc, kept = !claimed)
            claimed = true
          }
          if (claimed && !state.exists) state.update(true)
          out.result().iterator
      }
  }

  /** Offset for ids that "appear" in the next crawl snapshot. */
  val CrawlAddOffset = 20000000L

  /** Deterministic next-crawl snapshot derived from `documents`
    * (snapshot A): every 13th doc gone, every 11th surviving doc edited,
    * every 17th doc re-crawled under a new id with an addendum — the
    * three mutation classes a real crawl delta contains.
    */
  private[graft] def snapshotB(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    docs
      .filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")).as("text"))
      .union(docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + CrawlAddOffset).as("doc_id"), col("source"),
          concat(col("text"), lit(" addendum")).as("text")))
  }

  /** MERGE INTO (upsert + delete) applied as one co-partitioned
    * full-outer join — the change-data-capture apply step [[qCrawlDelta]]
    * only CLASSIFIES: the change feed (upserts carrying new rows, deletes
    * carrying keys) merges into the target with Delta-style semantics —
    * WHEN MATCHED AND op='d' THEN DELETE; WHEN MATCHED THEN UPDATE; WHEN
    * NOT MATCHED THEN INSERT — and the result census (per source, row
    * count + order-independent content fingerprint) must equal the
    * post-change snapshot recomputed from scratch by the oracle. Scale
    * shape: ONE full-outer join on the key is the entire apply (the
    * MERGE shuffle shape of any lakehouse engine); fingerprints aggregate
    * map-side. The feed derives from the [[snapshotB]] plant rules, so
    * merged ≡ snapshot B by construction — the equality under test is
    * the merge MECHANICS, not the plant.
    */
  def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val target = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val upserts = snapshotB(s, dir)
      .select(col("doc_id"), col("source").as("f_source"),
        col("text").as("f_text"), lit("u").as("op"))
    val deletes = target
      .filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), lit(null).cast("string").as("f_source"),
        lit(null).cast("string").as("f_text"), lit("d").as("op"))
    val feed = upserts.union(deletes)
    val merged = target
      .join(feed, Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") === "u")
      .select(col("doc_id"),
        when(col("op") === "u", col("f_source")).otherwise(col("source"))
          .as("source"),
        when(col("op") === "u", col("f_text")).otherwise(col("text"))
          .as("text"))
    merged
      .select(col("source"), contentId.as("cid"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(expr("bit_xor(cid)"), lit(0L)).as("id_xor"))
      .orderBy(col("source"))
  }

  /** Crawl delta report — the between-snapshots ledger a curation team
    * reads before re-running the pipeline: per source, how many docs are
    * unchanged / edited / added / removed between snapshot A and B.
    *
    * Scale shape: fingerprints (md5) are computed BEFORE the join, so
    * the full-outer join on doc_id shuffles (id, 16-byte hash, source) —
    * text never rides an Exchange. At 100 TB this is the two-snapshot
    * fingerprint-table join, corpus-linear, no other pass needed.
    */
  def qCrawlDelta(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(s, dir)
      .select(col("doc_id"), col("source").as("src_a"),
        md5(col("text")).as("h_a"))
    val b = snapshotB(s, dir)
      .select(col("doc_id"), col("source").as("src_b"),
        md5(col("text")).as("h_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("src_a"), col("src_b")).as("source"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") === col("h_b"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("status") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(when(col("status") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L))
          .as("n_removed"))
      .orderBy(col("source"))
  }

  /** Vocabulary drift between crawl snapshots — the monitoring signal
    * that catches a crawler or extraction regression before training
    * does: distinct-token census of A and B, tokens entering and leaving
    * the vocabulary. Two corpus-linear explode→distinct passes and one
    * vocabulary-sized full-outer join (vocabulary ≪ corpus at any
    * scale); one global row out.
    */
  def qVocabDrift(s: SparkSession, dir: String): DataFrame = {
    def vocab(df: DataFrame, name: String): DataFrame =
      df.select(explode(
        filter(split(lower(col("text")), "[^a-z]+"), t => length(t) > 0))
        .as("tok"))
        .distinct()
        .withColumn(name, lit(1L))
    vocab(Tables.documents(s, dir), "in_a")
      .join(vocab(snapshotB(s, dir), "in_b"), Seq("tok"), "full_outer")
      .agg(
        sum(coalesce(col("in_a"), lit(0L))).as("n_vocab_a"),
        sum(coalesce(col("in_b"), lit(0L))).as("n_vocab_b"),
        sum(when(col("in_a").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("in_b").isNull, 1L).otherwise(0L)).as("n_lost"))
  }

  /** Epoch count for the SCD2 snapshot history. */
  val Scd2Epochs = 4
  /** A doc is revised at epoch e iff (doc_id + e) % 5 == 0 — ~20% of
    * the corpus changes per epoch, staggered across docs.
    */
  val Scd2RevMod = 5L

  /** Slowly-changing-dimension TYPE-2 history from k content snapshots:
    * one validity interval [valid_from, valid_to] per distinct content
    * version of each doc, with the current version flagged — the
    * dimension table a warehouse keeps so facts join the version that
    * was live at their event time. Built WITHOUT any window: versions
    * here never revert (each revision appends — the crawl/wiki shape),
    * so epochs sharing a (doc_id, content-fingerprint) are contiguous
    * and `groupBy(doc_id, fp).agg(min/max(epoch))` IS the interval
    * construction — one shuffle of (id, 16-byte fp, epoch), text never
    * rides an Exchange. (Content that can revert needs lag() over a
    * per-doc_id window — bounded at k rows per key, still shuffle-safe
    * — to split the reverted interval; the synthetic history makes the
    * cheaper algebraic form exact, and the spec asserts the
    * no-revert precondition by checking interval disjointness.)
    */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val rev = size(filter(
      sequence(lit(0L), col("epoch")),
      x => (col("doc_id") + x) % Scd2RevMod === 0L)).cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("epoch", explode(sequence(lit(0L), lit(Scd2Epochs - 1L))))
      .select(col("doc_id"), col("epoch"),
        md5(concat(col("text"), lit(" v"), rev)).as("ver_md5"))
      .groupBy(col("doc_id"), col("ver_md5"))
      .agg(min(col("epoch")).as("valid_from"),
        max(col("epoch")).as("valid_to"))
      .select(col("doc_id"), col("valid_from"), col("valid_to"),
        when(col("valid_to") === Scd2Epochs - 1L, 1L).otherwise(0L)
          .as("is_current"),
        col("ver_md5"))
      .orderBy(col("doc_id"), col("valid_from"))
  }

  /** Facts joined to the [[qScd2]] dimension AT EVENT TIME — the lookup
    * every warehouse fact pipeline runs against a versioned dimension:
    * each event resolves the content version that was live at its epoch
    * (equality on doc_id + BETWEEN on the validity interval). The plan
    * is an equi-join on doc_id with the range predicate evaluated on the
    * co-partitioned pairs — per-key amplification is bounded by the
    * version count (≤ [[Scd2Epochs]]), so the join stays corpus-linear
    * at any scale; no broadcast needed on either side. Every fact
    * matches EXACTLY one version (the intervals partition the epoch
    * axis — the q_scd2 spec's disjoint-cover property, consumed here),
    * which the per-epoch fact conservation in the output makes visible.
    */
  def qScd2Join(s: SparkSession, dir: String): DataFrame = {
    val dim = qScd2(s, dir)
    val nDocs = Tables.documents(s, dir).count()
    val facts = Tables.events(s, dir).select(
      (col("user_id") % nDocs).as("f_doc_id"),
      (col("event_id") % Scd2Epochs).as("epoch"))
    facts.join(dim,
      col("f_doc_id") === col("doc_id") &&
        col("epoch") >= col("valid_from") && col("epoch") <= col("valid_to"))
      .groupBy(col("epoch"))
      .agg(
        count(lit(1)).as("n_facts"),
        sum(col("is_current")).as("n_on_current"),
        countDistinct(col("ver_md5")).as("n_versions"))
      .orderBy(col("epoch"))
  }

  /** One-time ORC materialization of the lineitem projection — the
    * columnar-format interchange a heterogeneous lake forces (ORC readers
    * upstream, parquet downstream); reported in the bench build column.
    */
  private[graft] def orcPath(s: SparkSession, dir: String): String =
    SessionMemo.fixture(s, "graft_orc", dir) { out =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").orc(out)
    }

  /** ORC round-trip under the gate: the built-in ORC source (write once,
    * scan per query) must carry the EXACT row set — the aggregation over
    * the ORC scan hash-matches the DuckDB oracle computed from the
    * original parquet, so any value/encoding drift through the second
    * columnar format is a hard failure, not a trust assumption. The scan
    * gets the same pushdown treatment as parquet (predicate + column
    * pruning — plan-pinned in SourcesSpec); money stays on the
    * cents-decimal route.
    */
  def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame =
    s.read.orc(orcPath(s, dir))
      .filter(col("l_quantity") > 25)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        graft.operators.Relational.dsum(col("l_extendedprice"))
          .as("sum_price"),
        sum(graft.operators.Relational.cents(col("l_quantity")))
          .as("qty_cents"))
      .orderBy(col("l_returnflag"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_orc_roundtrip" -> qOrcRoundtrip,
    "q_ingest_jsonl" -> qIngestJsonl,
    "q_ingest_csv" -> qIngestCsv,
    "q_schema_merge" -> qSchemaMerge,
    "q_merge_upsert" -> qMergeUpsert,
    "q_crawl_delta" -> qCrawlDelta,
    "q_scd2" -> qScd2,
    "q_scd2_join" -> qScd2Join,
    "q_vocab_drift" -> qVocabDrift
  )

  /** Shared CTE chain ending in `dim(doc_id, valid_from, valid_to,
    * is_current, ver_md5)` — the SQL twin of [[qScd2]], consumed by the
    * q_scd2 and q_scd2_join oracles.
    */
  private val scd2DimCtes =
    s"""ep AS (SELECT doc_id, text,
       |    unnest(range(0, $Scd2Epochs)) AS epoch
       |  FROM documents),
       |snap AS (SELECT doc_id, epoch,
       |    md5(text || ' v' || CAST(len(list_filter(range(0, epoch + 1),
       |      x -> (doc_id + x) % $Scd2RevMod = 0)) AS VARCHAR)) AS ver_md5
       |  FROM ep),
       |dim AS (SELECT doc_id,
       |    CAST(min(epoch) AS BIGINT) AS valid_from,
       |    CAST(max(epoch) AS BIGINT) AS valid_to,
       |    CAST(CASE WHEN max(epoch) = ${Scd2Epochs - 1} THEN 1 ELSE 0 END
       |      AS BIGINT) AS is_current,
       |    ver_md5
       |  FROM snap GROUP BY doc_id, ver_md5)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem WHERE l_quantity > 25
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_crawl_delta" ->
      s"""WITH a AS (SELECT doc_id, source, md5(text) AS h FROM documents),
         |b AS (SELECT doc_id, source,
         |    md5(text || CASE WHEN doc_id % 11 = 0 THEN ' updated'
         |                     ELSE '' END) AS h
         |  FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + $CrawlAddOffset AS doc_id, source,
         |    md5(text || ' addendum') AS h
         |  FROM documents WHERE doc_id % 17 = 0),
         |d AS (SELECT coalesce(a.source, b.source) AS source,
         |    CASE WHEN a.doc_id IS NULL THEN 'added'
         |         WHEN b.doc_id IS NULL THEN 'removed'
         |         WHEN a.h = b.h THEN 'unchanged'
         |         ELSE 'changed' END AS status
         |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         |SELECT source,
         |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_unchanged,
         |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_changed,
         |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_added,
         |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_removed
         |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // The SCD2 oracle rebuilds the snapshot stream (epoch × documents,
    // revision counter = revisions at epochs ≤ e) and mirrors the
    // interval grouping; Spark's concat renders the BIGINT revision the
    // same way VARCHAR cast does ("0".."k").
    "q_scd2" ->
      s"""WITH $scd2DimCtes
         |SELECT doc_id, valid_from, valid_to, is_current, ver_md5
         |FROM dim ORDER BY doc_id, valid_from""".stripMargin,
    "q_scd2_join" ->
      s"""WITH $scd2DimCtes,
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |facts AS (SELECT user_id % (SELECT n FROM nn) AS f_doc_id,
         |    event_id % $Scd2Epochs AS epoch
         |  FROM events)
         |SELECT epoch, count(*) AS n_facts,
         |  CAST(sum(is_current) AS BIGINT) AS n_on_current,
         |  CAST(count(DISTINCT ver_md5) AS BIGINT) AS n_versions
         |FROM facts JOIN dim ON facts.f_doc_id = dim.doc_id
         |  AND facts.epoch BETWEEN dim.valid_from AND dim.valid_to
         |GROUP BY epoch ORDER BY epoch""".stripMargin,
    "q_vocab_drift" ->
      s"""WITH bdocs AS (SELECT doc_id, text ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' updated' ELSE '' END AS text
         |  FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + $CrawlAddOffset, text || ' addendum'
         |  FROM documents WHERE doc_id % 17 = 0),
         |va AS (SELECT DISTINCT unnest(list_filter(
         |    string_split_regex(lower(text), '[^a-z]+'),
         |    x -> length(x) > 0)) AS tok FROM documents),
         |vb AS (SELECT DISTINCT unnest(list_filter(
         |    string_split_regex(lower(text), '[^a-z]+'),
         |    x -> length(x) > 0)) AS tok FROM bdocs)
         |SELECT
         |  CAST((SELECT count(*) FROM va) AS BIGINT) AS n_vocab_a,
         |  CAST((SELECT count(*) FROM vb) AS BIGINT) AS n_vocab_b,
         |  CAST((SELECT count(*) FROM vb WHERE tok NOT IN (SELECT tok FROM va))
         |    AS BIGINT) AS n_new,
         |  CAST((SELECT count(*) FROM va WHERE tok NOT IN (SELECT tok FROM vb))
         |    AS BIGINT) AS n_lost""".stripMargin,
    "q_ingest_jsonl" ->
      s"""WITH good AS (SELECT source, lang, text,
         |  ('0x' || substr(md5(source || chr(1) || text), 1, 15))::BIGINT
         |    AS cid
         |  FROM documents WHERE doc_id % $MalformedMod <> 0),
         |agg AS (SELECT source,
         |  count(*) AS n_records,
         |  count(DISTINCT cid) AS n_ids,
         |  count(DISTINCT lang) AS n_langs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  bit_xor(cid) AS id_xor
         |  FROM good GROUP BY source),
         |mal AS (SELECT '__malformed__' AS source,
         |  count(*) AS n_records,
         |  CAST(0 AS BIGINT) AS n_ids, CAST(0 AS BIGINT) AS n_langs,
         |  CAST(0 AS BIGINT) AS n_chars, CAST(0 AS BIGINT) AS id_xor
         |  FROM documents WHERE doc_id % $MalformedMod = 0)
         |SELECT * FROM agg UNION ALL SELECT * FROM mal ORDER BY source"""
        .stripMargin,
    // the fixture is a deterministic function of documents, so the oracle
    // derives the expected ledger directly — round-trip fidelity of the
    // quoted note field is exactly what the note_xor column checks
    "q_ingest_csv" ->
      s"""WITH good AS (SELECT source, lang, text,
         |  ('0x' || substr(md5(source || chr(1) || text), 1, 15))::BIGINT
         |    AS cid,
         |  ('0x' || substr(md5('len="' || CAST(n_chars AS VARCHAR)
         |    || '", lang=' || lang), 1, 15))::BIGINT AS nid
         |  FROM documents WHERE doc_id % $CsvMalformedMod <> 0),
         |agg AS (SELECT source,
         |  count(*) AS n_records,
         |  count(DISTINCT cid) AS n_ids,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  bit_xor(cid) AS id_xor,
         |  bit_xor(nid) AS note_xor
         |  FROM good GROUP BY source),
         |mal AS (SELECT '__malformed__' AS source,
         |  count(*) AS n_records,
         |  CAST(0 AS BIGINT) AS n_ids, CAST(0 AS BIGINT) AS n_chars,
         |  CAST(0 AS BIGINT) AS id_xor, CAST(0 AS BIGINT) AS note_xor
         |  FROM documents WHERE doc_id % $CsvMalformedMod = 0)
         |SELECT * FROM agg UNION ALL SELECT * FROM mal ORDER BY source"""
        .stripMargin,
    // the two vintages are deterministic parity splits of documents, so
    // the oracle derives the merged-read census directly
    "q_schema_merge" ->
      """SELECT CAST(1 AS BIGINT) AS v, count(*) AS n_rows,
        |  count(DISTINCT source) AS n_sources,
        |  count(*) AS n_lang_null, CAST(0 AS BIGINT) AS n_langs
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), count(DISTINCT source),
        |  CAST(0 AS BIGINT), count(DISTINCT lang)
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY v""".stripMargin,
    // INDEPENDENT derivation: the oracle recomputes the POST-change
    // snapshot from the plant rules directly — the Spark side must reach
    // the same census through the merge mechanics
    "q_merge_upsert" ->
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' updated'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + $CrawlAddOffset, source, text || ' addendum'
         |  FROM documents WHERE doc_id % 17 = 0)
         |SELECT source, count(*) AS n_docs,
         |  bit_xor(('0x' || substr(md5(source || chr(1) || text), 1, 15))::BIGINT)
         |    AS id_xor
         |FROM b GROUP BY source ORDER BY source""".stripMargin
  )
}
