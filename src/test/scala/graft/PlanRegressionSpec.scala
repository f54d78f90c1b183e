package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.{Relational, Sampling, Similarity, TextAnalysis}

/** Locks the 100×-scale plan shapes against optimizer-visible regressions:
  * these assertions fail if a future edit reintroduces a shuffle, loses a
  * pushdown, or widens a scan — the silent regressions that only show up
  * as money on a real cluster.
  */
class PlanRegressionSpec extends SparkSpec with Matchers {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_filter_project: filters are pushed to the parquet scan") {
    val plan = formatted(Relational.qFilterProject(spark, sf()))
    // the predicate reaches the scan as pushed filters…
    plan should include("PushedFilters")
    plan should include regex "PushedFilters: \\[[^\\]]*EqualTo\\(l_returnflag,R\\)"
    plan should include regex "PushedFilters: \\[[^\\]]*GreaterThan\\(l_quantity"
    // …and the scan reads only the involved columns, not the table
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    readSchema should include("l_orderkey")
    readSchema should not include "l_comment"
    readSchema should not include "l_partkey"
  }

  test("q_len_quantiles_sketch: no per-source Window/sort — partial-aggregating sketch only") {
    // the exact twin funnels each source through one task
    // (Window.partitionBy(source) + row_number); the sketch path must stay
    // a regular two-level aggregation: a Window or a per-source Sort here
    // IS the round-5 `weak` plan coming back
    val plan = TextAnalysis.qLenQuantilesSketch(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("quantile_sketch")
    // partial aggregation present: the sketch aggregate appears in a
    // partial_ (map-side) form before the final, so shuffle payload per
    // (source × partition) is one bounded sketch, not the rows
    plan should include("partial_quantile_sketch")
  }

  test("q_tpch_q5: every dimension leg broadcasts; only the two fact-fact " +
    "joins shuffle; the orders date filter reaches the scan") {
    val df = Relational.qTpchQ5(spark, sf())
    val plan = formatted(df)
    // dimension legs (region->nation, supplier, and customer against the
    // nation-pruned probe) are broadcast joins — no dimension shuffles
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the date filter is pushed into the orders parquet scan
    plan should include regex "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate"
    // fact-fact joins shuffle on their natural keys; everything else is
    // broadcast, so hash-partitioned exchanges stay <= 3 (two fact joins
    // + the final aggregation; AQE may elide some at this SF)
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    exchanges should be <= 3
  }

  test("q_id_gaps: gap census plans without any Window (no global sort)") {
    // the shifted anti-join formulation exists precisely to avoid
    // rank-vs-key islands (a corpus-wide single-partition Window); a
    // Window here is the banned formulation coming back
    val plan = Relational.qIdGaps(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should not include "CartesianProduct"
  }

  test("IVF assignment stage is row-local: no Exchange, no Window") {
    // round 1 computed this argmax with crossJoin + row_number() over a
    // Window partitioned by vec_id — N·k rows through an Exchange; the
    // assignment must stay a row-local expression over the scan
    val plan = Similarity.ivfAssigned(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should not include "Window"
    plan should include("nearest_centroid")
  }

  test("persisted IVF index probe is partition-pruned to the probed clusters") {
    val out = Similarity.qAnnIvfIndex(spark, sf())
    out.count() should be > 0L
    // the probe-side scan reads the index through a c_id PartitionFilter
    // (reconstruct the probe read the query performs and inspect its scan)
    val idx = Similarity.ivfIndexPath(spark, sf())
    val pruned = spark.read.parquet(idx).filter(col("c_id").isin(0L, 1L))
    val scan = formatted(pruned)
    scan should include("PartitionFilters")
    scan should include regex "PartitionFilters: \\[[^\\]]*c_id"
    // pruning is real: only the two probed directories' rows are read
    val full = spark.read.parquet(idx)
    pruned.count() should be < full.count()
  }

  test("dimension join broadcasts; no shuffle on the dimension side") {
    val plan = Relational.qJoinBroadcast(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("q_text_repetition is a pure map stage: no aggregate, only the sort") {
    // per-document signals must not shuffle the corpus — the top-bigram
    // count is a row-local expression, so the only Exchange allowed is the
    // final presentation sort's range partitioning
    val plan = TextAnalysis.qTextRepetition(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "Aggregate"
    plan.sliding("Exchange".length).count(_ == "Exchange") should be <= 1
    plan should include("max_freq_count")
  }

  test("decontamination probes the eval shingle set via broadcast") {
    // the 100 TB shape: the bounded eval side broadcasts; the corpus side
    // must never shuffle its shingles to meet it (a SortMergeJoin here
    // would re-key the whole exploded corpus)
    val plan = operators.Dedup.qDecontaminate(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q_inverted_index posting lists aggregate partially (bounded min_k)") {
    // the k-bounded aggregate must run map-side (partial) so a hot word's
    // group never materializes — partial_min_k before the Exchange
    val plan = TextAnalysis.qInvertedIndex(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("partial_min_k")
  }

  test("q_text_selfrepeat is a pure map stage: no aggregate, only the sort") {
    // the repeated-span fraction is row-local (one n-gram array + its
    // distinct count per document); nothing about it may shuffle the corpus
    val plan = TextAnalysis.qTextSelfrepeat(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "Aggregate"
    plan.sliding("Exchange".length).count(_ == "Exchange") should be <= 1
  }

  test("q_lm_score: the vocabulary-size side joins via broadcast, " +
    "never a corpus re-shuffle against a 1-row side") {
    val plan = TextAnalysis.qLmScore(spark, sf())
      .queryExecution.executedPlan.toString
    // the 1-row vocab aggregate must broadcast (nested-loop on 1 row is
    // free; a shuffle against it would re-key the whole exploded corpus)
    plan should include("Broadcast")
    // token explosion feeds partial aggregation before any Exchange
    plan should include("partial_count")
  }

  test("q_pack: the stream window's partitioning feeds the stream aggregate " +
    "without a second corpus-sized Exchange") {
    val plan = operators.Sampling.qPack(spark, sf())
      .queryExecution.executedPlan.toString
    // window over (source, shard), then the (source, shard) aggregate —
    // same keys, so exactly one Exchange may appear below the Window and
    // none between Window and the first HashAggregate
    val windowIdx = plan.indexOf("Window")
    windowIdx should be > 0
    // the stream aggregate is the NEAREST HashAggregate above the window
    // (plan prints top-down); no Exchange may separate them — the window's
    // hashpartitioning(source, shard) satisfies the aggregate's requirement
    val streamAggIdx = plan.lastIndexOf("HashAggregate", windowIdx)
    streamAggIdx should be > 0
    plan.substring(streamAggIdx, windowIdx) should not include "Exchange"
  }

  test("q_star_topk: both dimensions broadcast, one fact shuffle, top-k " +
    "never globally sorts") {
    val plan = Relational.qStarTopk(spark, sf())
      .queryExecution.executedPlan.toString
    // the fact table reaches the aggregation without a join shuffle…
    val bhj = plan.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin")
    bhj shouldBe 2
    plan should not include "SortMergeJoin"
    // …the only shuffle is the ~25-group aggregation…
    val shuffles = plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    shuffles shouldBe 1
    // …and the limit is a per-partition heap, not a global sort
    plan should include("TakeOrderedAndProject")
    plan should not include "Exchange rangepartitioning"
  }

  test("q_dedup_substring: match generation is bucket-grouped on the 8-byte " +
    "shingle hash — no cross join, no positional self-join") {
    val plan = operators.Dedup.qDedupSubstring(spark, sf())
      .queryExecution.executedPlan.toString
    // the ONLY corpus-sized shuffle ships (md5_prefix60 long, doc, pos);
    // pairs are emitted per capped bucket, never via an all-pairs join of
    // the positional shingle table against itself
    plan should include("md5_prefix60")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the bucket stage materializes per-hash occurrence lists (collect_list
    // → ObjectHashAggregate) feeding the in-bucket pair explode; the
    // splice-construction join on doc_id stays a plain equi-join
    plan should include("ObjectHashAggregate")
  }

  test("q_kmv sketch aggregates partially: bounded buffers before the Exchange") {
    val plan = operators.Events.qKmv(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("partial_min_k_distinct")
  }

  test("q_ngram_novelty shuffles 8-byte hashed shingles, not strings") {
    // first-occurrence needs one groupBy(shingle); the shingle must be the
    // 60-bit md5 long (md5_prefix60) before the Exchange so the shuffle
    // payload is fixed-width
    val df = TextAnalysis.qNgramNovelty(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    plan should include("md5_prefix60")
    import org.apache.spark.sql.types.LongType
    df.schema("n_shingles").dataType shouldBe LongType
  }

  test("q_dedup_lines shuffles 8-byte line hashes; line text never shuffles") {
    val plan = operators.Dedup.qDedupLines(spark, sf())
      .queryExecution.executedPlan.toString
    // chunk + hash happen row-locally before the first Exchange
    plan should include("md5_prefix60")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the chunk+hash+posexplode pipeline evaluates ONCE: the per-hash
    // stats aggregation AND the join-back side both scan the shared
    // persisted line table (round-6 `weak`: as an uncached subtree the
    // chunker ran twice per pass). Two cache scans, one InMemoryRelation;
    // removing the persist makes this count 0.
    "InMemoryTableScan".r.findAllIn(plan).size shouldBe 2
  }

  test("q_dedup_lines_keep: text rides only doc_id-keyed exchanges") {
    val plan = operators.Dedup.qDedupLinesKeep(spark, sf())
      .queryExecution.executedPlan.toString
    // the first-occurrence resolution shuffles (doc, line_no, h) longs;
    // the rebuild joins kept positions back on doc_id — never a cross join
    plan should include("md5_prefix60")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // first-agg + join-back sides read the shared persisted line table
    // (same single-evaluation pin as q_dedup_lines)
    "InMemoryTableScan".r.findAllIn(plan).size shouldBe 2
  }

  test("q_gopher is a pure map stage: no aggregate, only the sort") {
    val plan = TextAnalysis.qGopher(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "Aggregate"
    plan should not include "Join"
  }

  test("q_gopher_ngram is a pure map stage: ngram_coverage row-local, no aggregate") {
    val plan = TextAnalysis.qGopherNgram(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("ngram_coverage")
    plan should not include "Aggregate"
    plan should not include "Join"
  }

  test("q_text_selfspan is a pure map stage: self_spans row-local, no " +
    "aggregate, no join") {
    val plan = TextAnalysis.qTextSelfspan(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("self_spans")
    plan should not include "Aggregate"
    plan should not include "Join"
    plan.sliding("Exchange".length).count(_ == "Exchange") should be <= 1
  }

  test("q_quality_classifier is a pure map stage: no aggregate, no join, " +
    "only the presentation sort shuffles") {
    val plan = TextAnalysis.qQualityClassifier(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "Aggregate"
    plan should not include "Join"
    plan.sliding("Exchange".length).count(_ == "Exchange") should be <= 1
  }

  test("q_split_leakage: label + audit adds no join beyond the pipeline's " +
    "verify joins, and no cross join anywhere") {
    val plan = operators.Dedup.qSplitLeakage(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the two verify joins of the pipeline front half and nothing more
    plan.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin") +
      plan.sliding("ShuffledHashJoin".length).count(_ == "ShuffledHashJoin") +
      plan.sliding("BroadcastHashJoin".length)
        .count(_ == "BroadcastHashJoin") should be <= 2
  }

  test("q_text_entropy is a pure map stage: unigram_stats row-local, no aggregate") {
    val plan = TextAnalysis.qTextEntropy(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("unigram_stats")
    plan should not include "Aggregate"
    plan should not include "Join"
  }

  test("q_heavy_hitters: map-side partial sketch, candidates broadcast into the exact pass") {
    val plan = TextAnalysis.qHeavyHitters(spark, sf())
      .queryExecution.executedPlan.toString
    // pass 1 partial-aggregates per partition (<= k pairs on the wire)…
    plan should include("partial_freq_sketch")
    // …and pass 2 probes via a broadcast of the <= k candidates, never a
    // shuffle join of the full vocabulary
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q_join_bucketed: no Exchange under the sort-merge join — bucketing pre-paid it") {
    val plan = graft.scale.Scale.qJoinBucketed(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("SortMergeJoin")
    // neither join input re-shuffles on its key: the bucketed scans carry
    // the hashpartitioning the join needs. (The aggregation above the
    // join keeps its own Exchange on o_orderpriority — that one is fine.)
    plan should not include regex("Exchange hashpartitioning\\(l_orderkey")
    plan should not include regex("Exchange hashpartitioning\\(o_orderkey")
  }

  test("q_agg_salted: two aggregation levels — per-salt partial, then per-key final") {
    val plan = graft.scale.Scale.qAggSalted(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("pmod") // the salt derivation survives into the plan
    // exactly two hash-exchanges: (key, salt) for the partial pass and
    // key for the final; a third would mean the salting doubled a shuffle
    // instead of splitting one
    plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") shouldBe 2
  }

  test("q_chunk_overlap is a pure map stage: strided chunker row-local, no aggregate") {
    val plan = TextAnalysis.qChunkOverlap(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("token_chunks")
    plan should not include "HashAggregate"
    plan should not include "Join"
  }

  test("q_crawl_delta: fingerprints computed before the join — text never rides the Exchange") {
    val df = graft.sources.Ingest.qCrawlDelta(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    // every exchange payload is (doc_id, source, md5) — the text column
    // must not appear in any hashpartitioning exchange's output
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    exchanges should not be empty
    exchanges.foreach(_ should not include "text#")
    plan should not include "CartesianProduct"
  }

  test("q_ingest_jsonl: gzip shard scan parallelism equals the shard count") {
    graft.sources.Ingest.parsed(spark, sf())
      .rdd.getNumPartitions shouldBe graft.sources.Ingest.IngestShards
  }

  test("q_curation_funnel: dedup resolution shuffles hashes, not text") {
    val plan = TextAnalysis.qCurationFunnel(spark, sf())
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    exchanges.foreach(_ should not include "text#")
    plan should not include "CartesianProduct"
  }

  test("q_bm25: the bounded scored side broadcasts into the corpus-stat joins") {
    val plan = TextAnalysis.qBm25(spark, sf())
      .queryExecution.executedPlan.toString
    // tf (filtered to the scored docs) and dl broadcast; the 1-row corpus
    // stats frame broadcasts; no shuffle join against vocabulary-sized df
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("q_zorder: one map-side-combined aggregation, interleave row-local") {
    val plan = graft.scale.Scale.qZorder(spark, sf())
      .queryExecution.executedPlan.toString
    // the interleave arithmetic stays in the project (codegen'd), the
    // aggregation partial-combines before its single hash exchange, and
    // the only other exchange is the output sort's range partitioning
    plan should include("partial_")
    plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") shouldBe 1
    plan should not include "Join"
    plan should not include "Window"
  }

  test("q_pagerank: iteration rounds stay checkpoint-truncated — the " +
    "final plan reads one cached round, not the 8-round lineage") {
    // every Iterate loop, and whether its output is a top-100
    val loops = Seq("q_pagerank" -> true, "q_pagerank_edges" -> true,
      "q_sssp" -> false, "q_lpa" -> true, "q_bfs" -> false)
    for ((q, top100) <- loops) withClue(s"$q: ") {
      val plan = graft.operators.Graph.queries(q)(spark, sf())
        .queryExecution.executedPlan.toString
      // localCheckpoint per round: the deployed plan scans checkpointed
      // rounds' RDDs, so no per-round Exchange chain survives into it
      plan should include("Scan ExistingRDD")
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      // top-100 is a TakeOrdered, never a global sort of the corpus
      if (top100) plan should include("TakeOrderedAndProject")
    }
  }

  test("q_bfs: a round's plan reads only the previous round's checkpoint " +
    "— its checkpointed leaves do not grow with the round") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marker = s"bfs_probe_${System.nanoTime()}"
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.output.map(_.name) match {
          case Seq("id", "lvl") => plans.add(qe.executedPlan.toString)
          case Seq(`marker`) => plans.add(marker)
          case _ => ()
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.operators.Graph.qBfs(spark, sf())
      // listener events arrive in order: the marker query's closes the run
      spark.range(1).select(lit(1).as(marker)).collect()
      eventually(timeout(30.seconds))(plans should contain(marker))
    } finally spark.listenerManager.unregister(listener)
    val leaves = plans.asScala.toSeq.filter(_ != marker)
      .map(p => p.sliding("Scan ExistingRDD".length).count(_ == "Scan ExistingRDD"))
      .filter(_ > 0) // the initial state's checkpoint reads no checkpoint
    // the expander needs several rounds before its frontier empties
    leaves.size should be >= 3
    leaves.distinct.size shouldBe 1
  }

  test("q_kcore: a peel round is one keyed aggregation — exactly one " +
    "Exchange and no join") {
    import graft.operators.Graph
    // the round's input as Iterate hands it over: a checkpointed state
    val adj = Graph.adjacency(spark, sf(), Graph.TriCoeffs).localCheckpoint()
    val plan = Graph.kcoreRound(adj).queryExecution.executedPlan.toString
    plan.sliding("Exchange".length).count(_ == "Exchange") shouldBe 1
    plan should not include "Join"
  }

  test("q_audio_dedup: WAV payloads never ride an Exchange — only " +
    "fixed-width fingerprint rows shuffle") {
    val plan = graft.operators.Multimodal.qAudioDedup(spark, sf())
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange")).toSeq
    exchanges should not be empty
    exchanges.foreach(_ should not include "payload")
    plan should not include "CartesianProduct"
  }

  test("q_image_dedup: PNG payloads never ride an Exchange — only " +
    "fixed-width fingerprint rows shuffle") {
    val plan = graft.operators.Multimodal.qImageDedup(spark, sf())
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange")).toSeq
    exchanges should not be empty
    exchanges.foreach(_ should not include "payload")
    plan should not include "CartesianProduct"
  }

  test("q_vocab_growth: no global window — rank comes from the shared " +
    "prefix-sum state, first-occurrence is an algebraic min") {
    val plan = graft.operators.TextAnalysis.qVocabGrowth(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should not include "CartesianProduct"
  }

  test("q_sample_pps: rides the memoized order state — no extra corpus " +
    "shuffle beyond the shared range partitioning, no window") {
    val plan = graft.operators.GlobalOrder.qSamplePps(spark, sf())
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    // the multiplicity arithmetic is row-local over the shared ranked
    // frame: no hash exchange anywhere (range partitioning for the
    // output sort only)
    plan should not include "Exchange hashpartitioning"
  }

  test("q_exists: both correlated predicates decorrelate to key joins — " +
    "semi for EXISTS, anti for NOT EXISTS, no residual subquery") {
    val plan = Relational.qExists(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("LeftSemi")
    plan should include("LeftAnti")
    // nothing executes per-row: no subquery node survives in the
    // physical plan (scalar subqueries would show as "Subquery")
    plan should not include "InSubquery"
    plan.toLowerCase should not include "existencejoin"
  }

  test("q_lateral: the correlated LATERAL subquery decorrelates to one " +
    "join over a rank-limited window — never a per-customer execution") {
    val plan = formatted(Relational.qLateral(spark, sf()))
    plan should include("Join")
    // Spark's rank pushdown: the per-key LIMIT runs as WindowGroupLimit,
    // with a PARTIAL pass on the map side as well as the final one after
    // the shuffle (≥ 2 occurrences)
    "WindowGroupLimit".r.findAllIn(plan).size should be >= 2
    // nothing executes per-row: no lateral/subquery node survives
    plan.toLowerCase should not include "lateraljoin"
  }

  test("q_tpch_q17: the correlated scalar AVG over the fact table " +
    "decorrelates to one per-partkey aggregate joined back — never a " +
    "per-row subquery") {
    val plan = Relational.qTpchQ17(spark, sf())
      .queryExecution.executedPlan.toString
    // the decorrelated per-partkey aggregate feeds a key join
    plan should include("HashAggregate")
    plan should include("Join")
    // no scalar-subquery node survives into the physical plan
    plan should not include "Subquery subquery"
    plan.toLowerCase should not include "scalarsubquery"
  }

  test("q_tpch_q3: customer leg broadcasts, top-10 runs as " +
    "TakeOrderedAndProject — only 10 rows leave the aggregation") {
    val plan = Relational.qTpchQ3(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("TakeOrderedAndProject")
  }

  test("q_tpch_q10: nation broadcasts, top-20 runs as " +
    "TakeOrderedAndProject — only 20 rows leave the customer-grain " +
    "aggregation") {
    val plan = Relational.qTpchQ10(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("TakeOrderedAndProject")
    // both date bounds and the returnflag predicate reach the scans
    plan should include("PushedFilters")
  }

  test("q_sql_shingles: the generator streams rows into a map-side " +
    "partial aggregation — one exchange, no per-document array in the " +
    "plan output") {
    graft.functions.Generators.register(spark)
    val plan = operators.SqlSurface.qSqlShingles(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("Generate")
    // partial aggregation runs before any exchange (map-side combine on
    // the generated stream; the DISTINCT leg adds its own phases)
    plan should include("partial_")
    plan should not include "CollectList"
  }

  test("q_unpivot: the melt is one local Expand — no shuffle before the " +
    "3-group aggregation's exchange") {
    val plan = Relational.qUnpivot(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("Expand")
    // exactly one hash exchange: the final 3-group aggregation
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
  }

  test("q_auc: one corpus-keyed exchange with map-side partial aggregation; " +
    "the window walks the per-value frame and the source re-group reuses " +
    "its partitioning") {
    val plan = TextAnalysis.qAuc(spark, sf())
      .queryExecution.executedPlan.toString
    // (source, m) agg partial-aggregates before its exchange, so the
    // shuffle ships one row per distinct margin per partition
    plan should include("partial_count")
    // exactly two hash exchanges: (source, m) then source for the window;
    // the post-window groupBy(source) must NOT add a third
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
    plan should include("Window")
    plan should not include "CartesianProduct"
  }

  test("q_mrr: ONE pass over the memoized scored frame — a single " +
    "query-partitioned window + same-key aggregation, no re-join") {
    val plan = TextAnalysis.qMrr(spark, sf())
      .queryExecution.executedPlan.toString
    // r14 restructure: the first relevant document's row_number under
    // (score desc, doc_id) IS its rank, so the old two-leg shape (argmax
    // broadcast-joined back, rank counted on a second cache scan) is one
    // window over hits-proportional per-query frames + a groupBy on the
    // SAME key — no join of any kind remains, and the scored frame scans
    // exactly once
    // the postings joins live INSIDE the InMemoryRelation's recorded
    // build subtree (they execute once at frame build); the live query
    // above the cache boundary must be join-free
    val live = plan.split("InMemoryRelation", 2).head
    "Window".r.findAllIn(live).size shouldBe 1
    live should not include "BroadcastHashJoin"
    live should not include "SortMergeJoin"
    live should not include "CartesianProduct"
    "InMemoryTableScan \\[[^\\]]*score_ppb".r
      .findAllIn(plan).size shouldBe 1
  }

  test("q_bootstrap_median: the replicate histogram partial-aggregates " +
    "map-side before its exchange — the explode never ships raw") {
    val plan = Sampling.qBootstrapMedian(spark, sf())
      .queryExecution.executedPlan.toString
    plan should include("partial_sum")
    plan should not include "CartesianProduct"
    // replicate-partitioned windows only on the histogram frame; the
    // lone unpartitioned window is the |domain|-row population walk
    plan should include("Window")
  }

  test("q_sql_lsh_pairs: the signature pipeline evaluates ONCE — bucket " +
    "explode, never a banded self-join") {
    val plan = graft.operators.SqlSurface.qSqlLshPairs(spark, sf())
      .queryExecution.executedPlan.toString
    // the tokenize→shingle→signature pipeline must appear EXACTLY once:
    // a banded self-join or a UNION ALL of per-band SELECTs re-evaluates
    // it per reference (2 resp. 8 generators in the plan)
    "shingle_hashes".r.findAllIn(plan).size shouldBe 1
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastHashJoin"
    // exactly one Union: the planted near-dup corpus (base + tail
    // copies) BELOW the generator — a band-leg UNION above it would
    // multiply the generator count asserted above
    "Union".r.findAllIn(plan).size shouldBe 1
    plan should include("Generate explode")
  }

  test("q_sql_pipeline: the ledger is bit-equal to the Scala-DSL twin, " +
    "scans MATERIALIZED stage tables (signature pipeline evaluated once, " +
    "zero live generators in the final plan), and the cluster stage is " +
    "non-vacuous") {
    val df = graft.operators.SqlSurface.qSqlPipeline(spark, sf())
    // single evaluation: every heavy stage (gate, signatures, edges,
    // label rounds) MATERIALIZED as a parquet stage table during
    // construction, so the ledger's optimized plan SCANS stage tables —
    // re-running the tokenize→shingle→signature pipeline here would
    // surface as a live Generate node in the ledger plan
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val opt = df.queryExecution.optimizedPlan
    val stageScans = opt.collect {
      case lr: LogicalRelation
          if lr.catalogTable.exists(_.identifier.table.startsWith("graft_pl_"))
            || lr.relation.toString.contains("graft_pl_") => lr
    }
    stageScans.size should be >= 2
    opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    } shouldBe empty
    // round-13 scale pin: label propagation is seeded from the
    // EDGE-INCIDENT node set, so every round table is duplicate-set-sized
    // (≤ 2·|edges| rows), never corpus-sized — seeding from the sig table
    // (the round-12 `weak`) would make |lbl_0| = |sig| here
    val pt = (n: String) => graft.operators.SqlSurface.plTable(sf(), n)
    val edges = spark.table(pt("edges"))
    val nEdges = edges.count()
    val nIncident = edges.select(col("src"))
      .union(edges.select(col("dst"))).distinct().count()
    val nLbl0 = spark.table(pt("lbl_0")).count()
    nLbl0 shouldBe nIncident
    nLbl0 should be <= 2 * nEdges
    nLbl0 should be < spark.table(pt("sig")).count()
    val got = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // all three ledger states occur (a pipeline where the gate or the
    // dedup stage never fires would pass a vacuous equality)
    got.map(_._2).toSet shouldBe Set("gated", "kept", "duplicate")
    // every duplicate's canonical is a kept doc of the same cluster
    val keptIds = got.collect { case (id, "kept", _) => id }.toSet
    got.collect { case (_, "duplicate", c) => c }
      .forall(keptIds.contains) shouldBe true
    val want = graft.operators.SqlSurface.pipelineTwin(spark, sf())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    got shouldBe want
  }

  test("q_sql_pipeline_wide: the composed 100 TB recipe (df-kill + wide " +
    "bands) is bit-equal to the parameterized Scala twin, its candidate " +
    "stage never exceeds the default geometry's, and both pipelines " +
    "coexist under distinct variant-tagged stage tables") {
    val wide = graft.operators.SqlSurface.qSqlPipelineWide(spark, sf())
    val got = wide.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = graft.operators.SqlSurface.pipelineTwin(spark, sf(),
      rowsPerBand = graft.operators.Dedup.WideRowsPerBand, dfKill = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    got shouldBe want
    // the dedup stage stays non-vacuous at the wide geometry: the
    // df-kill re-converges planted pairs to J = 1, so even 4-row bands
    // collide on them (the q_dedup_dfkill_wide recall argument)
    got.map(_._2).toSet shouldBe Set("gated", "kept", "duplicate")
    val pt = (n: String) => graft.operators.SqlSurface.plTable(sf(), n)
    val ptW = (n: String) => graft.operators.SqlSurface.plTable(sf(), "w_" + n)
    // run the DEFAULT pipeline too (fresh tables) and compare stages:
    // wide candidates ⊆-sized vs default — the measured linear-mass claim
    // at the gate SF — while both variants' tables coexist by name
    graft.operators.SqlSurface.qSqlPipeline(spark, sf()).collect()
    val candDefault = spark.table(pt("cand")).count()
    val candWide = spark.table(ptW("cand")).count()
    candWide should be <= candDefault
    candWide should be > 0L
    // duplicate-set-sized propagation holds for the wide variant too
    val edgesW = spark.table(ptW("edges"))
    val nEdgesW = edgesW.count()
    spark.table(ptW("lbl_0")).count() should be <= 2 * nEdgesW
    // the df-kill stage materialized and killed at least one template
    // shingle at this SF (nonempty hot set ⇒ some doc's set shrank);
    // assert via total shingle mass: killed sig ≤ collected shs mass
    val shsMass = spark.table(ptW("shs"))
      .agg(sum(org.apache.spark.sql.functions.size(col("hs"))))
      .head().getLong(0)
    val sigMass = spark.table(ptW("sig"))
      .agg(sum(org.apache.spark.sql.functions.size(col("hs"))))
      .head().getLong(0)
    sigMass should be < shsMass
  }

  test("q_sql_pipeline: dir-tagged stage tables let two corpora coexist — " +
    "a ledger collected AFTER a second-corpus build still reads its own " +
    "corpus (the round-12 advisor's silent-rebind hazard)") {
    val a = graft.operators.SqlSurface.qSqlPipeline(spark, sf())
    def snap() = a.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val before = snap()
    // building the second corpus's pipeline would, WITHOUT the dir tags,
    // rebind every graft_pl_* name under `a`'s lazy plan
    val other = graft.operators.SqlSurface
      .qSqlPipeline(spark, sf("sf0.01")).collect()
    other should not be empty
    snap() shouldBe before
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    }
    finally walk.close()
  }

  private def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    finally walk.close()
  }

  test("q_sql_pipeline_wide: a corpus rewritten at the same path rebuilds " +
    "the shared gate/shs stages — the wide ledger equals a from-scratch " +
    "wide run, never one over stages of the old corpus") {
    import graft.operators.SqlSurface
    def ledger(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    val tmp = Files.createTempDirectory("graft-pl-rewrite")
    try {
      val dir = tmp.resolve("corpus")
      copyTree(java.nio.file.Paths.get(sf()), dir)
      SqlSurface.qSqlPipeline(spark, dir.toString).collect()
      // same path, new contents: 50 extra documents, exact copies of
      // existing ones under fresh ids (duplicates when built from scratch)
      val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      docs.union(docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 1000L))
        .write.parquet(tmp.resolve("staged").toString)
      Files.delete(dir.resolve("documents.parquet"))
      Files.move(tmp.resolve("staged"), dir.resolve("documents.parquet"))
      val got = ledger(SqlSurface.qSqlPipelineWide(spark, dir.toString))
      val fresh = tmp.resolve("fresh")
      copyTree(dir, fresh)
      val want = ledger(SqlSurface.qSqlPipelineWide(spark, fresh.toString))
      got.size shouldBe want.size
      want.collect { case (id, "duplicate", _) if id >= 1000 => id } should
        not be empty
      got shouldBe want
    } finally deleteTree(tmp)
  }

  test("q_sql_pipeline_wide launches the same jobs on a cold corpus as right " +
    "after q_sql_pipeline built it: no stage reuse across variants") {
    import graft.operators.SqlSurface
    val tmp = Files.createTempDirectory("graft-pl-order")
    try {
      val dir = tmp.resolve("corpus")
      copyTree(Paths.get(sf()), dir)
      val (_, cold) = jobsDuring(SqlSurface.qSqlPipelineWide(spark, dir.toString))
      SqlSurface.qSqlPipeline(spark, dir.toString)
      val (_, warm) = jobsDuring(SqlSurface.qSqlPipelineWide(spark, dir.toString))
      cold should be > 0
      warm shouldBe cold
    } finally deleteTree(tmp)
  }

  test("q_sql_pipeline on an edge-free corpus: the empty first round's write " +
    "observes no change, so the loop stops after one round") {
    import graft.operators.SqlSurface
    val tmp = Files.createTempDirectory("graft-pl-empty")
    try {
      val dir = tmp.resolve("corpus").toString
      // two one-word documents: the quality gate drops both, so no edges
      spark.createDataFrame(Seq((1L, "alpha"), (2L, "beta"))).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      val got = SqlSurface.qSqlPipeline(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      got.map(_._2).toSet shouldBe Set("gated")
      spark.table(SqlSurface.plTable(dir, "lbl_1")).count() shouldBe 0L
      spark.catalog.tableExists(SqlSurface.plTable(dir, "lbl_2")) shouldBe false
    } finally deleteTree(tmp)
  }

  test("q_sql_pipeline: the label rounds stop at the first round that changes " +
    "no root, and only the next round's write and the ledger read a round") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.operators.SqlSurface
    object Plans extends AdaptiveSparkPlanHelper
    val lbl = (0 to SqlSurface.PipelineMaxRounds)
      .map(i => SqlSurface.plTable(sf(), s"lbl_$i").toLowerCase -> i).toMap
    // per SQL execution: the round tables its physical plan scans, and the
    // table it writes (a stage write runs as a nested file insert)
    val execs = new ConcurrentLinkedQueue[(Set[Int], Option[String])]()
    val marker = s"pl-rounds-${System.nanoTime()}"
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.analyzed.toString.contains(marker)) markerSeen = true
        val scans = Plans.collect(qe.executedPlan) {
          case f: FileSourceScanExec => f.tableIdentifier.map(_.table.toLowerCase)
        }.flatten.flatMap(lbl.get).toSet
        val written = qe.analyzed.collectFirst {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName.toLowerCase
        }
        execs.add((scans, written))
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SqlSurface.qSqlPipeline(spark, sf()).collect()
      spark.sql(s"SELECT '$marker'").collect()
      eventually(timeout(30.seconds))(markerSeen shouldBe true)
    } finally spark.listenerManager.unregister(listener)
    def rows(i: Int) = spark.table(SqlSurface.plTable(sf(), s"lbl_$i")).collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    val r = lbl.collect { case (t, i) if spark.catalog.tableExists(t) => i }.max
    // sf0.001's duplicate clusters need one changing round, then one that
    // confirms the fixpoint
    r should be >= 2
    rows(r) shouldBe rows(r - 1)
    rows(r - 1) should not be rows(r - 2)
    import scala.jdk.CollectionConverters._
    val readers = execs.asScala.toSeq.filter(_._1.nonEmpty)
    withClue(readers.mkString("\n")) {
      // each round's write scans exactly the round before
      readers.collect { case (scans, Some(t)) if lbl.contains(t) =>
        scans shouldBe Set(lbl(t) - 1); lbl(t)
      }.toSet shouldBe (1 to r).toSet
      // no other write reads a round, and the ledger is the one read
      readers.filter(e => e._2.exists(t => !lbl.contains(t))) shouldBe empty
      readers.filter(_._2.isEmpty) shouldBe Seq((Set(r), None))
    }
  }

  test("q_corr_matrix: ONE lineitem scan + ONE aggregation — the 6-pair " +
    "matrix is a stack() over the single sufficient-stats row") {
    val plan = Relational.qCorrMatrix(spark, sf())
      .queryExecution.executedPlan.toString
    // structural one-pass: the six correlations used to be six union
    // branches each re-aggregating the fact (6 full scans at 100 TB if
    // ReuseExchange doesn't fire); now the unpivot runs over one row
    "Scan parquet".r.findAllIn(plan).size shouldBe 1
    // exactly one partial+final aggregate pair over the fact
    "HashAggregate".r.findAllIn(plan).size shouldBe 2
    // the unpivot is a Generate(stack), not a Union of re-aggregations
    plan should include("Generate stack")
    plan should not include "Union"
  }
}
