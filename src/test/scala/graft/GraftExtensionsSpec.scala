package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The extensions path needs its own session (extensions apply at build
  * time), separate from the shared test session.
  */
class GraftExtensionsSpec extends AnyFunSuite with Matchers {

  test("withExtensions installs vec functions for plain SQL") {
    // create() (not getOrCreate) so extensions apply even when another
    // suite's session exists; shares the JVM's SparkContext, so no stop()
    // — stopping would kill the context under the other suites
    val spark = extSession("graft-ext-test")
    val r = spark
      .sql("SELECT vec_dot(array(1f,2f), array(3f,4f)) d, " +
        "vec_cosine(array(1f,0f), array(0f,1f)) c")
      .head()
    r.getDouble(0) shouldBe 11.0
    r.getDouble(1) shouldBe 0.0

    val t = spark
      .sql("SELECT max_freq_count(array('a','b','a','a')) m")
      .head()
    t.getLong(0) shouldBe 3L

    val agg = spark
      .sql("SELECT min_k(v, 3) ks FROM VALUES (5L), (1L), (9L), (2L), (7L) AS t(v)")
      .head()
    agg.getSeq[Long](0) shouldBe Seq(1L, 2L, 5L)

    val kd = spark
      .sql("SELECT min_k_distinct(v, 3) ks FROM VALUES " +
        "(5L), (5L), (1L), (1L), (9L), (2L) AS t(v)")
      .head()
    kd.getSeq[Long](0) shouldBe Seq(1L, 2L, 5L)

    // exact bitmap distinct + intersection from pure SQL
    val bm = spark
      .sql("SELECT bitmap_card(bitmap_agg(v)) n, " +
        "bitmap_and_card(bitmap_agg(v), bitmap_agg(v + 1L)) both " +
        "FROM VALUES (1L), (1L), (2L), (64L), (200L) AS t(v)")
      .head()
    bm.getLong(0) shouldBe 4L // {1, 2, 64, 200}
    bm.getLong(1) shouldBe 1L // {1,2,64,200} ∩ {2,3,65,201} = {2}
    val bu = spark
      .sql("SELECT bitmap_or_card(bitmap_agg(v), bitmap_agg(v + 1L)) u " +
        "FROM VALUES (1L), (1L), (2L), (64L), (200L) AS t(v)")
      .head()
    bu.getLong(0) shouldBe 7L // {1,2,64,200} ∪ {2,3,65,201} = {1,2,3,64,65,200,201}

    // optional domainBits literal: ids past the default 2^17 domain work
    // when the SQL user widens the domain explicitly…
    val wide = spark
      .sql("SELECT bitmap_card(bitmap_agg(v, 21)) n FROM " +
        s"VALUES (1L), (${1L << 17}L), (${(1L << 21) - 1}L) AS t(v)")
      .head()
    wide.getLong(0) shouldBe 3L
    // …and the same ids fail loudly at the default domain
    val exDom = intercept[Exception] {
      spark.sql(s"SELECT bitmap_agg(v) FROM VALUES (${1L << 17}L) AS t(v)")
        .collect()
    }
    exDom.getMessage should include("outside declared domain")
    // a non-literal second argument is rejected at resolution
    val exArg = intercept[Exception] {
      spark.sql("SELECT bitmap_agg(v, cast(v AS INT)) FROM VALUES (1L) AS t(v)")
        .collect()
    }
    exArg.getMessage should include("INT literal")


    // n < 2k: sketch is exact — value at 1-based rank ceil(p*n)
    val sk = spark
      .sql("SELECT quantile_sketch(v, 16, 0.5D, 0.9D) q FROM " +
        "VALUES (10L), (20L), (30L), (40L), (50L) AS t(v)")
      .head()
    sk.getSeq[Long](0) shouldBe Seq(30L, 50L)

    // below capacity: Misra-Gries tracks every distinct item
    val fs = spark
      .sql("SELECT freq_sketch(v, 4) f FROM VALUES " +
        "('a'), ('b'), ('a'), ('c'), ('a') AS t(v)")
      .head()
    fs.getSeq[String](0) shouldBe Seq("a", "b", "c")

    val qs = spark
      .sql("SELECT vec_quant_stats(array(1.0f, -1.0f, 0.5f), 127) q")
      .head().getSeq[Double](0)
    qs(0) shouldBe 1.0 // max_abs
    qs(1) should be <= 1.0 / 127 / 2 // worst error within half a step
    qs(3) shouldBe 3.0
  }

  test("ApproxDistinctRewrite: inert by default, swaps exact distinct for " +
    "HLL++ under the flag, estimate inside the error envelope") {
    val spark = extSession("graft-approx-test")
    import org.apache.spark.sql.functions.{col, countDistinct}
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    def q() = docs.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n"))
    // flag off: exact plan, exact values
    val exact = q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!q().queryExecution.executedPlan.toString
      .contains("approx_count_distinct"))
    try {
      spark.conf.set(graft.plans.ApproxDistinctRewrite.Flag, "true")
      val plan = q().queryExecution.executedPlan.toString
      plan should include("approx_count_distinct")
      val approx = q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      approx.keySet shouldBe exact.keySet
      // HLL++ default relativeSD = 0.05; allow 3 sigma + integer slack
      exact.foreach { case (k, n) =>
        math.abs(approx(k) - n).toDouble should be <= (n * 0.15 + 2)
      }
      // multi-argument distinct stays exact (scope guard)
      val multi = docs.agg(
        countDistinct(col("lang"), col("source")).as("n"))
      assert(!multi.queryExecution.executedPlan.toString
        .contains("approx_count_distinct"))
    } finally spark.conf.set(graft.plans.ApproxDistinctRewrite.Flag, "false")
    // flag back off: exact again
    q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe exact
  }

  test("ApproxDistinctRewrite: descends into subquery expression plans") {
    val spark = extSession("graft-approx-subq-test")
    import spark.implicits._
    spark.range(1000).select(($"id" % 97).as("v"))
      .createOrReplaceTempView("subq_vals")
    def q() = spark.sql(
      "SELECT (SELECT count(DISTINCT v) FROM subq_vals) AS n")
    try {
      spark.conf.set(graft.plans.ApproxDistinctRewrite.Flag, "true")
      val plan = q().queryExecution.executedPlan.toString
      plan should include("approx_count_distinct")
      val n = q().head().getLong(0)
      math.abs(n - 97L).toDouble should be <= (97 * 0.15 + 2)
    } finally spark.conf.set(graft.plans.ApproxDistinctRewrite.Flag, "false")
    assert(!q().queryExecution.executedPlan.toString
      .contains("approx_count_distinct"))
    q().head().getLong(0) shouldBe 97L
  }

  test("ApproxPercentileRewrite: inert by default, swaps exact percentile " +
    "for the KLL sketch under the flag, rank inside the error envelope") {
    val spark = extSession("graft-approx-pct-test")
    import org.apache.spark.sql.functions.col
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.length(col("text"))
        .cast("long").as("len"))
    def q() = docs.selectExpr("percentile(len, 0.5D) AS p50")
    val exact = q().head().getDouble(0)
    assert(!q().queryExecution.executedPlan.toString
      .contains("quantile_sketch"))
    try {
      spark.conf.set(graft.plans.ApproxPercentileRewrite.Flag, "true")
      val plan = q().queryExecution.executedPlan.toString
      plan should include("quantile_sketch")
      plan should not include "percentile("
      val est = q().head().getDouble(0)
      // error envelope in RANK space: the estimate's exact rank must sit
      // within eps*n of the target rank (eps ~ 1/k, generous slack)
      val n = docs.count()
      val rank = docs.filter(col("len") <= est).count()
      math.abs(rank - 0.5 * n) should be <= (n / 64.0 + 2)
      // scope guards: array percentage and fractional frequency keep exact
      val multi = docs.selectExpr("percentile(len, array(0.5D, 0.9D)) AS ps")
      assert(!multi.queryExecution.executedPlan.toString
        .contains("quantile_sketch"))
    } finally spark.conf.set(graft.plans.ApproxPercentileRewrite.Flag, "false")
    q().head().getDouble(0) shouldBe exact
  }

  test("ApproxTopKRewrite: inert by default; under the flag the exact " +
    "top-k plan gains a broadcast semi join against Misra-Gries " +
    "candidates and still returns the exact heavy hitters") {
    val spark = extSession("graft-approx-topk-test")
    import org.apache.spark.sql.functions.{col, count, desc}
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    def q() = docs.groupBy(col("lang")).agg(count("*").as("cnt"))
      .orderBy(desc("cnt")).limit(3)
    val exact = q().collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(!q().queryExecution.executedPlan.toString.contains("freq_sketch"))
    try {
      spark.conf.set(graft.plans.ApproxTopKRewrite.Flag, "true")
      val plan = q().queryExecution.executedPlan.toString
      plan should include("freq_sketch")
      plan should include("LeftSemi")
      plan should include("Broadcast")
      // lang cardinality << k' = 64: every key proposed, so counts AND
      // membership are exact — the propose+verify contract at its floor
      q().collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
        exact
      // scope guard: ascending sort keeps the exact plan
      val asc = docs.groupBy(col("lang")).agg(count("*").as("cnt"))
        .orderBy(col("cnt")).limit(3)
      assert(!asc.queryExecution.executedPlan.toString.contains("freq_sketch"))
    } finally spark.conf.set(graft.plans.ApproxTopKRewrite.Flag, "false")
    q().collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe exact
  }

  test("TopKPerKey: the flag-gated rewrite plans the custom physical " +
    "operator with map-side pruning below the exchange, rows identical " +
    "to the exact Window plan") {
    val spark = extSession("graft-topk-exec-test")
    import org.apache.spark.sql.functions.{col, row_number}
    val dir = "/root/testdata/sf0.001"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    def windowed() = graft.tables.Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("event_type"), col("event_id"), col("value"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("event_type"), col("rk"))
    // inert by default: the ordinary Window plan
    val exactPlan = windowed().queryExecution.executedPlan.toString
    exactPlan should include("Window")
    exactPlan should not include "TopKPerKey"
    val exact = windowed().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    exact should not be empty
    // the registered query flips the flag around its own optimization only
    val df = graft.scale.Scale.qTopkExec(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    plan should include("TopKPerKeyFinal")
    plan should include("TopKPerKeyPartial")
    plan should not include "Window"
    // partial (map-side) pruning sits BELOW the exchange in the tree
    plan.indexOf("TopKPerKeyPartial") should be >
      plan.indexOf("TopKPerKeyFinal")
    plan.indexOf("TopKPerKeyPartial") should be > plan.indexOf("Exchange")
    // bit-equality: the custom operator reproduces the window rows
    df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq shouldBe exact
    // the flag was restored: a fresh identical query keeps its Window plan
    windowed().queryExecution.executedPlan.toString should not include
      "TopKPerKey"
    // metric ledger after execution: the partial heaps saw the corpus and
    // kept at most keys x k per partition — the saved shuffle volume,
    // reported as first-class SQLMetrics
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val partial = allNodes(df.queryExecution.executedPlan).collectFirst {
      case p: graft.plans.TopKPerKeyPartialExec => p
    }.get
    val nEvents = graft.tables.Tables.events(spark, dir).count()
    partial.metrics("numInputRows").value shouldBe nEvents
    val kept = partial.metrics("numOutputRows").value
    kept should be > 0L
    kept should be < nEvents
  }

  test("MvRewrite: the registered rollup is answered from the view " +
    "(coarser grouping re-aggregates), exactly; uncovered aggregates " +
    "keep the base plan") {
    val spark = extSession("graft-mv-test")
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val dir = "/root/testdata/sf0.001"
    // base derivation with the flag off — the ground truth
    def base() = graft.tables.Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(graft.operators.Relational.cents(col("l_quantity")))
          .as("qty_cents"))
      .orderBy(col("l_returnflag"))
    val want = base().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    base().queryExecution.optimizedPlan.toString should include("l_shipdate")
    // the registered query: flag flipped around its own optimization
    val df = graft.scale.Scale.qMvRollup(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    // plan swap: the view scan replaced the base relation
    opt should include("graft_mv_li")
    opt should not include "l_shipdate"
    // exactness: integer-cents partials re-aggregate bit-identically
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq shouldBe want
    // negative guard: an aggregate the view cannot answer keeps the base
    // plan even with the flag on
    spark.conf.set(graft.plans.MvRewrite.Flag, "true")
    try {
      // grouping-subsumption is ANY key subset, not just a prefix: the
      // OTHER single-key projection (GROUP BY l_linestatus over the
      // (flag, status) view) also answers from the view, bit-exactly
      def byStatus() = graft.tables.Tables.lineitem(spark, dir)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(graft.operators.Relational.cents(col("l_quantity")))
            .as("qty_cents"))
        .orderBy(col("l_linestatus"))
      val sOpt = byStatus().queryExecution.optimizedPlan.toString
      sOpt should include("graft_mv_li")
      sOpt should not include "l_shipdate"
      val sGot = byStatus().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      spark.conf.set(graft.plans.MvRewrite.Flag, "false")
      val sWant = byStatus().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      spark.conf.set(graft.plans.MvRewrite.Flag, "true")
      sGot shouldBe sWant
      // the grand total (empty grouping) also answers from the view
      val total = graft.tables.Tables.lineitem(spark, dir)
        .agg(count(lit(1)).as("n_rows"),
          sum(graft.operators.Relational.cents(col("l_quantity")))
            .as("qty_cents"))
      total.queryExecution.optimizedPlan.toString should include(
        "graft_mv_li")
      val t = total.collect().head
      (t.getLong(0), t.getLong(1)) shouldBe
        (want.map(_._2).sum, want.map(_._3).sum)
      val uncovered = graft.tables.Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .agg(sum(graft.operators.Relational.cents(col("l_extendedprice")))
          .as("price_cents"))
      val up = uncovered.queryExecution.optimizedPlan.toString
      up should not include "graft_mv_li"
      // and a non-key grouping is ignored too
      val nonKey = graft.tables.Tables.lineitem(spark, dir)
        .groupBy(col("l_shipdate")).agg(count(lit(1)).as("n"))
      nonKey.queryExecution.optimizedPlan.toString should not include
        "graft_mv_li"
    } finally spark.conf.set(graft.plans.MvRewrite.Flag, "false")
    // flag restored: a fresh base query keeps the base plan
    base().queryExecution.optimizedPlan.toString should include("l_shipdate")
  }


  test("MvRewrite on the canonical workload: TPC-H Q15's quarter revenue " +
    "view answers the quarter roll-up bit-exactly; filter templates gate " +
    "the match — a different quarter, an unfiltered query, and a " +
    "filtered query against the unfiltered view all keep the base plan") {
    val spark = extSession("graft-mv-q15-test")
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val dir = "/root/testdata/sf0.001"
    def revC = (graft.operators.Relational.cents(col("l_extendedprice")) *
      (lit(100L) - graft.operators.Relational.cents(col("l_discount"))))
      .cast("decimal(38,0)")
    def quarter(from: String, to: String) =
      col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(to).cast("timestamp")
    // ground truth with the flag off
    def base() = graft.tables.Tables.lineitem(spark, dir)
      .filter(quarter("1997-01-01", "1997-04-01"))
      .agg(count(lit(1)).as("n_lines"), sum(revC).as("rev_cbp"))
    val want = base().collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toString)).toSeq
    base().queryExecution.optimizedPlan.toString should not include
      "graft_mv_q15rev"
    // through the gate query (registers + materializes the view)
    val df = graft.scale.Scale.qMvTpchQ15(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    opt should include("graft_mv_q15rev")
    // the rewritten plan reads the VIEW, not the quarter fact scan
    opt should not include "lineitem.parquet"
    spark.conf.set(graft.plans.MvRewrite.Flag, "true")
    try {
      // bit-equality of the re-aggregated partials with the base plan
      base().collect()
        .map(r => (r.getLong(0), r.getDecimal(1).toString))
        .toSeq shouldBe want
      base().queryExecution.optimizedPlan.toString should include(
        "graft_mv_q15rev")
      // per-supplier grain (the view's own keys) also answers from it
      val bySupp = graft.tables.Tables.lineitem(spark, dir)
        .filter(quarter("1997-01-01", "1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"), sum(revC).as("rev_cbp"))
      bySupp.queryExecution.optimizedPlan.toString should include(
        "graft_mv_q15rev")
      // a DIFFERENT quarter must keep the base plan — answering it from
      // this view would be silently wrong
      val otherQ = graft.tables.Tables.lineitem(spark, dir)
        .filter(quarter("1997-04-01", "1997-07-01"))
        .agg(count(lit(1)).as("n_lines"), sum(revC).as("rev_cbp"))
      otherQ.queryExecution.optimizedPlan.toString should not include
        "graft_mv_q15rev"
      // an UNFILTERED query must not match the filtered view…
      val unfiltered = graft.tables.Tables.lineitem(spark, dir)
        .agg(count(lit(1)).as("n_lines"), sum(revC).as("rev_cbp"))
      unfiltered.queryExecution.optimizedPlan.toString should not include
        "graft_mv_q15rev"
      // …and — the shape-check guard — a FILTERED query must not match
      // the UNFILTERED rollup view either: a subtree-contains-scan test
      // would rewrite this and silently drop the filter
      graft.scale.Scale.qMvRollup(spark, dir) // registers the rollup view
      val filteredRollup = graft.tables.Tables.lineitem(spark, dir)
        .filter(quarter("1997-01-01", "1997-04-01"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(graft.operators.Relational.cents(col("l_quantity")))
            .as("qty_cents"))
      (filteredRollup.queryExecution.optimizedPlan.toString
        should not include "graft_mv_li")
    } finally spark.conf.set(graft.plans.MvRewrite.Flag, "false")
  }

  test("MV × IVM composition (q_mv_ivm): the incrementally MAINTAINED " +
    "Q15 view answers the post-delta revenue query — the optimized plan " +
    "scans the maintained table, not the updated lake; the maintained " +
    "rows are bit-equal to a from-scratch recompute; an out-of-quarter " +
    "query against the updated lake keeps its base plan") {
    val spark = extSession("graft-mv-ivm-test")
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val dir = "/root/testdata/sf0.001"
    // the gate query (builds lake + maintained view, registers the def,
    // optimizes under the thread-scoped flag)
    val df = graft.scale.Scale.qMvIvm(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    opt should include("graft_mv_ivm_q15")
    // the rewritten plan reads the maintained VIEW, not the updated lake
    opt should not include "graft_mv_ivm/"
    def revC = (graft.operators.Relational.cents(col("l_extendedprice")) *
      (lit(100L) - graft.operators.Relational.cents(col("l_discount"))))
      .cast("decimal(38,0)")
    def quarter(from: String, to: String) =
      col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(to).cast("timestamp")
    val lake = spark.read.parquet(
      graft.scale.Scale.mvIvmLakePath(spark, dir))
    // merged ≡ recomputed: the maintained table's rows equal a
    // from-scratch aggregation of the updated lake (per supplier, exact
    // count + DECIMAL(38,0) revenue partials) — the IVM contract proven
    // against the SAME bits the rewrite will serve
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val maintained = spark.table(s"graft_mv_ivm_q15$tag")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDecimal(2).toString)).toSet
    val scratch = lake.filter(quarter("1997-01-01", "1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"), sum(revC).as("rev_cbp"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDecimal(2).toString)).toSet
    maintained shouldBe scratch
    // the delta changed the view (the composition is not vacuous): the
    // maintained table differs from the pre-delta stored view
    val stored = spark.table(s"graft_mv_q15rev$tag")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDecimal(2).toString)).toSet
    maintained should not be stored
    // gate-query bit-equality: rewritten ≡ base plan over the lake
    spark.conf.set(graft.plans.MvRewrite.Flag, "true")
    try {
      def q() = lake.filter(quarter("1997-01-01", "1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"), sum(revC).as("rev_cbp"))
        .orderBy(col("l_suppkey"))
      q().queryExecution.optimizedPlan.toString should include(
        "graft_mv_ivm_q15")
      val got = q().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toString))
        .toSeq
      spark.conf.set(graft.plans.MvRewrite.Flag, "false")
      val want = q().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toString))
        .toSeq
      spark.conf.set(graft.plans.MvRewrite.Flag, "true")
      got shouldBe want
      // a different-quarter query against the updated lake keeps its base
      // plan (the filter template gates the maintained view exactly like
      // the original q15 view)
      val otherQ = lake.filter(quarter("1997-04-01", "1997-07-01"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"), sum(revC).as("rev_cbp"))
      otherQ.queryExecution.optimizedPlan.toString should not include
        "graft_mv_ivm_q15"
    } finally spark.conf.set(graft.plans.MvRewrite.Flag, "false")
  }

  test("JoinEliminationRule: the declared PK-FK key-only join is deleted " +
    "under the flag, bit-exactly; selective or column-keeping or " +
    "undeclared joins keep their plan") {
    val spark = extSession("graft-joinelim-test")
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum}
    val dir = "/root/testdata/sf0.001"
    val li = graft.tables.Tables.lineitem(spark, dir)
    val ord = graft.tables.Tables.orders(spark, dir)
    // the facts the declaration asserts, verified on the corpus itself:
    // o_orderkey unique, every l_orderkey present and non-null
    ord.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count() shouldBe 0L
    li.join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count() shouldBe 0L
    li.filter(col("l_orderkey").isNull).count() shouldBe 0L
    // ground truth with the join executed (flag off)
    def joined() = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(graft.operators.Relational.cents(col("l_quantity")))
          .as("qty_cents"))
      .orderBy(col("l_returnflag"))
    val want = joined().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    joined().queryExecution.optimizedPlan.toString should include("Join")
    // the registered query: flag flipped around its own optimization
    val df = graft.scale.Scale.qJoinEliminate(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    opt should not include "Join"
    opt should not include "o_orderkey"
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq shouldBe want
    spark.conf.set(graft.plans.JoinEliminationRule.Flag, "true")
    try {
      // keeping a dimension column keeps the join
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString should include("Join")
      // a FILTERED dimension keeps the join (selectivity would be lost)
      li.join(ord.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString should include("Join")
      // an UNDECLARED dimension keeps the join even when key-only
      val cust = graft.tables.Tables.customer(spark, dir)
      ord.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString should include("Join")
      // an OUTER join keeps its plan
      li.join(ord.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_outer")
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString should include("Join")
    } finally spark.conf.set(graft.plans.JoinEliminationRule.Flag, "false")
    // flag restored: the join plans as written again
    joined().queryExecution.optimizedPlan.toString should include("Join")
  }

  test("tokens generator: the wc Map contract is SQL-callable via " +
    "LATERAL VIEW and matches the reference tokenizer semantics") {
    val spark = extSession("graft-tokens-gen-test")
    // contract edge cases: case preserved, punctuation splits, unicode
    // letters are letters, digits separate, empty line emits nothing
    val rows = spark.sql(
      """SELECT line, pos, token FROM VALUES
        |  ('Hello, hello WORLD'), ('don''t stop42go'), (''), ('émigré café')
        |  AS t(line)
        |LATERAL VIEW tokens(line) g AS pos, token
        |ORDER BY line, pos""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    rows.toSeq shouldBe Seq(
      ("Hello, hello WORLD", 0, "Hello"),
      ("Hello, hello WORLD", 1, "hello"),
      ("Hello, hello WORLD", 2, "WORLD"),
      ("don't stop42go", 0, "don"),
      ("don't stop42go", 1, "t"),
      ("don't stop42go", 2, "stop"),
      ("don't stop42go", 3, "go"),
      ("émigré café", 0, "émigré"),
      ("émigré café", 1, "café"))
    // the SQL wordcount over the generator ≡ the batch WordCount map
    // semantics: counts by exact (unfolded) token
    val wc = spark.sql(
      """SELECT token, count(*) AS n FROM VALUES
        |  ('Hello, hello WORLD'), ('hello world')
        |  AS t(line)
        |LATERAL VIEW tokens(line) g AS pos, token
        |GROUP BY token ORDER BY token""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    wc.toSeq shouldBe Seq(
      ("Hello", 1L), ("WORLD", 1L), ("hello", 2L), ("world", 1L))
  }

  test("shingle_hashes generator: the span detector's positional hash " +
    "table is SQL-callable and bit-identical to the DataFrame path") {
    val spark = extSession("graft-shingles-gen-test")
    import org.apache.spark.sql.functions.{col, filter, lower,
      posexplode, split}
    val dir = "/root/testdata/sf0.001"
    val viaSql = spark.sql(
      s"""SELECT doc_id, pos, h
         |FROM parquet.`$dir/documents.parquet`
         |LATERAL VIEW shingle_hashes(text, 3) s AS pos, h""".stripMargin)
    // the Dedup.positionalHashes construction, inlined (same tokenizer,
    // same non-distinct trigram stream, same 60-bit md5 rule)
    val viaDf = graft.tables.Tables.documents(spark, dir)
      .withColumn("hs", graft.functions.SketchExpressions.md5Prefix60(
        graft.functions.SketchExpressions.wordNGrams(
          filter(split(lower(col("text")), "[^a-z]+"),
            t => org.apache.spark.sql.functions.length(t) > 0),
          3, distinct = false)))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    viaSql.exceptAll(viaDf).count() shouldBe 0L
    viaDf.exceptAll(viaSql).count() shouldBe 0L
    viaSql.count() should be > 0L
  }

  test("SQL pipeline entry points are bit-identical to the DataFrame " +
    "paths: minhash signatures, keep-first line dedup, gopher flags") {
    val spark = extSession("graft-sql-surface-test")
    import org.apache.spark.sql.functions.{col, filter, lower, split}
    val dir = "/root/testdata/sf0.001"

    // minhash signatures: SQL text vs the SketchExpressions pipeline
    val sqlSig = graft.operators.SqlSurface.qSqlMinhash(spark, dir)
    val toks = filter(split(lower(col("text")), "[^a-z]+"),
      t => org.apache.spark.sql.functions.length(t) > 0)
    val dfSig = graft.tables.Tables.documents(spark, dir)
      .withColumn("hs", graft.functions.SketchExpressions.md5Prefix60(
        graft.functions.SketchExpressions.wordNGrams(
          toks, 3, distinct = false)))
      .filter(org.apache.spark.sql.functions.size(col("hs")) > 0)
      .withColumn("mh", graft.functions.SketchExpressions.affineMinhashes(
        col("hs"), graft.operators.Dedup.NumHashes))
      .select(col("doc_id") +:
        (0 until graft.operators.Dedup.NumHashes).map(k =>
          org.apache.spark.sql.functions
            .element_at(col("mh"), k + 1).as(s"m$k")): _*)
    sqlSig.exceptAll(dfSig).count() shouldBe 0L
    dfSig.exceptAll(sqlSig).count() shouldBe 0L
    sqlSig.count() should be > 0L

    // keep-first line dedup: SQL text vs the TokenChunks/Md5Prefix60
    // packed-instance construction
    import org.apache.spark.sql.functions.{count => cnt, lit, min => mn,
      posexplode, sum => sm, when}
    val sqlLines = graft.operators.SqlSurface.qSqlLinesKeep(spark, dir)
    val lineRows = graft.tables.Tables.documents(spark, dir)
      .withColumn("hs", graft.functions.SketchExpressions.md5Prefix60(
        graft.functions.SketchExpressions.tokenChunks(
          toks, graft.operators.Dedup.LineTokens)))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("line_no", "h")))
      .withColumn("inst", col("doc_id") * lit(1L << 32) + col("line_no"))
    val first = lineRows.groupBy(col("h"))
      .agg(mn(col("inst")).as("first_inst"))
    val dfLines = lineRows.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(cnt(lit(1)).as("n_lines"),
        sm(when(col("inst") === col("first_inst"), 1L).otherwise(0L))
          .as("n_kept"),
        sm(when(col("inst") === col("first_inst"), col("line_no").cast("long"))
          .otherwise(-1L)).as("kept_pos_chk"))
    sqlLines.exceptAll(dfLines).count() shouldBe 0L
    dfLines.exceptAll(sqlLines).count() shouldBe 0L
    sqlLines.count() should be > 0L

    // LSH candidate pairs: SQL text vs the minhashBanded →
    // minhashCandidates stages over the same planted near-dup corpus
    val sqlPairs = graft.operators.SqlSurface.qSqlLshPairs(spark, dir)
    val dfPairs = graft.operators.Dedup.minhashCandidates(
      graft.operators.Dedup.minhashBanded(
        graft.operators.Dedup.withHashedShingles(
          graft.operators.Dedup.nearDupDocs(spark, dir))
          .select(col("doc_id"), col("hs"))),
      graft.operators.Dedup.MaxLshBucket)
    sqlPairs.exceptAll(dfPairs).count() shouldBe 0L
    dfPairs.exceptAll(sqlPairs).count() shouldBe 0L
    // the planted tail-copies guarantee candidates at every SF
    sqlPairs.count() should be > 0L

    // gopher battery: SQL text vs TextAnalysis.qGopher, same output shape
    val sqlGopher = graft.operators.SqlSurface.qSqlGopher(spark, dir)
    val dfGopher = graft.operators.TextAnalysis.qGopher(spark, dir)
    sqlGopher.columns.toSeq shouldBe dfGopher.columns.toSeq
    sqlGopher.exceptAll(dfGopher).count() shouldBe 0L
    dfGopher.exceptAll(sqlGopher).count() shouldBe 0L
    sqlGopher.count() should be > 0L
  }

  test("RuleOptIn scopes a rewrite to the calling thread: a plan forced " +
    "concurrently on another thread keeps its exact Window") {
    val spark = extSession("graft-ruleoptin-test")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val dir = "/root/testdata/sf0.001"
    def topkShaped() = {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      graft.tables.Tables.events(spark, dir)
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
    }
    // conf flag is off throughout: only the thread-local scope opts in
    spark.conf.get(graft.plans.TopKExecRewrite.Flag, "false") shouldBe "false"
    graft.plans.RuleOptIn.withFlag(graft.plans.TopKExecRewrite.Flag) {
      // THIS thread, inside the scope: the rewrite fires
      topkShaped().queryExecution.optimizedPlan.toString should include(
        "TopKPerKey")
      // ANOTHER thread, planning concurrently: untouched — this is the
      // round-8 advisor's hazard, closed by the thread-local scope
      @volatile var otherPlan: String = null
      val t = new Thread(() => {
        otherPlan = topkShaped().queryExecution.optimizedPlan.toString
      })
      t.start(); t.join()
      otherPlan should include("Window")
      otherPlan should not include "TopKPerKey"
    }
    // scope exited: this thread plans exactly again
    val after = topkShaped().queryExecution.optimizedPlan.toString
    after should include("Window")
    after should not include "TopKPerKey"
  }

  test("MvRewrite preserves empty-input semantics: a global count(*) over " +
    "an empty base answers 0 from the (empty) view, not NULL") {
    val spark = extSession("graft-mvempty-test")
    import org.apache.spark.sql.functions.{col, count, lit}
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_mv_empty")
    val basePath = tmp.resolve("base.parquet").toString
    val schema = StructType(Seq(
      StructField("k1", StringType), StructField("k2", StringType)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .write.mode("overwrite").parquet(basePath)
    def base() = spark.read.parquet(basePath)
    // materialize the (empty) rollup view and register its count matcher
    val viewTable = "graft_mv_empty_test"
    spark.sql(s"DROP TABLE IF EXISTS $viewTable")
    // a previous aborted run can leave the managed location behind, which
    // CREATE TABLE AS refuses; clear it like Scale.dropWithLocation does
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      viewTable)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (loc.exists()) rm(loc)
    base().groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n_rows"))
      .write.format("parquet").saveAsTable(viewTable)
    graft.plans.MaterializedViews.register(
      graft.plans.MaterializedViews.MvDef(
        viewTable, Seq("k1", "k2"), basePath,
        Seq(graft.plans.MaterializedViews.AggMap(
          graft.plans.MaterializedViews.countStar, "n_rows"))))
    // def, not val: QueryExecution memoizes the optimized plan, so the
    // flag-off collect below must not pin the plan the flag-on check reads
    def q() = base().agg(count(lit(1)).as("n_rows"))
    // flag off: base plan, count over empty base = 0
    q().collect().head.getLong(0) shouldBe 0L
    spark.conf.set(graft.plans.MvRewrite.Flag, "true")
    try {
      val opt = q().queryExecution.optimizedPlan.toString
      opt should include(viewTable)
      // the rewritten sum over the empty view would be NULL without the
      // coalesce — the row must still be 0, bit-identical to the base plan
      val r = q().collect().head
      r.isNullAt(0) shouldBe false
      r.getLong(0) shouldBe 0L
    } finally spark.conf.set(graft.plans.MvRewrite.Flag, "false")
  }

  /** Fresh factory session ([[GraftSession.builder]]) sharing the JVM's
    * SparkContext (see first test's note).
    * Forces the canonical [[SparkSpec.session]] context FIRST: if this
    * suite happens to run before any SparkSpec suite, `.create()` would
    * otherwise build the JVM-wide context at local[2] and every later
    * suite's file-scan bin-packing (e.g. the q_ingest_jsonl shard
    * parallelism pin) would inherit defaultParallelism 2.
    */
  private def extSession(name: String): SparkSession = {
    SparkSpec.session
    GraftSession.builder("local[2]").appName(name).create()
  }
}
