package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Relational, SessionMemo}
import graft.tables.Tables

/** Scale-out utilities: bucketed co-located joins and skew-resistant
  * aggregation. These are the knobs a 100 TB deployment turns when the
  * defaults (shuffle joins + AQE) aren't enough:
  *
  *   - **Bucketing** pre-shuffles a table ONCE at write time; every later
  *     equi-join or aggregation on the bucket key runs with no Exchange at
  *     all. For fact tables joined repeatedly on the same key (lineitem ⋈
  *     orders on orderkey), this converts the dominant per-query shuffle
  *     into a one-time write cost.
  *   - **Salting** splits a hot key across `salts` sub-keys for the partial
  *     aggregate, then combines — bounding any single task's input to
  *     1/salts of the hot key. (For skewed *joins*, prefer AQE's
  *     `spark.sql.adaptive.skewJoin.enabled=true`, on by default, which
  *     splits oversized partitions at runtime without changing the query.)
  *
  * Both are exercised as ORACLE-CHECKED queries ([[qJoinBucketed]],
  * [[qAggSalted]]): each must produce results bit-identical to its
  * unoptimized twin — the scale knob is a plan change, never a semantics
  * change — and PlanRegressionSpec pins the plan shapes (no Exchange under
  * the bucketed join; two aggregation levels for the salted path).
  */
object Scale {

  /** Bucket count for the demo tables — matched to the session's shuffle
    * partitions so bucketed scans align 1:1 with downstream reducers.
    */
  val JoinBuckets = 32

  /** Write `df` bucketed by `key` into `table` (session catalog). The
    * bucket count is the write-once knob: pick ≈ shuffle partitions of the
    * consuming queries so scans align 1:1 with reducers. The repartition
    * ON THE BUCKET KEY before the write matters twice over: bucketBy
    * writes one file per (task × bucket), so without it T input tasks
    * yield T·B small files; with it, task i holds exactly bucket i's rows
    * (repartition and bucketing share the Murmur3 hash) — one file per
    * bucket, and the per-file sortBy order then lets the bucketed
    * sort-merge join skip its Sort as well.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.repartition(buckets, col(key))
      .write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Join two same-bucketed tables on their bucket key — plans as a
    * sort-merge join with ZERO Exchange when bucket counts match.
    * `forceMerge` pins the SMJ strategy via the MERGE hint: at demo SFs
    * AQE would happily broadcast the smaller side, which hides exactly
    * the property the bucketing bought (at 100 TB neither side
    * broadcasts).
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      leftKey: String, rightKey: String, forceMerge: Boolean = false): DataFrame = {
    // side-qualified keys: bare col(...) === col(...) is ambiguous when both
    // tables bucket on the same column name — the common case
    val l0 = spark.table(left)
    val l = if (forceMerge) l0.hint("merge") else l0
    val r = spark.table(right)
    l.join(r, l0(leftKey) === r(rightKey))
  }

  /** Two-phase salted aggregation: partial aggregate on (keys, salt), final
    * on keys. `partials` expresses the per-salt partial aggregate; `finals`
    * must re-aggregate the partial columns (sum of sums, sum of counts…).
    * Equivalent to the direct groupBy for any algebraic aggregate, but no
    * single task ever sees more than ~1/salts of a hot key's rows.
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[Column],
      salts: Int)(
      partials: Seq[Column],
      finals: Seq[Column]): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
      .groupBy(keys :+ col("__salt"): _*)
      .agg(partials.head, partials.tail: _*)
      .groupBy(keys: _*)
      .agg(finals.head, finals.tail: _*)

  // -------------------------------------------------------------------
  // Oracle-checked queries
  // -------------------------------------------------------------------

  /** One bucketed write per (session, corpus): both fact tables land in
    * the session catalog bucketed by their orderkey — the write-once cost
    * the bucketing trade is ABOUT is paid once and reported in the bench
    * "build" column.
    */
  private val bucketMemo = new SessionMemo[(String, String)]()

  /** Drop a managed table AND its on-disk location: a previous JVM's
    * warehouse directory survives the in-memory catalog, and saveAsTable
    * refuses to create a managed table over an existing path.
    */
  private[graft] def dropWithLocation(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (loc.exists()) rm(loc)
  }

  private[graft] def bucketedPair(s: SparkSession, dir: String): (String, String) =
    bucketMemo.getOrElseUpdate(s, dir) {
      // catalog names must be unique per corpus dir within the session
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lt = s"graft_bkt_lineitem$tag"
      val ot = s"graft_bkt_orders$tag"
      dropWithLocation(s, lt)
      dropWithLocation(s, ot)
      writeBucketed(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice")),
        lt, "l_orderkey", JoinBuckets)
      writeBucketed(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        ot, "o_orderkey", JoinBuckets)
      (lt, ot)
    }

  /** [[Relational.qJoinShuffle]] re-planned over bucketed tables — same
    * oracle SQL, bit-identical result, but the fact-fact join runs with
    * NO Exchange on either input (plan-pinned): the one-time bucketed
    * write pre-paid the shuffle both sides would otherwise perform per
    * query. This is the bucketing contract a 100 TB deployment relies on
    * for its most-repeated join key.
    */
  def qJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = bucketedPair(s, dir)
    bucketedJoin(s, lt, ot, "l_orderkey", "o_orderkey", forceMerge = true)
      .groupBy(col("o_orderpriority"))
      .agg(
        Relational.dsum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** Skew-resistant twin of a plain groupBy aggregation: quantity totals
    * per return flag via [[saltedAgg]]. The salt splits every key 16 ways
    * for the partial pass, so a pathologically hot key (at 100 TB:
    * one flag holding half the corpus) never lands on a single task; the
    * final pass re-aggregates 16 bounded partials per key. Integer-cents
    * partial sums make the two-phase total bit-identical to the direct
    * aggregation under any row-to-salt assignment — which is what lets
    * ONE oracle SQL (the plain GROUP BY) pin the salted plan.
    */
  def qAggSalted(s: SparkSession, dir: String): DataFrame =
    saltedAgg(
      Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_quantity")),
      Seq(col("l_returnflag")),
      salts = 16)(
      partials = Seq(
        sum(Relational.cents(col("l_quantity")).cast("decimal(38,0)")).as("pq"),
        count(lit(1)).as("pc")),
      finals = Seq(
        (sum(col("pq")) / 100).cast("double").as("sum_qty"),
        sum(col("pc")).cast("long").as("n_lines")))
      .select(col("l_returnflag"), col("sum_qty"), col("n_lines"))
      .orderBy(col("l_returnflag"))

  /** Hot keys of `df` under `key`: exact census, keys holding more than
    * `threshold` rows. Bounded driver roundtrip by construction — at most
    * |df| / threshold keys can exceed the threshold, and a deployment
    * picks threshold ≈ the per-task row budget, so the set is tiny (it
    * is the set AQE's skew-split would discover from shuffle stats). One
    * map-side-combined aggregation; a Misra-Gries propose pass
    * ([[graft.functions.FreqSketchAggregate]]) could replace the census
    * at even larger key cardinalities, but the census is already one
    * bounded-output shuffle.
    */
  private[graft] def hotKeys(
      df: DataFrame, key: String, threshold: Long): Seq[Long] =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > threshold)
      .select(col(key).cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted

  /** Explicit two-path skew join — the hot-key counterpart of
    * [[saltedAgg]], for when a deployment cannot rely on AQE's runtime
    * skew split (disabled, non-shuffle plans, or skew known up front):
    *
    *   - COLD path: rows whose key is not hot take the ordinary equi-join.
    *   - HOT path: the skewed side's hot rows are salted `salts` ways
    *     (so no reducer sees more than ~1/salts of a hot key); the other
    *     side's hot rows — few, because hot KEYS are few even when their
    *     rows are many — are replicated once per salt and the join runs
    *     on (key, salt).
    *
    * The union is row-identical to the plain join under any row-to-salt
    * assignment (each left row meets each matching right row in exactly
    * one salt bucket) — a plan-only change, which is what lets the plain
    * JOIN SQL be the oracle. Replication cost is |hot right rows|·salts,
    * bounded by the hot-key census.
    */
  def skewJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      threshold: Long, salts: Int): DataFrame = {
    val hot = hotKeys(left, leftKey, threshold)
    if (hot.isEmpty) left.join(right, left(leftKey) === right(rightKey))
    else {
      val cold = left.filter(!col(leftKey).isin(hot: _*))
        .join(right.filter(!col(rightKey).isin(hot: _*)),
          left(leftKey) === right(rightKey))
      val saltedL = left.filter(col(leftKey).isin(hot: _*))
        .withColumn("__salt_l",
          pmod(spark_partition_id() + monotonically_increasing_id(),
            lit(salts.toLong)))
      val replR = right.filter(col(rightKey).isin(hot: _*))
        .withColumn("__salt_r",
          explode(sequence(lit(0L), lit(salts.toLong - 1L))))
      val hotJ = saltedL
        .join(replR, saltedL(leftKey) === replR(rightKey) &&
          saltedL("__salt_l") === replR("__salt_r"))
        .drop("__salt_l", "__salt_r")
      cold.unionByName(hotJ)
    }
  }

  /** Planted-skew twin of [[qJoinBucketed]]'s shape: every 97th orderkey
    * in lineitem is remapped to orderkey 0, concentrating ~1% of the fact
    * table on ONE key (67/586/6218 rows at sf0.001/0.01/0.1 — the
    * pathological reducer AQE's skew split exists for), then the join
    * runs through [[skewJoin]]. The oracle is the PLAIN join over the
    * same remap — the skew machinery must be invisible in the result.
    */
  val SkewThreshold = 32L
  val SkewSalts = 16

  private[graft] def skewedLineitem(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      when(col("l_orderkey") % 97 === 0, 0L).otherwise(col("l_orderkey"))
        .as("l_orderkey"),
      col("l_extendedprice"))

  def qJoinSkew(s: SparkSession, dir: String): DataFrame =
    skewJoin(
      skewedLineitem(s, dir),
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
      "l_orderkey", "o_orderkey",
      threshold = SkewThreshold, salts = SkewSalts)
      .groupBy(col("o_orderpriority"))
      .agg(
        Relational.dsum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))

  /** Set confs, run, restore — the [[graft.streaming.Streaming]] drain
    * discipline for confs that are read at EXECUTION time (AQE thresholds,
    * broadcast cutoffs), where the thread-scoped [[graft.plans.RuleOptIn]]
    * cannot help: the body must EXECUTE inside the scope, and Verify/Bench
    * run queries sequentially on one thread so the restore is visible to
    * the next query's execution.
    */
  private def withConfs[T](s: SparkSession, kv: (String, String)*)(f: => T): T = {
    // flatten(Option(_)): defaultless confs (the AQE broadcast threshold)
    // return NULL from get rather than throwing — both mean "unset"
    val old = kv.map { case (k, _) =>
      k -> scala.util.Try(s.conf.get(k)).toOption.flatMap(Option(_)) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Heavier plant for the AQE companion below: every THIRD orderkey goes
    * to key 0 (~33% of fact rows on one key — 2.0k/20k/200k rows at
    * sf0.001/0.01/0.1), so the skewed shuffle partition dwarfs the median
    * at every gate SF and AQE's runtime detector has an unmistakable
    * target. [[skewedLineitem]]'s 1/97 plant is skewed per-KEY but at 32
    * shuffle partitions the hot key adds only ~1/3 of a median PARTITION —
    * below any sane runtime threshold, which is itself the lesson: the
    * manual two-path join exists for per-key skew AQE's partition-level
    * detector cannot see.
    */
  private[graft] def aqeSkewedLineitem(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      when(col("l_orderkey") % 3 === 0, 0L).otherwise(col("l_orderkey"))
        .as("l_orderkey"),
      col("l_extendedprice"))

  /** AQE's RUNTIME skew handling on a planted hot key, manual path OFF —
    * the validation row for when [[skewJoin]]'s two-path machinery is
    * actually needed (round-8 verdict item 5). The join is written PLAIN
    * (no salting, no hot-key census) with a merge hint (skew split
    * applies to sort-merge joins; broadcast is additionally disabled so a
    * small dimension cannot dodge the shuffle), and executed under
    * fixture-sized skew thresholds: the hot partition (~33% of the fact
    * table, [[aqeSkewedLineitem]]) exceeds 2× the median partition and
    * the byte floor at every gate SF, so OptimizeSkewedJoin MUST split
    * it — asserted loudly on the final adaptive plan (`skew=true`), the
    * same hard-signal posture as the streaming drains. The collected
    * 5-row rollup is returned as a local relation, so the gate hashes the
    * output the AQE-skew execution actually produced; the DuckDB oracle
    * is the plain join over the same remap — the runtime split must be
    * invisible in the result, exactly like the manual path.
    *
    * At 100 TB: partition-level skew (one reducer dominating a stage) is
    * AQE's job and needs no code — this row proves it bit-exact; per-key
    * skew below partition visibility, or non-shuffle plans, still need
    * [[skewJoin]]. Confs are scoped via [[withConfs]] because AQE reads
    * them at execution, and execution happens inside the constructor
    * (bounded: the rollup is |priority| rows).
    */
  def qJoinSkewAqe(s: SparkSession, dir: String): DataFrame = {
    // repartition(8): AQE splits a skewed reduce partition at MAP-OUTPUT
    // boundaries, so the hot partition's bytes must come from several
    // mappers to be divisible at all. The fixture is a single-row-group
    // parquet file → ONE scan task → one mapper → split mathematically
    // impossible however skewed the key (probed: skew=true never appears
    // without this). A 100 TB fact scan has thousands of mappers and
    // needs no such help; the round-robin pre-distribution recreates that
    // production shape in the sandbox and does not touch semantics (the
    // oracle is the plain join).
    val joined = aqeSkewedLineitem(s, dir).repartition(8)
      .join(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority")).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        Relational.dsum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
    val rows = withConfs(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4096",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val collected = joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      require(finalPlan.contains("skew=true"),
        "OptimizeSkewedJoin did not fire on the planted hot key — the AQE " +
          "validation row would silently measure a plain join; final plan:\n" +
          finalPlan)
      collected
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), joined.schema)
  }

  /** Bloom-prefiltered join — the shuffle-volume reducer for a
    * selective-dimension ⋈ huge-fact join (what Spark's own
    * InjectRuntimeFilter does adaptively, made explicit and pinnable):
    * build a Bloom filter over the dimension keys (ONE bounded-size
    * binary, collected driver-side and shipped as a plan literal — the
    * ANN-centroid pattern), drop fact rows that cannot match BEFORE the
    * join Exchange, then run the exact join. False positives pass the
    * prefilter and are eliminated by the join, so the result is
    * row-identical to the plain join at any fpp — a plan-only change;
    * the plain-join SQL is the oracle. At 100 TB: a 1M-key dimension is
    * a ~1 MB task-shipped filter that spares the shuffle the >90% of
    * fact rows a selective dimension never matches.
    */
  /** The fact side filtered by a dimension-key Bloom literal — exposed
    * so the selectivity contract is testable on its own: passes every
    * matching row (no misses, ever), drops most non-matching rows
    * (false positives bounded by the fpp).
    */
  private[graft] def bloomPrefilter(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    def keyHash(c: org.apache.spark.sql.Column) =
      new XxHash64(Seq(GraftColumnBridge.expression(c)))
    val nKeys = math.max(right.select(col(rightKey)).distinct().count(), 64L)
    val bits = right
      .agg(GraftColumnBridge.column(
        new BloomFilterAggregate(keyHash(right(rightKey)), nKeys)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    left.filter(GraftColumnBridge.column(
      new BloomFilterMightContain(
        Literal.create(bits, org.apache.spark.sql.types.BinaryType),
        keyHash(left(leftKey)))))
  }

  def bloomJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String): DataFrame = {
    val prefiltered = bloomPrefilter(left, right, leftKey, rightKey)
    prefiltered.join(right, prefiltered(leftKey) === right(rightKey))
  }

  /** [[Relational.qJoinShuffle]]'s shape with a SELECTIVE dimension
    * (high-value orders only) routed through [[bloomJoin]]: the fact
    * scan drops non-matching rows at the filter, the exact join cleans
    * up false positives, the result is bit-identical to the plain join.
    */
  def qJoinBloom(s: SparkSession, dir: String): DataFrame =
    bloomJoin(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice")),
      Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
        .select(col("o_orderkey"), col("o_orderpriority")),
      "l_orderkey", "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(
        Relational.dsum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))

  /** Spark's OWN runtime bloom-filter injection (`InjectRuntimeFilter`)
    * on [[qJoinBloom]]'s exact shape, manual prefilter OFF — the second
    * engine-automation validation row after [[qJoinSkewAqe]]: the join is
    * written PLAIN and the optimizer, under fixture-sized thresholds
    * (the 10 GB application-side default exists for real lakes; the
    * gate corpus scans kilobytes), plants a `bloom_filter_might_contain`
    * probe from the SELECTIVE dimension side onto the fact scan —
    * machine-planted, semantically invisible, same contract as the
    * hand-built [[bloomPrefilter]]. The rewrite happens at logical
    * optimization, so the [[withConfs]] scope need only cover the
    * memoizing `optimizedPlan` force (the qTopkExec discipline, but for
    * execution-time-read conf THRESHOLDS rather than a rule flag — the
    * thread-scoped [[graft.plans.RuleOptIn]] can't carry numeric confs);
    * the plan pin REQUIRES the probe, so a Spark version that stopped
    * firing here fails loudly instead of silently measuring a plain
    * join. The DuckDB oracle executes the plain join — false positives
    * are cleaned by the exact join, bit-identically. At 100 TB this is
    * the shuffle-volume reducer a selective-dim ⋈ fact join gets for
    * FREE when thresholds fit; [[qJoinBloom]] remains the explicit form
    * for engines/paths the rule does not reach.
    */
  def qJoinBloomAuto(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(
        Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
          .select(col("o_orderkey"), col("o_orderpriority")).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        Relational.dsum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
    withConfs(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val opt = df.queryExecution.optimizedPlan.toString
      require(opt.contains("might_contain"),
        "InjectRuntimeFilter did not plant a bloom probe — the validation " +
          "row would silently measure a plain join; plan:\n" + opt)
    }
    df
  }

  // -------------------------------------------------------------------
  // Cross-engine Bloom filter with MEASURED false-positive rate
  // -------------------------------------------------------------------

  /** Bloom geometry: m = 2²⁰ bits packed 32 per word (bit 63 would
    * overflow DuckDB's checked left shift), k = 4 md5-derived hash
    * positions per key. m is sized for the sf0.1 key census (~60k keys →
    * kn/m ≈ 0.23 → predicted FPR ≈ 2·10⁻³): an early 2¹⁶ sizing measured
    * FPR 0.90 at sf0.1 — a saturated filter passes the oracle too, but
    * the operational lesson IS the sizing, so the constant records it.
    */
  val BloomFprBits = 1048576L
  val BloomFprHashes = 4

  /** Spark-SQL fragment: hash position j of `key` — the [[graft.operators.Sampling.hashBucket]]
    * md5-prefix convention with a per-hash salt suffix.
    */
  private def bloomPosSpark(key: String, j: Int): String =
    s"CAST(conv(substring(md5(concat(CAST($key AS STRING), '#$j')), 1, 15), 16, 10) AS BIGINT) % $BloomFprBits"

  /** [[qJoinBloom]] routes through Spark's built-in BloomFilterAggregate,
    * whose bit layout is engine-internal — the oracle there can only
    * check the exact-join RESULT. This query builds the Bloom filter
    * from engine-neutral arithmetic (md5-position inserts, bit-or word
    * packing), so the filter ITSELF is cross-engine reproducible and the
    * false-positive rate becomes an oracle-checked MEASUREMENT, not a
    * formula citation: per fact row, membership = all k probed bits set
    * against the broadcast 2048-word literal (row-local — the filter
    * never shuffles); truth = broadcast semi-join against the exact key
    * set. No false negatives is an invariant (spec); the measured FPR at
    * this (m, k, n) sits near the (1 − e^{−kn/m})^k prediction — the
    * number a capacity planner needs before sizing m for 100 TB.
    */
  def qBloomFpr(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey").as("k")).distinct()
    // build: k positions per key → word/bit-or aggregation → one bounded
    // driver roundtrip (32k words), deployed as a plan literal. Positions
    // ride ONE Md5Prefix60Array evaluation per row (one reused digest for
    // all k probes) instead of k conv(substring(md5(…))) chains — the
    // builtin chain re-instantiates a MessageDigest and renders/parses a
    // 32-char hex string per call, and was this query's entire steady
    // cost (r14 scratch breakdown: 2.8 s of 3.1 on the position chains).
    // Value-identical: first 15 hex chars of md5 = first 60 bits
    // ([[graft.functions.Md5Prefix60Scalar]]); the oracle keeps the
    // engine-neutral arithmetic.
    def pos60(key: Column): Column =
      graft.functions.SketchExpressions.md5Prefix60(
        array((0 until BloomFprHashes)
          .map(j => concat(key.cast("string"), lit(s"#$j"))): _*))
    val wordRows = keys
      .select(explode(pos60(col("k"))).as("h"))
      .select((col("h") % BloomFprBits).as("p"))
      .select(expr("p div 32").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
      .collect()
    val words = new Array[Long]((BloomFprBits / 32).toInt)
    wordRows.foreach(r => words(r.getAs[Long]("w").toInt) = r.getAs[Long]("bits"))
    val passSql = (0 until BloomFprHashes).map { j =>
      val p = s"(element_at(ps, ${j + 1}) % $BloomFprBits)"
      s"(element_at(bf, CAST($p div 32 AS INT) + 1) & " +
        s"shiftleft(CAST(1 AS BIGINT), CAST($p % 32 AS INT))) != 0"
    }.mkString(" AND ")
    Tables.lineitem(s, dir).select(col("l_orderkey"))
      .withColumn("bf", typedLit(words.toSeq))
      .withColumn("ps", pos60(col("l_orderkey")))
      .withColumn("pass", expr(passSql))
      .join(broadcast(keys), col("l_orderkey") === col("k"), "left_outer")
      .agg(
        count(lit(1)).as("n_fact"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_true"),
        sum(when(col("pass") && col("k").isNull, 1L).otherwise(0L)).as("n_fp"))
      .select(col("n_fact"), col("n_pass"), col("n_true"), col("n_fp"),
        (col("n_fp").cast("double") /
          (col("n_fact") - col("n_true")).cast("double")).as("fpr"),
        (col("n_pass").cast("double") / col("n_fact").cast("double"))
          .as("selectivity"))
  }

  // -------------------------------------------------------------------
  // Z-order layout: multi-dimensional write-time clustering
  // -------------------------------------------------------------------

  /** Bits per dimension for the Z-curve (8 → 256 buckets per dim). */
  val ZBits = 8

  /** Z-shards: the top [[ZBits]] interleaved bits — 256 would-be files. */
  val ZShards = 256L

  /** Morton/Z-value of two [[ZBits]]-bit dimensions: bit i of `a` lands at
    * position 2i+1, bit i of `b` at 2i. Disjoint bit positions, so `+`
    * IS the bitwise-or — and the identical arithmetic exists in DuckDB.
    */
  private def zValueSpark(a: String, b: String): Column = {
    val terms = (0 until ZBits).flatMap { i =>
      Seq(
        s"shiftleft(shiftrightunsigned($a, $i) & 1, ${2 * i + 1})",
        s"shiftleft(shiftrightunsigned($b, $i) & 1, ${2 * i})")
    }
    expr(terms.mkString(" + "))
  }

  private def zValueDuck(a: String, b: String): String =
    (0 until ZBits).flatMap { i =>
      Seq(
        s"((($a >> $i) & 1) << ${2 * i + 1})",
        s"((($b >> $i) & 1) << ${2 * i})")
    }.mkString(" + ")

  /** Z-order layout audit — the write-time clustering knob the lakehouse
    * engines expose as OPTIMIZE ZORDER BY (Delta/Iceberg; the curve is
    * Morton 1966). Sorting a 100 TB fact table by ONE key gives tight
    * per-file min/max stats — and file skipping — on that key only;
    * sorting by the Z-interleave of TWO keys gives per-file ranges of
    * width ~2^(ZBits − filled/2) in BOTH, so scans filtering on EITHER
    * dimension prune most files. Here: lineitem keyed by the 8-bit
    * buckets of (partkey, orderkey) — two genuinely independent access
    * paths (suppkey would be a decoy: TPC-H derives it from partkey, so a
    * partkey sort already clusters it), sharded by the top 8 interleaved
    * bits (= 256 would-be files, 16×16 squares of the key plane); the
    * output is each shard's row count and per-dimension min/max — exactly
    * the parquet footer stats a pruning scan consults. A real deployment
    * replaces the groupBy with repartitionByRange(z).sortWithinPartitions
    * (z).write; the audit aggregation here is the oracle-able core: ONE
    * map-side-combined shuffle of 256×5 longs.
    */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.lineitem(s, dir).select(
      (col("l_partkey") % ZShards).as("pb"),
      (col("l_orderkey") % ZShards).as("ob"))
    keyed
      .withColumn("zv", zValueSpark("pb", "ob"))
      .select(col("pb"), col("ob"),
        expr(s"zv div $ZShards").cast("long").as("zshard"))
      .groupBy(col("zshard"))
      .agg(
        count(lit(1)).as("n"),
        min(col("pb")).as("min_pb"), max(col("pb")).as("max_pb"),
        min(col("ob")).as("min_ob"), max(col("ob")).as("max_ob"))
      .orderBy(col("zshard"))
  }

  /** File count for the EXECUTED Z-order write ([[zorderPath]]): 16
    * range-partitions of the 16-bit Z-value ≈ the 16 quadrant stripes of
    * the (pb, ob) plane — small enough that sf0.001 files stay non-empty,
    * large enough that per-file min/max stats show real pruning.
    */
  val ZWriteFiles = 16

  /** EXECUTED Z-order write — the artifact [[qZorder]] audits, actually
    * written (the Export.writeCompacted discipline): lineitem's (pb, ob)
    * key plane clustered two ways under the `graft_zorder` fixture dir:
    * `z/` = repartitionByRange(16, zv).sortWithinPartitions(zv) — the
    * OPTIMIZE ZORDER BY layout; `single/` = the same write keyed by pb
    * alone — the one-dimensional strawman. ZorderWriteSpec reads the
    * parquet ROW-GROUP footers back (ParquetFileReader, not a re-scan)
    * and proves the skipping the audit predicted: a range probe on
    * EITHER dimension prunes most z-layout row groups, while the
    * single-key layout prunes only on its sort key. The write cost lands
    * in the bench build column.
    */
  private[graft] def zorderPath(s: SparkSession, dir: String): String =
    SessionMemo.fixture(s, "graft_zorder", dir) { out =>
      val keyed = Tables.lineitem(s, dir).select(
        (col("l_partkey") % ZShards).as("pb"),
        (col("l_orderkey") % ZShards).as("ob"))
      keyed.withColumn("zv", zValueSpark("pb", "ob"))
        .repartitionByRange(ZWriteFiles, col("zv"))
        .sortWithinPartitions(col("zv"))
        .write.mode("overwrite").parquet(s"$out/z")
      keyed
        .repartitionByRange(ZWriteFiles, col("pb"))
        .sortWithinPartitions(col("pb"))
        .write.mode("overwrite").parquet(s"$out/single")
    }

  /** Range scan over the RE-READ z-clustered table — the gate row over
    * the executed artifact: a 16-wide pb band aggregated per key must
    * hash-match DuckDB's recompute from lineitem (same % derivations), so
    * the clustered copy is proven byte-faithful to its source, not just
    * well-laid-out. At scale this filtered scan is exactly the query the
    * Z-layout accelerates: the pb predicate prunes ~3/4 of the row
    * groups via the footer stats ZorderWriteSpec reads back.
    */
  def qZorderScan(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${zorderPath(s, dir)}/z")
      .filter(col("pb") >= 32 && col("pb") <= 47)
      .groupBy(col("pb"))
      .agg(count(lit(1)).as("n"), sum(col("ob")).as("ob_sum"))
      .orderBy(col("pb"))

  // -------------------------------------------------------------------
  // Optimizer statistics: sampled join-cardinality estimation
  // -------------------------------------------------------------------

  /** Key-space sampling rate denominator for [[qJoinEstimate]]: keys whose
    * md5 bucket ([[graft.operators.Sampling.hashBucket]]) is 0 mod P are
    * kept, i.e. a deterministic 1/P UNIVERSE sample (Broder 1997's
    * min-wise idea applied to join keys): because the SAME hash selects
    * keys on BOTH sides, a sampled key contributes its full cL·cO product
    * — sampling rows instead of keys would bias the product quadratically.
    */
  val JoinEstP = 8

  /** Sampled join-cardinality estimate — the optimizer statistic a
    * cost-based planner needs BEFORE committing to a join strategy at
    * 100 TB (broadcast vs shuffle vs skew-split), made an oracle-checked
    * measurement. Each side is read ONCE and aggregated ONCE to per-key
    * counts (round-12 verdict item 3: separate sampled/exact passes
    * scanned each side twice — the sampled-key restriction is a
    * per-KEY predicate, so it can ride the single per-key table
    * instead of a second scan); the 1/P key-sample flag is re-derived
    * AFTER the bounded per-key join, and one final aggregation computes
    * both the estimate — P · Σ cL·cO over flagged keys — and the exact
    * |L ⋈ O| honesty check (the [[qBloomFpr]] discipline: per-key COUNT
    * arithmetic, never the join itself). At the 100 TB pre-flight this
    * is 2 fact scans where the r12 shape paid 4 — and the fact scan is
    * the whole cost of this probe. All-integer until the final rel_err
    * division; deterministic on both engines. Plan-pinned in
    * PlanRegressionSpec: exactly one scan per side.
    */
  def qJoinEstimate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    def perKey(df: DataFrame, key: String, out: String) =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as(out))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"))
    perKey(li, "l_orderkey", "cl")
      .join(perKey(o, "o_orderkey", "co"), "k")
      .withColumn("in_sample", Sampling.hashBucket(col("k"), JoinEstP) === 0)
      .agg(
        count(when(col("in_sample"), lit(1))).as("n_sample_keys"),
        (sum(when(col("in_sample"), col("cl") * col("co"))) * JoinEstP)
          .as("est"),
        sum(col("cl") * col("co")).as("exact"))
      .select(col("n_sample_keys"), col("est"), col("exact"),
        round(abs(col("est") - col("exact")).cast("double") /
          col("exact").cast("double"), 6).as("rel_err"))
  }

  // -------------------------------------------------------------------
  // Pre-flight reducer-skew census
  // -------------------------------------------------------------------

  /** Simulated reducer count for [[qSkewCensus]] — what a shuffle on the
    * join key would hash rows into.
    */
  val SkewCensusBuckets = 32

  /** Every [[SkewCensusMod]]-th orderkey remaps to key 0 for the census's
    * planted hot key — heavier than [[qJoinSkew]]'s 1/97 plant (which is
    * tuned to exercise the threshold machinery): ~14% of the fact table on
    * ONE key makes the hot bucket stand out at ratio ≈ 5 while every other
    * bucket sits near 0.86 — the picture an operator actually sees when a
    * production join melts one reducer.
    */
  val SkewCensusMod = 7

  /** Reducer-skew diagnostic over a planted-hot-key fact table (the
    * [[skewedLineitem]] shape at [[SkewCensusMod]] weight): rows per
    * simulated hash-shuffle bucket, each bucket's share, and its ratio to
    * the uniform expectation. This is the PRE-FLIGHT census a deployment runs
    * before picking [[skewJoin]]'s threshold (or trusting AQE): the
    * hot-key bucket surfaces as ratio ≫ 1 while every other bucket sits
    * near 1.0. One map-side-combined aggregation to ≤ [[SkewCensusBuckets]]
    * rows; shares and flags are windows over that bounded frame. The
    * md5 bucket stands in for the engine's Murmur3 partitioner — the
    * skew SHAPE is hash-invariant (a hot key lands wholly in one bucket
    * under any hash), and md5 is the cross-engine-reproducible choice.
    */
  def qSkewCensus(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    import org.apache.spark.sql.expressions.Window
    Tables.lineitem(s, dir)
      .select(when(col("l_orderkey") % SkewCensusMod === 0, 0L)
        .otherwise(col("l_orderkey")).as("k"))
      .select(Sampling.hashBucket(col("k"), SkewCensusBuckets)
        .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("bucket"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        round((col("n") * SkewCensusBuckets).cast("double") / col("total"), 6)
          .as("ratio"),
        (col("n") * SkewCensusBuckets > col("total") * 2L).as("is_hot"))
      .orderBy(col("bucket"))
  }

  // -------------------------------------------------------------------
  // Zone-map skipping audit: natural vs clustered layout
  // -------------------------------------------------------------------

  /** Orderkeys per natural-layout block (file-position proxy: the fact
    * table arrives in orderkey sequence, so consecutive keys share a
    * row group).
    */
  val ZoneBlockKeys = 512L

  /** Days per clustered-layout block (the width a
    * `repartitionByRange(shipdate)` write would give each file, equal-width
    * variant so the block id is a pure row-local function).
    */
  val ZoneBlockDays = 32L

  /** Date the clustered block id counts days from (any fixed date before
    * the corpus' min shipdate).
    */
  val ZoneEpoch = "1992-01-01"

  /** Predicate cutoff the audit evaluates skipping for. */
  val ZoneCutoff = "1999-06-01"

  /** Zone-map (min/max footer stats) skipping audit — the measurement
    * behind every lakehouse `OPTIMIZE ... ZORDER/CLUSTER BY` decision.
    * For the predicate `l_shipdate >= [[ZoneCutoff]]`, each candidate
    * layout's blocks are classified from their (min, max) shipdate stats:
    * SKIP (max < cutoff — never read), FULL (min ≥ cutoff — read with the
    * filter ELIMINATED, the secondary stats win), PARTIAL (read and
    * filtered). Layouts: `natural` = orderkey-sequence blocks (what the
    * table ships as — shipdate is uncorrelated with orderkey, so nothing
    * skips: the quantified cost of NOT clustering) vs `clustered` =
    * fixed-width shipdate blocks (what a range-partitioned rewrite gives —
    * skipping ≈ the predicate's selectivity). Both block ids are pure
    * row-local integer arithmetic, so the whole audit is ONE
    * map-side-combined aggregation per layout over ≤ a few hundred blocks,
    * then a bounded-frame rollup — the stats collection cost is one scan
    * regardless of corpus size, exactly like parquet footer collection.
    */
  /** Grouped top-k through the CUSTOM PHYSICAL OPERATOR
    * (`graft.plans.TopKPerKey`): top-3 events by value per event type,
    * written as the ordinary row_number idiom, with the
    * `spark.graft.topk_exec` flag flipped ONLY around the (lazy, forced)
    * optimization so this one plan is rewritten to the partial/final
    * bounded-heap exec while every other query in the session keeps its
    * exact Window plan. Under the driver's gate the custom operator's
    * output must hash-match the DuckDB row_number oracle — the
    * whole-operator extension under the same hard signal as everything
    * else (the session is built `withExtensions`; without them the flag
    * is inert and the identical window plan runs, same rows). The
    * ordering carries an event_id tiebreak, so the top-k is total and
    * the rewrite is bit-exact. Scale shape: map-side per-key k-heaps
    * prune the shuffle to ≤ k rows per key per partition — the map-side
    * combine the Window formulation lacks.
    */
  def qTopkExec(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    val df = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("event_type"), col("event_id"), col("value"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("event_type"), col("rk"))
    // thread-scoped opt-in (round-8 advisor): the rule fires only for
    // plans forced on THIS thread inside the scope — a query planned
    // concurrently in the same session is never silently rewritten
    graft.plans.RuleOptIn.withFlag(graft.plans.TopKExecRewrite.Flag) {
      df.queryExecution.optimizedPlan; ()
    }
    df
  }

  private val mvMemo = new SessionMemo[String]()

  /** One-time materialized rollup of lineitem at (l_returnflag,
    * l_linestatus) granularity — count + exact integer-cents quantity sum
    * per cell — written to the session catalog and REGISTERED with the
    * [[graft.plans.MaterializedViews]] matcher registry: the count
    * matcher is structural, the sum matcher's canonical template is
    * captured from an analyzed probe of the SAME cents expression, so
    * matcher and view column can never drift apart. The write cost lands
    * in the bench build column.
    */
  private def mvTable(s: SparkSession, dir: String): String =
    mvMemo.getOrElseUpdate(s, dir) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"graft_mv_li$tag"
      dropWithLocation(s, t)
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(Relational.cents(col("l_quantity"))).as("qty_c"))
        .write.mode("overwrite").format("parquet").saveAsTable(t)
      // OPTIMIZED probe, not analyzed: the rule matches post-optimizer
      // plans, where constant folding has normalized the literals
      val canon = Tables.lineitem(s, dir)
        .select(Relational.cents(col("l_quantity")).as("p"))
        .queryExecution.optimizedPlan.expressions.collectFirst {
          case a: org.apache.spark.sql.catalyst.expressions.Alias =>
            graft.plans.MaterializedViews.normalizedSql(a.child)
        }.get
      graft.plans.MaterializedViews.register(
        graft.plans.MaterializedViews.MvDef(
          t, Seq("l_returnflag", "l_linestatus"),
          new java.io.File(dir, "lineitem.parquet").getAbsolutePath,
          Seq(
            graft.plans.MaterializedViews.AggMap(
              graft.plans.MaterializedViews.countStar, "n_rows"),
            graft.plans.MaterializedViews.AggMap(
              graft.plans.MaterializedViews.sumOf(canon, "l_quantity"),
              "qty_c"))))
      t
    }

  /** Rollup THROUGH the materialized-view rewrite
    * (`graft.plans.MvRewrite`): written as the ordinary base-table
    * aggregation at COARSER granularity than the view (GROUP BY
    * l_returnflag over the (flag, status) view — the classic rollup
    * answerability case), with the `spark.graft.mv_rewrite` flag flipped
    * only around this plan's forced optimization (the q_topk_exec
    * discipline). Under the gate the rewritten plan — |view| input rows
    * instead of |lineitem| — must hash-match the DuckDB oracle computed
    * from the BASE table, which is exactly the exactness contract
    * view-based answering has to honor; sessions without the extensions
    * run the identical base plan. Scale: the rewrite turns a corpus-scan
    * aggregation into a ≤ |flag×status|-row one — the point of
    * maintaining rollup views at 100 TB.
    */
  def qMvRollup(s: SparkSession, dir: String): DataFrame = {
    mvTable(s, dir)
    val df = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Relational.cents(col("l_quantity"))).as("qty_cents"))
      .orderBy(col("l_returnflag"))
    graft.plans.RuleOptIn.withFlag(graft.plans.MvRewrite.Flag) {
      df.queryExecution.optimizedPlan; ()
    }
    df
  }

  /** Probe-capture + registration shared by the two Q15 revenue views
    * ([[mvQ15Table]] and the IVM-maintained twin in [[mvIvmFixture]]):
    * the sum template AND the filter template derive from the SAME probe
    * plan (the sumOf discipline), anchored on `pathToken` — one copy of
    * the capture logic, so a future normalizedSql/filterCanon change
    * cannot desynchronize the two registrations.
    */
  private def registerRevView(table: String, pathToken: String,
      probe: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    val sumCanon = probe.expressions.collectFirst {
      case a: org.apache.spark.sql.catalyst.expressions.Alias =>
        graft.plans.MaterializedViews.normalizedSql(a.child)
    }.get
    graft.plans.MaterializedViews.register(
      graft.plans.MaterializedViews.MvDef(
        table, Seq("l_suppkey"), pathToken,
        Seq(
          graft.plans.MaterializedViews.AggMap(
            graft.plans.MaterializedViews.countStar, "n_lines"),
          graft.plans.MaterializedViews.AggMap(
            graft.plans.MaterializedViews.sumOfExpr(
              sumCanon, Set("l_extendedprice", "l_discount")),
            "rev_cbp")),
        filterCanon = graft.plans.MaterializedViews.filterCanonOf(probe)))
  }

  private val mvQ15Memo = new SessionMemo[String]()

  /** TPC-H Q15 revenue-view expression: exact cents·bp revenue of one
    * quarter's lineitem (the [[graft.operators.TpcH]] volCbp arithmetic).
    */
  private def q15RevCbp: Column =
    (Relational.cents(col("l_extendedprice")) *
      (lit(100L) - Relational.cents(col("l_discount")))).cast("decimal(38,0)")

  private def q15Quarter: Column =
    col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-04-01").cast("timestamp")

  /** One-time materialization of TPC-H Q15's revenue view — per-supplier
    * count + exact revenue partials over ONE QUARTER of lineitem — with
    * the quarter predicate registered as the view's filter template
    * ([[graft.plans.MaterializedViews.MvDef.filterCanon]], captured from
    * an optimized probe of the same predicate, the sumOf discipline
    * applied to filters). The canonical-workload MV demonstration the
    * round-10 verdict asked for: unlike [[mvTable]]'s unfiltered rollup,
    * this view only answers queries whose own filter normalizes to the
    * SAME quarter — a differently-dated or unfiltered query keeps its
    * base plan (spec-pinned).
    */
  private def mvQ15Table(s: SparkSession, dir: String): String =
    mvQ15Memo.getOrElseUpdate(s, dir) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"graft_mv_q15rev$tag"
      dropWithLocation(s, t)
      Tables.lineitem(s, dir)
        .filter(q15Quarter)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"), sum(q15RevCbp).as("rev_cbp"))
        .write.mode("overwrite").format("parquet").saveAsTable(t)
      registerRevView(t,
        new java.io.File(dir, "lineitem.parquet").getAbsolutePath,
        Tables.lineitem(s, dir)
          .filter(q15Quarter)
          .select(q15RevCbp.as("p"))
          .queryExecution.optimizedPlan)
      t
    }

  /** TPC-H Q15's quarter revenue THROUGH the MV rewrite: the query is the
    * ordinary filtered base-table aggregation (the coarser grand-total
    * grain over the per-supplier view — grouping-subsumption with an
    * empty key set), the flag flipped only around this plan's forced
    * optimization. Under the gate the rewritten plan reads |suppliers|
    * view rows instead of the quarter's fact rows and must hash-match
    * the DuckDB oracle computed from the BASE table. Scale: this is the
    * canonical warehouse pattern — the Q15 revenue view maintained once
    * per quarter answers every revenue roll-up over it.
    */
  def qMvTpchQ15(s: SparkSession, dir: String): DataFrame = {
    mvQ15Table(s, dir)
    val df = Tables.lineitem(s, dir)
      .filter(q15Quarter)
      .agg(count(lit(1)).as("n_lines"), sum(q15RevCbp).as("rev_cbp"))
      .select(col("n_lines"),
        (col("rev_cbp") / 10000).cast("double").as("total_revenue"))
    graft.plans.RuleOptIn.withFlag(graft.plans.MvRewrite.Flag) {
      df.queryExecution.optimizedPlan; ()
    }
    df
  }

  // -------------------------------------------------------------------
  // MV × IVM composition (round-12): the MV machinery ANSWERS queries
  // from a view; the IVM machinery MAINTAINS aggregates under deltas
  // (q_ivm_refresh's additive-merge law). q_mv_ivm composes them — the
  // warehouse lifecycle a user actually runs: a late batch lands on the
  // fact, the revenue view is refreshed with DELTA-SIZED work (stored
  // view + the delta's own cube, never a rescan of the updated fact),
  // and the optimizer answers the next revenue query from the MAINTAINED
  // view — hash-equal to DuckDB's from-scratch recompute over
  // base ∪ delta, which is exactly the merged ≡ recomputed contract.
  // -------------------------------------------------------------------

  /** Delta-batch selector for [[qMvIvm]]: ~1/13 of lineitem re-shipped
    * two days later — deterministic from the base table so the DuckDB
    * oracle re-derives the SAME updated fact and recomputes from scratch.
    */
  val MvIvmDeltaMod = 13L
  val MvIvmDeltaResidue = 7L

  private def mvIvmDelta(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % MvIvmDeltaMod === MvIvmDeltaResidue)
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"),
        (col("l_shipdate") + expr("INTERVAL 2 DAYS")).as("l_shipdate"))

  private val mvIvmMemo = new SessionMemo[String]()

  /** One-time fixture for [[qMvIvm]] — returns (updatedBasePath,
    * maintainedViewTable):
    *
    *  1. APPLY the delta: base ∪ delta written as a real parquet lake
    *     (projected to the revenue workload's columns) — the updated fact
    *     a downstream query would scan.
    *  2. MAINTAIN the Q15 revenue view incrementally: the STORED view
    *     table ([[mvQ15Table]]) full-outer-merged with the delta's own
    *     per-supplier cube — counts add, DECIMAL(38,0) revenue partials
    *     add exactly (the q_ivm_refresh additive-merge law applied to a
    *     REGISTERED view). The maintenance plan reads |view| + |delta|
    *     rows; the updated base is never rescanned. Out-of-quarter delta
    *     rows are excluded by the view's own filter template — the +2-day
    *     shift pushes late-March lines past the quarter edge, so the
    *     filter is load-bearing, not decorative.
    *  3. REGISTER the maintained table with [[graft.plans
    *     .MaterializedViews]], anchored on the UPDATED base's scan path
    *     and the same quarter filter template (probe-captured over the
    *     updated base, the sumOf discipline).
    */
  private def mvIvmFixture(s: SparkSession, dir: String): (String, String) = {
    val basePath = SessionMemo.fixture(s, "graft_mv_ivm", dir) { out =>
      Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"),
          col("l_shipdate"))
        .unionByName(mvIvmDelta(s, dir))
        .write.mode("overwrite").parquet(out)
    }
    val table = mvIvmMemo.getOrElseUpdate(s, dir) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"graft_mv_ivm_q15$tag"
      dropWithLocation(s, t)
      val dcube = mvIvmDelta(s, dir)
        .filter(q15Quarter)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("d_lines"), sum(q15RevCbp).as("d_rev"))
      s.table(mvQ15Table(s, dir))
        .join(dcube, Seq("l_suppkey"), "full_outer")
        .select(col("l_suppkey"),
          (coalesce(col("n_lines"), lit(0L)) +
            coalesce(col("d_lines"), lit(0L))).as("n_lines"),
          (coalesce(col("rev_cbp"), lit(0).cast("decimal(38,0)")) +
            coalesce(col("d_rev"), lit(0).cast("decimal(38,0)")))
            .cast("decimal(38,0)").as("rev_cbp"))
        .write.mode("overwrite").format("parquet").saveAsTable(t)
      registerRevView(t, basePath,
        s.read.parquet(basePath)
          .filter(q15Quarter)
          .select(q15RevCbp.as("p"))
          .queryExecution.optimizedPlan)
      t
    }
    (basePath, table)
  }

  /** The updated-lake path of [[mvIvmFixture]] — exposed for the spec,
    * which recomputes the view from scratch over the same bits.
    */
  private[graft] def mvIvmLakePath(s: SparkSession, dir: String): String =
    mvIvmFixture(s, dir)._1

  /** Per-supplier quarter revenue over the UPDATED fact THROUGH the MV
    * rewrite reading the incrementally MAINTAINED view: the query is the
    * ordinary filtered base aggregation against the post-delta lake (the
    * view's own key grain), the flag flipped only around this plan's
    * forced optimization. Under the gate the rewritten plan — |view| rows
    * — must hash-match DuckDB's FROM-SCRATCH recompute over base ∪ delta,
    * closing the loop: delta-sized maintenance produced exactly the table
    * a full rebuild would have. Plan-pinned in GraftExtensionsSpec (the
    * optimized plan scans graft_mv_ivm_q15, not the updated lake).
    * Scale: at 100 TB this is the only sane refresh cadence — the view
    * update costs O(|delta| + |view|) instead of O(|fact|), and the
    * optimizer's answer path costs O(|view|).
    */
  def qMvIvm(s: SparkSession, dir: String): DataFrame = {
    val (basePath, _) = mvIvmFixture(s, dir)
    val df = s.read.parquet(basePath)
      .filter(q15Quarter)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"), sum(q15RevCbp).as("rev_cbp"))
      .select(col("l_suppkey"), col("n_lines"),
        (col("rev_cbp") / 10000).cast("double").as("total_revenue"))
      .orderBy(col("l_suppkey"))
    graft.plans.RuleOptIn.withFlag(graft.plans.MvRewrite.Flag) {
      df.queryExecution.optimizedPlan; ()
    }
    df
  }

  /** Key-only dimension join THROUGH the PK–FK elimination rule
    * (`graft.plans.JoinEliminationRule`): the query is written with the
    * orders join spelled out — the shape every generated-SQL/BI layer
    * emits — but keeps no orders column, so under the declared
    * constraints (o_orderkey unique; every l_orderkey non-null and
    * present — true of this corpus and asserted in ScaleSpec) the join
    * is semantically a no-op. With the flag flipped only around this
    * plan's forced optimization (the q_topk_exec discipline) the
    * optimizer deletes the join outright; the DuckDB oracle EXECUTES the
    * join, so the gate hash-proves the elimination is semantics-free.
    * Sessions without the extensions run the join as written — same
    * rows. At 100 TB the deleted operator is a fact-sized shuffle.
    */
  def qJoinEliminate(s: SparkSession, dir: String): DataFrame = {
    graft.plans.DeclaredConstraints.register(
      graft.plans.DeclaredConstraints.FkDef(
        new java.io.File(dir, "orders.parquet").getAbsolutePath,
        "o_orderkey"))
    val df = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(Relational.cents(col("l_quantity"))).as("qty_cents"))
      .orderBy(col("l_returnflag"))
    graft.plans.RuleOptIn.withFlag(graft.plans.JoinEliminationRule.Flag) {
      df.queryExecution.optimizedPlan; ()
    }
    df
  }

  def qZonemap(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      col("l_orderkey"), to_date(col("l_shipdate")).as("d"))
    val cutoff = to_date(lit(ZoneCutoff))
    def audit(layout: String, blockId: Column): DataFrame =
      li.select(blockId.as("blk"), col("d"))
        .groupBy(col("blk"))
        .agg(count(lit(1)).as("n"), min(col("d")).as("mn"),
          max(col("d")).as("mx"))
        .select(
          when(col("mx") < cutoff, "skip")
            .when(col("mn") >= cutoff, "full")
            .otherwise("partial").as("cls"),
          col("n"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_blocks"), sum(col("n")).as("n_rows"))
        .select(lit(layout).as("layout"), col("cls"), col("n_blocks"),
          col("n_rows"))
    audit("natural", expr(s"l_orderkey div $ZoneBlockKeys"))
      .unionByName(audit("clustered",
        expr(s"datediff(d, DATE '$ZoneEpoch') div $ZoneBlockDays")
          .cast("long")))
      .orderBy(col("layout"), col("cls"))
  }

  /** One-time DATE-PARTITIONED materialization of the events table
    * (`.../event_date=YYYY-MM-DD/` directory layout — the physical layout
    * every 100 TB event lake uses); reported in the bench build column.
    */
  private[graft] def dppPath(s: SparkSession, dir: String): String =
    SessionMemo.fixture(s, "graft_dpp", dir) { out =>
      Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
    }

  /** Dynamic partition pruning under the gate — the optimization that
    * makes dimensional filters cheap on a partitioned 100 TB fact table:
    * the fact side is the date-partitioned events lake ([[dppPath]]), the
    * dim side is a small audit-calendar frame (the distinct event dates,
    * filtered to day-of-month ≡ 3 mod 7 — ~4 of 30 partitions). Catalyst
    * plants a `dynamicpruning` subquery in the fact SCAN's partition
    * filters (plan-pinned in ScaleSpec), so the join reads only the
    * matching date directories at runtime instead of the whole lake —
    * the filter never appears on the fact side of the query text. The
    * oracle computes the same rollup from the unpartitioned table with
    * the calendar predicate applied directly, so pruning must be
    * semantics-free.
    */
  def qDpp(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.parquet(dppPath(s, dir))
    val dim = Tables.events(s, dir)
      .select(to_date(col("ts")).as("event_date")).distinct()
      .filter(dayofmonth(col("event_date")) % 7 === 3)
    fact.join(broadcast(dim), Seq("event_date"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(Relational.cents(col("value"))).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** Expected Benford first-digit shares, ppm-floored: ⌊10⁶·log₁₀(1+1/d)⌋.
    * Computed once in Scala and inlined as LITERALS into both the Spark
    * plan and the oracle SQL, so no cross-engine log10 is ever compared.
    */
  private[scale] val BenfordPpm: Map[Int, Long] =
    (1 to 9).map(d =>
      d -> math.floor(1e6 * math.log10(1.0 + 1.0 / d)).toLong).toMap

  /** Benford first-significant-digit audit over `l_extendedprice` — the
    * data-quality screen a pipeline runs on money-like columns (fabricated
    * or truncated feeds visibly break the log-uniform digit law). Exact
    * integer contract: prices go to cents by the house round-half-away
    * rule, the first digit is a string head (cents are positive), observed
    * shares are ppm floor-divisions, and the Benford expectation is the
    * [[BenfordPpm]] literal — so `dev_ppm` is an exact BIGINT difference,
    * not a float tolerance. Scale shape: one map-side-combined aggregation
    * to ≤ 9 groups plus a broadcast 1-row total; no windows, no second
    * corpus pass.
    */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    val cents = Relational.cents(col("l_extendedprice"))
    val digits = Tables.lineitem(s, dir)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val tot = digits.agg(sum(col("n_obs")).as("n_total"))
    val expPpm = (1 to 9).foldLeft(lit(0L)) { (acc, d) =>
      when(col("digit") === d, lit(BenfordPpm(d))).otherwise(acc)
    }
    digits.crossJoin(broadcast(tot))
      .select(col("digit").cast("long").as("digit"), col("n_obs"),
        expr("(1000000 * n_obs) DIV n_total").as("obs_ppm"),
        expPpm.as("exp_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .orderBy(col("digit"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_benford" -> qBenford,
    "q_dpp" -> qDpp,
    "q_join_bucketed" -> qJoinBucketed,
    "q_agg_salted" -> qAggSalted,
    "q_join_skew" -> qJoinSkew,
    "q_join_skew_aqe" -> qJoinSkewAqe,
    "q_join_bloom" -> qJoinBloom,
    "q_join_bloom_auto" -> qJoinBloomAuto,
    "q_bloom_fpr" -> qBloomFpr,
    "q_zorder" -> qZorder,
    "q_zorder_scan" -> qZorderScan,
    "q_join_estimate" -> qJoinEstimate,
    "q_skew_census" -> qSkewCensus,
    "q_zonemap" -> qZonemap,
    "q_topk_exec" -> qTopkExec,
    "q_mv_rollup" -> qMvRollup,
    "q_mv_tpch_q15" -> qMvTpchQ15,
    "q_mv_ivm" -> qMvIvm,
    "q_join_eliminate" -> qJoinEliminate,
    "q_cbo_stats" -> StatsInjection.qCboStats
  )

  /** DuckDB fragment: hash position j of `key` (same md5-prefix
    * arithmetic as [[bloomPosSpark]]).
    */
  private def bloomPosDuck(key: String, j: Int): String =
    s"('0x' || substr(md5(CAST($key AS VARCHAR) || '#$j'), 1, 15))::BIGINT % $BloomFprBits"

  def oracleSql: Map[String, String] = Map(
    // same cents rule, same ppm floor-divisions, same inlined Benford
    // literals — dev_ppm is an exact integer cross-engine comparison
    "q_benford" -> {
      val expCase = (1 to 9)
        .map(d => s"WHEN $d THEN ${BenfordPpm(d)}").mkString(" ")
      s"""WITH d AS (
         |  SELECT CAST(substr(CAST(CAST(sign(l_extendedprice)
         |    * floor(abs(l_extendedprice) * 100.0e0 + 0.5e0) AS BIGINT)
         |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM lineitem),
         |c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
         |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM c)
         |SELECT digit, n_obs,
         |  (1000000 * n_obs) // n_total AS obs_ppm,
         |  CAST(CASE digit $expCase END AS BIGINT) AS exp_ppm,
         |  (1000000 * n_obs) // n_total
         |    - CAST(CASE digit $expCase END AS BIGINT) AS dev_ppm
         |FROM c, t ORDER BY digit""".stripMargin
    },
    // the calendar predicate applied directly to the unpartitioned table —
    // pruning must be a plan-only change
    "q_dpp" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(sign(value) * floor(abs(value) * 100.0e0 + 0.5e0)
        |    AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE day(CAST(ts AS DATE)) % 7 = 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical to the q_join_shuffle oracle: bucketing is a plan-only change
    "q_join_bucketed" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // The FPR oracle rebuilds the SAME engine-neutral Bloom filter
    // (md5-position inserts, 32-bit word packing) and probes it with
    // four word-joins — bit-for-bit the filter the Spark plan carries
    // as a literal, so n_pass / n_fp / fpr are exact cross-engine
    // measurements, not tolerances.
    "q_bloom_fpr" -> {
      val insertPos = (0 until BloomFprHashes)
        .map(j => bloomPosDuck("k", j)).mkString("[", ", ", "]")
      val probeCols = (0 until BloomFprHashes)
        .map(j => s"${bloomPosDuck("l_orderkey", j)} AS p$j").mkString(",\n    ")
      val probeJoins = (0 until BloomFprHashes)
        .map(j => s"LEFT JOIN bf b$j ON f.p$j // 32 = b$j.w").mkString("\n  ")
      val passExpr = (0 until BloomFprHashes)
        .map(j => s"((coalesce(b$j.bits, 0) & " +
          s"(1::BIGINT << CAST(f.p$j % 32 AS INT))) <> 0)")
        .mkString("\n    AND ")
      s"""WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders
         |  WHERE o_totalprice > 300000),
         |pos AS (SELECT unnest($insertPos) AS p FROM keys),
         |bf AS (SELECT p // 32 AS w,
         |    bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
         |  FROM pos GROUP BY 1),
         |f AS (SELECT l_orderkey,
         |    (l_orderkey IN (SELECT k FROM keys)) AS istrue,
         |    $probeCols
         |  FROM lineitem),
         |pr AS (SELECT f.istrue,
         |    ($passExpr) AS pass
         |  FROM f
         |  $probeJoins),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_fact,
         |    CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |    CAST(sum(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |    CAST(sum(CASE WHEN pass AND NOT istrue THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_fp
         |  FROM pr)
         |SELECT n_fact, n_pass, n_true, n_fp,
         |  CAST(n_fp AS DOUBLE) / CAST(n_fact - n_true AS DOUBLE) AS fpr,
         |  CAST(n_pass AS DOUBLE) / CAST(n_fact AS DOUBLE) AS selectivity
         |FROM agg""".stripMargin
    },
    // the plain selective join: the machine-planted runtime bloom probe
    // is a plan-only change, like the manual prefilter below
    "q_join_bloom_auto" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 300000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the plain selective join: the bloom prefilter is a plan-only change
    "q_join_bloom" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 300000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the plain join over the same hot-key remap: the two-path skew
    // machinery is a plan-only change
    "q_join_skew" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM (SELECT CASE WHEN l_orderkey % 97 = 0 THEN 0 ELSE l_orderkey END
        |        AS k, l_extendedprice
        |      FROM lineitem) l
        |JOIN orders ON l.k = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the plain join over the heavier remap: AQE's runtime skew split is
    // a plan-only change, like the manual two-path machinery above
    "q_join_skew_aqe" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE l_orderkey END
        |        AS k, l_extendedprice
        |      FROM lineitem) l
        |JOIN orders ON l.k = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the identical interleave arithmetic, re-derived from the base table
    // recompute from lineitem with the same % bucketing — agreement
    // proves the re-read clustered artifact is byte-faithful
    "q_zorder_scan" ->
      s"""SELECT pb, count(*) AS n, CAST(sum(ob) AS BIGINT) AS ob_sum
         |FROM (SELECT l_partkey % $ZShards AS pb, l_orderkey % $ZShards AS ob
         |      FROM lineitem)
         |WHERE pb >= 32 AND pb <= 47
         |GROUP BY pb
         |ORDER BY pb""".stripMargin,
    "q_zorder" ->
s"""WITH keyed AS (
         |  SELECT l_partkey % $ZShards AS pb, l_orderkey % $ZShards AS ob
         |  FROM lineitem),
         |z AS (
         |  SELECT pb, ob,
         |    (${zValueDuck("pb", "ob")}) // $ZShards AS zshard
         |  FROM keyed)
         |SELECT zshard, count(*) AS n,
         |  CAST(min(pb) AS BIGINT) AS min_pb, CAST(max(pb) AS BIGINT) AS max_pb,
         |  CAST(min(ob) AS BIGINT) AS min_ob, CAST(max(ob) AS BIGINT) AS max_ob
         |FROM z GROUP BY zshard ORDER BY zshard""".stripMargin,
    "q_agg_salted" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_lines
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the identical universe-sampled estimator, re-derived from per-key
    // count tables — the exact join is never materialized on either engine
    "q_join_estimate" -> {
      val bl = graft.operators.Sampling.bucketSql("l_orderkey", JoinEstP)
      val bo = graft.operators.Sampling.bucketSql("o_orderkey", JoinEstP)
      s"""WITH sl AS (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem
         |  WHERE $bl = 0 GROUP BY 1),
         |so AS (SELECT o_orderkey AS k, count(*) AS co FROM orders
         |  WHERE $bo = 0 GROUP BY 1),
         |e AS (SELECT count(*) AS n_sample_keys,
         |    CAST(sum(cl * co) * $JoinEstP AS BIGINT) AS est
         |  FROM sl JOIN so ON sl.k = so.k),
         |fl AS (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem
         |  GROUP BY 1),
         |fo AS (SELECT o_orderkey AS k, count(*) AS co FROM orders
         |  GROUP BY 1),
         |x AS (SELECT CAST(sum(cl * co) AS BIGINT) AS exact
         |  FROM fl JOIN fo ON fl.k = fo.k)
         |SELECT n_sample_keys, est, exact,
         |  round(CAST(abs(est - exact) AS DOUBLE) / CAST(exact AS DOUBLE), 6)
         |    AS rel_err
         |FROM e, x""".stripMargin
    },
    // same hot-key remap, same md5 bucket arithmetic
    "q_skew_census" -> {
      val bk = graft.operators.Sampling.bucketSql("k", SkewCensusBuckets)
      s"""WITH r AS (SELECT CASE WHEN l_orderkey % $SkewCensusMod = 0 THEN 0
         |    ELSE l_orderkey END AS k FROM lineitem),
         |b AS (SELECT $bk AS bucket FROM r),
         |c AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
         |t AS (SELECT bucket, n, CAST(sum(n) OVER () AS BIGINT) AS total
         |  FROM c)
         |SELECT bucket, n,
         |  round(CAST(n AS DOUBLE) / total, 6) AS share,
         |  round(CAST(n * $SkewCensusBuckets AS DOUBLE) / total, 6) AS ratio,
         |  (n * $SkewCensusBuckets > total * 2) AS is_hot
         |FROM t ORDER BY bucket""".stripMargin
    },
    // the identical two-layout block classification from (min, max) stats
    "q_join_eliminate" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_mv_rollup" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // from-scratch recompute over base ∪ delta (same %-selector, same
    // +2-day shift, same cents·bp revenue arithmetic): agreement with the
    // Spark path — which answers from the incrementally MAINTAINED view —
    // proves merged ≡ recomputed, the IVM correctness contract
    "q_mv_ivm" ->
      s"""WITH updated AS (
         |  SELECT l_suppkey, l_extendedprice, l_discount, l_shipdate
         |  FROM lineitem
         |  UNION ALL
         |  SELECT l_suppkey, l_extendedprice, l_discount,
         |    l_shipdate + INTERVAL 2 DAY AS l_shipdate
         |  FROM lineitem
         |  WHERE l_orderkey % $MvIvmDeltaMod = $MvIvmDeltaResidue)
         |SELECT l_suppkey, count(*) AS n_lines,
         |  CAST(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT) *
         |    (100 - CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5) AS BIGINT)))
         |    AS DECIMAL(38,0)) / 10000 AS DOUBLE) AS total_revenue
         |FROM updated
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
         |GROUP BY l_suppkey
         |ORDER BY l_suppkey""".stripMargin,
    "q_mv_tpch_q15" ->
      """SELECT count(*) AS n_lines,
        |  CAST(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT) *
        |    (100 - CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5) AS BIGINT)))
        |    AS DECIMAL(38,0)) / 10000 AS DOUBLE) AS total_revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin,
    "q_topk_exec" ->
      """SELECT event_type, event_id, value, rk FROM (
        |  SELECT event_type, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS BIGINT) AS rk
        |  FROM events) t
        |WHERE rk <= 3
        |ORDER BY event_type, rk""".stripMargin,
    "q_zonemap" ->
      s"""WITH li AS (SELECT l_orderkey, CAST(l_shipdate AS DATE) AS d
         |  FROM lineitem),
         |nat AS (SELECT l_orderkey // $ZoneBlockKeys AS blk,
         |    count(*) AS n, min(d) AS mn, max(d) AS mx
         |  FROM li GROUP BY 1),
         |clu AS (SELECT date_diff('day', DATE '$ZoneEpoch', d)
         |      // $ZoneBlockDays AS blk,
         |    count(*) AS n, min(d) AS mn, max(d) AS mx
         |  FROM li GROUP BY 1),
         |cls AS (
         |  SELECT 'natural' AS layout,
         |    CASE WHEN mx < DATE '$ZoneCutoff' THEN 'skip'
         |         WHEN mn >= DATE '$ZoneCutoff' THEN 'full'
         |         ELSE 'partial' END AS cls, n
         |  FROM nat
         |  UNION ALL
         |  SELECT 'clustered' AS layout,
         |    CASE WHEN mx < DATE '$ZoneCutoff' THEN 'skip'
         |         WHEN mn >= DATE '$ZoneCutoff' THEN 'full'
         |         ELSE 'partial' END AS cls, n
         |  FROM clu)
         |SELECT layout, cls, count(*) AS n_blocks,
         |  CAST(sum(n) AS BIGINT) AS n_rows
         |FROM cls GROUP BY layout, cls
         |ORDER BY layout, cls""".stripMargin,
    // INDEPENDENT derivation: the oracle recomputes the customer profile
    // directly; the Spark side must round-trip the same numbers through
    // CatalogStatistics (compute -> alterTableStats -> getTableMetadata)
    "q_cbo_stats" ->
      """SELECT * FROM (
        |  SELECT 'c_custkey' AS col_name, count(*) AS row_count,
        |    count(DISTINCT c_custkey) AS n_distinct,
        |    count(*) - count(c_custkey) AS n_nulls,
        |    CAST(min(c_custkey) AS BIGINT) AS min_v,
        |    CAST(max(c_custkey) AS BIGINT) AS max_v
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', count(*), count(DISTINCT c_nationkey),
        |    count(*) - count(c_nationkey),
        |    CAST(min(c_nationkey) AS BIGINT), CAST(max(c_nationkey) AS BIGINT)
        |  FROM customer)
        |ORDER BY col_name""".stripMargin
  )
}
