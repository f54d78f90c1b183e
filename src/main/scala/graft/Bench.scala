package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: times every registered query at the given SF, one JSON
  * line on stdout. Results are fully materialized through the noop sink
  * (a bare count() would let Catalyst skip projections and undercount
  * expression work).
  *
  * Measurement model (documented because the numbers are graded):
  *   - the DataFrame is memoized per query, so DSL construction + analysis
  *     — and any bounded one-time build a query performs eagerly at
  *     construction (k-means training, the persisted IVF index write) —
  *     happen once; their cost is reported per query in "build",
  *     attributed as memoized-thunk time (measured inside SessionMemo)
  *     plus the smaller of two readings of the per-construction remainder
  *     (first construction vs a post-pass reconstruction), so wall-clock
  *     stalls during a cheap construction cannot masquerade as build cost.
  *   - each measured pass creates a FRESH QueryExecution (noop save on the
  *     memoized DataFrame), so optimization, physical planning, and full
  *     execution including every shuffle re-run per pass — no stage or
  *     shuffle-output reuse across passes.
  *   - "queries" is the best of two passes (steady-state per-query cost;
  *     this box swings ~1.5× run-to-run); "value" adds the one-time
  *     builds back in, so the headline stays an end-to-end suite cost
  *     comparable with round-1 numbers.
  *   - queries that persist() an intermediate inside the query (the
  *     MinHash signature table; the dedup pipeline) are NOT memoized: the
  *     CacheManager would hand pass 2 the previous pass's cached blocks and
  *     the measurement would silently skip the signature pipeline. They
  *     rebuild against a cleared cache each pass — construction INSIDE the
  *     timer, so eager builds (the pipeline's connected-components rounds)
  *     are paid and measured end-to-end every pass.
  */
object Bench {

  /** Queries whose construction persists an intermediate — rebuilt per
    * pass against a cleared cache (see scaladoc).
    */
  private[graft] val selfCaching =
    Set("q_dedup_minhash", "q_dedup_pipeline", "q_sql_pipeline",
      "q_sql_pipeline_wide")

  /** The selfCaching members whose OWN lineage reads session-persisted
    * frames (the MinHash signature table; the dedup pipeline's closure
    * inputs) — only these need the pre-pass `clearCache()` so that their
    * measured pass rebuilds the signature pipeline instead of reading the
    * previous pass's cached blocks. The two SQL pipelines materialize
    * their stages as PARQUET TABLES (CACHE TABLE was measured unstable
    * and rejected — SqlSurface scaladoc) and reference no persisted
    * frame, so clearing for them was pure collateral: a round-14
    * measurement-attribution fix — each of their two clears per pass
    * unpersisted EVERY shared frame (signatures, line rows, tokens, span
    * hashes, …) mid-suite, and whichever unrelated query next consumed a
    * frame paid a full rebuild inside its steady window. Results are
    * unchanged; every persisted frame is still rebuilt from parquet at
    * the two remaining clear slots per pass.
    */
  private[graft] val clearsCache =
    Set("q_dedup_minhash", "q_dedup_pipeline")

  /** Canary-basket membership (one member per execution class; see the
    * basket comment in main and BASELINE.md "Canary normalization" v2).
    * Keys are the 2-char contract-line labels; values must stay registered
    * steady (non-selfCaching) queries — pinned in BenchSpec.
    */
  private[graft] val CanaryBasket: Seq[(String, String)] = Seq(
    "sc" -> "q_filter_project", // scan-bound: pushdown filter + project
    "sh" -> "q_agg_salted", // shuffle-bound: two-phase salted aggregation
    "ex" -> "q_sql_tokens", // explode-bound: generator + token census
    "wi" -> "q_window_range", // window-bound: range-frame window agg
    "jo" -> "q_tpch_q12") // join-bound: lineitem⋈orders fact join

  /** In-suite canary STRIP member + cadence (round-12 verdict item 3: the
    * v2 basket/canary instruments are all POST-suite, so they can DETECT
    * an unstable window — basket vs in-suite canary disagreement — but
    * cannot localize drift WITHIN a run, and the whole bench becomes
    * non-adjudicatable, as BENCH_r12 did). The strip re-reads the
    * cheapest basket member every [[StripEvery]] measured query slots
    * through BOTH passes and emits the readings in order on the detail
    * line ("strip"); slot→query membership is deterministic (sorted
    * names, pass 1 then pass 2), so the v3 rule in BASELINE.md can
    * assign each query its SEGMENT's host factor.
    */
  private[graft] val StripQuery = "q_filter_project"
  private[graft] val StripEvery = 30

  /** Post-suite probe set (round 14, the r13 verdict item-1 protocol):
    * the driver-window join-trio anomaly is IN-SUITE only — both passes
    * slow on a strip-certified-quiet window while focused runs on the
    * same box beat baseline, and the round-14 heap A/B (BASELINE.md)
    * refutes the memory-squeeze mechanism. Re-measuring the three
    * affected queries once more AFTER the whole suite (same warm state
    * as canary3/basket; "post" map on the detail line) splits the
    * remaining mechanisms on the driver's own artifact: post ≈ the slow
    * in-suite reads ⇒ persistent JVM-state degradation (JIT state,
    * fragmentation); post fast ⇒ transient contention local to those
    * measurement slots that the strip's 30-slot cadence bracketed but
    * did not sample. Members must stay registered steady queries —
    * pinned in BenchSpec.
    */
  private[graft] val PostProbes: Seq[String] =
    Seq("q_join_estimate", "q_join_eliminate", "q_join_bucketed")

  /** Per-query task-metrics telemetry (round-13 verdict task 2): the r13
    * driver window showed q_join_estimate/q_join_eliminate >2× slower
    * IN-SUITE on a strip-certified-quiet window while focused runs on the
    * same box beat baseline — an in-suite context effect the bench could
    * not adjudicate because it records no memory behavior. This listener
    * accumulates, per completed task: spilled bytes (memory+disk), JVM GC
    * wall millis overlapping the task, and the max per-task
    * peakExecutionMemory. Bench snapshots the counters around each
    * serially-measured query (after draining the async listener bus via
    * [[org.apache.spark.GraftListenerBridge]]) and emits per-pass maps on
    * the detail line — `spl1/spl2` (bytes, nonzero entries only),
    * `gc1/gc2` (ms, nonzero only), `pk1/pk2` (bytes, all queries) — so
    * the memory-pressure hypothesis is data on the next driver run, and
    * the strip's 30-slot blind window gets a per-query burst trail.
    * Note the GC sum over 32 concurrent tasks counts a shared pause once
    * PER TASK — it is a relative pressure signal, not a wall-time share.
    */
  private[graft] final class TaskTelemetry
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val spill = new AtomicLong(0L)
    val gc = new AtomicLong(0L)
    private val peak = new AtomicLong(0L)
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        gc.addAndGet(m.jvmGCTime)
        peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _)); ()
      }
    }
    def peakAndReset(): Long = peak.getAndSet(0L)
  }

  /** One host-state sample (round-13 verdict task 1: the r13 in-suite
    * join anomaly reproduces ONLY on the driver environment, and the
    * strip — a short query — can certify "quiet" while missing
    * contention that only bites long all-core queries; these gauges make
    * the environment itself part of the artifact):
    * MemAvailable (MB), 1-min load average, and the kernel PSI
    * cumulative "some" stall totals (µs) for cpu/memory/io — deltas
    * between consecutive samples localize host stalls per strip
    * segment, including classes invisible to the strip's wall reading.
    * All fields best-effort (-1 when the /proc file is absent).
    */
  private[graft] def hostGauge(): Seq[(String, Long)] = {
    def slurp(p: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8"))
      catch { case _: Throwable => None }
    val memMb = slurp("/proc/meminfo")
      .flatMap(_.linesIterator.find(_.startsWith("MemAvailable:")))
      .flatMap(_.split("\\s+").lift(1))
      // Try, not bare toLong: a torn concurrent /proc read must yield
      // this sample's -1, never abort a multi-minute suite mid-run
      .flatMap(v => scala.util.Try(v.toLong / 1024).toOption)
      .getOrElse(-1L)
    // milli-load: loadavg's 1-min figure at integer precision loses the
    // whole signal on an idle box
    val load1m = slurp("/proc/loadavg")
      .flatMap(_.split("\\s+").headOption)
      .flatMap(v => scala.util.Try((v.toDouble * 1000).toLong).toOption)
      .getOrElse(-1L)
    def psi(kind: String): Long = slurp(s"/proc/pressure/$kind")
      .flatMap(_.linesIterator.find(_.startsWith("some")))
      .flatMap(_.split("\\s+").collectFirst {
        case f if f.startsWith("total=") => f.substring(6)
      })
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(-1L)
    Seq("mem_mb" -> memMb, "load1m" -> load1m,
      "cpu_stall_us" -> psi("cpu"), "mem_stall_us" -> psi("memory"),
      "io_stall_us" -> psi("io"))
  }

  /** Family-key squeeze for the contract line's family form (see
    * [[contractLine]]): first char + vowel-dropped rest, truncated,
    * colliding groups widened until injective. Families sharing a FULL
    * vowel-squeeze ("cbo"/"cube" → "cb", "kanon"/"knn" → "knn") can never
    * be separated by widening — the first build of this loop spun forever
    * on exactly that pair at 261 queries — so they keep their RAW
    * (distinct) family name, which restores termination: every other
    * colliding key strictly lengthens toward its full distinct squeeze.
    * Reversible from docs/BENCH_DETAIL.json's full names by the same rule
    * (documented in BASELINE.md "Canary normalization").
    */
  private[graft] def familyShortKeys(fams: Seq[String]): Map[String, String] = {
    def sq(f: String) = f.take(1) + f.drop(1).filterNot("aeiou".contains(_))
    val dup: Set[String] = fams.groupBy(sq)
      .filter(_._2.size > 1).values.flatten.toSet
    def key(f: String, w: Int) = if (dup(f)) f else sq(f).take(w)
    var width = fams.map(_ -> 2).toMap
    var out = fams.map(f => f -> key(f, width(f))).toMap
    var colliding = out.groupBy(_._2).filter(_._2.size > 1)
    while (colliding.nonEmpty) {
      colliding.values.flatten.foreach { case (f, _) =>
        width = width.updated(f, width(f) + 1)
      }
      out = fams.map(f => f -> key(f, width(f))).toMap
      colliding = out.groupBy(_._2).filter(_._2.size > 1)
    }
    require(out.values.toSeq.distinct.size == fams.size,
      "family-key squeeze aliases family names")
    out
  }

  /** The untouched trivial query whose steady reading is the contract
    * line's "canary": its cost tracks the HOST, not the code, so
    * cross-round comparisons divide by (canary_now / canary_reference) —
    * the rule and reference live in BASELINE.md "Canary normalization".
    */
  private[graft] val CanaryQuery = "q_median"

  private def jmap(m: Iterable[(String, Double)], fmt: Double => String): String = m
    .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    .mkString("{", ",", "}")

  /** The driver's contract line — the LAST stdout line, parsed out of a
    * 2 KB stdout tail, so it must stay within 2000 chars. While full query
    * names fit (focused runs) they are used verbatim. Otherwise the
    * queries map is one entry per FAMILY — the first underscore segment
    * of the name with "q_" dropped, squeezed by [[familyShortKeys]] —
    * valued at the family's summed steady seconds; failed queries (the
    * negative sentinel) are left out of the sums and counted in "nfail"
    * (present only when nonzero), so a failure cannot hide inside an
    * aggregate. Per-query values are at 100 ms with trailing zeros
    * trimmed; total and canary keep 10 ms (the canary is the
    * normalization divisor — 100 ms on a ~1 s value is too coarse). Full
    * precision, full names, build_total and the full sf path are on the
    * detail line and in docs/BENCH_DETAIL.json.
    */
  private[graft] def contractLine(
      total: Double,
      results: Seq[(String, Double)],
      canary: Option[Double],
      basket: Seq[(String, Double)],
      sfDir: String): String = {
    def fixed(digits: Int)(v: Double) =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val perQuery: Double => String = { v =>
      val s = fixed(1)(v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
    def line(queries: Seq[(String, Double)], nFail: Int): String =
      s"""{"metric":"total","value":${fixed(3)(total)},"unit":"sec","queries":${
        jmap(queries, perQuery)
      }${if (nFail > 0) s""","nfail":$nFail""" else ""}${
        canary.map(v => s""","canary":{"$CanaryQuery":${fixed(3)(v)}}""").getOrElse("")
      }${if (basket.isEmpty) "" else s""","basket":${jmap(basket, fixed(3))}"""
      },"sf":"${new java.io.File(sfDir).getName}"}"""
    val verbatim = line(results, 0)
    if (verbatim.length <= 2000) verbatim
    else {
      def famOf(k: String): String = k.stripPrefix("q_").takeWhile(_ != '_')
      val famSums = results.groupBy { case (k, _) => famOf(k) }
        .map { case (f, vs) => f -> vs.collect { case (_, v) if v >= 0 => v }.sum }
        .toSeq.sortBy(_._1)
      val keys = familyShortKeys(famSums.map(_._1))
      line(famSums.map { case (f, v) => keys(f) -> v }, results.count(_._2 < 0))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(s"local[${GraftSession.cpus}]")
      .appName("graft-bench").getOrCreate()

    // optional args = subset of query names (focused timing runs);
    // default = everything registered. Unknown names fail fast — inside
    // the timing loop they would be swallowed by the catch-all and
    // reported as -1.0, indistinguishable from a real query failure.
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}; " +
        s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val names =
      if (args.nonEmpty) args.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted

    // JIT + codegen + parquet-footer warmup on the smallest SF so the
    // measured pass times steady-state execution, not first-call overhead.
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").write
        .format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()

    val memo = scala.collection.mutable.Map[String, DataFrame]()
    val buildSec = scala.collection.mutable.Map[String, Double]()
    // build attribution inputs (see below): total construction wall and
    // the portion spent inside SessionMemo thunks (actual one-time work)
    val constrWall = scala.collection.mutable.Map[String, Double]()
    val memoSec = scala.collection.mutable.Map[String, Double]()
    def dfFor(name: String): DataFrame =
      if (selfCaching(name)) {
        if (clearsCache(name)) spark.catalog.clearCache()
        SparkEntry.queries(name)(spark, sfDir)
      } else
        memo.getOrElseUpdate(name, {
          val b0 = graft.operators.SessionMemo.buildNanos
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          constrWall(name) = (System.nanoTime() - t0) / 1e9
          memoSec(name) = (graft.operators.SessionMemo.buildNanos - b0) / 1e9
          df
        })

    def once(name: String): Double =
      try {
        if (selfCaching(name)) {
          // cache cleared + full reconstruction per pass; any EAGER build
          // the construction performs (the pipeline's closure rounds) must
          // land inside the timer or the pass would measure only the tail
          val t0 = System.nanoTime()
          val df = dfFor(name)
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } else {
          val df = dfFor(name) // construction timed separately (buildSec)
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          -1.0
      }
    // in-suite canary strip: one cheap scan-bound read every StripEvery
    // measured slots, plus a closing read, so mid-run host drift is
    // localizable per segment. Default = full-registry runs only (a
    // focused subset's slot numbering wouldn't match the v3 rule's
    // POSITIONAL segment map); SPARK_GRAFT_STRIP=1 opts a focused A/B in
    // (round-13 verdict task 6) — its readings certify the WINDOW
    // (compare against the committed reference's strip median), they do
    // not feed the segment map.
    // registration (not focused-subset membership) is the availability
    // test: once() resolves the strip query from the full registry, so a
    // focused A/B like `SPARK_GRAFT_STRIP=1 Bench q_join_estimate ...`
    // must get its strip even though q_filter_project isn't an arg —
    // the subset guard silently no-opped exactly that documented use
    val stripEnabled =
      (args.isEmpty || sys.env.get("SPARK_GRAFT_STRIP").contains("1")) &&
        SparkEntry.queries.contains(StripQuery)
    // a failed strip read stays in the array as once()'s -1.0 sentinel:
    // dropping it would shift every later reading's slot alignment (the
    // v3 segment map is positional); consumers (tools/adjudicate.py)
    // treat negative readings as missing — excluded from the median,
    // their segment falls back to the whole-run factor
    val strip = scala.collection.mutable.ArrayBuffer[Double]()
    var slot = 0
    // task-metrics telemetry (scaladoc at TaskTelemetry): counters are
    // cumulative; each measured query is attributed the DELTA across its
    // window, with the async listener bus drained at both edges so a
    // query's trailing task-end events cannot leak into its successor
    val tel = new TaskTelemetry
    spark.sparkContext.addSparkListener(tel)
    final case class Reading(sec: Double, spill: Long, gc: Long, peak: Long)
    def instrumented(n: String): Reading = {
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      tel.peakAndReset()
      val s0 = tel.spill.get()
      val g0 = tel.gc.get()
      val sec = once(n)
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      Reading(sec, tel.spill.get() - s0, tel.gc.get() - g0, tel.peakAndReset())
    }
    // host-state samples ride the strip cadence (one sample per strip
    // reading + run start/end), so PSI/memory deltas align with the v3
    // rule's segments; sampled even when the strip is off (focused runs
    // still get start/end environment bounds)
    val gauges = scala.collection.mutable.ArrayBuffer[Seq[(String, Long)]]()
    gauges += hostGauge()
    def measured(n: String): Reading = {
      if (stripEnabled && slot % StripEvery == 0) {
        strip += once(StripQuery)
        gauges += hostGauge()
      }
      slot += 1
      instrumented(n)
    }
    val read1 = names.map(n => n -> measured(n)).toMap
    val read2 = names.map(n => n -> measured(n)).toMap
    val pass1 = read1.map { case (n, r) => n -> r.sec }
    val pass2 = read2.map { case (n, r) => n -> r.sec }
    val results = names.map { n =>
      val a = pass1(n)
      val b = pass2(n)
      n -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }
    if (stripEnabled) strip += once(StripQuery) // closing strip point
    gauges += hostGauge() // closing host sample
    // Build attribution (r06 lesson: a GC/JIT stall during a pure-DSL
    // construction put a 2.89 s "build" on a plain outer join). A query's
    // construction cost = memoized one-time work (SessionMemo thunks:
    // k-means training, bucketed writes, BPE vocab…) + per-construction
    // work (bounded collects building plan literals) + wall noise. The
    // memo part is measured directly; the per-construction part is
    // re-measured by RECONSTRUCTING the query after the passes (memos
    // hit, so only per-construction work repeats) and taking the smaller
    // of the two readings — a one-sided stall in either cannot survive
    // the min. build = memo + min(first - memo, reconstruction).
    names.filterNot(selfCaching).foreach { n =>
      constrWall.get(n).foreach { first =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(n)(spark, sfDir)
        catch { case _: Throwable => () }
        val re = (System.nanoTime() - t0) / 1e9
        val m = memoSec(n)
        buildSec(n) = m + math.max(0.0, math.min(first - m, re))
      }
    }
    // Two output lines: the detail line (full precision, incl. the
    // per-query build map; also written to docs/BENCH_DETAIL.json) and,
    // LAST, the compact contract line ([[contractLine]]).
    val full: Double => String = _.toString
    val builds = buildSec.toSeq.sortBy(_._1).filter(_._2 >= 0.005)
    val queriesTotal = results.collect { case (_, v) if v >= 0 => v }.sum
    val buildTotal = buildSec.values.sum
    val total = queriesTotal + buildTotal
    // canary: best of the two in-suite passes ([[CanaryQuery]])
    val canary = results
      .collectFirst { case (n, v) if n == CanaryQuery && v >= 0 => v }
    // canary variance guard (round-10 lesson: two same-box readings 20 min
    // apart gave 0.814 vs 0.949 — a 17% swing in the NORMALIZATION DIVISOR
    // skews every cross-round comparison): after the suite, re-read the
    // canary three more times and report the MEDIAN on the detail line as
    // "canary3". The contract-line "canary" field keeps its historical
    // best-of-2 definition (the BASELINE.md table is calibrated to it);
    // adjudications should prefer canary3 when the two disagree.
    // true median for any survivor count: with an EVEN count (a read
    // failed) average the two middle values — reads(size/2) would pick
    // the MAX of 2 survivors, biasing the normalization divisor upward
    // in exactly the degraded-host case this guards against
    def medianOf(reads: Seq[Double]): Option[Double] = {
      val r = reads.filter(_ >= 0).sorted
      if (r.isEmpty) None
      else if (r.size % 2 == 1) Some(r(r.size / 2))
      else Some((r(r.size / 2 - 1) + r(r.size / 2)) / 2.0)
    }
    val canary3: Option[Double] =
      canary.flatMap(_ => medianOf((1 to 3).map(_ => once(CanaryQuery))))
    // canary BASKET (round-12; the round-11 verdict's item 1): the single
    // q_median canary swung ±35% within one session — a one-query divisor
    // is hostage to whatever the host was doing during ITS two reads, and
    // it turned an instrument artifact into a round-long adjudication in
    // each of r08/r10/r11. The basket is five DIVERSE steady queries —
    // one per execution class, so a class-specific stall (shuffle-heavy
    // contention, codegen JIT, page-cache eviction) moves one member, not
    // the median — each re-read 3× POST-suite (same warm state as
    // canary3) and reported as its per-member median. Normalization rule
    // (BASELINE.md §"Canary normalization" v2): host factor = MEDIAN over
    // members of (member_now / member_ref); per-member references live in
    // the BASELINE.md basket table. Keys stay 2 chars for the contract
    // line's 2000-char budget.
    // full-registry runs only (round-12 advisor note): a focused run's
    // partial, differently-warmed basket readings are not comparable to
    // the full-run reference medians BASELINE.md's v2 ratio rule defines,
    // and a 'basket' field on a focused contract line invites exactly
    // that misuse — mirror the BENCH_DETAIL overwrite guard instead
    val basketReads: Seq[(String, Double)] =
      if (args.nonEmpty) Seq.empty
      else Bench.CanaryBasket.flatMap {
        case (k, q) =>
          if (!names.contains(q)) None
          else medianOf((1 to 3).map(_ => once(q))).map(k -> _)
      }
    // post-suite probes (scaladoc at PostProbes); full-registry runs
    // only, for the same reason as the basket — a focused run's probe
    // rides a differently-warmed JVM and is not the instrument
    val postReads: Seq[(String, Double)] =
      if (args.nonEmpty) Seq.empty
      else PostProbes.filter(names.contains)
        .map(n => n -> once(n)).filter(_._2 >= 0)
    def postJson(fmt: Double => String): String =
      if (postReads.isEmpty) "" else s""","post":${jmap(postReads, fmt)}"""
    // detail line only (the contract line's 2000-char budget has no room
    // for ~23 more values): readings in slot order, full precision
    val stripJson: String =
      if (strip.isEmpty) ""
      else s""","strip":{"q":"$StripQuery","every":$StripEvery,"sec":[${
        strip.map(full).mkString(",")}]}"""
    // raw per-pass values ride the detail line (file artifact + pre-tail
    // stdout only): the v3 rule normalizes each PASS by its own segment
    // factor before the min, which needs p1/p2, not just the min
    val passJson: String =
      if (!stripEnabled) ""
      else s""","p1":${jmap(names.map(n => n -> pass1(n)), full)}""" +
        s""","p2":${jmap(names.map(n => n -> pass2(n)), full)}"""
    // per-pass task-metrics maps (detail line only; TaskTelemetry
    // scaladoc): spill/GC keep nonzero entries only — most queries spill
    // nothing and the zeros would double the artifact for no signal —
    // while peak is emitted for EVERY query (its absolute level is the
    // signal; a "missing" peak must not be confusable with a small one)
    def jmapL(m: Iterable[(String, Long)]): String = m
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def telJson(tag: String, reads: Map[String, Reading]): String = {
      val ks = names.filter(reads.contains)
      s""","spl$tag":${jmapL(ks.map(n => n -> reads(n).spill).filter(_._2 > 0))}""" +
        s""","gc$tag":${jmapL(ks.map(n => n -> reads(n).gc).filter(_._2 > 0))}""" +
        s""","pk$tag":${jmapL(ks.map(n => n -> reads(n).peak))}"""
    }
    val telemetryJson = telJson("1", read1) + telJson("2", read2)
    // host gauge series, one array per gauge, sample k taken with strip
    // reading k-1 (sample 0 = run start, last = run end); PSI totals are
    // CUMULATIVE µs — consumers diff consecutive samples per segment
    val hostJson: String = {
      val keys = gauges.headOption.map(_.map(_._1)).getOrElse(Seq.empty)
      if (keys.isEmpty) ""
      else s""","host":{${
        keys.map { k =>
          "\"" + k + "\":[" +
            gauges.map(_.toMap.getOrElse(k, -1L)).mkString(",") + "]"
        }.mkString(",")}}"""
    }
    def tagged(field: String, v: Option[Double]): String =
      v.map(x => s""","$field":{"$CanaryQuery":${full(x)}}""").getOrElse("")
    val basketJson =
      if (basketReads.isEmpty) "" else s""","basket":${jmap(basketReads, full)}"""
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(results, full)},"build":${jmap(builds, full)}${tagged("canary", canary)}${tagged("canary3", canary3)}$basketJson${postJson(full)}$stripJson$passJson$telemetryJson$hostJson,"sf":"$sfDir"}"""
    // only a full-registry run may overwrite the committed artifact —
    // focused runs (explicit query args) would clobber it with a subset
    if (args.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("docs", "BENCH_DETAIL.json"),
        (detail + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () } // detail dump is best-effort
    println(detail)
    println(contractLine(total, results, canary, basketReads, sfDir))
    spark.stop()
  }
}
