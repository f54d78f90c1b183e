package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BitmapAgg, BitmapAndCard, BitmapCard, BitmapOrCard, Bitmaps, FloatVecCosine, FloatVecDotProduct, FloatVecQuantStats, FreqSketchStrings, MaxFreqCount, MinKDistinctLongs, MinKLongs, QuantileSketchLongs, WinnowedPositions}

/** Spark extensions entry point: install the engine's native functions at
  * session build time, with zero user code —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * GraftSession.builder("local[8]").getOrCreate() // installs it
  * }}}
  *
  * after which `vec_dot` / `vec_cosine` resolve in any SQL of the session.
  * (Per-session registration without the config remains available via
  * [[graft.functions.VectorExpressions.register]] / [[GraftSession.init]].)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def binary(name: String)(
      mk: (Expression, Expression) => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != 2)
        throw new IllegalArgumentException(
          s"$name requires exactly 2 arguments, got ${args.length}")
      mk(args(0), args(1))
    }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two ARRAY<FLOAT> in double"),
      binary("vec_dot")(FloatVecDotProduct)))
    e.injectFunction((
      FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two ARRAY<FLOAT>"),
      binary("vec_cosine")(FloatVecCosine)))
    e.injectFunction((
      FunctionIdentifier("vec_quant_stats"),
      info("vec_quant_stats",
        "vec_quant_stats(v, levels) - [max_abs, max_abs_err, sum_abs_err, n] of symmetric integer quantization"),
      args => {
        val levels = args match {
          case Seq(_, org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
          case _ => throw new IllegalArgumentException(
            "vec_quant_stats requires (ARRAY<FLOAT|DOUBLE> column, INT literal levels)")
        }
        FloatVecQuantStats(args(0), levels)
      }))
    e.injectFunction((
      FunctionIdentifier("bitmap_agg"),
      info("bitmap_agg",
        "bitmap_agg(id[, domainBits]) - exact mergeable bitset over BIGINT " +
          s"ids in [0, 2^domainBits) as BINARY; domainBits defaults to " +
          s"${Bitmaps.UserDomainBits} and is capped at 27 (16 MiB buffer) — " +
          "ids at or past the domain fail loudly rather than truncate"),
      args => {
        // INT or BIGINT literal accepted (SQL users write 21 or 21L);
        // the 6..27 range is checked HERE so the error matches the
        // message below — BitmapAgg's own require stays as defense
        val domainBits = args match {
          case Seq(_) => Bitmaps.UserDomainBits
          case Seq(_, org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
          case Seq(_, org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _))
              if v.isValidInt => v.toInt
          case Seq(_, _) => throw new IllegalArgumentException(
            "bitmap_agg's second argument must be an INT literal domainBits (6..27)")
          case _ => throw new IllegalArgumentException(
            s"bitmap_agg requires 1 or 2 arguments, got ${args.length}")
        }
        if (domainBits < 6 || domainBits > 27)
          throw new IllegalArgumentException(
            "bitmap_agg's second argument must be an INT literal domainBits (6..27)")
        BitmapAgg(args(0), domainBits)
      }))
    e.injectFunction((
      FunctionIdentifier("bitmap_card"),
      info("bitmap_card",
        "bitmap_card(bm) - popcount of a bitmap_agg BINARY (exact distinct)"),
      args => {
        if (args.length != 1)
          throw new IllegalArgumentException(
            s"bitmap_card requires exactly 1 argument, got ${args.length}")
        BitmapCard(args(0))
      }))
    e.injectFunction((
      FunctionIdentifier("bitmap_and_card"),
      info("bitmap_and_card",
        "bitmap_and_card(a, b) - exact intersection cardinality of two bitmap_agg BINARYs"),
      binary("bitmap_and_card")(BitmapAndCard)))
    e.injectFunction((
      FunctionIdentifier("bitmap_or_card"),
      info("bitmap_or_card",
        "bitmap_or_card(a, b) - exact union cardinality of two bitmap_agg BINARYs"),
      binary("bitmap_or_card")(BitmapOrCard)))
    e.injectFunction((
      FunctionIdentifier("max_freq_count"),
      info("max_freq_count",
        "max_freq_count(arr) - occurrence count of the most frequent element of ARRAY<STRING>"),
      args => {
        if (args.length != 1)
          throw new IllegalArgumentException(
            s"max_freq_count requires exactly 1 argument, got ${args.length}")
        MaxFreqCount(args(0))
      }))
    e.injectFunction((
      FunctionIdentifier("winnowed_positions"),
      info("winnowed_positions",
        "winnowed_positions(hashes, w) - winnowing (SIGMOD'03): distinct rightmost-min positions per w-window of ARRAY<BIGINT>"),
      args => {
        val w = args match {
          case Seq(_, org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
          case _ => throw new IllegalArgumentException(
            "winnowed_positions requires (ARRAY<BIGINT> column, INT literal w)")
        }
        WinnowedPositions(args(0), w)
      }))
    e.injectFunction((
      FunctionIdentifier("min_k"),
      info("min_k",
        "min_k(x, k) - aggregate: the k smallest BIGINT values of the group, ascending"),
      args => {
        val k = args match {
          case Seq(_, org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
          case _ => throw new IllegalArgumentException(
            "min_k requires (BIGINT column, INT literal k)")
        }
        MinKLongs(args(0), k)
      }))
    e.injectFunction((
      FunctionIdentifier("min_k_distinct"),
      info("min_k_distinct",
        "min_k_distinct(x, k) - aggregate: the k smallest DISTINCT BIGINT values, ascending (KMV sketch buffer)"),
      args => {
        val k = args match {
          case Seq(_, org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
          case _ => throw new IllegalArgumentException(
            "min_k_distinct requires (BIGINT column, INT literal k)")
        }
        MinKDistinctLongs(args(0), k)
      }))
    e.injectFunction((
      FunctionIdentifier("quantile_sketch"),
      info("quantile_sketch",
        "quantile_sketch(x, k, p1[, p2...]) - aggregate: mergeable-sketch " +
          "quantile estimates of BIGINT x at ranks ceil(p_i*n), buffer O(k*log n)"),
      args => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        val bad = new IllegalArgumentException(
          "quantile_sketch requires (BIGINT column, INT literal k, " +
            "DOUBLE literal probs...)")
        if (args.length < 3) throw bad
        val k = args(1) match {
          case Literal(v: Int, _) => v
          case _ => throw bad
        }
        val probs = args.drop(2).map {
          case Literal(v: Double, _) => v
          case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
          case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
          case _ => throw bad
        }
        QuantileSketchLongs(args(0), k, probs.toSeq)
      }))
    e.injectFunction((
      FunctionIdentifier("freq_sketch"),
      info("freq_sketch",
        "freq_sketch(x, k) - aggregate: Misra-Gries candidate heavy hitters " +
          "of STRING x (<= k items, contains every item with freq > n/(k+1))"),
      args => {
        val k = args match {
          case Seq(_, org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
          case _ => throw new IllegalArgumentException(
            "freq_sketch requires (STRING column, INT literal k)")
        }
        FreqSketchStrings(args(0), k)
      }))
    // SQL-callable generators + curation primitives (the LATERAL VIEW /
    // scalar surface of the curation pipeline's per-row stages): one
    // shared name → (usage, builder) table drives BOTH this injection
    // path and Generators.register, so the two can never drift on arity
    // rules or literal parsing (see Generators.SqlCurationBuilders)
    graft.functions.Generators.SqlCurationBuilders.foreach {
      case (name, usage, builder) =>
        e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    // opt-in AQP family (inert unless the session sets the flag — see
    // each rule's scaladoc for the exactness-contract rationale):
    //   spark.graft.approx_distinct   count(DISTINCT x) -> HLL++
    //   spark.graft.approx_percentile percentile(x, p)  -> KLL sketch
    //   spark.graft.approx_topk       ORDER BY count(*) DESC LIMIT k ->
    //                                 Misra-Gries propose + exact verify
    e.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    e.injectOptimizerRule(_ => graft.plans.ApproxPercentileRewrite)
    e.injectOptimizerRule(_ => graft.plans.ApproxTopKRewrite)
    // whole-operator extension (TopKPerKey.scala): opt-in rewrite of the
    // row_number-filter idiom to a dedicated two-phase bounded-heap
    // physical operator; the strategy is registered unconditionally (it
    // only fires on the custom logical node the flag-gated rule emits)
    //   spark.graft.topk_exec         Filter(rk <= k, Window(row_number))
    //                                 -> partial/final k-heap exec
    e.injectOptimizerRule(_ => graft.plans.TopKExecRewrite)
    e.injectPlannerStrategy(s => new graft.plans.TopKStrategy(s))
    //   spark.graft.mv_rewrite        Aggregate(base) -> re-aggregation
    //                                 of a registered materialized view
    e.injectOptimizerRule(_ => graft.plans.MvRewrite)
    e.injectOptimizerRule(_ => graft.plans.JoinEliminationRule)
  }
}
