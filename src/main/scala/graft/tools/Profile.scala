package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.tables.Tables

/** Ad-hoc sub-plan profiler: times the building blocks of the CURRENT
  * heavy queries (stage construction mirrors the operators via their
  * `private[graft]` helpers) so optimization targets facts, not guesses.
  * `sbt "runMain graft.tools.Profile [sfDir]"`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(s"local[${graft.GraftSession.cpus}]")
      .appName("graft-profile").getOrCreate()

    def time(label: String)(df: DataFrame): Unit = {
      // two passes, report the second: first pays analysis+codegen, the
      // second approximates steady-state execution
      df.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"## $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    // ---- q_dedup_minhash stages (mirrors Dedup.qDedupMinhash) ----
    val docs = Dedup.nearDupDocs(spark, dir)
    time("minhash: corpus (scan+union)")(docs)
    val withSh = Dedup.withShingles(docs)
    time("minhash: shingles")(withSh)
    val sig = Dedup.withHashedShingles(docs)
      .filter(size(col("sh")) > 0)
      .withColumn("mh",
        graft.functions.SketchExpressions.affineMinhashes(col("hs"), Dedup.NumHashes))
      .select(col("doc_id") +: (0 until Dedup.NumHashes).map(k =>
        element_at(col("mh"), k + 1).as(s"m$k")): _*)
    time("minhash: signatures")(sig)
    val bandCols = (0 until Dedup.NumBands).map { b =>
      val ms = (0 until Dedup.RowsPerBand).map(r => col(s"m${b * Dedup.RowsPerBand + r}"))
      struct(lit(b).as("band_idx"), md5(concat_ws(",", ms: _*)).as("band_key"))
    }
    val banded = sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
    time("minhash: banded keys")(banded)
    val cand = banded
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
          struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    time("minhash: candidates (bucket pairs)")(cand)
    time("minhash: FULL query")(Dedup.qDedupMinhash(spark, dir))

    // ---- q1_agg arithmetic variants (is the 1 s decimal math or scan?) ----
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
    time("q1: scan+filter only")(li.select(
      col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax")))
    time("q1: double sums (inexact strawman)")(
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))).as("sum_charge"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order")))
    time("q1: decimal formulation (current)")(
      graft.operators.Relational.q1Agg(spark, dir))
    locally {
      // long-cents per row (exact: inputs are 2-decimal), decimal(38,0)
      // only at the sum
      val epC = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
      val d100 = lit(100L) - floor(col("l_discount") * 100 + lit(0.5)).cast("long")
      val t100 = lit(100L) + floor(col("l_tax") * 100 + lit(0.5)).cast("long")
      time("q1: long-cents rows, decimal sums")(
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            (sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
              .cast("decimal(38,0)")).cast("double") / 100).as("sum_qty"),
            (sum(epC.cast("decimal(38,0)")).cast("double") / 100).as("sum_base_price"),
            (sum((epC * d100).cast("decimal(38,0)")).cast("double") / (100 * 100))
              .as("sum_disc_price"),
            (sum((epC * d100 * t100).cast("decimal(38,0)")).cast("double")
              / (100.0 * 100 * 100)).as("sum_charge"),
            count(lit(1)).as("count_order")))
    }

    // ---- q_events_sessionize stages ----
    val ev = Tables.events(spark, dir)
    time("sessionize: events scan")(ev)
    time("sessionize: FULL query")(
      graft.operators.Events.qEventsSessionize(spark, dir))

    // ---- q_ann_recall components ----
    time("ann: brute")(graft.operators.Similarity.qAnnBrute(spark, dir))
    time("ann: FULL recall")(graft.operators.Similarity.qAnnRecall(spark, dir))

    spark.stop()
  }
}
