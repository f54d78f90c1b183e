package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dump formatted physical plans for plan review, from the session the
  * bench runs ([[GraftSession.builder]] at `local[SPARK_GRAFT_CPUS]`):
  * `sbt "runMain graft.tools.Explain q1_agg q_join_shuffle ..."` (no args =
  * a standard headline set).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q_filter_project", "q_join_broadcast",
        "q_join_shuffle", "q_sort_limit", "wc_wordcount", "q_dedup_minhash",
        "q_ann_ivf_kmeans", "q_window_dist", "q_sample_hash",
        "q_decontaminate", "q_lm_score", "q_ngram_novelty",
        "q_text_selfrepeat", "q_embedding_quantize", "q_events_sliding",
        "q_multimodal_frames")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}; " +
        s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.builder(s"local[${GraftSession.cpus}]")
      .appName("graft-explain").getOrCreate()
    try names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").explain("formatted")
    } finally spark.stop()
  }
}
