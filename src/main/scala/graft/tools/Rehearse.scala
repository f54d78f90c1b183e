package graft.tools

/** Regenerable scale-rehearsal harness (round-12 verdict item 5): the
  * 1×/10×/30×/100× scaling tables in BASELINE.md were hand-assembled from
  * session logs; this main rebuilds each scale point with
  * [[ScaleCorpus.build]], runs a named query list at every point, and
  * emits one JSON line per (query, scale) — `{"query":…,"scale":N,
  * "wall_sec":…,"wall_p1":…,"wall_p2":…,"candidates":…,"cols":{…}}` — so
  * the scaling curves are regenerable and diffable per round
  * (docs/REHEARSAL_r13.json is the committed artifact).
  *
  * Measurement protocol (deliberately simpler than graft.Bench's steady
  * model, and documented because the numbers are compared across rounds):
  * every query at every scale runs TWO passes with the cache CLEARED
  * before each, construction inside the timer — i.e. every pass pays its
  * full pipeline end to end, including memoized-but-unpersisted shared
  * intermediates (the Bench selfCaching semantics applied uniformly).
  * wall_sec = min of the two passes; both raw passes ride along so a
  * window stall is visible instead of silently absorbed.
  *
  * `candidates`: for a single-row census result carrying an `n_cand`
  * column (q_dedup_recall, q_dedup_minhash_dfkill) the column value; for
  * a pair-table result (q_dedup_minhash, q_dedup_minhash_wide — whose
  * rows ARE the capped LSH candidates) the row count, computed by one
  * extra pass AFTER the timed ones. Single-row results additionally dump
  * every numeric column under "cols" (recalls, precision, n_hot, …), so
  * the recall-vs-geometry trade rides the same artifact as the mass; a
  * pair table with (doc_a, doc_b, jaccard) columns gets the same truth
  * census computed over it (planted-pair rule, [[graft.operators
  * .Dedup.PlantOffset]]) INCLUDING the n_true denominator
  * ([[graft.operators.Dedup.nTrueEligible]] — same eligible-planted-pair
  * rule as the census queries) and the derived lsh/e2e recalls, so a
  * banding geometry's recall at scale is read off the artifact directly.
  *
  * `q_sql_pipeline*` ledgers get a STAGE-TABLE census instead: per-status
  * ledger counts plus row counts of every materialized stage (sig, cand,
  * edges, each lbl_i propagation round) read back by name — the
  * duplicate-set-sized claim (|lbl_i| ≤ 2·|edges|) and the candidate
  * stage's growth exponent become regenerable numbers at every scale.
  *
  * Scale points reuse an existing derived corpus when its generator-
  * versioned `_REHEARSAL_OK_v<N>` marker is present (corpus derivation is
  * deterministic from (src, n, [[ScaleCorpus.GeneratorVersion]])), so
  * re-runs measure queries, not corpus writes — and a generator change
  * rebuilds rather than silently reusing older text.
  *
  * Usage:
  *   SPARK_DRIVER_MEM=48g sbt 'runMain graft.tools.Rehearse \
  *     <srcSfDir> <workDir> <scalesCsv> <queriesCsv> [outJson]'
  * Defaults: /root/testdata/sf0.1 /tmp/graft_rehearse 1,10,30,100 and the
  * dedup-family list below.
  */
object Rehearse {

  /** Default rehearsal set — the dedup scaling family BASELINE.md tracks:
    * census queries (direct candidate metrology + recall columns) at both
    * band geometries' production entry points, the two-phase span
    * detector (the flat-per-unit contract), and the exact AllPairs join
    * (the documented superlinear member, for curve contrast).
    */
  val DefaultQueries: Seq[String] = Seq(
    "q_dedup_recall", "q_dedup_minhash_dfkill",
    "q_dedup_minhash", "q_dedup_minhash_wide",
    "q_dedup_substring_2p", "q_simjoin")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse("/tmp/graft_rehearse")
    val scales = args.lift(2).getOrElse("1,10,30,100")
      .split(",").map(_.trim.toInt).toSeq
    val queries = args.lift(3)
      .map(_.split(",").map(_.trim).toSeq).getOrElse(DefaultQueries)
    val out = args.lift(4)
    val unknown = queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val cpus = graft.GraftSession.cpus
    val s = graft.GraftSession.builder(s"local[$cpus]")
      .appName("graft-rehearse").getOrCreate()

    def corpusDir(n: Int): String =
      if (n == 1) src
      else {
        val dst = s"$work/x$n"
        val marker = new java.io.File(dst,
          s"_REHEARSAL_OK_v${ScaleCorpus.GeneratorVersion}")
        if (!marker.exists()) {
          ScaleCorpus.build(s, src, dst, n)
          marker.createNewFile(); ()
        }
        dst
      }

    val lines = scala.collection.mutable.ArrayBuffer[String]()
    for (n <- scales.sorted; dir = corpusDir(n); q <- queries) {
      def pass(): Double = {
        s.catalog.clearCache()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(s, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val (p1, p2) = (pass(), pass())
      // candidate metrology AFTER the timed passes (extra pass, cached
      // intermediates from pass 2 may serve it — it is not a timing)
      val df = graft.SparkEntry.queries(q)(s, dir)
      val fn = df.schema.fieldNames.toSet
      val (cand, colsJson) =
        if (fn.contains("n_cand")) {
          val row = df.head()
          val cols = df.schema.fields.zipWithIndex.collect {
            case (f, i) if !row.isNullAt(i) &&
              (f.dataType.typeName == "long" ||
                f.dataType.typeName == "double") =>
              s""""${f.name}":${row.get(i)}"""
          }
          (row.getLong(row.fieldIndex("n_cand")),
            s""","cols":{${cols.mkString(",")}}""")
        } else if (Set("doc_a", "doc_b", "jaccard").subsetOf(fn)) {
          // candidate pair table: one truth census over it (the
          // q_dedup_recall arithmetic applied to this geometry's output)
          import org.apache.spark.sql.functions._
          val off = graft.operators.Dedup.PlantOffset
          val t = graft.operators.Dedup.JaccardThreshold
          val isTruth = col("doc_b") === col("doc_a") + off &&
            col("doc_a") < off
          val r = df.agg(
            count(lit(1)).as("n_cand"),
            // coalesce: sum over an EMPTY pair table is NULL, not 0 —
            // a zero-candidate scale point must not crash the sweep
            coalesce(sum(when(isTruth, 1L).otherwise(0L)), lit(0L))
              .as("n_cand_hit"),
            coalesce(sum(when(col("jaccard") >= t, 1L).otherwise(0L)),
              lit(0L)).as("n_verified"),
            coalesce(
              sum(when(isTruth && col("jaccard") >= t, 1L).otherwise(0L)),
              lit(0L)).as("n_ver_hit")).head()
          // same eligible-planted-pair denominator as the census queries,
          // so recall is a column of THIS line, not a cross-line join
          val nTrue = graft.operators.Dedup.nTrueEligible(s, dir)
          def rec(hit: Long): String =
            if (nTrue == 0L) "null"
            else String.format(java.util.Locale.ROOT, "%.4f",
              Double.box(hit.toDouble / nTrue))
          (r.getLong(0),
            s""","cols":{"n_cand":${r.getLong(0)},""" +
              s""""n_cand_hit":${r.getLong(1)},""" +
              s""""n_verified":${r.getLong(2)},""" +
              s""""n_ver_hit":${r.getLong(3)},""" +
              s""""n_true":$nTrue,""" +
              s""""lsh_recall":${rec(r.getLong(1))},""" +
              s""""e2e_recall":${rec(r.getLong(3))}}""")
        } else if (q.startsWith("q_sql_pipeline")) {
          // stage-table census (round-13 verdict task 4): ledger status
          // counts + every materialized stage's row count, read back by
          // the same dir-tagged names the pipeline wrote — |lbl_i| vs
          // 2·|edges| (the duplicate-set-sized claim) and the cand
          // stage's mass become per-scale artifact columns
          val variant = if (q.endsWith("_wide")) "w_" else ""
          def pt(n: String) =
            graft.operators.SqlSurface.plTable(dir, variant + n)
          val statuses = df.groupBy("status").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          def tcount(n: String): Option[Long] =
            if (s.catalog.tableExists(pt(n))) Some(s.table(pt(n)).count())
            else None
          val stages = (Seq("sig", "cand", "edges") ++
            (0 to graft.operators.SqlSurface.PipelineMaxRounds)
              .map(i => s"lbl_$i"))
            .flatMap(n => tcount(n).map(c => s""""n_$n":$c"""))
          val led = Seq("gated", "kept", "duplicate")
            .map(k => s""""n_$k":${statuses.getOrElse(k, 0L)}""")
          (statuses.getOrElse("duplicate", 0L),
            s""","cols":{${(led ++ stages).mkString(",")}}""")
        } else (df.count(), "")
      // Locale.ROOT: f"%.2f" is locale-sensitive — a comma-decimal JVM
      // locale would emit unparseable JSON into the committed artifact
      def s2(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      // cpus rides every row (r15 verdict item 6): the sf0.1 bench's
      // 8c/32c ratios are job-floor-bound and carry no parallelism
      // signal; two Rehearse runs at different $SPARK_GRAFT_CPUS over
      // the 10×/30× corpora make sec-per-core ratios a committed,
      // regenerable artifact (docs/REHEARSAL_r15.json)
      val line =
        s"""{"query":"$q","scale":$n,"cpus":$cpus,""" +
          s""""wall_sec":${s2(math.min(p1, p2))},""" +
          s""""wall_p1":${s2(p1)},"wall_p2":${s2(p2)},""" +
          s""""candidates":$cand$colsJson}"""
      println(s"[rehearse] $line")
      lines += line
    }
    val body = lines.mkString("\n") + "\n"
    out.foreach { p =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p), body.getBytes("UTF-8")); ()
    }
    s.stop()
  }
}
