package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derives an N× scratch corpus from a testdata SF directory — the
  * re-runnable form of the round-9 10× scale rehearsal's corpus builder
  * (BASELINE.md "10× scale rehearsal"): N key-shifted copies per scaling
  * table with referential integrity preserved (each foreign key shifts by
  * its REFERENCED table's stride), dimension tables copied as-is, and
  * content columns regenerated per copy so the derived corpus scales like
  * real growth instead of like a clone farm:
  *
  *   - `documents.text` of copy i>0 is a NEW synthetic document — words
  *     drawn deterministically from the base corpus's own frequency-ranked
  *     vocabulary with a square bias toward frequent words (the fixture's
  *     generative structure, fresh draws), same token count as the
  *     original. Cross-copy similarity is background noise; token df
  *     distribution stays realistic. The round-9 rehearsal's first attempt
  *     (per-copy positional tags) planted the same token in EVERY doc of a
  *     copy and made exact similarity joins quadratic in their own OUTPUT —
  *     the failure this generator exists to avoid.
  *     VOCABULARY GROWS WITH THE CORPUS (round-11 lesson): with a fixed
  *     vocabulary, shingle document frequencies grow linearly in the copy
  *     count and candidate volume for exact similarity joins grows
  *     QUADRATICALLY — measured at 30×: 4,352× the 1× Σdf² pair volume,
  *     max shingle df 25 → 31,595 (BASELINE.md round-11 rehearsal). Real
  *     corpora follow Heaps' law (vocab ~ n^0.5), so rare-half draws of
  *     copy i take a per-copy-GROUP letter suffix (round(√n) groups): rare
  *     vocabulary scales ~√copies, frequent words stay corpus-wide —
  *     rare-first prefix filters then behave as they would on organic
  *     growth, while frequent-shingle collisions (real in any corpus)
  *     remain.
  *     STOPWORDS ARE EXEMPT from the rare-half suffix (round-14 lesson,
  *     [[GeneratorVersion]] 3): the base corpus's whitespace vocabulary
  *     is only 31 words and its two stopwords ("the", "a") rank in the
  *     rare half, so generator v2 suffixed them out of every derived
  *     document — zero stopwords → the Gopher `r_stop` rule gated 100%
  *     of derived docs, and any quality-gated operator (q_sql_pipeline's
  *     gate stage) measured a CONSTANT post-gate corpus at every scale.
  *     Real corpus growth never diversifies function words;
  *     [[graft.functions.TextFunctions.Stopwords]] stay corpus-wide at
  *     any rank, restoring the base corpus's two-distinct-stopword rate
  *     on derived docs.
  *   - `embeddings.embedding` of copy i>0 gets a deterministic nudge of
  *     0.1·i on dimension (i mod dim) — distinct points, geometry intact.
  *
  * Usage: `sbt 'runMain graft.tools.ScaleCorpus <srcDir> <dstDir> [n]'`
  * then point any Bench/Verify run at `SPARK_GRAFT_SF_DIR=<dstDir>`
  * (raise SPARK_DRIVER_MEM for 10×+ single-JVM runs — measured OOM at the
  * 8 g default).
  */
object ScaleCorpus {

  /** Bumped whenever the derivation's OUTPUT changes for the same (src,
    * n) input, so cached derived corpora (the `_REHEARSAL_OK_v*` markers
    * [[Rehearse]] writes) can never silently serve text from an older
    * generator. v3 = stopwords exempt from the rare-half suffix.
    */
  val GeneratorVersion = 3

  /** Frequency-ranked whitespace-token vocabulary of the base documents,
    * capped so the generated plan literal stays task-shippable.
    */
  private def vocab(docs: DataFrame, cap: Int = 4096): Array[String] =
    docs
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(cap)
      .collect().map(_.getString(0))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_scaled")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val s = graft.GraftSession.builder(s"local[${graft.GraftSession.cpus}]")
      .appName("graft-scale-corpus").getOrCreate()
    build(s, src, dst, n)
    s.stop()
  }

  /** The derivation itself, callable from another tool's session
    * ([[Rehearse]] builds each scale point through this).
    */
  def build(s: SparkSession, src: String, dst: String, n: Int): Unit = {
    new java.io.File(dst).mkdirs()

    def read(t: String): DataFrame = s.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scale] $t: ${s.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key).cast("long"))).head().getLong(0) + 1L

    // key strides come from the REFERENCED table so foreign keys stay
    // consistent across all copies
    val strides = Map(
      "c_custkey" -> strideOf(read("customer"), "c_custkey"),
      "s_suppkey" -> strideOf(read("supplier"), "s_suppkey"),
      "p_partkey" -> strideOf(read("part"), "p_partkey"),
      "o_orderkey" -> strideOf(read("orders"), "o_orderkey"),
      "event_id" -> strideOf(read("events"), "event_id"),
      "user_id" -> strideOf(read("events"), "user_id"),
      "doc_id" -> strideOf(read("documents"), "doc_id"),
      "vec_id" -> strideOf(read("embeddings"), "vec_id"))
    // FK column → the stride of its referenced key
    val fk = Map(
      "o_custkey" -> "c_custkey", "l_orderkey" -> "o_orderkey",
      "l_partkey" -> "p_partkey", "l_suppkey" -> "s_suppkey")
    def strideFor(c: String): Option[Long] =
      strides.get(c).orElse(fk.get(c).map(strides))

    /** N copies with every keyed column shifted by i·stride, preserving
      * each column's original type; `extra` post-processes copy i.
      */
    def shifted(t: String,
        extra: (Int, DataFrame) => DataFrame = (_, d) => d): Unit = {
      val base = read(t)
      val copies = (0 until n).map { i =>
        val shiftedDf = base.schema.fields.foldLeft(base) { (df, f) =>
          strideFor(f.name) match {
            case Some(st) if i > 0 => df.withColumn(f.name,
              (col(f.name).cast("long") + lit(i * st)).cast(f.dataType))
            case _ => df
          }
        }
        extra(i, shiftedDf)
      }
      write(copies.reduce(_ unionByName _), t)
    }

    // dimensions as-is
    write(read("region"), "region")
    write(read("nation"), "nation")
    shifted("customer"); shifted("supplier"); shifted("part")
    shifted("orders"); shifted("lineitem"); shifted("events")

    // documents: fresh synthetic text per copy from the base vocabulary,
    // rare half Heaps-diversified across round(√n) copy groups (scaladoc;
    // the r11 30× corpora were generated with round — 5 groups at n=30 —
    // so the group law stays round, not ceil, for reproducibility)
    val vw = vocab(read("documents"))
    val v = vw.length
    val varr = array(vw.map(lit): _*)
    val nGroups = math.max(1, math.round(math.sqrt(n.toDouble)).toInt)
    shifted("documents", (i, df) =>
      if (i == 0) df
      else {
        // per-(copy, doc, position) 60-bit md5 uniform, squared toward
        // frequent ranks — one row-local transform, no state
        val ntok = greatest(size(split(col("text"), " ")), lit(1))
        // letters-only group suffix (digits would split under the
        // [^a-z]+ tokenizers and reintroduce shared tokens); base-26 so
        // nGroups > 26 can't walk past 'z' into non-letter ASCII and
        // silently merge groups
        def letters(x: Int): String =
          if (x < 26) ('a' + x).toChar.toString
          else letters(x / 26 - 1) + ('a' + x % 26).toChar
        val sfx = "q" + letters(i % nGroups)
        val word = (p: org.apache.spark.sql.Column) => {
          val idx = (floor(
            pow(conv(substring(md5(concat(lit(i), lit("/"), col("doc_id"),
              lit("/"), p)), 1, 15), 16, 10).cast("double") / lit(math.pow(2, 60)),
              2.0) * lit(v)).cast("int") + 1)
          val w = element_at(varr, idx)
          // stopwords stay corpus-wide at any rank (scaladoc: the v3
          // rule — a suffixed "the" zeroed the Gopher stopword rule on
          // every derived doc and froze the post-gate corpus size)
          val stop = graft.functions.TextFunctions.Stopwords
          when(idx > v / 2 && !w.isin(stop: _*), concat(w, lit(sfx)))
            .otherwise(w)
        }
        val txt = array_join(transform(sequence(lit(1), ntok), word), " ")
        df.withColumn("text", txt)
          .withColumn("n_chars", length(col("text")))
      })

    // embeddings: deterministic per-copy nudge on a rotating dimension
    shifted("embeddings", (i, df) =>
      if (i == 0) df
      else df.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          when(j === lit(i) % size(col("embedding")),
            x + lit(0.1f * i)).otherwise(x))))

    println(s"[scale] done: $n x $src -> $dst")
  }
}
