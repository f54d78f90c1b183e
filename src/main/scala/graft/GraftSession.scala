package graft

import org.apache.spark.sql.SparkSession

import graft.functions.VectorExpressions
import graft.tables.Tables

/** SQL front door: one call registers the corpus tables as temp views and
  * the engine's native functions (`vec_dot`, `vec_cosine`) in the session's
  * function registry, so the full surface is reachable from `spark.sql`:
  *
  * {{{
  * GraftSession.init(spark, "/root/testdata/sf0.01")
  * spark.sql("""
  *   SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY 1""")
  * spark.sql("""
  *   SELECT a.vec_id, b.vec_id, vec_cosine(a.embedding, b.embedding) c
  *   FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id""")
  * }}}
  *
  * The reference exposes no SQL at all (SURVEY §4.1) — this is north-star
  * surface; temp views keep it catalog-free and zero-copy (views are plans,
  * not materializations; pushdown still reaches the parquet scans).
  *
  * [[builder]] is the one session recipe: every main (Bench, Verify, the
  * MR CLI, the tools) starts from it and adds only its app name and the
  * settings that are its own, so plan dumps, smokes and timings all run
  * the session the bench runs.
  */
object GraftSession {

  private val LocalN = """local\[(\d+)\]""".r

  /** The shared session recipe: the Catalyst extension surface
    * ([[GraftExtensions]]: native functions, flag-gated AQP rules, the
    * TopKPerKey strategy — every injected rule is off by default, so plans
    * change only for queries that opt in), UTC session time, AQE, subset-key
    * co-partitioning, no UI and WARN logging. A `local[n]` master also gets
    * n shuffle partitions; other masters keep Spark's default.
    */
  def builder(master: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // let a bucketed table's subset-key HashPartitioning satisfy
      // multi-key joins (the partsupp (partkey,suppkey) joins ride the
      // ps_partkey bucketing with no exchange); Spark 4 defaults this
      // true out of skew caution — our bucket keys are the HIGH-cardinality
      // halves of their key pairs, so the subset reuse cannot concentrate
      // keys (documented in BASELINE.md, plan-pinned in TpcHSpec)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
    master match {
      case LocalN(n) => b.config("spark.sql.shuffle.partitions", n)
      case _ => b
    }
  }

  /** Local-mode core count: `SPARK_GRAFT_CPUS` when set (a positive
    * integer — anything else fails fast), else every core.
    */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(v: Option[String]): Int =
    v.fold(Runtime.getRuntime.availableProcessors)(raw =>
      raw.trim.toIntOption.filter(_ > 0).getOrElse(
        sys.error(s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'")))

  def init(spark: SparkSession, sfDir: String): Unit = {
    // events goes through its dedicated loader (TIMESTAMP(NANOS)
    // normalization); a plain read of that file throws at schema inference
    Tables.names.filterNot(_ == "events").foreach { t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    VectorExpressions.register(spark)
  }
}
