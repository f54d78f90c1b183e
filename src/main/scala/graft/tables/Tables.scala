package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.operators.SessionMemo

/** Loaders for the driver corpus (`TESTDATA.md`): one parquet per table under
  * `/root/testdata/sf{0.001,0.01,0.1}/`. Column pruning + predicate pushdown
  * happen at the parquet scan as long as callers keep plans declarative.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas = new SessionMemo[StructType]()

  /** `dir`'s `table` read with its schema given: a bare
    * `spark.read.parquet` launches a one-task job that reads the footer
    * to infer the schema, on every read. The inferred schema is
    * memoized per (session, file, content), so each file is inferred
    * once and a file rewritten at the same path is inferred again.
    */
  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    spark.read.schema(
      schemas.getOrElseUpdate(spark, path)(spark.read.parquet(path).schema))
      .parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` normalization — the driver has shipped this file with three
    * different physical annotations across rounds, and every downstream
    * operator (sessionize gaps via `unix_micros`, watermarked streams, the
    * as-of join) assumes session-zoned TIMESTAMP with UTC session time:
    *   - TIMESTAMP(NANOS): Spark rejects at schema inference; read nanos as
    *     long and floor to micros — exactly the truncation DuckDB applies
    *     reading the same file, so both engines see identical instants;
    *   - naive micros (`timestamp[us]`, no tz): Spark 4 infers
    *     TIMESTAMP_NTZ, which `unix_micros` rejects; cast to TimestampType —
    *     under the UTC session zone the wall-clock IS the instant, so the
    *     micros value is unchanged and matches DuckDB's naive read;
    *   - tz-annotated micros: passes through untouched.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // session-level flag, set once and left on deliberately: the parquet
    // schema converter consults it at scan planning time (not just here),
    // so restoring it after the read would break later executions of the
    // returned (lazy) DataFrame
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the TIMESTAMP_NTZ branch's instant-preserving cast (and every
    // downstream wall-clock derivation: sessionize gaps, hourly buckets,
    // the as-of join) assumes the UTC session zone; the cast executes
    // LAZILY, so like nanosAsLong above this must be session-level — a
    // restore-after-read would shift instants on later executions of the
    // returned DataFrame for any non-UTC caller (tools/Explain, external
    // GraftSession.init hosts)
    if (s.conf.get("spark.sql.session.timeZone") != "UTC")
      s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
