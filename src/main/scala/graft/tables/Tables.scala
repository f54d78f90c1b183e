package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.operators.SessionMemo

/** Loaders for the driver corpus (`TESTDATA.md`): one parquet per table under
  * `/root/testdata/sf{0.001,0.01,0.1}/`. Column pruning + predicate pushdown
  * happen at the parquet scan as long as callers keep plans declarative.
  *
  * **Events format.** The driver has shipped `events.ts` with three
  * physical annotations across rounds, and every downstream operator
  * (sessionize gaps via `unix_micros`, watermarked streams, the as-of
  * join) assumes session-zoned TIMESTAMP with UTC session time:
  *   - TIMESTAMP(NANOS): Spark rejects at schema inference; read nanos as
  *     long and floor to micros — exactly the truncation DuckDB applies
  *     reading the same file, so both engines see identical instants;
  *   - naive micros (`timestamp[us]`, no tz): Spark 4 infers
  *     TIMESTAMP_NTZ, which `unix_micros` rejects; cast to TimestampType —
  *     under the UTC session zone the wall-clock IS the instant, so the
  *     micros value is unchanged and matches DuckDB's naive read;
  *   - tz-annotated micros: passes through untouched.
  * [[events]] (batch) dispatches on the inferred type. [[eventsStream]]
  * (the one file-source reader of events) declares `ts` as a long, since
  * a stream takes a declared schema, and rebuilds the timestamp from its
  * micros. Both set the session posture this needs (`nanosAsLong`, UTC)
  * in one place, and only when `ts` is read.
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
  /** The events table under the events-format contract (above). */
  def events(s: SparkSession, d: String): DataFrame = {
    eventsPosture(s)
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Every events column a stream may request, in file order. */
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** A file-source stream of the events at `path` (a landing directory, or
    * a glob such as `dir/events.parque*`: the file stream source needs a
    * directory base path) declaring only `cols`, in the order given, so
    * the scan reads nothing else; `ts` under the events-format contract
    * (above).
    */
  def eventsStream(s: SparkSession, path: String, cols: String*): DataFrame = {
    val withTs = cols.contains("ts")
    if (withTs) eventsPosture(s)
    val df = s.readStream.schema(StructType(cols.map(eventsSchema(_))))
      .parquet(path)
    if (withTs) df.withColumn("ts", timestamp_micros(col("ts"))) else df
  }

  /** The session posture the events readers need. Both settings are
    * session-level and left on deliberately: the parquet schema converter
    * consults `nanosAsLong` at scan planning time, and the NTZ cast and
    * every downstream wall-clock derivation run LAZILY under the session
    * zone, so restoring either after the read would change later
    * executions of the returned DataFrame (tools/Explain, external
    * GraftSession.init hosts).
    */
  private def eventsPosture(s: SparkSession): Unit = {
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (s.conf.get("spark.sql.session.timeZone") != "UTC")
      s.conf.set("spark.sql.session.timeZone", "UTC")
  }

  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
