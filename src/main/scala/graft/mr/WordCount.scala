package graft.mr

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.functions._

/** The reference's one shipped application: word count (`wc.go:14-38`).
  *
  * Tokenizer contract (SURVEY §2.3.5): split on every non-letter rune
  * (`unicode.IsLetter`, `wc.go:15-18`), drop empty fields, NO case folding;
  * count = number of occurrences.
  *
  * Two equivalent implementations are provided:
  *   - [[viaMR]]: through the generic [[MRJob]] slot API — the literal
  *     re-expression of `wc.go` (closure-based, holistic reduce), plus the
  *     Combiner the reference lacks (OSDI'04 §4.3 uses word count as its
  *     example): [[reduceFn]] itself, since a sum is associative and
  *     commutative. [[MRJob]] calls it pairwise on partials, zero or more
  *     times per key, so the reduce sees a mix of "1"s and partial sums;
  *     the output is the same either way.
  *   - [[viaSql]]: the declarative Spark-first form —
  *     `explode(split(..))`/`groupBy`/`count` — fully codegen'd, with
  *     map-side partial aggregation the reference lacks. This is the form
  *     that runs at 100 TB and the one the query registry exposes.
  */
object WordCount {

  /** Go `unicode.IsLetter` ≈ Java regex `\p{L}` (any Unicode letter). */
  val TokenSep = "[^\\p{L}]+"

  /** [[TokenSep]] compiled once (`String.split` recompiles it per call). */
  val TokenPattern: java.util.regex.Pattern = java.util.regex.Pattern.compile(TokenSep)

  /** `wc.go:14-26` as a Map slot: tokenize, emit (word, "1"). */
  def mapFn(line: String): IterableOnce[KeyValue] =
    TokenPattern.split(line).iterator.filter(_.nonEmpty).map(KeyValue(_, "1"))

  /** `wc.go:29-38` as a Reduce slot: sum of integer-parsed values, in
    * `Long` like Go's 64-bit `int` (`strconv.Atoi`) — partials from the
    * combiner may exceed `Int.MaxValue`.
    */
  def reduceFn(key: String, values: Iterator[String]): String =
    values.map(_.toLong).sum.toString

  /** wc's Combine slot: the reduce itself (see the object doc). */
  private val combineFn = Some(reduceFn _)

  /** The same reduce as an algebraic Aggregator (enables partial agg). */
  val sumAgg: Aggregator[KeyValue, Long, Long] =
    new Aggregator[KeyValue, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, kv: KeyValue): Long = b + kv.value.toLong
      def merge(a: Long, b: Long): Long = a + b
      def finish(b: Long): Long = b
      def bufferEncoder: Encoder[Long] = Encoders.scalaLong
      def outputEncoder: Encoder[Long] = Encoders.scalaLong
    }

  /** Closure-path word count over a text file, reference semantics,
    * combined map-side.
    */
  def viaMR(spark: SparkSession, job: JobSpec): Dataset[KeyValue] =
    MRJob.runHolistic(spark, job, mapFn, reduceFn, combineFn)

  /** Declarative word count over any string column — the scale path.
    * `explode(split(col, sep))` + empty filter reproduces Go's
    * `strings.FieldsFunc` (which drops empty fields; `split` does not).
    */
  def viaSql(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), TokenSep)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** End-to-end file pipeline matching `go run wc.go sequential <file>`:
    * text in, sorted `word\tcount` TSV out (`README.md:17-31`), combined
    * map-side. `nMap`/`nReduce` pin the job like [[JobSpec]]; [[WcMain]]
    * runs through here.
    */
  def runFile(
      spark: SparkSession,
      input: String,
      output: String,
      singleFile: Boolean = true,
      nMap: Int = 0,
      nReduce: Int = 0): Unit =
    MRJob.runSequential(
      spark,
      JobSpec(input, output, nMap, nReduce),
      mapFn,
      reduceFn,
      singleFile,
      combineFn)
}
