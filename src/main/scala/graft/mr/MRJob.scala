package graft.mr

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.functions._

/** The reference engine's currency: a string key/value pair.
  *
  * Reference: `mapreduce/mapreduce.go:44-47` — `KeyValue{Key, Value string}`.
  * Here it is a case class with a Catalyst `Encoder`, so a `Dataset[KeyValue]`
  * stores rows as Tungsten `UnsafeRow`s (not JSON lines as the reference's
  * shuffle format does, `mapreduce.go:156-164`).
  */
final case class KeyValue(key: String, value: String)

/** Job spec — mirrors `mapreduce/job.go:5-11` (`NMap`, `NReduce`, `InputPath`)
  * plus the output path the reference derives from the input name
  * (`mapreduce.go:221-225`).
  *
  * In Spark, `nMap` maps to the input split count and `nReduce` to the
  * shuffle partition count. `<= 0` means "let Spark decide": the session's
  * default parallelism for the splits, AQE for the shuffle (at 100 TB, AQE
  * should own the shuffle partition count).
  */
final case class JobSpec(
    inputPath: String,
    outputPath: String,
    nMap: Int = 0,
    nReduce: Int = 0)

/** The text one Map call receives. The reference hands Map a whole split
  * (`mapreduce.go:143-149`); for Maps that decompose per line, as word
  * count does, every shape below is observably identical (SURVEY §2.3.4).
  */
sealed trait MapInput

object MapInput {

  /** One call per line of [[MRJob.readLines]]. */
  case object Lines extends MapInput

  /** One call per split: a [[MRJob.readLines]] partition's lines joined
    * with "\n". Its boundaries are Hadoop's split points, not the
    * reference's `nchunk` cuts, and CR of CRLF input and the trailing
    * newline are normalized away.
    */
  case object Split extends MapInput

  /** One call per chunk of [[MRJob.splitChunks]]: byte-identical to the
    * reference's split files, for Maps sensitive to where chunks are cut
    * or to their trailing newline. Needs `nMap > 0`; costs a stats pass
    * and a chunk shuffle into `nMap` map tasks before the Map.
    */
  case object Chunks extends MapInput
}

/** Spark-native re-expression of the reference's two-slot MapReduce dataflow.
  *
  * The reference's whole API is two higher-order function slots
  * (`mapreduce.go:131` Map, `:179` Reduce) run over a text file with a
  * hash-partition shuffle between them, producing a key-sorted TSV file
  * (`mapreduce.go:229-266`). We express that contract as:
  *
  *   - Map:   `String => IterableOnce[KeyValue]`  — a flatMap-shaped UDTF,
  *     called on a line, a split or the reference's chunk as its
  *     [[MapInput]] says (a line by default).
  *   - Reduce: either holistic `(String, Iterator[String]) => String`
  *     (parity with `mapreduce.go:180-216`: all values of a key materialize)
  *     or an algebraic [[Aggregator]].
  *   - Combine (optional, OSDI'04 §4.3; the reference has none): a
  *     `(String, Iterator[String]) => String` slot that merges a map task's
  *     values of one key into a partial before the shuffle, so shuffle
  *     volume is O(distinct keys per map task), not O(occurrences). The
  *     contract: it must be associative and commutative, it is called
  *     pairwise on partials (`combine(k, Iterator(partial, value))`), and
  *     it may run zero or more times per key — the Reduce must accept raw
  *     values and partials alike. An [[Aggregator]]'s `reduce`/`merge`
  *     play the same role on [[runAggregated]].
  *
  * Scale notes (100 TB):
  *   - the holistic path without a combiner sends every value of a key to
  *     one task — same skew hazard as the reference (the run walk streams
  *     them, it does not buffer them); with a combiner a hot key sends at
  *     most one partial per map task per flush. The Aggregator path is
  *     Spark's partial+final `HashAggregateExec` with spill.
  *   - the single-file sorted TSV sink (one partition) is the reference's
  *     contract (`mapreduce.go:256`), kept as an opt-in mode;
  *     `writeSortedTsv` with `singleFile = false` writes a range-partitioned
  *     globally-sorted directory instead, the form that survives at scale.
  */
object MRJob {

  /** Read the job input as a line Dataset cut like the reference's `Split`
    * (`mapreduce.go:74-112`): contiguous line-aligned byte ranges, no
    * shuffle — `nMap` splits when pinned (narrowed with `coalesce` if Hadoop
    * cuts one more), else `defaultParallelism`, so every core maps even a
    * file smaller than one SQL scan split. `inputPath` is one file, as in
    * the reference: unlike the SQL file scan, this reader packs no files.
    */
  def readLines(spark: SparkSession, job: JobSpec): Dataset[String] = {
    import spark.implicits._
    val n = if (job.nMap > 0) job.nMap else spark.sparkContext.defaultParallelism
    val lines = spark.sparkContext.textFile(job.inputPath, n)
    spark.createDataset(
      if (job.nMap > 0 && lines.getNumPartitions > n) lines.coalesce(n) else lines)
  }

  /** Holistic reduce — exact parity with `DoReduce` (`mapreduce.go:178-219`):
    * the user function sees every value of a key, or, with a `combine`,
    * every partial of it. Values arrive in no guaranteed order (same
    * contract as the reference, SURVEY §2.3.2). Prefer [[runAggregated]]
    * for reduces that have an [[Aggregator]] form.
    *
    * The plan is the literal DoReduce: Map over `input` (the Spark
    * equivalent of `DoMap`, `mapreduce.go:131-166`; Murmur3 replaces
    * fnv32a, partition assignment being invisible in the output, SURVEY
    * §2.3.3), ONE hash shuffle by key (into exactly `nReduce` partitions
    * when pinned; otherwise at the session partition count, which AQE may
    * coalesce), a per-partition key sort (`sort.Strings`,
    * `mapreduce.go:203-207`), and a streaming walk over consecutive key
    * runs. `combine = None` is that plan unchanged; `Some(c)` adds one
    * map-side step below the shuffle, whatever the input shape: a bounded
    * hash walk that folds each map task's pairs into one partial per key
    * through `c` (see the class doc for its contract).
    */
  def runHolistic(
      spark: SparkSession,
      job: JobSpec,
      map: String => IterableOnce[KeyValue],
      reduce: (String, Iterator[String]) => String,
      combine: Option[(String, Iterator[String]) => String] = None,
      input: MapInput = MapInput.Lines): Dataset[KeyValue] = {
    val mapped = mapOver(spark, job, map, input)
    val kv = combine.fold(mapped)(c => mapped.mapPartitions(combineWalk(_, c, CombineKeys)))
    (if (job.nReduce > 0) kv.repartition(job.nReduce, col("key")) else kv.repartition(col("key")))
      .sortWithinPartitions("key").mapPartitions(reduceRuns(_, reduce))
  }

  /** The Map, called once per `input` text. */
  private def mapOver(
      spark: SparkSession,
      job: JobSpec,
      map: String => IterableOnce[KeyValue],
      input: MapInput): Dataset[KeyValue] = input match {
    case MapInput.Lines => readLines(spark, job).flatMap(map)
    case MapInput.Split =>
      readLines(spark, job).mapPartitions(it =>
        if (it.isEmpty) Iterator.empty else map(it.mkString("\n")).iterator)
    case MapInput.Chunks => splitChunks(spark, job).flatMap { case (_, text) => map(text) }
  }

  /** Distinct keys a map task holds partials for before it flushes them:
    * bounds a task's combine memory whatever its key cardinality.
    */
  private val CombineKeys = 1 << 16

  /** The map-side combine: [[hashWalk]] with `combine` called pairwise on
    * a key's partial and its next value.
    */
  private[mr] def combineWalk(
      it: Iterator[KeyValue],
      combine: (String, Iterator[String]) => String,
      maxKeys: Int): Iterator[KeyValue] =
    hashWalk[KeyValue, String](it, maxKeys)(_.key, _.value,
      (k, partial, kv) => combine(k, Iterator(partial, kv.value)))
      .map { case (k, v) => KeyValue(k, v) }

  /** In-mapper combining: folds a map task's records into one partial per
    * key (`start` begins a key's partial, `add` folds a record into it)
    * and emits the partials when a new key arrives while the task holds
    * `maxKeys` of them, or when its input ends. A key seen again after a
    * flush starts a new partial, so a key may leave one task as several
    * partials; memory stays bounded by `maxKeys` partials, and a hot key
    * never buffers its values.
    */
  private def hashWalk[V, B](it: Iterator[V], maxKeys: Int)(
      key: V => String, start: V => B, add: (String, B, V) => B): Iterator[(String, B)] =
    new Iterator[(String, B)] {
      private val partials = new java.util.HashMap[String, B]
      private var flushed: Iterator[(String, B)] = Iterator.empty
      def hasNext: Boolean = flushed.hasNext || {
        var full = false
        while (!full && it.hasNext) {
          val v = it.next()
          val k = key(v)
          val prev = partials.get(k)
          if (prev != null) partials.put(k, add(k, prev, v))
          else {
            if (partials.size >= maxKeys) { flushed = drain(); full = true }
            partials.put(k, start(v))
          }
        }
        if (!full) flushed = drain()
        flushed.hasNext
      }
      def next(): (String, B) =
        if (hasNext) flushed.next() else Iterator.empty.next()
      private def drain(): Iterator[(String, B)] = {
        val out = new Array[(String, B)](partials.size)
        var i = 0
        partials.forEach { (k, b) => out(i) = (k, b); i += 1 }
        partials.clear()
        out.iterator
      }
    }

  private implicit val kvEncoder: Encoder[KeyValue] = Encoders.product[KeyValue]

  /** Reduce consecutive same-key runs of a key-sorted partition — keys are
    * disjoint across partitions after the hash repartition (SURVEY §2.3.3),
    * so per-partition runs are complete key groups.
    */
  private def reduceRuns(
      it: Iterator[KeyValue],
      reduceFn: (String, Iterator[String]) => String): Iterator[KeyValue] = {
    val buf = it.buffered
    new Iterator[KeyValue] {
      def hasNext: Boolean = buf.hasNext
      def next(): KeyValue = {
        val key = buf.head.key
        // stream the run to the reduce (no per-key materialization — a
        // hot key's values must not all buffer in memory); drain whatever
        // the reduce did not consume before moving to the next run
        val values = new Iterator[String] {
          def hasNext: Boolean = buf.hasNext && buf.head.key == key
          def next(): String = buf.next().value
        }
        val out = KeyValue(key, reduceFn(key, values))
        while (values.hasNext) values.next()
        out
      }
    }
  }

  /** Algebraic reduce via a typed [[Aggregator]] — map-side partial
    * aggregation, the combiner the reference is missing (its shuffle
    * carries one JSON record per *occurrence*, `mapreduce.go:156-164`).
    *
    * With `nReduce <= 0` Spark plans it: partial aggregate, one exchange at
    * the session partition count, final aggregate. With `nReduce` pinned,
    * each map task first folds its pairs into `(key, buffer)` partials
    * through `agg.reduce` in the same bounded hash walk as the holistic
    * combiner; ONE `repartition(nReduce, key)` carries the partials, and an
    * aggregate over that partitioning (no further exchange) merges them
    * with `agg.merge` and applies `agg.finish`.
    */
  def runAggregated[B: Encoder, O](
      spark: SparkSession,
      job: JobSpec,
      map: String => IterableOnce[KeyValue],
      agg: Aggregator[KeyValue, B, O])(implicit
      oe: Encoder[(String, O)]): Dataset[(String, O)] = {
    import spark.implicits._
    val kv = mapOver(spark, job, map, MapInput.Lines)
    // column keys, not lambdas: an opaque key appends a copy of every key
    // and shuffles again at the session partition count, ignoring nReduce
    if (job.nReduce <= 0) kv.groupBy($"key").as[String, KeyValue].agg(agg.toColumn)
    else {
      val pe = Encoders.tuple(Encoders.STRING, implicitly[Encoder[B]])
      kv.mapPartitions(hashWalk[KeyValue, B](_, CombineKeys)(
          _.key, agg.reduce(agg.zero, _), (_, b, v) => agg.reduce(b, v)))(pe)
        .repartition(job.nReduce, $"_1")
        .groupBy($"_1").as[String, (String, B)](Encoders.STRING, pe)
        .agg(mergePartials(agg).toColumn)
    }
  }

  /** `agg`'s final phase over `(key, buffer)` partials: merge, then finish. */
  private def mergePartials[B, O](agg: Aggregator[KeyValue, B, O]): Aggregator[(String, B), B, O] =
    new Aggregator[(String, B), B, O] {
      def zero: B = agg.zero
      def reduce(b: B, p: (String, B)): B = agg.merge(b, p._2)
      def merge(a: B, b: B): B = agg.merge(a, b)
      def finish(b: B): O = agg.finish(b)
      def bufferEncoder: Encoder[B] = agg.bufferEncoder
      def outputEncoder: Encoder[O] = agg.outputEncoder
    }

  /** Byte-faithful re-expression of the reference's `Split`
    * (`mapreduce.go:74-112`): chunk m's text is EXACTLY the bytes of the
    * reference's `mrtmp.<file>-<m>` split file.
    *
    * Reference semantics reproduced here:
    *   - lines are scanner-normalized: the trailing `\n` (and a preceding
    *     `\r`, i.e. CRLF) is stripped, then `"\n"` is appended — so EVERY
    *     line, including an unterminated last line, contributes
    *     `bytes(line) + 1`;
    *   - `nchunk = fileSize/nMap + 1` (original on-disk size, CRs included);
    *   - a new chunk starts when cumulative normalized bytes `i` exceed
    *     `nchunk·m` — checked before each line, so chunks are CONTIGUOUS
    *     line runs, not round-robin subsets.
    *
    * Scale shape: the cumulative-bytes rule is a prefix sum, computed
    * distributedly — pass 1 aggregates one (bytes, lines, maxLine) triple
    * per partition (a bounded, partition-count-sized collect, never
    * data-proportional), pass 2 assigns each line its chunk with a
    * partition-local running offset. The closed-form chunk id
    * `(i-1)/nchunk` equals the reference's sequential walk whenever no
    * single line exceeds `nchunk` bytes (the walk advances at most one
    * chunk per line); pass 1's maxLine guards that precondition and this
    * method fails loudly if it is violated.
    */
  def splitChunks(
      spark: SparkSession, job: JobSpec): Dataset[(Long, String)] = {
    require(job.nMap > 0, "splitChunks needs an explicit nMap (reference Split contract)")
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(job.inputPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val size = fs.getFileStatus(path).getLen
    val nchunk = size / job.nMap + 1

    // Hadoop's line reader applies the same CR?LF normalization as Go's
    // bufio.Scanner, so a line's normalized contribution is bytes + 1.
    // (Sole divergence: a LONE \r terminates a line for Hadoop but not for
    // Go's ScanLines — out of contract for line-oriented text input.)
    val lines = spark.sparkContext.textFile(job.inputPath, job.nMap)
    def lineBytes(l: String): Long =
      l.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 1L

    // pass 1: per-partition (bytes, maxLine) — bounded driver roundtrip
    val partStats = lines
      .mapPartitionsWithIndex { (pi, it) =>
        var bytes = 0L; var maxLine = 0L
        it.foreach { l => val b = lineBytes(l); bytes += b; maxLine = math.max(maxLine, b) }
        Iterator((pi, bytes, maxLine))
      }
      .collect()
      .sortBy(_._1)
    val maxLine = if (partStats.isEmpty) 0L else partStats.map(_._3).max
    require(maxLine <= nchunk,
      s"a single line ($maxLine bytes) exceeds the chunk size ($nchunk): " +
        "the reference's one-chunk-per-line advance cannot be reproduced " +
        "in closed form — raise nMap or pre-split the input")
    val partStarts = partStats.map(_._2).scanLeft(0L)(_ + _)

    // pass 2: chunk id from the closed form over the running byte offset;
    // the (global) line index orders lines within a chunk for reassembly
    val linesPerPart = spark.sparkContext.broadcast(partStarts)
    val assigned = lines
      .mapPartitionsWithIndex { (pi, it) =>
        var i = linesPerPart.value(pi)
        it.map { l =>
          val chunk = if (i == 0L) 0L else (i - 1) / nchunk
          val off = i
          i += lineBytes(l)
          (chunk, off, l) // (chunk, offset-before-line, line)
        }
      }
      .toDF("chunk_id", "off", "line")

    // reassemble each chunk in offset order; every line contributes a
    // trailing "\n" (scanner parity), so the chunk is mkString + "\n".
    // The assembly's exchange is pinned to nMap partitions (the aggregate
    // reuses it), so AQE cannot coalesce the Map below nMap tasks
    assigned
      .repartition(job.nMap, col("chunk_id"))
      .groupBy(col("chunk_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("off"), col("line")))),
          s => concat(s.getField("line"), lit("\n"))),
        "").as("text"))
      .as[(Long, String)]
  }

  /** The reference's output contract (SURVEY §2.3.1): lines `key\tvalue`,
    * ascending bytewise key order, one file (`mapreduce.go:251-263`).
    *
    * `singleFile = true` reproduces it exactly: one shuffle into a single
    * partition, then a sort within it — no range-sampling job, so the
    * result is evaluated once. Correct, but a deliberate scale bottleneck,
    * so it is opt-in. `singleFile = false` writes a globally-sorted
    * *directory*: `orderBy` is a range-partitioned sort, so concatenating
    * part files in name order yields the same total order — the form that
    * works at 100 TB.
    */
  def writeSortedTsv(
      result: Dataset[KeyValue],
      outputPath: String,
      singleFile: Boolean = false): Unit = {
    val sorted =
      if (singleFile) result.repartition(1).sortWithinPartitions("key")
      else result.orderBy("key")
    sorted.select(concat_ws("\t", col("key"), col("value")).as("value")).write
      .mode("overwrite")
      .text(outputPath)
  }

  /** `RunSequential` parity (`mapreduce.go:288-301`): same operator code path
    * as any cluster run — only the master URL differs, preserving the
    * reference's local/distributed symmetry (SURVEY §4.2 last row).
    * `combine` is [[runHolistic]]'s optional Combiner slot.
    */
  def runSequential(
      spark: SparkSession,
      job: JobSpec,
      map: String => IterableOnce[KeyValue],
      reduce: (String, Iterator[String]) => String,
      singleFile: Boolean = true,
      combine: Option[(String, Iterator[String]) => String] = None): Unit =
    writeSortedTsv(runHolistic(spark, job, map, reduce, combine), job.outputPath, singleFile)
}
