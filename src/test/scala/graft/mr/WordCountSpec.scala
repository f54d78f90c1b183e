package graft.mr

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.SpanSugar._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Word-count parity with the reference contract (SURVEY §2.3):
  * tokenize on non-letters, drop empties, no case folding, per-key count,
  * output sorted bytewise by key, `key\tvalue` lines.
  */
class WordCountSpec extends SparkSpec with Matchers {

  /** Independent brute-force word count (the oracle of SURVEY §5.4). */
  private def brute(text: String): Map[String, Int] =
    text
      .split(WordCount.TokenSep)
      .filter(_.nonEmpty)
      .groupBy(identity)
      .view
      .mapValues(_.length)
      .toMap

  test("golden: end-to-end file pipeline produces sorted TSV (wc.go contract)") {
    val in = Files.createTempFile("wc-in", ".txt")
    val out = Files.createTempDirectory("wc-out").resolve("res")
    // Mixed case (no folding), punctuation/digit separators, consecutive
    // separators, unicode letters, empty line, no trailing newline.
    Files.writeString(
      in,
      "the The THE!\ncafé café 123 foo,,bar\n\nfoo9bar end")
    WordCount.runFile(spark, in.toString, out.toString, singleFile = true)

    val files = out.toFile.listFiles.filter(_.getName.startsWith("part-"))
    files.length shouldBe 1 // singleFile contract: exactly one part file
    val lines = Files.readAllLines(files.head.toPath)
    lines.toArray.toSeq shouldBe Seq(
      "THE\t1",
      "The\t1",
      "bar\t2",
      "café\t2",
      "end\t1",
      "foo\t2",
      "the\t1")
  }

  test("MR closure path and declarative SQL path agree with brute force") {
    val text = "a b c a B. c? a-a\nz žluťoučký žluťoučký"
    val in = Files.createTempFile("wc-in2", ".txt")
    Files.writeString(in, text)
    val viaMr = WordCount
      .viaMR(spark, JobSpec(in.toString, ""))
      .collect()
      .map(kv => kv.key -> kv.value.toInt)
      .toMap
    viaMr shouldBe brute(text)

    import spark.implicits._
    val df = spark.createDataset(text.split("\n").toSeq).toDF("text")
    val viaSql = WordCount
      .viaSql(df, "text")
      .collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt)
      .toMap
    viaSql shouldBe brute(text)
  }

  test("property: both paths match brute force on random text") {
    val wordGen = Gen.oneOf("the", "Café", "a", "B", "žluť", "x1y")
    val sepGen = Gen.oneOf(" ", ", ", "  ", "!", "\n", " 42 ")
    val textGen = for {
      n <- Gen.choose(0, 60)
      ws <- Gen.listOfN(n, wordGen)
      ss <- Gen.listOfN(n, sepGen)
    } yield ws.zip(ss).map { case (w, s) => w + s }.mkString

    import spark.implicits._
    val texts = (0 until 15).flatMap(i =>
      textGen(Gen.Parameters.default, Seed(42L + i)).toSeq)
    texts should not be empty
    val df = spark.createDataset(texts).toDF("text")
    val got = WordCount
      .viaSql(df, "text")
      .collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt)
      .toMap
    got shouldBe brute(texts.mkString(" "))

    // the holistic path with wc's combiner, auto and pinned reduce side
    val in = Files.createTempFile("wc-prop", ".txt")
    Files.writeString(in, texts.mkString(" "))
    Seq(0, 3).foreach { nReduce =>
      MRJob
        .runHolistic(spark, JobSpec(in.toString, "", nReduce = nReduce),
          WordCount.mapFn, WordCount.reduceFn, Some(WordCount.reduceFn))
        .collect()
        .map(kv => kv.key -> kv.value.toInt)
        .toMap shouldBe brute(texts.mkString(" "))
    }
  }

  test("reduce is order-insensitive (SURVEY §2.3.2) and aggregator agrees") {
    val values = Seq("1", "1", "1", "1", "1")
    WordCount.reduceFn("k", values.iterator) shouldBe
      WordCount.reduceFn("k", values.reverse.iterator)
    // sums past Int.MaxValue, like Go's 64-bit int (partials can get there)
    WordCount.reduceFn("k", Iterator("2147483647", "1")) shouldBe "2147483648"

    // Aggregator path (partial agg) over a shuffled dataset equals holistic.
    import spark.implicits._
    val in = Files.createTempFile("wc-in3", ".txt")
    Files.writeString(in, "x x y x y z")
    val agg = MRJob
      .runAggregated(spark, JobSpec(in.toString, ""), WordCount.mapFn, WordCount.sumAgg)
      .collect()
      .toMap
    agg shouldBe Map("x" -> 3L, "y" -> 2L, "z" -> 1L)
  }

  test("whole-split Map is chunking-invariant across nMap values (§2.3.4)") {
    val in = Files.createTempFile("wc-ws", ".txt")
    val text = (1 to 40).map(i => s"alpha beta Gamma$i alpha line$i").mkString("\n")
    Files.writeString(in, text)
    // the reference hands Map one whole split string; any line-respecting
    // chunking (including a single chunk) must produce identical output
    // for a per-line-decomposable Map like the wc tokenizer
    val expected = brute(text)
    for (nMap <- Seq(0, 1, 3, 7); combine <- Seq(None, Some(WordCount.reduceFn _))) {
      val got = MRJob
        .runHolistic(spark, JobSpec(in.toString, "", nMap = nMap),
          WordCount.mapFn, WordCount.reduceFn, combine, MapInput.Split)
        .collect()
        .map(kv => kv.key -> kv.value.toInt)
        .toMap
      got shouldBe expected
    }
  }

  test("splitChunks is byte-faithful to the reference Split walk, CRLF included") {
    // direct simulation of the reference's Split (mapreduce.go:74-112),
    // written from its observed behavior: scanner-normalize each line
    // (strip \r?\n, append \n), cut when cumulative bytes exceed
    // nchunk*m, advancing one chunk at a time
    def referenceSplit(raw: Array[Byte], nMap: Int): Seq[String] = {
      val nchunk = raw.length.toLong / nMap + 1
      val text = new String(raw, java.nio.charset.StandardCharsets.UTF_8)
      val rawLines = text.split("\n", -1).toSeq
      val lines =
        (if (rawLines.nonEmpty && rawLines.last.isEmpty) rawLines.init else rawLines)
          .map(_.stripSuffix("\r"))
      val chunks = scala.collection.mutable.ArrayBuffer(new StringBuilder)
      var i = 0L
      var m = 1
      lines.foreach { l =>
        val normalized = l + "\n"
        if (i > nchunk * m) { chunks += new StringBuilder; m += 1 }
        chunks.last ++= normalized
        i += normalized.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      }
      chunks.map(_.toString).toSeq
    }

    // CRLF input, unterminated last line, uneven line lengths
    val raw = ((1 to 30).map(i => s"word$i alpha beta\r\n").mkString +
      "last line no newline").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val in = Files.createTempFile("wc-contig", ".txt")
    Files.write(in, raw)

    for (nMap <- Seq(1, 3, 5)) {
      val got = MRJob.splitChunks(spark, JobSpec(in.toString, "", nMap = nMap))
        .collect().sortBy(_._1)
      val expected = referenceSplit(raw, nMap)
      // contiguity + byte fidelity: chunk strings are EXACTLY the
      // reference's split files (CR stripped, every line \n-terminated),
      // and concatenating them in id order reproduces the normalized file
      got.map(_._2).toSeq shouldBe expected
      got.map(_._2).mkString shouldBe expected.mkString
    }

    // and the Map path over contiguous chunks leaves wc output unchanged
    Seq(None, Some(WordCount.reduceFn _)).foreach { combine =>
      val viaContig = MRJob
        .runHolistic(spark, JobSpec(in.toString, "", nMap = 3),
          WordCount.mapFn, WordCount.reduceFn, combine, MapInput.Chunks)
        .collect().map(kv => kv.key -> kv.value.toInt).toMap
      viaContig shouldBe brute(new String(raw, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  test("the Chunks input fails loudly on a missing nMap and on a line longer than a chunk") {
    val in = Files.createTempFile("wc-chunks-loud", ".txt")
    Files.writeString(in, "a b c d e f g h i j k l m n o p q r s t u v w x y z\nshort\n")
    def run(nMap: Int) = MRJob.runHolistic(spark, JobSpec(in.toString, "", nMap = nMap),
      WordCount.mapFn, WordCount.reduceFn, input = MapInput.Chunks)
    intercept[IllegalArgumentException](run(0)).getMessage should include(
      "splitChunks needs an explicit nMap")
    // nchunk = 58 bytes / 2 + 1 = 30; the first line takes 52
    intercept[IllegalArgumentException](run(2)).getMessage should include(
      "exceeds the chunk size")
  }

  test("nReduce pins shuffle partition count; output unaffected") {
    val in = Files.createTempFile("wc-in4", ".txt")
    Files.writeString(in, "p q p r q p")
    val r1 = WordCount.viaMR(spark, JobSpec(in.toString, "", nReduce = 1))
    val r3 = WordCount.viaMR(spark, JobSpec(in.toString, "", nReduce = 3))
    r1.collect().sortBy(_.key).toSeq shouldBe r3.collect().sortBy(_.key).toSeq
    // the reduce genuinely runs at nReduce partitions, with exactly one
    // shuffle (DoReduce parity: repartition + per-partition sort + run walk)
    r3.rdd.getNumPartitions shouldBe 3
    // AQE's toString repeats the tree under "== Initial Plan ==" — count
    // shuffles in the final plan section only
    val plan = r3.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    withClue(plan) {
      plan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    }
  }

  /** The executed plan after AQE's last re-plan ("== Initial Plan ==" and
    * below repeats the tree as first planned).
    */
  private def finalPlan(ds: Dataset[_]): String =
    ds.queryExecution.executedPlan.toString.split("== Initial Plan ==").head

  private def keyShuffles(plan: String): Int =
    plan.linesIterator.count(_.contains("Exchange hashpartitioning"))

  test("nMap = 0 reads even a small file into one split per core, no shuffle, text-source lines") {
    // CRLF lines, empty lines, non-ASCII letters, an unterminated last line
    val text = (1 to 3000).map { i =>
      if (i % 50 == 0) "" else s"línea $i žluťoučký café" + (if (i % 7 == 0) "\r" else "")
    }.mkString("\n") + "\nlast line without newline"
    val in = Files.createTempFile("wc-split", ".txt")
    Files.writeString(in, text)
    Files.size(in) should be >= 64L * 1024

    val lines = MRJob.readLines(spark, JobSpec(in.toString, ""))
    lines.rdd.getNumPartitions should be >= spark.sparkContext.defaultParallelism
    lines.queryExecution.executedPlan.toString should not include "Exchange"
    lines.collect().toSeq shouldBe spark.read.textFile(in.toString).collect().toSeq

    // a pinned nMap is exact even where Hadoop cuts one split more than asked
    val odd = Files.createTempFile("wc-split-odd", ".txt")
    Files.writeString(odd, "ab cd\nef gh\nij")
    spark.sparkContext.textFile(odd.toString, 3).getNumPartitions shouldBe 4
    val pinned = MRJob.readLines(spark, JobSpec(odd.toString, "", nMap = 3))
    pinned.rdd.getNumPartitions shouldBe 3
    pinned.collect().toSeq shouldBe Seq("ab cd", "ef gh", "ij")
  }

  test("holistic reduce with nReduce = 0: one key shuffle, no appended key column") {
    val in = Files.createTempFile("wc-auto", ".txt")
    Files.writeString(in, "p q p r q p")
    val r = WordCount.viaMR(spark, JobSpec(in.toString, ""))
    r.collect().map(kv => kv.key -> kv.value.toInt).toMap shouldBe
      Map("p" -> 3, "q" -> 2, "r" -> 1)
    val plan = finalPlan(r)
    withClue(plan) {
      keyShuffles(plan) shouldBe 1
      plan should not include "AppendColumns"
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The executed plan's shuffle exchanges (inside AQE's query stages). */
  private def exchanges(ds: Dataset[_]): Seq[ShuffleExchangeExec] =
    Plans.collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  /** Typed map-side steps below `plan` (the Map itself is one). */
  private def mapSteps(plan: SparkPlan): Int =
    Plans.collect(plan) { case m: MapPartitionsExec => m }.size

  private def recordsWritten(e: ShuffleExchangeExec): Long =
    e.metrics("shuffleRecordsWritten").value

  /** 2,000 lines over four distinct words: occurrences ≫ distinct keys. */
  private def repetitiveText(): java.nio.file.Path = {
    val in = Files.createTempFile("wc-combine", ".txt")
    Files.writeString(in, Seq.fill(2000)("alpha beta, Gamma alpha delta").mkString("\n"))
    in
  }
  private val repetitiveCounts =
    Map("alpha" -> 4000L, "beta" -> 2000L, "Gamma" -> 2000L, "delta" -> 2000L)

  test("holistic reduce without a combiner hands the reduce every raw value") {
    val in = repetitiveText()
    val r = MRJob.runHolistic(spark, JobSpec(in.toString, "", nReduce = 3),
      WordCount.mapFn, (_, vs) => vs.size.toString)
    r.collect().map(kv => kv.key -> kv.value.toLong).toMap shouldBe repetitiveCounts
    val ex = exchanges(r)
    withClue(finalPlan(r)) {
      ex.size shouldBe 1
      mapSteps(ex.head.child) shouldBe 1 // the Map, and no combine step
      recordsWritten(ex.head) shouldBe repetitiveCounts.values.sum
    }
  }

  test("wc's combiner: shuffle records written <= distinct keys x map partitions") {
    val in = repetitiveText()
    val maps = MRJob.readLines(spark, JobSpec(in.toString, "")).rdd.getNumPartitions
    Seq(0, 3).foreach { nReduce =>
      val r = WordCount.viaMR(spark, JobSpec(in.toString, "", nReduce = nReduce))
      r.collect().map(kv => kv.key -> kv.value.toLong).toMap shouldBe repetitiveCounts
      val ex = exchanges(r)
      withClue(finalPlan(r)) {
        ex.size shouldBe 1
        mapSteps(ex.head.child) shouldBe 2 // the Map, then the combine
        recordsWritten(ex.head) should be <= repetitiveCounts.size.toLong * maps
      }
    }
  }

  test("the Split and Chunks inputs combine too: shuffle records written <= distinct keys x map tasks") {
    val in = repetitiveText()
    for (input <- Seq(MapInput.Split, MapInput.Chunks);
         combine <- Seq(None, Some(WordCount.reduceFn _))) {
      val r = MRJob.runHolistic(spark, JobSpec(in.toString, "", nMap = 3, nReduce = 3),
        WordCount.mapFn, WordCount.reduceFn, combine, input)
      r.collect().map(kv => kv.key -> kv.value.toLong).toMap shouldBe repetitiveCounts
      // the key exchange: Chunks puts its chunk assembly's exchange below it
      val ex = exchanges(r).filter(_.output.exists(_.name == "key"))
      withClue(s"$input, $combine: ${finalPlan(r)}") {
        ex.size shouldBe 1
        if (combine.isEmpty) {
          mapSteps(ex.head.child) shouldBe 1 // the Map alone
          recordsWritten(ex.head) shouldBe repetitiveCounts.values.sum
        } else {
          mapSteps(ex.head.child) shouldBe 2 // the Map, then the combine
          recordsWritten(ex.head) should be <=
            repetitiveCounts.size.toLong * ex.head.inputRDD.getNumPartitions
        }
      }
    }
  }

  test("the Chunks input maps in nMap tasks: the key exchange's child has nMap partitions") {
    val in = repetitiveText()
    val r = MRJob.runHolistic(spark, JobSpec(in.toString, "", nMap = 3, nReduce = 3),
      WordCount.mapFn, WordCount.reduceFn, Some(WordCount.reduceFn _), MapInput.Chunks)
    r.collect().map(kv => kv.key -> kv.value.toLong).toMap shouldBe repetitiveCounts
    val ex = exchanges(r).filter(_.output.exists(_.name == "key"))
    withClue(finalPlan(r)) {
      ex.size shouldBe 1
      ex.head.inputRDD.getNumPartitions shouldBe 3
    }
  }

  test("the combine walk flushes at its key limit; the partials still reduce to the totals") {
    val partials = MRJob
      .combineWalk(Iterator("a", "b", "c", "a", "b").map(KeyValue(_, "1")),
        WordCount.reduceFn, maxKeys = 2)
      .toSeq
    // c flushes {a, b}, the second b flushes {c, a}, the end flushes {b}
    partials.size shouldBe 5
    partials.groupBy(_.key).map { case (k, kvs) =>
      k -> WordCount.reduceFn(k, kvs.iterator.map(_.value))
    } shouldBe Map("a" -> "2", "b" -> "2", "c" -> "1")
    // a full walk keeps folding the keys it holds: one partial per key
    MRJob.combineWalk(Iterator("a", "b", "a", "a").map(KeyValue(_, "1")),
      WordCount.reduceFn, maxKeys = 2).toSeq.sortBy(_.key) shouldBe
      Seq(KeyValue("a", "3"), KeyValue("b", "1"))
  }

  test("aggregated reduce with nReduce pinned: one shuffle, at nReduce partitions") {
    import spark.implicits._
    val in = repetitiveText()
    val maps = MRJob.readLines(spark, JobSpec(in.toString, "")).rdd.getNumPartitions
    val r = MRJob.runAggregated(spark, JobSpec(in.toString, "", nReduce = 3),
      WordCount.mapFn, WordCount.sumAgg)
    r.collect().toMap shouldBe repetitiveCounts
    r.rdd.getNumPartitions shouldBe 3
    val ex = exchanges(r)
    withClue(finalPlan(r)) {
      keyShuffles(finalPlan(r)) shouldBe 1
      ex.size shouldBe 1
      ex.head.outputPartitioning.numPartitions shouldBe 3
      // combined map-side before the exchange, not after it
      mapSteps(ex.head.child) shouldBe 2 // the Map, then the combine
      recordsWritten(ex.head) should be <= repetitiveCounts.size.toLong * maps
    }
  }

  test("single-file sorted TSV: the write shuffles into one partition, no range sampling") {
    val text = "the The THE!\ncafé café 123 foo,,bar\n\nfoo9bar end"
    val in = Files.createTempFile("wc-sink", ".txt")
    val out = Files.createTempDirectory("wc-sink-out").resolve("res")
    Files.writeString(in, text)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains(out.toString)) writes.add(plan)
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      WordCount.runFile(spark, in.toString, out.toString, singleFile = true)
      eventually(timeout(30.seconds))(writes.size shouldBe 1)
    } finally spark.listenerManager.unregister(listener)

    val plan = writes.peek
    withClue(plan) {
      plan should not include "rangepartitioning"
      plan should include("Exchange SinglePartition")
    }
    val files = out.toFile.listFiles.filter(_.getName.startsWith("part-"))
    files.length shouldBe 1
    // the golden test's input, so the golden bytes
    Files.readAllLines(files.head.toPath).toArray.toSeq shouldBe Seq(
      "THE\t1", "The\t1", "bar\t2", "café\t2", "end\t1", "foo\t2", "the\t1")
  }

  test("WcMain takes at most two non-negative integer pins") {
    WcMain.Pins.unapply(Nil) shouldBe Some((0, 0))
    WcMain.Pins.unapply(List("4")) shouldBe Some((4, 0))
    WcMain.Pins.unapply(List("0", "3")) shouldBe Some((0, 3))
    Seq(List("abc"), List("-3"), List("2", "-1"), List("1", "2", "3"), List("1.5"))
      .foreach(rest => WcMain.Pins.unapply(rest) shouldBe None)
  }
}
