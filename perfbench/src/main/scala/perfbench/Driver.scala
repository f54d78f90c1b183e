// The driver lives in the engine's package only so it can read
// `SessionMemo.buildNanos`, the engine's memo-build counter; everything
// else it calls is the engine's public surface.
package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftExtensions, GraftSession, SparkEntry}
import graft.mr.{JobSpec, KeyValue, MRJob, WordCount}
import graft.operators.SessionMemo

/** JVM side of the benchmark: one closed-loop client running a workload's
  * jobs serially on `local[N]`.
  *
  * Set-up is JVM start → session → inputs opened → warm-up pass done. The
  * warm-up pass runs the job list once, cold and in its listed order, and
  * is recorded on its own. Then come exactly `--passes` timed passes, so
  * a run's sample count never depends on how fast the passes went; each
  * runs the job list in its own seeded permutation. A job is construction
  * + materialization; its result is digested outside the timers and
  * compared with the reference (the generator's counts for word count,
  * the warm-up pass's result otherwise).
  *
  * With `--trace 1` the timed passes are untraced and traced in the order
  * U T T U U T T U …, so a drift over the run weighs on both kinds alike:
  * a traced pass tags every job phase with `setJobGroup(<span id>)` and a
  * [[Tracer]] records the listener events; the untraced passes give the
  * tracing overhead. Everything is written to `<out>/record.json`;
  * `run.py` turns it into metrics.
  */
object Driver {

  final case class Opts(workload: String, data: String, out: String,
      jobs: Seq[String], seed: Long, trace: Boolean, cpus: Int, passes: Int)

  /** A job: `construct` builds the plan (and runs any eager work the
    * engine does while building it), `execute` materializes it, and
    * `digest` turns the materialized value into (canonical digest, rows
    * to hand to the oracle) outside the timers.
    */
  trait Job {
    type P
    type V
    def name: String
    def construct(): P
    def execute(p: P): V
    def digest(v: V): Digest
  }
  def job[P0, V0](n: String)(c: => P0)(e: P0 => V0)(d: V0 => Digest): Job =
    new Job {
      type P = P0
      type V = V0
      val name = n
      def construct(): P = c
      def execute(p: P): V = e(p)
      def digest(v: V): Digest = d(v)
    }
  final case class Digest(sha: String, rows: Option[(StructType, Seq[Row])])

  final class Span(val id: Int, val name: String, val parent: Int,
      val start: Double) { var end: Double = Double.NaN }

  def main(args: Array[String]): Unit = {
    val mainEntry = now()
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("data"), kv("out"),
      kv("jobs").split(",").toSeq, kv("seed").toLong, kv("trace") == "1",
      kv("cpus").toInt, kv("passes").toInt)
    Files.createDirectories(Paths.get(o.out))
    val rec = run(o, mainEntry)
    Files.writeString(Paths.get(o.out, "record.json"), toJson(rec))
  }

  def toJson(v: Any): String =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v)

  // wall clock in epoch seconds with sub-millisecond resolution, on the
  // same axis as Spark's listener timestamps (epoch ms)
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  def run(o: Opts, mainEntry: Double): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      .config("spark.local.dir", s"${o.out}/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = now()
    val all = if (o.workload == "wordcount") wordcountJobs(spark, o)
      else queryJobs(spark, o)
    val unknown = o.jobs.filterNot(all.map(_.name).contains)
    require(unknown.isEmpty, s"unknown jobs for ${o.workload}: ${unknown.mkString(", ")}")
    val jobs = all.filter(j => o.jobs.contains(j.name))
    val inputsOpened = now()

    val spans = ArrayBuffer[Span]()
    def open(name: String, parent: Int): Span = {
      val s = new Span(spans.size, name, parent, now()); spans += s; s
    }
    val root = open("run", -1)
    val tracer = new Tracer
    val failures = ArrayBuffer[Map[String, Any]]()
    // reference digest per job, and the rows handed to the oracle
    val reference = scala.collection.mutable.Map[String, String]()
    val oracleRows = scala.collection.mutable.Map[String, (StructType, Seq[Row])]()
    o.workload match {
      case "wordcount" =>
        val expected = sha256(Files.readAllBytes(Paths.get(o.data, "expected.tsv")))
        jobs.foreach(j => reference(j.name) = expected)
      case _ =>
    }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcSeconds(): Double = gc.map(_.getCollectionTime).sum / 1e3

    def runPass(pass: Int, order: Seq[Job], traced: Boolean): Map[String, Any] = {
      val ps = open(s"pass$pass", root.id)
      val gc0 = gcSeconds()
      val results = order.map { j =>
        spark.catalog.clearCache()
        val js = open(s"pass$pass/${j.name}", ps.id)
        val memo0 = SessionMemo.buildNanos
        def phase[A](name: String)(body: => A): (A, Double) = {
          val sp = open(s"${js.name}/$name", js.id)
          if (traced) spark.sparkContext.setJobGroup(sp.name, sp.name)
          try { val a = body; (a, now() - sp.start) }
          finally {
            sp.end = now()
            if (traced) spark.sparkContext.clearJobGroup()
          }
        }
        // the digest runs after the job's span has closed
        val outcome =
          try {
            val (plan, cs) = phase("construct")(j.construct())
            val (value, es) = phase("execute")(j.execute(plan))
            js.end = now()
            Right((j.digest(value), cs, es))
          } catch {
            case e: Throwable =>
              if (js.end.isNaN) js.end = now()
              Left(s"${e.getClass.getName}: ${e.getMessage}")
          }
        val memoS = (SessionMemo.buildNanos - memo0) / 1e9
        val base = Map[String, Any]("job" -> j.name, "span" -> js.id,
          "wall_s" -> (js.end - js.start), "memo_build_s" -> memoS)
        outcome match {
          case Right((d, cs, es)) =>
            if (pass == 0 && !reference.contains(j.name)) {
              reference(j.name) = d.sha
              d.rows.foreach(r => oracleRows(j.name) = r)
            }
            val ok = reference.get(j.name).contains(d.sha)
            if (!ok) failures += Map("pass" -> pass, "job" -> j.name,
              "error" -> (s"result digest ${d.sha} != reference " +
                reference.getOrElse(j.name, "(none: the warm-up pass failed)")))
            base ++ Map("construct_s" -> cs, "execute_s" -> es,
              "digest" -> d.sha, "ok" -> ok)
          case Left(err) =>
            failures += Map("pass" -> pass, "job" -> j.name, "error" -> err)
            base ++ Map("ok" -> false, "error" -> err)
        }
      }
      ps.end = now()
      Map("pass" -> pass, "traced" -> traced, "span" -> ps.id,
        "order" -> order.map(_.name), "wall_s" -> (ps.end - ps.start),
        "gc_s" -> (gcSeconds() - gc0), "jobs" -> results)
    }

    // pass 0: the warm-up, in the listed order so set-up does not
    // depend on the seed; it builds the engine's memos
    val warmup = runPass(0, jobs, traced = false)
    val warmupDone = now()
    // the tracer stays attached for the whole timed phase, so untraced
    // passes carry its (asynchronous) listener cost too; their events
    // have no job group and are not attributed to any span
    if (o.trace) tracer.attach(spark)
    val passes = (1 to o.passes).map { pass =>
      val order = new scala.util.Random(o.seed * 1000003L + pass).shuffle(jobs)
      runPass(pass, order, traced = o.trace && pass % 4 >= 2)
    }
    root.end = now()
    require(spans.forall(s => !s.end.isNaN), "a span was left open")

    // oracle input: the reference rows, one parquet directory per query
    if (oracleRows.nonEmpty) {
      oracleRows.foreach { case (name, (schema, rows)) =>
        spark.createDataFrame(rows.asJava, schema).coalesce(1).write
          .mode("overwrite").parquet(s"${o.out}/results/$name")
      }
      val sql = SparkEntry.oracleSql.filter { case (k, _) => oracleRows.contains(k) }
      Files.writeString(Paths.get(o.out, "results", "oracle_sql.json"), toJson(sql))
    }
    // stopping the context drains the listener bus: every event of the
    // timed passes has been delivered once stop() returns
    spark.stop()

    Map("workload" -> o.workload, "cpus" -> o.cpus, "seed" -> o.seed,
      "setup" -> Map("jvm_start" -> jvmStart, "main_entry" -> mainEntry,
        "session_ready" -> sessionReady, "inputs_opened" -> inputsOpened,
        "warmup_done" -> warmupDone),
      "warmup" -> warmup, "passes" -> passes,
      "failures" -> failures.toSeq, "peak_rss_kb" -> vmHwmKb(),
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end)).toSeq,
      "trace" -> (if (o.trace) tracer.toJson else Map.empty))
  }

  // ------------------------------------------------------------------
  // workloads

  private def wordcountJobs(spark: SparkSession, o: Opts): Seq[Job] = {
    import spark.implicits._
    val input = s"${o.data}/input.txt"
    require(Files.isRegularFile(Paths.get(input)), s"missing input $input")
    val tsvOut = s"${o.out}/sorted_tsv"
    def lines(pairs: Iterator[(String, Long)]): Digest =
      Digest(sha256(sortedTsv(pairs)), None)
    def kvLines(kvs: Array[KeyValue]): Digest =
      lines(kvs.iterator.map(kv => kv.key -> kv.value.toLong))
    Seq(
      job("holistic_pinned")(
        WordCount.viaMR(spark, JobSpec(input, "", nReduce = o.cpus)))(
        _.collect())(kvLines),
      job("holistic_auto")(WordCount.viaMR(spark, JobSpec(input, "")))(
        _.collect())(kvLines),
      job("aggregated")(MRJob.runAggregated(spark, JobSpec(input, ""),
        WordCount.mapFn, WordCount.sumAgg))(_.collect())(
        pairs => lines(pairs.iterator)),
      job("sql")(WordCount.viaSql(spark.read.textFile(input).toDF("value"), "value"))(
        _.collect())(rows => lines(rows.iterator.map(r => r.getString(0) -> r.getLong(1)))),
      job("sorted_tsv")(())(_ => WordCount.runFile(spark, input, tsvOut)) { _ =>
        val parts = Files.list(Paths.get(tsvOut)).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
        require(parts.size == 1, s"${parts.size} part files, expected one")
        Digest(sha256(Files.readAllBytes(parts.head)), None)
      })
  }

  private def queryJobs(spark: SparkSession, o: Opts): Seq[Job] = {
    GraftSession.init(spark, o.data)
    o.jobs.filter(SparkEntry.queries.contains).map { n =>
      job(n)(SparkEntry.queries(n)(spark, o.data))(
        df => (df.schema, df.collect().toSeq)) { case (schema, rows) =>
        val canon = rows.map(_.toSeq.map(x => if (x == null) "\\N" else x.toString)
          .mkString("\u0001")).sorted
        Digest(sha256(canon.mkString("\n").getBytes(UTF_8)), Some((schema, rows)))
      }
    }
  }

  // ------------------------------------------------------------------
  // helpers

  /** `word\tcount\n` lines in bytewise word order: the exact bytes of the
    * generator's expected.tsv when the counts are right. */
  def sortedTsv(pairs: Iterator[(String, Long)]): Array[Byte] = {
    val ls = pairs.map { case (k, c) => s"$k\t$c\n".getBytes(UTF_8) }.toArray
    java.util.Arrays.sort(ls, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    val out = new java.io.ByteArrayOutputStream()
    ls.foreach(b => out.write(b))
    out.toByteArray
  }

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}
