package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Executor-failure recovery smoke — the capability the reference
  * explicitly lacks (`/root/reference/README.md:11` "does not tolerate
  * worker failure"; `/root/reference/mapreduce/master.go:111-125` ignores
  * RPC failure, so a lost worker loses its partitions or hangs the job).
  * Spark recovers by lineage: a SIGKILLed executor takes its shuffle map
  * outputs with it, the reducers hit FetchFailed, the scheduler resubmits
  * the lost map partitions on the surviving executor, and the job
  * completes with the SAME answer. This main PROVES that on this codebase
  * instead of asserting it:
  *
  *   1. under `local-cluster[2,2,1024]` (real standalone master + worker
  *      JVMs + separate executor processes — the [[ClusterSmoke]] setup),
  *      run a deterministic multi-stage job twice undisturbed and record
  *      its fingerprint;
  *   2. run it again, and mid-flight — after tasks have started, while
  *      the job is provably unfinished — `kill -9` one executor JVM;
  *   3. require that the kill landed inside the job window, that the
  *      scheduler observed the executor removal, that the job still
  *      completed, and that the fingerprint is bit-identical.
  *
  * The job is shuffle-heavy by construction (64 map partitions of md5
  * work into a 9973-key aggregation, then a global rollup), so the kill
  * almost surely destroys live map output; determinism comes from
  * content-defined values (md5 of the row id), never from row order or
  * partition placement. Exit 0 iff every assertion holds.
  *
  * Usage (the [[ClusterSmoke]] environment contract):
  * `SPARK_SCALA_VERSION=2.13 sbt 'runMain graft.tools.FaultSmoke [rows]'`.
  */
object FaultSmoke {

  /** Deterministic multi-stage fingerprint job: map (md5 per id) →
    * shuffle (groupBy key) → global rollup. Returns (Σ per-key sums,
    * n keys) — order- and placement-independent.
    */
  private def fingerprint(s: SparkSession, rows: Long): (Long, Long) = {
    val r = s.range(0L, rows, 1L, 64)
      .select((col("id") % 9973L).as("k"),
        // % 1e9+7 bounds Σh ≈ rows·1e9 ≪ 2⁶³ (ANSI mode faults overflow)
        (conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 1000000007L).as("h"))
      .groupBy(col("k"))
      .agg(sum(col("h")).as("sh"))
      .agg(sum(col("sh")).as("total"), count(lit(1)).as("n_keys"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def executorPids(): Seq[Long] = {
    import scala.sys.process._
    val self = ProcessHandle.current().pid()
    scala.util.Try(
      Seq("pgrep", "-f", "CoarseGrainedExecutorBackend").!!.trim)
      .toOption.toSeq
      .flatMap(_.split("\n"))
      .filter(_.nonEmpty)
      .map(_.trim.toLong)
      .filterNot(_ == self)
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(40000000L)
    val s = graft.GraftSession.builder("local-cluster[2,2,1024]")
      .appName("graft-fault-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config(ClusterSmoke.clusterConf)
      .getOrCreate()

    val removed = new AtomicInteger(0)
    s.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        removed.incrementAndGet(); ()
      }
    })

    try {
      // small warmup so both executor JVMs are registered and codegen'd
      // before any timing-sensitive window opens
      fingerprint(s, 10000L)

      val want = fingerprint(s, rows)
      println(s"[fault] undisturbed fingerprint: $want")

      val done = new AtomicBoolean(false)
      val result = scala.concurrent.Future {
        try fingerprint(s, rows)
        finally done.set(true)
      }(scala.concurrent.ExecutionContext.global)

      // wait for the job to actually be running (tasks on executors)
      val t0 = System.nanoTime()
      while (s.sparkContext.statusTracker.getActiveStageIds.isEmpty &&
        !done.get() && (System.nanoTime() - t0) < 60e9) Thread.sleep(50)
      Thread.sleep(500) // let map tasks produce some shuffle output
      require(!done.get(),
        "[fault] job finished before the kill window opened — raise `rows`")

      val pids = executorPids()
      require(pids.nonEmpty, "[fault] no executor JVM found to kill")
      val victim = pids.head
      import scala.sys.process._
      val rc = Seq("kill", "-9", victim.toString).!
      require(rc == 0, s"[fault] kill -9 $victim failed (rc=$rc)")
      require(!done.get(),
        "[fault] job finished before the kill landed — raise `rows`")
      println(s"[fault] killed executor JVM pid=$victim mid-job")

      val got = scala.concurrent.Await.result(
        result, scala.concurrent.duration.Duration(600, "s"))
      println(s"[fault] post-kill fingerprint:    $got")
      println(s"[fault] executors removed observed: ${removed.get()}")

      require(removed.get() >= 1,
        "[fault] scheduler never observed an executor removal — the kill " +
          "did not land on a live executor")
      require(got == want,
        s"[fault] fingerprint diverged after executor loss: $got != $want")
      println("[fault] OK: job survived executor SIGKILL with identical " +
        "output (lineage recovery)")
    } finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
