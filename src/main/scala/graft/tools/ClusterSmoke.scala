package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Multi-JVM execution smoke: runs the full query registry under Spark's
  * `local-cluster[2,2,1024]` master — a real standalone master + 2 worker
  * JVMs with separate executor processes — and checks every query's row
  * count against a plain `local[4]` run of the same registry.
  *
  * Why this exists: everything else in the repo runs single-JVM
  * (`local[N]`), where closure serialization, Kryo round-trips, and
  * executor-side codegen classloading of the custom Catalyst
  * expressions/aggregates (AffineMinHashes, ExactMoments, MinKLongs, …)
  * are never exercised across a process boundary — the failure class
  * `local[*]` structurally cannot catch. The reference's entire
  * master/worker half (`/root/reference/mapreduce/master.go:15-214`,
  * `worker.go:24-101`) exists to cross exactly that boundary; Spark
  * subsumes it, and this main proves the subsumption claim on this
  * codebase.
  *
  * Usage: SPARK_HOME must point at a Spark distribution (the worker JVMs
  * are launched via its launcher classpath), then
  * `sbt 'runMain graft.tools.ClusterSmoke /root/testdata/sf0.001 [query…]'`.
  * Exit 0 iff every query returns identical row counts in both modes.
  */
object ClusterSmoke {

  /** Executor JVMs are fresh processes: they need the compiled graft
    * classes (the custom expressions deserialize + codegen there) and the
    * JDK-17 module opens that spark-submit would normally inject. Shared
    * with [[FaultSmoke]], which runs the same local-cluster setup.
    */
  private[tools] def clusterConf: Map[String, String] = {
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    Map(
      "spark.executor.extraClassPath" -> classesDir,
      "spark.executor.extraJavaOptions" -> addOpens)
  }

  private def counts(
      master: String,
      extra: Map[String, String],
      names: Seq[String],
      sfDir: String): Map[String, Long] = {
    val s = graft.GraftSession.builder(master)
      .appName("graft-cluster-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config(extra)
      .getOrCreate()
    try names.map { n =>
      val c = try SparkEntry.queries(n)(s, sfDir).count()
      catch {
        case e: Throwable =>
          System.err.println(s"[smoke] $n threw under $master: ${e.getMessage}")
          -1L
      }
      n -> c
    }.toMap
    finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.toSeq.tail
      else SparkEntry.queries.keys.toSeq.sorted

    val local = counts("local[4]", Map.empty, names, sfDir)
    val cluster = counts("local-cluster[2,2,1024]", clusterConf, names, sfDir)

    val bad = names.filter(n => local(n) != cluster(n) || cluster(n) < 0)
    names.foreach { n =>
      val mark = if (local(n) == cluster(n) && cluster(n) >= 0) "OK " else "BAD"
      println(f"[smoke] $mark $n%-24s local=${local(n)}%6d cluster=${cluster(n)}%6d")
    }
    println(s"[smoke] ${names.size - bad.size}/${names.size} queries match " +
      s"between local[4] and local-cluster[2,2,1024]")
    if (bad.nonEmpty) {
      System.err.println(s"[smoke] MISMATCH: ${bad.mkString(", ")}")
      sys.exit(1)
    }
  }
}
