package graft.mr

/** Reference-parity CLI, mirroring `wc.go:46-70`'s mode dispatch.
  *
  * The reference has four modes: `sequential` (one process),
  * `master`/`worker` (hand-rolled distributed runtime), and `submit`
  * (client). Spark collapses the last three — executors register with the
  * driver the way workers registered with the master (`worker.go:86`,
  * `master.go:29-36`), so the CLI surface is:
  *
  *   sequential <in> <out>            — local[*], same operator code path
  *   submit <masterUrl> <in> <out>    — any Spark master (standalone/yarn/k8s)
  *
  * preserving the reference's property that sequential and distributed mode
  * share operator code and differ only in the driver (`mapreduce.go:288-301`
  * vs `master.go:156-174`; SURVEY §4.2). Optional trailing args pin
  * nMap/nReduce like `Job{NMap, NReduce}` (`job.go:5-11`); defaults let
  * Spark/AQE choose, which is the right call at scale.
  */
object WcMain {
  def main(args: Array[String]): Unit = args.toList match {
    case "sequential" :: in :: out :: rest =>
      run("local[*]", in, out, rest)
    case "submit" :: master :: in :: out :: rest =>
      run(master, in, out, rest)
    case _ =>
      System.err.println(
        """usage: WcMain sequential <input> <outputDir> [nMap [nReduce]]
          |       WcMain submit <masterUrl> <input> <outputDir> [nMap [nReduce]]""".stripMargin)
      sys.exit(2)
  }

  private def run(master: String, in: String, out: String, rest: List[String]): Unit = {
    val nMap = rest.headOption.map(_.toInt).getOrElse(0)
    val nReduce = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
    val spark = graft.GraftSession.builder(master).appName("graft-wc").getOrCreate()
    try {
      val job = JobSpec(in, out, nMap = nMap, nReduce = nReduce)
      MRJob.runSequential(spark, job, WordCount.mapFn, WordCount.reduceFn)
      println(s"wordcount: $in -> $out")
    } finally spark.stop()
  }
}
