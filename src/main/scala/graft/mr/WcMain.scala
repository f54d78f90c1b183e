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
  * nMap/nReduce like `Job{NMap, NReduce}` (`job.go:5-11`); defaults (or 0)
  * let Spark/AQE choose, which is the right call at scale. Other arguments
  * print the usage and exit 2.
  */
object WcMain {
  def main(args: Array[String]): Unit = args.toList match {
    case "sequential" :: in :: out :: Pins(nMap, nReduce) =>
      run("local[*]", in, out, nMap, nReduce)
    case "submit" :: master :: in :: out :: Pins(nMap, nReduce) =>
      run(master, in, out, nMap, nReduce)
    case _ =>
      System.err.println(
        """usage: WcMain sequential <input> <outputDir> [nMap [nReduce]]
          |       WcMain submit <masterUrl> <input> <outputDir> [nMap [nReduce]]""".stripMargin)
      sys.exit(2)
  }

  /** `[nMap [nReduce]]`: at most two non-negative integers, missing = 0. */
  private[mr] object Pins {
    def unapply(rest: List[String]): Option[(Int, Int)] =
      rest.map(_.toIntOption.filter(_ >= 0)) match {
        case Nil => Some((0, 0))
        case Some(m) :: Nil => Some((m, 0))
        case Some(m) :: Some(r) :: Nil => Some((m, r))
        case _ => None
      }
  }

  private def run(master: String, in: String, out: String, nMap: Int, nReduce: Int): Unit = {
    val spark = graft.GraftSession.builder(master).appName("graft-wc").getOrCreate()
    try {
      WordCount.runFile(spark, in, out, nMap = nMap, nReduce = nReduce)
      println(s"wordcount: $in -> $out")
    } finally spark.stop()
  }
}
