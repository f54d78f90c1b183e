package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Per-(session, corpus-dir) memoizer for expensive one-time
  * constructions (the CC closure, k-means centroid training). The global
  * lock guards ONLY map access; the computation runs outside it in a
  * per-entry lazy holder, so a multi-second first materialization for
  * one (session, dir) no longer blocks unrelated sessions/dirs — while
  * concurrent first calls for the SAME key still compute exactly once
  * (the holder's own monitor), so a persisted copy cannot be stranded by
  * a double evaluation. A thunk that THROWS is not cached: the lazy
  * holder re-evaluates on the next call (Scala lazy-val semantics), so a
  * transient failure does not poison the cache.
  *
  * Lifecycle: entries for a session are evicted when that session's
  * SparkContext ends, running `cleanup` (e.g. unpersist) for entries
  * that actually materialized — never for ones still pending, whose
  * eventual value dies with the context anyway.
  */
private[graft] object SessionMemo {

  /** The memoize+persist idiom shared by every corpus-sized intermediate
    * that multiple registry queries consume (the MinHash signature table,
    * the winnowed candidate probe, the line-hash rows, the postings
    * table, …): memoize per (session, corpus), persist on first build,
    * and RE-MARK persisted when a later caller finds the storage level
    * cleared — Bench's between-pass `spark.catalog.clearCache()`
    * unpersists the frame WITHOUT evicting the memo entry, and without
    * the re-mark every subsequent consumer would silently recompute the
    * whole upstream pipeline per reference (the round-1 sharedSignatures
    * double-evaluation lesson). Extracted in round 12: the idiom had
    * grown seven hand-rolled copies (round-11 verdict item 3 /
    * docs/NEXT.md items 5-6), each a divergence bug waiting to happen.
    */
  private[graft] final class PersistedDF {
    private val memo = new SessionMemo[org.apache.spark.sql.DataFrame](
      _.unpersist(blocking = false))
    def getOrElseUpdate(s: SparkSession, key: String)(
        thunk: => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val df = memo.getOrElseUpdate(s, key)(thunk.persist())
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.persist()
      df
    }
  }

  /** Content fingerprint of a file or directory tree: every file's path,
    * size and mtime, sorted. A rewrite at the same path changes it, so
    * reuse keyed on it cannot read stages built from the old contents.
    */
  private[graft] def fingerprint(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (files.hasNext) {
      val f = files.next()
      out += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
    }
    out.result().sorted.mkString("|")
  }
  // Wall nanos spent INSIDE memo thunks, outermost only (a thunk that
  // triggers another memo's build counts once). graft.Bench reads deltas
  // around query construction to attribute the "build" column to actual
  // memoized one-time work: without this, any wall-clock noise during a
  // pure-DSL construction (GC/JIT stall) lands in the build column — the
  // r06 BENCH_DETAIL recorded a 2.89 s "build" for the plain outer join
  // this way.
  private val evalNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private val depth = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array(0)
  }
  def buildNanos: Long = evalNanos.get()
  private[operators] def timed[A](thunk: () => A): A = {
    val d = depth.get()
    d(0) += 1
    val t0 = System.nanoTime()
    try thunk()
    finally {
      d(0) -= 1
      if (d(0) == 0) { evalNanos.addAndGet(System.nanoTime() - t0); () }
    }
  }
}

private[graft] final class SessionMemo[V](cleanup: V => Unit = (_: V) => ()) {

  private final class Holder(thunk: () => V) {
    @volatile var done = false
    lazy val value: V = { val v = SessionMemo.timed(thunk); done = true; v }
  }

  private val cache =
    scala.collection.mutable.Map.empty[(SparkSession, String), Holder]

  def getOrElseUpdate(s: SparkSession, key: String)(thunk: => V): V = {
    val holder = cache.synchronized {
      cache.getOrElseUpdate((s, key), {
        if (!cache.keys.exists(_._1 eq s))
          s.sparkContext.addSparkListener(new SparkListener {
            override def onApplicationEnd(
                e: SparkListenerApplicationEnd): Unit =
              cache.synchronized {
                cache.filterInPlace { case ((sess, _), h) =>
                  (sess ne s) || {
                    // executor storage dies with the context anyway;
                    // cleanup is for the shared-context multi-session
                    // case and may race the shutdown, so a failure here
                    // is ignorable
                    if (h.done)
                      try cleanup(h.value)
                      catch { case _: Throwable => () }
                    false
                  }
                }
              }
          })
        new Holder(() => thunk)
      })
    }
    holder.value
  }
}
