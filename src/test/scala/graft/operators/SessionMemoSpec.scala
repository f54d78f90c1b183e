package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.tables.Tables

/** The memo contracts: SessionMemo.buildNanos advances by (outermost)
  * thunk evaluation time, once per materialization, and never on a memo
  * hit — graft.Bench derives the "build" column from deltas of this
  * counter around query construction; entries are keyed on the corpus
  * CONTENT, so a corpus rewritten at the same path rebuilds every kind of
  * memo; fixtures live under `tmpdir/<family>/<appId>/`.
  */
class SessionMemoSpec extends SparkSpec with Matchers {

  test("thunk time is counted once (nested builds inside the outer), never on hits") {
    val outer = new SessionMemo[Int]()
    val inner = new SessionMemo[Int]()
    val b0 = SessionMemo.buildNanos
    val v = outer.getOrElseUpdate(spark, "memo-spec-key") {
      // a nested memo materialization inside the outer thunk: its time
      // must be included in the OUTER measurement, not double-counted
      inner.getOrElseUpdate(spark, "memo-spec-key") {
        Thread.sleep(100); 1
      } + 1
    }
    v shouldBe 2
    val d = SessionMemo.buildNanos - b0
    d should be >= 90L * 1000000L // the sleep is counted…
    d should be < 190L * 1000000L // …once, not once per nesting level
    // memo hits add zero build time
    val b1 = SessionMemo.buildNanos
    outer.getOrElseUpdate(spark, "memo-spec-key")(fail("thunk re-ran"))
    inner.getOrElseUpdate(spark, "memo-spec-key")(fail("thunk re-ran"))
    SessionMemo.buildNanos shouldBe b1
  }

  test("a transiently-failing thunk is not cached: the holder retries it") {
    val m = new SessionMemo[Int]()
    var calls = 0
    def flaky(): Int = m.getOrElseUpdate(spark, "memo-spec-throw") {
      calls += 1
      if (calls == 1) throw new IllegalStateException("transient")
      7
    }
    an[IllegalStateException] should be thrownBy flaky()
    flaky() shouldBe 7 // lazy-val semantics: the failure did not poison
    flaky() shouldBe 7 // …and the success IS cached
    calls shouldBe 2
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    }
    finally walk.close()
  }

  private def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    finally walk.close()
  }

  /** `query` on a copy of sf0.001 (`before`), on the same path after its
    * documents.parquet is rewritten with 50 extra documents (`got`), and
    * on a fresh copy of the rewritten corpus at another path (`want`).
    */
  private def rewritten(query: String => DataFrame)
      : (Seq[String], Seq[String], Seq[String]) = {
    val tmp = Files.createTempDirectory("graft-memo-rewrite")
    try {
      val dir = tmp.resolve("corpus")
      copyTree(java.nio.file.Paths.get(sf()), dir)
      val before = rows(query(dir.toString))
      val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      docs.union(docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 1000L))
        .write.parquet(tmp.resolve("staged").toString)
      Files.delete(dir.resolve("documents.parquet"))
      Files.move(tmp.resolve("staged"), dir.resolve("documents.parquet"))
      val got = rows(query(dir.toString))
      val fresh = tmp.resolve("fresh")
      copyTree(dir, fresh)
      (before, got, rows(query(fresh.toString)))
    } finally deleteTree(tmp)
  }

  Seq[(String, String, String => DataFrame)](
    ("a plain memo", "q_lpa", d => Graph.qLpa(spark, d)),
    ("the node-count memo", "q_kcore", d => Graph.qKcore(spark, d)),
    ("a PersistedDF", "q_dedup_minhash", d => Dedup.qDedupMinhash(spark, d)),
    ("a fixture", "q_ingest_jsonl",
      d => graft.sources.Ingest.qIngestJsonl(spark, d)),
    ("the schema memo", "Tables.load", d => Tables.load(spark, d, "documents"))
  ).foreach { case (kind, name, q) =>
    test(s"a corpus rewritten at the same path rebuilds $kind ($name)") {
      val (before, got, want) = rewritten(q)
      want should not equal before // the rewrite is visible to the query
      got shouldBe want
    }
  }

  test("Tables.load infers a file's schema once, and again after the file " +
    "is rewritten with another schema") {
    val tmp = Files.createTempDirectory("graft-schema-memo")
    try {
      val dir = tmp.toString
      val file = tmp.resolve("t.parquet")
      spark.range(3).select(col("id").as("a")).write.parquet(file.toString)
      Tables.load(spark, dir, "t").columns.toSeq shouldBe Seq("a")
      // a second read of the same file launches no schema job
      val (_, jobs) = jobsDuring(Tables.load(spark, dir, "t"))
      jobs shouldBe 0
      deleteTree(file)
      spark.range(2).select(col("id").as("b"), lit("x").as("c"))
        .write.parquet(file.toString)
      val df = Tables.load(spark, dir, "t")
      df.columns.toSeq shouldBe Seq("b", "c")
      rows(df) shouldBe Seq("0|x", "1|x")
    } finally deleteTree(tmp)
  }

  test("componentCache re-persists its frame after clearCache()") {
    Dedup.canonicalComponents(spark, sf()).count()
    spark.catalog.clearCache()
    Dedup.canonicalComponents(spark, sf()).storageLevel should not be
      StorageLevel.NONE
  }

  test("every fixture accessor returns a path under tmpdir/<family>/<appId>/") {
    import graft.scale.Scale
    import graft.sources.Ingest
    val tmp = System.getProperty("java.io.tmpdir")
    val app = spark.sparkContext.applicationId
    Seq(
      "graft_ingest_jsonl" -> Ingest.fixturePath(spark, sf()),
      "graft_ingest_csv" -> Ingest.csvFixturePath(spark, sf()),
      "graft_schema_evo" -> Ingest.evoFixturePath(spark, sf()),
      "graft_ingest_pipeline" -> Ingest.pipelineFixturePath(spark, sf()),
      "graft_orc" -> Ingest.orcPath(spark, sf()),
      "graft_dpp" -> Scale.dppPath(spark, sf()),
      "graft_zorder" -> Scale.zorderPath(spark, sf()),
      "graft_mv_ivm" -> Scale.mvIvmLakePath(spark, sf()),
      "graft_ivf_index" -> Similarity.ivfIndexPath(spark, sf())
    ).filterNot { case (family, path) =>
      new java.io.File(path).getParentFile ==
        new java.io.File(s"$tmp/$family/$app")
    } shouldBe empty
  }
}
