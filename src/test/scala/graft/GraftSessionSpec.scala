package graft

import org.scalatest.matchers.should.Matchers

import graft.functions.SketchExpressions

class GraftSessionSpec extends SparkSpec with Matchers {

  test("SQL surface: tables and native functions are callable from spark.sql") {
    GraftSession.init(spark, sf())
    val agg = spark.sql(
      "SELECT l_returnflag, count(*) n FROM lineitem GROUP BY 1 ORDER BY 1")
    agg.count() shouldBe 3

    val cos = spark.sql(
      """SELECT vec_cosine(a.embedding, b.embedding) c
        |FROM embeddings a JOIN embeddings b ON a.vec_id = b.vec_id
        |WHERE a.vec_id < 5""".stripMargin)
    cos.collect().foreach(r => r.getDouble(0) shouldBe 1.0 +- 1e-9)

    // views are plans: pushdown still reaches the scan through the view
    val plan = spark
      .sql("SELECT o_orderkey FROM orders WHERE o_orderkey = 42")
      .queryExecution.executedPlan.toString
    plan should include("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]")
  }

  test("SPARK_GRAFT_CPUS: a positive integer (surrounding blanks allowed), " +
    "every core when unset, and a loud failure for anything else") {
    GraftSession.parseCpus(Some(" 8 ")) shouldBe 8
    GraftSession.parseCpus(None) shouldBe
      Runtime.getRuntime.availableProcessors
    for (bad <- Seq("0", "-2", "abc"))
      the[RuntimeException] thrownBy GraftSession.parseCpus(Some(bad)) should
        have message s"SPARK_GRAFT_CPUS must be a positive integer, got '$bad'"
  }

  test("simhash supports the full 64-bit width") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Seq(0x0123456789abcdefL, 0x0123456789abcdefL, -1L)),
      (2L, Seq(-1L, -1L)), // all bits set in every element
      (3L, Seq(0L))) // no bits set
      .toDF("id", "hs")
    val rows = df
      .select(col("id"), SketchExpressions.simhash(col("hs"), 64).as("sig"))
      .orderBy("id").collect()
    // majority of {x, x, -1} is x's bits OR'd where -1 contributes 1 vote:
    // each bit of x has 2 votes (or 3); bits not in x have 1 of 3 → majority
    // only where x has the bit
    rows(0).getLong(1) shouldBe 0x0123456789abcdefL
    rows(1).getLong(1) shouldBe -1L // all 64 bits set, incl. sign bit
    // 2*ones >= n with n=1, ones=0 → false for every bit → empty signature
    rows(2).getLong(1) shouldBe 0L
  }
}
