package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pure contract-line machinery — no SparkSession. */
class BenchSpec extends AnyFunSuite with Matchers {

  test("stage-10 family-key squeeze terminates and stays injective on " +
    "vowel-squeeze twins (cbo/cube, kanon/knn spun the first build forever)") {
    val fams =
      Seq("cbo", "cube", "kanon", "knn", "dedup", "ann", "join", "stream")
    val out = Bench.familyShortKeys(fams)
    out.values.toSeq.distinct.size shouldBe fams.size
    // squeeze-twins keep their raw (distinct) names
    out("cbo") shouldBe "cbo"
    out("cube") shouldBe "cube"
    out("kanon") shouldBe "kanon"
    out("knn") shouldBe "knn"
    // non-twins actually shrink
    out("dedup").length should be <= 3
  }

  test("canary basket: five distinct registered steady queries with " +
    "injective 2-char keys (the normalization divisor must never read a " +
    "missing or self-caching query)") {
    val b = Bench.CanaryBasket
    b.size shouldBe 5
    b.map(_._1).distinct.size shouldBe 5
    b.map(_._2).distinct.size shouldBe 5
    all(b.map(_._1).map(_.length)) shouldBe 2
    for ((_, q) <- b) {
      withClue(s"$q must be registered: ")(
        SparkEntry.queries.contains(q) shouldBe true)
      // a self-caching member would be re-measured with cleared caches,
      // making the divisor track build cost instead of the host — checked
      // against the REAL set, not a copy that can go stale
      withClue(s"$q must not be self-caching: ")(
        Bench.selfCaching.contains(q) shouldBe false)
    }
  }

  test("clearsCache: a subset of selfCaching containing exactly the " +
    "persisted-lineage members (r14 scoped-clear fix — a clearsCache " +
    "entry outside selfCaching would clear caches for a memoized query " +
    "whose pass-2 timing then silently includes rebuild cost)") {
    Bench.clearsCache.subsetOf(Bench.selfCaching) shouldBe true
    Bench.clearsCache shouldBe Set("q_dedup_minhash", "q_dedup_pipeline")
  }

  test("contract line: the full registry gets the family form (family sums, " +
    "failures counted in nfail, canary + basket) within the 2000-char " +
    "budget; a focused subset gets the verbatim full-name form") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // synthetic readings: the first query failed (the -1.0 sentinel),
    // every other one took 1 s
    val results = names.map(n => n -> (if (n == names.head) -1.0 else 1.0))
    val basket = Bench.CanaryBasket.map { case (k, _) => k -> 0.5 }
    val line = Bench.contractLine(123.456, results, Some(0.81), basket,
      "/data/sf0.1")
    line.length should be <= 2000
    line should startWith(
      """{"metric":"total","value":123.456,"unit":"sec","queries":{""")
    line should endWith(
      ""","nfail":1,"canary":{"q_median":0.810},"basket":{"sc":0.500,""" +
        """"sh":0.500,"ex":0.500,"wi":0.500,"jo":0.500},"sf":"sf0.1"}""")
    def fam(k: String) = k.stripPrefix("q_").takeWhile(_ != '_')
    val members = names.groupBy(fam)
    val keys = Bench.familyShortKeys(members.keys.toSeq.sorted)
    val got = """"([^"]+)":([0-9.]+)""".r
      .findAllMatchIn(line.substring(line.indexOf("\"queries\""),
        line.indexOf("}")))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    got shouldBe members.map { case (f, ms) =>
      keys(f) -> ms.count(_ != names.head).toDouble }

    Bench.contractLine(3.157, Seq("q_kcore" -> 2.345, "q_median" -> 0.812),
      Some(0.812), Seq.empty, "/data/sf0.001") shouldBe
      """{"metric":"total","value":3.157,"unit":"sec","queries":""" +
      """{"q_kcore":2.3,"q_median":0.8},"canary":{"q_median":0.812},""" +
      """"sf":"sf0.001"}"""
  }

  test("detail line: exactly metric, value, unit, queries, build, canary, " +
    "basket (full-registry runs only), sf, in that order — no retired " +
    "host-noise field (strip, per-pass maps, task telemetry, host, post)") {
    import scala.jdk.CollectionConverters._
    val json = new com.fasterxml.jackson.databind.ObjectMapper
    def keys(line: String): Seq[String] =
      json.readTree(line).fieldNames().asScala.toSeq
    val results = Seq("q_kcore" -> 2.345, "q_median" -> 0.812)
    val builds = Seq("q_kcore" -> 0.25)
    val basket = Bench.CanaryBasket.map { case (k, _) => k -> 0.5 }
    keys(Bench.detailLine(3.407, results, builds, Some(0.812), basket,
      "/data/sf0.1")) shouldBe
      Seq("metric", "value", "unit", "queries", "build", "canary", "basket", "sf")
    val focused = Bench.detailLine(3.407, results, builds, Some(0.812),
      Seq.empty, "/data/sf0.1")
    keys(focused) shouldBe
      Seq("metric", "value", "unit", "queries", "build", "canary", "sf")
    // full names, full precision, the full sf path
    focused shouldBe
      """{"metric":"total","value":3.407,"unit":"sec","queries":""" +
      """{"q_kcore":2.345,"q_median":0.812},"build":{"q_kcore":0.25},""" +
      """"canary":{"q_median":0.812},"sf":"/data/sf0.1"}"""
  }

  test("stage-10 squeeze holds over the live registry's family set") {
    def fam(k: String) = {
      val b = if (k.startsWith("q_")) k.substring(2) else k
      b.takeWhile(_ != '_')
    }
    val real = SparkEntry.queries.keys.toSeq.map(fam).distinct.sorted
    real.size should be > 100
    val out = Bench.familyShortKeys(real)
    out.values.toSeq.distinct.size shouldBe real.size
  }
}
