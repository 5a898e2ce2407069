package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CacheStore, FuzzyJoin}

class CacheAndFuzzySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ro_ratio matches difflib fixtures") {
    assert(FuzzyJoin.roRatio("abcd", "bcde") == 0.75)
    assert(FuzzyJoin.roRatio("abc", "abc") == 1.0)
    assert(FuzzyJoin.roRatio("abc", "xyz") == 0.0)
    // difflib.SequenceMatcher(None, 'acme building', 'acme buildings ltd').ratio()
    val r = FuzzyJoin.roRatio("acme building", "acme buildings ltd")
    assert(math.abs(r - 2.0 * 13 / 31) < 1e-12)
  }

  test("fuzzy matchNames picks the right tier per noise type") {
    val companies = Seq((1L, "Acme Building 1234"), (2L, "Zenith Homes 9876"))
      .toDF("id", "name")
    val applicants = Seq(
      (10L, "Acme Building 1234"),          // exact
      (11L, "Acme Building 1234 Limited"),  // suffix_normalized
      (12L, "Acmo Building 1234"),          // fuzzy (1 char off)
      (13L, "Totally Unrelated 5555")       // no match
    ).toDF("id", "name")
    val got = FuzzyJoin.matchNames(applicants, companies, "id", "name", "id", "name")
      .select("applicant_id", "company_id", "method")
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((10L, 1L, "exact"), (11L, 1L, "suffix_normalized"),
      (12L, 1L, "fuzzy")))
  }

  test("fuzzy matchNames df-computed stoplist drops ubiquitous block tokens") {
    // every name shares "properties"; the discriminating tokens are unique.
    // Without the stoplist the candidate join is all-pairs (4x2=8);
    // with maxTokenDf=1 "properties" is dropped and only true pairs block.
    val companies = Seq((1L, "Aardvark Properties 1111"), (2L, "Bobcat Properties 2222"))
      .toDF("id", "name")
    val applicants = Seq(
      (10L, "Aardvark Properties 1111"), (11L, "Bobcat Properties 2222 Ltd"),
      (12L, "Cormorant Properties 3333"), (13L, "Dingo Properties 4444"))
      .toDF("id", "name")
    val got = FuzzyJoin.matchNames(applicants, companies, "id", "name",
      "id", "name", maxTokenDf = 1L)
      .select("applicant_id", "company_id", "method")
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((10L, 1L, "exact"), (11L, 2L, "suffix_normalized")))
  }

  test("difflibParity mode scores with the exact SequenceMatcher ratio") {
    val companies = Seq((1L, "Acme Building 1234")).toDF("id", "name")
    val applicants = Seq((10L, "Acmo Building 1234")).toDF("id", "name")
    val got = FuzzyJoin.matchNames(applicants, companies, "id", "name",
      "id", "name", difflibParity = true)
      .select("method", "confidence").as[(String, Double)].collect().head
    assert(got._1 == "fuzzy")
    // confidence must equal roRatio of the suffix-stripped normalized names
    val expected = FuzzyJoin.roRatio("acmo building 1234", "acme building 1234")
    assert(math.abs(got._2 - expected) < 1e-12)
  }

  test("CacheStore: put/get roundtrip, TTL expiry, size eviction") {
    var clock = 1000L
    val dir = java.nio.file.Files.createTempDirectory("graft_cache").toString
    val cache = new CacheStore(spark, dir, ttlMs = 500L, maxEntries = 2,
      now = () => clock)

    val k1 = cache.keyFor(Map("q" -> "Acme", "status" -> "active"))
    assert(k1 == cache.keyFor(Map("status" -> " ACTIVE ", "q" -> "acme"))) // canonicalized
    assert(cache.get(k1).isEmpty)

    cache.put(k1, Seq((1, "a")).toDF("id", "v"))
    assert(cache.get(k1).get.count() == 1)

    clock += 200
    cache.put("k2", Seq((2, "b")).toDF("id", "v"))
    clock += 100
    cache.put("k3", Seq((3, "c")).toDF("id", "v")) // maxEntries=2 → k1 evicted (oldest)
    assert(cache.size() == 2)
    assert(cache.get(k1).isEmpty)
    assert(cache.get("k2").isDefined)
    assert(cache.get("k3").isDefined)

    clock += 450 // k2 (created at 1200, expires 1700) now dead; k3 alive until 1800
    assert(cache.get("k2").isEmpty)
    assert(cache.get("k3").isDefined)
  }

  test("CacheStore crash between index stage and marker: the prior index still serves get") {
    val clock = 1000L
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_crash").toString
    val cache = new CacheStore(spark, dir, ttlMs = 500L, maxEntries = 2,
      now = () => clock)
    cache.put("k1", Seq((1, "a")).toDF("id", "v"))
    // CRASH SIM: a put staged its next index (k1 evicted in favour of
    // k2) and died before the marker
    graft.sources.VersionedStore.stageVersion(spark, s"$dir/_index",
      Seq(("k2", clock, clock + 500L)).toDF("cache_key", "created_ms", "expiry_ms"))
    assert(cache.get("k1").map(_.count()).contains(1L),
      "the committed index must keep serving")
    assert(cache.get("k2").isEmpty, "an uncommitted index entry must not serve")
    assert(cache.size() == 1)
    // the next put commits over the orphan
    cache.put("k3", Seq((3, "c")).toDF("id", "v"))
    assert(cache.get("k1").isDefined && cache.get("k3").isDefined)
    assert(cache.size() == 2)
  }
}
