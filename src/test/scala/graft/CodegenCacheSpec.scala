package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Catalog, TableStore}

/** A warm engine compiles no generated code: the codegen cache
  * ([[GraftSession.CodegenCacheEntries]]) holds the whole working set of
  * a dashboard cycle and of the applicant stream, so repeating either
  * reuses every class. Under an undersized LRU each op evicts the
  * classes the next one needs, and these counts go up. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Classes compiled while `f` runs (one count per compiled class,
    * JVM-wide; the suites of the test JVM run one at a time). */
  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def hint(n: Long, what: String) =
    s"$what compiled $n classes: either the working set outgrew the " +
      "codegen cache (raise GraftSession.CodegenCacheEntries, now " +
      s"${GraftSession.CodegenCacheEntries}) or a repeat generated " +
      "different code (see GraftSession.CodegenCacheConf)"

  test("a repeated pass of registry queries compiles nothing") {
    val sf = "/root/testdata/sf0.001"
    def pass(): Unit = Dashboard.queries.foreach { n =>
      SparkEntry.queries(n)(spark, sf).collect()
      ()
    }
    val first = compiles(pass())
    val repeat = compiles(pass())
    assert(repeat == 0, hint(repeat, s"the repeat pass (first pass: $first)"))
  }

  test("a session with a smaller codegen cache is refused, naming the remedy") {
    GraftSession.requireCodegenCache(spark.conf.get(GraftSession.CodegenCacheKey).toInt)
    val e = intercept[IllegalStateException](GraftSession.requireCodegenCache(100))
    assert(e.getMessage.contains(s"${GraftSession.CodegenCacheKey} to at least " +
      GraftSession.CodegenCacheEntries))
  }

  test("the third applicant micro-batch compiles nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val st = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_codegen").toString)
    st.overwrite("appointments", Catalog.rows(spark, Catalog.appointments,
      Seq((1L, 1L, 100L), (2L, 1L, 101L), (3L, 2L, 100L), (4L, 2L, 101L)).map {
        case (id, officer, company) => Map("id" -> id, "officer_id" -> officer,
          "company_id" -> company, "role" -> "director", "is_active" -> true)
      }))
    val companies = Seq(
      (100L, "Thames Gate Developments Limited", true),
      (101L, "Riverbend Homes Ltd", false),
      (102L, "Unrelated Widgets Plc", true))
      .toDF("company_id", "company_name", "has_charges")
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.streaming.ApplicantStream.writer(st,
      mem.toDF().toDF("input_id", "planning_reference", "applicant_name"),
      "input_id", "planning_reference", "applicant_name",
      borough = "camden", companies = companies).start()
    // each batch: a company match, an individual, an invalid row and a
    // duplicate of the company row
    def batch(b: Int): Long = compiles {
      val id = b * 10L
      mem.addData(
        (id + 1, s"TEST/2025/${100 + b}", "Thames Gate Developments Ltd"),
        (id + 2, s"TEST/2025/${200 + b}", "Mr John Smith"),
        (id + 3, "", "Riverbend Homes Limited"),
        (id + 4, s"test/2025/${100 + b}", "THAMES GATE DEVELOPMENTS LTD"))
      q.processAllAvailable()
    }
    try {
      val counts = (1 to 3).map(batch)
      assert(counts(2) == 0, hint(counts(2), s"the third batch (counts $counts)"))
      assert(st.read("applicants").count() == 6)
    } finally q.stop()
  }
}
