package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ApplicantPipeline
import graft.sources.{Catalog, TableStore}

/** Store-wired applicant pipeline: one job performing every side effect
  * the reference pipeline does (webhook_handler.py:133-212,
  * applicant_pipeline.py:43-131) against real catalog tables — and doing
  * it idempotently on re-run, which the reference gets from unique
  * indexes + first() checks. */
class PipelineE2ESpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def raw = Seq[(Long, String, String)](
    (1L, null, "Test Company Ltd"),
    (2L, "", "Whoever"),
    (3L, "TEST/2025/006", ""),
    (4L, "TEST/2025/007", "Thames Gate Developments Ltd"),
    (5L, "test/2025/007", "THAMES GATE DEVELOPMENTS LTD"),
    (6L, "TEST/2025/008", "Mr John Smith"),
    (7L, "TEST/2025/009", "Riverbend Homes Limited"))
    .toDF("input_id", "planning_reference", "applicant_name")

  private def companies = Seq(
    (100L, "Thames Gate Developments Limited", true),
    (101L, "Riverbend Homes Ltd", false),
    (102L, "Unrelated Widgets Plc", true))
    .toDF("company_id", "company_name", "has_charges")

  private def store(): TableStore = {
    val st = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_e2e").toString)
    // officer network source: officers 1,2 share companies 100/101
    st.overwrite("appointments", Catalog.rows(spark, Catalog.appointments, Seq(
      Map("id" -> 1L, "officer_id" -> 1L, "company_id" -> 100L,
        "role" -> "director", "is_active" -> true),
      Map("id" -> 2L, "officer_id" -> 1L, "company_id" -> 101L,
        "role" -> "director", "is_active" -> true),
      Map("id" -> 3L, "officer_id" -> 2L, "company_id" -> 100L,
        "role" -> "secretary", "is_active" -> true),
      Map("id" -> 4L, "officer_id" -> 2L, "company_id" -> 101L,
        "role" -> "secretary", "is_active" -> true))))
    st
  }

  test("T6: streaming twin drains micro-batches into the same tables") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val st = store()
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF()
      .toDF("input_id", "planning_reference", "applicant_name")
    val q = graft.streaming.ApplicantStream.writer(st, stream,
      "input_id", "planning_reference", "applicant_name",
      borough = "camden", companies = companies).start()
    try {
      mem.addData((1L, "TEST/2025/007", "Thames Gate Developments Ltd"),
        (2L, "TEST/2025/008", "Mr John Smith"))
      q.processAllAvailable()
      assert(st.read("applicants").count() == 2)
      // batch 2: a webhook REDELIVERY of row 1 plus one new applicant
      mem.addData((3L, "test/2025/007", "THAMES GATE DEVELOPMENTS LTD"),
        (4L, "TEST/2025/009", "Riverbend Homes Limited"))
      q.processAllAvailable()
      assert(st.read("applicants").count() == 3,
        "redelivered applicant must not duplicate across micro-batches")
      assert(st.read("planning_applications").count() == 3)
      val m = st.read("applicant_company_matches")
        .select("company_id").collect().map(_.getLong(0)).toSet
      assert(m == Set(100L, 101L))
      assert(st.keyViolations("applicant_company_matches").count() == 0)
    } finally q.stop()
  }

  test("T6 file stream + checkpoint: end-state equals the batch run; restart and redelivery are no-ops") {
    // The reference's webhook path (webhook_handler.py:92-124) feeds the
    // SAME pipeline the batch endpoint uses; here the full 7-row fixture
    // arrives as files, split across micro-batches, with a checkpoint —
    // and the persisted end-state must be indistinguishable from one
    // batch runWithStore.
    val stBatch = store()
    ApplicantPipeline.runWithStore(stBatch, raw,
      "input_id", "planning_reference", "applicant_name",
      borough = "camden", companies = companies)

    val dir = java.nio.file.Files.createTempDirectory("graft_stream_e2e").toString
    val srcDir = s"$dir/in"; val ckpt = s"$dir/ckpt"
    new java.io.File(srcDir).mkdirs()
    val stStream = store()
    def start() = graft.streaming.ApplicantStream.writer(stStream,
        spark.readStream.schema(raw.schema).json(srcDir),
        "input_id", "planning_reference", "applicant_name",
        borough = "camden", companies = companies)
      .option("checkpointLocation", ckpt).start()

    // two files: the duplicate pair (rows 4/5) lands SPLIT across them,
    // so dedup must work cross-micro-batch through the store, not just
    // inside one batch
    raw.filter(col("input_id") <= 4).coalesce(1).write.mode("append").json(srcDir)
    raw.filter(col("input_id") > 4).coalesce(1).write.mode("append").json(srcDir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    def snap(st: TableStore) = Map(
      "pa" -> st.read("planning_applications")
        .select("id", "borough", "reference")
        .collect().map(_.toSeq).toSet,
      "app" -> st.read("applicants")
        .select("id", "planning_application_id", "raw_name",
          "normalized_name", "applicant_type")
        .collect().map(_.toSeq).toSet,
      "match" -> st.read("applicant_company_matches")
        .select("applicant_id", "company_id", "match_method",
          "confidence_score")
        .collect().map(_.toSeq).toSet,
      "enrich" -> st.read("enrichment_data")
        .select("company_id", "provider", "enrichment_data")
        .collect().map(_.toSeq).toSet,
      "edges" -> st.read("shared_officer_edges")
        .select("company_a_id", "company_b_id", "shared_officer_count")
        .collect().map(_.toSeq).toSet)
    val batchState = snap(stBatch)
    assert(snap(stStream) == batchState,
      "streaming end-state must equal the batch run's")

    // restart from the checkpoint with nothing new: a pure no-op
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(snap(stStream) == batchState)

    // webhook REDELIVERY: the identical rows arrive again as a new file;
    // every persist step is a business-key merge, so replay changes
    // nothing — no duplicate applicants, no dangling match rows
    raw.coalesce(1).write.mode("append").json(srcDir)
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(snap(stStream) == batchState)
    assert(stStream.keyViolations("planning_applications").count() == 0)
    assert(stStream.keyViolations("applicant_company_matches").count() == 0)
  }

  test("officer edges rebuild only when appointments changed") {
    val st = store()
    def runBatch() = ApplicantPipeline.runWithStore(st, raw,
      "input_id", "planning_reference", "applicant_name",
      borough = "camden", companies = companies)
    // every file under the edge table with its size and modification time
    def edgeFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(st.path("shared_officer_edges")))
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}").toSet
    }
    def edges() = st.read("shared_officer_edges")
      .select("company_a_id", "company_b_id", "shared_officer_count")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    runBatch()
    val built = edgeFiles()
    assert(edges() == Set((100L, 101L, 2)))

    // unchanged appointments: the edge table is not rewritten
    runBatch()
    assert(edgeFiles() == built, "unchanged appointments must not rewrite the edges")

    // officer 3 joins companies 101 and 102: the next run rebuilds
    st.append("appointments", Catalog.rows(spark, Catalog.appointments, Seq(
      Map("id" -> 5L, "officer_id" -> 3L, "company_id" -> 101L,
        "role" -> "director", "is_active" -> true),
      Map("id" -> 6L, "officer_id" -> 3L, "company_id" -> 102L,
        "role" -> "director", "is_active" -> true))))
    runBatch()
    assert(edgeFiles() != built)
    assert(edges() == Set((100L, 101L, 2), (101L, 102L, 1)))
  }

  test("two applicants sharing a reference create ONE planning application") {
    val st = store()
    val shared = Seq[(Long, String, String)](
      (1L, "TEST/2025/020", "Thames Gate Developments Ltd"),
      (2L, "TEST/2025/020", "Riverbend Homes Limited"))
      .toDF("input_id", "planning_reference", "applicant_name")
    ApplicantPipeline.runWithStore(st, shared,
      "input_id", "planning_reference", "applicant_name",
      borough = "camden", companies = companies)
    assert(st.read("planning_applications").count() == 1)
    assert(st.keyViolations("planning_applications").count() == 0)
    val apps = st.read("applicants")
    assert(apps.count() == 2, "both applicants persist under the one application")
    assert(apps.select("planning_application_id").distinct().count() == 1)
  }

  test("pipeline persists validated batch with reference-pinned behaviors") {
    val st = store()
    val out = ApplicantPipeline.runWithStore(st, raw,
      "input_id", "planning_reference", "applicant_name",
      borough = "camden", companies = companies)

    // 7 inputs: 3 validation errors, 1 duplicate, 1 individual, 2 companies
    val stats = out.stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats("total_input") == 7 && stats("validation_errors") == 3 &&
      stats("duplicates_skipped") == 1 && stats("individuals_skipped") == 1 &&
      stats("companies_processed") == 2)

    // individuals are PERSISTED as applicants but never matched
    val apps = st.read("applicants")
    assert(apps.count() == 3)
    assert(apps.filter(col("applicant_type") === "individual").count() == 1)

    // suffix-normalized matches hit the right companies
    val m = st.read("applicant_company_matches")
      .select("company_id", "match_method").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(m == Set((100L, "suffix_normalized"), (101L, "suffix_normalized")))

    // tier rule: charges => Lender tier, no charges => raw-data tier
    val tiers = st.read("enrichment_data")
      .select("company_id", "enrichment_data").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(tiers(100L).contains("Lender (No Contact)"))
    assert(tiers(101L).contains("Sic 41100 (Raw Data)"))

    // officer network rebuilt from appointments: one edge, weight 2
    val edges = st.read("shared_officer_edges")
      .select("company_a_id", "company_b_id", "shared_officer_count")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(edges == Seq((100L, 101L, 2)))

    // re-running the identical batch changes nothing (idempotence)
    ApplicantPipeline.runWithStore(st, raw,
      "input_id", "planning_reference", "applicant_name",
      borough = "camden", companies = companies)
    assert(st.read("applicants").count() == 3)
    assert(st.read("planning_applications").count() == 3)
    assert(st.read("applicant_company_matches").count() == 2)
    assert(st.keyViolations("planning_applications").count() == 0)
    assert(st.keyViolations("applicant_company_matches").count() == 0)
  }
}
