package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Catalog, TableStore}

/** The 16-table domain catalog (SURVEY §1.4) and its parquet TableStore:
  * schema round-trips, and every M1-M6 merge running on the table's REAL
  * business key, not a TPC-H stand-in. */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Files the query ACTUALLY read, from the executed scan's own
    * numFiles metric — the ground truth the skipping claims must meet
    * (round-11 verdict #7: assert files-read via scan metrics, not
    * just row equality with the planner's kept list). */
  private def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  private def freshStore(): TableStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString
    new TableStore(spark, dir)
  }

  private def mk(td: Catalog.TableDef, maps: Map[String, Any]*) =
    Catalog.rows(spark, td, maps)

  test("catalog registers all 16 tables with their business keys") {
    assert(Catalog.all.size == 16)
    assert(Catalog.byName("planning_applications").businessKey ==
      Seq("borough", "reference"))
    assert(Catalog.byName("companies").businessKey == Seq("company_number"))
    assert(Catalog.byName("officers").businessKey == Seq("ch_officer_id"))
    assert(Catalog.byName("appointments").businessKey ==
      Seq("officer_id", "company_id", "role", "appointed_date"))
    assert(Catalog.byName("applicant_company_matches").businessKey ==
      Seq("applicant_id", "company_id"))
    assert(Catalog.byName("enrichment_data").businessKey ==
      Seq("company_id", "provider"))
    assert(Catalog.byName("shared_officer_edges").businessKey ==
      Seq("company_a_id", "company_b_id"))
    assert(Catalog.byName("automation_config").businessKey == Seq("config_key"))
    assert(Catalog.byName("automation_schedules").businessKey == Seq("job_id"))
  }

  test("createIfNotExists + read round-trips every schema") {
    val store = freshStore()
    Catalog.all.foreach { td =>
      store.createIfNotExists(td.name)
      val got = store.read(td.name)
      assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        td.schema.fields.map(f => (f.name, f.dataType)).toSeq, td.name)
      assert(got.count() == 0)
    }
  }

  test("M1: planning application upsert on (borough, reference)") {
    val store = freshStore()
    val td = Catalog.planningApplications
    store.overwrite(td.name, mk(td,
      Map("id" -> 1L, "borough" -> "camden", "reference" -> "24/001", "status" -> "pending")))
    store.upsert(td.name, mk(td,
      Map("id" -> 9L, "borough" -> "camden", "reference" -> "24/001", "status" -> "approved"),
      Map("id" -> 2L, "borough" -> "hackney", "reference" -> "24/001", "status" -> "pending")))
    val got = store.read(td.name).select("borough", "reference", "status")
      .as[(String, String, String)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING)).collect().toSet
    assert(got == Set(("camden", "24/001", "approved"),
      ("hackney", "24/001", "pending")))
  }

  test("M2: company upsert on company_number") {
    val store = freshStore()
    val td = Catalog.companies
    store.overwrite(td.name, mk(td,
      Map("id" -> 1L, "company_number" -> "01234567", "company_status" -> "active")))
    store.upsert(td.name, mk(td,
      Map("id" -> 1L, "company_number" -> "01234567", "company_status" -> "dissolved")))
    val got = store.read(td.name)
    assert(got.count() == 1)
    assert(got.select("company_status").head().getString(0) == "dissolved")
  }

  test("M3: officer upsert on ch_officer_id") {
    val store = freshStore()
    val td = Catalog.officers
    store.overwrite(td.name, mk(td,
      Map("id" -> 1L, "ch_officer_id" -> "OFF1", "name" -> "JANE DOE")))
    store.upsert(td.name, mk(td,
      Map("id" -> 1L, "ch_officer_id" -> "OFF1", "name" -> "JANE A DOE"),
      Map("id" -> 2L, "ch_officer_id" -> "OFF2", "name" -> "SAM ROE")))
    val got = store.read(td.name).select("ch_officer_id", "name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("OFF1", "JANE A DOE"), ("OFF2", "SAM ROE")))
  }

  test("M4: appointment upsert on its 4-column unique index") {
    val store = freshStore()
    val td = Catalog.appointments
    val t0 = Timestamp.valueOf("2020-01-01 00:00:00")
    store.overwrite(td.name, mk(td,
      Map("id" -> 1L, "officer_id" -> 10L, "company_id" -> 20L,
        "role" -> "director", "appointed_date" -> t0, "is_active" -> true)))
    // same officer+company+date, different role => a NEW appointment
    store.upsert(td.name, mk(td,
      Map("id" -> 2L, "officer_id" -> 10L, "company_id" -> 20L,
        "role" -> "secretary", "appointed_date" -> t0, "is_active" -> true),
      Map("id" -> 3L, "officer_id" -> 10L, "company_id" -> 20L,
        "role" -> "director", "appointed_date" -> t0, "is_active" -> false)))
    val got = store.read(td.name).select("role", "is_active")
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(got == Set(("director", false), ("secretary", true)))
  }

  test("M5: enrichment check-then-insert keeps the existing row") {
    val store = freshStore()
    val td = Catalog.enrichmentData
    store.overwrite(td.name, mk(td,
      Map("id" -> 1L, "company_id" -> 5L, "provider" -> "hunter",
        "enrichment_data" -> """{"v":1}""")))
    store.insertIfAbsent(td.name, mk(td,
      Map("id" -> 2L, "company_id" -> 5L, "provider" -> "hunter",
        "enrichment_data" -> """{"v":2}"""),
      Map("id" -> 3L, "company_id" -> 5L, "provider" -> "clearbit",
        "enrichment_data" -> """{"v":3}""")))
    val got = store.read(td.name).select("provider", "enrichment_data")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("hunter", """{"v":1}"""), ("clearbit", """{"v":3}""")))
  }

  test("M6: match upsert on (applicant_id, company_id)") {
    val store = freshStore()
    val td = Catalog.applicantCompanyMatches
    store.overwrite(td.name, mk(td,
      Map("id" -> 1L, "applicant_id" -> 7L, "company_id" -> 8L,
        "match_method" -> "fuzzy_name", "confidence_score" -> 0.72)))
    store.upsert(td.name, mk(td,
      Map("id" -> 1L, "applicant_id" -> 7L, "company_id" -> 8L,
        "match_method" -> "exact_name", "confidence_score" -> 1.0)))
    val got = store.read(td.name)
    assert(got.count() == 1)
    assert(got.select("match_method").head().getString(0) == "exact_name")
  }

  test("keyViolations flags duplicate business keys") {
    val store = freshStore()
    val td = Catalog.companies
    store.overwrite(td.name, mk(td,
      Map("id" -> 1L, "company_number" -> "X1"),
      Map("id" -> 2L, "company_number" -> "X1"),
      Map("id" -> 3L, "company_number" -> "X2")))
    val bad = store.keyViolations(td.name).collect()
    assert(bad.length == 1 && bad(0).getString(0) == "X1")
  }

  test("M8 partitioned overwrite replaces only the touched partitions") {
    val store = freshStore()
    val td = Catalog.planningApplications
    store.overwritePartitions(td.name, mk(td,
      Map("id" -> 1L, "borough" -> "camden", "reference" -> "A/1", "status" -> "old"),
      Map("id" -> 2L, "borough" -> "hackney", "reference" -> "B/1", "status" -> "old")),
      Seq("borough"))
    // re-harvest ONLY hackney: camden's partition must be untouched
    store.overwritePartitions(td.name, mk(td,
      Map("id" -> 3L, "borough" -> "hackney", "reference" -> "B/1", "status" -> "new"),
      Map("id" -> 4L, "borough" -> "hackney", "reference" -> "B/2", "status" -> "new")),
      Seq("borough"))
    val got = store.readPartitioned(td.name)
      .select("borough", "reference", "status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("camden", "A/1", "old"),
      ("hackney", "B/1", "new"), ("hackney", "B/2", "new")))

    // partition pruning: a borough predicate becomes a PartitionFilter,
    // not a data filter — only that directory is scanned
    val p = store.readPartitioned(td.name)
      .filter(org.apache.spark.sql.functions.col("borough") === "camden")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && "borough#\\d+ = camden".r
      .findFirstIn(p).isDefined, p)
  }

  test("compact collapses accreted small files without changing content") {
    val store = freshStore()
    val td = Catalog.companies
    val rows = (1L to 64L).map(i =>
      Map[String, Any]("id" -> i, "company_number" -> f"$i%08d"))
    // simulate many tiny upsert-accreted files
    store.overwrite(td.name, Catalog.rows(spark, td, rows).repartition(32))
    val (before, after) = store.compact(td.name)
    assert(before >= 16 && after == 1, s"$before -> $after")
    val got = store.read(td.name).select("company_number")
      .collect().map(_.getString(0)).toSet
    assert(got == (1L to 64L).map(i => f"$i%08d").toSet)
  }

  test("a held writer lock makes mutators fail fast, and locks don't leak") {
    val store = freshStore()
    val td = Catalog.companies
    store.overwrite(td.name, mk(td, Map("id" -> 1L, "company_number" -> "X1")))
    // simulate a concurrent writer holding the lock
    val lockPath = new java.io.File(new java.net.URI(
      "file://" + store.path(td.name) + "/__lock").getPath)
    assert(lockPath.createNewFile())
    intercept[IllegalStateException] {
      store.upsert(td.name, mk(td, Map("id" -> 2L, "company_number" -> "X2")))
    }
    assert(lockPath.delete())
    store.upsert(td.name, mk(td, Map("id" -> 2L, "company_number" -> "X2")))
    assert(store.read(td.name).count() == 2)
    assert(!lockPath.exists(), "lock must be released after the write")
  }

  test("TableStore crash between stage and marker: the previous version serves, a retry heals") {
    import graft.sources.VersionedStore
    val store = freshStore()
    val td = Catalog.companies
    def numbers() = store.read(td.name).select("company_number")
      .collect().map(_.getString(0)).toSet
    store.overwrite(td.name, mk(td, Map("id" -> 1L, "company_number" -> "X1")))
    // CRASH SIM: the upsert's next snapshot stages in full, the marker
    // create never happens — readers must keep serving the old version
    val staged = VersionedStore.stageVersion(spark, store.path(td.name),
      mk(td, Map("id" -> 1L, "company_number" -> "X1"),
        Map("id" -> 2L, "company_number" -> "X2")))
    assert(numbers() == Set("X1"), "an uncommitted stage must not serve")
    assert(store.exists(td.name))
    // the retry re-derives the same version from the markers and
    // overwrites the orphan
    store.upsert(td.name, mk(td, Map("id" -> 3L, "company_number" -> "X3")))
    assert(VersionedStore.latest(spark, store.path(td.name)).contains(staged))
    assert(numbers() == Set("X1", "X3"), "the retry must commit its own rows")
    assert(store.keyViolations(td.name).count() == 0)
    // retention keeps exactly the committed version and the one before
    assert(VersionedStore.versions(spark, store.path(td.name)) ==
      Seq(staged - 1, staged))
  }

  test("TableStore: a read racing a writer never finds the table missing") {
    val store = freshStore()
    val td = Catalog.companies
    def rows(n: Long) = mk(td, (1L to n).map(i =>
      Map[String, Any]("id" -> i, "company_number" -> f"$i%08d")): _*)
    store.overwrite(td.name, rows(3L))
    @volatile var writing = true
    @volatile var writeErr: Throwable = null
    val writer = new Thread(() => {
      try (0 until 6).foreach { i =>
        store.overwrite(td.name, rows(if (i % 2 == 0) 5L else 3L))
        Thread.sleep(100)
      } catch { case t: Throwable => writeErr = t }
      finally writing = false
    })
    writer.start()
    val seen = scala.collection.mutable.Set[Long]()
    var reads = 0
    while (writing) { seen += store.read(td.name).count(); reads += 1 }
    writer.join()
    assert(writeErr == null, s"writer failed: $writeErr")
    assert(reads > 0)
    assert(seen.subsetOf(Set(3L, 5L)),
      s"a racing read saw a missing or partial table: $seen")
  }

  test("overwrite rejects a frame missing catalog columns") {
    val store = freshStore()
    import spark.implicits._
    val wrong = Seq((1L, "X1")).toDF("id", "company_number")
    intercept[Exception] { store.overwrite("companies", wrong) }
  }

  test("VersionedStore: time travel, crash-invisible staging, retention") {
    import graft.sources.VersionedStore
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ver").toString
    assert(VersionedStore.versions(spark, base).isEmpty)
    val v0 = VersionedStore.commit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val v1 = VersionedStore.commit(spark, base, Seq((1L, "a2"), (3L, "c")).toDF("k", "s"))
    assert((v0, v1) == (0L, 1L))
    // time travel: v0 unchanged after v1's commit
    assert(VersionedStore.read(spark, base, 0L).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(VersionedStore.readLatest(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (3L, "c")))
    // crash sim: a fully staged directory WITHOUT its marker is invisible
    Seq((9L, "zz")).toDF("k", "s").write.parquet(VersionedStore.verDir(base, 2L))
    assert(VersionedStore.latest(spark, base).contains(1L))
    intercept[Exception] { VersionedStore.read(spark, base, 2L) }
    // retention: markers and data of dropped versions go; survivors serve
    VersionedStore.retainFrom(spark, base, 1L)
    assert(VersionedStore.versions(spark, base) == Seq(1L))
    intercept[Exception] { VersionedStore.read(spark, base, 0L) }
    assert(VersionedStore.readLatest(spark, base).count() == 2)
    // the diff between two surviving reads is the CDC view (m13's other half)
    val again = VersionedStore.commit(spark, base, Seq((1L, "a3")).toDF("k", "s"))
    assert(again == 2L, "commit after a crash-orphaned staging dir reuses its slot")
    val diff = graft.operators.Merge.snapshotDiff(
      VersionedStore.read(spark, base, 1L), VersionedStore.read(spark, base, 2L),
      Seq("k"), Seq("s"))
    assert(diff.count() == 2) // k=1 updated, k=3 deleted
  }

  test("VersionedStore.optimize: content-identical compaction as a new version") {
    import graft.sources.VersionedStore
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_opt").toString
    val rows = (1L to 500L).map(i => (i, s"row_$i"))
    VersionedStore.commit(spark, base,
      rows.toDF("k", "s").repartition(32), extras = Map("_batch" -> "b7"))
    assert(VersionedStore.fileStats(spark, base, 0L)._1 == 32)
    // compaction: new version, fewer files, identical content, extra carried
    val nv = VersionedStore.optimize(spark, base, targetBytes = 1L << 30)
    assert(nv.contains(1L))
    assert(VersionedStore.fileStats(spark, base, 1L)._1 == 1)
    assert(VersionedStore.read(spark, base, 1L)
      .as[(Long, String)].collect().toSet == rows.toSet)
    assert(VersionedStore.readExtra(spark, base, 1L, "_batch").contains("b7"))
    assert(VersionedStore.readExtra(spark, base, 1L, "_optimized_from")
      .contains("0"))
    // time travel: the pre-compaction snapshot still serves, 32 files intact
    assert(VersionedStore.fileStats(spark, base, 0L)._1 == 32)
    assert(VersionedStore.read(spark, base, 0L).count() == 500)
    // already compact → no pointless rewrite, no new version
    assert(VersionedStore.optimize(spark, base, targetBytes = 1L << 30).isEmpty)
    assert(VersionedStore.latest(spark, base).contains(1L))
    // clusterBy always rewrites: range-partitioned + sorted layout
    val cv = VersionedStore.optimize(spark, base, targetBytes = 1L << 30,
      clusterBy = Seq("k"))
    assert(cv.contains(2L))
    val clustered = VersionedStore.read(spark, base, 2L)
    assert(clustered.as[(Long, String)].collect().toSet == rows.toSet)
    // sortWithinPartitions on k: rows come back ordered within the file
    assert(clustered.select("k").as[Long].collect().toSeq == (1L to 500L))
    // a second writer holding the lock makes optimize fail fast
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.createNewFile(new org.apache.hadoop.fs.Path(s"$base/__lock"))
    intercept[IllegalStateException] {
      VersionedStore.optimize(spark, base, clusterBy = Seq("k"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/__lock"), false)
  }

  test("VersionedStore zone maps: skipping scan == full filter, files pruned") {
    import graft.sources.VersionedStore
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_zm").toString
    // k range-partitioned into 8 files → tight per-file key ranges;
    // v is NULL for k <= 300, so low-k files are ALL-null on v
    val rows = (1L to 800L).map(i =>
      (i, s"r$i", if (i <= 300L) None else Some(i * 2)))
    VersionedStore.commitWithStats(spark, base,
      rows.toDF("k", "s", "v").repartitionByRange(8, org.apache.spark.sql.functions.col("k")),
      statsCols = Seq("k", "v"))
    val zm = VersionedStore.zoneMap(spark, base, 0L)
    assert(zm.count() == 8)
    assert(zm.columns.toSet ==
      Set("file", "min_k", "max_k", "nonnull_k", "min_v", "max_v", "nonnull_v"))
    // narrow key range → most files pruned
    val (kept, total) = VersionedStore.filesInRange(spark, base, 0L, "k", 150L, 250L)
    assert(total == 8 && kept.nonEmpty && kept.size <= 2,
      s"expected <=2 of 8 files for a 100-key range, kept ${kept.size}")
    // skipping scan is row-identical to the full filtered scan
    val skipped = VersionedStore.readSkipping(spark, base, 0L, "k", 150L, 250L)
      .as[(Long, String, Option[Long])].collect().toSet
    assert(skipped == rows.filter(r => r._1 >= 150L && r._1 <= 250L).toSet)
    // all-null files are skipped on the nullable column: a v-range that
    // only non-null rows can satisfy never reads the k<=300 files
    val (keptV, _) = VersionedStore.filesInRange(spark, base, 0L, "v", 700L, 900L)
    assert(keptV.size < 8, "all-null-v files must be pruned")
    val viaV = VersionedStore.readSkipping(spark, base, 0L, "v", 700L, 900L)
      .select("k").as[Long].collect().toSet
    assert(viaV == (350L to 450L).toSet)
    // the SCAN ITSELF read only the kept files — numFiles is the
    // executed FileSourceScan's own metric, not the planner's claim
    assert(filesRead(VersionedStore.readSkipping(
      spark, base, 0L, "k", 150L, 250L)) == kept.size)
    assert(filesRead(VersionedStore.read(spark, base, 0L)) == 8L)
    // a range beyond every file returns empty with the snapshot schema
    val none = VersionedStore.readSkipping(spark, base, 0L, "k", 5000L, 6000L)
    assert(none.columns.toSeq == Seq("k", "s", "v") && none.count() == 0)
    assert(filesRead(none) == 0L)
    // the zone map is invisible to ordinary snapshot readers
    assert(VersionedStore.read(spark, base, 0L).count() == 800)
    assert(VersionedStore.fileStats(spark, base, 0L)._1 == 8)
  }

  test("VersionedStore bloom skipping: point probe prunes files, never rows") {
    import graft.sources.VersionedStore
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val rows = (1L to 2000L).map(i => (i, s"r$i"))
    VersionedStore.commitWithStats(spark, base,
      rows.toDF("k", "s").repartition(8, org.apache.spark.sql.functions.col("k")),
      statsCols = Seq("k"), bloomCols = Seq("k"))
    // hash-partitioned: every file spans ~the whole key range, so the
    // ZONE MAP cannot prune a point probe...
    val (zmKept, zmTotal) = VersionedStore.filesInRange(spark, base, 0L, "k", 777L, 777L)
    assert(zmTotal == 8 && zmKept.size == 8,
      "hash layout defeats min/max pruning — that's the bloom's job")
    // ...but the bloom prunes to the owning file + false positives
    val (kept, total) = VersionedStore.filesMaybeContaining(spark, base, 0L, "k", 777L)
    assert(total == 8 && kept.nonEmpty && kept.size < 8,
      s"bloom should prune (kept ${kept.size} of 8)")
    assert(VersionedStore.readPoint(spark, base, 0L, "k", 777L)
      .as[(Long, String)].collect().toSeq == Seq((777L, "r777")))
    // the executed point-probe scan touched exactly the bloom's kept
    // files (metric, not planner claim); the full read touches all 8
    assert(filesRead(VersionedStore.readPoint(
      spark, base, 0L, "k", 777L)) == kept.size)
    assert(filesRead(VersionedStore.read(spark, base, 0L)) == 8L)
    // never a false negative: every present key is found
    (1L to 50L).foreach { key =>
      assert(VersionedStore.readPoint(spark, base, 0L, "k", key).count() == 1,
        s"bloom false negative on present key $key")
    }
    // an absent key returns zero rows even when a false positive keeps files
    assert(VersionedStore.readPoint(spark, base, 0L, "k", 999999L).count() == 0)
    // OPTIMIZE re-derives BOTH skipping tables for the rewritten layout
    // (clusterBy k: the new files are range-clustered, so now the ZONE
    // MAP prunes the point probe too)
    val nv = VersionedStore.optimize(spark, base, targetBytes = 4096L,
      clusterBy = Seq("k"))
    assert(nv.contains(1L))
    assert(VersionedStore.readPoint(spark, base, 1L, "k", 777L)
      .as[(Long, String)].collect().toSeq == Seq((777L, "r777")))
    val (zmKept2, zmTotal2) =
      VersionedStore.filesInRange(spark, base, 1L, "k", 777L, 777L)
    assert(zmTotal2 > 1 && zmKept2.size == 1,
      s"clustered layout must zone-prune to 1 file, kept ${zmKept2.size} of $zmTotal2")
    assert(VersionedStore.readSkipping(spark, base, 1L, "k", 150L, 250L)
      .count() == 101)
  }

  test("VersionedStore.changesBetween: CDC from stored snapshots") {
    import graft.sources.VersionedStore
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    VersionedStore.commit(spark, base,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))
    VersionedStore.commit(spark, base,
      Seq((1L, "a2"), (3L, "c"), (4L, "d")).toDF("k", "s"))
    val feed = VersionedStore.changesBetween(spark, base, 0L, 1L,
      Seq("k"), Seq("s")).orderBy("k")
      .select("k", "change").as[(Long, String)].collect().toSeq
    // k=1 changed, k=2 removed, k=4 added; unchanged k=3 dropped
    assert(feed == Seq((1L, "changed"), (2L, "removed"), (4L, "added")))
    // history: one row per version with file stats; no optimize lineage
    val h = VersionedStore.history(spark, base)
      .select("version", "optimized_from")
      .as[(Long, Option[Long])].collect().toSeq
    assert(h == Seq((0L, None), (1L, None)))
    // optimize on a multi-table store fails with the layout message
    val mbase = java.nio.file.Files.createTempDirectory("graft_multi").toString
    VersionedStore.commitAll(spark, mbase,
      Seq(("a", Seq((1L, "x")).toDF("k", "s"))))
    val err = intercept[IllegalArgumentException] {
      VersionedStore.optimize(spark, mbase)
    }
    assert(err.getMessage.contains("single-table layout"))
  }
}
