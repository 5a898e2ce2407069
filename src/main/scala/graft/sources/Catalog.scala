package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The 16-table domain catalog (SURVEY.md §1.4; reference models.py:14-459
  * plus the ad-hoc enrichment_spending table, database.py:158-177).
  *
  * Type mapping from the reference's SQLAlchemy/Postgres DDL, chosen for
  * 100 TB parquet rather than row-store fidelity:
  *   - Integer surrogate/foreign keys → LongType (SERIAL caps at 2^31;
  *     a corpus-scale catalog does not).
  *   - DateTime → TimestampType, DATE → DateType.
  *   - Float (latitude, confidence_score) → DoubleType.
  *   - JSON / raw payload columns → StringType (parse-on-demand with
  *     get_json_object/from_json; parquet keeps them compressed and the
  *     scan prunes them unless referenced).
  *   - ARRAY(String) → ArrayType(StringType).
  *   - DECIMAL(10,2) money → DecimalType(10,2) (exact, oracle-stable).
  *
  * `businessKey` is the reference's unique-index registry — the key MERGE
  * operations dedupe/upsert on (models.py:38,78,125,150,187,215,266,289,
  * 383,453). Tables keyed only by their surrogate id have no business key.
  */
object Catalog {

  /** One catalog entry: parquet-backed table name, schema, and the
    * business-unique key its merges run on (empty = surrogate-id only). */
  final case class TableDef(name: String, schema: StructType,
      businessKey: Seq[String]) {
    require(businessKey.forall(schema.fieldNames.contains),
      s"business key of $name must be schema columns")
  }

  private def f(name: String, t: DataType, nullable: Boolean = true) =
    StructField(name, t, nullable)

  private val audit = Seq(f("created_at", TimestampType),
    f("updated_at", TimestampType))

  private def addr(prefix: String = "") = Seq(
    f(s"${prefix}address_line_1", StringType),
    f(s"${prefix}address_line_2", StringType),
    f(s"${prefix}locality", StringType),
    f(s"${prefix}region", StringType),
    f(s"${prefix}postal_code", StringType),
    f(s"${prefix}country", StringType))

  /** models.py:14-46 */
  val planningApplications = TableDef("planning_applications", StructType(
    Seq(f("id", LongType, nullable = false),
      f("borough", StringType, nullable = false),
      f("reference", StringType, nullable = false),
      f("application_type", StringType), f("status", StringType),
      f("decision_date", TimestampType), f("received_date", TimestampType),
      f("start_date", TimestampType), f("description", StringType),
      f("is_outline", BooleanType), f("latitude", DoubleType),
      f("longitude", DoubleType), f("planning_url", StringType),
      f("organisation", StringType), f("raw_data", StringType)) ++ audit),
    Seq("borough", "reference"))

  /** models.py:48-72 */
  val applicants = TableDef("applicants", StructType(
    Seq(f("id", LongType, nullable = false),
      f("planning_application_id", LongType, nullable = false),
      f("raw_name", StringType, nullable = false),
      f("normalized_name", StringType), f("applicant_type", StringType),
      f("contact_email", StringType), f("contact_phone", StringType),
      f("contact_address", StringType)) ++ audit),
    Seq.empty)

  /** models.py:73-118 */
  val companies = TableDef("companies", StructType(
    Seq(f("id", LongType, nullable = false),
      f("company_number", StringType, nullable = false),
      f("company_name", StringType), f("company_status", StringType),
      f("company_type", StringType), f("jurisdiction", StringType),
      f("date_of_creation", TimestampType),
      f("date_of_cessation", TimestampType)) ++ addr() ++
      Seq(f("sic_codes", ArrayType(StringType)),
        f("raw_json", StringType)) ++ audit),
    Seq("company_number"))

  /** models.py:120-158 */
  val officers = TableDef("officers", StructType(
    Seq(f("id", LongType, nullable = false),
      f("ch_officer_id", StringType, nullable = false),
      f("name", StringType, nullable = false),
      f("date_of_birth_month", IntegerType),
      f("date_of_birth_year", IntegerType),
      f("nationality", StringType), f("occupation", StringType)) ++ addr() ++
      Seq(f("raw_json", StringType)) ++ audit),
    Seq("ch_officer_id"))

  /** models.py:160-192 */
  val appointments = TableDef("appointments", StructType(
    Seq(f("id", LongType, nullable = false),
      f("officer_id", LongType, nullable = false),
      f("company_id", LongType, nullable = false),
      f("role", StringType, nullable = false),
      f("appointed_date", TimestampType), f("resigned_date", TimestampType),
      f("is_active", BooleanType, nullable = false),
      f("raw_json", StringType)) ++ audit),
    Seq("officer_id", "company_id", "role", "appointed_date"))

  /** models.py:194-220 */
  val applicantCompanyMatches = TableDef("applicant_company_matches",
    StructType(Seq(f("id", LongType, nullable = false),
      f("applicant_id", LongType, nullable = false),
      f("company_id", LongType, nullable = false),
      f("match_method", StringType, nullable = false),
      f("confidence_score", DoubleType),
      f("verified", BooleanType)) ++ audit),
    Seq("applicant_id", "company_id"))

  /** models.py:222-253 */
  val contacts = TableDef("contacts", StructType(
    Seq(f("id", LongType, nullable = false),
      f("company_id", LongType), f("officer_id", LongType),
      f("applicant_id", LongType),
      f("contact_type", StringType, nullable = false),
      f("contact_value", StringType, nullable = false),
      f("source", StringType), f("verification_status", StringType)) ++ audit),
    Seq.empty)

  /** models.py:255-271 */
  val sharedOfficerEdges = TableDef("shared_officer_edges", StructType(
    Seq(f("id", LongType, nullable = false),
      f("company_a_id", LongType, nullable = false),
      f("company_b_id", LongType, nullable = false),
      f("shared_officer_count", IntegerType),
      f("last_computed", TimestampType))),
    Seq("company_a_id", "company_b_id"))

  /** models.py:273-293 */
  val enrichmentData = TableDef("enrichment_data", StructType(
    Seq(f("id", LongType, nullable = false),
      f("company_id", LongType, nullable = false),
      f("provider", StringType, nullable = false),
      f("enrichment_data", StringType), f("success", BooleanType),
      f("error_message", StringType), f("created_at", TimestampType))),
    Seq("company_id", "provider"))

  /** models.py:295-314 */
  val processingLog = TableDef("processing_log", StructType(
    Seq(f("id", LongType, nullable = false),
      f("company_id", LongType, nullable = false),
      f("action", StringType, nullable = false),
      f("status", StringType, nullable = false),
      f("message", StringType), f("created_at", TimestampType))),
    Seq.empty)

  /** models.py:316-341 */
  val linkedhelperConnections = TableDef("linkedhelper_connections",
    StructType(Seq(f("id", LongType, nullable = false),
      f("full_name", StringType), f("first_name", StringType),
      f("last_name", StringType), f("company", StringType),
      f("position", StringType), f("linkedin_url", StringType),
      f("connection_status", StringType), f("date_connected", TimestampType),
      f("message_sent", StringType), f("replied", StringType),
      f("tags", StringType), f("notes", StringType)) ++ audit),
    Seq.empty)

  /** models.py:343-369 (legacy, kept for migration) */
  val planningData = TableDef("planning_data", StructType(
    Seq(f("id", LongType, nullable = false),
      f("company_id", LongType, nullable = false),
      f("application_type", StringType), f("decision_date", TimestampType),
      f("name", StringType), f("reference", StringType),
      f("description", StringType), f("start_date", TimestampType),
      f("organisation", StringType), f("status", StringType),
      f("point", StringType), f("planning_url", StringType),
      f("last_updated", TimestampType), f("created_at", TimestampType))),
    Seq.empty)

  /** models.py:371-384 */
  val automationConfig = TableDef("automation_config", StructType(
    Seq(f("id", LongType, nullable = false),
      f("config_key", StringType, nullable = false),
      f("config_value", StringType), f("description", StringType)) ++ audit),
    Seq("config_key"))

  /** models.py:386-426 */
  val automationRuns = TableDef("automation_runs", StructType(
    Seq(f("id", LongType, nullable = false),
      f("run_type", StringType, nullable = false),
      f("status", StringType, nullable = false),
      f("started_at", TimestampType), f("completed_at", TimestampType),
      f("duration_seconds", IntegerType),
      f("applications_discovered", IntegerType),
      f("applications_processed", IntegerType),
      f("companies_matched", IntegerType),
      f("companies_enriched", IntegerType),
      f("new_companies_created", IntegerType),
      f("new_officers_created", IntegerType),
      f("contacts_enriched", IntegerType),
      f("error_count", IntegerType), f("error_details", StringType),
      f("boroughs_processed", ArrayType(StringType)),
      f("date_range_start", TimestampType),
      f("date_range_end", TimestampType),
      f("processing_log", StringType), f("created_at", TimestampType))),
    Seq.empty)

  /** models.py:428-459 */
  val automationSchedules = TableDef("automation_schedules", StructType(
    Seq(f("id", LongType, nullable = false),
      f("job_id", StringType, nullable = false),
      f("job_name", StringType, nullable = false),
      f("schedule_type", StringType, nullable = false),
      f("cron_expression", StringType), f("interval_seconds", IntegerType),
      f("is_enabled", BooleanType), f("job_config", StringType),
      f("last_run_id", LongType), f("next_execution", TimestampType)) ++ audit),
    Seq("job_id"))

  /** database.py:158-177 (ad-hoc DDL, not in models.py) */
  val enrichmentSpending = TableDef("enrichment_spending", StructType(
    Seq(f("id", LongType, nullable = false),
      f("date", DateType, nullable = false),
      f("amount", DecimalType(10, 2), nullable = false),
      f("operation_type", StringType, nullable = false),
      f("status", StringType), f("confirmed_at", TimestampType),
      f("created_at", TimestampType))),
    Seq.empty)

  val all: Seq[TableDef] = Seq(planningApplications, applicants, companies,
    officers, appointments, applicantCompanyMatches, contacts,
    sharedOfficerEdges, enrichmentData, processingLog,
    linkedhelperConnections, planningData, automationConfig, automationRuns,
    automationSchedules, enrichmentSpending)

  val byName: Map[String, TableDef] = all.map(t => t.name -> t).toMap

  /** Project a frame onto a catalog schema: present columns are cast to
    * the catalog type, absent ones become typed nulls — the adapter every
    * ingestion path uses to write catalog-shaped rows. */
  def conform(df: DataFrame, td: TableDef): DataFrame =
    df.select(td.schema.fields.toIndexedSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** Build rows for a catalog table from partial column maps (absent
    * columns → null) — ingestion adapters and tests share this so they
    * can't drift from the schema. */
  def rows(spark: SparkSession, td: TableDef,
      maps: Seq[Map[String, Any]]): DataFrame = {
    val unknown = maps.flatMap(_.keys).distinct.filterNot(td.schema.fieldNames.contains)
    require(unknown.isEmpty, s"not columns of ${td.name}: ${unknown.mkString(",")}")
    val rs = maps.map(m => org.apache.spark.sql.Row.fromSeq(
      td.schema.fields.toSeq.map(f => m.getOrElse(f.name, null))))
    spark.createDataFrame(spark.sparkContext.parallelize(rs), td.schema)
  }
}

/** Parquet-backed table store over the catalog: the reference's Postgres
  * CRUD surface (database.py) re-expressed as read → relational merge →
  * commit. One writer per table (SURVEY §7.4.2 — the reference
  * serializes via row locks + max_instances=1; we keep the same
  * discipline at the job level).
  *
  * Storage: each table is a [[VersionedStore]] under `root/<name>`.
  * overwrite, upsert, insertIfAbsent and compact stage the next full
  * snapshot `v_N` and publish it with one marker create under the
  * table's writer lease ([[VersionedStore.publish]]), then keep the
  * version before it and drop the older ones: a reader that resolved
  * the previous version while the writer committed still finds its
  * files. A crash before the marker leaves the previous version
  * serving, and the retry re-stages N over the orphan. `read` resolves
  * the latest marker with one listing. [[append]] and
  * [[overwritePartitions]] write in place (see each).
  *
  * File count: a merge writes base ∪ delta with no repartition, so left
  * alone each commit kept the previous version's files and added the
  * batch's, and every file under Spark's open cost is a scan task of its
  * own. upsert and insertIfAbsent therefore coalesce the snapshot, with
  * no shuffle and no extra job, to one file per
  * [[TableStore.TargetFileBytes]] (the engine session's input split) of
  * the previous version's data, which keeps one scan task per split.
  * append coalesces its batch to that count of the live version and,
  * before writing, folds the live version to it once it holds
  * [[TableStore.MaxLiveFiles]] files more. overwrite keeps the caller's
  * layout.
  *
  * Scale: merges shuffle once on the business key; a commit rewrites
  * the table (partition-level overwrite is the M8 path for derived
  * tables). The file count of a merge or an append follows the table's
  * size before it, and coalesce narrows the stages before it too, so a
  * batch far larger than its table (a bulk load) is computed and written
  * by few tasks; load one with overwrite, then merge. All paths go
  * through the Hadoop FS API, so `root` may be any supported filesystem,
  * not just local disk. */
final class TableStore(spark: SparkSession, root: String) {
  import graft.operators.Merge

  private def defOf(name: String): Catalog.TableDef =
    Catalog.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown catalog table: $name"))

  def path(name: String): String = s"$root/${defOf(name).name}"

  /** True once the table has a committed version. */
  def exists(name: String): Boolean =
    VersionedStore.latest(spark, path(name)).isDefined

  /** CREATE TABLE IF NOT EXISTS — commit an empty snapshot with the
    * catalog schema so downstream reads/merges see the right columns. */
  def createIfNotExists(name: String): Unit = { live(name); () }

  /** The latest committed version, committing an empty one first when
    * the table has none. */
  private def live(name: String): Long =
    VersionedStore.latest(spark, path(name)).getOrElse(commit(name)(identity))

  def read(name: String): DataFrame = readAt(name, live(name))

  private def readAt(name: String, v: Long): DataFrame =
    spark.read.schema(defOf(name).schema)
      .parquet(VersionedStore.verDir(path(name), v))

  /** Project onto the catalog columns and check their types (nullability
    * is advisory in parquet) — BEFORE any write, so a mistyped frame
    * never poisons the table for the next pinned read. */
  private def checked(d: Catalog.TableDef, df: DataFrame,
      verb: String): DataFrame = {
    val got = df.select(d.schema.fieldNames.map(col).toIndexedSeq: _*)
    require(got.schema.fields.map(x => (x.name, x.dataType)).sameElements(
      d.schema.fields.map(x => (x.name, x.dataType))),
      s"schema mismatch $verb ${d.name}: ${got.schema.simpleString} vs ${d.schema.simpleString}")
    got
  }

  /** Commit `next(previous)` as the table's next version — the previous
    * snapshot is read under the same lease hold (the empty table before
    * the first commit) — then drop every version before the previous
    * one. `sized` coalesces the snapshot to the [[fileCount]] of the
    * previous version's bytes (none before the first commit). Returns
    * the committed version. */
  private def commit(name: String, sized: Boolean = false)(
      next: DataFrame => DataFrame): Long = {
    val base = path(name)
    val v = VersionedStore.withWriterLock(spark, base)(
      commitLocked(name, sized)(next))
    VersionedStore.retainFrom(spark, base, v - 1)
    v
  }

  /** [[commit]]'s publish alone, for a caller that holds the table's
    * writer lease. */
  private def commitLocked(name: String, sized: Boolean = false)(
      next: DataFrame => DataFrame): Long = {
    val d = defOf(name)
    val base = path(name)
    VersionedStore.publishLocked(spark, base) { v =>
      val prev = if (v == 0) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], d.schema)
        else readAt(name, v - 1)
      val snap = checked(d, next(prev), "writing")
      VersionedStore.writeSnapshot(spark, VersionedStore.verDir(base, v),
        if (!sized) snap
        else snap.coalesce(fileCount(
          if (v == 0) 0L else VersionedStore.fileStats(spark, base, v - 1)._2)))
    }
  }

  /** Schema-checked overwrite, committed as the next version. */
  def overwrite(name: String, df: DataFrame): Unit = {
    commit(name)(_ => df); ()
  }

  /** Append in place into the live version (no rewrite, no new version
    * but for the fold below), under the table's writer lease. Like any
    * parquet append, a crash mid-write can leave part of the batch
    * behind; the ingestion paths anti-join against the stored keys, so
    * the redelivery appends only the rest.
    *
    * The batch is coalesced to the [[fileCount]] of the live version's
    * bytes: the optimizer's estimate of a batch is no size to go by (a
    * join's grows with the product of its inputs': 22 to 135 MB for
    * `ingest`'s `applicants` batches of about 8 KB, rising with the
    * table). When the live version holds more than
    * [[TableStore.MaxLiveFiles]] files beyond that count, the same lease
    * hold first folds it into a new version of that many files, and the
    * batch lands there, so a failed fold fails the append before any of
    * its rows land. */
  def append(name: String, df: DataFrame): Unit = {
    val got = checked(defOf(name), df, "appending")
    createIfNotExists(name)
    val base = path(name)
    val (live, v) = VersionedStore.withWriterLock(spark, base) {
      val live = VersionedStore.latest(spark, base).get
      val (files, bytes) = VersionedStore.fileStats(spark, base, live)
      val target = fileCount(bytes)
      val v = if (files <= target + TableStore.MaxLiveFiles) live
        else commitLocked(name)(_.repartition(target))
      got.coalesce(target).write.mode("append")
        .parquet(VersionedStore.verDir(base, v))
      (live, v)
    }
    if (v != live) VersionedStore.retainFrom(spark, base, live)
  }

  /** MERGE on the table's registered business key (M1-M6): updates win on
    * key collision, unmatched rows survive. */
  def upsert(name: String, updates: DataFrame): Unit = {
    val d = defOf(name)
    require(d.businessKey.nonEmpty, s"$name has no business key; use append/overwrite")
    commit(name, sized = true)(Merge.upsert(_, updates, d.businessKey))
  }

  /** M5/M10 check-then-insert on the business key. */
  def insertIfAbsent(name: String, incoming: DataFrame): Unit = {
    val d = defOf(name)
    require(d.businessKey.nonEmpty, s"$name has no business key; use append/overwrite")
    commit(name, sized = true)(Merge.insertIfAbsent(_, incoming, d.businessKey))
  }

  /** Partition-aware overwrite (M8 at warehouse scale): writes `df` with
    * hive-style `partitionCols` layout, replacing ONLY the partitions
    * present in `df` (dynamic overwrite) — the reference's "delete month,
    * re-harvest month" (weekly_scheduler.py month chunks) without
    * touching the other 99.9% of a 100 TB table. First write of a table
    * establishes the layout; later calls must use the same columns.
    *
    * Partitioned tables live outside the versioned layout: read them with
    * [[readPartitioned]], not [[read]]. ATOMICITY is per-partition,
    * weaker than overwrite()'s versioned commit: dynamic overwrite
    * replaces each partition directory in place (the file committer
    * stages to _temporary inside the table, then moves per partition),
    * so a mid-write failure can leave SOME partitions replaced and
    * others old — re-running the same write heals it,
    * which is why callers (IncrementalIngest, month re-harvest) keep
    * their inputs re-derivable. The dynamic mode is a per-WRITE
    * DataFrameWriter option here — session conf is never touched, so
    * concurrent queries in the same session see no conf flicker. */
  def overwritePartitions(name: String, df: DataFrame,
      partitionCols: Seq[String]): Unit = {
    val d = defOf(name)
    require(partitionCols.forall(df.columns.contains),
      s"partition columns must exist in the frame: $partitionCols")
    val got = df.select((d.schema.fieldNames.filterNot(partitionCols.contains)
      ++ partitionCols).map(col).toIndexedSeq: _*)
    VersionedStore.withWriterLock(spark, path(name)) {
      got.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCols: _*)
        .parquet(path(name))
    }
  }

  /** Read a partitioned table (no schema pin — partition columns move to
    * the end and their types come from the directory layout). */
  def readPartitioned(name: String): DataFrame = {
    defOf(name) // validate the name against the catalog
    spark.read.parquet(path(name))
  }

  /** Small-file compaction: commit the table's next version with files
    * sized near `targetFileBytes`. Streaming foreachBatch merges and
    * frequent small appends accrete tiny files; at warehouse scale scan
    * cost is driven by file count (task scheduling + footer reads), so
    * periodic compaction is part of table maintenance. Returns
    * (filesBefore, filesAfter). Partitioned tables need per-partition
    * compaction — run this only on unpartitioned catalog tables. */
  def compact(name: String,
      targetFileBytes: Long = TableStore.TargetFileBytes): (Int, Int) = {
    val base = path(name)
    val (before, totalBytes) = VersionedStore.fileStats(spark, base, live(name))
    val v = commit(name)(_.repartition(fileCount(totalBytes, targetFileBytes)))
    (before, VersionedStore.fileStats(spark, base, v)._1)
  }

  /** Files for `bytes` of data at `target` bytes each: at least one. */
  private def fileCount(bytes: Long,
      target: Long = TableStore.TargetFileBytes): Int =
    math.max(1L, math.ceil(bytes.toDouble / target).toLong)
      .min(Int.MaxValue).toInt

  /** Business-key uniqueness audit — the check the reference gets from
    * its unique indexes. Returns offending keys (empty = consistent). */
  def keyViolations(name: String): DataFrame = {
    val d = defOf(name)
    require(d.businessKey.nonEmpty, s"$name has no business key")
    read(name).groupBy(d.businessKey.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
  }
}

object TableStore {

  /** Target bytes of one data file written by a merge, an append, a fold
    * or [[TableStore.compact]] by default: the engine session's input
    * split, [[graft.GraftSession.SplitBytes]]. A file of one split is one
    * scan task, and coalescing to one file per split keeps the merge's
    * own stages as parallel as a scan of its input. */
  val TargetFileBytes: Long = graft.GraftSession.SplitBytes

  /** Most appended files the live version keeps beyond the
    * `ceil(bytes / TargetFileBytes)` it would hold folded; past that,
    * [[TableStore.append]] folds it before writing. Counting beyond the
    * folded layout keeps a table of more than 16 splits from folding on
    * every append.
    *
    * Basis: a file below Spark's `openCostInBytes` (4 MB) is a scan task
    * of its own, so every read of the table pays one task per file.
    * Measured on perfbench `ingest` (sf0.01, 4 cores, seed 7002): the
    * `applicants` batch arrives in 4 partitions; coalesced to the live
    * version's count it wrote 1 file per append, uncoalesced 4. So a
    * read of a small table schedules at most 18 tasks for it, about
    * four waves on 4 local cores, and the fold, one read and one
    * rewrite of the table (about what one merge commit costs), comes
    * once per 17 appends. */
  val MaxLiveFiles: Int = 16
}
