package graft.operators

import graft.sources.VersionedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental Companies House harvest — the reference's scheduled
  * company sync (api_clients.py:231-280 driven by the S8 month-chunk
  * pattern) rebuilt on the live-socket DSv2: each run scans ONLY
  * [watermark+1 day, upTo] via pushed `incorporated_from/to` params
  * (the server narrows; re-runs fetch the delta, not the corpus),
  * upserts by company_number, and commits the merged `companies` table
  * with the advanced watermark as ONE [[VersionedStore]] version under
  * `base` — the watermark is a commit extra (`_watermark`) of the
  * table, so the two publish together. A crashed or usurped run never
  * creates its marker: table and watermark both stay at the previous
  * version, and the retry re-covers the window (the upsert is
  * idempotent by business key).
  *
  * Scale shape: the HTTP scan parallelizes by date sub-ranges
  * (`splits`, the ChHttpSource cursor sharding); the upsert is one
  * anti-join on the high-cardinality business key; the watermark is
  * one tiny file. The delta frame is localCheckpoint-ed so the wire is
  * paid exactly once per run (count + merge reuse the materialized
  * rows, never re-paging the API). */
object ChHarvest {

  private val Table = "companies"
  private val Watermark = "_watermark"

  /** Run one harvest window ending at `upTo` (inclusive ISO date).
    * Returns (rows fetched this run, watermark after the run). A
    * window already covered (watermark ≥ upTo) makes NO request. */
  def harvest(spark: SparkSession, url: String, base: String, upTo: String,
      splits: Int = 1, start: String = "2000-01-01",
      callsPerSec: Double = 2.0): (Long, String) =
    VersionedStore.withWriterLock(spark, base) {
      stage(spark, url, base, upTo, splits, start, callsPerSec) match {
        case Left(covered) => (0L, covered)
        case Right((v, n)) =>
          VersionedStore.commitVersion(spark, base, v)
          VersionedStore.retainFrom(spark, base, v - 1)
          (n, upTo)
      }
    }

  /** The STAGE half of [[harvest]]: fetch the window and write the next
    * version's merged table and watermark without committing. Returns
    * Right((staged version, rows fetched)), or Left(watermark) when the
    * window is already covered. Package-private so crash-sim tests can
    * stop exactly here. */
  private[graft] def stage(spark: SparkSession, url: String, base: String,
      upTo: String, splits: Int, start: String,
      callsPerSec: Double): Either[String, (Long, Long)] = {
    val prior = VersionedStore.latest(spark, base)
    val watermark = prior.flatMap(v =>
      VersionedStore.readTableExtra(spark, base, Table, v, Watermark))
    val from = watermark
      .map(w => java.time.LocalDate.parse(w).plusDays(1).toString)
      .getOrElse(start)
    if (from > upTo) Left(watermark.getOrElse(start))
    else {
      val delta = spark.read
        .format(classOf[graft.sources.v2.ChHttpTableProvider].getName)
        .option("url", url).option("splits", splits.toString)
        .option("calls_per_sec", callsPerSec.toString)
        .load()
        .filter(col("date_of_creation") >= from &&
          col("date_of_creation") <= upTo)
        .localCheckpoint() // the wire is paid here, exactly once
      val n = delta.count()
      val merged = prior match {
        case None => delta
        case Some(v) =>
          spark.read.parquet(VersionedStore.tableDir(base, Table, v))
            .join(delta.select("company_number"), Seq("company_number"),
              "left_anti")
            .unionByName(delta)
      }
      val next = prior.map(_ + 1).getOrElse(0L)
      VersionedStore.writeSnapshot(spark,
        VersionedStore.tableDir(base, Table, next), merged,
        Map(Watermark -> upTo))
      Right((next, n))
    }
  }

  /** The harvested table (error if never harvested). */
  def table(spark: SparkSession, base: String): DataFrame =
    VersionedStore.readLatestTable(spark, base, Table)
}
