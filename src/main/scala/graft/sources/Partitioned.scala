package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned tables + dynamic partition pruning (DPP) — the
  * partition-layout twin of [[Bucketing]].
  *
  * At 100 TB a fact table is laid out as one directory per day
  * (`day=1995-01-03/…`); a query that joins it to a filtered dimension
  * must read ONLY the days the dimension selects, or it scans the whole
  * lake. Static partition pruning handles literal predicates; when the
  * selected days are only known by running the dim query, Catalyst's
  * dynamic partition pruning inserts a runtime subquery filter into the
  * fact scan (reusing the broadcast of the dim side), so the scan lists
  * just the matching directories. The reference's look-back harvests
  * (weekly_scheduler.py:272-277 — "last 7 days per run") are exactly
  * this access pattern.
  *
  * The write repartitions by the partition column first: one file per
  * day instead of `shuffle.partitions × days` small files — small-file
  * hygiene matters as much as pruning at warehouse scale. */
object Partitioned {

  private val materialized = new ConcurrentHashMap[String, Boolean]()

  /** Idempotently (per JVM) write `events` from `dir` partitioned by
    * calendar day under java.io.tmpdir, return the partitioned path. */
  def ensureEventsByDay(spark: SparkSession, dir: String, tag: String): String = {
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_partitioned/$tag/events_by_day"
    materialized.computeIfAbsent(path, { _ =>
      val e = graft.Tables.load(spark, dir, "events")
        .withColumn("day", to_date(col("ts")))
      e.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(path)
      true
    })
    path
  }

  /** The j14 demo shape: date-partitioned events joined to a
    * runtime-filtered dim of days — the events scan must carry a
    * `dynamicpruningexpression` partition filter (asserted in PlanSpec),
    * i.e. at scale it lists only the dim-selected day directories. Both
    * sides read through [[graft.Tables.parquet]], so a repeat
    * construction infers no schema. */
  def dppJoin(spark: SparkSession, dir: String, tag: String): DataFrame = {
    val path = ensureEventsByDay(spark, dir, tag)
    val fact = graft.Tables.parquet(spark, path)
    val dim = graft.Tables.parquet(spark, path)
      .select(col("day")).distinct()
      .filter(dayofmonth(col("day")) <= 3)
    fact.join(dim, "day")
  }
}
