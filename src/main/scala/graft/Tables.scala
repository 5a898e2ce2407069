package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.sources.Bucketing

/** Parquet-backed table catalog over a scale-factor directory.
  *
  * The reference keeps 16 SQLAlchemy tables behind a Postgres catalog
  * (reference: DatabaseConverter/models.py:14-459); here the catalog is a
  * directory of parquet files (TESTDATA.md), each read through
  * [[parquet]], letting Catalyst push filters/projections into the scan.
  * At cluster scale the same layout maps onto partitioned
  * parquet/warehouse tables without touching operator code.
  *
  * Footer-derived facts are memoized per path for the life of the JVM:
  * the inferred schema ([[parquet]]), the row-group count ([[spread]])
  * and integer column ranges ([[columnRangeLong]]). Each entry carries the
  * fingerprint it was computed under — [[graft.sources.Bucketing.pathFingerprint]]
  * (file names, sizes, mtimes), plus for schemas the session's parquet
  * confs — and is recomputed when the fingerprint differs, so a table
  * rewritten in place is never described by its old footer. The schema
  * memo exists because an inferring `spark.read.parquet` launches one
  * Spark job per call to re-read a footer the process has already read;
  * a dashboard query reads several tables, so inference was most of its
  * construction time (perfbench `serve` at sf0.01 on 4 cores: 164 ms per
  * query built before the memo, 41 ms after).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Load one table from `dir` (e.g. /root/testdata/sf0.01).
    *
    * `events.ts` has been generated two ways across driver runs:
    *  - parquet TIMESTAMP(NANOS), which Spark refuses to read natively —
    *    read as epoch-nanos long and truncate to micros (integer DIV; a
    *    double division would lose precision above 2^53), matching
    *    DuckDB's own nanos→micros truncation;
    *  - parquet timestamp[us] without isAdjustedToUTC, which Spark's
    *    NTZ inference reads as TIMESTAMP_NTZ — cast to TIMESTAMP so
    *    instant functions (unix_micros, window, watermarks) keep
    *    working. The session zone is pinned UTC (GraftSession), so the
    *    cast reinterprets the same micros value and matches DuckDB,
    *    which treats the column as a naive TIMESTAMP throughout.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  // ---- footer memos -------------------------------------------------------

  /** A JVM-wide memo whose entries are valid only under the fingerprint
    * they were computed with: a lookup under another fingerprint
    * recomputes and replaces the entry. One entry per key, so the memo is
    * bounded by the number of distinct keys. Concurrent misses may both
    * compute; the last one stored wins, and both are correct. The
    * fingerprint is taken BEFORE computing, so a file rewritten during
    * the computation leaves an entry the next lookup rejects. */
  private final class FingerprintMemo[V] {
    private val entries = new ConcurrentHashMap[String, (String, V)]()
    def apply(key: String, fingerprint: String)(compute: => V): V = {
      val hit = entries.get(key)
      if (hit != null && hit._1 == fingerprint) hit._2
      else {
        val v = compute
        entries.put(key, (fingerprint, v))
        v
      }
    }
  }

  private val schemaMemo = new FingerprintMemo[StructType]
  private val rowGroupMemo = new FingerprintMemo[Int]
  private val colRangeMemo = new FingerprintMemo[Option[(Long, Long)]]

  /** Every session conf that decides what parquet schema inference
    * returns (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`), as
    * explicitly set in `spark`; unset keys take the JVM's defaults. */
  private def parquetConfs(spark: SparkSession): String =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted.mkString(";")

  /** Read the parquet table at `path` — `spark.read.parquet(path)` without
    * its schema-inference job once this JVM has inferred the schema under
    * the same file listing and parquet confs. The first read (or the
    * first after a rewrite or a conf change) infers exactly as
    * `spark.read.parquet` does and memoizes the result; every read then
    * passes it via `spark.read.schema`, which plans a scan without
    * touching a footer. Each call returns a fresh relation (fresh
    * attribute ids), so self-joins of two reads resolve as before. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val fp = Bucketing.pathFingerprint(spark, path) + "|" + parquetConfs(spark)
    spark.read.schema(schemaMemo(path, fp)(spark.read.parquet(path).schema))
      .parquet(path)
  }

  /** `f` applied to the footer of each parquet file behind `path`, which
    * may be one parquet FILE (the sf fixtures) or a DIRECTORY of
    * part files (DataGen replicas, warehouse layouts). One footer read
    * per file, no data I/O. */
  private def footers[T](spark: SparkSession, path: String)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => T): Seq[T] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    def read(file: org.apache.hadoop.fs.Path): T = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try f(r.getFooter) finally r.close()
    }
    if (fs.getFileStatus(root).isDirectory)
      fs.listStatus(root).toSeq.filter { s =>
        val nm = s.getPath.getName
        s.isFile && nm.endsWith(".parquet") && !nm.startsWith("_") &&
          !nm.startsWith(".")
      }.map(s => read(s.getPath))
    else Seq(read(root))
  }

  // ---- scale-adaptive scan spread (optimization guide §2.5) ----------------

  /** Parquet row-group count of one table path (summed over part files),
    * memoized under the path's fingerprint. A row group is parquet's
    * unsplittable scan unit: Spark assigns each row group to the
    * byte-range split holding its midpoint, so a 1-row-group file scans as
    * ONE task no matter how small `spark.sql.files.maxPartitionBytes` is. */
  private def rowGroups(spark: SparkSession, path: String): Int =
    rowGroupMemo(path, Bucketing.pathFingerprint(spark, path)) {
      footers(spark, path)(_.getBlocks.size).sum
    }

  /** Parquet footer min/max of a 64/32-bit integer column across every
    * row group (and part file) of a table path, memoized per
    * (path, column) under the path's fingerprint — footer reads only, no
    * data I/O. None when any chunk lacks stats or the column isn't an
    * integer type; callers treat None as "don't optimize". Used to GATE
    * plan-shape choices that are only valid for bounded key domains
    * (e.g. packing an id pair into one long needs ids in [0, 2³²)) —
    * the gate re-evaluates per input, and a file rewritten in place is
    * re-read, so a corpus whose keys outgrow the bound keeps the general
    * plan. */
  def columnRangeLong(spark: SparkSession, path: String,
      column: String): Option[(Long, Long)] =
    try {
      colRangeMemo(s"$path#$column", Bucketing.pathFingerprint(spark, path)) {
        import scala.jdk.CollectionConverters._
        val per = footers(spark, path)(_.getBlocks.asScala.toSeq.map { bk =>
          bk.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .flatMap { cc =>
              cc.getStatistics match {
                case s: org.apache.parquet.column.statistics.LongStatistics
                    if s.hasNonNullValue => Some((s.getMin, s.getMax))
                case s: org.apache.parquet.column.statistics.IntStatistics
                    if s.hasNonNullValue =>
                  Some((s.getMin.toLong, s.getMax.toLong))
                case _ => None
              }
            }
        }).flatten
        if (per.isEmpty || per.exists(_.isEmpty)) None
        else Some((per.flatten.map(_._1).min, per.flatten.map(_._2).max))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Input-skew fix from the optimization guide §2.5 ("one huge
    * unsplittable file … repartition immediately after the read"), applied
    * ONLY when the input is actually unsplittable-narrow: when the table's
    * backing file has fewer row groups than HALF the session's shuffle
    * parallelism, the frame is re-spread by a hash exchange on `key`
    * (deterministic — never round-robin, per SPARK-38388) so CPU-dense
    * per-row work downstream (shingle hashing, regex scoring, decimal
    * math) runs on every core instead of serializing on the scan task.
    *
    * Scale behavior: a warehouse-scale table carries thousands of row
    * groups, the gate fails, and NO exchange is added — the corpus is
    * never shuffled for parallelism's sake at 100 TB. The gate reads one
    * memoized parquet footer, not data. Results are unchanged by
    * construction (a repartition permutes rows only). */
  def spread(spark: SparkSession, dir: String, name: String,
      df: DataFrame, key: String): DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (rowGroups(spark, s"$dir/$name.parquet") < (parts + 1) / 2)
      df.repartition(parts, col(key))
    else df
  }

  /** [[load]] + [[spread]] in one call for CPU-dense consumers. */
  def loadSpread(spark: SparkSession, dir: String, name: String,
      key: String): DataFrame =
    spread(spark, dir, name, load(spark, dir, name), key)
}
