package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended scale configuration —
  * one place for the settings every entry point (Verify, Bench, jobs)
  * shares, so they can't drift.
  *
  * The values are local[N] test-box settings; the scaladoc per setting
  * says what changes on a real cluster. */
object GraftSession {

  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (whole-stage, projection, predicate and ordering code), set as the
    * static conf `spark.sql.codegen.cache.maxEntries`.
    *
    * Why: the cache is an LRU with a default of 100 entries. A process
    * that cycles through more distinct classes than that evicts, on every
    * query or micro-batch, the classes the next one needs, so it compiles
    * the same code again each time: Janino plus name resolution through
    * the task class loader, about a fifth of all CPU in a warm dashboard
    * loop on a 4-core host.
    *
    * Working sets, measured with perfbench at sf0.01 on 4 cores as the
    * classes compiled during set-up and warm-up: about 405 distinct
    * classes for the 24-query `serve` cycle (375 with the stage-id rule
    * of [[CodegenCacheConf]]) and about 150 for the `ingest` path. Both
    * exceed 100; a process serving both paths needs about 560 entries,
    * and 2048 leaves room for more queries. With the default cap the
    * timed window compiled 535 classes over 32 `serve` ops (about 17 per
    * query) and 554 over 4 `ingest` micro-batches (about 139 per batch);
    * with this policy, 0 over 36 ops and 1 over 5 batches. Metaspace at
    * the end of a run did not grow (170 MB, against 174 MB before).
    *
    * To re-measure: read
    * `org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount`
    * (one count per compiled class) before and after a repeated pass of
    * the workload; a repeat that still compiles means the working set
    * outgrew this value. `CodegenCacheSpec` pins that for the registry
    * and the applicant stream.
    *
    * The cache is sized once per JVM, from the first session that
    * generates code, so [[build]] refuses a session that an earlier
    * builder created with a smaller value. */
  val CodegenCacheEntries: Int = 2048

  /** Key of the static conf [[CodegenCacheEntries]] sets. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** The codegen cache policy of every session, tests included.
    *
    * Besides the size, whole-stage classes are named without their stage
    * id. The cache is keyed by the generated source, and the id is part
    * of the class name in it. Adaptive execution re-plans as query stages
    * complete, and the ids the remaining stages get depend on that
    * timing, so a repeated query can get the same stages under other ids;
    * each new numbering compiled its classes again
    * (`q20_potential_promotion` alternates between two numberings).
    * Without the id, equal stages share one class. Plans and results do
    * not change; `explain` still shows the ids. */
  val CodegenCacheConf: Map[String, Any] = Map(
    CodegenCacheKey -> CodegenCacheEntries,
    "spark.sql.codegen.useIdInClassName" -> false)

  /** @param cpus parallelism for local mode (driver boxes); on a cluster
    *             this is executor-provided and the master line is removed
    * @param shufflePartitions match total cores on the test box; at
    *             warehouse scale start at 2-3x total executor cores and
    *             let AQE coalesce (it only splits skew, never raises a
    *             too-low floor)
    */
  def build(appName: String = "graft", cpus: Int = 32,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cpus).toString)
      // AQE: runtime coalescing, skew-join splitting, runtime re-plan
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // one ~20 MB parquet file would otherwise be a single input split —
      // small splits keep all local threads on the scan; on a cluster
      // leave the 128m default (files are many and large)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // engines must agree on the session zone or timestamp comparisons
      // against the oracle drift by the host offset
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheConf)
      .getOrCreate()
    requireCodegenCache(spark.conf.get(CodegenCacheKey).toInt)
    spark
  }

  /** Fails when a session's codegen cache, `entries` as read back from
    * it, is smaller than [[CodegenCacheEntries]]. Spark ignores static
    * confs passed to `getOrCreate` when a session already exists, so
    * without this check an earlier session's smaller cache would go
    * unnoticed. */
  private[graft] def requireCodegenCache(entries: Int): Unit =
    if (entries < CodegenCacheEntries)
      throw new IllegalStateException(
        s"$CodegenCacheKey is $entries in the existing session, below " +
          s"GraftSession.CodegenCacheEntries = $CodegenCacheEntries, so " +
          "queries would keep recompiling their generated code. Create the " +
          "JVM's first session through GraftSession.build, or set " +
          s"$CodegenCacheKey to at least $CodegenCacheEntries on the session " +
          "that starts first.")
}
