package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned snapshots with time-travel reads, and the one publish path
  * every stored structure in this engine goes through: catalog tables
  * ([[TableStore]]), served indexes (BM25, phrase and ANN postings with
  * their stats, tombstones and id lists), maintained views, the result
  * cache's index and the Companies House harvest. It is also the "read
  * the EXACT corpus this model trained on" primitive a training-data
  * pipeline needs for reproducibility (the reference approximates it by
  * re-exporting dated CSV copies of its tables, e.g. its timestamped
  * export paths in file_processors.py).
  *
  * A commit stages every file of version N — a single snapshot under
  * `base/v_N`, or one directory per member table under
  * `base/<name>_v_N` — then creates ONE marker file `base/ver/c_N`, the
  * atomic commit point ([[publish]]). A crash mid-stage leaves no
  * marker, so readers never see a partial snapshot; the previous
  * version remains latest, and the retry re-derives N from the markers
  * and overwrites the orphan. Marker files — not directory listings of
  * data — are the only source of truth, so an orphaned staged directory
  * is garbage ([[gcStaged]]), never a servable version.
  *
  * Scale notes: a commit is one full write of each staged frame, `read`
  * of any version is an ordinary parquet scan with full
  * pushdown/pruning, and nothing here ever lists data files at plan
  * time — only the tiny marker directory, once per latest-version read.
  * Retention is explicit and crash-ordered ([[retainFrom]] deletes
  * markers before directories, so an interrupted cleanup can only leave
  * unreferenced bytes, never a marker pointing at deleted data). Single
  * writer per `base` is ENFORCED, not just assumed: every commit holds
  * the `base/__lock` lease ([[withWriterLock]]) for the stage+commit
  * cycle, so a racing second committer fails fast instead of staging
  * into the same version directory.
  */
object VersionedStore {

  def verDir(base: String, v: Long): String = s"$base/v_$v"

  /** Member table `name` of version `v` in the multi-table layout. */
  def tableDir(base: String, name: String, v: Long): String =
    s"$base/${name}_v_$v"

  private def markerDir(base: String) = new Path(s"$base/ver")

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All committed versions, ascending; empty before the first commit. */
  def versions(spark: SparkSession, base: String): Seq[Long] = {
    val f = fs(spark, base)
    val dir = markerDir(base)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("c_") => n.drop(2).toLong }
      .sorted
  }

  def latest(spark: SparkSession, base: String): Option[Long] =
    versions(spark, base).lastOption

  private def latestOrFail(spark: SparkSession, base: String): Long =
    latest(spark, base).getOrElse(sys.error(s"no committed versions at $base"))

  private def nextVersion(spark: SparkSession, base: String): Long =
    latest(spark, base).map(_ + 1L).getOrElse(0L)

  /** Single-writer enforcement for a store base directory: a LEASE on
    * `base/__lock` ([[graft.operators.LeaseLock]]) held for a
    * stage+commit cycle, so two concurrent writers fail fast instead of
    * racing the same staged version directory. The reference serializes
    * the equivalent through Postgres row locks + scheduler
    * max_instances=1 (SURVEY §7.4.2). A writer killed INSIDE the
    * critical section does not wedge the store: its lease stops
    * heartbeating and the next writer steals it after the TTL. The
    * staged data needs no repair: an interrupted holder never created
    * its marker. Not re-entrant. */
  def withWriterLock[T](spark: SparkSession, base: String,
      ttlMs: Long = graft.operators.LeaseLock.DefaultTtlMs)(body: => T): T = {
    val f = fs(spark, base)
    f.mkdirs(new Path(base))
    graft.operators.LeaseLock.withLease(f, new Path(s"$base/__lock"),
      s"store $base", ttlMs)(body)
  }

  /** THE publish path: under the writer lock, take the next version,
    * let `stage` write every file of it, then create its marker. Returns
    * the committed version. */
  def publish(spark: SparkSession, base: String)(stage: Long => Unit): Long =
    withWriterLock(spark, base)(publishLocked(spark, base)(stage))

  /** [[publish]] for a caller that already holds [[withWriterLock]] on
    * `base` (the lock is not re-entrant). */
  private[graft] def publishLocked(spark: SparkSession, base: String)(
      stage: Long => Unit): Long = {
    val v = nextVersion(spark, base)
    stage(v)
    commitVersion(spark, base, v)
    v
  }

  /** Commit `df` as the next version. Returns the new version number.
    * `extras` are small marker files written INSIDE the staged snapshot
    * directory (underscore-prefixed names are invisible to parquet
    * readers), so payload + metadata install atomically with the one
    * marker create — this is how a batchId rides along with a
    * maintained view ([[graft.operators.MatView]]'s idempotence). */
  def commit(spark: SparkSession, base: String, df: DataFrame,
      extras: Map[String, String] = Map.empty): Long =
    publish(spark, base)(v => writeSnapshot(spark, verDir(base, v), df, extras))

  /** The STAGE half of [[commit]] alone — everything written, nothing
    * committed. Package-private so crash-sim tests can stop exactly
    * here and prove the previous version still serves; a retry
    * overwrites the orphaned staged directory (latest+1 is re-derived
    * from the markers, which never advanced). */
  private[graft] def stageVersion(spark: SparkSession, base: String,
      df: DataFrame, extras: Map[String, String] = Map.empty): Long = {
    val v = nextVersion(spark, base)
    writeSnapshot(spark, verDir(base, v), df, extras)
    v
  }

  /** Write `df` to `dir`, then each extra as a small file inside it. */
  private[graft] def writeSnapshot(spark: SparkSession, dir: String,
      df: DataFrame, extras: Map[String, String] = Map.empty): Unit = {
    df.write.mode("overwrite").parquet(dir)
    val f = fs(spark, dir)
    extras.foreach { case (name, content) =>
      val out = f.create(new Path(s"$dir/$name"), true)
      out.write(content.getBytes("UTF-8"))
      out.close()
    }
  }

  /** The COMMIT half: one marker-file create. Fence-checked: a writer
    * usurped mid-stage aborts here, before the version is visible. */
  private[graft] def commitVersion(spark: SparkSession, base: String,
      v: Long): Unit = {
    graft.operators.LeaseLock.fenceCheck()
    val f = fs(spark, base)
    f.mkdirs(markerDir(base))
    f.create(new Path(s"$base/ver/c_$v"), true).close()
  }

  /** Read an extra marker file staged with version `v` (None if that
    * commit carried none). */
  def readExtra(spark: SparkSession, base: String, v: Long,
      name: String): Option[String] =
    readFileOpt(spark, s"${verDir(base, v)}/$name")

  /** [[readExtra]] for a multi-table commit: extras live in the FIRST
    * committed table's directory — pass that table's name. */
  def readTableExtra(spark: SparkSession, base: String, table: String,
      v: Long, name: String): Option[String] =
    readFileOpt(spark, s"${tableDir(base, table, v)}/$name")

  private def readFileOpt(spark: SparkSession, path: String): Option[String] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** Time-travel read: the table exactly as committed at version `v`. */
  def read(spark: SparkSession, base: String, v: Long): DataFrame = {
    require(versions(spark, base).contains(v),
      s"version $v is not committed at $base")
    spark.read.parquet(verDir(base, v))
  }

  /** The latest committed version — one marker listing. */
  def readLatest(spark: SparkSession, base: String): DataFrame =
    spark.read.parquet(verDir(base, latestOrFail(spark, base)))

  // ---- multi-table atomic commits -----------------------------------
  //
  // A base table and a view DERIVED from it form one logical unit: with
  // per-table stores, a crash between the two commits leaves them
  // observably apart (the idempotent maintainers repair it on retry,
  // but the window exists). Committing them under ONE marker removes
  // the window altogether: every named frame stages a full snapshot
  // under `<base>/<name>_v_N`, then a single `ver/c_N` create commits
  // them all. The trade is coupled write cadence (all members rewrite
  // every commit) — right for base+view pairs, wrong for tables that
  // evolve independently.

  /** Stage every table of version v, then one marker create. `extras`
    * land inside the FIRST table's directory (atomic with the marker
    * like the single-table form). Returns the committed version. */
  def commitAll(spark: SparkSession, base: String,
      tables: Seq[(String, DataFrame)],
      extras: Map[String, String] = Map.empty): Long = {
    require(tables.nonEmpty, "commitAll of nothing")
    publish(spark, base) { v =>
      tables.zipWithIndex.foreach { case ((n, df), i) =>
        writeSnapshot(spark, tableDir(base, n, v), df,
          if (i == 0) extras else Map.empty)
      }
    }
  }

  /** Read one member table of a committed version. */
  def readTable(spark: SparkSession, base: String, name: String,
      v: Long): DataFrame = {
    require(versions(spark, base).contains(v),
      s"version $v is not committed at $base")
    spark.read.parquet(tableDir(base, name, v))
  }

  /** One member table of the latest version — one marker listing. */
  def readLatestTable(spark: SparkSession, base: String,
      name: String): DataFrame =
    spark.read.parquet(tableDir(base, name, latestOrFail(spark, base)))

  /** Every version-suffixed directory under `base` with its parsed
    * version — matches both the single-table `v_N` layout and the
    * multi-table `<name>_v_N` one. Exact numeric parse, so `v_13`
    * can never be confused with version 3. */
  private def versionDirs(spark: SparkSession,
      base: String): Seq[(Path, Long)] = {
    val f = fs(spark, base)
    val baseP = new Path(base)
    if (!f.exists(baseP)) Seq.empty
    else {
      val pat = "^(?:.*_)?v_(\\d+)$".r
      f.listStatus(baseP).toSeq
        .filter(_.isDirectory)
        .flatMap(s => pat.findFirstMatchIn(s.getPath.getName)
          .map(m => (s.getPath, m.group(1).toLong)))
    }
  }

  /** Delete staged-but-uncommitted version directories — a `v_N` with
    * no `ver/c_N` marker is unreachable garbage (a commit that crashed
    * between stage and marker, or a retention pass that got the marker
    * but died before the data). Call only from a recovery/maintenance
    * path; the single-writer contract guarantees no commit is staging
    * concurrently. Returns the versions whose directories were
    * deleted. */
  def gcStaged(spark: SparkSession, base: String): Seq[Long] = {
    val f = fs(spark, base)
    val committed = versions(spark, base).toSet
    versionDirs(spark, base)
      .collect { case (p, v) if !committed(v) => f.delete(p, true); v }
      .distinct.sorted
  }

  // ---- maintenance: OPTIMIZE (small-file compaction) and CDC ---------

  /** Data files of a committed version: (count, total bytes). Underscore
    * names (_SUCCESS, staged extras) are metadata, not data. Fails with
    * a layout message on a multi-table ([[commitAll]]) store — its
    * snapshots live under `<name>_v_N`, not `v_N`. */
  def fileStats(spark: SparkSession, base: String, v: Long): (Int, Long) = {
    val f = fs(spark, base)
    val dir = new Path(verDir(base, v))
    require(f.exists(dir),
      s"$base has no $dir — single-table layout required " +
        "(multi-table commitAll stores keep <name>_v_N directories)")
    val files = f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_"))
    (files.size, files.map(_.getLen).sum)
  }

  /** DESCRIBE HISTORY: one row per committed version, ascending —
    * (version, n_files, total_bytes, optimized_from). Reads only the
    * marker directory and per-version file listings, never data. */
  def history(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    versions(spark, base).map { v =>
      val (n, bytes) = fileStats(spark, base, v)
      (v, n, bytes,
        readExtra(spark, base, v, "_optimized_from").map(_.toLong))
    }.toDF("version", "n_files", "total_bytes", "optimized_from")
  }

  /** OPTIMIZE: rewrite the latest version's many small files into files
    * sized near `targetBytes`, committed as a NEW version — time travel
    * to every prior version keeps working, concurrent readers of the old
    * snapshot are never disturbed, and a crash mid-rewrite leaves the
    * old version latest (same stage-then-marker discipline as
    * [[commit]]). [[TableStore.compact]] is the catalog tables' form of
    * the same rewrite: streaming foreachBatch maintenance accretes
    * one small file per batch, and at warehouse scale scan cost is
    * driven by file COUNT (task scheduling + footer reads), so periodic
    * compaction is table maintenance, not an optimization.
    *
    * Without `clusterBy` the rewrite is `coalesce` — a SHUFFLE-FREE
    * merge of read splits into fewer write tasks (at 100 TB the rewrite
    * is pure I/O, never a repartition of the corpus). With `clusterBy`
    * the rewrite is `repartitionByRange + sortWithinPartitions` on those
    * columns — one range shuffle that buys min/max row-group pruning on
    * the cluster keys for every scan after (the OPTIMIZE-with-layout
    * trade; [[Layout.writeZOrdered]] is the multi-dim variant).
    *
    * Extras staged with the source version ride along (a maintained
    * view's batchId marker survives its compaction); `_optimized_from`
    * records provenance. Returns the new version, or None when the
    * table is already at or under the target file count (no pointless
    * rewrite) — a `clusterBy` rewrite always runs, the layout change
    * being the point. */
  def optimize(spark: SparkSession, base: String,
      targetBytes: Long = 128L << 20,
      clusterBy: Seq[String] = Nil): Option[Long] = {
    require(targetBytes > 0, "targetBytes must be positive")
    withWriterLock(spark, base) {
      val v = latestOrFail(spark, base)
      val (nFiles, totalBytes) = fileStats(spark, base, v)
      val target = math.max(1L,
        math.ceil(totalBytes.toDouble / targetBytes).toLong).toInt
      if (clusterBy.isEmpty && nFiles <= target) None
      else {
        val df = spark.read.parquet(verDir(base, v))
        val compacted =
          if (clusterBy.isEmpty) df.coalesce(target)
          else df.repartitionByRange(target,
              clusterBy.map(org.apache.spark.sql.functions.col): _*)
            .sortWithinPartitions(
              clusterBy.map(org.apache.spark.sql.functions.col): _*)
        val carried = carriedExtras(spark, base, v) +
          ("_optimized_from" -> v.toString)
        // the whole stats-read + rewrite sits under ONE lock hold
        Some(publishLocked(spark, base) { nv =>
          writeSnapshot(spark, verDir(base, nv), compacted, carried)
          // skipping metadata follows the table through maintenance:
          // per-file stats are true of a LAYOUT, so the rewrite
          // re-derives them for the new files (geometry read from the
          // stored tables — an OPTIMIZE must never silently downgrade a
          // skipping table to full scans)
          val f2 = fs(spark, base)
          if (f2.exists(new Path(zoneMapDir(base, v)))) {
            val statsCols = spark.read.parquet(zoneMapDir(base, v)).columns
              .collect { case c if c.startsWith("min_") => c.drop(4) }.toSeq
            stageZoneMap(spark, base, nv, statsCols)
          }
          if (f2.exists(new Path(bloomDir(base, v)))) {
            val bt = spark.read.parquet(bloomDir(base, v))
            val geo = bt.select(
              org.apache.spark.sql.functions.size(
                org.apache.spark.sql.functions.col("words")) * 64,
              org.apache.spark.sql.functions.col("k")).head()
            val cols = bt.select("col_name").distinct()
              .collect().map(_.getString(0)).toSeq.sorted
            stageBloom(spark, base, nv, cols, geo.getInt(0), geo.getInt(1))
          }
        })
      }
    }
  }

  /** The user-staged extras of version `v` (every `_`-prefixed file
    * except Spark's own `_SUCCESS`), re-read as commit extras. */
  private def carriedExtras(spark: SparkSession, base: String,
      v: Long): Map[String, String] = {
    val f = fs(spark, base)
    f.listStatus(new Path(verDir(base, v))).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("_") &&
        s.getPath.getName != "_SUCCESS")
      .flatMap(s => readFileOpt(spark, s.getPath.toString)
        .map(s.getPath.getName -> _))
      .toMap
  }

  // ---- zone maps: per-file column stats + skipping scans --------------
  //
  // Parquet row-group min/max stats prune WITHIN a file the reader has
  // already opened; at warehouse scale the cost that remains is opening
  // the files at all — task scheduling plus one footer read per file,
  // ∝ file count, not ∝ matching data. The fix every modern table
  // format (Delta, Iceberg, Hudi) ships is a zone map: per-FILE min/max
  // kept in table metadata, consulted at plan time so non-matching
  // files are never listed into the scan. Here the zone map is a tiny
  // parquet table staged INSIDE the snapshot directory under the
  // underscore name `_zonemap` — invisible to parquet readers of the
  // snapshot, and committed by the SAME single marker create as the
  // data, so stats can never refer to an uncommitted snapshot nor a
  // committed snapshot lack its stats.

  private def zoneMapDir(base: String, v: Long): String =
    s"${verDir(base, v)}/_zonemap"

  /** [[commit]] plus a per-file zone map over `statsCols`: one
    * min/max pair per column per data file, derived from the staged
    * bytes themselves (grouped by `input_file_name`), so the stats are
    * true of the files as written — repartitioning during the write
    * cannot desync them. The stats frame is ∝ file count. */
  def commitWithStats(spark: SparkSession, base: String, df: DataFrame,
      statsCols: Seq[String],
      extras: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 16, bloomK: Int = 3): Long = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "commitWithStats needs stats or bloom columns")
    publish(spark, base) { v =>
      writeSnapshot(spark, verDir(base, v), df, extras)
      if (statsCols.nonEmpty) stageZoneMap(spark, base, v, statsCols)
      if (bloomCols.nonEmpty)
        stageBloom(spark, base, v, bloomCols, bloomBits, bloomK)
    }
  }

  /** Stage half of the zone map alone (crash-sim seam: stats staged,
    * marker never created → the version is invisible, stats and all). */
  private[graft] def stageZoneMap(spark: SparkSession, base: String,
      v: Long, statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val snap = spark.read.parquet(verDir(base, v))
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
      count(col(c)).as(s"nonnull_$c")))
    snap.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1) // one row per data file — metadata-sized
      .write.mode("overwrite").parquet(zoneMapDir(base, v))
  }

  private def bloomDir(base: String, v: Long): String =
    s"${verDir(base, v)}/_bloom"

  /** Per-file BLOOM filters — the equality-predicate complement of the
    * zone map (a point key prunes nothing on min/max when files aren't
    * range-clustered on it; the per-file key-set bloom prunes to the
    * files that might hold the key, false positives only — what parquet
    * bloom filters / Delta's bloom index do, kept here in the same
    * committed stats metadata). Long layout (file, col_name, words):
    * the m-bit bitmap per (file, column) packed into long words, built
    * distributed — per-file distinct bit positions, packed in-row. */
  private[graft] def stageBloom(spark: SparkSession, base: String,
      v: Long, bloomCols: Seq[String], m: Int, k: Int): Unit = {
    import org.apache.spark.sql.functions._
    require(m >= 64 && m % 64 == 0 && m <= (1 << 20),
      s"bloom bits m=$m must be a multiple of 64 in [64, 2^20]")
    require(k >= 1 && k <= 8, s"bloom hash count k=$k out of [1, 8]")
    val snap = spark.read.parquet(verDir(base, v))
    bloomCols.map { c =>
      snap.select(input_file_name().as("file"),
          explode(array((0 until k).map(j =>
            graft.operators.Sketches.bloomPos(col(c), j, m)): _*)).as("p"))
        .groupBy("file").agg(collect_set("p").as("ps"))
        .select(col("file"), lit(c).as("col_name"), lit(k).as("k"), expr(
          s"""transform(sequence(0, ${m / 64 - 1}), w ->
              aggregate(filter(ps, p -> CAST(p DIV 64 AS INT) = w),
                CAST(0 AS BIGINT),
                (s, p) -> s | shiftleft(CAST(1 AS BIGINT),
                                        CAST(p % 64 AS INT))))""").as("words"))
    }.reduce(_.unionByName(_))
      .coalesce(1) // files × columns rows — metadata-sized
      .write.mode("overwrite").parquet(bloomDir(base, v))
  }

  /** The committed per-file bloom table of version `v`. */
  def bloomTable(spark: SparkSession, base: String, v: Long): DataFrame = {
    require(versions(spark, base).contains(v),
      s"version $v is not committed at $base")
    spark.read.parquet(bloomDir(base, v))
  }

  /** Files of version `v` whose bloom for `statCol` might contain
    * `value` (never a false negative), plus the total file count. The
    * hash count k and bit width m are read from the stored table — the
    * probe always uses the geometry the filter was built with. */
  def filesMaybeContaining(spark: SparkSession, base: String, v: Long,
      statCol: String, value: Any): (Seq[String], Int) = {
    import org.apache.spark.sql.functions._
    val bt = bloomTable(spark, base, v).filter(col("col_name") === statCol)
    val geoRows = bt.select(size(col("words")) * 64, col("k")).limit(1).collect()
    require(geoRows.nonEmpty,
      s"version $v at $base has no bloom filter for column '$statCol'")
    val (m, bloomK) = (geoRows.head.getInt(0), geoRows.head.getInt(1))
    // the probe key's k bit positions — same hash family as the build
    val positions = spark.range(1).select((0 until bloomK).map(j =>
        graft.operators.Sketches.bloomPos(lit(value), j, m).as(s"p$j")): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val hit = positions.map { p =>
      shiftright(element_at(col("words"), (p / 64).toInt + 1),
        (p % 64).toInt).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    val total = bt.count().toInt
    val kept = bt.filter(hit).select("file")
      .collect().map(_.getString(0)).toSeq
    (kept, total)
  }

  /** Point-lookup scan: read only the bloom-surviving files, then the
    * exact equality filter — row-identical to a full scan + filter. */
  def readPoint(spark: SparkSession, base: String, v: Long,
      statCol: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    val (kept, _) = filesMaybeContaining(spark, base, v, statCol, value)
    if (kept.isEmpty) read(spark, base, v).filter(lit(false))
    else spark.read.parquet(kept: _*).filter(col(statCol) === lit(value))
  }

  /** The committed zone map of version `v` (one row per data file). */
  def zoneMap(spark: SparkSession, base: String, v: Long): DataFrame = {
    require(versions(spark, base).contains(v),
      s"version $v is not committed at $base")
    spark.read.parquet(zoneMapDir(base, v))
  }

  /** Plan-time file pruning: the data files of version `v` whose
    * `[min_col, max_col]` range can intersect `[lo, hi]`, plus the
    * total file count. A file whose stats are all-null for `column`
    * holds no non-null values and cannot satisfy a range predicate, so
    * it is skipped too. The collect here is the planning step every
    * table format performs — it is ∝ the version's FILE count (zone-map
    * rows), never ∝ rows. */
  def filesInRange(spark: SparkSession, base: String, v: Long,
      statCol: String, lo: Any, hi: Any): (Seq[String], Int) = {
    import org.apache.spark.sql.functions._
    val zm = zoneMap(spark, base, v)
      .select(col("file"), col(s"min_$statCol").as("mn"),
        col(s"max_$statCol").as("mx"))
    // ONE driver job: collect the (bounded, ∝ files) zone map once and
    // evaluate the interval test locally — a second collect just for
    // the total count was a wasted job
    val rows = zm.select(col("file"),
        (col("mn").isNotNull && col("mx").isNotNull &&
          col("mx") >= lit(lo) && col("mn") <= lit(hi)).as("keep"))
      .collect()
    val kept = rows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq
    (kept, rows.length)
  }

  /** Skipping scan: read ONLY the files [[filesInRange]] keeps, then
    * apply the exact predicate — row-identical to a full scan with the
    * same filter (the zone map is an over-approximation; the residual
    * filter restores exactness). An empty survivor set returns the
    * empty frame with the snapshot's schema without listing data. */
  def readSkipping(spark: SparkSession, base: String, v: Long,
      statCol: String, lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    val (kept, _) = filesInRange(spark, base, v, statCol, lo, hi)
    val pred = col(statCol) >= lit(lo) && col(statCol) <= lit(hi)
    if (kept.isEmpty) read(spark, base, v).filter(lit(false))
    else spark.read.parquet(kept: _*).filter(pred)
  }

  /** CDC between two COMMITTED versions: the change feed (`added` /
    * `removed` / `changed` rows with old/new values, unchanged rows
    * dropped) computed from the stored bytes — one full-outer key join
    * of the two snapshot scans ([[graft.operators.Merge.snapshotDiff]]'s
    * classification; that operator diffs two live frames, this one
    * serves "what changed between the v3 corpus and the v7 corpus" from
    * the store). Both sides are ordinary parquet scans with full
    * pushdown, the join shuffles each snapshot once on the key. */
  def changesBetween(spark: SparkSession, base: String,
      fromV: Long, toV: Long, keys: Seq[String],
      compare: Seq[String]): DataFrame =
    graft.operators.Merge.snapshotDiff(
      read(spark, base, fromV), read(spark, base, toV), keys, compare)

  /** Drop versions strictly older than `keep` — markers first, then
    * data (every member directory of that version, both layouts), so a
    * crash mid-cleanup leaves garbage, not dangling refs. */
  def retainFrom(spark: SparkSession, base: String, keep: Long): Unit = {
    val f = fs(spark, base)
    val doomed = versions(spark, base).filter(_ < keep).toSet
    doomed.foreach(v => f.delete(new Path(s"$base/ver/c_$v"), false))
    versionDirs(spark, base)
      .foreach { case (p, v) => if (doomed(v)) f.delete(p, true) }
  }
}
