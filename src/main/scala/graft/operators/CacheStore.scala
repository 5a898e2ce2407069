package graft.operators

import graft.sources.VersionedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed keyed result cache with TTL + size-based eviction
  * (SURVEY.md §2.1 S13; reference persistent_cache.py:9-231 — md5 keys,
  * 7-day expiry, oldest-first eviction; gzip is subsumed by parquet's
  * own compression).
  *
  * Layout: `dir/_index` is a single-table [[VersionedStore]] of
  * (cache_key, created_ms, expiry_ms) rows, plus one payload parquet dir
  * per key. Each put commits the next index version and keeps the one
  * before it, so a crash mid-put leaves the prior index serving [[get]].
  * Single-writer discipline, like every mutation in this engine (SURVEY
  * §7.4.2). The clock is injectable for deterministic tests.
  */
final class CacheStore(spark: SparkSession, dir: String, ttlMs: Long,
    maxEntries: Int, now: () => Long = () => System.currentTimeMillis()) {

  private val indexPath = s"$dir/_index"

  // all filesystem access goes through the Hadoop FS API so the cache
  // works on any supported filesystem, not just local disk
  private def fs = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def indexOpt(): Option[DataFrame] =
    VersionedStore.latest(spark, indexPath)
      .map(v => spark.read.parquet(VersionedStore.verDir(indexPath, v)))

  private def writeIndex(df: DataFrame): Unit = {
    val v = VersionedStore.commit(spark, indexPath, df.coalesce(1))
    VersionedStore.retainFrom(spark, indexPath, v - 1)
  }

  /** Cache key for a criteria map — md5 of the sorted, normalized
    * criteria (reference persistent_cache.py:42-44). */
  def keyFor(criteria: Map[String, String]): String = {
    val canon = criteria.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${k.trim.toLowerCase}=${v.trim.toLowerCase}" }
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Fetch a live entry (TTL-checked); None on miss or expiry. */
  def get(key: String): Option[DataFrame] = {
    val live = indexOpt().exists(ix =>
      !ix.filter(col("cache_key") === key && col("expiry_ms") > now()).isEmpty)
    if (live) Some(spark.read.parquet(s"$dir/$key")) else None
  }

  /** Store a result set under a key; evicts expired entries always and
    * oldest entries beyond maxEntries (oldest-first, like
    * persistent_cache.py:77-93). */
  def put(key: String, result: DataFrame): Unit = {
    result.write.mode("overwrite").parquet(s"$dir/$key")
    val t = now()
    import spark.implicits._
    val fresh = Seq((key, t, t + ttlMs)).toDF("cache_key", "created_ms", "expiry_ms")
    val merged = indexOpt() match {
      case Some(ix) => Merge.upsert(ix, fresh, Seq("cache_key"))
      case None => fresh
    }
    val alive = merged.filter(col("expiry_ms") > t)
      .orderBy(col("created_ms").desc, col("cache_key"))
      .limit(maxEntries)
    val keep = alive.collect().map(_.getString(0)).toSet
    writeIndex(alive)
    // drop payload dirs no longer indexed
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).foreach { f =>
      val n = f.getPath.getName
      if (f.isDirectory && n != "_index" && !keep.contains(n))
        fs.delete(f.getPath, true)
    }
  }

  /** Number of live (unexpired) entries. */
  def size(): Long =
    indexOpt().map(_.filter(col("expiry_ms") > now()).count()).getOrElse(0L)
}
