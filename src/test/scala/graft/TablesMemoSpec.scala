package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The footer memos of [[Tables]]: a warm engine builds queries without
  * schema-inference jobs, and every memoized fact is re-read when the
  * files behind its path (or, for schemas, the session's parquet confs)
  * change. */
class TablesMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val QueryKey = "graft.memo.query"

  private def tempDir(): String =
    Files.createTempDirectory("graft_memo").toString

  /** Spark jobs started while `f` runs, as (query, call site) pairs: `f`
    * names the query it is about to build through its argument. A marker
    * job after `f` shows the listener bus has delivered every earlier
    * job start. */
  private def jobsDuring(f: (String => Unit) => Unit): Seq[(String, String)] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val q = Option(e.properties).flatMap(p => Option(p.getProperty(QueryKey)))
        if (q.contains("marker")) drained.countDown()
        else jobs.add((q.getOrElse("?"), e.stageInfos.map(_.name).distinct.mkString(", ")))
      }
    }
    sc.addSparkListener(listener)
    try {
      f(q => sc.setLocalProperty(QueryKey, q))
      sc.setLocalProperty(QueryKey, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "the marker job was never reported")
    } finally {
      sc.setLocalProperty(QueryKey, null)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  test("a second construction of every dashboard query launches no Spark job") {
    Dashboard.queries.foreach(n => SparkEntry.queries(n)(spark, sf))
    val jobs = jobsDuring { building =>
      Dashboard.queries.foreach { n =>
        building(n)
        SparkEntry.queries(n)(spark, sf)
      }
    }
    assert(jobs.isEmpty, "repeat constructions launched jobs (query: call site): " +
      jobs.map { case (q, site) => s"$q: $site" }.mkString("; "))
  }

  test("the memoized schema of every table is the one Spark infers") {
    Tables.names.foreach(n => Tables.load(spark, sf, n))
    var memo = Map.empty[String, StructType]
    val jobs = jobsDuring { building =>
      Tables.names.foreach { n =>
        building(n)
        memo += n -> Tables.parquet(spark, s"$sf/$n.parquet").schema
      }
    }
    assert(jobs.isEmpty, s"memoized reads launched jobs: $jobs")
    Tables.names.foreach { n =>
      assert(memo(n) == spark.read.parquet(s"$sf/$n.parquet").schema, n)
    }
    assert(Tables.load(spark, sf, "events").schema("ts").dataType == TimestampType)
  }

  test("a table rewritten with another column set is read with its new schema") {
    val dir = tempDir()
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq((2L, 3.5)).toDF("id", "score").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "score"))
    assert(df.collect().toSeq == Seq(Row(2L, 3.5)))
  }

  test("a changed parquet conf re-infers the schema") {
    // a timestamp without isAdjustedToUTC, as DuckDB or pyarrow write it;
    // a file Spark writes carries Spark's own schema, which inference
    // prefers to the parquet types, so the conf would not show
    val path = s"${tempDir()}/ntz.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("t", 1704164645000000L))
    finally w.close()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.parquet(spark, path).schema("t").dataType == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(Tables.parquet(spark, path).schema("t").dataType == TimestampType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a key range rewritten in place past 2^32 is read anew") {
    // one parquet FILE at a fixed path, like the sf fixtures, replaced in
    // place: same name, only size or mtime can tell the two apart
    val path = s"${tempDir()}/ids.parquet"
    def writeIds(ids: Long*): Unit = {
      val out = tempDir() + "/out"
      ids.toDF("id").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles.find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    }
    writeIds(1L, 2L, 3L)
    assert(Tables.columnRangeLong(spark, path, "id") == Some((1L, 3L)))
    val big = (1L << 32) + 3
    writeIds(1L, 2L, big)
    assert(Tables.columnRangeLong(spark, path, "id") == Some((1L, big)),
      "a stale range would let Graph.pairsFrom pack ids >= 2^32")
  }
}
