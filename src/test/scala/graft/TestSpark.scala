package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. It takes the production
  * session confs, [[GraftSession.SessionConf]]: the codegen cache policy,
  * so the suites compile generated code as often as the engine does, and
  * the engine's `file:` filesystem, so they write files the way it does.
  * The test classpath's `core-site.xml` sets the same filesystem for any
  * Hadoop configuration, so a suite that opens a filesystem before this
  * session caches the same class; the session checks it as
  * [[GraftSession.build]] does. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.SessionConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.requireLocalFs(org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), s.sparkContext.hadoopConfiguration).getClass)
    s
  }
}
