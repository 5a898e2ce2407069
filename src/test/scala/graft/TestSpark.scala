package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. The codegen cache takes
  * the production policy, [[GraftSession.CodegenCacheConf]], so the
  * suites compile generated code as often as the engine does. */
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
      .config(GraftSession.CodegenCacheConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
