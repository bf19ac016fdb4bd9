package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (object = JVM-wide). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      // match Bench/Verify: the plan-shape guards must run under the same
      // optimizer configuration as the sessions they protect
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries",
        LocalSession.codegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // same optimizer extension as LocalSession: the suites must exercise
    // the plans the driver surfaces actually produce
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.LevenshteinBandGuard
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf
}
