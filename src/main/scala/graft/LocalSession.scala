package graft

import org.apache.spark.sql.SparkSession

/** The local[`cpus`] session every driver-facing main (Verify, Bench)
  * runs on — one definition, so a config change cannot drift
  * between the correctness and timing surfaces.
  *
  * `canChangeCachedPlanOutputPartitioning` (off by default) lets AQE
  * re-coalesce shuffles feeding cached plans: the iterative operators
  * persist per step and would otherwise pin full-width shuffles.
  *
  * `spark.sql.codegen.cache.maxEntries` (static, default 100) bounds
  * Spark's cache of compiled whole-stage-codegen classes. Measured working
  * set: perfbench's dedup-pipeline compiles 126 distinct classes in its
  * set-up (input load plus one job). At 100 entries the LRU evicted each
  * class before the next job needed it, and a warm job recompiled 96 of
  * them; at [[codegenCacheEntries]] a warm job compiles none, with room
  * left for the other families a long-lived driver runs. */
object LocalSession {
  val codegenCacheEntries = 256

  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the already-running-session counterpart of GraftExtensions'
    // injectOptimizerRule (getOrCreate can return a prior session, so
    // guard against appending the rule twice)
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.LevenshteinBandGuard))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.LevenshteinBandGuard
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
