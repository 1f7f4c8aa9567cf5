package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared local-session builder for the dev harnesses (Smoke, PipelineDemo,
  * Explain, TimeOne, …) — one place for the UTC/nanosAsLong/partition
  * settings instead of one copy per harness.
  */
object LocalSession {
  def apply(cores: Int = 4, logLevel: String = "WARN"): SparkSession = {
    // SPARK_GRAFT_SHUFFLE overrides shuffle parallelism for scale
    // experiments (default: one partition per core — right for the test
    // scale factors; raise with data volume, see SCALE.md 100x notes)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cores.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The engine's typed aggregates (top_k_by, mrl_quantiles,
      // misra_gries) have BOUNDED per-group buffers by design, so the
      // ObjectHashAggregate sort-based fallback (default: 128 distinct
      // keys per task!) only costs — measured 5.4s -> 0.5s on the
      // 100x top-k-per-group (SCALE.md round 10).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "131072")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
