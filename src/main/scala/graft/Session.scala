package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: every main (Bench, Verify, PlanDump,
  * ScaleUp) and the test suites go through `Session.build`, so a plan
  * measured by the bench, dumped by PlanDump, and pinned by a test comes
  * from the same engine configuration.
  *
  * Fixed settings: `local[cpus]` with `cpus` shuffle partitions, UTC
  * session time zone, TIMESTAMP(NANOS) parquet read as longs (one
  * generator layout of `events.parquet` needs it), the warehouse under
  * [[Scratch]], the codegen class cache at [[CodegenCacheEntries]], UI off,
  * and [[GraftExtensions]] (the native kernels as SQL functions plus the
  * optimizer and planner rules).
  */
object Session {

  /** Spark's generated-class cache holds 100 entries by default, and a
    * single loop query here compiles ~120 distinct whole-stage units
    * (10 BPE merge rounds x ~12 classes), so every loop query evicted its
    * own entries and re-Janino-compiled ~90 classes on the SECOND rep of
    * the SAME plan (measured via CodegenMetrics; task threads sat in
    * UnitCompiler under the compile lock). Sized to the registry's plan
    * diversity — not a scale- or core-count-dependent value: any
    * deployment running this many distinct plans per JVM pays the same
    * recompilation tax per executor. ~4096 generated classes is tens of
    * MB of bytecode.
    */
  val CodegenCacheEntries = 4096

  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def build(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", Scratch.path("warehouse"))
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
}
