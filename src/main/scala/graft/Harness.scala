package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every harness main (Bench,
  * Verify, Smoke, PlanDump, the tools) and the test suites start
  * from, so a conf change cannot drift between them.
  */
object Harness {
  /** `SPARK_GRAFT_CPUS`, default 4: the core count of the harness mains. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** A `local[cores]` builder; callers add only confs of their own and
    * call `getOrCreate()`.
    */
  def builder(cores: Int, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long (oracle
      // outputs never select ts — ns precision exceeds TimestampType)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the generated-code cache defaults to 100 entries; a session
      // that plans 320 queries x several WholeStageCodegen units each
      // would re-pay janino compilation for code it compiled minutes
      // ago on every pass. Static conf: must be set before the session
      // exists. Sized to hold the whole suite's units.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
}
