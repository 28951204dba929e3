package graft

/** Dev-only plan dumper: `.explain("formatted")` text for named queries,
  * one `===== name =====` block each, on a session configured like the
  * bench (same shuffle partitions / master layout) so the dumped plan is
  * the one the bench actually times. SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS
  * as in Bench; mode overridable with SPARK_GRAFT_EXPLAIN=simple.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN", "formatted") match {
      case "simple" => org.apache.spark.sql.execution.SimpleMode
      case _        => org.apache.spark.sql.execution.FormattedMode
    }
    val spark = Harness.builder(Harness.cpus, Harness.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(mode))
    }
    spark.stop()
  }
}
