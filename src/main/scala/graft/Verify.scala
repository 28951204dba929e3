package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.builder(Harness.cpus, Harness.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b dumps a subset — local profiling aid
    // (the driver never sets it; oracle_sql.json always stays complete)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      graft.queries.FrameMemo.withInvocationCheckpoints(spark) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // trained-artifact oracles (BPE merges) build here, against the
    // same session + dataset the queries ran on; a build failure falls
    // back to the static map (the affected query degrades to the
    // rows-only check) instead of zeroing the whole dump
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracle build failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
