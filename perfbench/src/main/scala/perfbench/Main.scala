package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. `perfbench/run.py` builds the
  * program, starts this main once per run and turns the raw record it
  * writes into the metrics line.
  *
  * Usage: `Main --workload <cdc_batch|cdc_trickle|suite> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <file>` and, for the
  * suite only, `--record <file>` to write the expectation file instead
  * of checking against it.
  *
  * Every input the program sees is generated from `--seed` inside
  * `--work`; the JVM writes nothing outside that directory.
  */
object Main {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val rec = new Record
    rec.put("workload", workload)
    rec.put("seed", seed)
    rec.put("trace", traced)

    val heap = new HeapWatch
    val t0 = System.nanoTime()
    val spark = session(work)
    rec.put("session_s", (System.nanoTime() - t0) / 1e9)
    val trace = if (traced) Some(Trace.register(spark)) else None
    val ctx = Ctx(spark, seed, seconds, work, rec, heap, trace)
    try {
      workload match {
        case "cdc_batch"   => CdcBatch.run(ctx)
        case "cdc_trickle" => CdcTrickle.run(ctx)
        case "suite"       => Suite.run(ctx, opts.get("record").map(Paths.get(_)))
        case other         => sys.error(s"unknown workload $other")
      }
      trace.foreach(_.finish(rec))
      rec.put("heap_live_peak_mb", heap.peakMb)
      rec.put("gc_s", heap.gcSeconds)
    } finally spark.stop()
    Files.writeString(out, rec.json)
  }

  /** `local[4]`: the workloads are sized for a 4-core host and use no
    * more than 4 threads or connections of their own.
    */
  private def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** What a workload needs: the session, its inputs' seed, the time box,
  * its scratch directory, the raw record, and the tracer when traced.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     work: Path, rec: Record, heap: HeapWatch,
                     trace: Option[Trace]) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}
