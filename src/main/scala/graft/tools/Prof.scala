package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only stage profiler — round 12 edition: decomposes the scale
  * probe's one unexplained superlinear row, `q_interval_join`
  * (×8 cold ratio 11.4 in SCALING.md's table), into its stages at
  * THREE scales in one session: input interval counts, exploded bin
  * rows, bin-mate candidate pairs, verified overlap pairs, and the
  * end-to-end time — plus the physical join strategy actually chosen
  * at each scale (a broadcast→shuffle transition between scales shows
  * up as a step in the curve, exactly like the round-11 dedup
  * decomposition). Not part of the driver contract.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val d1 = args.headOption.getOrElse("/root/testdata/sf0.1")
    val d2 = if (args.length > 1) args(1) else "/tmp/graft_scale2"
    val d8 = if (args.length > 2) args(2) else "/tmp/graft_scale8"
    val spark = graft.Harness.builder(32, 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)
    ScaleProbe.buildStressed(spark, d1, d2, 2)
    ScaleProbe.buildStressed(spark, d1, d8, 8)

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label%-56s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val binW = 4000L
    def fdiv(c: org.apache.spark.sql.Column) =
      ((c - pmod(c, lit(binW))) / binW).cast("long")

    for (dir <- Seq(d1, d2, d8)) {
      println(s"[prof] ==== $dir ====")
      val ev = graft.Tables.events(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"),
          floor(col("value") * 1000).cast("long").as("lo"))
      val l = ev.filter(col("event_id") % 17 === 0)
        .select(col("event_id").as("l_id"), col("lo").as("l_lo"),
          (col("lo") + 3000L).as("l_hi"))
      val r = ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id").as("r_id"), col("lo").as("r_lo"),
          (col("lo") + 4500L).as("r_hi"))
      val lb = l.withColumn("__bin",
        explode(sequence(fdiv(col("l_lo")), fdiv(col("l_hi")))))
      val rb = r.withColumn("__bin",
        explode(sequence(fdiv(col("r_lo")), fdiv(col("r_hi")))))
      time("left intervals")(println(s"[prof]   n = ${l.count()}"))
      time("right intervals")(println(s"[prof]   n = ${r.count()}"))
      time("left exploded bin rows")(println(s"[prof]   n = ${lb.count()}"))
      time("right exploded bin rows")(println(s"[prof]   n = ${rb.count()}"))
      time("bin-mate candidate pairs (equi-join only)") {
        println(s"[prof]   n = ${lb.join(rb, Seq("__bin")).count()}")
      }
      val joined = graft.ops.Skew.binnedIntervalJoin(
        l, "l_lo", "l_hi", r, "r_lo", "r_hi", binW)
      time("verified overlap pairs (joined + filtered)") {
        println(s"[prof]   n = ${joined.count()}")
      }
      val full = graft.queries.ExtensionQueries
        .queries("q_interval_join")(spark, dir)
      // which physical join ran (broadcast vs shuffle): the step-change
      // suspect between scales
      val nodes = full.queryExecution.executedPlan.collect {
        case p if p.nodeName.contains("Join") => p.nodeName
      }.distinct
      println(s"[prof]   join nodes: ${nodes.mkString(", ")}")
      time("q_interval_join end-to-end (noop write)") {
        full.write.format("noop").mode("overwrite").save()
      }
      time("q_interval_join end-to-end pass 2") {
        full.write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
