package perfbench

import graft.SparkEntry
import graft.queries.{AnalyticsQueries, CdcQueries, ExtensionQueries, FrameMemo}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `suite`: a fixed sample of `SparkEntry.queries`, each forced by a
  * noop write like `graft.Bench`, over generated sf0.01-shaped tables.
  *
  * The whole 320-query suite takes minutes per pass, far beyond one
  * run's budget, so the workload runs every `Every`-th query by sorted
  * name (16 queries). The tables come from a fixed data seed, so each
  * query's row count and order-insensitive hash can be checked against
  * `expected_suite.json`; `--seed` sets the order the queries run in.
  *
  * Set-up is done once: it is dominated by the memo prewarm, and the
  * memos are built once per session and data directory.
  */
object Suite {
  val DataSeed = 42L
  val Every = 20

  def selection: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % Every == 0 => n }

  def family(q: String): String =
    if (CdcQueries.queries.contains(q)) "cdc"
    else if (AnalyticsQueries.queries.contains(q)) "analytics"
    else "extension"

  def run(c: Ctx, record: Option[Path]): Unit = {
    val spark = c.spark
    val t0 = System.nanoTime()
    val d = c.dir("suite/data")
    SuiteData.write(spark, DataSeed, d)
    c.rec.put("setup_reps_s", Seq((System.nanoTime() - t0) / 1e9))
    val w0 = System.nanoTime()
    // the session warm-up graft.Bench does: file listing and footer
    // reads are session costs, not the first query's
    spark.range(1000).selectExpr("sum(id)").collect()
    SuiteData.Tables.foreach(t => spark.read.parquet(s"$d/$t.parquet").count())
    c.rec.put("warmup_s", (System.nanoTime() - w0) / 1e9)
    FrameMemo.clearBuildLog()
    val (groups, prewarmS) = ExtensionQueries.prewarmSharedFrames(spark, d, par = Main.Cpus)
    c.rec.put("prewarm_s", prewarmS)
    c.rec.put("prewarm_groups", groups)

    val expected = if (record.isDefined) Map.empty[String, (Long, Option[String])] else loadExpected()
    val queries = SparkEntry.queries
    val names = selection
    val rng = new scala.util.Random(c.seed)
    val samples = Seq.newBuilder[Map[String, Any]]
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
    val errors = Seq.newBuilder[String]
    var attempted = 0
    var failed = 0
    val start = System.nanoTime()
    c.heap.startWindow()
    var pass = 0
    while (pass == 0 || System.nanoTime() - start < c.seconds * 1e9) {
      for (q <- rng.shuffle(names)) {
        attempted += 1
        val before = spark.sparkContext.getPersistentRDDs.keySet
        FrameMemo.currentConsumer.set(q)
        c.trace.foreach(_.startWindow())
        val t0 = System.nanoTime()
        val out = try {
          val df = queries(q)(spark, d)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          Right((df, t1, System.nanoTime()))
        } catch { case scala.util.control.NonFatal(e) => Left(e) }
        finally {
          c.trace.foreach(_.endWindow())
          FrameMemo.currentConsumer.remove()
        }
        out match {
          case Left(e) =>
            failed += 1
            errors += s"$q: $e"
          case Right((df, t1, t2)) =>
            val ok = if (pass > 0) true else {
              val dg = digest(df)
              digests(q) = dg
              expected.get(q) match {
                case _ if record.isDefined => true
                case None => errors += s"$q: no expectation recorded"; false
                case Some((rows, hash)) =>
                  val good = rows == dg._1 && hash.forall(_ == dg._2)
                  if (!good) errors += s"$q: got ${dg._1} rows / ${dg._2}, expected $rows / $hash"
                  good
              }
            }
            if (ok) samples += Map("query" -> q, "family" -> family(q), "pass" -> pass,
              "builder_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
              "total_s" -> (t2 - t0) / 1e9)
            else failed += 1
        }
        // free the checkpoint blocks this query created, as graft.Bench
        // does, except frames the shared memos own
        val owned = FrameMemo.ownedRddIds
        for ((id, rdd) <- spark.sparkContext.getPersistentRDDs
             if !before.contains(id) && !owned.contains(id))
          rdd.unpersist(blocking = false)
      }
      pass += 1
    }
    c.heap.endWindow()
    c.rec.put("passes", pass)
    c.rec.put("queries", samples.result())
    c.rec.put("memo_builds_in_window",
      FrameMemo.buildLog.count { case (_, _, who) => who.nonEmpty && !who.startsWith("(prewarm") })
    c.rec.put("attempted", attempted)
    c.rec.put("failed", failed)
    c.rec.put("correct", failed == 0)
    c.rec.put("errors", errors.result())
    record.foreach { p =>
      Files.writeString(p, digests.map { case (q, (rows, hash)) =>
        s"""  "$q": {"rows": $rows, "hash": "$hash"}"""
      }.mkString("{\n", ",\n", "\n}\n"))
    }
  }

  /** Row count and an order-insensitive hash of a result: the sum of
    * per-row xxhash64 values over a canonical form in which floating
    * values are rounded to 6 decimals, so fold-order noise in the last
    * bits does not change the hash.
    */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case _: DecimalType => c
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case _: StructType | _: MapType => to_json(c)
    case _ => c
  }

  private def loadExpected(): Map[String, (Long, Option[String])] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val in = getClass.getResourceAsStream("/expected_suite.json")
    require(in != null, "expected_suite.json is missing from the benchmark's resources")
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    JsonMethods.parse(text) match {
      case JObject(fields) => fields.map { case (q, v) =>
        val rows = (v \ "rows") match { case JInt(n) => n.toLong; case _ => -1L }
        val hash = (v \ "hash") match { case JString(s) => Some(s); case _ => None }
        q -> (rows, hash)
      }.toMap
      case _ => Map.empty
    }
  }
}
