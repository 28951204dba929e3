package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The traced run's Spark-side ledger, fed by Spark's public listener
  * APIs only: job intervals, stages, tasks with their time, shuffle and
  * spill bytes, and the Catalyst phase times of every SQL execution.
  * Events are kept with their own timestamps and cut to the measured
  * window when the run finishes, after the listener bus has drained.
  */
final class Trace private (spark: SparkSession) {
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]
  // (submission ms, tasks)
  private val stages = new ConcurrentLinkedQueue[(Long, Int)]
  // (launch ms, run ms, shuffle bytes, spill bytes)
  private val tasks = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]
  // (start ms, analysis+optimization+planning ms, function name)
  private val plans = new ConcurrentLinkedQueue[(Long, Long, String)]
  // measured windows as (from, until) ms; the suite opens one per query
  private val windows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.add((si.submissionTime.getOrElse(0L), si.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add((e.taskInfo.launchTime, e.taskInfo.duration,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => p.endTimeMs - p.startTimeMs).sum
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      plans.add((start, ms, fn))
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def startWindow(): Unit = synchronized { windows += ((System.currentTimeMillis(), Long.MaxValue)) }
  def endWindow(): Unit = synchronized {
    windows(windows.size - 1) = (windows.last._1, System.currentTimeMillis())
  }

  /** Drain the listener bus, then write the in-window events. */
  def finish(rec: Record): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    val ws = synchronized(windows.toList)
    def in(t: Long) = ws.exists { case (from, until) => t >= from && t <= until }
    val js = jobs.asScala.toSeq.filter { case (s, _) => in(s) }.sortBy(_._1)
    val ss = stages.asScala.toSeq.filter { case (s, _) => in(s) }
    val ts = tasks.asScala.toSeq.filter { case (s, _, _, _) => in(s) }
    val ps = plans.asScala.toSeq.filter { case (s, _, _) => in(s) }
    rec.put("trace_windows_ms", ws.map { case (f, u) => Seq(f, u) })
    rec.put("jobs_ms", js.map { case (s, e) => Seq(s, e) })
    rec.put("stages", ss.size)
    rec.put("single_task_stages", ss.count(_._2 <= 1))
    rec.put("tasks", ts.size)
    rec.put("task_s", ts.map(_._2).sum / 1000.0)
    rec.put("shuffle_mb", ts.map(_._3).sum / 1048576.0)
    rec.put("spill_mb", ts.map(_._4).sum / 1048576.0)
    rec.put("catalyst_s", ps.map(_._2).sum / 1000.0)
    // a noop write in overwrite mode runs as Spark's "overwrite" command
    rec.put("catalyst_write_s", ps.filter(_._3 == "overwrite").map(_._2).sum / 1000.0)
  }
}

object Trace {
  def register(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.sqlListener)
    t
  }
}
