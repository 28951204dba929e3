package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** The raw record a run hands to `run.py`: raw samples only (times,
  * counts, intervals). All metric arithmetic is done in
  * `perfbench/metrics.py`, where it is unit-tested.
  */
final class Record {
  private val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): Unit = synchronized { fields(k) = v }
  def json: String = synchronized(Record.render(fields.toMap))
}

object Record {
  def render(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int                => i.toString
    case l: Long               => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]        => s.map(render).mkString("[", ",", "]")
    case other                 => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}

/** Heap occupied after each GC, from the collectors' notifications
  * (per-pool usage after the collection, summed over heap pools), and
  * GC time. Both are taken over the measured window only;
  * [[endWindow]] runs one full collection so every window has at least
  * one after-GC sample.
  */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var open = false
  @volatile private var peak = 0L
  @volatile private var fullGcs = 0L
  private var gcMsAtStart = 0L
  private var gcMs = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapWatch.this.synchronized {
          if (open) peak = math.max(peak, after)
          if (info.getGcCause == "System.gc()") fullGcs += 1
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def startWindow(): Unit = synchronized {
    peak = 0L; open = true; gcMsAtStart = gcMillis
  }

  def endWindow(): Unit = {
    val before = synchronized(fullGcs)
    gcMs = gcMillis - gcMsAtStart
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(fullGcs) == before && System.nanoTime() < deadline) Thread.sleep(5)
    synchronized { open = false }
  }

  def peakMb: Double = peak / 1048576.0
  def gcSeconds: Double = gcMs / 1000.0
}
