package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Percentiles, JSON rendering and the run-long host sampler. */
object Stats {

  /** Linear-interpolated percentile of `xs` (p in 0..100); 0 for no data. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val rank = p / 100.0 * (s.length - 1)
      val lo = math.floor(rank).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Minimal JSON writer: Map, Seq, String, numbers, Boolean, null. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Samples the 1-minute load average every 250 ms, the share of CPU time
  * the hypervisor took from this machine (steal, from /proc/stat) over the
  * run, and the peak heap left live after a full garbage collection (summed
  * over heap pools, from the JVM's GC notifications). Runs in every mode: it
  * reads OS and JVM counters only and never touches Spark. */
final class HostSampler {
  /** (steal, total) jiffies of all CPUs; zeros where /proc/stat is absent. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }
  private val cpu0 = cpuJiffies()
  private val loads = mutable.ArrayBuffer.empty[Double]
  @volatile private var heapPeak = 0L
  @volatile private var running = true

  private val gcListener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification,
        hb: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        // only full collections: what a young collection leaves includes
        // old-generation garbage, which varies with GC timing
        if (info.getGcAction == "end of major GC") {
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP)
            .map(_.getName).toSet
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          if (after > heapPeak) heapPeak = after
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }.toSeq
  emitters.foreach(_.addNotificationListener(gcListener, null, null))

  private val thread = new Thread(() => {
    val os = ManagementFactory.getOperatingSystemMXBean
    while (running) {
      val l = os.getSystemLoadAverage
      if (l >= 0) loads.synchronized(loads += l)
      try Thread.sleep(250) catch { case _: InterruptedException => () }
    }
  }, "perfbench-host-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Collects once, so the peak covers at least one GC, then stops. */
  def finish(): Map[String, Double] = {
    System.gc()
    Thread.sleep(200)
    running = false
    thread.interrupt()
    thread.join()
    emitters.foreach(e =>
      try e.removeNotificationListener(gcListener)
      catch { case _: Exception => () })
    val ls = loads.synchronized(loads.toSeq)
    val cpu1 = cpuJiffies()
    val total = cpu1._2 - cpu0._2
    Map(
      "host.steal_pct" -> (if (total > 0) 100.0 * (cpu1._1 - cpu0._1) / total else 0.0),
      "host.load_min" -> (if (ls.isEmpty) 0.0 else ls.min),
      "host.load_mean" -> Stats.mean(ls),
      "host.load_max" -> (if (ls.isEmpty) 0.0 else ls.max),
      "host.nproc" -> Runtime.getRuntime.availableProcessors.toDouble,
      "jvm.heap_after_gc_peak_mb" -> heapPeak / (1024.0 * 1024.0))
  }
}
