package graftbench

/** Small numeric helpers shared by the workloads. */
object Stats {

  /** Linear-interpolated percentile (`q` in [0, 1]) of `xs`, the
    * "inclusive" definition (numpy's default): p0 is the minimum, p1
    * the maximum.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Least-squares slope of `y` over `x`. */
  def slope(xy: Seq[(Double, Double)]): Double = {
    val n = xy.size.toDouble
    val mx = xy.map(_._1).sum / n
    val my = xy.map(_._2).sum / n
    xy.map { case (x, y) => (x - mx) * (y - my) }.sum / xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
  }

  /** Total length of the union of half-open `[start, end)` intervals,
    * clipped to `[from, to)`. Used for the driver gap: wall time minus
    * the time at least one task was running.
    */
  def unionLength(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .toArray.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Summed length of the intervals, each clipped to `[from, to)`. */
  def clippedSum(intervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    intervals.iterator.map { case (s, e) => math.max(0L, math.min(e, to) - math.max(s, from)) }.sum

  /** Peak resident set size of this JVM in MiB (`VmHWM`), or the
    * committed heap + non-heap when /proc is unavailable.
    */
  def peakRssMb(): Double = {
    val status = new java.io.File("/proc/self/status")
    val fromProc =
      if (!status.canRead) None
      else {
        val src = scala.io.Source.fromFile(status)
        try src.getLines().find(_.startsWith("VmHWM:"))
          .map(_.split("\\s+")(1).toDouble / 1024.0)
        finally src.close()
      }
    fromProc.getOrElse {
      val m = java.lang.management.ManagementFactory.getMemoryMXBean
      (m.getHeapMemoryUsage.getCommitted + m.getNonHeapMemoryUsage.getCommitted) / 1048576.0
    }
  }
}

/** Peak heap in use right after a garbage collection, over the run:
  * the most the heap held once a collection had run, live data plus
  * garbage that collection left. Unlike the resident set it does not
  * depend on the heap size the JVM runs with.
  */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peakBytes = 0L

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peakBytes / 1048576.0
}
