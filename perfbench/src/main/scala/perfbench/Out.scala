package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

/** JSON lines and process facts the benchmark's JVM reports to run.py. */
object Out {

  /** Minimal JSON encoder for numbers, strings, booleans, maps and seqs. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => json(other.toString)
  }

  /** The one result line run.py reads from this JVM's stdout. */
  def emit(fields: Map[String, Any]): Unit = {
    println("PERFBENCH " + json(fields))
    System.out.flush()
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time this process has used so far, all threads, in seconds. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, seconds(t0))
  }

  /** Peak resident set of this process, in MB (Linux VmHWM). With a
    * fixed-size heap this mostly reads the heap size; it is kept in the run
    * record only. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Largest used heap right after a collection, summed over the heap
    * pools, in bytes: the memory the program kept live, independent of how
    * large the heap is. Updated from GC notifications once [[trackHeap]]
    * has run. */
  private val liveHeapPeak = new java.util.concurrent.atomic.AtomicLong(0L)

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Start recording the heap left after every collection. */
  def trackHeap(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = info.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          liveHeapPeak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ =>
  }

  /** Forget the peak so far, after a collection: work before this call,
    * such as set-up, does not count. */
  def resetHeapPeak(): Unit = {
    System.gc()
    liveHeapPeak.set(0L)
  }

  /** Peak live heap in MB. Collects once first, so that the heap still held
    * at this point counts even when no collection ran before; call it after
    * the timed work, while the session still holds its state. */
  def liveHeapPeakMb(): Double = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getUsage.getUsed).sum
    math.max(liveHeapPeak.get, used) / 1048576.0
  }

  def jvmFacts(): Map[String, Any] = Map(
    "peak_rss_mb" -> peakRssMb(),
    "gc_s" -> gcSeconds(),
    "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)

  /** Bytes of the regular files under `dir` whose names end in `suffix`
    * (0 when `dir` does not exist). */
  def bytesUnder(dir: String, suffix: String = ""): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix))
        .map(p => Files.size(p)).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root: Path = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }
}
