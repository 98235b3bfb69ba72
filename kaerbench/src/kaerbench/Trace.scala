package kaerbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Spark job counters, summed over every job the session runs. The
  * tracer reads deltas around a span after draining the listener bus,
  * so a span is credited with exactly the jobs it ran. */
final class ExecListener extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val rowsIn = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  val peakMem = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      rowsIn.addAndGet(m.inputMetrics.recordsRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  def snapshot(): Array[Long] = Array(jobs.get, tasks.get, rowsIn.get,
    shuffleBytes.get, spillBytes.get, gcMs.get)
}

object ExecListener {
  val Names = Array("jobs", "tasks", "rows_in", "shuffle_bytes",
    "spill_bytes", "gc_ms")
}

/** One span: a timed call into a layer, named `<layer>.<what>`. */
final case class Span(id: Int, parent: Int, op: Int, kind: String,
    name: String, t0: Long, t1: Long, counts: Seq[(String, Double)])

/** In-memory span recorder for the single client thread. Off, it only
  * runs the body. Spans are written out once, when the run ends. */
final class Tracer(sc: SparkContext, exec: ExecListener) {
  var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = 0
  private var opKind = ""

  /** Root span of one operation (or of the probes that follow it):
    * every span inside shares its operation id, and the root records
    * the Spark job counters its body moved. */
  def root[T](name: String, kind: String, newOp: Boolean)(body: => T): T = {
    if (!on) return body
    if (newOp) opId += 1
    opKind = kind
    pending.clear()
    org.apache.spark.graft.ListenerBridge.drain(sc)
    val before = exec.snapshot()
    exec.peakMem.set(0L)
    spanWith(name)(body) { _ =>
      org.apache.spark.graft.ListenerBridge.drain(sc)
      val after = exec.snapshot()
      ExecListener.Names.indices.map(i =>
        ExecListener.Names(i) -> (after(i) - before(i)).toDouble) ++
        Seq("peak_exec_mem_mb" -> exec.peakMem.get / 1048576.0) ++ pending
    }
  }

  /** A value for the enclosing root span, such as rows returned. */
  def count(name: String, value: Double): Unit = if (on) pending += (name -> value)
  private val pending = ArrayBuffer.empty[(String, Double)]

  def span[T](name: String)(body: => T): T =
    spanWith(name)(body)(_ => Nil)

  /** A span around `body`; `counts` adds values known once it ends. */
  def spanWith[T](name: String)(body: => T)(
      counts: T => Seq[(String, Double)]): T = {
    if (!on) return body
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    val out = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    spans += Span(id, parent, opId, opKind, name, t0, t1, counts(out))
    out
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val c = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""kind":"${s.kind}","name":"${s.name}","t0":${s.t0},""" +
        s""""t1":${s.t1},"counts":{$c}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Largest old-generation occupancy seen right after a garbage
  * collection, from the JVM's GC notifications, while armed. */
final class HeapWatch {
  @volatile var armed = false
  private val peak = new AtomicLong

  locally {
    import java.lang.management.ManagementFactory
    import javax.management.{NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val listener: NotificationListener = (n, _) =>
      if (armed && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
          if (pool.contains("Old Gen") || pool.contains("Tenured"))
            peak.accumulateAndGet(u.getUsed, math.max)
        }
      }
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def peakMb: Double = peak.get / 1048576.0
}

/** Box CPU busy time minus this JVM's own CPU time, per core, over an
  * interval: the load other processes put on the machine meanwhile. */
final class ExternalLoad {
  private def busyJiffies(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // every field but idle (3) and iowait (4)
      f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
    } finally src.close()
  }
  private def procNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val (j0, p0, w0) = (busyJiffies(), procNs(), System.nanoTime())

  /** USER_HZ is 100 on Linux. */
  def perCore(): Double = {
    val wall = (System.nanoTime() - w0) / 1e9
    val busy = (busyJiffies() - j0) / 100.0
    val own = (procNs() - p0) / 1e9
    math.max(0.0, (busy - own) / wall / Runtime.getRuntime.availableProcessors())
  }
}
