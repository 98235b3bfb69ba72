package kaerbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** State of one benchmark run: the session, the run's own directory,
  * the timed operations, and the tracer. */
final class Ctx(val spark: SparkSession, val runDir: Path, val seed: Long,
    seconds: Double, val traced: Boolean, launchedMs: Long) {
  val exec = new ExecListener
  spark.sparkContext.addSparkListener(exec)
  /** A traced run also traces its set-up, which is where the write
    * path runs. */
  val tracer = new Tracer(spark.sparkContext, exec)
  tracer.on = traced
  val heap = new HeapWatch
  /** Persist root of every collection this run creates. */
  val store: String = runDir.resolve("store").toString
  val cores: Int = spark.sparkContext.defaultParallelism
  val extra = mutable.LinkedHashMap.empty[String, Double]
  private val ops = mutable.ArrayBuffer.empty[(String, String, Double, Long)]
  private var phase = "setup"
  private var setupS = Double.NaN
  private var excludedNs = 0L
  var attempted = 0
  var failed = 0
  private val recalls = mutable.ArrayBuffer.empty[Double]
  def recall(r: Double): Unit = recalls += r

  /** A named step of set-up, timed into the run's details (and a
    * root span of its own when traced). */
  def setup[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.root(s"setup.$name", name, newOp = true)(body)
    finally extra(s"setup.${name}_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Set-up work that serves only the checks, kept out of `setup_s`. */
  def checkPrep[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally excludedNs += System.nanoTime() - t0
  }

  /** One user operation, timed. A throw counts as a failed operation
    * and the loop goes on; a failed check ends the run. */
  def op[T](kind: String, docs: Long)(body: => T): Option[T] = {
    if (phase == "setup") return Some(body)
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = tracer.root(s"op.$kind", kind, newOp = true)(body)
      ops += ((kind, phase, (System.nanoTime() - t0) / 1e6, docs))
      Some(out)
    } catch {
      case e: CheckFailed => throw e
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[kaerbench] $kind failed: $e")
        None
    }
  }

  /** Calls made only when tracing, after the operation they describe,
    * to time one layer on its own. */
  def probe(kind: String)(body: => Unit): Unit =
    if (tracer.on) tracer.root(s"probe.$kind", kind, newOp = false)(body)

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def count(name: String, value: Double): Unit = tracer.count(name, value)

  /** The timed phase: `step` in a closed loop for the run's seconds.
    * A traced run traces every second step, so traced and untraced
    * steps see the same JVM state and their difference is the
    * tracing overhead. */
  def run(step: () => Unit): Unit = {
    setupS = (System.currentTimeMillis() - launchedMs) / 1e3 - excludedNs / 1e9
    val load = new ExternalLoad
    heap.armed = true
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < end) {
      tracer.on = traced && n % 2 == 1
      phase = if (tracer.on) "traced" else "plain"
      step()
      n += 1
    }
    tracer.on = false
    heap.armed = false
    phase = "done"
    extra("external_load_per_core") = load.perCore()
    extra("live_heap_peak_mb") = heap.peakMb
    if (recalls.nonEmpty) extra("ann_recall_at_10") = recalls.sum / recalls.size
  }

  def writeResult(): Unit = {
    if (traced) tracer.writeJsonl(runDir.resolve("spans.jsonl"))
    val opsJson = ops.map { case (k, p, ms, d) => s"""["$k","$p",$ms,$d]""" }
    val extraJson = extra.map { case (k, v) => s""""$k":$v""" }
    Files.write(runDir.resolve("result.json"), (
      s"""{"setup_s":$setupS,"attempted":$attempted,"failed":$failed,""" +
        s""""cores":$cores,"extra":{${extraJson.mkString(",")}},""" +
        s""""ops":[${opsJson.mkString(",")}]}""").getBytes("UTF-8"))
  }
}

object Main {
  val K = 10

  /** Documents as the (_m_doc, _m_meta) frame `insertDF` takes. */
  def docFrame(ctx: Ctx, docs: Seq[Doc]): DataFrame = {
    import ctx.spark.implicits._
    ctx.spark.sparkContext
      .parallelize(docs.map(d => (d.text, d.metaJson)), ctx.cores)
      .toDF(graft.core.Schema.DocCol, graft.core.Schema.MetaCol)
  }

  /** Plan, then run: the two Spark layers under every call. */
  def collect(ctx: Ctx, df: DataFrame): Array[org.apache.spark.sql.Row] = {
    ctx.span("plan.plan")(df.queryExecution.executedPlan)
    ctx.span("exec.exec")(df.collect())
  }

  /** Bytes of every file under `dir`. */
  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = Paths.get(opts("run-dir"))
    val cores = opts("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kaerbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ctx = new Ctx(spark, runDir, opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", opts("launched-ms").toLong)
      Search.run(ctx, approximate = opts("workload") == "ann")
      if (ctx.traced) DedupProbe.run(ctx)
      ctx.writeResult()
    } finally spark.stop()
  }
}
