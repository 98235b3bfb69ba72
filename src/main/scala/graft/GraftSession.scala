package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main, probe tool and the
  * shared test session get theirs from [[local]], so parallelism is
  * derived from the box (or set once through `SPARK_GRAFT_CPUS`) instead
  * of being hard-coded per entry point. */
object GraftSession {

  /** Cores to run on: `SPARK_GRAFT_CPUS` when set, else every processor
    * the JVM sees. */
  def cpus: Int = cpus(sys.env)

  /** [[cpus]] over an explicit environment. A malformed or non-positive
    * value fails naming the variable, never as a bare
    * NumberFormatException or a `local[0]` master. */
  private[graft] def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS") match {
      case None => Runtime.getRuntime.availableProcessors()
      case Some(v) =>
        val n = v.trim.toIntOption.getOrElse(0)
        require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got: '$v'")
        n
    }

  /** A local session on `cpus` cores, with one shuffle partition per
    * core, UTC session time and the UI off. Returns the running session
    * when one exists (`getOrCreate`). */
  def local(cpus: Int = GraftSession.cpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
