package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The one "build once per session" cache for state derived from input
  * files (near-dup pair sets, BM25 and RRF rankings, the learned vocab,
  * BPE merges, basket statistics, bucketed table names).
  *
  * An entry is keyed on what it depends on: the session, the
  * file-listing fingerprint of every input ([[Scratch.fingerprint]]) and
  * the dials that shape it. A regenerated input or a changed dial is a
  * new key and rebuilds; nothing stale is served.
  *
  * A DataFrame entry ([[frame]]) is materialized as scratch parquet at
  * [[Scratch.dir]]`(dir, key)` and read back, never held in the block
  * manager, so a gate-boundary release ([[GateScope]]) cannot destroy
  * it. Any other entry ([[value]]) is held in memory. Every lookup is
  * reported to [[CachePayers.looked]], which counts hits and misses and
  * records the current gate as the payer of a miss.
  *
  * When the application ends, every scratch dir the memo created for it
  * is deleted and its entries are forgotten. No dir is deleted earlier:
  * a superseded key's frame may still be read by a running plan. */
object SessionMemo {

  /** One session's entries and the scratch dirs they own. `id` keeps
    * two sessions (or two applications on one tmpdir) out of each
    * other's dirs. */
  private final class Slot(val sc: SparkContext) {
    val id: String = java.util.UUID.randomUUID().toString
    val entries = mutable.HashMap.empty[String, Any]
    val dirs = mutable.ArrayBuffer.empty[String]
  }

  /** Guarded by `this`. The lock is held through a build, so an entry
    * is built exactly once even under concurrent callers. */
  private val slots = mutable.HashMap.empty[SparkSession, Slot]

  /** The in-memory entry `name` over `inputs` (parquet paths) and
    * `dials`, built on a miss. */
  def value[T](s: SparkSession, name: String, inputs: Seq[String],
      dials: Any*)(build: => T): T =
    lookup(s, name, "", inputs, dials)((_, _) => build)

  /** The DataFrame entry `name` over `inputs` and `dials`: built once,
    * written as parquet under a `graft-<dir>-…` scratch dir, and read
    * back. Row order is not kept; callers order the result. */
  def frame(s: SparkSession, name: String, dir: String, inputs: Seq[String],
      dials: Any*)(build: => DataFrame): DataFrame =
    lookup(s, name, dir, inputs, dials) { (slot, key) =>
      val out = Scratch.dir(dir, s"${slot.id}|$key")
      slot.dirs += out
      build.write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  private def lookup[T](s: SparkSession, name: String, dir: String,
      inputs: Seq[String], dials: Seq[Any])(
      build: (Slot, String) => T): T = synchronized {
    val key = (s"$name/$dir" +: inputs.map(Scratch.fingerprint(s, _)) ++:
      dials.map(String.valueOf)).mkString("|")
    val slot = slots.getOrElseUpdate(s, watch(s.sparkContext))
    CachePayers.looked(name, hit = slot.entries.contains(key))
    slot.entries.getOrElseUpdate(key, build(slot, key)).asInstanceOf[T]
  }

  private def watch(sc: SparkContext): Slot = {
    sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        end(sc)
    })
    new Slot(sc)
  }

  /** Application end: delete the scratch dirs of every session on `sc`
    * and forget their entries, payers and hit counts. Idempotent. */
  private[graft] def end(sc: SparkContext): Unit = synchronized {
    val done = slots.filter(_._2.sc eq sc)
    done.valuesIterator.flatMap(_.dirs)
      .foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    slots --= done.keys
    CachePayers.clear()
  }
}
