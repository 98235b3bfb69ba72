package kaerbench

import graft.operators.Dedup
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The dedup layer, timed in traced runs: fresh 5k-document shards
  * through `Dedup.dedupMinhashLsh` (which computes and memoizes the
  * verified near-duplicate pairs) and `Dedup.dedupKeepBest` (which
  * reuses them), every answer checked. No shard is seen twice, so the
  * memo never serves a timed call. The first shard warms the path; the
  * second is traced. */
object DedupProbe {
  val ShardDocs = 5000
  /** `nearCorpus` plants a copy of every fifth document at this offset,
    * cut by this many characters. */
  val CopyOffset = 100000
  val CopyCut = 15
  /** Every document ends in a rule line of exactly `CopyCut` characters
    * and no word characters, so a planted copy has its source's word
    * shingles: Jaccard 1, which MinHash banding always catches. That is
    * what lets the check demand every planted copy in its source's
    * cluster; below Jaccard 1 banding is probabilistic by design. */
  val Footer = "\n\n" + "-" * (CopyCut - 2)

  private def tmpDirs(prefix: String): Int = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator.asScala.count(_.getFileName.toString.startsWith(prefix))
    finally s.close()
  }

  /** Writes shard `texts` as `<dir>/documents.parquet` (doc_id, text). */
  private def writeShard(ctx: Ctx, dir: String, texts: Vector[String]): Unit = {
    require(texts.length <= CopyOffset,
      s"doc_id must stay below $CopyOffset, where nearCorpus plants copies")
    import ctx.spark.implicits._
    ctx.spark.sparkContext
      .parallelize(texts.indices.map(i => (i.toLong, texts(i))), ctx.cores)
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
  }

  private def shingles(text: String): Set[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toVector
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def shard(ctx: Ctx, dir: String, texts: Vector[String]): Unit = {
    writeShard(ctx, dir, texts)
    val memoDirs = tmpDirs("graft-npairs-")
    val (pairs, keep) = ctx.tracer.root("dedup.shard", "dedup", newOp = true) {
      val pairs = ctx.tracer.spanWith("operators.dedup.pairs") {
        Main.collect(ctx, Dedup.dedupMinhashLsh(ctx.spark, dir))
      }(p => Seq("verified_pairs" -> p.length.toDouble))
      val keep = ctx.span("operators.dedup.cluster") {
        Main.collect(ctx, Dedup.dedupKeepBest(ctx.spark, dir))
      }
      (pairs, keep)
    }
    CheckFailed.require(tmpDirs("graft-npairs-") == memoDirs + 1,
      "the near-pair memo served a shard it had not seen (no new scratch dir)")
    check(texts, pairs.map(r => (r.getLong(0), r.getLong(1))),
      keep.map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))))
  }

  /** Verified pairs really are near-duplicates, every planted copy sits
    * in its source's cluster, and each cluster keeps its longest member
    * (ties to the lower id). */
  private def check(texts: Vector[String], pairs: Array[(Long, Long)],
      keep: Array[(Long, (Long, Long, Long))]): Unit = {
    def text(id: Long): String =
      if (id < CopyOffset) texts(id.toInt)
      else texts((id - CopyOffset).toInt).dropRight(CopyCut)
    val ids = texts.indices.map(_.toLong) ++
      texts.indices.filter(_ % 5 == 0).map(_ + CopyOffset.toLong)
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (sa, sb) = (shingles(text(a)), shingles(text(b)))
      val inter = sa.intersect(sb).size
      CheckFailed.require(2 * inter >= sa.size + sb.size - inter,
        s"pair ($a, $b) verified below Jaccard 0.5")
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    texts.indices.filter(_ % 5 == 0).foreach { i =>
      CheckFailed.require(find(i) == find(i + CopyOffset.toLong),
        s"planted copy ${i + CopyOffset} is not in the cluster of $i")
    }
    val want = ids.groupBy(find).map { case (root, members) =>
      val best = members.maxBy(id => (text(id).length, -id))
      root -> (best, text(best).length.toLong, members.size.toLong)
    }
    CheckFailed.require(keep.length == want.size && keep.forall { case (c, v) => want.get(c).contains(v) },
      s"dedupKeepBest returned ${keep.length} clusters; ${want.size} expected, " +
        s"first differing: ${keep.find { case (c, v) => !want.get(c).contains(v) }}")
  }

  def run(ctx: Ctx): Unit = {
    val gen = new Gen(ctx.seed, 4)
    for (i <- 0 until 2) {
      ctx.tracer.on = i == 1
      shard(ctx, ctx.runDir.resolve(s"shard$i").toString,
        Vector.fill(ShardDocs)(gen.text(30, 60) + Footer))
    }
    ctx.tracer.on = false
    ctx.extra("scratch_dirs_left") = tmpDirs("graft-")
  }
}
