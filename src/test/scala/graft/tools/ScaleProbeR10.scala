package graft.tools
import org.apache.spark.sql.functions._

/** Round-10 HEADROOM probe: the 2× perf gate runs at sf0.1 — this
  * builds a full sf≈1 replica (10× tiling with offset ids, so every
  * join key stays consistent and true answers replicate) and times the
  * TEN heaviest sf-scalable gates at both scales. The claim under
  * test: no hidden superlinearity — each gate's sf1/sf0.1 wall-clock
  * ratio should sit at ~10× or below (below when fixed overhead still
  * dominates at sf0.1). Streaming gates are excluded by design: they
  * synthesize their own bounded streams (engine-fixed cost, not
  * sf-driven).
  *
  * Replica key offsets: documents/embeddings ids shift by 10^7 per
  * copy; TPC-H fact keys (custkey/suppkey/partkey/orderkey) shift
  * consistently so FK joins replicate; region/nation are fixed dims and
  * copy through unchanged; events shift event_id and user_id (the
  * event_type label set is fixed, as in any real corpus).
  *
  * Document TEXT is decorrelated per replica with a substitution
  * cipher (alphabet rotated by the replica index): token lengths,
  * counts, and the WITHIN-replica overlap structure are preserved, but
  * replicas share no shingles — the honest 10× model. Naive exact-copy
  * tiling makes every doc a 10-way near-duplicate, so true pair counts
  * grow ~100× (quadratic in copies) and dedup gates read as
  * superlinear when they are actually sublinear in their OUTPUT (the
  * first run of this probe measured dedup_jaccard_exact at 14.6× and
  * tripped the simhash bucket-overflow guard at 10,630 members —
  * the guard doing exactly its job against a pathological corpus).
  *
  * Run:  sbt "Test/runMain graft.tools.ScaleProbeR10"
  */
object ScaleProbeR10 {
  private val Probes = Seq(
    "dedup_jaccard_exact", "dedup_simhash_pairs", "pipeline_decontaminate",
    "dedup_clusters", "graph_triangles", "bpe_encode", "text_lm_score",
    "sample_dsir", "sql_tpch_q2", "sql_tpch_q21")

  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val mult = 10
    val dir = s"/tmp/graft-probe-sf1"
    val off = 10000000L

    def tile(table: String, keyCols: Seq[String],
        perReplica: (org.apache.spark.sql.DataFrame, Int) =>
          org.apache.spark.sql.DataFrame = (df, _) => df): Unit = {
      val src = s.read.parquet(s"$sf/$table.parquet")
      val done = new java.io.File(s"$dir/$table.parquet/_SUCCESS")
      if (done.exists()) return
      (0 until mult).map { i =>
        perReplica(keyCols.foldLeft(src) { (df, k) =>
          df.withColumn(k, col(k) + i * off) }, i)
      }.reduce(_ unionAll _).repartition(64)
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    }
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    tile("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("text", // rotate-by-i substitution cipher
        translate(lower(col("text")), alpha,
          alpha.drop(i % 26) + alpha.take(i % 26))))
    tile("embeddings", Seq("vec_id"))
    tile("events", Seq("event_id", "user_id"))
    tile("customer", Seq("c_custkey"))
    tile("supplier", Seq("s_suppkey"))
    tile("part", Seq("p_partkey"))
    tile("orders", Seq("o_orderkey", "o_custkey"))
    tile("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    tile("region", Seq())
    tile("nation", Seq())

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // JIT/codegen warmup at gate scale
    Probes.foreach(q => noop(graft.SparkEntry.queries(q)(s, "/root/testdata/sf0.01")))

    val rows = Probes.map { q =>
      val fn = graft.SparkEntry.queries(q)
      val t0 = System.nanoTime(); noop(fn(s, sf))
      val base = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime(); noop(fn(s, dir))
      val big = (System.nanoTime() - t1) / 1e9
      println(f"[headroom] $q%-24s sf0.1=$base%6.2fs sf1=$big%7.2fs " +
        f"ratio=${big / base}%5.2fx")
      (q, base, big)
    }
    val (tb, tg) = (rows.map(_._2).sum, rows.map(_._3).sum)
    println(f"[headroom] TOTAL                    sf0.1=$tb%6.2fs " +
      f"sf1=$tg%7.2fs ratio=${tg / tb}%5.2fx (10x data)")
    s.stop()
  }
}
