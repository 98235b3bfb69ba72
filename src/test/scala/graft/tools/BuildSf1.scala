package graft.tools

import org.apache.spark.sql.functions._

/** Builds (or resumes) the full sf≈1 replica used by the r10 headroom
  * probe — 10× tiling of sf0.1 with offset keys so FK joins replicate
  * and true answers scale exactly; document text decorrelated per
  * replica by a substitution cipher so replicas share no shingles (see
  * BASELINE.md's r10 headroom series for the rationale). Split out in
  * r11 so the FULL 30x-gate bench can run against the replica via
  * `SPARK_GRAFT_SF_DIR=/tmp/graft-probe-sf1 runMain graft.Bench`
  * (the r11 queue's full-suite sf1 row) without re-timing the probe.
  *
  * Idempotent: tables with a _SUCCESS marker are skipped.
  *
  * Run:  sbt "Test/runMain graft.tools.BuildSf1"
  */
object BuildSf1 {
  val Dir = "/tmp/graft-probe-sf1"

  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val mult = 10
    val off = 10000000L

    def tile(table: String, keyCols: Seq[String],
        perReplica: (org.apache.spark.sql.DataFrame, Int) =>
          org.apache.spark.sql.DataFrame = (df, _) => df): Unit = {
      val src = s.read.parquet(s"$sf/$table.parquet")
      val done = new java.io.File(s"$Dir/$table.parquet/_SUCCESS")
      if (done.exists()) return
      println(s"[sf1] tiling $table")
      (0 until mult).map { i =>
        perReplica(keyCols.foldLeft(src) { (df, k) =>
          df.withColumn(k, col(k) + i * off) }, i)
      }.reduce(_ unionAll _).repartition(64)
        .write.mode("overwrite").parquet(s"$Dir/$table.parquet")
    }
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    tile("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("text",
        translate(lower(col("text")), alpha,
          alpha.drop(i % 26) + alpha.take(i % 26))))
    // embeddings decorrelate like the text does: each replica ROTATES
    // the dimension axis (a permutation — every within-replica dot
    // product, norm and neighbor structure is preserved EXACTLY, so
    // true answers replicate), while cross-replica vectors decorrelate
    // instead of being bit-identical clones. Verbatim copies made every
    // vector a 10-way exact dup: LSH buckets grew 10×, in-bucket pairs
    // 100×, and dedup_embed_dial OOM'd the first full-suite sf1 run —
    // and a 10× corpus of verbatim clones is the WRONG model anyway.
    tile("embeddings", Seq("vec_id"), (df, i) =>
      if (i == 0) df
      else {
        val r = (i * 7) % 61 + 1
        df.withColumn("embedding", expr(
          s"concat(slice(embedding, ${r + 1}, size(embedding) - $r)," +
            s" slice(embedding, 1, $r))"))
      })
    tile("events", Seq("event_id", "user_id"))
    tile("customer", Seq("c_custkey"))
    tile("supplier", Seq("s_suppkey"))
    tile("part", Seq("p_partkey"))
    tile("orders", Seq("o_orderkey", "o_custkey"))
    tile("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    tile("region", Seq())
    tile("nation", Seq())
    println(s"[sf1] replica ready at $Dir")
    s.stop()
  }
}
