package graft.tools

import org.apache.spark.sql.functions._

/** Builds (or resumes) the sf≈10 replica — the 100× rung of the scale
  * trajectory (sf0.1 → sf1 → sf10): 100× tiling of sf0.1 with offset
  * keys so FK joins replicate and true answers scale exactly, same as
  * [[BuildSf1]]. Decorrelation needs more care at 100 replicas than
  * the sf1 recipe gave at 10:
  *
  *  - TEXT: the sf1 Caesar shift has only 26 distinct values, so at
  *    100 replicas classes {i, i+26, …} would share a cipher and every
  *    doc would be a ~4-way verbatim dup across replicas — a
  *    pathological corpus model that explodes dedup candidate pairs
  *    quadratically. Each replica here gets its OWN seeded random
  *    alphabet permutation (26! space — no two replicas collide), so
  *    replicas share no shingles, as a real 100× corpus wouldn't.
  *  - EMBEDDINGS: the sf1 rotation r = (i·7)%61+1 likewise repeats
  *    past 61 replicas and would plant bit-identical vector clones.
  *    Each replica composes a dimension ROTATION (1..63) with an
  *    odd-dimension SIGN FLIP for the second rotation lap — both are
  *    orthogonal transforms, so every within-replica dot product,
  *    norm and neighbor structure is preserved EXACTLY (true answers
  *    replicate) while the (rotation, flip) pair is distinct for all
  *    i ≤ 126.
  *
  * Big relational tables tile through ONE crossJoin with the replica
  * index (a single scan, no 100-way union plan); documents/embeddings
  * loop per replica because the cipher/rotation are per-replica
  * literals.
  *
  * Idempotent: tables with a _SUCCESS marker are skipped.
  *
  * Run:  sbt "Test/runMain graft.tools.BuildSf10"
  */
object BuildSf10 {
  val Dir = "/tmp/graft-probe-sf10"
  val Mult = 100
  val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"

    def done(table: String): Boolean =
      new java.io.File(s"$Dir/$table.parquet/_SUCCESS").exists()

    // one-scan tiling for tables whose replicas are exact key-offset
    // copies: crossJoin with the replica index
    def tileJoin(table: String, keyCols: Seq[String]): Unit = {
      if (done(table)) return
      println(s"[sf10] tiling $table (crossJoin)")
      val src = s.read.parquet(s"$sf/$table.parquet")
      val reps = s.range(Mult).select(col("id").as("__rep"))
      keyCols.foldLeft(src.crossJoin(reps)) { (df, k) =>
          df.withColumn(k, col(k) + col("__rep") * Off) }
        .drop("__rep")
        .repartition(128)
        .write.mode("overwrite").parquet(s"$Dir/$table.parquet")
    }

    // per-replica loop for tables with replica-specific literals
    def tileLoop(table: String, keyCols: Seq[String],
        perReplica: (org.apache.spark.sql.DataFrame, Int) =>
          org.apache.spark.sql.DataFrame): Unit = {
      if (done(table)) return
      println(s"[sf10] tiling $table (per-replica)")
      val src = s.read.parquet(s"$sf/$table.parquet")
      (0 until Mult).map { i =>
        perReplica(keyCols.foldLeft(src) { (df, k) =>
          df.withColumn(k, col(k) + i * Off) }, i)
      }.reduce(_ unionAll _).repartition(64)
        .write.mode("overwrite").parquet(s"$Dir/$table.parquet")
    }

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def cipher(i: Int): String = {
      val r = new scala.util.Random(i)
      r.shuffle(alpha.toList).mkString
    }
    tileLoop("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("text",
        translate(lower(col("text")), alpha, cipher(i))))
    tileLoop("embeddings", Seq("vec_id"), (df, i) =>
      if (i == 0) df
      else {
        val r = ((i - 1) % 63) + 1
        val rotated = expr(
          s"concat(slice(embedding, ${r + 1}, size(embedding) - $r)," +
            s" slice(embedding, 1, $r))")
        if ((i - 1) / 63 == 0) df.withColumn("embedding", rotated)
        else df.withColumn("embedding",
          expr(s"transform(concat(slice(embedding, ${r + 1}, " +
            s"size(embedding) - $r), slice(embedding, 1, $r)), " +
            "(x, j) -> IF(j % 2 = 1, -x, x))"))
      })
    tileJoin("events", Seq("event_id", "user_id"))
    tileJoin("customer", Seq("c_custkey"))
    tileJoin("supplier", Seq("s_suppkey"))
    tileJoin("part", Seq("p_partkey"))
    tileJoin("orders", Seq("o_orderkey", "o_custkey"))
    tileJoin("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // region/nation are FIXED dimension tables (TPC-H keeps 5/25 rows
    // at every scale factor): copy through untiled. BuildSf1 tiled
    // them into 10 keyless duplicate copies, which multiplies every
    // nation-join's output by the replica count — at 100 replicas
    // that quadratic blowup would model nothing real.
    Seq("region", "nation").foreach { table =>
      if (!done(table)) {
        println(s"[sf10] copying $table (fixed dimension)")
        s.read.parquet(s"$sf/$table.parquet")
          .write.mode("overwrite").parquet(s"$Dir/$table.parquet")
      }
    }
    println(s"[sf10] replica ready at $Dir")
    s.stop()
  }
}
