package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Parity locks for the native SignedProjExpr kernel: quantization must
  * match Spark round() semantics bit-for-bit (the DuckDB oracle's
  * contract), and the projection must equal the composed
  * quantize-then-signed-sum form it replaced. */
class SignedProjSpec extends SparkTestBase {
  import spark.implicits._

  test("ProjMath.quantize == Spark round(x * 1e6) on edge values") {
    val xs = Seq(0.0f, 1.5e-6f, -1.5e-6f, 0.9999995f, -0.9999995f,
      1.2345678f, -1.2345678f, 0.5e-6f, -0.5e-6f)
    val viaSpark = xs.toDF("x")
      .select(round(col("x").cast("double") * 1000000L).cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val viaKernel = xs.map(x => graft.expr.ProjMath.quantize(x.toDouble))
    assert(viaKernel == viaSpark)
  }

  test("native projection == composed quantize + signed element sums") {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val df = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(50)
    val qe = transform(col("embedding"),
      x => round(x.cast("double") * 1000000L).cast("long"))
    val composed = array((1 to 16).map { j =>
      (1 to 64).map { i =>
        val e = element_at(qe, i)
        if (graft.expr.ProjMath.sign(i, j) > 0) e else negate(e)
      }.reduce(_ + _)
    }: _*)
    val native = toCol(graft.expr.SignedProjExpr(toExpr(col("embedding")), 16))
    val mismatches = df.select(composed.as("c"), native.as("n"))
      .filter(col("c") =!= col("n")).count()
    assert(mismatches == 0)
  }

  test("vector kernels compile in one class: cosineSim (a dot product " +
      "and two norms) and two projections, with no fallback to " +
      "interpreted evaluation") {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val v = spark.range(1, 6).select(
      array(col("id").cast("float"), lit(1f), lit(2f)).as("a"),
      array(lit(3f), col("id").cast("float"), lit(0.5f)).as("b"))
    def proj(c: String) = toCol(graft.expr.SignedProjExpr(toExpr(col(c)), 2))
    val q = Seq(VectorFunctions.cosineSim(col("a"), col("b")), proj("a"),
      proj("b"))
    // a failed compile throws: for an expression under CODEGEN_ONLY,
    // for a whole stage with the fallback off
    val keys = Seq("spark.sql.codegen.factoryMode",
      "spark.sql.codegen.fallback")
    def run(mode: String): Seq[Seq[Any]] = {
      spark.conf.set(keys(0), mode)
      spark.conf.set(keys(1), "false")
      try v.select(q: _*).collect().toSeq.map(_.toSeq)
      finally keys.foreach(spark.conf.unset)
    }
    val compiled = run("CODEGEN_ONLY")
    assert(compiled.size == 5 && compiled == run("NO_CODEGEN"))
  }
}
