package graft.functions

import graft.expr.{DotExpr, L2SqExpr, NormSqExpr}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}

/** Vector distance/similarity functions — native one-pass Catalyst
  * expressions ([[graft.expr.VectorMath]]) over ARRAY<DOUBLE>, reached
  * through a single codegen'd call (the composed zip_with/aggregate form
  * has identical semantics but interprets its lambdas per element — too
  * slow for the kNN inner loop).
  *
  * All arithmetic is double-precision with a fixed left-to-right fold order
  * so results are bit-stable across engines: the per-element ops are exact
  * IEEE-754 and accumulation is in array-index order. Inputs are cast to
  * ARRAY<DOUBLE> (exact for floats) so one native code path serves every
  * call site.
  *
  * The reference's distance metric is L2/Euclidean — go-hnsw is an L2-space
  * index (/root/reference/db/hnsw.go:4, go.mod:11). Cosine/dot are
  * extensions for the similarity-search operators.
  */
object VectorFunctions {

  private def da(c: Column): Column = c.cast("array<double>")

  /** Squared L2 distance; fold order = array order. */
  def l2Sq(a: Column, b: Column): Column =
    toCol(L2SqExpr(toExpr(da(a)), toExpr(da(b))))

  /** Euclidean (L2) distance — the reference's metric. */
  def l2(a: Column, b: Column): Column = sqrt(l2Sq(a, b))

  /** Dot product; fold order = array order. */
  def dot(a: Column, b: Column): Column =
    toCol(DotExpr(toExpr(da(a)), toExpr(da(b))))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(toCol(NormSqExpr(toExpr(da(a)))))

  /** Cosine similarity in [-1, 1]; null-safe on zero vectors via nullif. */
  def cosineSim(a: Column, b: Column): Column =
    dot(a, b) / nullif(norm(a) * norm(b), lit(0.0))

  /** Cosine distance = 1 - cosine similarity. */
  def cosineDist(a: Column, b: Column): Column = lit(1.0) - cosineSim(a, b)

  /** Random-hyperplane LSH banding of an embedding, as a generator of
    * one `(band, bv)` row per band: `bv` packs the signs of the
    * vector's projections onto hyperplanes `band·bits … band·bits +
    * bits − 1` ([[graft.expr.TextHash.hyperBands]], one codegen'd pass,
    * the same doubles as the oracles' list_sum fold). */
  def hyperBands(embedding: Column, bitsPerBand: Int, nBands: Int): Column =
    posexplode(toCol(graft.expr.HyperBandValues(toExpr(embedding),
      bitsPerBand, nBands))).as(Seq("band", "bv"))
}
