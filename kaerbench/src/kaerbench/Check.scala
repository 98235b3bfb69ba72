package kaerbench

import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable

/** A wrong answer: the run fails loudly instead of reporting metrics. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object CheckFailed {
  def require(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)
}

/** The benchmark's own copy of a collection: each live id's generated
  * document and the vector the store holds for it. */
final class RefStore {
  val docs = mutable.LongMap.empty[Doc]
  val vecs = mutable.LongMap.empty[Array[Float]]

  /** Adopt rows (_m_id, _m_doc, _m_embedding) read back after an insert
    * of `batch`: ids must run firstId, firstId+1, ... in batch order. */
  def adopt(rows: Array[Row], batch: IndexedSeq[Doc], firstId: Long): Unit = {
    CheckFailed.require(rows.length == batch.length,
      s"insert stored ${rows.length} rows for a batch of ${batch.length}")
    rows.sortBy(_.getLong(0)).zipWithIndex.foreach { case (r, i) =>
      val id = r.getLong(0)
      CheckFailed.require(id == firstId + i && r.getString(1) == batch(i).text,
        s"insert assigned id $id to the wrong document (expected ${firstId + i})")
      docs(id) = batch(i)
      vecs(id) = r.getSeq[Float](2).toArray
    }
  }

  def topK(q: Array[Float], k: Int, f: Filter,
      allow: Long => Boolean = _ => true): Vector[(Long, Double)] =
    Ref.topK(q, k, docs.keys, vecs(_), id => allow(id) && f.matches(docs(id)))

  def matching(f: Filter): Iterable[Long] = docs.collect { case (id, d) if f.matches(d) => id }

  def userBytes: Long = docs.valuesIterator.map(_.userBytes).sum
}

/** The persisted IVF index as the reference sees it: centroids and the
  * list each vector was assigned to, read from the index directory. */
final class IndexRef(spark: SparkSession, indexDir: String) {
  private val centroids = graft.operators.IvfIndex.readCentroids(spark, indexDir)
  private val listOf: mutable.LongMap[Long] = {
    val m = mutable.LongMap.empty[Long]
    spark.read.parquet(s"$indexDir/lists").select("vec_id", "cid").collect()
      .foreach(r => m(r.getLong(0)) = r.getAs[Number](1).longValue)
    m
  }

  /** Ids in the `nprobe` lists nearest to `q`, ties by list id. */
  def probed(q: Array[Float], nprobe: Int): Long => Boolean = {
    val lists = centroids.sortBy { case (cid, cv) => (Ref.l2sq(cv, q), cid) }
      .take(nprobe).map(_._1).toSet
    id => listOf.get(id).exists(lists)
  }
}

object Check {
  /** (id, distance) of a top-k result, in the order it came back. */
  def ranked(rows: Array[Row]): Vector[(Long, Double)] =
    rows.toVector.map(r => (r.getAs[Long]("_m_id"), r.getAs[Double]("_distance")))

  def sameRanking(what: String, got: Vector[(Long, Double)],
      want: Vector[(Long, Double)]): Unit =
    CheckFailed.require(got == want,
      s"$what returned ${got.mkString(" ")}; the brute-force reference is " +
        want.mkString(" "))

  /** Share of the exact top-k an approximate answer found. */
  def recall(got: Vector[(Long, Double)], exact: Vector[(Long, Double)]): Double =
    if (exact.isEmpty) 1.0
    else got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size.toDouble / exact.size
}
