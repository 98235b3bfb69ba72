package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar int8 quantization for embedding columns — the standard 4×
  * storage/bandwidth reduction for vector corpora at 100 TB scale:
  * store `(scale, int8[dim])` per vector, dequantize on read, search on
  * the reconstruction. Recall loss at 64-dim/int8 is negligible for
  * near-neighbor work; the exact float column stays the ground truth.
  *
  * Determinism contract (oracle-replicable): symmetric per-vector
  * scaling by max|v|, quantized value = floor(v·127/scale + 0.5) —
  * explicit floor-plus-half, NOT engine-dependent rounding; all math in
  * IEEE doubles; zero vectors quantize to all-zero with scale 0.
  *
  * The registered query is a full round trip: quantize → write parquet
  * (tinyint lists) → read back → dequantize → cosine top-k — so the
  * compressed sink AND source sit under the oracle gate, which
  * recomputes the identical quantize/dequantize pipeline in SQL.
  */
object Quantize {

  /** Per-vector scale: max absolute component (double). */
  def scaleOf(emb: Column): Column =
    array_max(transform(emb, v => abs(v.cast("double"))))

  /** int8 quantization: floor(v*127/scale + 0.5), clamped to [-127,127];
    * all-zero when scale is 0. */
  def quantizeI8(emb: Column, scale: Column): Column =
    when(scale > 0,
      transform(emb, v =>
        greatest(lit(-127L), least(lit(127L),
          floor(v.cast("double") * 127.0 / scale + 0.5)))
          .cast("byte")))
      .otherwise(transform(emb, _ => lit(0).cast("byte")))

  /** Reconstruction: q*scale/127 as double. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, v => v.cast("double") * scale / 127.0)

  private def scratch(dir: String): String =
    graft.core.Scratch.dir("quant", dir)

  /** Round trip + search: top-10 by cosine on the DEQUANTIZED vectors
    * against query vector 5 (itself excluded). */
  def quantizeTopk(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val out = scratch(dir)
    // two-step projection so the interpreted HOF scale pass (abs
    // transform + array_max over the 64-wide array) runs ONCE per row,
    // not once for the scale column and again inside quantizeI8
    e.select(col("vec_id"), col("label"), col("embedding"),
        scaleOf(col("embedding")).as("scale"))
      .select(col("vec_id"), col("label"), col("scale"),
        quantizeI8(col("embedding"), col("scale")).as("q"))
      .write.mode("overwrite").parquet(out)
    val stored = s.read.parquet(out)
      .withColumn("deq", dequantize(col("q"), col("scale")))
    val qv = stored.filter(col("vec_id") === 5)
      .select(col("deq").as("qv"))
    stored.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= 5)
      .withColumn("sim", cosineSim(col("deq"), col("qv")))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")
  }

  private val Dim = 64

  // ---- Product quantization (PQ) + asymmetric distance (ADC) ----
  //
  // The scale path past scalar int8: split each 64-dim vector into M=8
  // subspaces of 8 dims, store ONE byte per subspace (the id of the
  // nearest sub-codeword) — 8 bytes/vector vs 256, a 32× shrink — and
  // answer queries from a per-query lookup table of
  // (subspace × codeword) → partial distance, so scanning candidates
  // never touches float vectors at all. At 100 TB this is the
  // difference between scanning 100 TB of floats and ~3 TB of codes;
  // the exact float column stays the ground truth for the re-rank.
  //
  // Determinism contract (oracle-replicable, same device as ann_ivf's
  // fixed centroids): the codebook for subspace m is the m-th subvector
  // of the K=16 lowest-id vectors; assignment = argmin of the
  // left-to-right-folded squared L2, ties to the lowest codeword id.
  // A trained KMeans codebook drops in without changing the plan shape
  // (IvfIndex.fitKMeans is the deterministic fitter) but would put the
  // oracle out of reach.

  private val M = 8 // subspaces
  private val SubDim = Dim / M
  private val K = 16 // codewords per subspace

  /** PQ code columns c0..c{M-1} for `emb` against `cents` — per
    * subspace, argmin over the K sub-codewords; array_position finds
    * the FIRST minimum, so ties land on the lowest codeword id (the
    * oracle contract). Shared by both gates and the scale probe. */
  private[graft] def pqCodeCols(cents: Array[Array[Double]],
      emb: Column, asByte: Boolean): Seq[Column] = {
    require(cents.length == K, s"expected $K codebook vectors")
    (0 until M).map { m =>
      val dists = array((0 until K).map { k =>
        val sub = cents(k).slice(m * SubDim, (m + 1) * SubDim).toSeq
        l2Sq(slice(emb, m * SubDim + 1, SubDim), typedLit(sub))
      }: _*)
      val code = array_position(dists, array_min(dists)) - 1
      (if (asByte) code.cast("byte") else code.cast("int")).as(s"c$m")
    }
  }

  /** ADC distance for a query: a driver-computed (subspace × codeword)
    * lookup table — identical left-to-right folds to the oracle's list
    * comprehensions — applied to the code columns by element_at, summed
    * m-ascending. Zero float math per candidate row. */
  private[graft] def pqAdcCol(cents: Array[Array[Double]],
      q: Array[Double]): Column = {
    val lut: Array[Array[Double]] = Array.tabulate(M) { m =>
      Array.tabulate(K) { k =>
        var acc = 0.0
        var i = 0
        while (i < SubDim) {
          val d = q(m * SubDim + i) - cents(k)(m * SubDim + i)
          acc += d * d
          i += 1
        }
        acc
      }
    }
    (0 until M).map(m =>
        element_at(typedLit(lut(m).toSeq), col(s"c$m").cast("int") + 1))
      .reduceLeft(_ + _)
  }

  /** Per-subspace KMeans PQ codebook TRAINING — the FAISS trainer shape
    * over the engine's distributed fitter: subspace m's codebook is
    * [[IvfIndex.kmeansFit]] (seeded from the k lowest-id subvectors,
    * Lloyd iterations as distributed groupBy-means) run on the corpus's
    * m-th subvector slice. M narrow passes, each iteration ONE shuffle —
    * the IVF centroid fit's cost shape, per subspace; at 100 TB the
    * slices are column-pruned scans of the embedding column only.
    * Returns codebooks(m)(k) of subDim doubles, codeword ids ascending.
    *
    * Trained books drop into the same encode/ADC plan shape as the fixed
    * ones; the registered gates keep the FIXED-codebook contract for
    * oracle replicability (SURVEY §7.4), so the trainer is spec-verified
    * (QuantizeSpec: SSE no worse than the seed book) and recall-probed
    * (BASELINE.md `[recall-pq-res-kmeans]`) instead. */
  def pqTrainKmeans(vectors: DataFrame, m: Int = M, subDim: Int = SubDim,
      k: Int = K, iters: Int = 3): Array[Array[Array[Double]]] =
    Array.tabulate(m) { mm =>
      IvfIndex.kmeansFit(
        vectors.select(col("vec_id"),
          slice(col("embedding"), mm * subDim + 1, subDim)
            .as("embedding")),
        k, iters)
        .sortBy(_._1).map(_._2.map(_.toDouble)).toArray
    }

  /** PQ encode → parquet (8 tinyint codes/vector) → read back → ADC
    * candidate scan (LUT lookups only, no float math per candidate) →
    * exact re-rank of the top-50 on the float vectors: top-10 near
    * query vector 77 by L2. The compressed store AND the ADC ranking
    * both sit under the oracle gate. */
  def pqAdcTopk(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    // bounded driver collect: exactly K=16 codebook rows (the IvfIndex
    // centroid-collect precedent), plus the 1-row query vector
    val cents: Array[Array[Double]] = e.filter(col("vec_id") < K)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val q: Array[Double] = e.filter(col("vec_id") === 77)
      .select("embedding").head.getSeq[Float](0).map(_.toDouble).toArray

    val out = graft.core.Scratch.dir("pq", dir)
    e.select(col("vec_id") +: col("label") +:
        pqCodeCols(cents, col("embedding"), asByte = true): _*)
      .write.mode("overwrite").parquet(out)
    val codes = s.read.parquet(out)

    val cand = codes.filter(col("vec_id") =!= 77)
      .withColumn("d_adc", pqAdcCol(cents, q))
      .orderBy(col("d_adc").asc, col("vec_id").asc)
      .limit(50)
    val qv = e.filter(col("vec_id") === 77).select(col("embedding").as("qv"))
    cand.select("vec_id", "label")
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(qv))
      .withColumn("d", l2Sq(col("embedding"), col("qv")))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")
  }

  // ---- trained-PQ gate: integer-micro Lloyd per subspace ------------

  /** pq_adc_trained geometry: 8 subspaces × 8 dims, 8 codewords per
    * subspace (seeded from the 8 lowest vec_ids' subvectors, codeword
    * id = seed vec_id), 2 Lloyd rounds. Small enough that the training
    * chain unrolls into the DuckDB oracle; the shape is the production
    * one. */
  private val TrM = 8
  private val TrSub = 8
  private val TrK = 8
  private val TrRounds = 2
  private val TrQ = 1000000L

  private def quantMicros(c: Column): Column =
    transform(c, x => round(x.cast("double") * TrQ).cast("long"))

  /** One subspace's codebook as a literal array of (k, cv) structs. */
  private def bookLit(book: Array[(Long, Array[Long])]): Column =
    array(book.map { case (k, cw) =>
      struct(lit(k).as("k"), array(cw.map(lit(_)): _*).as("cv"))
    }: _*)

  /** Argmin codeword id over a codebook-literal column — an `aggregate`
    * HOF so the accumulator is a LAMBDA VARIABLE, not a duplicated
    * subtree (a when/otherwise fold copies the accumulator twice per
    * codeword — 2^K tree growth; the first cut of this gate paid 140 s
    * of planning for it). Strict `<` keeps the LOWEST codeword id on
    * ties (the oracle's row_number ORDER BY d2, k contract); integer
    * squared L2, exact LONG. */
  private def argminCode(bookCol: Column, sv: Column): Column =
    aggregate(
      bookCol,
      struct(lit(Long.MaxValue).as("d"), lit(-1L).as("k")),
      (acc, c) => {
        val d = aggregate(
          zip_with(sv, c.getField("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (x, y) => x + y)
        when(d < acc.getField("d"),
          struct(d.as("d"), c.getField("k").as("k"))).otherwise(acc)
      }).getField("k")

  private def subSlice(qe: Column, m: Int): Column =
    slice(qe, m * TrSub + 1, TrSub)

  /** PQ with a TRAINED codebook under the full oracle gate: per
    * subspace, [[TrRounds]] Lloyd iterations over micro-quantized
    * subvectors — integer assignment (argmin, ties to lowest codeword),
    * exact-integer floor-mean recompute, empty clusters keep their
    * previous centroid — then encode + ADC rank against query vector
    * 77. Every round is ONE distributed job over all subspaces at once
    * (subspace id is just a grouping key); the per-round driver
    * collect is the (8×8×8)-row centroid table — the same bounded
    * fixture as the IVF centroid reads. The integer-micro math makes
    * the TRAINING itself oracle-expressible (the kmeans_step device,
    * unrolled per round), closing the gap where trained-PQ recall wins
    * (RecallProbe r8) were only spec-verified. */
  def pqAdcTrained(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val qe = e.select(col("vec_id"), col("label"),
      quantMicros(col("embedding")).as("qe"))
    // (vec_id, m, sv): the corpus as subvector rows
    val subs = qe.select(col("vec_id"),
        posexplode(array((0 until TrM).map(m =>
          subSlice(col("qe"), m)): _*)).as(Seq("m", "sv")))
    // seed books: codeword id = vec_id of the 8 lowest-id vectors
    val seedRows = qe.filter(col("vec_id") < TrK).orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toArray))
    var books: Array[Array[(Long, Array[Long])]] =
      Array.tabulate(TrM)(m => seedRows.map { case (k, full) =>
        (k, full.slice(m * TrSub, (m + 1) * TrSub))
      })
    for (_ <- 1 to TrRounds) {
      // assign every subvector to its nearest current codeword (the
      // subspace picks its codebook by element_at on the nested
      // literal), then recompute per-(m, k, pos) exact floor-means —
      // one shuffle
      val booksLit = array((0 until TrM).map(m => bookLit(books(m))): _*)
      val assignCol =
        argminCode(element_at(booksLit, col("m") + 1), col("sv"))
      val means = subs.withColumn("k", assignCol)
        .select(col("m"), col("k"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("m", "k", "pos")
        .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("mq"))
        .orderBy("m", "k", "pos")
        .collect() // bounded: ≤ 8·8·8 = 512 rows
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case ((m, k), rs) =>
          ((m, k), rs.sortBy(_.getInt(2)).map(_.getLong(3)).toArray) }
      books = Array.tabulate(TrM)(m => books(m).map { case (k, old) =>
        (k, means.getOrElse((m, k), old)) // empty cluster: keep previous
      })
    }
    // encode + ADC against query 77, all per-row integer expressions
    val q77 = qe.filter(col("vec_id") === 77).select("qe").head()
      .getSeq[Long](0).toArray
    val lut: Array[Array[Long]] = Array.tabulate(TrM) { m =>
      val qsv = q77.slice(m * TrSub, (m + 1) * TrSub)
      books(m).map { case (_, cw) =>
        qsv.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum }
    }
    // one argmin per subspace (code columns), then code → LUT value via
    // a literal map lookup (not a when-chain — see argminCode's note)
    val withCodes = (0 until TrM).foldLeft(
        qe.filter(col("vec_id") =!= 77)) { (df, m) =>
      df.withColumn(s"code_$m",
        argminCode(bookLit(books(m)), subSlice(col("qe"), m)))
    }
    val adc = (0 until TrM).map { m =>
      val lutMap = map_from_arrays(
        array(books(m).map { case (k, _) => lit(k) }: _*),
        array(lut(m).map(lit(_)): _*))
      element_at(lutMap, col(s"code_$m"))
    }.reduce(_ + _)
    withCodes
      .withColumn("d_adc", adc)
      .orderBy(col("d_adc").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label", "d_adc")
  }

  /** IVF ∘ PQ — the production composition (the FAISS IVF-ADC shape):
    * coarse centroids prune the corpus to the probed lists, then the
    * ADC lookup table ranks what's left, then the exact re-rank. Every
    * stage is a per-row expression over one scan — coarse argmin, code
    * argmin, LUT sum — so the WHOLE candidate pipeline is
    * zero-Exchange: the only movement is the top-50 heap merge
    * (TakeOrderedAndProject), exactly like ann_ivf. Shares the fixed
    * centroids/codebook/query fixture with ann_ivf and pq_adc_topk so
    * all three oracles agree on the approximation being tested. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val (centsF, qF) = IvfIndex.fixedCentroidsAndQuery(e)
    val probes = IvfIndex.nearestLists(centsF, qF, 4)
    val cents: Array[Array[Double]] =
      centsF.map(_._2.map(_.toDouble)).toArray
    val q: Array[Double] = qF.map(_.toDouble)

    val qlit = array(qF.map(lit(_)): _*)
    e.withColumn("cid", IvfIndex.assignCid(centsF, col("embedding")))
      .filter(col("cid").isin(probes: _*) && col("vec_id") =!= 77)
      .select(col("vec_id") +: col("label") +: col("embedding") +:
        pqCodeCols(cents, col("embedding"), asByte = false): _*)
      .withColumn("d_adc", pqAdcCol(cents, q))
      .orderBy(col("d_adc").asc, col("vec_id").asc)
      .limit(50)
      .withColumn("d", l2Sq(col("embedding"), qlit))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")
  }

  /** IVF ∘ SCALAR quantization (SQ8) — the middle rung of the
    * quantization ladder the library now covers end to end (binary →
    * SQ8 → PQ/ADC → exact): coarse probes prune cells exactly like
    * ann_ivf, candidate ranking runs on the int8 RECONSTRUCTION (4×
    * fewer bytes than floats, no codebook to train — the FAISS
    * IVF,SQ8 index), and the float column re-ranks the top-50. Every
    * step per-row expression work; zero Exchange until the heaps. The
    * quantize/dequantize contract is [[quantizeI8]]/[[dequantize]]'s
    * (floor+half, max-abs scale) — already oracle-proven by
    * quantize_topk. */
  def annIvfSq(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val (centsF, qF) = IvfIndex.fixedCentroidsAndQuery(e)
    val probes = IvfIndex.nearestLists(centsF, qF, 4)
    val qlit = array(qF.map(lit(_)): _*)
    e.withColumn("cid", IvfIndex.assignCid(centsF, col("embedding")))
      .filter(col("cid").isin(probes: _*) && col("vec_id") =!= 77)
      .withColumn("scale", scaleOf(col("embedding")))
      .withColumn("q8", quantizeI8(col("embedding"), col("scale")))
      .withColumn("d_sq", l2Sq(dequantize(col("q8"), col("scale")), qlit))
      .orderBy(col("d_sq").asc, col("vec_id").asc)
      .limit(50)
      .withColumn("d", l2Sq(col("embedding"), qlit))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")
  }

  private def annIvfSqOracle: String = {
    def l2(a: String, b: String): String =
      s"list_sum([($a[i]::DOUBLE - $b[i]::DOUBLE)" +
        s"*($a[i]::DOUBLE - $b[i]::DOUBLE) for i in generate_series(1,$Dim)])"
    // the quantize_topk dequantize formula, verbatim contract
    val deq =
      s"""[CASE WHEN sc > 0 THEN
         |    greatest(-127, least(127,
         |      floor(embedding[i]::DOUBLE * 127.0 / sc + 0.5)))
         |      * sc / 127.0
         |   ELSE 0.0 END for i in generate_series(1, $Dim)]""".stripMargin
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings
       |  WHERE vec_id = 77),
       |cents AS (SELECT vec_id AS cid, embedding AS cv
       |  FROM embeddings WHERE vec_id < 16),
       |probes AS (
       |  SELECT cid FROM cents, q
       |  ORDER BY ${l2("cv", "qv")} ASC, cid ASC LIMIT 4),
       |assigned AS (
       |  SELECT vec_id, label, embedding, cid FROM (
       |    SELECT e.vec_id, e.label, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2("e.embedding", "c.cv")} ASC, c.cid ASC)
       |        AS rn
       |    FROM embeddings e, cents c) WHERE rn = 1),
       |cand AS (
       |  SELECT vec_id, label, embedding,
       |    list_max([abs(x::DOUBLE) for x in embedding]) AS sc
       |  FROM assigned
       |  WHERE cid IN (SELECT cid FROM probes) AND vec_id <> 77),
       |sq AS (SELECT vec_id, label, embedding, $deq AS deq FROM cand),
       |coarse AS (
       |  SELECT vec_id, label, embedding FROM sq, q
       |  ORDER BY ${l2("deq", "qv")} ASC, vec_id ASC LIMIT 50)
       |SELECT vec_id, label FROM coarse, q
       |ORDER BY ${l2("embedding", "qv")} ASC, vec_id ASC
       |LIMIT 10""".stripMargin
  }

  /** Residual IVF-PQ — the production FAISS IVFPQ *encoding* (Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", §IV):
    * codes are computed on the RESIDUAL `v − centroid(cid)`, not the raw
    * vector, so the codebook only has to cover the spread *within* a
    * coarse cell (≈10× smaller variance ⇒ the same 8 bytes/vector buy a
    * much tighter distance estimate). The price is a per-probe ADC
    * table: the query residual `q − centroid_c` differs per probed
    * list, so the LUT is keyed by cid — here a literal map (nprobe=4 ×
    * M=8 × K=16 doubles, ~4 KB broadcast with the plan) indexed by the
    * candidate's cid at scan time. Still zero-Exchange: coarse argmin,
    * residual, code argmin, and the per-cid LUT sum are all per-row
    * expressions; the only movement is the top-50 heap merge.
    *
    * Determinism contract: codebook = residuals of vectors 16..31
    * w.r.t. their own nearest centroid (the 16 centroid vectors have
    * zero residual — training on them would be degenerate); all other
    * devices (centroids vec_id<16, query 77, ties to lowest id,
    * left-to-right folds) shared with ann_ivf / ann_ivf_pq. */
  def annIvfPqRes(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val (centsF, qF) = IvfIndex.fixedCentroidsAndQuery(e)
    val probes = IvfIndex.nearestLists(centsF, qF, 4)
    val cents: Array[Array[Double]] =
      centsF.map(_._2.map(_.toDouble)).toArray
    val q: Array[Double] = qF.map(_.toDouble)

    def localCid(v: Array[Double]): Int = {
      var best = Double.MaxValue; var bc = -1; var c = 0
      while (c < cents.length) {
        var acc = 0.0; var i = 0
        while (i < Dim) { val d = v(i) - cents(c)(i); acc += d * d; i += 1 }
        if (acc < best) { best = acc; bc = c } // strict < : ties → lowest cid
        c += 1
      }
      bc
    }
    // bounded driver collect: exactly K=16 training rows (the same
    // budget as the codebook collect in pqAdcTopk)
    val codebook: Array[Array[Double]] = e
      .filter(col("vec_id") >= K && col("vec_id") < 2 * K)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      .map { v =>
        val cc = cents(localCid(v))
        Array.tabulate(Dim)(i => v(i) - cc(i))
      }

    def subL2local(a: Array[Double], b: Array[Double], m: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < SubDim) {
        val d = a(m * SubDim + i) - b(m * SubDim + i); acc += d * d; i += 1
      }
      acc
    }
    // per-probe LUT on the query residual — cid → M × K partial dists
    val lutByCid: Map[Long, Seq[Seq[Double]]] = probes.map { cid =>
      val qr = Array.tabulate(Dim)(i => q(i) - cents(cid.toInt)(i))
      cid -> Seq.tabulate(M)(m =>
        Seq.tabulate(K)(k => subL2local(qr, codebook(k), m)))
    }.toMap

    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    val lutLit = typedLit(lutByCid)
    val qlit = array(qF.map(lit(_)): _*)
    e.withColumn("cid", IvfIndex.assignCid(centsF, col("embedding")))
      .filter(col("cid").isin(probes: _*) && col("vec_id") =!= 77)
      .withColumn("res", zip_with(
        col("embedding").cast("array<double>"),
        element_at(centLit, col("cid").cast("int") + 1),
        (a, b) => a - b))
      .select(col("vec_id") +: col("label") +: col("embedding") +:
        col("cid") +: pqCodeCols(codebook, col("res"), asByte = false): _*)
      .withColumn("d_adc", (0 until M).map(m =>
          element_at(element_at(element_at(lutLit, col("cid")), m + 1),
            col(s"c$m") + 1))
        .reduceLeft(_ + _))
      .orderBy(col("d_adc").asc, col("vec_id").asc)
      .limit(50)
      .withColumn("d", l2Sq(col("embedding"), qlit))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")
  }

  /** pq_adc_trained oracle: the per-subspace Lloyd TRAINING unrolled —
    * one assign/recompute CTE block per round (the kmeans_step device),
    * with subspace id as a plain grouping key so all 8 subspaces train
    * in the same chain; empty clusters COALESCE to their previous
    * centroid, then encode + per-query LUT + ADC rank. Everything is
    * exact integer micros, so Spark's partial aggregation and DuckDB's
    * serial fold agree bit-for-bit. */
  private def pqAdcTrainedOracle: String = {
    def subL2(a: String, b: String): String =
      s"list_sum([($a[i]-$b[i])*($a[i]-$b[i]) " +
        s"for i in generate_series(1,$TrSub)])"
    val head =
      s"""q AS MATERIALIZED (SELECT vec_id, label,
         |    [round(x::DOUBLE * $TrQ)::BIGINT for x in embedding] AS qe
         |  FROM embeddings),
         |subs AS MATERIALIZED (SELECT vec_id, m,
         |    [qe[(m-1)*$TrSub + i] for i in generate_series(1,$TrSub)]
         |      AS sv
         |  FROM q, generate_series(1,$TrM) g(m)),
         |b0 AS MATERIALIZED (SELECT m, vec_id AS k, sv AS cv
         |  FROM subs WHERE vec_id < $TrK)""".stripMargin
    val rounds = (1 to TrRounds).map { r =>
      val p = r - 1
      s"""d$r AS (SELECT s.vec_id, s.m, b.k, ${subL2("s.sv", "b.cv")} AS d2
         |  FROM subs s JOIN b$p b USING (m)),
         |a$r AS MATERIALIZED (SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2, k) AS rn FROM d$r)
         |  WHERE rn = 1),
         |e$r AS (SELECT a.m, a.k, unnest(s.sv) AS v,
         |    unnest(generate_series(1,$TrSub)) AS pos
         |  FROM a$r a JOIN subs s ON s.vec_id = a.vec_id AND s.m = a.m),
         |c$r AS (SELECT m, k, pos,
         |    floor(sum(v)::DOUBLE / count(*))::BIGINT AS mq
         |  FROM e$r GROUP BY 1, 2, 3),
         |cl$r AS (SELECT m, k, list(mq ORDER BY pos) AS cv
         |  FROM c$r GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT b.m, b.k, COALESCE(c.cv, b.cv) AS cv
         |  FROM b$p b LEFT JOIN cl$r c ON b.m = c.m AND b.k = c.k)"""
        .stripMargin
    }
    val fin =
      s"""dE AS (SELECT s.vec_id, s.m, b.k, ${subL2("s.sv", "b.cv")} AS d2
         |  FROM subs s JOIN b$TrRounds b USING (m)),
         |aE AS (SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2, k) AS rn FROM dE)
         |  WHERE rn = 1),
         |qs AS (SELECT m, sv AS qsv FROM subs WHERE vec_id = 77),
         |lut AS MATERIALIZED (SELECT b.m, b.k,
         |    ${subL2("qs.qsv", "b.cv")} AS d
         |  FROM b$TrRounds b JOIN qs USING (m)),
         |adc AS (SELECT a.vec_id, CAST(sum(l.d) AS BIGINT) AS d_adc
         |  FROM aE a JOIN lut l ON a.m = l.m AND a.k = l.k
         |  WHERE a.vec_id <> 77 GROUP BY 1)
         |SELECT a.vec_id, q.label, a.d_adc
         |FROM adc a JOIN q USING (vec_id)
         |ORDER BY d_adc ASC, vec_id ASC LIMIT 10""".stripMargin
    ((head +: rounds).mkString("WITH ", ",\n", "") + ",\n" + fin)
  }

  // ---- Binary (1-bit) quantization + Hamming ranking ----
  //
  // The most aggressive quantization tier: one SIGN BIT per dimension,
  // so a 64-dim float vector becomes 8 bytes — a 32× shrink like PQ but
  // with zero codebook state, and distance becomes XOR + popcount (two
  // native instructions per 64 dims). At 100 TB this is the cheapest
  // possible first-pass filter: scan 8-byte signatures, shortlist by
  // Hamming distance, re-rank survivors on the float column. Sign-bit
  // agreement approximates angular similarity (the SimHash identity:
  // P[bit match] = 1 − θ/π), so Hamming ranking IS approximate cosine
  // ranking. Packing and popcount are bit-exact in both engines — the
  // whole ranking sits under the oracle hash with no float tolerance.

  /** Pack sign bits of dims [lo, lo+32) into one LONG (bit j set iff
    * embedding[lo+j] >= 0). Two LONG halves rather than one 64-bit word
    * keep every intermediate positive — no sign-bit edge cases in
    * either engine. Pure codegen'd per-row expression. */
  private def packSigns(emb: Column, lo: Int): Column =
    (0 until 32).map { j =>
      when(element_at(emb, lo + j + 1) >= 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Top-10 by Hamming distance to query vector 3 (itself excluded),
    * ties to the lowest vec_id. The signature computation never
    * shuffles; ranking is a TakeOrderedAndProject heap. */
  def quantizeBinary(s: SparkSession, dir: String): DataFrame = {
    val b = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        packSigns(col("embedding"), 0).as("blo"),
        packSigns(col("embedding"), 32).as("bhi"))
    val q = b.filter(col("vec_id") === 3)
      .select(col("blo").as("qlo"), col("bhi").as("qhi"))
    b.filter(col("vec_id") =!= 3).crossJoin(broadcast(q))
      .withColumn("hamming",
        (bit_count(col("blo").bitwiseXOR(col("qlo"))) +
          bit_count(col("bhi").bitwiseXOR(col("qhi")))).cast("long"))
      .orderBy(col("hamming").asc, col("vec_id").asc).limit(10)
      .select("vec_id", "hamming")
  }

  private val quantizeBinaryOracle: String = {
    def pack(off: Int): String =
      s"""list_sum([CASE WHEN embedding[j + ${off + 1}] >= 0
         |  THEN (1::BIGINT << j) ELSE 0::BIGINT END
         |  for j in generate_series(0, 31)])::BIGINT""".stripMargin
    s"""WITH b AS (
       |  SELECT vec_id, ${pack(0)} AS blo, ${pack(32)} AS bhi
       |  FROM embeddings),
       |q AS (SELECT blo AS qlo, bhi AS qhi FROM b WHERE vec_id = 3)
       |SELECT b.vec_id,
       |  (bit_count(xor(b.blo, q.qlo)) +
       |   bit_count(xor(b.bhi, q.qhi)))::BIGINT AS hamming
       |FROM b, q WHERE b.vec_id <> 3
       |ORDER BY hamming, vec_id LIMIT 10""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "pq_adc_trained" -> pqAdcTrainedOracle,
    "quantize_binary" -> quantizeBinaryOracle,
    "ann_ivf_sq" -> annIvfSqOracle,
    "quantize_topk" -> {
      def deq(e: String): String =
        s"""[CASE WHEN sc_$e > 0 THEN
           |  greatest(-127, least(127,
           |    floor($e[i]::DOUBLE * 127.0 / sc_$e + 0.5)))
           |    * sc_$e / 127.0
           | ELSE 0.0 END for i in generate_series(1, $Dim)]""".stripMargin
      def dot(a: String, b: String): String =
        s"list_sum([$a[i] * $b[i] for i in generate_series(1, $Dim)])"
      s"""WITH sc AS (
         |  SELECT vec_id, label, embedding,
         |    list_max([abs(embedding[i]::DOUBLE)
         |      for i in generate_series(1, $Dim)]) AS sc_embedding
         |  FROM embeddings),
         |d AS (
         |  SELECT vec_id, label, ${deq("embedding")} AS deq FROM sc),
         |q AS (SELECT deq AS qv FROM d WHERE vec_id = 5)
         |SELECT vec_id, label FROM d, q WHERE vec_id <> 5
         |ORDER BY ${dot("deq", "qv")} /
         |  nullif(sqrt(${dot("deq", "deq")}) * sqrt(${dot("qv", "qv")}), 0)
         |  DESC,
         |  vec_id ASC
         |LIMIT 10""".stripMargin
    },
    "pq_adc_topk" -> {
      // identical PQ math in SQL: per-(vector, subspace) codeword
      // assignment by windowed argmin (ties → lowest cid), codes and
      // the per-query LUT pivoted into m-ordered lists, ADC distance as
      // an m-ordered list_sum — every fold left-to-right like the
      // Spark side's native expressions and driver LUT
      def subL2(a: String, b: String): String =
        s"list_sum([($a[t.m*$SubDim+i]::DOUBLE - $b[t.m*$SubDim+i]::DOUBLE)" +
          s"*($a[t.m*$SubDim+i]::DOUBLE - $b[t.m*$SubDim+i]::DOUBLE) " +
          s"for i in generate_series(1,$SubDim)])"
      def fullL2(a: String, b: String): String =
        s"list_sum([($a[i]::DOUBLE - $b[i]::DOUBLE)" +
          s"*($a[i]::DOUBLE - $b[i]::DOUBLE) " +
          s"for i in generate_series(1,$Dim)])"
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 77),
         |cents AS (SELECT vec_id AS cid, embedding AS cv
         |          FROM embeddings WHERE vec_id < $K),
         |assign AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT e.vec_id, t.m, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id, t.m
         |        ORDER BY ${subL2("e.embedding", "c.cv")} ASC, c.cid ASC)
         |        AS rn
         |    FROM embeddings e, generate_series(0, ${M - 1}) t(m), cents c)
         |  WHERE rn = 1),
         |codes AS (SELECT vec_id, list(cid ORDER BY m) AS cs
         |          FROM assign GROUP BY vec_id),
         |lut AS (SELECT t.m, list(${subL2("q.qv", "c.cv")} ORDER BY c.cid)
         |          AS dl
         |        FROM generate_series(0, ${M - 1}) t(m), cents c, q
         |        GROUP BY t.m),
         |luts AS (SELECT list(dl ORDER BY m) AS ll FROM lut),
         |adc AS (
         |  SELECT c.vec_id,
         |    list_sum([ll[m][c.cs[m] + 1]
         |      for m in generate_series(1, $M)]) AS d_adc
         |  FROM codes c, luts),
         |coarse AS (
         |  SELECT e.vec_id, e.label, e.embedding
         |  FROM adc JOIN embeddings e ON adc.vec_id = e.vec_id
         |  WHERE e.vec_id <> 77
         |  ORDER BY adc.d_adc ASC, e.vec_id ASC LIMIT 50)
         |SELECT vec_id, label FROM coarse, q
         |ORDER BY ${fullL2("embedding", "qv")} ASC, vec_id ASC
         |LIMIT 10""".stripMargin
    },
    "ann_ivf_pq" -> ivfPqOracle,
    "ann_ivf_pq_res" -> ivfPqResOracle
  )

  /** Identical residual-PQ math in SQL: coarse assignment by windowed
    * argmin, residuals as list comprehensions over double casts (float→
    * double is exact, so Spark's zip_with and this comprehension agree
    * bit-for-bit), codebook = residuals of vec 16..31, per-(vector,
    * subspace) codeword argmin on the residual, per-PROBE LUT on the
    * query residual (keyed by cid), ADC as an m-ordered list_sum —
    * every fold left-to-right like the Spark side. */
  private def ivfPqResOracle: String = {
    def subL2(a: String, b: String): String =
      s"list_sum([($a[t.m*$SubDim+i]::DOUBLE - $b[t.m*$SubDim+i]::DOUBLE)" +
        s"*($a[t.m*$SubDim+i]::DOUBLE - $b[t.m*$SubDim+i]::DOUBLE) " +
        s"for i in generate_series(1,$SubDim)])"
    def fullL2(a: String, b: String): String =
      s"list_sum([($a[i]::DOUBLE - $b[i]::DOUBLE)" +
        s"*($a[i]::DOUBLE - $b[i]::DOUBLE) " +
        s"for i in generate_series(1,$Dim)])"
    def resid(v: String, c: String): String =
      s"[$v[i]::DOUBLE - $c[i]::DOUBLE for i in generate_series(1,$Dim)]"
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 77),
       |cents AS (SELECT vec_id AS cid, embedding AS cv
       |          FROM embeddings WHERE vec_id < $K),
       |probes AS (
       |  SELECT cid FROM cents, q
       |  ORDER BY ${fullL2("cv", "qv")} ASC, cid ASC LIMIT 4),
       |assigned AS (
       |  SELECT vec_id, label, embedding, cid FROM (
       |    SELECT e.vec_id, e.label, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${fullL2("e.embedding", "c.cv")} ASC, c.cid ASC)
       |        AS rn
       |    FROM embeddings e, cents c) WHERE rn = 1),
       |resid AS (
       |  SELECT a.vec_id, a.label, a.embedding, a.cid,
       |    ${resid("a.embedding", "c.cv")} AS res
       |  FROM assigned a JOIN cents c ON a.cid = c.cid),
       |cb AS (
       |  SELECT r.vec_id - $K AS k, r.res AS rv
       |  FROM resid r WHERE r.vec_id >= $K AND r.vec_id < ${2 * K}),
       |assign AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT r.vec_id, t.m, b.k,
       |      row_number() OVER (PARTITION BY r.vec_id, t.m
       |        ORDER BY ${subL2("r.res", "b.rv")} ASC, b.k ASC) AS rn
       |    FROM resid r, generate_series(0, ${M - 1}) t(m), cb b)
       |  WHERE rn = 1),
       |codes AS (SELECT vec_id, list(k ORDER BY m) AS cs
       |          FROM assign GROUP BY vec_id),
       |qres AS (
       |  SELECT c.cid, ${resid("q.qv", "c.cv")} AS qr
       |  FROM cents c, q WHERE c.cid IN (SELECT cid FROM probes)),
       |lut AS (SELECT qres.cid, t.m,
       |          list(${subL2("qres.qr", "b.rv")} ORDER BY b.k) AS dl
       |        FROM qres, generate_series(0, ${M - 1}) t(m), cb b
       |        GROUP BY qres.cid, t.m),
       |luts AS (SELECT cid, list(dl ORDER BY m) AS ll
       |         FROM lut GROUP BY cid),
       |adc AS (
       |  SELECT c.vec_id,
       |    list_sum([l.ll[m][c.cs[m] + 1]
       |      for m in generate_series(1, $M)]) AS d_adc
       |  FROM codes c
       |  JOIN resid r ON c.vec_id = r.vec_id
       |  JOIN luts l ON r.cid = l.cid),
       |coarse AS (
       |  SELECT r.vec_id, r.label, r.embedding
       |  FROM resid r JOIN adc ON adc.vec_id = r.vec_id
       |  WHERE r.vec_id <> 77
       |  ORDER BY adc.d_adc ASC, r.vec_id ASC LIMIT 50)
       |SELECT vec_id, label FROM coarse, q
       |ORDER BY ${fullL2("embedding", "qv")} ASC, vec_id ASC
       |LIMIT 10""".stripMargin
  }

  // def, not val: the `oracle` map above initializes first (a val here
  // would still be null when the map captures it)
  private def ivfPqOracle: String = {
    def subL2(a: String, b: String): String =
      s"list_sum([($a[t.m*$SubDim+i]::DOUBLE - $b[t.m*$SubDim+i]::DOUBLE)" +
        s"*($a[t.m*$SubDim+i]::DOUBLE - $b[t.m*$SubDim+i]::DOUBLE) " +
        s"for i in generate_series(1,$SubDim)])"
    def fullL2(a: String, b: String): String =
      s"list_sum([($a[i]::DOUBLE - $b[i]::DOUBLE)" +
        s"*($a[i]::DOUBLE - $b[i]::DOUBLE) " +
        s"for i in generate_series(1,$Dim)])"
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 77),
       |cents AS (SELECT vec_id AS cid, embedding AS cv
       |          FROM embeddings WHERE vec_id < $K),
       |probes AS (
       |  SELECT cid FROM cents, q
       |  ORDER BY ${fullL2("cv", "qv")} ASC, cid ASC LIMIT 4),
       |assigned AS (
       |  SELECT vec_id, label, embedding, cid FROM (
       |    SELECT e.vec_id, e.label, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${fullL2("e.embedding", "c.cv")} ASC, c.cid ASC)
       |        AS rn
       |    FROM embeddings e, cents c) WHERE rn = 1),
       |assign AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT e.vec_id, t.m, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id, t.m
       |        ORDER BY ${subL2("e.embedding", "c.cv")} ASC, c.cid ASC)
       |        AS rn
       |    FROM embeddings e, generate_series(0, ${M - 1}) t(m), cents c)
       |  WHERE rn = 1),
       |codes AS (SELECT vec_id, list(cid ORDER BY m) AS cs
       |          FROM assign GROUP BY vec_id),
       |lut AS (SELECT t.m, list(${subL2("q.qv", "c.cv")} ORDER BY c.cid)
       |          AS dl
       |        FROM generate_series(0, ${M - 1}) t(m), cents c, q
       |        GROUP BY t.m),
       |luts AS (SELECT list(dl ORDER BY m) AS ll FROM lut),
       |adc AS (
       |  SELECT c.vec_id,
       |    list_sum([ll[m][c.cs[m] + 1]
       |      for m in generate_series(1, $M)]) AS d_adc
       |  FROM codes c, luts),
       |coarse AS (
       |  SELECT a.vec_id, a.label, a.embedding
       |  FROM assigned a JOIN adc ON adc.vec_id = a.vec_id
       |  WHERE a.cid IN (SELECT cid FROM probes) AND a.vec_id <> 77
       |  ORDER BY adc.d_adc ASC, a.vec_id ASC LIMIT 50)
       |SELECT vec_id, label FROM coarse, q
       |ORDER BY ${fullL2("embedding", "qv")} ASC, vec_id ASC
       |LIMIT 10""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quantize_topk" -> (quantizeTopk _),
    "quantize_binary" -> (quantizeBinary _),
    "pq_adc_topk" -> (pqAdcTopk _),
    "pq_adc_trained" -> (pqAdcTrained _),
    "ann_ivf_pq" -> (annIvfPq _),
    "ann_ivf_sq" -> (annIvfSq _),
    "ann_ivf_pq_res" -> (annIvfPqRes _)
  )
}
