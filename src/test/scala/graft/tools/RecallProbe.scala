package graft.tools

import org.apache.spark.sql.functions._

/** IVF recall sweep: recall@10 and scanned-candidate fraction as nprobe
  * grows, on the real embeddings table with the same deterministic
  * KMeans fitter and centroid-assignment math the engine uses
  * (IvfIndex.kmeansFit / l2sqLocal). Run:
  *
  *   sbt "Test/runMain graft.tools.RecallProbe [sfDir]"
  *
  * The probe math is driver-side on the collected table (small at test
  * scale) — the Spark probe path itself is oracle-gated elsewhere
  * (ann_ivf_indexed, kaer_query_indexed); this tool only quantifies the
  * recall/cost trade-off to record in BASELINE.md.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val df = s.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vecs = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val nlist = 16
    val cents = graft.operators.IvfIndex.kmeansFit(df, nlist, iters = 3)
    import graft.operators.IvfIndex.l2sqLocal
    def nearestCid(v: Array[Float]): Long =
      cents.minBy { case (cid, cv) => (l2sqLocal(cv, v), cid) }._1
    val cid = vecs.map { case (id, v) => id -> nearestCid(v) }.toMap
    val listSize = vecs.groupBy(v => cid(v._1)).map { case (c, g) => c -> g.length }
    val queries = vecs.filter(_._1 % 20 == 7)
    val k = 10
    println(s"[recall] n=${vecs.length} nlist=$nlist queries=${queries.length} k=$k")
    for (nprobe <- Seq(1, 2, 4, 8, 16)) {
      var rec = 0.0; var frac = 0.0
      for ((qid, qv) <- queries) {
        val exact = vecs.filter(_._1 != qid)
          .sortBy { case (id, v) => (l2sqLocal(v, qv), id) }
          .take(k).map(_._1).toSet
        val probed = cents.map { case (c, cv) => (c, l2sqLocal(cv, qv)) }
          .sortBy { case (c, d) => (d, c) }.take(nprobe).map(_._1).toSet
        val cand = vecs.filter { case (id, _) => id != qid && probed(cid(id)) }
        val approx = cand
          .sortBy { case (id, v) => (l2sqLocal(v, qv), id) }
          .take(k).map(_._1).toSet
        rec += (exact intersect approx).size.toDouble / k
        frac += probed.toSeq.map(c => listSize.getOrElse(c, 0)).sum.toDouble / vecs.length
      }
      println(f"[recall] nprobe=$nprobe%2d recall@10=${rec / queries.length}%.3f scanned=${frac / queries.length * 100}%.1f%%")
    }

    // PQ ADC recall sweep: recall@10 of the exact top-10 inside the
    // ADC-ranked top-C candidate set, as the candidate budget C grows —
    // the PQ analogue of the nprobe dial (the gates pin C=50). Same
    // fixed codebook contract as the gates: subvectors of the 16
    // lowest-id vectors, argmin with lowest-id tie-break.
    val k16 = vecs.take(16).map(_._2.map(_.toDouble))
    val M = 8; val SubDim = 8
    def subL2(a: Array[Double], b: Array[Double], m: Int): Double = {
      var acc = 0.0; var i = m * SubDim
      while (i < (m + 1) * SubDim) {
        val d = a(i) - b(i); acc += d * d; i += 1
      }
      acc
    }
    val codes = vecs.map { case (id, vf) =>
      val v = vf.map(_.toDouble)
      id -> Array.tabulate(M)(m =>
        k16.indices.minBy(k => (subL2(v, k16(k), m), k)))
    }.toMap
    for (c <- Seq(25, 50, 100, 200, 400)) {
      var rec = 0.0
      for ((qid, qvf) <- queries) {
        val qv = qvf.map(_.toDouble)
        val lut = Array.tabulate(M, 16)((m, k) => subL2(qv, k16(k), m))
        val exact = vecs.filter(_._1 != qid)
          .sortBy { case (id, v) => (l2sqLocal(v, qvf), id) }
          .take(k).map(_._1).toSet
        val adcTop = vecs.filter(_._1 != qid)
          .map { case (id, _) =>
            val cs = codes(id)
            var d = 0.0; var m = 0
            while (m < M) { d += lut(m)(cs(m)); m += 1 }
            (id, d)
          }
          .sortBy { case (id, d) => (d, id) }.take(c).map(_._1).toSet
        rec += (exact intersect adcTop).size.toDouble / k
      }
      println(f"[recall-pq] cand=$c%3d recall@10=${rec / queries.length}%.3f scanned=${c * 100.0 / vecs.length}%.1f%%")
    }

    // Residual-PQ ADC sweep: same candidate-budget dial and byte budget
    // (8 codes/vector), but codes on the v − centroid residual with a
    // per-cid query-residual LUT — the ann_ivf_pq_res gate contract
    // (cents = 16 lowest vectors, codebook = residuals of vecs 16..31).
    // The delta vs [recall-pq] quantifies what residual encoding buys.
    def nearestFix(v: Array[Double]): Int = {
      var best = Double.MaxValue; var bc = -1; var c = 0
      while (c < 16) {
        var acc = 0.0; var i = 0
        while (i < v.length) {
          val d = v(i) - k16(c)(i); acc += d * d; i += 1
        }
        if (acc < best) { best = acc; bc = c }
        c += 1
      }
      bc
    }
    val dvecs = vecs.map { case (id, vf) => id -> vf.map(_.toDouble) }
    val cidFix = dvecs.map { case (id, v) => id -> nearestFix(v) }.toMap
    val resOf = dvecs.map { case (id, v) =>
      val cc = k16(cidFix(id))
      id -> Array.tabulate(v.length)(i => v(i) - cc(i))
    }.toMap
    val cbRes = vecs.slice(16, 32).map { case (id, _) => resOf(id) }
    val codesRes = vecs.map { case (id, _) =>
      val r = resOf(id)
      id -> Array.tabulate(M)(m =>
        cbRes.indices.minBy(k => (subL2(r, cbRes(k), m), k)))
    }.toMap
    for (c <- Seq(25, 50, 100, 200, 400)) {
      var rec = 0.0
      for ((qid, qvf) <- queries) {
        val qv = qvf.map(_.toDouble)
        val luts = Array.tabulate(16) { cidx =>
          val qr = Array.tabulate(qv.length)(i => qv(i) - k16(cidx)(i))
          Array.tabulate(M, 16)((m, k) => subL2(qr, cbRes(k), m))
        }
        val exact = vecs.filter(_._1 != qid)
          .sortBy { case (id, v) => (l2sqLocal(v, qvf), id) }
          .take(k).map(_._1).toSet
        val adcTop = vecs.filter(_._1 != qid)
          .map { case (id, _) =>
            val cs = codesRes(id); val lut = luts(cidFix(id))
            var d = 0.0; var m = 0
            while (m < M) { d += lut(m)(cs(m)); m += 1 }
            (id, d)
          }
          .sortBy { case (id, d) => (d, id) }.take(c).map(_._1).toSet
        rec += (exact intersect adcTop).size.toDouble / k
      }
      println(f"[recall-pq-res] cand=$c%3d recall@10=${rec / queries.length}%.3f scanned=${c * 100.0 / vecs.length}%.1f%%")
    }

    // ---- Clustered-corpus sweep (the FAISS setting) ----------------
    // The sweeps above run on the near-uniform synthetic embeddings,
    // where residual encoding honestly REGRESSES (BASELINE.md
    // [recall-pq-res]): uniform data has no cluster structure for the
    // residual to remove. This section builds a CLUSTERED corpus
    // (48 Gaussian clusters, unit-norm centers, sigma=0.08 noise —
    // the shape real embedding corpora have) and compares, at equal
    // byte budget (M=8 codes/vector), plain fixed-codebook PQ vs
    // residual PQ vs KMeans-TRAINED residual PQ
    // (Quantize.pqTrainKmeans: per-subspace Lloyd over residuals).
    locally {
      val rnd = new scala.util.Random(42)
      val nClu = 48; val n = 4000; val dim = 64; val sigma = 0.08
      val centers = Array.fill(nClu) {
        val c = Array.fill(dim)(rnd.nextGaussian())
        val nrm = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / nrm)
      }
      val cvecs: Array[(Long, Array[Float])] = Array.tabulate(n) { i =>
        val c = centers(i % nClu)
        (i.toLong, Array.tabulate(dim)(j =>
          (c(j) + sigma * rnd.nextGaussian()).toFloat))
      }
      val cq = cvecs.filter(_._1 % 40 == 7)
      def exactTop(qid: Long, qv: Array[Float]): Set[Long] =
        cvecs.filter(_._1 != qid)
          .sortBy { case (id, v) => (l2sqLocal(v, qv), id) }
          .take(k).map(_._1).toSet
      def subL2s(full: Array[Double], m: Int, sub: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < SubDim) {
          val d = full(m * SubDim + i) - sub(i); acc += d * d; i += 1
        }
        acc
      }
      // generic ADC recall for per-subspace codebooks over (possibly
      // residual) encodings: encOf(id) = the encoded vector; cidOf(id)
      // selects which query base (qBaseOf(qv, cid), e.g. the per-cell
      // query residual) the LUT is computed against — ≤16 LUTs per query
      def adcRecall(tag: String,
          books: Array[Array[Array[Double]]],
          encOf: Long => Array[Double],
          cidOf: Long => Int,
          qBaseOf: (Array[Double], Int) => Array[Double]): Unit = {
        val nK = books(0).length
        val codes = cvecs.map { case (id, _) =>
          val r = encOf(id)
          id -> Array.tabulate(M)(m =>
            (0 until nK).minBy(kk => (subL2s(r, m, books(m)(kk)), kk)))
        }.toMap
        val exacts = cq.map { case (qid, qvf) =>
          qid -> exactTop(qid, qvf) }.toMap
        for (c <- Seq(25, 50, 100, 200)) {
          var rec = 0.0
          for ((qid, qvf) <- cq) {
            val qv = qvf.map(_.toDouble)
            val lutCache = scala.collection.mutable.Map
              .empty[Int, Array[Array[Double]]]
            def lutFor(cid: Int): Array[Array[Double]] =
              lutCache.getOrElseUpdate(cid, {
                val base = qBaseOf(qv, cid)
                Array.tabulate(M, nK)((m, kk) =>
                  subL2s(base, m, books(m)(kk)))
              })
            val adcTop = cvecs.filter(_._1 != qid)
              .map { case (id, _) =>
                val cs = codes(id); val lut = lutFor(cidOf(id))
                var d = 0.0; var m = 0
                while (m < M) { d += lut(m)(cs(m)); m += 1 }
                (id, d)
              }
              .sortBy { case (id, d) => (d, id) }.take(c).map(_._1).toSet
            rec += (exacts(qid) intersect adcTop).size.toDouble / k
          }
          println(f"[$tag] cand=$c%3d recall@10=${rec / cq.length}%.3f scanned=${c * 100.0 / n}%.1f%%")
        }
      }

      val dv = cvecs.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
      // (a) plain PQ, fixed codebook = 16 lowest-id vectors (the gate
      // contract transplanted to the clustered corpus)
      val fixedBook: Array[Array[Array[Double]]] = Array.tabulate(M)(m =>
        cvecs.take(16).map(_._2.map(_.toDouble)
          .slice(m * SubDim, (m + 1) * SubDim)))
      adcRecall("recall-pq-clu", fixedBook, dv(_), _ => 0,
        (qv, _) => qv)

      // (b) residual PQ, fixed: IVF cents = 16 lowest vectors, codebook
      // = residuals of vectors 16..31 (the ann_ivf_pq_res contract)
      val centsFix = cvecs.take(16).map(_._2.map(_.toDouble))
      def nearCid(v: Array[Double], cents: Array[Array[Double]]): Int =
        cents.indices.minBy { c =>
          var acc = 0.0; var i = 0
          while (i < v.length) {
            val d = v(i) - cents(c)(i); acc += d * d; i += 1
          }
          (acc, c)
        }
      val cidFixC = dv.map { case (id, v) => id -> nearCid(v, centsFix) }
      val resFixC = dv.map { case (id, v) =>
        val cc = centsFix(cidFixC(id))
        id -> Array.tabulate(dim)(i => v(i) - cc(i))
      }
      val resBookFix: Array[Array[Array[Double]]] = Array.tabulate(M)(m =>
        cvecs.slice(16, 32).map { case (id, _) =>
          resFixC(id).slice(m * SubDim, (m + 1) * SubDim) })
      adcRecall("recall-pq-res-clu", resBookFix, resFixC(_), cidFixC(_),
        (qv, cid) => {
          val cc = centsFix(cid)
          Array.tabulate(dim)(i => qv(i) - cc(i))
        })

      // (c) residual PQ, TRAINED: IVF cents from the distributed
      // kmeansFit, per-subspace codebooks from Quantize.pqTrainKmeans
      // over the residual corpus — the production training path
      import s.implicits._
      val cdf = cvecs.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))
      val centsTr = graft.operators.IvfIndex.kmeansFit(cdf, 16, iters = 3)
        .sortBy(_._1).map(_._2.map(_.toDouble)).toArray
      val cidTr = dv.map { case (id, v) => id -> nearCid(v, centsTr) }
      val resTr = dv.map { case (id, v) =>
        val cc = centsTr(cidTr(id))
        id -> Array.tabulate(dim)(i => v(i) - cc(i))
      }
      val resDf = resTr.toSeq.map { case (id, r) =>
        (id, r.map(_.toFloat).toSeq) }
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))
      val booksTr = graft.operators.Quantize.pqTrainKmeans(
        resDf, M, SubDim, 16, iters = 3)
      adcRecall("recall-pq-res-kmeans", booksTr, resTr(_), cidTr(_),
        (qv, cid) => {
          val cc = centsTr(cid)
          Array.tabulate(dim)(i => qv(i) - cc(i))
        })
    }
    s.stop()
  }
}
