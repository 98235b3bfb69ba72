package graft.operators

import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity-search operator family over `embeddings` (ARRAY<FLOAT> dim
  * 64): exact brute-force top-k (the correctness superset of the
  * reference's HNSW ef=200 search, /root/reference/db/db.go:137), the
  * pre-filtered variant (reference's bitmap-predicate ANN), cosine top-k,
  * and an IVF-style bucketed path — the 100 TB scale story: a broadcast
  * centroid assignment prunes the candidate set to `nprobe` buckets, so
  * the full-scan cost is paid only by a fraction of partitions.
  *
  * Brute-force top-k compiles to TakeOrderedAndProject: per-partition
  * bounded heaps + driver merge of k·partitions rows — no global sort at
  * any scale. The IVF bucket table would be written bucketed-by(cid) in
  * production so probes prune at the file level.
  */
object Similarity {

  /** Chunk window for [[ragMaxsim]] (non-overlapping 8-token spans).
    * Declared FIRST: the oracle val below reads it at object init —
    * a later declaration would silently interpolate 0. */
  private val MaxsimChunkW = 8

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Query-vector DataFrame (1 row) — broadcast, never collected. */
  private def qv(s: SparkSession, dir: String, id: Long): DataFrame =
    emb(s, dir).filter(col("vec_id") === id)
      .select(col("embedding").as("qv"))

  /** Exact L2 top-k to vec 0 (itself excluded). */
  def knnL2(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).crossJoin(broadcast(qv(s, dir, 0)))
      .filter(col("vec_id") =!= 0)
      .withColumn("d", l2Sq(col("embedding"), col("qv")))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")

  /** Pre-filtered ANN parity: metadata predicate first, then top-k among
    * survivors (the reference's filter∧kNN composite, db/db.go:111-143). */
  def knnL2Filtered(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).crossJoin(broadcast(qv(s, dir, 0)))
      .filter(col("vec_id") =!= 0 && col("label").isin(1, 3, 5))
      .withColumn("d", l2Sq(col("embedding"), col("qv")))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")

  /** Cosine top-k (extension metric). */
  def knnCosine(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).crossJoin(broadcast(qv(s, dir, 1)))
      .filter(col("vec_id") =!= 1)
      .withColumn("sim", cosineSim(col("embedding"), col("qv")))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")

  /** IVF-style ANN: fixed deterministic centroids (vec_id < 16 — in
    * production these come from seeded KMeans; fixed ids keep the oracle
    * replicable), nearest-centroid assignment, probe the 4 centroids
    * closest to the query, exact top-10 within probed buckets.
    *
    * Scale shape: the 16 centroids + 1 query vector are collected to the
    * driver (a few KB — the moral equivalent of a broadcast) and inlined
    * as literals, so per-row centroid assignment is a pure codegen'd
    * fold — ZERO shuffle, no window, no join. The plan is
    * Scan → Project(argmin) → Filter(probed cids) → TakeOrderedAndProject.
    * The persisted variant ([[IvfIndex.annIvfIndexed]]) writes the
    * assigned table partitioned by cid so probes prune at the file
    * level. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // shared fixture with the persisted variant (one definition, one
    // oracle — IvfIndex.fixedCentroidsAndQuery)
    val (cents, q) = IvfIndex.fixedCentroidsAndQuery(e)

    // driver-side probe selection + per-row broadcast argmin are the
    // shared IvfIndex helpers (one copy of the tie-break semantics)
    val probes = IvfIndex.nearestLists(cents, q, 4)

    val qlit = array(q.map(lit(_)): _*)
    e.withColumn("cid", IvfIndex.assignCid(cents.toSeq, col("embedding")))
      .filter(col("cid").isin(probes: _*) && col("vec_id") =!= 77)
      .withColumn("d", l2Sq(col("embedding"), qlit))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")
  }

  /** IVF nprobe SWEEP (r13) — the ANN twin of the LSH band-dial sweep:
    * recall@10 AND rows-scanned of the IVF probe at nprobe ∈
    * {1,2,4,8,16} against the exact top-10, one row per dial. This is
    * the cost/recall CURVE an operator reads before dialing a 100 TB
    * ANN deployment: nprobe trades scan fraction for recall, and the
    * sweep prices both sides under the oracle (nprobe = nlist = 16 is
    * the full scan — recall 1000‰ by construction, the anchor row).
    * ONE centroid-assignment pass serves every dial
    * (localCheckpointed — assignment is the corpus-width work; a probe
    * re-dial is a partition filter, which is exactly why production
    * IVF lists persist partitioned by cid). */
  def annNprobeSweep(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (cents, q) = IvfIndex.fixedCentroidsAndQuery(e)
    val qlit = array(q.map(lit(_)): _*)
    val assigned = e
      .withColumn("cid", IvfIndex.assignCid(cents.toSeq, col("embedding")))
      .filter(col("vec_id") =!= 77)
      .select(col("vec_id"), col("cid"), col("embedding"))
      .localCheckpoint()
    val exact = assigned
      .withColumn("d", l2Sq(col("embedding"), qlit))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").localCheckpoint()
    val order = IvfIndex.nearestLists(cents, q, cents.size)
    Seq(1, 2, 4, 8, 16).map { np =>
      val probes = order.take(np)
      val cand = assigned.filter(col("cid").isin(probes: _*))
      val approx = cand
        .withColumn("d", l2Sq(col("embedding"), qlit))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .select("vec_id")
      approx.join(exact, "vec_id").agg(count(lit(1)).as("hits"))
        .crossJoin(cand.agg(count(lit(1)).as("scanned")))
        .select(lit(np.toLong).as("nprobe"), col("scanned"),
          col("hits"), (col("hits") * 100L).as("recall_pm"))
    }.reduce(_.unionByName(_)).orderBy("nprobe")
  }

  /** Two-stage ANN: a COARSE distance over the first 16 dims prunes the
    * corpus to 50 candidates, then the exact 64-dim distance re-ranks to
    * the final top-10 — the truncated-dimension ("matryoshka"-style)
    * re-rank pattern. Scale shape: the coarse pass reads 1/4 of the
    * vector bytes (on real deployments, a separate short-vector column
    * that column pruning isolates), the exact pass touches only the 50
    * survivors; both stages are TakeOrderedAndProject per-partition
    * heaps, no full sort anywhere. Recall is a dial: widening stage-1 k'
    * trades bytes for recall, exactly like IVF's nprobe. */
  def annTwoStage(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir).crossJoin(broadcast(qv(s, dir, 77)))
      .filter(col("vec_id") =!= 77)
    base
      .withColumn("d16", l2Sq(slice(col("embedding"), 1, 16),
        slice(col("qv"), 1, 16)))
      .orderBy(col("d16").asc, col("vec_id").asc)
      .limit(50)
      .withColumn("d", l2Sq(col("embedding"), col("qv")))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label")
  }

  /** Quantization offset/scale for [[embedOutliers]] — elements land in
    * [0, 2e7] micro-units, so every integer division below runs on
    * nonnegative operands (where Spark's truncating DIV and DuckDB's
    * flooring // agree). */
  private val OutlierScale = 1000000L
  private val OutlierOffset = 10000000L

  /** Embedding-space outlier detection — the corpus-hygiene step that
    * drops mis-embedded / off-distribution rows before they poison
    * nearest-neighbor training batches: distance to the GLOBAL corpus
    * centroid, top-20 farthest flagged.
    *
    * Exactness contract: elements quantize to integer micro-units
    * (`round(x·1e6) + 1e7`), the per-dimension centroid is
    * `sum DIV n` — exact long arithmetic end-to-end, so the distributed
    * result is bit-identical to the DuckDB replay (a float centroid
    * would differ by reduction order and flip near-tie ranks).
    *
    * Scale shape: ONE narrow aggregate builds the centroid (posexplode →
    * 64-row partial-agg'd groupBy — the shuffle carries dims × partitions
    * rows, not the corpus), the centroid rides back as a broadcast
    * 1-row array (never a driver value), and the distance pass is a
    * scan-speed per-row fold ending in TakeOrderedAndProject's bounded
    * heaps. Two jobs, no corpus-width shuffle anywhere. */
  def embedOutliers(s: SparkSession, dir: String): DataFrame =
    embedOutliersOver(emb(s, dir), 20)

  /** The centroid-distance core over any
    * `(vec_id, label, embedding: array<float>)` frame. */
  private[graft] def embedOutliersOver(e: DataFrame, k: Int): DataFrame = {
    val q = e.select(col("vec_id"), col("label"),
      transform(col("embedding"), x =>
        (round(x.cast("double") * OutlierScale).cast("long") +
          OutlierOffset)).as("qe"))
    val cent = q
      .select(posexplode(col("qe")).as(Seq("p", "v")))
      .groupBy("p").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .select(col("p"), expr("sv DIV n").as("c"))
      .agg(transform(array_sort(collect_list(struct(col("p"), col("c")))),
        pc => pc("c")).as("cent"))
    q.crossJoin(broadcast(cent))
      .withColumn("dist", aggregate(
        zip_with(col("qe"), col("cent"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .select(col("vec_id"), col("label"), col("dist"))
      .orderBy(col("dist").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Similarity JOIN (the §7 north-star extension): top-3 L2 neighbors
    * for EVERY query vector (vec_id ≡ 7 mod 100) against the rest of the
    * corpus — a kNN join, not a single-probe kNN.
    *
    * Scale shape: the query side is broadcast (small by construction —
    * it's the per-batch probe set), the corpus side is never shuffled in
    * full: `row_number ≤ k` after a window on the query id triggers
    * Spark's WindowGroupLimit rewrite, which keeps only k rows per query
    * PER PARTITION before the exchange, so the shuffle carries
    * O(k · queries · partitions), not O(corpus · queries). */
  def knnJoin(s: SparkSession, dir: String): DataFrame =
    knnJoinCore(s, dir, col("vec_id") % 100 === 7)

  /** Probe-anchor count for the `_batch` gate variants: a production
    * kNN join probes a FIXED batch (today's new anchors) against the
    * whole corpus — work LINEAR in the corpus — where the `% 100`
    * fixture ties probe count to corpus size, so its work grows
    * quadratically by geometry (the r14 sf10 audit's knn_join 25× /
    * hard_negatives 24× entries: 100× work for 10× data while
    * per-unit-work cost fell 4×). 64 anchors exist at every driver SF
    * (embeddings ≥ 500 rows from sf0.001 up), and the id predicate is
    * SF-independent, so the sf1→sf10 bench curve measures the
    * deployment shape. */
  private val ProbeBatch = 64

  /** [[knnJoin]] over a fixed 64-anchor probe batch — the
    * linear-in-corpus production shape (see [[ProbeBatch]]). */
  def knnJoinBatch(s: SparkSession, dir: String): DataFrame =
    knnJoinCore(s, dir, col("vec_id") < ProbeBatch)

  private def knnJoinCore(s: SparkSession, dir: String,
      isProbe: Column): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(isProbe)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("d").asc, col("vec_id").asc)
    e.filter(!isProbe)
      .crossJoin(broadcast(q))
      .withColumn("d", l2Sq(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id"), col("label"))
      .orderBy("qid", "rank")
  }

  /** Hard-negative MINING — the contrastive-training data op: each
    * anchor gets its k CLOSEST vectors with a DIFFERENT label (the
    * negatives that sit right at the decision boundary — the ones that
    * actually move an embedding model, vs [[graft.operators.Pipeline]]'s
    * hash-random negatives). Same WindowGroupLimit shape as [[knnJoin]]
    * — the label predicate filters before the per-anchor top-k, so the
    * shuffle still carries O(k · anchors · partitions); at 100 TB the
    * LSH/IVF candidate generators compose in front exactly as for
    * [[annJoinLsh]]. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame =
    hardNegativesCore(s, dir, col("vec_id") % 100 === 7)

  /** [[hardNegatives]] over a fixed 64-anchor probe batch — the
    * linear-in-corpus production shape (see [[ProbeBatch]]). */
  def hardNegativesBatch(s: SparkSession, dir: String): DataFrame =
    hardNegativesCore(s, dir, col("vec_id") < ProbeBatch)

  private def hardNegativesCore(s: SparkSession, dir: String,
      isProbe: Column): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(isProbe)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("d").asc, col("vec_id").asc)
    e.filter(!isProbe)
      .crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("d", l2Sq(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id"), col("label"))
      .orderBy("qid", "rank")
  }

  /** LSH-accelerated kNN JOIN — the approximate scale path of
    * [[knnJoin]]: both sides band their hyperplane signatures (16
    * md5-seeded hyperplanes, 4 bands × 4 bits), candidates come from ONE
    * equi-join on the (band, value) key instead of a cross product, and
    * only candidates pay the exact-cosine verify + per-query top-k. A
    * query returns fewer than k rows when fewer than k corpus vectors
    * collide — the documented recall trade; raise bands (or probe
    * neighboring band values) for more recall, bits per band for less
    * work, without changing the plan. */
  /** Static 4×4 dial pinned on a deterministically CAPPED corpus (r16):
    * a fixed 16-bucket band space saturates quadratically as the corpus
    * grows (sf10: 266.5 s, 45.5 GB spill — the suite's second-largest
    * cost) while the banding math it pins is corpus-size-independent.
    * The cap is inert at every driver SF (vec_id < 2000 through sf0.1)
    * and mirrored in the oracle; SCALING behavior belongs to
    * [[annJoinLshAuto]], which dials bits with the corpus count and
    * runs unbounded. */
  def annJoinLsh(s: SparkSession, dir: String): DataFrame =
    annJoinLshCore(s, dir, bits = 4, bands = 4, cap = Some(StaticPinCap))

  /** Id cap bounding the static-dial gate's corpus — above every
    * driver-SF id space, below the sf1/sf10 replicas' offset ids. */
  private val StaticPinCap = 200000L

  /** Auto-dialed sibling of [[annJoinLsh]] — the scale path: bits per
    * band derive from the corpus count ([[graft.core.GraftConfig
    * .autoBitsPerBand]]), so the band space grows with the corpus
    * instead of saturating (the static 4-bit dial's measured failure at
    * the sf10 rung: 16 buckets/band ⇒ per-bucket membership grows
    * linearly and candidate volume quadratically). Bands stay 4 — the
    * recall knob; bits are the work knob. */
  def annJoinLshAuto(s: SparkSession, dir: String): DataFrame = {
    val bits = graft.core.GraftConfig.autoBitsPerBand(
      emb(s, dir).count())
    annJoinLshCore(s, dir, bits, bands = 4)
  }

  private def annJoinLshCore(s: SparkSession, dir: String,
      bits: Int, bands: Int, cap: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    def banded(df: DataFrame, idAs: String, embAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
        posexplode(toCol(graft.expr.HyperBandValues(
          toExpr(col("embedding")), bits, bands))).as(Seq("band", "bv")))
    val e = cap.foldLeft(emb(s, dir))((d, c) => d.filter(col("vec_id") < c))
    val q = banded(e.filter(col("vec_id") % 100 === 7), "qid", "qv")
    val c = banded(e.filter(col("vec_id") % 100 =!= 7), "vec_id", "cv")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    c.join(broadcast(q), Seq("band", "bv"))
      .select(col("qid"), col("vec_id"), col("qv"), col("cv"))
      .dropDuplicates("qid", "vec_id")
      .withColumn("sim", cosineSim(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id"))
      .orderBy("qid", "rank")
  }

  private def lshJoinOracle: String = {
    def signsLit(j: Int): String =
      graft.expr.TextHash.hyperplanes(j)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    def projSql(j: Int): String =
      s"list_sum([embedding[i]::DOUBLE * (${signsLit(j)})[i] " +
        s"for i in generate_series(1,64)])"
    val bandRows = (0 until 4).map { b =>
      val v = (0 until 4).map { k =>
        s"(CASE WHEN ${projSql(b * 4 + k)} > 0 THEN ${1 << k} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, embedding, $b AS band, $v AS bv FROM embeddings " +
        s"WHERE vec_id < $StaticPinCap"
    }.mkString(" UNION ALL ")
    def dot(a: String, bq: String): String =
      s"list_sum([$a[i]::DOUBLE * $bq[i]::DOUBLE for i in generate_series(1,64)])"
    s"""WITH bands AS ($bandRows),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vec_id,
       |    q.embedding AS qv, c.embedding AS cv
       |  FROM bands q JOIN bands c ON q.band = c.band AND q.bv = c.bv
       |  WHERE q.vec_id % 100 = 7 AND c.vec_id % 100 <> 7),
       |ranked AS (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY
       |      ${dot("cv", "qv")} /
       |        nullif(sqrt(${dot("cv", "cv")})
       |          * sqrt(${dot("qv", "qv")}), 0) DESC,
       |      vec_id ASC) AS rank
       |  FROM cand)
       |SELECT qid, rank, vec_id FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin
  }

  /** Oracle for [[annJoinLshAuto]]: the bits dial derives at RUNTIME
    * from the corpus count (Dedup.autoBitsCtes — the integer-exact SQL
    * twin of autoBitsPerBand) and banding runs over the full 4×30-plane
    * sign matrix with a runtime list comprehension (Dedup.autoBandSql),
    * so ONE SQL text pins derivation + banding at every SF. */
  private def lshJoinAutoOracle: String = {
    def dot(a: String, bq: String): String =
      s"list_sum([$a[i]::DOUBLE * $bq[i]::DOUBLE for i in generate_series(1,64)])"
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
       |${Dedup.autoBitsCtes("corpus")},
       |sm AS (SELECT ${Dedup.signMatrixLit(30 * 4)} AS m),
       |bands AS (
       |  SELECT vec_id, embedding, bb.band AS band,
       |    ${Dedup.autoBandSql("embedding")} AS bv
       |  FROM corpus, par, sm, generate_series(0, 3) bb(band)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vec_id,
       |    q.embedding AS qv, c.embedding AS cv
       |  FROM bands q JOIN bands c ON q.band = c.band AND q.bv = c.bv
       |  WHERE q.vec_id % 100 = 7 AND c.vec_id % 100 <> 7),
       |ranked AS (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY
       |      ${dot("cv", "qv")} /
       |        nullif(sqrt(${dot("cv", "cv")})
       |          * sqrt(${dot("qv", "qv")}), 0) DESC,
       |      vec_id ASC) AS rank
       |  FROM cand)
       |SELECT qid, rank, vec_id FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin
  }

  /** Retrieval composite dials for [[ragRetrieve]]. */
  private val RagK1 = 50
  private val RagK = 10
  private val RagTerms = Seq("table", "scan", "fast", "merge")

  /** Reciprocal-rank-fusion dials for [[ragHybridRrf]] — ONE source of
    * truth with the MQL `$rankFusion` stage
    * ([[graft.filter.MqlPipeline.RrfK]]): the standard k=60 smoothing,
    * and the integer `SCALE div (k+r)` surrogate for 1/(k+r) (both
    * engines' division truncates, so fusion scores are exact 64-bit
    * integers under the oracle hash; float sums would differ in the
    * last ulp across engines). */
  private val RrfK = graft.filter.MqlPipeline.RrfK
  private val RrfScale = graft.filter.MqlPipeline.RrfScale

  /** Hybrid search — lexical BM25 + dense cosine fused by RECIPROCAL
    * RANK FUSION (the Mongo 8.1 $rankFusion / Elastic `rrf` shape, and
    * the default hybrid-retrieval recipe in RAG stacks): each leg
    * contributes SCALE div (60 + rank) for documents it ranked, 0
    * otherwise; final order by fused score. Ranks — not scores — cross
    * the fusion boundary, which is the point of RRF: BM25 logs and
    * cosine doubles never need calibrating against each other.
    *
    * Scale shape: each leg is the already-audited top-k device (BM25 =
    * scan-speed conditional aggregate + broadcast stats,
    * TakeOrderedAndProject; dense = broadcast-query kNN heap) and the
    * rank windows + full-outer fusion run on ≤ k1+k2 ROWS TOTAL — the
    * corpus is never touched again after the two heaps, so fusion cost
    * is independent of corpus size. */
  /** Round-scoped memo (r19 — the exactPairs/nearPairs discipline):
    * rag_hybrid_rrf and rag_eval_metrics (whose fusion leg re-runs
    * this whole pipeline — both retrieval legs included) derive from
    * the SAME 10-row fused ranking, a pure function of
    * (documents.parquet, embeddings.parquet). Built once per (session,
    * corpus fingerprints), materialized through scratch parquet,
    * stored UNordered; [[ragHybridRrf]] re-applies the fused order. */
  @volatile private var rrfMemo
      : Option[(SparkSession, String, DataFrame)] = None
  private def rrfFused(s: SparkSession, dir: String): DataFrame = {
    val fp = graft.core.Scratch.fingerprint(s, s"$dir/documents.parquet") +
      "-" + graft.core.Scratch.fingerprint(s, s"$dir/embeddings.parquet")
    val memoKey = s"$dir@$fp"
    rrfMemo match {
      case Some((ms, md, df)) if (ms eq s) && md == memoKey => df
      case _ =>
        graft.core.CachePayers.paid("rag_rrf")
        val out = graft.core.Scratch.dir(
          s"ragrrf-${s.sparkContext.applicationId}-$fp", dir)
        rrfBuild(s, dir).write.mode("overwrite").parquet(out)
        val df = s.read.parquet(out)
        rrfMemo = Some((s, memoKey, df))
        df
    }
  }

  def ragHybridRrf(s: SparkSession, dir: String): DataFrame =
    rrfFused(s, dir).orderBy(col("rrf").desc, col("doc_id").asc)

  private[graft] def rrfBuild(s: SparkSession, dir: String): DataFrame = {
    val lex = TextAnalysis.bm25Search(s, dir) // (doc_id, bm25) top-15
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val vec = emb(s, dir).crossJoin(broadcast(qv(s, dir, 42)))
      .filter(col("vec_id") =!= 42)
      .withColumn("sim", cosineSim(col("embedding"), col("qv")))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(RagK1)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("sim").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr(s"$RrfScale DIV ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"$RrfScale DIV ($RrfK + vec_rank)"), lit(0L)))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(RagK)
      .select(col("doc_id"), col("rrf"), col("lex_rank"), col("vec_rank"))
  }

  /** Dense-leg query panel width for [[ragEvalMetrics]]: the
    * [[EvalQPerLabel]] LOWEST vec_ids of EVERY cluster label (30
    * queries at the corpus's 10 labels, at every SF) — derived from
    * the data, not a literal id list, so the panel spans all labels
    * at any scale and the macro numbers stop depending on 3 lucky
    * draws (r13's smoke-sized eval). The fusion leg stays on 42 (the
    * [[ragHybridRrf]] dial). */
  private val EvalQPerLabel = 3

  /** IR-EVAL metrics gate (r13) — the measurement loop for the
    * retrieval stack, the [[Dedup.dedupLshEval]] stance applied to
    * search: MRR, recall@10, precision@10 and nDCG@10 of (a) the
    * hybrid RRF fusion and (b) the dense cosine leg alone, against
    * PLANTED relevance labels (relevant = shares the query vector's
    * `label` — the synthetic corpus's cluster ground truth). An
    * operator of a 100 TB retrieval stack needs these numbers before
    * trusting a fusion dial; this gate keeps them under the oracle.
    *
    * Determinism: ranks, hit counts and |R| are exact integers;
    * recall/precision/RR are integer-DIV ppm; nDCG sums its ≤10
    * discount terms in fixed ascending-rank order and rounds at 1e-6
    * (the bm25 fixed-order-float stance — ln ulp noise is 1e-16,
    * ten orders below the quantum). Scale shape: each ranking is the
    * already-audited top-k device; the eval joins a BROADCAST k-row
    * ranking against the label-filtered corpus — one scan per query,
    * no corpus-width shuffle, cost independent of corpus size beyond
    * the scan. */
  def ragEvalMetrics(s: SparkSession, dir: String): DataFrame = {
    val k = RagK
    val e = emb(s, dir)
    // n_rel = 0 (a unique label) is guarded EXPLICITLY on both engines:
    // unguarded, Spark's sequence(1, least(k, 0)) yields the descending
    // [1, 0] (Infinity IDCG) while DuckDB's generate_series(1, 0) is
    // empty (NULL), and the recall division is NULL in Spark but an
    // error in DuckDB — a silent engine divergence. Zero relevant docs
    // ⇒ every metric is 0 by definition, on both sides.
    def metricCols(sys: Column, qid: Column): Seq[Column] = Seq(
      sys.as("system"), qid.as("qid"), col("n_rel"), col("hits"),
      when(col("n_rel") === 0, lit(0L))
        .otherwise(expr("hits * 1000000 DIV n_rel")).as("recall_ppm"),
      expr(s"hits * 1000000 DIV $k").as("precision_ppm"),
      coalesce(expr("1000000 DIV first_rank"), lit(0L)).as("rr_ppm"),
      // binary-gain nDCG@k: DCG over hit ranks (0 when none), IDCG
      // over the first min(k,|R|) ranks, both folded ascending
      when(col("n_rel") === 0, lit(0L)).otherwise(expr(s"""CAST(round(
        coalesce(aggregate(hit_ranks, CAST(0.0 AS DOUBLE),
          (acc, r) -> acc + ln(2) / ln(r + 1)), CAST(0.0 AS DOUBLE)) /
        aggregate(sequence(1, least($k, n_rel)), CAST(0.0 AS DOUBLE),
          (acc, r) -> acc + ln(2) / ln(r + 1)) * 1000000)
        AS BIGINT)""")).as("ndcg_micro"))
    // Query panel: derived from the data (see EvalQPerLabel). ~30 rows;
    // localCheckpoint BEFORE its broadcast consumers (r13 rule:
    // broadcast over live lineage sporadically re-executes the whole
    // subtree single-threaded in the broadcast thread).
    val q = e.withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("vec_id"))))
      .filter(col("rn") <= EvalQPerLabel)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlab"))
      .localCheckpoint(true)
    val labCnt = e.groupBy(col("label")).agg(count(lit(1)).as("lab_cnt"))
    // ONE corpus pass scores every panel query (panel broadcast × scan)
    // — 30 per-qid plans unioned (the r13 shape) would pay 30 scans.
    // The rank window shuffles |E|·|panel| rows by qid; a production
    // run swaps it for the per-query top-k heap, same contract.
    val ranked = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", cosineSim(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("qlab"), col("vec_id").as("doc_id"),
        col("label").as("dlab"), col("rank"))
    val hitAgg = ranked.filter(col("dlab") === col("qlab"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("hits"), min(col("rank")).as("first_rank"),
        sort_array(collect_list(col("rank"))).as("hit_ranks"))
    // left join from the panel so ZERO-hit queries keep their row
    val perq = q.join(labCnt, q("qlab") === labCnt("label"))
      .select(col("qid"), (col("lab_cnt") - 1).as("n_rel"))
      .join(hitAgg, Seq("qid"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .localCheckpoint(true) // 30 rows, consumed by dense + macro
    val dense = perq.select(metricCols(lit("dense"), col("qid")): _*)
    // macro row: per-query metrics averaged with the same integer-DIV
    // quantum (n_rel/hits carry the panel SUMS for auditability)
    val macroRow = dense.agg(
      sum(col("n_rel")).as("n_rel"), sum(col("hits")).as("hits"),
      expr("sum(recall_ppm) DIV count(1)").as("recall_ppm"),
      expr("sum(precision_ppm) DIV count(1)").as("precision_ppm"),
      expr("sum(rr_ppm) DIV count(1)").as("rr_ppm"),
      expr("sum(ndcg_micro) DIV count(1)").as("ndcg_micro"))
      .select(lit("dense_macro").as("system"), lit(-1L).as("qid"),
        col("n_rel"), col("hits"), col("recall_ppm"),
        col("precision_ppm"), col("rr_ppm"), col("ndcg_micro"))
    // fusion leg: the rrf ranking stays on the qid-42 dial
    val rrfRank = ragHybridRrf(s, dir)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("rank"))
    val lab42 = e.filter(col("vec_id") === 42)
      .select(col("label").as("qlab")).localCheckpoint(true)
    val rrfHits = rrfRank
      .join(e.select(col("vec_id").as("doc_id"), col("label").as("dlab")),
        "doc_id")
      .crossJoin(broadcast(lab42))
      .filter(col("dlab") === col("qlab"))
      .agg(count(lit(1)).as("hits"), min(col("rank")).as("first_rank"),
        sort_array(collect_list(col("rank"))).as("hit_ranks"))
    val rrfRow = rrfHits.crossJoin(
        lab42.join(labCnt, col("qlab") === col("label"))
          .select((col("lab_cnt") - 1).as("n_rel")))
      .select(metricCols(lit("rrf"), lit(42L)): _*)
    dense.unionByName(macroRow).unionByName(rrfRow)
      .orderBy("system", "qid")
  }

  /** RAG retrieval composite — the two-stage retrieve-then-rerank shape
    * every retrieval-augmented pipeline runs: (1) dense ANN recall
    * (cosine top-[[RagK1]] against the query embedding), (2) a lexical
    * rerank over ONLY the recalled candidates (distinct query terms
    * present in the document), final top-[[RagK]] by (keyword hits,
    * dense similarity). The production rerank stage would swap the
    * lexical score for a cross-encoder; the dataflow — score only the
    * k1 survivors, never the corpus — is the part that matters.
    *
    * Scale shape: stage 1 is the broadcast-query TakeOrderedAndProject
    * kNN (bounded per-partition heaps); stage 2 BROADCASTS the 50-row
    * candidate list against `documents` — the text of the corpus is
    * touched only where the id join hits (at scale, an id-IN-list
    * pushdown / DPP-prunable scan), and the rerank expression runs on
    * 50 rows. No corpus-width shuffle in either stage. */
  def ragRetrieve(s: SparkSession, dir: String): DataFrame = {
    val stage1 = emb(s, dir).crossJoin(broadcast(qv(s, dir, 42)))
      .filter(col("vec_id") =!= 42)
      .withColumn("sim", cosineSim(col("embedding"), col("qv")))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(RagK1)
      .select(col("vec_id"), col("label"), col("sim"))
    val d = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), tokens(col("text")).as("ts"))
    d.join(broadcast(stage1), d("doc_id") === stage1("vec_id"))
      .withColumn("kw_hits", size(filter(
        array(RagTerms.map(lit): _*),
        t => array_contains(col("ts"), t))).cast("long"))
      .orderBy(col("kw_hits").desc, col("sim").desc, col("vec_id").asc)
      .limit(RagK)
      .select(col("doc_id"), col("kw_hits"), col("label"))
  }

  /** MMR greedy over a candidate list — quantized integer scores so the
    * selection is bit-deterministic: at each step pick argmax of
    * 7·rel_µ − 3·maxSimToSelected_µ (λ = 0.7 scaled ×10), ties to the
    * lowest id. Pure function over the k-sized candidate set; exposed
    * for the spec's hand fixture. */
  private[graft] def mmrPick(
      cands: Seq[(Long, Int, Long, Array[Double])], // (id, label, relµ, vec)
      k: Int): Seq[(Long, Int, Long)] = {
    def cosµ(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val n = math.sqrt(na) * math.sqrt(nb)
      if (n == 0) 0L else math.round(dot / n * 1000000L)
    }
    val picked = collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val chosen = collection.mutable.ArrayBuffer.empty[Array[Double]]
    val rest = collection.mutable.ArrayBuffer(cands: _*)
    while (picked.length < k && rest.nonEmpty) {
      val best = rest.minBy { case (id, _, relµ, v) =>
        val maxSim =
          if (chosen.isEmpty) 0L else chosen.map(c => cosµ(v, c)).max
        (-(7L * relµ - 3L * maxSim), id)
      }
      picked += ((best._1, best._2, best._3))
      chosen += best._4
      rest -= best
    }
    picked.toSeq
  }

  /** DIVERSIFIED retrieval — maximal marginal relevance over the dense
    * recall stage: the distributed top-[[RagK1]] (TakeOrderedAndProject,
    * the same shape as [[ragRetrieve]]'s stage 1) feeds a query-node MMR
    * greedy that trades relevance against similarity-to-already-picked
    * (λ = 0.7) — the standard recall-distributed / rerank-on-the-
    * query-node architecture (the greedy is inherently sequential and
    * k²-sized; the k-sized collect is the documented bounded-fixture
    * pattern). Integer-micro scores make the pick order deterministic —
    * which also makes the fixed-k greedy oracle-expressible as a k-round
    * unrolled CTE chain ([[mmrOracle]], the graph_pagerank device);
    * MmrSpec additionally locks the semantics by hand fixture. */
  def ragDiverse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cands = emb(s, dir).crossJoin(broadcast(qv(s, dir, 42)))
      .filter(col("vec_id") =!= 42)
      .withColumn("relµ",
        round(cosineSim(col("embedding"), col("qv")) * 1000000L)
          .cast("long"))
      .orderBy(col("relµ").desc, col("vec_id").asc)
      .limit(RagK1)
      .select(col("vec_id"), col("label"), col("relµ"), col("embedding"))
      .collect() // RagK1-sized — bounded fixture, never the corpus
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getSeq[Float](3).map(_.toDouble).toArray)).toSeq
    mmrPick(cands, RagK).zipWithIndex
      .map { case ((id, label, relµ), i) => (i + 1L, id, label, relµ) }
      .toDF("rank", "vec_id", "label", "rel_micro")
  }

  /** DuckDB-side squared L2 between two FLOAT[] lists, double math,
    * index order — mirrors VectorFunctions.l2Sq. */
  private def sqlL2(a: String, b: String, dim: Int = 64): String =
    s"list_sum([($a[i]::DOUBLE - $b[i]::DOUBLE)*($a[i]::DOUBLE - $b[i]::DOUBLE) for i in generate_series(1,$dim)])"

  private def sqlDot(a: String, b: String): String =
    s"list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in generate_series(1,64)])"

  /** Integer-micro cosine between two FLOAT[] lists — DuckDB twin of
    * mmrPick's cosµ (round half-up matches for the non-negative sims
    * that occur here; zero norm → 0 via coalesce∘nullif). */
  private def sqlCosMu(a: String, b: String): String =
    s"""CAST(coalesce(round(${sqlDot(a, b)} /
       | nullif(sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}), 0)
       | * 1000000), 0) AS BIGINT)""".stripMargin.replace("\n", "")

  /** rag_diverse oracle: the k=[[RagK]] MMR greedy unrolled — round 1
    * picks argmax relevance; round n collects the n−1 chosen embeddings
    * into ONE list (ch$n) and picks argmax of 7·relµ − 3·maxSimµ over
    * the remaining candidates, ties to the lowest id — exactly mmrPick's
    * comparator. CTEs are MATERIALIZED so the chain evaluates linearly
    * (un-materialized, each p$n would re-evaluate every earlier round —
    * exponential). Verified bit-equal to an independent MMR replica. */
  private def mmrOracle: String = {
    val head =
      s"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 42),
         |cands AS MATERIALIZED (SELECT vec_id, label,
         |    CAST(round(${sqlDot("embedding", "qv")} /
         |      nullif(sqrt(${sqlDot("embedding", "embedding")})
         |        * sqrt(${sqlDot("qv", "qv")}), 0)
         |      * 1000000) AS BIGINT) AS rel,
         |    embedding
         |  FROM embeddings, q WHERE vec_id <> 42
         |  ORDER BY rel DESC, vec_id ASC LIMIT $RagK1),
         |p1 AS MATERIALIZED (SELECT vec_id, label, rel, embedding
         |  FROM cands ORDER BY rel DESC, vec_id ASC LIMIT 1)""".stripMargin
    val rounds = (2 to RagK).map { n =>
      val prev = (1 until n)
        .map(j => s"SELECT vec_id, embedding FROM p$j")
        .mkString(" UNION ALL ")
      s"""ch$n AS MATERIALIZED (SELECT list(vec_id) AS ids,
         |  list(embedding) AS chs FROM ($prev)),
         |p$n AS MATERIALIZED (
         |  SELECT c.vec_id, c.label, c.rel, c.embedding FROM cands c, ch$n
         |  WHERE NOT list_contains(ch$n.ids, c.vec_id)
         |  ORDER BY 7 * c.rel - 3 * list_max(
         |      [${sqlCosMu("c.embedding", "ce")} for ce in ch$n.chs]) DESC,
         |    c.vec_id ASC LIMIT 1)""".stripMargin
    }
    val finalSel = (1 to RagK).map(n =>
      s"SELECT CAST($n AS BIGINT) AS rank, vec_id, label, rel AS rel_micro FROM p$n")
      .mkString("\nUNION ALL\n")
    ((head +: rounds).mkString("WITH ", ",\n", "") +
      s"\nSELECT * FROM (\n$finalSel\n) ORDER BY rank")
  }

  /** rag_hybrid_rrf oracle body — extracted so [[ragEvalMetricsSql]]
    * can nest it as a subquery (concatenated, never re-stripMargined:
    * embedded |-prefixed lines would lose a pipe). */
  private val rrfOracleSql: String =
      s"""WITH lexb AS (${TextAnalysis.bm25Sql.replace("\n", "\n  ")}),
         |lex AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
         |      AS BIGINT) AS lex_rank FROM lexb),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 42),
         |vecb AS (SELECT vec_id,
         |    ${sqlDot("embedding", "qv")} /
         |      nullif(sqrt(${sqlDot("embedding", "embedding")})
         |        * sqrt(${sqlDot("qv", "qv")}), 0) AS sim
         |  FROM embeddings, q WHERE vec_id <> 42
         |  ORDER BY sim DESC, vec_id ASC LIMIT $RagK1),
         |vec AS (SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY sim DESC, vec_id ASC)
         |      AS BIGINT) AS vec_rank FROM vecb)
         |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         |  CAST(COALESCE($RrfScale // ($RrfK + lex_rank), 0)
         |    + COALESCE($RrfScale // ($RrfK + vec_rank), 0)
         |    AS BIGINT) AS rrf,
         |  lex_rank, vec_rank
         |FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
         |ORDER BY rrf DESC, doc_id ASC LIMIT $RagK""".stripMargin

  /** [[ragEvalMetrics]] oracle — the same set-oriented shape (panel
    * derived per label, one scored pass, left join keeps zero-hit
    * queries, n_rel=0 guarded, macro = integer-DIV means). Built by
    * CONCATENATION (each piece stripMargins itself before assembly). */
  private def ragEvalMetricsSql: String = {
    // metric select over (n_rel, hits, first_rank, hit_ranks) in scope
    def metricSql = // n_rel=0 guard mirrors the Spark side exactly
      s"""  CASE WHEN n_rel = 0 THEN CAST(0 AS BIGINT)
         |    ELSE hits * 1000000 // n_rel END AS recall_ppm,
         |  hits * 1000000 // $RagK AS precision_ppm,
         |  COALESCE(1000000 // first_rank, CAST(0 AS BIGINT)) AS rr_ppm,
         |  CASE WHEN n_rel = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(COALESCE(list_sum(list_transform(hit_ranks,
         |      r -> ln(2) / ln(r + 1))), 0)
         |    / list_sum(list_transform(
         |        generate_series(1, least($RagK, n_rel)),
         |        r -> ln(2) / ln(r + 1))) * 1000000) AS BIGINT) END
         |    AS ndcg_micro""".stripMargin
    val panelCtes =
      s"""q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlab
         |  FROM (SELECT vec_id, embedding, label,
         |      row_number() OVER (PARTITION BY label ORDER BY vec_id)
         |        AS rn FROM embeddings) WHERE rn <= $EvalQPerLabel),
         |lc AS (SELECT label, count(*) AS lab_cnt FROM embeddings
         |  GROUP BY label),
         |scored AS (SELECT q.qid, q.qlab, e.vec_id AS doc_id,
         |    e.label AS dlab,
         |    ${sqlDot("e.embedding", "q.qv")} /
         |      nullif(sqrt(${sqlDot("e.embedding", "e.embedding")})
         |        * sqrt(${sqlDot("q.qv", "q.qv")}), 0) AS sim
         |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
         |ranked AS (SELECT qid, qlab, doc_id, dlab,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM scored),
         |h AS (SELECT qid, count(*) AS hits, min(rank) AS first_rank,
         |    list(rank ORDER BY rank) AS hit_ranks
         |  FROM ranked WHERE rank <= $RagK AND dlab = qlab GROUP BY qid),
         |perq AS (SELECT q.qid, lc.lab_cnt - 1 AS n_rel,
         |    COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits,
         |    h.first_rank, h.hit_ranks
         |  FROM q JOIN lc ON q.qlab = lc.label
         |  LEFT JOIN h ON q.qid = h.qid),
         |dense AS (SELECT 'dense' AS system, qid, n_rel, hits,
         |$metricSql
         |  FROM perq)""".stripMargin
    val rrfCtes =
      s"""rrfq AS (SELECT * FROM (
         |$rrfOracleSql
         |)),
         |rrank AS (SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC)
         |    AS BIGINT) AS rank FROM rrfq),
         |q42 AS (SELECT label AS qlab FROM embeddings WHERE vec_id = 42),
         |h42 AS (SELECT count(*) AS hits, min(rank) AS first_rank,
         |    list(rank ORDER BY rank) AS hit_ranks
         |  FROM rrank r JOIN embeddings e ON r.doc_id = e.vec_id, q42
         |  WHERE e.label = q42.qlab),
         |p42 AS (SELECT (SELECT lc.lab_cnt - 1 FROM lc, q42
         |      WHERE lc.label = q42.qlab) AS n_rel,
         |    hits, first_rank, hit_ranks FROM h42),
         |rrfrow AS (SELECT 'rrf' AS system, CAST(42 AS BIGINT) AS qid,
         |  n_rel, hits,
         |$metricSql
         |  FROM p42),
         |mac AS (SELECT 'dense_macro' AS system, CAST(-1 AS BIGINT) AS qid,
         |  CAST(sum(n_rel) AS BIGINT) AS n_rel,
         |  CAST(sum(hits) AS BIGINT) AS hits,
         |  CAST(sum(recall_ppm) // count(*) AS BIGINT) AS recall_ppm,
         |  CAST(sum(precision_ppm) // count(*) AS BIGINT) AS precision_ppm,
         |  CAST(sum(rr_ppm) // count(*) AS BIGINT) AS rr_ppm,
         |  CAST(sum(ndcg_micro) // count(*) AS BIGINT) AS ndcg_micro
         |  FROM dense)""".stripMargin
    s"WITH $panelCtes,\n$rrfCtes\n" +
      "SELECT * FROM (SELECT * FROM dense UNION ALL SELECT * FROM mac " +
      "UNION ALL SELECT * FROM rrfrow) ORDER BY system, qid"
  }

  val oracle: Map[String, String] = Map(
    "rag_diverse" -> mmrOracle,
    "rag_hybrid_rrf" -> rrfOracleSql,
    "rag_eval_metrics" -> ragEvalMetricsSql,
    "rag_retrieve" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings
         |  WHERE vec_id = 42),
         |s1 AS (SELECT vec_id, label,
         |    ${sqlDot("embedding", "qv")} /
         |      nullif(sqrt(${sqlDot("embedding", "embedding")})
         |        * sqrt(${sqlDot("qv", "qv")}), 0) AS sim
         |  FROM embeddings, q WHERE vec_id <> 42
         |  ORDER BY sim DESC, vec_id ASC LIMIT $RagK1),
         |s2 AS (SELECT d.doc_id, s1.label, s1.sim,
         |    CAST(len(list_filter(
         |      [${RagTerms.map("'" + _ + "'").mkString(", ")}], t ->
         |      list_contains(regexp_extract_all(lower(d.text),
         |        '[a-z0-9]+'), t))) AS BIGINT) AS kw_hits
         |  FROM s1 JOIN documents d ON d.doc_id = s1.vec_id)
         |SELECT doc_id, kw_hits, label FROM s2
         |ORDER BY kw_hits DESC, sim DESC, doc_id ASC
         |LIMIT $RagK""".stripMargin,
    "embed_outliers" ->
      s"""WITH q AS (SELECT vec_id, label,
         |    [CAST(round(CAST(x AS DOUBLE) * $OutlierScale) AS BIGINT)
         |       + $OutlierOffset
         |      for x in embedding] AS qe
         |  FROM embeddings),
         |e AS (SELECT unnest([struct_pack(p := i, v := qe[i])
         |    for i in generate_series(1, len(qe))]) AS u FROM q),
         |cent AS (SELECT u.p AS p,
         |    CAST(sum(u.v) // count(*) AS BIGINT) AS c
         |  FROM e GROUP BY u.p),
         |carr AS (SELECT list(c ORDER BY p) AS cent FROM cent)
         |SELECT vec_id, label,
         |  CAST(list_sum([(qe[i] - cent[i]) * (qe[i] - cent[i])
         |    for i in generate_series(1, len(qe))]) AS BIGINT) AS dist
         |FROM q, carr
         |ORDER BY dist DESC, vec_id ASC LIMIT 20""".stripMargin,
    "knn_l2" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label FROM embeddings, q WHERE vec_id <> 0
         |ORDER BY ${sqlL2("embedding", "qv")} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "knn_l2_filtered" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label FROM embeddings, q
         |WHERE vec_id <> 0 AND label IN (1,3,5)
         |ORDER BY ${sqlL2("embedding", "qv")} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "knn_cosine" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
         |SELECT vec_id, label FROM embeddings, q WHERE vec_id <> 1
         |ORDER BY ${sqlDot("embedding", "qv")} /
         |  nullif(sqrt(${sqlDot("embedding", "embedding")})
         |    * sqrt(${sqlDot("qv", "qv")}), 0)
         |  DESC, vec_id ASC LIMIT 10""".stripMargin,
    "knn_join" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % 100 = 7)
         |SELECT qid, rank, vec_id, label FROM (
         |  SELECT q.qid, e.vec_id, e.label,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${sqlL2("e.embedding", "q.qv")} ASC, e.vec_id ASC) AS rank
         |  FROM embeddings e, q WHERE e.vec_id % 100 <> 7)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id % 100 = 7)
         |SELECT qid, rank, vec_id, label FROM (
         |  SELECT q.qid, e.vec_id, e.label,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${sqlL2("e.embedding", "q.qv")} ASC, e.vec_id ASC) AS rank
         |  FROM embeddings e, q
         |  WHERE e.vec_id % 100 <> 7 AND e.label <> q.ql)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "knn_join_batch" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id < 64)
         |SELECT qid, rank, vec_id, label FROM (
         |  SELECT q.qid, e.vec_id, e.label,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${sqlL2("e.embedding", "q.qv")} ASC, e.vec_id ASC) AS rank
         |  FROM embeddings e, q WHERE e.vec_id >= 64)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "hard_negatives_batch" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 64)
         |SELECT qid, rank, vec_id, label FROM (
         |  SELECT q.qid, e.vec_id, e.label,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${sqlL2("e.embedding", "q.qv")} ASC, e.vec_id ASC) AS rank
         |  FROM embeddings e, q
         |  WHERE e.vec_id >= 64 AND e.label <> q.ql)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "ann_join_lsh" -> lshJoinOracle,
    "ann_join_lsh_auto" -> lshJoinAutoOracle,
    "ann_ivf" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 77),
         |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |probes AS (
         |  SELECT cid FROM cents, q
         |  ORDER BY ${sqlL2("cv", "qv")} ASC, cid ASC LIMIT 4),
         |assigned AS (
         |  SELECT vec_id, label, embedding, cid FROM (
         |    SELECT e.vec_id, e.label, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlL2("e.embedding", "c.cv")} ASC, c.cid ASC) AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1)
         |SELECT vec_id, label FROM assigned, q
         |WHERE cid IN (SELECT cid FROM probes) AND vec_id <> 77
         |ORDER BY ${sqlL2("embedding", "qv")} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "rag_maxsim" -> ragMaxsimOracle,
    "ann_nprobe_sweep" -> {
      val dialBlocks = Seq(1, 2, 4, 8, 16).map { np =>
        s"""SELECT CAST($np AS BIGINT) AS nprobe, sc$np.n AS scanned,
           |  h$np.hits, CAST(h$np.hits * 100 AS BIGINT) AS recall_pm
           |FROM
           |  (SELECT count(*) AS hits FROM
           |    (SELECT vec_id FROM assigned, q
           |     WHERE cid IN (SELECT cid FROM cents, q
           |       ORDER BY ${sqlL2("cv", "qv")} ASC, cid ASC LIMIT $np)
           |     ORDER BY ${sqlL2("embedding", "qv")} ASC, vec_id ASC
           |     LIMIT 10) a JOIN exact USING (vec_id)) h$np,
           |  (SELECT count(*) AS n FROM assigned
           |   WHERE cid IN (SELECT cid FROM cents, q
           |     ORDER BY ${sqlL2("cv", "qv")} ASC, cid ASC LIMIT $np))
           |    sc$np""".stripMargin
      }
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings
         |  WHERE vec_id = 77),
         |cents AS (SELECT vec_id AS cid, embedding AS cv
         |  FROM embeddings WHERE vec_id < 16),
         |assigned AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlL2("e.embedding", "c.cv")} ASC, c.cid ASC)
         |        AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1 AND vec_id <> 77),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q WHERE vec_id <> 77
         |  ORDER BY ${sqlL2("embedding", "qv")} ASC, vec_id ASC LIMIT 10)
         |SELECT * FROM (
         |""".stripMargin +
        dialBlocks.mkString("\nUNION ALL\n") +
        "\n) ORDER BY nprobe"
    },
    "ann_recall_report" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 77),
         |cents AS (SELECT vec_id AS cid, embedding AS cv
         |  FROM embeddings WHERE vec_id < 16),
         |probes AS (
         |  SELECT cid FROM cents, q
         |  ORDER BY ${sqlL2("cv", "qv")} ASC, cid ASC LIMIT 4),
         |assigned AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlL2("e.embedding", "c.cv")} ASC, c.cid ASC)
         |        AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1),
         |approx AS (
         |  SELECT vec_id FROM assigned, q
         |  WHERE cid IN (SELECT cid FROM probes) AND vec_id <> 77
         |  ORDER BY ${sqlL2("embedding", "qv")} ASC, vec_id ASC LIMIT 10),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q WHERE vec_id <> 77
         |  ORDER BY ${sqlL2("embedding", "qv")} ASC, vec_id ASC LIMIT 10),
         |h AS (SELECT count(*) AS hits FROM approx JOIN exact
         |  USING (vec_id))
         |SELECT CAST(10 AS BIGINT) AS k, hits,
         |  CAST(hits * 100 AS BIGINT) AS recall_pm FROM h""".stripMargin,
    "ann_two_stage" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 77),
         |coarse AS (
         |  SELECT vec_id, label, embedding FROM embeddings, q
         |  WHERE vec_id <> 77
         |  ORDER BY ${sqlL2("embedding", "qv", 16)} ASC, vec_id ASC
         |  LIMIT 50)
         |SELECT vec_id, label FROM coarse, q
         |ORDER BY ${sqlL2("embedding", "qv")} ASC, vec_id ASC LIMIT 10""".stripMargin
  )

  /** Gated recall report — "measure, don't guess" as a first-class
    * operator: the IVF probe ranking's top-10 intersected with the
    * exact top-10 for the same fixture query, emitted as (k, hits,
    * recall_pm). Both rankings are fully deterministic (integer-exact
    * tie-breaks), so the recall number itself sits under the DuckDB
    * oracle — the gate fails if EITHER ranking drifts. The production
    * loop this encodes: recall@k is the dial that justifies nprobe. */
  def annRecallReport(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (_, q) = IvfIndex.fixedCentroidsAndQuery(e)
    val qlit = array(q.map(lit(_)): _*)
    val approx = annIvf(s, dir).select("vec_id")
    val exact = e.filter(col("vec_id") =!= 77)
      .withColumn("d", l2Sq(col("embedding"), qlit))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id")
    approx.join(exact, "vec_id")
      .agg(count(lit(1)).as("hits"))
      .select(lit(10L).as("k"), col("hits"),
        (col("hits") * 100L).as("recall_pm"))
  }

  /** ColBERT-style LATE-INTERACTION retrieval (MaxSim): instead of one
    * vector per document, every 8-token chunk gets its own embedding
    * and score(q, doc) = Σ over query tokens of the MAX chunk
    * similarity — the multi-vector ranking that beats single-vector
    * retrieval on long documents because each query token finds its
    * own best-matching span. Embeddings are the deterministic hash
    * encoder ([[graft.expr.MediaVecHash]], the mm_embed_knn device)
    * QUANTIZED to integer micros, so every dot product is exact LONG
    * and the full ranking sits under the oracle.
    *
    * Scale: chunk explode is bounded by corpus token volume; each
    * (chunk × query-token) similarity is a per-row codegen'd fold
    * against a BROADCAST 3-row query table; the max/sum reductions
    * ride one doc_id shuffle; top-10 is a heap. At 100 TB the chunk
    * table is the index (build once, scan per query) and an
    * LSH/IVF candidate generator composes in front exactly like
    * hard_negatives'. */
  def ragMaxsim(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    def hvec(c: Column): Column =
      column(graft.expr.MediaVecHash(expression(c), 16))
    def quant(c: Column): Column =
      transform(c, x => round(x.cast("double") * 1000000L).cast("long"))
    val chunks = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"),
        posexplode(sequence(lit(0), col("n") - 1, lit(MaxsimChunkW)))
          .as(Seq("ci", "start")), col("t"))
      .select(col("doc_id"),
        quant(hvec(array_join(
          slice(col("t"), col("start") + 1, lit(MaxsimChunkW)), " ")))
          .as("cv"))
    val qtokens = Seq("hash", "join", "vector")
    import s.implicits._
    val q = broadcast(qtokens.zipWithIndex.toDF("qt", "qi")
      .select(col("qi"), quant(hvec(col("qt"))).as("qv")))
    val dot = aggregate(
      zip_with(col("cv"), col("qv"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    chunks.crossJoin(q)
      .withColumn("sim", dot)
      .groupBy("doc_id", "qi").agg(max(col("sim")).as("best"))
      .groupBy("doc_id").agg(sum(col("best")).as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc_id").asc).limit(10)
  }

  private def ragMaxsimOracle: String = {
    def comp(e: String) =
      s"round((((('0x' || substr(md5($e), 1, 15))::BIGINT % 2001) " +
        s"- 1000) / 1000.0)::FLOAT::DOUBLE * 1000000)::BIGINT"
    val qts = Seq("hash", "join", "vector")
      .map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents WHERE len(
       |    regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
       |ch AS (SELECT doc_id,
       |    array_to_string(t[st + 1 : st + $MaxsimChunkW], ' ') AS chunk
       |  FROM (SELECT doc_id, t,
       |      unnest(generate_series(0, len(t) - 1, $MaxsimChunkW)) AS st
       |    FROM d)),
       |cv AS (SELECT doc_id,
       |    [${comp("chunk || ':' || (i - 1)")}
       |     for i in generate_series(1, 16)] AS cv
       |  FROM ch),
       |q AS (SELECT qi, [${comp("qt || ':' || (i - 1)")}
       |     for i in generate_series(1, 16)] AS qv
       |  FROM (SELECT unnest($qts) AS qt,
       |    unnest(generate_series(0, 2)) AS qi)),
       |sims AS (SELECT doc_id, qi,
       |    max(list_sum([cv.cv[i] * q.qv[i]
       |      for i in generate_series(1, 16)])) AS best
       |  FROM cv, q GROUP BY 1, 2),
       |sc AS (SELECT doc_id, CAST(sum(best) AS BIGINT) AS maxsim
       |  FROM sims GROUP BY 1)
       |SELECT doc_id, maxsim FROM sc
       |ORDER BY maxsim DESC, doc_id LIMIT 10""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_recall_report" -> (annRecallReport _),
    "rag_maxsim" -> (ragMaxsim _),
    "knn_l2" -> (knnL2 _),
    "embed_outliers" -> (embedOutliers _),
    "rag_retrieve" -> (ragRetrieve _),
    "rag_hybrid_rrf" -> (ragHybridRrf _),
    "rag_eval_metrics" -> (ragEvalMetrics _),
    "ann_nprobe_sweep" -> (annNprobeSweep _),
    "knn_l2_filtered" -> (knnL2Filtered _),
    "knn_cosine" -> (knnCosine _),
    "knn_join" -> (knnJoin _),
    "knn_join_batch" -> (knnJoinBatch _),
    "hard_negatives" -> (hardNegatives _),
    "hard_negatives_batch" -> (hardNegativesBatch _),
    "rag_diverse" -> (ragDiverse _),
    "ann_join_lsh" -> (annJoinLsh _),
    "ann_join_lsh_auto" -> (annJoinLshAuto _),
    "ann_ivf" -> (annIvf _),
    "ann_two_stage" -> (annTwoStage _)
  )
}
