package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index — the storage-layout half of the ANN story that
  * [[Similarity.annIvf]]'s in-plan variant only simulates.
  *
  * `build` assigns every vector to its nearest centroid and writes the
  * table `partitionBy("cid")`: each inverted list is its own parquet
  * directory. `probe` then filters on the probed cids, which Catalyst
  * turns into PARTITION pruning — unprobed lists are never read, not
  * even their footers (PlanSpec asserts PartitionFilters). At 100 TB
  * with nlist=4096 and nprobe=64, a probe touches ~1.6% of storage; the
  * plan shape is identical to this test-scale build.
  *
  * Centroids: callers either pass fixed seed vectors (oracle-replicable,
  * what the registered query uses) or fit real ones with [[kmeansFit]] —
  * deterministic Lloyd iterations (fixed init = lowest-id vectors,
  * index-order double folds), each round one broadcast-assignment +
  * one groupBy(cid) mean — no per-row shuffle beyond the k-sized
  * aggregate.
  */
object IvfIndex {

  /** Per-row nearest-centroid id (argmin L2) — ONE native codegen'd
    * call over the centroid table, zero shuffle. Strict `<`, first
    * centroid in seq order wins ties. Until r12 this was an
    * `aggregate` fold over k literal centroid structs; the fold's
    * interpreted lambdas made assignment O(N·k·Dim) × interpreter
    * overhead — the superlinear term of the grown-k SemDeDup dial at
    * the sf10 rung. [[graft.expr.NearestCentroidExpr]] keeps the
    * fold's arithmetic bit-for-bit (NearestCentroidSpec proves
    * equivalence against the composed form). */
  private[graft] def assignCid(
      cents: Seq[(Long, Array[Float])], emb: Column): Column =
    nearestCentroid(cents, emb, cosine = false)

  /** [[assignCid]]'s cosine twin: argmax cosine similarity, strict `>`
    * so ties keep the FIRST (lowest-cid) centroid — the same tie-break
    * an ORDER BY cos DESC, cid ASC row_number picks. Scale-invariant:
    * a vector and any positive multiple of it land in the same cell,
    * which is what direction-based (semantic) clustering wants. */
  private[graft] def assignCosCid(
      cents: Seq[(Long, Array[Float])], emb: Column): Column =
    nearestCentroid(cents, emb, cosine = true)

  private def nearestCentroid(cents: Seq[(Long, Array[Float])],
      emb: Column, cosine: Boolean): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.expr.NearestCentroidExpr(
      toExpr(emb.cast("array<double>")),
      cents.map(_._1).toArray,
      cents.map(_._2.map(_.toDouble)).toArray,
      cosine))
  }

  /** Deterministic Lloyd's KMeans: init = the k lowest-vec_id vectors,
    * `iters` rounds of broadcast assignment + per-cid mean. Every step is
    * index-order double math — same seed, same data ⇒ same centroids. */
  def kmeansFit(vectors: DataFrame, k: Int, iters: Int)
      : Seq[(Long, Array[Float])] = {
    var cents: Seq[(Long, Array[Float])] = vectors
      .orderBy("vec_id").limit(k)
      .select(col("embedding")).collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Float](0).toArray) }
      .toSeq
    for (_ <- 1 to iters) {
      val dim = cents.head._2.length
      val meanCols = (0 until dim).map(i =>
        avg(element_at(col("embedding"), i + 1)).as(s"m$i"))
      val means = vectors
        .withColumn("cid", assignCid(cents, col("embedding")))
        .groupBy("cid")
        .agg(meanCols.head, meanCols.tail: _*)
        .collect()
        .map(r => (r.getLong(0),
          (0 until dim).map(i => r.getDouble(i + 1).toFloat).toArray))
        .toMap
      // empty clusters keep their previous centroid
      cents = cents.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
    }
    cents
  }

  /** MLlib-backed centroid fit — the production path for large corpora
    * (BASELINE.json's declared approach: "batch vector index build via
    * MLlib"): `org.apache.spark.ml.clustering.KMeans` with a fixed seed
    * and k-means|| init. Deterministic for a given seed+data+partitioning
    * but NOT oracle-replicable in SQL, so the registered gate query uses
    * fixed centroids and this path is spec-verified instead
    * (PlanSpec: assignments complete, SSE no worse than seed-vector
    * centroids). */
  def kmeansFitMl(vectors: DataFrame, k: Int, iters: Int, seed: Long = 42L)
      : Seq[(Long, Array[Float])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = vectors.select(
      array_to_vector(col("embedding").cast("array<double>"))
        .as("features"))
    val model = new KMeans()
      .setK(k).setMaxIter(iters).setSeed(seed)
      .setFeaturesCol("features")
      .fit(feats)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.map(_.toFloat))
    }.toSeq
  }

  /** Assign + write the inverted lists (partitioned by cid) and the
    * centroid table. Returns the index directory. */
  def build(s: SparkSession, vectors: DataFrame, outDir: String,
      cents: Seq[(Long, Array[Float])]): String = {
    import s.implicits._
    vectors
      .withColumn("cid", assignCid(cents, col("embedding")))
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$outDir/lists")
    cents.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv")
      .repartition(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    outDir
  }

  /** Persisted centroids of an existing index, in cid order — the k-sized
    * driver-side read shared by [[appendTail]] and probe selection. The
    * table is a few KB in one file, so it is read on the driver with
    * parquet-hadoop's record reader: no Spark job, no schema inference.
    * Columns are found by name (`cid` BIGINT, `cv` the 3-level parquet
    * LIST of FLOAT that [[build]] writes). */
  def readCentroids(s: SparkSession, indexDir: String)
      : Seq[(Long, Array[Float])] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = s.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/centroids")
    dir.getFileSystem(conf).listStatus(dir).toSeq.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .flatMap { f =>
        val r = ParquetReader.builder(new GroupReadSupport, f)
          .withConf(conf).build()
        try Iterator.continually(r.read()).takeWhile(_ != null).map { g =>
          val cv = g.getGroup("cv", 0)
          (g.getLong("cid", 0), Array.tabulate(cv.getFieldRepetitionCount(0))(
            i => cv.getGroup(0, i).getFloat(0, 0)))
        }.toVector
        finally r.close()
      }.sortBy(_._1)
  }

  /** Incremental maintenance: assign `tail` (vec_id, embedding — rows NOT
    * yet covered by the index) against the index's OWN persisted centroids
    * and append the new rows into the partitioned lists. Pre-existing list
    * files are untouched — parquet append adds files inside the cid=
    * directories — so the cost is O(tail), not O(collection): the
    * reference's per-insert `Add` / tail-replay semantics
    * (/root/reference/db/hnsw.go:16-23, db/db.go:191-207) rather than a
    * rebuild. Centroids intentionally do NOT move (same as the reference:
    * its HNSW graph never re-fits earlier structure on insert); callers
    * that want re-fit centroids rebuild explicitly. */
  def appendTail(s: SparkSession, tail: DataFrame, indexDir: String): Unit = {
    val cents = readCentroids(s, indexDir)
    tail
      .withColumn("cid", assignCid(cents, col("embedding")))
      .write.mode("append").partitionBy("cid")
      .parquet(s"$indexDir/lists")
  }

  /** [[build]] unless a previous build of the SAME vectors already sits
    * at `outDir` — trust contract as elsewhere (Bucketing reuse,
    * Collection.ensureIndex): committer _SUCCESS markers present, list
    * rows == source rows, centroid count == |cents|. Index layout is a
    * pure function of (vectors, cents), so a trusted leftover is
    * equivalent; the reference likewise reopens its persisted HNSW
    * snapshot instead of rebuilding (db/db.go:176-189). */
  def ensureBuilt(s: SparkSession, vectors: DataFrame, outDir: String,
      cents: Seq[(Long, Array[Float])]): String = {
    val trusted =
      graft.core.Trust.parquetDir(s, s"$outDir/centroids", cents.size.toLong) &&
      graft.core.Trust.parquetDir(s, s"$outDir/lists", vectors.count())
    if (trusted) outDir else build(s, vectors, outDir, cents)
  }

  /** Driver-side squared L2 — same double math + index fold order as the
    * column/oracle paths (the distance behind [[nearestLists]]). */
  private[graft] def l2sqLocal(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
    }
    acc
  }

  /** Probe selection: ids of the `nprobe` centroids nearest to `q`
    * (driver-side [[l2sqLocal]]), nearest first, ties to the lower cid.
    * `nprobe = cents.size` is the full probe order. */
  private[graft] def nearestLists(cents: Seq[(Long, Array[Float])],
      q: Array[Float], nprobe: Int): Seq[Long] =
    cents.map { case (cid, cv) => (cid, l2sqLocal(cv, q)) }
      .sortBy { case (cid, d) => (d, cid) }.take(nprobe).map(_._1)

  /** Candidate rows of the `nprobe` nearest lists, every list column
    * plus `cid` — no ordering, no limit, for callers that re-rank on
    * the list rows themselves ([[probe]]). The cid filter is a
    * PARTITION filter — unprobed lists are pruned at file level. */
  def probeCandidates(s: SparkSession, indexDir: String, q: Array[Float],
      nprobe: Int): DataFrame =
    s.read.parquet(s"$indexDir/lists")
      .filter(col("cid").isin(nearestLists(readCentroids(s, indexDir), q,
        nprobe): _*))

  /** Ids (`vec_id`) of the `nprobe` nearest lists, for callers that
    * join back to the source rows (Collection.queryApprox). The lists
    * are read with their known schema — `vec_id` BIGINT plus the `cid`
    * partition column — so building this DataFrame infers nothing and
    * launches no Spark job; the same partition pruning applies. */
  private[graft] def probeIds(s: SparkSession, indexDir: String,
      q: Array[Float], nprobe: Int): DataFrame =
    s.read.schema("vec_id BIGINT, cid BIGINT").parquet(s"$indexDir/lists")
      .filter(col("cid").isin(nearestLists(readCentroids(s, indexDir), q,
        nprobe): _*))
      .select("vec_id")

  /** Probe + exact top-k within the probed lists (TakeOrderedAndProject
    * over the pruned scan). Projects every non-index column through. */
  def probe(s: SparkSession, indexDir: String, q: Array[Float], k: Int,
      nprobe: Int, excludeId: Long = -1L): DataFrame = {
    val qlit = array(q.map(lit(_)): _*)
    probeCandidates(s, indexDir, q, nprobe)
      .filter(col("vec_id") =!= excludeId)
      .withColumn("d", l2Sq(col("embedding"), qlit))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(k)
      .select("vec_id", "label")
  }

  /** Registered end-to-end query: build the persisted index for `dir`
    * (fixed oracle-replicable centroids: vec_id < 16), probe with vector
    * 77 — same semantics as `ann_ivf`, but through real partitioned
    * storage. */
  /** The shared oracle fixture of BOTH ann_ivf paths — deterministic
    * centroids (vec_id < 16) and query vector 77. ONE definition so the
    * in-plan variant (Similarity.annIvf) and this persisted one can
    * never drift from the oracle they share. */
  private[operators] def fixedCentroidsAndQuery(e: DataFrame)
      : (Seq[(Long, Array[Float])], Array[Float]) = {
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    val q = e.filter(col("vec_id") === 77)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    (cents, q)
  }

  def annIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val (cents, q) = fixedCentroidsAndQuery(e)
    val idx = ensureBuilt(s, e, graft.core.Scratch.dir("ivf", dir), cents)
    probe(s, idx, q, k = 10, nprobe = 4, excludeId = 77L)
  }

  /** Persisted IVF-PQ index: inverted lists carrying ONLY (vec_id,
    * label, 8 tinyint PQ codes) — no float embeddings. This is the
    * on-DISK version of the ann_ivf_pq composition: at 100 TB of float
    * vectors the code index is ~3 TB, a probe reads the probed lists'
    * codes only (partition-pruned), ADC ranks them with zero float math,
    * and the float SOURCE table — touched only for the candidate-budget
    * ids via a broadcast id join — stays the exact-re-rank ground
    * truth. */
  def buildPq(s: SparkSession, vectors: DataFrame, outDir: String,
      cents: Seq[(Long, Array[Float])]): String = {
    import s.implicits._
    val cd = cents.map(_._2.map(_.toDouble)).toArray
    vectors
      .withColumn("cid", assignCid(cents, col("embedding")))
      .select(col("vec_id") +: col("label") +: col("cid") +:
        Quantize.pqCodeCols(cd, col("embedding"), asByte = true): _*)
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$outDir/lists")
    cents.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv")
      .repartition(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    outDir
  }

  /** Incremental PQ-index maintenance — [[appendTail]]'s twin: encode
    * the uncovered tail against the index's OWN centroids/codebook
    * contract and append into the partitioned code lists. O(tail), list
    * files untouched, centroids fixed (the reference's tail-replay
    * semantics). */
  def appendTailPq(s: SparkSession, tail: DataFrame,
      indexDir: String): Unit = {
    val cents = readCentroids(s, indexDir)
    val cd = cents.map(_._2.map(_.toDouble)).toArray
    tail
      .withColumn("cid", assignCid(cents, col("embedding")))
      .select(col("vec_id") +: col("label") +: col("cid") +:
        Quantize.pqCodeCols(cd, col("embedding"), asByte = true): _*)
      .write.mode("append").partitionBy("cid")
      .parquet(s"$indexDir/lists")
  }

  /** [[buildPq]] with the same trust-reuse contract as [[ensureBuilt]]. */
  def ensureBuiltPq(s: SparkSession, vectors: DataFrame, outDir: String,
      cents: Seq[(Long, Array[Float])]): String = {
    val trusted =
      graft.core.Trust.parquetDir(s, s"$outDir/centroids",
        cents.size.toLong) &&
      graft.core.Trust.parquetDir(s, s"$outDir/lists", vectors.count())
    if (trusted) outDir else buildPq(s, vectors, outDir, cents)
  }

  /** Probe the PQ index: partition-pruned scan of the probed lists'
    * CODES, ADC rank to `budget` candidates (lookup-table sums, no float
    * vector math), then exact re-rank of those ids against the float
    * `source` (broadcast id join — `budget` rows, never the corpus). */
  def probePq(s: SparkSession, indexDir: String, source: DataFrame,
      q: Array[Float], k: Int, nprobe: Int, budget: Int,
      excludeId: Long = -1L): DataFrame = {
    val centsF = readCentroids(s, indexDir)
    val probes = nearestLists(centsF, q, nprobe)
    val cd = centsF.map(_._2.map(_.toDouble)).toArray
    val qlit = array(q.map(lit(_)): _*)
    val cand = s.read.parquet(s"$indexDir/lists")
      .filter(col("cid").isin(probes: _*) && col("vec_id") =!= excludeId)
      .withColumn("d_adc", Quantize.pqAdcCol(cd, q.map(_.toDouble)))
      .orderBy(col("d_adc").asc, col("vec_id").asc)
      .limit(budget)
      .select("vec_id")
    source.join(broadcast(cand), "vec_id")
      .withColumn("d", l2Sq(col("embedding"), qlit))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(k)
      .select("vec_id", "label")
  }

  /** Registered end-to-end PQ-index query — the persisted twin of
    * ann_ivf_pq (same fixture, same oracle): build the code-only
    * partitioned index once (trust-reused after), probe with vector 77
    * at nprobe=4, ADC budget 50, exact re-rank to top-10. */
  def annIvfPqIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val (cents, q) = fixedCentroidsAndQuery(e)
    val idx = ensureBuiltPq(s, e, graft.core.Scratch.dir("ivfpq", dir),
      cents)
    probePq(s, idx, e, q, k = 10, nprobe = 4, budget = 50,
      excludeId = 77L)
  }

  /** Same answer contract as ann_ivf: the index is storage layout, not
    * different math. */
  val oracle: Map[String, String] = Map(
    "ann_ivf_indexed" -> Similarity.oracle("ann_ivf"),
    // the persisted PQ index shares ann_ivf_pq's oracle for the same
    // reason — layout, not math
    "ann_ivf_pq_indexed" -> Quantize.oracle("ann_ivf_pq")
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf_indexed" -> (annIvfIndexed _),
    "ann_ivf_pq_indexed" -> (annIvfPqIndexed _)
  )
}
