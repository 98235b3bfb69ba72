package graft.api

import graft.SparkTestBase
import graft.core.Meta
import graft.embed.HashingEmbedder

/** The collection API end-to-end: the literal main.go:35-52 scenario,
  * insert validation, id watermarking across reopen (the intent of the
  * reference's recovery path, db/db.go:209-226 — max, not its min-id
  * bug), and DDL semantics. */
class KaerSpec extends SparkTestBase {

  private def newSession(root: String) =
    new KaerSession(spark, root, HashingEmbedder(64))

  /** `body` on the Spark path: a broadcast threshold of -1 keeps every
    * generation off the driver. */
  private def onSparkPath[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The delete count in the sidecar of the side index at `indexDir`,
    * which keeps no table of dead ids beside it. */
  private def deletedCount(indexDir: String): Long = {
    assert(!new java.io.File(s"$indexDir/tombstones").exists())
    Meta.readIndex(spark, indexDir).get.tombstones
  }

  test("main.go scenario: filter ∧ top-1 returns the attr1==1 doc") {
    val r = graft.operators.KaerQuery
      .mainGoScenario(spark, tmpDir("kaer-maingo")).collect()
    assert(r.length == 1)
    assert(r(0).getAs[String]("_m_doc") == "hello, world")
  }

  test("insert validates parallel-array lengths (ErrFieldLengthMismatch)") {
    val k = newSession(tmpDir("kaer-len"))
    val c = k.createCollection("c")
    intercept[FieldLengthMismatch] {
      c.insert(Data().withDocuments(Seq("a", "b"))
        .withMetadatas(Seq(Map("x" -> 1))))
    }
  }

  test("ids are dense, monotone, and survive reopen (watermark recovery)") {
    val root = tmpDir("kaer-recover")
    val k1 = newSession(root)
    val c1 = k1.createCollection("c")
    c1.insert(Data().withDocuments(Seq("one", "two", "three")))
    c1.insert(Data().withDocuments(Seq("four")))
    assert(c1.count() == 4)

    // fresh session handle over the same directory — recovery path
    val k2 = newSession(root)
    val c2 = k2.getCollection("c")
    c2.insert(Data().withDocuments(Seq("five", "six")))
    val ids = c2.df.select("_m_id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(1L to 6L))

    // sidecar watermark agrees with the data
    val meta = Meta.read(spark, s"$root/c").get
    assert(meta.lastId == 6L && meta.rows == 6L)
  }

  test("renameCollection: data and watermark survive the move, the " +
      "sidecar carries the new name, Mongo target semantics hold") {
    val root = tmpDir("kaer-rename")
    val k = newSession(root)
    val c = k.createCollection("src")
    c.insert(Data().withDocuments(Seq("one", "two", "three")))
    // missing source raises
    intercept[CollectionNotFound] { k.renameCollection("nope", "x") }
    // existing target refuses without dropTarget
    k.createCollection("busy")
    intercept[IllegalStateException] { k.renameCollection("src", "busy") }
    // clean rename: data, ids, sidecar name all move
    k.renameCollection("src", "dst")
    intercept[CollectionNotFound] { k.getCollection("src") }
    val d = k.getCollection("dst")
    assert(d.count() == 3)
    assert(Meta.read(spark, s"$root/dst").get.name == "dst")
    d.insert(Data().withDocuments(Seq("four"))) // watermark intact
    assert(d.df.select("_m_id").collect().map(_.getLong(0)).sorted
      .sameElements(1L to 4L))
    // dropTarget=true overwrites (Mongo's documented overwrite form)
    k.renameCollection("dst", "busy", dropTarget = true)
    assert(k.getCollection("busy").count() == 4)
    assert(k.listCollections().toSet == Set("busy"))
  }

  test("collStats: live count, positive storage bytes, index presence " +
      "flips after ensureIndex") {
    val root = tmpDir("kaer-stats")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq("a", "b", "c", "d")))
    val st = k.collStats("c")
    assert(st.count == 4 && st.storageBytes > 0 && !st.hasIndex)
    c.ensureIndex(nlist = 2)
    assert(k.collStats("c").hasIndex)
  }

  test("sidecar survives a lost meta file (max(_m_id) fallback)") {
    val root = tmpDir("kaer-fallback")
    val k1 = newSession(root)
    val c1 = k1.createCollection("c")
    c1.insert(Data().withDocuments(Seq("a", "b")))
    // simulate a torn sidecar: drop it, keep the data
    Meta.drop(spark, s"$root/c")
    Meta.write(spark, s"$root/c",
      graft.core.CollectionMeta("c", 0L, 64, "hashing-md5-v1-d64", 0L))
    val c2 = newSession(root).getCollection("c")
    c2.insert(Data().withDocuments(Seq("cc")))
    val ids = c2.df.select("_m_id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(1L to 3L), s"got ${ids.mkString(",")}")
    // the stale sidecar's row count must be re-synced from data on the
    // recovery path, not carried forward as 0
    val meta = Meta.read(spark, s"$root/c").get
    assert(meta.rows == 3L, s"sidecar rows=${meta.rows}")
    assert(meta.lastId == 3L)
  }

  test("query respects filter, k, distance order, and emits _distance") {
    val k = newSession(tmpDir("kaer-query"))
    val c = k.createCollection("c")
    c.insert(Data()
      .withDocuments(Seq("alpha beta", "alpha beta gamma", "delta epsilon"))
      .withMetadatas(Seq(Map("g" -> 1), Map("g" -> 1), Map("g" -> 2))))
    val out = c.query("alpha beta", 2, """{"g": {"$eq": 1}}""").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("_m_doc") == "alpha beta") // exact match first
    val d0 = out(0).getAs[Double]("_distance")
    val d1 = out(1).getAs[Double]("_distance")
    assert(d0 <= d1 && d0 < 1e-6)
  }

  test("IVF-indexed queryApprox: top-1 matches exact when all lists probed") {
    val root = tmpDir("kaer-ivf")
    val k = newSession(root)
    val c = k.createCollection("v")
    c.insert(Data().withDocuments(
      (0 until 40).map(i => s"document number $i about topic ${i % 5}")))
    c.buildIndex(nlist = 4, iters = 2)
    // probing EVERY list makes the index exact — results must agree
    val exact = c.query("document about topic 3", 3)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    val approx = c.queryApprox("document about topic 3", 3, nprobe = 4)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    assert(approx == exact, s"approx=$approx exact=$exact")
    // restricted probing returns a subset of corpus ids, ranked, <= k
    val narrow = c.queryApprox("document about topic 3", 3, nprobe = 1)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    assert(narrow.size <= 3 && narrow.toSet.subsetOf((1L to 40L).toSet))
  }

  test("queryApprox applies the MQL pre-filter on probed candidates") {
    val root = tmpDir("kaer-ivf-f")
    val k = newSession(root)
    val c = k.createCollection("v")
    c.insert(Data()
      .withDocuments((0 until 20).map(i => s"text $i"))
      .withMetadatas((0 until 20).map(i =>
        Map[String, Any]("even" -> (i % 2)))))
    c.buildIndex(nlist = 2, iters = 1)
    val got = c.queryApprox("text 7", 5, nprobe = 2,
      """{"even": {"$eq": 1}}""")
    // docs are 1-indexed by insertion order: doc i has _m_id i+1 and
    // even=(i%2); all results must satisfy the filter
    val ids = got.select("_m_id").collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(id => (id - 1) % 2 == 1),
      ids.mkString(","))
  }

  test("queryApprox is loud on bad input: no IVF index, nprobe < 1") {
    val c = newSession(tmpDir("kaer-ivf-loud")).createCollection("v")
    c.insert(Data().withDocuments((0 until 8).map(i => s"loud doc $i")))
    val noIndex = intercept[IllegalArgumentException] {
      c.queryApprox("loud doc 3", 2)
    }
    assert(noIndex.getMessage.contains("ensureIndex()"), noIndex.getMessage)
    c.ensureIndex(nlist = 2, iters = 1)
    val zero = intercept[IllegalArgumentException] {
      c.queryApprox("loud doc 3", 2, nprobe = 0)
    }
    assert(zero.getMessage.contains("nprobe"), zero.getMessage)
    assert(c.queryApprox("loud doc 3", 2, nprobe = 1).collect().nonEmpty)
  }

  test("queryApprox: no Spark job while building, at most 1 when run; " +
      "a job-free centroid read; tombstone and tail semantics kept") {
      onSparkPath {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = tmpDir("kaer-ivf-jobs")
    val c = newSession(root).createCollection("v")
    c.insert(Data()
      .withDocuments((0 until 40).map(i => s"job doc $i topic ${i % 5}"))
      .withMetadatas((0 until 40).map(i => Map[String, Any]("g" -> i))))
    c.ensureIndex(nlist = 4, iters = 2)
    // the driver-side read equals Spark's read of the same table, bit
    // for bit, in cid order
    val cents = graft.operators.IvfIndex.readCentroids(spark, s"$root/v/index")
    val viaSpark = spark.read.parquet(s"$root/v/index/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def bits(cs: Seq[(Long, Array[Float])]) =
      cs.map { case (cid, cv) =>
        (cid, cv.map(java.lang.Float.floatToRawIntBits).toSeq) }
    assert(cents.size == 4 && bits(cents) == bits(viaSpark.toSeq))

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf[T](body: => T): (T, Int) = {
      org.apache.spark.graft.ListenerBridge.drain(sc)
      jobs.set(0)
      val out = body
      org.apache.spark.graft.ListenerBridge.drain(sc)
      (out, jobs.get)
    }
    sc.addSparkListener(listener)
    try {
      val f = """{"g": {"$gte": 5}}"""
      val (q, built) = jobsOf(c.queryApprox("job doc 12 topic 2", 5, 2, f))
      assert(built == 0, s"building queryApprox launched $built jobs")
      val opt = q.queryExecution.optimizedPlan
      assert(opt.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty, opt)
      val (_, ran) = jobsOf(q.collect())
      assert(ran <= 1, s"queryApprox collect launched $ran jobs")
      // one scan, of the data, pruned to the probed lists by partition
      val scans = q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size == 1 &&
        scans.head.relation.location.rootPaths.map(_.getName) == Seq("data") &&
        scans.head.partitionFilters.exists(_.references.exists(_.name == "cid")),
        q.queryExecution.executedPlan)
    } finally sc.removeSparkListener(listener)

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("_m_id").collect().map(_.getLong(0)).toSeq
    // full probe: the index is exact, filtered or not
    for (f <- Seq(null, """{"g": {"$lt": 30}}""")) {
      val exact = ids(c.query("job doc 7 topic 2", 6, f))
      assert(ids(c.queryApprox("job doc 7 topic 2", 6, 4, f)) == exact)
    }
    // tombstoned ids (still in the lists) are never returned
    assert(c.delete("""{"g": {"$gte": 10, "$lt": 15}}""") == 5L)
    val all = ids(c.queryApprox("job doc 12 topic 2", 100, 4))
    assert(all.size == 35 && !all.exists((11L to 15L).contains), all)
    // ids inserted after the last ensureIndex are not in the lists, so
    // they are not returned, though exact search finds them
    c.insert(Data().withDocuments(Seq("job doc 12 topic 2")))
    assert(ids(c.query("job doc 12 topic 2", 1)) == Seq(41L))
    val after = ids(c.queryApprox("job doc 12 topic 2", 100, 4))
    assert(after == all, after)
  }}

  test("queryApprox crash window: a clustered generation swapped in " +
      "under the previous build's stale index answers by the data's own " +
      "centroids, and the next ensureIndex rebuilds from the data") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val root = tmpDir("kaer-ivf-crash")
    val c = newSession(root).createCollection("v")
    c.insert(Data()
      .withDocuments((0 until 40).map(i => s"crash doc $i topic ${i % 5}"))
      .withMetadatas((0 until 40).map(i => Map[String, Any]("g" -> i))))
    val conf = spark.sparkContext.hadoopConfiguration
    val index = new Path(s"$root/v/index")
    val saved = new Path(s"$root/saved-index")
    val fs = index.getFileSystem(conf)
    c.buildIndex(nlist = 4, iters = 2)
    assert(FileUtil.copy(fs, index, fs, saved, false, conf))
    c.insert(Data()
      .withDocuments((40 until 52).map(i => s"crash doc $i topic ${i % 5}"))
      .withMetadatas((40 until 52).map(i => Map[String, Any]("g" -> i))))
    c.buildIndex(nlist = 4, iters = 2)
    // the crash: the rebuild's generation is live, but index/ still holds
    // the first build (ids 1-40) under the stale sidecar written before
    // the swap
    fs.delete(index, true)
    assert(FileUtil.copy(fs, saved, fs, index, false, conf))
    Meta.writeIndex(spark, index.toString,
      Meta.readIndex(spark, index.toString).get.copy(stale = true))
    val dataCents =
      IvfIndex.readCentroidTable(spark, s"$root/v/data/_centroids")
    def bits(cs: Seq[(Long, Array[Float])]) =
      cs.map { case (cid, cv) => (cid, cv.toSeq) }
    assert(bits(dataCents) != bits(IvfIndex.readCentroids(spark, index.toString)),
      "the two builds must cluster differently for this case to bite")

    val r = newSession(root).getCollection("v")
    val cidOf = spark.read.parquet(s"$root/v/data")
      .select(col("_m_id"), col("cid").cast("long")).collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("_m_id").collect().map(_.getLong(0)).toSeq
    for ((q, f) <- Seq("crash doc 12 topic 2" -> null,
        "crash doc 31 topic 1" -> """{"g": {"$lt": 25}}""")) {
      val probed = IvfIndex.nearestLists(dataCents,
        HashingEmbedder(64).embedOne(q), 2).toSet
      val want = ids(r.query(q, 52, f))
        .filter(id => id <= 40 && probed(cidOf(id))).take(5)
      assert(want.nonEmpty)
      assert(ids(r.queryApprox(q, 5, 2, f)) == want)
    }
    r.ensureIndex(nlist = 4, iters = 2)
    assert(r.indexRebuilds == 1 && r.indexAppends == 0)
    val lists = spark.read.parquet(s"$root/v/index/lists")
      .select(col("vec_id"), col("cid").cast("long")).collect().map(row =>
        (row.getLong(0), row.getLong(1))).toSet
    assert(lists == cidOf.toSet)
    assert(!Meta.readIndex(spark, index.toString).get.stale)
  }

  test("queryApprox over a flat generation with an old-style index and a " +
      "valid sidecar fails loudly; ensureIndex rebuilds it clustered") {
    import graft.core.{IndexMeta, Schema}
    import graft.operators.IvfIndex
    import org.apache.spark.sql.functions.col
    val root = tmpDir("kaer-ivf-flat")
    val c = newSession(root).createCollection("v")
    c.insert(Data()
      .withDocuments((0 until 30).map(i => s"flat doc $i topic ${i % 4}"))
      .withMetadatas((0 until 30).map(i => Map[String, Any]("g" -> i))))
    // the index as builds before the clustered layout left it: lists with
    // embeddings beside a flat generation, storage and sidecar both valid
    val v = c.df.select(col(Schema.IdCol).as("vec_id"),
      col(Schema.EmbeddingCol).as("embedding"))
    IvfIndex.build(spark, v, s"$root/v/index", IvfIndex.kmeansFit(v, 4, 2))
    Meta.writeIndex(spark, s"$root/v/index",
      IndexMeta(c.watermark, c.rows, 4))
    val e = intercept[IllegalArgumentException] {
      c.queryApprox("flat doc 9 topic 1", 5, 4).collect()
    }
    assert(e.getMessage.contains("ensureIndex()"), e.getMessage)
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexRebuilds == 1 && c.indexAppends == 0,
      s"rebuilds=${c.indexRebuilds} appends=${c.indexAppends}")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("_m_id").collect().map(_.getLong(0)).toSeq
    for (f <- Seq(null, """{"g": {"$gte": 10}}"""))
      assert(ids(c.queryApprox("flat doc 9 topic 1", 6, 4, f)) ==
        ids(c.query("flat doc 9 topic 1", 6, f)))
    assert(c.df.columns.toSeq == Seq(Schema.IdCol, Schema.DocCol,
      Schema.EmbeddingCol, Schema.MetaCol))
  }

  test("queryApprox without a readable index sidecar fails loudly instead " +
      "of serving ids the index does not cover") {
    val root = tmpDir("kaer-ivf-side")
    val c = newSession(root).createCollection("v")
    c.insert(Data().withDocuments((0 until 20).map(i => s"side doc $i")))
    c.ensureIndex(nlist = 2, iters = 1)
    val side = new org.apache.hadoop.fs.Path(s"$root/v/index/${Meta.IndexFileName}")
    val fs = side.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (torn <- Seq(None, Some("{\"indexedLa"), Some("not json"))) {
      fs.delete(side, false)
      torn.foreach { t =>
        val out = fs.create(side, true)
        try out.write(t.getBytes("UTF-8")) finally out.close()
      }
      val e = intercept[IllegalArgumentException] {
        c.queryApprox("side doc 3", 3, 2).collect()
      }
      assert(e.getMessage.contains("ensureIndex()"), e.getMessage)
    }
    c.ensureIndex(nlist = 2, iters = 1)
    assert(c.queryApprox("side doc 3", 3, 2).collect().length == 3)
  }

  test("explainQuery with nprobe shows queryApprox's plan: the data scan " +
      "pruned by cid partition filters, without running the query") {
    val c = newSession(tmpDir("kaer-explain-ann")).createCollection("c")
    c.insert(Data().withDocuments((0 until 12).map(i => s"explain doc $i"))
      .withMetadatas((0 until 12).map(i => Map[String, Any]("g" -> i))))
    c.ensureIndex(nlist = 3, iters = 1)
    val p = c.explainQuery("explain doc 4", 2, """{"g": {"$gte": 1}}""", 1)
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).nonEmpty, p)
    assert(p.contains("TakeOrderedAndProject") && !p.contains("Join"), p)
  }

  test("ensureIndex reuses a valid persisted index, rebuilds a stale one") {
    val root = tmpDir("kaer-ensure")
    val k = newSession(root)
    val c = k.createCollection("v")
    c.insert(Data().withDocuments(
      (0 until 20).map(i => s"doc number $i topic ${i % 3}")))
    c.ensureIndex(nlist = 2, iters = 1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listFiles: Set[String] = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$root/v/index/lists"), true)
      val b = Set.newBuilder[String]
      while (it.hasNext) { val f = it.next(); b += f.getPath.toString + ":" + f.getModificationTime }
      b.result()
    }
    val first = listFiles
    // trusted (same rows, same nlist): second call must not rewrite
    c.ensureIndex(nlist = 2, iters = 1)
    assert(listFiles == first, "trusted index was rebuilt")
    // different nlist: centroid-count check fails -> rebuild
    c.ensureIndex(nlist = 4, iters = 1)
    assert(spark.read.parquet(s"$root/v/index/centroids").count() == 4)
    // stale after more inserts: rowcount check fails -> rebuild
    c.insert(Data().withDocuments(Seq("late doc")))
    c.ensureIndex(nlist = 4, iters = 1)
    assert(spark.read.parquet(s"$root/v/index/lists").count() == 21)
    // the rebuilt index still answers exactly at full probe
    val exact = c.query("doc number 7", 2)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    val approx = c.queryApprox("doc number 7", 2, nprobe = 4)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    assert(approx == exact)
  }

  test("ensureIndex after insert appends only the tail (no rebuild)") {
    val root = tmpDir("kaer-incr")
    val k = newSession(root)
    val c = k.createCollection("v")
    c.insert(Data().withDocuments(
      (0 until 30).map(i => s"first batch doc $i topic ${i % 4}")))
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexRebuilds == 1 && c.indexAppends == 0)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listFiles: Map[String, (Long, Long)] = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$root/v/index/lists"), true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          b += f.getPath.toString -> (f.getLen, f.getModificationTime)
      }
      b.result()
    }
    val before = listFiles
    val centsBefore = spark.read.parquet(s"$root/v/index/centroids")
      .collect().map(_.toString).sorted.toSeq

    c.insert(Data().withDocuments(
      (0 until 7).map(i => s"second batch doc $i topic ${i % 4}")))
    c.ensureIndex(nlist = 4, iters = 2)
    // the insert took the O(tail) append path, not the O(collection)
    // rebuild — and every pre-existing list file is byte-identical
    assert(c.indexRebuilds == 1 && c.indexAppends == 1,
      s"rebuilds=${c.indexRebuilds} appends=${c.indexAppends}")
    val after = listFiles
    before.foreach { case (path, sig) =>
      assert(after.get(path).contains(sig), s"pre-existing file changed: $path")
    }
    assert(after.size > before.size, "append must add new list files")
    assert(spark.read.parquet(s"$root/v/index/lists").count() == 37)
    // centroids intentionally did not move
    assert(spark.read.parquet(s"$root/v/index/centroids")
      .collect().map(_.toString).sorted.toSeq == centsBefore)
    // the appended index still answers exactly at full probe, including
    // tail docs (doc "second batch doc 3" is id 34)
    val exact = c.query("second batch doc 3 topic 3", 3)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    val approx = c.queryApprox("second batch doc 3 topic 3", 3, nprobe = 4)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    assert(approx == exact, s"approx=$approx exact=$exact")
    // second ensureIndex with nothing new: pure no-op
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexRebuilds == 1 && c.indexAppends == 1)
    assert(listFiles == after)
  }

  test("index tombstones: deletes stay O(delta) — no rebuild, probes " +
      "stay exact, compaction on explicit rebuild") {
    val root = tmpDir("kaer-tomb")
    val k = newSession(root)
    val c = k.createCollection("v")
    c.insert(Data()
      .withDocuments((0 until 30).map(i => s"tomb doc $i topic ${i % 4}"))
      .withMetadatas((0 until 30).map(i => Map[String, Any]("g" -> i))))
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexRebuilds == 1 && c.indexAppends == 0)
    // delete a slice: the delete records tombstones instead of
    // invalidating the index — the next ensureIndex is a NO-OP
    assert(c.delete("""{"g": {"$gte": 10, "$lt": 15}}""") == 5L)
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexRebuilds == 1 && c.indexAppends == 0,
      s"delete forced index work: rebuilds=${c.indexRebuilds} " +
        s"appends=${c.indexAppends}")
    assert(deletedCount(s"$root/v/index") == 5)
    // lists still physically hold the dead rows (30); live coverage
    // arithmetic = 30 - 5 = 25 = collection rows
    assert(spark.read.parquet(s"$root/v/index/lists").count() == 30)
    assert(c.count() == 25)
    // probed query never returns a deleted doc (join-back drops them)
    val approx = c.queryApprox("tomb doc 12 topic 0", 5, nprobe = 4)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    assert(approx.nonEmpty && approx.forall(id =>
      !(11L to 15L).contains(id)), approx.mkString(","))
    // ...and matches exact search at full probe
    val exact = c.query("tomb doc 12 topic 0", 5)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    assert(approx == exact, s"approx=$approx exact=$exact")
    // delete THEN insert: tail append still works (tombstone-aware
    // arithmetic), no rebuild
    assert(c.delete("""{"g": 20}""") == 1L)
    c.insert(Data().withDocuments(Seq("late tomb doc")))
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexRebuilds == 1 && c.indexAppends == 1,
      s"rebuilds=${c.indexRebuilds} appends=${c.indexAppends}")
    assert(deletedCount(s"$root/v/index") == 6)
    // single-id delete paths record tombstones too
    assert(c.findOneAndDelete("""{"g": 25}""").isDefined)
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexRebuilds == 1 && c.indexAppends == 1)
    assert(deletedCount(s"$root/v/index") == 7)
    // explicit rebuild compacts: tombstones gone, lists = live rows
    c.buildIndex(nlist = 4, iters = 2)
    assert(!new org.apache.hadoop.fs.Path(s"$root/v/index/tombstones")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$root/v/index/tombstones")))
    assert(spark.read.parquet(s"$root/v/index/lists").count() == c.count())
    // post-compaction coverage is current: ensureIndex is a no-op
    val (rb, ap) = (c.indexRebuilds, c.indexAppends)
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexRebuilds == rb && c.indexAppends == ap)
  }

  test("ensureIndex rebuilds after a NEW-id delete (tombstones only " +
      "cover indexed ids — tail deletes break the append arithmetic)") {
    val root = tmpDir("kaer-incr-del")
    val k = newSession(root)
    val c = k.createCollection("v")
    c.insert(Data()
      .withDocuments((0 until 20).map(i => s"doc $i"))
      .withMetadatas((0 until 20).map(i => Map[String, Any]("g" -> i))))
    c.ensureIndex(nlist = 2, iters = 1)
    assert(c.indexRebuilds == 1)
    // insert ABOVE the watermark, then delete one of the new (still
    // unindexed) ids: not tombstoned (the lists never covered it), so
    // the pure-tail equality breaks and ensureIndex must rebuild
    c.insert(Data()
      .withDocuments((0 until 4).map(i => s"new doc $i"))
      .withMetadatas((0 until 4).map(i => Map[String, Any]("g" -> (100 + i)))))
    assert(c.delete("""{"g": 102}""") == 1L)
    c.ensureIndex(nlist = 2, iters = 1)
    assert(c.indexRebuilds == 2 && c.indexAppends == 0,
      s"rebuilds=${c.indexRebuilds} appends=${c.indexAppends}")
    assert(spark.read.parquet(s"$root/v/index/lists").count() == 23)
  }

  test("compact rewrites many small files into few; ids and rows unchanged") {
    val root = tmpDir("kaer-compact")
    val k = newSession(root)
    val c = k.createCollection("cc")
    for (b <- 0 until 5)
      c.insert(Data().withDocuments(Seq(s"a$b", s"b$b")))
    val before = c.df.select("_m_id").collect().map(_.getLong(0)).sorted
    def nFiles = {
      val p = new java.io.File(s"$root/cc/data")
      p.listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(nFiles >= 5, s"expected >=5 files before, got $nFiles")
    c.compact(targetFiles = 2)
    assert(nFiles <= 2, s"expected <=2 files after, got $nFiles")
    val after = c.df.select("_m_id").collect().map(_.getLong(0)).sorted
    assert(after.sameElements(before))
    // inserts keep working after compaction (watermark intact)
    c.insert(Data().withDocuments(Seq("post")))
    assert(c.count() == 11)
  }

  test("compact crash window: data_old left mid-swap is restored on reopen") {
    val root = tmpDir("kaer-crash")
    val k = newSession(root)
    val c = k.createCollection("cw")
    c.insert(Data().withDocuments(Seq("x", "y", "z")))
    // simulate dying between the two renames: data moved to data_old,
    // replacement never arrived
    val d = new java.io.File(s"$root/cw/data")
    val old = new java.io.File(s"$root/cw/data_old")
    assert(d.renameTo(old))
    val c2 = newSession(root).getCollection("cw")
    assert(c2.count() == 3, "reopen must restore data_old")
    assert(c2.df.select("_m_id").collect().map(_.getLong(0)).sorted
      .sameElements(1L to 3L))
  }

  test("delete(filter): survivors keep ids, watermark unchanged, reopen-safe") {
    val root = tmpDir("kaer-del")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data()
      .withDocuments((0 until 10).map(i => s"doc $i"))
      .withMetadatas((0 until 10).map(i => Map[String, Any]("grp" -> (i % 2)))))
    assert(c.delete("""{"grp": {"$eq": 0}}""") == 5L)
    assert(c.count() == 5 && c.rows == 5 && c.watermark == 10)
    val ids = c.df.select("_m_id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Seq(2L, 4L, 6L, 8L, 10L))) // doc i -> id i+1
    assert(c.delete("""{"grp": {"$eq": 0}}""") == 0L) // idempotent
    // new inserts continue above the watermark — deleted ids not reused
    c.insert(Data().withDocuments(Seq("late")))
    assert(c.df.agg(org.apache.spark.sql.functions.max("_m_id"))
      .head().getLong(0) == 11L)
    // reopen sees the same state
    val re = newSession(root).getCollection("c")
    assert(re.count() == 6 && re.watermark == 11)
  }

  test("update(filter, $set): merges metadata, visible to later queries") {
    val root = tmpDir("kaer-upd")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data()
      .withDocuments(Seq("a", "b", "c"))
      .withMetadatas(Seq(
        Map[String, Any]("grp" -> 0, "keep" -> "x"),
        Map[String, Any]("grp" -> 1, "keep" -> "y"),
        Map[String, Any]("grp" -> 0))))
    assert(c.update("""{"grp": {"$eq": 0}}""",
      Map("grp" -> 7, "tagged" -> true)) == 2L)
    // merged fields are queryable through the same MQL path; untouched
    // keys survive the merge
    val hit = c.query("a", 10, """{"tagged": {"$eq": true}}""")
    assert(hit.count() == 2)
    val keepVals = c.query("a", 10, """{"grp": {"$eq": 7}}""")
      .select("_m_meta").collect().map(_.getString(0)).mkString
    assert(keepVals.contains("\"keep\":\"x\""))
    assert(c.query("a", 10, """{"grp": {"$eq": 0}}""").count() == 0)
    // rows/ids untouched
    assert(c.count() == 3 && c.watermark == 3)
  }

  test("updateDoc array operators: $push/$addToSet/$pull/$rename") {
    val root = tmpDir("kaer-arrops")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data()
      .withDocuments(Seq("a", "b", "c"))
      .withMetadatas(Seq(
        Map[String, Any]("grp" -> 0),      // no array yet
        Map[String, Any]("grp" -> 1),
        Map[String, Any]("grp" -> 0, "n" -> 5)))) // $push target non-array later
    def metas(): Seq[String] =
      c.query("a", 10).select("_m_meta").collect()
        .map(_.getString(0)).toSeq
    // $push creates the array when missing; $each appends many in order
    assert(c.updateDoc("""{"grp": 0}""",
      """{"$push": {"tags": "t1"}}""") == 2L)
    assert(c.updateDoc("""{"grp": 0}""",
      """{"$push": {"tags": {"$each": ["t2", "t1"]}}}""") == 2L)
    assert(metas().count(_.contains("""["t1","t2","t1"]""")) == 2)
    // $addToSet: structural equality — existing elements not re-added,
    // new ones appended once ($each mixing both)
    assert(c.updateDoc("""{"grp": 0}""",
      """{"$addToSet": {"tags": {"$each": ["t1", "t3"]}}}""") == 2L)
    assert(metas().count(_.contains("""["t1","t2","t1","t3"]""")) == 2)
    // $pull removes ALL equal elements; missing field is a no-op
    assert(c.updateDoc("{}", """{"$pull": {"tags": "t1"}}""") == 3L)
    assert(metas().count(_.contains("""["t2","t3"]""")) == 2)
    // numbers pull by numeric identity, not text
    assert(c.updateDoc("""{"grp": 1}""",
      """{"$push": {"nums": {"$each": [1, 2, 1]}}}""") == 1L)
    assert(c.updateDoc("""{"grp": 1}""",
      """{"$pull": {"nums": 1}}""") == 1L)
    assert(metas().count(_.contains(""""nums":[2]""")) == 1)
    // $min/$max/$mul: numeric merge ops; missing-field conventions
    assert(c.updateDoc("""{"grp": 0, "n": {"$exists": true}}""",
      """{"$min": {"n": 3}, "$max": {"hi": 10}, "$mul": {"n": 2}}""")
      == 1L)
    // order is $min then $mul: min(5,3)=3, then 3*2=6; $max on missing
    // field sets it; $mul on missing field writes 0
    assert(metas().count(m => m.contains(""""n":6""") &&
      m.contains(""""hi":10""")) == 1)
    assert(c.updateDoc("""{"grp": 1}""",
      """{"$mul": {"zero_start": 7}}""") == 1L)
    assert(metas().count(_.contains(""""zero_start":0""")) == 1)
    assert(c.updateDoc("""{"grp": 1}""", """{"$set": {"s": "x"}}""") == 1L)
    intercept[Exception] { // non-numeric current value fails loudly
      c.updateDoc("""{"grp": 1}""", """{"$min": {"s": 1}}""")
    }
    // $pop: 1 removes last, -1 removes first; empty/missing are no-ops
    assert(c.updateDoc("""{"grp": 1}""",
      """{"$push": {"nums": {"$each": [7, 8]}}}""") == 1L)
    assert(c.updateDoc("""{"grp": 1}""", """{"$pop": {"nums": 1}}""") == 1L)
    assert(metas().count(_.contains(""""nums":[2,7]""")) == 1)
    assert(c.updateDoc("""{"grp": 1}""", """{"$pop": {"nums": -1}}""") == 1L)
    assert(metas().count(_.contains(""""nums":[7]""")) == 1)
    assert(c.updateDoc("{}", """{"$pop": {"ghost_arr": 1}}""") == 3L)
    intercept[IllegalArgumentException] {
      c.updateDoc("{}", """{"$pop": {"nums": 2}}""")
    }
    // $rename moves the key; renaming a missing key is a no-op
    assert(c.updateDoc("""{"grp": 0}""",
      """{"$rename": {"tags": "labels", "ghost": "g2"}}""") == 2L)
    val m = metas()
    assert(m.count(_.contains(""""labels":["t2","t3"]""")) == 2)
    assert(!m.exists(_.contains(""""tags"""")))
    assert(!m.exists(_.contains(""""g2"""")))
    // loud failure on array ops over a non-array value (Mongo errors
    // too); n is 6 after the $min/$mul sequence above
    intercept[Exception] {
      c.updateDoc("""{"n": 6}""", """{"$push": {"n": 1}}""")
    }
    // unknown operator and bad $rename target fail fast, driver-side
    intercept[IllegalArgumentException] {
      c.updateDoc("{}", """{"$bit": {"tags": 1}}""")
    }
    intercept[IllegalArgumentException] {
      c.updateDoc("{}", """{"$rename": {"a": 7}}""")
    }
  }

  test("replaceOne: first match by id, full replace, re-embedded") {
    val root = tmpDir("kaer-repl")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data()
      .withDocuments(Seq("alpha one", "beta two", "gamma three"))
      .withMetadatas(Seq(
        Map[String, Any]("grp" -> 0, "old" -> "x"),
        Map[String, Any]("grp" -> 0),
        Map[String, Any]("grp" -> 1))))
    // two docs match grp=0 — the LOWEST id (1) is replaced
    assert(c.replaceOne("""{"grp": 0}""", "delta four",
      Map("grp" -> 9)) == 1L)
    assert(c.count() == 3)
    val rows = c.query("delta four", 3).collect()
    // the replacement is its own nearest neighbor at distance ~0, id kept
    assert(rows.head.getAs[Long]("_m_id") == 1L)
    assert(rows.head.getAs[String]("_m_doc") == "delta four")
    assert(rows.head.getAs[Double]("_distance") < 1e-6)
    // REPLACE, not merge: the old metadata key is gone
    assert(c.query("x", 10, """{"old": {"$exists": true}}""").count() == 0)
    assert(c.query("x", 10, """{"grp": {"$eq": 9}}""").count() == 1)
    // the second grp=0 doc (id 2) was untouched
    assert(c.query("beta two", 1).head.getAs[Long]("_m_id") == 2L)
    // no match → 0, nothing rewritten
    assert(c.replaceOne("""{"grp": 42}""", "nope") == 0L)
    assert(c.count() == 3)
  }

  test("corrupt sidecar heals from data; truncated file reads as absent") {
    val root = tmpDir("kaer-corrupt")
    val k1 = newSession(root)
    k1.createCollection("c").insert(Data().withDocuments(Seq("a", "b")))
    // simulate a torn truncate-in-place write: garbage sidecar bytes
    val metaPath = java.nio.file.Paths.get(s"$root/c/_meta.json")
    java.nio.file.Files.write(metaPath, "{\"nam".getBytes)
    assert(Meta.read(spark, s"$root/c").isEmpty) // corrupt == absent
    val c2 = newSession(root).getCollection("c") // heals, not NotFound
    assert(c2.count() == 2 && c2.watermark == 2)
    c2.insert(Data().withDocuments(Seq("late")))
    assert(c2.df.select("_m_id").collect().map(_.getLong(0)).sorted
      .sameElements(1L to 3L))
  }

  test("embedder mismatch on reopen fails fast instead of null distances") {
    val root = tmpDir("kaer-dimcheck")
    newSession(root).createCollection("c")
      .insert(Data().withDocuments(Seq("x")))
    val wrongDim = new KaerSession(spark, root, HashingEmbedder(128))
    intercept[IllegalArgumentException] { wrongDim.getCollection("c") }
  }

  test("null-embedding rows never outrank real matches in query()") {
    val root = tmpDir("kaer-nulldoc")
    val c = newSession(root).createCollection("c")
    c.insert(Data().withDocuments(Seq("real text", null)))
    val top = c.query("real text", 1).select("_m_doc").collect()
    assert(top.length == 1 && top(0).getString(0) == "real text")
  }

  test("ensureIndex over a null-text document below the watermark: the " +
      "fit skips its null embedding, and query and queryApprox rank the " +
      "real matches on both paths") {
    val c = newSession(tmpDir("kaer-nullindex")).createCollection("c")
    c.insert(Data().withDocuments((0 until 40).map(i =>
      if (i % 13 == 7) null else s"doc ${i % 9} topic ${i % 4}")))
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.count() == 40)
    def docs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("_m_doc").collect().map(_.getString(0)).toSeq
    for (sparkPath <- Seq(false, true)) {
      def run[T](body: => T): T = if (sparkPath) onSparkPath(body) else body
      val all = run(docs(c.query("doc 3 topic 3", 40)))
      assert(all.head == "doc 3 topic 3" && all.length == 40, all)
      assert(all.takeRight(3).forall(_ == null) &&
        all.dropRight(3).forall(_ != null), all)
      val approx = run(docs(c.queryApprox("doc 3 topic 3", 5, nprobe = 4)))
      assert(approx.head == "doc 3 topic 3" && approx.forall(_ != null),
        approx)
    }
  }

  test("distinctValues: Mongo distinct-command twin, with/without filter") {
    val root = tmpDir("kaer-distinct")
    val c = newSession(root).createCollection("c")
    c.insert(Data()
      .withDocuments(Seq("a", "b", "c", "d"))
      .withMetadatas(Seq(
        Map[String, Any]("lang" -> "en", "n" -> 1),
        Map[String, Any]("lang" -> "fr", "n" -> 2),
        Map[String, Any]("lang" -> "en", "n" -> 3),
        Map[String, Any]("n" -> 4)))) // no lang
    assert(c.distinctValues("lang") == Seq("en", "fr"))
    assert(c.distinctValues("lang", """{"n": {"$gte": 2}}""")
      == Seq("en", "fr"))
    assert(c.distinctValues("lang", """{"n": {"$gte": 3}}""") == Seq("en"))
    assert(c.distinctValues("nope") == Nil)
  }

  test("distinctValues: cardinality past the cap fails loudly, not OOM") {
    val root = tmpDir("kaer-distinct-cap")
    val c = newSession(root).createCollection("c")
    c.insert(Data()
      .withDocuments((0 until 8).map(i => s"doc $i"))
      .withMetadatas((0 until 8).map(i =>
        Map[String, Any]("uid" -> s"u$i"))))
    spark.conf.set("graft.distinct.max_values", "5")
    try {
      val e = intercept[IllegalStateException] { c.distinctValues("uid") }
      assert(e.getMessage.contains("exceeds 5 values"))
      assert(e.getMessage.contains("graft.distinct.max_values"))
      // raising the cap (the stated remediation) restores the result
      spark.conf.set("graft.distinct.max_values", "100")
      assert(c.distinctValues("uid").length == 8)
    } finally spark.conf.unset("graft.distinct.max_values")
  }

  test("distinctValues: graft.distinct.max_values parses loudly and " +
      "must be >= 1") {
    val c = newSession(tmpDir("kaer-distinct-conf")).createCollection("c")
    c.insert(Data().withDocuments(Seq("a", "b"))
      .withMetadatas(Seq(Map("uid" -> "u1"), Map("uid" -> "u2"))))
    val key = "graft.distinct.max_values"
    for (bad <- Seq("8x", "0", "-1")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException] {
          c.distinctValues("uid") }
        assert(e.getMessage.contains(key) && e.getMessage.contains(bad),
          s"$bad: ${e.getMessage}")
      } finally spark.conf.unset(key)
    }
    assert(c.distinctValues("uid") == Seq("u1", "u2"))
  }

  test("count(filter) and query projection (document-store find shape)") {
    val root = tmpDir("kaer-proj")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data()
      .withDocuments(Seq("alpha", "beta", "gamma"))
      .withMetadatas(Seq(
        Map[String, Any]("grp" -> 0, "name" -> "a"),
        Map[String, Any]("grp" -> 1, "name" -> "b"),
        Map[String, Any]("grp" -> 0, "name" -> "c"))))
    assert(c.count("""{"grp": {"$eq": 0}}""") == 2L)
    assert(c.count("") == 3L && c.count(null: String) == 3L)
    val got = c.query("alpha", 2, """{"grp": {"$eq": 0}}""",
      project = Seq("name"))
    assert(got.columns.toSeq ==
      Seq("_m_id", "_m_doc", "name", "_distance"))
    val rows = got.collect()
    assert(rows.length == 2 && rows.map(_.getAs[String]("name")).toSet
      == Set("a", "c"))
  }

  test("drop removes data and getCollection then raises CollectionNotFound") {
    val root = tmpDir("kaer-drop")
    val k = newSession(root)
    k.createCollection("c").insert(Data().withDocuments(Seq("x")))
    k.dropCollection("c")
    intercept[CollectionNotFound] { k.getCollection("c") }
    assert(newSession(root).listCollections().isEmpty)
  }

  test("createCollection is idempotent (reopen, not truncate)") {
    val root = tmpDir("kaer-idem")
    val k = newSession(root)
    k.createCollection("c").insert(Data().withDocuments(Seq("x")))
    val again = newSession(root).createCollection("c")
    assert(again.count() == 1)
  }

  test("update PIPELINE: $set computes from the document itself; " +
      "all fields read the pre-update state; non-$set stages loud") {
    val root = tmpDir("kaer-updpipe")
    val c = newSession(root).createCollection("c")
    c.insert(Data()
      .withDocuments(Seq("a", "b"))
      .withMetadatas(Seq(
        Map[String, Any]("x" -> 10, "y" -> 3),
        Map[String, Any]("x" -> 7))))
    // total = x + y (missing y → null term → null total, Mongo $set
    // sets null); swap = x computed BEFORE the same stage writes x
    val n = c.updateDoc("""{"x": {"$gte": 0}}""",
      """[{"$set": {
        |  "total": {"$add": ["$x", "$y"]},
        |  "x": {"$multiply": ["$x", 2]}}}]""".stripMargin)
    assert(n == 2L)
    assert(c.count("""{"total": {"$eq": 13}}""") == 1L)
    assert(c.count("""{"x": {"$eq": 20}}""") == 1L) // doc 1: 10*2
    assert(c.count("""{"x": {"$eq": 14}}""") == 1L) // doc 2: 7*2
    // doc 2's total is explicit null (set, not skipped)
    assert(c.count("""{"total": {"$type": "null"}}""") == 1L)
    // r11: $unset stages compose with $set IN ORDER — this removes
    // total, then a later $set re-adds flag
    val n2 = c.updateDoc("{}",
      """[{"$unset": ["total"]}, {"$set": {"flag": {"$add": [1, 1]}}}]""")
    assert(n2 == 2L)
    assert(c.count("""{"total": {"$exists": true}}""") == 0L)
    assert(c.count("""{"flag": 2}""") == 2L)
    // order matters: set then unset of the SAME field removes it
    c.updateDoc("{}",
      """[{"$set": {"tmp": {"$add": [3, 4]}}}, {"$unset": "tmp"}]""")
    assert(c.count("""{"tmp": {"$exists": true}}""") == 0L)
    // malformed $unset operand (the literal-form object shape) is loud
    val bad = intercept[IllegalArgumentException] {
      c.updateDoc("{}", """[{"$unset": {"x": 1}}]""")
    }
    assert(bad.getMessage.contains("$unset"), bad.getMessage)
    // unknown stages stay loud
    val bad2 = intercept[IllegalArgumentException] {
      c.updateDoc("{}", """[{"$replaceRoot": {"newRoot": "$x"}}]""")
    }
    assert(bad2.getMessage.contains("$set"), bad2.getMessage)
  }

  test("findOneAndUpdate: first match only (lowest id), pre/post " +
      "images, None on no match") {
    val root = tmpDir("kaer-foau")
    val c = newSession(root).createCollection("c")
    c.insert(Data()
      .withDocuments(Seq("alpha", "beta", "gamma"))
      .withMetadatas(Seq(
        Map[String, Any]("grp" -> 0, "v" -> 10),
        Map[String, Any]("grp" -> 0, "v" -> 20),
        Map[String, Any]("grp" -> 1, "v" -> 30))))
    // pre-image returned; ONLY doc 1 (lowest matching id) mutates
    val pre = c.findOneAndUpdate(
      """{"grp": {"$eq": 0}}""", """{"$inc": {"v": 5}}""")
    assert(pre.isDefined && pre.get._1 == 1L)
    assert(pre.get._2.contains("\"v\":10"), pre.get._2)
    assert(c.count("""{"v": {"$eq": 15}}""") == 1L)
    assert(c.count("""{"v": {"$eq": 20}}""") == 1L) // doc 2 untouched
    // post-image with returnNew — doc 1 matches again (still grp 0)
    val post = c.findOneAndUpdate(
      """{"grp": {"$eq": 0}}""", """{"$inc": {"v": 5}}""",
      returnNew = true)
    assert(post.isDefined && post.get._1 == 1L)
    assert(post.get._2.contains("\"v\":20"), post.get._2)
    // no match → None, nothing rewritten
    assert(c.findOneAndUpdate(
      """{"grp": {"$eq": 9}}""", """{"$inc": {"v": 1}}""").isEmpty)
    assert(c.count("""{"v": {"$eq": 20}}""") == 2L)
  }

  test("upsert: empty-collection path validates operators, $and " +
      "equality conditions seed the created document") {
    val k = newSession(tmpDir("kaer-upsert-spec"))
    val c = k.createCollection("c")
    // unknown operator must be loud even though the collection is
    // EMPTY (the matched path's validation short-circuits on hasData)
    val bad = intercept[IllegalArgumentException] {
      c.updateDoc("""{"a": 1}""", """{"$currentDate": {"ts": true}}""",
        upsert = true)
    }
    assert(bad.getMessage.contains("unsupported update operator"),
      bad.getMessage)
    // $and equalities seed like top-level ones (Mongo's rule)
    c.updateDoc("""{"$and": [{"a": 1}], "b": {"$eq": 2}}""",
      """{"$inc": {"n": 7}}""", upsert = true)
    assert(c.count("""{"a": 1, "b": 2, "n": 7}""") == 1L)
    // matching upsert does NOT insert a second doc
    c.updateDoc("""{"$and": [{"a": 1}], "b": {"$eq": 2}}""",
      """{"$inc": {"n": 1}}""", upsert = true)
    assert(c.count("{}") == 1L)
    assert(c.count("""{"n": 8}""") == 1L)
  }

  test("positional updates: $ first-match, $[] all-elements, " +
      "$[ident]+arrayFilters, nested object paths") {
    val k = newSession(tmpDir("kaer-positional"))
    val c = k.createCollection("c")
    c.insert(Data()
      .withDocuments(Seq("d1", "d2"))
      .withMetadatas(Seq(
        Map("g" -> 1, "scores" -> Seq(10, 90, 90, 40)),
        Map("g" -> 2, "scores" -> Seq(5, 70)))))
    def scores(g: Int): Seq[Long] = {
      val meta = c.df.filter(
        org.apache.spark.sql.functions.get_json_object(
          org.apache.spark.sql.functions.col("_m_meta"), "$.g") === g)
        .select("_m_meta").head().getString(0)
      val n = Collection.udfMapper.readTree(meta).get("scores")
      (0 until n.size()).map(n.get(_).asLong())
    }
    // $[]: every element of every matching doc
    assert(c.updateDoc("""{"g": 1}""",
      """{"$inc": {"scores.$[]": 1}}""") == 1L)
    assert(scores(1) == Seq(11L, 91L, 91L, 41L))
    // $[ident] + arrayFilters: only elements passing the filter
    assert(c.updateDoc("{}",
      """{"$set": {"scores.$[low]": 0}}""",
      """[{"low": {"$lt": 40}}]""") == 2L)
    assert(scores(1) == Seq(0L, 91L, 91L, 41L))
    assert(scores(2) == Seq(0L, 70L))
    // $: FIRST element matching the query's condition on the array —
    // only the first 91 bumps, the duplicate stays
    assert(c.updateDoc("""{"scores": {"$elemMatch": {"$gt": 80}}}""",
      """{"$inc": {"scores.$": 100}}""") == 1L)
    assert(scores(1) == Seq(0L, 191L, 91L, 41L))
    // nested object path through a filtered element
    assert(c.updateDoc("""{"g": 2}""",
      """{"$set": {"rs": [{"tag": "a", "v": 1}, {"tag": "b", "v": 2}]}}""")
      == 1L)
    assert(c.updateDoc("""{"g": 2}""",
      """{"$inc": {"rs.$[e].v": 10}}""",
      """[{"e.tag": "b"}]""") == 1L)
    assert(c.count("""{"rs": {"$elemMatch": {"tag": "b", "v": 12}}}""")
      == 1L)
    // plain dotted path navigates (creates intermediates)
    assert(c.updateDoc("""{"g": 2}""",
      """{"$set": {"meta.src.name": "x"}}""") == 1L)
    assert(c.count("""{"meta.src.name": "x"}""") == 1L)
  }

  test("positional updates: unsupported forms are loud, never silent") {
    val k = newSession(tmpDir("kaer-positional-loud"))
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq("d"))
      .withMetadatas(Seq(Map("g" -> 1, "a" -> Seq(1, 2)))))
    // $[ident] without a matching arrayFilters entry
    val e1 = intercept[IllegalArgumentException] {
      c.updateDoc("""{"g": 1}""", """{"$inc": {"a.$[x]": 1}}""") }
    assert(e1.getMessage.contains("arrayFilters"), e1.getMessage)
    // unused arrayFilters identifier (Mongo errors too)
    val e2 = intercept[IllegalArgumentException] {
      c.updateDoc("""{"g": 1}""", """{"$inc": {"a.$[]": 1}}""",
        """[{"x": 1}]""") }
    assert(e2.getMessage.contains("not used"), e2.getMessage)
    // positional path on an array operator
    val e3 = intercept[IllegalArgumentException] {
      c.updateDoc("""{"g": 1}""", """{"$push": {"a.$[]": 9}}""") }
    assert(e3.getMessage.contains("dotted/positional"), e3.getMessage)
    // '$' without a query condition on the array
    val e4 = intercept[Exception] {
      c.updateDoc("""{"g": 1}""", """{"$inc": {"a.$": 1}}""") }
    assert(e4.getMessage.contains("$"), e4.getMessage)
    // positional over a missing field must not fabricate an array
    val e5 = intercept[Exception] {
      c.updateDoc("""{"g": 1}""", """{"$set": {"nope.$[]": 1}}""") }
    assert(e5.getMessage.contains("must exist"), e5.getMessage)
    // nothing was silently rewritten by the failed updates
    assert(c.count("""{"a": {"$elemMatch": {"$eq": 1}}}""") == 1L)
  }

  test("explainQuery: the Mongo explain analogue shows the top-k + " +
      "filter plan without running the query") {
    val k = newSession(tmpDir("kaer-explain"))
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq("a", "b"))
      .withMetadatas(Seq(Map("g" -> 1), Map("g" -> 2))))
    val p = c.explainQuery("a", 1, """{"g": {"$gte": 1}}""")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Filter"), p)
  }

  test("findOneAndDelete / findOneAndReplace: first match by id, " +
      "pre/post images, None on no match") {
    val k = newSession(tmpDir("kaer-foad"))
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq("a", "b", "c"))
      .withMetadatas(Seq(Map("g" -> 1, "v" -> 10),
        Map("g" -> 1, "v" -> 20), Map("g" -> 2, "v" -> 30))))
    // delete: first match (lowest id), pre-image returned, row gone
    val del = c.findOneAndDelete("""{"g": 1}""")
    assert(del.isDefined && del.get._1 == 1L &&
      del.get._2.contains("\"v\":10"), del)
    assert(c.count("{}") == 2L)
    assert(c.findOneAndDelete("""{"g": 9}""").isEmpty)
    // replace: pre-image by default, post-image with returnNew;
    // replacement re-embeds and keeps the id
    val rep = c.findOneAndReplace("""{"g": 1}""", "b2", Map("g" -> 5))
    assert(rep.isDefined && rep.get._1 == 2L &&
      rep.get._2.contains("\"v\":20"), rep)
    assert(c.count("""{"g": 5}""") == 1L)
    val rep2 = c.findOneAndReplace("""{"g": 2}""", "c2",
      Map("g" -> 7), returnNew = true)
    assert(rep2.isDefined && rep2.get._2.contains("\"g\":7"), rep2)
    assert(c.findOneAndReplace("""{"g": 99}""", "x").isEmpty)
  }

  test("$vectorSearch: seeds the pipeline with kNN matches; " +
      "queryVector form; malformed uses are loud") {
    val k = newSession(tmpDir("kaer-vsearch"))
    val c = k.createCollection("docs")
    c.insert(Data()
      .withDocuments(Seq("alpha beta", "gamma delta", "alpha alpha"))
      .withMetadatas(Seq(Map("g" -> 1), Map("g" -> 2), Map("g" -> 3))))
    val got = k.aggregate("docs",
      """[
        | {"$vectorSearch": {"queryText": "alpha", "limit": 2}},
        | {"$project": {"gv": {"$toLong": "$g"}}}
        |]""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(got.length == 2)
    // nearest to "alpha": the all-alpha doc first, then "alpha beta"
    assert(got == Seq(3L, 1L), got)
    // queryVector form agrees with queryText when given the same
    // embedding
    val qv = graft.embed.HashingEmbedder(64).embedOne("alpha")
    val viaVec = c.queryVector(qv, 2)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    val viaText = c.query("alpha", 2)
      .select("_m_id").collect().map(_.getLong(0)).toSeq
    assert(viaVec == viaText)
    // loud: not-first placement, unknown option, both query forms,
    // wrong vector dimension
    intercept[IllegalArgumentException] { k.aggregate("docs",
      """[{"$limit": 1}, {"$vectorSearch": {"queryText": "x", "limit": 1}}]""") }
    intercept[IllegalArgumentException] { k.aggregate("docs",
      """[{"$vectorSearch": {"queryText": "x", "limit": 1, "exact": true}}]""") }
    intercept[IllegalArgumentException] { k.aggregate("docs",
      """[{"$vectorSearch": {"queryText": "x", "queryVector": [1], "limit": 1}}]""") }
    intercept[IllegalArgumentException] { c.queryVector(Array(1f, 2f), 1) }
  }

  test("bulkWrite: a JSON-object document is loud, not a silent " +
      "empty-string insert (insertOne and replaceOne)") {
    val k = newSession(tmpDir("kaer-bulk-doc"))
    val c = k.createCollection("c")
    val e1 = intercept[IllegalArgumentException] {
      c.bulkWrite("""[{"insertOne": {"document": {"a": 1}}}]""")
    }
    assert(e1.getMessage.contains("must be a string"), e1.getMessage)
    assert(c.count("{}") == 0L) // nothing inserted by the failed batch
    c.insert(Data().withDocuments(Seq("x"))
      .withMetadatas(Seq(Map("g" -> 1))))
    val e2 = intercept[IllegalArgumentException] {
      c.bulkWrite(
        """[{"replaceOne": {"filter": {"g": 1},
          | "document": {"nested": true}}}]""".stripMargin)
    }
    assert(e2.getMessage.contains("must be a string"), e2.getMessage)
    // textual documents still work through the same ops
    val (ins, m, _, _) = c.bulkWrite(
      """[{"insertOne": {"document": "t2", "metadata": {"g": 2}}},
        | {"replaceOne": {"filter": {"g": 1}, "document": "swapped"}}]"""
        .stripMargin)
    assert(ins == 1L && m == 1L)
    assert(c.count("{}") == 2L)
  }

  test("change stream lifecycle: capture is opt-in, events carry the " +
      "after image, op_time is a dense resume token") {
    val k = newSession(tmpDir("kaer-watch"))
    val c = k.createCollection("c")
    // not enabled -> loud, with remediation
    val e = intercept[IllegalArgumentException] { c.watch() }
    assert(e.getMessage.contains("enableChangeStream"), e.getMessage)
    c.enableChangeStream()
    c.enableChangeStream() // idempotent
    c.insert(Data().withDocuments(Seq("one", "two", "three"))
      .withMetadatas(Seq(Map("g" -> 1), Map("g" -> 2), Map("g" -> 3))))
    c.updateDoc("""{"g": 2}""", """{"$set": {"flag": "hit"}}""")
    c.delete("""{"g": {"$eq": 1}}""")
    val ev = c.watch().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)), Option(r.getString(4))))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(ev.map(t => (t._1, t._2, t._3)) == Seq(
      (1L, "insert", 1L), (1L, "insert", 2L), (1L, "insert", 3L),
      (2L, "update", 2L), (3L, "delete", 1L)))
    // after images: update carries the NEW meta; delete carries nulls
    val upd = ev.find(t => t._2 == "update").get
    assert(upd._4.contains("two") && upd._5.get.contains("\"flag\""))
    val del = ev.find(t => t._2 == "delete").get
    assert(del._4.isEmpty && del._5.isEmpty)
    // resume token: strictly after op_time 1 -> only the later events
    assert(c.watch(resumeAfter = 1L).collect().length == 2)
  }

  test("change stream: compact emits nothing, a reopened handle " +
      "resumes the op_time sequence, drop clears the log") {
    val root = tmpDir("kaer-watch2")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.enableChangeStream()
    c.insert(Data().withDocuments(Seq("a", "b")))         // op_time 1
    c.compact()                                           // no content change
    assert(c.watch().collect().map(_.getLong(0)).max == 1L)
    // compact consumed op_time 2 (every capture-enabled mutation does);
    // the reopened handle recovers the sequence from the log max and
    // keeps capturing without being re-enabled
    val c2 = newSession(root).getCollection("c")
    assert(c2.changeStreamEnabled)
    c2.insert(Data().withDocuments(Seq("d")))
    val times = c2.watch().collect().map(_.getLong(0)).toSeq.sorted
    assert(times == Seq(1L, 1L, 2L), times.toString)
    // drop removes everything; a recreated collection starts dark
    newSession(root).dropCollection("c")
    val c3 = newSession(root).createCollection("c")
    assert(!c3.changeStreamEnabled)
    intercept[IllegalArgumentException] { c3.watch() }
  }

  test("change stream: watchStream tails the log as a structured " +
      "stream (file source, AvailableNow)") {
    val k = newSession(tmpDir("kaer-watch3"))
    val c = k.createCollection("c")
    c.enableChangeStream()
    c.insert(Data().withDocuments(Seq("s1", "s2")))
    val q = c.watchStream()
      .groupBy("op").count()
      .writeStream.format("memory").queryName("kaer_watch_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("kaer_watch_stream").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == Map("insert" -> 2L), rows.toString)
  }

  test("transaction: abort leaves zero trace, commit is ONE atomic " +
      "op_time batch, staged ops see each other, conflicts loud") {
    val k = newSession(tmpDir("kaer-txn"))
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq("one", "two", "three"))
      .withMetadatas(Seq(Map("g" -> 1), Map("g" -> 2), Map("g" -> 3))))
    c.enableChangeStream()
    // aborted transaction: nothing on disk, nothing in the stream
    val t0 = c.beginTransaction()
    assert(t0.updateMany("""{"g": {"$gte": 1}}""",
      """{"$set": {"ghost": 1}}""") == 3L)
    assert(t0.deleteMany("""{"g": 3}""") == 1L)
    t0.abort()
    assert(c.count() == 3)
    assert(c.df.filter(org.apache.spark.sql.functions
      .col("_m_meta").contains("ghost")).count() == 0)
    assert(c.watch().collect().isEmpty)
    val dead = intercept[IllegalArgumentException] { t0.commit() }
    assert(dead.getMessage.contains("aborted"), dead.getMessage)
    // committed transaction: read-your-own-writes (the update matches
    // the doc staged two lines above), one op_time, all three op kinds
    val r = c.transaction { t =>
      t.insert(Data().withDocuments(Seq("four"))
        .withMetadatas(Seq(Map("g" -> 4))))
      assert(t.updateMany("""{"g": 4}""",
        """{"$set": {"flag": "new"}}""") == 1L)
      assert(t.updateMany("""{"g": 2}""",
        """{"$set": {"flag": "old"}}""") == 1L)
      assert(t.deleteMany("""{"g": {"$eq": 1}}""") == 1L)
      42
    }
    assert(r == 42)
    assert(c.count() == 3) // 3 + 1 - 1
    val ev = c.watch().collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(ev.map(_._1).distinct.toSeq == Seq(1L),
      s"commit must land as ONE op_time batch: ${ev.toSeq}")
    assert(ev.map(_._2).sorted.toSeq ==
      Seq("delete", "insert", "update"), ev.toSeq.toString)
    // the staged insert's after image carries the in-txn update
    val ins = ev.find(_._2 == "insert").get
    val insMeta = c.watch().collect()
      .find(x => x.getLong(2) == ins._3).get.getString(4)
    assert(insMeta.contains("\"flag\""), insMeta)
    // optimistic conflict: an outside write between begin and commit
    val t2 = c.beginTransaction()
    assert(t2.deleteMany("""{"g": 2}""") == 1L)
    c.insert(Data().withDocuments(Seq("outside")))
    val wc = intercept[IllegalArgumentException] { t2.commit() }
    assert(wc.getMessage.contains("write conflict"), wc.getMessage)
    assert(c.count() == 4) // the conflicted txn changed nothing
    // withTransaction aborts (and re-throws) on a body exception
    intercept[RuntimeException] {
      c.transaction { t =>
        t.deleteMany("""{"g": 2}"""); throw new RuntimeException("boom")
      }
    }
    assert(c.count() == 4)
    // empty collection is loud with remediation
    val c2 = k.createCollection("c2")
    val empty = intercept[IllegalArgumentException] {
      c2.beginTransaction()
    }
    assert(empty.getMessage.contains("seed"), empty.getMessage)
  }

  test("change-log compaction: trims below the token, floors resume, " +
      "keeps the op_time sequence monotone across reopen") {
    val root = tmpDir("kaer-oplog")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq("a", "b"))
      .withMetadatas(Seq(Map("g" -> 1), Map("g" -> 2))))
    c.enableChangeStream()
    c.updateDoc("""{"g": 1}""", """{"$set": {"s": 1}}""") // op 1
    c.updateDoc("""{"g": 2}""", """{"$set": {"s": 2}}""") // op 2
    c.delete("""{"g": 1}""")                              // op 3
    c.insert(Data().withDocuments(Seq("d")))              // op 4
    assert(c.watch().count() == 4)
    c.compactChangeLog(2)
    // retained tail only, resumable from the floor exactly
    assert(c.watch(2).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
    // tokens at/below... below the floor are invalid (Mongo's
    // resume-past-oplog-start error); the floor itself still works
    val stale = intercept[IllegalArgumentException] { c.watch(1) }
    assert(stale.getMessage.contains("floor"), stale.getMessage)
    val full = intercept[IllegalArgumentException] { c.watch() }
    assert(full.getMessage.contains("floor"), full.getMessage)
    // floors never move backwards
    c.compactChangeLog(1)
    assert(c.watch(2).count() == 2)
    // compact EVERYTHING: empty log is fine, sequence must not restart
    c.compactChangeLog(4)
    assert(c.watch(4).count() == 0)
    c.insert(Data().withDocuments(Seq("e")))              // op 5, not 1
    assert(c.watch(4).collect().map(_.getLong(0)).toSeq == Seq(5L))
    // a REOPENED handle recovers both the floor and the sequence from
    // the trimmed log
    val k2 = newSession(root)
    val r = k2.getCollection("c")
    val stale2 = intercept[IllegalArgumentException] { r.watch(3) }
    assert(stale2.getMessage.contains("floor"), stale2.getMessage)
    r.updateDoc("""{"g": 2}""", """{"$set": {"s": 9}}""") // op 6
    assert(r.watch(4).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(5L, 6L))
  }

  test("change-log compaction hardening: empty-log no-op, cross-handle " +
      "floor visibility, interrupted-swap recovery on reopen") {
    val root = tmpDir("kaer-oplog2")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq("a"))
      .withMetadatas(Seq(Map("g" -> 1))))
    c.enableChangeStream()
    // (1) compact with ZERO events written: clean floor advance, no
    // raw path-not-found from the parquet read, no stranded swap dirs
    c.compactChangeLog(3)
    val stale0 = intercept[IllegalArgumentException] { c.watch(1) }
    assert(stale0.getMessage.contains("floor"), stale0.getMessage)
    c.updateDoc("""{"g": 1}""", """{"$set": {"s": 1}}""") // op 4 (floor 3)
    assert(c.watch(3).collect().map(_.getLong(0)).toSeq == Seq(4L))
    // (2) a SECOND handle on the same directory compacts; this handle
    // must see the new floor (no stale per-handle cache — the silent-
    // skip the floor exists to prevent)
    val other = newSession(root).getCollection("c")
    other.compactChangeLog(4)
    val stale1 = intercept[IllegalArgumentException] { c.watch(3) }
    assert(stale1.getMessage.contains("floor"), stale1.getMessage)
    assert(c.watch(4).count() == 0)
    // (3) crash between compaction's two renames strands the log at
    // changes_old; reopen must restore it (same repair as data_old)
    c.updateDoc("""{"g": 1}""", """{"$set": {"s": 2}}""") // op 5
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val chDir = new org.apache.hadoop.fs.Path(s"$root/c/changes")
    val chOld = new org.apache.hadoop.fs.Path(s"$root/c/changes_old")
    assert(fs.rename(chDir, chOld)) // simulate the crash window
    val r = newSession(root).getCollection("c")
    assert(r.watch(4).collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("text index: build, O(tail) append on insert, delete tombstones " +
      "keep live arithmetic, textFind serves from postings across reopen") {
    val root = tmpDir("kaer-textidx")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq(
      "alpha beta gamma", "beta beta delta", "epsilon zeta",
      "alpha alpha alpha"))
      .withMetadatas((1 to 4).map(i => Map[String, Any]("g" -> i))))
    // Mongo contract: $text without a text index is loud
    val no = intercept[IllegalArgumentException] { c.textFind("alpha") }
    assert(no.getMessage.contains("text index"), no.getMessage)
    c.ensureTextIndex()
    assert(c.textIndexRebuilds == 1 && c.textIndexAppends == 0)
    // OR-of-terms, score = Σ occurrences of distinct matched terms,
    // best-match-first, ties by id: doc4 (alpha×3) > doc1 (2) = doc2 (2)
    val r1 = c.textFind("alpha beta").collect()
    assert(r1.map(_.getLong(0)).toSeq == Seq(4L, 1L, 2L), r1.mkString("|"))
    assert(r1.map(_.getAs[Long]("score")).toSeq == Seq(3L, 2L, 2L))
    // a second ensure is a trusted no-op
    c.ensureTextIndex()
    assert(c.textIndexRebuilds == 1 && c.textIndexAppends == 0)
    // insert → the NEXT query appends only the id tail, never rebuilds
    c.insert(Data().withDocuments(Seq("beta omega"))
      .withMetadatas(Seq(Map[String, Any]("g" -> 5))))
    val r2 = c.textFind("beta").collect()
    assert(c.textIndexRebuilds == 1 && c.textIndexAppends == 1)
    assert(r2.map(_.getLong(0)).toSeq == Seq(2L, 1L, 5L), r2.mkString("|"))
    // delete records tombstones; coverage arithmetic stays live (no
    // rebuild), and the join-back drops the dead doc from results
    assert(c.delete("""{"g": 2}""") == 1L)
    val r3 = c.textFind("beta").collect()
    assert(r3.map(_.getLong(0)).toSeq == Seq(1L, 5L), r3.mkString("|"))
    assert(c.textIndexRebuilds == 1 && c.textIndexAppends == 1)
    assert(deletedCount(s"$root/c/textindex") == 1)
    // MQL pre-filter composes on the live collection
    val rf = c.textFind("beta alpha", 10, """{"g": {"$gte": 4}}""")
      .collect()
    assert(rf.map(_.getLong(0)).toSeq == Seq(4L, 5L), rf.mkString("|"))
    // a REOPENED handle trust-reuses the persisted index: no rebuild,
    // no append, same answers
    val c2 = newSession(root).getCollection("c")
    val r4 = c2.textFind("beta").collect()
    assert(r4.map(_.getLong(0)).toSeq == Seq(1L, 5L), r4.mkString("|"))
    assert(c2.textIndexRebuilds == 0 && c2.textIndexAppends == 0)
    // a rebuild (forced by an out-of-ladder shape: delete of a NEW id
    // after an append... here just buildTextIndex) compacts tombstones
    c2.buildTextIndex()
    assert(!new java.io.File(s"$root/c/textindex/tombstones").exists())
  }

  test("textFind phrase + fuzzy (r15): adjacency from positions, " +
      "single-edit vocab resolution, O(tail) append keeps both fresh, " +
      "scan-path $text stays loud") {
    val root = tmpDir("kaer-textph")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq(
      "alpha beta gamma",       // 1: adjacent alpha beta
      "beta alpha beta",        // 2: adjacent at pos 1 (beta alpha? no: alpha@1,beta@2 → yes)
      "alpha gamma beta",       // 3: both terms, NOT adjacent
      "alpha beta alpha beta",  // 4: two occurrences
      "gamma delta"))           // 5: neither
      .withMetadatas((1 to 5).map(i => Map[String, Any]("g" -> i))))
    c.ensureTextIndex()
    // phrase = adjacency, not co-occurrence: doc 3 must NOT match;
    // score = Σ tf of the phrase's member terms
    val ph = c.textFind("\"alpha beta\"").collect()
    assert(ph.map(_.getLong(0)).toSeq == Seq(4L, 2L, 1L),
      ph.mkString("|")) // doc4 tf=4, doc2 tf=3 (beta,alpha,beta), doc1 tf=2
    assert(ph.map(_.getAs[Long]("score")).toSeq == Seq(4L, 3L, 2L))
    // ...wait: doc2 = "beta alpha beta" has alpha@1 beta@2 adjacent ✓
    // fuzzy: one edit away resolves (gamme→gamma), two edits do not
    val fz = c.textFind("gamme~").collect()
    assert(fz.map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L), fz.mkString("|"))
    assert(c.textFind("gamxx~").count() == 0) // distance 2: no match
    // phrase AND: every phrase must appear
    assert(c.textFind("\"alpha beta\" \"gamma delta\"").count() == 0)
    // phrase + term + fuzzy compose: the phrase FILTERS (doc 3 has
    // both words but not adjacent — excluded), loose terms and the
    // fuzzy-resolved term widen the SCORE only. Scores over matched
    // terms {alpha, beta, gamma, delta}: doc4 = 4, doc1 = 3 (a,b,g),
    // doc2 = 3 (b×2, a) — tie broken by id
    val mix = c.textFind("\"alpha beta\" gamme~ delta").collect()
    assert(mix.map(r => (r.getLong(0), r.getAs[Long]("score"))).toSeq
      == Seq((4L, 4L), (1L, 3L), (2L, 3L)), mix.mkString("|"))
    // insert → the next query APPENDS (no rebuild), and both the new
    // doc's phrase and its vocab join the serving set
    c.insert(Data().withDocuments(Seq("alpha beta omega"))
      .withMetadatas(Seq(Map[String, Any]("g" -> 6))))
    val ph2 = c.textFind("\"alpha beta\"").collect()
    assert(ph2.map(_.getLong(0)).toSeq == Seq(4L, 2L, 1L, 6L))
    assert(c.textIndexRebuilds == 1 && c.textIndexAppends == 1)
    assert(c.textFind("omegg~").collect().map(_.getLong(0)).toSeq ==
      Seq(6L))
    // loud edges: unbalanced quotes, empty phrase, scan-path refusal
    val unb = intercept[IllegalArgumentException] {
      c.textFind("\"alpha beta") }
    assert(unb.getMessage.contains("unbalanced"), unb.getMessage)
    val neg = intercept[IllegalArgumentException] {
      c.textFind("alpha -beta") }
    assert(neg.getMessage.contains("negation"), neg.getMessage)
    val scan = intercept[IllegalArgumentException] {
      c.query("alpha", 5, """{"$text": {"$search": "\"alpha beta\""}}""")
        .collect() }
    assert(scan.getMessage.contains("textFind"), scan.getMessage)
  }

  test("replaceOne poisons index sidecars: in-place rewrite under an " +
      "unchanged watermark forces rebuild — textFind never serves " +
      "stale postings (r15, ADVICE)") {
    val root = tmpDir("kaer-repl-stale")
    val k = newSession(root)
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq(
      "alpha beta", "gamma delta", "epsilon zeta"))
      .withMetadatas((1 to 3).map(i => Map[String, Any]("g" -> i))))
    c.ensureTextIndex()
    c.ensureIndex(nlist = 2)
    assert(c.textIndexRebuilds == 1 && c.indexRebuilds == 1)
    assert(c.textFind("gamma").collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
    // swap doc 2's text in place: id, watermark, and rowcount all
    // unchanged — every arithmetic coverage check still passes
    assert(c.replaceOne("""{"g": 2}""", "omega psi",
      Map("g" -> 2)) == 1L)
    // ...but the sidecars are poisoned: the next textFind REBUILDS
    // instead of serving the replaced doc's old postings
    val r = c.textFind("omega").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(2L), r.mkString("|"))
    assert(c.textIndexRebuilds == 2 && c.textIndexAppends == 0)
    // the OLD text matches nowhere (stale postings would still score it)
    assert(c.textFind("gamma").count() == 0)
    // the IVF twin is poisoned too (the old list entry pins id 2 to
    // the stale embedding's centroid — a recall hole): ensure rebuilds
    c.ensureIndex(nlist = 2)
    assert(c.indexRebuilds == 2 && c.indexAppends == 0)
    // a second ensure after the rebuild is a trusted no-op again
    c.ensureIndex(nlist = 2)
    c.ensureTextIndex()
    assert(c.indexRebuilds == 2 && c.textIndexRebuilds == 2)
    // a REOPENED handle sees the healed sidecars: trust-reuse, no work
    val c2 = newSession(root).getCollection("c")
    assert(c2.textFind("omega").count() == 1)
    assert(c2.textIndexRebuilds == 0 && c2.textIndexAppends == 0)
  }

  test("transaction: staged lineage stays O(1)-deep across a 20-op " +
      "battery (localCheckpoint truncation, not O(N^2) recompute)") {
    val k = newSession(tmpDir("kaer-txn-depth"))
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq("a", "b", "c", "d"))
      .withMetadatas((1 to 4).map(i => Map[String, Any]("g" -> i))))
    val t = c.beginTransaction()
    val depths = (1 to 20).map { i =>
      if (i % 3 == 0)
        t.insert(Data().withDocuments(Seq(s"doc$i"))
          .withMetadatas(Seq(Map[String, Any]("g" -> (100 + i)))))
      else if (i % 3 == 1)
        t.updateMany("""{"g": {"$gte": 1}}""", s"""{"$$set": {"r": $i}}""")
      else
        t.deleteMany(s"""{"g": ${100 + i - 1}}""")
      t.stagedPlanDepth
    }
    // every staged op re-roots the frame at a materialized scan: the
    // plan depth after op N must not grow with N (pre-fix it grew by
    // the op's own operator stack each time — O(N) depth, O(N^2)
    // total recompute across the battery's count jobs)
    assert(depths.max <= depths.head,
      s"staged plan depth grew across ops: $depths")
    t.commit()
    assert(c.count() > 0)
  }

  test("transaction: deleteMany records index tombstones — both ensures " +
      "stay no-ops and the deleted ids are never served") {
    val root = tmpDir("kaer-txn-tomb")
    val c = newSession(root).createCollection("c")
    c.insert(Data()
      .withDocuments((0 until 20).map(i => s"txn doc $i topic ${i % 3}"))
      .withMetadatas((0 until 20).map(i => Map[String, Any]("g" -> i))))
    c.ensureIndex(nlist = 2, iters = 1)
    c.ensureTextIndex()
    def counters =
      (c.indexRebuilds, c.indexAppends, c.textIndexRebuilds,
        c.textIndexAppends)
    assert(counters == ((1L, 0L, 1L, 0L)))
    c.transaction { t =>
      assert(t.deleteMany("""{"g": {"$gte": 5, "$lt": 9}}""") == 4L)
    }
    val dead = Set(6L, 7L, 8L, 9L) // doc i is id i + 1
    assert(c.count() == 16 && c.rows == 16)
    c.ensureIndex(nlist = 2, iters = 1)
    c.ensureTextIndex()
    assert(counters == ((1L, 0L, 1L, 0L)),
      s"a transactional delete forced index work: $counters")
    assert(deletedCount(s"$root/c/index") == dead.size &&
      deletedCount(s"$root/c/textindex") == dead.size)
    def ids(q: org.apache.spark.sql.DataFrame) =
      q.select("_m_id").collect().map(_.getLong(0)).toSeq
    val approx = ids(c.queryApprox("txn doc 7 topic 1", 100, nprobe = 2))
    assert(approx.size == 16 && !approx.exists(dead), approx)
    val text = ids(c.textFind("txn", 100))
    assert(text.size == 16 && !text.exists(dead), text)
    assert(counters == ((1L, 0L, 1L, 0L)))
  }

  test("change-log floor: an unparsable _floor is loud, never read as 0") {
    val root = tmpDir("kaer-floor")
    val c = newSession(root).createCollection("c")
    c.insert(Data().withDocuments(Seq("a")).withMetadatas(Seq(Map("g" -> 1))))
    c.enableChangeStream()
    c.updateDoc("""{"g": 1}""", """{"$set": {"s": 1}}""") // op 1
    c.updateDoc("""{"g": 1}""", """{"$set": {"s": 2}}""") // op 2
    c.compactChangeLog(1)
    assert(c.watch(1).collect().map(_.getLong(0)).toSeq == Seq(2L))
    val floor = new org.apache.hadoop.fs.Path(s"$root/c/changes/_floor")
    val fs = floor.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (torn <- Seq("", "12x")) {
      val out = fs.create(floor, true)
      try out.write(torn.getBytes("UTF-8")) finally out.close()
      val w = intercept[IllegalStateException] { c.watch(1) }
      assert(w.getMessage.contains("changes/_floor"), w.getMessage)
      val cl = intercept[IllegalStateException] { c.compactChangeLog(1) }
      assert(cl.getMessage.contains("changes/_floor"), cl.getMessage)
    }
  }

  test("source guard: Kaer.scala has one directory swap, one commit " +
      "step, and only the side-index ladder writes index sidecars") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/api/Kaer.scala")).asScala.toVector
    val decl = ("""^(\s*)(?:(?:private|protected)(?:\[\w+\])?\s+|""" +
      """final\s+|override\s+|sealed\s+|case\s+|lazy\s+)*""" +
      """(?:def|class|object|trait)\s+(\w+)""").r.unanchored
    // the declarations enclosing line i, innermost first, by indentation
    def enclosing(i: Int): List[String] = {
      var indent = lines(i).takeWhile(_ == ' ').length
      val out = List.newBuilder[String]
      lines(i) match { case decl(_, n) => out += n; case _ => }
      for (j <- i - 1 to 0 by -1) lines(j) match {
        case decl(ws, n) if ws.length < indent =>
          out += n; indent = ws.length
        case _ =>
      }
      out.result()
    }
    def isComment(l: String) = {
      val t = l.trim
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
    }
    def sites(token: String): Seq[(Int, List[String])] =
      lines.indices.filter(i => lines(i).contains(token) &&
        !isComment(lines(i))).map(i => (i + 1, enclosing(i)))
    def only(token: String, allowed: Set[String]): Unit = {
      val ss = sites(token)
      assert(ss.nonEmpty, s"$token not found")
      val bad = ss.filterNot(s => allowed(s._2.head))
      assert(bad.isEmpty, s"$token outside ${allowed.mkString("/")}: " +
        bad.map(b => s"line ${b._1} in ${b._2.mkString("<")}")
          .mkString(", "))
    }
    only(".rename(", Set("swapDir", "restoreSwap", "renameCollection"))
    only("CollectionMeta(",
      Set("createCollection", "getCollection", "writeSidecar"))
    only("writeSidecar()", Set("writeSidecar", "commitGeneration", "insertDF"))
    only("Meta.writeIndex", Set("ensure", "rebuild", "countDeleted",
      "poison"))
    val writers = sites("Meta.writeIndex")
    assert(writers.forall(_._2.contains("SideIndex")), writers)
    assert(!writers.exists(_._2.exists(n => n == "Txn" ||
      n.startsWith("delete") || n.startsWith("update"))), writers)
    for (d <- Seq("def swapDir(", "def commitGeneration(",
        "class SideIndex("))
      assert(lines.count(_.contains(d)) == 1, s"$d defined more than once")
    assert(!lines.exists(_.contains("rewriteData")))
    // a delete is a count in the index sidecar: no dead-id table is
    // written or read, and only the upgrade at open names one, to remove
    // a leftover
    assert(!lines.exists(_.contains("entomb")))
    val tombLiteral = "\"[^\"]*tombstones".r.unanchored
    val tombSites = lines.indices.filter(i => !isComment(lines(i)) &&
      tombLiteral.matches(lines(i)))
    assert(tombSites.nonEmpty && tombSites.forall(enclosing(_).head ==
      "upgrade"), tombSites.map(i => s"line ${i + 1}").mkString(", "))
    // one storage format: only the upgrade at open tests for the
    // metadata form, and no filter of the collection parses per row
    assert(sites("JsonResolver").isEmpty, sites("JsonResolver"))
    only("fs.exists(variantMarker)", Set("upgrade"))
    assert(!lines.exists(_.contains("def metaResolver")))
    // the change-log floor is written only into a cleared replacement
    // log, never into the live one
    val floorWrites = sites("writeChangeFloor(")
      .filterNot(s => lines(s._1 - 1).contains("def writeChangeFloor("))
    assert(floorWrites.nonEmpty)
    for ((ln, encl) <- floorWrites) {
      assert(lines(ln - 1).contains("writeChangeFloor(tmp,"),
        s"line $ln: ${lines(ln - 1)}")
      val start = lines.lastIndexWhere(_.contains(s"def ${encl.head}("),
        ln - 1)
      assert(start >= 0 && lines.slice(start, ln - 1)
        .exists(_.contains("val tmp = clearedTmp(")),
        s"line $ln: writeChangeFloor's tmp is not a clearedTmp")
    }
  }

  test("change-log floor: compacting an emptied log keeps the floor " +
      "monotone, and a reopened handle continues op_time above it") {
    val root = tmpDir("kaer-floor-empty")
    val c = newSession(root).createCollection("c")
    c.insert(Data().withDocuments(Seq("a")).withMetadatas(Seq(Map("g" -> 1))))
    c.enableChangeStream()
    c.updateDoc("""{"g": 1}""", """{"$set": {"s": 1}}""") // op 1
    c.updateDoc("""{"g": 1}""", """{"$set": {"s": 2}}""") // op 2
    def floorIs(f: Long): Unit = {
      val w = intercept[IllegalArgumentException] { c.watch(f - 1) }
      assert(w.getMessage.contains(s"floor $f"), w.getMessage)
      assert(c.watch(f).count() == 0)
    }
    c.compactChangeLog(5) // every event trimmed: the log is empty
    floorIs(5)
    c.compactChangeLog(3) // an empty log, a lower token: no step back
    floorIs(5)
    c.compactChangeLog(7) // an empty log, a higher token: moves up
    floorIs(7)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    for (d <- Seq("changes_compact", "changes_old", "changes/_floor.tmp"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/c/$d")), d)
    val r = newSession(root).getCollection("c")
    r.updateDoc("""{"g": 1}""", """{"$set": {"s": 3}}""")
    assert(r.watch(7).collect().map(_.getLong(0)).toSeq == Seq(8L))
  }

  test("index deletes are a count: with both indexes current, delete, " +
      "findOneAndDelete and a transaction's deleteMany launch no more " +
      "jobs than on an unindexed twin; textFind launches as many after a " +
      "delete as before") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = tmpDir("kaer-del-jobs")
    for (name <- Seq("ix", "twin")) {
      val c = newSession(root).createCollection(name)
      c.insert(Data()
        .withDocuments((0 until 30).map(i => s"del doc $i topic ${i % 4}"))
        .withMetadatas((0 until 30).map(i => Map[String, Any]("g" -> i))))
      c.ensureIndex(nlist = 4, iters = 2)
      c.ensureTextIndex()
    }
    // the twin keeps the clustered data layout, without side indexes
    for (d <- Seq("index", "textindex"))
      assert(hfs.delete(new org.apache.hadoop.fs.Path(s"$root/twin/$d"),
        true))
    val ix = newSession(root).getCollection("ix")
    val twin = newSession(root).getCollection("twin")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.graft.ListenerBridge.drain(sc)
      jobs.set(0)
      body
      org.apache.spark.graft.ListenerBridge.drain(sc)
      jobs.get
    }
    def find(): Unit = assert(ix.textFind("topic", 100).collect().nonEmpty)
    sc.addSparkListener(listener)
    try {
      find()
      val findBefore = jobsOf(find())
      val deletes = Seq(
        "delete" -> ((c: Collection) =>
          assert(c.delete("""{"g": {"$gte": 10, "$lt": 15}}""") == 5L)),
        "findOneAndDelete" -> ((c: Collection) =>
          assert(c.findOneAndDelete("""{"g": 20}""").isDefined)),
        "deleteMany" -> ((c: Collection) => c.transaction(t =>
          assert(t.deleteMany("""{"g": {"$lt": 3}}""") == 3L))))
      for ((op, run) <- deletes) {
        val (onIx, onTwin) = (jobsOf(run(ix)), jobsOf(run(twin)))
        assert(onIx <= onTwin,
          s"$op: $onIx jobs with both indexes, $onTwin without")
      }
      val findAfter = jobsOf(find())
      assert(findAfter == findBefore,
        s"textFind: $findBefore jobs before the deletes, $findAfter after")
    } finally sc.removeSparkListener(listener)
    assert(deletedCount(s"$root/ix/index") == 9 &&
      deletedCount(s"$root/ix/textindex") == 9)
    def counters = (ix.indexRebuilds, ix.indexAppends, ix.textIndexRebuilds,
      ix.textIndexAppends)
    assert(counters == ((0L, 0L, 0L, 0L)), counters)
    // with both indexes behind the watermark, a delete counts the ids
    // they cover, and the tail arithmetic still holds: both append
    ix.insert(Data().withDocuments(Seq("del doc new a", "del doc new b"))
      .withMetadatas(Seq(Map[String, Any]("g" -> 100),
        Map[String, Any]("g" -> 101))))
    assert(ix.delete("""{"g": 25}""") == 1L)
    assert(deletedCount(s"$root/ix/index") == 10 &&
      deletedCount(s"$root/ix/textindex") == 10)
    ix.ensureIndex(nlist = 4, iters = 2)
    ix.ensureTextIndex()
    assert(counters == ((0L, 1L, 0L, 1L)), counters)
  }

  test("a store whose indexes keep a table of dead ids beside a sidecar " +
      "count reopens with no index work and the same answers; a rebuild " +
      "removes the table") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("kaer-tomb-compat")
    val c = newSession(root).createCollection("c")
    c.insert(Data()
      .withDocuments((0 until 30).map(i => s"compat doc $i topic ${i % 4}"))
      .withMetadatas((0 until 30).map(i => Map[String, Any]("g" -> i))))
    c.ensureIndex(nlist = 4, iters = 2)
    c.ensureTextIndex()
    assert(c.delete("""{"g": {"$gte": 10, "$lt": 15}}""") == 5L)
    def ids(q: org.apache.spark.sql.DataFrame) =
      q.select("_m_id").collect().map(_.getLong(0)).toSeq
    def answers(x: Collection) =
      (ids(x.queryApprox("compat doc 12 topic 0", 100, nprobe = 2)),
        ids(x.textFind("topic compat", 100)))
    val before = answers(c)
    // the earlier layout: the dead ids (doc i is id i + 1) as a parquet
    // table under each index, counted in its sidecar
    for ((d, idCol) <- Seq("index" -> "vec_id", "textindex" -> "doc_id")) {
      assert(deletedCount(s"$root/c/$d") == 5)
      spark.range(11, 16).select(col("id").as(idCol)).coalesce(1)
        .write.parquet(s"$root/c/$d/tombstones")
    }
    val r = newSession(root).getCollection("c")
    r.ensureIndex(nlist = 4, iters = 2)
    r.ensureTextIndex()
    def counters = (r.indexRebuilds, r.indexAppends, r.textIndexRebuilds,
      r.textIndexAppends)
    assert(counters == ((0L, 0L, 0L, 0L)), counters)
    assert(answers(r) == before)
    assert(counters == ((0L, 0L, 0L, 0L)), counters)
    r.buildIndex(nlist = 4, iters = 2)
    r.buildTextIndex()
    for (d <- Seq("index", "textindex"))
      assert(deletedCount(s"$root/c/$d") == 0)
    assert(answers(r)._2 == before._2)
  }

  // ---- the stored metadata VARIANT ---------------------------------------

  private def hfs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)
  private def marked(dataDir: String) =
    hfs.exists(new org.apache.hadoop.fs.Path(dataDir, "_meta_variant"))

  /** Rewrite the generation at `dataDir` the way builds before the
    * stored metadata VARIANT wrote it: the canonical columns (and `cid`,
    * one file per list, with its `_centroids`, when clustered), no
    * `_m_meta_v` and no marker. */
  private def toStringForm(dataDir: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val cents = new Path(dataDir, "_centroids")
    val clustered = hfs.exists(cents)
    val base = graft.core.Schema.collectionSchema(64)
    val rows = spark.read.schema(
      if (clustered) base.add("cid", org.apache.spark.sql.types.LongType)
      else base).parquet(dataDir)
    val pre = s"${dataDir}_pre"
    if (clustered) {
      rows.write.partitionBy("cid").parquet(pre)
      assert(FileUtil.copy(hfs, cents, hfs, new Path(pre, "_centroids"),
        false, spark.sparkContext.hadoopConfiguration))
    } else rows.write.parquet(pre)
    hfs.delete(new Path(dataDir), true)
    assert(hfs.rename(new Path(pre), new Path(dataDir)))
    assert(!marked(dataDir))
  }

  /** Whether a formatted plan parses JSON per row: `try_parse_json`
    * prints as its runtime form, `VariantExpressionEvalUtils.parseJson`. */
  private def parsesJson(plan: String) =
    plan.contains("try_parse_json") || plan.contains("parseJson")

  private def contents(c: Collection) =
    c.df.orderBy("_m_id").collect().map(r => (r.getLong(0), r.getString(1),
      r.getSeq[Float](2), r.getString(3))).toSeq

  test("stored metadata VARIANT: on a fresh collection the query Filter " +
      "reads _m_meta_v — no try_parse_json, no lambda — inside whole-stage " +
      "codegen, for exact and approximate queries") {
    val c = newSession(tmpDir("kaer-metav-plan")).createCollection("c")
    c.insert(Data().withDocuments((0 until 12).map(i => s"plan doc $i"))
      .withMetadatas((0 until 12).map(i => Map[String, Any]("g" -> i,
        "lang" -> (if (i % 2 == 0) "en" else "de")))))
    c.ensureIndex(nlist = 3, iters = 1)
    val codegenFilter = """Filter \[codegen id : \d+\]""".r
    val readsV = """ReadSchema: struct<[^\n]*_m_meta_v""".r
    for (f <- Seq("""{"g": {"$gte": 2}}""", """{"lang": "en", "g": {"$lt": 9}}""",
        """{"$or": [{"lang": {"$regex": "^e"}}, {"g": {"$in": [3, 5]}}]}""");
        p <- Seq(c.explainQuery("plan doc 3", 2, f),
          c.explainQuery("plan doc 3", 2, f, 2))) {
      assert(!parsesJson(p) && !p.contains("lambdafunction") &&
        !p.contains("forall"), p)
      assert(codegenFilter.findFirstIn(p).nonEmpty, p)
      assert(readsV.findFirstIn(p).nonEmpty, p)
    }
  }

  test("stored metadata VARIANT: df keeps the canonical schema and _m_meta " +
      "comes back byte for byte through query, queryApprox, textFind and " +
      "change events") {
    import org.apache.spark.sql.functions.col
    val c = newSession(tmpDir("kaer-metav-bytes")).createCollection("c")
    c.enableChangeStream()
    val bs = "\\"
    val metas = Seq(
      """{"lang":"en", "n":1e2,"a":1.50}""",
      """  { "z" : [ 1,2 ] ,"a":"x",  "lang" : "en" }  """,
      s"""{"u":"${bs}u00e9 ${bs}ud83d${bs}ude00 ${bs}"q${bs}"","lang":"en"}""",
      "{\"lang\":\"en\",\"raw\":\"é – 😀\",\"n\":-0.0}",
      """{"lang":"de","n":100}""")
    import spark.implicits._
    c.insertDF(metas.zipWithIndex.map { case (m, i) => (s"bytes doc $i", m) }
      .toDF("_m_doc", "_m_meta"))
    assert(marked(s"${c.dir}/data"))
    c.ensureIndex(nlist = 2, iters = 1)
    c.ensureTextIndex()
    assert(c.df.schema.fields.map(f => f.name -> f.dataType.simpleString)
      .toSeq == Seq("_m_id" -> "bigint", "_m_doc" -> "string",
        "_m_embedding" -> "array<float>", "_m_meta" -> "string"))
    val want = metas.zipWithIndex.map { case (m, i) => (i + 1L, m) }.toMap
    def metaById(df: org.apache.spark.sql.DataFrame) =
      df.select(col("_m_id"), col("_m_meta")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val f = """{"lang": "en"}"""
    val en = want.filter(_._1 <= 4L)
    assert(metaById(c.df) == want)
    assert(metaById(c.query("bytes doc", 10, f)) == en)
    assert(metaById(c.queryApprox("bytes doc", 10, 2, f)) == en)
    assert(metaById(c.textFind("bytes doc", 10, f)) == en)
    assert(metaById(c.watch().filter(col("op") === "insert")) == want)
    c.compact()
    assert(metaById(c.df) == want && c.watch().count() == 5L)
  }

  test("stored metadata VARIANT: a generation written before it (no " +
      "marker) answers query, queryApprox, count, delete and updateDoc " +
      "through the per-row parse exactly as a VARIANT-form twin does, and " +
      "carries the marker after compact()") {
    val root = tmpDir("kaer-metav-old")
    val k = newSession(root)
    for (name <- Seq("old", "new")) {
      val c = k.createCollection(name)
      c.insert(Data().withDocuments((0 until 40).map(i => s"old doc $i topic ${i % 5}"))
        .withMetadatas((0 until 40).map(i => Map[String, Any]("g" -> i,
          "tag" -> (if (i % 3 == 0) "a" else "b")))))
      c.ensureIndex(nlist = 4, iters = 2)
    }
    toStringForm(s"$root/old/data")
    assert(marked(s"$root/new/data"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("_m_id").collect().map(_.getLong(0)).toSeq
    val filters = Seq(null, """{"g": {"$gte": 7}}""",
      """{"$or": [{"tag": "a"}, {"g": {"$lt": 3}}]}""")
    def answers(c: Collection) = filters.map(f => (
      ids(c.query("old doc 12 topic 2", 6, f)),
      ids(c.queryApprox("old doc 12 topic 2", 6, 2, f)),
      if (f == null) c.count() else c.count(f)))
    def parses(c: Collection) =
      parsesJson(c.explainQuery("old doc 1", 2, filters(1)))
    val o = newSession(root).getCollection("old")
    val n = newSession(root).getCollection("new")
    assert(marked(s"$root/old/data") && !parses(o) && !parses(n))
    val before = answers(n)
    assert(answers(o) == before)
    assert(contents(o) == contents(n))
    o.compact()
    assert(marked(s"$root/old/data") && !parses(o) && answers(o) == before)

    // and through the mutations, each starting from the string form
    toStringForm(s"$root/old/data")
    val o2 = newSession(root).getCollection("old")
    assert(marked(s"$root/old/data") && !parses(o2))
    val upd = """{"$set": {"tag": "c"}, "$inc": {"g": 100}}"""
    assert(o2.updateDoc("""{"g": {"$mod": [4, 1]}}""", upd) ==
      n.updateDoc("""{"g": {"$mod": [4, 1]}}""", upd))
    assert(marked(s"$root/old/data") && contents(o2) == contents(n))
    toStringForm(s"$root/old/data")
    val o3 = newSession(root).getCollection("old")
    assert(marked(s"$root/old/data") && !parses(o3))
    assert(o3.delete("""{"tag": "c", "g": {"$lt": 120}}""") ==
      n.delete("""{"tag": "c", "g": {"$lt": 120}}"""))
    assert(marked(s"$root/old/data") && contents(o3) == contents(n))
    assert(answers(o3) == answers(n))
  }

  test("stored metadata VARIANT: the marker rides the directory swap, so " +
      "restoring data_old brings back the before-form") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("kaer-metav-swap")
    val c = newSession(root).createCollection("c")
    c.insert(Data().withDocuments((0 until 8).map(i => s"swap doc $i"))
      .withMetadatas((0 until 8).map(i => Map[String, Any]("g" -> i))))
    val data = s"$root/c/data"
    val f = """{"g": {"$gte": 5}}"""
    val want = contents(c)
    def crashMidSwap(): Collection = {
      // a commit died between its two renames: the before-state is at
      // data_old and the next generation never arrived
      assert(hfs.rename(new Path(data), new Path(s"${data}_old")))
      newSession(root).getCollection("c")
    }
    // a VARIANT-form generation comes back VARIANT-form ...
    val v = crashMidSwap()
    assert(marked(data) && contents(v) == want)
    assert(!parsesJson(v.explainQuery("swap doc 1", 3, f)))
    assert(v.count(f) == 3L)
    // ... and a string-form one is restored from data_old, then upgraded
    // by the same reopen
    toStringForm(data)
    val s0 = crashMidSwap()
    assert(!hfs.exists(new Path(s"${data}_old")))
    assert(marked(data) && contents(s0) == want)
    assert(!parsesJson(s0.explainQuery("swap doc 1", 3, f)))
    assert(s0.count(f) == 3L)
  }

  test("stored metadata VARIANT: metadata try_parse_json cannot hold " +
      "(null, invalid JSON, duplicate keys, nesting past the parser's " +
      "depth limit) inserts without error, is stored as a null VARIANT, " +
      "keeps its text, and filters as the per-row parse does") {
    import graft.filter.MqlFilter
    import org.apache.spark.sql.functions.col
    val c = newSession(tmpDir("kaer-metav-odd")).createCollection("c")
    val metas = Seq(null, "not json", """{"a": 1, "a": 2}""",
      "[" * 2000 + "]" * 2000, """{"a": 1}""", """[1, 2]""", "")
    import spark.implicits._
    c.insertDF(metas.zipWithIndex.map { case (m, i) => (s"odd doc $i", m) }
      .toDF("_m_doc", "_m_meta"))
    assert(c.count() == metas.size.toLong)
    assert(contents(c).map(_._4) == metas)
    val v = spark.read.schema(graft.core.Schema.collectionSchema(64)
        .add("_m_meta_v", org.apache.spark.sql.types.VariantType))
      .parquet(s"${c.dir}/data").filter(col("_m_meta_v").isNull)
      .select("_m_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(v == Seq(1L, 2L, 3L, 4L, 7L), v)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("_m_id").collect().map(_.getLong(0)).toSeq.sorted
    for (f <- Seq("{}", """{"a": 1}""", """{"a": {"$exists": false}}""",
        """{"a": {"$ne": 1}}""", """{"a": null}""")) {
      val parsed = ids(c.df.filter(MqlFilter.toColumn(f,
        MqlFilter.JsonResolver(col("_m_meta")))))
      assert(ids(c.query("odd doc", 10, f)) == parsed, f)
      assert(c.count(f) == parsed.size.toLong, f)
    }
    assert(ids(c.query("odd doc", 10, """{"a": 1}""")) == Seq(5L))
  }

  test("stored metadata VARIANT: every commit keeps _m_meta_v equal to the " +
      "parse of _m_meta — carried for unchanged rows, re-parsed for the " +
      "rows an update rewrites — and a handle sees its own writes") {
    import org.apache.spark.sql.functions.{col, to_json, try_parse_json}
    val c = newSession(tmpDir("kaer-metav-carry")).createCollection("c")
    c.insert(Data().withDocuments((0 until 30).map(i => s"carry doc $i"))
      .withMetadatas((0 until 30).map(i => Map[String, Any]("g" -> i,
        "tag" -> (if (i % 2 == 0) "a" else "b")))))
    def stale() = spark.read.schema(graft.core.Schema.collectionSchema(64)
        .add("_m_meta_v", org.apache.spark.sql.types.VariantType))
      .parquet(s"${c.dir}/data")
      .filter(!(to_json(col("_m_meta_v")) <=>
        to_json(try_parse_json(col("_m_meta")))))
      .count()
    val f = """{"g": {"$gte": 100}}"""
    def steps: Seq[(String, () => Unit)] = Seq(
      "updateDoc" -> (() => c.updateDoc("""{"tag": "a"}""",
        """{"$inc": {"g": 100}}""")),
      "pipeline update" -> (() => c.updateDoc("""{"g": {"$lt": 5}}""",
        """[{"$set": {"g": {"$add": ["$g", 200]}}}]""")),
      "findOneAndUpdate" -> (() => c.findOneAndUpdate("""{"tag": "b"}""",
        """{"$set": {"g": 150}}""")),
      "delete" -> (() => c.delete("""{"g": {"$gte": 200}}""")),
      "compact" -> (() => c.compact()),
      "buildIndex" -> (() => c.buildIndex(nlist = 3, iters = 1)),
      "update after index" -> (() => c.update("""{"g": 150}""",
        Map("g" -> 1))),
      // staged rows: an insert, an update over staged and live rows, a
      // delete; the count and the rows g >= 100 stay as they were
      "transaction" -> (() => c.transaction { t =>
        t.insert(Data().withDocuments(Seq("carry doc txn"))
          .withMetadatas(Seq(Map[String, Any]("g" -> 40, "tag" -> "t"))))
        assert(t.updateMany("""{"g": {"$lt": 100}}""",
          """{"$set": {"txn": true}}""") == 15L)
        assert(t.deleteMany("""{"g": 5}""") == 1L)
      }),
      "replaceOne" -> (() => assert(c.replaceOne("""{"tag": "t"}""",
        "carry doc replaced", Map("g" -> 7, "tag" -> "r")) == 1L)))
    for ((name, step) <- steps) {
      step()
      assert(stale() == 0L, s"after $name")
      val parsed = c.df.filter(graft.filter.MqlFilter.toColumn(f,
        graft.filter.MqlFilter.JsonResolver(col("_m_meta")))).count()
      assert(c.count(f) == parsed, s"after $name")
    }
    assert(c.count(f) == 15L && c.count() == 29L)
  }

  // ---- one storage format: old stores upgrade once, when opened ----------

  /** Spark jobs launched while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.graft.ListenerBridge.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Every file under `dir` with its modification time. */
  private def filesOf(dir: String): Set[(String, Long)] = {
    val it = hfs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    val b = Set.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += f.getPath.toString -> f.getModificationTime
    }
    b.result()
  }

  test("one storage format: a string-form store, clustered and indexed, " +
      "is upgraded by its first reopen with no index work and the same " +
      "answers as a VARIANT-form twin; a second reopen rewrites nothing; " +
      "an empty unmarked directory is only marked, with no Spark job") {
    val root = tmpDir("kaer-upgrade")
    for (name <- Seq("old", "twin")) {
      val c = newSession(root).createCollection(name)
      c.insert(Data()
        .withDocuments((0 until 30).map(i => s"upg doc $i topic ${i % 4}"))
        .withMetadatas((0 until 30).map(i => Map[String, Any]("g" -> i,
          "tag" -> (if (i % 3 == 0) "a" else "b")))))
      c.ensureIndex(nlist = 4, iters = 2)
      c.ensureTextIndex()
    }
    val data = s"$root/old/data"
    toStringForm(data)
    val before = filesOf(data)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("_m_id").collect().map(_.getLong(0)).toSeq
    val filters = Seq(null, """{"g": {"$gte": 7}}""",
      """{"$or": [{"tag": "a"}, {"g": {"$lt": 3}}]}""")
    def answers(c: Collection) = filters.map(f => (
      ids(c.query("upg doc 12 topic 0", 6, f)),
      ids(c.queryApprox("upg doc 12 topic 0", 6, 2, f)),
      ids(c.textFind("topic upg", 100, if (f == null) "{}" else f)),
      if (f == null) c.count() else c.count(f)))
    val o = newSession(root).getCollection("old")
    val first = filesOf(data)
    assert(marked(data) && first != before)
    assert(!parsesJson(o.explainQuery("upg doc 1", 2, filters(1))))
    o.ensureIndex(nlist = 4, iters = 2)
    o.ensureTextIndex()
    val twin = newSession(root).getCollection("twin")
    assert(contents(o) == contents(twin))
    assert(answers(o) == answers(twin))
    assert((o.indexRebuilds, o.indexAppends, o.textIndexRebuilds,
      o.textIndexAppends) == ((0L, 0L, 0L, 0L)))
    newSession(root).getCollection("old")
    assert(filesOf(data) == first)

    val e = newSession(root).createCollection("empty")
    val marker = new org.apache.hadoop.fs.Path(s"$root/empty/data",
      "_meta_variant")
    assert(marked(s"$root/empty/data") && hfs.delete(marker, false))
    val opened = jobsOf(newSession(root).getCollection("empty"))
    assert(opened == 0, s"opening an empty collection ran $opened jobs")
    assert(marked(s"$root/empty/data") &&
      hfs.listStatus(marker.getParent).map(_.getPath.getName).toSeq ==
        Seq("_meta_variant"))
  }

  test("one storage format: the upgrade at open changes no document, so " +
      "a capture-enabled store records no change event and consumes no " +
      "op_time") {
    val root = tmpDir("kaer-upgrade-capture")
    val c = newSession(root).createCollection("c")
    c.insert(Data().withDocuments(Seq("a", "b"))
      .withMetadatas(Seq(Map("g" -> 1), Map("g" -> 2))))
    c.enableChangeStream()
    c.updateDoc("""{"g": 1}""", """{"$set": {"s": 1}}""") // op_time 1
    assert(hfs.delete(new org.apache.hadoop.fs.Path(s"$root/c/data",
      "_meta_variant"), false))
    val changes = s"$root/c/changes"
    val logged = filesOf(changes)
    val r = newSession(root).getCollection("c")
    assert(marked(s"$root/c/data"))
    assert(filesOf(changes) == logged, "the upgrade wrote to changes/")
    r.updateDoc("""{"g": 2}""", """{"$set": {"s": 2}}""")
    assert(r.watch().collect().map(r => (r.getLong(0), r.getLong(2)))
      .toSeq.sorted == Seq((1L, 1L), (2L, 2L)))
  }

  test("queryApprox on an IVF-clustered collection whose rows were all " +
      "deleted returns no rows; after an insert and ensureIndex it serves " +
      "the new row") {
    val c = newSession(tmpDir("kaer-ivf-emptied")).createCollection("c")
    c.insert(Data().withDocuments((0 until 30).map(i => s"doc $i"))
      .withMetadatas((0 until 30).map(i => Map[String, Any]("g" -> i))))
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.delete("{}") == 30L)
    assert(c.queryApprox("doc 1", 3, 2).collect().isEmpty)
    assert(c.queryApprox("doc 1", 3, 2, """{"g": 1}""").collect().isEmpty)
    assert(c.query("doc 1", 3, """{"g": 1}""").collect().isEmpty)
    c.insert(Data().withDocuments(Seq("doc 1"))
      .withMetadatas(Seq(Map[String, Any]("g" -> 1))))
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.queryApprox("doc 1", 3, 4).select("_m_id").collect()
      .map(_.getLong(0)).toSeq == Seq(31L))
  }

  test("a side index whose sidecar is missing is rebuilt once by the next " +
      "ensure, with the same answers") {
    val root = tmpDir("kaer-no-sidecar")
    val c = newSession(root).createCollection("c")
    c.insert(Data()
      .withDocuments((0 until 30).map(i => s"side doc $i topic ${i % 4}"))
      .withMetadatas((0 until 30).map(i => Map[String, Any]("g" -> i))))
    c.ensureIndex(nlist = 4, iters = 2)
    c.ensureTextIndex()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("_m_id").collect().map(_.getLong(0)).toSeq
    def answers(x: Collection) = Seq(null, """{"g": {"$gte": 10}}""").map(f =>
      (ids(x.queryApprox("side doc 9 topic 1", 6, 4, f)),
        ids(x.textFind("topic side", 100, if (f == null) "{}" else f))))
    val before = answers(c)
    for (d <- Seq("index", "textindex"))
      assert(hfs.delete(new org.apache.hadoop.fs.Path(s"$root/c/$d",
        Meta.IndexFileName), false))
    val r = newSession(root).getCollection("c")
    r.ensureIndex(nlist = 4, iters = 2)
    r.ensureTextIndex()
    def counters = (r.indexRebuilds, r.indexAppends, r.textIndexRebuilds,
      r.textIndexAppends)
    assert(counters == ((1L, 0L, 1L, 0L)), counters)
    assert(answers(r) == before)
    r.ensureIndex(nlist = 4, iters = 2)
    r.ensureTextIndex()
    assert(counters == ((1L, 0L, 1L, 0L)), counters)
  }
}
