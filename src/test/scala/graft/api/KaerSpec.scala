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

  test("queryApprox: no Spark job while building, at most 2 when run; " +
      "a job-free centroid read; tombstone and tail semantics kept") {
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
      assert(q.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      val (_, ran) = jobsOf(q.collect())
      assert(ran <= 2, s"queryApprox collect launched $ran jobs")
      // the known-schema probe still prunes lists by partition
      val p = q.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).nonEmpty, p)
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
    assert(spark.read.parquet(s"$root/v/index/tombstones").count() == 5)
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
    assert(spark.read.parquet(s"$root/v/index/tombstones").count() == 6)
    // single-id delete paths record tombstones too
    assert(c.findOneAndDelete("""{"g": 25}""").isDefined)
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexRebuilds == 1 && c.indexAppends == 1)
    assert(spark.read.parquet(s"$root/v/index/tombstones").count() == 7)
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
    assert(spark.read.parquet(s"$root/c/textindex/tombstones")
      .count() == 1)
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
}
