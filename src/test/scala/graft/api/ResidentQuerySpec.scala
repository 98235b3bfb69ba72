package graft.api

import graft.SparkTestBase
import graft.embed.HashingEmbedder
import graft.filter.MqlFilterPropSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** A small generation answers `query`, `queryVector` and `queryApprox` on
  * the driver (the resident path); `spark.sql.autoBroadcastJoinThreshold
  * = -1` pins the Spark path. The two must give the same answer —
  * schema with nullability, rows, order and distance bits — and the
  * resident path must run no Spark job once its copy is built. */
class ResidentQuerySpec extends SparkTestBase {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` with the broadcast threshold set to `v`, restored after. */
  private def withThreshold[T](v: String)(body: => T): T = {
    val old = spark.conf.getOption(Threshold)
    spark.conf.set(Threshold, v)
    try body
    finally old.fold(spark.conf.unset(Threshold))(spark.conf.set(Threshold, _))
  }

  /** `body` on the Spark path. */
  private def onSpark[T](body: => T): T = withThreshold("-1")(body)

  /** Spark jobs launched while `body` runs, and its result. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBridge.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The records Spark tasks read while `body` runs, and its result. */
  private def readOf[T](body: => T): (T, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          read.addAndGet(m.inputMetrics.recordsRead))
    }
    org.apache.spark.graft.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBridge.drain(sc)
      (out, read.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Whether `df` reads only rows held on the driver. */
  private def resident(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  /** Everything an answer holds, floating-point values as raw bits. */
  private def answer(df: DataFrame): (StructType, Seq[Seq[Any]]) = {
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case f: Float => java.lang.Float.floatToRawIntBits(f)
      case s: scala.collection.Seq[_] => s.map(bits).toList
      case o => o
    }
    (df.schema, df.collect().toSeq.map(_.toSeq.map(bits)))
  }

  /** `q` on both paths: the resident answer is a local relation, the
    * Spark one is not, and they are equal. */
  private def same(what: String)(q: => DataFrame): Unit =
    sameAll(Seq(what -> (() => q)))

  /** [[same]] for each of `qs`, every resident answer taken first (a
    * query on the Spark path drops the copy). */
  private def sameAll(qs: Seq[(String, () => DataFrame)]): Unit = {
    val local = qs.map(_._2())
    for (((what, q), l) <- qs.zip(local)) {
      val viaSpark = onSpark(q())
      assert(resident(l) && !resident(viaSpark), what)
      val (a, b) = (answer(l), answer(viaSpark))
      assert(a._1 == b._1, s"$what: schema ${a._1} vs ${b._1}")
      assert(a._2 == b._2, s"$what:\n resident ${a._2}\n spark    ${b._2}")
    }
  }

  private val langs = Seq("en", "de", "fr", "ja", "pt")
  private val sources = Seq("web", "news", "forum", "wiki", "code", "books")

  /** Metadata for both filter families: the `k`/`tag` documents of
    * [[MqlFilterPropSpec]]'s model (either field may be missing; some
    * `k` near 2^53) and kaerbench's fields (lang, source, n, score,
    * tags). */
  private def meta(i: Int): String = {
    val k =
      if (i % 10 == 9) None
      else if (i % 17 == 5) Some(MqlFilterPropSpec.Big + (i % 4) - 1)
      else Some((i % 20).toLong)
    val fields = k.map(v => s""""k": $v""").toSeq ++
      (if (i % 3 == 0) Seq(s""""tag": "t${i % 4}"""") else Nil) ++ Seq(
        s""""lang": "${langs(i % 5)}"""",
        s""""source": "${sources(i % 6)}"""",
        s""""n": ${(i * 37) % 100}""",
        s""""score": ${(i * 7919 % 10000) / 10000.0}""",
        (0 until i % 4).map(j => s""""t${(i + j) % 6}"""")
          .mkString(""""tags": [""", ",", "]"))
    fields.mkString("{", ", ", "}")
  }

  /** Document `i`: 120 distinct texts, so equal texts tie on distance.
    * A seventh of them have no text, so a null embedding, both below
    * and above the index's watermark. */
  private def doc(i: Int): String =
    if (i % 7 == 3) null else s"doc ${i % 24} topic ${i % 5}"
  /** The rows the index covers. */
  private val Indexed = 2400

  private def batch(ids: Range): Data =
    Data().withDocuments(ids.map(doc)).withMetadataJson(ids.map(meta))

  /** The five kaerbench filter templates, with fixed values. */
  private val templates = Seq(null,
    """{"lang": "de"}""",
    """{"n": {"$gte": 20, "$lt": 45}}""",
    """{"$and": [{"source": {"$in": ["web", "wiki"]}}, """ +
      """{"tags": {"$all": ["t2"]}}]}""",
    """{"$or": [{"lang": {"$regex": "^f"}}, {"score": {"$gt": 0.9}}]}""")

  /** 30 random predicates of [[MqlFilterPropSpec]]'s generator, fixed by
    * the seed. */
  private val randomFilters: Seq[String] = {
    val g = Gen.oneOf(MqlFilterPropSpec.genPred, MqlFilterPropSpec.genLeaf)
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(424242L))(_.next).take(30)
      .map(s => g.pureApply(params, s).json).toSeq
  }

  test("parity: query, queryVector and queryApprox give the Spark path's " +
      "answer on the driver — random MQL filters and the kaerbench " +
      "templates, k >= n, tied distances, null embeddings, rows inserted " +
      "after ensureIndex and after the copy was built, and an emptied " +
      "generation") {
    val c = new KaerSession(spark, tmpDir("resident-parity"),
      HashingEmbedder(64)).createCollection("c")
    c.insert(batch(0 until Indexed))
    c.ensureIndex(nlist = 4, iters = 2)
    // above the index's covered watermark: exact search sees them,
    // queryApprox does not
    c.insert(batch(Indexed until 3000))
    val texts = Seq("doc 3 topic 3", "topic 1 doc 17", "doc 5")
    val filters = (templates ++ randomFilters ++
      Seq("{}", """{"k": {"$exists": false}}""", """{"nope": 1}""",
        """{"k": {"$in": []}}""")).zipWithIndex
    for ((f, i) <- filters) {
      val text = texts(i % texts.size)
      val k = Seq(5, 10, 700)(i % 3)
      val nprobe = Seq(1, 2, 4)(i % 3)
      same(s"query($text, $k, $f)")(c.query(text, k, f))
      same(s"queryApprox($text, $k, $nprobe, $f)")(
        c.queryApprox(text, k, nprobe, f))
    }
    val qv = HashingEmbedder(64).embedOne("doc 9 topic 4")
    for (f <- templates) same(s"queryVector($f)")(c.queryVector(qv, 12, f))
    // k >= n, no filter: every row, null distances last, ties by id
    val all = c.query("doc 3 topic 3", 5000)
    same("query(k >= n)")(c.query("doc 3 topic 3", 5000))
    val dist = all.collect().map(r => Option(r.getAs[Any]("_distance")))
    val nulls = (0 until 3000).count(i => doc(i) == null)
    assert(dist.length == 3000 && dist.takeRight(nulls).forall(_.isEmpty) &&
      dist.count(_.isEmpty) == nulls, dist.toSeq)
    // the projection form rides the same answer
    same("query(project)")(c.query("doc 3", 4, templates(1), Seq("lang")))

    // rows inserted after the copy was built: the next query adds them
    assert(resident(c.query("doc 1", 3)))
    c.insert(batch(3000 until 3300))
    sameAll(filters.take(12).flatMap { case (f, i) =>
      val text = texts(i % texts.size)
      Seq(s"after insert: query($text, $f)" -> (() => c.query(text, 40, f)),
        s"after insert: queryApprox($text, $f)" ->
          (() => c.queryApprox(text, 40, 1 + i % 4, f)))
    })

    assert(c.delete("{}") == 3300L)
    for (f <- templates.take(3)) {
      same(s"emptied query($f)")(c.query("doc 1", 3, f))
      same(s"emptied queryApprox($f)")(c.queryApprox("doc 1", 3, 2, f))
    }
  }

  test("parity for array filters that bind a lambda variable ($all, " +
      "$elemMatch) over 12k rows, call after call") {
    val c = new KaerSession(spark, tmpDir("resident-lambda"),
      HashingEmbedder(64)).createCollection("c")
    val n = 12000
    c.insert(Data().withDocuments((0 until n).map(i => s"doc ${i % 97}"))
      .withMetadataJson((0 until n).map(i => (0 until i % 6)
        .map(j => s""""t${(i * 7 + j * 3) % 11}"""")
        .mkString("""{"tags": [""", ",", "]}"))))
    for (f <- Seq("""{"tags": {"$all": ["t1", "t2"]}}""",
        """{"tags": {"$elemMatch": {"$gte": "t3", "$lt": "t5"}}}""")) {
      val want = answer(onSpark(c.query("doc 5", n, f)))
      assert(want._2.nonEmpty)
      for (_ <- 0 until 8) {
        val got = c.query("doc 5", n, f)
        val equal = resident(got) && answer(got) == want
        assert(equal, s"$f: the resident answer differs")
      }
    }
  }

  test("resident lifecycle: the first query of a generation runs 1 job, " +
      "later queries none to build and none to collect; the next answer " +
      "sees every write through the handle; a generation above the " +
      "threshold, or a released handle, takes the Spark path again") {
    val root = tmpDir("resident-life")
    val k = new KaerSession(spark, root, HashingEmbedder(64))
    val c = k.createCollection("c")
    c.insert(batch(0 until 40))
    c.ensureIndex(nlist = 4, iters = 2)
    val f = """{"n": {"$lt": 60}}"""
    def ids(df: DataFrame) = df.select("_m_id").collect().map(_.getLong(0)).toSeq
    // an answer, and the jobs run to build it; collecting runs none
    def exact(text: String, filter: String = f): (Seq[Long], Int) = {
      val (q, built) = jobsOf(c.query(text, 5, filter))
      val (out, ran) = jobsOf(ids(q))
      assert(resident(q) && ran == 0, s"collecting ran $ran jobs")
      (out, built)
    }
    def approx(text: String): (Seq[Long], Int) = {
      val (q, built) = jobsOf(c.queryApprox(text, 5, 2, f))
      val (out, ran) = jobsOf(ids(q))
      assert(resident(q) && ran == 0, s"collecting ran $ran jobs")
      (out, built)
    }

    val (first, jobs) = exact("doc 3 topic 3")
    assert(jobs == 1, s"the first query of a generation ran $jobs jobs")
    assert(exact("doc 3 topic 3") == ((first, 0)))
    val (near, nearJobs) = approx("doc 3 topic 3")
    assert(near.nonEmpty && nearJobs == 0)
    assert(onSpark(ids(c.queryApprox("doc 3 topic 3", 5, 2, f))) == near)
    assert(exact("doc 3 topic 3") == ((first, 1)), "rebuilt after -1")

    // inserts keep the copy: the next query reads only the inserted
    // rows, by one job, however many inserts came before it
    c.insert(Data().withDocuments(Seq("fresh words entirely"))
      .withMetadataJson(Seq("""{"n": 1}""")))
    c.insert(Data().withDocuments(Seq("fresher words still"))
      .withMetadataJson(Seq("""{"n": 2}""")))
    val ((fresh, freshJobs), freshRead) =
      readOf(exact("fresh words entirely"))
    assert(fresh.head == 41L && freshJobs == 1 && freshRead == 2,
      s"jobs=$freshJobs read=$freshRead")
    assert(exact("fresh words entirely") == ((fresh, 0)))
    val (unindexed, _) = approx("fresh words entirely")
    assert(!unindexed.contains(41L))
    // ensureIndex's append: the next queryApprox covers the new row
    c.ensureIndex(nlist = 4, iters = 2)
    assert(c.indexAppends == 1L)
    val (indexed, indexedJobs) = approx("fresh words entirely")
    assert(indexed.head == 41L && indexedJobs == 0)
    // a delete, an update and a compaction each commit a new generation,
    // whose first query builds its copy
    assert(c.delete("""{"n": 1}""") == 1L)
    val (gone, goneJobs) = exact("fresh words entirely")
    assert(!gone.contains(41L) && goneJobs == 1)
    assert(c.updateDoc(f, """{"$set": {"n": 99}}""") > 0)
    assert(exact("doc 3 topic 3") == ((Nil, 1)))
    assert(approx("doc 3 topic 3") == ((Nil, 0)))
    val everyone = """{"n": 99}"""
    val (before, _) = exact("doc 3 topic 3", everyone)
    c.compact()
    assert(exact("doc 3 topic 3", everyone) == ((before, 1)) &&
      before.nonEmpty)
    assert(onSpark(ids(c.query("doc 3 topic 3", 5, everyone))) == before)

    // above the threshold: the Spark path, answering the same
    val (big, bigJobs) = withThreshold("1") {
      val q = c.query("doc 3 topic 3", 5, everyone)
      jobsOf((resident(q), ids(q)))
    }
    assert(!big._1 && bigJobs >= 1 && big._2 == before)
    // the copy dropped when the limit fell is rebuilt by one job
    assert(exact("doc 3 topic 3", everyone) == ((before, 1)))
    // a closed session's handle holds nothing: its next query rebuilds
    k.close()
    assert(exact("doc 3 topic 3", everyone) == ((before, 1)))
  }

  test("MQL type bracketing gives the same rows on both paths: integral " +
      "and scaled decimals, doubles, a numeric string, booleans, JSON " +
      "null against a missing field, nested paths, objects, arrays and " +
      "their elements") {
    val c = new KaerSession(spark, tmpDir("resident-bracket"),
      HashingEmbedder(64)).createCollection("c")
    // document i holds metas(i); ids are 1-based
    val metas = Seq(
      """{"d": 5}""", """{"d": 5.0}""", """{"d": 5.5}""", """{"d": 5e0}""",
      """{"d": 12345678901234567890}""", """{"d": "5"}""", """{"d": true}""",
      """{"d": null}""", """{}""", """{"d": {"x": 5}}""",
      """{"d": [5, "5"]}""", """{"o": {"p": {"q": 5}}}""",
      """{"arr": [1, 2.5, "x", true]}""",
      """{"items": [{"k": "a", "n": 2}, {"k": "b", "n": 7}]}""",
      """{"items": [{"k": "a", "n": 9}]}""", """{"d": false}""",
      """{"d": 100.0}""", """{"d": -0.5}""")
    c.insert(Data().withDocuments(metas.indices.map(i => s"doc $i"))
      .withMetadataJson(metas))
    def ids(df: DataFrame) =
      df.select("_m_id").collect().map(_.getLong(0)).toSet
    val cases = Seq(
      """{"d": 5}""" -> Set(1L, 2L, 4L),
      """{"d": {"$gt": 5}}""" -> Set(3L, 5L, 17L),
      """{"d": {"$lt": 0}}""" -> Set(18L),
      """{"d": {"$gte": 12345678901234567890}}""" -> Set(5L),
      """{"d": 100}""" -> Set(17L),
      """{"d": {"$in": [5.5, "5"]}}""" -> Set(3L, 6L),
      """{"d": "5"}""" -> Set(6L),
      """{"d": {"$regex": "^5"}}""" -> Set(6L),
      """{"d": true}""" -> Set(7L),
      """{"d": {"$ne": true}}""" -> ((1L to 18L).toSet - 7L),
      """{"d": {"$exists": true}}""" ->
        ((1L to 11L).toSet - 9L ++ Set(16L, 17L, 18L)),
      """{"d": {"$exists": false}}""" -> Set(9L, 12L, 13L, 14L, 15L),
      """{"d": null}""" -> Set(8L, 9L, 12L, 13L, 14L, 15L),
      """{"d": {"$type": "null"}}""" -> Set(8L),
      """{"d": {"$type": "long"}}""" -> Set(1L, 2L, 5L, 17L),
      """{"d": {"$type": "double"}}""" -> Set(3L, 4L, 18L),
      """{"d": {"$type": "string"}}""" -> Set(6L),
      """{"d": {"$type": "bool"}}""" -> Set(7L, 16L),
      """{"d": {"$type": "array"}}""" -> Set(11L),
      """{"d": {"$size": 2}}""" -> Set(11L),
      """{"o.p.q": 5}""" -> Set(12L),
      """{"o.p": {"$exists": true}}""" -> Set(12L),
      """{"d.x": {"$gte": 5}}""" -> Set(10L),
      """{"arr": {"$all": [1, "x"]}}""" -> Set(13L),
      """{"arr": {"$all": [1, "1"]}}""" -> Set.empty[Long],
      """{"arr": {"$elemMatch": {"$gt": 2}}}""" -> Set(13L),
      """{"arr": {"$elemMatch": {"$eq": true}}}""" -> Set(13L),
      """{"d": {"$elemMatch": {"$eq": "5"}}}""" -> Set(11L),
      """{"items": {"$elemMatch": {"k": "a", "n": {"$gt": 3}}}}""" ->
        Set(15L),
      """{"items": {"$elemMatch": {"n": {"$type": "long"}}}}""" ->
        Set(14L, 15L))
    sameAll(cases.map { case (f, _) =>
      s"query($f)" -> (() => c.query("doc 1", 100, f)) })
    for ((f, want) <- cases)
      assert(ids(c.query("doc 1", 100, f)) == want, f)
  }

  test("plan guard: the range template over the stored VARIANT is one " +
      "view per leaf — no schema_of_variant, at most 35 nodes") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.functions.{col, lit, parse_json}
    val rows = spark.range(2).select(parse_json(lit("""{"n": 1}""")).as("m"))
    val q = rows.filter(graft.filter.MqlFilter.toColumn(
      """{"n": {"$gte": 20, "$lt": 45}}""",
      graft.filter.MqlFilter.VariantResolver(col("m"))))
    val cond = q.queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition }.get
    val nodes = cond.collect { case e => e.prettyName }
    assert(!nodes.contains("schema_of_variant") && nodes.size <= 35,
      s"${nodes.size} nodes: $cond")
  }

  test("queryApprox compiles no new class for a new probe set on the " +
      "resident path; the Spark path still prunes by cid partition filters") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val c = new KaerSession(spark, tmpDir("resident-probe"),
      HashingEmbedder(64)).createCollection("c")
    c.insert(batch(0 until 600))
    c.ensureIndex(nlist = 4, iters = 2)
    val f = templates(2)
    val texts = (0 until 24).map(i => s"doc $i topic ${i % 5}")
    val probed = """cid#\d+L? IN \(([^)]*)\)""".r
    // the lists each text probes, read from the Spark plan
    val lists = texts.map(t => onSpark {
      val p = c.explainQuery(t, 5, f, 2)
      assert("PartitionFilters: \\[[^\\]]*cid#\\d+L? IN \\(".r
        .findFirstIn(p).nonEmpty, p)
      probed.findFirstMatchIn(p).get.group(1)
    })
    assert(lists.distinct.size >= 2, lists)
    c.queryApprox(texts.head, 5, 2, f).collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (t <- texts.tail) {
      val q = c.queryApprox(t, 5, 2, f)
      assert(resident(q))
      q.collect()
    }
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)
  }
}
