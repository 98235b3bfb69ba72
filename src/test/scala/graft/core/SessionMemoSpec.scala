package graft.core

import graft.SparkTestBase
import graft.operators.{Bpe, Dedup, Mining}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one session cache: an entry is built once per (session, input
  * fingerprints, dials), rebuilt when an input is regenerated under the
  * same dir or a dial changes, and its scratch dirs are deleted when the
  * application ends. */
class SessionMemoSpec extends SparkTestBase {
  import spark.implicits._

  private def writeDocs(dir: String, texts: Seq[String]): Unit =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      Thread.sleep(300) // listener bus is async
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def tmpDirs(prefix: String): Set[String] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSet
    finally s.close()
  }

  test("same inputs: build runs once, and the hit launches 0 Spark jobs") {
    val dir = tmpDir("memo-hit")
    writeDocs(dir, Seq("a b c", "d e f"))
    val in = Seq(s"$dir/documents.parquet")
    var builds = 0
    def get() = SessionMemo.frame(spark, "spec_hit", "spechit", in) {
      builds += 1
      spark.read.parquet(in.head).select($"doc_id")
    }
    assert(get().count() == 2)
    val (df, jobs) = jobsDuring(get())
    assert(builds == 1)
    assert(jobs == 0, s"a memo hit ran $jobs Spark job(s)")
    assert(df.as[Long].collect().sorted.toSeq == Seq(0L, 1L))
    var valueBuilds = 0
    def n() = SessionMemo.value(spark, "spec_hit_n", in) {
      valueBuilds += 1
      spark.read.parquet(in.head).count()
    }
    assert(n() == 2 && n() == 2 && valueBuilds == 1)
  }

  test("an input regenerated under the same dir rebuilds: BPE merges " +
      "and basket stats") {
    val dir = tmpDir("memo-regen")
    writeDocs(dir, Seq.fill(20)("aaaa aaab"))
    val before = Bpe.trainMerges(spark, dir)
    assert(before.exists(_._4.contains("aa")))
    writeDocs(dir, Seq.fill(20)("zzzz zzzy"))
    val after = Bpe.trainMerges(spark, dir)
    assert(after.exists(_._4.contains("zz")) &&
      !after.exists(_._4.contains("a")), after)

    def writeLineitem(baskets: Seq[(Long, Seq[Long])]): Unit =
      baskets.flatMap { case (ok, pks) => pks.map(pk => (ok, pk)) }
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def pairs() = Mining.basketStats(spark, dir) match {
      case (_, pc, n) =>
        (pc.as[(Long, Long, Long)].collect().sorted.toSeq, n)
    }
    writeLineitem(Seq(1L -> Seq(1L, 2L), 2L -> Seq(1L, 2L), 3L -> Seq(3L)))
    assert(pairs() == ((Seq((1L, 2L, 2L)), 3L)))
    writeLineitem(Seq(1L -> Seq(5L, 6L), 2L -> Seq(5L, 6L),
      3L -> Seq(5L, 6L), 4L -> Seq(7L)))
    assert(pairs() == ((Seq((5L, 6L, 3L)), 4L)))
  }

  test("a changed dial (graft.dedup.text_bands) rebuilds the near pairs") {
    val dir = tmpDir("memo-dial")
    writeDocs(dir, (0 until 40).map(i =>
      s"doc $i shares the words alpha beta gamma delta epsilon zeta eta " +
        s"theta iota kappa with number ${i % 7} and ends ---------------"))
    def pairs() = Dedup.dedupMinhashLsh(spark, dir)
      .as[(Long, Long)].collect().toSeq
    val dirs0 = tmpDirs("graft-npairs-")
    val p4 = pairs()
    val dirs1 = tmpDirs("graft-npairs-")
    assert((dirs1 -- dirs0).size == 1)
    assert(pairs() == p4 && tmpDirs("graft-npairs-") == dirs1)
    val key = "graft.dedup.text_bands"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "6")
    try {
      val p6 = pairs()
      assert((tmpDirs("graft-npairs-") -- dirs1).size == 1,
        "a changed dial served the old dial's pairs")
      val direct = Dedup.minhashPairs(Dedup.nearCorpus(spark, dir), 12, 6)
        .as[(Long, Long)].collect().toSeq
      assert(p6 == direct)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("application end deletes the memo's scratch dirs and forgets " +
      "its entries") {
    val dir = tmpDir("memo-end")
    writeDocs(dir, Seq("one two", "three four", "five six"))
    val in = Seq(s"$dir/documents.parquet")
    var builds = 0
    def get() = SessionMemo.frame(spark, "spec_end", "specend", in) {
      builds += 1
      spark.read.parquet(in.head).select($"doc_id")
    }
    val dirs0 = tmpDirs("graft-specend-")
    assert(get().count() == 3)
    val made = tmpDirs("graft-specend-") -- dirs0
    assert(made.size == 1)
    SessionMemo.end(spark.sparkContext)
    assert(tmpDirs("graft-specend-").intersect(made).isEmpty,
      "the memo's scratch dir outlived its application")
    assert(get().count() == 3)
    assert(builds == 2, "a forgotten entry must rebuild")
  }

  test("under a current gate each lookup counts as a hit or a miss, and " +
      "the miss names the payer") {
    val dir = tmpDir("memo-count")
    writeDocs(dir, Seq("x y"))
    val in = Seq(s"$dir/documents.parquet")
    def get(name: String) = SessionMemo.value(spark, name, in)(name.length)
    get("spec_quiet")
    CachePayers.setCurrent("gate_a")
    try { get("spec_count"); get("spec_count"); get("spec_quiet") }
    finally CachePayers.setCurrent(null)
    get("spec_count")
    assert(CachePayers.memoCounts.get("spec_count").contains((1L, 1L)))
    assert(CachePayers.memoCounts.get("spec_quiet").contains((1L, 0L)))
    assert(CachePayers.snapshot.get("spec_count").contains("gate_a"))
    assert(!CachePayers.snapshot.contains("spec_quiet"))
    SessionMemo.end(spark.sparkContext)
    assert(CachePayers.memoCounts.isEmpty && CachePayers.snapshot.isEmpty)
  }

  test("source guard: no hand-rolled session cache in operators/") {
    val ops = Paths.get("src/main/scala/graft/operators")
    val files = Files.list(ops).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${ops.toAbsolutePath}")
    val banned = Seq("applicationId".r,
      """@volatile\s+private\s+var\s+\w*Memo""".r, "ConcurrentHashMap".r)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(_.findFirstIn(line).isDefined)
    } yield s"${f.getFileName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "use graft.core.SessionMemo instead:\n" +
      hits.mkString("\n"))
  }

  test("source guard: sessions are built only by GraftSession, and the " +
      "removed bench knobs stay gone") {
    val files = Seq("src/main/scala", "src/test/scala").flatMap { r =>
      val w = Files.walk(Paths.get(r))
      try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val (factory, rest) =
      files.partition(_.getFileName.toString == "GraftSession.scala")
    assert(factory.size == 1, s"GraftSession.scala not found once: $factory")
    val banned = Seq("""SparkSession\s*\.\s*builder""".r,
      "SPARK_GRAFT_(MIN_OF|ITERS)".r)
    val hits = for {
      f <- rest
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(_.findFirstIn(line).isDefined)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "build sessions with graft.GraftSession.local:\n" +
      hits.mkString("\n"))
  }
}
