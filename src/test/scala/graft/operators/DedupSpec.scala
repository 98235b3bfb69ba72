package graft.operators

import graft.SparkTestBase

/** Dedup pipeline semantics on a controlled corpus: LSH banding finds the
  * planted near-duplicate pair, rejects unrelated docs, and the exact
  * operator distinguishes byte-identical from merely-similar. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"

  test("minhashPairs finds a planted near-dup, not unrelated docs") {
    val corpus = Seq(
      (1L, base),
      (2L, base + " phi chi"), // near-dup: shares almost all 3-grams
      (3L, "the rain in spain stays mainly in the plain every day again"),
      (4L, "completely unrelated words about query engines and columnar io")
    ).toDF("id", "text")
    val pairs = Dedup.minhashPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)), pairs.mkString(","))
  }

  test("contaminationPairs reports only CROSS-corpus hits — " +
      "within-corpus near-dups never surface") {
    val other = "the rain in spain stays mainly in the plain every day " +
      "again and again"
    val train = Seq(
      (1L, base),
      (2L, base + " phi"), // train-train near-dup: must NOT appear
      (3L, other)
    ).toDF("id", "text")
    val eval = Seq(
      (1L, base + " chi psi"), // contaminated copy of train 1 (and 2);
                               // id COLLIDES with train 1 on purpose —
                               // separate id spaces must be preserved
      (9L, "completely unrelated words about query engines and io")
    ).toDF("id", "text")
    val got = Dedup.contaminationPairs(train, eval)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L)), got.mkString(","))
  }

  test("substringPairs: shifted long runs found; stride guarantee holds; " +
      "boilerplate windows excluded") {
    def words(pfx: String, n: Int): String =
      (1 to n).map(i => s"$pfx$i").mkString(" ")
    val shared40 = words("s", 40) // 40-token shared run
    val corpus = Seq(
      (1L, shared40 + " " + words("a", 5)),
      (2L, words("x", 3) + " " + shared40), // shifted by 3
      (3L, words("z", 50)) // unrelated
    ).toDF("id", "text")
    // stride 1: complete answer
    val full = Dedup.substringPairs(corpus, 30, 1, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == Seq((1L, 2L)))
    // stride 10: run length 40 >= 30 + 10 - 1 → hit GUARANTEED
    val strided = Dedup.substringPairs(corpus, 30, 10, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(strided == Seq((1L, 2L)))
    // boilerplate exclusion: a window in MORE docs than the cap vanishes
    val boiler = Seq.tabulate(5)(i =>
      (10L + i, shared40 + " " + words(s"u$i", 3))).toDF("id", "text")
    assert(Dedup.substringPairs(boiler, 30, 1, 4).count() == 0)
    assert(Dedup.substringPairs(boiler, 30, 1, 5).count() == 10) // 5C2
  }

  test("substringSpans: diagonal islands merge to maximal spans; " +
      "disjoint runs stay separate spans; offsets don't bleed") {
    def words(pfx: String, n: Int): String =
      (1 to n).map(i => s"$pfx$i").mkString(" ")
    val run40 = words("s", 40)  // one 40-token shared run
    val run31 = words("t", 31)  // a second, disjoint 31-token run
    val corpus = Seq(
      // doc1: [run40][gap 7][run31]  doc2: [3 tokens][run40][gap 9][run31]
      (1L, run40 + " " + words("g", 7) + " " + run31),
      (2L, words("x", 3) + " " + run40 + " " + words("h", 9) + " " + run31),
      (3L, words("z", 50))
    ).toDF("id", "text")
    val got = Dedup.substringSpans(corpus, 30, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // run40 → 11 consecutive windows on one diagonal (span 40);
    // run31 → 2 on ANOTHER diagonal (span 31): they must not merge
    // even though both pairs involve the same docs
    assert(got == Seq((1L, 2L, 13L, 2L, 40L)), got.mkString(","))
    // same-length runs at the same offset but separated by a gap stay
    // two islands: doc4/doc5 share run40 twice with a non-matching gap
    val twice = Seq(
      (4L, run40 + " " + words("p", 5) + " " + run40),
      (5L, run40 + " " + words("q", 5) + " " + run40)
    ).toDF("id", "text")
    val g2 = Dedup.substringSpans(twice, 30, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // each run40 in doc4 aligns with BOTH copies in doc5: the offset-0
    // diagonal carries two 11-window islands (the gap words differ, so
    // they must NOT merge into one 85-token span), the ±45 cross
    // diagonals one island each → 4 spans of 40 tokens, 44 alignments
    assert(g2 == Seq((4L, 5L, 44L, 4L, 40L)), g2.mkString(","))
  }

  test("identical docs are always found (LSH recall = 1 at jaccard 1)") {
    val corpus = Seq((10L, base), (20L, base)).toDF("id", "text")
    val pairs = Dedup.minhashPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((10L, 20L)))
  }

  test("label propagation collapses a pair chain into one cluster") {
    // A≈B and B≈C but A,C may only connect through B — transitive
    // closure must still put all three in cluster min(A)
    val corpus = Seq(
      (5L, base + " one two three four five six"),
      (6L, base + " one two three four five seven"),
      (7L, base + " one two three four eight seven"),
      (9L, "totally different text with none of the shared trigram runs at all ok")
    ).toDF("id", "text")
    val pairs = Dedup.minhashPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 6L)) && pairs.contains((6L, 7L)), pairs)
    // reuse the public operator path via a temp corpus table is overkill;
    // run the same propagation loop through dedupClusters' building block
    val clustered = propagate(corpus, Dedup.minhashPairs(corpus))
    assert(clustered == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 9L -> 9L),
      clustered.toString)
  }

  private def propagate(corpus: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    import org.apache.spark.sql.functions._
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = corpus.select(col("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to 5) {
      val prop = edges.join(labels.select(col("id").as("dst"), col("lbl")),
        "dst").select(col("src").as("id"), col("lbl"))
      labels = labels.unionByName(prop).groupBy("id")
        .agg(min("lbl").as("lbl"))
    }
    labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("property: planted exact duplicates are always recalled (LSH recall=1 at J=1)") {
    val rnd = new scala.util.Random(42)
    val vocab = ('a' to 'z').map(c => c.toString * 3)
    for (trial <- 1 to 8) {
      val docs = (0 until 30).map { i =>
        (i.toLong, Seq.fill(12 + rnd.nextInt(20))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val dupOf = (0 until 6).map(_ => rnd.nextInt(30).toLong).distinct
      val corpus = (docs ++ dupOf.map(i =>
        (i + 1000L, docs(i.toInt)._2))).toDF("id", "text")
      val pairs = Dedup.minhashPairs(corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for (i <- dupOf)
        assert(pairs.contains((i, i + 1000L)),
          s"trial $trial: planted dup ($i,${i + 1000L}) missed; got $pairs")
    }
  }

  test("union-find fast path labels == distributed propagation labels") {
    // random multigraph with chains/cycles/self-contained components —
    // the two dedupClusters paths must agree node-for-node
    val rnd = new scala.util.Random(7)
    val edges = (1 to 200).map(_ =>
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .distinct
    val pairs = edges.toDF("id_a", "id_b").localCheckpoint(true)
    val uf = Dedup.unionFindLabels(spark, edges.toArray).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lp = Dedup.propagateLabels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == lp, s"union-find vs propagation diverged: " +
      (uf.toSet diff lp.toSet).take(5).toString)
    // labels are component minima: no label exceeds its node id's root
    assert(uf.forall { case (id, lbl) => lbl <= id })
  }

  test("LSH mega-bucket fails loudly instead of quadratic expansion") {
    import org.apache.spark.sql.functions._
    // a degenerate corpus (every doc identical) collapses ALL docs into
    // one band bucket — past the cap that must be a job failure with
    // remediation text, never a silent 50M-pair expansion in one task
    val n = Dedup.MaxBucketMembers + 1L
    val degenerate = spark.range(n)
      .select(col("id"),
        lit("identical text body repeated for every document").as("text"))
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    def overflows(message: String)(run: => Long): Unit = {
      val ex = intercept[Throwable](run)
      assert(chain(ex).contains(message), chain(ex).take(500))
    }
    overflows("bucket overflow")(Dedup.minhashPairs(degenerate).count())
    // every other guarded site on the same kind of input: the simhash
    // and ids-only expansions, the embedding band join (one bucket of
    // identical vectors) and the semantic clusters (one centroid)
    overflows("simhash LSH bucket overflow")(
      Dedup.simhashPairs(degenerate).count())
    overflows("text LSH bucket overflow")(
      Dedup.lshCandidateIds(degenerate).count())
    val vec = (0 until 64).map(j => (j % 7 - 3) / 7f)
    val same = spark.range(n).select(col("id"),
      typedLit(vec).as("embedding"), lit("x").as("label"))
    overflows("embedding LSH bucket overflow")(Dedup.dedupEmbedCosine(
      same.select("id", "embedding"), 8, 2).count())
    overflows("semantic cluster overflow")(
      Dedup.dedupSemantic(same, Seq(0L -> vec.toArray)).count())
    // under the cap: same corpus shape passes (pairs are real)
    val small = spark.range(50)
      .select(col("id"), lit("identical text body").as("text"))
    assert(Dedup.minhashPairs(small).count() == 49L * 50 / 2)
  }

  test("incremental index probe hits the same mega-bucket ceiling") {
    import org.apache.spark.sql.functions._
    val degenerate = spark.range(Dedup.MaxBucketMembers + 1L)
      .select(col("id"),
        lit("identical text body repeated for every document").as("text"))
    val delta = spark.range(5).select((col("id") + 1000000L).as("id"),
      lit("identical text body repeated for every document").as("text"))
    val idx = graft.core.Scratch.dir("lshidx-spec", "degenerate")
    val ex = intercept[Throwable] {
      Dedup.incrementalPairs(spark, degenerate, delta, idx, 12, 4).count()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(ex).contains("bucket overflow"), chain(ex).take(500))
  }

  test("the incremental index is kept per minhash_k: a run under another " +
      "k with the same band count returns the fresh-build pairs") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    /** A copy of sf0001's documents in a new directory. */
    def corpus(name: String): String = {
      val d = tmpDir(name)
      Files.copy(Paths.get(s"$sf0001/documents.parquet"),
        Paths.get(s"$d/documents.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
      d
    }
    val key = "graft.dedup.minhash_k"
    def pairs(dir: String, k: Int): Seq[(Long, Long)] = {
      spark.conf.set(key, k.toString)
      try Dedup.dedupIncremental(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally spark.conf.unset(key)
    }
    val (a, b) = (corpus("inc-a"), corpus("inc-b"))
    try {
      val fresh = pairs(b, 16)
      pairs(a, 12)
      assert(fresh.nonEmpty && pairs(a, 16) == fresh)
    } finally for (d <- Seq(a, b); k <- Seq(12, 16))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(Dedup.incrementalIndex(d, k, 4)))
  }

  test("dedupLshEval: precision is exactly 1 (both sides verify with " +
      "the same threshold), recall high, common bounded by both sides") {
    val r = Dedup.dedupLshEval(spark, "/root/testdata/sf0.001").head()
    val (nEx, nLsh, nC, rec, prec) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    assert(prec == 1000000L, s"precision $prec")
    assert(nC <= math.min(nEx, nLsh) && nC == nLsh)
    assert(rec >= 900000L, s"banding recall $rec ppm")  // measured .98+
    assert(rec == nC * 1000000L / nEx)
  }

  test("hyperplane matrix is deterministic and ±1-valued") {
    val h = Dedup.hyperplanes
    assert(h.length == 16 && h.forall(_.length == 64))
    assert(h.flatten.forall(v => v == 1.0 || v == -1.0))
    // spot-stability: regenerating gives the same values (lazy val, but
    // the generator itself is md5-pure — same seed strings, same signs)
    assert(h(0).take(8).sameElements(Dedup.hyperplanes(0).take(8)))
    // on-demand rows beyond the default 16 exist and are stable — what
    // lets the config raise bits-per-band past the old compile-time cap
    val r40 = graft.expr.TextHash.hyperplane(40)
    assert(r40.length == 64 && r40.forall(v => v == 1.0 || v == -1.0))
    assert(r40.sameElements(graft.expr.TextHash.hyperplane(40)))
  }

  test("embed-LSH dials: session conf raises selectivity, dup recall holds") {
    import org.apache.spark.sql.functions._
    // corpus: 200 distinct vectors + exact copies of every 4th — exact
    // copies share every band value at ANY dial, so the verified pairs
    // must contain all planted pairs at both selectivities
    val base = spark.range(200).select(col("id"),
      transform(sequence(lit(0), lit(63)),
        j => (pmod(col("id") * 37 + j * 11, lit(997)).cast("double") / 997 - 0.5)
          .cast("float")).as("embedding"))
    val corpus = base.unionAll(
      base.filter(col("id") % 4 === 0)
        .select((col("id") + 100000).as("id"), col("embedding")))
    val planted = (0 until 200 by 4).map(i => (i.toLong, i + 100000L)).toSet
    def pairs(): Set[(Long, Long)] =
      Dedup.dedupEmbedCosine(corpus, Dedup.embedDials(spark)._1,
          Dedup.embedDials(spark)._2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val atDefault = pairs()
    assert(Dedup.embedDials(spark) == (8, 2))
    assert(planted.subsetOf(atDefault))
    try {
      spark.conf.set("graft.dedup.bits_per_band", "12")
      spark.conf.set("graft.dedup.bands", "3")
      assert(Dedup.embedDials(spark) == (12, 3))
      val atHigh = pairs()
      // the verified output (cosine >= 0.9 on candidates) keeps every
      // planted exact copy at both dials; different dials may differ on
      // borderline candidates, which is the documented recall trade
      assert(planted.subsetOf(atHigh))
      // bucket census responds to the dial: 3 bands of 12 bits
      val bands = Dedup.embedBucketSizes(
        corpus.select(col("id"), col("embedding")))
      assert(bands.agg(countDistinct(col("band"))).head().getLong(0) == 3L)
    } finally {
      spark.conf.unset("graft.dedup.bits_per_band")
      spark.conf.unset("graft.dedup.bands")
    }
  }

  test("auto-dial embed dedup (r15): bits derive from the corpus count " +
      "past the floor, planted recall holds, explicit conf wins") {
    import org.apache.spark.sql.functions._
    // 25,025 rows → ceil(25025/16) = 1565 → bits = 11: the derivation is
    // past the 8-bit floor AND past the default 16-plane matrix, so the
    // on-demand hyperplane indexing (planes 0..21 across 2 bands) is live
    val base = spark.range(25000).select(col("id"),
      transform(sequence(lit(0), lit(63)),
        j => (pmod(col("id") * 37 + j * 11, lit(997)).cast("double") / 997 - 0.5)
          .cast("float")).as("embedding"))
    val corpus = base.unionAll(base.filter(col("id") % 1000 === 0)
      .select((col("id") + 100000).as("id"), col("embedding")))
    val bits = graft.core.GraftConfig.autoBitsPerBand(corpus.count())
    assert(bits == 11, s"derived bits=$bits")
    val planted =
      (0 until 25000 by 1000).map(i => (i.toLong, i + 100000L)).toSet
    val out = Dedup.dedupEmbedCosine(corpus, bits, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact copies share every band value at ANY dial — recall 1
    assert(planted.subsetOf(out), s"missing ${planted -- out}")
    // the gate wiring: an EXPLICIT session dial beats the derivation
    // (same precedence as the fixed path), and the planted file dups
    // (+100000 clones of vec_id % 10 = 0) survive the forced dial
    try {
      spark.conf.set("graft.dedup.bits_per_band", "4")
      val confOut = Dedup.dedupEmbedCosineAuto(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val filePlanted = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter(col("vec_id") % 10 === 0).select("vec_id")
        .collect().map(v => (v.getLong(0), v.getLong(0) + 100000L)).toSet
      assert(filePlanted.subsetOf(confOut))
    } finally spark.conf.unset("graft.dedup.bits_per_band")
  }

  test("dedupSemantic removes exactly the planted scaled copies and " +
      "keeps a vector together with its ×2 twin's cluster") {
    val out = Dedup.dedupSemantic(spark, sf0001).collect()
    val ids = out.map(_.getLong(0)).toSet
    // every planted ×2 copy (id ≥ 100000) is removed — same direction
    // as its source, cosine 1 — and every original survives
    assert(ids.forall(_ < 100000L), "a scaled copy survived")
    val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(ids.size == n, s"expected all $n originals to survive")
  }

  test("source guard: operators/ has one in-bucket pair expansion, one " +
      "Jaccard verify and one hyperplane banding, and every " +
      "bucket-overflow raise_error sits in the guard helpers") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = Seq("operators", "functions").flatMap { d =>
      val w = Files.list(Paths.get(s"src/main/scala/graft/$d"))
      try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    assert(files.exists(_.getFileName.toString == "Dedup.scala"), files)
    val code = files.map(f => f.getFileName.toString ->
      Files.readAllLines(f).asScala.toVector)
    def isComment(l: String) = {
      val t = l.trim
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
    }
    def sites(re: scala.util.matching.Regex) = for {
      (f, ls) <- code
      (l, i) <- ls.zipWithIndex
      if !isComment(l) && re.findFirstIn(l).isDefined
    } yield (f, ls, i)
    def where(ss: Seq[(String, Vector[String], Int)]) =
      ss.map { case (f, ls, i) => s"$f:${i + 1}: ${ls(i).trim}" }
        .mkString("\n")
    // a pair expansion flattens a transform over a bucket's members
    // (TextAnalysis's deletion neighbourhood flattens one over a
    // sequence, which is not one)
    for ((what, re) <- Seq(
        "in-bucket pair expansion" ->
          """flatten\(transform\((?!sequence)""".r,
        "Jaccard verify" -> "array_intersect".r,
        "hyperplane banding" -> """HyperBandValues\(""".r)) {
      val ss = sites(re)
      assert(ss.size == 1, s"$what written ${ss.size} times:\n${where(ss)}")
    }
    // the def enclosing line i: the nearest one above it, indented less
    val decl =
      """^(\s*)(?:(?:private|protected)(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    def enclosing(ls: Vector[String], i: Int): String = {
      val indent = ls(i).takeWhile(_ == ' ').length
      (i to 0 by -1).iterator.map(j => decl.findFirstMatchIn(ls(j)))
        .collectFirst { case Some(m) if m.group(1).length < indent =>
          m.group(2) }.getOrElse("")
    }
    // every raise_error of the LSH operators, and any raise_error in
    // operators/ whose message names an overflow
    val guards = sites("""raise_error\(""".r).filter { case (f, ls, i) =>
      Set("Dedup.scala", "Geo.scala", "Similarity.scala")(f) ||
        ls.slice(i, i + 4).exists(_.contains("overflow"))
    }
    assert(guards.nonEmpty)
    val stray = guards.filterNot { case (_, ls, i) =>
      Set("guardBucket", "guardJoinKey")(enclosing(ls, i)) }
    assert(stray.isEmpty, "guard buckets with Dedup.guardBucket or " +
      s"Dedup.guardJoinKey:\n${where(stray)}")
  }

  test("dedupTailHead: exactly the planted parent->child continuation " +
      "edges, directed, fixed overlap") {
    val edges = Dedup.dedupTailHead(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(edges.forall(_._3 == 6L))
    val parents = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(edges.map(e => (e._1, e._2)).toSet ==
      parents.map(p => (p, p + 1000000L)),
      s"edges ${edges.length} vs planted ${parents.size}")
  }
}
