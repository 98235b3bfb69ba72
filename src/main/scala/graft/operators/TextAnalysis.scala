package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language ID, document fingerprinting. All per-row
  * (embarrassingly parallel, whole-stage-codegen'd, zero shuffles except
  * the final presentation sort) — at 100 TB these run at scan speed.
  *
  * Cross-engine determinism: integer counts and md5-derived hashes only;
  * the single double division in the quality score is one IEEE op with
  * both operands exact integers, identical in any engine.
  */
object TextAnalysis {

  // resplit: regex/hash per-row work; see Inputs.resplit
  private def docs(s: SparkSession, dir: String): DataFrame =
    Inputs.resplit(s, s.read.parquet(s"$dir/documents.parquet"))

  /** Corpus-trained bigram language-model score — the perplexity-proxy
    * quality signal (the KenLM-filtering shape: score each document
    * against an n-gram LM, drop the tail). Two aggregation passes build
    * the LM tables (unigram + bigram counts — at 100 TB these ARE the
    * model, partitioned by their token key), then each document's
    * bigram occurrences join their add-one-smoothed conditional
    * probability P(w2|w1) = (c12+1)/(c1+V) and sum it per doc.
    *
    * Exactness contract: the probability is kept as an INTEGER in parts
    * per million — counts are exact longs, `(c12+1)*1e6` is an exact
    * double below 2^53, the single division is IEEE-correctly-rounded,
    * and `round` half-up matches both engines — so the per-doc sum is
    * reduction-order-free. No log/exp (libm rounding differs across
    * engines); ranking by mean ppm is monotone with perplexity rank. */
  def textLmScore(s: SparkSession, dir: String): DataFrame =
    lmScore(docs(s, dir).select(col("doc_id"), tokens(col("text")).as("ts")))

  /** The LM core over any `(doc_id, ts: array<string>)` frame. */
  private[graft] def lmScore(toks: DataFrame): DataFrame = {
    // position-ordered bigrams: transform-with-index + try_element_at
    // (null past the end) keeps everything scan-local — no shuffle
    // until the count aggregates
    val bi = toks.select(col("doc_id"), explode(
        filter(transform(col("ts"), (w, i) =>
          struct(w.as("w1"),
            try_element_at(col("ts"), i + lit(2)).as("w2"))),
          p => p("w2").isNotNull)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val cnt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val scored = bi
      .join(cnt, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("ppm", round((col("c2") + lit(1)) * lit(1000000.0) /
        (col("c1") + col("v"))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("lm_ppm_sum"))
    toks.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_ppm_sum"), lit(0L)).as("lm_ppm_sum"))
      .orderBy("doc_id")
  }

  private val lmScoreSql =
    """WITH toks AS (SELECT doc_id,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      |  FROM documents),
      |uni AS (SELECT u AS w, count(*) AS c1 FROM (
      |    SELECT unnest(ts) AS u FROM toks) GROUP BY u),
      |vocab AS (SELECT count(*) AS v FROM uni),
      |big AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
      |    SELECT doc_id, unnest([struct_pack(w1 := ts[i], w2 := ts[i+1])
      |      for i in generate_series(1, len(ts)-1)]) AS u
      |    FROM toks WHERE len(ts) >= 2)),
      |cnt AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
      |scored AS (
      |  SELECT b.doc_id,
      |    CAST(round((c.c2+1) * 1000000.0 / (u.c1 + vocab.v)) AS BIGINT)
      |      AS ppm
      |  FROM big b, cnt c, uni u, vocab
      |  WHERE b.w1 = c.w1 AND b.w2 = c.w2 AND b.w1 = u.w),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(ppm) AS BIGINT) AS lm_ppm_sum
      |  FROM scored GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(a.lm_ppm_sum, 0) AS lm_ppm_sum
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Overlapping token-window chunking — the preprocessing step every
    * embedding pipeline runs before vectorizing long documents: word
    * tokens sliced into windows of [[ChunkW]] with stride [[ChunkS]]
    * (10-token overlap preserves context across boundaries). Pure
    * per-row expressions — sequence of starts → posexplode → slice —
    * so chunking runs at scan speed with NO shuffle; output order is
    * the only sort. The last chunk is partial (standard contract);
    * empty docs produce no chunks. */
  private val ChunkW = 40
  private val ChunkS = 30

  def textChunks(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"), col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(ChunkS)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("t"), col("start") + 1, lit(ChunkW)), " ")
          .as("chunk"),
        least(col("n") - col("start"), lit(ChunkW)).cast("long")
          .as("chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")

  /** Whitespace tokens vs extracted word tokens. */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_ws_tokens"),
      size(tokens(col("text"))).cast("long").as("n_word_tokens"))
      .orderBy("doc_id")

  /** Keyword retrieval over an inverted tf/df decomposition: score(doc) =
    * Σ over query terms of tf(term, doc) · (N DIV df(term)) — the integer
    * skeleton of tf-idf (floor-division instead of a log so the ranking
    * is exact-integer and engine-independent; the log changes weights,
    * not the plan). Scale shape = a real inverted index build: tokenize →
    * explode → filter to query terms (pushdown-friendly: the filter runs
    * before any shuffle) → (doc, term) partial counts → tiny df/N frames
    * BROADCAST back — the corpus never shuffles, only the (doc, term)
    * count rows for matching terms do. */
  def searchKeyword(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("hash", "join", "merge")
    val d = docs(s, dir)
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(nDocs))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * expr("n_docs DIV df")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(15)
  }

  /** Longest token allowed into the fuzzy deletion neighborhood: the
    * neighborhood is O(L²/2) variants per token (L=32 → ≤529), so the
    * cap bounds the explode fanout; the SAME cap is part of the
    * operator contract (and the oracle SQL) — longer tokens simply
    * don't participate in fuzzy matching. */
  private val MaxFuzzyLen = 32

  /** Query terms for [[searchFuzzy]]: planted typos of corpus
    * vocabulary (transpositions, substitutions, insertions, deletions),
    * one exact term, one no-match probe. */
  private val fuzzyTerms = Seq("jion", "tabel", "scann", "filtr",
    "vektor", "strem", "hash", "zzzzzz")

  /** The SymSpell deletion neighborhood: every string reachable from
    * `t` by deleting AT MOST 2 characters (including `t` itself),
    * deduplicated. Standard completeness property: if
    * levenshtein(a, b) ≤ 2 then delete₂(a) ∩ delete₂(b) ≠ ∅ — each
    * edit-script op removes at most one aligned char from each side,
    * so deleting the non-matching positions from both strings meets at
    * the common subsequence. The neighborhood is therefore a SUPERSET
    * candidate generator; the exact banded levenshtein verify prunes.
    * Pure HOF expressions over an attribute input (sequence/transform/
    * flatten) — codegen-friendly, no UDF. */
  private[graft] def delNeighborhood(t: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val L = length(t)
    def del1(i: org.apache.spark.sql.Column) =
      concat(t.substr(lit(1), i), t.substr(i + 2, L))
    def del2(i: org.apache.spark.sql.Column,
        j: org.apache.spark.sql.Column) =
      concat(t.substr(lit(1), i), t.substr(i + 2, j - i - 1),
        t.substr(j + 2, L))
    val d1 = transform(sequence(lit(0), L - 1), i => del1(i))
    // sequence(a, b) with a > b counts DOWN in Spark — guard L ≥ 2
    val d2 = when(L >= 2,
      flatten(transform(sequence(lit(0), L - 2),
        i => transform(sequence(i + 1, L - 1), j => del2(i, j)))))
      .otherwise(array().cast("array<string>"))
    array_distinct(concat(array(t), d1, d2))
  }

  /** Fuzzy term matching — SymSpell deletion-neighborhood blocking:
    * find every corpus vocabulary token within edit distance ≤ 2 of
    * each query term WITHOUT an all-pairs scan. The published device
    * (Garbe's SymSpell): two strings within distance d share a common
    * member of their ≤d-deletion neighborhoods, so candidates come
    * from an EQUI-join on deletion variants, then the exact banded
    * levenshtein verifies (threshold form: O(L·d), −1 past the band).
    *
    * Scale shape for a 100 TB corpus: the corpus collapses to its
    * VOCABULARY first (one hash aggregation — the only corpus-width
    * shuffle); the ~×L²/2 variant explode happens on vocab rows, not
    * corpus rows; the query side is k terms → broadcast; the verify
    * runs only on candidate pairs. Nothing is ever all-pairs and the
    * corpus text never travels through the join. */
  def searchFuzzy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = docs(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) <= MaxFuzzyLen)
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val vvar = vocab.select(col("tok"), col("n"),
      explode(delNeighborhood(col("tok"))).as("v"))
    val qvar = fuzzyTerms.toDF("q")
      .select(col("q"), explode(delNeighborhood(col("q"))).as("v"))
    vvar.join(broadcast(qvar), "v")
      .select("q", "tok", "n").distinct()
      .withColumn("dist", levenshtein(col("q"), col("tok"), 2)
        .cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= 2)
      .select(col("q"), col("tok"), col("dist"), col("n"))
      .orderBy("q", "tok")
  }

  /** Okapi BM25 ranking over the same inverted decomposition — the
    * standard keyword relevance function (k1=1.2, b=0.75). Scale shape
    * matches [[searchKeyword]]: tokenize → explode → filter to the query
    * terms BEFORE any shuffle, conditional-aggregate per-doc tf in one
    * pass, broadcast the (five-number) corpus stats. Determinism: every
    * input to the float formula is an exact integer (tf, dl, df, N,
    * Σdl); per-term scores sum in FIXED source order and round to 6
    * decimals, absorbing libm log ulp differences between engines (the
    * quantile/stddev float stance).
    *
    * The unordered top-15 depends only on documents.parquet, so it is a
    * [[graft.core.SessionMemo]] frame over that input: bm25_search and
    * the RRF fusion's lexical leg share one build per session. */
  def bm25Search(s: SparkSession, dir: String): DataFrame =
    graft.core.SessionMemo.frame(s, "bm25_scan", "bm25",
      Seq(s"$dir/documents.parquet"))(bm25Build(s, dir))
      .orderBy(col("bm25").desc, col("doc_id").asc)

  private[graft] def bm25Build(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("hash", "join", "merge")
    val d = docs(s, dir)
    val dl = d.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("tok") === terms(0), 1L).otherwise(0L))
          .as(s"tf_${terms(0)}"),
        terms.drop(1).map(t =>
          sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
    bm25TopK(tf, dl,
      dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")),
      terms, 15)
  }

  /** Shared BM25 ranking tail — one definition of the formula so the
    * scan path ([[bm25Search]]) and the persisted-index path
    * (`TextIndex.search`) can NEVER diverge: `tf` is one row per
    * matching doc with `tf_<term>` columns, `dl` is (doc_id, dl),
    * `corpus` is the 1-row (n_docs, sum_dl) frame. df per term is
    * derived from `tf` (docs where the term count is positive) —
    * identical whether tf came from a corpus scan or a posting list. */
  private[graft] def bm25TopK(tf: DataFrame, dl: DataFrame,
      corpus: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val K1 = 1.2; val B = 0.75
    val dfCols = terms.map(t =>
      sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = tf.agg(dfCols.head, dfCols.tail: _*)
      .crossJoin(broadcast(corpus))
    val scored = tf.join(dl, "doc_id").crossJoin(broadcast(stats))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    def termScore(t: String) = {
      val idf = log((col("n_docs") - col(s"df_$t") + lit(0.5)) /
        (col(s"df_$t") + lit(0.5)))
      val tfD = col(s"tf_$t").cast("double")
      idf * (tfD * lit(K1 + 1)) /
        (tfD + lit(K1) * (lit(1.0) - lit(B) + lit(B) * col("dl") / avgdl))
    }
    scored
      .select(col("doc_id"),
        round(terms.map(termScore).reduceLeft(_ + _), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  private val enStop =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  /** Quality signals as exact integer counts + a derived score. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftRules.register(s) // stopword probe -> InSet
    // STAGED projections, not one flat select: the token array feeds
    // two outputs and the counts feed stop_permille — inlined, each
    // reference would re-run the tokenizing regex (HOFs are
    // CodegenFallback; no CSE crosses that boundary — the sf10 probe
    // measured the flat shape at 10× its gopher_quality sibling).
    // CollapseProject leaves multi-referenced non-cheap aliases alone,
    // so each regex/filter runs ONCE per row.
    docs(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        tokens(col("text")).as("ts"),
        size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
          .cast("long").as("n_digits"),
        // punct count as a LENGTH DIFFERENCE, not a negated-class
        // find-all: Java regex loses the bitmap fast path on a class
        // containing \s or negation — at the sf10 rung the negated
        // scan measured 15.4 s vs 1.1 s for stripping the POSITIVE
        // class and counting what vanished (identical count: the
        // class matches single codepoints)
        length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
          .cast("long").as("n_punct"))
      .select(col("doc_id"), col("n_chars_m"),
        size(col("ts")).cast("long").as("n_tokens"),
        size(filter(col("ts"), t => array_position(
          array(enStop.map(lit): _*), t) > 0)).cast("long")
          .as("n_stopwords"),
        col("n_digits"), col("n_punct"))
      .select(col("doc_id"), col("n_chars_m"), col("n_tokens"),
        col("n_stopwords"), col("n_digits"), col("n_punct"),
        when(col("n_tokens") > 0,
          floor(col("n_stopwords") * lit(1000.0) / col("n_tokens")))
          .otherwise(0L).cast("long").as("stop_permille"))
      .orderBy("doc_id")
  }

  /** Language ID via marker stopwords; emitted next to the labeled lang. */
  def textLangId(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(s, dir).select(
      col("doc_id"), col("lang"),
      langId(toks).as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Trained char-n-gram language ID (r11) — the statistical twin of
    * the marker-token heuristic [[textLangId]]: hashed char-trigram
    * naive Bayes, TRAINED on the corpus's own labels under the oracle
    * hash (the bigram-LM/KN "training is part of the gate" stance).
    *
    * Model: trigrams of the lowercased first [[LidPrefix]] chars hash
    * into [[LidBuckets]] buckets; per-(lang, bucket) counts + per-lang
    * totals are the model — ≤ L·B rows REGARDLESS of corpus size, so
    * the weight LUT broadcasts and scoring is map-side (the
    * classifier_score / dsir_sample scale device). Each doc scores
    * every candidate language by Σ occurrences × add-one-smoothed
    * P(bucket|lang) in INTEGER ppm ((c+1)·10⁶ over (n+B), one
    * correctly-rounded division — exact while per-lang gram counts
    * stay under ~9·10⁹; shard the training count past that); unseen
    * (lang, bucket) pairs take the smoothing floor. Prediction =
    * max score, ties to the lexicographically smallest language;
    * docs too short for a trigram emit 'und'.
    *
    * The linear-domain ppm SUM (not Σ log p) is the engine's
    * libm-free exactness trick (see dsir_sample): ranking quality is
    * what language ID needs, and the planted multilingual corpus
    * separates cleanly (accuracy vs the lang column is recorded in
    * BASELINE.md). Scale: two bounded-width count shuffles (the
    * model), one per-(doc, lang) partial-aggregated sum, a per-doc
    * 4-row window — no quadratic stage anywhere. */
  private val LidBuckets = 4096
  // the accuracy/cost dial: language ID needs only a prefix, and gram
  // hashing (interpreted md5 per trigram) is the dominant cost — 120
  // chars keeps accuracy (98.8% at sf0.01, BASELINE.md) at ~60% of the
  // 200-char gram volume
  private val LidPrefix = 120

  /** The synthetic corpus's text is language-INDEPENDENT token soup
    * (the lang column never manifests in the text — verified: zero
    * language-exclusive tokens), so the multilingual signal is PLANTED
    * deterministically and identically on both engines (the
    * textNormalize noise-planting device): each doc gets a
    * language-distinctive phrase prefix, unknown codes fall back to a
    * repeated lang-code token. The classifier then has a real signal
    * to learn; its accuracy against the label column is the
    * BASELINE.md number. */
  private val LidPlant: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over the lazy dog",
    "de" -> "der schnelle braune fuchs springt ueber den faulen hund",
    "fr" -> "le renard brun rapide saute par dessus le chien paresseux",
    "es" -> "el zorro marron rapido salta sobre el perro perezoso",
    "zh" -> "min jie de zong se hu li tiao guo lan gou wen ben")

  def textLangIdTrained(s: SparkSession, dir: String): DataFrame = {
    val plant = LidPlant.foldLeft(
      repeat(concat(col("lang"), lit("xx ")), 12)) {
      case (acc, (l, p)) =>
        when(col("lang") === l, lit(p + " ")).otherwise(acc)
    }
    val t = lower(substring(concat(plant, col("text")), 1, LidPrefix))
    // fused native featurization (r15): the composed
    // transform(charNgrams)+md5Hash60 chain evaluates interpreted per
    // trigram (~59M boxed hash calls at sf10); LidGramsExpr emits the
    // identical buckets from one codegen'd loop — bit-equal to the
    // oracle's list-comprehension md5 form
    val fArr = graft.functions.TextFunctions.lidGrams(t, LidBuckets)
    // materialize the hashed gram arrays ONCE (localCheckpoint, the
    // kmeans-assignment device): training and scoring are two jobs,
    // and without the barrier each re-runs the md5-per-trigram
    // featurization — measured 2× the gate cost. The checkpoint is
    // 4 bytes/gram ≈ the prefix text's own volume.
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
        fArr.as("fs"))
      .localCheckpoint(true)
    // TRAINING: one corpus pass → the (lang, bucket) count table; per-
    // lang totals derive from the table itself (no second pass). The
    // model is ≤ L·B rows at ANY corpus size, so collecting it to the
    // driver is the kmeans-centroid device, not a driver-side loop —
    // it comes back as L broadcast weight ARRAYS.
    // loud ceiling on the model BEFORE collecting it: L·B rows is
    // bounded only while the LABEL cardinality is a language set, not
    // an id column — a mislabeled join feeding 10⁵ "languages" must
    // fail with remediation BEFORE the count table lands on the driver
    // (a post-collect guard would OOM first — the exact scenario it
    // describes). One cheap distributed countDistinct over the
    // checkpointed table.
    val nLabels = d.agg(countDistinct(col("lang"))).head.getLong(0)
    require(nLabels <= 1000,
      s"language-ID training saw $nLabels distinct labels — the " +
        "lang column looks like an id, not a language set; fix the " +
        "input or shard the model")
    val cnt = d.select(col("lang"), explode(col("fs")).as("f"))
      .groupBy("lang", "f").agg(count(lit(1)).as("c"))
      .collect()
    val totals = cnt.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val langs = totals.keys.toSeq.sorted
    // Spark's round() semantics exactly (BigDecimal.valueOf = shortest
    // double repr, HALF_UP) so the driver-built weights are bit-equal
    // to the previous in-plan `round(...)` — the oracle is unchanged
    def ppm(num: Double): Long =
      BigDecimal.valueOf(num)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val wArrs: Map[String, Array[Long]] = langs.map { l =>
      val n = totals(l)
      val arr = Array.fill(LidBuckets)(
        ppm(1000000.0 / (n + LidBuckets))) // add-one floor for unseen
      cnt.filter(_.getString(0) == l).foreach(r =>
        arr(r.getInt(1)) =
          ppm((r.getLong(2) + 1) * 1000000.0 / (n + LidBuckets)))
      l -> arr
    }.toMap
    // SCORING (r15 — fused native): one codegen'd loop per row over
    // the gram array with the bucket-major flat LUT (weights for
    // bucket f at f·L…f·L+L, langs sorted); argmax = FIRST index of
    // the max = the deterministic lex-smallest tie-break; no grams ⇒
    // 'und' tested on the array length DIRECTLY (never inferred from
    // a zero score — the add-one floor can round to 0 past ~2e6
    // grams, a silent scale-dependent oracle divergence). The
    // previous composed aggregate/zip_with/slice form evaluated
    // interpreted per trigram with a 5-slot slice allocation each —
    // LidKernels.argmax is bit-identical (same long sums) at loop
    // speed. Zero shuffle either way.
    if (langs.isEmpty)
      return d.select(col("doc_id"), col("lang"),
        lit("und").as("lang_pred")).orderBy("doc_id")
    val nL = langs.length
    val flat: Array[Long] = Array.tabulate(LidBuckets * nL)(i =>
      wArrs(langs(i % nL))(i / nL))
    val predCol = graft.functions.TextFunctions.lidArgmax(
      col("fs"), flat, langs.toArray)
    d.select(col("doc_id"), col("lang"), predCol.as("lang_pred"))
      .orderBy("doc_id")
  }

  private val langIdTrainedSql = {
    val b = LidBuckets
    val plantCase = LidPlant.map { case (l, p) =>
      s"WHEN '$l' THEN '$p '" }.mkString(" ")
    s"""WITH d AS (SELECT doc_id, lang,
       |    lower(substr((CASE lang $plantCase
       |      ELSE repeat(lang || 'xx ', 12) END) || text,
       |      1, $LidPrefix)) AS t FROM documents),
       |g AS (SELECT doc_id, lang, unnest(
       |    CASE WHEN length(t) >= 3 THEN
       |      [('0x' || substr(md5('lid:' || substr(t, i, 3)), 1, 15))
       |         ::BIGINT % $b
       |       for i in generate_series(1, length(t) - 2)]
       |    ELSE CAST([] AS BIGINT[]) END) AS f
       |  FROM d),
       |cnt AS (SELECT lang, f, count(*) AS c FROM g GROUP BY 1, 2),
       |tot AS (SELECT lang, count(*) AS n FROM g GROUP BY 1),
       |w AS (SELECT lang AS cand, f,
       |    CAST(round((c + 1) * 1000000.0 / (n + $b)) AS BIGINT)
       |      AS w_ppm
       |  FROM cnt JOIN tot USING (lang)),
       |fl AS (SELECT lang AS cand,
       |    CAST(round(1000000.0 / (n + $b)) AS BIGINT) AS w_floor
       |  FROM tot),
       |sc AS (SELECT g.doc_id, fl.cand,
       |    CAST(sum(COALESCE(w.w_ppm, fl.w_floor)) AS BIGINT) AS score
       |  FROM g CROSS JOIN fl
       |    LEFT JOIN w ON w.cand = fl.cand AND w.f = g.f
       |  GROUP BY 1, 2),
       |pred AS (SELECT doc_id, cand AS lang_pred,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, cand ASC) AS rn FROM sc)
       |SELECT d.doc_id, d.lang,
       |  COALESCE(p.lang_pred, 'und') AS lang_pred
       |FROM d LEFT JOIN (SELECT doc_id, lang_pred FROM pred
       |  WHERE rn = 1) p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Rolling-hash document fingerprint (min 8-gram hash). */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      fingerprint(col("text"), 8).as("fp"))
      .orderBy("doc_id")

  /** Unicode/whitespace normalization — the canonicalization pass every
    * training corpus gets before dedup/tokenization. The testdata is
    * already clean, so noise is planted deterministically (case-mangled
    * every 3rd doc, padding on all) and identically on the oracle side;
    * the operator lowercases, collapses every non-alphanumeric run to
    * one space, and trims. Pure per-row codegen'd regex — scan speed. */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val noisy = concat(
      lit("  "),
      when(col("doc_id") % 3 === 0, upper(col("text"))).otherwise(col("text")),
      lit(" !!  END  "))
    docs(s, dir).select(
      col("doc_id"),
      trim(regexp_replace(lower(noisy), "[^a-z0-9]+", " ")).as("norm_text"))
      .orderBy("doc_id")
  }

  /** C4-style LINE-level cleaning — the transform half of the C4
    * recipe the doc-level `quality_filter` predicate leaves out: each
    * document's individual lines are kept only if they end in terminal
    * punctuation, have >= 5 words, and carry no javascript / cookie /
    * curly-brace boilerplate; the whole document drops when any line
    * contains "lorem ipsum" or fewer than 2 lines survive (C4 drops
    * lorem-ipsum docs outright and short remnants). The synthetic
    * corpus has no line structure, so a 5/6-line document is planted
    * deterministically from each doc's own words (two clean lines, a
    * javascript line, a cookie-or-too-short line, an unterminated
    * line, and — every 3rd doc — the lorem-ipsum doc-killer); the
    * oracle replants and re-filters identically. Pure per-row array
    * work at scan speed: the lines array materializes as a column
    * once, the lambda filters that attribute (never a recomputed
    * subtree — the no-CSE-across-lambda rule), no shuffle but the
    * presentation sort. */
  def textC4Lines(s: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val base = docs(s, dir)
      .withColumn("l1",
        concat(concat_ws(" ", slice(w, 1, 3)), lit(" data table.")))
      .withColumn("l2", lit("please enable javascript to view this page."))
      .withColumn("l3", when(col("doc_id") % 2 === 0,
        lit("we use cookies on this site.")).otherwise(lit("short line.")))
      .withColumn("l4",
        concat(concat_ws(" ", slice(w, 4, 6)), lit(" window sort group")))
      .withColumn("l6",
        concat(concat_ws(" ", slice(w, 7, 3)), lit(" filter merge batch!")))
      .withColumn("lines", when(col("doc_id") % 3 === 0,
        array(col("l1"), col("l2"), col("l3"), col("l4"),
          lit("lorem ipsum dolor sit amet."), col("l6")))
        .otherwise(array(col("l1"), col("l2"), col("l3"), col("l4"),
          col("l6"))))
      .withColumn("kept", expr(
        "filter(lines, l -> right(l, 1) IN ('.', '!', '?') AND " +
          "size(split(l, ' ')) >= 5 AND " +
          "NOT contains(l, 'javascript') AND " +
          "NOT contains(l, 'cookie') AND NOT contains(l, '{'))"))
    base
      .filter(!contains(array_join(col("lines"), "\n"), lit("lorem ipsum"))
        && size(col("kept")) >= 2)
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), "\n").as("cleaned"))
      .orderBy("doc_id")
  }

  /** Mojibake repair — the ftfy-style encoding-fix pass web corpora
    * get before training: UTF-8 text mis-decoded as Windows-1252
    * leaves characteristic artifact sequences (a\u0302\u20ac\u2122 for
    * the right single quote, A\u0303\u00a9 for e-acute, ...), repaired
    * here by an ORDERED fixed replacement chain — the chain IS the
    * contract and the oracle runs the identical chain, so the repair
    * is engine-exact with no charset library on either side (the
    * artifact/repair pairs are declared once in [[MojibakeTable]] and
    * the oracle SQL is GENERATED from the same constants — the two
    * engines cannot drift). Artifacts are planted deterministically
    * from doc_id (the synthetic corpus is pure ASCII): four artifact
    * classes cycle by doc_id % 4, every 5th doc gets a second class.
    * Emits the artifact count (the detector — route high counts to
    * quarantine) beside the repaired text. Pure per-row codegen'd
    * string work at scan speed; the detector regex and the repair
    * chain share the one table. */
  def textMojibake(s: SparkSession, dir: String): DataFrame = {
    val planted = mojibakePlanted
    val fixed = MojibakeTable.foldLeft(planted) { case (c, (art, rep)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(art), rep)
    }
    docs(s, dir).select(
      col("doc_id"),
      size(regexp_extract_all(planted,
        lit(MojibakeTable.map(t => java.util.regex.Pattern.quote(t._1))
          .mkString("(", "|", ")")), lit(0)))
        .cast("long").as("n_arts"),
      fixed.as("fixed"))
      .orderBy("doc_id")
  }

  /** (artifact, repair) pairs — UTF-8 bytes of the repair character
    * mis-decoded as Windows-1252 yield the artifact. Longest-first so
    * no earlier replacement manufactures a later pattern. One source
    * of truth for the Spark plan, the detector regex, and the
    * generated oracle SQL. */
  private[graft] val MojibakeTable: Seq[(String, String)] = Seq(
    "\u00e2\u20ac\u2122" -> "'",       // E2 80 99 = U+2019 right quote
    "\u00e2\u20ac\u201c" -> "\u2013", // E2 80 93 = U+2013 en dash
    "\u00c3\u00a9" -> "\u00e9",        // C3 A9    = U+00E9 e-acute
    "\u00c3\u00bc" -> "\u00fc",        // C3 BC    = U+00FC u-umlaut
    "\u00c2\u00a0" -> " ")              // C2 A0    = U+00A0 NBSP -> space
  private def mojibakePlanted = concat(col("text"),
    when(col("doc_id") % 4 === 0,
      lit(" don\u00e2\u20ac\u2122t stop"))
      .when(col("doc_id") % 4 === 1, lit(" caf\u00c3\u00a9 culture"))
      .when(col("doc_id") % 4 === 2, lit(" \u00c3\u00bcber fast"))
      .otherwise(lit(" rows\u00e2\u20ac\u201ccols")),
    when(col("doc_id") % 5 === 0,
      lit(" end\u00c2\u00a0mark")).otherwise(lit("")))

  /** The `text_mojibake` oracle, GENERATED from [[MojibakeTable]] so
    * the two engines share the artifact bytes by construction. */
  private lazy val mojibakeSql: String = {
    val arts = MojibakeTable.map(_._1)
    def q(v: String) = "'" + v.replace("'", "''") + "'"
    val planted =
      s"""text || CASE
         |    WHEN doc_id % 4 = 0 THEN ${q(" don" + arts(0) + "t stop")}
         |    WHEN doc_id % 4 = 1 THEN ${q(" caf" + arts(2) + " culture")}
         |    WHEN doc_id % 4 = 2 THEN ${q(" " + arts(3) + "ber fast")}
         |    ELSE ${q(" rows" + arts(1) + "cols")} END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ${q(" end" + arts(4) + "mark")}
         |       ELSE '' END""".stripMargin
    val fixed = MojibakeTable.foldLeft("p") { case (acc, (art, rep)) =>
      s"replace($acc, ${q(art)}, ${q(rep)})" }
    s"""WITH w AS (SELECT doc_id, $planted AS p FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(p,
       |    ${q(arts.mkString("(", "|", ")"))})) AS BIGINT) AS n_arts,
       |  $fixed AS fixed
       |FROM w ORDER BY doc_id""".stripMargin
  }

  /** PII redaction — mask emails and phone-like digit groups before a
    * corpus ships to training. PII is planted deterministically from
    * doc_id (the synthetic text has none), redaction is two anchored
    * regex passes. Per-row, no shuffle; the regexes are the contract —
    * the oracle runs the same two patterns. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id"),
      lit("@mail.example.com or 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "555-[0-9]{4}"
    docs(s, dir).select(
      col("doc_id"),
      size(regexp_extract_all(withPii, lit(emailRe), lit(0)))
        .cast("long").as("n_emails"),
      regexp_replace(regexp_replace(withPii, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>").as("clean"))
      .orderBy("doc_id")
  }

  /** Repetition ratio — the Gopher-style quality signal: what fraction
    * of a document's word 3-grams are repeats. High repetition flags
    * boilerplate/spam for corpus filtering. Exact integer counts + one
    * floor division, per-row, zero shuffle. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val g = wordNgrams(tokens(col("text")), 3)
    val nG = size(g).cast("long")
    val nD = size(array_distinct(g)).cast("long")
    docs(s, dir).select(
      col("doc_id"),
      nG.as("n_3grams"),
      nD.as("n_distinct"),
      when(nG > 0, floor((nG - nD) * lit(1000.0) / nG))
        .otherwise(0L).cast("long").as("dup_permille"))
      .orderBy("doc_id")
  }

  /** Global frequency floor for [[heavyHitters]]. */
  private val HhThreshold = 100L

  /** Exact heavy hitters — all tokens with global frequency ≥
    * [[HhThreshold]], found WITHOUT shuffling the full token stream.
    * The vocabulary of a 100 TB corpus (ids, typos, hashes) dwarfs its
    * head, so the naive global `groupBy(token)` shuffles billions of
    * distinct keys to count a few hundred frequent ones. Two passes:
    *
    *  1. candidates by PIGEONHOLE: a token with global count ≥ s must
    *     have count ≥ s/P in at least one of P input partitions. The
    *     per-(partition, token) partial count completes inside its map
    *     task (each group lives in exactly one partition), so only
    *     per-partition VOCABULARIES ride the exchange — never token
    *     instances — and the `n·P ≥ s` filter cuts those to a small
    *     guaranteed-superset candidate list.
    *  2. exact verify: the token stream semi-joins the BROADCAST
    *     candidate list (map-side), and only candidate tokens reach
    *     the counting shuffle. Output = exact counts ≥ s.
    *
    * The oracle counts every token the straight way — the gate proves
    * the pruned plan loses nothing (recall 1 by the pigeonhole). */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(explode(tokens(col("text"))).as("t"))
    val parts = toks.rdd.getNumPartitions.toLong
    val cand = toks.withColumn("pid", spark_partition_id())
      .groupBy("pid", "t").agg(count(lit(1)).as("n"))
      .filter(col("n") * parts >= HhThreshold)
      .select("t").distinct()
    toks.join(broadcast(cand), "t")
      .groupBy("t").agg(count(lit(1)).as("n"))
      .filter(col("n") >= HhThreshold)
      .select(col("t").as("token"), col("n"))
      .orderBy("token")
  }

  /** Vocabulary size for [[buildVocab]] / [[encodeIds]]. */
  private val VocabSize = 200

  /** Frequency-ranked vocabulary — the word-level tokenizer-training
    * step: top-[[VocabSize]] tokens by (count desc, token asc — the
    * deterministic tiebreak), dense ids 1..V by that rank. The corpus
    * count is a map-side-combined aggregate; the rank window then runs
    * over the V-row RESULT (vocab is k-sized by construction — the
    * single-partition window is over 200 rows, not the corpus). */
  private def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs(s, dir).select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(VocabSize)
      .withColumn("vid", row_number().over(
        Window.orderBy(col("n").desc, col("token"))).cast("long"))
  }

  /** The learned vocabulary (V=200 rows, count desc, token asc) depends
    * only on documents.parquet, so it is a [[graft.core.SessionMemo]]
    * frame over that input: build_vocab, encode_ids and decode_ids share
    * one corpus token aggregation per session. Consumers apply their own
    * order (joins are order-insensitive; build_vocab orders by vid). */
  private def vocabCore(s: SparkSession, dir: String): DataFrame =
    graft.core.SessionMemo.frame(s, "vocab_core", "vocab",
      Seq(s"$dir/documents.parquet"))(vocabBuild(s, dir))

  def buildVocab(s: SparkSession, dir: String): DataFrame =
    vocabCore(s, dir).select("vid", "token", "n").orderBy("vid")

  /** Token-to-id ENCODING — the map step that turns text into training
    * sequences: each document's tokens become vocab ids in token
    * order, out-of-vocab → 0. The vocab rides a BROADCAST (V rows) so
    * encoding is map-side; order is re-assembled by sorting the
    * per-doc (pos, id) structs inside the aggregate, never a window.
    * At 100 TB this is the exact shape a real tokenizer encode takes:
    * broadcast merge table, posexplode, order-preserving regroup. */
  def encodeIds(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .join(broadcast(vocabCore(s, dir).select("token", "vid")),
        Seq("token"), "left")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(
          struct(col("pos"), coalesce(col("vid"), lit(0L)).as("vid")))),
        x => x("vid").cast("string")), " ").as("ids"))
      .orderBy("doc_id")

  /** Id-to-token DECODING — the inverse merge of [[encodeIds]]: the
    * encoded (pos, vid) stream joins the SAME broadcast vocab on vid
    * (id→token is a bijection for vid≥1; id 0 decodes to `<unk>`), and
    * the document is re-assembled in position order inside the
    * aggregate. Round-trip contract: decode(encode(text)) equals the
    * normalized token stream with OOV tokens replaced by `<unk>`. Both
    * joins ride broadcasts (V rows), so the whole round trip is
    * map-side + one groupBy shuffle on doc_id. */
  def decodeIds(s: SparkSession, dir: String): DataFrame = {
    val vocab = vocabCore(s, dir).select("vid", "token")
    val encoded = docs(s, dir)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .join(broadcast(vocabCore(s, dir).select("token", "vid")),
        Seq("token"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("vid"), lit(0L)).as("vid"))
    encoded.join(broadcast(vocab), Seq("vid"), "left")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"),
          coalesce(col("token"), lit("<unk>")).as("tok")))),
        x => x("tok")), " ").as("decoded"))
      .orderBy("doc_id")
  }

  /** Fused ONE-PASS annotation — token count, language id, rolling-hash
    * fingerprint, and the quality keep flag computed together in a
    * single scan. At 100 TB this is the difference between annotating
    * the corpus once and re-reading it once per feature: every
    * annotator here is a per-row codegen'd expression, so fusing them
    * is free (one WholeStageCodegen span) and the scan is paid once.
    * Each feature individually matches its standalone gate
    * (text_tokens / text_langid / text_fingerprint / quality_filter). */
  def annotateDocs(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftRules.register(s) // qualityKeep stopword probe
    import graft.functions.TextFunctions.{fingerprint, langId}
    // tokenize ONCE into an attribute, then annotate from it — inlined,
    // each of the four annotators would re-run the tokenizing regex
    // (CodegenFallback HOFs, no cross-boundary CSE; the sf10 probe
    // measured the flat shape at 14 s vs ~5 s staged)
    docs(s, dir)
      .select(col("doc_id"), col("text"), col("lang"),
        tokens(col("text")).as("ts"))
      .select(
        col("doc_id"),
        size(col("ts")).cast("long").as("n_tok"),
        langId(col("ts")).as("lang_pred"),
        fingerprint(col("text"), 8).as("fp"),
        Pipeline.qualityKeepOver(col("text"), col("ts"), col("lang"))
          .as("keep"))
      .orderBy("doc_id")
  }

  // ---- DuckDB twins -------------------------------------------------

  private val sqlToks = "regexp_extract_all(lower(text), '[a-z0-9]+')"
  private def sqlLangCnt(lang: String): String = {
    val lst = langMarkers(lang).map(w => s"'$w'").mkString("[", ",", "]")
    s"len(list_filter($lst, m -> list_contains($sqlToks, m)))"
  }

  private[graft] val bm25Sql =
    """WITH dl AS (
      |  SELECT doc_id, len(regexp_extract_all(lower(text),
      |    '[a-z0-9]+')) AS dl FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
      |    '[a-z0-9]+')) AS tok FROM documents),
      |tf AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN tok = 'hash' THEN 1 ELSE 0 END) AS tf_hash,
      |    sum(CASE WHEN tok = 'join' THEN 1 ELSE 0 END) AS tf_join,
      |    sum(CASE WHEN tok = 'merge' THEN 1 ELSE 0 END) AS tf_merge
      |  FROM tok WHERE tok IN ('hash', 'join', 'merge')
      |  GROUP BY doc_id),
      |st AS (
      |  SELECT
      |    (SELECT count(*) FROM dl) AS n_docs,
      |    (SELECT sum(dl) FROM dl) AS sum_dl,
      |    sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
      |    sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
      |    sum(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
      |  FROM tf)
      |SELECT doc_id, round(
      |    ln((n_docs - df_hash + 0.5) / (df_hash + 0.5))
      |      * (tf_hash::DOUBLE * 2.2)
      |      / (tf_hash::DOUBLE + 1.2 * (1.0 - 0.75
      |         + 0.75 * dl / (sum_dl::DOUBLE / n_docs)))
      |  + ln((n_docs - df_join + 0.5) / (df_join + 0.5))
      |      * (tf_join::DOUBLE * 2.2)
      |      / (tf_join::DOUBLE + 1.2 * (1.0 - 0.75
      |         + 0.75 * dl / (sum_dl::DOUBLE / n_docs)))
      |  + ln((n_docs - df_merge + 0.5) / (df_merge + 0.5))
      |      * (tf_merge::DOUBLE * 2.2)
      |      / (tf_merge::DOUBLE + 1.2 * (1.0 - 0.75
      |         + 0.75 * dl / (sum_dl::DOUBLE / n_docs))), 6) AS bm25
      |FROM tf JOIN dl USING (doc_id), st
      |ORDER BY bm25 DESC, doc_id ASC LIMIT 15""".stripMargin

  /** Character-distribution diversity — the log-free cousin of entropy
    * quality filters: per document, total chars, distinct chars, and
    * the COLLISION index Σc² (Simpson/Rényi-2 — monotone in collision
    * entropy −ln Σp², so thresholding it IS entropy filtering) as exact
    * integer permille of n². Repetitive/degenerate docs score high,
    * diverse text low; everything is LONG arithmetic with integer
    * division, so the whole distribution metric sits under the oracle
    * hash with no libm anywhere (the text_lm_score stance).
    *
    * Scale: one explode to the character stream (the input's own
    * byte volume), map-side-combined (doc_id, ch) counts, one doc_id
    * regroup. Top-20 most-collision-heavy docs under the gate. */
  def textCharDiversity(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("distinct_chars"),
        sum(col("c") * col("c")).as("sum_sq"))
      .withColumn("collision_pm",
        expr("sum_sq * 1000 DIV (n * n)"))
      .orderBy(col("collision_pm").desc, col("doc_id").asc).limit(20)
      .select("doc_id", "n", "distinct_chars", "sum_sq", "collision_pm")

  /** Count-Min sketch over the corpus token stream — the mergeable
    * FREQUENCY sketch beside the KMV distinct sketch and the histogram
    * quantile sketch: d=4 hash rows × w=1024 buckets of exact LONG
    * counts that MERGE BY ADDITION across partitions/batches/days; a
    * point estimate = min over rows, never an underestimate. Hashes
    * are md5-derived (the [[Relational.sketchDistinct]] device), so
    * the whole sketch — and therefore the estimates themselves — is
    * bit-deterministic and sits under the DuckDB oracle. The gate
    * probes four present tokens and one absent one (whose estimate is
    * whatever collisions produce — the documented overcount). 4096
    * cells regardless of corpus size; the 100 TB cost is the token
    * explode (the input's own volume, map-side partial-aggregated). */
  def sketchCms(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    import s.implicits._
    val D = 4
    val W = 1024L
    def buckets(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array((0 until D).map(i =>
      pmod(md5Hash60(concat(lit(s"cms$i:"), t)), lit(W))): _*)
    val tk = docs(s, dir).select(explode(tokens(col("text"))).as("t"))
    val cells = tk
      .select(posexplode(buckets(col("t"))).as(Seq("r", "b")))
      .groupBy("r", "b").agg(count(lit(1)).as("c"))
    val probes = Seq("join", "hash", "vector", "slow", "zzzmissing")
      .toDF("token")
    val est = probes
      .select(col("token"),
        posexplode(buckets(col("token"))).as(Seq("r", "b")))
      .join(cells, Seq("r", "b"), "left")
      .na.fill(0L, Seq("c"))
      .groupBy("token").agg(min(col("c")).as("cms_estimate"))
    val exact = tk.groupBy(col("t").as("token"))
      .agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("token"), "left")
      .na.fill(0L, Seq("exact"))
      .select(col("token"), col("exact"), col("cms_estimate"))
      .orderBy("token")
  }

  private def sketchCmsOracle: String = {
    def bs(src: String): String = (0 until 4).map(i =>
      s"('0x' || substr(md5('cms$i:' || $src), 1, 15))::BIGINT % 1024")
      .mkString("[", ",\n      ", "]")
    s"""WITH tk AS (SELECT
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM documents),
       |cell AS (SELECT r, b, count(*) AS c FROM (
       |    SELECT unnest([0, 1, 2, 3]) AS r,
       |      unnest(${bs("t")}) AS b
       |    FROM tk) GROUP BY 1, 2),
       |probes AS (SELECT unnest(
       |    ['join', 'hash', 'vector', 'slow', 'zzzmissing']) AS token),
       |pb AS (SELECT token, unnest([0, 1, 2, 3]) AS r,
       |    unnest(${bs("token")}) AS b
       |  FROM probes),
       |est AS (SELECT token,
       |    CAST(min(COALESCE(c, 0)) AS BIGINT) AS cms_estimate
       |  FROM pb LEFT JOIN cell USING (r, b) GROUP BY 1),
       |ex AS (SELECT t AS token, count(*) AS exact FROM tk GROUP BY 1)
       |SELECT est.token, CAST(COALESCE(ex.exact, 0) AS BIGINT) AS exact,
       |  cms_estimate
       |FROM est LEFT JOIN ex ON est.token = ex.token
       |ORDER BY est.token""".stripMargin
  }

  /** Tokenizer vocab COVERAGE report — the QA step after any vocab
    * build: per language, total token occurrences, how many fall
    * outside the top-V vocab (OOV), and the OOV rate in permille. The
    * vocab is [[buildVocab]]'s top-V contract (count desc, token asc);
    * membership tests ride a broadcast left-anti-shaped join expressed
    * as a left join + null flag so both counts come from ONE pass. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val V = 20
    val tk = docs(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("t"))
    val vocab = tk.groupBy("t").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t").asc).limit(V)
      .select(col("t"), lit(1L).as("in_vocab"))
    tk.join(broadcast(vocab), Seq("t"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("total_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
          .as("oov_tokens"))
      .withColumn("oov_pm",
        expr("oov_tokens * 1000 DIV total_tokens"))
      .orderBy("lang")
  }

  /** Sequence-length histogram in power-of-2 bins — the batch-planning
    * distribution (how many docs land in each padding bucket): bin =
    * ⌊log₂(tokens)⌋ via an integer when-chain (exact in both engines —
    * float log2 of a long is NOT guaranteed correctly rounded), with
    * per-bin doc and token totals. */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    val bins = 14
    val bin = (2 to bins).foldLeft(lit(0)) { (acc, b) =>
      when(n >= (1L << b), b).otherwise(acc)
    }
    // the fold above leaves 0 for n in [0, 4); refine 1..3
    val bin0 = when(n >= 2 && n < 4, 1).otherwise(bin)
    docs(s, dir)
      .select(when(n === 0, -1).otherwise(bin0).cast("long").as("bin"),
        n.as("n"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens_sum"))
      .orderBy("bin")
  }

  val oracle: Map[String, String] = Map(
    "vocab_coverage" ->
      s"""WITH tk AS (SELECT lang,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
         |  FROM documents),
         |v AS (SELECT t FROM (
         |    SELECT t, count(*) AS n FROM tk GROUP BY 1)
         |  ORDER BY n DESC, t LIMIT 20)
         |SELECT lang, count(*) AS total_tokens,
         |  CAST(sum(CASE WHEN tk.t IN (SELECT t FROM v)
         |    THEN 0 ELSE 1 END) AS BIGINT) AS oov_tokens,
         |  CAST(sum(CASE WHEN tk.t IN (SELECT t FROM v)
         |    THEN 0 ELSE 1 END) AS BIGINT) * 1000 // count(*) AS oov_pm
         |FROM tk GROUP BY lang ORDER BY lang""".stripMargin,
    "length_histogram" ->
      s"""WITH d AS (SELECT
         |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n
         |  FROM documents),
         |b AS (SELECT n, CASE WHEN n = 0 THEN -1
         |    ${(2 to 14).reverse.map(b =>
               s"WHEN n >= ${1L << b} THEN $b").mkString("\n         |    ")}
         |    WHEN n >= 2 THEN 1 ELSE 0 END AS bin
         |  FROM d)
         |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS tokens_sum
         |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,
    "sketch_cms" -> sketchCmsOracle,
    "text_char_diversity" ->
      """WITH ch AS (SELECT doc_id,
        |    unnest([text[i] for i in generate_series(1, length(text))])
        |      AS ch
        |  FROM documents),
        |h AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    count(*) AS distinct_chars,
        |    CAST(sum(c * c) AS BIGINT) AS sum_sq
        |  FROM h GROUP BY 1)
        |SELECT doc_id, n, distinct_chars, sum_sq,
        |  sum_sq * 1000 // (n * n) AS collision_pm
        |FROM d ORDER BY collision_pm DESC, doc_id LIMIT 20""".stripMargin,
    "build_vocab" ->
      s"""WITH c AS (SELECT t AS token, count(*) AS n
         |  FROM (SELECT unnest($sqlToks) AS t FROM documents)
         |  GROUP BY 1)
         |SELECT row_number() OVER (ORDER BY n DESC, token) AS vid,
         |  token, n
         |FROM c QUALIFY vid <= $VocabSize ORDER BY vid""".stripMargin,
    "encode_ids" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS ts FROM documents),
         |c AS (SELECT t AS token, count(*) AS n
         |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1),
         |v AS (SELECT token,
         |  row_number() OVER (ORDER BY n DESC, token) AS vid
         |  FROM c QUALIFY vid <= $VocabSize),
         |ex AS (SELECT doc_id, unnest(ts) AS token,
         |  unnest(generate_series(1, len(ts))) AS pos FROM toks)
         |SELECT ex.doc_id,
         |  string_agg(CAST(COALESCE(v.vid, 0) AS VARCHAR), ' '
         |    ORDER BY ex.pos) AS ids
         |FROM ex LEFT JOIN v ON v.token = ex.token
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "decode_ids" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS ts FROM documents),
         |c AS (SELECT t AS token, count(*) AS n
         |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1),
         |v AS (SELECT token,
         |  row_number() OVER (ORDER BY n DESC, token) AS vid
         |  FROM c QUALIFY vid <= $VocabSize),
         |ex AS (SELECT doc_id, unnest(ts) AS token,
         |  unnest(generate_series(1, len(ts))) AS pos FROM toks)
         |SELECT ex.doc_id,
         |  string_agg(CASE WHEN v.vid IS NULL THEN '<unk>'
         |    ELSE ex.token END, ' ' ORDER BY ex.pos) AS decoded
         |FROM ex LEFT JOIN v ON v.token = ex.token
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "heavy_hitters" ->
      s"""SELECT t AS token, count(*) AS n
         |FROM (SELECT unnest($sqlToks) AS t FROM documents)
         |GROUP BY 1 HAVING count(*) >= $HhThreshold
         |ORDER BY token""".stripMargin,
    "bm25_search" -> bm25Sql,
    // the persisted-index path answers the SAME query — one oracle text
    "search_indexed" -> bm25Sql,
    // BM25 over the ENGLISH-ANALYZED index: tokens/lengths from the
    // baked analyzer (rendered to SQL from the ONE rule table); the
    // inflected query terms stem to hash/join/merge, so the formula
    // tail is bm25Sql's with analyzed tf/dl/df inputs
    "search_stemmed" -> {
      val toks = graft.functions.Stemmer.analyzeSqlTokens("text")
      s"""WITH at AS (SELECT doc_id, $toks AS a FROM documents),
         |dl AS (SELECT doc_id, len(a) AS dl FROM at),
         |tok AS (SELECT doc_id, unnest(a) AS tok FROM at),
         |tf AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN tok = 'hash' THEN 1 ELSE 0 END) AS tf_hash,
         |    sum(CASE WHEN tok = 'join' THEN 1 ELSE 0 END) AS tf_join,
         |    sum(CASE WHEN tok = 'merge' THEN 1 ELSE 0 END) AS tf_merge
         |  FROM tok WHERE tok IN ('hash', 'join', 'merge')
         |  GROUP BY doc_id),
         |st AS (
         |  SELECT
         |    (SELECT count(*) FROM dl) AS n_docs,
         |    (SELECT sum(dl) FROM dl) AS sum_dl,
         |    sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
         |    sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
         |    sum(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
         |  FROM tf)
         |SELECT doc_id, round(
         |    ln((n_docs - df_hash + 0.5) / (df_hash + 0.5))
         |      * (tf_hash::DOUBLE * 2.2)
         |      / (tf_hash::DOUBLE + 1.2 * (1.0 - 0.75
         |         + 0.75 * dl / (sum_dl::DOUBLE / n_docs)))
         |  + ln((n_docs - df_join + 0.5) / (df_join + 0.5))
         |      * (tf_join::DOUBLE * 2.2)
         |      / (tf_join::DOUBLE + 1.2 * (1.0 - 0.75
         |         + 0.75 * dl / (sum_dl::DOUBLE / n_docs)))
         |  + ln((n_docs - df_merge + 0.5) / (df_merge + 0.5))
         |      * (tf_merge::DOUBLE * 2.2)
         |      / (tf_merge::DOUBLE + 1.2 * (1.0 - 0.75
         |         + 0.75 * dl / (sum_dl::DOUBLE / n_docs))), 6) AS bm25
         |FROM tf JOIN dl USING (doc_id), st
         |ORDER BY bm25 DESC, doc_id ASC LIMIT 15""".stripMargin
    },
    // the oracle is the all-pairs definition the SymSpell join must
    // reproduce exactly: every (query, vocab token) pair within edit
    // distance 2, same 32-char participation cap
    "search_fuzzy" ->
      """WITH vocab AS (
        |  SELECT tok, count(*) AS n FROM (
        |    SELECT unnest(regexp_extract_all(lower(text),
        |      '[a-z0-9]+')) AS tok FROM documents)
        |  WHERE length(tok) <= 32 GROUP BY tok),
        |q(q) AS (VALUES ('jion'), ('tabel'), ('scann'), ('filtr'),
        |  ('vektor'), ('strem'), ('hash'), ('zzzzzz'))
        |SELECT q.q, v.tok,
        |  CAST(levenshtein(q.q, v.tok) AS BIGINT) AS dist, v.n
        |FROM q CROSS JOIN vocab v
        |WHERE levenshtein(q.q, v.tok) <= 2
        |ORDER BY q, tok""".stripMargin,
    "lm_kneser_ney" ->
      """WITH t AS (SELECT
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS a
        |  FROM documents),
        |bi AS (SELECT p[1] AS w1, p[2] AS w2 FROM (
        |    SELECT unnest([[a[i], a[i+1]]
        |        for i in generate_series(1, len(a)-1)]) AS p FROM t)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    count(*) AS n1fw FROM c12 GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS n1pw FROM c12 GROUP BY 1),
        |nb AS (SELECT count(*) AS nb FROM c12)
        |SELECT w1, w2, c12,
        |  CAST((greatest(4 * c12 - 3, 0)::HUGEINT * nb
        |      + 3::HUGEINT * n1fw * n1pw) * 1000000
        |    // (4::HUGEINT * c1 * nb) AS BIGINT) AS p_kn_ppm
        |FROM c12 JOIN ctx USING (w1) JOIN cont USING (w2), nb
        |ORDER BY c12 DESC, w1, w2 LIMIT 20""".stripMargin,
    "search_phrase" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS a
        |  FROM documents),
        |bi AS (SELECT p[1] AS t1, p[2] AS t2, count(*) AS n FROM (
        |    SELECT unnest([[a[i], a[i+1]]
        |        for i in generate_series(1, len(a)-1)]) AS p FROM t)
        |  GROUP BY 1, 2 ORDER BY n DESC, t1, t2 LIMIT 1),
        |pos AS (SELECT doc_id, unnest(a) AS term,
        |    generate_subscripts(a, 1) AS pos FROM t),
        |m AS (SELECT p1.doc_id, count(*) AS n_occ
        |  FROM pos p1 JOIN pos p2
        |    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1, bi
        |  WHERE p1.term = bi.t1 AND p2.term = bi.t2
        |  GROUP BY 1)
        |SELECT doc_id, bi.t1, bi.t2, CAST(n_occ AS BIGINT) AS n_occ
        |FROM m, bi ORDER BY doc_id""".stripMargin,
    "search_keyword" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
        |    '[a-z0-9]+')) AS tok FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks
        |  WHERE tok IN ('hash', 'join', 'merge') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, CAST(sum(tf * (n_docs // df)) AS BIGINT) AS score
        |FROM tf JOIN df USING (tok), n
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id ASC LIMIT 15""".stripMargin,
    "text_chunks" ->
      """WITH t0 AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |tt AS (SELECT doc_id, t, len(t) AS n FROM t0 WHERE len(t) > 0),
        |st AS (SELECT doc_id, t, n,
        |  unnest(generate_series(0, n - 1, 30)) AS start FROM tt)
        |SELECT doc_id, start // 30 AS chunk_idx,
        |  array_to_string(t[start + 1 : start + 40], ' ') AS chunk,
        |  CAST(least(n - start, 40) AS BIGINT) AS chunk_tokens
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_word_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_m,
         |  CAST(len($sqlToks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter($sqlToks, t -> list_contains(
         |    ['the','a','and','of','to','in','is','on','for','with'], t)))
         |    AS BIGINT) AS n_stopwords,
         |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
         |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_punct,
         |  CASE WHEN len($sqlToks) > 0 THEN CAST(floor(
         |      len(list_filter($sqlToks, t -> list_contains(
         |        ['the','a','and','of','to','in','is','on','for','with'], t)))
         |      * 1000.0 / len($sqlToks)) AS BIGINT)
         |    ELSE 0 END AS stop_permille
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid_trained" -> langIdTrainedSql,
    "text_langid" -> {
      val langs = langMarkers.keys.toSeq.sorted
      val cnts = langs.map(l => s"${sqlLangCnt(l)} AS c_$l").mkString(",\n  ")
      val m = langs.map(l => s"c_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN c_$l = m THEN '$l'").mkString(" ")
      val colList = langs.map(l => s"c_$l").mkString(", ")
      s"""SELECT doc_id, lang,
         |  CASE WHEN m = 0 THEN 'und' $cases END AS lang_pred
         |FROM (SELECT doc_id, lang, $colList, $m AS m FROM (
         |  SELECT doc_id, lang,
         |  $cnts
         |  FROM documents)) ORDER BY doc_id""".stripMargin
    },
    "annotate_docs" -> {
      val langs = langMarkers.keys.toSeq.sorted
      val cnts = langs.map(l => s"${sqlLangCnt(l)} AS c_$l").mkString(",\n  ")
      val m = langs.map(l => s"c_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN c_$l = m THEN '$l'").mkString(" ")
      val colList = langs.map(l => s"c_$l").mkString(", ")
      s"""SELECT doc_id, n_tok,
         |  CASE WHEN m = 0 THEN 'und' $cases END AS lang_pred,
         |  fp, keep
         |FROM (SELECT doc_id, n_tok, $colList, $m AS m, fp, keep FROM (
         |  SELECT doc_id, len($sqlToks)::BIGINT AS n_tok,
         |  $cnts,
         |  COALESCE(
         |    list_min([('0x' || substr(md5(substr(lower(text), i, 8)), 1, 15))::BIGINT
         |      for i in generate_series(1, length(lower(text)) - 7)]),
         |    ('0x' || substr(md5(lower(text)), 1, 15))::BIGINT) AS fp,
         |  (${graft.operators.Pipeline.sqlKeep}) AS keep
         |  FROM documents)) ORDER BY doc_id""".stripMargin
    },
    "text_fingerprint" ->
      // COALESCE fallback mirrors fingerprint()'s short-text branch
      // (texts < 8 chars have no 8-grams → hash the whole lowered text).
      """SELECT doc_id,
        |  COALESCE(
        |    list_min([('0x' || substr(md5(substr(lower(text), i, 8)), 1, 15))::BIGINT
        |      for i in generate_series(1, length(lower(text)) - 7)]),
        |    ('0x' || substr(md5(lower(text)), 1, 15))::BIGINT) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(
        |    '  ' || (CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END)
        |    || ' !!  END  '), '[^a-z0-9]+', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_c4_lines" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |pl AS (SELECT doc_id,
        |  array_to_string(w[1:3], ' ') || ' data table.' AS l1,
        |  'please enable javascript to view this page.' AS l2,
        |  CASE WHEN doc_id % 2 = 0 THEN 'we use cookies on this site.'
        |       ELSE 'short line.' END AS l3,
        |  array_to_string(w[4:9], ' ') || ' window sort group' AS l4,
        |  array_to_string(w[7:9], ' ') || ' filter merge batch!' AS l6
        |  FROM ws),
        |ln AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN [l1, l2, l3, l4, 'lorem ipsum dolor sit amet.', l6]
        |    ELSE [l1, l2, l3, l4, l6] END AS lines
        |  FROM pl),
        |k AS (SELECT doc_id, lines,
        |  list_filter(lines, l -> right(l, 1) IN ('.', '!', '?')
        |    AND len(string_split(l, ' ')) >= 5
        |    AND NOT contains(l, 'javascript')
        |    AND NOT contains(l, 'cookie')
        |    AND NOT contains(l, '{')) AS kept
        |  FROM ln)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  array_to_string(kept, chr(10)) AS cleaned
        |FROM k
        |WHERE NOT contains(array_to_string(lines, chr(10)), 'lorem ipsum')
        |  AND len(kept) >= 2
        |ORDER BY doc_id""".stripMargin,
    "text_lm_score" -> lmScoreSql,
    "text_mojibake" -> mojibakeSql,
    "text_repetition" ->
      """SELECT doc_id,
        |  CAST(len(g) AS BIGINT) AS n_3grams,
        |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(g) > 0 THEN CAST(floor(
        |      (len(g) - len(list_distinct(g))) * 1000.0 / len(g)) AS BIGINT)
        |    ELSE 0 END AS dup_permille
        |FROM (
        |  SELECT doc_id, [array_to_string(t[i:i+2], ' ')
        |    for i in generate_series(1, len(t) - 2)] AS g
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "pii_redact" ->
      """WITH w AS (SELECT doc_id,
        |  text || ' contact user' || doc_id ||
        |    '@mail.example.com or 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |    AS t FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  regexp_replace(regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g') AS clean
        |FROM w ORDER BY doc_id""".stripMargin
  )

  /** Interpolated Kneser–Ney bigram probabilities — the LM TRAINING
    * step behind perplexity filtering, with the standard discount
    * d = 3/4 kept EXACT: working in quarters,
    * `P·(4·c1·Nb) = max(4·c12 − 3, 0)·Nb + 3·N1+(w1·)·N1+(·w2)`
    * — pure integers, the ppm emitted through one DECIMAL DIV (the
    * cross-multiplied device; at trillion-token scale the products
    * pass LONG, DECIMAL(38) holds them). Output: the top-20 bigrams by
    * count with their KN probability.
    *
    * Scale: three count aggregations over the bigram stream (bigram,
    * context, continuation — all map-side combinable) + one global
    * distinct-bigram count broadcast; the join fan-in keys on w1/w2.
    * The smoothing mass is where KN differs from the +1 Laplace LM
    * ([[textLmScore]]): rare continuations are discounted by how many
    * CONTEXTS a word follows, not raw frequency. */
  def lmKneserNey(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(tokens(col("text")).as("ts"))
    val bi = toks.select(explode(
        filter(transform(col("ts"), (w, i) =>
          struct(w.as("w1"),
            try_element_at(col("ts"), i + lit(2)).as("w2"))),
          p => p("w2").isNotNull)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = c12.groupBy("w1").agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n1fw")) // c(w1 ·), N1+(w1 ·)
    val cont = c12.groupBy("w2").agg(count(lit(1)).as("n1pw")) // N1+(· w2)
    val nb = c12.agg(count(lit(1)).as("nb"))
    c12.join(ctx, "w1").join(cont, "w2")
      .crossJoin(broadcast(nb))
      .withColumn("p_kn_ppm", expr(
        "CAST(((CASE WHEN 4 * c12 - 3 > 0 THEN 4 * c12 - 3 ELSE 0 END)" +
          " * CAST(nb AS DECIMAL(38,0)) + 3 * CAST(n1fw AS DECIMAL(38,0))" +
          " * n1pw) * 1000000" +
          " DIV (4 * CAST(c1 AS DECIMAL(38,0)) * nb) AS BIGINT)"))
      .select("w1", "w2", "c12", "p_kn_ppm")
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
      .limit(20)
  }

  /** Positional PHRASE search — the search-engine feature term-level
    * postings can't answer: docs where two terms appear ADJACENT, in
    * order. The query phrase is the corpus's top bigram (deterministic
    * tie-break — self-contained gate, no magic constant); matching is
    * the standard positional-postings device: filter the postings to
    * the two phrase terms FIRST (at 100 TB the filter rides the
    * term-bucketed index partitions, [[TextIndex]]'s layout), then one
    * (doc, pos+1) equi-join — candidate volume is the terms' postings,
    * never the corpus. The bigram census itself is in-array zip_with
    * work, one aggregation, no extra corpus shuffle. */
  def searchPhrase(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val toks = d.select(col("doc_id"), tokens(col("text")).as("t"))
    val bi = toks.select(explode(zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => struct(a.as("t1"), b.as("t2")))).as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1").asc, col("t2").asc)
      .limit(1).collect()(0)
    val (q1, q2) = (bi.getString(0), bi.getString(1))
    val pos = d.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "term")))
    val p1 = pos.filter(col("term") === q1)
      .select(col("doc_id"), col("pos"))
    val p2 = pos.filter(col("term") === q2)
      .select(col("doc_id"), col("pos"))
    p1.as("x").join(p2.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          col("y.pos") === col("x.pos") + 1)
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
      .select(col("doc_id"), lit(q1).as("t1"), lit(q2).as("t2"),
        col("n_occ"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "search_phrase" -> (searchPhrase _),
    "lm_kneser_ney" -> (lmKneserNey _),
    "heavy_hitters" -> (heavyHitters _),
    "build_vocab" -> (buildVocab _),
    "encode_ids" -> (encodeIds _),
    "decode_ids" -> (decodeIds _),
    "search_keyword" -> (searchKeyword _),
    "search_fuzzy" -> (searchFuzzy _),
    "bm25_search" -> (bm25Search _),
    "text_tokens" -> (textTokens _),
    "text_chunks" -> (textChunks _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangId _),
    "text_langid_trained" -> (textLangIdTrained _),
    "text_fingerprint" -> (textFingerprint _),
    "annotate_docs" -> (annotateDocs _),
    "text_normalize" -> (textNormalize _),
    "text_c4_lines" -> (textC4Lines _),
    "text_mojibake" -> (textMojibake _),
    "pii_redact" -> (piiRedact _),
    "text_repetition" -> (textRepetition _),
    "text_lm_score" -> (textLmScore _),
    "search_indexed" -> (TextIndex.searchIndexed _),
    "search_stemmed" -> (TextIndex.searchStemmed _),
    "text_char_diversity" -> (textCharDiversity _),
    "sketch_cms" -> (sketchCms _),
    "vocab_coverage" -> (vocabCoverage _),
    "length_histogram" -> (lengthHistogram _)
  )
}
