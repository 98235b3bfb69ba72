package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING and ENCODING, Spark-first.
  *
  * BPE training (the Sennrich et al. 2016 formulation) iteratively
  * merges the most frequent adjacent symbol pair. The key scale insight
  * is that training runs on the WORD-FREQUENCY DICTIONARY, not the
  * corpus: one corpus-scale groupBy builds `(word, freq)` (at 100 TB
  * that's the only full-data pass — the dict is bounded by distinct
  * words, millions of rows, not trillions of tokens), and every merge
  * iteration is then one pair-count aggregation over the dict (map-side
  * partial sums, one k-sized `limit(1).collect()` to pick the winner —
  * the same bounded-driver-fixture pattern as the IVF centroid reads).
  * The merge APPLY is a per-row left fold (non-overlapping, leftmost
  * first — the BPE contract), a codegen'd higher-order function with no
  * shuffle; `localCheckpoint` truncates the growing lineage each round
  * so iteration N doesn't replay rounds 1..N-1.
  *
  * Words carry the `</w>` end-of-word marker as their final symbol, so
  * word-final merges stay distinct from word-internal ones (the
  * standard formulation).
  *
  * The gates run a FIXED number of merge rounds, so the iterative
  * argmax is oracle-expressible as an unrolled DuckDB CTE chain (one
  * pick + one rewrite CTE per round — see [[oracleCtes]]); BpeSpec
  * additionally locks the merge semantics with a hand-computed fixture.
  */
object Bpe {

  /** Number of merge rounds the registered gates run. */
  val Merges = 10

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** word → its initial symbol sequence: characters + `</w>`. */
  private def charSyms(word: Column): Column =
    concat(
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
      array(lit("</w>")))

  /** Adjacent pairs of a symbol sequence, as (a, b) structs. */
  private def pairsOf(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (x, y) => struct(x.as("a"), y.as("b")))

  /** Greedy left-to-right NON-OVERLAPPING merge of pair (a, b) into one
    * symbol — the BPE apply step, as a pure fold: append each symbol,
    * except when the running sequence ends in `a` and the symbol is `b`,
    * in which case replace that tail with the merged token. */
  private[graft] def mergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms,
      slice(syms, 1, 0), // empty array<string>, typed from the input
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** One merge pick + apply over the dict; returns the merge row
    * `(a, b, weight)` or None when no pair remains. */
  private def step(words: DataFrame): (Option[(String, String, Long)], DataFrame) = {
    val top = words
      .select(explode(pairsOf(col("syms"))).as("p"), col("freq"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("w"))
      .orderBy(col("w").desc, col("a").asc, col("b").asc)
      .limit(1).collect()
    if (top.isEmpty) (None, words)
    else {
      val (a, b, w) = (top(0).getString(0), top(0).getString(1),
        top(0).getLong(2))
      val next = words
        .withColumn("syms", mergeFold(col("syms"), a, b))
        .localCheckpoint()
      (Some((a, b, w)), next)
    }
  }

  /** Train up to `maxMerges` rounds over a `(syms, freq)` dict; the
    * learned table is `(rank, left, right, merged, weight)` in merge
    * order. Stops early when no adjacent pair remains. */
  private[graft] def trainOn(words0: DataFrame, maxMerges: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var words = words0.localCheckpoint()
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 1L
    var continue = true
    while (continue && rank <= maxMerges) {
      val (pick, next) = step(words)
      pick match {
        case Some((a, b, w)) =>
          out += ((rank, a, b, a + b, w))
          // next is a fresh materialized checkpoint — the superseded
          // round's blocks are dead; free them now (r19, §5)
          val prev = words
          words = next
          org.apache.spark.sql.graft.StorageBridge.release(prev)
          rank += 1
        case None => continue = false
      }
    }
    out.result()
  }

  /** Corpus word dict → [[Merges]] learned merges. bpe_train and
    * bpe_encode train the same merges, and training is the 10-round
    * iterative job. The merges depend only on documents.parquet, so
    * they are a [[graft.core.SessionMemo]] value over that input: one
    * training per session, and a regenerated corpus retrains. */
  def trainMerges(s: SparkSession, dir: String): Seq[(Long, String, String, String, Long)] =
    graft.core.SessionMemo.value(s, "bpe_merges",
      Seq(s"$dir/documents.parquet")) {
      trainOn(
        docs(s, dir)
          .select(explode(tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("freq"))
          .select(charSyms(col("word")).as("syms"), col("freq")),
        Merges)
    }

  /** Gate: the learned merge table itself. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainMerges(s, dir)
      .toDF("rank", "left", "right", "merged", "weight")
      .orderBy("rank")
  }

  /** Gate: encode every document with the merges learned from the SAME
    * corpus. The folds run over the DISTINCT-WORD dict only (the same
    * dict-bounded insight as training — a word's segmentation doesn't
    * depend on which document it's in), and the token stream picks up
    * its piece counts through a broadcast join: at 100 TB the corpus
    * pays one tokenize + one broadcast lookup, never a per-token fold. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(s, dir)
    val toks = docs(s, dir)
      .select(col("doc_id"),
        explode(tokens(col("text"))).as("word"))
    val dict = toks.select("word").distinct()
      .select(col("word"), charSyms(col("word")).as("syms"))
    val encoded = merges.foldLeft(dict) { case (df, (_, a, b, _, _)) =>
      df.withColumn("syms", mergeFold(col("syms"), a, b))
    }.select(col("word"), size(col("syms")).cast("long").as("n_pieces"))
    toks.join(broadcast(encoded), Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("n_pieces")).as("n_pieces"),
        count(lit(1)).as("n_words"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // WordPiece — greedy longest-match-first encoding (the BERT-family
  // tokenizer, complementing BPE's merge-rank scheme). The vocab is
  // corpus-derived and deterministic: the [a-z0-9] single characters
  // (as both starts and ##continuations — progress is guaranteed, no
  // UNK) plus the top-10 words whole, their 2/3-char prefixes as start
  // pieces, and their 2/3-char suffixes as continuations. Encoding
  // runs on the DISTINCT-WORD dict (the same dict-bounded insight as
  // BPE — segmentation is document-independent) as a FIXED 10-round
  // unrolled greedy: each round consumes the longest matching piece at
  // the cursor, expressed as a pure when-chain over broadcast literal
  // vocab arrays — per-row codegen, zero shuffle, and exactly
  // unrollable into the DuckDB CTE chain below. Piece-length checks
  // are capped at FIXED maxima (8 start / 3 continuation) in BOTH
  // engines, so an over-long vocab entry is symmetrically unmatchable.
  // ---------------------------------------------------------------------

  private val WpTopWords = 10
  private val WpRounds = 10
  private val WpMaxStartL = 8
  private val WpMaxContL = 3
  private val WpChars: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString)

  /** Scala twin of SQL substr-based take/takeRight (total on short
    * words, like Scala's own). */
  private def wpVocab(s: SparkSession, dir: String)
      : (Seq[String], Seq[String]) = {
    val top = docs(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc).limit(WpTopWords)
      .collect().map(_.getString(0)).toSeq
    val start = (WpChars ++ top ++ top.map(_.take(2)) ++
      top.map(_.take(3))).distinct
    val cont = (WpChars ++ top.map(_.takeRight(2)) ++
      top.map(_.takeRight(3))).distinct
    (start, cont)
  }

  /** Length of the longest vocab piece matching `w` at 1-based `pos`,
    * checking maxL down to 2 with the single-char fallback (always
    * present in both vocabularies). */
  private def wpLongest(w: Column, pos: Column, vocab: Seq[String],
      maxL: Int): Column =
    (maxL to 2 by -1).flatMap { l =>
      val vs = vocab.filter(_.length == l)
      if (vs.isEmpty) None
      else Some((
        (length(w) - pos + 1 >= l) &&
          array_contains(typedLit(vs), w.substr(pos, lit(l))),
        lit(l)))
    }.foldRight(lit(1): Column) { case ((c, v), acc) =>
      when(c, v).otherwise(acc)
    }

  /** Gate: every distinct word's WordPiece segmentation (+ corpus
    * count) — `word, n, n_pieces, "piece ##piece ..."`. A word the 10
    * rounds cannot finish fails LOUDLY (possible only past 10 chars —
    * longer than any corpus word; the bound is a visible contract, not
    * a silent truncation). */
  def wordpieceEncode(s: SparkSession, dir: String): DataFrame = {
    val (startV, contV) = wpVocab(s, dir)
    wordpieceOver(
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n")),
      startV, contV)
  }

  /** The unrolled greedy over any `(w, n)` word dict with explicit
    * vocabularies — split out for hand-vocab specs. */
  private[graft] def wordpieceOver(words: DataFrame, startV: Seq[String],
      contV: Seq[String]): DataFrame = {
    graft.plans.GraftRules.register(words.sparkSession)
    var df = words
      .withColumn("_l", wpLongest(col("w"), lit(1), startV, WpMaxStartL))
      .withColumn("seg", col("w").substr(lit(1), col("_l")))
      .withColumn("pos", lit(1) + col("_l"))
      .drop("_l")
    for (_ <- 2 to WpRounds) {
      val active = col("pos") <= length(col("w"))
      df = df
        .withColumn("_l", when(active,
          wpLongest(col("w"), col("pos"), contV, WpMaxContL))
          .otherwise(lit(0)))
        .withColumn("seg", when(active, concat(col("seg"), lit(" ##"),
            col("w").substr(col("pos"), col("_l"))))
          .otherwise(col("seg")))
        .withColumn("pos", col("pos") + col("_l"))
        .drop("_l")
    }
    df.select(col("w").as("word"), col("n"),
        when(col("pos") <= length(col("w")), raise_error(concat(
          lit(s"wordpiece: word not consumed in $WpRounds rounds: "),
          col("w")))).otherwise(
          size(split(col("seg"), " ")).cast("long")).as("n_pieces"),
        col("seg"))
      .orderBy("word")
  }

  // ---------------------------------------------------------------------
  // Viterbi (optimal) segmentation — the dynamic-programming complement
  // to WordPiece's greedy longest-match: minimize the NUMBER OF PIECES
  // over the same corpus-derived vocabulary (the SentencePiece-family
  // decode objective with unit piece costs, which keeps the DP in exact
  // integers — no float log-probs, so the full distributed result sits
  // under the oracle hash). Greedy can over-segment ("ab|c|d" where
  // "a|bcd" exists); the DP finds the true minimum. Like the other
  // tokenizer gates it runs on the DISTINCT-WORD dict, and the DP
  // unrolls LEFT-TO-RIGHT (position p depends only on positions < p) as
  // [[VitMaxLen]] chained column computations — per-row codegen, zero
  // shuffle after the dict build, and expressible as the same chained
  // CTE device in DuckDB. A single flat vocabulary list serves every
  // piece length: an in-range candidate substring has exactly length l,
  // so string equality already enforces the length match.
  // ---------------------------------------------------------------------

  private val VitMaxLen = 12  // loud contract: corpus words are ≤ 10
  private val VitMaxPiece = 8

  /** The corpus-derived flat vocabulary: single [a-z0-9] chars (DP is
    * total — every position reachable) + the top-10 words + their 2/3-
    * char prefixes and suffixes. */
  private def vitVocab(s: SparkSession, dir: String): Seq[String] = {
    val top = docs(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc).limit(WpTopWords)
      .collect().map(_.getString(0)).toSeq
    (WpChars ++ top ++ top.map(_.take(2)) ++ top.map(_.take(3)) ++
      top.map(_.takeRight(2)) ++ top.map(_.takeRight(3))).distinct
  }

  /** Gate: per distinct word, the MINIMUM piece count over the vocab
    * (+ the corpus count) — `word, n, min_pieces`. */
  def viterbiEncode(s: SparkSession, dir: String): DataFrame =
    viterbiOver(
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n")),
      vitVocab(s, dir))

  /** The unrolled DP over any `(w, n)` dict with an explicit flat
    * vocabulary — split out for hand-vocab specs. Words longer than
    * [[VitMaxLen]] fail LOUDLY. */
  private[graft] def viterbiOver(words: DataFrame, vocab: Seq[String])
      : DataFrame = {
    // vocab probes are array_contains over a literal array — register
    // the InSet strength-reduction rule (O(1) probe, exact semantics)
    graft.plans.GraftRules.register(words.sparkSession)
    val vlit = typedLit(vocab)
    var df = words.withColumn("d0", lit(0))
    for (p <- 1 to VitMaxLen) {
      val cands = (1 to math.min(VitMaxPiece, p)).map { l =>
        when(array_contains(vlit, col("w").substr(p - l + 1, l)),
          col(s"d${p - l}") + 1)
      }
      df = df.withColumn(s"d$p",
        if (cands.size == 1) cands.head else least(cands: _*))
    }
    val pick = (1 to VitMaxLen).foldRight(
      raise_error(concat(lit(s"viterbi: word longer than $VitMaxLen: "),
        col("w"))).cast("int"): Column) { (p, acc) =>
      when(length(col("w")) === p, col(s"d$p")).otherwise(acc)
    }
    df.select(col("w").as("word"), col("n"),
        pick.cast("long").as("min_pieces"))
      .orderBy("word")
  }

  private def viterbiOracle: String = {
    val rounds = (1 to VitMaxLen).map { p =>
      val cs = (1 to math.min(VitMaxPiece, p)).map { l =>
        s"""CASE WHEN list_contains(vv.l, substr(w, ${p - l + 1}, $l))
           |      THEN d${p - l} + 1 END""".stripMargin
      }
      val cands =
        if (cs.size == 1) cs.head
        else s"least(\n    ${cs.mkString(",\n    ")})"
      s"""s$p AS MATERIALIZED (SELECT w, n, ${
        (0 until p).map(i => s"d$i").mkString(", ")},
         |    $cands AS d$p
         |  FROM s${p - 1}, vv)""".stripMargin
    }.mkString(",\n")
    val pick = (1 to VitMaxLen).map(p =>
      s"WHEN length(w) = $p THEN d$p").mkString("\n    ")
    val chars = WpChars.map(c => s"'$c'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |cnt AS MATERIALIZED (SELECT w, count(*) AS n FROM t GROUP BY 1),
       |top AS MATERIALIZED (
       |  SELECT w FROM cnt ORDER BY n DESC, w LIMIT $WpTopWords),
       |vv AS MATERIALIZED (SELECT list(DISTINCT p) AS l FROM (
       |  SELECT w AS p FROM top
       |  UNION SELECT substr(w, 1, 2) FROM top
       |  UNION SELECT substr(w, 1, 3) FROM top
       |  UNION SELECT substr(w, greatest(length(w) - 1, 1), 2) FROM top
       |  UNION SELECT substr(w, greatest(length(w) - 2, 1), 3) FROM top
       |  UNION SELECT unnest($chars))),
       |s0 AS (SELECT w, n, 0 AS d0 FROM cnt),
       |$rounds
       |SELECT w AS word, n, CAST(CASE
       |    $pick
       |    END AS BIGINT) AS min_pieces
       |FROM s$VitMaxLen ORDER BY word""".stripMargin
  }

  /** Per-language tokenizer FERTILITY (pieces per word) — the
    * tokenizer-evaluation staple: a vocab trained on one language mix
    * over-segments the others, and fertility is the number that shows
    * it. The WordPiece dict (segmentation is word-global) broadcasts
    * onto the (lang, word) token stream; one aggregation per lang;
    * ratio ppm by exact DIV. */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val (startV, contV) = wpVocab(s, dir)
    val dict = wordpieceOver(
      docs(s, dir).select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n")),
      startV, contV).select(col("word"), col("n_pieces"))
    docs(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .join(broadcast(dict), "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"))
      .withColumn("fertility_ppm",
        expr("n_pieces * 1000000 DIV n_words"))
      .orderBy("lang")
  }

  /** The shared wordpiece CTE chain (everything up to, not including,
    * a final SELECT) — composed by both the encode and the fertility
    * oracle, so neither depends on the other's output wording. */
  private def wordpieceCtes: String = {
    val chars = WpChars.map(c => s"'$c'").mkString("[", ", ", "]")
    def startCase: String = {
      val whens = (WpMaxStartL to 2 by -1).map { l =>
        s"""WHEN length(w) >= $l AND list_contains(sv.l, substr(w, 1, $l))
           |      THEN $l""".stripMargin
      }.mkString("\n    ")
      s"CASE $whens\n    ELSE 1 END"
    }
    def contCase: String = {
      val whens = (WpMaxContL to 2 by -1).map { l =>
        s"""WHEN length(w) - pos + 1 >= $l
           |      AND list_contains(cv.l, substr(w, pos, $l)) THEN $l"""
          .stripMargin
      }.mkString("\n    ")
      s"CASE WHEN pos > length(w) THEN 0\n    $whens\n    ELSE 1 END"
    }
    val rounds = (2 to WpRounds).map { i =>
      val p = i - 1
      s"""r$i AS (SELECT w, n, seg, pos, $contCase AS L
         |  FROM s$p, cv),
         |s$i AS MATERIALIZED (SELECT w, n,
         |    CASE WHEN L = 0 THEN seg
         |         ELSE seg || ' ##' || substr(w, pos, L) END AS seg,
         |    pos + L AS pos
         |  FROM r$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |cnt AS MATERIALIZED (SELECT w, count(*) AS n FROM t GROUP BY 1),
       |top AS MATERIALIZED (
       |  SELECT w FROM cnt ORDER BY n DESC, w LIMIT $WpTopWords),
       |sv AS MATERIALIZED (SELECT list(DISTINCT p) AS l FROM (
       |  SELECT w AS p FROM top
       |  UNION SELECT substr(w, 1, 2) FROM top
       |  UNION SELECT substr(w, 1, 3) FROM top
       |  UNION SELECT unnest($chars))),
       |cv AS MATERIALIZED (SELECT list(DISTINCT p) AS l FROM (
       |  SELECT substr(w, greatest(length(w) - 1, 1), 2) AS p FROM top
       |  UNION SELECT substr(w, greatest(length(w) - 2, 1), 3) FROM top
       |  UNION SELECT unnest($chars))),
       |r1 AS (SELECT cnt.w, cnt.n, $startCase AS L FROM cnt, sv),
       |s1 AS MATERIALIZED (SELECT w, n, substr(w, 1, L) AS seg,
       |    1 + L AS pos FROM r1),
       |$rounds""".stripMargin
  }

  private def wordpieceOracle: String =
    s"""$wordpieceCtes
       |SELECT w AS word, n,
       |  CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_pieces, seg
       |FROM s$WpRounds ORDER BY word""".stripMargin

  /** Fertility oracle: the SAME wordpiece CTE chain, re-aggregated
    * per language. */
  private def fertilityOracle: String =
    s"""$wordpieceCtes,
       |lw AS (SELECT lang,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |pieces AS (SELECT w,
       |    CAST(len(string_split(seg, ' ')) AS BIGINT) AS np
       |  FROM s$WpRounds)
       |SELECT lang, count(*) AS n_words,
       |  CAST(sum(np) AS BIGINT) AS n_pieces,
       |  CAST(sum(np)::HUGEINT * 1000000 // count(*) AS BIGINT)
       |    AS fertility_ppm
       |FROM lw JOIN pieces USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // DuckDB oracle — the training loop runs a FIXED number of rounds, so
  // the iterative argmax is expressible as an unrolled CTE chain (the
  // same device as graph_pagerank's rank rounds and kmeans_step's Lloyd
  // CTE): per round, one pair-count argmax CTE (weight DESC, a ASC,
  // b ASC — the exact Spark tie-break) and one rewrite CTE. The greedy
  // LEFTMOST-NON-OVERLAPPING apply, a sequential fold on the Spark side,
  // is expressed positionally: a matching position is kept iff its run
  // of consecutive matches has odd length up to it (run length = i minus
  // the last non-match position), which is exactly "every other match in
  // a run, starting from the first" — the fold's fixpoint. CTEs are
  // MATERIALIZED so the 10-round chain evaluates linearly (each dict
  // round is referenced twice: by the next pick and the next rewrite).
  // ---------------------------------------------------------------------

  /** The unrolled-CTE prefix shared by both oracles: d0 = word-freq dict
    * with char+`</w>` symbol lists; per round n, pick m{n} then rewrite
    * d{n}. Verified bit-equal to an independent BPE implementation. */
  private def oracleCtes: String = {
    val d0 =
      """d0 AS MATERIALIZED (
        |  SELECT word,
        |    list_append([word[i] for i in generate_series(1, len(word))],
        |      '</w>') AS syms,
        |    count(*) AS freq
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |          AS word FROM documents)
        |  GROUP BY word)""".stripMargin
    val rounds = (1 to Merges).map { n =>
      val p = n - 1
      s"""m$n AS MATERIALIZED (
         |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS w FROM (
         |    SELECT unnest([struct_pack(a := syms[i], b := syms[i+1])
         |        for i in generate_series(1, len(syms)-1)],
         |      recursive := true), freq
         |    FROM d$p)
         |  GROUP BY a, b ORDER BY w DESC, a ASC, b ASC LIMIT 1),
         |e${n}a AS (
         |  SELECT word, freq, syms, m$n.a AS pa, m$n.b AS pb,
         |    [CASE WHEN syms[i] = m$n.a AND syms[i+1] = m$n.b
         |        THEN 1 ELSE 0 END
         |      for i in generate_series(1, len(syms)-1)] AS mm
         |  FROM d$p, m$n),
         |e${n}b AS (
         |  SELECT word, freq, syms, pa, pb, mm,
         |    [CASE WHEN mm[i] = 1 AND (i - coalesce(list_max(
         |          [j for j in generate_series(1, i) if mm[j] = 0]), 0))
         |        % 2 = 1 THEN 1 ELSE 0 END
         |      for i in generate_series(1, len(mm))] AS kk
         |  FROM e${n}a),
         |d$n AS MATERIALIZED (
         |  SELECT word, freq, list_filter(
         |    [CASE WHEN i <= len(kk) AND kk[i] = 1 THEN pa || pb
         |          WHEN i >= 2 AND kk[i-1] = 1 THEN NULL
         |          ELSE syms[i] END
         |      for i in generate_series(1, len(syms))],
         |    x -> x IS NOT NULL) AS syms
         |  FROM e${n}b)""".stripMargin
    }
    (d0 +: rounds).mkString("WITH ", ",\n", "")
  }

  private def trainOracle: String = {
    val picks = (1 to Merges).map(n =>
      s"""SELECT CAST($n AS BIGINT) AS rank, a AS "left", b AS "right",
         |  a || b AS merged, w AS weight FROM m$n""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"$oracleCtes\nSELECT * FROM (\n$picks\n) ORDER BY rank"
  }

  private def encodeOracle: String =
    s"""$oracleCtes
       |SELECT t.doc_id, CAST(sum(len(e.syms)) AS BIGINT) AS n_pieces,
       |  count(*) AS n_words
       |FROM (SELECT doc_id,
       |        unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
       |      FROM documents) t
       |JOIN d$Merges e USING (word)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "bpe_train" -> trainOracle,
    "bpe_encode" -> encodeOracle,
    "wordpiece_encode" -> wordpieceOracle,
    "viterbi_encode" -> viterbiOracle,
    "tokenizer_fertility" -> fertilityOracle)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_train" -> (bpeTrain _),
    "bpe_encode" -> (bpeEncode _),
    "wordpiece_encode" -> (wordpieceEncode _),
    "viterbi_encode" -> (viterbiEncode _),
    "tokenizer_fertility" -> (tokenizerFertility _)
  )
}
