package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted text index — the TEXT twin of [[IvfIndex]]'s
  * persisted vector index: build once, trust-reuse, partition-prune at
  * query time, append incrementally.
  *
  * Layout: `postings/` is (term, doc_id, tf) partitioned by `tb` =
  * hash(term) mod [[NBuckets]] — a query's terms map to ≤|terms|
  * buckets, so the scan PRUNES every other partition at file level
  * (the text analogue of probing nprobe inverted lists); `docstats/`
  * is (doc_id, dl); `meta/` is one row of corpus stats (n_docs,
  * sum_dl) doubling as the trust-check row counts. At 100 TB the
  * postings table is the index a search engine would shard by term —
  * same partitioning axis, expressed as parquet partitions.
  *
  * Query = [[TextAnalysis.bm25TopK]] over the pruned postings — ONE
  * shared definition of the ranking formula, so the scan path and the
  * index path cannot diverge (the gate pins them to the same oracle). */
object TextIndex {

  val NBuckets = 64

  /** Driver-side twin of the `tb` column (same md5-60 bit hash). */
  private def bucketLocal(term: String): Long =
    graft.expr.TextHash.hash60(term.getBytes("UTF-8")) % NBuckets

  private def tb = pmod(md5Hash60(col("term")), lit(NBuckets.toLong))

  /** Tokenization of the index: exact [a-z0-9]+ tokens, or the baked
    * ENGLISH ANALYZER (stop words + table stemmer, r17 — what Mongo's
    * text index does by default). The choice is a property of the
    * index DIRECTORY (the caller's scratch prefix carries it, the
    * bucket-count-in-table-name discipline): one dir, one tokenizer —
    * query terms must analyze with the same switch. */
  private def tokCol(text: org.apache.spark.sql.Column,
      analyzed: Boolean): org.apache.spark.sql.Column =
    if (analyzed) graft.functions.Stemmer.analyzeCol(text)
    else tokens(text)

  private def postingsOf(d: DataFrame,
      analyzed: Boolean = false): DataFrame = d
    .select(col("doc_id"), posexplode(tokCol(col("text"), analyzed))
      .as(Seq("pos", "term")))
    .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"),
      // token positions (r15): what phrase adjacency joins on.
      // sort_array pins collect_list's partition-order
      // nondeterminism — positions are ascending per (term, doc)
      sort_array(collect_list(col("pos"))).as("positions"))
    .withColumn("tb", tb)

  private def statsOf(d: DataFrame,
      analyzed: Boolean = false): DataFrame = d
    .select(col("doc_id"),
      size(tokCol(col("text"), analyzed)).cast("long").as("dl"))

  def build(s: SparkSession, d: DataFrame, outDir: String,
      analyzed: Boolean = false): String = {
    val posts = postingsOf(d, analyzed)
    posts.write.mode("overwrite").partitionBy("tb")
      .parquet(s"$outDir/postings")
    // vocab dictionary (r15): the fuzzy path's candidate source — a
    // full scan of THIS (vocab-sized, tiny next to postings) instead
    // of the postings table. Appends may duplicate terms; readers
    // dedup. Derivable from postings, so not in the trust arithmetic.
    posts.select("term").distinct()
      .write.mode("overwrite").parquet(s"$outDir/terms")
    statsOf(d, analyzed).write.mode("overwrite")
      .parquet(s"$outDir/docstats")
    writeMeta(s, outDir, analyzed)
    outDir
  }

  /** 1-row meta from what is ON DISK (build and append share it):
    * corpus stats for BM25 + the row counts the trust check expects +
    * the ANALYZER flag (r18): an index dir built with one tokenizer
    * must never be served under the other `analyzed` value — row
    * counts alone can't tell them apart, so the flag is part of the
    * trust identity and a mismatch rebuilds loudly in ensureBuilt. */
  private def writeMeta(s: SparkSession, outDir: String,
      analyzed: Boolean): Unit = {
    val nPost = s.read.parquet(s"$outDir/postings").count()
    s.read.parquet(s"$outDir/docstats")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("n_postings", lit(nPost))
      .withColumn("analyzed", lit(analyzed))
      .write.mode("overwrite").parquet(s"$outDir/meta")
  }

  /** Layout check (r15): a pre-r15 index has no `positions` column and
    * no `terms/` dictionary — phrase/fuzzy serving would silently
    * mis-serve on a mixed layout, so an old layout reads as untrusted
    * and the ensure ladders REBUILD (the same heal path as corrupt
    * storage). */
  def layoutCurrent(s: SparkSession, indexDir: String): Boolean =
    try s.read.parquet(s"$indexDir/postings").columns
      .contains("positions") &&
      new org.apache.hadoop.fs.Path(s"$indexDir/terms")
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(s"$indexDir/terms"))
    catch { case _: Exception => false }

  /** The storage trust check of an index at `indexDir`, the
    * [[IvfIndex.trusted]] contract for postings: current layout,
    * _SUCCESS markers with the exact row counts its meta records, the
    * analyzer flag matches (r18 — a pre-r18 meta without the flag reads
    * as untrusted and rebuilds, the same heal path as an old layout),
    * and it covers exactly `docs` documents (evaluated last). */
  def trusted(s: SparkSession, indexDir: String, docs: => Long,
      analyzed: Boolean = false): Boolean =
    layoutCurrent(s, indexDir) &&
      graft.core.Trust.parquetDir(s, s"$indexDir/meta", 1L) && {
        val m = s.read.parquet(s"$indexDir/meta").head()
        m.schema.fieldNames.contains("analyzed") &&
        m.getAs[Boolean]("analyzed") == analyzed &&
        graft.core.Trust.parquetDir(s, s"$indexDir/docstats",
          m.getAs[Long]("n_docs")) &&
        graft.core.Trust.parquetDir(s, s"$indexDir/postings",
          m.getAs[Long]("n_postings")) &&
        m.getAs[Long]("n_docs") == docs
      }

  /** [[build]] unless a trusted index of the same corpus already sits
    * at `outDir`. */
  def ensureBuilt(s: SparkSession, d: DataFrame, outDir: String,
      analyzed: Boolean = false): String =
    if (trusted(s, outDir, d.count(), analyzed)) outDir
    else build(s, d, outDir, analyzed)

  /** Incremental maintenance — [[IvfIndex.appendTailPq]]'s text twin:
    * tokenize ONLY the new docs, append their postings into the
    * partitioned buckets and their lengths into docstats, rewrite the
    * 1-row meta. O(tail); existing bucket files untouched. */
  def appendTail(s: SparkSession, tail: DataFrame, indexDir: String,
      analyzed: Boolean = false): Unit = {
    val posts = postingsOf(tail, analyzed)
    posts.write.mode("append").partitionBy("tb")
      .parquet(s"$indexDir/postings")
    posts.select("term").distinct()
      .write.mode("append").parquet(s"$indexDir/terms")
    statsOf(tail, analyzed).write.mode("append")
      .parquet(s"$indexDir/docstats")
    writeMeta(s, indexDir, analyzed)
  }

  /** OR-of-terms hits from the index — the `$text` predicate's serving
    * shape (r14): terms map to ≤|terms| buckets on the DRIVER, the
    * postings scan partition-prunes every other bucket, and the result
    * is one row per matching doc with the engine's deterministic
    * textScore surrogate (total occurrences of the distinct search
    * terms = Σ tf over matched terms — identical to the scan path's
    * surrogate, so both paths share one oracle). Deleted docs are NOT
    * filtered here: the caller's join-back to the live collection
    * drops them, exactly like the IVF probe path. */
  def termHits(s: SparkSession, indexDir: String, terms: Seq[String])
      : DataFrame = {
    val tbs = terms.map(bucketLocal).distinct
    s.read.parquet(s"$indexDir/postings")
      .filter(col("tb").isin(tbs: _*))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id").agg(sum(col("tf")).as("score"))
  }

  /** Resolve FUZZY query terms against the vocab dictionary (r15):
    * every indexed term within Levenshtein distance 1 of any query
    * term. One scan of the vocab-sized `terms/` sidecar (length
    * bracket prunes before the edit-distance compare), collected to
    * the driver — the resolved terms then serve partition-PRUNED like
    * exact terms, so the postings table itself is never scanned
    * unpruned. Loud on a pre-r15 index (no dictionary — rebuild). */
  def fuzzyResolve(s: SparkSession, indexDir: String,
      fuzzy: Seq[String]): Seq[String] = {
    if (fuzzy.isEmpty) return Nil
    require(layoutCurrent(s, indexDir),
      "text index predates fuzzy/phrase support — rebuild it " +
        "(buildTextIndex)")
    val vocab = s.read.parquet(s"$indexDir/terms").distinct()
    val lens = fuzzy.map(_.length)
    val bracket = vocab.filter(
      length(col("term")) >= lens.min - 1 &&
        length(col("term")) <= lens.max + 1)
    bracket.filter(fuzzy.map(f =>
        levenshtein(col("term"), lit(f)) <= 1).reduce(_ || _))
      .collect().map(_.getString(0)).toSeq.distinct
  }

  /** Docs containing the PHRASE (adjacent token run) — served from the
    * positions column (r15): each phrase term's postings are
    * partition-pruned by bucket, the legs equi-join on doc_id, and
    * adjacency is an array filter over the first term's positions
    * (∃ p: term_i occurs at p+i for all i). Returns one `doc_id` row
    * per matching doc. */
  def phraseDocs(s: SparkSession, indexDir: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    require(layoutCurrent(s, indexDir),
      "text index predates fuzzy/phrase support — rebuild it " +
        "(buildTextIndex)")
    val tbs = phrase.map(bucketLocal).distinct
    val posts = s.read.parquet(s"$indexDir/postings")
      .filter(col("tb").isin(tbs: _*))
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      posts.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"p$i"))
    }
    val joined = legs.reduce((a, b) => a.join(b, "doc_id"))
    if (phrase.size == 1) joined.select("doc_id")
    else joined.filter(size(filter(col("p0"), p =>
        (1 until phrase.size).map(i =>
          array_contains(col(s"p$i"), p + i)).reduce(_ && _))) > 0)
      .select("doc_id")
  }

  /** BM25 top-k over the index: terms → buckets (driver arithmetic) →
    * partition-pruned postings scan → pivot to tf_<term> columns →
    * the shared ranking tail. */
  def search(s: SparkSession, indexDir: String, terms: Seq[String],
      k: Int): DataFrame = {
    val tbs = terms.map(bucketLocal).distinct
    val posts = s.read.parquet(s"$indexDir/postings")
      .filter(col("tb").isin(tbs: _*))
      .filter(col("term").isin(terms: _*))
    val tf = posts.groupBy("doc_id")
      .agg(
        sum(when(col("term") === terms(0), col("tf")).otherwise(0L))
          .as(s"tf_${terms(0)}"),
        terms.drop(1).map(t =>
          sum(when(col("term") === t, col("tf")).otherwise(0L))
            .as(s"tf_$t")): _*)
    TextAnalysis.bm25TopK(tf,
      s.read.parquet(s"$indexDir/docstats"),
      s.read.parquet(s"$indexDir/meta").select("n_docs", "sum_dl"),
      terms, k)
  }

  /** Gate: the bm25_search query served from the persisted index —
    * same terms, same k, same oracle SQL as the scan path. */
  def searchIndexed(s: SparkSession, dir: String): DataFrame = {
    val d = Inputs.resplit(s, s.read.parquet(s"$dir/documents.parquet"))
      .select(col("doc_id"), col("text"))
    val idx = ensureBuilt(s, d, graft.core.Scratch.dir("textidx", dir))
    search(s, idx, Seq("hash", "join", "merge"), 15)
  }

  /** Gate: BM25 served from the ENGLISH-ANALYZED persisted index
    * (r17) — what Mongo's text index does by default (it stems):
    * inflected query terms ("hashes joining merges") analyze
    * driver-side to the same stems the postings hold, so document
    * occurrences of "hashing"/"joins"/"merged" score toward the
    * query; document length = analyzed (stop-filtered, stemmed)
    * token count, changing every BM25 factor vs the exact-token
    * gate. The oracle replays BM25 over the SAME analyzer rendered
    * to SQL from the one rule table. Separate scratch prefix: one
    * index dir, one tokenizer. */
  def searchStemmed(s: SparkSession, dir: String): DataFrame = {
    val d = Inputs.resplit(s, s.read.parquet(s"$dir/documents.parquet"))
      .select(col("doc_id"), col("text"))
    val idx = ensureBuilt(s, d,
      graft.core.Scratch.dir("textidxen", dir), analyzed = true)
    search(s, idx, graft.functions.Stemmer.analyzeTerms(
      Seq("hashes", "joining", "merges")), 15)
  }
}
