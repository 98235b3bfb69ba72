package graft.core

/** User-facing engine configuration — parity with the reference's TOML
  * config surface (/root/reference/config/config.go:7-59): a defaults
  * struct, a parse-file-over-defaults loader, and the embedder
  * model→dimension map (config.go:59, `CohereModel2Dim`).
  *
  * What maps where: `persist_dir` keeps its meaning (collection storage
  * root); the Postgres/FerretDB connection block has no analogue (this
  * engine has no subprocesses — Catalyst replaces the delegated stack);
  * the HNSW block (m, ef_construction) becomes the IVF tuning pair
  * (nlist, nprobe) plus the KMeans iteration count, which are this
  * engine's equivalent index dials.
  *
  * Formats: java.util.Properties (`key = value` lines) and a TOML
  * subset (`*.toml` — the reference's actual format,
  * /root/reference/config/config.toml.example): comments, `[table]`
  * headers flattened to dotted keys, basic/literal strings, integers,
  * booleans. Both layer over the same defaults (reference ParseFrom
  * semantics). No extra dependencies either way.
  */
final case class GraftConfig(
    persistDir: String = "/tmp/graft-kaer",
    embedderModel: String = "hashing-md5-v1",
    embedDim: Int = 64,
    // remote embedding backend (the reference's [cohere] block,
    // config.go:59): when `embedEndpoint` is set the session boots the
    // HTTP batch transport against it; empty means the offline hashing
    // embedder. The endpoint is an explicit URL (never a hardwired
    // hosted service) so air-gapped deployments point it anywhere.
    embedEndpoint: String = "",
    embedApiKey: String = "",
    ivfNlist: Int = 16,
    ivfNprobe: Int = 4,
    kmeansIters: Int = 3,
    // embedding-LSH dedup selectivity dials: each of `dedupBands` band
    // spaces holds 2^bits buckets, so expected bucket size ≈ N / 2^bits —
    // the dial that keeps the in-bucket quadratic expansion bounded as
    // the corpus grows (see GraftConfig.autoBitsPerBand)
    dedupBitsPerBand: Int = 8,
    dedupBands: Int = 2,
    // text MinHash-LSH dials: signature length and band count (rows per
    // band = minhash_k / text_bands) — fewer rows per band raises
    // recall, more lowers candidate volume; the scale dial the text
    // dedup docs point at
    minhashK: Int = 12,
    textBands: Int = 4) {
  require(embedDim > 0 && ivfNlist > 0 && ivfNprobe > 0 && kmeansIters > 0 &&
    dedupBitsPerBand > 0 && dedupBands > 0 && minhashK > 0 && textBands > 0,
    "config values must be positive")
  require(dedupBitsPerBand <= 30, "dedup_bits_per_band must fit an int bucket")
  require(minhashK <= 64, "minhash_k capped at 64 signature rows")
  require(minhashK % textBands == 0,
    s"minhash_k ($minhashK) must divide evenly into text_bands ($textBands)")
}

object GraftConfig {

  /** Embedder model → vector dimension, the reference's CohereModel2Dim
    * (config.go:59) extended with the offline default model. Unknown
    * models fail loudly at session open (the reference instead panics
    * later with a dimension mismatch deep in the insert path). */
  val Model2Dim: Map[String, Int] = Map(
    "hashing-md5-v1" -> 64,
    "multilingual-22-12" -> 768,
    "small" -> 1024,
    "large" -> 4096)

  def dimFor(model: String): Int =
    Model2Dim.getOrElse(model,
      throw new IllegalArgumentException(
        s"unknown embedder model: $model (known: " +
          s"${Model2Dim.keys.toSeq.sorted.mkString(", ")})"))

  /** Defaults — the analogue of the reference's `defaultCfg`. */
  def default: GraftConfig = GraftConfig()

  /** A `graft.*` session-conf integer, the runtime layer over these
    * defaults, with the conf key named in the failure — a malformed
    * value ('8x') must fail as actionably as an out-of-range one, not
    * with a bare NumberFormatException. Range checks stay with the
    * caller. */
  private[graft] def confInt(s: org.apache.spark.sql.SparkSession,
      key: String): Option[Int] =
    s.conf.getOption(key).map { v =>
      try v.trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be an integer, got: '$v'")
      }
    }

  /** Bits-per-band sized to the corpus: with bucket count 2^bits per
    * band, expected bucket membership ≈ N / 2^bits, so holding buckets
    * near `targetBucket` needs bits ≥ log2(N / targetBucket). Floored at
    * the default 8 (the measured sweet spot for small corpora) — the
    * remedy for the measured failure mode where a fixed band space
    * saturates and bucket size grows linearly with the corpus.
    *
    * The target is 16, NOT the bucket-overflow cap: candidate-pair
    * volume is quadratic in bucket membership (Σ m²/2 per band), so the
    * target sets the verify bill directly — ~N·target/2 cosine checks
    * per band. The r14 sf10 measurements pin the curve on a 220k-row
    * corpus: membership ~860 (8 bits) = 492 s with 83 GB of spill;
    * membership ~13 (14 bits) = 6.8 s, zero spill, identical verified
    * output (exact copies collide at every dial). target=16 reproduces
    * the measured sweet spot (bits=14 at 220k) and keeps per-row verify
    * work constant as the corpus grows. */
  def autoBitsPerBand(corpusRows: Long, targetBucket: Long = 16L): Int = {
    require(targetBucket > 0, "targetBucket must be positive")
    // integer derivation of ceil(log2(N / target)): smallest b with
    // 2^b * target >= N. Exact at power-of-two boundaries, where the
    // floating-point log-ratio form could overshoot by one bit
    // (log returning 10.0000000000000002 for a true 10).
    val m = (math.max(corpusRows, 1L) + targetBucket - 1) / targetBucket
    val needed =
      if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(30, math.max(default.dedupBitsPerBand, needed))
  }

  /** Layer a config file over the defaults (reference ParseFrom
    * semantics: absent keys keep defaults; a missing file IS the
    * defaults). `*.toml` parses as a TOML subset (the reference's
    * format); anything else as java.util.Properties. Recognized keys:
    * persist_dir, embedder_model, embed_dim, embed_endpoint,
    * embed_api_key, ivf_nlist, ivf_nprobe,
    * kmeans_iters, dedup_bits_per_band, dedup_bands, minhash_k,
    * text_bands — flat, or under the TOML sections mapped by
    * [[tomlAliases]]. `embed_dim` defaults
    * to the model's map entry when a model is given without a
    * dimension. */
  def parseFrom(path: String): GraftConfig = {
    val f = new java.io.File(path)
    val kv: Map[String, String] =
      if (!f.isFile) Map.empty
      else if (path.endsWith(".toml"))
        resolveTomlKeys(parseToml(
          java.nio.file.Files.readString(f.toPath)))
      else {
        val p = new java.util.Properties()
        val in = new java.io.FileInputStream(f)
        try p.load(in) finally in.close()
        import scala.jdk.CollectionConverters._
        p.asScala.toMap
      }
    fromKeyValues(kv)
  }

  private def fromKeyValues(kv: Map[String, String]): GraftConfig = {
    val d = default
    def str(k: String, dv: String) = kv.getOrElse(k, dv)
    def int(k: String, dv: Int) = kv.get(k).map { v =>
      try v.trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"config key $k must be an integer, got: '$v'")
      }
    }.getOrElse(dv)
    val model = str("embedder_model", d.embedderModel)
    GraftConfig(
      persistDir = str("persist_dir", d.persistDir),
      embedderModel = model,
      embedDim = int("embed_dim",
        Model2Dim.getOrElse(model, d.embedDim)),
      embedEndpoint = str("embed_endpoint", d.embedEndpoint),
      embedApiKey = str("embed_api_key", d.embedApiKey),
      ivfNlist = int("ivf_nlist", d.ivfNlist),
      ivfNprobe = int("ivf_nprobe", d.ivfNprobe),
      kmeansIters = int("kmeans_iters", d.kmeansIters),
      dedupBitsPerBand = int("dedup_bits_per_band", d.dedupBitsPerBand),
      dedupBands = int("dedup_bands", d.dedupBands),
      minhashK = int("minhash_k", d.minhashK),
      textBands = int("text_bands", d.textBands))
  }

  /** TOML dotted key → flat config key. Sections follow the reference's
    * file shape where a mapping exists (`[db] persist_dir`,
    * `[cohere] model`) plus this engine's own dials under `[embed]`,
    * `[ivf]`, `[dedup]`. The reference's connection block
    * (postgres_*, ferretdb_*) and `[hnsw]` have no analogue here — no
    * subprocesses, and the IVF dials are a different index family — so
    * those keys are IGNORED (logged), not errors: the reference's own
    * config file parses cleanly. */
  private val tomlAliases: Map[String, String] = Map(
    "db.persist_dir" -> "persist_dir",
    "cohere.model" -> "embedder_model",
    "cohere.api_key" -> "embed_api_key",
    "cohere.endpoint" -> "embed_endpoint",
    "embed.model" -> "embedder_model",
    "embed.dim" -> "embed_dim",
    "embed.endpoint" -> "embed_endpoint",
    "embed.api_key" -> "embed_api_key",
    "ivf.nlist" -> "ivf_nlist",
    "ivf.nprobe" -> "ivf_nprobe",
    "ivf.kmeans_iters" -> "kmeans_iters",
    "dedup.bits_per_band" -> "dedup_bits_per_band",
    "dedup.bands" -> "dedup_bands",
    "dedup.minhash_k" -> "minhash_k",
    "dedup.text_bands" -> "text_bands")

  private val flatKeys: Set[String] = Set("persist_dir", "embedder_model",
    "embed_dim", "embed_endpoint", "embed_api_key",
    "ivf_nlist", "ivf_nprobe", "kmeans_iters",
    "dedup_bits_per_band", "dedup_bands", "minhash_k", "text_bands")

  private def resolveTomlKeys(raw: Map[String, String]): Map[String, String] = {
    val (known, unknown) = raw.partition { case (k, _) =>
      tomlAliases.contains(k) || flatKeys.contains(k) }
    if (unknown.nonEmpty) System.err.println(
      "[graft-config] ignoring unrecognized TOML keys: " +
        unknown.keys.toSeq.sorted.mkString(", "))
    known.map { case (k, v) => tomlAliases.getOrElse(k, k) -> v }
  }

  /** Minimal TOML-subset parser — the slice the reference's config file
    * actually uses (/root/reference/config/config.toml.example): `#`
    * comments, `[table]` headers (flattened to `table.key`), and
    * `key = value` with basic strings ("..", \\-escapes), literal
    * strings ('..'), integers, floats, and booleans. Arrays, dates,
    * inline tables, and multi-line strings are out of scope and fail
    * loudly rather than mis-parse. Values return as raw strings;
    * typing happens at the config-key layer. */
  private[core] def parseToml(text: String): Map[String, String] = {
    var section = ""
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for ((line0, i) <- text.linesIterator.zipWithIndex) {
      val line = stripTomlComment(line0).trim
      def fail(msg: String): Nothing = throw new IllegalArgumentException(
        s"TOML parse error at line ${i + 1}: $msg: '${line0.trim}'")
      if (line.nonEmpty) {
        if (line.startsWith("[")) {
          if (!line.endsWith("]") || line.startsWith("[["))
            fail("bad table header")
          section = line.substring(1, line.length - 1).trim
          if (section.isEmpty) fail("empty table name")
        } else line.indexOf('=') match {
          case -1 => fail("expected key = value")
          case eq =>
            val key = line.substring(0, eq).trim
            if (key.isEmpty) fail("empty key")
            val value = parseTomlValue(line.substring(eq + 1).trim,
              m => fail(m))
            val full = if (section.isEmpty) key else s"$section.$key"
            if (out.contains(full)) fail(s"duplicate key $full")
            out(full) = value
        }
      }
    }
    out.toMap
  }

  /** Strip a trailing `#` comment, honoring `#` inside quoted strings. */
  private def stripTomlComment(line: String): String = {
    var inB = false; var inL = false; var esc = false
    val sb = new StringBuilder
    var done = false
    for (c <- line if !done) {
      if (esc) { sb += c; esc = false }
      else c match {
        case '\\' if inB => sb += c; esc = true
        case '"' if !inL => inB = !inB; sb += c
        case '\'' if !inB => inL = !inL; sb += c
        case '#' if !inB && !inL => done = true
        case _ => sb += c
      }
    }
    sb.toString
  }

  private def parseTomlValue(v: String, fail: String => Nothing): String = {
    if (v.isEmpty) fail("empty value")
    else if (v.startsWith("\"")) {
      if (v.length < 2 || !v.endsWith("\"") || v.endsWith("\\\""))
        fail("unterminated basic string")
      val body = v.substring(1, v.length - 1)
      val sb = new StringBuilder; var i = 0
      while (i < body.length) {
        val c = body(i)
        if (c == '"') fail("stray quote inside basic string")
        else if (c == '\\') {
          if (i + 1 >= body.length) fail("dangling escape")
          body(i + 1) match {
            case '"' => sb += '"'
            case '\\' => sb += '\\'
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case other => fail(s"unsupported escape \\$other")
          }
          i += 2
        } else { sb += c; i += 1 }
      }
      sb.toString
    } else if (v.startsWith("'")) {
      if (v.length < 2 || !v.endsWith("'") ||
          v.substring(1, v.length - 1).contains("'"))
        fail("bad literal string")
      v.substring(1, v.length - 1)
    } else if (v == "true" || v == "false") v
    else if (v.matches("[+-]?[0-9](_?[0-9])*")) v.replace("_", "")
    else if (v.matches("[+-]?[0-9](_?[0-9])*\\.[0-9](_?[0-9])*"))
      v.replace("_", "")
    else fail(s"unsupported TOML value (arrays/dates/inline tables " +
      "are out of scope)")
  }
}
