package kaerbench

import scala.util.Random

/** Zipf(s) sampler over ranks 0 until n (inverse CDF by binary search). */
final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** One generated document: its text and the metadata values the
  * benchmark keeps to evaluate every filter itself. `score` has four
  * decimals, so its JSON text parses back to the same double. */
final case class Doc(text: String, lang: String, source: String, n: Int,
    score: Double, tags: Vector[String]) {
  def metaJson: String =
    s"""{"lang":"$lang","source":"$source","n":$n,"score":$score,""" +
      tags.map(t => s""""$t"""").mkString(""""tags":[""", ",", "]}")
  def userBytes: Long =
    text.getBytes("UTF-8").length.toLong + metaJson.getBytes("UTF-8").length
}

/** An MQL filter next to the predicate it means, evaluated on the
  * generator's own values (never on what the store returns). */
final case class Filter(template: String, json: String, matches: Doc => Boolean)

/** Seeded inputs of every workload. Each stream (corpus, warm-up,
  * queries) draws from its own generator, so the warm-up input and the
  * timed input never share documents. */
final class Gen(seed: Long, stream: Int) {
  private val rnd = new Random(seed * 1000003L + stream)
  private val zipf = new Zipf(Gen.Vocab.length, 1.0, rnd)

  def words(n: Int): String =
    Iterator.fill(n)(Gen.Vocab(zipf.next())).mkString(" ")

  def text(minWords: Int, maxWords: Int): String =
    words(minWords + rnd.nextInt(maxWords - minWords + 1))

  def doc(minWords: Int, maxWords: Int): Doc = Doc(
    text(minWords, maxWords),
    Gen.Langs(rnd.nextInt(Gen.Langs.length)),
    Gen.Sources(rnd.nextInt(Gen.Sources.length)),
    rnd.nextInt(Gen.NRange),
    rnd.nextInt(10000) / 10000.0,
    Vector.fill(rnd.nextInt(4))(s"t${rnd.nextInt(Gen.NTags)}").distinct)

  /** Search-sized documents: 20 to 40 words. */
  def doc(): Doc = doc(20, 40)

  def query(): String = words(3 + rnd.nextInt(6))

  /** Template `i` of the five the query loops rotate through. */
  def filter(i: Int): Filter = i match {
    case 0 => Filter("none", null, _ => true)
    case 1 => // equality, about 20%
      val l = Gen.Langs(rnd.nextInt(Gen.Langs.length))
      Filter("eq", s"""{"lang": "$l"}""", _.lang == l)
    case 2 => // numeric range, about 1%
      val a = rnd.nextInt(Gen.NRange - Gen.NRange / 100)
      val b = a + Gen.NRange / 100
      Filter("range", s"""{"n": {"$$gte": $a, "$$lt": $b}}""",
        d => d.n >= a && d.n < b)
    case 3 => // $and + $in + array membership, about 3%
      val s1 = Gen.Sources(rnd.nextInt(Gen.Sources.length))
      val s2 = Gen.Sources(rnd.nextInt(Gen.Sources.length))
      val t = s"t${rnd.nextInt(Gen.NTags)}"
      Filter("and_in_tag",
        s"""{"$$and": [{"source": {"$$in": ["$s1", "$s2"]}}, """ +
          s"""{"tags": {"$$all": ["$t"]}}]}""",
        d => (d.source == s1 || d.source == s2) && d.tags.contains(t))
    case 4 => // $or + $regex, about 25%
      val p = Gen.Langs(rnd.nextInt(Gen.Langs.length)).take(1)
      val thr = 0.9 + rnd.nextInt(9) / 100.0
      val re = java.util.regex.Pattern.compile(s"^$p")
      Filter("or_regex",
        s"""{"$$or": [{"lang": {"$$regex": "^$p"}}, """ +
          s"""{"score": {"$$gt": $thr}}]}""",
        d => re.matcher(d.lang).find() || d.score > thr)
  }

  /** A filter over `n` matching `frac` of the documents (mutations). */
  def nSlice(frac: Double): Filter = {
    val w = (Gen.NRange * frac).toInt
    val a = rnd.nextInt(Gen.NRange - w)
    Filter("n_slice", s"""{"n": {"$$gte": $a, "$$lt": ${a + w}}}""",
      d => d.n >= a && d.n < a + w)
  }
}

object Gen {
  val Langs = Array("en", "de", "fr", "ja", "pt")
  val Sources = Array("web", "news", "forum", "wiki", "code", "books")
  val NTags = 20
  val NRange = 100000
  val NTemplates = 5

  /** 50k distinct lowercase words, fixed for every seed: the vocabulary
    * is part of the language, the seed picks the text. */
  val Vocab: Array[String] = {
    val r = new Random(7L)
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 50000) {
      val syl = 1 + r.nextInt(4)
      seen += (0 until syl).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}")
        .mkString
    }
    seen.toArray
  }
}

/** Brute-force reference top-k: the same double arithmetic and fold
  * order as the store's `l2`, ties broken by (distance, id). */
object Ref {
  def l2sq(a: Array[Float], q: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - q(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  def l2(a: Array[Float], q: Array[Float]): Double = math.sqrt(l2sq(a, q))

  /** Top-k (id, distance) over the ids `keep` accepts. */
  def topK(q: Array[Float], k: Int, ids: Iterable[Long],
      vec: Long => Array[Float], keep: Long => Boolean): Vector[(Long, Double)] = {
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
    ids.foreach { id =>
      if (keep(id)) {
        val d = l2(vec(id), q)
        if (heap.size < k) heap.enqueue((d, id))
        else if (ord.lt((d, id), heap.head)) { heap.dequeue(); heap.enqueue((d, id)) }
      }
    }
    heap.toVector.sorted(ord).map { case (d, id) => (id, d) }
  }
}
