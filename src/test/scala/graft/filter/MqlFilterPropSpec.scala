package graft.filter

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests: random MQL predicates evaluated by the Catalyst
  * translation must agree with a direct in-memory evaluation over a
  * fixed corpus of JSON metadata rows — the SURVEY §5 fuzz contract.
  * One generator covers the comparison/membership/logical operator core
  * over int-valued fields (the type-bracketing hot zone). Each predicate
  * also selects the same rows through the stored-VARIANT binding
  * ([[MetaForms]]).
  */
class MqlFilterPropSpec extends SparkTestBase with MetaForms {
  import spark.implicits._
  import MqlFilterPropSpec._

  // 48 docs: k in 0..19, some with a second field, some missing k, and
  // 8 docs with k in the 2^53 neighborhood
  private val corpus: Seq[(Long, String)] = (0L until 40L).map { i =>
    val json =
      if (i % 10 == 9) """{"other": "x"}"""
      else if (i % 3 == 0) s"""{"k": ${i % 20}, "tag": "t${i % 4}"}"""
      else s"""{"k": ${i % 20}}"""
    (i, json)
  } ++ (40L until 48L).map { i =>
    (i, s"""{"k": ${Big + (i % 4) - 1}}""")
  }

  private lazy val df = corpus.toDF("id", "meta").cache()

  /** In-memory model of the corpus: id → (Option[k], Option[tag]). */
  private val model: Map[Long, (Option[Long], Option[String])] =
    corpus.map { case (i, j) =>
      val mk = "\"k\": (\\d+)".r.findFirstMatchIn(j).map(_.group(1).toLong)
      val mt = "\"tag\": \"(t\\d)\"".r.findFirstMatchIn(j).map(_.group(1))
      (i, (mk, mt))
    }.toMap

  test("random MQL predicates: Catalyst translation == in-memory model") {
    val prop = Prop.forAll(Gen.oneOf(genPred, genLeaf)) { p =>
      val got = selectIds(df, p.json).toSet
      val want = model.collect {
        case (id, doc) if p.eval(doc) => id
      }.toSet
      if (got != want)
        println(s"MISMATCH ${p.json}: got=$got want=$want")
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- $expr arithmetic fuzz -----------------------------------------
  // Model of the documented $expr semantics: numeric views are doubles
  // (so the 2^53 neighborhood COLLAPSES — unlike the int64-exact $match
  // path above), a missing/null operand makes every comparison false
  // (two-valued collapse), $not flips through the collapse (null → true).

  sealed trait E {
    def json: String
    def eval(k: Option[Long]): Option[Double]
  }
  case class ELit(v: Long) extends E {
    def json = v.toString
    def eval(k: Option[Long]) = Some(v.toDouble)
  }
  case object ERef extends E {
    def json = "\"$k\""
    def eval(k: Option[Long]) = k.map(_.toDouble)
  }
  case class EBin(op: String, a: E, b: E) extends E {
    def json = s"""{"$$$op": [${a.json}, ${b.json}]}"""
    def eval(k: Option[Long]) = for { x <- a.eval(k); y <- b.eval(k) }
      yield op match {
        case "add" => x + y
        case "subtract" => x - y
        case "multiply" => x * y
        case "divide" => x / y // divisor generator excludes 0
      }
  }
  case class EIfNull(a: E, v: Long) extends E {
    def json = s"""{"$$ifNull": [${a.json}, $v]}"""
    def eval(k: Option[Long]) = a.eval(k).orElse(Some(v.toDouble))
  }

  sealed trait B { // boolean $expr node
    def json: String
    def eval(k: Option[Long]): Boolean
  }
  case class BCmp(op: String, a: E, b: E) extends B {
    def json = s"""{"$$$op": [${a.json}, ${b.json}]}"""
    def eval(k: Option[Long]) = (a.eval(k), b.eval(k)) match {
      case (Some(x), Some(y)) => op match {
        case "eq" => x == y; case "ne" => x != y
        case "gt" => x > y; case "gte" => x >= y
        case "lt" => x < y; case "lte" => x <= y
      }
      case _ => false // two-valued collapse
    }
  }
  case class BLogic(op: String, cs: Seq[B]) extends B {
    def json = s"""{"$$$op": [${cs.map(_.json).mkString(",")}]}"""
    def eval(k: Option[Long]) = op match {
      case "and" => cs.forall(_.eval(k))
      case "or" => cs.exists(_.eval(k))
    }
  }
  case class BNot(c: B) extends B {
    def json = s"""{"$$not": [${c.json}]}"""
    def eval(k: Option[Long]) = !c.eval(k)
  }

  private val genE: Gen[E] = {
    val leaf = Gen.oneOf[E](
      Gen.oneOf(Gen.choose(-3L, 25L), Gen.choose(Big - 2, Big + 3))
        .map(ELit),
      Gen.const(ERef),
      Gen.choose(-3L, 25L).map(v => EIfNull(ERef, v)))
    val bin = for {
      op <- Gen.oneOf("add", "subtract", "multiply")
      a <- leaf; b <- leaf
    } yield EBin(op, a, b): E
    val div = for { // nonzero literal divisor only
      a <- leaf; d <- Gen.oneOf(2L, 3L, 5L, 7L)
    } yield EBin("divide", a, ELit(d)): E
    Gen.oneOf(leaf, bin, div)
  }

  private val genBCmp: Gen[B] = for {
    op <- Gen.oneOf("eq", "ne", "gt", "gte", "lt", "lte")
    a <- genE; b <- genE
  } yield BCmp(op, a, b)

  private val genB: Gen[B] = Gen.oneOf(
    genBCmp,
    genBCmp.map(BNot),
    for {
      op <- Gen.oneOf("and", "or")
      n <- Gen.choose(1, 3)
      cs <- Gen.listOfN(n, genBCmp)
    } yield BLogic(op, cs))

  test("random $expr predicates: Catalyst translation == double-math " +
      "model with two-valued collapse") {
    val prop = Prop.forAll(genB) { b =>
      val json = s"""{"$$expr": ${b.json}}"""
      val got = selectIds(df, json).toSet
      val want = model.collect {
        case (id, (k, _)) if b.eval(k) => id
      }.toSet
      if (got != want)
        println(s"MISMATCH $json: got=$got want=$want")
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }
}

/** The random MQL predicates of [[MqlFilterPropSpec]], with their
  * in-memory model over documents `{k: <long>, tag: <string>}` (either
  * field may be missing): shared with the collection specs, which run
  * the same predicates through both query paths. */
object MqlFilterPropSpec {
  // 2^53: the first long a double cannot distinguish from its neighbor —
  // the int64-exactness hot zone (comparisons here MUST go through the
  // long view, a double would collapse BIG and BIG+1)
  val Big = 9007199254740992L

  sealed trait P {
    def json: String
    def eval(d: (Option[Long], Option[String])): Boolean
  }
  case class Cmp(op: String, v: Long) extends P {
    def json = s"""{"k": {"$$$op": $v}}"""
    def eval(d: (Option[Long], Option[String])) = { val k = d._1; k.exists { kk =>
      op match {
        case "eq" => kk == v; case "ne" => kk != v
        case "gt" => kk > v; case "gte" => kk >= v
        case "lt" => kk < v; case "lte" => kk <= v
      }
    } || (op == "ne" && k.isEmpty) } // MQL: $ne matches missing fields
  }
  case class In(vs: Seq[Long], neg: Boolean) extends P {
    def json =
      s"""{"k": {"${if (neg) "$nin" else "$in"}": [${vs.mkString(",")}]}}"""
    def eval(d: (Option[Long], Option[String])) =
      if (neg) !d._1.exists(vs.contains) // $nin matches missing too
      else d._1.exists(vs.contains)
  }
  case class Logic(op: String, cs: Seq[P]) extends P {
    def json = s"""{"$$$op": [${cs.map(_.json).mkString(",")}]}"""
    def eval(d: (Option[Long], Option[String])) = op match {
      case "and" => cs.forall(_.eval(d))
      case "or"  => cs.exists(_.eval(d))
      case "nor" => !cs.exists(_.eval(d))
    }
  }
  case class Exists(want: Boolean) extends P {
    def json = s"""{"k": {"$$exists": $want}}"""
    def eval(d: (Option[Long], Option[String])) = d._1.isDefined == want
  }
  case class TagEq(v: String) extends P {
    def json = s"""{"tag": "$v"}"""
    def eval(d: (Option[Long], Option[String])) = d._2.contains(v)
  }
  case class TagRegex(prefixDigit: Int, ci: Boolean) extends P {
    def json =
      if (ci) s"""{"tag": {"$$regex": "^T$prefixDigit", "$$options": "i"}}"""
      else s"""{"tag": {"$$regex": "^t$prefixDigit"}}"""
    def eval(d: (Option[Long], Option[String])) =
      d._2.exists(_.startsWith(s"t$prefixDigit"))
  }
  case class TagExists(want: Boolean) extends P {
    def json = s"""{"tag": {"$$exists": $want}}"""
    def eval(d: (Option[Long], Option[String])) = d._2.isDefined == want
  }
  case class Mod(m: Long, r: Long) extends P {
    def json = s"""{"k": {"$$mod": [$m, $r]}}"""
    def eval(d: (Option[Long], Option[String])) = d._1.exists(_ % m == r)
  }
  case class Bits(op: String, mask: Long, asPositions: Boolean) extends P {
    def json =
      if (asPositions) {
        val ps = (0 to 63).filter(b => (mask & (1L << b)) != 0L)
        s"""{"k": {"$$$op": [${ps.mkString(",")}]}}"""
      } else s"""{"k": {"$$$op": $mask}}"""
    def eval(d: (Option[Long], Option[String])) = d._1.exists { kk =>
      op match {
        case "bitsAllSet" => (kk & mask) == mask
        case "bitsAllClear" => (kk & mask) == 0L
        case "bitsAnySet" => (kk & mask) != 0L
        case "bitsAnyClear" => (kk & mask) != mask
      }
    }
  }

  private val genCmp: Gen[P] = for {
    op <- Gen.oneOf("eq", "ne", "gt", "gte", "lt", "lte")
    // half the literals land in the 2^53 neighborhood where only an
    // exact long comparison distinguishes adjacent values
    v <- Gen.oneOf(Gen.choose(-2L, 21L), Gen.choose(Big - 2, Big + 3))
  } yield Cmp(op, v)

  private val genIn: Gen[P] = for {
    vs <- Gen.nonEmptyListOf(Gen.oneOf(
      Gen.choose(0L, 20L), Gen.choose(Big - 1, Big + 2)))
      .map(_.distinct.take(5))
    neg <- Gen.oneOf(true, false)
  } yield In(vs, neg)

  private val genMod: Gen[P] = for {
    d <- Gen.choose(1L, 9L)
    r <- Gen.choose(0L, d - 1)
  } yield Mod(d, r)

  private val genTag: Gen[P] = Gen.oneOf(
    Gen.choose(0, 4).map(i => TagEq(s"t$i")),
    for { i <- Gen.choose(0, 4); ci <- Gen.oneOf(true, false) }
      yield TagRegex(i, ci),
    Gen.oneOf(true, false).map(TagExists))

  private val genBits: Gen[P] = for {
    op <- Gen.oneOf("bitsAllSet", "bitsAllClear", "bitsAnySet",
      "bitsAnyClear")
    // small masks exercise k∈0..19; the 2^53 bit exercises the int64
    // neighborhood where a double view would alias adjacent values
    mask <- Gen.oneOf(Gen.choose(1L, 31L),
      Gen.choose(1L, 7L).map(_ | (1L << 53)))
    asPos <- Gen.oneOf(true, false)
  } yield Bits(op, mask, asPos)

  val genLeaf: Gen[P] =
    Gen.oneOf(genCmp, genIn, genMod, genTag, genBits,
      Gen.oneOf(true, false).map(Exists))

  val genPred: Gen[P] = for {
    op <- Gen.oneOf("and", "or", "nor")
    n <- Gen.choose(1, 3)
    cs <- Gen.listOfN(n, genLeaf)
  } yield Logic(op, cs)
}
