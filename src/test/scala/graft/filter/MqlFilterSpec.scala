package graft.filter

import graft.SparkTestBase
import org.apache.spark.sql.functions.col

/** Operator-by-operator spec of the MQL → Catalyst translator, including
  * MQL type bracketing (numbers never match strings), missing-field
  * semantics, and the field-level $not. Every selection runs through
  * both metadata bindings — the per-row JSON parse and the stored
  * VARIANT — and asserts they agree ([[MetaForms]]). */
class MqlFilterSpec extends SparkTestBase with MetaForms {
  import spark.implicits._

  // id → metadata JSON
  private val rows = Seq(
    (1L, """{"a": 1, "s": "x", "b": true, "arr": ["p", "q"], "n": null}"""),
    (2L, """{"a": 2.5, "s": "y", "arr": ["q", "r", "s"]}"""),
    (3L, """{"a": "5"}"""),
    (4L, """{}"""),
    (5L, """{"a": 5}""")
  )
  private lazy val df = rows.toDF("id", "meta")

  private def ids(filterJson: String): Seq[Long] =
    selectIds(df, filterJson)

  test("implicit equality") { assert(ids("""{"a": 1}""") == Seq(1L)) }
  test("$eq") { assert(ids("""{"a": {"$eq": 1}}""") == Seq(1L)) }

  test("type bracketing: number literal never matches string value") {
    assert(ids("""{"a": {"$eq": 5}}""") == Seq(5L)) // not row 3 ("5")
    assert(ids("""{"a": {"$eq": "5"}}""") == Seq(3L))
  }

  test("numbers compare across int/double (MQL bracketing)") {
    assert(ids("""{"a": {"$gt": 1}}""") == Seq(2L, 5L))
    assert(ids("""{"a": {"$lte": 2.5}}""") == Seq(1L, 2L))
    assert(ids("""{"a": {"$gte": 1, "$lt": 5}}""") == Seq(1L, 2L))
  }

  test("$ne matches missing and differently-typed fields") {
    assert(ids("""{"a": {"$ne": 1}}""") == Seq(2L, 3L, 4L, 5L))
  }

  test("$in / $nin") {
    assert(ids("""{"s": {"$in": ["x", "z"]}}""") == Seq(1L))
    assert(ids("""{"s": {"$nin": ["x"]}}""") == Seq(2L, 3L, 4L, 5L))
  }

  test("$and / $or / $nor") {
    assert(ids("""{"$or": [{"a": 1}, {"s": "y"}]}""") == Seq(1L, 2L))
    assert(ids("""{"$and": [{"a": {"$gte": 1}}, {"a": {"$lt": 3}}]}""")
      == Seq(1L, 2L))
    assert(ids("""{"$nor": [{"a": {"$gte": 1}}, {"s": "y"}]}""")
      == Seq(3L, 4L))
  }

  test("field-level $not (MQL form)") {
    assert(ids("""{"a": {"$not": {"$gt": 1}}}""") == Seq(1L, 3L, 4L))
  }

  test("$mod: divisor/remainder, numeric bracketing, missing excluded") {
    assert(ids("""{"a": {"$mod": [2, 1]}}""") == Seq(1L, 5L)) // 1%2=1, 5%2=1
    assert(ids("""{"a": {"$mod": [2, 0]}}""") == Seq()) // 2.5%2=0.5; "5"/{} not numeric
    assert(ids("""{"a": {"$mod": [2.5, 0]}}""") == Seq(2L, 5L)) // 2.5%2.5=0, 5%2.5=0
    intercept[IllegalArgumentException] {
      ids("""{"a": {"$mod": [2]}}""")
    }
  }

  test("top-level $not is invalid MQL and rejected") {
    intercept[IllegalArgumentException] { ids("""{"$not": {"a": 1}}""") }
  }

  test("$exists") {
    assert(ids("""{"a": {"$exists": true}}""") == Seq(1L, 2L, 3L, 5L))
    assert(ids("""{"a": {"$exists": false}}""") == Seq(4L))
  }

  test("$type") {
    assert(ids("""{"a": {"$type": "string"}}""") == Seq(3L))
    assert(ids("""{"a": {"$type": "long"}}""") == Seq(1L, 5L))
    assert(ids("""{"a": {"$type": "double"}}""") == Seq(2L))
    assert(ids("""{"b": {"$type": "bool"}}""") == Seq(1L))
    assert(ids("""{"arr": {"$type": "array"}}""") == Seq(1L, 2L))
  }

  test("$regex") { assert(ids("""{"s": {"$regex": "^x"}}""") == Seq(1L)) }

  test("array ops: $all / $size / $elemMatch") {
    assert(ids("""{"arr": {"$all": ["q"]}}""") == Seq(1L, 2L))
    assert(ids("""{"arr": {"$all": ["p", "r"]}}""") == Seq.empty)
    assert(ids("""{"arr": {"$size": 2}}""") == Seq(1L))
    assert(ids("""{"arr": {"$elemMatch": {"$eq": "r"}}}""") == Seq(2L))
  }

  test("null literal matches explicit null AND missing (MQL semantics)") {
    assert(ids("""{"n": null}""") == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("empty filter {} matches everything") {
    assert(ids("{}") == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("$regex with $options flags (case-insensitive, and under $not)") {
    assert(ids("""{"s": {"$regex": "^X$", "$options": "i"}}""") == Seq(1L))
    assert(ids("""{"s": {"$regex": "^X$"}}""") == Seq()) // flagless: no match
    assert(ids("""{"s": {"$not": {"$regex": "^x", "$options": "i"}}}""")
      == Seq(2L, 3L, 4L, 5L))
    intercept[IllegalArgumentException] { // $options without $regex
      ids("""{"s": {"$options": "i"}}""")
    }
    intercept[IllegalArgumentException] { // unknown flag
      ids("""{"s": {"$regex": "x", "$options": "z"}}""")
    }
  }

  test("$bits*: masks, position arrays, whole-double participation, " +
      "loud malformed operands") {
    // a=1 → bits {0}; a=5 → bits {0,2}; 2.5 (fractional), "5" (string)
    // and missing never match
    assert(ids("""{"a": {"$bitsAllSet": [0]}}""") == Seq(1L, 5L))
    assert(ids("""{"a": {"$bitsAllSet": 5}}""") == Seq(5L))
    assert(ids("""{"a": {"$bitsAllClear": 2}}""") == Seq(1L, 5L))
    assert(ids("""{"a": {"$bitsAnySet": [1, 2]}}""") == Seq(5L))
    assert(ids("""{"a": {"$bitsAnyClear": [0, 2]}}""") == Seq(1L))
    // whole doubles have bits (Mongo); fractional values never match
    val d2 = Seq((1L, """{"a": 6.0}"""), (2L, """{"a": 6.5}"""))
      .toDF("id", "meta")
    assert(selectIds(d2, """{"a": {"$bitsAllSet": [1, 2]}}""") == Seq(1L))
    intercept[IllegalArgumentException] {
      ids("""{"a": {"$bitsAllSet": [64]}}""") }
    intercept[IllegalArgumentException] {
      ids("""{"a": {"$bitsAllSet": -3}}""") }
    intercept[IllegalArgumentException] {
      ids("""{"a": {"$bitsAnySet": []}}""") }
  }

  test("unsupported operator raises") {
    intercept[IllegalArgumentException] { ids("""{"a": {"$where": "x"}}""") }
  }

  // embedded-document $elemMatch: array-of-objects metadata
  private val docRows = Seq(
    (1L, """{"items": [{"k": "a", "n": 1}, {"k": "b", "n": 9}]}"""),
    (2L, """{"items": [{"k": "a", "n": 8}]}"""),
    (3L, """{"items": [{"k": "b", "n": 1}, {"k": "c"}]}"""),
    (4L, """{"items": []}"""),
    (5L, """{"items": "not-an-array"}"""),
    (6L, """{}""")
  )
  private lazy val docDf = docRows.toDF("id", "meta")
  private def docIds(filterJson: String): Seq[Long] =
    selectIds(docDf, filterJson)

  test("embedded $elemMatch: one element must satisfy the WHOLE sub-filter") {
    // k=a AND n>5 must hold on the SAME element: row 1 has k=a(n=1) and
    // n=9(k=b) but never together — only row 2 matches
    assert(docIds("""{"items": {"$elemMatch":
      {"k": "a", "n": {"$gt": 5}}}}""") == Seq(2L))
    assert(docIds("""{"items": {"$elemMatch": {"k": "b"}}}""")
      == Seq(1L, 3L))
    assert(docIds("""{"items": {"$elemMatch": {"n": {"$gte": 9}}}}""")
      == Seq(1L))
  }

  // int64 exactness: 2^53 = 9007199254740992 is the first long a double
  // cannot distinguish from its successor
  private val bigRows = Seq(
    (1L, """{"id64": 9007199254740992}"""),
    (2L, """{"id64": 9007199254740993}"""),
    (3L, """{"id64": 9007199254740994}"""),
    (4L, """{"id64": 2.0}"""),
    (5L, """{"id64": 2}""")
  )
  private lazy val bigDf = bigRows.toDF("id", "meta")
  private def bigIds(filterJson: String): Seq[Long] =
    selectIds(bigDf, filterJson)

  test("int64-exact: $eq/$ne/$lt at 2^53+1 do not round through double") {
    assert(bigIds("""{"id64": 9007199254740993}""") == Seq(2L))
    assert(bigIds("""{"id64": {"$ne": 9007199254740993}}""")
      == Seq(1L, 3L, 4L, 5L))
    assert(bigIds("""{"id64": {"$gt": 9007199254740992}}""") == Seq(2L, 3L))
    assert(bigIds("""{"id64": {"$lte": 9007199254740993}}""")
      == Seq(1L, 2L, 4L, 5L))
    assert(bigIds("""{"id64": {"$in": [9007199254740993, 2]}}""")
      == Seq(2L, 4L, 5L))
    // $mod stays exact past 2^53: 9007199254740993 % 7 == 5 exactly,
    // while the double path would compute 4 — the wrong-answer case
    assert(bigIds("""{"id64": {"$mod": [7, 5]}}""") == Seq(2L))
    // 2^53 % 7 == 4: only row 1 — the double path would also pull in
    // row 2 (2^53+1 collapses onto 2^53 as a double)
    assert(bigIds("""{"id64": {"$mod": [7, 4]}}""") == Seq(1L))
  }

  test("int64 brackets with doubles: integral literal matches 2.0") {
    assert(bigIds("""{"id64": 2}""") == Seq(4L, 5L))
    assert(bigIds("""{"id64": 2.0}""") == Seq(4L, 5L))
  }

  // dates: ISO-8601 strings in metadata, {"$date": ...} literals in the
  // filter (Mongo extended JSON — the form FerretDB accepts)
  private val dateRows = Seq(
    (1L, """{"created": "2024-01-15T10:00:00"}"""),
    (2L, """{"created": "2024-06-01T00:00:00"}"""),
    (3L, """{"created": "2023-12-31T23:59:59"}"""),
    (4L, """{"created": 20240115}"""),
    (5L, """{"created": "not a date"}"""),
    (6L, """{}""")
  )
  private lazy val dateDf = dateRows.toDF("id", "meta")
  private def dateIds(filterJson: String): Seq[Long] =
    selectIds(dateDf, filterJson)

  test("$date literals: range compare as TIMESTAMP over ISO strings") {
    assert(dateIds(
      """{"created": {"$gte": {"$date": "2024-01-01T00:00:00"}}}""")
      == Seq(1L, 2L))
    assert(dateIds(
      """{"created": {"$gte": {"$date": "2024-01-01T00:00:00"},
        |             "$lt": {"$date": "2024-02-01T00:00:00"}}}""".stripMargin)
      == Seq(1L))
    assert(dateIds(
      """{"created": {"$date": "2024-06-01T00:00:00"}}""") == Seq(2L))
  }

  test("$date bracketing: numbers and unparseable strings never match") {
    // row 4 (number 20240115) and row 5 ("not a date") must not match a
    // $date predicate in either direction
    assert(dateIds(
      """{"created": {"$lt": {"$date": "2099-01-01T00:00:00"}}}""")
      == Seq(1L, 2L, 3L))
    // and a $date literal never matches through the numeric view
    assert(dateIds("""{"created": {"$gte": 0}}""") == Seq(4L))
  }

  // numeric arrays: $all/$size/$elemMatch bracket per element
  private val numArrRows = Seq(
    (1L, """{"xs": [1, 2, 3]}"""),
    (2L, """{"xs": [1.0, 2.5]}"""),
    (3L, """{"xs": ["1", "2"]}"""),
    (4L, """{"xs": [9007199254740993]}"""),
    (5L, """{"xs": []}""")
  )
  private lazy val numArrDf = numArrRows.toDF("id", "meta")
  private def numArrIds(filterJson: String): Seq[Long] =
    selectIds(numArrDf, filterJson)

  test("numeric $all brackets per element: 1 matches 1 and 1.0, not \"1\"") {
    assert(numArrIds("""{"xs": {"$all": [1]}}""") == Seq(1L, 2L))
    assert(numArrIds("""{"xs": {"$all": [1, 2]}}""") == Seq(1L))
    assert(numArrIds("""{"xs": {"$all": ["1"]}}""") == Seq(3L))
    // exact past 2^53 inside arrays too
    assert(numArrIds("""{"xs": {"$all": [9007199254740993]}}""") == Seq(4L))
    assert(numArrIds("""{"xs": {"$all": [9007199254740992]}}""") == Seq())
  }

  test("numeric $size / $elemMatch bracketing") {
    assert(numArrIds("""{"xs": {"$size": 2}}""") == Seq(2L, 3L))
    assert(numArrIds("""{"xs": {"$size": 0}}""") == Seq(5L))
    assert(numArrIds("""{"xs": {"$elemMatch": {"$gt": 2}}}""")
      == Seq(1L, 2L, 4L))
    // string "2" does not satisfy a numeric $gte
    assert(numArrIds("""{"xs": {"$elemMatch": {"$gte": 2}}}""")
      == Seq(1L, 2L, 4L))
    assert(numArrIds("""{"xs": {"$elemMatch": {"$eq": "2"}}}""") == Seq(3L))
  }

  test("embedded $elemMatch: nested operators, missing fields, non-arrays") {
    // $in + range on the same element
    assert(docIds("""{"items": {"$elemMatch":
      {"k": {"$in": ["b", "c"]}, "n": {"$lt": 5}}}}""") == Seq(3L))
    // element-level $exists: row 3's second element has no n
    assert(docIds("""{"items": {"$elemMatch":
      {"n": {"$exists": false}}}}""") == Seq(3L))
    // empty arrays, non-arrays and missing fields never match
    assert(docIds("""{"items": {"$elemMatch": {"k": {"$exists": true}}}}""")
      == Seq(1L, 2L, 3L))
  }

  test("$expr: arithmetic comparison over field refs") {
    // a > (a * 0.5) + 1  ⇒  a > 2 for numeric a; string/missing a → false
    assert(ids("""{"$expr": {"$gt": ["$a",
      {"$add": [{"$multiply": ["$a", 0.5]}, 1]}]}}""") == Seq(2L, 5L))
    // computed both sides: a−1 ≤ a/2 ⇔ a ≤ 2 (numeric a only)
    assert(ids("""{"$expr": {"$lte": [{"$subtract": ["$a", 1]},
      {"$divide": ["$a", 2]}]}}""") == Seq(1L))
  }

  test("$expr: string-shaped operand routes the compare to string views") {
    // "$s" vs literal: row 3's numeric-string a is NOT matched by $eq on s
    assert(ids("""{"$expr": {"$eq": ["$s", "x"]}}""") == Seq(1L))
    assert(ids("""{"$expr": {"$eq": [{"$toUpper": "$s"}, "Y"]}}""")
      == Seq(2L))
    // $concat of refs and literals
    assert(ids("""{"$expr": {"$eq": [{"$concat": ["$s", "!"]}, "x!"]}}""")
      == Seq(1L))
  }

  test("$expr: logical combinators and two-valued collapse") {
    assert(ids("""{"$expr": {"$and": [{"$gte": ["$a", 1]},
      {"$lt": ["$a", 5]}]}}""") == Seq(1L, 2L))
    assert(ids("""{"$expr": {"$or": [{"$eq": ["$s", "y"]},
      {"$gt": ["$a", 4]}]}}""") == Seq(2L, 5L))
    // $not over a null comparison (missing field) is TRUE — two-valued
    assert(ids("""{"$expr": {"$not": [{"$gt": ["$a", 0]}]}}""")
      == Seq(3L, 4L))
    // $expr composes with ordinary field predicates in the same filter
    assert(ids("""{"s": {"$exists": true},
      "$expr": {"$gt": ["$a", 1]}}""") == Seq(2L))
  }

  test("$expr: $cond and $ifNull compose inside comparisons") {
    // cap a at 2 via $cond, then compare: min(a,2) >= 2 ⇔ a >= 2
    assert(ids("""{"$expr": {"$gte": [
      {"$cond": [{"$gt": ["$a", 2]}, 2, "$a"]}, 2]}}""") == Seq(2L, 5L))
    // $ifNull defaults the missing/string-typed a to 99
    assert(ids("""{"$expr": {"$eq": [{"$ifNull": ["$a", 99]}, 99]}}""")
      == Seq(3L, 4L))
  }

  test("$expr: bracketing — numeric view of a string field is null") {
    // row 3: a = "5" (string) — numeric $expr comparisons never match
    assert(ids("""{"$expr": {"$eq": ["$a", 5]}}""") == Seq(5L))
    assert(ids("""{"$expr": {"$gte": [{"$toLong": "$a"}, 5]}}""")
      == Seq(5L))
  }

  test("$text: OR of terms over the text column, case-folded; " +
      "phrases and negation are loud") {
    val tdf = Seq(
      (1L, "{}", "The HASH join wins"),
      (2L, "{}", "sort merge only"),
      (3L, "{}", "vector search here"),
      (4L, "{}", "nothing relevant")
    ).toDF("id", "meta", "text")
    def tids(f: String): Seq[Long] =
      selectIds(tdf, f)
    assert(tids("""{"$text": {"$search": "hash vector"}}""")
      == Seq(1L, 3L))
    // search terms tokenize/fold like the document side
    assert(tids("""{"$text": {"$search": "MERGE"}}""") == Seq(2L))
    // composes with ordinary clauses (AND)
    assert(tids("""{"$text": {"$search": "hash merge"},
        | "id_is": {"$exists": false}}""".stripMargin)
      == Seq(1L, 2L))
    val phrase = intercept[IllegalArgumentException] {
      tids("""{"$text": {"$search": "\"exact phrase\""}}""")
    }
    assert(phrase.getMessage.contains("textFind"), phrase.getMessage)
    val neg = intercept[IllegalArgumentException] {
      tids("""{"$text": {"$search": "hash -merge"}}""")
    }
    assert(neg.getMessage.contains("textFind"), neg.getMessage)
  }

  test("$jsonSchema: required/bsonType/enum/bounds/pattern with " +
      "JSON-Schema applicability; unknown keywords loud") {
    val docs = Seq(
      (1L, """{"k": 5, "s": "ab"}"""),        // clean
      (2L, """{"k": "5", "s": "ab"}"""),      // k wrong type
      (3L, """{"s": "ab"}"""),                // k missing (required)
      (4L, """{"k": 50, "s": "ab"}"""),       // k over maximum
      (5L, """{"k": 5, "s": "abc"}"""),       // s too long
      (6L, """{"k": 5, "s": "AB"}"""),        // s fails pattern
      (7L, """{"k": 5}"""),                   // s absent — passes (not required)
      (8L, """{"k": 5, "s": "ab", "e": "x"}"""), // e fails enum
      (9L, """{"k": 5, "s": "ab", "e": "y"}""")  // e passes enum
    ).toDF("id", "meta")
    def jids(schema: String): Seq[Long] =
      selectIds(docs, s"""{"$$jsonSchema": $schema}""")
    assert(jids(
      """{"bsonType": "object", "required": ["k"],
        | "properties": {
        |   "k": {"bsonType": "long", "minimum": 0, "maximum": 10},
        |   "s": {"type": "string", "minLength": 2, "maxLength": 2,
        |     "pattern": "^[a-z]+$"},
        |   "e": {"enum": ["y", "z", 7]}}}""".stripMargin)
      == Seq(1L, 7L, 9L))
    // numeric bounds apply to numbers only (keyword applicability):
    // a string-typed k passes minimum but still fails bsonType —
    // with no bsonType constraint, row 2 ("5") passes the bound
    assert(jids(
      """{"properties": {"k": {"minimum": 100}}}""")
      == Seq(2L, 3L))
    // empty schema admits everything
    assert(jids("""{}""") == (1L to 9L))
    // unknown keywords are loud, never silently ignored
    val unk = intercept[IllegalArgumentException] {
      jids("""{"additionalProperties": false}""")
    }
    assert(unk.getMessage.contains("unsupported"), unk.getMessage)
    val ref = intercept[IllegalArgumentException] {
      jids("""{"properties": {"k": {"items": {}}}}""")
    }
    assert(ref.getMessage.contains("unsupported"), ref.getMessage)
  }

  test("$geoWithin: $box and $center on the integer grid, boundary " +
      "inclusive; invalid points never match") {
    val pts = Seq(
      (1L, """{"loc": [0, 0]}"""),     // box corner (boundary)
      (2L, """{"loc": [5, 5]}"""),     // interior
      (3L, """{"loc": [10, 0]}"""),    // box edge (boundary)
      (4L, """{"loc": [11, 5]}"""),    // outside box, inside circle r=13
      (5L, """{"loc": [3]}"""),        // 1-element array — invalid
      (6L, """{"loc": "nope"}"""),     // not an array — invalid
      (7L, """{}""")                   // missing — never matches
    ).toDF("id", "meta")
    def gids(f: String): Seq[Long] =
      selectIds(pts, f)
    assert(gids("""{"loc": {"$geoWithin":
      | {"$box": [[0, 0], [10, 10]]}}}""".stripMargin)
      == Seq(1L, 2L, 3L))
    // corners in either order
    assert(gids("""{"loc": {"$geoWithin":
      | {"$box": [[10, 10], [0, 0]]}}}""".stripMargin)
      == Seq(1L, 2L, 3L))
    // circle: 11² + 5² = 146 > 144 (r=12) but ≤ 169 (r=13)
    assert(gids("""{"loc": {"$geoWithin":
      | {"$center": [[0, 0], 12]}}}""".stripMargin)
      == Seq(1L, 2L, 3L))
    assert(gids("""{"loc": {"$geoWithin":
      | {"$center": [[0, 0], 13]}}}""".stripMargin)
      == Seq(1L, 2L, 3L, 4L))
  }

  test("$geoWithin: concave $polygon — parity ray-casting, vertices " +
      "and edges inclusive, notch excluded; spherical shapes loud") {
    // concave "C"-ish pentagon: (0,0) (10,0) (4,5) (10,10) (0,10) —
    // the (4,5) notch points INTO the shape
    val poly = """[[0, 0], [10, 0], [4, 5], [10, 10], [0, 10]]"""
    val pts = Seq(
      (1L, """{"loc": [1, 5]}"""),    // interior, left of notch
      (2L, """{"loc": [8, 5]}"""),    // in the notch cavity — OUTSIDE
      (3L, """{"loc": [4, 5]}"""),    // the notch vertex — boundary
      (4L, """{"loc": [5, 0]}"""),    // bottom edge — boundary
      (5L, """{"loc": [0, 10]}"""),   // corner vertex — boundary
      (6L, """{"loc": [7, 2]}"""),    // under the notch slope: interior
      (7L, """{"loc": [11, 5]}""")    // right of everything — outside
    ).toDF("id", "meta")
    def gids(f: String): Seq[Long] =
      selectIds(pts, f)
    assert(gids(s"""{"loc": {"$$geoWithin": {"$$polygon": $poly}}}""")
      == Seq(1L, 3L, 4L, 5L, 6L))
    // an explicitly closed ring is accepted
    val closed =
      """[[0, 0], [10, 0], [4, 5], [10, 10], [0, 10], [0, 0]]"""
    assert(gids(s"""{"loc": {"$$geoWithin": {"$$polygon": $closed}}}""")
      == Seq(1L, 3L, 4L, 5L, 6L))
    val sph = intercept[IllegalArgumentException] {
      gids("""{"loc": {"$geoWithin": {"$geometry": {"type": "Polygon",
        | "coordinates": []}}}}""".stripMargin)
    }
    assert(sph.getMessage.contains("spherical"), sph.getMessage)
    val few = intercept[IllegalArgumentException] {
      gids("""{"loc": {"$geoWithin": {"$polygon": [[0, 0], [1, 1]]}}}""")
    }
    assert(few.getMessage.contains(">= 3"), few.getMessage)
  }

  test("$geoWithin: $centerSphere — antimeridian wrap, latitude cos " +
      "scale, boundary inclusive, pole/radius guards loud") {
    val pts = Seq(
      // 2 microdeg WEST of the center across the date line: wrapped
      // dlon = 2 (unwrapped it would be ~360e6 — the wrap IS the test)
      (1L, """{"loc": [-179999999, 0]}"""),
      // wrapped dlon = 6, dlat = 5 → dist² = 61
      (2L, """{"loc": [-179999995, 5]}"""),
      (3L, """{"loc": [179999999, 0]}"""), // the center itself
      (4L, """{"loc": [0, 0]}""")          // half a world away
    ).toDF("id", "meta")
    def gids(f: String): Seq[Long] =
      selectIds(pts, f)
    assert(gids("""{"loc": {"$geoWithin":
      | {"$centerSphere": [[179999999, 0], 2]}}}""".stripMargin)
      == Seq(1L, 3L))
    // 61 > 7² but ≤ 8² — exact boundary through the wrap
    assert(gids("""{"loc": {"$geoWithin":
      | {"$centerSphere": [[179999999, 0], 7]}}}""".stripMargin)
      == Seq(1L, 3L))
    assert(gids("""{"loc": {"$geoWithin":
      | {"$centerSphere": [[179999999, 0], 8]}}}""".stripMargin)
      == Seq(1L, 2L, 3L))
    // cos scale at 60°N: dlon 2000 scales to 1000 exactly (cos = .500)
    val at60 = Seq(
      (1L, """{"loc": [2000, 60000000]}"""),
      (2L, """{"loc": [0, 60001000]}""")).toDF("id", "meta")
    def g60(f: String): Seq[Long] =
      selectIds(at60, f)
    assert(g60("""{"loc": {"$geoWithin":
      | {"$centerSphere": [[0, 60000000], 1000]}}}""".stripMargin)
      == Seq(1L, 2L))
    assert(g60("""{"loc": {"$geoWithin":
      | {"$centerSphere": [[0, 60000000], 999]}}}""".stripMargin)
      == Seq())
    val pole = intercept[IllegalArgumentException] {
      gids("""{"loc": {"$geoWithin":
        | {"$centerSphere": [[0, 86000000], 10]}}}""".stripMargin)
    }
    assert(pole.getMessage.contains("±85°"), pole.getMessage)
    val badR = intercept[IllegalArgumentException] {
      gids("""{"loc": {"$geoWithin":
        | {"$centerSphere": [[0, 0], -1]}}}""".stripMargin)
    }
    assert(badR.getMessage.contains("radius"), badR.getMessage)
  }

  test("strength-2 collation key orders EXACTLY as icu4j root at " +
      "SECONDARY over the supported alphabet, with and without " +
      "numericOrdering (r15 parity lock)") {
    // the reference implementation: ICU's own root collator (the icu4j
    // jar ships with Spark 4), strength SECONDARY — what Mongo runs
    import com.ibm.icu.text.{Collator => IcuCollator, RuleBasedCollator}
    val vocab = Seq(
      "cote", "coté", "côte", "côté", "COTE", "CÔTÉ",
      "a", "á", "à", "â", "å", "ä", "ã", "az", "áa", "aá", "z",
      "cafe", "café", "CAFE", "naive", "naïve", "NAÏVE", "résumé",
      "nu", "ñu", "ceci", "çedille", "ab", "abc", "ába", "abá",
      "item2", "item02", "ITEM10", "item2á", "item02a", "x9y", "x10y")
    def icu(numeric: Boolean): IcuCollator = {
      val c = IcuCollator.getInstance(com.ibm.icu.util.ULocale.ROOT)
        .asInstanceOf[RuleBasedCollator]
      c.setStrength(IcuCollator.SECONDARY)
      c.setNumericCollation(numeric)
      c
    }
    for (numeric <- Seq(false, true)) {
      val coll = MqlFilter.Collation("en", 2, numeric)
      val ref = icu(numeric)
      for (x <- vocab; y <- vocab) {
        val mine = Integer.signum(
          MqlFilter.collKeyLit(x, coll).compareTo(
            MqlFilter.collKeyLit(y, coll)))
        val theirs = Integer.signum(ref.compare(x, y))
        assert(mine == theirs,
          s"numeric=$numeric '$x' vs '$y': key says $mine, ICU says " +
            s"$theirs (keys ${MqlFilter.collKeyLit(x, coll)} / " +
            s"${MqlFilter.collKeyLit(y, coll)})")
      }
      // the column twin builds the identical key
      val df = vocab.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "w")
      val colKeys = df.select(col("id"),
          MqlFilter.collKeyCol(col("w"), coll).as("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      vocab.zipWithIndex.foreach { case (w, i) =>
        assert(colKeys(i.toLong) == MqlFilter.collKeyLit(w, coll),
          s"column/literal key twin drift on '$w'")
      }
    }
  }

  test("tailored collations es/sv/da/tr order EXACTLY as icu4j at " +
      "PRIMARY, SECONDARY and TERTIARY over the supported alphabet " +
      "(r16/r17 parity lock): ñ between n and o; å/ä≡æ/ô≡ö≡ø after z " +
      "and ü≡y for sv; da's reversed secondary ranks, the aa/Aa/AA " +
      "(not aA) contraction and UPPER-first case; tr's dotless-ı " +
      "case pairs at the tertiary level") {
    import com.ibm.icu.text.{Collator => IcuCollator, RuleBasedCollator}
    // the deciding vocabulary: every tailored letter beside its class
    // neighbours, n-successor pairs (the shape the r15 root-equality
    // audit missed), the da contraction in word context (baad/båd),
    // the full root accent set (to prove everything ELSE still folds
    // and weights as root), and numeric runs
    val vocab = Seq(
      "n", "ñ", "N", "Ñ", "na", "nz", "ña", "ño", "ñz", "o", "oa",
      "nino", "niño", "NIÑO", "pinata", "piñata", "nu", "ñu",
      "cote", "coté", "côte", "côté", "CÔTÉ", "cafe", "café",
      "a", "á", "à", "â", "ã", "az", "áa", "z", "mano", "manó",
      "å", "ä", "ö", "æ", "ø", "ô", "zz", "za", "Å", "Ä", "Ö",
      "åa", "äa", "æa", "öa", "øa", "ôa", "aa", "ab", "ad",
      "baad", "båd", "bad", "bäd", "bæd", "böd", "bød",
      // da mixed-case contraction deciders (r17: ICU contracts
      // aa/Aa/AA but NOT aA — at every strength) and case pairs
      "baAd", "bAad", "bAAd", "BAAD", "BÅD", "bÅd", "Aa", "AA", "aA",
      "Aaa", "aaa", "Æra", "Øre", "Cote", "COTE", "cotE", "AZ", "Az",
      "aZ",
      "y", "ý", "ÿ", "ü", "u", "ú", "ya", "üa", "ua", "yz",
      "i", "í", "ì", "î", "ï", "e", "é", "è", "ê", "ë",
      "item2", "item02", "ITEM10", "x9y", "x10y", "a1a", "a2a")
    def icu(loc: String, strength: Int, numeric: Boolean): IcuCollator = {
      val c = IcuCollator.getInstance(
        com.ibm.icu.util.ULocale.forLanguageTag(loc))
        .asInstanceOf[RuleBasedCollator]
      c.setStrength(strength match {
        case 1 => IcuCollator.PRIMARY
        case 2 => IcuCollator.SECONDARY
        case _ => IcuCollator.TERTIARY
      })
      c.setNumericCollation(numeric)
      c
    }
    // tr's own deciders: the six tailored letters in word context and
    // the dotless-ı case pins (I ≡ ı, İ ≡ i — through secondary)
    val trVocab = Seq(
      "I", "İ", "ı", "i", "ha", "hz", "ıa", "ız", "ia", "iz", "j",
      "ILIK", "ılık", "ilik", "İLİK", "Ilık", "iLİK", "Çay", "çay",
      "Şal", "şal", "Öz", "öz", "ca", "cz", "ç", "ça", "çz", "d",
      "ga", "gz", "ğ", "ğa", "ğz", "h", "oa", "oz", "ö", "öa", "öz",
      "p", "sa", "sz", "ş", "şa", "şz", "t", "ua", "uz", "ü", "üa",
      "üz", "v", "a", "á", "à", "â", "å", "ä", "ã", "az", "e", "é",
      "o", "ó", "ô", "õ", "u", "ú", "û", "y", "ý", "ÿ", "n", "ñ",
      "item2", "item02", "ITEM10", "x9y", "x10y")
    // the tailored four at all three strengths; the root-class five at
    // strength 3 (r17 — their 1-2 root-equality was the r15 audit; the
    // tertiary case level is locked here) plus a 1-2 re-lock for fr/nl
    // as root-class representatives
    val combos =
      (for (loc <- Seq("es", "sv", "da", "tr"); st <- Seq(1, 2, 3))
        yield (loc, st)) ++
      (for (loc <- Seq("fr", "de", "it", "pt", "nl")) yield (loc, 3)) ++
      Seq(("fr", 1), ("fr", 2), ("nl", 1), ("nl", 2))
    for ((loc, strength) <- combos; numeric <- Seq(false, true)) {
      // æ/ø are PRIMARY LETTERS only under sv/da (exactly handled by
      // their tailoring tables); in root-class locales ICU treats them
      // as "ae"/"o-stroke" EXPANSIONS, which the engine documents as
      // outside the supported alphabet (unfolded, codepoint order) —
      // so they parity-lock under sv/da and stay out of the es vocab.
      // tr runs its own vocabulary: the Turkish letters plus the
      // shared root-accent and numeric words.
      val vocabL =
        if (loc == "tr") trVocab
        else if (loc == "sv" || loc == "da") vocab
        // root-class locales (and es) treat æ/ø as ae/o-stroke
        // EXPANSIONS — outside the supported alphabet
        else vocab.filterNot(_.exists("æøÆØ".contains(_)))
      val coll = MqlFilter.Collation(loc, strength, numeric)
      val ref = icu(loc, strength, numeric)
      for (x <- vocabL; y <- vocabL) {
        val mine = Integer.signum(
          MqlFilter.collKeyLit(x, coll).compareTo(
            MqlFilter.collKeyLit(y, coll)))
        val theirs = Integer.signum(ref.compare(x, y))
        assert(mine == theirs,
          s"$loc strength=$strength numeric=$numeric '$x' vs '$y': " +
            s"key says $mine, ICU says $theirs (keys " +
            s"${MqlFilter.collKeyLit(x, coll)} / " +
            s"${MqlFilter.collKeyLit(y, coll)})")
      }
      // the column twin builds the identical key
      val df = vocabL.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "w")
      val colKeys = df.select(col("id"),
          MqlFilter.collKeyCol(col("w"), coll).as("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      vocabL.zipWithIndex.foreach { case (w, i) =>
        assert(colKeys(i.toLong) == MqlFilter.collKeyLit(w, coll),
          s"column/literal $loc key twin drift on '$w'")
      }
    }
    // r18 (ADVICE): caseKeyLit/accentKeyLit drop ONLY ASCII '0'-'9',
    // exactly like the column twins' translate — a string carrying a
    // non-ASCII digit class (Arabic-Indic '٣') must build positionally
    // IDENTICAL keys on both renderers (ICU parity is not claimed for
    // characters outside the supported alphabet; twin agreement is)
    {
      val exotic = Seq("a٣b", "٣", "x١٢y", "Aa٣z")
      for (loc <- Seq("es", "da", "fr"); st <- Seq(2, 3);
           numeric <- Seq(false, true)) {
        val coll = MqlFilter.Collation(loc, st, numeric)
        val df2 = exotic.zipWithIndex.map { case (w, i) => (i.toLong, w) }
          .toDF("id", "w")
        val got = df2.select(col("id"),
            MqlFilter.collKeyCol(col("w"), coll).as("k"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        exotic.zipWithIndex.foreach { case (w, i) =>
          assert(got(i.toLong) == MqlFilter.collKeyLit(w, coll),
            s"non-ASCII-digit twin drift $loc st=$st num=$numeric " +
              s"on '$w'")
        }
      }
    }
    for (loc <- Seq("es", "sv", "da", "tr", "fr", "de", "it", "pt",
        "nl"); st <- Seq(1, 2, 3))
      MqlFilter.parseCollation(
        s"""{"locale": "$loc", "strength": $st}""")
    // unmeasured locales stay loud at every strength
    for (spec <- Seq("""{"locale": "pl", "strength": 1}""",
        """{"locale": "cs", "strength": 3}""",
        """{"locale": "ar"}""")) {
      val e = intercept[IllegalArgumentException] {
        MqlFilter.parseCollation(spec)
      }
      assert(e.getMessage.contains("unsupported collation locale"))
    }
  }

  test("stored VARIANT: null, invalid and duplicate-key metadata parse to " +
      "null on both bindings, so only $exists:false-style predicates see " +
      "them the same way") {
    val odd = Seq(
      (1L, null: String),
      (2L, "not json"),
      (3L, """{"a": 1, "a": 2}"""),
      (4L, """{"a": 1}"""),
      (5L, "[1, 2]"),
      (6L, "\"str\""),
      (7L, ""),
      (8L, "[" * 2000 + "]" * 2000)
    ).toDF("id", "meta")
    val stored = storedForm(odd).filter(col("meta_v").isNull)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(stored == Seq(1L, 2L, 3L, 7L, 8L), stored)
    assert(selectIds(odd, """{"a": 1}""") == Seq(4L))
    assert(selectIds(odd, "{}") == (1L to 8L))
    for (f <- Seq("""{"a": {"$exists": false}}""", """{"a": {"$ne": 1}}""",
        """{"a": null}""", """{"a": {"$nin": [1]}}""",
        """{"$nor": [{"a": 1}]}""", """{"a": {"$type": "long"}}""",
        """{"$expr": {"$eq": [{"$ifNull": ["$a", 0]}, 0]}}"""))
      selectIds(odd, f)
  }

  test("stored VARIANT: number spellings and \"5\" vs 5 keep their " +
      "types through the parquet round trip") {
    val nums = Seq(
      (1L, """{"n": 1e2}"""),
      (2L, """{"n": 100}"""),
      (3L, """{"n": 100.0}"""),
      (4L, """{"n": 1.50}"""),
      (5L, """{"n": "100"}"""),
      (6L, """{"n": -0.0}"""),
      (7L, """{"n": 9007199254740993}"""),
      (8L, """{"n": 12345678901234567890}""")
    ).toDF("id", "meta")
    assert(selectIds(nums, """{"n": 100}""") == Seq(1L, 2L, 3L))
    assert(selectIds(nums, """{"n": "100"}""") == Seq(5L))
    assert(selectIds(nums, """{"n": 1.5}""") == Seq(4L))
    assert(selectIds(nums, """{"n": 9007199254740993}""") == Seq(7L))
    assert(selectIds(nums, """{"n": {"$type": "string"}}""") == Seq(5L))
    for (f <- Seq("""{"n": {"$type": "double"}}""",
        """{"n": {"$type": "long"}}""", """{"n": {"$gt": 1e19}}""",
        """{"n": {"$lte": 0}}""", """{"n": {"$mod": [7, 2]}}"""))
      selectIds(nums, f)
  }

  test("stored VARIANT: nested arrays, embedded $elemMatch over arrays, " +
      "$all and $size") {
    val nested = Seq(
      (1L, """{"m": [[1, 2], [3]], "items": [{"tags": ["x", "y"]}]}"""),
      (2L, """{"m": [["a"]], "items": [{"tags": []}, {"tags": ["y"]}]}"""),
      (3L, """{"m": [], "items": [{"tags": "x"}]}"""),
      (4L, """{"m": [1, [2]], "items": []}""")
    ).toDF("id", "meta")
    assert(selectIds(nested, """{"m": {"$size": 2}}""") == Seq(1L, 4L))
    assert(selectIds(nested,
      """{"items": {"$elemMatch": {"tags": {"$all": ["y"]}}}}""")
      == Seq(1L, 2L))
    assert(selectIds(nested,
      """{"items": {"$elemMatch": {"tags": {"$size": 0}}}}""") == Seq(2L))
    for (f <- Seq("""{"m": {"$all": [1]}}""", """{"m": {"$type": "array"}}""",
        """{"m": {"$elemMatch": {"$gt": 0}}}""",
        """{"items": {"$elemMatch": {"tags": {"$type": "string"}}}}"""))
      selectIds(nested, f)
  }

  test("stored VARIANT under a collation: the collation-wrapped resolver " +
      "selects the same rows from either binding") {
    val words = Seq(
      (1L, """{"s": "apple"}"""),
      (2L, """{"s": "APPLE"}"""),
      (3L, """{"s": "Äpple"}"""),
      (4L, """{"s": "banana"}"""),
      (5L, """{"s": 5}"""),
      (6L, """{}""")
    ).toDF("id", "meta")
    for (strength <- Seq(1, 2, 3)) {
      val coll = Some(MqlFilter.Collation("en", strength))
      val eq = selectIds(words, """{"s": "Apple"}""", coll)
      assert(eq == (if (strength == 3) Seq() else if (strength == 2)
        Seq(1L, 2L) else Seq(1L, 2L, 3L)), s"strength $strength: $eq")
      for (f <- Seq("""{"s": {"$in": ["BANANA", "x"]}}""",
          """{"s": {"$gt": "b"}}""", """{"s": {"$regex": "^a"}}""",
          """{"s": {"$ne": "apple"}}"""))
        selectIds(words, f, coll)
    }
  }

  test("stored VARIANT: numbers reach generated code by reference, so a " +
      "range, $gt or $mod with new values compiles no new class; a " +
      "$regex pattern stays a constant, which rlike compiles once") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.RLike
    val nums = (1L to 40L).map(i =>
      (i, s"""{"n": $i, "x": ${i * 1.5}, "s": "${if (i % 3 == 0) "ab" else "ba"}"}"""))
      .toDF("id", "meta")
    val stored = storedForm(nums)
    def filtered(f: String) = stored.filter(
      MqlFilter.toColumn(f, MqlFilter.VariantResolver(col("meta_v"))))
    def viaStored(f: String) =
      filtered(f).select("id").collect().map(_.getLong(0)).toSeq.sorted
    val templates = Seq[Int => String](
      i => s"""{"n": {"$$gte": $i, "$$lt": ${i + 7}}}""",
      i => s"""{"x": {"$$gt": ${i + 0.25}}}""",
      i => s"""{"n": {"$$mod": [${i + 2}, 1]}}""")
    for (t <- templates) {
      viaStored(t(1)) // the template's first value compiles its class
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val got = (2 to 6).map(i => viaStored(t(i)))
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        s"${t(2)}: a new value compiled a new class")
      assert(got == (2 to 6).map(i => selectIds(nums, t(i))))
      assert(got.distinct.size > 1, got)
    }
    val re = filtered("""{"s": {"$regex": "^a"}}""")
    assert(re.queryExecution.optimizedPlan.flatMap(_.expressions).exists(_.exists {
      case RLike(_, pattern) => pattern.foldable
      case _ => false
    }), re.queryExecution.optimizedPlan)
    assert(viaStored("""{"s": {"$regex": "^a"}}""") ==
      (3L to 39L by 3))
  }
}
