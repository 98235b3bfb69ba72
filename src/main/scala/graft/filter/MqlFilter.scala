package graft.filter

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Mongo-style (MQL) filter → Catalyst `Column` translator.
  *
  * The reference passes the user's filter verbatim to FerretDB
  * (/root/reference/db/db.go:111-113; example at main.go:47), so its
  * predicate language is MQL. Here the filter becomes a real Catalyst
  * boolean expression — NOT an opaque UDF — so predicate pushdown, column
  * pruning and row-group skipping all keep working (SURVEY.md §4).
  *
  * Supported operators (SURVEY.md §2.5): implicit equality, $eq $ne $gt
  * $gte $lt $lte, $in $nin, $and $or $not $nor, $exists $type, $regex,
  * $mod, $all $size, $elemMatch (both the operator-object form over
  * scalar arrays and the embedded-document form over arrays of objects),
  * and $expr (aggregation expressions — arithmetic, string ops,
  * array-operand comparisons — inside the find filter).
  *
  * MQL type bracketing: numbers compare across int/long/double; strings
  * only compare with strings; a missing field fails every positive
  * predicate but matches $ne/$nin/$exists:false. The [[JsonResolver]]
  * enforces this with Spark 4 VARIANT type introspection. Integral
  * literal × integral value compares EXACTLY as 64-bit longs (not
  * through a double, which rounds past 2^53); date predicates use the
  * Mongo extended-JSON literal {"$date": "ISO-8601"} and compare ISO
  * string metadata values as TIMESTAMP.
  */
object MqlFilter {

  private val mapper = new ObjectMapper()

  /** Truncating 64-bit integer division as a Column (Spark's `DIV`,
    * DuckDB's `//` — BOTH truncate toward zero, verified on negatives),
    * so the scaled spherical metric below is cross-engine exact. */
  private[graft] def intDiv(a: Column, b: Long): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(lit(b))))

  /** cos(latitude) in MILLI units, rounded once at TRANSLATE time —
    * the single driver-side scalar the spherical metric scales
    * longitudes by. Latitude is integer microdegrees. */
  private[graft] def cosMilli(latMicroDeg: Long): Long =
    math.round(math.cos(math.toRadians(latMicroDeg / 1e6)) * 1000)

  /** The SPHERICAL surrogate metric shared by `$geoNear {spherical:
    * true}` and `$geoWithin.$centerSphere`: coordinates are [lon, lat]
    * integer MICRODEGREES and dist² is the equirectangular projection
    * anchored at the query latitude —
    *
    *   dlat² + ((wrap(dlon) · cosMilli(qlat)) div 1000)²
    *
    * with dlon WRAPPED across the antimeridian into [−180°, 180°)
    * (pmod — a pin near lon +179.9° IS near one at −179.9°). The cos
    * scale is computed ONCE driver-side ([[cosMilli]]) and embedded as
    * a literal, so the per-row path is pure 64-bit integer arithmetic —
    * no trig, no libm, no floats — which both engines reproduce
    * bit-for-bit (the repo's hash-exactness discipline; floating
    * haversine would diverge in the last ulp across engines).
    *
    * Geodesy contract: a local flat-earth model, the standard regional
    * approximation — error grows with |lat − qlat| and near the poles
    * (hence the ±85° guard). 1 grid unit ≈ 0.111 m of latitude; a
    * production swap to true haversine changes ONLY this expression,
    * the surrounding prefilter/top-k plan shapes are metric-agnostic. */
  private[graft] def sphereDist2(plon: Column, plat: Column,
      qlon: Long, qlat: Long): Column = {
    require(math.abs(qlat) <= 85000000L,
      "spherical query latitude must be within ±85° (integer " +
        s"microdegrees): $qlat")
    val cm = cosMilli(qlat)
    val dlat = plat - qlat
    val dlonW = pmod(plon - qlon + lit(180000000L), lit(360000000L)) -
      lit(180000000L)
    val dlonS = intDiv(dlonW * lit(cm), 1000L)
    dlat * dlat + dlonS * dlonS
  }

  /** How a metadata field name becomes typed Columns. */
  trait FieldResolver {
    /** Numeric view of the field (null when absent or non-numeric). */
    def num(field: String): Column
    /** Integral view as a 64-bit long (null when absent or not an
      * integral number) — comparisons between an integral literal and an
      * integral value go through this view so ids past 2^53 compare
      * EXACTLY instead of through a lossy double. */
    def intNum(field: String): Column
    /** Timestamp view (null when absent or not an ISO-8601 date string).
      * JSON has no date type, so dates travel as strings — the Mongo
      * extended-JSON `{"$date": "ISO"}` literal selects this view. */
    def ts(field: String): Column
    /** String view (null when absent or non-string). */
    def str(field: String): Column
    /** Boolean view (null when absent or non-boolean). */
    def bool(field: String): Column
    /** Array-of-string view for $all/$size/$elemMatch (null if not array). */
    def arr(field: String): Column
    /** Array-of-VARIANT view — embedded-document $elemMatch iterates the
      * raw elements so each can be matched as a sub-document. */
    def varr(field: String): Column
    /** Field present (including explicit JSON null). */
    def exists(field: String): Column
    /** MQL $type name: "double"|"long"|"string"|"bool"|"array"|"null". */
    def typeName(field: String): Column
    /** The JSON metadata column this resolver (possibly through a
      * wrapper) resolves unmaterialized fields against — None for
      * purely typed resolvers. Lets [[MqlFilter.toColumn]] bind ONE
      * document parse per row for ANY resolver routing through a
      * [[JsonResolver]], not just the bare one (r18: the pipeline
      * $match HybridResolver previously translated unbound, so every
      * predicate leaf re-parsed the document). */
    private[filter] def jsonMeta: Option[Column] = None
    /** A copy of this resolver whose JSON root reads `parsed` (a
      * lambda-bound VARIANT), plus that fresh root (so the caller can
      * read its `touched` probe flag). Only called when [[jsonMeta]]
      * is defined. */
    private[filter] def rebindJson(parsed: Column):
        (FieldResolver, JsonResolver) =
      throw new IllegalStateException(
        s"rebindJson on a resolver with no JSON root: $this")
    /** A numeric literal (Long or Double) to compare a view against:
      * inlined by default, which keeps typed-column comparisons pushable
      * to the scan. A resolver whose filters compile into whole-stage
      * codegen reads it through a reference instead, so one compiled
      * class serves every value. (A `$regex` pattern stays a literal:
      * `rlike` compiles a constant pattern once, any other once per
      * row.) */
    private[filter] def bindLit(v: Any): Column = lit(v)
    /** Dispatch a view by its recorded kind — the stage prelude's
      * materialization pass (r16). */
    private[filter] def viewOf(kind: String, f: String): Column =
      kind match {
        case "num" => num(f)
        case "intNum" => intNum(f)
        case "ts" => ts(f)
        case "str" => str(f)
        case "bool" => bool(f)
        case "varr" => varr(f)
        case "arr" => arr(f)
        case "exists" => exists(f)
        case "typeName" => typeName(f)
        case other => throw new IllegalArgumentException(
          s"unknown recorded view kind: $other (field $f) — a recording " +
            "resolver logged a view this dispatcher doesn't know; add " +
            "the arm alongside the FieldResolver method")
      }
  }

  /** The VARIANT-rooted field views shared by [[JsonResolver]] (rooted at
    * the metadata document parsed from its JSON text) and
    * [[VariantResolver]] (rooted at a VARIANT value already in the row).
    * Each typed view is one [[graft.expr.VariantView]] over the field's
    * `variant_get(root, path, 'variant')`: it reads the value's type id
    * and returns the value only where MQL brackets it with the view's
    * type, so `{"a": "5"}` does NOT match a numeric filter on `a`. The
    * views of one field share that `variant_get` (subexpression
    * elimination on the driver, one pushed field on a Parquet scan). */
  sealed trait VariantViews extends FieldResolver {
    /** The VARIANT value fields resolve against (re-read per call so
      * [[toColumn]]'s lambda re-binding takes effect). */
    private[MqlFilter] def parsedV: Column
    /** Typed-view hook (r16): a stage prelude may PRE-RESOLVE (view,
      * field) pairs to materialized real columns — per-op re-derivation
      * of the same view (13 timestamp re-parses of one field in a
      * 13-op date stage) sits inside per-op CASE branches, which
      * codegen subexpression elimination deliberately skips, so only a
      * real column shares the work. Default: build in place.
      * Implementations may also RECORD requests (the prelude's probe
      * pass). */
    private[filter] def view(kind: String, f: String)
        (build: => Column): Column = build
    protected def path(f: String) = s"$$.$f"
    protected def v(f: String) = variant_get(parsedV, path(f), "variant")
    /** The `kind` [[graft.expr.VariantView]] of field `f`. */
    protected def bracketed(kind: String, f: String): Column =
      graft.expr.VariantView.column(v(f), kind)

    def num(f: String): Column = view("num", f) { bracketed("num", f) }
    def intNum(f: String): Column =
      view("intNum", f) { bracketed("intNum", f) }
    def ts(f: String): Column =
      view("ts", f) { try_to_timestamp(bracketed("str", f)) }
    def str(f: String): Column = view("str", f) { bracketed("str", f) }
    def bool(f: String): Column = view("bool", f) { bracketed("bool", f) }
    def varr(f: String): Column = view("varr", f) { bracketed("varr", f) }
    def exists(f: String): Column = view("exists", f) {
      v(f).isNotNull || is_variant_null(v(f)) }
    def typeName(f: String): Column =
      view("typeName", f) { bracketed("typeName", f) }
  }

  /** Resolver over a schemaless JSON metadata column (`_m_meta` /
    * `events.props`).
    *
    * `parsed` is the VARIANT value of the whole metadata document. When a
    * filter is built through [[toColumn]], it is a lambda-bound variable
    * holding ONE `try_parse_json(metaCol)` per row — Catalyst has no
    * global common-subexpression elimination, so without the binding
    * every predicate leaf would re-parse the JSON document (measured 6
    * parses/row on a 3-clause filter, ~2x the whole filter's runtime). */
  final case class JsonResolver(metaCol: Column) extends VariantViews {
    private[filter] var parsed: Column = try_parse_json(metaCol)
    /** True once any view resolved through the parsed document — lets
      * [[graft.filter.MqlPipeline]] skip the parse-binding wrapper for
      * expressions that only touch real columns. */
    private[filter] var touched: Boolean = false
    /** When set, [[view]] logs every (kind, field) request here — the
      * stage prelude's PROBE pass (r16). */
    private[filter] var recordTo:
        Option[scala.collection.mutable.LinkedHashSet[(String, String)]] =
      None
    /** (kind, field) → materialized real column: the stage prelude's
      * pre-resolved typed views (r16) — a hit bypasses the in-place
      * build entirely. */
    private[filter] var preResolved: Map[(String, String), Column] =
      Map.empty
    /** When set, a view MISS materializes its build as a real helper
      * column via this hook and caches the returned reference (r18):
      * the probe-less form of the stage prelude's pre-resolved views.
      * Keeps each typed view a SMALL standalone projection — a window
      * stage whose keys inlined every view produced CASE trees past
      * the JIT's method-size ceiling and ran interpreted (measured:
      * mql_window_nacc erratic 3.2-12 s for 5000 rows; split views
      * steady sub-second). Only root-document views route through
      * here, so the materialized expression never captures a lambda
      * variable. */
    private[filter] var materializer:
        Option[(String, String, Column) => Column] = None
    override private[filter] def view(kind: String, f: String)
        (build: => Column): Column = {
      recordTo.foreach(_ += ((kind, f)))
      preResolved.get((kind, f)) match {
        case Some(c) => c
        case None => materializer match {
          case Some(m) =>
            val c = m(kind, f, build)
            preResolved += ((kind, f) -> c)
            c
          case None => build
        }
      }
    }
    private[MqlFilter] def parsedV: Column = { touched = true; parsed }
    override private[filter] def jsonMeta: Option[Column] = Some(metaCol)
    override private[filter] def rebindJson(parsed: Column):
        (FieldResolver, JsonResolver) = {
      // ADVICE r18: a rebind builds a FRESH resolver — stage-prelude
      // state (pre-resolved views, materializer, recorder) would be
      // silently dropped. No current caller routes a prelude resolver
      // here; if one ever does, fail loudly instead of re-parsing.
      require(preResolved.isEmpty && materializer.isEmpty &&
        recordTo.isEmpty,
        "rebindJson on a stage-prelude JsonResolver would drop its " +
          "materialized parse and pre-resolved views")
      val b = JsonResolver(metaCol)
      b.parsed = parsed
      (b, b)
    }
    def arr(f: String): Column = view("arr", f) {
      when(bracketed("typeName", f) === "array",
        from_json(get_json_object(metaCol, path(f)),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType))) }
  }

  /** Resolver rooted at a VARIANT value in the row: a collection's
    * stored metadata column (parsed once, at write time, so a filter
    * over it runs no parse and no lambda and compiles into whole-stage
    * codegen), or ONE array element — what an embedded-document
    * $elemMatch predicate evaluates against. Nested scalar arrays
    * resolve through the variant cast (strings only); deeper embedded
    * arrays nest further VariantResolvers. */
  final case class VariantResolver(root: Column) extends VariantViews {
    private[MqlFilter] def parsedV: Column = root
    override private[filter] def bindLit(v: Any): Column =
      graft.expr.BoundLiteral.column(v)
    def arr(f: String): Column = bracketed("arr", f)
  }

  /** Resolver over real typed columns (materialized metadata). Type
    * bracketing is static: the column's Spark type decides which views are
    * non-null. */
  final case class TypedResolver(cols: Map[String, Column],
      types: Map[String, org.apache.spark.sql.types.DataType])
      extends FieldResolver {
    import org.apache.spark.sql.types._
    private def get(f: String): Option[(Column, DataType)] =
      cols.get(f).map(c => (c, types(f)))
    def num(f: String): Column = get(f) match {
      case Some((c, t)) if t.isInstanceOf[NumericType] => c.cast("double")
      case _ => lit(null).cast("double")
    }
    def intNum(f: String): Column = get(f) match {
      case Some((c, ByteType | ShortType | IntegerType | LongType)) =>
        c.cast("long")
      case Some((c, d: DecimalType)) if d.scale == 0 => c.cast("long")
      case _ => lit(null).cast("long")
    }
    def ts(f: String): Column = get(f) match {
      case Some((c, TimestampType | DateType)) => c.cast("timestamp")
      case Some((c, StringType)) => try_to_timestamp(c)
      case _ => lit(null).cast("timestamp")
    }
    def str(f: String): Column = get(f) match {
      case Some((c, StringType)) => c
      case _ => lit(null).cast("string")
    }
    def bool(f: String): Column = get(f) match {
      case Some((c, BooleanType)) => c
      case _ => lit(null).cast("boolean")
    }
    def arr(f: String): Column = get(f) match {
      case Some((c, ArrayType(_, _))) => c.cast("array<string>")
      case _ => lit(null).cast("array<string>")
    }
    def varr(f: String): Column = get(f) match {
      // scalar-array ops ($all/$size/$elemMatch) bracket per element over
      // a VARIANT view; arrays of atomics cast element-wise
      case Some((c, ArrayType(_, _))) => c.cast("array<variant>")
      case _ => lit(null).cast("array<variant>")
    }
    def exists(f: String): Column = get(f) match {
      case Some((c, _)) => c.isNotNull
      case None => lit(false)
    }
    def typeName(f: String): Column = get(f) match {
      case Some((_, StringType)) => lit("string")
      case Some((_, BooleanType)) => lit("bool")
      case Some((_, DoubleType | FloatType)) => lit("double")
      case Some((_, ByteType | ShortType | IntegerType | LongType)) =>
        lit("long")
      case Some((_, ArrayType(_, _))) => lit("array")
      case _ => lit(null).cast("string")
    }
  }

  /** Translate an MQL filter given as JSON text.
    *
    * For a [[JsonResolver]] the whole predicate is wrapped in
    * `forall(array(try_parse_json(meta)), parsed -> ...)`: the lambda
    * variable pins exactly one JSON→VARIANT parse per row, shared by all
    * predicate leaves. Null/invalid metadata parses to a null VARIANT,
    * every leaf collapses exactly as in the unbound form, and a null
    * lambda result is false under `filter` — semantics unchanged, parse
    * count drops from O(leaves) to 1. A [[VariantResolver]] over a
    * stored `try_parse_json` column has no JSON root: the predicate
    * reads that column directly, with no parse and no lambda, and
    * selects the same rows. */
  def toColumn(filterJson: String, r: FieldResolver): Column =
    bindAndTranslate(mapper.readTree(filterJson), r, identity)

  /** Translate `tree` with the document parse bound once per row
    * whenever the (possibly wrapped) resolver routes any leaf through
    * a [[JsonResolver]]. A driver-side PROBE translation against an
    * unbound copy decides: a filter touching only real/typed columns
    * keeps its plain (codegen-able) form and never pays the parse;
    * anything touching the document translates inside the
    * `forall(array(parse), ...)` lambda so all leaves share one
    * JSON→VARIANT parse per row. `wrap` layers outer resolvers (the
    * collation adapter) around the bound copy. */
  private def bindAndTranslate(
      tree: com.fasterxml.jackson.databind.JsonNode,
      r: FieldResolver,
      wrap: FieldResolver => FieldResolver): Column =
    r.jsonMeta match {
      case Some(mc) =>
        // r19 (ADVICE): split the top-level conjunction BEFORE binding.
        // translate() reduces a filter object's entries (and $and
        // elements) with `&&`, and 3-valued AND is associative, so
        // translating conjuncts separately and re-ANDing is value-
        // identical — but a conjunct that touches only real/typed
        // columns now KEEPS its plain codegen-able form (predicate
        // pushdown reaches the scan) instead of riding inside the
        // CodegenFallback forall lambda with the document conjuncts.
        // Only document-touching conjuncts share the one-parse binding.
        val conjuncts: Seq[com.fasterxml.jackson.databind.JsonNode] =
          if (tree.isObject && tree.size() > 1)
            tree.properties().asScala.toSeq.flatMap { e =>
              if (e.getKey == "$and" && e.getValue.isArray &&
                  e.getValue.size() > 0)
                e.getValue.elements().asScala.toSeq
              else {
                val o = mapper.createObjectNode()
                o.set[com.fasterxml.jackson.databind.JsonNode](
                  e.getKey, e.getValue)
                Seq(o)
              }
            }
          else Seq(tree)
        val probed = conjuncts.map { c =>
          val (probeR, probeJ) = r.rebindJson(try_parse_json(mc))
          (c, translate(c, wrap(probeR)), probeJ.touched)
        }
        val plain = probed.collect { case (_, pc, false) => pc }
        val docNodes = probed.collect { case (c, _, true) => c }
        val docCol =
          if (docNodes.isEmpty) None
          else Some(forall(array(try_parse_json(mc)), { parsed =>
            docNodes.map(c =>
                translate(c, wrap(r.rebindJson(parsed)._1)))
              .reduceLeft(_ && _)
          }))
        (plain ++ docCol).reduceLeftOption(_ && _).getOrElse(lit(true))
      case None => translate(tree, wrap(r))
    }

  // ---- collation ---------------------------------------------------------

  /** Mongo find/aggregate collation, in the slice a codepoint engine
    * can honor EXACTLY: `strength` 2 = case-insensitive compare with
    * accents SIGNIFICANT and ICU-secondary ORDERED (r15 — the key is
    * primary fold + separator + per-character accent weights, so á ≠ a
    * but sorts immediately after it, never after z); `strength` 1
    * (r13) = ICU primary — case-insensitive AND
    * Latin-1-diacritic-insensitive, folded through the public
    * one-to-one table below (accents are SECONDARY differences in
    * every ICU Latin tailoring, so primary strength equates á=a in
    * en too); 3 = Mongo's default tertiary = plain codepoint compare
    * (identity). Multi-char expansions (æ→ae, ß→ss) are primary-
    * DISTINCT letters in ICU root and stay unfolded. Locales beyond
    * the empirically-root set need a real ICU table — loud, never an
    * approximation. */
  final case class Collation(locale: String, strength: Int,
      numericOrdering: Boolean = false) {
    def caseInsensitive: Boolean = strength <= 2
    def diacriticFold: Boolean = strength == 1
    /** Strength 2 orders accents by ICU-root secondary weight. */
    def secondaryOrder: Boolean = strength == 2
    /** Strength 3 for a TAILORED or root-class Western locale (r17):
      * the full three-level key — (tailored) primary, locale
      * secondary, then CASE as the least-significant level
      * ([[caseKeyCol]]; measured lower-first for every root locale,
      * forward accents — fr-CA's backwards accents are NOT fr's);
      * icu4j-locked like the lower strengths. en/simple at 3 stay
      * the adjudicated codepoint identity. */
    def tertiaryOrder: Boolean =
      strength == 3 &&
        (Tailorings.contains(locale) || RootTertiary(locale))
    /** The locale's primary tailoring table when one applies (r16) —
      * es/sv/da at collated strengths. A primary tailoring bites at
      * EVERY collated strength (the r15 "es ≡ root at strength 2"
      * audit read held only because its vocabulary had no n-successor
      * pairs like nz/ño — icu4j es orders ño AFTER nz at secondary,
      * root before), so the table applies at 1, 2 AND 3, with the
      * locale's own secondary weights at 2/3. */
    def tailoring: Option[Tailoring] =
      if (strength <= 2 || tertiaryOrder) Tailorings.get(locale)
      else None
    /** Whether any comparison rewriting is needed at all. */
    def active: Boolean =
      caseInsensitive || numericOrdering || tertiaryOrder
  }

  /** Root-class Western locales measured ≡ ICU root at every strength
    * (r15: primaries/secondaries; r17: tertiary = the root case level,
    * lower-first). */
  private[graft] val RootTertiary = Set("fr", "de", "it", "pt", "nl")

  /** Latin-1 diacritic fold (lowercase side — [[foldCol]] lowers
    * first): the ICU-root primary-equivalence subset that is a
    * ONE-to-one codepoint map, safe for translate() on both engines. */
  private[graft] val DiaFrom = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿ"
  private[graft] val DiaTo = "aaaaaaceeeeiiiinooooouuuuyy"

  /** Comparison key under a case-insensitive collation: lower(), plus
    * the diacritic fold at strength 1. */
  private[graft] def foldCol(c: Column, fold: Boolean): Column =
    if (fold) // qualified: MqlFilter defines its own translate(node, r)
      org.apache.spark.sql.functions.translate(lower(c), DiaFrom, DiaTo)
    else lower(c)

  // ---- locale tailorings (r16) --------------------------------------
  // The SUPPORTED tailored locales — es, sv, da — each measured
  // pairwise against icu4j 77 over the supported alphabet (parity
  // specs in MqlFilterSpec) and expressed as a TABLE the two key twins
  // (column/literal) both execute:
  //
  //  1. lower;
  //  2. CONTRACTIONS (da: "aa" ≡ å — replaced by a one-char marker
  //     BEFORE the fold, so "áa" can never falsely contract, and
  //     before the weight pass, so weight strings of "baad"/"båd"
  //     stay positionally aligned);
  //  3. the root diacritic fold MINUS the locale's tailored letters
  //     ([[DiaFrom]] with `dropFromFold` removed);
  //  4. EXPANSIONS: each tailored letter (or contraction marker) maps
  //     to base + DEL + a non-digit class marker — DEL (0x7f) sorts
  //     above every other folded-key character, so lexicographic key
  //     order IS the tailored order (es: n < ñ < o; sv: z < å < ä≡æ <
  //     ô≡ö≡ø; da: z < ä≡æ < ö≡ø < aa≡å), and class markers are
  //     LETTERS so numericOrdering's digit-run scanner can never
  //     absorb them into adjacent data digits.
  //
  // At strength 2 the locale's OWN secondary table replaces the root
  // one: letters that became primary carry class-internal ranks
  // (sv: ä<æ, ö<ø<ô, y<ý<ÿ<ü; da REVERSED: æ<ä, ø<ö, and aa ≡ å
  // through the secondary level — same digit).
  private val TDel = "\u007f"
  private[graft] final case class Tailoring(
      dropFromFold: String,
      // CASE-VARIANT contraction pairs, matched on the PRE-lower
      // string (r17 — icu4j da contracts "aa"/"Aa"/"AA" but NOT "aA",
      // at EVERY strength; the r16 lower-then-contract device folded
      // all four): each variant maps to its own one-char marker so
      // the tertiary level can rank the variants apart, while the
      // primary/secondary tables treat every marker alike.
      contractions: Seq[(String, String)],
      expansions: Seq[(String, String)],
      secFrom: String, secTo: String,
      // locale CASE rules applied by translate BEFORE lower (tr:
      // I → ı and İ → i — the dotless-i split; also keeps İ away from
      // java's two-char İ → "i"+combining-dot lowering, which would
      // desynchronize the secondary weight strings)
      preLowerFrom: String = "", preLowerTo: String = "",
      // tertiary (r17): ICU caseFirst — da defaults UPPER-first
      // (measured: A < a, Å < å); the other tailored locales are
      // lower-first
      caseFirstUpper: Boolean = false,
      // tertiary per-char rank digits beyond the generic lower/upper
      // pair: the å-class case ladder interleaves the contraction
      // markers with å itself (da measured: Å < AA < Aa < å < aa),
      // so those need explicit digits
      terOverrides: Seq[(Char, Char)] = Nil) {
    val diaFrom: String = DiaFrom.filterNot(dropFromFold.contains(_))
    val diaTo: String = DiaFrom.zip(DiaTo)
      .filterNot(p => dropFromFold.contains(p._1)).map(_._2).mkString
  }

  /** da's contraction markers — control chars outside text data (the
    * NumRunSep discipline), one per case variant ("aA" does NOT
    * contract in ICU da — measured at every strength). */
  private val AaMark = "\u0002"   // "aa"
  private val AaMarkUl = "\u0004" // "Aa"
  private val AaMarkUu = "\u0005" // "AA"
  /** One-scan bracket marker: a single leftmost regex pass fixes the
    * contraction POSITIONS case-blindly (sequential per-variant
    * replaces would contract "Aaa" at 1-2 where ICU contracts 0-1),
    * then each bracketed variant maps to its own marker. */
  private val ScanMark = "\u0003"

  /** Apply a tailoring's case-variant contractions to a column:
    * leftmost non-overlapping scan (all variants are the same length,
    * so the regex alternation picks the same positions ICU's
    * leftmost contraction matching does), then per-variant marker
    * substitution. Runs BEFORE lower(). */
  private[graft] def contractCol(c: Column,
      cons: Seq[(String, String)]): Column =
    if (cons.isEmpty) c
    else {
      val marked = regexp_replace(c,
        lit(cons.map(_._1).mkString("|")), lit(ScanMark + "$0"))
      cons.foldLeft(marked) { case (acc, (f, r)) =>
        org.apache.spark.sql.functions.replace(
          acc, lit(ScanMark + f), lit(r)) }
    }

  /** Scala twin of [[contractCol]] — one manual leftmost scan. */
  private[graft] def contractLit(s: String,
      cons: Seq[(String, String)]): String =
    if (cons.isEmpty) s
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        cons.find { case (f, _) => s.startsWith(f, i) } match {
          case Some((f, r)) => sb ++= r; i += f.length
          case None => sb += s(i); i += 1
        }
      }
      sb.toString
    }

  private[graft] val Tailorings: Map[String, Tailoring] = Map(
    "es" -> Tailoring(
      dropFromFold = "ñ",
      contractions = Nil,
      expansions = Seq("ñ" -> ("n" + TDel)),
      // root weights minus ñ (a primary letter carries no accent rank)
      secFrom = "áàâåäãéèêëíìîïóòôöõúùûüýÿç",
      secTo = "123456" + "1235" + "1235" + "12356" + "1235" + "15" + "7"),
    "sv" -> Tailoring(
      dropFromFold = "äåôöü",
      contractions = Nil,
      expansions = Seq(
        "å" -> ("z" + TDel + "a"),
        "ä" -> ("z" + TDel + "b"), "æ" -> ("z" + TDel + "b"),
        "ô" -> ("z" + TDel + "c"), "ö" -> ("z" + TDel + "c"),
        "ø" -> ("z" + TDel + "c"),
        "ü" -> "y"),
      // root classes minus the tailored letters, plus the measured
      // class-internal ranks: ä<æ, ö<ø<ô, y<ý<ÿ<ü (ü rank 7 > ÿ's 5)
      secFrom = "áàâãéèêëíìîïóòõúùûýÿçñäæöøôü",
      secTo = "1236" + "1235" + "1235" + "126" + "123" + "15" + "7" +
        "6" + "12" + "123" + "7"),
    "da" -> Tailoring(
      dropFromFold = "äåöü",
      contractions = Seq("aa" -> AaMark, "Aa" -> AaMarkUl,
        "AA" -> AaMarkUu),
      expansions = Seq(
        "ä" -> ("z" + TDel + "a"), "æ" -> ("z" + TDel + "a"),
        "ö" -> ("z" + TDel + "b"), "ø" -> ("z" + TDel + "b"),
        "å" -> ("z" + TDel + "c"), AaMark -> ("z" + TDel + "c"),
        AaMarkUl -> ("z" + TDel + "c"), AaMarkUu -> ("z" + TDel + "c"),
        "ü" -> "y"),
      // measured: æ<ä and ø<ö (reversed vs sv), aa ≡ å through the
      // secondary level (same digit — all three contraction case
      // variants alike), ô stays in the root o-class
      secFrom = "áàâãéèêëíìîïóòôõúùûýÿçñäæöøåü" + AaMark + AaMarkUl +
        AaMarkUu,
      secTo = "1236" + "1235" + "1235" + "1236" + "123" + "15" + "7" +
        "6" + "21" + "21" + "1" + "7" + "111",
      caseFirstUpper = true,
      // measured å-class tertiary ladder (upper-first): Å < AA < Aa
      // < å < aa; Å takes the generic upper digit '1'
      terOverrides = Seq('å' -> '4', AaMark(0) -> '5',
        AaMarkUl(0) -> '3', AaMarkUu(0) -> '2')),
    "tr" -> Tailoring(
      // measured: a-class keeps ALL root a-accents (incl. ä/å), o/u
      // classes keep theirs; the six tailored primary letters are
      // ç (after c), ğ (after g), ı (between h and i), ö (after o),
      // ş (after s), ü (after u) — none carries a secondary weight
      // (i ≡ İ and ı ≡ I hold through the secondary level)
      dropFromFold = "çöü",
      contractions = Nil,
      expansions = Seq(
        "ç" -> ("c" + TDel), "ğ" -> ("g" + TDel),
        "ı" -> ("h" + TDel), "ö" -> ("o" + TDel),
        "ş" -> ("s" + TDel), "ü" -> ("u" + TDel)),
      secFrom = "áàâåäãéèêëíìîïóòôõúùûýÿñ",
      secTo = "123456" + "1235" + "1235" + "1236" + "123" + "15" + "6",
      preLowerFrom = "Iİ", preLowerTo = "ıi"))

  private[graft] def tailoredFoldCol(c: Column, t: Tailoring): Column = {
    val pre =
      if (t.preLowerFrom.isEmpty) c
      else org.apache.spark.sql.functions.translate(
        c, t.preLowerFrom, t.preLowerTo)
    // contraction runs BEFORE lower (r17): ICU contracts aa/Aa/AA but
    // not aA, so the match must see the original case
    val contracted = lower(contractCol(pre, t.contractions))
    t.expansions.foldLeft(
      org.apache.spark.sql.functions.translate(
        contracted, t.diaFrom, t.diaTo)) { case (acc, (f, r)) =>
      org.apache.spark.sql.functions.replace(acc, lit(f), lit(r)) }
  }

  private[graft] def tailoredFoldLit(s: String, t: Tailoring): String = {
    val pre = s.map { ch =>
      val i = t.preLowerFrom.indexOf(ch)
      if (i >= 0) t.preLowerTo(i) else ch
    }.mkString
    val contracted = contractLit(pre, t.contractions)
      .toLowerCase(java.util.Locale.ROOT)
    val folded = contracted.map { ch =>
      val i = t.diaFrom.indexOf(ch)
      if (i >= 0) t.diaTo(i) else ch
    }.mkString
    t.expansions.foldLeft(folded) { case (acc, (f, r)) =>
      acc.replace(f, r) }
  }

  private[graft] def foldLit(s: String, fold: Boolean): String = {
    // Locale.ROOT: Spark's lower() is locale-independent; a Turkish
    // default JVM locale would otherwise fold 'I' to dotless-ı here
    // and disagree with the column side.
    val lo = s.toLowerCase(java.util.Locale.ROOT)
    if (!fold) lo
    else lo.map { ch =>
      val i = DiaFrom.indexOf(ch)
      if (i >= 0) DiaTo(i) else ch
    }
  }

  // ---- strength-2 secondary ordering (r15) --------------------------
  // ICU root orders equal-primary strings by ACCENT at the secondary
  // level: a < á < à < â < å < ä < ã (measured against icu4j 77's root
  // collator over the whole supported alphabet — the parity spec locks
  // it). The comparison key appends one weight character per non-digit
  // character of the lowered value after a separator: lexicographic
  // order on `primaryFold <SEP> weights` IS primary-then-secondary
  // order, because the separator sorts below every text character (a
  // strict-prefix primary wins before weights are reached, the UCA
  // level rule). Digits contribute NO weight — icu4j measurement:
  // numeric collation ("02" ≡ "2") holds through the TERTIARY level,
  // so equal-value runs of different lengths must not desynchronize
  // the weight string.
  //
  // Per-mark ranks (only marks sharing a base letter ever compare, so
  // ranks need only be consistent per base — these follow ICU root):
  // acute 1, grave 2, circumflex 3, ring 4, diaeresis 5, tilde 6,
  // cedilla 7.
  private[graft] val SecSep = "\u001e" // below all text, like NumRunSep
  private[graft] val SecFrom = "áàâåäãéèêëíìîïóòôöõúùûüýÿçñ"
  private[graft] val SecTo = "123456" + "1235" + "1235" + "12356" +
    "1235" + "15" + "7" + "6"

  /** Secondary-weight string of a column: lower, drop digits (they
    * carry no secondary weight under numeric collation), map accents to
    * their rank digit, everything else to '0'. */
  private[graft] def accentKeyCol(c: Column,
      t: Option[Tailoring] = None): Column = {
    // a tailored locale weights through its OWN table: letters that
    // became primary carry class-internal ranks (or none), and
    // contractions collapse to their one-char marker FIRST so the
    // weight strings of contracted/uncontracted spellings stay
    // positionally aligned ("baad" vs "båd")
    val (from, to) = t.map(x => (x.secFrom, x.secTo))
      .getOrElse((SecFrom, SecTo))
    val pre = t.filter(_.preLowerFrom.nonEmpty)
      .map(x => org.apache.spark.sql.functions.translate(
        c, x.preLowerFrom, x.preLowerTo))
      .getOrElse(c)
    val contracted = lower(
      contractCol(pre, t.toSeq.flatMap(_.contractions)))
    regexp_replace(
      org.apache.spark.sql.functions.translate(
        org.apache.spark.sql.functions.translate(
          contracted, "0123456789", ""),
        from, to),
      "[^1-7]", "0")
  }

  /** Scala twin of [[accentKeyCol]] for the filter's literals. */
  private[graft] def accentKeyLit(s: String,
      t: Option[Tailoring] = None): String = {
    val (from, to) = t.map(x => (x.secFrom, x.secTo))
      .getOrElse((SecFrom, SecTo))
    val preLowered = t.filter(_.preLowerFrom.nonEmpty).map(x =>
      s.map { ch =>
        val i = x.preLowerFrom.indexOf(ch)
        if (i >= 0) x.preLowerTo(i) else ch
      }.mkString).getOrElse(s)
    val contracted = contractLit(preLowered,
      t.toSeq.flatMap(_.contractions))
      .toLowerCase(java.util.Locale.ROOT)
    contracted.flatMap { ch =>
      // ASCII digits ONLY — the column twin's translate drops exactly
      // '0'-'9'; Char.isDigit also drops non-ASCII digit classes
      // (e.g. '٣'), which would misalign the two key strings (r18)
      if (ch >= '0' && ch <= '9') ""
      else {
        val i = from.indexOf(ch)
        if (i >= 0) to(i).toString else "0"
      }
    }
  }

  // ---- strength-3 tertiary (case) level for tailored locales (r17) --
  // ICU tertiary over the supported alphabet is CASE: equal
  // primary+secondary strings order by per-position case digits —
  // lower-first for es/sv/tr, UPPER-first for da (measured: A < a) —
  // with digits dropped (icu4j measurement: numeric collation holds
  // through the tertiary level) and the da å-class ladder interleaving
  // the contraction case variants (Å < AA < Aa < å < aa). Appended as
  // a third level after [[TerSep]]; equal-secondary strings have
  // positionally aligned case strings (same contraction positions, by
  // primary equality), so lexicographic key order IS the three-level
  // UCA order.
  private[graft] val TerSep = "\u001d" // below all text, like SecSep
  private[graft] val CaseLower =
    "abcdefghijklmnopqrstuvwxyz" + DiaFrom + "æøğış"
  private[graft] val CaseUpper =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ" + "ÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝŸ" +
      "ÆØĞİŞ"

  /** Case-level carrier for the ROOT-class locales at strength 3
    * (fr/de/it/pt/nl, r17): no tailoring — root secondary tables,
    * lower-first case, no contractions/overrides. Only [[caseKeyCol]]
    * reads it (those locales keep the None-tailoring primary and
    * secondary paths). */
  private[graft] val RootCaseTailoring: Tailoring =
    Tailoring("", Nil, Nil, SecFrom, SecTo)

  private def terTables(t: Tailoring): (String, String) = {
    val (lowD, upD) = if (t.caseFirstUpper) ('2', '1') else ('1', '2')
    val over = t.terOverrides.map(_._1).toSet
    val lo = CaseLower.filterNot(over)
    val up = CaseUpper.filterNot(over)
    (t.terOverrides.map(_._1).mkString + lo + up,
      t.terOverrides.map(_._2).mkString +
        lowD.toString * lo.length + upD.toString * up.length)
  }

  /** Tertiary (case) weight string of a column: contraction scan on
    * the ORIGINAL case (NO preLower — tr's I → ı translate is exactly
    * the case information this level encodes), drop digits, one digit
    * per remaining char. */
  private[graft] def caseKeyCol(c: Column, t: Tailoring): Column = {
    val (from, to) = terTables(t)
    regexp_replace(
      org.apache.spark.sql.functions.translate(
        org.apache.spark.sql.functions.translate(
          contractCol(c, t.contractions), "0123456789", ""),
        from, to),
      "[^1-7]", "0")
  }

  /** Scala twin of [[caseKeyCol]]. */
  private[graft] def caseKeyLit(s: String, t: Tailoring): String = {
    val (from, to) = terTables(t)
    contractLit(s, t.contractions).flatMap { ch =>
      // ASCII digits ONLY — match caseKeyCol's translate exactly (r18)
      if (ch >= '0' && ch <= '9') ""
      else {
        val i = from.indexOf(ch)
        if (i >= 0) to(i).toString else "0"
      }
    }
  }

  /** ONE tokenizer for every `$text` surface — the scan-path
    * predicate, the index-path serving, and the phrase/fuzzy parser —
    * so the surfaces can never tokenize differently. */
  private[graft] def textTokensOf(s: String): Seq[String] =
    s.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** Mongo `$search` string → distinct lowercase terms, for the
    * SCAN-path `$text` predicate. Quoted phrases and `~`-fuzzy are
    * served only by the INDEX path (`Collection.textFind`, r15) —
    * here they stay loud; `-negation` is loud everywhere. */
  private[graft] def textSearchTerms(search: String): Seq[String] = {
    require(!search.exists(c => c == '"' || c == '-' || c == '~'),
      s"$$text phrases/fuzzy/negation need the text index path " +
        s"(textFind); the scan predicate takes plain terms: $search")
    val terms = textTokensOf(search).distinct
    require(terms.nonEmpty, s"$$text needs at least one term")
    terms
  }

  /** Parsed `$search` for the index path (r15): plain terms, quoted
    * phrases, and single-edit fuzzy terms (`term~` — Lucene's marker;
    * Mongo's own $text has no fuzzy, so this is extension surface).
    * `-negation` stays loud. */
  final case class TextQuery(terms: Seq[String],
      phrases: Seq[Seq[String]], fuzzy: Seq[String]) {
    def plainOnly: Boolean = phrases.isEmpty && fuzzy.isEmpty
  }

  private[graft] def parseTextSearch(search: String): TextQuery = {
    require(!search.contains("-"),
      s"$$text negation unsupported: $search")
    require(search.count(_ == '"') % 2 == 0,
      s"$$text unbalanced quotes: $search")
    val phrases = collection.mutable.Buffer.empty[Seq[String]]
    val rest = new StringBuilder
    var i = 0
    while (i < search.length) {
      if (search(i) == '"') {
        val j = search.indexOf('"', i + 1)
        val ph = textTokensOf(search.substring(i + 1, j))
        require(ph.nonEmpty, s"$$text empty phrase: $search")
        phrases += ph
        i = j + 1
      } else { rest += search(i); i += 1 }
    }
    val terms = collection.mutable.Buffer.empty[String]
    val fuzzy = collection.mutable.Buffer.empty[String]
    rest.toString.split("\\s+").filter(_.nonEmpty).foreach { w =>
      if (w.endsWith("~")) {
        val t = textTokensOf(w.dropRight(1))
        require(t.size == 1, s"$$text fuzzy marker takes one term: $w")
        fuzzy += t.head
      } else terms ++= textTokensOf(w)
    }
    val q = TextQuery(terms.distinct.toSeq,
      phrases.distinct.toSeq, fuzzy.distinct.toSeq)
    require(q.terms.nonEmpty || q.phrases.nonEmpty || q.fuzzy.nonEmpty,
      s"$$text needs at least one term: $search")
    q
  }

  // ---- numericOrdering (r14) ----------------------------------------
  // Mongo's numeric-string collation: embedded digit RUNS compare by
  // numeric value ("item2" < "item10"). The comparison key normalizes
  // each maximal digit run — leading zeros stripped ("02" ≡ "2", the
  // ICU kn contract), then zero-padded to NumRunWidth — so plain
  // lexicographic order on keys IS numeric-aware order. Both engines
  // build the key with the same RE2-safe regexes (no lookaround: the
  // oracle's DuckDB regex engine has none). Runs longer than
  // NumRunWidth digits raise per row rather than truncate-and-misorder.
  private[graft] val NumRunWidth = 18
  private[graft] val NumRunSep = "\u001f" // ASCII unit separator, outside text data

  /** Numeric-collation key of a string column: split at digit/non-digit
    * boundaries (two capture-group passes insert a US separator), then
    * normalize each digit run. */
  private[graft] def numKeyCol(c: Column): Column = {
    val marked = regexp_replace(
      regexp_replace(c, "([0-9])([^0-9])", s"$$1$NumRunSep$$2"),
      "([^0-9])([0-9])", s"$$1$NumRunSep$$2")
    val parts = split(marked, NumRunSep)
    array_join(transform(parts, p => {
      val run = regexp_replace(p, "^0+([0-9])", "$1")
      when(!p.rlike("^[0-9]+$"), p)
        .when(length(run) > NumRunWidth, raise_error(concat(
          lit(s"numericOrdering: digit run longer than $NumRunWidth " +
            "digits cannot be keyed exactly: "), p)))
        .otherwise(lpad(run, NumRunWidth, "0"))
    }), "")
  }

  /** Scala twin of [[numKeyCol]] for the filter's literals. ASCII
    * digits ONLY — the column twin's regexes scan [0-9]; Char.isDigit
    * would also open a run on non-ASCII digit classes (e.g. '٣') and
    * misalign the two keys (r18, the case/accent ADVICE generalized —
    * this was the third renderer with the same class drift). */
  private[graft] def numKeyLit(s: String): String = {
    def ad(ch: Char): Boolean = ch >= '0' && ch <= '9'
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (ad(s(i))) {
        val j = s.indexWhere(!ad(_), i) match {
          case -1 => s.length; case x => x }
        val run = s.substring(i, j).dropWhile(_ == '0') match {
          case "" => "0"; case r => r }
        require(run.length <= NumRunWidth,
          s"numericOrdering: digit run longer than $NumRunWidth " +
            s"digits cannot be keyed exactly: ${s.substring(i, j)}")
        out ++= ("0" * (NumRunWidth - run.length)) ++= run
        i = j
      } else { out += s(i); i += 1 }
    }
    out.toString
  }

  /** The full comparison key under a collation: case/diacritic fold,
    * then the numeric-run key (numericOrdering), then — at strength 2 —
    * the accent-weight suffix after [[SecSep]] so equal-primary strings
    * order by ICU secondary weight instead of raw codepoint. At
    * strength 2 the PRIMARY part uses the full diacritic fold (primary
    * weights ignore accents); the suffix restores accent significance
    * for both equality and order. */
  private[graft] def collKeyCol(c: Column, coll: Collation): Column = {
    val folded = coll.tailoring match {
      case Some(t) => tailoredFoldCol(c, t)
      case None if coll.caseInsensitive || coll.tertiaryOrder =>
        foldCol(c, coll.diacriticFold || coll.secondaryOrder ||
          coll.tertiaryOrder)
      case None => c
    }
    val primary = if (coll.numericOrdering) numKeyCol(folded) else folded
    if (coll.tertiaryOrder)
      concat(primary, lit(SecSep), accentKeyCol(c, coll.tailoring),
        lit(TerSep),
        caseKeyCol(c, coll.tailoring.getOrElse(RootCaseTailoring)))
    else if (coll.secondaryOrder)
      concat(primary, lit(SecSep), accentKeyCol(c, coll.tailoring))
    else primary
  }

  private[graft] def collKeyLit(s: String, coll: Collation): String = {
    val folded = coll.tailoring match {
      case Some(t) => tailoredFoldLit(s, t)
      case None if coll.caseInsensitive || coll.tertiaryOrder =>
        foldLit(s, coll.diacriticFold || coll.secondaryOrder ||
          coll.tertiaryOrder)
      case None => s
    }
    val primary = if (coll.numericOrdering) numKeyLit(folded) else folded
    if (coll.tertiaryOrder)
      primary + SecSep + accentKeyLit(s, coll.tailoring) +
        TerSep + caseKeyLit(s, coll.tailoring.getOrElse(RootCaseTailoring))
    else if (coll.secondaryOrder)
      primary + SecSep + accentKeyLit(s, coll.tailoring)
    else primary
  }

  def parseCollation(json: String): Collation = {
    val n = mapper.readTree(json)
    require(n.isObject, s"collation must be a document: $json")
    n.properties().asScala.foreach(e =>
      require(Seq("locale", "strength", "numericOrdering")
        .contains(e.getKey),
        s"unsupported collation option: ${e.getKey} " +
          "(locale/strength/numericOrdering)"))
    val locale = Option(n.get("locale")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("collation requires locale"))
    val strength = Option(n.get("strength")).map(_.asInt()).getOrElse(3)
    require(strength >= 1 && strength <= 3,
      s"unsupported collation strength: $strength " +
        "(1 = primary/fold, 2 = case-insensitive, 3 = default codepoint)")
    // en/simple are exact at every supported strength. The Western
    // European set is exact where MEASURED equal to ICU root — the
    // r15 audit compared every supported-alphabet pair against icu4j
    // 77's locale collators at strengths 1 and 2:
    //   fr/de/it/pt/nl = root at BOTH strengths → allowed at 1 and 2;
    //   es/sv/da (r16) = root plus a [[Tailorings]] table — ñ for es;
    //         å/ä≡æ/ô≡ö≡ø after z and ü≡y for sv; ä≡æ/ö≡ø/å≡aa after
    //         z (with the "aa" contraction) and ü≡y for da — each
    //         implemented exactly by the contraction+expansion key
    //         device and locked pairwise against icu4j's locale
    //         collators at strengths 1 AND 2 (MqlFilterSpec);
    //   tr (r16) = six tailored primary letters (ç ğ ı ö ş ü) plus
    //         the dotless-ı CASE rules, expressed as a translate
    //         BEFORE lower (I → ı, İ → i — the preLower table);
    //         measured i ≡ İ and ı ≡ I through the secondary level.
    val tailored = Set("en", "simple", "fr", "de", "it", "pt", "nl") ++
      Tailorings.keySet
    require(locale == "en" || locale == "simple" ||
      (strength <= 2 && tailored.contains(locale)) ||
      (strength == 3 &&
        (Tailorings.contains(locale) || RootTertiary.contains(locale))),
      s"unsupported collation locale: $locale at strength $strength " +
        "(en/simple at any strength; fr/de/it/pt/nl/es/sv/da/tr at " +
        "strengths 1-3 — tertiary = the icu4j-locked case level, r17; " +
        "other locales need their own measured tables)")
    // numericOrdering is locale-independent (digit runs are digits in
    // every supported locale) and composes with any strength
    val numeric = Option(n.get("numericOrdering")).exists { b =>
      require(b.isBoolean, s"numericOrdering must be a boolean: $b")
      b.asBoolean()
    }
    Collation(locale, strength, numeric)
  }

  /** Rewrite the filter's string literals for a case-insensitive
    * collation (the other half of [[CollatedResolver]]'s lower() on the
    * field side). Exempt by Mongo semantics: $regex/$options (regex
    * ignores collation) and $date (an ISO timestamp, not collatable
    * text). Loud: $elemMatch/$all (array-element compares run through
    * the VARIANT element view, which this engine does not collate) and
    * $expr (its string operands name FIELDS — lowercasing them would
    * corrupt path resolution). Refusing beats silently matching
    * case-sensitively under a collation the caller asked for. */
  private def ciLiterals(node: JsonNode, coll: Collation): JsonNode =
    node match {
    case o if o.isObject =>
      val out = mapper.createObjectNode()
      o.properties().asScala.foreach { e =>
        e.getKey match {
          case "$regex" | "$options" | "$date" =>
            out.set[JsonNode](e.getKey, e.getValue)
          case k @ ("$elemMatch" | "$all" | "$expr") =>
            throw new IllegalArgumentException(
              s"$k under a collation is unsupported " +
                "(not collated on this engine — loud, never silently " +
                "uncollated)")
          case k => out.set[JsonNode](k, ciLiterals(e.getValue, coll))
        }
      }
      out
    case a if a.isArray =>
      val out = mapper.createArrayNode()
      a.elements().asScala.foreach(e => out.add(ciLiterals(e, coll)))
      out
    case t if t.isTextual =>
      com.fasterxml.jackson.databind.node.TextNode
        .valueOf(collKeyLit(t.asText(), coll))
    case other => other
  }

  /** The field-side half of case-insensitive collation: string views
    * fold through lower(); every non-string view passes through
    * untouched (numbers, booleans, timestamps and existence are not
    * collatable). */
  private final class CollatedResolver(inner: FieldResolver,
      coll: Collation) extends FieldResolver {
    override private[filter] def jsonMeta: Option[Column] = inner.jsonMeta
    override private[filter] def rebindJson(parsed: Column):
        (FieldResolver, JsonResolver) = {
      val (ri, jr) = inner.rebindJson(parsed)
      (new CollatedResolver(ri, coll), jr)
    }
    override private[filter] def bindLit(v: Any): Column = inner.bindLit(v)
    def num(f: String): Column = inner.num(f)
    def intNum(f: String): Column = inner.intNum(f)
    def ts(f: String): Column = inner.ts(f)
    def str(f: String): Column = collKeyCol(inner.str(f), coll)
    def bool(f: String): Column = inner.bool(f)
    def arr(f: String): Column =
      transform(inner.arr(f), e => collKeyCol(e, coll))
    def varr(f: String): Column = inner.varr(f)
    def exists(f: String): Column = inner.exists(f)
    def typeName(f: String): Column = inner.typeName(f)
  }

  /** [[toColumn]] under a Mongo collation: strength 3 (or no collation)
    * is the identity; strength 1–2 lowercases both sides of every
    * string comparison — the filter's string literals via
    * [[ciLiterals]] and the document's string views via
    * [[CollatedResolver]] — so $eq/$in/ordering on strings compare
    * case-insensitively while numbers, dates and regexes keep their
    * uncollated semantics (Mongo parity: regex ignores collation). */
  def toColumn(filterJson: String, r: FieldResolver,
      collation: Option[Collation]): Column =
    collation.filter(_.active) match {
      case None => toColumn(filterJson, r)
      case Some(c) =>
        val ciNode = ciLiterals(mapper.readTree(filterJson), c)
        bindAndTranslate(ciNode, r, new CollatedResolver(_, c))
    }

  /** Missing/null-typed comparisons must not poison AND/OR trees: MQL is
    * two-valued, SQL is three-valued. Collapse NULL → false. */
  private def tv(c: Column): Column = coalesce(c, lit(false))

  /** Mongo's `$jsonSchema` find operator — validation-as-predicate,
    * the query-side form of schema validation (FerretDB exposes it the
    * same way). Supported draft-4/BSON subset, one flat level:
    * top-level `bsonType`/`type` (must be "object"), `required`,
    * `properties` with per-field `bsonType`/`type` (string/long/int/
    * integer/double/number/bool/boolean/array/null), `enum`
    * (string/number/bool literals), `minimum`/`maximum` (numeric
    * fields; non-numbers pass, JSON-Schema keyword-applicability
    * rules), `minLength`/`maxLength`/`pattern` (string fields;
    * non-strings pass). JSON-Schema semantics throughout: a property
    * constraint applies ONLY when the field is present — absence
    * fails nothing except `required`. Everything else (nested
    * objects/items/additionalProperties/$ref/allOf...) is loudly
    * unsupported, never silently ignored: a validator that skips a
    * rule it doesn't know admits exactly the documents the rule was
    * written to reject. */
  private def jsonSchemaPred(schema: JsonNode, r: FieldResolver): Column = {
    require(schema.isObject, s"$$jsonSchema must be an object: $schema")
    val topAllowed =
      Set("bsonType", "type", "required", "properties", "title",
        "description")
    schema.properties().asScala.foreach(e =>
      require(topAllowed(e.getKey),
        s"unsupported $$jsonSchema keyword: ${e.getKey} (scope: " +
          s"${topAllowed.toSeq.sorted.mkString("/")}) — loud by " +
          "contract, a skipped rule admits what it was written to " +
          "reject"))
    Seq(Option(schema.get("bsonType")), Option(schema.get("type")))
      .flatten.foreach(t => require(t.asText() == "object",
        s"top-level $$jsonSchema type must be \"object\": $t"))
    // typeName buckets for a bsonType/type keyword value
    def typeNames(t: String): Seq[String] = t match {
      case "string" => Seq("string")
      case "long" | "int" | "integer" => Seq("long")
      case "double" => Seq("double")
      case "number" => Seq("long", "double")
      case "bool" | "boolean" => Seq("bool")
      case "array" => Seq("array")
      case "null" => Seq("null")
      case other => throw new IllegalArgumentException(
        s"unsupported $$jsonSchema bsonType: $other")
    }
    val required: Seq[Column] =
      Option(schema.get("required")).toSeq.flatMap { req =>
        require(req.isArray, s"required must be an array: $req")
        req.elements().asScala.toSeq.map(f => r.exists(f.asText()))
      }
    val propChecks: Seq[Column] =
      Option(schema.get("properties")).toSeq.flatMap { props =>
        require(props.isObject, s"properties must be an object: $props")
        props.properties().asScala.toSeq.map { p =>
          val f = p.getKey
          val sub = p.getValue
          require(sub.isObject,
            s"property schema for '$f' must be an object: $sub")
          val subAllowed = Set("bsonType", "type", "enum", "minimum",
            "maximum", "minLength", "maxLength", "pattern", "title",
            "description")
          sub.properties().asScala.foreach(e =>
            require(subAllowed(e.getKey),
              s"unsupported $$jsonSchema property keyword for " +
                s"'$f': ${e.getKey} (scope: " +
                s"${subAllowed.toSeq.sorted.mkString("/")})"))
          val isNum = r.typeName(f).isin("long", "double")
          val isStr = r.typeName(f) === "string"
          val cs = scala.collection.mutable.Buffer.empty[Column]
          Seq(Option(sub.get("bsonType")), Option(sub.get("type")))
            .flatten.foreach { t =>
              cs += tv(r.typeName(f).isin(typeNames(t.asText()): _*))
            }
          Option(sub.get("enum")).foreach { en =>
            require(en.isArray && en.size() > 0,
              s"enum for '$f' must be a non-empty array: $en")
            val alts = en.elements().asScala.toSeq.map { lit0 =>
              if (lit0.isTextual) tv(r.str(f) === lit(lit0.asText()))
              else if (lit0.isIntegralNumber && lit0.canConvertToLong)
                tv(r.intNum(f) === lit(lit0.asLong())) ||
                  tv(r.num(f) === lit(lit0.asDouble()))
              else if (lit0.isNumber)
                tv(r.num(f) === lit(lit0.asDouble()))
              else if (lit0.isBoolean)
                tv(r.bool(f) === lit(lit0.asBoolean()))
              else throw new IllegalArgumentException(
                s"unsupported enum literal for '$f': $lit0")
            }
            cs += alts.reduce(_ || _)
          }
          def numBound(key: String)(cmp: (Column, Column) => Column)
              : Unit = Option(sub.get(key)).foreach { b =>
            require(b.isNumber, s"$key for '$f' must be a number: $b")
            cs += when(isNum, cmp(r.num(f), lit(b.asDouble())))
              .otherwise(lit(true))
          }
          numBound("minimum")(_ >= _)
          numBound("maximum")(_ <= _)
          def lenBound(key: String)(cmp: (Column, Column) => Column)
              : Unit = Option(sub.get(key)).foreach { b =>
            require(b.isIntegralNumber && b.asLong() >= 0,
              s"$key for '$f' must be a non-negative integer: $b")
            cs += when(isStr, cmp(length(r.str(f)), lit(b.asLong())))
              .otherwise(lit(true))
          }
          lenBound("minLength")(_ >= _)
          lenBound("maxLength")(_ <= _)
          Option(sub.get("pattern")).foreach { pat =>
            require(pat.isTextual,
              s"pattern for '$f' must be a string: $pat")
            cs += when(isStr, r.str(f).rlike(pat.asText()))
              .otherwise(lit(true))
          }
          val all = cs.reduceOption(_ && _).getOrElse(lit(true))
          // JSON-Schema applicability: constraints bind only when the
          // field is present; absence fails only `required`
          !tv(r.exists(f)) || tv(all)
        }
      }
    (required ++ propChecks).reduceOption(_ && _).getOrElse(lit(true))
  }

  private def translate(node: JsonNode, r: FieldResolver): Column = {
    require(node.isObject, s"MQL filter must be an object, got: $node")
    val clauses = node.properties().asScala.toSeq.map { e =>
      (e.getKey, e.getValue) match {
        case ("$and", v) => v.elements().asScala.map(translate(_, r))
          .reduceLeft(_ && _)
        case ("$or", v) => v.elements().asScala.map(translate(_, r))
          .reduceLeft(_ || _)
        case ("$nor", v) => !v.elements().asScala.map(translate(_, r))
          .reduceLeft(_ || _)
        case ("$expr", v) => tv(exprBool(v, r))
        case ("$jsonSchema", v) => jsonSchemaPred(v, r)
        case ("$text", v) =>
          // {"$text": {"$search": "w1 w2 ..."}} — Mongo's text-index
          // predicate in its OR-of-terms form: match if ANY search term
          // appears among the document's [a-z0-9]+ tokens (lowercased —
          // Mongo's default-insensitive). The column searched
          // is the frame's `text` column (overridable via conf
          // graft.mql.text_column at the query site by pre-aliasing) —
          // a lazy name reference, resolved when the predicate binds.
          // {"$language": "english"} (r17) selects the baked English
          // analyzer — stop-word removal + the table-driven stemmer,
          // applied to BOTH the query terms (driver side) and the
          // document tokens (Catalyst side) from the ONE rule table
          // ([[graft.functions.Stemmer]]). ABSENT defaults to english
          // (r18 — Mongo's default text-index language is english, so
          // the plain spelling must stem and stop-filter exactly like
          // Mongo's; r17 defaulted to exact-token, silently diverging
          // on the most common spelling); "none" keeps the exact-token
          // match; any other analyzer stays loud.
          require(v.isObject && v.get("$search") != null &&
            v.get("$search").isTextual,
            s"""$$text needs {"$$search": "terms"}: $v""")
          // option surface validated (r17): an unknown key — or a
          // sensitivity flag this engine doesn't implement — must not
          // silently fall back to the default matching semantics
          v.properties().asScala.foreach(e => require(
            Seq("$search", "$language", "$caseSensitive",
              "$diacriticSensitive").contains(e.getKey),
            s"unsupported $$text option: ${e.getKey}"))
          for (k <- Seq("$caseSensitive", "$diacriticSensitive"))
            require(Option(v.get(k)).forall(n =>
              n.isBoolean && !n.asBoolean()),
              s"$$text $k: true is unsupported (matching is " +
                "case/diacritic-insensitive — Mongo's default); " +
                "omit the flag or pass false")
          val lang = Option(v.get("$language")).map(_.asText())
            .getOrElse("english")
          val search = v.get("$search").asText()
          // r18: the baked-analyzer set widened to es/fr/de through
          // [[graft.functions.Stemmer.analyzerFor]] (loud for unbaked
          // languages); "none" keeps the exact-token match
          graft.functions.Stemmer.analyzerFor(lang) match {
            case None =>
              arrays_overlap(
                graft.functions.TextFunctions.tokens(col("text")),
                typedLit(textSearchTerms(search)))
            case Some(a) =>
              arrays_overlap(a.docTokens(col("text")),
                typedLit(a.searchTerms(search)))
          }
        case (field, v) if v.isObject && isOpObject(v) =>
          opObjectPred(field, v, r)
        case (field, v) => fieldOp(field, "$eq", v, r)
      }
    }
    // MQL: the empty filter {} matches everything.
    clauses.reduceLeftOption(_ && _).getOrElse(lit(true))
  }

  // -------------------------------------------------------------------
  // $expr — aggregation expressions inside find filters (the standard
  // Mongo form {$expr: {...}} FerretDB accepts through the delegated
  // filter). Comparisons take ARRAY operands ({$gt: ["$a", e]}) and
  // resolve field refs through the NUMERIC view unless the opposite
  // operand is string-shaped (a string literal or a string operator),
  // in which case both sides go through the STRING view — the same
  // per-position bracketing MqlPipeline's $cond documents. Arithmetic
  // is double math (MQL's cross-numeric bracketing).
  // -------------------------------------------------------------------

  /** Is this operand string-shaped (string literal or string operator)? */
  private def isStrShaped(n: JsonNode): Boolean =
    (n.isTextual && !n.asText().startsWith("$")) ||
      (n.isObject && n.size() == 1 && {
        val k = n.properties().asScala.head.getKey
        k == "$concat" || k == "$toUpper" || k == "$toLower"
      })

  /** Numeric view of an $expr operand. */
  private def exprNum(n: JsonNode, r: FieldResolver): Column =
    if (n.isNumber) lit(n.asDouble())
    else if (n.isTextual && n.asText().startsWith("$"))
      r.num(n.asText().drop(1))
    else if (n.isObject && n.size() == 1) {
      val e = n.properties().asScala.head
      lazy val args = e.getValue.elements().asScala.toSeq
        .map(exprNum(_, r))
      e.getKey match {
        case "$add" => args.reduceLeft(_ + _)
        case "$subtract" => val Seq(a, b) = args; a - b
        case "$multiply" => args.reduceLeft(_ * _)
        case "$divide" => val Seq(a, b) = args; a / b
        case "$abs" => abs(exprNum(e.getValue, r))
        case "$toDouble" => exprNum(e.getValue, r)
        case "$toLong" =>
          exprNum(e.getValue, r).cast("long").cast("double")
        case "$cond" => // [if, then, else] — numeric branches
          val Seq(c, t, f) = e.getValue.elements().asScala.toSeq
          when(tv(exprBool(c, r)), exprNum(t, r)).otherwise(exprNum(f, r))
        case "$ifNull" => // first non-null operand
          coalesce(e.getValue.elements().asScala.toSeq
            .map(exprNum(_, r)): _*)
        case other => throw new IllegalArgumentException(
          s"unsupported $$expr numeric operator: $other")
      }
    } else throw new IllegalArgumentException(s"not numeric: $n")

  /** String view of an $expr operand. */
  private def exprStr(n: JsonNode, r: FieldResolver): Column =
    if (n.isTextual && n.asText().startsWith("$"))
      r.str(n.asText().drop(1))
    else if (n.isTextual) lit(n.asText())
    else if (n.isObject && n.size() == 1) {
      val e = n.properties().asScala.head
      e.getKey match {
        case "$concat" => concat(e.getValue.elements().asScala.toSeq
          .map(exprStr(_, r)): _*)
        case "$toUpper" => upper(exprStr(e.getValue, r))
        case "$toLower" => lower(exprStr(e.getValue, r))
        case other => throw new IllegalArgumentException(
          s"unsupported $$expr string operator: $other")
      }
    } else throw new IllegalArgumentException(s"not a string: $n")

  /** Boolean $expr node: logical combinators and array-operand
    * comparisons. NULL (missing field / wrong-type view) collapses to
    * false at each comparison — MQL's two-valued semantics. */
  private def exprBool(n: JsonNode, r: FieldResolver): Column =
    if (n.isBoolean) lit(n.asBoolean())
    else if (n.isObject && n.size() == 1) {
      val e = n.properties().asScala.head
      def sub = e.getValue.elements().asScala.toSeq
      e.getKey match {
        case "$and" => sub.map(exprBool(_, r)).map(tv).reduceLeft(_ && _)
        case "$or" => sub.map(exprBool(_, r)).map(tv).reduceLeft(_ || _)
        case "$not" => !tv(exprBool(sub.head, r))
        case op @ ("$gt" | "$gte" | "$lt" | "$lte" | "$eq" | "$ne") =>
          val Seq(a, b) = sub
          val cmp: (Column, Column) => Column = op match {
            case "$gt" => _ > _
            case "$gte" => _ >= _
            case "$lt" => _ < _
            case "$lte" => _ <= _
            case "$eq" => _ === _
            case "$ne" => _ =!= _
          }
          if (isStrShaped(a) || isStrShaped(b))
            tv(cmp(exprStr(a, r), exprStr(b, r)))
          else tv(cmp(exprNum(a, r), exprNum(b, r)))
        case other => throw new IllegalArgumentException(
          s"unsupported $$expr operator: $other")
      }
    } else throw new IllegalArgumentException(
      s"unsupported $$expr node: $n")

  /** Mongo extended-JSON date literal: {"$date": "ISO-8601"} — the form
    * FerretDB accepts through the delegated filter
    * (/root/reference/db/db.go:113). NOT an operator object. */
  private def isDateLiteral(v: JsonNode): Boolean =
    v.isObject && v.size() == 1 && v.has("$date") &&
      v.get("$date").isTextual

  private def isOpObject(v: JsonNode): Boolean =
    !isDateLiteral(v) &&
      v.properties().asScala.nonEmpty &&
      v.properties().asScala.forall(_.getKey.startsWith("$"))

  private def cmp(field: String, lit0: JsonNode, r: FieldResolver)(
      op: (Column, Column) => Column): Column = {
    if (lit0.isNumber) {
      // MQL brackets across numeric types but compares EXACTLY: an
      // integral literal against an integral value goes through the long
      // view (a double would silently round past 2^53 — 64-bit ids and
      // byte counts are routine at scale); mixed int/float falls back to
      // double, where the float side already defines the precision.
      if (lit0.isIntegralNumber && lit0.canConvertToLong)
        tv(coalesce(
          op(r.intNum(field), r.bindLit(lit0.asLong())),
          op(r.num(field), r.bindLit(lit0.asDouble()))))
      else tv(op(r.num(field), r.bindLit(lit0.asDouble())))
    }
    else if (lit0.isTextual) tv(op(r.str(field), lit(lit0.asText())))
    else if (lit0.isBoolean) tv(op(r.bool(field), lit(lit0.asBoolean())))
    else if (lit0.isNull) !r.exists(field) || r.typeName(field) === "null"
    else if (isDateLiteral(lit0))
      tv(op(r.ts(field), to_timestamp(lit(lit0.get("$date").asText()))))
    else throw new IllegalArgumentException(
      s"unsupported literal for $field: $lit0")
  }

  /** Conjunction over a field's operator object, with $options paired to
    * its sibling $regex ({f: {$regex: "pat", $options: "i"}} — the
    * FerretDB/Mongo form; $options alone is rejected). Shared by the
    * translate branch and field-level $not. */
  private def opObjectPred(field: String, v: JsonNode,
      r: FieldResolver): Column = {
    val ops = v.properties().asScala.toSeq
    val regexOpts = ops.find(_.getKey == "$options").map(_.getValue.asText())
    regexOpts.foreach { _ =>
      require(ops.exists(_.getKey == "$regex"),
        "$options requires a sibling $regex") }
    ops.filterNot(_.getKey == "$options")
      .map { op =>
        if (op.getKey == "$regex")
          regexPred(field, op.getValue.asText(), regexOpts.getOrElse(""), r)
        else fieldOp(field, op.getKey, op.getValue, r)
      }
      .reduceLeft(_ && _)
  }

  /** $regex with Mongo $options mapped to inline regex flags — `i m s x`
    * are exactly Java's (?i)(?m)(?s)(?x), so the flags travel inside the
    * pattern and any regex-capable engine evaluates them identically. */
  private def regexPred(field: String, pattern: String, options: String,
      r: FieldResolver): Column = {
    val known = options.filter("imsx".contains(_))
    require(known.length == options.length,
      s"unsupported $$options flags: $options")
    val pat = if (known.isEmpty) pattern else s"(?$known)$pattern"
    tv(r.str(field).rlike(pat))
  }

  /** Bracketed comparison of ONE variant array element against a JSON
    * literal — the element-level twin of [[cmp]]: integral×integral goes
    * through long (exact past 2^53), numeric otherwise through double,
    * strings only against strings, booleans against booleans. Null when
    * the element's type doesn't bracket with the literal. */
  private def elemCmp(e: Column, lit0: JsonNode)(
      op: (Column, Column) => Column): Column = {
    def view(kind: String) = graft.expr.VariantView.column(e, kind)
    if (lit0.isNumber) {
      val dbl = op(view("num"), lit(lit0.asDouble()))
      if (lit0.isIntegralNumber && lit0.canConvertToLong)
        coalesce(op(view("intNum"), lit(lit0.asLong())), dbl)
      else dbl
    }
    else if (lit0.isTextual) op(view("str"), lit(lit0.asText()))
    else if (lit0.isBoolean) op(view("bool"), lit(lit0.asBoolean()))
    else if (isDateLiteral(lit0))
      op(try_to_timestamp(view("str")),
        to_timestamp(lit(lit0.get("$date").asText())))
    else throw new IllegalArgumentException(
      s"unsupported array-element literal: $lit0")
  }

  private def fieldOp(field: String, op: String, v: JsonNode,
      r: FieldResolver): Column = op match {
    case "$eq"  => cmp(field, v, r)(_ === _)
    case "$ne"  => !cmp(field, v, r)(_ === _)
    case "$gt"  => cmp(field, v, r)(_ > _)
    case "$gte" => cmp(field, v, r)(_ >= _)
    case "$lt"  => cmp(field, v, r)(_ < _)
    case "$lte" => cmp(field, v, r)(_ <= _)
    case "$in" =>
      v.elements().asScala.map(e => cmp(field, e, r)(_ === _))
        .reduceLeftOption(_ || _).getOrElse(lit(false))
    case "$nin" =>
      !v.elements().asScala.map(e => cmp(field, e, r)(_ === _))
        .reduceLeftOption(_ || _).getOrElse(lit(false))
    case "$not" =>
      // MQL's $not is a FIELD-level wrapper around an operator object:
      // {field: {$not: {$gt: 3}}}. Top-level {$not: ...} is invalid MQL
      // and is rejected by translate (no such case there).
      require(v.isObject && isOpObject(v),
        s"$$not operand must be an operator object, got: $v")
      !opObjectPred(field, v, r)
    case "$mod" =>
      // {field: {$mod: [divisor, remainder]}} — numeric only, remainder
      // carries the dividend's sign (Java/SQL % semantics, which is also
      // Mongo's for integral dividends)
      val args = v.elements().asScala.toSeq
      require(args.length == 2 && args.forall(_.isNumber),
        s"$$mod operand must be [divisor, remainder], got: $v")
      // Mongo rejects a zero divisor; silently-matching-nothing (the NaN
      // % result collapsed by tv) would hide the caller's bug
      require(args(0).asDouble() != 0.0, "$mod divisor cannot be 0")
      // integral args on an integral value → exact long arithmetic
      // (double % collapses dividends past 2^53); mixed falls to double
      if (args.forall(a => a.isIntegralNumber && a.canConvertToLong))
        tv(coalesce(r.intNum(field) % r.bindLit(args(0).asLong()) ===
            r.bindLit(args(1).asLong()),
          r.num(field) % r.bindLit(args(0).asDouble()) ===
            r.bindLit(args(1).asDouble())))
      else tv(r.num(field) % r.bindLit(args(0).asDouble()) ===
        r.bindLit(args(1).asDouble()))
    case "$geoWithin" =>
      // Mongo's find-side geo containment: the field is an integral
      // [x, y] point ([lon, lat] microdegrees for the spherical shape),
      // the shape one of — $box (opposite corners), $center ([[x,y], r],
      // exact integer dist² ≤ r²), $polygon (≥3 integer vertices,
      // boundary-INCLUSIVE point-in-polygon: an exact on-segment
      // cross-product test per edge, plus ray-casting parity where
      // every per-edge comparison is cross-multiplied by the edge's
      // y-span — whose sign is a driver-side literal, so the
      // inequality direction is chosen at translate time and NO
      // division ever runs), or $centerSphere ([[lon, lat], r] on the
      // [[sphereDist2]] surrogate metric — antimeridian-wrapped,
      // latitude-scaled, integer-exact). $geometry (full GeoJSON
      // polygons on the sphere) stays loud. Documents without a
      // valid 2-element integral point never match (Mongo's behavior
      // for missing/invalid geo fields).
      require(v.isObject && v.properties().size() == 1,
        s"$$geoWithin needs exactly one shape operator: $v")
      val shape = v.properties().iterator().next()
      val pt = r.varr(field)
      def coord(i: Int): Column =
        try_variant_get(element_at(pt, i), "$", "long")
      val px = coord(1)
      val py = coord(2)
      def parsePoint(n: JsonNode, what: String): (Long, Long) = {
        require(n != null && n.isArray && n.size() == 2 &&
          n.get(0).isIntegralNumber && n.get(1).isIntegralNumber,
          s"$what must be an [x, y] integer point on the planar " +
            s"grid: $n")
        (n.get(0).asLong(), n.get(1).asLong())
      }
      val inside: Column = shape.getKey match {
        case "$box" =>
          val c0 = shape.getValue
          require(c0.isArray && c0.size() == 2,
            s"$$box needs [[x1, y1], [x2, y2]]: $c0")
          val (x1, y1) = parsePoint(c0.get(0), "$box corner")
          val (x2, y2) = parsePoint(c0.get(1), "$box corner")
          px.between(math.min(x1, x2), math.max(x1, x2)) &&
            py.between(math.min(y1, y2), math.max(y1, y2))
        case "$center" =>
          val c0 = shape.getValue
          require(c0.isArray && c0.size() == 2 &&
            c0.get(1).isIntegralNumber && c0.get(1).asLong() >= 0,
            s"$$center needs [[x, y], radius] with an integer " +
              s"radius: $c0")
          val (cx, cy) = parsePoint(c0.get(0), "$center point")
          val rad = c0.get(1).asLong()
          val dx = px - cx
          val dy = py - cy
          dx * dx + dy * dy <= rad * rad
        case "$centerSphere" =>
          // the spherical containment twin of $center, on the
          // [[sphereDist2]] surrogate metric: [[lon, lat] integer
          // microdegrees, integer radius in grid units] (Mongo's
          // radians radius maps to grid units here, exactly as
          // $center's meters map to the planar grid)
          val c0 = shape.getValue
          require(c0.isArray && c0.size() == 2 &&
            c0.get(1).isIntegralNumber && c0.get(1).asLong() >= 0 &&
            c0.get(1).asLong() <= 2000000000L,
            s"$$centerSphere needs [[lon, lat], radius] with an " +
              s"integer radius in [0, 2e9] grid units: $c0")
          val (cx, cy) = parsePoint(c0.get(0), "$centerSphere point")
          val rad = c0.get(1).asLong()
          sphereDist2(px, py, cx, cy) <= rad * rad
        case "$polygon" =>
          val vs0 = shape.getValue
          require(vs0 != null && vs0.isArray && vs0.size() >= 3,
            s"$$polygon needs >= 3 vertices: $vs0")
          val vs = vs0.elements().asScala.toSeq.zipWithIndex
            .map { case (n, i) => parsePoint(n, s"$$polygon vertex $i") }
          // accept an explicitly closed ring (first == last)
          val ring =
            if (vs.length > 3 && vs.head == vs.last) vs.dropRight(1)
            else vs
          require(ring.length >= 3,
            s"$$polygon needs >= 3 distinct vertices: $vs0")
          val edges = ring.zip(ring.tail :+ ring.head)
          val onEdge = edges.map { case ((xa, ya), (xb, yb)) =>
            val cross = (px - xa) * (yb - ya) - (py - ya) * (xb - xa)
            cross === 0L &&
              px.between(math.min(xa, xb), math.max(xa, xb)) &&
              py.between(math.min(ya, yb), math.max(ya, yb))
          }.reduce(_ || _)
          val crossings = edges.flatMap { case ((xa, ya), (xb, yb)) =>
            if (ya == yb) None // horizontal edges never cross the ray
            else {
              // half-open y-span [min, max) — the standard rule that
              // counts a ray through a vertex exactly once
              val spans =
                if (ya < yb) py >= ya && py < yb
                else py >= yb && py < ya
              val d = yb - ya
              val lhs = (px - xa) * d
              val rhs = (py - ya) * (xb - xa)
              Some(spans && (if (d > 0) lhs < rhs else lhs > rhs))
            }
          }
          val parity = crossings
            .map(c => when(c, lit(1)).otherwise(lit(0)))
            .reduce(_ + _) % 2 === 1
          onEdge || parity
        case other => throw new IllegalArgumentException(
          s"unsupported $$geoWithin shape: $other " +
            "($box/$polygon/$center/$centerSphere only; $geometry " +
            "GeoJSON polygons are spherical geodesics — unsupported " +
            "on the integer grid, loud by contract)")
      }
      tv(size(pt) === 2 && px.isNotNull && py.isNotNull && inside)
    case "$exists" =>
      if (v.asBoolean()) r.exists(field) else !r.exists(field)
    case "$type" => tv(r.typeName(field) === v.asText())
    case "$regex" => regexPred(field, v.asText(), "", r)
    case "$size" => tv(size(r.varr(field)) === v.asInt())
    case "$all" =>
      val elems = v.elements().asScala.toSeq
      elems.map(e => tv(exists(r.varr(field), el => elemCmp(el, e)(_ === _))))
        .reduceLeftOption(_ && _).getOrElse(lit(true))
    case "$elemMatch" if !isOpObject(v) =>
      // embedded-document form: {"items": {"$elemMatch": {"k": "a",
      // "n": {"$gt": 3}}}} — ONE element must satisfy the whole
      // sub-filter. The operand is a full MQL query evaluated against
      // each element as its own document (VariantResolver), so nested
      // $and/$or/$in/$regex/field-$not all work unchanged. Non-array /
      // missing fields give a null element array -> false under tv.
      tv(exists(r.varr(field), e => translate(v, VariantResolver(e))))
    case "$elemMatch" =>
      // operator-object form: {"tags": {"$elemMatch": {"$gt": 3}}} —
      // elements bracket per element (a string "5" never matches a
      // numeric condition), same rules as a top-level field comparison
      val conds = v.properties().asScala.toSeq
      val pred: Column => Column = e => conds.map { c =>
        val litNode = c.getValue
        c.getKey match {
          case "$eq"  => tv(elemCmp(e, litNode)(_ === _))
          // $ne matches differently-typed elements too (MQL semantics)
          case "$ne"  => !tv(elemCmp(e, litNode)(_ === _))
          case "$gt"  => tv(elemCmp(e, litNode)(_ > _))
          case "$gte" => tv(elemCmp(e, litNode)(_ >= _))
          case "$lt"  => tv(elemCmp(e, litNode)(_ < _))
          case "$lte" => tv(elemCmp(e, litNode)(_ <= _))
          case "$regex" =>
            tv(try_variant_get(e, "$", "string").rlike(litNode.asText()))
          case other => throw new IllegalArgumentException(
            s"unsupported $$elemMatch op: $other")
        }
      }.reduceLeft(_ && _)
      tv(exists(r.varr(field), pred))
    case "$bitsAllSet" | "$bitsAllClear" | "$bitsAnySet" |
        "$bitsAnyClear" =>
      // Mongo's bitwise query operators over the int64-exact numeric
      // view. Operand: a non-negative numeric mask or an array of bit
      // positions (0–63; BinData masks are out of scope — loud).
      // Whole-number doubles participate like Mongo (42.0 has bits);
      // fractional values and non-numeric types never match (tv).
      // Negative field values read as two's complement (Mongo).
      val mask: Long =
        if (v.isArray) {
          val ps = v.elements().asScala.toSeq
          require(ps.nonEmpty && ps.forall(_.isIntegralNumber),
            s"$op positions must be a non-empty integer array: $v")
          ps.map(_.asLong()).map { p =>
            require(p >= 0 && p <= 63,
              s"$op bit position out of range [0, 63]: $p")
            1L << p
          }.reduce(_ | _)
        } else if (v.isIntegralNumber && v.canConvertToLong &&
            v.asLong() >= 0) v.asLong()
        else throw new IllegalArgumentException(
          s"$op operand must be a non-negative integer mask or an " +
            s"array of bit positions (BinData unsupported — loud): $v")
      val whole = r.num(field) === floor(r.num(field))
      val iv = coalesce(r.intNum(field),
        when(whole, r.num(field).cast("long")))
      val m = lit(mask)
      op match {
        case "$bitsAllSet" => tv(iv.bitwiseAND(m) === m)
        case "$bitsAllClear" => tv(iv.bitwiseAND(m) === lit(0L))
        case "$bitsAnySet" => tv(iv.bitwiseAND(m) =!= lit(0L))
        case _ => tv(iv.bitwiseAND(m) =!= m)
      }
    case other =>
      throw new IllegalArgumentException(s"unsupported MQL operator: $other")
  }
}
