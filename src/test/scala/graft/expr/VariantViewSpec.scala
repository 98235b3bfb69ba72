package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [[VariantView]] against the `schema_of_variant` tests and
  * `try_variant_get` casts it replaced, kind by kind, over every
  * VARIANT type a field can hold: generated code, interpreted
  * evaluation, and a view over an array element. */
class VariantViewSpec extends SparkTestBase {
  import spark.implicits._

  /** JSON values of a field `f`, each type and edge of the bracketing:
    * integers to and past 64 bits (DECIMAL), whole and scaled
    * decimals, scientific notation (DOUBLE), strings that look like
    * numbers, booleans, JSON null, arrays and objects. */
  private val values = Seq("0", "5", "-5", "127", "128", "32768",
    "2147483648", "9007199254740993", "9223372036854775807",
    "-9223372036854775808", "9223372036854775808",
    "-9223372036854775809", "18446744073709551616",
    "99999999999999999999999999999999999999",
    "999999999999999999999999999999999999999", "5.0", "100.0", "0.0",
    "-0.0", "5.5", "0.05", "12345678901234567890.5", "1e2", "1.5E300",
    "-2.5e-3", "\"5\"", "\"\"", "\"abc\"", "\"2024-01-02T03:04:05Z\"",
    "true", "false", "null", "[]", "[1, \"a\", null, [2], {\"x\": 1}]",
    "[\"t1\", \"t2\"]", "{}", "{\"x\": 1}")

  /** Documents `{"f": value}`, one with no `f`, and typed VARIANT
    * values JSON does not produce (FLOAT, DATE, TIMESTAMP, an array of
    * timestamps) under `f` — read from an RDD, so no rule folds the
    * expressions away. */
  private def docs: DataFrame = {
    val json = spark.sparkContext.parallelize(
      values.map(v => s"""{"f": $v}""") :+ """{"g": 1}""", 3).toDF("j")
      .select(parse_json(col("j")).as("d"))
    val ints = spark.sparkContext.parallelize(Seq(1, 2), 2).toDF("i")
    val typed = Seq("cast(i / 3 as float)", "date'2024-01-02' + i",
      "array(timestamp'2024-01-02 03:04:05' + make_interval(0, 0, 0, i))")
      .map(f => ints.selectExpr(s"to_variant_object(named_struct('f', $f)) d"))
      .reduce(_ unionByName _)
    json.unionByName(typed)
  }

  /** The replaced form of view `kind` of field `f` of `d`. */
  private def replaced(d: Column, kind: String): Column = {
    val s = schema_of_variant(variant_get(d, "$.f", "variant"))
    def get(t: String) = try_variant_get(d, "$.f", t)
    val integral = s.isin("BIGINT", "INT", "SMALLINT", "TINYINT") ||
      (s.startsWith("DECIMAL") && s.endsWith(",0)"))
    kind match {
      case "num" => when(s.isin("BIGINT", "DOUBLE", "INT", "SMALLINT",
        "TINYINT", "FLOAT") || s.startsWith("DECIMAL"), get("double"))
      case "intNum" => when(integral, get("long"))
      case "str" => when(s === "STRING", get("string"))
      case "bool" => when(s === "BOOLEAN", get("boolean"))
      case "varr" => get("array<variant>")
      case "arr" => when(s.startsWith("ARRAY"), get("array<string>"))
      case "typeName" =>
        when(s === "STRING", "string")
          .when(s === "BOOLEAN", "bool")
          .when(s === "DOUBLE" || s === "FLOAT" ||
            (s.startsWith("DECIMAL") && !s.endsWith(",0)")), "double")
          .when(s.isin("BIGINT", "INT", "SMALLINT", "TINYINT") ||
            s.startsWith("DECIMAL"), "long")
          .when(s.startsWith("ARRAY"), "array")
          .when(is_variant_null(variant_get(d, "$.f", "variant")) ||
            s === "VOID", "null")
          .otherwise(lit(null).cast("string"))
    }
  }

  private val kinds =
    Seq("num", "intNum", "str", "bool", "varr", "arr", "typeName")

  /** Each kind's (new, replaced) values per document, as text. */
  private def pairs(df: DataFrame): Seq[(String, Seq[(String, String)])] = {
    val d = col("d")
    val cols = kinds.flatMap(k => Seq(
      VariantView.column(variant_get(d, "$.f", "variant"), k).as(s"n_$k"),
      replaced(d, k).as(s"o_$k")))
    val rows = df.select(d.cast("string").as("doc") +: cols: _*).collect()
    rows.toSeq.map { r =>
      def text(i: Int) = Option(r.get(i)).map {
        case s: scala.collection.Seq[_] =>
          s.map(String.valueOf).mkString("[", "|", "]")
        case x => s"$x:${x.getClass.getSimpleName}"
      }.getOrElse("NULL")
      r.getString(0) ->
        kinds.indices.map(i => (text(1 + 2 * i), text(2 + 2 * i)))
    }
  }

  private def assertSame(df: DataFrame): Unit = {
    val got = pairs(df)
    assert(got.size == values.size + 7)
    for ((doc, vs) <- got; (k, (n, o)) <- kinds.zip(vs))
      assert(n == o, s"$k of $doc: view $n, replaced $o")
  }

  test("every kind equals the schema_of_variant test and try_variant_get " +
      "cast it replaced, over every VARIANT type, in generated code") {
    val conf = "spark.sql.codegen.factoryMode"
    spark.conf.set(conf, "CODEGEN_ONLY")
    try assertSame(docs)
    finally spark.conf.unset(conf)
    // the answers the bracketing is for
    def view(v: String, k: String): Any =
      Seq(s"""{"f": $v}""").toDF("j")
        .select(VariantView.column(variant_get(parse_json(col("j")), "$.f",
          "variant"), k)).head().get(0)
    assert(view("5.0", "intNum") == 5L)
    assert(view("5.5", "intNum") == null && view("5.5", "num") == 5.5)
    assert(view("\"5\"", "num") == null && view("\"5\"", "str") == "5")
    assert(view("9223372036854775808", "intNum") == null)
    assert(view("null", "typeName") == "null")
  }

  test("interpreted evaluation gives the same values") {
    val keys = Seq("spark.sql.codegen.factoryMode",
      "spark.sql.codegen.wholeStage")
    spark.conf.set(keys(0), "NO_CODEGEN")
    spark.conf.set(keys(1), "false")
    try assertSame(docs)
    finally keys.foreach(spark.conf.unset)
  }

  test("a view over an array element brackets as the element's own type") {
    val arr = spark.sparkContext.parallelize(Seq(
      """{"a": [5, 5.0, 5.5, "5", true, null, [5]]}"""), 1).toDF("j")
      .select(try_variant_get(parse_json(col("j")), "$.a", "array<variant>")
        .as("a"))
    val out = arr.select(transform(col("a"), e => struct(
      VariantView.column(e, "intNum"), VariantView.column(e, "num"),
      VariantView.column(e, "str"), VariantView.column(e, "bool"),
      VariantView.column(e, "typeName"))))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(out.map(_.toSeq) == Seq(
      Seq(5L, 5.0, null, null, "long"),
      Seq(5L, 5.0, null, null, "long"),
      Seq(null, 5.5, null, null, "double"),
      Seq(null, null, "5", null, "string"),
      Seq(null, null, null, true, "bool"),
      Seq(null, null, null, null, "null"),
      Seq(null, null, null, null, "array")))
  }
}
