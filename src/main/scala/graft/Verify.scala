package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration — dump just the queries under work; the driver passes 2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        // Gate-shape discipline (r18): the driver's comparator lexsorts
        // every output column with pandas, which cannot hash
        // array/map/struct cells (the mql_group_nacc r17 `err`). Every
        // ORACLE-BACKED query must therefore emit scalar columns only —
        // fail the dump loudly at authoring time instead of erring the
        // driver's gate at round close.
        if (SparkEntry.oracleSql.contains(name)) {
          val nested = df.schema.fields.collect {
            case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
              || f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]
              || f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
              s"${f.name}: ${f.dataType.simpleString}"
          }
          require(nested.isEmpty, s"oracle-backed query '$name' emits " +
            s"non-scalar column(s) the driver's comparator cannot hash — " +
            s"space-join or unpack them: ${nested.mkString(", ")}")
        }
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // fail LOUDLY on a null/empty oracle (a Scala object-initialization
    // ordering bug once produced "name" -> null, which silently shrank
    // the gate by one query instead of failing the round)
    val bad = SparkEntry.oracleSql.collect {
      case (k, v) if v == null || v.trim.isEmpty => k }
    require(bad.isEmpty, s"null/empty oracle SQL for: ${bad.mkString(", ")}")
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    if (noOracle.nonEmpty) System.err.println(
      s"[verify] WARNING queries without oracle (weaker rows-only check): " +
        noOracle.toSeq.sorted.mkString(", "))
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
