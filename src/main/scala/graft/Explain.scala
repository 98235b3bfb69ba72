package graft

/** The plan-dump tool: writes `.explain("formatted")` of each named
  * registered query to `<outDir>/<name>_<tag>.txt`, built on
  * SPARK_GRAFT_SF_DIR in a [[GraftSession.local]] session. Usage:
  *
  *   sbt "runMain graft.Explain plans/r18 before q1_agg rag_eval_metrics"
  *
  * Per-gate timings, including the build/plan/exec split, come from
  * [[Bench]] (`SPARK_GRAFT_ONLY` narrows it to the gates under work).
  *
  * The formatted plan is the optimizer's INITIAL physical plan (AQE
  * final plans only materialize at execution); that is the artifact the
  * plan-shape claims in OPTIMIZATION_r18.md reference — Exchange count,
  * join strategy, PushedFilters/ReadSchema, codegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Explain <outDir> <tag> <query> [<query> ...]")
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      println(s"[explain] wrote $p (${plan.length} chars)")
    }
    spark.stop()
  }
}
