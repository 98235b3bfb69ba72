package graft

/** [[GraftSession]]: the core count comes from SPARK_GRAFT_CPUS or the
  * box, a bad value fails loudly, and a session runs one shuffle
  * partition per core in UTC. */
class GraftSessionSpec extends SparkTestBase {

  private def env(v: String) = Map("SPARK_GRAFT_CPUS" -> v)

  test("cpus: unset uses every processor, a valid value is used as given") {
    assert(GraftSession.cpus(Map.empty) ==
      Runtime.getRuntime.availableProcessors())
    assert(GraftSession.cpus(env("6")) == 6)
    assert(GraftSession.cpus(env(" 2 ")) == 2)
  }

  test("cpus: a malformed or non-positive SPARK_GRAFT_CPUS fails naming " +
      "the variable") {
    for (v <- Seq("8x", "0", "-3", "", "1.5")) {
      val e = intercept[IllegalArgumentException](GraftSession.cpus(env(v)))
      assert(!e.isInstanceOf[NumberFormatException], v)
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("the shared test session: one shuffle partition per master core, " +
      "UTC") {
    val Local = """local\[(\d+)\]""".r
    val cores = spark.sparkContext.master match { case Local(n) => n.toInt }
    assert(cores == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == cores)
    assert(spark.sparkContext.defaultParallelism == cores)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
