package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench's gate timer ([[Bench.timeGate]]) and pass loop
  * ([[Bench.runPass]]), run on the shared session: the split adds up to
  * the wall time, a builder's eager work lands in build, plan is the
  * noop write's one query, and a failing gate does not stop the pass. */
class BenchSpec extends SparkTestBase {

  private def withProbe[T](body: Bench.StageBytes => T): T = {
    val p = new Bench.StageBytes().attach(spark)
    try body(p)
    finally {
      spark.sparkContext.removeSparkListener(p)
      spark.listenerManager.unregister(p)
    }
  }

  private def assertSplit(g: Bench.GateRun): Unit =
    assert(math.abs(g.buildS + g.planS + g.execS - g.sec) < 1e-6 &&
      g.buildS >= 0 && g.planS >= 0 && g.execS >= 0, g)

  /** Joins over a wide projection: enough optimizer work that planning
    * takes whole milliseconds, the tracker's resolution. */
  private def planHeavy: DataFrame = {
    val wide = spark.range(0, 20000, 1, 4)
      .selectExpr("id" +: (0 until 120).map(i => s"id * $i + ${i % 7} c$i"): _*)
    (1 to 4).map(i => wide.selectExpr("id", s"c$i % 5 k$i"))
      .reduce(_.join(_, "id")).filter("k1 < 3").groupBy("k2").count()
  }

  test("gate timer: build + plan + exec is the wall time, and plan comes " +
      "from the write's one QueryExecution") {
    withProbe { p =>
      val g = Bench.timeGate(spark, p, "plan_heavy")(planHeavy)
      assert(g.ok)
      assertSplit(g)
      assert(g.planS > 0 && g.plans == 1, g)
      assert(g.execS > 0 && g.jobs >= 1, g)
    }
  }

  test("gate timer: a builder's localCheckpoint is build time, its job is " +
      "counted, and its query is not the plan") {
    withProbe { p =>
      val plain = Bench.timeGate(spark, p, "plain")(
        spark.range(0, 1000, 1, 2).selectExpr("id * 2 x"))
      var ckptS = 0.0
      val g = Bench.timeGate(spark, p, "ckpt") {
        val t0 = System.nanoTime()
        val c = spark.range(0, 300000, 1, 4)
          .selectExpr("id", "id % 7 k").localCheckpoint()
        ckptS = (System.nanoTime() - t0) / 1e9
        c.selectExpr("k * 2 x")
      }
      assert(plain.ok && g.ok)
      assertSplit(g)
      assert(ckptS > 0 && g.buildS >= ckptS, g)
      assert(g.jobs == plain.jobs + 1, s"plain $plain, checkpointed $g")
      assert(g.plans == 1, g)
    }
  }

  test("groups: seconds per gate-name prefix, in name order, one-gate " +
      "prefixes under other, for the total line") {
    def run(name: String, sec: Double) =
      Bench.GateRun(name, ok = true, sec, sec, 0.0, 0.0, 1, 1, 0L, 0L, 0L, 0L)
    val runs = Seq(run("mql_window_nacc", 1.25), run("kaer_query", 0.5),
      run("mql_match", 2.0), run("kaer_txn", 0.75), run("zorder", 0.04),
      run("xml_roundtrip", 0.3))
    assert(Bench.groups(runs) == """{"kaer":1.3,"mql":3.3,"other":0.3}""")
    assert(Bench.groups(Nil) == "{}")
  }

  test("a failing gate is recorded with ok = false and the pass goes on") {
    withProbe { p =>
      val gates = Seq[(String, (SparkSession, String) => DataFrame)](
        "a_ok" -> ((s, _) => s.range(10).toDF()),
        "b_build_fails" -> ((_, _) => sys.error("builder fails")),
        "c_exec_fails" -> ((s, _) =>
          s.range(10).selectExpr("raise_error('exec fails') x")),
        "d_ok" -> ((s, _) => s.range(10).toDF()))
      val (runs, _) = Bench.runPass(spark, p, sf0001, 1, gates)
      assert(runs.map(r => r.name -> r.ok) == Seq("a_ok" -> true,
        "b_build_fails" -> false, "c_exec_fails" -> false, "d_ok" -> true))
      runs.foreach(assertSplit)
      val b = runs(1)
      assert(b.planS == 0 && b.execS == 0 && b.plans == 0 && b.jobs == 0, b)
      assert(runs.filter(_.name != "b_build_fails").forall(_.plans == 1),
        runs)
    }
  }
}
