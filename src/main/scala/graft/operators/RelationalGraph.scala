package graft.operators

import graft.filter.MqlFilter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Graph gates over the co-purchase projection (pagerank,
  * triangles, k-core + the session edge cache) — split from
  * Relational.scala in r11: a PURE MOVE into a mixin trait (see
  * RelationalTpch's note) — zero behavior change. */
private[graft] trait RelationalGraph { this: Relational.type =>
  /** PageRank iteration count for [[graphPagerank]] — fixed and
    * unrolled in the oracle's CTE chain, so keep it small. */
  private val PrIters = 3

  /** Weighted PageRank over the event-type transition graph — the crawl
    * prioritization / domain-ranking operator every corpus pipeline runs
    * over its link graph (CommonCrawl ranks hosts exactly this way; here
    * the graph is [[eventTransitions]]' from→to matrix, but the plan is
    * graph-agnostic: nodes and weighted edges arrive as DataFrames).
    *
    * Exactness contract (the [[lmScore]] discipline applied to an
    * iterative algorithm): ranks live in integer MICRO-UNITS (start
    * 1e6 per node), each edge carries `floor(r_from * w_edge /
    * w_out_total)` — exact long arithmetic, `DIV` floor division — and
    * the damped update is `150000 + (85 * Σcontrib) DIV 100`
    * (d = 0.85 scaled to avoid any float). Every step is
    * reduction-order-free, so a 3-iteration unrolled DuckDB CTE chain
    * reproduces the distributed result bit-for-bit. Dangling nodes
    * (in-edges only) keep the teleport floor — the standard simplified
    * contract, identical in both engines.
    *
    * Scale shape: the transition derivation is the heavy part (one
    * window shuffle over the event log); the rank loop is K shuffle
    * joins on the EDGE table — ranks never leave the cluster, and at
    * web-graph scale each iteration would localCheckpoint to cut
    * lineage (same loop discipline as [[graft.operators.Dedup]]'s
    * label propagation). Edges are computed once and cached across
    * iterations. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val ev = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val edges = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val nodes = ev.select(col("event_type").as("node")).distinct()
    pagerankOver(nodes, edges, PrIters)
  }

  /** The rank loop over any `(node)` / `(from_type, to_type, n)` pair. */
  private[graft] def pagerankOver(nodesIn: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    val outw = edges.groupBy("from_type").agg(sum("n").as("w_out"))
    val weighted = edges.join(outw, "from_type").localCheckpoint(true)
    val nodes = nodesIn.localCheckpoint(true)
    var ranks = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = weighted
        .join(ranks.withColumnRenamed("node", "from_type"), "from_type")
        .select(col("to_type").as("node"),
          expr("r * n DIV w_out").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("85 * coalesce(s, 0L) DIV 100")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_micros"))
      .orderBy(col("rank_micros").desc, col("node"))
  }

  /** Triangle enumeration over the co-purchase graph — the graph-motif
    * operator behind community/spam detection on link graphs. Edges:
    * part pairs co-ordered in ≥2 distinct orders (the ≥2 floor keeps
    * the market-basket graph sparse — a single shared order is noise).
    *
    * Scale shape: the standard DEGREE-ORIENTED (compact-forward) count.
    * Each undirected edge is oriented from its lower-(degree, id)
    * endpoint to the higher, so every wedge pivot fans out over a
    * node's FORWARD degree only — bounded by O(√m) on any graph,
    * which caps the wedge join at O(m^1.5) where the naive id-oriented
    * join is quadratic in the max degree (a celebrity node explodes
    * it). The closing check is a hash equi-join against the (u<v)
    * undirected edge set — never a nested loop. Each triangle is found
    * exactly once (the wedge at its orientation-minimum vertex), then
    * re-sorted to (a<b<c) ids; the oracle enumerates id-oriented
    * directly — same set, so the hash match proves
    * orientation-invariance. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    trianglesOver(coPurchaseEdges(s, dir))

  /** The shared co-purchase edge set: part pairs co-ordered in ≥2
    * distinct orders, undirected as (u < v) — the basket pair counts
    * ([[Mining.basketStats]], a session memo) without their count
    * column. */
  private[graft] def coPurchaseEdges(s: SparkSession,
      dir: String): DataFrame =
    graft.operators.Mining.basketStats(s, dir)._2.select("u", "v")

  /** Bounded k-core peel over the co-purchase graph — the graph-hygiene
    * operator that strips low-connectivity fringe before community/
    * motif work (spam nodes and one-off links fall out first). Each
    * round recomputes degrees over the CURRENT edge set, drops nodes
    * with degree < K, and keeps only edges whose both endpoints
    * survive. The gate runs a FIXED 3 peels (like graph_pagerank's
    * fixed iterations — the bounded-round form an oracle can unroll);
    * full convergence is the same loop run to fixpoint.
    *
    * Scale: each round is one map-side-combined degree aggregation
    * plus two semi-joins on node keys — never a cartesian; the edge
    * set only shrinks, and localCheckpoint truncates the per-round
    * lineage exactly like the pagerank/BPE loops. */
  def graphKcore(s: SparkSession, dir: String): DataFrame =
    kcorePeel(coPurchaseEdges(s, dir), k = 3, rounds = 3)

  /** The bounded peel over any `(u, v)` undirected edge set — split out
    * for hand-graph specs (clique survival, pendant-chain stripping). */
  private[graft] def kcorePeel(undIn: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var edges = undIn.localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("n")
      val prev = edges
      edges = edges
        .join(keep.select(col("n").as("u")), "u", "left_semi")
        .join(keep.select(col("n").as("v")), "v", "left_semi")
        .select("u", "v").localCheckpoint(true)
      // superseded round's checkpoint has no consumer left (r19, §5);
      // round 1 releases the peel's own entry checkpoint (undIn itself
      // is untouched)
      org.apache.spark.sql.graft.StorageBridge.release(prev)
    }
    edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .select(col("n").as("node"), col("deg"))
      .orderBy("node")
  }

  /** The oriented triangle count over any `(u, v)` undirected edge set
    * with u < v — split out for hand-graph specs (hub orientation,
    * K4 completeness). */
  private[graft] def trianglesOver(undIn: DataFrame): DataFrame = {
    val und = undIn
      .localCheckpoint(true) // reused: degrees, orientation, closing join
    val deg = und.select(col("u").as("n"))
      .unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val fwd = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .localCheckpoint(true) // pivot side of the wedge join, used twice
    val wedges = fwd.as("e1").join(fwd.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("x"), col("e1.t").as("y"), col("e2.t").as("z"))
    // e1.t < e2.t above ⇒ y < z, matching und's u < v convention
    wedges.join(und, col("y") === col("u") && col("z") === col("v"))
      .select(array_sort(array(col("x"), col("y"), col("z"))).as("t3"))
      .select(element_at(col("t3"), 1).as("a"),
        element_at(col("t3"), 2).as("b"),
        element_at(col("t3"), 3).as("c"))
      .orderBy("a", "b", "c")
  }

  protected def graphOracle: Map[String, String] = Map(
    "graph_pagerank" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) // 1000 AS us FROM events),
        |nx AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS to_type
        |  FROM ev),
        |edges AS (SELECT from_type, to_type, count(*) AS n FROM nx
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |outw AS (SELECT from_type, sum(n) AS w_out FROM edges
        |  GROUP BY 1),
        |we AS (SELECT e.from_type, e.to_type, e.n, o.w_out
        |  FROM edges e JOIN outw o USING (from_type)),
        |nodes AS (SELECT DISTINCT event_type AS node FROM ev),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT we.to_type AS node, sum(r.r * we.n // we.w_out)
        |    AS s FROM we JOIN r0 r ON we.from_type = r.node GROUP BY 1),
        |r1 AS (SELECT n.node, CAST(150000 + 85 * COALESCE(c.s, 0) // 100
        |    AS BIGINT) AS r FROM nodes n LEFT JOIN c1 c USING (node)),
        |c2 AS (SELECT we.to_type AS node, sum(r.r * we.n // we.w_out)
        |    AS s FROM we JOIN r1 r ON we.from_type = r.node GROUP BY 1),
        |r2 AS (SELECT n.node, CAST(150000 + 85 * COALESCE(c.s, 0) // 100
        |    AS BIGINT) AS r FROM nodes n LEFT JOIN c2 c USING (node)),
        |c3 AS (SELECT we.to_type AS node, sum(r.r * we.n // we.w_out)
        |    AS s FROM we JOIN r2 r ON we.from_type = r.node GROUP BY 1),
        |r3 AS (SELECT n.node, CAST(150000 + 85 * COALESCE(c.s, 0) // 100
        |    AS BIGINT) AS r FROM nodes n LEFT JOIN c3 c USING (node))
        |SELECT node, r AS rank_micros FROM r3
        |ORDER BY rank_micros DESC, node""".stripMargin,
    "graph_kcore" -> {
      def round(i: Int): String = {
        val prev = s"e${i - 1}"
        s"""d$i AS (SELECT n, count(*) AS d FROM (
           |  SELECT u AS n FROM $prev UNION ALL SELECT v AS n FROM $prev)
           |  GROUP BY 1),
           |k$i AS (SELECT n FROM d$i WHERE d >= 3),
           |e$i AS (SELECT u, v FROM $prev
           |  WHERE u IN (SELECT n FROM k$i)
           |    AND v IN (SELECT n FROM k$i))""".stripMargin
      }
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |e0 AS (SELECT a.pk AS u, b.pk AS v FROM op a JOIN op b
         |  ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT n AS node, count(*) AS deg FROM (
         |  SELECT u AS n FROM e3 UNION ALL SELECT v AS n FROM e3)
         |GROUP BY 1 ORDER BY node""".stripMargin
    },
    "graph_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT a.pk AS u, b.pk AS v FROM op a
        |  JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        |ORDER BY a, b, c""".stripMargin
  )

  protected def graphQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> (graphPagerank _),
    "graph_triangles" -> (graphTriangles _),
    "graph_kcore" -> (graphKcore _)
  )
}
