package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pattern-mining and multi-objective operators — the classical
  * warehouse-mining staples that round out the analytics surface:
  *
  *  - [[assocRules]] — pairwise market-basket association rules
  *    (support / confidence / lift) over order baskets, exact-integer
  *    ppm so the ranking sits under the oracle hash.
  *  - [[skylineOrders]] — the Pareto frontier (skyline) of customers
  *    on (spend, order count), via the distributed two-phase
  *    local-skyline → global-skyline reduction.
  *  - [[tsEwma]] — exponentially-weighted moving average of each
  *    user's recent event values with EXACT rational weights (α = 1/5,
  *    so (1−α)^j = 8^j/10^j — every weight is an integer over 10^7 and
  *    the whole statistic evaluates in LONG arithmetic, no float pow).
  *  - [[corpusDrift]] — per-word chi-square divergence between two
  *    corpus slices (the data-drift / mixture-shift detector a training
  *    pipeline runs when a new crawl lands), cross-multiplied in
  *    DECIMAL(38) so the statistic is exact at any corpus size.
  *  - [[graphLpa]] — synchronous label-propagation communities over
  *    the shared co-purchase graph, fixed rounds, deterministic
  *    mode-with-min-label tie-break (unrolled in the oracle exactly
  *    like the pagerank/kcore rounds).
  *
  * Scale notes per operator sit on the member docs; the common theme is
  * the same as the rest of the repo: aggregations with map-side
  * partials, joins on real keys (never cartesian), per-round
  * localCheckpoint on the iterative ops, bounded driver state.
  */
object Mining {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // -------------------------------------------------------------------
  // Association rules (market basket, pair level)
  // -------------------------------------------------------------------

  /** Pairwise association rules over order baskets: for every ordered
    * item pair (ante → cons) co-occurring in ≥ [[MinPairSupport]]
    * baskets, emit the co-occurrence count, confidence (ppm of the
    * antecedent's baskets that also hold the consequent) and lift
    * (ppm, >1e6 ⇒ positive association) — top-20 by lift.
    *
    * Scale: the pair expansion is a self-equi-join on the basket key,
    * O(Σ b²) over per-basket sizes — bounded in practice by a basket
    * cap (TPC-H baskets are ≤ 7 items; a production run caps b and
    * logs the drop). Item counts are a second map-side-combined
    * aggregation; the counts table is O(items) and joins back by item
    * key. All ratios are integer DIV in DECIMAL(38) — exact at any
    * corpus size, same device as the anomaly/chi-square gates.
    */
  /** The shared basket statistics: per-item basket counts, unordered
    * co-occurrence pairs (≥2 floor — both consumers filter at-or-above
    * it), and the basket total. The pair expansion is the dominant cost
    * of both mining gates and of the co-purchase graph gates. Everything
    * here depends only on lineitem.parquet, so each part is a
    * [[graft.core.SessionMemo]] entry over that input: the frames as
    * scratch parquet, the total in memory. */
  private[graft] def basketStats(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long) = {
    val in = Seq(s"$dir/lineitem.parquet")
    def memo(part: String)(build: => DataFrame) =
      graft.core.SessionMemo.frame(s, "basket_stats", s"basket-$part", in)(
        build)
    val op = memo("items")(t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct())
    val itemCnt = memo("itemcnt")(op.groupBy(col("pk"))
      .agg(count(lit(1)).as("c_item")))
    val pairCnt = memo("paircnt")(op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("c_both"))
      .filter(col("c_both") >= 2))
    val nBaskets = graft.core.SessionMemo.value(s, "basket_stats", in)(
      op.select("ok").distinct().count())
    (itemCnt, pairCnt, nBaskets)
  }

  def assocRules(s: SparkSession, dir: String): DataFrame = {
    val (itemCnt, pairs2, nBaskets) = basketStats(s, dir)
    val pairCnt = pairs2.filter(col("c_both") >= MinPairSupport)
    // both rule directions from each unordered pair
    val rules = pairCnt.select(col("u").as("ante"), col("v").as("cons"),
        col("c_both"))
      .unionAll(pairCnt.select(col("v").as("ante"), col("u").as("cons"),
        col("c_both")))
      .join(itemCnt.select(col("pk").as("ante"), col("c_item").as("c_a")),
        "ante")
      .join(itemCnt.select(col("pk").as("cons"), col("c_item").as("c_c")),
        "cons")
    rules
      .withColumn("conf_ppm", expr(
        "CAST((CAST(c_both AS DECIMAL(38,0)) * 1000000)" +
          " DIV c_a AS BIGINT)"))
      .withColumn("lift_ppm", expr(
        s"CAST((CAST(c_both AS DECIMAL(38,0)) * $nBaskets * 1000000)" +
          " DIV (CAST(c_a AS DECIMAL(38,0)) * c_c) AS BIGINT)"))
      .select("ante", "cons", "c_both", "conf_ppm", "lift_ppm")
      .orderBy(col("lift_ppm").desc, col("ante").asc, col("cons").asc)
      .limit(20)
  }

  private val MinPairSupport = 3

  /** Item-item collaborative-filtering neighborhoods — the classic
    * recsys "customers who bought X also bought Y": cosine similarity
    * over basket co-occurrence vectors, cos²(i,j) = c_ij²/(c_i·c_j),
    * kept EXACT as ppm via cross-multiplied DECIMAL DIV (cos² orders
    * identically to cos — no float sqrt anywhere). Top-3 neighbors per
    * item (≥2 shared baskets).
    *
    * Scale: the same basket-key self-equi-join as [[assocRules]]
    * (bounded per-basket), item counts ride key joins; the per-item
    * top-k is a rank-limited window — WindowGroupLimit keeps only
    * k·partitions rows ahead of the shuffle (PlanSpec-locked). */
  def itemSimilarity(s: SparkSession, dir: String): DataFrame = {
    val (itemCnt, pairCnt, _) = basketStats(s, dir)
    val both = pairCnt.select(col("u").as("item"), col("v").as("nbr"),
        col("c_both"))
      .unionAll(pairCnt.select(col("v").as("item"), col("u").as("nbr"),
        col("c_both")))
      .join(itemCnt.select(col("pk").as("item"),
        col("c_item").as("c_i")), "item")
      .join(itemCnt.select(col("pk").as("nbr"),
        col("c_item").as("c_n")), "nbr")
      .withColumn("cos2_ppm", expr(
        "CAST((CAST(c_both AS DECIMAL(38,0)) * c_both * 1000000)" +
          " DIV (CAST(c_i AS DECIMAL(38,0)) * c_n) AS BIGINT)"))
    val w = Window.partitionBy("item")
      .orderBy(col("cos2_ppm").desc, col("nbr").asc)
    both.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("item"), col("rank").cast("long").as("rank"),
        col("nbr"), col("c_both"), col("cos2_ppm"))
      .orderBy("item", "rank")
  }

  // -------------------------------------------------------------------
  // Skyline (Pareto frontier)
  // -------------------------------------------------------------------

  /** Pareto frontier of customers on (total spend, order count), both
    * maximized: a customer is on the skyline iff no other customer is
    * ≥ on both dimensions and > on at least one. Duplicated points
    * (equal on both dims) all survive — the standard skyline contract.
    *
    * Scale: the classic two-phase reduction. Phase 1 computes a LOCAL
    * skyline inside each of 32 deterministic buckets — a parallel
    * sort-based pass (two windows per bucket: max count over strictly
    * greater spend via a value-range frame, and max count among equal
    * spend) that discards the vast majority of points; the local
    * skyline is a superset of the global one (dominance inside a
    * bucket implies dominance globally). Phase 2 re-runs the same two
    * windows globally over the tiny union of survivors (skylines are
    * O(frontier), orders of magnitude smaller than the input). No
    * O(n²) join anywhere; the only global sort touches survivors.
    */
  def skylineOrders(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "orders")
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(sum(col("cents")).as("spend_c"), count(lit(1)).as("n_orders"))
    val local = skylinePass(per.withColumn("b", pmod(col("o_custkey"),
      lit(32L))), partCols = Seq("b")).drop("b")
    skylinePass(local, partCols = Nil)
      .select("o_custkey", "spend_c", "n_orders")
      .orderBy(col("spend_c").desc, col("o_custkey").asc)
  }

  /** One skyline filter pass: survivors have no point with strictly
    * greater spend and ≥ count, and the max count within their spend
    * tie group. `partCols` scopes the windows (bucketed local pass vs
    * the global pass).
    *
    * Frame direction matters (r15 — the sf10 watch-list audit): "max
    * count over strictly greater spend" as `orderBy(spend asc)
    * .rangeBetween(1, unboundedFollowing)` is a SHRINKING frame,
    * which Spark re-aggregates from scratch per row — O(n²) per
    * bucket (measured: the local pass alone was 22 s of the gate's
    * 23 s at sf10, 47k-row buckets). The identical set expressed as
    * `orderBy(spend DESC).rangeBetween(unboundedPreceding, -1)` is a
    * GROWING frame — Spark maintains the max incrementally, O(n).
    * Same rows, same max, 20× the speed at the 1.5M-customer rung. */
  private[graft] def skylinePass(df: DataFrame, partCols: Seq[String])
      : DataFrame = {
    val wGt = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col("spend_c").desc)
      .rangeBetween(Window.unboundedPreceding, -1L)
    val wEq = Window.partitionBy((partCols.map(col) :+ col("spend_c")): _*)
    df.withColumn("_gt", max(col("n_orders")).over(wGt))
      .withColumn("_eq", max(col("n_orders")).over(wEq))
      .filter((col("_gt").isNull || col("_gt") < col("n_orders")) &&
        col("n_orders") === col("_eq"))
      .drop("_gt", "_eq")
  }

  /** Hourly OHLC bars per event type — the time-series downsampling
    * staple (finance candles, metrics rollups): per (type, hour) the
    * OPEN (value at the first (ts, event_id)), HIGH, LOW, CLOSE (value
    * at the last), volume and turnover, all in exact centi-units.
    *
    * Open/close are argmax-IN-AGGREGATE (min_by/max_by on a single
    * scalar key — in-hour micros offset ⊕ event_id packed into one
    * BIGINT, unique because event ids are), so the whole bar table is
    * ONE map-side-combinable aggregation — no per-group window, no
    * second pass; at 10^12 events the plan is a single shuffle on
    * (type, hour). Pack arithmetic: in-hour offset < 3.6·10^9 times
    * 2^30 plus id stays under 2^62, so ids up to 2^30 fit exactly
    * (the r11 sf1 replica's 9·10^7 id space hit the old 2^22 bound).
    * The bound still fails loudly, never silently — past 2^30 ids the
    * composite (offset, id) needs a struct key, which DuckDB's
    * scalar-only arg_min cannot twin. */
  def eventsOhlc(s: SparkSession, dir: String): DataFrame = {
    val e = Relational.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      round(col("value") * 100).cast("long").as("vq"))
    val h = expr("us DIV 3600000000") // integer division, both engines
    val key = (col("us") - col("h") * 3600000000L) * 1073741824L +
      when(col("event_id") < 1073741824L, col("event_id"))
        .otherwise(raise_error(lit("events_ohlc: event_id >= 2^30")))
    e.withColumn("h", h)
      .withColumn("k", key)
      .groupBy("event_type", "h")
      .agg(min_by(col("vq"), col("k")).as("open"),
        max(col("vq")).as("high"), min(col("vq")).as("low"),
        max_by(col("vq"), col("k")).as("close"),
        count(lit(1)).as("volume"), sum(col("vq")).as("turnover"))
      .orderBy("event_type", "h")
  }

  // -------------------------------------------------------------------
  // Exact-rational EWMA
  // -------------------------------------------------------------------

  /** Per-user EWMA (α = 1/5) over the K = 8 most recent event values,
    * in centi-units. The geometric weights (1−α)^j = 8^j/10^j are
    * exact integers once scaled by 10^(K−1): w_j = 8^j·10^(K−1−j), so
    * the statistic is `Σ vq_j·w_j DIV Σ w_j` — pure LONG arithmetic,
    * identical in both engines (no float pow, no rounding-mode drift).
    * Users with fewer than K events use the weight prefix that
    * matches their history (the standard "EWMA of what exists").
    *
    * Scale: ONE user_id shuffle (the same the session family pays);
    * the frame is bounded at K rows via lead() on the descending
    * order, evaluated only at each user's newest row — per-user state
    * is O(K) regardless of history length.
    */
  def tsEwma(s: SparkSession, dir: String): DataFrame = {
    val e = Relational.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"),
        round(col("value") * 100).cast("long").as("vq"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    val weights = EwmaWeights
    val terms = (0 until EwmaK).map { j =>
      val x = if (j == 0) col("vq") else lead(col("vq"), j).over(w)
      (coalesce(x * weights(j), lit(0L)),
        when(x.isNotNull, lit(weights(j))).otherwise(lit(0L)))
    }
    e.withColumn("rn", row_number().over(w))
      .withColumn("num", terms.map(_._1).reduce(_ + _))
      .withColumn("den", terms.map(_._2).reduce(_ + _))
      .withColumn("n_events", count(lit(1)).over(
        Window.partitionBy("user_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
        col("vq").as("last_vq"),
        expr("num DIV den").as("ewma_c"))
      .orderBy("user_id")
  }

  private val EwmaK = 8
  /** w_j = 8^j · 10^(K−1−j): 10^7, 8·10^6, 64·10^5, … 8^7. */
  private[graft] val EwmaWeights: Seq[Long] =
    (0 until EwmaK).map(j => math.pow(8, j).toLong *
      math.pow(10, EwmaK - 1 - j).toLong)

  /** Revenue concentration (the 80/20 analysis): how many top
    * customers cover 50% / 80% / 95% of total revenue. Customers rank
    * by spend (cents, exact) with a deterministic tie-break; the
    * cumulative-share thresholds read off ONE aggregation over the
    * ranked frame (min rank whose running total crosses each
    * threshold, cross-multiplied — no percentage floats).
    *
    * Scale: the ranking window is global but runs on the AGGREGATED
    * customer table (dim-scale, same class as cumulative_users' day
    * axis — the fact-table pass is the groupBy); at catalog scale the
    * distributed-rank device (quantiles_orders_dist) substitutes. */
  def revenuePareto(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "orders")
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("o_custkey").agg(sum(col("cents")).as("spend"))
    val w = Window.orderBy(col("spend").desc, col("o_custkey").asc)
    val ranked = per
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("spend")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.crossJoin(broadcast(per.agg(sum(col("spend")).as("T"))))
      .agg(max(col("T")).as("total_cents"),
        count(lit(1)).as("n_customers"),
        min(when(col("cum") * 100 >= col("T") * 50, col("rn")))
          .as("n_top50_pct"),
        min(when(col("cum") * 100 >= col("T") * 80, col("rn")))
          .as("n_top80_pct"),
        min(when(col("cum") * 100 >= col("T") * 95, col("rn")))
          .as("n_top95_pct"))
  }

  // -------------------------------------------------------------------
  // Corpus drift (chi-square divergence between slices)
  // -------------------------------------------------------------------

  /** Per-word chi-square drift between two corpus slices — the
    * detector a training pipeline runs when a new crawl lands: which
    * words' frequencies moved most between the head and tail domains?
    * For word w with slice counts (c1, c2) and slice totals (N1, N2),
    * the (2×2-homogeneity) statistic is proportional to
    * `(c1·N2 − c2·N1)² / ((c1+c2)·N1·N2)` — a pure rational. Both
    * engines evaluate the cross-multiplied form exactly: Spark in
    * DECIMAL(38,0), the oracle in HUGEINT (the anomaly_events device —
    * the squared products pass LONG long before the counts do).
    * Top-20 drifted words, scaled to ppm of the max-possible statistic.
    *
    * Scale bound: the numerator (c·N)²·10⁶ must fit DECIMAL(38,0), so
    * exactness holds up to slice totals of ~10¹⁵ tokens (≫ any single
    * corpus slice this engine partitions); past that, non-ANSI Spark
    * decimal arithmetic would return NULL silently where the HUGEINT
    * twin errors — keep slices under that bound or pre-bucket counts.
    *
    * Scale: one tokenize+count aggregation per corpus pass (the counts
    * carry both slices in one groupBy via conditional sums — a single
    * shuffle, not one per slice); slice totals are a 1-row broadcast.
    */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("head", substring(col("source"), 4, 2)
        .cast("int") < 12)
      .select(col("head"), explode(tokens(col("text"))).as("word"))
    val counts = d.groupBy("word").agg(
      sum(when(col("head"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("head"), 1L).otherwise(0L)).as("c2"))
    val totals = counts.agg(sum(col("c1")).as("n1"),
      sum(col("c2")).as("n2"))
    counts.crossJoin(broadcast(totals))
      .withColumn("chi_ppm", expr(
        "CAST(((CAST(c1 AS DECIMAL(38,0)) * n2 -" +
          " CAST(c2 AS DECIMAL(38,0)) * n1) *" +
          " (CAST(c1 AS DECIMAL(38,0)) * n2 -" +
          " CAST(c2 AS DECIMAL(38,0)) * n1) * 1000000)" +
          " DIV ((CAST(c1 AS DECIMAL(38,0)) + c2) *" +
          " CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"))
      .select("word", "c1", "c2", "chi_ppm")
      .orderBy(col("chi_ppm").desc, col("word").asc)
      .limit(20)
  }

  /** Day-of-week seasonality profile with an EXACT uniformity
    * statistic — the "is there a weekday effect" check a BI team runs
    * before trusting any weekly rollup. Day-of-week is computed
    * ARITHMETICALLY ((epoch_days + 3) mod 7, 0 = Monday — built-in
    * dayofweek() conventions differ between engines). dev_ppm is the
    * squared per-day deviation from the uniform expectation normalized
    * by TOTAL volume, (n_d − N/7)²·10⁶ / N — cross-multiplied to the
    * integer form (7·n_d − N)²·10⁶ / (49·N) in DECIMAL, exact at any
    * order volume. (This is 1/7 of the classical chi-square
    * contribution (n_d − N/7)²/(N/7): a constant rescale that preserves
    * ordering and the uniformity verdict; the oracle computes the same
    * form.) One map-side-combinable aggregation. */
  def ordersSeasonality(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "orders")
      .select(expr("(unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " DIV 86400000000 + 3) % 7").as("dow"))
      .groupBy("dow").agg(count(lit(1)).as("n_orders"))
    d.crossJoin(broadcast(d.agg(sum(col("n_orders")).as("N"))))
      .withColumn("dev_ppm", expr(
        "CAST(((7 * CAST(n_orders AS DECIMAL(38,0)) - N) *" +
          " (7 * CAST(n_orders AS DECIMAL(38,0)) - N) * 1000000)" +
          " DIV (49 * CAST(N AS DECIMAL(38,0))) AS BIGINT)"))
      .select("dow", "n_orders", "dev_ppm")
      .orderBy("dow")
  }

  /** Schema validation over the VARIANT column — the semi-structured
    * twin of the relational DQ rule catalog: per rule, rows checked
    * and violations, in ONE fused conditional-aggregation scan (no
    * per-rule pass). Rules: parseable object / key `k` present and
    * numeric (text-extraction semantics mirrored in both engines) /
    * `k` inside the contract range / no unexpected keys. Zero-violation
    * rules emit PROVEN-zero rows — absence of evidence made explicit,
    * the dq_checks stance. */
  def dqJsonSchema(s: SparkSession, dir: String): DataFrame = {
    val e = Relational.events(s, dir).select(col("props"))
    val keys = json_object_keys(col("props"))
    val kTxt = get_json_object(col("props"), "$.k")
    val checks = Seq(
      ("r1_object", keys.isNull),
      ("r2_k_numeric", kTxt.isNull || expr(
        "try_cast(get_json_object(props, '$.k') AS DOUBLE) IS NULL")),
      ("r3_k_range", coalesce(
        expr("try_cast(get_json_object(props, '$.k') AS DOUBLE)")
          >= 60.0, lit(false))),
      ("r4_no_extra_keys",
        coalesce(size(array_except(keys, array(lit("k")))) > 0,
          lit(false))))
    val agg = e.agg(count(lit(1)).as("n"),
      checks.map { case (nm, bad) =>
        sum(when(bad, 1L).otherwise(0L)).as(nm) }: _*)
    agg.selectExpr("stack(4, " + checks.map { case (nm, _) =>
        s"'$nm', n, $nm" }.mkString(", ") +
        ") AS (rule, n_checked, n_violations)")
      .orderBy("rule")
  }

  /** Seasonal-naive forecast BACKTEST — the baseline every forecasting
    * pipeline must beat, evaluated honestly: forecast(hour h) =
    * actual(h − 24) per event type, scored over the last
    * [[BacktestHours]] hours of the corpus against both itself and the
    * naive last-value forecast (= actual(h − 1)). Counts are exact
    * LONGs; the MAE numerator/denominator emit as integers (no float
    * division — consumers divide at display time).
    *
    * Scale: one (type, hour) aggregation (map-side combinable), two
    * self-joins on the tiny hour-keyed table (O(types × hours)) — the
    * fact pass is the groupBy; nothing rescans events. Missing base
    * hours (gaps) drop from the scored pairs — count scored pairs
    * explicitly so the denominator is honest. */
  def tsForecastBacktest(s: SparkSession, dir: String): DataFrame = {
    val hourly = Relational.events(s, dir)
      .select(col("event_type"), expr("unix_micros(ts) DIV 3600000000")
        .as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
    val hmax = hourly.agg(max(col("h")).as("hm"))
    val eval = hourly.crossJoin(broadcast(hmax))
      .filter(col("h") > col("hm") - BacktestHours)
    val seasonal = hourly.select(col("event_type"),
      (col("h") + 24).as("h"), col("c").as("f_seasonal"))
    val naive = hourly.select(col("event_type"),
      (col("h") + 1).as("h"), col("c").as("f_naive"))
    eval.join(seasonal, Seq("event_type", "h"))
      .join(naive, Seq("event_type", "h"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("c") - col("f_seasonal"))).as("ae_seasonal"),
        sum(abs(col("c") - col("f_naive"))).as("ae_naive"))
      .orderBy("event_type")
  }

  private val BacktestHours = 168 // one week

  // -------------------------------------------------------------------
  // Label-propagation communities
  // -------------------------------------------------------------------

  /** Synchronous label propagation over the shared co-purchase graph,
    * [[LpaRounds]] fixed rounds: every node starts labeled with its own
    * id; each round it adopts the most frequent label among its
    * neighbors (ties → smallest label — fully deterministic, so the
    * fixed-round run is oracle-unrollable exactly like the pagerank
    * and k-core loops). Output: the community-size census.
    *
    * Scale: each round is one equi-join of the bidirectional adjacency
    * against the O(nodes) label table, one (node, label) count with
    * map-side partials, and one argmax-in-aggregate (min over a
    * (−count, label) struct — no per-node window); localCheckpoint
    * truncates the per-round lineage. Never a cartesian; the label
    * table never exceeds O(nodes).
    */
  def graphLpa(s: SparkSession, dir: String): DataFrame =
    lpaOver(Relational.coPurchaseEdges(s, dir), LpaRounds)

  private[graft] val LpaRounds = 3

  /** The bounded synchronous LPA over any `(u, v)` undirected edge set
    * — split out for hand-graph specs. */
  private[graft] def lpaOver(und: DataFrame, rounds: Int): DataFrame = {
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint(true)
    var labels = adj.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      labels = adj
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
          .as("m"))
        .select(col("node"), col("m.l").as("lbl"))
        .localCheckpoint(true)
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("community").asc)
      .limit(20)
  }

  // -------------------------------------------------------------------
  // Oracles
  // -------------------------------------------------------------------

  val oracle: Map[String, String] = Map(
    "assoc_rules" ->
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |nb AS (SELECT count(DISTINCT ok) AS n FROM op),
         |ic AS (SELECT pk, count(*) AS c_item FROM op GROUP BY 1),
         |pc AS (SELECT a.pk AS u, b.pk AS v, count(*) AS c_both
         |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $MinPairSupport),
         |rules AS (
         |  SELECT u AS ante, v AS cons, c_both FROM pc
         |  UNION ALL
         |  SELECT v AS ante, u AS cons, c_both FROM pc)
         |SELECT ante, cons, c_both,
         |  CAST(r.c_both::HUGEINT * 1000000 // ia.c_item AS BIGINT)
         |    AS conf_ppm,
         |  CAST(r.c_both::HUGEINT * nb.n * 1000000 //
         |    (ia.c_item::HUGEINT * ic2.c_item) AS BIGINT) AS lift_ppm
         |FROM rules r
         |JOIN ic ia ON ia.pk = r.ante
         |JOIN ic ic2 ON ic2.pk = r.cons
         |CROSS JOIN nb
         |ORDER BY lift_ppm DESC, ante, cons LIMIT 20""".stripMargin,
    "item_similarity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |ic AS (SELECT pk, count(*) AS c_item FROM op GROUP BY 1),
        |pc AS (SELECT a.pk AS u, b.pk AS v, count(*) AS c_both
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |bt AS (
        |  SELECT u AS item, v AS nbr, c_both FROM pc
        |  UNION ALL SELECT v, u, c_both FROM pc),
        |sc AS (SELECT b.item, b.nbr, b.c_both,
        |    CAST(b.c_both::HUGEINT * b.c_both * 1000000 //
        |      (ia.c_item::HUGEINT * ib.c_item) AS BIGINT) AS cos2_ppm
        |  FROM bt b
        |  JOIN ic ia ON ia.pk = b.item
        |  JOIN ic ib ON ib.pk = b.nbr),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY item
        |    ORDER BY cos2_ppm DESC, nbr ASC) AS rank FROM sc)
        |SELECT item, CAST(rank AS BIGINT) AS rank, nbr, c_both, cos2_ppm
        |FROM rk WHERE rank <= 3
        |ORDER BY item, rank""".stripMargin,
    "skyline_orders" ->
      """WITH per AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS spend_c,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, spend_c, n_orders FROM per p
        |WHERE NOT EXISTS (SELECT 1 FROM per q
        |  WHERE q.spend_c >= p.spend_c AND q.n_orders >= p.n_orders
        |    AND (q.spend_c > p.spend_c OR q.n_orders > p.n_orders))
        |ORDER BY spend_c DESC, o_custkey""".stripMargin,
    "events_ohlc" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us, event_id,
        |    CAST(round("value" * 100) AS BIGINT) AS vq FROM events),
        |k AS (SELECT event_type, us // 3600000000 AS h, vq,
        |    (us - (us // 3600000000) * 3600000000) * 1073741824
        |      + event_id AS k
        |  FROM e)
        |SELECT event_type, h, arg_min(vq, k) AS open,
        |  max(vq) AS high, min(vq) AS low, arg_max(vq, k) AS close,
        |  count(*) AS volume, CAST(sum(vq) AS BIGINT) AS turnover
        |FROM k GROUP BY 1, 2 ORDER BY event_type, h""".stripMargin,
    "ts_ewma" -> {
      val ws = EwmaWeights
      val xs = (0 until EwmaK).map { j =>
        if (j == 0) "vq" else s"lead(vq, $j) OVER w"
      }
      val num = xs.zip(ws).map { case (x, wt) =>
        s"COALESCE($x * $wt, 0)" }.mkString(" + ")
      val den = xs.zip(ws).map { case (x, wt) =>
        s"CASE WHEN $x IS NOT NULL THEN $wt ELSE 0 END" }
        .mkString(" + ")
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
         |    CAST(round("value" * 100) AS BIGINT) AS vq FROM events),
         |r AS (SELECT user_id, vq,
         |    row_number() OVER w AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n_events,
         |    ($num) AS num, ($den) AS den
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id
         |    ORDER BY us DESC, event_id DESC))
         |SELECT user_id, n_events, vq AS last_vq,
         |  CAST(num // den AS BIGINT) AS ewma_c
         |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
    },
    "revenue_pareto" ->
      """WITH per AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS spend
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT spend,
        |    CAST(row_number() OVER (ORDER BY spend DESC, o_custkey)
        |      AS BIGINT) AS rn,
        |    CAST(sum(spend) OVER (ORDER BY spend DESC, o_custkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM per),
        |t AS (SELECT CAST(sum(spend) AS BIGINT) AS T FROM per)
        |SELECT max(T) AS total_cents, count(*) AS n_customers,
        |  min(CASE WHEN cum * 100 >= T * 50 THEN rn END)
        |    AS n_top50_pct,
        |  min(CASE WHEN cum * 100 >= T * 80 THEN rn END)
        |    AS n_top80_pct,
        |  min(CASE WHEN cum * 100 >= T * 95 THEN rn END)
        |    AS n_top95_pct
        |FROM rk, t""".stripMargin,
    "corpus_drift" ->
      """WITH tok AS (
        |  SELECT CAST(substr(source, 4, 2) AS INT) < 12 AS head,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        |  FROM documents),
        |c AS (SELECT word,
        |    CAST(sum(CASE WHEN head THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN head THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM c)
        |SELECT word, c1, c2,
        |  CAST((c1::HUGEINT * n2 - c2::HUGEINT * n1) *
        |       (c1::HUGEINT * n2 - c2::HUGEINT * n1) * 1000000 //
        |       ((c1::HUGEINT + c2) * n1 * n2) AS BIGINT) AS chi_ppm
        |FROM c, tot
        |ORDER BY chi_ppm DESC, word LIMIT 20""".stripMargin,
    "orders_seasonality" ->
      """WITH d AS (SELECT
        |    (epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
        |      + 3) % 7 AS dow
        |  FROM orders),
        |c AS (SELECT dow, count(*) AS n_orders FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS N FROM c)
        |SELECT dow, n_orders,
        |  CAST((7::HUGEINT * n_orders - N) * (7::HUGEINT * n_orders - N)
        |    * 1000000 // (49::HUGEINT * N) AS BIGINT) AS dev_ppm
        |FROM c, t ORDER BY dow""".stripMargin,
    "dq_json_schema" ->
      // engine-mirrored semantics: ->> is get_json_object's text
      // extraction, so the numeric test is the same TRY_CAST in both
      """WITH e AS (SELECT props,
        |    props IS NULL
        |      OR NOT (json_valid(props) AND json_type(props) = 'OBJECT')
        |      AS r1_object,
        |    (props->>'k') IS NULL
        |      OR TRY_CAST(props->>'k' AS DOUBLE) IS NULL
        |      AS r2_k_numeric,
        |    coalesce(TRY_CAST(props->>'k' AS DOUBLE) >= 60.0, false)
        |      AS r3_k_range,
        |    coalesce(len(list_filter(json_keys(props),
        |      x -> x <> 'k')) > 0, false) AS r4_no_extra_keys
        |  FROM events),
        |a AS (SELECT count(*) AS n,
        |    sum(CASE WHEN r1_object THEN 1 ELSE 0 END) AS v1,
        |    sum(CASE WHEN r2_k_numeric THEN 1 ELSE 0 END) AS v2,
        |    sum(CASE WHEN r3_k_range THEN 1 ELSE 0 END) AS v3,
        |    sum(CASE WHEN r4_no_extra_keys THEN 1 ELSE 0 END) AS v4
        |  FROM e)
        |SELECT r.rule, a.n AS n_checked,
        |  CAST(CASE r.rule
        |    WHEN 'r1_object' THEN v1 WHEN 'r2_k_numeric' THEN v2
        |    WHEN 'r3_k_range' THEN v3 ELSE v4 END AS BIGINT)
        |    AS n_violations
        |FROM a, (SELECT unnest(['r1_object', 'r2_k_numeric',
        |    'r3_k_range', 'r4_no_extra_keys']) AS rule) r
        |ORDER BY rule""".stripMargin,
    "ts_forecast_backtest" ->
      """WITH hc AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS h, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |hm AS (SELECT max(h) AS hm FROM hc),
        |ev AS (SELECT hc.* FROM hc, hm WHERE h > hm - 168)
        |SELECT ev.event_type, count(*) AS n_scored,
        |  CAST(sum(abs(ev.c - s.c)) AS BIGINT) AS ae_seasonal,
        |  CAST(sum(abs(ev.c - n.c)) AS BIGINT) AS ae_naive
        |FROM ev
        |JOIN hc s ON s.event_type = ev.event_type AND s.h = ev.h - 24
        |JOIN hc n ON n.event_type = ev.event_type AND n.h = ev.h - 1
        |GROUP BY 1 ORDER BY ev.event_type""".stripMargin,
    "graph_lpa" -> {
      def round(i: Int): String = {
        val prev = s"l${i - 1}"
        s"""c$i AS (SELECT adj.a AS node, l.lbl, count(*) AS c
           |  FROM adj JOIN $prev l ON adj.b = l.node GROUP BY 1, 2),
           |l$i AS (SELECT node, lbl FROM (
           |  SELECT node, lbl, row_number() OVER (PARTITION BY node
           |    ORDER BY c DESC, lbl ASC) AS rn FROM c$i)
           |  WHERE rn = 1)""".stripMargin
      }
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |e AS (SELECT a.pk AS u, b.pk AS v FROM op a JOIN op b
         |  ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |adj AS (SELECT u AS a, v AS b FROM e
         |  UNION ALL SELECT v AS a, u AS b FROM e),
         |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM adj),
         |${(1 to LpaRounds).map(round).mkString(",\n")}
         |SELECT lbl AS community, count(*) AS size
         |FROM l$LpaRounds GROUP BY 1
         |ORDER BY size DESC, community LIMIT 20""".stripMargin
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "assoc_rules" -> (assocRules _),
    "item_similarity" -> (itemSimilarity _),
    "events_ohlc" -> (eventsOhlc _),
    "revenue_pareto" -> (revenuePareto _),
    "ts_forecast_backtest" -> (tsForecastBacktest _),
    "dq_json_schema" -> (dqJsonSchema _),
    "orders_seasonality" -> (ordersSeasonality _),
    "skyline_orders" -> (skylineOrders _),
    "ts_ewma" -> (tsEwma _),
    "corpus_drift" -> (corpusDrift _),
    "graph_lpa" -> (graphLpa _)
  )
}
