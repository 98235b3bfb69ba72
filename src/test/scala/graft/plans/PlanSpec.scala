package graft.plans

import graft.SparkTestBase
import graft.operators.{Dedup, Relational, Similarity}

/** Physical-plan assertions — the 100 TB design gates: predicate pushdown
  * and column pruning reach the parquet scan, top-k compiles to
  * TakeOrderedAndProject (per-partition heaps, no global sort), and the
  * zero-shuffle operators really have no Exchange. */
class PlanSpec extends SparkTestBase {

  // formatted mode: full (untruncated) PushedFilters / ReadSchema
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter_range: predicate + column pruning reach the scan") {
    val p = plan(Relational.filterRange(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    // projection pruned to the 4 referenced columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_extendedprice"), "scan reads unneeded column")
  }

  test("topk_orders: global top-k is TakeOrderedAndProject, not full sort") {
    val p = plan(Relational.topKOrders(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("knn_l2: broadcast query vector + TakeOrderedAndProject, no shuffle join") {
    val p = plan(Similarity.knnL2(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("ann_ivf: zero Exchange — assignment is a pure per-row expression") {
    val p = plan(Similarity.annIvf(spark, sf0001))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("collection textFind prunes unqueried postings buckets at " +
      "partition level (the $text index serving contract)") {
    import graft.api.{Data, KaerSession}
    val k = new KaerSession(spark, tmpDir("kaer-text-plan"),
      graft.embed.HashingEmbedder(16))
    val c = k.createCollection("c")
    c.insert(Data().withDocuments(Seq(
      "alpha beta gamma", "beta delta", "epsilon zeta")))
    c.ensureTextIndex()
    val p = plan(c.textFind("alpha beta"))
    assert(p.contains("PartitionFilters"), p)
    // the tb bucket predicate must be a PARTITION filter on the
    // postings scan — file-level pruning, not a data filter
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("tb"), p)
    // (r15) the PHRASE path keeps the same contract: every postings
    // scan (the term legs AND the adjacency legs) carries a tb
    // partition filter — adding positions must not cost the pruning
    val p2 = plan(c.textFind("\"alpha beta\" delta"))
    val scans = p2.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("tb")), p2)
  }

  test("ann_ivf_indexed: probe prunes unprobed inverted lists at partition level") {
    import graft.operators.IvfIndex
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = e.filter(org.apache.spark.sql.functions.col("vec_id") < 16)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") === 77)
      .select("embedding").head().getSeq[Float](0).toArray
    val idx = IvfIndex.build(spark, e, tmpDir("ivf-plan"), cents)
    val p = plan(IvfIndex.probe(spark, idx, q, 10, 4, 77L))
    assert(p.contains("PartitionFilters"), p)
    // the cid predicate must be in the partition filters, not a data filter
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("cid"), p)
  }

  test("kmeansFit is deterministic and assigns every vector") {
    import graft.operators.IvfIndex
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val c1 = IvfIndex.kmeansFit(e, 4, 3)
    val c2 = IvfIndex.kmeansFit(e, 4, 3)
    assert(c1.map(_._2.toSeq) == c2.map(_._2.toSeq))
    assert(c1.map(_._1) == Seq(0L, 1L, 2L, 3L))
    // centroids moved away from their raw seed vectors
    val seeds = e.orderBy("vec_id").limit(4).select("embedding")
      .collect().map(_.getSeq[Float](0).toSeq)
    assert(c1.map(_._2.toSeq) != seeds.toSeq)
  }

  test("bucketed_join: zero exchange before the sort-merge join") {
    import graft.operators.Bucketing
    // at sf0.001 the planner prefers broadcasting the tiny orders side
    // (also exchange-free); disable broadcast to surface the layout the
    // bucketing exists for — SMJ with co-located bucket reads
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try plan(Bucketing.bucketedJoin(spark, sf0001))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, p)
    // no Exchange anywhere below the join (the only exchanges allowed
    // are the aggregation/sort ABOVE it)
    val below = p.substring(joinIdx)
    assert(!below.contains("Exchange hashpartitioning"), below)
    val df = Bucketing.bucketedJoin(spark, sf0001)
    // and the answer matches the unbucketed formulation
    val direct = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .join(spark.read.parquet(s"$sf0001/orders.parquet"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .count()
    assert(df.selectExpr("sum(n_items)").head().getLong(0) == direct)
  }

  test("bucketing: leftover files without _SUCCESS are rebuilt, not trusted") {
    import graft.operators.Bucketing
    val (ot, _) = Bucketing.ensureBucketed(spark, sf0001)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    // the returned name is default.`<dir>`-qualified; the managed files
    // live under <warehouse>/<dir>
    val dirName = ot.stripPrefix("default.").stripPrefix("`").stripSuffix("`")
    val tableDir = new java.io.File(
      new java.net.URI(wh).getPath, dirName)
    val marker = new java.io.File(tableDir, "_SUCCESS")
    // simulate a crashed writer: drop the catalog entry (managed DROP
    // also deletes the files), then recreate the dir with plausible
    // parquet files but NO _SUCCESS marker
    spark.sql(s"DROP TABLE $ot")
    // idempotent scenario setup: wipe whatever DROP left (external keeps
    // files, managed deletes them) and stage exactly one orphan file
    org.apache.commons.io.FileUtils.deleteDirectory(tableDir)
    tableDir.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/orders.parquet"),
      tableDir.toPath.resolve("part-00000.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(!marker.exists())
    Bucketing.ensureBucketed(spark, sf0001)
    assert(spark.catalog.tableExists(ot))
    assert(marker.exists(), "rebuild must rewrite the table with a marker")
    assert(spark.table(ot).count() ==
      spark.read.parquet(s"$sf0001/orders.parquet").count())
  }

  test("bucketing warm path runs ZERO jobs (r17 memo): the second " +
      "ensure in a session skips even the footer counts") {
    import graft.operators.Bucketing
    Bucketing.ensureBucketed(spark, sf0001) // cold (or memo-warm) pass
    @volatile var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val t = Bucketing.ensureBucketed(spark, sf0001)
      assert(spark.catalog.tableExists(t._1))
      Thread.sleep(300) // listener bus is async; zero events to drain
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs == 0, s"warm ensureBucketed ran $jobs Spark job(s)")
  }

  test("bucketing: a source regenerated with the same row count is " +
      "re-bucketed, never served stale") {
    import graft.operators.Bucketing
    import org.apache.spark.sql.functions.{col, concat, count, lit}
    val dir = tmpDir("bucket-regen")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    orders.write.parquet(s"$dir/orders.parquet")
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .write.parquet(s"$dir/lineitem.parquet")
    def direct() = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n_items"))
      .orderBy("o_orderstatus").collect().toSeq
    def bucketed() = Bucketing.bucketedJoin(spark, dir)
      .select("o_orderstatus", "n_items").collect().toSeq
    val tables = collection.mutable.Set.empty[String]
    try {
      tables ++= Bucketing.ensureBucketed(spark, dir).productIterator
        .map(_.toString)
      assert(bucketed() == direct())
      // same dir, same row count, different values
      orders.withColumn("o_orderstatus", concat(lit("x"), col("o_orderstatus")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      tables ++= Bucketing.ensureBucketed(spark, dir).productIterator
        .map(_.toString)
      val now = bucketed()
      assert(now.forall(_.getString(0).startsWith("x")), now)
      assert(now == direct())
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("kmeansFitMl (MLlib path): deterministic, and SSE beats raw seed vectors") {
    import graft.operators.IvfIndex
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val ml1 = IvfIndex.kmeansFitMl(e, 4, 5)
    val ml2 = IvfIndex.kmeansFitMl(e, 4, 5)
    assert(ml1.map(_._2.toSeq) == ml2.map(_._2.toSeq))
    def sse(cents: Seq[(Long, Array[Float])]): Double = {
      import org.apache.spark.sql.functions.{array, least, lit, sum}
      val dists = cents.map { case (_, cv) =>
        graft.functions.VectorFunctions.l2Sq(col("embedding"),
          array(cv.map(lit(_)): _*))
      }
      e.select(sum(least(dists: _*))).head().getDouble(0)
    }
    val seedCents = e.orderBy("vec_id").limit(4)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    assert(sse(ml1) < sse(seedCents),
      s"ml=${sse(ml1)} seeds=${sse(seedCents)}")
  }

  test("q1_agg: two-phase aggregation (map-side partial before shuffle)") {
    val p = plan(Relational.q1Agg(spark, sf0001))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("mql filter compiles to pushdown-bearing scan predicates") {
    // the translated MQL predicate is a real Column tree (not a UDF):
    // the events scan must carry a data filter, and no UDF node appears
    val p = plan(Relational.mqlEventsRange(spark, sf0001))
    assert(!p.toLowerCase.contains("batchevalpython"), p)
    assert(!p.contains("UDF"), p)
  }

  test("asof_join: one hash exchange on the join key, no range explosion") {
    val p = plan(Relational.asofJoin(spark, sf0001))
    // the union-merge shape: exactly one exchange on k for the window
    // (plus the orders-dedup agg exchange and the presentation sort);
    // crucially NO join node at all — no nested-loop range join
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
    val kExchanges = "hashpartitioning\\(k#".r.findAllIn(p).size
    assert(kExchanges == 1, s"want 1 exchange on k, got $kExchanges\n$p")
  }

  test("mql_window_fields: sort/window keys are MATERIALIZED — no " +
      "parse_json inside Sort or Exchange nodes") {
    val p = graft.operators.Relational
      .mqlWindowFields(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the document parse belongs in Project (codegen + CSE, once per
    // row); a parse inside Sort keys or the range-partitioning
    // exchange re-derives the whole bracketing tree per key per row
    val badLines = p.linesIterator.filter(l =>
      (l.trim.startsWith("+- Sort") || l.trim.startsWith("Sort") ||
        l.contains("rangepartitioning") ||
        l.trim.startsWith("+- Window") || l.trim.startsWith("Window"))
        && l.contains("parseJson")).toSeq
    assert(badLines.isEmpty, badLines.mkString("\n"))
  }

  test("text_langid_trained: scoring is scan-speed — no join, no " +
      "aggregate exchange beyond the presentation sort") {
    val df = graft.operators.TextAnalysis
      .textLangIdTrained(spark, sf0001)
    // simple (one line per node) form — formatted mode prints each
    // node twice (tree + details), double-counting Exchange
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    // one exchange only: the final orderBy's range partitioning (the
    // broadcast LUT scoring adds none)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"want <=1 exchange, got $exchanges\n$p")
  }

  test("mql_geo_within: point-in-polygon is one codegen filter pass — " +
      "no join, no window, only the presentation sort's exchange") {
    val df = graft.operators.Relational
      .queries("mql_geo_within")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"want <=1 exchange, got $exchanges\n$p")
  }

  test("mql_geo_near: single-pass scan→filter→topk, no join node at " +
      "all and the distance sort+limit is TakeOrderedAndProject") {
    val p = plan(graft.operators.Geo.mqlGeoNear(spark, sf0001))
    // $geoNear is a per-row computation over one input: any join —
    // cartesian or otherwise — would mean the stage degenerated
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("salted_agg: two aggregation phases — (key,salt) then key") {
    import graft.operators.Skew
    val p = plan(Skew.saltedAgg(spark, sf0001))
    // partial+final on the salted key, then partial+final on the key
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert("hashpartitioning\\(".r.findAllIn(p).size >= 2, p)
  }

  test("dedup LSH pairs shuffle on the band-bucket key, never all-pairs") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"))
      .toDF("id", "text")
    val p = plan(Dedup.minhashPairs(corpus))
    // candidate generation must be an equi-join (hash/sort-merge on the
    // band hash), NOT a nested-loop cross product
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("range_join_bucketed: equi-join on (user, bucket), no nested loop") {
    val p = plan(Relational.rangeJoinBucketed(spark, sf0001))
    // the blocking turns the time-range join into a hash-able equi-join;
    // the range predicate must NOT surface as a nested-loop/cartesian
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("anti_join: broadcast anti join, no shuffle of the big side") {
    val p = plan(Relational.antiJoin(spark, sf0001))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("salted_join: shuffle join on (key, salt) — dim replicated, not broadcast") {
    import graft.operators.Skew
    val p = plan(Skew.saltedJoinQuery(spark, sf0001))
    // the whole point: the join key includes the salt and the physical
    // join is a shuffle (hash) join, not a broadcast of the dim
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("mql_pipeline: one plan with two-phase aggregation, no re-execution") {
    val p = plan(Relational.mqlPipeline(spark, sf0001))
    // $match + $group + having-$match + $sort fold into ONE plan whose
    // aggregation is partial+final (map-side combine before the shuffle)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("zorder_scan: box predicates are pushed to the clustered scan") {
    import graft.operators.Layout
    val p = plan(Layout.zorderScan(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(user_id"), p)
  }

  // ---- r6-verdict plan locks: shapes audited by hand in rounds 5/6,
  // asserted here so they can't silently regress.

  /** executedPlan string (node args untruncated — lambda bodies visible,
    * unlike formatted mode's operator summary). */
  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("search_keyword: corpus never shuffles for a join — broadcast df/N only") {
    val p = physical(graft.SparkEntry.queries("search_keyword")(spark, sf0001))
    // global top-15 is a per-partition heap, not a full sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // df joins back by BROADCAST; the only nested-loop is the 1-row
    // n_docs cross join (IdentityBroadcastMode), never a cartesian of
    // data-sized sides
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("quantiles_by_status: percentile aggregates partially before the shuffle") {
    val p = physical(Relational.quantilesByStatus(spark, sf0001))
    // map-side partial_percentile => per-group buffers merge across
    // executors instead of raw rows shuffling to one task per group
    assert(p.contains("partial_percentile"), p)
    assert("hashpartitioning\\(o_orderstatus".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quantiles_orders_dist: the rank sort is range-partitioned, not single-task") {
    val p = physical(Relational.quantilesSortedCents(spark, sf0001))
    assert(p.contains("Exchange rangepartitioning(pc"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("dedup_simhash_pairs: hamming verify runs inside the in-bucket expansion") {
    val p = physical(graft.SparkEntry.queries("dedup_simhash_pairs")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("NestedLoop"), p)
    // exactly 2 hash shuffles: (band, value) bucketing + cross-band pair
    // dedup — a third would mean the verify escaped the map side
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    // the <=3 hamming filter lives INSIDE the explode's lambda (verify-
    // inside-expansion): the Generate node itself carries the distance
    // predicate, so failed candidates never reach the dedup shuffle
    val gen = p.linesIterator.find(_.contains("Generate explode(flatten"))
    assert(gen.isDefined, p)
    assert(gen.get.contains("<= 3"), gen.get)
  }

  test("dedup_embed_dial: banding dial is compiled into the plan, no cartesian") {
    val p = physical(graft.SparkEntry.queries("dedup_embed_dial")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("NestedLoop"), p)
    // the conf-forced 4-bit × 3-band dial must reach the signature
    // expression — locks the conf→plan plumbing the oracle gate checks
    // value-wise
    assert(p.contains("hyperbandvalues"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("hyperbandvalues") && l.contains(", 4, 3)")), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("mql_project_exclude: post-exclusion document is rewritten once per row") {
    val p = physical(
      graft.SparkEntry.queries("mql_project_exclude")(spark, sf0001))
    // the materialized-root column pins ONE parse+rewrite; a second UDF
    // occurrence means an optimizer rule inlined it back into a consumer
    assert("UDF".r.findAllIn(p).size == 1, p)
    // scaffolding never surfaces in the output schema
    val out = graft.SparkEntry.queries("mql_project_exclude")(spark, sf0001)
    assert(!out.columns.exists(_.startsWith("__graft_root")),
      out.columns.mkString(","))
  }

  test("sql_tpch_q2: correlated agg-of-join scalar subquery decorrelates") {
    val p = physical(Relational.sqlTpchQ2(spark, sf0001))
    // the subquery must be rewritten into a per-partkey min aggregate
    // (partial+final) equi-joined back — never a per-row re-execution
    // (no remaining subquery node) and never a cartesian
    assert(p.contains("partial_min"), p)
    assert(!p.toLowerCase.contains("subquery"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("NestedLoop"), p)
  }

  test("pq_adc_topk: ADC candidate stage is LUT-only top-k, no cartesian") {
    val p = plan(graft.operators.Quantize.pqAdcTopk(spark, sf0001))
    // candidate scan ranks via TakeOrderedAndProject over the CODE
    // table (8 tinyints/row); the float vectors only join back for the
    // 50-row re-rank, and the query vector broadcasts
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    // the ADC ranking must not read the embedding column — it runs on
    // the compressed codes alone (count the scans that read it: only
    // the re-rank join's side and the 1-row query lookup may)
    val adcScan = p.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(adcScan.exists(l => l.contains("c0") && !l.contains("embedding")),
      s"code scan should not read embeddings:\n${adcScan.mkString("\n")}")
  }

  test("runtime bloom-filter join pruning engages when enabled") {
    // the 100 TB lever Spark ships for selective dim->fact joins: the
    // dimension's filter propagates to the fact scan as a runtime
    // bloom filter, discarding non-joining fact rows BEFORE the
    // shuffle. Off by default; this locks that the engine's plans are
    // shaped so the optimizer can inject it when a deployment turns it
    // on (shuffle join + selective creation side + plain equi-keys).
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "100",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf0001/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))
      val p = j.queryExecution.optimizedPlan.toString.toLowerCase
      assert(p.contains("bloom"), p)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("ann_ivf_pq: coarse prune + ADC rank run zero-Exchange in one scan") {
    val p = plan(graft.operators.Quantize.annIvfPq(spark, sf0001))
    // coarse argmin, code argmin, and the LUT sum are all per-row
    // expressions — the only data movement is the top-k heap merge
    assert(!p.contains("Exchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sql_tpch_q21: EXISTS/NOT EXISTS decorrelate to hash semi/anti " +
      "joins, no nested loops") {
    val p = plan(graft.operators.Relational.sqlTpchQ21(spark, sf0001))
    // both correlated subqueries must become single-pass hash joins on
    // l_orderkey with the <> conjunct as a join condition — a
    // BroadcastNestedLoop or Cartesian here would be O(n²) on lineitem
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("upsert: one full-outer hash/merge join, never a nested loop") {
    import spark.implicits._
    val t = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val src = Seq((2L, "B"), (3L, "c")).toDF("k", "s")
    val p = plan(graft.operators.Upsert.upsert(t, src, Seq("k")))
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("mql window stages ($setWindowFields, $fill) run as Window " +
      "nodes, no joins") {
    val pw = plan(graft.operators.Relational
      .mqlWindowFields(spark, sf0001))
    assert(pw.contains("Window"), pw)
    assert(!pw.contains("Join"), pw)
    val pf = plan(graft.operators.Relational.mqlFill(spark, sf0001))
    assert(pf.contains("Window"), pf)
    assert(!pf.contains("Join"), pf)
  }

  test("mql_densify: grid anti-join, no cartesian against the corpus") {
    val p = plan(graft.operators.Relational.mqlDensify(spark, sf0001))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sql_tpch_q17: self-correlated scalar agg decorrelates to one " +
      "grouped-agg join, no nested loops") {
    val p = plan(graft.operators.Relational.sqlTpchQ17(spark, sf0001))
    // the per-partkey sum must become a grouped aggregate joined back —
    // a nested-loop re-scan of lineitem per outer row would be O(n²)
    assert(p.contains("Aggregate") || p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("ann_ivf_pq_res: residual encode + per-cid LUT stay zero-Exchange") {
    val p = plan(graft.operators.Quantize.annIvfPqRes(spark, sf0001))
    // the residual zip_with and the cid-keyed map LUT are still per-row
    // expressions — residual encoding must not introduce a join against
    // a centroid/LUT table
    assert(!p.contains("Exchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mql_lookup: bracketed equality joins as a HASH equi-join on the " +
      "type-tagged key, never a nested loop") {
    // an OR of typed comparisons has no hashable key and degrades to
    // BroadcastNestedLoopJoin — quadratic against a large foreign
    // collection; the tagged-key rewrite must keep it an equi-join
    val p = plan(Relational.mqlLookup(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("dedup_ngram_contaminate: digest equi-join after per-side " +
      "distinct — no cartesian, no all-pairs") {
    val p = plan(Dedup.dedupNgramContaminate(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
    // each side pre-aggregates to distinct (id, digest) BEFORE the join
    assert(p.contains("HashAggregate"), p)
  }

  test("bm25_search: one tf shuffle; corpus stats broadcast, corpus " +
      "never nested-loops against itself") {
    // r19: the gate reads the session memo — the shape contract lives
    // on the memo's BUILD plan, where the corpus work happens
    val p = plan(graft.operators.TextAnalysis.bm25Build(spark, sf0001))
    // the only nested-loop allowed is the 1-row stats cross join —
    // assert no join has a corpus-sized build side by checking the
    // scored side joins doc-keyed frames hash-wise
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_ivf_pq_indexed: probe scans CODES only (partition-pruned, " +
      "no float column), re-rank joins the budget ids broadcast") {
    val p = plan(graft.operators.IvfIndex.annIvfPqIndexed(spark, sf0001))
    // the lists scan must carry the cid partition filter and must NOT
    // read an embedding column — the whole point of the code index
    assert(p.contains("PartitionFilters"), p)
    val listsScan = p.linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(listsScan.contains("c0"), p) // code columns present
    // float vectors come ONLY from the source table's re-rank join side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("PQ index tail append: incremental encode covers new rows, " +
      "probe over split build == probe over full build") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val (cents, q) = {
      val c = e.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).toSeq
      val qv = e.filter(col("vec_id") === 77)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      (c, qv)
    }
    val half = e.count() / 2
    val dirSplit = tmpDir("ivfpq-split")
    graft.operators.IvfIndex.buildPq(spark,
      e.filter(col("vec_id") < half), dirSplit, cents)
    graft.operators.IvfIndex.appendTailPq(spark,
      e.filter(col("vec_id") >= half), dirSplit)
    val dirFull = tmpDir("ivfpq-full")
    graft.operators.IvfIndex.buildPq(spark, e, dirFull, cents)
    def ids(d: String) = graft.operators.IvfIndex
      .probePq(spark, d, e, q, k = 10, nprobe = 4, budget = 50,
        excludeId = 77L)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids(dirSplit) == ids(dirFull))
    // appended lists cover every row exactly once
    assert(spark.read.parquet(s"$dirSplit/lists").count() == e.count())
  }

  test("search_indexed: query terms prune postings buckets at " +
      "PARTITION level — unqueried term buckets are never read") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = graft.operators.TextIndex.ensureBuilt(spark, d,
      tmpDir("textidx-plan"))
    val p = plan(graft.operators.TextIndex.search(spark, idx,
      Seq("hash", "join", "merge"), 15))
    assert(p.contains("PartitionFilters"), p)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("tb"), p)
  }

  test("text index tail append: search over split build == search over " +
      "full build") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val half = d.count() / 2
    val dirSplit = tmpDir("textidx-split")
    graft.operators.TextIndex.build(spark,
      d.filter(col("doc_id") < half), dirSplit)
    graft.operators.TextIndex.appendTail(spark,
      d.filter(col("doc_id") >= half), dirSplit)
    val dirFull = tmpDir("textidx-full")
    graft.operators.TextIndex.build(spark, d, dirFull)
    def res(ix: String) = graft.operators.TextIndex
      .search(spark, ix, Seq("hash", "join", "merge"), 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(res(dirSplit) == res(dirFull))
    // the appended index is trusted on reopen (meta counts match disk)
    assert(graft.operators.TextIndex.ensureBuilt(spark, d, dirSplit)
      == dirSplit)
    // analyzer flag is part of the trust identity (r18): re-ensuring
    // the SAME dir under the opposite `analyzed` value must REBUILD
    // (row counts alone can't tell the tokenizers apart), after which
    // the meta records the new flag and the analyzed form is trusted
    graft.operators.TextIndex.ensureBuilt(spark, d, dirSplit,
      analyzed = true)
    val m = spark.read.parquet(s"$dirSplit/meta").head()
    assert(m.getAs[Boolean]("analyzed"))
    // a stemmed term now resolves where the exact index would miss
    // (build happened under the english analyzer), and flipping back
    // rebuilds again rather than serving analyzed postings as exact
    graft.operators.TextIndex.ensureBuilt(spark, d, dirSplit)
    assert(!spark.read.parquet(s"$dirSplit/meta").head()
      .getAs[Boolean]("analyzed"))
  }

  test("pipeline_pretrain: the composite build chains without a " +
      "cartesian; decontamination is an anti-join") {
    val p = plan(graft.operators.Pipeline.pretrainSurvivors(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("bloom_join: runtime bloom filter injected on the fact scan — " +
      "the probe side is semi-join-reduced before the exchange") {
    val p = plan(Relational.bloomJoin(spark, sf0001))
    assert(p.toLowerCase.contains("bloom"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("sketch_distinct: per-group k-smallest runs as WindowGroupLimit " +
      "(partial top-k before the shuffle), not a full per-group sort") {
    val p = plan(Relational.sketchDistinct(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("sample_dsir: the hashed-feature weight LUT joins BROADCAST — " +
      "scoring is map-side, no shuffle join on the feature stream") {
    val p = plan(graft.operators.Pipeline.dsirSample(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dedup_semantic: in-cluster expansion, never a corpus self-join — " +
      "no cartesian, survivors via anti-join") {
    val p = plan(Dedup.dedupSemantic(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("tpch q6: all three predicates pushed to the parquet scan, no join") {
    val p = plan(Relational.sqlTpchQ6(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_discount"), p)
    assert(p.contains("LessThan(l_quantity"), p)
    assert(!p.contains("Join"), p)
  }

  test("tpch q18: HAVING subquery becomes a semi-join on the aggregated " +
      "order list — no cartesian, top-k via TakeOrderedAndProject") {
    val p = plan(Relational.sqlTpchQ18(spark, sf0001))
    assert(p.contains("LeftSemi") || p.contains("Semi"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch q16: NOT IN compiles to a broadcast anti-join on the " +
      "dimension, never a nested loop over the fact table") {
    val p = plan(Relational.sqlTpchQ16(spark, sf0001))
    assert(p.contains("Anti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("contrastive_negatives: pair explode + ONE narrow id equi-join, " +
      "no cartesian of the corpus") {
    val p = plan(graft.operators.Pipeline.negativePairs(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // partner attributes attach by hash equi-join on the dense id
    assert(p.contains("HashJoin"), p)
  }

  test("source_cap: rank<=k triggers WindowGroupLimit — partitions " +
      "forward at most k rows per cell into the exchange") {
    val p = plan(graft.operators.Pipeline.sourceCap(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("classifier_score: model scoring is scan-speed — no " +
      "hash shuffle anywhere (LUT folds map-side, never a join)") {
    val p = plan(graft.operators.Pipeline.classifierScore(spark, sf0001))
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("classifier_score_trained: scoring is scan-speed — no join, " +
      "at most the presentation sort's exchange (the trained LUT " +
      "ships as a literal, never a weight-table join)") {
    val df = graft.operators.Pipeline
      .classifierScoreTrained(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"want <=1 exchange, got $exchanges\n$p")
  }

  test("embed_outliers: centroid rides back as a broadcast, distance " +
      "pass ends in TakeOrderedAndProject — no corpus-width shuffle") {
    val p = plan(Similarity.embedOutliers(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("rag_retrieve: stage-2 rerank joins the 50-row candidate list " +
      "by broadcast — the corpus text is never shuffled") {
    val p = plan(Similarity.ragRetrieve(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("scd2_build: one hash shuffle on the key feeds both window " +
      "passes (change detection + interval stitch)") {
    val p = plan(graft.operators.Upsert.scd2Build(spark, sf0001))
    // formatted mode: node lines are bare "Exchange (n)"; partitioning
    // lives in the details section — count the hash-shuffle arguments
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1, p)
  }

  test("scd2_lookup: interval lookup is an EQUI-join on the dimension " +
      "key with the range as residual — never a cartesian") {
    val p = plan(graft.operators.Upsert.scd2Lookup(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_lines: segment survivor pick is one row_number window — " +
      "no self-join, no cartesian") {
    val p = plan(Dedup.dedupLines(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("graph_triangles: wedge and closing joins are hash equi-joins — " +
      "degree orientation never degrades to a nested loop") {
    val p = plan(Relational.graphTriangles(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("geo_join: grid-cell blocking is a hash equi-join on the cell " +
      "key — candidates by local density, never a cross product") {
    val p = plan(graft.operators.Geo.geoJoin(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("geo_near: box + circle refine stay inside one codegen stage " +
      "over the scan, top-k is TakeOrderedAndProject — no global sort") {
    val p = plan(graft.operators.Geo.geoNear(spark, sf0001))
    // coordinates are COMPUTED here, so the box cannot reach the parquet
    // footer (with stored x/y columns it would — see Geo scaladoc); the
    // lock is that the filter is scan-adjacent and top-k never sorts
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("dedup_keep_best: argmax-in-agg — canonical pick is a two-phase " +
      "aggregate (struct max falls to SortAggregate, still map-side " +
      "partial), never a per-cluster window") {
    val p = plan(Dedup.dedupKeepBest(spark, sf0001))
    assert(p.contains("SortAggregate") || p.contains("HashAggregate"), p)
    assert(!p.contains("RunningWindowFunction"), p)
    assert(!p.contains("partial_row_number"), p)
  }

  test("incr_agg: the MV merge re-aggregates partials map-side — " +
      "partial_sum before the exchange, history never rescanned") {
    val p = plan(graft.operators.Upsert.incrAgg(spark, sf0001))
    assert(p.contains("partial_sum") || p.contains("partial sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("partitioned_scan: the lang predicate prunes DIRECTORIES — " +
      "PartitionFilters carries it, the row-level data filter does not") {
    val p = plan(graft.operators.Layout.partitionedScan(spark, sf0001))
    assert("PartitionFilters:.*lang".r.findFirstIn(p).isDefined, p)
    assert(!"PushedFilters:.*lang".r.findFirstIn(p).isDefined, p)
  }

  test("heavy_hitters: the exact verify pass semi-reduces the token " +
      "stream via a BROADCAST of the candidate list") {
    val p = plan(graft.operators.TextAnalysis.heavyHitters(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_incremental: the index probe is a hash equi-join on the " +
      "(band, bucket) key — base never re-shingled, no cartesian") {
    val p = plan(Dedup.dedupIncremental(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the base side arrives from the persisted index, not the corpus:
    // exactly one parquet scan of documents (the delta's source)
    assert("Scan parquet.*documents".r.findAllIn(p).size <= 1, p)
  }

  test("sql_lateral: the correlated LIMIT-1 subquery DECORRELATES — " +
      "window top-1 + equi-join, never a per-row nested loop") {
    val p = plan(Relational.sqlLateral(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window") || p.contains("WindowGroupLimit"), p)
  }

  test("dedup_jaccard_exact: prefix filter blocks on the element key — " +
      "narrow (elem, id) rows shuffle, sets join back by id, " +
      "never all-pairs") {
    val p = plan(Dedup.dedupJaccardExact(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dq_checks: rule catalog is one conditional-agg scan + count " +
      "joins — no cartesian, orphan check is an anti-join") {
    val p = plan(Relational.dqChecks(spark, sf0001))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("annotate_docs: all four annotators fuse into ONE scan — a " +
      "single parquet read, no joins, no repeated passes") {
    val p = plan(graft.operators.TextAnalysis.annotateDocs(spark, sf0001))
    // one file index = one pass over the corpus (formatted mode prints
    // the scan twice — tree line + detail — so count Locations)
    assert("Location: InMemoryFileIndex".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("hard_negatives: per-anchor top-k runs as WindowGroupLimit — " +
      "k rows per anchor per partition ride the shuffle, label filter " +
      "before the window, no cartesian") {
    val p = plan(Similarity.hardNegatives(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mix_temperature: the k-sized mixture table rides a broadcast — " +
      "the corpus never shuffles for the rate join") {
    val p = plan(graft.operators.Pipeline.mixTemperature(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dpp_join: the dim predicate prunes fact PARTITIONS at runtime " +
      "— dynamicpruningexpression on the partitioned scan") {
    val p = plan(graft.operators.Layout.dppJoin(spark, sf0001))
    assert(p.toLowerCase.contains("dynamicpruning"), p)
  }

  test("quantile_sketch: one map-side-combined histogram aggregate — " +
      "partial_count before the exchange, window only over the bins") {
    val p = plan(Relational.quantileSketch(spark, sf0001))
    assert(p.contains("partial_count") || p.contains("partial count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embed_project: projection + scoring never shuffle the " +
      "candidates — top-k is a heap, no hash exchange anywhere") {
    val p = plan(graft.operators.Cluster.embedProject(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("kmeans_step: assignment is broadcast-argmin (no cartesian), " +
      "centroid sums partial-aggregate map-side before the exchange") {
    val p = plan(graft.operators.Cluster.kmeansStep(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum") || p.contains("partial sum"), p)
  }

  test("assemble_threads: document assembly rides the ONE sessionize " +
      "user_id shuffle — no second window pass, no extra exchange") {
    val p = plan(graft.operators.Sessions.assembleThreads(spark, sf0001))
    // exactly one hash shuffle (user_id); the only other exchange is the
    // rangepartitioning for the final presentation sort
    val shuffles = "hashpartitioning\\(".r.findAllIn(p).length
    assert(shuffles == 1, s"$shuffles hash exchanges:\n$p")
  }

  test("pq_adc_trained: encode + ADC rank is per-row expression work — " +
      "no cartesian, no hash exchange, top-k is a heap") {
    val p = plan(graft.operators.Quantize.pqAdcTrained(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // training already ran (bounded driver collects); the returned
    // scoring plan itself reads the corpus once with zero shuffles
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("mm_decode_real: the decode pipeline is per-row map work — " +
      "no exchange except the presentation sort") {
    val p = plan(graft.operators.Multimodal.mmDecodeReal(spark, sf0001))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mql_expr_filter: $expr compiles to a real Catalyst predicate — " +
      "one Filter over the scan, no UDF node") {
    val p = plan(Relational.mqlExprFilter(spark, sf0001))
    assert(!p.contains("BatchEvalPython"), p)
    assert(!p.toLowerCase.contains("scalaudf"), p)
    // pruned read: only the columns the filter/projection need
    assert(!p.contains("text"), "scan reads unneeded text column")
  }

  // ---- r10 second-wave operators ----

  test("quantize_binary: sign packing + hamming rank is per-row " +
      "expression work — no hash exchange, top-k is a heap") {
    val p = plan(graft.operators.Quantize.quantizeBinary(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("anomaly_events: the per-type stats table joins back by " +
      "BROADCAST — the event stream itself is never re-shuffled for " +
      "the flag pass") {
    val p = plan(graft.operators.Analytics.anomalyEvents(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("event_paths: path assembly is argmin-in-aggregate over the one " +
      "user_id shuffle — no window pass") {
    val p = plan(graft.operators.Analytics.eventPaths(spark, sf0001))
    assert(!p.toLowerCase.contains("window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_kcore: peel rounds are degree aggregations + semi-joins " +
      "on node keys — no cartesian, no nested loop") {
    val p = plan(Relational.graphKcore(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_char_diversity: char histogram partial-aggregates " +
      "map-side before the one exchange") {
    val p = plan(
      graft.operators.TextAnalysis.textCharDiversity(spark, sf0001))
    assert(p.contains("partial_count") || p.contains("partial count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("wordpiece_encode: the greedy match chain is per-row codegen " +
      "over the word dict — no UDF, no cartesian") {
    val p = plan(graft.operators.Bpe.wordpieceEncode(spark, sf0001))
    assert(!p.toLowerCase.contains("scalaudf"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sft_loss_mask: render + spans are pure per-row work — no " +
      "exchange except the presentation sort") {
    val p = plan(graft.operators.Pipeline.sftLossMask(spark, sf0001))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.toLowerCase.contains("scalaudf"), p)
  }

  test("ann_ivf_sq: assignment + quantized ranking are per-row " +
      "expressions — zero Exchange until the heaps") {
    val p = plan(graft.operators.Quantize.annIvfSq(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sketch_cms: cell counts partial-aggregate map-side; probes " +
      "join the 4096-cell table without a cartesian") {
    val p = plan(graft.operators.TextAnalysis.sketchCms(spark, sf0001))
    assert(p.contains("partial_count") || p.contains("partial count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("weighted_median: raw rows collapse to the value histogram " +
      "map-side before any window touches them") {
    val p = plan(Relational.weightedMedian(spark, sf0001))
    assert(p.contains("partial_sum") || p.contains("partial sum"), p)
  }

  test("cumulative_users: distinct collapses to first-seen days — no " +
      "COUNT DISTINCT window, no expand") {
    val p = plan(graft.operators.Analytics.cumulativeUsers(spark, sf0001))
    assert(!p.contains("Expand"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("assoc_rules: pair expansion is a basket-key equi-join, item " +
      "counts ride key joins — never a cartesian") {
    val p = plan(graft.operators.Mining.assocRules(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("skyline_orders: dominance is window passes, not a self-join — " +
      "no join node at all, and the local pass windows by bucket") {
    val p = plan(graft.operators.Mining.skylineOrders(spark, sf0001))
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    // phase 1 windows carry the bucket in their partition spec
    assert(p.contains("Window"), p)
    assert("partitionBy=\\[b#".r.findAllIn(p).nonEmpty ||
      p.contains("windowspecdefinition(b#"), p)
  }

  test("graph_lpa: every round is an adjacency equi-join + argmax " +
      "aggregate — no cartesian, no per-node window") {
    val und = {
      import spark.implicits._
      Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    }
    val p = plan(graft.operators.Mining.lpaOver(und, rounds = 1))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("item_similarity: per-item top-k rides WindowGroupLimit, " +
      "never a full-partition sort of all neighbors") {
    val p = plan(graft.operators.Mining.itemSimilarity(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("search_phrase: postings filter BEFORE the positional join — " +
      "equi-join on (doc, pos), no cartesian") {
    val p = plan(graft.operators.TextAnalysis.searchPhrase(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dsv2_scan: the id range reaches the source as PushedFilters, " +
      "the vq residual stays a Spark Filter, and the projection is " +
      "pruned to the referenced columns") {
    val p = plan(graft.sources.Formats.dsv2Scan(spark, sf0001))
    // the id range was pushed INTO the source (the scan's own
    // description carries the narrowed range)...
    assert(p.contains("GraftSeqScan(range=[150000, 190000)"), p)
    // ...the derived-column predicate stays a Spark Filter...
    assert(p.contains("Condition : (vq"), p)
    // ...and the scan output is pruned: id is consumed entirely by the
    // pushed filters, so the source never materializes it
    assert(p.contains("cols=bucket,vq,tag"), p)
    val out = p.linesIterator
      .dropWhile(!_.contains("BatchScan")).take(3).mkString("\n")
    assert(!out.contains("id#"), s"pruning failed — id still read:\n$out")
  }

  test("mm_phash_dedup: candidates come from the band equi-join, " +
      "never an all-pairs product") {
    val p = plan(graft.operators.Multimodal.mmPhashDedup(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("mql_geo_sphere_near: one scan, no join — the spherical metric " +
      "is a per-row integer predicate, top-k is per-partition heaps") {
    val p = plan(graft.operators.Geo.queries("mql_geo_sphere_near")(
      spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange"), p)
    // the wrap + cos-scale really compile to integer pmod/div — no trig
    assert(p.contains("pmod") && p.contains("div"), p)
    assert(!p.toLowerCase.contains("cos("), p)
  }

  test("rag_hybrid_rrf: each leg ends in a top-k heap BEFORE its rank " +
      "window, fusion is a full-outer join of the two k-sized lists") {
    // r19: the gate reads the session memo — the shape contract lives
    // on the memo's BUILD plan, where the corpus work happens
    val p = plan(graft.operators.Similarity.rrfBuild(spark, sf0001))
    // 2 heaps here: dense leg + final fused top-k (the BM25 leg's heap
    // sits inside bm25Build's own plan — asserted by its own test —
    // and reaches this plan as the 15-row memo read)
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2, p)
    assert(p.contains("FullOuter"), p)
    // rank windows must sit ABOVE a TakeOrdered (k rows), never over
    // the corpus: every Window's subtree must contain a TakeOrdered
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_substring_spans: the self-join is the window-hash " +
      "equi-join, islands are window passes — no all-pairs product") {
    val p = plan(graft.operators.Dedup.queries("dedup_substring_spans")(
      spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("mql mixed $match: the typed conjunct evaluates OUTSIDE the " +
      "document lambda — AND short-circuit skips the JSON parse on " +
      "typed-rejected rows — and the doc side keeps ONE parse " +
      "(r19 conjunct split)") {
    import org.apache.spark.sql.functions.col
    // parquet source, not a LocalRelation, so the filter shape survives
    val dir = java.nio.file.Files
      .createTempDirectory("mqlmixed").toString
    try {
      spark.range(0, 100)
        .selectExpr("id", "to_json(named_struct('k', id % 10)) AS props")
        .write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      val out = graft.filter.MqlPipeline.aggregate(df, col("props"),
        """[{"$match": {"id": {"$gt": 50}, "k": {"$gte": 7}}}]""")
      val p = plan(out)
      // pre-split, the WHOLE predicate (id conjunct included) sat inside
      // the forall lambda; now the plan is <plain id conjunct> AND forall
      assert(p.contains("AND forall"), p)
      // the typed conjunct never references the parsed document
      assert(p.indexOf("id#") < p.indexOf("forall"), p)
      // the document half still binds exactly ONE parse per row
      assert("parseJson".r.findAllIn(p).length == 1, p)
      // value identity with the relational computation
      assert(out.count() ==
        df.filter("id > 50 AND id % 10 >= 7").count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }
}
