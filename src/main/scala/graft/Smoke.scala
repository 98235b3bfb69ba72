package graft

/** Dev smoke: drives the public surface end-to-end — the driver's entry
  * smoke, the literal main.go:35-52 scenario, edge-case queries, and
  * reopen-recovery. Exits non-zero on any violated expectation. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    def check(cond: Boolean, what: String): Unit = {
      println((if (cond) "OK   " else "FAIL ") + what)
      if (!cond) sys.exit(1)
    }

    // 1. driver entry smoke (flagship on sf0.001; driver checks rows>0)
    val e = SparkEntry.entry(s)
    val rows = e.collect()
    check(rows.nonEmpty, s"entry rows=${rows.length}: " +
      rows.map(_.mkString(",")).mkString(" | "))

    // 2. the literal main.go:35-52 flow through the public API
    val root = java.nio.file.Files.createTempDirectory("kaer-maingo").toString
    val r = operators.KaerQuery.mainGoScenario(s, root).collect()
    check(r.length == 1 && r(0).getAs[String]("_m_doc") == "hello, world",
      s"main.go scenario -> ${r.map(_.mkString(",")).mkString}")

    // 3. edge probes on the same collection
    val k = new api.KaerSession(s, root, embed.HashingEmbedder(64))
    val c = k.getCollection("test")
    check(c.query("hello", 10, null).count() == 2, "k>n, no filter -> all")
    check(c.query("hello", 3, """{"attr1": {"$eq": 999}}""").count() == 0,
      "filter matching nothing -> empty")
    check(c.query("hello", 10, "{}").count() == 2, "empty MQL {} -> all")
    // the metadata is parsed once, at write: the flagship's Filter reads
    // the stored VARIANT (try_parse_json prints as its runtime parseJson)
    val plan = c.explainQuery("h, world", 1, """{"attr1": {"$eq": 1}}""")
    check(!plan.contains("try_parse_json") && !plan.contains("parseJson"),
      "main.go flagship plan: no per-row metadata parse")
    // the collection is small, so it answers on the driver: once the
    // first query has read the generation, a query runs no Spark job,
    // and the Spark path (threshold -1) returns the same rows
    val f = """{"attr1": {"$eq": 1}}"""
    c.query("h, world", 2, f).collect()
    val sc = s.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBridge.drain(sc)
    sc.addSparkListener(counter)
    val onDriver =
      try {
        val out = c.query("h, world", 2, f).collect().toSeq
        org.apache.spark.graft.ListenerBridge.drain(sc)
        out
      } finally sc.removeSparkListener(counter)
    check(jobs.get == 0, s"second query ran ${jobs.get} Spark jobs")
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val old = s.conf.getOption(threshold)
    s.conf.set(threshold, "-1")
    val viaSpark =
      try c.query("h, world", 2, f).collect().toSeq
      finally old.fold(s.conf.unset(threshold))(s.conf.set(threshold, _))
    check(onDriver.nonEmpty && onDriver == viaSpark,
      "Spark path (threshold -1) returns the resident path's rows")

    // 4. reopen-recovery: fresh session over the same dir continues ids
    val k2 = new api.KaerSession(s, root, embed.HashingEmbedder(64))
    val c2 = k2.getCollection("test")
    c2.insert(api.Data().withDocuments(Seq("third doc"))
      .withMetadatas(Seq(Map("attr1" -> 7))))
    check(c2.count() == 3, "reopen + insert -> 3 rows")
    val ids = c2.df.select("_m_id").collect().map(_.getLong(0)).sorted
    check(ids.sameElements(Array(1L, 2L, 3L)), s"ids dense ${ids.mkString(",")}")

    // 5. missing collection raises the reference's sentinel
    val missing =
      try { k2.getCollection("nope"); false }
      catch { case _: api.CollectionNotFound => true }
    check(missing, "getCollection(missing) -> CollectionNotFound")

    // 6. maintenance surface: $set update then filtered delete
    check(c2.update("""{"attr1": {"$eq": 7}}""",
        Map("tagged" -> true)) == 1L, "update($set) -> 1 row")
    check(c2.query("doc", 10, """{"tagged": {"$eq": true}}""").count() == 1,
      "updated metadata queryable")
    check(c2.delete("""{"tagged": {"$eq": true}}""") == 1L &&
      c2.count() == 2, "delete(filter) -> survivors intact")

    // 7. $regex with $options through the query path
    check(c2.query("hello", 10,
        """{"attr2": {"$regex": "^STR1$", "$options": "i"}}""").count() == 1,
      "$regex+$options case-insensitive match")

    println("SMOKE PASS")
    s.stop()
  }
}
