package kaerbench

import graft.api.{Collection, KaerSession}
import graft.core.{Meta, Schema}
import org.apache.spark.sql.functions.col

/** The collection both workloads read: 20k documents, built in set-up
  * through the whole write path with every step checked — a bulk
  * insert, compaction and an IVF index (nlist 16), then one ingest
  * cycle on top: a 2k-document append indexed by the append path, an
  * update of about 1% and a delete of about 0.5% of the documents by
  * MQL filter, and a reopen through a fresh session.
  *
  * The timed loop is read-only: `search` runs exact queries rotating
  * through the five filter templates; `ann` runs approximate queries
  * (nprobe 4) rotating through the four filtered ones. */
object Search {
  val Docs = 20000
  val Batch = 2000
  val NList = 16
  val Update = """{"$set": {"source": "edited"}}"""

  /** Rows stored above id `start`, as `RefStore.adopt` reads them. */
  private def readBack(c: Collection, start: Long) =
    c.df.filter(col(Schema.IdCol) > start)
      .select(col(Schema.IdCol), col(Schema.DocCol), col(Schema.EmbeddingCol)).collect()

  def run(ctx: Ctx, approximate: Boolean): Unit = {
    val gen = new Gen(ctx.seed, 1)
    val ref = new RefStore
    val docs = ctx.setup("generate")(Vector.fill(Docs)(gen.doc()))
    val c = new KaerSession(ctx.spark, ctx.store).createCollection("docs")
    ctx.setup("insert")(ctx.span("api.insert")(c.insertDF(Main.docFrame(ctx, docs))))
    ctx.checkPrep(ref.adopt(readBack(c, 0L), docs, 1L))
    ctx.setup("compact")(ctx.span("api.compact")(c.compact()))
    ctx.setup("index")(ctx.span("api.ensure_index")(c.ensureIndex(NList)))

    val batch = Vector.fill(Batch)(gen.doc())
    val batchDf = Main.docFrame(ctx, batch)
    val (appends, rebuilds) = (c.indexAppends, c.indexRebuilds)
    ctx.setup("append") {
      ctx.span("api.insert")(c.insertDF(batchDf))
      ctx.span("api.ensure_index")(c.ensureIndex(NList))
      ctx.count("index_appends", c.indexAppends - appends)
      ctx.count("index_rebuilds", c.indexRebuilds - rebuilds)
    }
    ctx.checkPrep {
      CheckFailed.require(c.indexAppends == appends + 1 && c.indexRebuilds == rebuilds,
        "ensureIndex after an insert did not take the append path")
      ref.adopt(readBack(c, Docs.toLong), batch, Docs + 1L)
    }
    ctx.probe("append") {
      ctx.span("embed.embed_batch")(c.embedder
        .embedDF(batchDf, Schema.DocCol, Schema.EmbeddingCol)
        .write.format("noop").mode("overwrite").save())
    }

    val uf = gen.nSlice(0.01)
    val updated = ctx.setup("update")(ctx.span("api.mutate")(c.updateDoc(uf.json, Update)))
    ctx.checkPrep {
      val hit = ref.matching(uf).toVector
      CheckFailed.require(updated == hit.size, s"updateDoc matched $updated, reference ${hit.size}")
      hit.foreach(id => ref.docs(id) = ref.docs(id).copy(source = "edited"))
    }
    val df = gen.nSlice(0.005)
    val removed = ctx.setup("delete")(ctx.span("api.mutate")(c.delete(df.json)))
    ctx.checkPrep {
      val gone = ref.matching(df).toVector
      CheckFailed.require(removed == gone.size, s"delete removed $removed, reference ${gone.size}")
      gone.foreach { id => ref.docs -= id; ref.vecs -= id }
    }

    // rows are inserted minus deleted; the watermark is every id given
    val r = ctx.setup("reopen") {
      val fresh = ctx.span("api.reopen")(new KaerSession(ctx.spark, ctx.store).getCollection("docs"))
      ctx.span("api.ensure_index")(fresh.ensureIndex(NList))
      fresh
    }
    CheckFailed.require(r.rows == ref.docs.size && r.watermark == Docs + Batch,
      s"reopened with rows=${r.rows} watermark=${r.watermark}; expected " +
        s"rows=${ref.docs.size} watermark=${Docs + Batch}")
    ctx.probe("reopen")(ctx.span("core.meta_read")(Meta.read(ctx.spark, r.dir)))

    // warm-up: the timed query kind once per filter template it uses,
    // with texts and filters of a stream the timed loop never draws from
    val wg = new Gen(ctx.seed, 2)
    ctx.setup("warm_queries") {
      for (t <- 0 until Gen.NTemplates) {
        if (!approximate) r.query(wg.query(), Main.K, wg.filter(t).json).collect()
        else if (t > 0) r.queryApprox(wg.query(), Main.K, Queries.NProbe, wg.filter(t).json).collect()
      }
    }

    val index = ctx.checkPrep(new IndexRef(ctx.spark, s"${r.dir}/index"))
    ctx.extra("space_amp") = Main.dirBytes(r.dir).toDouble / ref.userBytes

    val qg = new Gen(ctx.seed, 3)
    var i = 0
    ctx.run { () =>
      if (approximate)
        Queries.approx(ctx, r, ref, index, qg.query(), qg.filter(1 + i % (Gen.NTemplates - 1)))
      else Queries.exact(ctx, r, ref, qg.query(), qg.filter(i % Gen.NTemplates))
      i += 1
    }
  }
}
