package kaerbench

import graft.api.Collection
import graft.core.Schema
import graft.filter.MqlFilter
import org.apache.spark.sql.functions.col

/** The read operations of both workloads, each checked against the
  * brute-force reference as soon as it returns. */
object Queries {
  val NProbe = 4

  /** Exact filtered top-k (`Collection.query`). */
  def exact(ctx: Ctx, c: Collection, ref: RefStore, text: String, f: Filter): Unit = {
    val docs = c.rows
    ctx.op("query", docs) {
      val rows = Main.collect(ctx, ctx.span("api.query")(c.query(text, Main.K, f.json)))
      ctx.count("rows_out", rows.length)
      rows
    }.foreach { rows =>
      val q = c.embedder.embedOne(text)
      Check.sameRanking(s"query(${f.template})", Check.ranked(rows),
        ref.topK(q, Main.K, f))
      probeFilter(ctx, "query", c, text, f)
    }
  }

  /** Approximate top-k through the IVF index (`Collection.queryApprox`):
    * equal to the exact top-k over the probed lists, and scored for
    * recall against the exact top-k over the whole collection. */
  def approx(ctx: Ctx, c: Collection, ref: RefStore, index: IndexRef,
      text: String, f: Filter): Unit = {
    ctx.op("ann", c.rows) {
      val rows = Main.collect(ctx,
        ctx.span("api.query_approx")(c.queryApprox(text, Main.K, NProbe, f.json)))
      ctx.count("rows_out", rows.length)
      rows
    }.foreach { rows =>
      val q = c.embedder.embedOne(text)
      val got = Check.ranked(rows)
      Check.sameRanking(s"queryApprox(${f.template})", got,
        ref.topK(q, Main.K, f, index.probed(q, NProbe)))
      ctx.recall(Check.recall(got, ref.topK(q, Main.K, f)))
      ctx.probe("ann") {
        ctx.tracer.spanWith("operators.ivf.probe") {
          graft.operators.IvfIndex.probeCandidates(ctx.spark,
            s"${c.dir}/index", q, NProbe).count()
        }(n => Seq("candidates" -> n.toDouble))
      }
      probeFilter(ctx, "ann", c, text, f)
    }
  }

  /** The layers a read crosses before Spark, each timed on its own:
    * embedding the query text, translating the filter, and scanning
    * with the filter next to a bare scan. */
  private def probeFilter(ctx: Ctx, kind: String, c: Collection, text: String,
      f: Filter): Unit = ctx.probe(kind) {
    ctx.span("embed.embed_one")(c.embedder.embedOne(text))
    if (f.json != null) {
      val pred = ctx.span("filter.translate")(
        MqlFilter.toColumn(f.json, MqlFilter.JsonResolver(col(Schema.MetaCol))))
      ctx.span("filter.scan_filter")(
        c.df.filter(pred).write.format("noop").mode("overwrite").save())
      ctx.span("filter.bare_scan")(
        c.df.write.format("noop").mode("overwrite").save())
    }
  }
}
