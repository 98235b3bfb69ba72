package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{CollectionMeta, GraftConfig, IndexMeta, Meta, Schema}
import graft.embed.{BatchedEmbedder, Embedder, HashingEmbedder,
  HttpEmbedTransport}
import graft.filter.MqlFilter
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

/** Errors mirroring the reference's sentinel errors. */
/** collStats result: document count, storage footprint, ANN index
  * presence. */
final case class CollStats(count: Long, storageBytes: Long,
    hasIndex: Boolean)

final case class CollectionNotFound(name: String)
  extends RuntimeException(s"collection not found: $name") // db/kaer.go:14
final class FieldLengthMismatch
  extends RuntimeException("documents/metadatas length mismatch") // db/db.go:12

/** Insert-batch builder — API parity with the reference's fluent `Data`
  * builder of parallel arrays (/root/reference/db/db.go:30-47). */
final class Data private (
    val documents: Seq[String],
    val metadatas: Seq[String]) {
  def withDocuments(docs: Seq[String]): Data = new Data(docs, metadatas)
  def withMetadatas(metas: Seq[Map[String, Any]]): Data =
    new Data(documents, metas.map(Data.toJson))
  def withMetadataJson(metas: Seq[String]): Data = new Data(documents, metas)
}
object Data {
  def apply(): Data = new Data(Nil, Nil)
  private val mapper = new ObjectMapper()
  private[api] def toJson(m: Map[String, Any]): String = {
    val node = mapper.createObjectNode()
    m.foreach {
      case (k, v: Int) => node.put(k, v)
      case (k, v: Long) => node.put(k, v)
      case (k, v: Double) => node.put(k, v)
      case (k, v: Float) => node.put(k, v.toDouble)
      case (k, v: Boolean) => node.put(k, v)
      case (k, v: String) => node.put(k, v)
      case (k, null) => node.putNull(k)
      case (k, v: Seq[_]) =>
        val arr = node.putArray(k)
        v.foreach {
          case e: Int => arr.add(e)
          case e: Long => arr.add(e)
          case e: Double => arr.add(e)
          case e: String => arr.add(e)
          case e: Boolean => arr.add(e)
          case e => arr.add(String.valueOf(e))
        }
      case (k, v) => node.put(k, String.valueOf(v))
    }
    mapper.writeValueAsString(node)
  }
}

/** Engine handle — the Spark-native `Kaer` (/root/reference/db/kaer.go:17-26).
  *
  * Where the reference boots an embedded Postgres process plus a FerretDB
  * goroutine and talks mongo wire protocol to itself (db/kaer.go:84-145),
  * this wraps an existing SparkSession: storage is a parquet directory per
  * collection under `rootDir`, metadata/catalog is a JSON sidecar, and all
  * query semantics are Catalyst plans. No subprocesses, no sockets.
  */
object KaerSession {
  /** Open a session from a [[graft.core.GraftConfig]] — the reference's
    * config-driven NewKaer boot (db/kaer.go:84-145 reads the parsed TOML
    * for its dirs/models), minus the subprocess plumbing. The embedder is
    * resolved from the config: when `embed_endpoint` is set, the batched
    * HTTP transport against that URL with the configured model/key (the
    * reference's hosted-Cohere path, db/cohere.go:20-33, with the
    * endpoint explicit instead of hardwired); otherwise the offline
    * hashing embedder, with the dimension from the model→dim map. */
  def apply(spark: SparkSession,
      cfg: graft.core.GraftConfig): KaerSession = {
    require(cfg.embedDim == graft.core.GraftConfig.Model2Dim
        .getOrElse(cfg.embedderModel, cfg.embedDim),
      s"embed_dim ${cfg.embedDim} contradicts model " +
        s"'${cfg.embedderModel}' " +
        s"(${graft.core.GraftConfig.Model2Dim.get(cfg.embedderModel)})")
    val embedder: Embedder =
      if (cfg.embedEndpoint.nonEmpty)
        BatchedEmbedder(HttpEmbedTransport(
          cfg.embedEndpoint, cfg.embedderModel, cfg.embedDim,
          apiKey = Option(cfg.embedApiKey).filter(_.nonEmpty)))
      else HashingEmbedder(cfg.embedDim)
    new KaerSession(spark, cfg.persistDir, embedder)
  }
}

final class KaerSession(
    val spark: SparkSession,
    rootDir: String,
    embedder: Embedder = HashingEmbedder(64)) {

  private val cache = scala.collection.concurrent.TrieMap.empty[String, Collection]
  private def dir(name: String) = new Path(rootDir, name).toString
  private def fs: FileSystem =
    new Path(rootDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** db/kaer.go:28-40. Creates (or reopens) the collection directory. */
  def createCollection(name: String): Collection = {
    val d = dir(name)
    if (Meta.read(spark, d).isEmpty) {
      fs.mkdirs(new Path(d, "data"))
      Meta.write(spark, d,
        CollectionMeta(name, lastId = 0L, embedder.dim, embedder.id, 0L))
    }
    getCollection(name)
  }

  /** db/kaer.go:42-63 — cache hit, else existence check (CollectionNotFound
    * when absent), then reopen with recovery. */
  def getCollection(name: String): Collection =
    cache.getOrElseUpdate(name, {
      val d = dir(name)
      Meta.read(spark, d) match {
        case None if fs.exists(new Path(d, "data")) =>
          // sidecar lost or corrupt but data intact: rebuild a zero
          // sidecar and let open-time recovery re-derive the watermark
          // and row count from max(_m_id) — the healing the reference's
          // broken meta module could never do (db/meta.go:12-15)
          Meta.write(spark, d,
            CollectionMeta(name, 0L, embedder.dim, embedder.id, 0L))
          new Collection(spark, name, d, embedder)
        case None => throw CollectionNotFound(name)
        case Some(m) =>
          // the sidecar records the embedder that produced the stored
          // vectors; a mismatched session embedder would silently compare
          // incompatible vectors (null distances) — fail fast instead
          require(m.dim == embedder.dim && m.embedderId == embedder.id,
            s"collection '$name' was built with embedder ${m.embedderId} " +
              s"(dim ${m.dim}); session embedder is ${embedder.id} " +
              s"(dim ${embedder.dim})")
          new Collection(spark, name, d, embedder)
      }
    })

  /** Forget the open handle of `name`, releasing what it holds on the
    * driver. */
  private def evict(name: String): Unit = cache.remove(name).foreach(_.release())

  /** db/kaer.go:65-76. */
  def dropCollection(name: String): Unit = {
    evict(name)
    val p = new Path(dir(name))
    if (fs.exists(p)) fs.delete(p, true)
  }

  def listCollections(): Seq[String] = {
    val root = new Path(rootDir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => Meta.read(spark, dir(n)).isDefined)
  }

  /** Mongo's renameCollection admin command. The move is one
    * filesystem `rename` (a metadata operation on HDFS-like stores —
    * no data copy at any collection size) plus a sidecar rewrite with
    * the new name; both collections drop from the session cache, so
    * the next `getCollection` reopens through the normal
    * recovery/trust path. Mongo parity: missing source raises
    * CollectionNotFound; an existing target raises unless
    * `dropTarget = true` (then it is dropped first, Mongo's documented
    * overwrite semantics). Handles to the OLD Collection object become
    * stale, as they do across a Mongo rename. */
  def renameCollection(from: String, to: String,
      dropTarget: Boolean = false): Unit = {
    require(from != to,
      "renameCollection: source and target are the same name")
    val src = new Path(dir(from))
    val dst = new Path(dir(to))
    if (Meta.read(spark, dir(from)).isEmpty) throw CollectionNotFound(from)
    if (fs.exists(dst)) {
      if (!dropTarget) throw new IllegalStateException(
        s"renameCollection: target '$to' already exists " +
          "(pass dropTarget = true to overwrite, Mongo semantics)")
      dropCollection(to)
    }
    evict(from)
    evict(to)
    require(fs.rename(src, dst),
      s"renameCollection: filesystem rename $src -> $dst failed")
    Meta.read(spark, dir(to)) match {
      case Some(m) => Meta.write(spark, dir(to), m.copy(name = to))
      case None => throw new IllegalStateException(
        s"renameCollection: sidecar missing after rename of '$from'")
    }
  }

  /** Mongo's collStats-lite: live document count, bytes on storage
    * under the collection directory, and whether a persisted ANN index
    * is present — the capacity-planning introspection every operator
    * of a growing corpus runs. Count comes from the open collection
    * (watermark-recovered if the sidecar was stale); bytes are one
    * filesystem content summary, no data scan. */
  def collStats(name: String): CollStats = {
    val c = getCollection(name)
    val summary = fs.getContentSummary(new Path(dir(name)))
    CollStats(
      count = c.count(),
      storageBytes = summary.getLength,
      hasIndex = fs.exists(new Path(new Path(dir(name), "index").toString)))
  }

  /** Mongo aggregation pipeline over a named collection, with $lookup
    * resolving sibling collections of this session — the cross-collection
    * join surface FerretDB exposes.
    *
    * A FIRST stage of `$vectorSearch` (the Atlas shape, r11) seeds the
    * pipeline with the collection's kNN result instead of the full
    * scan: `{queryVector: [...]} | {queryText: "..."}` (queryText is
    * this engine's extension — embedded with the collection's own
    * embedder), `limit` (k), optional MQL `filter` (Atlas's pre-filter
    * semantics: applied BEFORE the top-k, like Collection.query), and
    * optional `numCandidates` (accepted and recorded but not a
    * semantic knob here: the seed is the EXACT top-k — recall 1, a
    * strict superset of Atlas's ANN contract; the approximate path is
    * `Collection.queryApprox(nprobe)`). Later stages see the matches
    * as documents (metadata root intact) plus the real `_m_distance`
    * column — the `$meta: "vectorSearchScore"` analogue. Unknown
    * options and non-first placement are loud (Atlas errors too). */
  def aggregate(collection: String, pipelineJson: String): DataFrame = {
    val c = getCollection(collection)
    val m = Collection.udfMapper
    val stages = m.readTree(pipelineJson)
    require(stages.isArray, s"pipeline must be a JSON array: $pipelineJson")
    import scala.jdk.CollectionConverters._
    stages.elements().asScala.zipWithIndex.foreach { case (st, i) =>
      require(i == 0 || !(st.isObject && st.has("$vectorSearch")),
        "$vectorSearch must be the FIRST pipeline stage (Atlas)")
    }
    val (seed, rest) =
      if (stages.size() > 0 && stages.get(0).isObject &&
          stages.get(0).has("$vectorSearch")) {
        val spec = stages.get(0).get("$vectorSearch")
        require(spec.isObject, s"$$vectorSearch needs options: $spec")
        val allowed =
          Set("queryVector", "queryText", "limit", "numCandidates",
            "filter", "path")
        spec.properties().asScala.foreach(e => require(allowed(e.getKey),
          s"unsupported $$vectorSearch option (scope: " +
            s"${allowed.toSeq.sorted.mkString("/")}): ${e.getKey}"))
        Option(spec.get("path")).foreach(p =>
          require(p.asText() == "embedding",
            "this store has ONE vector column; path must be " +
              s"'embedding', got: $p"))
        val k = Option(spec.get("limit")).map(_.asInt()).getOrElse(
          throw new IllegalArgumentException("$vectorSearch needs limit"))
        require(k > 0, s"$$vectorSearch limit must be positive: $k")
        val fj = Option(spec.get("filter")).map(_.toString).orNull
        val qt = Option(spec.get("queryText"))
        val qvN = Option(spec.get("queryVector"))
        require(qt.isDefined != qvN.isDefined,
          "$vectorSearch needs exactly one of queryText | queryVector")
        val seeded = qt match {
          case Some(t) =>
            require(t.isTextual, s"queryText must be a string: $t")
            c.query(t.asText(), k, fj)
          case None =>
            val arr = qvN.get
            require(arr.isArray && arr.size() > 0 &&
              arr.elements().asScala.forall(_.isNumber),
              s"queryVector must be a numeric array: $arr")
            c.queryVector(arr.elements().asScala
              .map(_.floatValue()).toArray, k, fj)
        }
        val restJson = m.writeValueAsString(
          m.createArrayNode().addAll(
            stages.elements().asScala.drop(1).toSeq.asJava))
        (seeded, restJson)
      } else (c.df, pipelineJson)
    graft.filter.MqlPipeline.aggregate(seed,
      org.apache.spark.sql.functions.col(Schema.MetaCol), rest,
      name => (getCollection(name).df,
        org.apache.spark.sql.functions.col(Schema.MetaCol)))
  }

  /** db/kaer.go:78-82 — nothing to stop: the SparkSession is shared and
    * parquet is the only durability point. The open handles release the
    * generations they hold on the driver. */
  def close(): Unit = cache.keys.foreach(evict)
}

/** A named collection: parquet data + JSON sidecar + embedder
  * (the reference's db/db.go:49-58), with two optional persisted side
  * indexes (IVF lists, text postings) and an optional change log.
  *
  * One write path. Inserts append to `data` and rewrite the sidecar.
  * Every other mutation is copy-on-write through ONE commit step,
  * `commitGeneration`: it writes the next generation, captures its
  * change events, swaps it in with `swapDir`, updates rows and
  * watermark, writes the sidecar once, then records the change in the
  * side indexes' sidecars (removed ids add to a `tombstones` count, an
  * in-place rewrite sets `stale`). `swapDir` also swaps the compacted
  * change log with its floor, and one reopen repair restores either
  * directory from its `_old` copy. Both side indexes keep coverage through one maintenance ladder,
  * `SideIndex` (no-op → O(tail) append → rebuild).
  *
  * Layout: `data` is flat until the first IVF build. From then on every
  * generation is IVF-clustered — rows stored `partitionBy(cid)`, the
  * centroids at `data/_centroids` — and every writer keeps it so (the
  * commit step recomputes `cid`, an insert assigns it), so the ANN path
  * reads only the probed lists' documents. `cid` never appears in `df`.
  *
  * Metadata is parsed once, at write: every generation carries
  * `_m_meta_v = try_parse_json(_m_meta)` beside the unchanged `_m_meta`
  * text (a VARIANT does not give the inserted text back), marked by
  * `data/_meta_variant`. Every MQL filter of the collection path binds
  * that column — no per-row parse, no lambda. A store written before
  * that form is upgraded when opened ([[upgrade]]), so no read, write or
  * transaction path knows another. `_m_meta_v` never appears in `df`.
  *
  * A small generation is answered on the driver. When its parquet bytes
  * are at most `spark.sql.autoBroadcastJoinThreshold` (Spark's own
  * measure of "small enough to hold whole on the driver"; −1 turns this
  * off), the first query of the generation reads its rows once, as Spark
  * internal rows grouped by list, and [[query]], [[queryVector]] and
  * [[queryApprox]] then evaluate their Spark plan's own optimized
  * expressions over that copy with no Spark job. Larger generations take
  * the Spark plan. The copy lives in the per-generation state
  * ([[Generation]]) beside the scan and the centroids: a commit drops
  * it, the first query after an insert adds the inserted rows, and the
  * session releases it on close, drop and rename. Decoded rows take more
  * memory than their parquet bytes (3.0× for kaerbench's documents), so
  * a higher threshold also means larger copies on the driver, one per
  * open handle.
  *
  * Recovery semantics (db/db.go:209-226): the id watermark is
  * max(sidecar.lastId, max(_m_id) in data) — the *intent* of the
  * reference's getNextID, not its min-id bug (db/db.go:145-174; SURVEY.md
  * §2.4). Data replay (updateIndexFromLastId) is unnecessary: parquet is
  * simultaneously the document store and the "index".
  */
object Collection {

  /** The update operators a literal update document may use. */
  private[api] val UpdateOperators = Seq("$set", "$inc", "$unset", "$min",
    "$max", "$mul", "$push", "$addToSet", "$pull", "$pop", "$rename",
    "$setOnInsert")

  /** Apply a literal update document to a metadata JSON string —
    * shared by the distributed rewrite (updateWhere's per-row UDF)
    * and the driver-side upsert insert path. `$setOnInsert` is a
    * NO-OP here (it applies only when a document is being CREATED —
    * the upsert path folds it into $set before calling). */
  private[api] def applyUpdateOps(meta: String,
      updateJson: String): String =
    applyUpdateOps(meta, updateJson, null, null)

  /** r11 positional form: `arrayFiltersJson` is the Mongo arrayFilters
    * array (for `$[ident]` segments), `queryFilterJson` the original
    * query filter (for `$` first-match resolution). Dotted/positional
    * paths are honored by the VALUE operators ($set/$inc/$unset/$min/
    * $max/$mul); the array operators ($push/$addToSet/$pull/$pop) and
    * $rename refuse them loudly (parity note: FerretDB 1.x does not
    * honor positional forms on those either — loud beats silent
    * corruption). */
  private[api] def applyUpdateOps(meta: String, updateJson: String,
      arrayFiltersJson: String, queryFilterJson: String): String = {
      // per-executor static mapper (Collection.udfMapper) — constructing
      // an ObjectMapper per row would dominate a large rewrite
      import com.fasterxml.jackson.databind.node.ObjectNode
      val m = Collection.udfMapper
      val base = if (meta == null || meta.trim.isEmpty) m.createObjectNode()
      else m.readTree(meta) match {
        case o: ObjectNode => o
        case _ => m.createObjectNode()
      }
      val ops = m.readTree(updateJson).asInstanceOf[ObjectNode]
      // positional machinery inputs, parsed once per row at most
      lazy val af = parseArrayFilters(arrayFiltersJson, m)
      lazy val qf: Option[ObjectNode] =
        Option(queryFilterJson).map(m.readTree).collect {
          case o: ObjectNode => o
        }
      def dotted(k: String): Boolean = k.contains(".")
      Option(ops.get("$set")).foreach { s =>
        s.properties().forEach { e =>
          if (dotted(e.getKey))
            resolveSlots(base, e.getKey, af, qf, create = true)
              .foreach(_.set(e.getValue
                .deepCopy[com.fasterxml.jackson.databind.JsonNode]()))
          else base.set[com.fasterxml.jackson.databind.JsonNode](
            e.getKey, e.getValue)
        }
      }
      Option(ops.get("$inc")).foreach { inc =>
        inc.properties().forEach { e =>
          if (dotted(e.getKey))
            resolveSlots(base, e.getKey, af, qf, create = true)
              .foreach(sl =>
                sl.set(numMerge("$inc", sl.get, e.getValue, e.getKey, m)))
          else base.set[com.fasterxml.jackson.databind.JsonNode](e.getKey,
            numMerge("$inc", base.get(e.getKey), e.getValue, e.getKey, m))
        }
      }
      Option(ops.get("$unset")).foreach { u =>
        u.properties().forEach { e =>
          if (dotted(e.getKey))
            // Mongo: $unset on an array SLOT nulls it (never shifts);
            // missing intermediates are a no-op (create = false)
            resolveSlots(base, e.getKey, af, qf, create = false)
              .foreach(_.unset())
          else base.remove(e.getKey)
        }
      }
      // $min/$max keep the smaller/larger of current and operand
      // (missing field: operand wins — Mongo); $mul multiplies (missing
      // field → 0, Mongo's convention), integral×integral stays
      // integral like $inc. Non-numeric current values fail loudly.
      Seq("$min", "$max", "$mul").foreach { opName =>
        Option(ops.get(opName)).foreach { o =>
          o.properties().forEach { e =>
            if (dotted(e.getKey))
              resolveSlots(base, e.getKey, af, qf, create = true)
                .foreach(sl =>
                  sl.set(numMerge(opName, sl.get, e.getValue, e.getKey, m)))
            else base.set[com.fasterxml.jackson.databind.JsonNode](e.getKey,
              numMerge(opName, base.get(e.getKey), e.getValue, e.getKey, m))
          }
        }
      }
      import com.fasterxml.jackson.databind.JsonNode
      import com.fasterxml.jackson.databind.node.ArrayNode
      import scala.jdk.CollectionConverters._
      // operand → the values to append: {$each: [...]} or a single value
      def pushVals(v: JsonNode): Seq[JsonNode] =
        if (v.isObject && v.size() == 1 && v.has("$each")) {
          val each = v.get("$each")
          require(each.isArray, s"$$each operand must be an array: $each")
          each.elements().asScala.toSeq
        } else Seq(v)
      // array operators and $rename take FLAT keys only: dotted /
      // positional paths on them are refused loudly (FerretDB 1.x
      // parity — it does not honor these forms either)
      def flatKey(op: String, f: String): String = {
        require(!f.contains("."),
          s"$op does not support dotted/positional paths " +
            s"(unsupported — loud by contract): '$f'")
        f
      }
      // the field's array node, created when missing; loud on non-array
      def arrayAt(op: String, f: String): ArrayNode =
        base.get(flatKey(op, f)) match {
          case null => base.putArray(f)
          case n if n.isNull => base.putArray(f)
          case a: ArrayNode => a
          case other => throw new IllegalArgumentException(
            s"$op on non-array field '$f': $other")
        }
      Option(ops.get("$push")).foreach { p =>
        p.properties().forEach { e =>
          val arr = arrayAt("$push", e.getKey)
          pushVals(e.getValue).foreach(arr.add)
        }
      }
      Option(ops.get("$addToSet")).foreach { p =>
        p.properties().forEach { e =>
          val arr = arrayAt("$addToSet", e.getKey)
          pushVals(e.getValue).foreach { v =>
            if (!arr.elements().asScala.contains(v)) arr.add(v)
          }
        }
      }
      Option(ops.get("$pull")).foreach { p =>
        p.properties().forEach { e =>
          base.get(flatKey("$pull", e.getKey)) match {
            case a: ArrayNode =>
              val kept = a.elements().asScala.filterNot(_ == e.getValue)
                .toSeq
              val na = m.createArrayNode()
              kept.foreach(na.add)
              base.set[JsonNode](e.getKey, na)
            case null => () // missing: no-op (Mongo)
            case n if n.isNull => ()
            case other => throw new IllegalArgumentException(
              s"$$pull on non-array field '${e.getKey}': $other")
          }
        }
      }
      Option(ops.get("$pop")).foreach { p =>
        p.properties().forEach { e =>
          base.get(flatKey("$pop", e.getKey)) match {
            case a: ArrayNode if a.size() > 0 =>
              if (e.getValue.asInt() == -1) a.remove(0)
              else a.remove(a.size() - 1) // Mongo: 1 pops last, -1 first
            case a: ArrayNode => () // empty array: no-op
            case null => ()
            case n if n.isNull => ()
            case other => throw new IllegalArgumentException(
              s"$$pop on non-array field '${e.getKey}': $other")
          }
        }
      }
      Option(ops.get("$rename")).foreach { r =>
        r.properties().forEach { e =>
          val v = base.remove(flatKey("$rename", e.getKey))
          if (v != null)
            base.set[JsonNode](flatKey("$rename", e.getValue.asText()), v)
        }
      }
      m.writeValueAsString(base)
  }

  // -------------------------------------------------------------------
  // r11: dotted + positional ($ / $[] / $[ident]) update paths
  // -------------------------------------------------------------------

  import com.fasterxml.jackson.databind.JsonNode
  import com.fasterxml.jackson.databind.node.{ArrayNode, NullNode,
    ObjectNode}

  /** A mutation point resolved from an update path: an object field or
    * an array element. `unset` on an array slot NULLs it — Mongo's
    * $unset never shifts array elements. */
  private[api] sealed trait Slot {
    def get: JsonNode
    def set(v: JsonNode): Unit
    def unset(): Unit
  }
  private final class ObjSlot(o: ObjectNode, f: String) extends Slot {
    def get: JsonNode = o.get(f)
    def set(v: JsonNode): Unit = o.set[JsonNode](f, v)
    def unset(): Unit = o.remove(f)
  }
  private final class ArrSlot(a: ArrayNode, i: Int) extends Slot {
    def get: JsonNode = a.get(i)
    def set(v: JsonNode): Unit = a.set(i, v)
    def unset(): Unit = a.set(i, NullNode.instance)
  }

  private def isPositional(seg: String): Boolean =
    seg == "$" || seg == "$[]" ||
      (seg.startsWith("$[") && seg.endsWith("]"))

  /** The shared numeric-merge law for $inc/$min/$max/$mul — exactly the
    * pre-r11 top-level semantics, factored so array slots share it:
    * $inc from missing sets the operand; $min/$max from missing keep
    * the operand; $mul from missing → 0 (Mongo); integral∘integral
    * stays integral; non-numeric current values are loud. */
  private[api] def numMerge(opName: String, cur: JsonNode, d: JsonNode,
      field: String, m: ObjectMapper): JsonNode = {
    val nf = m.getNodeFactory
    if (opName == "$inc") {
      if (cur == null || cur.isNull) d
      else if (!cur.isNumber) throw new IllegalArgumentException(
        s"$$inc on non-numeric field '$field': $cur")
      else if (cur.isIntegralNumber && d.isIntegralNumber)
        nf.numberNode(cur.asLong() + d.asLong())
      else nf.numberNode(cur.asDouble() + d.asDouble())
    } else {
      if (!d.isNumber) throw new IllegalArgumentException(
        s"$opName operand must be numeric: $d")
      if (cur == null || cur.isNull) {
        if (opName == "$mul") nf.numberNode(0L) else d
      } else if (!cur.isNumber) throw new IllegalArgumentException(
        s"$opName on non-numeric field '$field': $cur")
      else (opName, cur.isIntegralNumber && d.isIntegralNumber) match {
        case ("$min", true) =>
          nf.numberNode(math.min(cur.asLong(), d.asLong()))
        case ("$min", false) =>
          nf.numberNode(math.min(cur.asDouble(), d.asDouble()))
        case ("$max", true) =>
          nf.numberNode(math.max(cur.asLong(), d.asLong()))
        case ("$max", false) =>
          nf.numberNode(math.max(cur.asDouble(), d.asDouble()))
        case ("$mul", true) =>
          nf.numberNode(cur.asLong() * d.asLong())
        case _ =>
          nf.numberNode(cur.asDouble() * d.asDouble())
      }
    }
  }

  /** arrayFilters → ident → AND-ed (sub-path, condition) pairs.
    * `[{"e": {"$lt": 5}}, {"g.score": {"$gte": 85}}]` parses to
    * `e → [("", {$lt:5})]`, `g → [("score", {$gte:85})]`. Keys must be
    * identifier-rooted (no top-level $and — loud, scope contract). */
  private[api] def parseArrayFilters(json: String,
      m: ObjectMapper): Map[String, Seq[(String, JsonNode)]] = {
    import scala.jdk.CollectionConverters._
    if (json == null || json.trim.isEmpty) return Map.empty
    val arr = m.readTree(json)
    require(arr.isArray, s"arrayFilters must be an array: $json")
    val buf = scala.collection.mutable.LinkedHashMap[
      String, Vector[(String, JsonNode)]]()
    arr.elements().asScala.foreach { f =>
      require(f.isObject && f.properties().size() > 0,
        s"each arrayFilter must be a non-empty object: $f")
      f.properties().asScala.foreach { e =>
        require(!e.getKey.startsWith("$"),
          "arrayFilters conditions must be keyed by identifier " +
            s"(top-level operators unsupported — loud): ${e.getKey}")
        val (ident, sub) = e.getKey.split("\\.", 2) match {
          case Array(a) => (a, "")
          case Array(a, b) => (a, b)
        }
        buf(ident) = buf.getOrElse(ident, Vector.empty) :+
          ((sub, e.getValue))
      }
    }
    buf.toMap
  }

  /** Dotted get inside an array element (arrayFilters sub-paths). */
  private def pathGet(n: JsonNode, dottedPath: String): JsonNode = {
    var cur = n
    dottedPath.split('.').foreach { s =>
      cur = if (cur == null || !cur.isObject) null else cur.get(s)
    }
    cur
  }

  /** SQL-free element matcher for positional resolution — Mongo's
    * comparison bracketing on JSON nodes: numbers compare as numbers
    * (BigDecimal-exact), strings as strings, booleans as booleans;
    * cross-type ordered comparisons never match. Object conditions
    * with only $-keys are operator sets; with only field keys they are
    * sub-document conditions (the $elemMatch shape); a single-key
    * {$elemMatch: ...} unwraps. Unknown operators are loud. */
  private[api] def elemMatches(elem: JsonNode, cond: JsonNode): Boolean = {
    import scala.jdk.CollectionConverters._
    def nodeEq(a: JsonNode, b: JsonNode): Boolean =
      if (a == null) false
      else if (a.isNumber && b.isNumber)
        a.decimalValue().compareTo(b.decimalValue()) == 0
      else a == b
    def cmp(a: JsonNode, b: JsonNode): Option[Int] =
      if (a == null) None
      else if (a.isNumber && b.isNumber)
        Some(a.decimalValue().compareTo(b.decimalValue()))
      else if (a.isTextual && b.isTextual)
        Some(a.asText().compareTo(b.asText()))
      else if (a.isBoolean && b.isBoolean)
        Some(java.lang.Boolean.compare(a.asBoolean(), b.asBoolean()))
      else None
    if (cond == null) false
    else if (cond.isObject && cond.properties().size() == 1 &&
        cond.has("$elemMatch"))
      elemMatches(elem, cond.get("$elemMatch"))
    else if (cond.isObject && cond.properties().size() > 0 &&
        cond.properties().asScala.forall(_.getKey.startsWith("$"))) {
      cond.properties().asScala.forall { e =>
        val v = e.getValue
        e.getKey match {
          case "$eq" => nodeEq(elem, v)
          case "$ne" => !nodeEq(elem, v)
          case "$gt" => cmp(elem, v).exists(_ > 0)
          case "$gte" => cmp(elem, v).exists(_ >= 0)
          case "$lt" => cmp(elem, v).exists(_ < 0)
          case "$lte" => cmp(elem, v).exists(_ <= 0)
          case "$in" =>
            require(v.isArray, s"$$in operand must be an array: $v")
            v.elements().asScala.exists(nodeEq(elem, _))
          case "$nin" =>
            require(v.isArray, s"$$nin operand must be an array: $v")
            !v.elements().asScala.exists(nodeEq(elem, _))
          case "$exists" =>
            (elem != null && !elem.isMissingNode) == v.asBoolean()
          case other => throw new IllegalArgumentException(
            "unsupported operator in array-element condition " +
              s"(scope: comparison/$$in/$$nin/$$exists): $other")
        }
      }
    } else if (cond.isObject) {
      // sub-document condition: every field condition must hold
      cond.properties().asScala.forall { e =>
        require(!e.getKey.startsWith("$"),
          s"mixed operator/field keys in element condition: $cond")
        elemMatches(pathGet(elem, e.getKey), e.getValue)
      }
    } else nodeEq(elem, cond)
  }

  /** Find the query filter's condition on `arrayPath` — directly keyed
    * or inside a top-level $and — for `$` first-match resolution.
    * Mongo's contract: the positional operator requires the array
    * field to appear in the query. */
  private def positionalCond(qf: ObjectNode,
      arrayPath: String): Option[JsonNode] = {
    import scala.jdk.CollectionConverters._
    Option(qf.get(arrayPath)).orElse {
      Option(qf.get("$and")).filter(_.isArray).flatMap {
        _.elements().asScala.collectFirst {
          case o: ObjectNode if o.has(arrayPath) => o.get(arrayPath)
        }
      }
    }
  }

  /** Resolve an update path with dotted and positional segments to its
    * mutation slots against one document. Missing intermediate fields:
    * created as objects when `create` (the $set/$inc family), skipped
    * when not ($unset); a positional segment over a missing/non-array
    * node is LOUD (Mongo: "the path must exist to apply array
    * updates"). `$` resolves the FIRST element of the array matching
    * the query filter's condition on that path — loud when the filter
    * carries no such condition or nothing matches (Mongo errors
    * there too). */
  private[api] def resolveSlots(base: ObjectNode, path: String,
      af: Map[String, Seq[(String, JsonNode)]], qf: Option[ObjectNode],
      create: Boolean): Seq[Slot] = {
    val segs = path.split('.')
    require(segs.nonEmpty && segs.forall(_.nonEmpty),
      s"malformed update path: '$path'")
    require(!isPositional(segs.head),
      s"update path cannot START with a positional segment: '$path'")
    def positionalIndices(a: ArrayNode, seg: String, i: Int): Seq[Int] =
      seg match {
        case "$[]" => 0 until a.size()
        case "$" =>
          val arrayPath = segs.take(i).mkString(".")
          val cond = qf.flatMap(positionalCond(_, arrayPath)).getOrElse(
            throw new IllegalArgumentException(
              s"positional '$$' requires a query condition on " +
                s"'$arrayPath' (Mongo contract)"))
          val hit = (0 until a.size()).find(j =>
            elemMatches(a.get(j), cond))
          Seq(hit.getOrElse(throw new IllegalArgumentException(
            s"positional '$$': no element of '$arrayPath' matches " +
              "the query condition")))
        case s =>
          val ident = s.substring(2, s.length - 1)
          val conds = af.getOrElse(ident,
            throw new IllegalArgumentException(
              s"no arrayFilters entry for identifier '$ident'"))
          (0 until a.size()).filter { j =>
            conds.forall { case (sub, c) =>
              elemMatches(
                if (sub.isEmpty) a.get(j) else pathGet(a.get(j), sub), c)
            }
          }
      }
    def walk(node: JsonNode, i: Int): Seq[Slot] = {
      val seg = segs(i)
      val last = i == segs.length - 1
      if (isPositional(seg)) node match {
        case a: ArrayNode =>
          val idxs = positionalIndices(a, seg, i)
          if (last) idxs.map(new ArrSlot(a, _))
          else idxs.flatMap(j => walk(a.get(j), i + 1))
        case other => throw new IllegalArgumentException(
          s"positional segment '$seg' applied to non-array at " +
            s"'${segs.take(i).mkString(".")}': $other")
      } else node match {
        case a: ArrayNode if seg.forall(_.isDigit) =>
          // explicit numeric index (Mongo's "arr.0" form) — loud when
          // out of bounds rather than silently padding
          val j = seg.toInt
          require(j < a.size(),
            s"array index $j out of bounds in path '$path' " +
              s"(size ${a.size()})")
          if (last) Seq(new ArrSlot(a, j)) else walk(a.get(j), i + 1)
        case o: ObjectNode =>
          if (last) Seq(new ObjSlot(o, seg))
          else o.get(seg) match {
            case null | _: NullNode =>
              if (!create) Seq.empty
              else if (isPositional(segs(i + 1)))
                throw new IllegalArgumentException(
                  s"the path '${segs.take(i + 1).mkString(".")}' must " +
                    "exist to apply array updates (Mongo parity)")
              else walk(o.putObject(seg), i + 1)
            case child => walk(child, i + 1)
          }
        case other => throw new IllegalArgumentException(
          s"cannot traverse non-object at " +
            s"'${segs.take(i).mkString(".")}' in path '$path': $other")
      }
    }
    walk(base, 0)
  }

  /** Executor-static Jackson mapper for the update-merge UDF (one per
    * JVM, not per row — ObjectMapper construction is expensive). */
  private[api] lazy val udfMapper = new ObjectMapper()

  /** Default driver-side cap for [[Collection.distinctValues]] —
    * conf-overridable via `graft.distinct.max_values`. */
  private[graft] val MaxDistinctValues = 100000

  /** What a copy-on-write generation changed, as the side indexes see
    * it — the commit step's input next to the new generation. */
  private[api] sealed trait Change
  /** Nothing an index covers changed: compaction, metadata updates. */
  private[api] case object Untouched extends Change
  /** Document text and embedding rewritten under a live id. */
  private[api] case object Rewritten extends Change
  /** These `n` ids are gone; the commit step reads the frame only when
    * an index stops short of the watermark. */
  private[api] final case class Removed(ids: DataFrame, n: Long)
    extends Change

  /** The rows of a generation's data `files` on the driver, as Spark
    * internal rows in the stored column order, grouped by IVF list
    * (`cid`; a flat generation is one group). */
  private[api] final case class Resident(
      lists: Map[Long, Vector[InternalRow]], files: Set[String]) {
    /** With `rows`, those of the files `more`, added to their lists;
      * `cid` is the ordinal of the list column, None in a flat
      * generation. */
    def plus(rows: Array[InternalRow], cid: Option[Int],
        more: Set[String]): Resident = Resident(
      rows.groupBy(r => cid.fold(0L)(r.getLong)).foldLeft(lists) {
        case (acc, (l, rs)) =>
          acc.updated(l, acc.getOrElse(l, Vector.empty) ++ rs)
      }, files ++ more)
  }
}

final class Collection(
    val spark: SparkSession,
    val name: String,
    val dir: String,
    val embedder: Embedder) {

  private val dataDir = new Path(dir, "data").toString
  // an IVF-clustered generation stores its rows partitionBy(cid) and the
  // centroids those cids came from here, inside the directory it swaps
  // with; Spark's file listing skips `_`-prefixed paths
  private val centroidsDir = new Path(dataDir, "_centroids")
  private val CidCol = "cid"
  // the metadata parsed at write (see the class doc); the marker rides
  // the directory swap like `_centroids`
  private val MetaVCol = "_m_meta_v"
  private val variantMarker = new Path(dataDir, "_meta_variant")
  // how every MQL filter of the collection reads the metadata
  private val metaFields = MqlFilter.VariantResolver(col(MetaVCol))
  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  // recovered watermark + row count — see class doc. When the sidecar is
  // stale (data holds ids past its watermark: crash between append and
  // sidecar write, or a rebuilt sidecar), the row count is re-synced from
  // data ONCE here — the recovery path pays one scan so the steady-state
  // insert path never has to (single-writer contract, as the reference).
  private var lastId: Long = 0L
  private var rowsCount: Long = 0L
  // change-stream capture state — see the change-streams section below.
  // Enabled iff dir/changes exists, so a reopened handle keeps
  // capturing (single-writer contract, like the watermark)
  private var captureChanges: Boolean = false
  private var lastOpTime: Option[Long] = None

  /** What this handle keeps of the live data generation, each part built
    * when first needed. [[commitGeneration]] drops it all
    * (single-writer contract: after a change from outside, reopen). An
    * insert adds files to the same generation: it relists the scan, and
    * the next query adds those files' rows to the resident copy.
    *  - `rows`: [[stored]]. Building it lists the data files, which
    *    costs a query about as much as planning it.
    *  - `centroids`: those of a clustered generation, read on the driver.
    *  - `resident`: the stored rows on the driver, see [[residentRows]]. */
  private final class Generation {
    private var frame: Option[DataFrame] = None
    def rows: DataFrame = frame.getOrElse {
      val schema =
        Schema.collectionSchema(embedder.dim).add(MetaVCol, VariantType)
      val f = spark.read.schema(
        if (centroids.isDefined) schema.add(CidCol, LongType) else schema)
        .parquet(dataDir)
      frame = Some(f)
      f
    }
    /** The next [[rows]] lists the files again. */
    def relist(): Unit = frame = None
    lazy val centroids: Option[Seq[(Long, Array[Float])]] =
      if (fs.exists(centroidsDir))
        Some(graft.operators.IvfIndex.readCentroidTable(spark,
          centroidsDir.toString))
      else None
    var resident: Option[Collection.Resident] = None
  }
  private var generation: Option[Generation] = None
  private def gen: Generation = generation.getOrElse {
    val g = new Generation
    generation = Some(g)
    g
  }
  locally {
    // crash-window repair for swapDir, before reading anything: a data
    // generation or change log that vanished between the swap's two
    // renames is intact at <name>_old
    Seq(dataDir, changesDir).foreach(d => restoreSwap(new Path(d)))
    captureChanges = fs.exists(new Path(changesDir))
    val meta = Meta.read(spark, dir)
    val sidecarLast = meta.map(_.lastId).getOrElse(0L)
    val dataMax = maxIdInData()
    lastId = math.max(sidecarLast, dataMax)
    rowsCount =
      if (sidecarLast >= dataMax) meta.map(_.rows).getOrElse(0L)
      else count()
  }

  private def hasData: Boolean = {
    val p = new Path(dataDir)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      n.endsWith(".parquet") || n.startsWith(s"$CidCol=")
    }
  }

  /** The centroids of the current generation when it is IVF-clustered
    * (read on the driver, no job, once per generation); None for a flat
    * generation. */
  private def dataCentroids: Option[Seq[(Long, Array[Float])]] =
    gen.centroids

  /** The stored rows: the public columns plus the storage-only ones —
    * `_m_meta_v`, and the `cid` partition column in a clustered
    * generation. One read, which an empty directory answers with no
    * rows. Built once per generation (see [[Generation]]). */
  private def stored: DataFrame = gen.rows

  private def maxIdInData(): Long =
    if (!hasData) 0L
    else df.agg(max(col(Schema.IdCol))).head() match {
      case Row(null) => 0L
      case Row(v: Long) => v
    }

  /** The collection as a DataFrame (canonical schema, SURVEY.md §1.2;
    * never the storage-only `cid` or `_m_meta_v`). */
  def df: DataFrame = publicCols(stored)

  /** `rows` projected to the canonical schema. */
  private def publicCols(rows: DataFrame): DataFrame =
    rows.select(Schema.collectionSchema(embedder.dim).fieldNames.map(col): _*)

  def count(): Long = if (hasData) df.count() else 0L

  /** Mongo aggregation pipeline over the collection — the FerretDB
    * surface the reference delegates to (and uses itself:
    * `[{$sort: {_m_id: 1}}, {$limit: 1}]`, db/db.go:146-148). Stages
    * fold into ONE Catalyst plan; see [[graft.filter.MqlPipeline]]. */
  def aggregate(pipelineJson: String): DataFrame =
    graft.filter.MqlPipeline.aggregate(df, col(Schema.MetaCol), pipelineJson)

  /** Mongo `distinct` command twin: the distinct values of a metadata
    * field (string view), optionally under an MQL filter. One filtered
    * scan + a distinct aggregate; missing fields contribute nothing.
    *
    * The command shape returns an in-memory array to the client (like
    * Mongo's 16MB-capped distinct), so a high-cardinality field at scale
    * would OOM the driver. Guarded like [[graft.operators.Dedup]]'s
    * bucket cap: loud failure with remediation past
    * `graft.distinct.max_values` (default 100k) — a user who actually
    * wants the full value set should aggregate() to a sink instead. */
  def distinctValues(field: String, filterJson: String = null): Seq[String] = {
    val cap = GraftConfig.confInt(spark, "graft.distinct.max_values")
      .getOrElse(Collection.MaxDistinctValues)
    require(cap >= 1, s"graft.distinct.max_values must be >= 1, got $cap")
    if (!hasData) return Nil
    val out = where(stored, filterJson).select(metaFields.str(field).as("v"))
      .filter(col("v").isNotNull).distinct()
      .orderBy("v").limit(cap + 1).collect().map(_.getString(0)).toSeq
    if (out.length > cap) throw new IllegalStateException(
      s"distinct('$field') exceeds $cap values — the distinct-command " +
        "shape returns an array to the driver and a high-cardinality " +
        "field would exhaust its memory. Raise graft.distinct.max_values " +
        "if the cardinality is genuinely bounded, or aggregate() with a " +
        "$group stage and write the result to a sink instead")
    out
  }

  /** countDocuments twin: rows matching an MQL filter (the whole-table
    * count when null/empty) — one filtered scan, no materialization. */
  def count(filterJson: String): Long =
    if (!hasData) 0L
    else if (filterJson == null || filterJson.trim.isEmpty) count()
    else where(stored, filterJson).count()

  /** Insert path (db/db.go:60-100): validate lengths → embed → assign
    * dense monotone ids above the watermark → append parquet → sidecar
    * update. Id assignment uses zipWithIndex (per-partition offsets, no
    * global sort, no driver materialization) so the same code scales out.
    */
  def insert(data: Data): Unit = insertDF(batchFrame(data))

  /** An insert batch as (_m_doc, _m_meta) rows, lengths validated. */
  private def batchFrame(data: Data): DataFrame = {
    if (data.metadatas.nonEmpty &&
      data.documents.length != data.metadatas.length)
      throw new FieldLengthMismatch // db/db.go:61-63
    val rows = if (data.metadatas.isEmpty)
      data.documents.map(d => (d, null: String))
    else data.documents.zip(data.metadatas)
    spark.createDataFrame(rows).toDF(Schema.DocCol, Schema.MetaCol)
  }

  /** Write `rows` (canonical columns) to `path` IVF-clustered by
    * `cents`: each row's `cid` is its nearest centroid, and the rows are
    * shuffled by `cid` so each list gets one file, `partitionBy(cid)` —
    * not one per list per input partition. */
  private def writeClustered(rows: DataFrame,
      cents: Seq[(Long, Array[Float])], path: String, mode: String): Unit =
    rows.withColumn(CidCol, graft.operators.IvfIndex.assignCid(cents,
        col(Schema.EmbeddingCol)))
      .repartition(col(CidCol))
      .write.mode(mode).partitionBy(CidCol).parquet(path)

  /** `rows` with the storage-only `_m_meta_v`. `try_parse_json` takes
    * any string — null, invalid or duplicate-key JSON parses to null,
    * as the query-time parse does — so no write fails on it. */
  private def withMetaV(rows: DataFrame): DataFrame =
    rows.withColumn(MetaVCol, try_parse_json(col(Schema.MetaCol)))

  /** `rows` with `_m_meta` set to `meta` where `pred` holds: the one way
    * a mutation changes stored metadata, so a carried `_m_meta_v` is
    * re-parsed for exactly those rows ([[commitGeneration]] writes it
    * as given). */
  private def setMeta(rows: DataFrame, pred: Column,
      meta: Column): DataFrame =
    rows.select(rows.columns.toSeq.map {
      case Schema.MetaCol =>
        when(pred, meta).otherwise(col(Schema.MetaCol)).as(Schema.MetaCol)
      case MetaVCol =>
        when(pred, try_parse_json(meta)).otherwise(col(MetaVCol)).as(MetaVCol)
      case c => col(c)
    }: _*)

  /** Write the empty marker file `p` (replacing it). */
  private def mark(p: Path): Unit = fs.create(p, true).close()

  /** Copy the generation's centroid table to `to`, replacing it: the
    * bytes move without a Spark job. */
  private def copyCentroids(to: Path): Unit = {
    if (fs.exists(to)) fs.delete(to, true)
    if (!org.apache.hadoop.fs.FileUtil.copy(fs, centroidsDir, fs, to, false,
        spark.sparkContext.hadoopConfiguration))
      throw new java.io.IOException(s"copy $centroidsDir -> $to failed")
  }

  /** An id-assigned batch embedded, in the stored column order.
    * embedDF, not a per-row column transform: remote-backed embedders
    * batch ≤96 texts per request through it (BatchedEmbedder). */
  private def embedded(withIds: DataFrame): DataFrame =
    embedder.embedDF(withIds, Schema.DocCol, Schema.EmbeddingCol)
      .select(col(Schema.IdCol), col(Schema.DocCol),
        col(Schema.EmbeddingCol), col(Schema.MetaCol))

  /** Bulk path: any DataFrame with (_m_doc STRING, _m_meta STRING).
    *
    * Sidecar bookkeeping is pure arithmetic on the batch size — NO
    * post-write rescan of the table (at 100 TB a per-batch full scan would
    * dominate ingest; the reference never rescans either, it counts ids in
    * memory, db/db.go:75-76). The batch is counted once up front; ids are
    * then `start+1 .. start+n` by construction.
    *
    * In an IVF-clustered generation each new row is assigned its `cid`
    * against the generation's own centroids (a driver-side read, no job)
    * and the batch is appended one file per list, so the layout stays
    * clustered without a rewrite. The rows are not in the index until
    * the next [[ensureIndex]]: [[queryApprox]] serves ids up to the
    * index's covered watermark only.
    *
    * The rows carry `_m_meta_v`, as every file of a generation does (an
    * empty collection's directory was marked when it was opened).
    *
    * A copy of the generation held on the driver ([[residentRows]])
    * stays: the next query reads the files the insert wrote into it, by
    * one job.
    */
  def insertDF(base: DataFrame): Unit = {
    val start = lastId
    val (withIds, n) = zipWithId(base, start)
    if (n > 0) {
      val rows = withMetaV(embedded(withIds))
      generation.foreach(_.relist())
      dataCentroids match {
        case Some(cs) => writeClustered(rows, cs, dataDir, "append")
        case None => rows.write.mode("append").parquet(dataDir)
      }
      lastId = start + n
      rowsCount += n
      writeSidecar()
      if (captureChanges) {
        // insert events straight off the just-written id range: a
        // pushed-down rescan of the data dir, never a re-embed
        val t = nextOpTime()
        appendChangeEvents(t,
          df.filter(col(Schema.IdCol) > start &&
              col(Schema.IdCol) <= start + n)
            .select(lit(t).as("op_time"), lit("insert").as("op"),
              col(Schema.IdCol), col(Schema.DocCol),
              col(Schema.MetaCol)))
      }
    }
  }

  /** Dense monotone ids starting at start+1 (db/db.go:75-76) without a
    * global sort: per-partition counts (ONE bounded-size collect — ≤P
    * rows) turn into literal offsets, and the id is offset + the row's
    * position within its partition (the documented low-33-bit layout of
    * monotonically_increasing_id). Returns the batch size too, so the
    * caller never pays a separate count pass. Replaces the r1-r17
    * rdd.zipWithIndex form, which evaluated the input an extra time for
    * its internal count AND round-tripped every row through external
    * Row objects; this form stays columnar/codegen end to end. Both
    * forms assume the input's partitioning is stable across the count
    * and write evaluations (deterministic sources — parquet scans and
    * driver-local batches here). */
  private def zipWithId(base: DataFrame, start: Long): (DataFrame, Long) = {
    val pidCol = "__graft_ins_pid"
    val posCol = "__graft_ins_pos"
    val tagged = base
      .withColumn(pidCol, spark_partition_id().cast("long"))
      .withColumn(posCol,
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
    val counts = tagged.groupBy(pidCol)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    if (n == 0) return (base, 0L)
    var acc = 0L
    val offs = counts.map { case (p, c) => val o = (p, acc); acc += c; o }
    val offMap = map(offs.flatMap { case (p, o) =>
      Seq(lit(p), lit(o)) }.toSeq: _*)
    // ADVICE r18: if the stable-partitioning assumption ever breaks (a
    // partition id at write time that the counts collect never saw),
    // the lookup must fail the write LOUDLY — a silent NULL here would
    // persist corrupt primary-key ids to parquet
    val off = coalesce(element_at(offMap, col(pidCol)),
      raise_error(concat(
        lit("insert id assignment saw an unknown partition id "),
        col(pidCol).cast("string"),
        lit(" — input partitioning changed between the count and " +
          "write evaluations; materialize the batch first"))))
    val withId = tagged
      .withColumn(Schema.IdCol,
        (lit(start + 1L) + off + col(posCol)).cast(LongType))
      .drop(pidCol, posCol)
    (withId, n)
  }

  // ---- persisted side indexes ---------------------------------------
  // Two indexes sit beside the data: the IVF lists (the Spark-native
  // analogue of the reference's HNSW side-index, db/hnsw.go) and the
  // $text postings (r14). Both keep one maintenance contract,
  // [[SideIndex]]; each supplies only its directory, build, tail append
  // and storage trust check.

  /** One persisted side index under `root`, with its `IndexMeta`
    * sidecar. `trusted(nlist, rows)` is its storage trust check and
    * `appendTail(from)` adds the ids above `from` (O(tail)). The rest is
    * shared:
    *
    * [[ensure]] takes the cheapest step that restores coverage —
    * reference parity with loadIndexIfExists + updateIndexFromLastId
    * (db/db.go:176-207): the reference reopens its persisted HNSW
    * snapshot and replays only the id tail into it; it never rebuilds
    * on insert.
    *  1. the sidecar's live coverage is current and storage passes the
    *     trust check → no-op;
    *  2. a pure id-tail gap: live rows grew by exactly the id range
    *     above the covered watermark. Ids are dense by construction and
    *     deletes of covered ids are counted by `tombstones`, so a delete
    *     of a NEW id breaks the equality. Both counters are arithmetic:
    *     zero scans → append ONLY the tail;
    *  3. anything else — no sidecar, another nlist, a `stale` sidecar,
    *     a NEW-id delete, missing or corrupt storage → rebuild
    *     (O(collection)).
    *
    * A delete is a count ([[countDeleted]]): storage keeps the dead
    * entries, the sidecar's `tombstones` counts them out of the live
    * coverage, and both query paths read the live collection (the text
    * path joins back to it, the IVF path scans it), so dead ids never
    * surface. A rebuild covers exactly the live rows. An in-place
    * content rewrite [[poison]]s the sidecar. */
  private final class SideIndex(root: String,
      trusted: (Int, Long) => Boolean, appendTail: Long => Unit) {
    // how many times the ladder chose each path since this handle
    // opened — the spec's proof that inserts take the O(tail) append
    var rebuilds = 0L
    var appends = 0L

    // the sidecar as last read through this handle; each write below
    // drops it (single-writer contract: after a change from outside,
    // reopen)
    private var held: Option[Option[IndexMeta]] = None
    def sidecar: Option[IndexMeta] = held.getOrElse {
      val s = Meta.readIndex(spark, root)
      held = Some(s)
      s
    }

    /** The ladder; `rebuildAll` is the index's full [[rebuild]]. */
    def ensure(nlist: Int)(rebuildAll: => Unit): Unit = sidecar match {
      case Some(m) if !m.stale && m.nlist == nlist &&
          m.indexedLastId == lastId &&
          m.indexedRows - m.tombstones == rowsCount &&
          trusted(m.nlist, m.indexedRows) =>
        ()
      case Some(m) if !m.stale && m.nlist == nlist &&
          m.indexedLastId < lastId &&
          rowsCount - (m.indexedRows - m.tombstones) ==
            lastId - m.indexedLastId && trusted(m.nlist, m.indexedRows) =>
        appendTail(m.indexedLastId)
        Meta.writeIndex(spark, root, m.copy(indexedLastId = lastId,
          indexedRows = m.indexedRows + (lastId - m.indexedLastId)))
        held = None
        appends += 1
      case _ => rebuildAll
    }

    /** `build` the storage over every live row, then record that
      * coverage. The sidecar is marked `stale` first, so a crash at any
      * step of the build leaves a sidecar the next ensure rebuilds. No-op
      * on an empty collection. */
    def rebuild(nlist: Int)(build: => Unit): Unit =
      if (hasData && rowsCount > 0) {
        Meta.writeIndex(spark, root, sidecar
          .getOrElse(IndexMeta(lastId, rowsCount, nlist)).copy(stale = true))
        held = None
        build
        Meta.writeIndex(spark, root, IndexMeta(lastId, rowsCount, nlist))
        held = None
        rebuilds += 1
      }

    /** Count `n` deleted ids that the storage behind sidecar `m` covers
      * (id ≤ its watermark) out of the live coverage. */
    def countDeleted(m: IndexMeta, n: Long): Unit =
      if (n > 0) {
        Meta.writeIndex(spark, root, m.copy(tombstones = m.tombstones + n))
        held = None
      }

    /** Content changed under live ids, which no counter can express:
      * the next ensure must rebuild. */
    def poison(): Unit = sidecar.foreach { m =>
      Meta.writeIndex(spark, root, m.copy(stale = true))
      held = None
    }
  }

  private def indexDir: String = new Path(dir, "index").toString
  private def textIndexDir: String = new Path(dir, "textindex").toString
  // the IVF storage is trusted only over a generation clustered by the
  // index's own centroids; its tail append copies (id, cid) off the data
  private val ivf = new SideIndex(indexDir,
    (nlist, rows) => clusteredByIndex &&
      graft.operators.IvfIndex.trusted(spark, indexDir, nlist, rows),
    from => writeLists(stored.filter(col(Schema.IdCol) > from), "append"))
  private val text = new SideIndex(textIndexDir,
    (_, docs) => graft.operators.TextIndex.trusted(spark, textIndexDir, docs),
    from => graft.operators.TextIndex.appendTail(spark,
      docsFrame.filter(col("doc_id") > from), textIndexDir))
  // opening ends here, once the side indexes a commit records into exist
  locally { upgrade() }

  /** Bring a store of an earlier layout to the current one when the
    * handle opens. An unmarked generation with rows gets one
    * [[commitGeneration]] that parses `_m_meta_v` from the canonical
    * columns (never one read as null from files that lack it); an empty
    * or missing one is only marked (the commit drops any [[stored]]
    * frame built before it). The commit changes no document, so it
    * captures no change event and consumes no `op_time`. The side
    * indexes' dead-id tables, kept before deletes were a count, are
    * removed. */
  private def upgrade(): Unit = {
    if (!fs.exists(variantMarker)) {
      if (hasData) commitGeneration(withMetaV(df), rowsCount,
        Collection.Untouched, capture = false)
      else mark(variantMarker)
    }
    for (ix <- Seq(indexDir, textIndexDir)) {
      val leftover = new Path(ix, "tombstones")
      if (fs.exists(leftover)) fs.delete(leftover, true)
    }
  }

  private def vectors: DataFrame = df.select(col(Schema.IdCol).as("vec_id"),
    col(Schema.EmbeddingCol).as("embedding"))
  private def docsFrame: DataFrame = df.select(
    col(Schema.IdCol).as("doc_id"), col(Schema.DocCol).as("text"))

  /** The current generation is clustered by exactly the centroids the
    * index holds (bit for bit, both read on the driver). */
  private def clusteredByIndex: Boolean = dataCentroids.exists { dc =>
    fs.exists(new Path(indexDir, "centroids")) && {
      val ic = graft.operators.IvfIndex.readCentroids(spark, indexDir)
      dc.size == ic.size && dc.zip(ic).forall { case ((a, av), (b, bv)) =>
        a == b && java.util.Arrays.equals(av, bv) }
    }
  }

  /** The slim inverted lists: `(vec_id, cid)` of `rows`, read off a
    * clustered generation, written `partitionBy(cid)` with `mode`. */
  private def writeLists(rows: DataFrame, mode: String): Unit =
    rows.select(col(Schema.IdCol).as("vec_id"), col(CidCol))
      .write.mode(mode).partitionBy(CidCol).parquet(s"$indexDir/lists")

  def indexRebuilds: Long = ivf.rebuilds
  def indexAppends: Long = ivf.appends
  def textIndexRebuilds: Long = text.rebuilds
  def textIndexAppends: Long = text.appends

  /** Build (or rebuild) the collection's persisted IVF index. The
    * centroids come from the deterministic KMeans fitter (at production
    * scale swap in the MLlib path,
    * [[graft.operators.IvfIndex.kmeansFitMl]]). The build then commits a
    * clustered generation — every row `partitionBy(cid)`, one file per
    * list, the centroids inside it at `data/_centroids` — and writes
    * `dir/index` from it: the same centroids and the slim lists
    * `(vec_id, cid)` projected from the new data. The index is thus a
    * read of the document store. The sidecar is marked stale before the
    * swap and records the covered (watermark, rows, nlist) last, so later
    * inserts append instead of rebuilding and a crash mid-build leads to
    * a rebuild. No-op on an empty collection. */
  def buildIndex(nlist: Int = 16, iters: Int = 3): Unit =
    ivf.rebuild(nlist) {
      commitGeneration(stored, rowsCount, Collection.Untouched, fitted =
        Some(graft.operators.IvfIndex.kmeansFit(vectors, nlist, iters)))
      copyCentroids(new Path(indexDir, "centroids"))
      writeLists(stored, "overwrite")
    }

  /** Make the persisted IVF index cover the CURRENT data with the least
    * work — the [[SideIndex]] ladder. Its trust check: the generation is
    * clustered by the index's centroids, _SUCCESS markers, `nlist`
    * centroids, list rows == covered rows. */
  def ensureIndex(nlist: Int = 16, iters: Int = 3): Unit =
    ivf.ensure(nlist)(buildIndex(nlist, iters))

  /** Build (or rebuild) the persisted inverted text index: postings
    * partitioned by term bucket under `dir/textindex` (see
    * [[graft.operators.TextIndex]]). Mongo requires a text index before
    * any $text query; this engine mirrors that — [[textFind]] without a
    * built index is loud. No-op on an empty collection. */
  def buildTextIndex(): Unit =
    text.rebuild(graft.operators.TextIndex.NBuckets)(
      graft.operators.TextIndex.build(spark, docsFrame, textIndexDir))

  /** [[ensureIndex]]'s text twin, the same [[SideIndex]] ladder with
    * nlist ≡ the bucket count: coverage current → no-op; pure id-tail
    * gap → tokenize ONLY the tail and append into the buckets; anything
    * else → rebuild. */
  def ensureTextIndex(): Unit =
    text.ensure(graft.operators.TextIndex.NBuckets)(buildTextIndex())

  /** Mongo `find({$text: {$search}, ...extra})` SERVED FROM the
    * persisted text index (r14): search terms map to partition-pruned
    * postings buckets (never a corpus scan), the OR-of-terms hits carry
    * the engine's deterministic textScore surrogate (Σ tf of the
    * distinct matched terms — bit-identical to the scan path's), the
    * MQL pre-filter composes on the live collection, and the result is
    * best-match-first ($meta textScore descending — Mongo contract),
    * ties by id, top-k. Join-back to the live data drops deleted docs,
    * whose postings stay until a rebuild. Loud without a built index
    * (Mongo: $text requires a text index); with one, coverage is
    * re-ensured first — a no-op after deletes, an id-tail append after
    * inserts, never a rebuild on either path. */
  def textFind(search: String, k: Int = 10,
      filterJson: String = "{}"): DataFrame = {
    require(text.sidecar.isDefined,
      s"collection '$name' has no text index — $$text queries need " +
        "one (Mongo contract); call ensureTextIndex() first")
    ensureTextIndex()
    // r15: the index path also serves quoted PHRASES (every phrase
    // must appear as an adjacent token run — position-joined from the
    // postings, partition-pruned like exact terms) and single-edit
    // FUZZY terms (`term~`, resolved against the vocab dictionary,
    // then served as exact terms). Score stays the engine's
    // deterministic surrogate: Σ tf over the DISTINCT matched index
    // terms — exact ∪ fuzzy-resolved ∪ phrase members — so the plain
    // path is bit-identical to pre-r15. The scan-path $text predicate
    // keeps refusing phrase/fuzzy loudly (one parser, two surfaces).
    val q = MqlFilter.parseTextSearch(search)
    val fuzzyTerms = graft.operators.TextIndex
      .fuzzyResolve(spark, textIndexDir, q.fuzzy)
    val allTerms = (q.terms ++ fuzzyTerms ++ q.phrases.flatten).distinct
    val hits0 =
      if (allTerms.nonEmpty) graft.operators.TextIndex
        .termHits(spark, textIndexDir, allTerms)
      else // fuzzy-only query, nothing within one edit: no matches
        spark.range(0).select(col("id").as("doc_id"),
          lit(0L).as("score"))
    val hits = q.phrases.foldLeft(hits0)((h, ph) => h.join(
      graft.operators.TextIndex.phraseDocs(spark, textIndexDir, ph),
      "doc_id"))
    publicCols(where(stored, filterJson))
      .join(hits, col(Schema.IdCol) === col("doc_id"))
      .orderBy(col("score").desc, col(Schema.IdCol).asc)
      .limit(k)
      .select(col(Schema.IdCol), col(Schema.DocCol), col(Schema.MetaCol),
        col("score"))
  }

  /** Recovered watermark (max assigned _m_id) and row count — exposed for
    * reuse trust checks; both maintained arithmetically on insert and
    * re-synced from data on reopen when the sidecar is stale. */
  def watermark: Long = lastId
  def rows: Long = rowsCount

  /** Approximate flagship query through the IVF-clustered data: probe
    * the nearest `nprobe` lists, apply the MQL filter to the probed
    * subset (the reference's pre-filter ∧ ANN composite with the same
    * candidate-restriction semantics — its HNSW also only filters what
    * the index visits), then exact top-k among survivors.
    *
    * The documents themselves are pruned: the probe reads the centroids
    * stored with the current generation on the driver (no job), and the
    * query is one scan of `data` with `cid IN probed` as a PARTITION
    * filter — unprobed lists' files are never opened — then the id
    * bound and the MQL predicate, then top-k. No join; building the
    * DataFrame launches no job, running it launches one. Deleted ids
    * are gone from the data, and ids above the index sidecar's covered
    * watermark (inserted after the last [[ensureIndex]]) are not
    * returned. Requires an index: without an index sidecar, or over a
    * generation that is not clustered (an index built before this
    * layout), it fails naming [[ensureIndex]]. The centroids are read
    * once per generation (see [[Generation]]), the index sidecar once
    * per write through this handle ([[SideIndex]]).
    *
    * A resident generation ([[residentRows]]) answers on the driver with
    * the same plan's expressions, over the probed lists' rows only, and
    * runs no job (see [[query]] for the snapshot semantics). */
  def queryApprox(document: String, k: Int, nprobe: Int = 4,
      filterJson: String = null): DataFrame = {
    val (q, lists) = approxQuery(document, k, nprobe, filterJson)
    residentRows(gen).flatMap(r =>
      onDriver(q, lists.iterator.flatMap(r.lists.getOrElse(_, Vector.empty))))
      .getOrElse(q)
  }

  /** [[queryApprox]]'s Spark plan, and the lists it probes. */
  private def approxQuery(document: String, k: Int, nprobe: Int,
      filterJson: String): (DataFrame, Seq[Long]) = {
    require(nprobe >= 1, s"queryApprox needs nprobe >= 1, got $nprobe")
    val (covered, cents) = (ivf.sidecar, dataCentroids) match {
      case (Some(m), Some(cs)) => (m.indexedLastId, cs)
      case _ => throw new IllegalArgumentException(s"collection '$name' " +
        "has no IVF index over its current data — queryApprox needs " +
        "one; call ensureIndex() first")
    }
    val qv = embedder.embedOne(document)
    val lists = graft.operators.IvfIndex.nearestLists(cents, qv, nprobe)
    // the probe ids read through references: one generated class
    // serves every probe set on the resident path
    val probed = stored.filter(
      col(CidCol).isin(lists.map(graft.expr.BoundLiteral.column): _*) &&
        col(Schema.IdCol) <= covered)
    (ranked(probed, qv, k, filterJson), lists)
  }

  /** The top `k` of `rows` under an MQL filter by L2 distance to `qv`:
    * the public columns plus `_distance`, nearest first, ties by id.
    * Nulls LAST: a null/dim-mismatched embedding has null distance and
    * must never outrank real matches (Spark asc defaults NULLS FIRST). */
  private def ranked(rows: DataFrame, qv: Array[Float], k: Int,
      filterJson: String): DataFrame =
    publicCols(where(rows, filterJson))
      .withColumn(Schema.DistanceCol,
        graft.functions.VectorFunctions.l2(col(Schema.EmbeddingCol),
          array(qv.map(v => lit(v)): _*)))
      .orderBy(col(Schema.DistanceCol).asc_nulls_last,
        col(Schema.IdCol).asc)
      .limit(k)

  // ---- driver-resident generations --------------------------------------

  /** A generation within `spark.sql.autoBroadcastJoinThreshold` — its
    * relation's `stats.sizeInBytes` (the parquet bytes Spark's broadcast
    * decision reads) at most the threshold, which −1 turns off. */
  private def fits(g: Generation): Boolean = {
    val limit = PlanBridge.broadcastThreshold(spark)
    limit >= 0 &&
      g.rows.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
  }

  /** The ordinal of `cid` in a clustered generation's rows. */
  private def cidIndex(g: Generation): Option[Int] =
    g.centroids.map(_ => g.rows.schema.fieldIndex(CidCol))

  /** The live generation's rows on the driver when it [[fits]]: read by
    * one job on first use, then kept until [[commitGeneration]]. The
    * files an insert adds are read by one job on the next call, and only
    * those (a read of `_m_id` above the copy's ids would open every file
    * of the generation). Above the limit there is no copy, and one held
    * from before the limit was lowered is dropped. */
  private def residentRows(g: Generation): Option[Collection.Resident] =
    if (!fits(g)) { g.resident = None; None }
    else {
      val held =
        g.resident.getOrElse(Collection.Resident(Map.empty, Set.empty))
      val fresh = g.rows.inputFiles.toSet -- held.files
      val r = if (fresh.isEmpty) held else held.plus(
        PlanBridge.collectInternal(spark.read.schema(g.rows.schema)
          .option("basePath", dataDir).parquet(fresh.toSeq: _*)),
        cidIndex(g), fresh)
      g.resident = Some(r)
      Some(r)
    }

  /** Answer `q` — a plan [[ranked]] built over [[stored]] — from
    * `rows` of that scan, with no Spark job. The plan is the
    * session's optimization of `q` ([[PlanBridge.optimizedOverFullRows]]:
    * no VARIANT field is pushed into the scan, as the rows hold the
    * whole column). Its Filter condition is bound by `Predicate.create`.
    * Each passing row's sort keys (the Project's expressions that its
    * SortOrders name: the `l2` distance and the id) are evaluated
    * alone and compared, by Spark's ordering, with a bounded heap of
    * the top `k`; only the `k` rows left at the end go through the
    * whole Project (`UnsafeProjection`). An optimized Filter
    * folded to true is gone (every row passes), one folded to false or
    * null leaves an empty relation (no row). The answer is a local
    * DataFrame with `q`'s schema. None when the optimized plan has
    * another shape: the caller runs `q`. */
  private def onDriver(q: DataFrame,
      rows: Iterator[InternalRow]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
      BoundReference, IntegerLiteral, Predicate, UnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit,
      LocalRelation, Project, Sort}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def local(out: Seq[InternalRow]) = Some(PlanBridge.ofRows(spark,
      LocalRelation(q.queryExecution.analyzed.output.map(_.newInstance()),
        out)))
    PlanBridge.optimizedOverFullRows(q) match {
      case Limit(IntegerLiteral(k),
          Sort(order, true, Project(list, below), _)) =>
        val (cond, scan) = below match {
          case Filter(c, l: LogicalRelation) => (Some(c), l)
          case l: LogicalRelation => (None, l)
          case _ => return None
        }
        if (scan.schema.map(_.dataType) != stored.schema.map(_.dataType))
          return None
        val pred = cond.map { c =>
          val p = Predicate.create(c, scan.output)
          p.initialize(0)
          p
        }
        // the sort keys over the scan's rows, and their ordering
        val defs = list.map(e => e.toAttribute -> e).toMap
        val keys = order.map(_.child.transform {
          case a: Attribute => defs.get(a) match {
            case Some(Alias(e, _)) => e
            case _ => a
          }
        })
        val key = UnsafeProjection.create(keys, scan.output)
        val ord = GenerateOrdering.generate(order.zip(keys).zipWithIndex
          .map { case ((o, e), i) =>
            o.copy(child = BoundReference(i, e.dataType, e.nullable)) },
          Nil)
        // the k best (key, row) pairs so far, the worst on top
        val worstFirst: java.util.Comparator[(InternalRow, InternalRow)] =
          (a, b) => ord.compare(b._1, a._1)
        val top = new java.util.PriorityQueue(worstFirst)
        for (r <- rows if pred.forall(_.eval(r))) {
          val kr = key(r)
          if (top.size < k) top.add((kr.copy(), r))
          else if (ord.compare(kr, top.peek._1) < 0) {
            top.poll()
            top.add((kr.copy(), r))
          }
        }
        import scala.jdk.CollectionConverters._
        val project = UnsafeProjection.create(list, scan.output)
        local(top.asScala.toVector.sortWith((a, b) =>
          ord.compare(a._1, b._1) < 0).map(p => project(p._2).copy()))
      case l: LocalRelation if l.data.isEmpty => local(Nil)
      case _ => None
    }
  }

  /** Release what this handle holds on the driver. */
  private[api] def release(): Unit = generation = None

  // ---- change streams ---------------------------------------------------
  // Mongo `collection.watch()` analogue (the most-used Mongo API with no
  // FerretDB-1.x/reference counterpart — extension tier): an oplog-style
  // event log captured at the store's two write points. `insertDF`
  // appends emit insert events straight from the just-written id range
  // (a pushed-down rescan — the embeddings are NOT recomputed); every
  // copy-on-write mutation commits through [[commitGeneration]], which
  // emits insert/update/delete events from a full-outer diff of the
  // live generation vs the already-written new one before it swaps
  // them, keyed on `_m_id` with null-safe payload compare (so a
  // compact(), which changes no logical content, emits nothing). Events
  // carry the AFTER image (doc+meta; null for deletes) — Mongo's
  // fullDocument=updateLookup shape.
  //
  // Capture is OPT-IN per collection (`enableChangeStream()`), exactly
  // because the diff costs one extra join per mutation: a non-watched
  // collection pays zero. Like Mongo, watch() replays nothing from
  // before capture was enabled. `op_time` is the resume token: a dense
  // per-mutation sequence (every capture-enabled mutation consumes one,
  // even if it changed nothing), recovered from the log's max on
  // reopen. Scale: the log is an append-only parquet dir partitioned by
  // write batch; reading it is a plain filtered scan, and the streaming
  // variant is the standard file-source readStream — executors tail new
  // files, no driver state.
  private def changesDir: String = new Path(dir, "changes").toString

  private def changeSchema: StructType = StructType(Seq(
    StructField("op_time", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField(Schema.IdCol, LongType, nullable = false),
    StructField(Schema.DocCol, StringType, nullable = true),
    StructField(Schema.MetaCol, StringType, nullable = true)))

  /** Start capturing change events for this collection (idempotent).
    * Events accrue from this point on — there is no retroactive replay
    * (Mongo watch() semantics). */
  def enableChangeStream(): Unit = if (!captureChanges) {
    val p = new Path(changesDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    captureChanges = true
    lastOpTime = Some(0L)
  }

  /** Whether change capture is on (enabled now or by a previous
    * handle — the changes dir is the durable switch). */
  def changeStreamEnabled: Boolean = captureChanges

  private def nextOpTime(): Long = {
    val base = lastOpTime.getOrElse {
      // reopened handle: recover the sequence from the log itself — the
      // compaction floor keeps the sequence monotone even when the whole
      // log was trimmed (an empty compacted log must NOT restart at 1:
      // old resume tokens would silently alias new events)
      spark.read.schema(changeSchema).parquet(changesDir)
        .agg(max(col("op_time"))).head() match {
        case Row(null) => 0L
        case Row(v: Long) => v
      }
    }
    // max with the CURRENT floor even on the live path: a compaction
    // (this handle's or another's) may have raised the floor past this
    // handle's lastOpTime, and an event minted below the floor would be
    // invisible to every floor-valid watch() — silently lost
    1L + math.max(base, readChangeFloor())
  }

  // ---- change-log compaction (r13) ---------------------------------
  // The log is append-only; an unbounded oplog is an operational
  // liability (Mongo caps its oplog window for the same reason).
  // compactChangeLog trims events at/below a resume token and records
  // the trim point as the log FLOOR — resume tokens at/below the floor
  // are invalidated loudly (Mongo's resume-token-past-oplog-start
  // error): a resumed watch that cannot prove it missed nothing must
  // re-sync from the collection, never silently skip.
  private def floorPath = new Path(changesDir, "_floor")

  /** The compaction floor, read from the filesystem EVERY call (no
    * handle-local cache): a second handle on the same directory may
    * compact the log, and a stale cached floor would let
    * watch(resumeAfter) pass the floor check and silently return a
    * partial stream — the exact silent-skip the floor exists to
    * prevent. The file is a few bytes; the read is noise next to any
    * parquet scan. An unparsable floor is loud: reading it as 0 would
    * let old resume tokens pass and restart `op_time` below events
    * already handed out. */
  private def readChangeFloor(): Long =
    Meta.readSmall(spark, floorPath).fold(0L) { b =>
      val v = new String(b, java.nio.charset.StandardCharsets.UTF_8).trim
      try v.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalStateException(s"change-log floor $floorPath " +
          s"is unreadable ('$v'); the trim point is unknown, so no resume " +
          "token can be checked — restore the file or re-enable capture")
      }
    }

  /** Write the floor into `logDir`, a replacement log that [[swapDir]]
    * swaps in whole: the live floor is never torn, absent or lowered. */
  private def writeChangeFloor(logDir: Path, v: Long): Unit =
    Meta.writeAtomic(spark, logDir.toString, "_floor",
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Trim the change log: drop every event with `op_time <=
    * retainAfter` and set the log floor there. The retained events and
    * the new floor are written to a fresh directory that [[swapDir]]
    * swaps in, as [[commitGeneration]] does for the data
    * (underscore-prefixed floor marker rides the directory, invisible
    * to the parquet scans). Floors never move backwards, and an empty
    * log swaps like any other. Scale: the rewrite reads only the
    * RETAINED tail — at a production cadence (compact up to the slowest
    * consumer's checkpoint) that is the small live window, and the
    * trimmed history is one directory delete. */
  def compactChangeLog(retainAfter: Long): Unit = {
    require(captureChanges,
      s"change stream not enabled for collection '$name' — nothing " +
        "to compact")
    val newFloor = math.max(retainAfter, readChangeFloor())
    val live = new Path(changesDir)
    val tmp = clearedTmp(live)
    spark.read.schema(changeSchema).parquet(changesDir)
      .filter(col("op_time") > retainAfter)
      .write.parquet(tmp.toString)
    writeChangeFloor(tmp, newFloor)
    swapDir(tmp, live)
  }

  private def appendChangeEvents(t: Long, events: DataFrame): Unit = {
    events.write.mode("append").parquet(changesDir)
    lastOpTime = Some(t)
  }

  /** The change-event log from after `resumeAfter` (an `op_time` resume
    * token; 0 = everything captured). Batch form — one row per changed
    * document per mutation: `(op_time, op ∈ insert|update|delete,
    * _m_id, _m_doc, _m_meta)` with the after image (nulls for delete).
    * Loud when capture was never enabled: an un-captured past cannot be
    * watched. */
  def watch(resumeAfter: Long = 0L): DataFrame = {
    require(captureChanges,
      s"change stream not enabled for collection '$name' — call " +
        "enableChangeStream() first; events are captured from that " +
        "point on (no retroactive replay)")
    require(resumeAfter >= readChangeFloor(),
      s"resume token $resumeAfter predates the compacted change-log " +
        s"start (floor ${readChangeFloor()}) for collection '$name' — " +
        "a resumed watch cannot prove nothing was missed; re-sync " +
        "from the collection and resume from a current token")
    spark.read.schema(changeSchema).parquet(changesDir)
      .filter(col("op_time") > resumeAfter)
  }

  /** Structured Streaming form of [[watch]]: a file-source readStream
    * tailing the event log — watermarks/windows/stateful transforms
    * compose on top like any stream. */
  def watchStream(options: Map[String, String] = Map.empty): DataFrame = {
    require(captureChanges,
      s"change stream not enabled for collection '$name' — call " +
        "enableChangeStream() first")
    spark.readStream.schema(changeSchema).options(options)
      .parquet(changesDir)
  }

  /** Maintenance: compact the append-per-batch small files (read →
    * [[commitGeneration]]). The insert path appends one file set per
    * batch; at high batch counts scan planning degrades — the standard
    * cure is periodic compaction, exactly as a LSM/lakehouse would. A
    * flat generation is range-repartitioned on _m_id into `targetFiles`
    * id-ranged files; an IVF-clustered one is rewritten with one file
    * per list, and `targetFiles` does not apply. Ids, rows, and sidecar
    * are unchanged. */
  def compact(targetFiles: Int = 4): Unit = if (hasData)
    commitGeneration(
      if (fs.exists(centroidsDir)) stored
      else stored.repartitionByRange(targetFiles, col(Schema.IdCol)),
      rowsCount, Collection.Untouched)

  // ---- the write path ---------------------------------------------------

  /** The collection sidecar for the current watermark and row count. */
  private def writeSidecar(): Unit = Meta.write(spark, dir,
    CollectionMeta(name, lastId, embedder.dim, embedder.id, rowsCount))

  /** The ONE commit step of every copy-on-write mutation — compact,
    * delete, findOneAndDelete, replaceOne, the update paths and
    * [[Txn.commit]] (parquet is immutable; every lakehouse
    * DELETE/UPDATE is this under the hood) — and of [[buildIndex]] and
    * [[upgrade]]. It writes `next`'s canonical columns and its own
    * `_m_meta_v` as a new generation, with the `_meta_variant` marker.
    * `next` must carry an exact `_m_meta_v`: rows of [[stored]] whose
    * metadata changed only through [[setMeta]], or rows parsed by
    * [[withMetaV]]. The layout carries forward: flat stays flat; a
    * clustered generation's centroids are copied into the new one and
    * every row's `cid` is computed against them, so no caller handles
    * `cid`. [[buildIndex]]
    * passes `fitted` centroids instead, which cluster a flat generation
    * or replace the old clustering. A clustered generation is written
    * `partitionBy(cid)`, one file per list, with its centroid table
    * inside it at `_centroids`, so the swap commits assignments and
    * centroids together. Then, in order:
    *  1. swaps it in with [[swapDir]], appending its change events
    *     first when `capture`;
    *  2. sets the row count to `rows` and the watermark to `watermark`;
    *  3. writes the collection sidecar;
    *  4. records `change` in each side index whose sidecar exists: the
    *     removed ids it covers join its `tombstones` count, an in-place
    *     rewrite poisons it.
    * When every index covers the pre-commit watermark, each counts the
    * caller's `n`, with no job; else one aggregate counts the covered
    * ids for all of them, before the swap (the ids may read the
    * generation being replaced). The handle's [[Generation]] state is
    * dropped with the swap. `capture` is off only for [[upgrade]], which
    * changes no document. */
  private def commitGeneration(next: DataFrame, rows: Long,
      change: Collection.Change, watermark: Long = lastId,
      fitted: Option[Seq[(Long, Array[Float])]] = None,
      capture: Boolean = captureChanges): Unit = {
    val indexed = Seq(ivf, text).flatMap(ix => ix.sidecar.map(ix -> _))
    val covered: Seq[Long] = change match {
      case Collection.Removed(ids, _)
          if indexed.exists(_._2.indexedLastId < lastId) =>
        val r = ids.select(indexed.map(i =>
          count_if(col(Schema.IdCol) <= i._2.indexedLastId)): _*).head()
        indexed.indices.map(r.getLong)
      case Collection.Removed(_, n) => indexed.map(_ => n)
      case _ => indexed.map(_ => 0L)
    }
    val live = new Path(dataDir)
    val tmp = clearedTmp(live)
    val tmpCentroids = new Path(tmp, centroidsDir.getName)
    val rowsV =
      next.select(publicCols(next).columns.map(col) :+ col(MetaVCol): _*)
    fitted.orElse(dataCentroids) match {
      case Some(cs) =>
        writeClustered(rowsV, cs, tmp.toString, "errorifexists")
        if (fitted.isDefined) graft.operators.IvfIndex.writeCentroids(spark,
          cs, tmpCentroids.toString)
        else copyCentroids(tmpCentroids)
      case None => rowsV.write.parquet(tmp.toString)
    }
    mark(new Path(tmp, variantMarker.getName))
    if (capture) {
      // diff the old generation (still live) against the written one —
      // both are plain parquet scans, no recomputation of `next`'s plan
      val t = nextOpTime()
      val o = df.select(col(Schema.IdCol),
        col(Schema.DocCol).as("doc_a"), col(Schema.MetaCol).as("meta_a"),
        lit(true).as("present_a"))
      val nw = spark.read.schema(Schema.collectionSchema(embedder.dim))
        .parquet(tmp.toString)
        .select(col(Schema.IdCol),
          col(Schema.DocCol).as("doc_b"), col(Schema.MetaCol).as("meta_b"),
          lit(true).as("present_b"))
      appendChangeEvents(t, o.join(nw, Seq(Schema.IdCol), "full_outer")
        .withColumn("op",
          when(col("present_a").isNull, lit("insert"))
            .when(col("present_b").isNull, lit("delete"))
            .when(!(col("doc_a") <=> col("doc_b")) ||
              !(col("meta_a") <=> col("meta_b")), lit("update")))
        .filter(col("op").isNotNull)
        .select(lit(t).as("op_time"), col("op"), col(Schema.IdCol),
          col("doc_b").as(Schema.DocCol), col("meta_b").as(Schema.MetaCol)))
    }
    swapDir(tmp, live)
    generation = None
    lastId = watermark
    rowsCount = rows
    writeSidecar()
    indexed.zip(covered).foreach { case ((ix, m), n) =>
      if (change == Collection.Rewritten) ix.poison()
      ix.countDeleted(m, n)
    }
  }

  /** `<live>_compact`, emptied: where a replacement for `live` is
    * written before [[swapDir]]. */
  private def clearedTmp(live: Path): Path = {
    val tmp = new Path(live.getParent, live.getName + "_compact")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    tmp
  }

  private def oldOf(live: Path): Path =
    new Path(live.getParent, live.getName + "_old")

  /** Replace directory `live` by the fully written `tmp` — the data
    * generation and the change log both swap through here: delete a
    * leftover `<live>_old`, rename live → `<live>_old`, rename tmp →
    * live (renaming `_old` back when that fails), delete `_old`. A
    * crash between the two renames leaves the before-state at
    * `<live>_old`, which [[restoreSwap]] puts back on reopen. */
  private def swapDir(tmp: Path, live: Path): Unit = {
    val old = oldOf(live)
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(live, old))
      throw new java.io.IOException(s"swap: rename $live -> $old failed")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live)
      throw new java.io.IOException(s"swap: rename $tmp -> $live failed")
    }
    fs.delete(old, true)
  }

  /** Reopen repair of [[swapDir]]'s crash window. */
  private def restoreSwap(live: Path): Unit = {
    val old = oldOf(live)
    if (!fs.exists(live) && fs.exists(old)) fs.rename(old, live)
  }

  /** `rows` under an MQL filter; all of them when it is null or blank.
    * The filter reads the stored `_m_meta_v` — no parse, no lambda, so
    * it compiles into whole-stage codegen. */
  private def where(rows: DataFrame, filterJson: String): DataFrame =
    if (filterJson == null || filterJson.trim.isEmpty) rows
    else rows.filter(MqlFilter.toColumn(filterJson, metaFields))

  /** Rows matching an MQL filter; a null verdict (missing field) is no
    * match. */
  private def matching(filterJson: String): Column =
    coalesce(MqlFilter.toColumn(filterJson, metaFields), lit(false))

  /** The FIRST document matching the filter — lowest `_m_id`, the
    * store's deterministic stand-in for Mongo's natural (storage)
    * order — as `(id, metadata)`; the one lookup behind replaceOne and
    * the findOneAnd* family. */
  private def firstMatch(filterJson: String): Option[(Long, String)] =
    if (!hasData) None
    else stored.filter(matching(filterJson))
      .orderBy(col(Schema.IdCol).asc).limit(1)
      .select(col(Schema.IdCol), col(Schema.MetaCol)).collect()
      .headOption.map(r => (r.getLong(0), r.getString(1)))

  private def metaOf(id: Long): String =
    df.filter(col(Schema.IdCol) === id)
      .select(col(Schema.MetaCol)).head().getString(0)

  /** Delete documents matching an MQL filter — copy-on-write rewrite.
    * Surviving ids are unchanged and deleted ids are NOT reused (the
    * watermark stays): id density is an insert-order property, not an
    * invariant after deletes — same as any document store. Returns the
    * number of rows removed. Goes beyond the reference surface (its
    * FerretDB layer supports deletes; kaer never exposed them) — the
    * capability a real user of a document+vector store expects. */
  def delete(filterJson: String): Long = {
    if (!hasData) return 0L
    val rows = stored
    val pred = matching(filterJson)
    val keep = rows.filter(!pred)
    val kept = keep.count()
    val removed = rowsCount - kept
    if (removed > 0L) commitGeneration(keep, kept, Collection.Removed(
      rows.filter(pred).select(col(Schema.IdCol)), removed))
    removed
  }

  /** Mongo `replaceOne`: swap the FIRST document matching the filter
    * (first = lowest `_m_id` — Mongo's natural order is storage order;
    * id order is this store's deterministic equivalent) for a new
    * document + metadata. The replacement re-embeds — the document
    * text changed, so a stale vector would silently corrupt every
    * later kNN ranking. The id is retained (Mongo keeps `_id` on
    * replace). Copy-on-write rewrite; returns 1 when a document
    * matched, 0 otherwise. */
  def replaceOne(filterJson: String, document: String,
      metadata: Map[String, Any] = Map.empty): Long =
    firstMatch(filterJson).fold(0L) { case (id, _) =>
      replaceId(id, document, metadata); 1L
    }

  /** Replace document `id`'s text, embedding and metadata in place. The
    * rewrite changes content UNDER an unchanged id / watermark /
    * rowcount, so both index families' coverage arithmetic still passes
    * while their entries describe the OLD content (stale postings would
    * keep matching the old text; the IVF entry pins the id to the old
    * embedding's list). A delete count plus a reinsert can't express
    * this — the id stays live, so its old entries would keep serving —
    * so the commit poisons the sidecars and the next ensure rebuilds: the
    * same cost class as this O(n) copy-on-write, paid once, lazily, by
    * the next index consumer. The metadata goes through [[setMeta]], so
    * the replaced row's `_m_meta_v` is re-parsed. */
  private def replaceId(id: Long, document: String,
      metadata: Map[String, Any]): Unit = {
    val emb = embedder.embedOne(document)
    val embLit = array(emb.map(v => lit(v)): _*)
    val metaJson =
      if (metadata.isEmpty) lit(null).cast("string")
      else lit(Data.toJson(metadata))
    val isHit = col(Schema.IdCol) === id
    commitGeneration(setMeta(stored, isHit, metaJson)
      .withColumn(Schema.DocCol,
        when(isHit, lit(document)).otherwise(col(Schema.DocCol)))
      .withColumn(Schema.EmbeddingCol,
        when(isHit, embLit).otherwise(col(Schema.EmbeddingCol))),
      rowsCount, Collection.Rewritten)
  }

  /** Mongo-style $set on metadata for documents matching an MQL filter —
    * sugar over [[updateDoc]]; returns the number of rows updated. */
  def update(filterJson: String, set: Map[String, Any]): Long =
    if (set.isEmpty) 0L
    else updateDoc(filterJson, s"""{"$$set": ${Data.toJson(set)}}""")

  /** Mongo upsert: run the update; when NOTHING matched, create the
    * document — metadata seeded from the filter's top-level EQUALITY
    * conditions (`{f: lit}` / `{f: {$eq: lit}}` — Mongo's seeding
    * rule), then the update operators applied to that seed with
    * `$setOnInsert` folded into `$set` (it fires exactly because this
    * is the insert branch). The new row inserts through the normal
    * embed/append path (empty document text — a metadata-only doc,
    * the Mongo shape). Returns matched count (0 ⇒ one doc inserted).
    * Literal update documents only — pipeline-form upsert is loud. */
  def updateDoc(filterJson: String, updateJson: String,
      upsert: Boolean): Long = {
    val matched = updateDoc(filterJson, updateJson)
    if (matched > 0 || !upsert) return matched
    require(!updateJson.trim.startsWith("["),
      "upsert with an update PIPELINE is not supported")
    val m = Collection.udfMapper
    // re-validate the operator set HERE: the 2-arg call short-circuits
    // before validation on an EMPTY collection (hasData guard), and the
    // insert branch must reject unknown operators exactly like the
    // matched path does
    val opsCheck = m.readTree(updateJson)
    require(opsCheck.isObject && opsCheck.properties().size() > 0,
      s"update document must be a non-empty object: $updateJson")
    opsCheck.properties().forEach(e =>
      require(Collection.UpdateOperators.contains(e.getKey),
        s"unsupported update operator: ${e.getKey}"))
    val seed = m.createObjectNode()
    val f = m.readTree(filterJson)
    require(f.isObject, s"upsert filter must be an object: $filterJson")
    // Mongo's seeding rule: top-level equality conditions, INCLUDING
    // those inside a top-level $and (other operators don't seed)
    def seedFrom(node: com.fasterxml.jackson.databind.JsonNode): Unit =
      node.properties().forEach { e =>
        if (e.getKey == "$and" && e.getValue.isArray) {
          e.getValue.elements().forEachRemaining { sub =>
            if (sub.isObject) seedFrom(sub)
          }
        } else if (!e.getKey.startsWith("$")) {
          val v = e.getValue
          if (v.isObject) {
            if (v.properties().size() == 1 && v.has("$eq"))
              seed.set[com.fasterxml.jackson.databind.JsonNode](
                e.getKey, v.get("$eq"))
          } else seed.set[com.fasterxml.jackson.databind.JsonNode](
            e.getKey, v)
        }
      }
    seedFrom(f)
    // fold $setOnInsert into $set — the insert branch is the one place
    // it applies
    val ops = m.readTree(updateJson)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    Option(ops.remove("$setOnInsert")).foreach { soi =>
      val set = Option(ops.get("$set")) match {
        case Some(o: com.fasterxml.jackson.databind.node.ObjectNode) => o
        case _ =>
          val o = m.createObjectNode(); ops.set("$set", o); o
      }
      soi.properties().forEach(e =>
        set.set[com.fasterxml.jackson.databind.JsonNode](
          e.getKey, e.getValue))
    }
    val metaJson = Collection.applyUpdateOps(
      m.writeValueAsString(seed), m.writeValueAsString(ops))
    import spark.implicits._
    insertDF(Seq(("", metaJson))
      .toDF(Schema.DocCol, Schema.MetaCol))
    0L
  }

  /** Mongo update document over metadata: `{"$set": {...}, "$inc":
    * {...}, "$unset": {...}, "$push": {...}, "$addToSet": {...},
    * "$pull": {...}, "$rename": {...}}` applied to every document
    * matching the MQL filter — the FerretDB update-operator surface.
    * $inc adds to a numeric field (missing field starts at 0,
    * integral+integral stays integral — Mongo's long-vs-double
    * behavior); $inc on a non-numeric value fails the job loudly (Mongo
    * errors too); $unset removes keys. $push/$addToSet append to an
    * array field (created when missing; `{$each: [...]}` appends many;
    * $addToSet skips structurally-equal existing elements); both fail
    * loudly on a non-array value, as Mongo does. $pull removes all
    * elements structurally equal to the operand (missing field: no-op).
    * $pop removes the last (1) or first (−1) element (empty/missing:
    * no-op). $min/$max keep the smaller/larger of current and operand
    * (missing: operand wins); $mul multiplies (missing → 0 — Mongo's
    * convention), integral×integral staying integral like $inc.
    * $rename moves a key (missing source: no-op — Mongo's contract).
    * Operators apply in the fixed order $set, $inc, $unset, $min,
    * $max, $mul, $push, $addToSet, $pull, $pop, $rename. Copy-on-write rewrite; document text
    * and embeddings untouched. The merge is a per-row JSON transform
    * off the hot query path — maintenance ops trade codegen for exact
    * JSON semantics. */
  def updateDoc(filterJson: String, updateJson: String): Long =
    updateDoc(filterJson, updateJson, arrayFiltersJson = null)

  /** r11 positional form: `arrayFiltersJson` is Mongo's arrayFilters
    * array for `$[ident]` path segments; `$` segments resolve their
    * first-match against `filterJson`'s condition on the array path. */
  def updateDoc(filterJson: String, updateJson: String,
      arrayFiltersJson: String): Long = {
    if (!hasData) return 0L
    val pred = matching(filterJson)
    // Mongo 4.2 update PIPELINES: `[{"$set": {f: <aggregation expr>}}]`
    // — values COMPUTED from the document itself (the literal-operand
    // operators above can't express "a = b + c"). Scope: $set stages
    // only, loud otherwise.
    if (updateJson.trim.startsWith("[")) {
      require(arrayFiltersJson == null,
        "arrayFilters apply to literal update documents only")
      updatePipeline(pred, updateJson)
    } else updateWhere(pred, updateJson, arrayFiltersJson, filterJson)
  }

  /** The update-pipeline form: each $set field evaluates through the
    * aggregation compute language against the CURRENT document (all
    * fields read the pre-update state — Mongo's semantics for a single
    * $set stage), the computed values render to a JSON patch column,
    * and a generic per-row JSON merge writes them back (same
    * copy-on-write rewrite as the literal path).
    *
    * r11: `{$unset: "f"}` / `{$unset: ["f", ...]}` stages compose with
    * $set IN ORDER (Mongo 4.2's pipeline semantics: a later $set
    * re-adds what an earlier $unset removed, and vice versa) — the
    * ordered op list travels to the merge UDF while the computed
    * values ride the patch column. All $set expressions still read
    * the PRE-update document (each stage's operands are pipeline
    * fields; this engine scopes them to the original document —
    * documented, and loud nowhere because the common pipelines don't
    * chain computed fields through stages). */
  private def updatePipeline(pred: Column, stagesJson: String): Long = {
    val stages = Collection.udfMapper.readTree(stagesJson)
    require(stages.isArray && stages.size() > 0,
      s"update pipeline must be a non-empty array: $stagesJson")
    // ordered op script: ("set", field) reads the patch, ("unset",
    // field) removes; the LAST set expression per field wins for the
    // computed value (Mongo: later stages see earlier results; with
    // operands scoped to the pre-image, last-wins is the fixpoint)
    val script = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val fields = scala.collection.mutable.LinkedHashMap[String, String]()
    stages.elements().forEachRemaining { st =>
      require(st.isObject && st.properties().size() == 1 &&
        (st.has("$set") || st.has("$unset")),
        s"update pipeline supports {$$set: {...}} and {$$unset: ...} " +
          s"stages only: $st")
      if (st.has("$set")) {
        require(st.get("$set").isObject,
          s"$$set stage operand must be an object: $st")
        st.get("$set").properties().forEach { e =>
          fields(e.getKey) = e.getValue.toString
          script += (("set", e.getKey))
        }
      } else {
        val u = st.get("$unset")
        val fs =
          if (u.isTextual) Seq(u.asText())
          else {
            require(u.isArray && u.size() > 0,
              s"$$unset stage operand must be a field or non-empty " +
                s"array of fields: $st")
            import scala.jdk.CollectionConverters._
            u.elements().asScala.toSeq.map { n =>
              require(n.isTextual, s"$$unset fields must be strings: $n")
              n.asText()
            }
          }
        fs.foreach(f => script += (("unset", f)))
      }
    }
    val patchCols = fields.toSeq.map { case (f, exprJson) =>
      graft.filter.MqlPipeline.computeColumn(exprJson,
        col(Schema.MetaCol), df.select(col(Schema.IdCol))).as(f)
    }
    // ignoreNullFields off: a null-evaluating expression SETS null
    // (Mongo's $set), it doesn't silently skip the field
    val patch =
      if (patchCols.isEmpty) lit("{}")
      else to_json(struct(patchCols: _*),
        Map("ignoreNullFields" -> "false"))
    val opScript = script.toList
    val mergeUdf = udf { (meta: String, patchJson: String) =>
      import com.fasterxml.jackson.databind.node.ObjectNode
      val m = Collection.udfMapper
      val base =
        if (meta == null || meta.trim.isEmpty) m.createObjectNode()
        else m.readTree(meta) match {
          case o: ObjectNode => o
          case _ => m.createObjectNode()
        }
      val p = m.readTree(patchJson).asInstanceOf[ObjectNode]
      opScript.foreach {
        case ("set", f) =>
          base.set[com.fasterxml.jackson.databind.JsonNode](f, p.get(f))
        case (_, f) => base.remove(f)
      }
      m.writeValueAsString(base)
    }
    val rows = stored
    val updated = rows.filter(pred).count()
    if (updated > 0L) commitGeneration(
      setMeta(rows, pred, mergeUdf(col(Schema.MetaCol), patch)),
      rowsCount, Collection.Untouched)
    updated
  }

  /** Mongo ORDERED bulkWrite: a JSON array of operations executed
    * sequentially — each op sees the previous ops' effects (Mongo's
    * ordered mode; the unordered mode's only contract is "all ops
    * run", which the same loop satisfies). Supported ops: insertOne
    * {document?, metadata?}, updateOne/updateMany {filter, update,
    * upsert?}, deleteOne/deleteMany {filter}, replaceOne {filter,
    * document} — each riding the existing single-op machinery
    * (first-match = lowest `_m_id`, the store's deterministic natural
    * order). Returns (inserted, matched, deleted, upserted). Unknown
    * op names are loud. Per-op copy-on-write rewrites — bulk here
    * means one call, not one rewrite; a batched single-rewrite form
    * would be the optimization if maintenance volume ever demanded
    * it. */
  def bulkWrite(opsJson: String): (Long, Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val arr = Collection.udfMapper.readTree(opsJson)
    require(arr.isArray && arr.size() > 0,
      s"bulkWrite needs a non-empty array: $opsJson")
    var nIns = 0L; var nMatch = 0L; var nDel = 0L; var nUps = 0L
    arr.elements().asScala.foreach { op =>
      require(op.isObject && op.properties().size() == 1,
        s"each bulk op is a single-key object: $op")
      val e = op.properties().asScala.head
      val spec = e.getValue
      def fj = {
        require(spec.has("filter"), s"${e.getKey} needs a filter: $spec")
        spec.get("filter").toString
      }
      // the document is this store's TEXT payload (the embedded string),
      // not a Mongo sub-document: a JSON object here would asText() to
      // "" and silently insert an empty document — fail loudly instead
      // (structured fields belong in `metadata`)
      def docText(n: com.fasterxml.jackson.databind.JsonNode): String = {
        require(n == null || n.isNull || n.isTextual,
          s"${e.getKey}: 'document' must be a string (the text " +
            s"payload; structured fields go in 'metadata'), got: $n")
        if (n == null || n.isNull) "" else n.asText()
      }
      e.getKey match {
        case "insertOne" =>
          val doc = docText(spec.get("document"))
          val metaJ = Option(spec.get("metadata"))
            .map(_.toString).getOrElse("{}")
          import spark.implicits._
          insertDF(Seq((doc, metaJ)).toDF(Schema.DocCol, Schema.MetaCol))
          nIns += 1
        case "updateMany" =>
          val ups = Option(spec.get("upsert")).exists(_.asBoolean())
          val afj = Option(spec.get("arrayFilters")).map(_.toString).orNull
          require(afj == null || !ups,
            "bulkWrite: arrayFilters with upsert is unsupported (loud)")
          val m =
            if (ups) updateDoc(fj, spec.get("update").toString,
              upsert = true)
            else updateDoc(fj, spec.get("update").toString, afj)
          nMatch += m
          if (ups && m == 0) nUps += 1
        case "updateOne" =>
          val ups = Option(spec.get("upsert")).exists(_.asBoolean())
          val afj = Option(spec.get("arrayFilters")).map(_.toString).orNull
          require(afj == null || !ups,
            "bulkWrite: arrayFilters with upsert is unsupported (loud)")
          findOneAndUpdate(fj, spec.get("update").toString,
            arrayFiltersJson = afj) match {
            case Some(_) => nMatch += 1
            case None if ups =>
              updateDoc(fj, spec.get("update").toString, upsert = true)
              nUps += 1
            case None => ()
          }
        case "deleteMany" => nDel += delete(fj)
        case "deleteOne" => nDel += findOneAndDelete(fj).size
        case "replaceOne" =>
          nMatch += replaceOne(fj, docText(spec.get("document")))
        case other => throw new IllegalArgumentException(
          s"unsupported bulk operation: $other")
      }
    }
    (nIns, nMatch, nDel, nUps)
  }

  // ---- transactions -----------------------------------------------------
  // Mongo 4.0-style multi-operation transaction on ONE collection:
  // operations STAGE against the snapshot taken at begin (each op sees
  // the prior staged ops — read-your-own-writes inside the
  // transaction, Mongo's semantics) and nothing touches disk until
  // commit() publishes the whole batch through a SINGLE copy-on-write
  // rewrite + rename swap — all-or-nothing by construction, exactly
  // the guarantee Mongo's transaction machinery exists to provide on
  // a store whose single ops are already atomic. abort() discards the
  // staged frame; a reader holding the collection sees the pre-begin
  // state until the commit rename lands. Change streams observe the
  // commit as ONE op_time batch of insert/update/delete events (the
  // rewrite diff classifies all three) — Mongo's one-clusterTime
  // shape for transactional writes. Concurrency is the store's
  // single-writer contract, enforced optimistically: commit() re-reads
  // the (lastId, rows) watermark pair and refuses loudly when another
  // writer moved it since begin — Mongo's WriteConflict, surfaced at
  // commit instead of op time. Cross-collection transactions are LOUD
  // (unsupported): atomicity here is the one-directory rename; a
  // multi-collection commit needs a generation-pointer manifest the
  // read path doesn't resolve through (documented divergence — Mongo
  // 4.0 shipped single-shard first for the same reason).
  // The staged frame is the stored rows without `cid`; inserts parse
  // `_m_meta_v` and updates go through setMeta, so it stays exact.
  // Scale: each staged op pays ONE localCheckpoint materialization
  // (lineage truncation — without it the per-op matched-count job
  // re-evaluates every prior staged op, O(N²) for N ops); commit pays
  // exactly one rewrite of the final frame — N ops cost ONE write
  // amplification, which is why bulk maintenance at 100 TB should
  // prefer a transaction over N bulkWrite rewrites.
  final class Txn private[api] () {
    private var frame = stored.drop(CidCol)
    private val startLastId = lastId
    private val startRows = rowsCount
    private var nextId = lastId
    private var insertedN = 0L
    private var deletedN = 0L
    private var deletedLiveN = 0L // of those, ids the live generation holds
    private var updatedAny = false
    private var done: Option[String] = None
    private def live(): Unit = require(done.isEmpty,
      s"transaction already ${done.get}")

    /** Truncate the staged lineage after every mutation (r13): without
      * this, each op's matched-count job re-evaluates EVERY prior
      * staged op (including the embed UDF over staged inserts) — an
      * N-op transaction pays O(N²) recompute before the single commit
      * rewrite. localCheckpoint materializes the frame into local
      * blocks and replaces the plan with an O(1)-depth scan, so the
      * battery is op-count-linear: one materialization per op, the
      * $facet/localCheckpoint precedent. */
    private def stage(f: DataFrame): Unit = { frame = f.localCheckpoint() }

    /** Staged logical-plan depth — the spec's probe that [[stage]]
      * keeps the lineage O(1) per op instead of accumulating. */
    private[graft] def stagedPlanDepth: Int = {
      def d(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Int = 1 + (p.children.map(d) :+ 0).max
      d(frame.queryExecution.logical)
    }

    /** Stage an insert — ids assigned above the snapshot watermark,
      * embedded now, visible to later ops in THIS transaction only. */
    def insert(data: Data): Unit = {
      live()
      val base = batchFrame(data)
      if (data.documents.isEmpty) return
      val n = data.documents.length.toLong
      stage(frame.unionByName(
        withMetaV(embedded(zipWithId(base, nextId)._1))))
      nextId += n
      insertedN += n
    }

    /** Stage a literal-document update over every staged row matching
      * the MQL filter; returns the matched count (evaluated against
      * the staged frame — one count job, no write). */
    def updateMany(filterJson: String, updateJson: String): Long = {
      live()
      val pred = matching(filterJson)
      val mergeUdf = validatedUpdateUdf(updateJson,
        arrayFiltersJson = null, queryFilterJson = filterJson)
      val matched = frame.filter(pred).count()
      if (matched > 0L) {
        stage(setMeta(frame, pred, mergeUdf(col(Schema.MetaCol))))
        updatedAny = true
      }
      matched
    }

    /** Stage a delete of every staged row matching the MQL filter;
      * returns the removed count. */
    def deleteMany(filterJson: String): Long = {
      live()
      val pred = matching(filterJson)
      val hit = frame.filter(pred).select(count_if(lit(true)),
        count_if(col(Schema.IdCol) <= startLastId)).head()
      val removed = hit.getLong(0)
      if (removed > 0L) {
        stage(frame.filter(!pred))
        deletedN += removed
        deletedLiveN += hit.getLong(1)
      }
      removed
    }

    /** Publish every staged operation through ONE copy-on-write
      * rewrite. Loud WriteConflict when the collection moved since
      * begin; no-op commit when nothing was staged. Deleted ids are
      * the live ids missing from the staged frame — the conflict check
      * guarantees the live generation still holds exactly the ids the
      * transaction began with. `deleteMany` counted them as it staged,
      * and each index adds that count to its sidecar, so the next
      * ensure stays O(delta). */
    def commit(): Unit = {
      live()
      require(lastId == startLastId && rowsCount == startRows,
        s"write conflict: collection '$name' changed since this " +
          "transaction began (watermark moved) — abort and retry")
      if (insertedN > 0 || deletedN > 0 || updatedAny)
        commitGeneration(frame, startRows + insertedN - deletedN,
          if (deletedLiveN == 0) Collection.Untouched
          else Collection.Removed(df.select(col(Schema.IdCol))
            .join(frame.select(col(Schema.IdCol)), Seq(Schema.IdCol),
              "left_anti"), deletedLiveN),
          watermark = nextId)
      done = Some("committed")
    }

    /** Discard the staged frame — the disk state never knew the
      * transaction existed. */
    def abort(): Unit = { live(); done = Some("aborted") }
  }

  /** Open a transaction. The collection must hold data (the staged
    * frame and the commit rewrite both ride the existing generation;
    * seed an empty collection with a plain insert first — loud). */
  def beginTransaction(): Txn = {
    require(hasData,
      s"transaction on empty collection '$name' unsupported: the " +
        "commit path rewrites the current generation — seed with a " +
        "plain insert first")
    new Txn()
  }

  /** Mongo `withTransaction` convention: run `body`, commit on
    * success, abort on ANY exception (which then propagates). */
  def transaction[T](body: Txn => T): T = {
    val t = beginTransaction()
    try { val r = body(t); t.commit(); r }
    catch { case e: Throwable => t.abort(); throw e }
  }

  /** Mongo `findOneAndDelete`: remove the FIRST matching document
    * (lowest `_m_id` — the store's deterministic natural order) and
    * return its `(id, metadata)` pre-image; None when nothing
    * matches. Copy-on-write rewrite like [[delete]]. */
  def findOneAndDelete(filterJson: String): Option[(Long, String)] =
    firstMatch(filterJson).map { hit =>
      commitGeneration(stored.filter(col(Schema.IdCol) =!= hit._1),
        rowsCount - 1, Collection.Removed(
          spark.range(1).select(lit(hit._1).as(Schema.IdCol)), 1L))
      hit
    }

  /** Mongo `findOneAndReplace`: [[replaceOne]] that returns the
    * replaced document's `(id, metadata)` pre-image (or the
    * post-image with `returnNew`); None when nothing matches. */
  def findOneAndReplace(filterJson: String, document: String,
      metadata: Map[String, Any] = Map.empty,
      returnNew: Boolean = false): Option[(Long, String)] =
    firstMatch(filterJson).map { case (id, pre) =>
      replaceId(id, document, metadata)
      (id, if (returnNew) metaOf(id) else pre)
    }

  /** Mongo `findOneAndUpdate`: apply the update document to the FIRST
    * matching document only (lowest `_m_id` — the store's
    * deterministic natural order, the [[replaceOne]] contract) and
    * return `(id, metadata)`: the PRE-image by default, the POST-image
    * with `returnNew` (Mongo's returnNewDocument). None when nothing
    * matches. Single-writer store — atomicity IS the copy-on-write
    * rewrite + directory swap. */
  def findOneAndUpdate(filterJson: String, updateJson: String,
      returnNew: Boolean = false,
      arrayFiltersJson: String = null): Option[(Long, String)] =
    firstMatch(filterJson).map { case (id, pre) =>
      // the id restricts the rewrite; the ORIGINAL filter still
      // resolves any positional '$' segments
      updateWhere(col(Schema.IdCol) === id, updateJson,
        arrayFiltersJson, filterJson)
      (id, if (returnNew) metaOf(id) else pre)
    }

  /** [[updateDoc]]'s core over an arbitrary row predicate — shared
    * with [[findOneAndUpdate]]'s single-id restriction.
    * `arrayFiltersJson` feeds `$[ident]` segments; `queryFilterJson`
    * resolves `$` first-match segments (r11 positional forms). */
  private def updateWhere(pred: Column, updateJson: String,
      arrayFiltersJson: String = null,
      queryFilterJson: String = null): Long = {
    val mergeUdf =
      validatedUpdateUdf(updateJson, arrayFiltersJson, queryFilterJson)
    val rows = stored
    val updated = rows.filter(pred).count()
    if (updated > 0L) commitGeneration(
      setMeta(rows, pred, mergeUdf(col(Schema.MetaCol))),
      rowsCount, Collection.Untouched)
    updated
  }

  /** Driver-side validation of a literal update document + the per-row
    * merge UDF — shared by the committed path ([[updateWhere]]) and the
    * staged transaction path ([[Txn.updateMany]]). Unknown operators
    * must fail fast on the driver, not in a task half-way through a
    * rewrite. */
  private def validatedUpdateUdf(updateJson: String,
      arrayFiltersJson: String,
      queryFilterJson: String)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val opsNode = Collection.udfMapper.readTree(updateJson)
    require(opsNode.isObject && opsNode.properties().size() > 0,
      s"update document must be a non-empty object: $updateJson")
    val usedIdents = scala.collection.mutable.Set[String]()
    val valueOps =
      Seq("$set", "$inc", "$unset", "$min", "$max", "$mul", "$setOnInsert")
    opsNode.properties().forEach { e =>
      require(Collection.UpdateOperators.contains(e.getKey),
        s"unsupported update operator: ${e.getKey}")
      require(e.getValue.isObject,
        s"${e.getKey} operand must be an object: ${e.getValue}")
      e.getValue.properties().forEach { f =>
        val k = f.getKey
        if (valueOps.contains(e.getKey) && k.contains(".")) {
          // positional-path shape checks, fail-fast on the driver
          val segs = k.split('.')
          require(segs.nonEmpty && segs.forall(_.nonEmpty),
            s"malformed update path: '$k'")
          segs.zipWithIndex.foreach { case (s, i) =>
            if (s.startsWith("$")) {
              require(s == "$" || s == "$[]" ||
                (s.startsWith("$[") && s.endsWith("]") && s.length > 3),
                s"malformed positional segment '$s' in path '$k'")
              require(i > 0,
                s"update path cannot start with a positional " +
                  s"segment: '$k'")
              if (s == "$") require(queryFilterJson != null,
                s"positional '$$' needs the query filter for " +
                  s"first-match resolution: '$k'")
              if (s.length > 3)
                usedIdents += s.substring(2, s.length - 1)
            }
          }
        } else if (!valueOps.contains(e.getKey)) {
          require(!k.contains("."),
            s"${e.getKey} does not support dotted/positional paths " +
              s"(unsupported — loud by contract): '$k'")
        }
      }
      if (e.getKey == "$rename")
        e.getValue.properties().forEach(f =>
          require(f.getValue.isTextual,
            s"$$rename target must be a string: ${f.getValue}"))
      if (e.getKey == "$pop")
        e.getValue.properties().forEach(f =>
          require(f.getValue.isInt &&
            (f.getValue.asInt() == 1 || f.getValue.asInt() == -1),
            s"$$pop operand must be 1 or -1: ${f.getValue}"))
    }
    // Mongo parity both ways: every $[ident] needs a filter, every
    // filter must be used
    val filters =
      Collection.parseArrayFilters(arrayFiltersJson, Collection.udfMapper)
    usedIdents.foreach(id => require(filters.contains(id),
      s"no arrayFilters entry for identifier '$id'"))
    filters.keys.foreach(id => require(usedIdents.contains(id),
      s"arrayFilters identifier '$id' is not used in the update"))
    val (afj, qfj) = (arrayFiltersJson, queryFilterJson)
    udf { meta: String =>
      Collection.applyUpdateOps(meta, updateJson, afj, qfj) }
  }

  /** The flagship composite operator (db/db.go:111-143): metadata
    * pre-filter ∧ top-k nearest neighbors to the embedded query string.
    *
    * One Catalyst plan: Scan(parquet) → Filter(translated MQL over the
    * stored metadata VARIANT, whole-stage codegen) → Project(+_distance)
    * → TakeOrderedAndProject(k). The filter is a real
    * Column (pushdown survives); top-k is per-partition heaps + driver
    * merge, never a full sort. Distance is L2, ascending, ties broken by
    * _m_id — a strict superset of the reference output, which emits
    * queue-pop order and drops distances (SURVEY.md §2.3).
    *
    * A small generation answers on the driver, the reference's own
    * shape (an in-process index): when its parquet bytes are at most
    * `spark.sql.autoBroadcastJoinThreshold`, the handle keeps its rows
    * as Spark internal rows ([[residentRows]], one job per generation)
    * and evaluates this plan's own optimized expressions over them — the
    * Filter condition, the `l2` projection, the Sort order — into a
    * bounded top-k, with no Spark job per query. The answer, rows and
    * schema, is the Spark plan's. It is a local DataFrame computed at
    * call time, a snapshot: a write after the call does not change it,
    * where the Spark plan's DataFrame reads when it runs. A threshold
    * of −1 turns the resident path off.
    */
  def query(document: String, k: Int, filterJson: String = null): DataFrame =
    queryVector(embedder.embedOne(document), k, filterJson)

  /** [[query]] by a caller-supplied vector (the Atlas `$vectorSearch`
    * queryVector shape) — the embed step skipped, everything else
    * identical. The vector length must match the collection's
    * embedder dimension (loud — a wrong-dimension vector would rank
    * by a meaningless truncated distance). */
  def queryVector(qv: Array[Float], k: Int,
      filterJson: String = null): DataFrame = {
    val q = exactQuery(qv, k, filterJson)
    residentRows(gen).flatMap(r =>
      onDriver(q, r.lists.valuesIterator.flatten))
      .getOrElse(q)
  }

  /** [[queryVector]]'s Spark plan. */
  private def exactQuery(qv: Array[Float], k: Int,
      filterJson: String): DataFrame = {
    require(qv.length == embedder.dim,
      s"query vector dimension ${qv.length} != collection dimension " +
        s"${embedder.dim}")
    ranked(stored, qv, k, filterJson)
  }

  /** Mongo's `explain` cursor-method analogue (FerretDB exposes it
    * too): the PHYSICAL plan the flagship query compiles to, in
    * Spark's formatted mode — the surface an operator uses to check
    * that the MQL filter translated to a pushdown-bearing Column and
    * the top-k compiled to TakeOrderedAndProject, without running the
    * query. It is always the Spark plan: a resident generation
    * ([[query]]) answers with this plan's expressions on the driver. */
  def explainQuery(document: String, k: Int,
      filterJson: String = null): String =
    formatted(exactQuery(embedder.embedOne(document), k, filterJson))

  /** [[explainQuery]] for [[queryApprox]] at `nprobe`: its formatted
    * plan, where the data scan's `PartitionFilters` show which lists'
    * documents the probe reads — the `cid` pruning, without running the
    * query. Like [[explainQuery]], always the Spark plan. */
  def explainQuery(document: String, k: Int, filterJson: String,
      nprobe: Int): String =
    formatted(approxQuery(document, k, nprobe, filterJson)._1)

  private def formatted(q: DataFrame): String =
    q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** [[query]] with a Mongo-style metadata projection: each requested
    * field surfaces as its own column (string view of the JSON value),
    * alongside id, document and distance. Column pruning then drops the
    * raw metadata blob from what the caller ships around — the document
    * store's `find(..., projection)` shape. */
  def query(document: String, k: Int, filterJson: String,
      project: Seq[String]): DataFrame = {
    val base = query(document, k, filterJson)
    val metaCols = project.map(f =>
      get_json_object(col(Schema.MetaCol), s"$$.$f").as(f))
    base.select(col(Schema.IdCol) +: col(Schema.DocCol) +:
      metaCols :+ col(Schema.DistanceCol): _*)
  }
}
