package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{CollectionMeta, IndexMeta, Meta, Schema}
import graft.embed.{BatchedEmbedder, Embedder, HashingEmbedder,
  HttpEmbedTransport}
import graft.filter.MqlFilter
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
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

  /** db/kaer.go:65-76. */
  def dropCollection(name: String): Unit = {
    cache.remove(name)
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
    cache.remove(from)
    cache.remove(to)
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
    * parquet is the only durability point. */
  def close(): Unit = cache.clear()
}

/** A named collection: parquet data + JSON sidecar + embedder
  * (/root/reference/db/db.go:49-58).
  *
  * Recovery semantics (db/db.go:209-226): the id watermark is
  * max(sidecar.lastId, max(_m_id) in data) — the *intent* of the
  * reference's getNextID, not its min-id bug (db/db.go:145-174; SURVEY.md
  * §2.4). Data replay (updateIndexFromLastId) is unnecessary: parquet is
  * simultaneously the document store and the "index".
  */
object Collection {

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
}

final class Collection(
    val spark: SparkSession,
    val name: String,
    val dir: String,
    val embedder: Embedder) {

  private val dataDir = new Path(dir, "data").toString
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
  locally {
    // crash-window repair for compact(): if the data dir vanished mid-swap,
    // the previous generation is intact in data_old — restore it before
    // reading anything
    val fsr = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dataP = new Path(dataDir)
    val oldP = new Path(dir, "data_old")
    if (!fsr.exists(dataP) && fsr.exists(oldP)) fsr.rename(oldP, dataP)
    // same crash-window repair for compactChangeLog()'s swap: a crash
    // between its two renames leaves the log stranded at changes_old
    val chP = new Path(dir, "changes")
    val chOldP = new Path(dir, "changes_old")
    if (!fsr.exists(chP) && fsr.exists(chOldP)) fsr.rename(chOldP, chP)
    captureChanges = fsr.exists(chP)
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
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  private def maxIdInData(): Long =
    if (!hasData) 0L
    else df.agg(max(col(Schema.IdCol))).head() match {
      case Row(null) => 0L
      case Row(v: Long) => v
    }

  /** The collection as a DataFrame (canonical schema, SURVEY.md §1.2). */
  def df: DataFrame =
    if (hasData) spark.read.schema(Schema.collectionSchema(embedder.dim))
      .parquet(dataDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      Schema.collectionSchema(embedder.dim))

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
    if (!hasData) return Nil
    val cap = spark.conf.getOption("graft.distinct.max_values")
      .map(_.toInt).getOrElse(Collection.MaxDistinctValues)
    val base = if (filterJson == null || filterJson.trim.isEmpty) df
    else df.filter(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))))
    val out = base.select(MqlFilter.JsonResolver(col(Schema.MetaCol))
        .str(field).as("v"))
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
    else df.filter(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol)))).count()

  /** Insert path (db/db.go:60-100): validate lengths → embed → assign
    * dense monotone ids above the watermark → append parquet → sidecar
    * update. Id assignment uses zipWithIndex (per-partition offsets, no
    * global sort, no driver materialization) so the same code scales out.
    */
  def insert(data: Data): Unit = {
    if (data.metadatas.nonEmpty &&
      data.documents.length != data.metadatas.length)
      throw new FieldLengthMismatch // db/db.go:61-63
    val rows = if (data.metadatas.isEmpty)
      data.documents.map(d => (d, null: String))
    else data.documents.zip(data.metadatas)
    val base = spark.createDataFrame(rows)
      .toDF(Schema.DocCol, Schema.MetaCol)
    insertDF(base)
  }

  /** Bulk path: any DataFrame with (_m_doc STRING, _m_meta STRING).
    *
    * Sidecar bookkeeping is pure arithmetic on the batch size — NO
    * post-write rescan of the table (at 100 TB a per-batch full scan would
    * dominate ingest; the reference never rescans either, it counts ids in
    * memory, db/db.go:75-76). The batch is counted once up front; ids are
    * then `start+1 .. start+n` by construction.
    */
  def insertDF(base: DataFrame): Unit = {
    val start = lastId
    val (withIds, n) = zipWithId(base, start)
    if (n > 0) {
      // embedDF, not a per-row column transform: remote-backed embedders
      // batch ≤96 texts per request through it (BatchedEmbedder); the
      // default embedder's override-free path is the same withColumn as
      // before
      val indexed = embedder.embedDF(
          withIds, Schema.DocCol, Schema.EmbeddingCol)
        .select(col(Schema.IdCol), col(Schema.DocCol),
          col(Schema.EmbeddingCol), col(Schema.MetaCol))
      indexed.write.mode("append").parquet(dataDir)
      lastId = start + n
      rowsCount += n
      Meta.write(spark, dir,
        CollectionMeta(name, lastId, embedder.dim, embedder.id, rowsCount))
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

  // maintenance observability: how many times ensureIndex chose each
  // path since this handle opened — the spec's proof that inserts take
  // the O(tail) append, not the O(collection) rebuild
  private var rebuildCount = 0L
  private var appendCount = 0L
  def indexRebuilds: Long = rebuildCount
  def indexAppends: Long = appendCount
  private def indexDir: String = new Path(dir, "index").toString

  /** Build (or rebuild) the collection's persisted IVF index — the
    * Spark-native analogue of the reference's HNSW side-index
    * (db/hnsw.go): inverted lists partitioned by centroid id under
    * `dir/index`. Centroids come from the deterministic KMeans fitter;
    * at production scale swap in the MLlib path
    * ([[graft.operators.IvfIndex.kmeansFitMl]]). Records the covered
    * (watermark, rows, nlist) in an index sidecar so later inserts can
    * append incrementally instead of rebuilding. No-op on an empty
    * collection. */
  def buildIndex(nlist: Int = 16, iters: Int = 3): Unit = {
    val vecs = df.select(col(Schema.IdCol).as("vec_id"),
      col(Schema.EmbeddingCol).as("embedding"))
    if (!vecs.isEmpty) {
      val cents = graft.operators.IvfIndex.kmeansFit(vecs, nlist, iters)
      graft.operators.IvfIndex.build(spark, vecs, indexDir, cents)
      // a rebuild covers exactly the live rows: compact tombstones away
      val tp = new Path(tombDir)
      val tfs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (tfs.exists(tp)) tfs.delete(tp, true)
      Meta.writeIndex(spark, indexDir, IndexMeta(lastId, rowsCount, nlist))
      rebuildCount += 1
    }
  }

  private def tombDir: String = s"$indexDir/tombstones"

  /** Record ids removed by a delete into the index's TOMBSTONE sidecar
    * (r13) — the O(delta) alternative to rebuild-on-delete: the
    * inverted lists keep the dead rows physically, the sidecar counts
    * them out of the coverage arithmetic, and [[queryApprox]] (which
    * keeps only live collection rows whose id is among the probed
    * candidates — a left semi join) already drops them from every
    * result. Only ids the lists actually cover (id ≤ indexedLastId)
    * are recorded; compaction happens on the next full rebuild. No-op
    * without a persisted index. */
  /** Single-id form of [[recordTombstones]] (deleteOne /
    * findOneAndDelete — the id is already on the driver). */
  private def recordTombstoneId(id: Long): Unit =
    recordTombstones(spark.range(1).select(lit(id).as(Schema.IdCol)))

  private def recordTombstones(deadIds: DataFrame): Unit =
    Meta.readIndex(spark, indexDir).foreach { m =>
      val covered = deadIds
        .filter(col(Schema.IdCol) <= m.indexedLastId)
        .select(col(Schema.IdCol).as("vec_id"))
      val n = covered.count()
      if (n > 0) {
        covered.coalesce(1).write.mode("append").parquet(tombDir)
        Meta.writeIndex(spark, indexDir,
          m.copy(tombstones = m.tombstones + n))
      }
    }

  /** Make the persisted index cover the CURRENT data, doing the least
    * work that restores coverage — reference parity with
    * loadIndexIfExists + updateIndexFromLastId (db/db.go:176-207): the
    * reference reopens its persisted HNSW snapshot and replays only the
    * id tail into it; it never rebuilds on insert.
    *
    * Decision ladder, cheapest first:
    *  1. sidecar says coverage is current (+ storage trust-check:
    *     _SUCCESS markers, list rows == collection rows, centroids ==
    *     nlist) → no-op;
    *  2. sidecar shows a pure id-tail gap — rows grew by exactly the id
    *     range, i.e. inserts only, no deletes (both counters are
    *     arithmetic, so this costs zero scans) and the indexed prefix
    *     passes the trust check → assign ONLY the tail against the
    *     persisted centroids and append to the lists (O(tail));
    *  3. anything else — different nlist, deletes, missing/corrupt
    *     storage — → full rebuild (O(collection), the correct fallback:
    *     deletes invalidate arbitrary list rows). */
  def ensureIndex(nlist: Int = 16, iters: Int = 3): Unit = {
    val idx = indexDir
    def storageTrusted(listRows: Long): Boolean =
      graft.core.Trust.parquetDir(spark, s"$idx/centroids", nlist.toLong) &&
      graft.core.Trust.parquetDir(spark, s"$idx/lists", listRows)
    // tombstone sidecar trust: row count matches the meta counter
    // (vacuously true at zero — the dir need not exist)
    def tombTrusted(n: Long): Boolean =
      n == 0L || graft.core.Trust.parquetDir(spark, tombDir, n)
    Meta.readIndex(spark, idx) match {
      // a STALE sidecar (in-place rewrite under an unchanged watermark,
      // see replaceOne) defeats every arithmetic check — rebuild
      case Some(m) if !m.stale &&
          m.nlist == nlist && m.indexedLastId == lastId &&
          m.indexedRows - m.tombstones == rowsCount &&
          storageTrusted(m.indexedRows) && tombTrusted(m.tombstones) =>
        () // live coverage current (deletes ride the tombstone
           // sidecar, recorded at delete time) — nothing to do
      case Some(m) if !m.stale &&
          m.nlist == nlist && m.indexedLastId < lastId &&
          rowsCount - (m.indexedRows - m.tombstones) ==
            lastId - m.indexedLastId &&
          storageTrusted(m.indexedRows) && tombTrusted(m.tombstones) =>
        // pure append gap above the watermark: ids are dense by
        // construction and pre-watermark deletes are accounted by the
        // tombstone counter, so live rows can only have grown by
        // exactly (lastId - indexedLastId) when no NEW-id delete
        // intervened — that would break the equality and fall through
        // to rebuild
        val tail = df.filter(col(Schema.IdCol) > m.indexedLastId)
          .select(col(Schema.IdCol).as("vec_id"),
            col(Schema.EmbeddingCol).as("embedding"))
        graft.operators.IvfIndex.appendTail(spark, tail, idx)
        Meta.writeIndex(spark, idx, IndexMeta(lastId,
          m.indexedRows + (lastId - m.indexedLastId), nlist,
          m.tombstones))
        appendCount += 1
      case None if storageTrusted(rowsCount) =>
        // pre-sidecar index that happens to be fully current (legacy
        // scratch layout): adopt it instead of rebuilding
        Meta.writeIndex(spark, idx, IndexMeta(lastId, rowsCount, nlist))
      case _ => buildIndex(nlist, iters)
    }
  }

  // ---- persisted TEXT index (r14) -----------------------------------
  // The $text twin of the IVF machinery above: same sidecar contract
  // (IndexMeta with nlist ≡ the bucket count), same decision ladder
  // (trust-reuse → O(tail) append → rebuild), same delete tombstones
  // (recorded at delete time, compacted on rebuild, counted out of the
  // live-coverage arithmetic). Mongo requires a text index before any
  // $text query; this engine mirrors that — textFind without a built
  // index is loud.
  private var textRebuildCount = 0L
  private var textAppendCount = 0L
  def textIndexRebuilds: Long = textRebuildCount
  def textIndexAppends: Long = textAppendCount
  private def textIndexDir: String = new Path(dir, "textindex").toString
  private def textTombDir: String = s"$textIndexDir/tombstones"

  private def docsFrame: DataFrame = df.select(
    col(Schema.IdCol).as("doc_id"), col(Schema.DocCol).as("text"))

  /** Build (or rebuild) the persisted inverted text index: postings
    * partitioned by term bucket under `dir/textindex` (see
    * [[graft.operators.TextIndex]]). A rebuild covers exactly the live
    * rows, so tombstones compact away. No-op on an empty collection. */
  def buildTextIndex(): Unit = if (hasData && rowsCount > 0) {
    graft.operators.TextIndex.build(spark, docsFrame, textIndexDir)
    val tp = new Path(textTombDir)
    val tfs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (tfs.exists(tp)) tfs.delete(tp, true)
    Meta.writeIndex(spark, textIndexDir,
      IndexMeta(lastId, rowsCount, graft.operators.TextIndex.NBuckets))
    textRebuildCount += 1
  }

  private def recordTextTombstoneId(id: Long): Unit =
    recordTextTombstones(spark.range(1).select(lit(id).as(Schema.IdCol)))

  /** [[recordTombstones]]' text twin — only ids the postings cover. */
  private def recordTextTombstones(deadIds: DataFrame): Unit =
    Meta.readIndex(spark, textIndexDir).foreach { m =>
      val covered = deadIds
        .filter(col(Schema.IdCol) <= m.indexedLastId)
        .select(col(Schema.IdCol).as("doc_id"))
      val n = covered.count()
      if (n > 0) {
        covered.coalesce(1).write.mode("append").parquet(textTombDir)
        Meta.writeIndex(spark, textIndexDir,
          m.copy(tombstones = m.tombstones + n))
      }
    }

  /** [[ensureIndex]]'s text twin — the same cheapest-first ladder:
    * coverage current → no-op; pure id-tail gap → tokenize ONLY the
    * tail and append into the partitioned buckets (O(tail)); anything
    * else → rebuild. */
  def ensureTextIndex(): Unit = {
    val idx = textIndexDir
    def storageTrusted(docRows: Long): Boolean =
      graft.operators.TextIndex.layoutCurrent(spark, idx) &&
      graft.core.Trust.parquetDir(spark, s"$idx/meta", 1L) && {
        val mm = spark.read.parquet(s"$idx/meta").head()
        mm.getAs[Long]("n_docs") == docRows &&
        graft.core.Trust.parquetDir(spark, s"$idx/docstats", docRows) &&
        graft.core.Trust.parquetDir(spark, s"$idx/postings",
          mm.getAs[Long]("n_postings"))
      }
    def tombTrusted(n: Long): Boolean =
      n == 0L || graft.core.Trust.parquetDir(spark, textTombDir, n)
    Meta.readIndex(spark, idx) match {
      // stale = in-place text rewrite (replaceOne): counters all match
      // but the postings describe the OLD text — rebuild, never serve
      case Some(m) if !m.stale && m.indexedLastId == lastId &&
          m.indexedRows - m.tombstones == rowsCount &&
          storageTrusted(m.indexedRows) && tombTrusted(m.tombstones) =>
        () // live coverage current
      case Some(m) if !m.stale && m.indexedLastId < lastId &&
          rowsCount - (m.indexedRows - m.tombstones) ==
            lastId - m.indexedLastId &&
          storageTrusted(m.indexedRows) && tombTrusted(m.tombstones) =>
        graft.operators.TextIndex.appendTail(spark,
          docsFrame.filter(col("doc_id") > m.indexedLastId), idx)
        Meta.writeIndex(spark, idx, IndexMeta(lastId,
          m.indexedRows + (lastId - m.indexedLastId), m.nlist,
          m.tombstones))
        textAppendCount += 1
      case _ => buildTextIndex()
    }
  }

  /** Mongo `find({$text: {$search}, ...extra})` SERVED FROM the
    * persisted text index (r14): search terms map to partition-pruned
    * postings buckets (never a corpus scan), the OR-of-terms hits carry
    * the engine's deterministic textScore surrogate (Σ tf of the
    * distinct matched terms — bit-identical to the scan path's), the
    * MQL pre-filter composes on the live collection, and the result is
    * best-match-first ($meta textScore descending — Mongo contract),
    * ties by id, top-k. Join-back to the live data drops tombstoned
    * docs exactly like the IVF probe path. Loud without a built index
    * (Mongo: $text requires a text index); with one, coverage is
    * re-ensured first — an id-tail append, never a rebuild, on the
    * insert-only path. */
  def textFind(search: String, k: Int = 10,
      filterJson: String = "{}"): DataFrame = {
    require(Meta.readIndex(spark, textIndexDir).isDefined,
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
    val pred = coalesce(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))), lit(false))
    df.filter(pred)
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

  /** Approximate flagship query through the persisted IVF index: probe
    * the nearest `nprobe` lists, apply the MQL filter to the probed
    * subset (the reference's pre-filter ∧ ANN composite with the same
    * candidate-restriction semantics — its HNSW also only filters what
    * the index visits), then exact top-k among survivors.
    *
    * Plan: the centroids are read on the driver (no Spark job), the
    * probed lists are read with their known schema and project only
    * `vec_id`, and the collection keeps its rows by a broadcast
    * LEFT SEMI join on id. Building the DataFrame launches no job;
    * running it launches two (the probe's broadcast, then the scan).
    * Ids the lists hold but the collection no longer does (tombstones)
    * and ids inserted after the last [[ensureIndex]] are not returned.
    * Requires an index ([[ensureIndex]] / [[buildIndex]]). */
  def queryApprox(document: String, k: Int, nprobe: Int = 4,
      filterJson: String = null): DataFrame = {
    require(nprobe >= 1, s"queryApprox needs nprobe >= 1, got $nprobe")
    val idx = indexDir
    val cents = new Path(idx, "centroids")
    require(cents.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(cents), s"collection '$name' has no IVF index — " +
      "queryApprox needs one; call ensureIndex() first")
    val qv = embedder.embedOne(document)
    val probed = graft.operators.IvfIndex.probeIds(spark, idx, qv, nprobe)
      .select(col("vec_id").as(Schema.IdCol))
    val base = df.join(broadcast(probed), Seq(Schema.IdCol), "left_semi")
    val filtered = if (filterJson == null || filterJson.trim.isEmpty) base
    else base.filter(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))))
    val qlit = array(qv.map(v => lit(v)): _*)
    filtered
      .withColumn(Schema.DistanceCol,
        graft.functions.VectorFunctions.l2(col(Schema.EmbeddingCol), qlit))
      // nulls LAST: a null/dim-mismatched embedding has null distance and
      // must never outrank real matches (Spark asc defaults NULLS FIRST)
      .orderBy(col(Schema.DistanceCol).asc_nulls_last,
        col(Schema.IdCol).asc)
      .limit(k)
  }

  /** Maintenance: compact the append-per-batch small files into
    * `targetFiles` id-ranged files (read → range-repartition on _m_id →
    * atomic-ish swap via rename). The insert path appends one file set
    * per batch; at high batch counts scan planning degrades — the
    * standard cure is periodic compaction, exactly as a LSM/lakehouse
    * would. Ids, rows, and sidecar are unchanged. */
  // ---- change streams ---------------------------------------------------
  // Mongo `collection.watch()` analogue (the most-used Mongo API with no
  // FerretDB-1.x/reference counterpart — extension tier): an oplog-style
  // event log captured at the store's two narrow-waist write points.
  // `insertDF` appends emit insert events straight from the just-written
  // id range (a pushed-down rescan — the embeddings are NOT recomputed);
  // every copy-on-write `rewriteData` swap emits update/delete events
  // from a full-outer diff of the old generation vs the already-
  // materialized tmp generation, keyed on `_m_id` with null-safe
  // payload compare (so a compact(), which changes no logical content,
  // emits nothing). Events carry the AFTER image (doc+meta; null for
  // deletes) — Mongo's fullDocument=updateLookup shape.
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
    * parquet scan. Read with a fill loop — FSDataInputStream.read may
    * return short counts, and truncated digits would parse a SMALLER
    * floor, re-opening the silent-resume window. */
  private def readChangeFloor(): Long = {
    val fs = floorPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(floorPath)) 0L
    else {
      val in = fs.open(floorPath)
      try {
        val buf = new Array[Byte](64)
        var off = 0
        var n = 0
        while (off < buf.length && { n = in.read(buf, off, buf.length - off); n > 0 })
          off += n
        new String(buf, 0, off,
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      } catch { case _: NumberFormatException => 0L }
      finally in.close()
    }
  }

  private def writeChangeFloor(dirPath: Path, v: Long): Unit = {
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dirPath, "_floor"), true)
    try out.write(v.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Trim the change log: drop every event with `op_time <=
    * retainAfter` and set the log floor there. Copy-on-write tmp+swap
    * like [[rewriteData]] (underscore-prefixed floor marker rides the
    * directory, invisible to the parquet scans). Floors never move
    * backwards. Scale: the rewrite reads only the RETAINED tail — at
    * a production cadence (compact up to the slowest consumer's
    * checkpoint) that is the small live window, and the trimmed
    * history is one directory delete. */
  def compactChangeLog(retainAfter: Long): Unit = {
    require(captureChanges,
      s"change stream not enabled for collection '$name' — nothing " +
        "to compact")
    val newFloor = math.max(retainAfter, readChangeFloor())
    val fs = new Path(changesDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // Empty log (capture enabled, nothing written yet — the dir holds
    // at most the _floor marker): nothing to rewrite; just advance the
    // floor in place. Guards the parquet read AND skips a no-op swap.
    val hasEvents = fs.exists(new Path(changesDir)) &&
      fs.listStatus(new Path(changesDir)).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    if (!hasEvents) { writeChangeFloor(new Path(changesDir), newFloor); return }
    val tmp = new Path(dir, "changes_compact")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.schema(changeSchema).parquet(changesDir)
      .filter(col("op_time") > retainAfter)
      .write.parquet(tmp.toString)
    writeChangeFloor(tmp, newFloor)
    val old = new Path(dir, "changes_old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(new Path(changesDir), old))
      throw new java.io.IOException(s"change-log compact: rename " +
        s"$changesDir -> $old failed")
    if (!fs.rename(tmp, new Path(changesDir))) {
      fs.rename(old, new Path(changesDir)) // roll back, like rewriteData
      throw new java.io.IOException(s"change-log compact: rename " +
        s"$tmp -> $changesDir failed")
    }
    fs.delete(old, true)
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

  def compact(targetFiles: Int = 4): Unit = {
    if (!hasData) return
    rewriteData(df.repartitionByRange(targetFiles, col(Schema.IdCol)))
  }

  /** Copy-on-write rewrite of the data directory with an atomic-ish
    * rename swap — the shared machinery of [[compact]], [[delete]] and
    * [[update]] (parquet is immutable; every lakehouse DELETE/UPDATE is
    * this under the hood). A crash between the two renames is repaired
    * by the open-time recovery above (data_old restored). */
  private def rewriteData(next: DataFrame): Unit = {
    val fs = new Path(dataDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, "data_compact")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    next.write.parquet(tmp.toString)
    if (captureChanges) {
      // diff the old generation (still live in dataDir) against the
      // materialized tmp generation — both are plain parquet scans, no
      // recomputation of `next`'s plan. Null-safe payload compare, so
      // identical rows (e.g. a compact()) emit nothing.
      val t = nextOpTime()
      val o = df.select(col(Schema.IdCol),
        col(Schema.DocCol).as("doc_a"), col(Schema.MetaCol).as("meta_a"),
        lit(true).as("present_a"))
      val nw = spark.read
        .schema(graft.core.Schema.collectionSchema(embedder.dim))
        .parquet(tmp.toString)
        .select(col(Schema.IdCol),
          col(Schema.DocCol).as("doc_b"), col(Schema.MetaCol).as("meta_b"),
          lit(true).as("present_b"))
      val events = o.join(nw, Seq(Schema.IdCol), "full_outer")
        .withColumn("op",
          when(col("present_a").isNull, lit("insert"))
            .when(col("present_b").isNull, lit("delete"))
            .when(!(col("doc_a") <=> col("doc_b")) ||
              !(col("meta_a") <=> col("meta_b")), lit("update")))
        .filter(col("op").isNotNull)
        .select(lit(t).as("op_time"), col("op"), col(Schema.IdCol),
          col("doc_b").as(Schema.DocCol), col("meta_b").as(Schema.MetaCol))
      appendChangeEvents(t, events)
    }
    val old = new Path(dir, "data_old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(new Path(dataDir), old))
      throw new java.io.IOException(s"rewrite: rename data->data_old failed")
    if (!fs.rename(tmp, new Path(dataDir))) {
      fs.rename(old, new Path(dataDir)) // roll back
      throw new java.io.IOException(s"rewrite: rename rewrite->data failed")
    }
    fs.delete(old, true)
  }

  /** Delete documents matching an MQL filter — copy-on-write rewrite.
    * Surviving ids are unchanged and deleted ids are NOT reused (the
    * watermark stays): id density is an insert-order property, not an
    * invariant after deletes — same as any document store. Returns the
    * number of rows removed. Goes beyond the reference surface (its
    * FerretDB layer supports deletes; kaer never exposed them) — the
    * capability a real user of a document+vector store expects. */
  def delete(filterJson: String): Long = {
    if (!hasData) return 0L
    val pred = coalesce(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))), lit(false))
    // capture removed ids BEFORE the rewrite swaps the generation —
    // only when an index sidecar exists (the tombstone recording is
    // what keeps delete-heavy index maintenance O(delta)); skip the
    // extra job entirely on unindexed collections
    val hasIvf = Meta.readIndex(spark, indexDir).isDefined
    val hasText = Meta.readIndex(spark, textIndexDir).isDefined
    val dead = if (hasIvf || hasText)
      Some(df.filter(pred).select(col(Schema.IdCol)).localCheckpoint())
    else None
    val keep = df.filter(!pred)
    val kept = keep.count()
    val removed = rowsCount - kept
    if (removed > 0L) {
      rewriteData(keep)
      rowsCount = kept
      Meta.write(spark, dir,
        CollectionMeta(name, lastId, embedder.dim, embedder.id, rowsCount))
      if (hasIvf) dead.foreach(recordTombstones)
      if (hasText) dead.foreach(recordTextTombstones)
    }
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
      metadata: Map[String, Any] = Map.empty): Long = {
    if (!hasData) return 0L
    val pred = coalesce(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))), lit(false))
    val hit = df.filter(pred).agg(min(col(Schema.IdCol))).head()
    if (hit.isNullAt(0)) return 0L
    val id = hit.getLong(0)
    val emb = embedder.embedOne(document)
    val embLit = array(emb.map(v => lit(v)): _*)
    val metaJson =
      if (metadata.isEmpty) lit(null).cast("string")
      else lit(Data.toJson(metadata))
    val isHit = col(Schema.IdCol) === id
    rewriteData(df
      .withColumn(Schema.DocCol,
        when(isHit, lit(document)).otherwise(col(Schema.DocCol)))
      .withColumn(Schema.EmbeddingCol,
        when(isHit, embLit).otherwise(col(Schema.EmbeddingCol)))
      .withColumn(Schema.MetaCol,
        when(isHit, metaJson).otherwise(col(Schema.MetaCol))))
    // the rewrite changed text + embedding UNDER an unchanged id /
    // watermark / rowcount, so both index families' coverage arithmetic
    // still passes while their entries describe the OLD content (stale
    // postings would keep matching the old text; the IVF entry pins the
    // id to the old embedding's list). Tombstone+reinsert can't express
    // this — tombstones drop dead ids at join-back, and this id stays
    // live — so poison the sidecars: the next ensure rebuilds. replaceOne
    // is already an O(n) copy-on-write, so the rebuild is the same cost
    // class, paid once, lazily, by the next index consumer.
    Meta.readIndex(spark, indexDir).foreach(m =>
      Meta.writeIndex(spark, indexDir, m.copy(stale = true)))
    Meta.readIndex(spark, textIndexDir).foreach(m =>
      Meta.writeIndex(spark, textIndexDir, m.copy(stale = true)))
    1L
  }

  /** Mongo-style $set on metadata for documents matching an MQL filter —
    * sugar over [[updateDoc]]; returns the number of rows updated. */
  def update(filterJson: String, set: Map[String, Any]): Long =
    if (set.isEmpty) 0L
    else updateDoc(filterJson, s"""{"$$set": ${Data.toJson(set)}}""")

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
      require(Seq("$set", "$inc", "$unset", "$min", "$max", "$mul",
        "$push", "$addToSet", "$pull", "$pop", "$rename", "$setOnInsert")
        .contains(e.getKey),
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

  def updateDoc(filterJson: String, updateJson: String): Long =
    updateDoc(filterJson, updateJson, arrayFiltersJson = null)

  /** r11 positional form: `arrayFiltersJson` is Mongo's arrayFilters
    * array for `$[ident]` path segments; `$` segments resolve their
    * first-match against `filterJson`'s condition on the array path. */
  def updateDoc(filterJson: String, updateJson: String,
      arrayFiltersJson: String): Long = {
    if (!hasData) return 0L
    val pred = coalesce(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))), lit(false))
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
    val updated = df.filter(pred).count()
    if (updated > 0L) {
      rewriteData(df.withColumn(Schema.MetaCol,
        when(pred, mergeUdf(col(Schema.MetaCol), patch))
          .otherwise(col(Schema.MetaCol))))
    }
    updated
  }

  /** Mongo `findOneAndUpdate`: apply the update document to the FIRST
    * matching document only (lowest `_m_id` — the store's
    * deterministic natural order, the [[replaceOne]] contract) and
    * return `(id, metadata)`: the PRE-image by default, the POST-image
    * with `returnNew` (Mongo's returnNewDocument). None when nothing
    * matches. Single-writer store — atomicity IS the copy-on-write
    * rewrite + rename swap. */
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
        case "deleteOne" =>
          if (hasData) {
            val pred = coalesce(MqlFilter.toColumn(fj,
              MqlFilter.JsonResolver(col(Schema.MetaCol))), lit(false))
            val hit = df.filter(pred).agg(min(col(Schema.IdCol))).head()
            if (!hit.isNullAt(0)) {
              val id = hit.getLong(0)
              rewriteData(df.filter(col(Schema.IdCol) =!= id))
              rowsCount -= 1
              Meta.write(spark, dir, CollectionMeta(name, lastId,
                embedder.dim, embedder.id, rowsCount))
              recordTombstoneId(id)
              recordTextTombstoneId(id)
              nDel += 1
            }
          }
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
  // Scale: each staged op pays ONE localCheckpoint materialization
  // (lineage truncation — without it the per-op matched-count job
  // re-evaluates every prior staged op, O(N²) for N ops); commit pays
  // exactly one rewrite of the final frame — N ops cost ONE write
  // amplification, which is why bulk maintenance at 100 TB should
  // prefer a transaction over N bulkWrite rewrites.
  final class Txn private[api] () {
    private var frame = df
    private val startLastId = lastId
    private val startRows = rowsCount
    private var nextId = lastId
    private var insertedN = 0L
    private var deletedN = 0L
    private var updatedAny = false
    private var done: Option[String] = None
    private def live(): Unit = require(done.isEmpty,
      s"transaction already ${done.get}")
    private def predOf(filterJson: String) =
      coalesce(MqlFilter.toColumn(filterJson,
        MqlFilter.JsonResolver(col(Schema.MetaCol))), lit(false))

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
      if (data.metadatas.nonEmpty &&
        data.documents.length != data.metadatas.length)
        throw new FieldLengthMismatch
      if (data.documents.isEmpty) return
      val rows = if (data.metadatas.isEmpty)
        data.documents.map(d => (d, null: String))
      else data.documents.zip(data.metadatas)
      val base = spark.createDataFrame(rows)
        .toDF(Schema.DocCol, Schema.MetaCol)
      val n = data.documents.length.toLong
      val indexed = embedder.embedDF(
          zipWithId(base, nextId)._1, Schema.DocCol, Schema.EmbeddingCol)
        .select(col(Schema.IdCol), col(Schema.DocCol),
          col(Schema.EmbeddingCol), col(Schema.MetaCol))
      stage(frame.unionByName(indexed))
      nextId += n
      insertedN += n
    }

    /** Stage a literal-document update over every staged row matching
      * the MQL filter; returns the matched count (evaluated against
      * the staged frame — one count job, no write). */
    def updateMany(filterJson: String, updateJson: String): Long = {
      live()
      val pred = predOf(filterJson)
      val mergeUdf = validatedUpdateUdf(updateJson,
        arrayFiltersJson = null, queryFilterJson = filterJson)
      val matched = frame.filter(pred).count()
      if (matched > 0L) {
        stage(frame.withColumn(Schema.MetaCol,
          when(pred, mergeUdf(col(Schema.MetaCol)))
            .otherwise(col(Schema.MetaCol))))
        updatedAny = true
      }
      matched
    }

    /** Stage a delete of every staged row matching the MQL filter;
      * returns the removed count. */
    def deleteMany(filterJson: String): Long = {
      live()
      val pred = predOf(filterJson)
      val removed = frame.filter(pred).count()
      if (removed > 0L) {
        stage(frame.filter(!pred))
        deletedN += removed
      }
      removed
    }

    /** Publish every staged operation through ONE copy-on-write
      * rewrite. Loud WriteConflict when the collection moved since
      * begin; no-op commit when nothing was staged. */
    def commit(): Unit = {
      live()
      require(lastId == startLastId && rowsCount == startRows,
        s"write conflict: collection '$name' changed since this " +
          "transaction began (watermark moved) — abort and retry")
      if (insertedN > 0 || deletedN > 0 || updatedAny) {
        rewriteData(frame)
        lastId = nextId
        rowsCount = startRows + insertedN - deletedN
        Meta.write(spark, dir,
          CollectionMeta(name, lastId, embedder.dim, embedder.id,
            rowsCount))
      }
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
  def findOneAndDelete(filterJson: String): Option[(Long, String)] = {
    if (!hasData) return None
    val pred = coalesce(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))), lit(false))
    val hit = df.filter(pred)
      .orderBy(col(Schema.IdCol).asc).limit(1)
      .select(col(Schema.IdCol), col(Schema.MetaCol)).collect()
    if (hit.isEmpty) return None
    val id = hit(0).getLong(0)
    rewriteData(df.filter(col(Schema.IdCol) =!= id))
    rowsCount -= 1
    Meta.write(spark, dir,
      CollectionMeta(name, lastId, embedder.dim, embedder.id, rowsCount))
    recordTombstoneId(id)
    recordTextTombstoneId(id)
    Some((id, hit(0).getString(1)))
  }

  /** Mongo `findOneAndReplace`: [[replaceOne]] that returns the
    * replaced document's `(id, metadata)` pre-image (or the
    * post-image with `returnNew`); None when nothing matches. */
  def findOneAndReplace(filterJson: String, document: String,
      metadata: Map[String, Any] = Map.empty,
      returnNew: Boolean = false): Option[(Long, String)] = {
    if (!hasData) return None
    val pred = coalesce(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))), lit(false))
    val hit = df.filter(pred)
      .orderBy(col(Schema.IdCol).asc).limit(1)
      .select(col(Schema.IdCol), col(Schema.MetaCol)).collect()
    if (hit.isEmpty) return None
    val id = hit(0).getLong(0)
    val pre = hit(0).getString(1)
    replaceOne(filterJson, document, metadata)
    if (!returnNew) Some((id, pre))
    else Some((id, df.filter(col(Schema.IdCol) === id)
      .select(col(Schema.MetaCol)).head().getString(0)))
  }

  def findOneAndUpdate(filterJson: String, updateJson: String,
      returnNew: Boolean = false,
      arrayFiltersJson: String = null): Option[(Long, String)] = {
    if (!hasData) return None
    val pred = coalesce(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))), lit(false))
    val hit = df.filter(pred)
      .orderBy(col(Schema.IdCol).asc).limit(1)
      .select(col(Schema.IdCol), col(Schema.MetaCol)).collect()
    if (hit.isEmpty) return None
    val id = hit(0).getLong(0)
    val pre = hit(0).getString(1)
    // the id restricts the rewrite; the ORIGINAL filter still resolves
    // any positional '$' segments
    updateWhere(col(Schema.IdCol) === id, updateJson,
      arrayFiltersJson, filterJson)
    if (!returnNew) Some((id, pre))
    else Some((id, df.filter(col(Schema.IdCol) === id)
      .select(col(Schema.MetaCol)).head().getString(0)))
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
    val updated = df.filter(pred).count()
    if (updated > 0L) {
      rewriteData(df.withColumn(Schema.MetaCol,
        when(pred, mergeUdf(col(Schema.MetaCol)))
          .otherwise(col(Schema.MetaCol))))
    }
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
      require(Seq("$set", "$inc", "$unset", "$min", "$max", "$mul",
        "$push", "$addToSet", "$pull", "$pop", "$rename", "$setOnInsert")
        .contains(e.getKey),
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
    * One Catalyst plan: Scan(parquet) → Filter(translated MQL) →
    * Project(+_distance) → TakeOrderedAndProject(k). The filter is a real
    * Column (pushdown survives); top-k is per-partition heaps + driver
    * merge, never a full sort. Distance is L2, ascending, ties broken by
    * _m_id — a strict superset of the reference output, which emits
    * queue-pop order and drops distances (SURVEY.md §2.3).
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
    require(qv.length == embedder.dim,
      s"query vector dimension ${qv.length} != collection dimension " +
        s"${embedder.dim}")
    val qlit = array(qv.map(v => lit(v)): _*)
    val base = if (filterJson == null || filterJson.trim.isEmpty) df
    else df.filter(MqlFilter.toColumn(filterJson,
      MqlFilter.JsonResolver(col(Schema.MetaCol))))
    base
      .withColumn(Schema.DistanceCol,
        graft.functions.VectorFunctions.l2(col(Schema.EmbeddingCol), qlit))
      .orderBy(col(Schema.DistanceCol).asc_nulls_last,
        col(Schema.IdCol).asc)
      .limit(k)
  }

  /** Mongo's `explain` cursor-method analogue (FerretDB exposes it
    * too): the PHYSICAL plan the flagship query compiles to, in
    * Spark's formatted mode — the surface an operator uses to check
    * that the MQL filter translated to a pushdown-bearing Column and
    * the top-k compiled to TakeOrderedAndProject, without running the
    * query. */
  def explainQuery(document: String, k: Int,
      filterJson: String = null): String =
    query(document, k, filterJson).queryExecution.explainString(
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
