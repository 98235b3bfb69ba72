package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets

/** Per-collection checkpoint/catalog record.
  *
  * Replaces the reference's meta collection {collection, hnswFile, hnswId,
  * hnswSize} (/root/reference/db/meta.go:11-16) — whose bson tags are
  * malformed and fields unexported, so it silently persists empty documents
  * (SURVEY.md §5.4). This sidecar round-trips by construction and is the
  * id-watermark source for recovery (intent of db/db.go:209-226, fixing the
  * min-vs-max bug at db/db.go:145-174).
  */
final case class CollectionMeta(
    name: String,
    lastId: Long,
    dim: Int,
    embedderId: String,
    rows: Long)

/** Index-coverage sidecar of a persisted side index (the IVF lists or
  * the text postings): the id watermark and row count it covers, plus
  * its nlist (the text index records its bucket count). The
  * incremental-maintenance analogue of the reference's hnswId/hnswSize
  * bookkeeping (the reference's db/meta.go:11-16, db/db.go:191-207): on
  * reopen-or-insert the engine appends only ids past `indexedLastId`
  * instead of rebuilding, as the reference replays the tail into its
  * HNSW.
  *
  * `indexedRows` counts rows IN STORAGE, deleted ones included (the
  * storage trust check compares against physical rows); live coverage
  * is `indexedRows - tombstones`. `tombstones` is the number of covered
  * ids deleted since the last build — a count only, no id list, so a
  * delete is one sidecar write. `stale` is the in-place-rewrite poison
  * pill: replaceOne swaps document text + embedding under an unchanged
  * id/watermark/rowcount, so every arithmetic coverage check still
  * passes while the entries describe the OLD content — a stale sidecar
  * means "rebuild required" whatever the counters say. Absent in older
  * sidecars ⇒ false. */
final case class IndexMeta(indexedLastId: Long, indexedRows: Long,
    nlist: Int, tombstones: Long = 0L, stale: Boolean = false)

object Meta {
  private val mapper = new ObjectMapper()
  val FileName = "_meta.json"
  val IndexFileName = "_index_meta.json"

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def write(spark: SparkSession, dir: String, m: CollectionMeta): Unit = {
    val node = mapper.createObjectNode()
    node.put("name", m.name)
    node.put("lastId", m.lastId)
    node.put("dim", m.dim)
    node.put("embedderId", m.embedderId)
    node.put("rows", m.rows)
    writeAtomic(spark, dir, FileName, mapper.writeValueAsBytes(node))
  }

  /** write-temp + rename, NOT truncate-in-place: a crash between
    * create() and close() would leave an empty/partial file, and these
    * small files (the sidecars, the change-log floor) are the recovery
    * anchors this module exists to protect. A crash between the delete
    * and the rename leaves only `name.tmp`, complete: the file then
    * reads as absent. */
  private[graft] def writeAtomic(spark: SparkSession, dir: String,
      name: String, bytes: Array[Byte]): Unit = {
    val p = new Path(dir, name)
    val tmp = new Path(dir, name + ".tmp")
    val f = fs(spark, p)
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"meta rename failed: $tmp -> $p")
  }

  def writeIndex(spark: SparkSession, indexDir: String, m: IndexMeta): Unit = {
    val node = mapper.createObjectNode()
    node.put("indexedLastId", m.indexedLastId)
    node.put("indexedRows", m.indexedRows)
    node.put("nlist", m.nlist)
    node.put("tombstones", m.tombstones)
    node.put("stale", m.stale)
    writeAtomic(spark, indexDir, IndexFileName, mapper.writeValueAsBytes(node))
  }

  /** The bytes of a small file, or None when it does not exist.
    * `readAllBytes` loops to end of stream, so a short read never
    * truncates the content. A torn file surfaces as a
    * `ChecksumException` or `EOFException` for the caller to judge. */
  private[graft] def readSmall(spark: SparkSession, p: Path)
      : Option[Array[Byte]] = {
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  /** A sidecar's JSON object carrying `key`, or None when the file is
    * absent, torn or unparsable: a corrupt sidecar must read as ABSENT,
    * not throw. The data directory is intact and the open-time recovery
    * (max(_m_id) fallback) or the index trust-check-then-rebuild path
    * re-derives what it held — throwing here would brick the collection
    * the recovery exists to heal. */
  private def readJson(spark: SparkSession, p: Path, key: String)
      : Option[com.fasterxml.jackson.databind.JsonNode] =
    try readSmall(spark, p)
      .map(b => mapper.readTree(new String(b, StandardCharsets.UTF_8)))
      .filter(n => n != null && n.isObject && n.get(key) != null)
    catch {
      case _: org.apache.hadoop.fs.ChecksumException |
          _: java.io.EOFException |
          _: com.fasterxml.jackson.core.JacksonException => None
    }

  def readIndex(spark: SparkSession, indexDir: String): Option[IndexMeta] =
    readJson(spark, new Path(indexDir, IndexFileName), "indexedLastId")
      .map(node => IndexMeta(
        node.get("indexedLastId").asLong(),
        node.get("indexedRows").asLong(),
        node.get("nlist").asInt(),
        Option(node.get("tombstones")).map(_.asLong()).getOrElse(0L),
        Option(node.get("stale")).exists(_.asBoolean())))

  def read(spark: SparkSession, dir: String): Option[CollectionMeta] =
    readJson(spark, new Path(dir, FileName), "name").map(node =>
      CollectionMeta(
        node.get("name").asText(),
        node.get("lastId").asLong(),
        node.get("dim").asInt(),
        node.get("embedderId").asText(),
        node.get("rows").asLong()))

  def drop(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, FileName)
    val f = fs(spark, p)
    if (f.exists(p)) f.delete(p, false)
  }
}
