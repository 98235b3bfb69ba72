package graft.operators

import graft.api.{Collection, CollectionNotFound, Data, KaerSession}
import graft.core.Schema
import graft.embed.HashingEmbedder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end verification of the reference's flagship composite operator
  * — the `/root/reference/main.go:35-52` scenario generalized: build a
  * collection from `documents.parquet` through the full insert path
  * (validate → embed → id-assign → append → sidecar), then run
  * `Collection.query(text, k, mqlFilter)` — metadata pre-filter ∧ top-k
  * nearest neighbors (db/db.go:111-143).
  *
  * The DuckDB oracle replicates the ENTIRE pipeline in SQL, including the
  * feature-hashing embedder (md5 bucket+sign → signed counts →
  * L2-normalize → float32) — possible because every step is md5-derived
  * integer math plus correctly-rounded double ops (SURVEY.md §7.4
  * determinism requirement).
  */
object KaerQuery {

  private val Dim = 64
  private val K = 5
  private val QueryText = "fast hash join order merge"
  private val FilterJson = """{"lang": {"$in": ["en", "fr"]}, "n_chars": {"$gt": 120}}"""

  /** Stable per-(sfDir, embedder) scratch root. The embedder id is part
    * of the key so an embedder-semantics change can never collide with a
    * leftover collection built under the old semantics. */
  private def scratch(dir: String): String =
    graft.core.Scratch.dir("kaer", s"$dir#${HashingEmbedder(Dim).id}")

  /** Reopen the persisted collection for `dir` when it passes the trust
    * check, else (re)build it from documents.parquet — reference parity:
    * the reference reopens its persisted doc store + index snapshot on
    * open (db/db.go:209-226, loadIndexIfExists), it never rebuilds from
    * source. Trust = sidecar watermark and row count both equal the
    * source row count (ids are dense 1..n by construction) with the
    * matching embedder. Collection content is a pure function of
    * (documents.parquet, embedder), so a trusted leftover is equivalent
    * to a fresh build.
    *
    * Insert order is doc_id order — zipWithIndex preserves the global
    * order of the range-partitioned sort, so `_m_id` is monotone in
    * `doc_id` WITHOUT collapsing to one partition; embed + write stay
    * parallel. Makes the (distance, _m_id) tie-break equal to the
    * oracle's (distance, doc_id). */
  private def openOrBuild(s: SparkSession, dir: String): Collection = {
    val k = new KaerSession(s, scratch(dir), HashingEmbedder(Dim))
    val d = s.read.parquet(s"$dir/documents.parquet")
    val expected = d.count()
    val existing =
      try Some(k.getCollection("docs"))
      catch { case _: CollectionNotFound => None }
    existing.filter(c => c.watermark == expected && c.rows == expected)
      .getOrElse {
        k.dropCollection("docs")
        val coll = k.createCollection("docs")
        coll.insertDF(
          d.select(
            col("text").as(Schema.DocCol),
            to_json(struct(col("doc_id"), col("lang"), col("source"),
              col("n_chars"))).as(Schema.MetaCol))
            .orderBy("doc_id"))
        // compact the fresh build (id-ranged rewrite + rename swap) so
        // the maintenance machinery runs UNDER the oracle hash every
        // build — results are layout-independent, so a compaction bug
        // that corrupted rows/ids would break the gate. Conf-off for
        // experiments that want the raw append layout.
        if (s.conf.getOption("graft.kaer.compact_on_build")
            .forall(_.toBoolean))
          coll.compact()
        coll
      }
  }

  /** The flagship query over the (persisted, reusable) collection. */
  def flagship(s: SparkSession, dir: String): DataFrame =
    openOrBuild(s, dir).query(QueryText, K, FilterJson)
      .select(
        get_json_object(col(Schema.MetaCol), "$.doc_id").cast("long")
          .as("doc_id"),
        get_json_object(col(Schema.MetaCol), "$.lang").as("lang"))

  /** The flagship through the PERSISTED IVF INDEX path with every list
    * probed: ensureIndex → queryApprox(nprobe = nlist). Full probing
    * makes the index exact, so this shares kaer_query's oracle — what
    * it adds to the gate is the index build + probe machinery end to
    * end (KMeans fit, partitioned lists, driver-side centroid read,
    * pruned id-only probe scan, broadcast semi-join back to the
    * collection). */
  def flagshipIndexed(s: SparkSession, dir: String): DataFrame = {
    val coll = openOrBuild(s, dir)
    val NList = 8
    coll.ensureIndex(nlist = NList, iters = 2)
    coll.queryApprox(QueryText, K, nprobe = NList, FilterJson)
      .select(
        get_json_object(col(Schema.MetaCol), "$.doc_id").cast("long")
          .as("doc_id"),
        get_json_object(col(Schema.MetaCol), "$.lang").as("lang"))
  }

  /** Collection mutations under the oracle gate: insert → delete-by-MQL →
    * Mongo update document ($set + $inc) → project the surviving
    * metadata. Exercises the copy-on-write rewrite machinery (parquet is
    * immutable: DELETE/UPDATE = filtered/transformed rewrite + rename
    * swap + sidecar update — exactly a lakehouse mutation) end to end
    * under the hash compare; the DuckDB twin replays the same mutations
    * as relational algebra. Beyond the reference's own kaer surface (its
    * FerretDB layer supports mutation; kaer never exposed it) — the
    * capability a real document+vector store user expects.
    *
    * Mutations are NOT idempotent (a second $inc would double-bump), so
    * the collection is dropped and rebuilt every run — never trusted
    * from a previous round like [[openOrBuild]]'s read-only collection. */
  /** Change streams under the oracle gate — `collection.watch()` over
    * an enabled changelog: a scripted mutation sequence (bulk insert →
    * $set update on the en slice → delete the de slice → a fresh
    * single-doc insert) replayed against a dropped-and-rebuilt scratch
    * collection, then the full event log read back. The oracle
    * recomputes the event log ARITHMETICALLY from the documents table:
    * `_m_id` is `row_number() OVER (ORDER BY doc_id)` (the store's
    * documented dense-id insert order), after-image payloads reduce to
    * `md5(text)` + the meta's lang field, op_time is the scripted
    * mutation index. A capture bug anywhere — a missed event, a wrong
    * after-image, a leaked compact event, a broken resume counter —
    * hash-mismatches. */
  def watchGate(s: SparkSession, dir: String): DataFrame = {
    val k = new KaerSession(s, graft.core.Scratch.dir(
      "kaerwatch", s"$dir#${HashingEmbedder(Dim).id}"), HashingEmbedder(Dim))
    k.dropCollection("docs")
    val coll = k.createCollection("docs")
    coll.enableChangeStream()
    coll.insertDF(
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("text").as(Schema.DocCol),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
            .as(Schema.MetaCol))
        .orderBy("doc_id"))                                  // op_time 1
    coll.updateDoc("""{"lang": "en"}""",
      """{"$set": {"seen": 1}}""")                           // op_time 2
    coll.delete("""{"lang": {"$eq": "de"}}""")               // op_time 3
    coll.insert(Data()
      .withDocuments(Seq("fresh doc"))
      .withMetadatas(Seq(Map[String, Any](
        "doc_id" -> 999999, "lang" -> "xx"))))               // op_time 4
    coll.watch()
      .select(col("op_time"), col("op"),
        col(Schema.IdCol).as("mid"),
        md5(col(Schema.DocCol)).as("digest"),
        get_json_object(col(Schema.MetaCol), "$.lang").as("lang"))
      .orderBy("op_time", "mid")
  }

  /** Streaming CDC → live materialized view under the gate (r13):
    * [[graft.api.Collection.watchStream]] tails the change log as a
    * file-source stream and foreachBatch maintains the lakehouse
    * CDC-MV pattern end to end: an ID-level store upserted
    * newest-op_time-wins per micro-batch (delete events persist as
    * TOMBSTONE rows, so re-delivery or out-of-order batches can never
    * resurrect a dead id), with the MV aggregate derived from the
    * converged store. maxFilesPerTrigger=16 splits the log across
    * several micro-batches (the bulk insert alone writes one event
    * file per shuffle partition) — the CROSS-batch merge is what
    * converges, not one lucky batch; 1-file batches would pay an
    * O(|store|) rewrite per partition file for no extra proof. The
    * oracle recomputes the
    * final per-lang counts from the base corpus arithmetically:
    * merge ≡ recompute, the incr_agg contract fed by a LIVE change
    * stream instead of a date split. */
  def watchCdcMvGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val k = new KaerSession(s, graft.core.Scratch.dir(
      "kaercdcmv", s"$dir#${HashingEmbedder(Dim).id}"), HashingEmbedder(Dim))
    k.dropCollection("docs")
    val coll = k.createCollection("docs")
    coll.enableChangeStream()
    coll.insertDF(
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("text").as(Schema.DocCol),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
            .as(Schema.MetaCol))
        .orderBy("doc_id"))                                  // op_time 1
    coll.updateDoc("""{"lang": "de"}""",
      """{"$set": {"lang": "dd"}}""")                        // op_time 2
    coll.delete("""{"lang": {"$eq": "fr"}}""")               // op_time 3
    coll.insert(Data()
      .withDocuments(Seq("cdc doc a", "cdc doc b"))
      .withMetadatas(Seq(
        Map[String, Any]("doc_id" -> 1000001, "lang" -> "xx"),
        Map[String, Any]("doc_id" -> 1000002, "lang" -> "xx")))) // 4
    val root = graft.core.Scratch.dir("kaercdcmv_store",
      s"$dir#${HashingEmbedder(Dim).id}")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // fresh store + checkpoint per run: the gate is about the sink's
    // converged content, not checkpoint resumption
    for (p <- Seq("store", "store_tmp", "store_bak", "ckpt"))
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$p"), true)
    val q = coll.watchStream(Map("maxFilesPerTrigger" -> "16"))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val events = batch.select(
          col(Schema.IdCol).as("mid"), col("op_time"), col("op"),
          get_json_object(col(Schema.MetaCol), "$.lang").as("lang"))
        // per-batch compaction: one row per id however many events
        val compacted = events.groupBy("mid")
          .agg(max_by(struct(col("op"), col("lang")), col("op_time"))
            .as("_r"), max(col("op_time")).as("op_time"))
          .select(col("mid"), col("_r.op").as("op"),
            col("_r.lang").as("lang"), col("op_time"))
        // r14: PARTITIONED store MERGE — the store is partitioned by
        // id-range bucket (ids are monotone, so an insert batch lands
        // in the tail bucket; updates/deletes touch the buckets of the
        // ids they name), and each batch (1) reads ONLY the touched
        // buckets (partition-pruned scan), (2) merges the delta,
        // (3) DYNAMIC-overwrites only those buckets. Per-batch cost is
        // O(touched partitions + delta), independent of store size —
        // the r13 whole-store rewrite was O(|store| + |delta|).
        val W = 65536L // ids per bucket
        val delta = compacted
          .withColumn("pb", (col("mid") / W).cast("long"))
        val tgt = new org.apache.hadoop.fs.Path(s"$root/store")
        val merged =
          if (!fs.exists(tgt)) delta
          else {
            // ≤ (delta id-span / W) bucket ids — a bounded collect
            val touched = delta.select("pb").distinct()
              .collect().map(_.getLong(0)).toSeq
            val cur = batch.sparkSession.read.parquet(tgt.toString)
              .filter(col("pb").isin(touched: _*))
              .select(col("mid"), col("op"), col("lang"),
                col("op_time"), col("pb").cast("long").as("pb"))
            Upsert.upsert(cur, delta,
              Seq("mid"), whenMatched = "newerWins",
              versionCol = Some("op_time"))
          }
        merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("pb").parquet(tgt.toString)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the LIVE view: tombstones drop out, everything else aggregates —
    // at scale this is the one-row-per-key MV refresh shape (|store| +
    // |delta| per batch, never the base table)
    s.read.parquet(s"$root/store")
      .filter(col("op") =!= "delete")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  /** Multi-operation transaction under the oracle gate: an ABORTED
    * transaction (flag update + fr-language delete) must leave zero
    * trace, then a COMMITTED transaction stages an insert (two xx
    * docs), an updateMany (en docs flagged seen) and a deleteMany
    * (de docs) and publishes all three through ONE atomic rewrite.
    * The gate reads the final state back; the oracle recomputes it
    * arithmetically from the base corpus — any abort leakage (ghost
    * flag, missing fr rows) or lost commit op hash-mismatches. The
    * one-op_time change-event batch and the WriteConflict guard are
    * KaerSpec's lifecycle battery. */
  def txnGate(s: SparkSession, dir: String): DataFrame = {
    val k = new KaerSession(s, graft.core.Scratch.dir(
      "kaertxn", s"$dir#${HashingEmbedder(Dim).id}"), HashingEmbedder(Dim))
    k.dropCollection("docs")
    val coll = k.createCollection("docs")
    coll.insertDF(
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("text").as(Schema.DocCol),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
            .as(Schema.MetaCol))
        .orderBy("doc_id"))
    val t0 = coll.beginTransaction()
    t0.updateMany("""{"lang": "en"}""", """{"$set": {"ghost": 1}}""")
    t0.deleteMany("""{"lang": "fr"}""")
    t0.abort()
    coll.transaction { t =>
      t.insert(Data()
        .withDocuments(Seq("txn doc a", "txn doc b"))
        .withMetadatas(Seq(
          Map[String, Any]("doc_id" -> 1000001, "lang" -> "xx"),
          Map[String, Any]("doc_id" -> 1000002, "lang" -> "xx"))))
      t.updateMany("""{"lang": "en"}""", """{"$set": {"seen": 1}}""")
      t.deleteMany("""{"lang": {"$eq": "de"}}""")
    }
    k.aggregate("docs",
      """[
        | {"$project": {"did": {"$toLong": "$doc_id"}, "lang": 1,
        |   "seen": {"$toLong":
        |     {"$ifNull": [{"$toLong": "$seen"}, 0]}}}},
        | {"$sort": {"did": 1}}
        |]""".stripMargin)
  }

  def deleteUpdate(s: SparkSession, dir: String): DataFrame = {
    val k = new KaerSession(s, graft.core.Scratch.dir(
      "kaermut", s"$dir#${HashingEmbedder(Dim).id}"), HashingEmbedder(Dim))
    k.dropCollection("docs")
    val coll = k.createCollection("docs")
    coll.insertDF(
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("text").as(Schema.DocCol),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
            .as(Schema.MetaCol))
        .orderBy("doc_id"))
    coll.delete("""{"lang": {"$eq": "de"}}""")
    coll.updateDoc("""{"n_chars": {"$gt": 800}}""",
      """{"$set": {"flag": "long"}, "$inc": {"n_chars": 1000}}""")
    k.aggregate("docs",
      """[
        | {"$project": {"did": {"$toLong": "$doc_id"}, "lang": 1,
        |   "nchars": {"$toLong": "$n_chars"},
        |   "flag": {"$ifNull": ["$flag", "none"]}}},
        | {"$sort": {"did": 1}}
        |]""".stripMargin)
  }

  /** Ordered bulkWrite under the oracle gate: one call replays a mixed
    * batch — updateMany (en flagged), updateOne (+$inc on the FIRST fr
    * doc only — min doc_id, the deterministic natural order),
    * insertOne (an xx doc), deleteOne (the first de doc), deleteMany
    * (every zh doc) — and the aggregation reads the composite result
    * back under one arithmetic oracle. */
  def bulkWriteGate(s: SparkSession, dir: String): DataFrame = {
    val k = new KaerSession(s, graft.core.Scratch.dir(
      "kaerbulk", s"$dir#${HashingEmbedder(Dim).id}"), HashingEmbedder(Dim))
    k.dropCollection("docs")
    val coll = k.createCollection("docs")
    coll.insertDF(
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("text").as(Schema.DocCol),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
            .as(Schema.MetaCol))
        .orderBy("doc_id"))
    coll.bulkWrite(
      """[
        | {"updateMany": {"filter": {"lang": "en"},
        |   "update": {"$set": {"seen": 1}}}},
        | {"updateOne": {"filter": {"lang": "fr"},
        |   "update": {"$inc": {"hits": 5}}}},
        | {"insertOne": {"metadata": {"doc_id": 999999, "lang": "xx"}}},
        | {"deleteOne": {"filter": {"lang": "de"}}},
        | {"deleteMany": {"filter": {"lang": "zh"}}}
        |]""".stripMargin)
    k.aggregate("docs",
      """[
        | {"$project": {"lang": 1,
        |   "seenv": {"$toLong": {"$ifNull": ["$seen", 0]}},
        |   "hitsv": {"$toLong": {"$ifNull": ["$hits", 0]}}}},
        | {"$group": {"_id": "$lang",
        |   "n": {"$count": {}},
        |   "seen_total": {"$sum": "$seenv"},
        |   "hits_total": {"$sum": "$hitsv"}}},
        | {"$sort": {"_id": 1}}
        |]""".stripMargin)
      .select(col("_id").as("lang"), col("n"), col("seen_total"),
        col("hits_total"))
  }

  /** Mongo upsert under the oracle gate: a MATCHING upsert behaves as
    * a plain update ($setOnInsert ignored), a NON-matching upsert
    * creates the document — metadata seeded from the filter's equality
    * conditions, $inc from absent (→ the increment), $setOnInsert
    * fired. The aggregation projects both populations under one oracle
    * (source rows + the one synthesized row). */
  def upsertGate(s: SparkSession, dir: String): DataFrame = {
    val k = new KaerSession(s, graft.core.Scratch.dir(
      "kaerups", s"$dir#${HashingEmbedder(Dim).id}"), HashingEmbedder(Dim))
    k.dropCollection("docs")
    val coll = k.createCollection("docs")
    coll.insertDF(
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("text").as(Schema.DocCol),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
            .as(Schema.MetaCol))
        .orderBy("doc_id"))
    // matching: update fires, $setOnInsert must NOT
    coll.updateDoc("""{"lang": {"$eq": "en"}}""",
      """{"$set": {"seen": 1}, "$setOnInsert": {"origin": "insert"}}""",
      upsert = true)
    // no match: seeds {lang: "xx", doc_id: 999999}, $inc from absent,
    // $setOnInsert fires
    coll.updateDoc("""{"lang": "xx", "doc_id": {"$eq": 999999}}""",
      """{"$inc": {"hits": 5}, "$setOnInsert": {"origin": "insert"}}""",
      upsert = true)
    k.aggregate("docs",
      """[
        | {"$project": {"did": {"$toLong": "$doc_id"}, "lang": 1,
        |   "seen": {"$toLong": {"$ifNull": ["$seen", 0]}},
        |   "hits": {"$toLong": {"$ifNull": ["$hits", 0]}},
        |   "origin": {"$ifNull": ["$origin", "none"]}}},
        | {"$sort": {"did": 1}}
        |]""".stripMargin)
  }

  /** Array update operators under the oracle gate: insert docs whose
    * metadata carries a `tags` array → $push (filtered), $addToSet
    * (set-semantics append), $pull (structural-equality removal,
    * filtered), $rename (key move) → $unwind the renamed array through
    * the aggregation pipeline. The DuckDB twin replays the same four
    * mutations as list algebra. Same copy-on-write machinery as
    * [[deleteUpdate]]; non-idempotent, so always rebuilt. */
  def updateArray(s: SparkSession, dir: String): DataFrame = {
    val k = new KaerSession(s, graft.core.Scratch.dir(
      "kaerarr", s"$dir#${HashingEmbedder(Dim).id}"), HashingEmbedder(Dim))
    k.dropCollection("docs")
    val coll = k.createCollection("docs")
    coll.insertDF(
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("text").as(Schema.DocCol),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars"),
            array(col("lang"), col("source")).as("tags")))
            .as(Schema.MetaCol))
        .orderBy("doc_id"))
    coll.updateDoc("""{"n_chars": {"$gt": 800}}""",
      """{"$push": {"tags": "long"}}""")
    coll.updateDoc("{}", """{"$addToSet": {"tags": "en"}}""")
    coll.updateDoc("""{"lang": {"$eq": "fr"}}""",
      """{"$pull": {"tags": "fr"}}""")
    coll.updateDoc("{}", """{"$rename": {"tags": "labels"}}""")
    k.aggregate("docs",
      """[
        | {"$unwind": "$labels"},
        | {"$project": {"did": {"$toLong": "$doc_id"},
        |   "label": "$labels"}},
        | {"$sort": {"did": 1, "label": 1}}
        |]""".stripMargin)
  }

  /** r11 positional array updates under the oracle gate: seed each doc
    * with a 3-element integer score array, then replay the three
    * positional forms in sequence — `$[]` (every element of en docs
    * +10), `$[low]` + arrayFilters (elements < 5 zeroed everywhere),
    * and `$` (the FIRST element matching the query's $elemMatch
    * condition +1) — and project the exploded arrays under the hash.
    * The DuckDB twin replays the same mutations as list algebra; the
    * first-match update is encoded multiset-exactly (all occurrences
    * of the first matching VALUE are interchangeable, so bumping the
    * rn=1 row of that value reproduces the sorted projection).
    * Mutations are not idempotent → drop + rebuild every run. */
  def updatePositional(s: SparkSession, dir: String): DataFrame = {
    val k = new KaerSession(s, graft.core.Scratch.dir(
      "kaerpos", s"$dir#${HashingEmbedder(Dim).id}"), HashingEmbedder(Dim))
    k.dropCollection("docs")
    val coll = k.createCollection("docs")
    coll.insertDF(
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("text").as(Schema.DocCol),
          to_json(struct(col("doc_id"), col("lang"),
            array((col("n_chars") % 1000).cast("long"),
              (col("doc_id") % 7).cast("long"), lit(500L)).as("scores")))
            .as(Schema.MetaCol))
        .orderBy("doc_id"))
    coll.updateDoc("""{"lang": {"$eq": "en"}}""",
      """{"$inc": {"scores.$[]": 10}}""")
    coll.updateDoc("{}", """{"$set": {"scores.$[low]": 0}}""",
      """[{"low": {"$lt": 5}}]""")
    coll.updateDoc("""{"scores": {"$elemMatch": {"$gt": 800}}}""",
      """{"$inc": {"scores.$": 1}}""")
    coll.df.select(
      get_json_object(col(Schema.MetaCol), "$.doc_id").cast("long")
        .as("did"),
      explode(from_json(
        get_json_object(col(Schema.MetaCol), "$.scores"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).as("score"))
      .orderBy("did", "score")
  }

  /** The Atlas `$vectorSearch` pipeline stage end to end (r11): the
    * flagship kNN seeded INTO the aggregation pipeline —
    * queryText/limit/filter through the first-stage dispatch in
    * [[graft.api.KaerSession.aggregate]], the matches then projected
    * by a computed `$project`. Same answer contract as kaer_query
    * (the exact top-k is recall-1, a strict superset of Atlas's ANN
    * semantics), so it shares the flagship oracle — what it adds to
    * the gate is the stage dispatch, option validation, and the
    * pipeline handoff (metadata root + `_m_distance` intact). */
  def vectorSearch(s: SparkSession, dir: String): DataFrame = {
    openOrBuild(s, dir)
    val k = new KaerSession(s, scratch(dir), HashingEmbedder(Dim))
    k.aggregate("docs",
      """[
        | {"$vectorSearch": {"queryText": "QT", "limit": KK,
        |   "numCandidates": 50, "filter": FJ}},
        | {"$project": {"doc_id": {"$toLong": "$doc_id"}, "lang": 1}}
        |]""".stripMargin
        .replace("QT", QueryText)
        .replace("KK", K.toString)
        .replace("FJ", FilterJson))
  }

  /** MQL aggregation over the COLLECTION — the reference's
    * `Collection.Aggregate` delegation (it uses the surface itself:
    * `[{$sort:{_m_id:1}},{$limit:1}]`, /root/reference/db/db.go:146-148)
    * generalized to the analytic form: $match → $group accumulators →
    * $sort, fed by the store's VARIANT metadata end to end (trusted
    * reopen → MqlPipeline over `_m_meta`). The table-backed mql_*
    * gates prove the pipeline engine; this proves the COLLECTION path
    * into it — schema, id injection, and persisted layout included. */
  def aggregateGroup(s: SparkSession, dir: String): DataFrame =
    openOrBuild(s, dir).aggregate(
      """[
        | {"$match": {"lang": {"$ne": "de"}, "n_chars": {"$gte": 200}}},
        | {"$group": {"_id": "$source",
        |   "n": {"$sum": 1},
        |   "chars": {"$sum": {"$toLong": "$n_chars"}},
        |   "max_chars": {"$max": {"$toLong": "$n_chars"}}}},
        | {"$sort": {"_id": 1}}
        |]""".stripMargin)

  /** The API-parity smoke of the literal main.go:35-52 flow (2 docs,
    * metadata, k=1, {"attr1": {"$eq": 1}}) — exercised in KaerSpec; this
    * module's registered query is the generalized, oracle-checked form. */
  def mainGoScenario(s: SparkSession, root: String): DataFrame = {
    val k = new KaerSession(s, root, HashingEmbedder(Dim))
    val coll = k.createCollection("test")
    coll.insert(Data()
      .withDocuments(Seq("hello, world", "nihao, shijie"))
      .withMetadatas(Seq(
        Map("attr1" -> 1, "attr2" -> "str1"),
        Map("attr1" -> 200, "attr2" -> "str2"))))
    coll.query("h, world", 1, """{"attr1": {"$eq": 1}}""")
  }

  // ---- DuckDB twin of the full pipeline ------------------------------

  /** SQL for the hashing embedder over a text expression: returns the
    * normalized FLOAT[] as produced by HashingEmbedder.embed. */
  private def embedSqlCtes: String = {
    val toks = "regexp_extract_all(lower(substr(text, 1, 512)), '[a-z0-9]+')"
    s"""r AS (
       |  SELECT doc_id,
       |    [COALESCE(list_sum([CASE
       |        WHEN ('0x' || substr(md5('idx:' || t), 1, 15))::BIGINT % $Dim = i
       |        THEN (CASE WHEN ('0x' || substr(md5('sgn:' || t), 1, 15))::BIGINT % 2 = 1
       |              THEN 1 ELSE -1 END)::BIGINT
       |        ELSE 0 END for t in toks]), 0)
       |     for i in generate_series(0, ${Dim - 1})] AS raw
       |  FROM (SELECT doc_id, $toks AS toks FROM filtered)
       |),
       |n AS (
       |  SELECT doc_id, raw,
       |    sqrt(list_sum([(v::DOUBLE) * (v::DOUBLE) for v in raw])) AS nrm
       |  FROM r
       |),
       |v AS (
       |  SELECT doc_id,
       |    [CASE WHEN nrm > 0 THEN (raw[i]::DOUBLE / nrm)::FLOAT
       |          ELSE 0.0::FLOAT END
       |     for i in generate_series(1, $Dim)] AS emb
       |  FROM n
       |)""".stripMargin
  }

  /** Query vector as a SQL FLOAT[] literal — computed by the driver-side
    * embedOne (bit-equal to the column path by contract). */
  private def qvLit: String =
    HashingEmbedder(Dim).embedOne(QueryText)
      .map(f => s"${f}::FLOAT").mkString("[", ",", "]")

  private lazy val flagshipOracleSql: String =
      s"""WITH filtered AS (
         |  SELECT doc_id, text, lang FROM documents
         |  WHERE lang IN ('en', 'fr') AND n_chars > 120
         |),
         |$embedSqlCtes,
         |q AS (SELECT $qvLit AS qv)
         |SELECT v.doc_id, f.lang
         |FROM v JOIN filtered f ON f.doc_id = v.doc_id, q
         |ORDER BY list_sum([(emb[i]::DOUBLE - qv[i]::DOUBLE)
         |    * (emb[i]::DOUBLE - qv[i]::DOUBLE)
         |    for i in generate_series(1, $Dim)]) ASC, v.doc_id ASC
         |LIMIT $K""".stripMargin

  /** The Mongo `distinct` command through `Collection.distinctValues`
    * under the oracle gate (so far spec-only): MQL-filtered distinct of
    * a metadata field, returned client-side like the Mongo command —
    * through the conf-capped guard (loud failure past
    * `graft.distinct.max_values`, never a silent driver OOM). The
    * k-sized result wraps back into a DataFrame for the hash compare. */
  def distinctLangs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    openOrBuild(s, dir)
      .distinctValues("lang", """{"n_chars": {"$gte": 500}}""")
      .toDF("lang").orderBy("lang")
  }

  /** `$text` SERVED FROM the collection's persisted postings index
    * (r14): ensureTextIndex (trust-reuse / O(tail) append / rebuild —
    * the IVF ladder's text twin) then textFind — partition-pruned
    * bucket scan, textScore surrogate, MQL pre-filter composed on the
    * live collection, $meta-descending top-k. The oracle is the SAME
    * scan-path scoring SQL the mql_text_score gate pins, composed with
    * the lang filter — a serving-path bug (missed posting, stale
    * bucket, broken tombstone arithmetic) hash-mismatches against the
    * independently computed scan answer. */
  def textSearchIndexed(s: SparkSession, dir: String): DataFrame = {
    val coll = openOrBuild(s, dir)
    coll.ensureTextIndex()
    coll.textFind("vector hash table", 15,
        """{"lang": {"$in": ["en", "fr"]}}""")
      .select(
        get_json_object(col(Schema.MetaCol), "$.doc_id").cast("long")
          .as("doc_id"),
        col("score"))
  }

  /** textFind phrase + fuzzy under the gate (r15): a quoted phrase
    * ("hash table" must appear as an ADJACENT token run — served from
    * the postings' positions), a plain term, and a single-edit fuzzy
    * term (vectr~ resolves against the vocab dictionary), composed
    * with an MQL pre-filter. Score = Σ tf over the distinct matched
    * terms (exact ∪ fuzzy-resolved ∪ phrase members). The oracle
    * DERIVES the fuzzy resolution from the corpus vocabulary with the
    * same levenshtein≤1 rule — nothing hardcoded. */
  def textPhraseIndexed(s: SparkSession, dir: String): DataFrame = {
    val coll = openOrBuild(s, dir)
    coll.ensureTextIndex()
    coll.textFind("\"hash table\" merge vectr~", 15,
        """{"lang": {"$in": ["en", "fr", "de"]}}""")
      .select(
        get_json_object(col(Schema.MetaCol), "$.doc_id").cast("long")
          .as("doc_id"),
        col("score"))
  }

  val oracle: Map[String, String] = Map(
    "kaer_text_phrase" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |vocab AS (SELECT DISTINCT unnest(ts) AS t FROM tk),
        |mt AS (SELECT list(t) AS ml FROM (
        |  SELECT t FROM vocab WHERE levenshtein(t, 'vectr') <= 1
        |  UNION SELECT unnest(['hash', 'table', 'merge']))),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(ts, x -> list_contains(ml, x)))
        |      AS BIGINT) AS score,
        |    len(list_filter(generate_series(1, len(ts) - 1),
        |      i -> ts[i] = 'hash' AND ts[i + 1] = 'table')) AS ph
        |  FROM tk, mt)
        |SELECT doc_id, score FROM m
        |WHERE ph > 0 AND lang IN ('en', 'fr', 'de')
        |ORDER BY score DESC, doc_id ASC LIMIT 15""".stripMargin,
    "kaer_text_search" ->
      """WITH m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(
        |      regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> t IN ('vector', 'hash', 'table'))) AS BIGINT)
        |      AS score
        |  FROM documents)
        |SELECT doc_id, score FROM m
        |WHERE score > 0 AND lang IN ('en', 'fr')
        |ORDER BY score DESC, doc_id ASC LIMIT 15""".stripMargin,
    "kaer_distinct" ->
      """SELECT DISTINCT lang FROM documents
        |WHERE n_chars >= 500 ORDER BY 1""".stripMargin,
    "kaer_query" -> flagshipOracleSql,
    // full probing ⇒ identical answer contract to the exact path
    "kaer_query_indexed" -> flagshipOracleSql,
    // exact top-k seed ⇒ identical answer contract to the flagship
    "kaer_vector_search" -> flagshipOracleSql,
    "kaer_aggregate" ->
      """SELECT source AS _id, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  max(n_chars) AS max_chars
        |FROM documents WHERE lang <> 'de' AND n_chars >= 200
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "kaer_delete_update" ->
      """SELECT doc_id AS did, lang,
        |  CASE WHEN n_chars > 800 THEN n_chars + 1000
        |       ELSE n_chars END AS nchars,
        |  CASE WHEN n_chars > 800 THEN 'long' ELSE 'none' END AS flag
        |FROM documents
        |WHERE lang <> 'de'
        |ORDER BY did""".stripMargin,
    "kaer_bulk_write" ->
      """WITH de1 AS (SELECT min(doc_id) AS d FROM documents
        |  WHERE lang = 'de'),
        |fr1 AS (SELECT min(doc_id) AS d FROM documents
        |  WHERE lang = 'fr'),
        |kept AS (SELECT doc_id, lang FROM documents, de1
        |  WHERE lang <> 'zh'
        |    AND NOT (lang = 'de' AND doc_id = de1.d)),
        |allr AS (SELECT doc_id, lang FROM kept
        |  UNION ALL SELECT 999999, 'xx')
        |SELECT lang, count(*) AS n,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS seen_total,
        |  CAST(sum(CASE WHEN lang = 'fr'
        |      AND doc_id = (SELECT d FROM fr1) THEN 5 ELSE 0 END)
        |    AS BIGINT) AS hits_total
        |FROM allr GROUP BY 1 ORDER BY lang""".stripMargin,
    "kaer_upsert" ->
      """SELECT doc_id AS did, lang,
        |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
        |    AS seen,
        |  CAST(0 AS BIGINT) AS hits, 'none' AS origin
        |FROM documents
        |UNION ALL
        |SELECT 999999, 'xx', 0, 5, 'insert'
        |ORDER BY did""".stripMargin,
    "kaer_update_positional" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    [CAST(n_chars % 1000 AS BIGINT),
        |     CAST(doc_id % 7 AS BIGINT),
        |     CAST(500 AS BIGINT)] AS scores
        |  FROM documents),
        |t1 AS (SELECT doc_id, lang,
        |  CASE WHEN lang = 'en'
        |       THEN list_transform(scores, x -> x + 10)
        |       ELSE scores END AS scores FROM base),
        |t2 AS (SELECT doc_id,
        |  list_transform(scores,
        |    x -> CASE WHEN x < 5 THEN 0 ELSE x END) AS scores FROM t1),
        |t3 AS (SELECT doc_id, scores,
        |  list_filter(scores, x -> x > 800)[1] AS fv FROM t2),
        |rows_ AS (SELECT doc_id, fv, unnest(scores) AS x FROM t3),
        |rn_ AS (SELECT doc_id, fv, x,
        |  row_number() OVER (PARTITION BY doc_id, x ORDER BY x) AS rn
        |  FROM rows_)
        |SELECT doc_id AS did,
        |  CAST(CASE WHEN fv IS NOT NULL AND x = fv AND rn = 1
        |       THEN x + 1 ELSE x END AS BIGINT) AS score
        |FROM rn_ ORDER BY did, score""".stripMargin,
    "kaer_txn" ->
      """SELECT did, lang, seen FROM (
        |  SELECT doc_id AS did, lang,
        |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
        |      AS seen
        |  FROM documents WHERE lang <> 'de'
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(1000001 AS BIGINT), 'xx', CAST(0 AS BIGINT)),
        |    (CAST(1000002 AS BIGINT), 'xx', CAST(0 AS BIGINT)))
        |    v(did, lang, seen))
        |ORDER BY did""".stripMargin,
    "stream_cdc_mv" ->
      """WITH live AS (
        |  SELECT CASE WHEN lang = 'de' THEN 'dd' ELSE lang END AS lang
        |  FROM documents WHERE lang <> 'fr'
        |  UNION ALL SELECT 'xx' UNION ALL SELECT 'xx')
        |SELECT lang, count(*) AS n_docs FROM live
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "kaer_watch" ->
      """WITH base AS (SELECT
        |    row_number() OVER (ORDER BY doc_id) AS mid,
        |    text, lang FROM documents),
        |ev AS (
        |  SELECT 1 AS op_time, 'insert' AS op, mid,
        |    md5(text) AS digest, lang FROM base
        |  UNION ALL
        |  SELECT 2, 'update', mid, md5(text), lang FROM base
        |  WHERE lang = 'en'
        |  UNION ALL
        |  SELECT 3, 'delete', mid, CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR) FROM base WHERE lang = 'de'
        |  UNION ALL
        |  SELECT 4, 'insert', (SELECT max(mid) FROM base) + 1,
        |    md5('fresh doc'), 'xx')
        |SELECT CAST(op_time AS BIGINT) AS op_time, op,
        |  CAST(mid AS BIGINT) AS mid, digest, lang
        |FROM ev ORDER BY op_time, mid""".stripMargin,
    "kaer_update_array" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars, [lang, source] AS tags
        |  FROM documents),
        |t1 AS (SELECT doc_id, lang,
        |  CASE WHEN n_chars > 800 THEN list_append(tags, 'long')
        |       ELSE tags END AS tags FROM base),
        |t2 AS (SELECT doc_id, lang,
        |  CASE WHEN NOT list_contains(tags, 'en')
        |       THEN list_append(tags, 'en') ELSE tags END AS tags
        |  FROM t1),
        |t3 AS (SELECT doc_id, lang,
        |  CASE WHEN lang = 'fr' THEN list_filter(tags, t -> t <> 'fr')
        |       ELSE tags END AS tags FROM t2)
        |SELECT doc_id AS did, unnest(tags) AS label FROM t3
        |ORDER BY did, label""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kaer_query" -> (flagship _),
    "kaer_text_search" -> (textSearchIndexed _),
    "kaer_text_phrase" -> (textPhraseIndexed _),
    "kaer_distinct" -> (distinctLangs _),
    "kaer_query_indexed" -> (flagshipIndexed _),
    "kaer_aggregate" -> (aggregateGroup _),
    "kaer_delete_update" -> (deleteUpdate _),
    "kaer_update_array" -> (updateArray _),
    "kaer_update_positional" -> (updatePositional _),
    "kaer_vector_search" -> (vectorSearch _),
    "kaer_upsert" -> (upsertGate _),
    "kaer_bulk_write" -> (bulkWriteGate _),
    "kaer_watch" -> (watchGate _),
    "stream_cdc_mv" -> (watchCdcMvGate _),
    "kaer_txn" -> (txnGate _)
  )
}
