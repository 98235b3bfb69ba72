package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed co-located joins — the storage-layout answer to the biggest
  * shuffle in a warehouse: write both fact tables bucketed (and sorted)
  * by the join key, and every subsequent equi-join on that key runs with
  * ZERO exchange on either side — each task sort-merges bucket i of A
  * with bucket i of B straight off storage. At 100 TB you pay the
  * bucketing shuffle once at ingest and never again across the join's
  * whole query lifetime; PlanSpec asserts the exchange-free plan.
  *
  * Tables are managed (bucketBy requires saveAsTable); the session's
  * warehouse dir holds them, and each name carries its source's
  * file-listing fingerprint, so neither two scale factors nor a
  * regenerated source can share a table.
  */
object Bucketing {

  /** Bucket count scales with the source (r15 — the sf10 audit found
    * the fixed 8-bucket dial capping the zero-exchange SMJ at 8-way
    * parallelism: 9.1× for 10× data): ~1M rows per bucket, floor 8,
    * cap 4096. The join result is bucketing-invariant, so the oracle
    * never sees the dial; the TABLE NAME carries the count so a
    * layout persisted under a different dial can never mis-register
    * (bucket-id → file mapping is encoded in file names at write
    * time — re-declaring N over M-bucket files would join silently
    * wrong, the one failure mode worse than a rebuild). */
  private def bucketsFor(rows: Long): Int =
    math.max(8L, math.min(4096L, (rows + 999999L) / 1000000L)).toInt

  /** The in-memory catalog dies with the JVM but the warehouse files
    * don't. When the files are already there from a previous session,
    * re-register them as an EXTERNAL bucketed table (bucket-to-file
    * mapping is encoded in the file names Spark wrote) instead of paying
    * the bucketing shuffle again — that is the whole point of the
    * layout: bucket once, reuse forever. The name is `<base>_<source
    * fingerprint>_<buckets>`: a source regenerated under the same dir,
    * even with the same row count, gets a new table instead of the old
    * one. */
  private def ensureTable(s: SparkSession, base: String, src: String,
      key: String, buckets: Int, srcRows: Long): String = {
    val table0 =
      s"${base}_${graft.core.Scratch.fingerprint(s, src)}_$buckets"
    // explicit database qualification: the <warehouse>/<table> location
    // below only holds for the default database, so pin it rather than
    // depending on the session's current database
    val table = s"default.`$table0`"
    // warm path pays ZERO jobs: the source row count is only needed by
    // the Trust check on the create path, so it arrives precomputed
    // from the caller (which already counted for bucketsFor)
    if (s.catalog.tableExists(table)) return table
    val n = srcRows
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, table0)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // trust the leftover ONLY through the shared contract (_SUCCESS AND
    // row count == source): a crashed write can leave a plausible subset
    // of bucket files, and a table bucketed from an outdated source
    // would join silently wrong. The name carries the bucket count, so
    // a trusted leftover is guaranteed to have been written under THIS
    // dial.
    if (graft.core.Trust.parquetDir(s, p.toString, n)) {
      val schema = s.read.parquet(p.toString).schema.toDDL
      s.sql(s"""CREATE TABLE $table ($schema) USING parquet
               |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
               |LOCATION '${p.toString}'""".stripMargin)
    } else {
      if (fs.exists(p)) fs.delete(p, true) // partial leftover
      s.read.parquet(src)
        .write.bucketBy(buckets, key).sortBy(key)
        .mode("overwrite").format("parquet").saveAsTable(table)
    }
    table
  }

  /** The two bucketed table names. They depend on orders.parquet and
    * lineitem.parquet, so they are a [[graft.core.SessionMemo]] value
    * over both: a warm call runs zero jobs (two driver-side listings,
    * no footer counts), and a regenerated source re-ensures. A catalog
    * miss (an external DROP TABLE) re-ensures too; tableExists is a
    * driver-side lookup, no job. */
  def ensureBucketed(s: SparkSession, dir: String): (String, String) = {
    val tables = graft.core.SessionMemo.value(s, "bucketed_tables",
      Seq(s"$dir/orders.parquet", s"$dir/lineitem.parquet"))(ensure(s, dir))
    if (s.catalog.tableExists(tables._1) && s.catalog.tableExists(tables._2))
      tables
    else ensure(s, dir)
  }

  private def ensure(s: SparkSession, dir: String): (String, String) = {
    // ONE bucket count for both sides, sized by the larger table — a
    // bucketed SMJ is exchange-free only when the counts MATCH. The
    // counts feed ensureTable's Trust check too, so each source is
    // counted exactly once per ensure (and only metadata-cheaply:
    // parquet count() reads footers, not data).
    val oRows = s.read.parquet(s"$dir/orders.parquet").count()
    val lRows = s.read.parquet(s"$dir/lineitem.parquet").count()
    val buckets = bucketsFor(math.max(oRows, lRows))
    (ensureTable(s, "orders_b", s"$dir/orders.parquet", "o_orderkey",
      buckets, oRows),
      ensureTable(s, "lineitem_b", s"$dir/lineitem.parquet", "l_orderkey",
        buckets, lRows))
  }

  /** The co-located join: revenue by order status, joining the two
    * bucketed tables on the bucket key — no exchange on either side. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = ensureBucketed(s, dir)
    val o = s.table(ot)
    val l = s.table(lt)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("revenue_cents"))
      .orderBy("o_orderstatus")
  }

  val oracle: Map[String, String] = Map(
    "bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bucketed_join" -> (bucketedJoin _)
  )
}
