package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial operators — radius search and distance self-join over point
  * sets, the geo half of any location-tagged corpus (store locators,
  * geotagged crawl pages, sensor fleets).
  *
  * Points are synthesized deterministically from customer keys with
  * pure BIGINT arithmetic (`x = custkey·7919 mod 100000` etc. — two
  * fixed primes spread the keys over a 100 km × 100 km integer-meter
  * plane), so Spark and DuckDB derive bit-identical coordinates and
  * every distance is an exact `BIGINT` square — no floating trig in
  * the gate. A production deployment swaps the synthetic projection
  * for real projected coordinates (or haversine in the refine step);
  * the plan shapes under test — grid-cell blocking, bounding-box
  * pushdown, top-k — are unchanged by that substitution.
  */
object Geo {

  /** Cell size (and join radius) in meters. Cell ≥ radius guarantees
    * any within-radius pair sits in the same or an adjacent cell —
    * the 3×3 neighborhood the join explodes. */
  private val R = 2000L

  /** Radius-query search radius (meters) for [[geoNear]]. */
  private val NearR = 20000L

  private def points(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("id"),
        (col("c_custkey") * 7919 % 100000).as("x"),
        (col("c_custkey") * 104729 % 100000).as("y"))

  private val pointsSql =
    """SELECT c_custkey AS id, c_custkey * 7919 % 100000 AS x,
      |  c_custkey * 104729 % 100000 AS y FROM customer""".stripMargin

  /** Distance self-join: all point pairs within [[R]] meters, via
    * GRID-CELL BLOCKING — the 2-D twin of the range join's time-bucket
    * trick ([[Bucketing]]): each point keys to its `(x DIV R, y DIV R)`
    * cell, ONE side explodes to its 3×3 neighborhood, and the match is
    * a hash EQUI-join on the cell key. Every within-radius pair lands
    * in exactly one (cellA-neighbor = cellB) bucket, so candidates are
    * generated once, never a cross product — candidate count is bounded
    * by local density (points per cell)², not corpus². The exact
    * `dx²+dy² ≤ R²` refine runs post-join on candidates only. The
    * oracle goes brute-force all-pairs (the gate corpus is 1.5k
    * points); the blocked plan must reproduce it exactly — grid recall
    * is 1 by the cell-size ≥ radius invariant.
    *
    * GATE SUBJECT BOUND: the driver fixture derives coordinates from
    * customer keys over a FIXED 100 km² plane, so fixture density —
    * and with it in-cell candidate volume, hence gate output — grows
    * with SF² (at sf10 the unbounded gate was the suite's largest and
    * its only spill). That is a property of the synthetic fixture, not
    * the operator: on constant-density real-world planes per-point
    * cost is flat (proved by [[graft.ScaleProbe]]'s tiled planes —
    * adding area, not density). So the GATE pins the blocking math on
    * a deterministic id-capped subset ([[GateMaxPoints]], inert at
    * every verify SF ≤ 0.1 where customer ≤ 15k rows, mirrored in the
    * oracle's brute-force SQL) — the same static-dial device the
    * sweep/eval dedup gates use. Production callers use
    * [[geoJoinOver]] directly, uncapped. */
  def geoJoin(s: SparkSession, dir: String): DataFrame =
    geoJoinOver(points(s, dir).filter(col("id") <= GateMaxPoints))

  /** geo_join gate subject cap — above every verify-SF customer count
    * (sf0.1 = 15k) so verify hashes are untouched; at sf ≥ 1 it holds
    * the fixture's plane density (and the gate's quadratic output)
    * constant instead of letting it grow with SF². */
  private[graft] val GateMaxPoints = 20000L

  /** Loud ceiling on cell population — the [[Dedup.MaxBucketMembers]]
    * discipline for the 2-D grid: candidate volume is quadratic in the
    * densest cell, so a point-mass cell (every store geocoded to a
    * city centroid — the classic dirty-geo failure) should FAIL with
    * remediation, not silently OOM the join task. */
  private[graft] val MaxCellMembers = 10000L

  /** The blocked join over any `(id, x, y)` frame (meters, non-negative
    * BIGINT) — split out so the scale probe can feed tiled planes of
    * controlled density. */
  private[graft] def geoJoinOver(p: DataFrame): DataFrame = {
    // coordinates are non-negative, so double-divide + cast-to-long
    // floors exactly like integer DIV (and 0..100000 is exact in double)
    def cell(c: String): org.apache.spark.sql.Column =
      (col(c) / R).cast("long")
    val a = p.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"),
        explode(array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
          struct((cell("x") + i).as("cx"),
            (cell("y") + j).as("cy")))): _*)).as("cell"))
    // per-cell population guard on the join key: the count aggregate is
    // cell-sized, and the guard fires BEFORE the in-cell expansion
    // streams a single pair. Singleton cells stay: a lone point still
    // pairs with the eight neighbouring cells' points.
    val b = Dedup.guardJoinKey(
      p.select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
        struct(cell("x").as("cx"), cell("y").as("cy")).as("cell2")),
      "cell2", MaxCellMembers, "geo cell overflow",
      "dirty geocoding (point-mass cell) or radius too large; dedup " +
        "coordinates or shrink the join radius", minMembers = 1)
    val dx = col("xa") - col("xb")
    val dy = col("ya") - col("yb")
    a.join(b, col("cell") === col("cell2") && col("id_a") < col("id_b"))
      .withColumn("dist2", dx * dx + dy * dy)
      .filter(col("dist2") <= R * R)
      .select("id_a", "id_b", "dist2")
      .orderBy("id_a", "id_b")
  }

  /** Radius + top-k search from a query point — the "nearest stores"
    * query: the k closest points within [[NearR]] of the plane's
    * center. The bounding BOX (`x BETWEEN qx±R AND y BETWEEN qy±R`)
    * goes first; with STORED coordinate columns those two range
    * predicates push down to the parquet footer (min/max pruning —
    * with the [[Layout]] z-order clustering, either predicate prunes
    * files). Here the coordinates are computed from the key, so the
    * box runs as a scan-adjacent codegen filter instead — same row
    * reduction, no footer skip (PlanSpec locks the shape honestly).
    * The exact circle refine and the `(dist2, id)` top-k run on box
    * survivors only; top-k compiles to TakeOrderedAndProject
    * (per-partition heaps, k rows to the driver, never a global
    * sort). */
  def geoNear(s: SparkSession, dir: String): DataFrame = {
    val (qx, qy) = (50000L, 50000L)
    val dx = col("x") - qx
    val dy = col("y") - qy
    points(s, dir)
      .filter(col("x").between(qx - NearR, qx + NearR) &&
        col("y").between(qy - NearR, qy + NearR))
      .withColumn("dist2", dx * dx + dy * dy)
      .filter(col("dist2") <= NearR * NearR)
      .orderBy(col("dist2"), col("id"))
      .limit(10)
  }

  /** The `$geoNear` PIPELINE stage end to end (r11): the same planar
    * integer grid, but driven through MQL — points packed into the
    * metadata document as `loc: [x, y]`, then `$geoNear` with
    * near/key/distanceField/maxDistance/query, a computed `$project`,
    * and a deterministic `(dist2, idq)` sort+limit. Proves the stage's
    * box→circle filter order, the query pre-filter, and the exact
    * integer dist² under the oracle hash. */
  def mqlGeoNear(s: SparkSession, dir: String): DataFrame =
    graft.filter.MqlPipeline.aggregate(
      s.read.parquet(s"$dir/customer.parquet")
        .withColumn("meta", to_json(struct(
          col("c_custkey").as("id"),
          array(col("c_custkey") * 7919 % 100000,
            col("c_custkey") * 104729 % 100000).as("loc"),
          col("c_mktsegment").as("seg")))),
      col("meta"),
      s"""[
         | {"$$geoNear": {"near": [50000, 50000], "key": "loc",
         |   "distanceField": "dist2", "maxDistance": $NearR,
         |   "query": {"seg": {"$$ne": "BUILDING"}}}},
         | {"$$project": {"idq": {"$$toLong": "$$id"}, "dist2": 1}},
         | {"$$sort": {"dist2": 1, "idq": 1}},
         | {"$$limit": 10}
         |]""".stripMargin)

  /** Spherical point synthesis (integer MICRODEGREES, one source of
    * truth for both engines): lon derives from the ±180° range so the
    * ANTIMERIDIAN WRAP is exercised (at gate SFs every point lands on
    * the west side of the date line while the query pins sit on the
    * east — only wrapped distances match at all), lat stays within
    * ±60° (inside the spherical ±85° guard). */
  private val SpherePointsSql =
    """SELECT c_custkey AS id,
      |  c_custkey * 7919 % 360000000 - 180000000 AS lon,
      |  c_custkey * 104729 % 120000000 - 60000000 AS lat
      |FROM customer""".stripMargin

  private def spherePoints(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("id"),
        (col("c_custkey") * 7919 % 360000000L - 180000000L).as("lon"),
        (col("c_custkey") * 104729 % 120000000L - 60000000L).as("lat"))

  /** The [[graft.filter.MqlFilter.sphereDist2]] metric as oracle SQL —
    * same wrap (floor-mod emulation `((x%m)+m)%m` ≡ Spark pmod), same
    * single translate-time cos constant, same truncating `//` ≡ DIV. */
  private def sphereDist2Sql(qlon: Long, qlat: Long): String = {
    val cm = graft.filter.MqlFilter.cosMilli(qlat)
    val w = s"((((lon - $qlon + 180000000) % 360000000) + 360000000)" +
      s" % 360000000 - 180000000)"
    s"((lat - $qlat) * (lat - $qlat)" +
      s" + ($w * $cm // 1000) * ($w * $cm // 1000))"
  }

  /** `$geoNear {spherical: true}` end to end (r12 — lifts the r11 loud
    * refusal): lon/lat microdegree points through the MQL pipeline,
    * near pin at [179°E, 50°S] so matches exist ONLY via the
    * antimeridian wrap, maxDistance as the latitude-band prefilter +
    * exact metric refine, then the deterministic (d2, idq) top-k. The
    * geodesy is the documented local flat-earth surrogate — integer
    * microdegree wrap + one translate-time cos scale — so the hash
    * gate proves wrap, scale, prefilter order and metric exactness
    * with zero per-row trig in either engine. */
  def mqlGeoSphereNear(s: SparkSession, dir: String): DataFrame =
    graft.filter.MqlPipeline.aggregate(
      spherePoints(s, dir)
        .withColumn("meta", to_json(struct(col("id"),
          array(col("lon"), col("lat")).as("loc")))),
      col("meta"),
      s"""[
         | {"$$geoNear": {"near": [179000000, -50000000], "key": "loc",
         |   "distanceField": "d2", "maxDistance": 8000000,
         |   "spherical": true}},
         | {"$$project": {"idq": {"$$toLong": "$$id"}, "d2": 1}},
         | {"$$sort": {"d2": 1, "idq": 1}},
         | {"$$limit": 12}
         |]""".stripMargin)

  /** `$geoWithin.$centerSphere` under the gate (r12): containment on
    * the same spherical surrogate metric from the find() side — center
    * at [−175°, 52°S], again reachable only across the date line.
    * Pure scan+filter, integer-exact both engines. */
  def mqlGeoCenterSphere(s: SparkSession, dir: String): DataFrame =
    spherePoints(s, dir)
      .withColumn("meta", to_json(struct(col("id"),
        array(col("lon"), col("lat")).as("loc"))))
      .filter(graft.filter.MqlFilter.toColumn(
        """{"loc": {"$geoWithin":
          |  {"$centerSphere": [[-175000000, -52000000],
          |    7000000]}}}""".stripMargin,
        graft.filter.MqlFilter.JsonResolver(col("meta"))))
      .select(col("id"), col("lon"), col("lat"))
      .orderBy("id")

  val oracle: Map[String, String] = Map(
    "mql_geo_sphere_near" -> {
      val d2 = sphereDist2Sql(179000000L, -50000000L)
      s"""WITH p AS ($SpherePointsSql)
         |SELECT CAST(id AS BIGINT) AS idq, CAST($d2 AS BIGINT) AS d2
         |FROM p
         |WHERE lat BETWEEN ${-50000000L - 8000000L}
         |    AND ${-50000000L + 8000000L}
         |  AND $d2 <= ${8000000L * 8000000L}
         |ORDER BY d2, idq LIMIT 12""".stripMargin
    },
    "mql_geo_center_sphere" -> {
      val d2 = sphereDist2Sql(-175000000L, -52000000L)
      s"""WITH p AS ($SpherePointsSql)
         |SELECT id, lon, lat FROM p
         |WHERE $d2 <= ${7000000L * 7000000L}
         |ORDER BY id""".stripMargin
    },
    "mql_geo_near" ->
      s"""WITH p AS (SELECT c_custkey AS id, c_mktsegment AS seg,
         |    c_custkey * 7919 % 100000 AS x,
         |    c_custkey * 104729 % 100000 AS y FROM customer)
         |SELECT CAST(id AS BIGINT) AS idq,
         |  CAST((x - 50000) * (x - 50000)
         |    + (y - 50000) * (y - 50000) AS BIGINT) AS dist2
         |FROM p
         |WHERE seg <> 'BUILDING'
         |  AND x BETWEEN ${50000 - NearR} AND ${50000 + NearR}
         |  AND y BETWEEN ${50000 - NearR} AND ${50000 + NearR}
         |  AND (x - 50000) * (x - 50000) + (y - 50000) * (y - 50000)
         |    <= ${NearR * NearR}
         |ORDER BY dist2, idq LIMIT 10""".stripMargin,
    "geo_join" ->
      s"""WITH p AS ($pointsSql WHERE c_custkey <= $GateMaxPoints)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
         |FROM p a JOIN p b ON a.id < b.id
         |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |  <= ${R * R}
         |ORDER BY id_a, id_b""".stripMargin,
    "geo_near" ->
      s"""WITH p AS ($pointsSql)
         |SELECT id, x, y,
         |  (x - 50000) * (x - 50000) + (y - 50000) * (y - 50000) AS dist2
         |FROM p
         |WHERE (x - 50000) * (x - 50000) + (y - 50000) * (y - 50000)
         |  <= ${NearR * NearR}
         |ORDER BY dist2, id LIMIT 10""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_join" -> (geoJoin _),
    "geo_near" -> (geoNear _),
    "mql_geo_near" -> (mqlGeoNear _),
    "mql_geo_sphere_near" -> (mqlGeoSphereNear _),
    "mql_geo_center_sphere" -> (mqlGeoCenterSphere _)
  )
}
