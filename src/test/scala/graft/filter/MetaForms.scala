package graft.filter

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, try_parse_json}
import org.apache.spark.sql.types.VariantType

/** Runs an MQL filter through both metadata bindings a collection uses
  * and asserts they select the same rows: the JSON binding, which parses
  * the `meta` text once per row, and the stored-VARIANT binding over
  * `meta_v = try_parse_json(meta)` written to parquet and read back —
  * the collection's write-time parse, with Spark's default variant
  * shredding and scan pushdown in play. */
trait MetaForms { self: SparkTestBase =>
  private val storedForms =
    new java.util.IdentityHashMap[DataFrame, DataFrame]()
  private lazy val storeRoot = tmpDir("mql-stored")

  /** `frame` (an `id` and a `meta` JSON column) with its metadata
    * parsed once into `meta_v`, stored and read back; one write per
    * frame. */
  def storedForm(frame: DataFrame): DataFrame = synchronized {
    Option(storedForms.get(frame)).getOrElse {
      val path = s"$storeRoot/${storedForms.size}"
      frame.withColumn("meta_v", try_parse_json(col("meta")))
        .write.parquet(path)
      val back = spark.read.schema(frame.schema.add("meta_v", VariantType))
        .parquet(path)
      storedForms.put(frame, back)
      back
    }
  }

  /** The sorted ids `filterJson` selects from `frame`, the same through
    * both bindings (optionally under a collation). */
  def selectIds(frame: DataFrame, filterJson: String,
      collation: Option[MqlFilter.Collation] = None): Seq[Long] = {
    def ids(d: DataFrame, r: MqlFilter.FieldResolver) =
      d.filter(MqlFilter.toColumn(filterJson, r, collation))
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val viaJson = ids(frame, MqlFilter.JsonResolver(col("meta")))
    val viaStored =
      ids(storedForm(frame), MqlFilter.VariantResolver(col("meta_v")))
    assert(viaStored == viaJson, s"$filterJson: the stored-VARIANT " +
      s"binding selects $viaStored, the JSON binding $viaJson")
    viaJson
  }
}
