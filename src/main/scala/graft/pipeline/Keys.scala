package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared key-typing guard for the serving-layout delete paths
  * ([[TextSearch.deleteFromIndex]], [[Dedup.deleteFromShingleIndex]]).
  *
  * The layouts preserve the corpus's NATIVE id type (long doc ids, or
  * string URL keys on a recrawl), so delete ids cast to the STORED
  * type before the semi-join (r16 ADVICE — a fixed `cast("long")`
  * nulled string keys out and the delete silently matched nothing).
  * The cast itself has the same silent-no-op hazard in the other
  * direction: string garbage against a long-keyed layout casts to
  * null and "deletes" nothing. A delete that retains the data it was
  * told to drop is a right-to-forget bug, so an uncastable id FAILS
  * the call instead (r17 ADVICE's fail-fast completion).
  */
private[pipeline] object Keys {

  /** Delete ids cast to the layout's stored key type — distinct, under
    * the fixed column name `doc` — failing fast (with the offending id
    * in the message) if any non-null id does not cast. Costs one
    * delete-sized job; delete sets are parameter-bounded.
    */
  def castIdsToStored(
      ids: DataFrame, idCol: String, stored: DataType, op: String,
  ): DataFrame = {
    // try_cast, not cast: under ANSI mode a malformed value would blow
    // up mid-job with a generic CAST_INVALID_INPUT; with ANSI off it
    // would null out silently — try_cast behaves the same either way,
    // so the guard below raises the SAME named error in both modes
    val cast = ids.select(col(idCol).as("__raw"),
      col(idCol).try_cast(stored).as("doc"))
    val bad = cast.where(col("__raw").isNotNull && col("doc").isNull)
      .select(col("__raw").cast("string")).head(1)
    require(bad.isEmpty,
      s"$op: delete id '${bad.head.getString(0)}' does not cast to the " +
        s"layout's stored key type $stored — a null key would silently " +
        "delete nothing, so the call fails instead")
    cast.select("doc").distinct()
  }

  /** Spark's ascending order of a stored id column of type `t`, nulls
    * first — for the integral and string id types, the ones whose
    * driver-side values group and compare as Spark's do. */
  def ascending(t: DataType): Option[Ordering[Any]] = {
    val cmp: Option[(Any, Any) => Int] = t match {
      case StringType =>
        Some((x, y) => Similarity.Utf8Order.compare(x.asInstanceOf[String], y.asInstanceOf[String]))
      case LongType | IntegerType | ShortType | ByteType =>
        Some((x, y) => java.lang.Long.compare(
          x.asInstanceOf[Number].longValue, y.asInstanceOf[Number].longValue))
      case _ => None
    }
    cmp.map(c => (x: Any, y: Any) =>
      if (x == null) { if (y == null) 0 else -1 }
      else if (y == null) 1
      else c(x, y))
  }
}
