package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, isnan, lit, when}

/** Row builders shared by the engine specs. */
object TestRows {
  /** `rows` with every NaN MBR field made null. GeoRow's fields are
    * primitive, so the nulls live only in the columns — all the engine
    * reads. */
  def nulled(rows: Dataset[GeoRow]): Dataset[GeoRow] =
    rows.select(col("id") +: col("gtype") +: col("coords") +:
      Seq("xmin", "ymin", "xmax", "ymax").map(f =>
        when(isnan(col(f)), lit(null)).otherwise(col(f)).as(f)): _*)
      .as[GeoRow](rows.encoder)
}
