package graft.grid

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Raster grid model (SURVEY.md §1.1): a raster is a long-format cell table
  * `(date, row, col, value)` plus an affine transform constant — dense 2-D
  * arrays exist only at sink boundaries. The reference's grid: 300×260
  * pixels, origin (36, 15), 0.05°, EPSG:4326, nodata −99999
  * (`rasterize.py:63`, `BiomassAggregate.py:128-154`).
  */
final case class Affine(originLon: Double, originLat: Double, pixel: Double,
                        nRows: Int, nCols: Int) {

  /** lon → col index (floor; longitudes grow with col). */
  def colOf(lon: Column): Column =
    floor((lon - lit(originLon)) / lit(pixel)).cast("int")

  /** lat → row index (floor; latitudes shrink with row — north-up raster). */
  def rowOf(lat: Column): Column =
    floor((lit(originLat) - lat) / lit(pixel)).cast("int")

  /** Cell-center coordinates (FIXTURES.md B5: lon = o + (col+0.5)·px). */
  def lonOf(c: Column): Column = lit(originLon) + (c + 0.5) * lit(pixel)
  def latOf(r: Column): Column = lit(originLat) - (r + 0.5) * lit(pixel)

  def inBounds(r: Column, c: Column): Column =
    r >= 0 && r < nRows && c >= 0 && c < nCols
}

object Grid {

  /** The reference's Ethiopia grid. */
  val Reference: Affine = Affine(36.0, 15.0, 0.05, nRows = 300, nCols = 260)

  val Nodata = -99999.0

  /** The burn tie-break key of a point: its coordinates quantized to 3
    * decimals (P4) and packed into one BIGINT, lon-major. It depends on the
    * point alone, so the same point wins a collided cell under any row order
    * or partitioning. The registry's SQL oracles spell the same expression:
    * `CAST(round(lon * 1000) AS BIGINT) * 1000000 + CAST(round(lat * 1000) AS BIGINT)`. */
  def tieKey(lon: Column, lat: Column): Column =
    round(lon * 1000).cast("bigint") * 1000000L + round(lat * 1000).cast("bigint")

  /** W8: burn a point table (date, lon, lat, value, tieBreak) onto the grid.
    * Collisions resolve deterministically — lowest tieBreak wins (the
    * declared version of rasterio's burn-order last-wins, SURVEY.md W8).
    * P11: non-positive burned values become the nodata sentinel. */
  def burn(points: DataFrame, affine: Affine,
           dateCol: String = "date", lonCol: String = "lon", latCol: String = "lat",
           valueCol: String = "value", tieBreakCol: String = "tie"): DataFrame = {
    points
      .select(col(dateCol).as("date"),
              affine.rowOf(col(latCol)).as("row"),
              affine.colOf(col(lonCol)).as("col"),
              col(valueCol).as("v"), col(tieBreakCol).as("tie"))
      .where(affine.inBounds(col("row"), col("col")))
      .groupBy("date", "row", "col")
      .agg(expr("min_by(v, tie)").as("burned"))
      .select(col("date"), col("row"), col("col"),
              when(col("burned") <= 0, lit(Nodata)).otherwise(col("burned")).as("value"))
  }

  /** K2 sink adapter: materialize ONE date's cells as a dense row-major
    * array (bounded: nRows×nCols, e.g. 78k cells — per-date, never the whole
    * series). Cells absent from the table become nodata. */
  def toDense(cells: DataFrame, affine: Affine): Array[Array[Double]] = {
    val dense = Array.fill(affine.nRows, affine.nCols)(Nodata)
    cells.select("row", "col", "value").collect().foreach { r =>
      dense(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
    }
    dense
  }

  /** S8-style scan of a dense array back into a cell table (test utility +
    * raster ingest shape): sentinel set and sub-floor values → NULL, scale/
    * offset decode (`BiomassAggregate.py:140-154`). */
  def fromDense(spark: org.apache.spark.sql.SparkSession, date: java.sql.Date,
                dense: Array[Array[Double]], scale: Double = 1.0, offset: Double = 0.0): DataFrame = {
    import spark.implicits._
    val rows = for {
      r <- dense.indices
      c <- dense(r).indices
    } yield (date, r, c, dense(r)(c))
    val raw = rows.toDF("date", "row", "col", "raw")
    raw.select(col("date"), col("row"), col("col"),
      when(col("raw").isin(graft.core.CleanOps.DefaultSentinels: _*) || col("raw") < -1000.0, lit(null))
        .otherwise(col("raw") * scale + offset).as("value"))
  }
}
