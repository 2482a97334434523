package graft.pipeline

import java.time.LocalDate

import graft.agg.Zonal
import graft.core.CleanOps
import graft.grid.{Affine, Grid}
import graft.ml.{GP, GWR}
import graft.window.Periods
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's 5-stage pipeline re-composed from the engine's operators
  * (SURVEY.md §3, §7 module 7), over reference-shaped tables (FIXTURES.md
  * B2–B9). Each stage is a pure DataFrame → DataFrame function; orchestration
  * (watermark resolution, empty-input short-circuit, sinks) stays at the
  * edges, mirroring `master_script.py` but as one lazy plan per stage.
  *
  * F7/K8 failure contract: a stage receiving an empty input returns an empty
  * (correctly-schemed) output, so downstream stages no-op — the reference's
  * truncate-and-exit behavior (`funcs.py:5-18`) without the side effects.
  */
object Forage {

  val dec = "DECIMAL(18,4)"

  /** Stage 1 (data_extraction_v2): three point-sample sources → 16-day
    * composites → quantized equi-join on (X, Y, period) → combined.
    *
    * Inputs are long point-sample tables (lon, lat, d: Date, v: Double).
    * ndvi & sm aggregate with a null-skipping mean (A1/A2); preci with a
    * skipna sum where an all-null group yields 0.0 (A3, xarray semantics).
    */
  /** Stage 1's output schema — the downstream handoff shape, needed by the
    * K8 truncate path even when stage 1 itself failed. */
  val combinedSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lon", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("lat", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ndvi", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("sm", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("preci", org.apache.spark.sql.types.DoubleType)))

  def stage1Combined(ndvi: DataFrame, sm: DataFrame, preci: DataFrame,
                     anchor: LocalDate, watermark: LocalDate): DataFrame = {
    def keyed(df: DataFrame) = Periods.assign(
      df.select(CleanOps.quantize(col("lon")).as("x"),
                CleanOps.quantize(col("lat")).as("y"),
                col("d"), col("v")),
      "d", anchor, watermark)
    val n = keyed(ndvi).groupBy("x", "y", "p_end").agg(avg("v").as("ndvi"))
    val s = keyed(sm).groupBy("x", "y", "p_end").agg(avg("v").as("sm"))
    val p = keyed(preci).groupBy("x", "y", "p_end")
      .agg(coalesce(sum("v"), lit(0.0)).as("preci"))
    n.join(s, Seq("x", "y", "p_end"), "inner")   // J1: 3-way multi-key join
      .join(p, Seq("x", "y", "p_end"), "inner")
      .select(col("x").as("lon"), col("y").as("lat"),
              graft.core.DateOps.toYyyymmdd(col("p_end")).as("date"),
              col("ndvi"), col("sm"), col("preci"))
  }

  /** Stage 2 (gwr_model): impute → GWR (fit per distinct quantized coord,
    * broadcast coefficients) → pred → biomass formula (P6).
    *
    * The calibration set the reference fits against is the WHOLE combined
    * table (`gwr_model.py:68-99`) — fine at its 19k rows, a driver OOM at
    * 100×. `calibCap` bounds the collect: inputs at or under the cap are
    * used whole (reference-identical), larger inputs are strided down
    * deterministically by a hash of the row key, so the sample — and the
    * fitted surface — is stable across runs and partitionings. */
  def stage2Score(spark: SparkSession, combined: DataFrame, bandwidth: Double = 1.0,
                  calibCap: Long = 20000): DataFrame = {
    // stage 1's output is read four times below (F7 guard, calibration
    // collect, distinct-coordinate fit set, final scoring join) — cache it
    // rather than recompute the upstream composite 4×. CacheManager dedups
    // by canonicalized plan, so repeated pipeline runs share one entry. The
    // caller owns the entry: `ForageJob.run` unpersists it when the job
    // ends, and the registry's FrameMemo keeps it as its stage-2 artifact.
    val input = combined.cache()
    // one action serves both the F7 empty guard and the calibration modulus
    // (r5 ran isEmpty + count as two separate jobs over the composite)
    val nRows = input.count()
    if (nRows == 0L) // F7 guard
      return input.withColumn("pred", lit(0.0)).withColumn("biom", lit(0.0)).limit(0)
    import spark.implicits._
    val clean = input.na.fill(0.0, Seq("ndvi", "sm", "preci")) // P8
    val calibSrc =
      if (nRows <= calibCap) clean
      else { // every m-th row by stable key hash — deterministic at any parallelism
        val m = (nRows + calibCap - 1) / calibCap
        clean.where(pmod(xxhash64(col("lon"), col("lat"), col("date")), lit(m)) === 0)
      }
    val calib = calibSrc.select("lon", "lat", "sm", "preci", "ndvi")
      .as[(Double, Double, Double, Double, Double)].collect()
      .map(r => GWR.Obs(r._1, r._2, Array(r._3, r._4), r._5))
    // one fit per distinct coordinate, spread evenly over every core
    // (GWR.coefficients says why the split is by count, not by bytes)
    val coefs = GWR.coefficients(clean.select("lon", "lat"), calib, bandwidth)
    clean.join(broadcast(coefs), Seq("lon", "lat"))
      .withColumn("pred", col("b0") + col("b1") * col("sm") + col("b2") * col("preci"))
      .withColumn("biom", (col("pred") * 6480.2 - 958.6) / 1000.0) // P6
      .drop("b0", "b1", "b2")
  }

  /** Stage 2 variant: score with FIXED coefficients — a pre-fitted global
    * WLS model applied as a pure column expression. Same impute + scoring +
    * biomass path as `stage2Score` with the per-cell fit factored out, so
    * the whole stage is SQL-expressible and the pipeline prefix can be
    * hash-checked THROUGH scoring (the fit itself is golden-tested against
    * the reference's committed results). No collect, no broadcast, no
    * shuffle — survives any scale trivially. */
  def stage2ScoreFixed(combined: DataFrame, b0: Double, b1: Double, b2: Double): DataFrame =
    combined.na.fill(0.0, Seq("ndvi", "sm", "preci")) // P8
      .withColumn("pred", lit(b0) + lit(b1) * col("sm") + lit(b2) * col("preci"))
      .withColumn("biom", (col("pred") * 6480.2 - 958.6) / 1000.0) // P6

  /** Stage 3 (rasterize): abs(round(biom,2)) (P7), burn points to the grid
    * per date (W8), non-positive → nodata (P11). Points that collide in one
    * cell resolve by `Grid.tieKey`, so every execution burns the same value. */
  def stage3Rasterize(results: DataFrame, affine: Affine = Grid.Reference): DataFrame = {
    val pts = results
      .select(graft.core.DateOps.fromYyyymmdd(col("date")).as("date"),
              col("lon"), col("lat"),
              abs(round(col("biom"), 2)).as("value"), // P7
              Grid.tieKey(col("lon"), col("lat")).as("tie"))
    Grid.burn(pts, affine)
  }

  /** Stages 4+5 head (ForecastMain/BiomassAggregate): zonal cascade over the
    * static membership map. `zones` = (zone_id, wkt). */
  def stage4Zonal(spark: SparkSession, cells: DataFrame,
                  zones: Seq[(String, String)], affine: Affine = Grid.Reference): DataFrame = {
    val sanitized = zones.map { case (id, w) => (id.replace("/", "-").replace("?", ""), w) } // P13
    val member = Zonal.membership(spark, sanitized, affine)
    val cents = Zonal.centroids(spark, sanitized, affine)
    val masked = cells.withColumn("value",
      when(col("value") === Grid.Nodata, lit(null)).otherwise(col("value"))) // P10
    Zonal.zonalStats(masked, member, cents)
  }

  /** Stage 5 (BiomassForecast): per-zone GP forecast at +16/32/48 days; emits
    * the API payload shape (extId, mean 4dp null-if-NaN, date) — K5. */
  def stage5Forecast(spark: SparkSession, zoneSeries: DataFrame): DataFrame = {
    import spark.implicits._
    val ds = zoneSeries
      .select(col("zone_id"), col("date").cast("string"), col("mean_value"))
      .as[(String, String, Option[Double])]
    ds.groupByKey(_._1).flatMapGroups { (zone: String, it: Iterator[(String, String, Option[Double])]) =>
      val rows = it.toArray.sortBy(_._2)
      val obs = rows.collect { case (_, d, Some(v)) if !v.isNaN => (LocalDate.parse(d), v) } // F4
      if (obs.isEmpty) Iterator.empty
      else {
        val d0 = obs.head._1
        val days = obs.map(o => java.time.temporal.ChronoUnit.DAYS.between(d0, o._1).toDouble)
        val (xt, preds) = GP.forecast(days, obs.map(_._2))
        val n = xt.length
        (n - 3 until n).iterator.map { i => // the 3 future horizons
          (zone,
           BigDecimal(preds(i)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
           d0.plusDays(xt(i).toLong).toString)
        }
      }
    }.toDF("extId", "mean", "date")
  }
}
