package graft

import java.time.LocalDate

import graft.grid.{Geometry, Grid}
import graft.pipeline.Forage
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline composition over reference-shaped fixtures
  * (FIXTURES.md B2/B5/B6/B10/B11). */
class ForageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("stage 1: composites + quantized 3-way join (B2→B3 shape)") {
    // two grid points, daily samples across one complete 16-day period
    val days = (0 until 20).map(i => d(LocalDate.parse("2026-01-18").plusDays(i.toLong).toString))
    def src(base: Double) = days.zipWithIndex.flatMap { case (dt, i) =>
      Seq((39.4101, 3.2708, dt, base + i * 0.01), (39.4451, 3.2611, dt, base + 1 + i * 0.01))
    }.toDF("lon", "lat", "d", "v")
    val combined = Forage.stage1Combined(src(0.2), src(0.05), src(0.0),
      LocalDate.parse("2026-01-18"), LocalDate.parse("2026-02-02"))
    val rows = combined.orderBy("lon").collect()
    // only the complete period [2026-01-18 .. 2026-02-02] is emitted (F6)
    assert(rows.length == 2)
    assert(rows.forall(_.getLong(2) == 20260202L)) // P3 int date, period end
    assert(rows.map(_.getDouble(0)).toSeq == Seq(39.41, 39.445)) // P4 quantized
    // A1 mean over the 16 in-period days (indices 0..15): 0.2 + 0.075
    assert(math.abs(rows(0).getDouble(3) - 0.275) < 1e-9)
    // A3 sum: 16 days of (0.0 + i*0.01)
    assert(math.abs(rows(0).getDouble(5) - (0 until 16).map(_ * 0.01).sum) < 1e-9)
  }

  test("stage 1: all-null precipitation period sums to 0.0 (xarray skipna)") {
    val days = (0 until 16).map(i => d(LocalDate.parse("2024-03-01").plusDays(i.toLong).toString))
    val base = days.map(dt => (36.1, 1.1, dt, 0.5)).toDF("lon", "lat", "d", "v")
    val preciNull = days.map(dt => (36.1, 1.1, dt, null.asInstanceOf[java.lang.Double]))
      .toDF("lon", "lat", "d", "v")
    val combined = Forage.stage1Combined(base, base, preciNull,
      LocalDate.parse("2024-03-01"), LocalDate.parse("2024-03-16"))
    val r = combined.collect()
    assert(r.length == 1 && r(0).getDouble(5) == 0.0)
  }

  test("stage 3: B10 rasterize fixture — 3 points, one date partition") {
    val results = Seq(
      (39.41, 3.271, 20240101L, 1.79040380360565),
      (39.445, 3.261, 20240101L, 1.78896823494216),
      (39.492, 3.254, 20240101L, 1.79198639098456)
    ).toDF("lon", "lat", "date", "biom")
    val cells = Forage.stage3Rasterize(results)
    val out = cells.collect()
    // points 1 and 2 share cell (234,68) at 0.05° — burn collision resolves
    // deterministically (min tie wins; rasterio would last-win the same cell)
    assert(out.length == 2)
    assert(cells.select("date").distinct().count() == 1) // exactly one raster date
    // affine: lon 39.41 → col floor((39.41-36)/0.05)=68; lat 3.271 → row floor((15-3.271)/0.05)=234
    val r0 = cells.where(col("col") === 68).collect()(0)
    assert(r0.getInt(1) == 234)
    assert(math.abs(r0.getDouble(3) - 1.79) < 1e-9) // P7 round(biom, 2)
  }

  test("stage 3: a collided cell burns the same point under any row order or partitioning") {
    // both points fall in cell (234, 68); only their values differ
    val a = (39.41, 3.271, 20240101L, 1.5)
    val b = (39.445, 3.261, 20240101L, 2.5)
    def burned(rows: Seq[(Double, Double, Long, Double)], parts: Int): Seq[Double] = {
      val results = rows.toDF("lon", "lat", "date", "biom")
      Forage.stage3Rasterize(if (parts == 1) results.coalesce(1) else results.repartition(parts))
        .collect().map(_.getDouble(3)).toSeq
    }
    val runs = for (rows <- Seq(Seq(a, b), Seq(b, a)); parts <- Seq(1, 2)) yield burned(rows, parts)
    // the lower quantized-coordinate key (a's lon) wins every time
    assert(runs.forall(_ == Seq(1.5)), s"burned values by order/partitioning: $runs")
  }

  test("stage 3 + P11: non-positive biomass burns as nodata") {
    val results = Seq((39.41, 3.271, 20240101L, 0.0)).toDF("lon", "lat", "date", "biom")
    val out = Forage.stage3Rasterize(results).collect()
    assert(out(0).getDouble(3) == Grid.Nodata)
  }

  test("stage 4: zonal cascade with strict/touched/fallback provenance") {
    // grid 300x260; zone A = a rectangle covering cells rows 0-1, cols 0-1
    // centers; zone B = a sliver with no cell center (forces fallback legs)
    val zones = Seq(
      "ZA" -> "POLYGON((36.0 15.0, 36.1 15.0, 36.1 14.9, 36.0 14.9, 36.0 15.0))",
      "ZB" -> "POLYGON((36.201 14.999, 36.209 14.999, 36.209 14.991, 36.201 14.991, 36.201 14.999))")
    val cells = Seq(
      (d("2024-01-01"), 0, 0, 10.0), (d("2024-01-01"), 0, 1, 20.0),
      (d("2024-01-01"), 1, 0, 30.0), (d("2024-01-01"), 1, 1, 40.0),
      (d("2024-01-01"), 0, 4, 99.0) // the cell ZB's sliver sits in
    ).toDF("date", "row", "col", "value")
    val stats = Forage.stage4Zonal(spark, cells, zones)
      .orderBy("zone_id").collect()
    assert(stats.length == 2)
    val za = stats(0)
    assert(za.getString(0) == "ZA" && math.abs(za.getDouble(2) - 25.0) < 1e-9)
    assert(!za.getBoolean(5) && !za.getBoolean(6)) // strict leg, no retry
    val zb = stats(1)
    assert(zb.getString(0) == "ZB")
    assert(math.abs(zb.getDouble(2) - 99.0) < 1e-9) // touched/buffered leg
  }

  test("stage 5: GP forecast payload shape (K5) + F7 empty guard upstream") {
    val series = (0 until 10).map { i =>
      ("ET020101", d(LocalDate.parse("2024-01-01").plusDays(16L * i).toString),
       Some(1.0 + 0.1 * i): Option[Double])
    }.toDF("zone_id", "date", "mean_value")
    val fc = Forage.stage5Forecast(spark, series).orderBy("date").collect()
    assert(fc.length == 3) // +16/+32/+48
    assert(fc.forall(_.getString(0) == "ET020101"))
    assert(fc.map(_.getString(2)).toSeq ==
      Seq("2024-06-09", "2024-06-25", "2024-07-11")) // last obs 2024-05-24 +16/32/48
    fc.foreach(r => assert(!r.getDouble(1).isNaN))
    // F7: empty input → empty output, schema intact
    val empty = Forage.stage2Score(spark,
      Seq.empty[(Double, Double, Double, Double, Double)]
        .toDF("lon", "lat", "ndvi", "sm", "preci"))
    assert(empty.isEmpty && empty.columns.contains("biom"))
  }

  test("grid round-trip: burn → dense → scan with sentinel masking (S8/K2)") {
    val pts = Seq((d("2024-01-01"), 36.02, 14.98, 5.0, 1L), (d("2024-01-01"), 36.07, 14.98, -2.0, 2L))
      .toDF("date", "lon", "lat", "value", "tie")
    val cells = Grid.burn(pts, Grid.Reference)
    val dense = Grid.toDense(cells, Grid.Reference)
    assert(dense(0)(0) == 5.0 && dense(0)(1) == Grid.Nodata)
    val back = Grid.fromDense(spark, d("2024-01-01"), Array(Array(5.0, Grid.Nodata, -8888.0)))
    val vals = back.orderBy("col").collect().map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    assert(vals.toSeq == Seq(Some(5.0), None, None)) // sentinels → NULL
  }

  test("WKT parsing + point-in-polygon with hole") {
    val p = Geometry.parseWkt(
      "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(p.contains(1, 1) && !p.contains(5, 5) && !p.contains(11, 5))
  }
}
