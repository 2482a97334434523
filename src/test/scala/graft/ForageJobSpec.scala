package graft

import java.nio.file.Files
import graft.pipeline.{Forage, ForageConfig, ForageJob}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The configured 5-stage job (the reference's scheduled entrypoint):
  * runs end-to-end on harness data, writes date-partitioned sinks, and
  * respects the latency watermark. */
class ForageJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("ForageJob runs stages 1-5 and writes partitioned outputs") {
    val out = Files.createTempDirectory("graft_job").toFile.getAbsolutePath
    val paths = ForageJob.runOnHarness(spark, "/root/testdata/sf0.001", out)
    assert(paths.keySet == Set("combined", "cells", "layers", "trends", "forecasts"))

    val combined = spark.read.parquet(paths("combined"))
    assert(combined.count() > 0)
    // watermark: currentDate 2024-02-02 − 2 days latency ⇒ only the period
    // ending 2024-01-16 is complete; the 02-01 period must be withheld
    assert(combined.select("date").distinct().collect().map(_.getLong(0)).toSet == Set(20240116L))

    // K3 shape: the cell mosaic and zone trends are date-partitioned
    assert(new java.io.File(paths("cells")).listFiles().exists(_.getName.startsWith("date=")))
    assert(new java.io.File(paths("trends")).listFiles().exists(_.getName.startsWith("date=")))

    // K2 + K7: one biomass_YYYYMMDD.tif per processed date plus the
    // new-files manifest, decodable by our own reader at reference shape
    val layers = new java.io.File(paths("layers"))
    val tifs = layers.list().filter(_.endsWith(".tif")).sorted
    assert(tifs.toSeq == Seq("biomass_20240116.tif"))
    val rast = graft.sources.GeoTiff.read(s"${paths("layers")}/biomass_20240116.tif")
    assert(rast.width == 260 && rast.height == 300 && rast.nodata.contains(-99999.0))
    assert(rast.data.exists(v => v != -99999.0f)) // real values burned
    val manifest = new String(Files.readAllBytes(
      new java.io.File(layers, "new_files.txt").toPath), "UTF-8")
    assert(manifest.trim == "biomass_20240116.tif")

    // K5 payload: 3 forecast horizons per zone, 4dp means
    val fc = spark.read.parquet(paths("forecasts"))
    val perZone = fc.groupBy("extId").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perZone.values.forall(_ == 3) && perZone.keySet == Set("Z_WEST", "Z_EAST"))
    assert(fc.columns.toSet == Set("extId", "mean", "date"))

    // K8 success notice lists the uploaded rasters; K9: a clean finish
    // leaves Output_check present but empty (ForecastMain.py:123-127)
    val eml = new String(Files.readAllBytes(
      new java.io.File(out, "notification.eml").toPath), "UTF-8")
    assert(eml.contains("Notice: Biomass Data Updated Successfully:"))
    assert(eml.contains("<li>biomass_20240116.tif</li>"))
    val check = new java.io.File(out, "Output_check")
    assert(check.isDirectory && check.list().isEmpty)
  }

  private val harnessSf = "/root/testdata/sf0.001"

  /** Stage 1's frame for `cfg`, built anew: the same plan `run` builds, so
    * its storage level shows whether the job left that plan cached. */
  private def stage1(cfg: ForageConfig) = {
    def src(p: String) = spark.read.parquet(p)
    Forage.stage1Combined(src(cfg.ndviPath), src(cfg.smPath), src(cfg.preciPath),
      cfg.anchor, ForageJob.watermark(cfg))
  }

  test("stage 4 reads the written cells; the job releases what it cached") {
    val out = Files.createTempDirectory("graft_job_handoff").toFile.getAbsolutePath
    val cfg = ForageJob.harnessConfig(spark, harnessSf, out)
    val paths = ForageJob.run(spark, cfg)

    // the handoff row counts of the harness run
    val counts = Seq("combined", "cells", "trends", "forecasts")
      .map(k => k -> spark.read.parquet(paths(k)).count()).toMap
    assert(counts == Map("combined" -> 15L, "cells" -> 15L, "trends" -> 2L, "forecasts" -> 6L))

    // the written trends are stage 4 over the written cells
    def rows(df: DataFrame) = df.orderBy("zone_id", "date").collect()
      .map(r => r.getValuesMap[Any](df.columns.toSeq)).toSeq
    val trends = spark.read.parquet(paths("trends"))
    val written = rows(trends)
    val fromCells = rows(Forage.stage4Zonal(spark, spark.read.parquet(paths("cells")), cfg.zones)
      .select(trends.columns.toSeq.map(col): _*))
    assert(written.length == fromCells.length)
    written.zip(fromCells).foreach { case (w, c) =>
      // a zonal mean may differ in its last bit with Spark's summation order
      assert(math.abs(w("mean_value").asInstanceOf[Double] - c("mean_value").asInstanceOf[Double]) < 1e-9)
      assert((w - "mean_value") == (c - "mean_value"), s"trend row $w != $c")
    }

    // stage 2 cached stage 1's output; run released it
    assert(stage1(cfg).storageLevel == StorageLevel.NONE)
  }

  test("a failure after stage 2 still releases the job's cache") {
    val out = Files.createTempDirectory("graft_job_fail_late").toFile.getAbsolutePath
    // stages 1-3 succeed; stage 4 cannot parse the zone
    val cfg = ForageJob.harnessConfig(spark, harnessSf, out)
      .copy(zones = Seq("Z_BAD" -> "POLYGON((not a polygon))"))
    intercept[NumberFormatException] { ForageJob.run(spark, cfg) }
    val eml = new String(Files.readAllBytes(
      new java.io.File(out, "notification.eml").toPath), "UTF-8")
    assert(eml.contains("Notice: Biomass Data Failed to Update:"))
    assert(stage1(cfg).storageLevel == StorageLevel.NONE)
  }

  test("K8 failure contract: truncate downstream, drop the failure notice, rethrow") {
    val out = Files.createTempDirectory("graft_job_fail").toFile.getAbsolutePath
    val cfg = graft.pipeline.ForageConfig(
      ndviPath = s"$out/does_not_exist",
      smPath = s"$out/does_not_exist",
      preciPath = s"$out/does_not_exist",
      outputDir = out,
      anchor = java.time.LocalDate.parse("2024-01-01"),
      currentDate = java.time.LocalDate.parse("2024-02-02"))
    intercept[Exception] { ForageJob.run(spark, cfg) } // rethrown, not swallowed
    val eml = new String(Files.readAllBytes(
      new java.io.File(out, "notification.eml").toPath), "UTF-8")
    assert(eml.contains("Notice: Biomass Data Failed to Update:"))
    assert(eml.contains("color: red;"))
    // the downstream handoff is truncated: schema-only CSV, zero rows
    val truncated = spark.read.option("header", "true").csv(s"$out/combined")
    assert(truncated.columns.toSeq ==
      Seq("lon", "lat", "date", "ndvi", "sm", "preci") && truncated.count() == 0)
  }
}
