package graft.pipeline

import java.time.LocalDate

import graft.Session
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's scheduled entrypoint (`ForecastMain.py` + the
  * `data.json` config block, `data_extraction_v2.py:27-51`) as a typed
  * config + one `run()`: stages 1–5 chained over three point-sample
  * sources, outputs written as date-partitioned parquet (K3) plus the
  * forecast payload table (K5).
  *
  * Watermark semantics preserved: only composite periods ending on or
  * before `currentDate − dataLatencyDays` are processed
  * (`data_extraction_v2.py:441`, latency `v2:47`, README.md:45), so a
  * scheduled rerun picks up exactly the newly-completed periods —
  * the §2.9 incremental contract.
  *
  * @param ndviPath/smPath/preciPath parquet point samples (lon, lat, d, v)
  * @param zones (zone_id, WKT polygon) dimension — broadcastable
  */
final case class ForageConfig(
    ndviPath: String,
    smPath: String,
    preciPath: String,
    outputDir: String,
    anchor: LocalDate,
    currentDate: LocalDate,
    dataLatencyDays: Int = 2,
    bandwidth: Double = 0.5,
    zones: Seq[(String, String)] = Nil)

object ForageJob {

  /** Processable horizon: today minus the ingest latency buffer. */
  def watermark(cfg: ForageConfig): LocalDate =
    cfg.currentDate.minusDays(cfg.dataLatencyDays.toLong)

  /** Run stages 1–5; returns the written output paths by stage name.
    *
    * K8 failure contract (`data_extraction_v2.py:58-64`): any stage failure
    * truncates the combined handoff (so a scheduled downstream consumer
    * no-ops, `funcs.py:13-18`), drops the templated failure notice at
    * `<outputDir>/notification.eml`, and rethrows — the engine does not
    * emulate the reference's `sys.exit(0)` swallow. K9 (`BiomassAggregate
    * .py:161-164`): every-20th-date markers land in `<outputDir>/
    * Output_check` during the raster loop; a clean finish resets the
    * directory (`ForecastMain.py:123-127`), so surviving markers mean an
    * interrupted run and feed [[Progress.resume]]. */
  def run(spark: SparkSession, cfg: ForageConfig): Map[String, String] = {
    val combinedPath = s"${cfg.outputDir}/combined"
    var combined: Option[DataFrame] = None
    try {
      def src(path: String) = spark.read.parquet(path)
      val stage1 = Forage.stage1Combined(
        ndvi = src(cfg.ndviPath), sm = src(cfg.smPath), preci = src(cfg.preciPath),
        anchor = cfg.anchor, watermark = watermark(cfg))
      combined = Some(stage1)
      runStages(spark, cfg, stage1, combinedPath)
    } catch {
      case scala.util.control.NonFatal(e) =>
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Forage.combinedSchema)
        Sinks.truncateDownstream(empty, combinedPath)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"${cfg.outputDir}/notification.eml"),
          Notify.failureEmail("Biomass not updated", String.valueOf(e.getMessage),
            Notify.defaultTemplate, "forage-etl", Nil).getBytes("UTF-8"))
        throw e
    } finally {
      // stage 2 caches stage 1's output; the job releases it whether it
      // finished or failed, so nothing it computed outlives the run
      combined.foreach(_.unpersist(blocking = true))
    }
  }

  /** Each stage runs once: stages 1–3 are forced by their own parquet
    * writes, and every later reader (raster sink, stage 4, stage 5) reads
    * the written handoff back instead of re-running the lineage behind it. */
  private def runStages(spark: SparkSession, cfg: ForageConfig, combined: DataFrame,
                        combinedPath: String): Map[String, String] = {
    val scored = Forage.stage2Score(spark, combined, cfg.bandwidth)
    val cells = Forage.stage3Rasterize(scored)
    val out = scala.collection.mutable.Map[String, String]()

    combined.write.mode("overwrite").parquet(combinedPath) // ≙ combined.csv
    out += "combined" -> combinedPath

    val cellsPath = s"${cfg.outputDir}/cells"
    cells.write.mode("overwrite").partitionBy("date").parquet(cellsPath) // ≙ raster mosaic
    out += "cells" -> cellsPath

    // K2 + K7: the reference's physical stage-3 contract — one float32
    // GeoTIFF per date named biomass_YYYYMMDD.tif (the date regex IS the
    // mosaic's time index, `timeregex.properties`), plus the new-files
    // manifest the importer consumes (`import_biomass.py:38-42`). The
    // dense collect per date is the sanctioned sink boundary (§1.1: one
    // 300×260 raster). Filenames sort chronologically by construction.
    val layersDir = s"${cfg.outputDir}/layers"
    val layersFile = new java.io.File(layersDir)
    layersFile.mkdirs()
    // rerun hygiene: the parquet sinks overwrite; the raster directory must
    // too, or a date dropped from the processable set leaves a stale .tif
    // that the filename-date mosaic index would still serve
    val stale = layersFile.listFiles()
    if (stale != null) stale.filter(f => f.getName.startsWith("biomass_") &&
      f.getName.endsWith(".tif")).foreach(_.delete())
    val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    // read the just-written date-partitioned parquet back, NOT the cells
    // lineage: each per-date filter then prunes to one partition directory
    // instead of re-running stages 2-3 once per date, and stage 4 below
    // reads the same cells
    val cellsBack = spark.read.parquet(cellsPath)
    val dates = cellsBack.select("date").distinct().orderBy("date")
      .collect().map(_.getDate(0))
    val names = dates.map { d =>
      val dense = graft.grid.Grid.toDense(
        cellsBack.where(col("date") === d), graft.grid.Grid.Reference)
      val flat = new Array[Float](dense.length * dense(0).length)
      var i = 0
      dense.foreach(_.foreach { v => flat(i) = v.toFloat; i += 1 })
      val name = s"biomass_${d.toLocalDate.format(fmt)}.tif"
      graft.sources.GeoTiff.write(s"$layersDir/$name",
        graft.grid.Grid.Reference.nCols, graft.grid.Grid.Reference.nRows,
        flat, Some(graft.grid.Grid.Nodata))
      name
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$layersDir/new_files.txt"),
      names.mkString("\n").getBytes("UTF-8"))
    out += "layers" -> layersDir

    // K9: every-20th-date progress markers (bounded: |dates| / 20 files)
    val checkDir = s"${cfg.outputDir}/Output_check"
    locally {
      import spark.implicits._
      Progress.writeMarkers(
        Progress.markers(dates.map(_.toString).toSeq.toDF("d"), "d", 20), checkDir)
    }

    if (cfg.zones.nonEmpty) {
      // the zonal cascade reads its cells three times (base, centroid and
      // 3×3 legs); from the handoff that is three scans, not three GWR fits
      val zonal = Forage.stage4Zonal(spark, cellsBack, cfg.zones)
      val trendsPath = s"${cfg.outputDir}/trends"
      zonal.write.mode("overwrite").partitionBy("date").parquet(trendsPath) // ≙ woredas.h5
      out += "trends" -> trendsPath

      val fc = Forage.stage5Forecast(spark,
        spark.read.parquet(trendsPath).select("zone_id", "date", "mean_value"))
      val fcPath = s"${cfg.outputDir}/forecasts"
      fc.write.mode("overwrite").parquet(fcPath) // ≙ K5 payload table
      out += "forecasts" -> fcPath
    }

    // K8 success notice (`import_biomass.py:81-95`: the uploaded rasters as
    // list items) + K9 end-of-run reset (`ForecastMain.py:123-127`) — a
    // clean finish leaves an empty Output_check; surviving markers mean an
    // interrupted run.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${cfg.outputDir}/notification.eml"),
      Notify.successEmail("Biomass updated", names.toSeq,
        Notify.defaultTemplate, "forage-etl", Nil).getBytes("UTF-8"))
    Progress.reset(checkDir)
    out.toMap
  }

  /** Runnable form over the harness tables: derives the three sources from
    * the events table (the same derivation the e2e query uses) and runs the
    * configured pipeline. Args: `<sfDir> <outputDir>`. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outputDir) = args
    val spark = Session.build(Session.base(Session.cpus))
    val paths = runOnHarness(spark, sfDir, outputDir)
    paths.toSeq.sortBy(_._1).foreach { case (k, p) =>
      if (k == "layers") {
        val n = Option(new java.io.File(p).list()).map(_.count(_.endsWith(".tif"))).getOrElse(0)
        println(s"[forage-job] $k -> $p ($n rasters)")
      } else
        println(s"[forage-job] $k -> $p (${spark.read.parquet(p).count()} rows)")
    }
    spark.stop()
  }

  /** Harness wiring shared by main() and the specs: writes the three
    * event-derived sources under `outputDir` and returns the job's config. */
  def harnessConfig(spark: SparkSession, sfDir: String, outputDir: String): ForageConfig = {
    val e = Tables.events(spark, sfDir)
      .select((lit(36.0) + (col("user_id") % 15).cast("double") * 0.1).as("lon"),
              (lit(15.0) - floor(col("user_id") / 15).cast("double") * 0.1).as("lat"),
              to_date(col("ts")).as("d"), col("event_type"), col("value"))
    def write(et: String, scale: Double, name: String): String = {
      val p = s"$outputDir/src_$name"
      e.where(col("event_type") === et)
        .select(col("lon"), col("lat"), col("d"), (col("value") * scale).as("v"))
        .write.mode("overwrite").parquet(p)
      p
    }
    ForageConfig(
      ndviPath = write("view", 0.001, "ndvi"),
      smPath = write("click", 0.01, "sm"),
      preciPath = write("purchase", 0.1, "preci"),
      outputDir = outputDir,
      anchor = LocalDate.parse("2024-01-01"),
      currentDate = LocalDate.parse("2024-02-02"),
      zones = Seq(
        "Z_WEST" -> "POLYGON((35.95 15.05, 36.75 15.05, 36.75 13.9, 35.95 13.9, 35.95 15.05))",
        "Z_EAST" -> "POLYGON((36.75 15.05, 37.55 15.05, 37.55 13.9, 36.75 13.9, 36.75 15.05))"))
  }

  /** `run` over the sources and config of [[harnessConfig]]. */
  def runOnHarness(spark: SparkSession, sfDir: String, outputDir: String): Map[String, String] =
    run(spark, harnessConfig(spark, sfDir, outputDir))
}
