package perfbench

import java.io.File

import scala.collection.mutable

import graft.core.SessionMemo
import graft.grid.Grid
import graft.ml.GWR
import graft.pipeline.{Forage, ForageConfig, ForageJob}
import graft.sources.GeoTiff
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The forage workload: `ForageJob.run` rerun into one output directory, as
  * the scheduler does, by one closed-loop client. */
object ForageBench {

  /** The forage layers, in pipeline order. */
  val Layers = Seq("window", "ml.gwr", "grid", "sources.geotiff", "agg.zonal", "ml.gp")

  def run(o: Opts): Map[String, Any] = {
    val (spark, confs) = Sessions.build(o.workDir, Sessions.forageConfs(Host.nproc))
    val sessionS = (System.currentTimeMillis() - Host.processStartMs) / 1e3
    val gen = ForageInputs.read(o.inputs)

    // Untimed warm-up: one run on the workload's own inputs. A smaller run
    // leaves the JIT colder, and the first timed runs then drift downwards.
    val tw = System.nanoTime()
    ForageJob.run(spark, gen.cfg)
    val warmS = (System.nanoTime() - tw) / 1e9
    release(spark)
    val checker = new Checker(spark, gen)
    val base = Map(
      "workload" -> o.workload, "confs" -> confs.toMap,
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmS))
    val body =
      if (o.trace) traced(spark, o, gen, checker)
      else timed(spark, o, gen, checker)
    spark.stop()
    base ++ body + ("setup_s" -> (sessionS + warmS))
  }

  /** Drops what one run leaves cached, so the next run pays for its own work
    * as a fresh scheduled process would. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    SessionMemo.dropSession(spark)
  }

  private def broken(cfg: ForageConfig): ForageConfig =
    cfg.copy(ndviPath = cfg.ndviPath + "_missing")

  /** End-to-end run: `ForageJob.run` repeatedly for `seconds`. */
  private def timed(spark: SparkSession, o: Opts, gen: ForageInputs,
                    checker: Checker): Map[String, Any] = {
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val cacheMb = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    while (i < Opts.MinTimed || System.nanoTime() < deadline || (o.injectFailure && i < 3)) {
      // the failure probe breaks the second run's input path
      val cfg = if (o.injectFailure && i == 1) broken(gen.cfg) else gen.cfg
      val r = Outcome.timed(s"forage_job_$i")(ForageJob.run(spark, cfg))(checker.check())
      outcomes += r
      if (r.seconds.isDefined) cacheMb += Host.cachedMb(spark)
      release(spark)
      i += 1
    }
    val times = outcomes.flatMap(_.seconds).toSeq
    Map(
      "outcomes" -> outcomes.toSeq,
      "op_seconds" -> times,
      "retained_cache_mb" -> cacheMb.toSeq,
      "peak_rss_mb" -> Host.peakRssMb)
  }

  /** Traced run: each stage's public function called in order and forced by
    * writing its handoff, then whole traced and untraced `ForageJob.run`s. */
  private def traced(spark: SparkSession, o: Opts, gen: ForageInputs,
                     checker: Checker): Map[String, Any] = {
    val cfg = gen.cfg
    val layerDir = cfg.outputDir + "_layers"
    val perLayer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = perLayer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val untracedS = mutable.ArrayBuffer.empty[Double]
    val overheads = mutable.ArrayBuffer.empty[Double]
    val tracer = new Tracer(spark)
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    var fitsPerS = 0.0
    while (i == 0 || System.nanoTime() < deadline) {
      tracer.reset()
      val rows = layered(spark, cfg, layerDir, tracer, s"pass$i")
      release(spark)
      Layers.foreach { l =>
        val c = tracer.counters(l)
        add(s"$l.wall_s", tracer.wallOf(l).last)
        add(s"$l.busy_s", c.busyMs / 1e3)
        add(s"$l.shuffle_mb", c.shuffleBytes / 1048576.0)
        add(s"$l.spill_mb", c.spillBytes / 1048576.0)
        add(s"$l.rows_out", rows.getOrElse(l, c.rowsWritten).toDouble)
      }
      if (i == 0) fitsPerS = gwrFitsPerSecond(spark, s"$layerDir/combined", cfg.bandwidth)

      // whole job, traced between two untraced runs, so the JIT's drift from
      // one run to the next cancels out of the comparison
      def untraced(tag: String): Outcome = {
        tracer.enabled(false)
        val u = Outcome.timed(s"forage_job_untraced_$i$tag")(ForageJob.run(spark, cfg))(checker.check())
        release(spark)
        tracer.enabled(true)
        u
      }
      val u0 = untraced("a")
      val t = Outcome.timed(s"forage_job_traced_$i")(
        tracer.span("pipeline", "forage")(ForageJob.run(spark, cfg)))(checker.check())
      // what the job leaves cached once `run` has returned
      add("cache.retained_mb", Host.cachedMb(spark))
      release(spark)
      val u1 = untraced("b")
      outcomes += u0 += t += u1
      for (a <- u0.seconds; b <- u1.seconds; x <- t.seconds) overheads += x / ((a + b) / 2) - 1.0
      untracedS ++= u0.seconds ++= u1.seconds
      val p = tracer.counters("pipeline")
      add("pipeline.jobs", p.jobs.toDouble)
      add("pipeline.tasks", p.tasks.toDouble)
      add("pipeline.busy_s", p.busyMs / 1e3)
      val layerBusy = Layers.map(l => tracer.counters(l).busyMs).sum
      add("pipeline.useful_ratio", if (p.busyMs > 0) layerBusy.toDouble / p.busyMs else 0.0)
      i += 1
    }
    tracer.detach()
    val med = perLayer.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
    val overhead = if (overheads.isEmpty) 0.0 else Stats.median(overheads.toSeq)
    Map(
      "outcomes" -> outcomes.toSeq,
      "op_seconds" -> untracedS.toSeq,
      "layer_metrics" -> (med ++ Map(
        "ml.gwr.fits_per_s" -> fitsPerS,
        "trace.overhead_frac" -> overhead)),
      "layer_samples" -> i,
      "spans" -> tracer.spanList,
      "peak_rss_mb" -> Host.peakRssMb)
  }

  /** Stages 1–5 through their public functions, each forced by writing its
    * handoff the way `ForageJob` writes it; the next stage reads the
    * handoff back. Returns output counts that Spark's listener cannot see. */
  private def layered(spark: SparkSession, cfg: ForageConfig, dir: String,
                      tracer: Tracer, parent: String): Map[String, Long] = {
    def src(p: String) = spark.read.parquet(p)
    tracer.span("window", parent) {
      Forage.stage1Combined(src(cfg.ndviPath), src(cfg.smPath), src(cfg.preciPath),
        cfg.anchor, ForageJob.watermark(cfg))
        .write.mode("overwrite").parquet(s"$dir/combined")
    }
    tracer.span("ml.gwr", parent) {
      Forage.stage2Score(spark, src(s"$dir/combined"), cfg.bandwidth)
        .write.mode("overwrite").parquet(s"$dir/scored")
    }
    tracer.span("grid", parent) {
      Forage.stage3Rasterize(src(s"$dir/scored"))
        .write.mode("overwrite").partitionBy("date").parquet(s"$dir/cells")
    }
    val rasters = tracer.span("sources.geotiff", parent) {
      val cells = src(s"$dir/cells")
      val layers = new File(s"$dir/layers")
      layers.mkdirs()
      val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
      val dates = cells.select("date").distinct().orderBy("date").collect().map(_.getDate(0))
      dates.foreach { d =>
        val dense = Grid.toDense(cells.where(col("date") === d), Grid.Reference)
        val flat = dense.flatten.map(_.toFloat)
        GeoTiff.write(s"${layers.getPath}/biomass_${d.toLocalDate.format(fmt)}.tif",
          Grid.Reference.nCols, Grid.Reference.nRows, flat, Some(Grid.Nodata))
      }
      dates.length.toLong
    }
    tracer.span("agg.zonal", parent) {
      Forage.stage4Zonal(spark, src(s"$dir/cells"), cfg.zones)
        .write.mode("overwrite").partitionBy("date").parquet(s"$dir/trends")
    }
    tracer.span("ml.gp", parent) {
      Forage.stage5Forecast(spark, src(s"$dir/trends").select("zone_id", "date", "mean_value"))
        .write.mode("overwrite").parquet(s"$dir/forecasts")
    }
    Map("sources.geotiff" -> rasters)
  }

  /** `GWR.fitAt` called directly on the calling thread, outside Spark, over the
    * workload's coordinates and the calibration set `stage2Score` builds
    * (the whole combined table up to its 20k-row cap). */
  private def gwrFitsPerSecond(spark: SparkSession, combinedPath: String, bandwidth: Double): Double = {
    import spark.implicits._
    val clean = spark.read.parquet(combinedPath).na.fill(0.0, Seq("ndvi", "sm", "preci"))
    val n = clean.count()
    val cap = 20000L
    val calibSrc =
      if (n <= cap) clean
      else clean.where(pmod(xxhash64(col("lon"), col("lat"), col("date")), lit((n + cap - 1) / cap)) === 0)
    val calib = calibSrc.select("lon", "lat", "sm", "preci", "ndvi")
      .as[(Double, Double, Double, Double, Double)].collect()
      .map(r => GWR.Obs(r._1, r._2, Array(r._3, r._4), r._5))
    val coords = clean.select("lon", "lat").distinct().orderBy("lon", "lat")
      .as[(Double, Double)].take(1000)
    val t0 = System.nanoTime()
    coords.foreach { case (x, y) => GWR.fitAt(x, y, calib, bandwidth) }
    coords.length / ((System.nanoTime() - t0) / 1e9)
  }

  /** Output checks of one `ForageJob.run`: a raster per processable date,
    * the expected combined row count, three forecast rows per zone with
    * data, and outputs identical to the first checked run's. */
  final class Checker(spark: SparkSession, gen: ForageInputs) {
    private var firstDigest: Option[String] = None
    private val dir = gen.cfg.outputDir

    def check(): Option[String] = {
      val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
      val want = gen.expectedDates.map(d => s"biomass_${d.format(fmt)}.tif").sorted
      val tifs = Option(new File(s"$dir/layers").list()).getOrElse(Array.empty[String])
        .filter(n => n.startsWith("biomass_") && n.endsWith(".tif")).sorted.toSeq
      val combined = spark.read.parquet(s"$dir/combined")
      val nCombined = combined.count()
      val trends = spark.read.parquet(s"$dir/trends")
      val forecasts = spark.read.parquet(s"$dir/forecasts")
      val withData = trends.where(col("mean_value").isNotNull && !isnan(col("mean_value")))
        .select("zone_id").distinct().as(spark.implicits.newStringEncoder).collect().toSet
      val perZone = forecasts.groupBy("extId").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (tifs != want) Some(s"rasters ${tifs.size} != expected ${want.size}")
      else if (nCombined != gen.expectedCombinedRows)
        Some(s"combined rows $nCombined != expected ${gen.expectedCombinedRows}")
      else if (withData.isEmpty) Some("no zone has data")
      else if (perZone.keySet != withData || perZone.values.exists(_ != 3))
        Some(s"forecasts cover ${perZone.size} zones, ${withData.size} have data")
      else {
        val d = digest(combined, trends, forecasts, tifs)
        if (firstDigest.isEmpty) firstDigest = Some(d)
        if (firstDigest.contains(d)) None else Some(s"output digest $d != first run's ${firstDigest.get}")
      }
    }

    private def digest(combined: DataFrame, trends: DataFrame, forecasts: DataFrame,
                       tifs: Seq[String]): String = {
      // Spark may sum doubles in another order from one run to the next, so
      // a mean can differ in its last bit (2.2572 vs 2.2572000000000005);
      // doubles are hashed rounded to 9 decimals.
      def rows(df: DataFrame): String = {
        val cols = df.schema.fields.sortBy(_.name).map { f =>
          f.dataType match {
            case DoubleType | FloatType => round(col(f.name), 9)
            case _ => col(f.name)
          }
        }
        val r = df.select(count(lit(1)),
          sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(1000000007L)))).head()
        s"${r.getLong(0)}/${if (r.isNullAt(1)) 0 else r.getLong(1)}"
      }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      tifs.foreach(n => md.update(java.nio.file.Files.readAllBytes(new File(s"$dir/layers/$n").toPath)))
      val tifHash = md.digest().take(8).map(b => f"$b%02x").mkString
      Seq(rows(combined), rows(trends), rows(forecasts), tifHash).mkString(",")
    }
  }
}
