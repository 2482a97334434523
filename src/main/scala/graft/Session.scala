package graft

import org.apache.spark.sql.SparkSession

/** The one place the program builds its SparkSession. Every main picks one
  * of the two named conf sets below; `SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2"`
  * (a dev A/B lever) is applied last, so it can override any of them. */
object Session {

  /** Cores for `local[cpus]`: `SPARK_GRAFT_CPUS`, else the host's. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  def parseCpus(v: Option[String]): Int = v match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$s'"))
  }

  def parseExtraConf(v: String): Seq[(String, String)] =
    v.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, x) => k -> x
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF: segment '$kv' has no '='")
      }
    }

  /** The production job's session. Timestamps are UTC and `nanosAsLong`
    * lets TIMESTAMP(NANOS) parquet columns load (see `core.Tables.events`). */
  def base(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Shuffle blocks land here, on tmpfs, uncompressed. */
  val LocalDir = "/dev/shm/graft_spark_local"

  /** `base` plus what a session running the whole operator registry needs.
    * The mains that time the registry (Bench, Trace) and the ones that
    * check it (Verify, PlanAudit, Smoke) all use this set, so a number and
    * a check describe the same session. */
  def registry(cpus: Int): Seq[(String, String)] = base(cpus) ++ Seq(
    "spark.sql.adaptive.enabled" -> "true",
    // Tmpfs, uncompressed shuffle (the cluster analog is NVMe-local shuffle
    // storage): at bench SFs the LZ4 round-trip and the disk write are pure
    // fixed overhead (-9% on the full registry at sf0.1; sf1's shuffle
    // volume is well under the tmpfs bound). Not sized for XL SFs: at sf100
    // the uncompressed shuffle set reaches ~90 GB and the kernel OOM-kills
    // the JVM, so there set a disk local dir, LZ4 and more shuffle
    // partitions through SPARK_GRAFT_EXTRA_CONF (SCALING.md "row-bound
    // third decade").
    "spark.local.dir" -> LocalDir,
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    // The generated-class cache holds 100 entries by default; a registry of
    // hundreds of query shapes overflows it every pass and re-runs Janino
    // on every invocation (raw sf0.1 census 135.9 -> 101.6 s once sized to
    // hold the registry). Any driver running that many query shapes pays
    // the same tax. Static conf: it must be set before the first session.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // Cached plans are re-optimized by AQE and coalesced by bytes, not by
    // core count, so a memoized tiny frame is not cached at 32-64 near-empty
    // partitions whose task launches every downstream stage pays. The 2m
    // floor keeps big shuffles at bytes/parallelism (A/B'd against a 4m
    // floor and parallelismFirst=false: best full-registry total). Inert at
    // scale: bytes/parallelism >> 2MB on any real input, and a sub-2MB task
    // is launch overhead on any hardware. Frames whose cost is per-row
    // compute, not bytes, pin their own parallelism in their builders.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "2m")

  /** Builds (or returns the running) session with `confs`, then
    * `SPARK_GRAFT_EXTRA_CONF`. */
  def build(confs: Seq[(String, String)], logLevel: String = "WARN"): SparkSession = {
    val all = confs ++ sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(parseExtraConf)
    all.toMap.get("spark.local.dir").foreach(d => new java.io.File(d).mkdirs())
    val spark = all.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
