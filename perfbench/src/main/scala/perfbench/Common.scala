package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark process (see run.py, which launches it). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    workDir: String,
    resultFile: String,
    dataDir: String,
    inputs: String,
    injectFailure: Boolean)

object Opts {
  /** Timed operations (forage runs, registry passes) a run makes at least;
    * it goes on past `--seconds` until it has them. Each operation runs
    * faster than the one before as the JIT warms, so a median over a count
    * that follows the host's speed jumps from run to run. */
  val MinTimed = 2

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      workload = m("workload"),
      seed = m("seed").toLong,
      seconds = m("seconds").toDouble,
      trace = m("trace") == "1",
      workDir = m("work"),
      resultFile = m("result"),
      dataDir = m("data"),
      inputs = m.getOrElse("inputs", ""),
      injectFailure = m.getOrElse("inject-failure", "0") == "1")
  }
}

/** Minimal JSON writer for the result file: maps, sequences, numbers,
  * strings, booleans. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Outcome => apply(Map("op" -> o.op, "seconds" -> o.seconds, "error" -> o.error))
    case s: Tracer.Span =>
      apply(Map("name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), apply(v))
}

/** Order statistics over timing samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Facts about the process and host that every result records. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def xmxMb: Long = Runtime.getRuntime.maxMemory() / (1024 * 1024)

  /** The JVM's start time, so set-up is measured from process start. */
  def processStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def statusKb(field: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** High-water resident set size of this process. */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  /** Spark storage memory still held by cached blocks. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum /
      (1024.0 * 1024.0)
}

/** Spark session set-up. Each workload uses the confs of the program's own entry
  * point for that surface; the only override is where Spark keeps its local
  * files, which must stay inside the benchmark's work directory. */
object Sessions {

  /** `graft.pipeline.ForageJob.main`'s confs. */
  def forageConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** `graft.Bench`'s confs. */
  def registryConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "2m",
    "spark.ui.enabled" -> "false")

  def build(workDir: String, confs: Seq[(String, String)]): (SparkSession, Seq[(String, String)]) = {
    val local = new File(workDir, "spark-local")
    local.mkdirs()
    val all = Seq("spark.master" -> s"local[${Host.nproc}]") ++ confs ++ Seq(
      "spark.local.dir" -> local.getAbsolutePath,
      "spark.sql.warehouse.dir" -> new File(workDir, "spark-warehouse").getAbsolutePath)
    val b = all.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, all)
  }
}

/** Task metrics summed per job group, plus spans kept in memory.
  *
  * A span is (name, start, end, parent). Work inside a span runs under a job
  * group named after the span, so the listener can attribute every task to
  * the layer that caused it. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer.Span

  final class Agg {
    var jobs = 0L
    var tasks = 0L
    var busyMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var rowsWritten = 0L
  }

  private val lock = new Object
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val aggs = mutable.Map.empty[String, Agg]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var attached = false
  enabled(true)

  /** Attaches or detaches the listener; detached, the run is untraced. */
  def enabled(on: Boolean): Unit = if (on != attached) {
    if (on) spark.sparkContext.addSparkListener(this)
    else {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(this)
    }
    attached = on
  }

  private def agg(g: String): Agg = aggs.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      e.stageIds.foreach(s => groupOfStage(s) = g)
      agg(g).jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    groupOfStage.get(e.stageId).foreach { g =>
      val a = agg(g)
      a.tasks += 1
      if (m != null) {
        a.busyMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        a.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Run `body` as span `name` under parent `parent`; its Spark jobs are
    * grouped under the span name. Returns the body's value. */
  def span[T](name: String, parent: String = "")(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(name, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
      lock.synchronized { spans += Span(name, parent, t0, t1) }
    }
  }

  /** Counters for one group, after every pending event is delivered. */
  def counters(group: String): Agg = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    lock.synchronized(aggs.getOrElse(group, new Agg))
  }

  def reset(): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    lock.synchronized { groupOfStage.clear(); aggs.clear() }
  }

  def spanList: Seq[Span] = lock.synchronized(spans.toSeq)

  def wallOf(name: String): Seq[Double] =
    spanList.filter(_.name == name).map(s => (s.endMs - s.startMs) / 1e3)


  def detach(): Unit = enabled(false)
}

object Tracer {
  final case class Span(name: String, parent: String, startMs: Long, endMs: Long)
}

/** One operation's outcome: its wall time when it succeeded and passed its
  * checks, or the reason it failed. A failed operation is never timed. */
final case class Outcome(op: String, seconds: Option[Double], error: Option[String])

object Outcome {
  /** Times `body`; any exception, or a check `body` reports as failed,
    * makes the outcome a failure. The check's own cost is excluded. */
  def timed(op: String)(body: => Unit)(check: => Option[String]): Outcome = {
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case scala.util.control.NonFatal(e) => Some(describe(e)) }
    val dt = (System.nanoTime() - t0) / 1e9
    val failure = err.orElse {
      try check catch { case scala.util.control.NonFatal(e) => Some("check: " + describe(e)) }
    }
    Outcome(op, if (failure.isEmpty) Some(dt) else None, failure)
  }

  def describe(e: Throwable): String =
    e.getClass.getName + ": " + String.valueOf(e.getMessage).linesIterator.take(2).mkString(" ")
}
