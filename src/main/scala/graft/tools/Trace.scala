package graft.tools

import graft.{Bench, PlanAudit, Q, Session, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Dev tool: looks at registry queries in the session Bench times them in
  * (`Session.registry`).
  *
  * Usage: `graft.tools.Trace <mode> <sfDir> [query ...]`, each query a name
  * or a regex over names. Every mode first makes one untimed warm pass: the
  * tables as Bench warms them, then each selected query once (its caches
  * kept, as in Bench's later passes) or, for `control`, one control run.
  *  - `time`: three runs per query, each timed by `Bench.timeRun`.
  *  - `split`: best of three, split into DataFrame construction, driver
  *    planning (analysis to physical plan) and execution.
  *  - `jobs`: one run per query with a listener: each Spark job's wall time
  *    and the driver gap before it (planning, broadcast builds, checkpoint
  *    bookkeeping: wall clock no stage accounts for), and per stage the
  *    task run, GC and row totals.
  *  - `plan`: the formatted physical plan and its exchange counts, counted
  *    as PlanAudit counts them.
  *  - `control`: samples of Bench's host-rate control job, to see whether
  *    it tracks the host or in-session JIT maturity (PLANS.md "control
  *    validity domain").
  */
object Trace {
  private val Usage = "usage: graft.tools.Trace time|split|jobs|plan|control <sfDir> [query ...]"
  private val ControlSamples = 20

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val Array(mode, sfDir) = args.take(2)
    val report: Option[(SparkSession, String, Seq[Q]) => Unit] = mode match {
      case "time" => Some(time)
      case "split" => Some(split)
      case "jobs" => Some(jobs)
      case "plan" => Some(plan)
      case "control" => None
      case _ => throw new IllegalArgumentException(Usage)
    }
    val queries = SparkEntry.registry.filter(q => args.drop(2).exists(q.name.matches))
    require(report.isEmpty || queries.nonEmpty,
      s"no registry query matches '${args.drop(2).mkString(" ")}'\n$Usage")
    val spark = Session.build(Session.registry(Session.cpus), logLevel = "ERROR")
    try {
      Bench.warmTables(spark, sfDir)
      report match {
        case Some(f) =>
          queries.foreach(q => Bench.timeRun(q, spark, sfDir).left.foreach(err =>
            System.err.println(s"[trace] warm pass: ${q.name} failed: $err")))
          f(spark, sfDir, queries)
        case None =>
          Bench.controlSec(spark)
          val rt = Runtime.getRuntime
          (1 to ControlSamples).foreach { i =>
            val s = Bench.controlSec(spark)
            println(f"[control] sample $i%2d $s%.3f s heap=${rt.totalMemory() >> 20}%d MB")
          }
      }
    } finally spark.stop()
  }

  /** Runs `body` for each query; a query that throws is reported, not fatal. */
  private def each(tag: String, queries: Seq[Q])(body: Q => Unit): Unit =
    queries.foreach { q =>
      try body(q)
      catch { case e: Throwable => println(s"[$tag] ${q.name} failed: ${e.getClass.getName}") }
    }

  private def time(spark: SparkSession, sfDir: String, queries: Seq[Q]): Unit =
    for (q <- queries; i <- 1 to 3) println(Bench.timeRun(q, spark, sfDir).fold(
      err => f"[time] ${q.name}%-36s run $i failed: $err",
      dt => f"[time] ${q.name}%-36s run $i $dt%.3f s"))

  private def split(spark: SparkSession, sfDir: String, queries: Seq[Q]): Unit =
    each("split", queries) { q =>
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val df = q.run(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        Seq(t3 - t0, t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
      }.minBy(_.head)
      println(f"[split] ${q.name}%-36s total=${best(0)}%6.3f construct=${best(1)}%6.3f " +
        f"plan=${best(2)}%6.3f exec=${best(3)}%6.3f")
    }

  private def plan(spark: SparkSession, sfDir: String, queries: Seq[Q]): Unit =
    each("plan", queries) { q =>
      val df = q.run(spark, sfDir)
      println(s"\n========== ${q.name} ==========")
      df.explain("formatted")
      val p = df.queryExecution.executedPlan
      println(s"[plan] ${q.name} exchanges=${PlanAudit.shuffles(p.toString)} " +
        s"runtime=${PlanAudit.runtimeShuffles(p)}")
    }

  private final case class StageAgg(var run: Long = 0, var gc: Long = 0, var tasks: Int = 0,
                                    var maxRun: Long = 0, var inRows: Long = 0,
                                    var outRows: Long = 0, var name: String = "")

  private def jobs(spark: SparkSession, sfDir: String, queries: Seq[Q]): Unit = {
    val jobTimes = mutable.LinkedHashMap.empty[Int, (Long, Long)] // id -> (start, end) ms
    val stageOfJob = mutable.Map.empty[Int, Seq[Int]]
    val stages = mutable.Map.empty[Int, StageAgg]
    // Callbacks run on the listener-bus thread. One lock covers every
    // mutation and the snapshot; the report prints from the snapshot, so
    // it never holds the bus up.
    val lock = new Object
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        jobTimes(e.jobId) = (e.time, 0L)
        stageOfJob(e.jobId) = e.stageIds
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        jobTimes.get(e.jobId).foreach(t => jobTimes(e.jobId) = (t._1, e.time))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val a = stages.getOrElseUpdate(e.stageId, StageAgg())
        val m = e.taskMetrics
        if (m != null) {
          a.run += m.executorRunTime; a.gc += m.jvmGCTime; a.tasks += 1
          a.maxRun = math.max(a.maxRun, m.executorRunTime)
          a.inRows += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          a.outRows += m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
        stages.getOrElseUpdate(e.stageInfo.stageId, StageAgg()).name = e.stageInfo.name.take(60)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    each("jobs", queries) { q =>
      lock.synchronized { jobTimes.clear(); stageOfJob.clear(); stages.clear() }
      val t0 = System.nanoTime()
      val rows = q.run(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      val (js, sj, st) = lock.synchronized {
        (jobTimes.toSeq, stageOfJob.toMap, stages.map { case (k, a) => k -> a.copy() }.toMap)
      }
      println(f"[jobs] ${q.name} wall=$wall%.3f s rows=$rows jobs=${js.size}")
      // gap_before is negative for overlapping jobs (concurrent broadcast
      // futures); that is real overlap, printed as it is
      js.zip(0L +: js.map(_._2._2)).foreach { case ((id, (s0, s1)), prevEnd) =>
        val gap = if (prevEnd == 0) 0.0 else (s0 - prevEnd) / 1e3
        val sids = sj.getOrElse(id, Nil)
        println(f"  job $id%3d dur=${(s1 - s0) / 1e3}%7.3f s gap_before=$gap%7.3f s stages=${sids.size}")
        for (sid <- sids; a <- st.get(sid) if a.tasks > 0)
          println(f"    stage $sid%3d run=${a.run / 1e3}%8.2f max=${a.maxRun / 1e3}%6.2f " +
            f"gc=${a.gc / 1e3}%5.2f tasks=${a.tasks}%3d inRows=${a.inRows}%9d " +
            f"outRows=${a.outRows}%9d  ${a.name}")
      }
    }
  }
}
