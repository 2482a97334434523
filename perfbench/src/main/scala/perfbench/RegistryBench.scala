package perfbench

import scala.collection.mutable

import graft.Q
import graft.core.SessionMemo
import graft.queries._
import org.apache.spark.sql.SparkSession

/** The registry workload: the operator-library queries listed in
  * `registry/queries.txt`, once per pass in registry order, each forced with
  * `count()`, over the read-only harness tables kept beside it. One
  * closed-loop client; a query starts when the previous one has returned. */
object RegistryBench {

  /** The `*Queries.all` modules, in `SparkEntry.registry` order, by the name
    * their per-layer metrics carry. `StreamQueries` is left out: its drains
    * write their checkpoints to a fixed directory outside the working
    * directory, which this benchmark may not touch. */
  val Modules: Seq[(String, Seq[Q])] = Seq(
    "core" -> CoreQueries.all,
    "join" -> JoinQueries.all,
    "agg" -> AggQueries.all,
    "window" -> WindowQueries.all,
    "ml" -> MlQueries.all,
    "text" -> TextQueries.all,
    "dedup" -> DedupQueries.all,
    "corpus" -> CorpusQueries.all,
    "ann" -> AnnQueries.all,
    "multimodal" -> MultimodalQueries.all,
    "session" -> SessionQueries.all,
    "analytic" -> AnalyticQueries.all,
    "pipeline" -> PipelineQueries.all,
    "layout" -> LayoutQueries.all)

  /** A query that always throws: the deliberate failure of the benchmark's
    * own test, placed mid-pass. */
  val Broken: Q = Q("perfbench_broken_probe", Nil,
    (_, _) => throw new IllegalStateException("deliberately broken query"))

  private def lines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.takeWhile(_ != '#').trim)
      .filter(_.nonEmpty).toSeq

  /** Expected row count per query, kept beside the tables. */
  def expectedCounts(dataDir: String): Map[String, Long] =
    lines(s"$dataDir/counts.tsv").map { l => val f = l.split("\t"); f(0) -> f(1).toLong }.toMap

  /** The listed queries with their module, in registry order. */
  def selected(dataDir: String): Seq[(String, Q)] = {
    val wanted = lines(s"$dataDir/queries.txt").toSet
    val all = Modules.flatMap { case (m, qs) => qs.map(m -> _) }
    val unknown = wanted -- all.map(_._2.name)
    require(unknown.isEmpty, s"queries.txt names unknown queries: ${unknown.mkString(", ")}")
    all.filter { case (_, q) => wanted(q.name) }
  }

  def run(o: Opts): Map[String, Any] = {
    val (spark, confs) = Sessions.build(o.workDir, Sessions.registryConfs(Host.nproc))
    val sessionS = (System.currentTimeMillis() - Host.processStartMs) / 1e3
    val tables = s"${o.dataDir}/tables"
    val expected = expectedCounts(o.dataDir)
    val queries = {
      val all = selected(o.dataDir)
      if (!o.injectFailure) all
      else { val (a, b) = all.splitAt(all.size / 2); (a :+ (a.last._1 -> Broken)) ++ b }
    }

    // Untimed warm-up, as `graft.Bench` does it: every query once, caches
    // cleared after each. Warm-up errors are not results; they are listed.
    val tw = System.nanoTime()
    val warmErrors = queries.flatMap { case (_, q) =>
      try { q.run(spark, tables).count(); None }
      catch { case scala.util.control.NonFatal(e) => Some(q.name) }
      finally spark.catalog.clearCache()
    }
    SessionMemo.dropSession(spark)
    val warmS = (System.nanoTime() - tw) / 1e9

    def check(q: Q, n: Long): Option[String] = expected.get(q.name) match {
      case Some(e) if e == n => None
      case Some(e) => Some(s"rows $n != expected $e")
      case None => Some(s"no expected row count for ${q.name}")
    }

    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val passS = mutable.ArrayBuffer.empty[Double]
    val cacheMb = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var pass = 0
    while (pass < Opts.MinTimed || System.nanoTime() < deadline) {
      val pass0 = outcomes.size
      queries.foreach { case (m, q) =>
        tracer match {
          case None =>
            var n = -1L
            outcomes += Outcome.timed(q.name) { n = q.run(spark, tables).count() }(check(q, n))
          case Some(t) =>
            // construct, plan and execute timed apart, under the module's group
            var n = -1L
            outcomes += Outcome.timed(q.name) {
              t.span(s"queries.$m", s"pass$pass") {
                val t0 = System.nanoTime()
                val df = q.run(spark, tables)
                val t1 = System.nanoTime()
                df.queryExecution.executedPlan
                val t2 = System.nanoTime()
                n = df.count()
                val t3 = System.nanoTime()
                layer(s"queries.$m.construct_s") += (t1 - t0) / 1e9
                layer(s"queries.$m.plan_s") += (t2 - t1) / 1e9
                layer(s"queries.$m.exec_s") += (t3 - t2) / 1e9
              }
            }(check(q, n))
        }
      }
      // a failed query is left out of the pass time, as out of every timing
      passS += outcomes.drop(pass0).flatMap(_.seconds).sum
      cacheMb += Host.cachedMb(spark)
      spark.catalog.clearCache()
      SessionMemo.dropSession(spark)
      pass += 1
    }
    val layerMetrics = tracer.map { t =>
      t.detach()
      queries.map(_._1).distinct.flatMap { m =>
        val c = t.counters(s"queries.$m")
        Seq(
          s"queries.$m.construct_s" -> layer(s"queries.$m.construct_s") / pass,
          s"queries.$m.plan_s" -> layer(s"queries.$m.plan_s") / pass,
          s"queries.$m.exec_s" -> layer(s"queries.$m.exec_s") / pass,
          s"queries.$m.jobs" -> c.jobs.toDouble / pass,
          s"queries.$m.tasks" -> c.tasks.toDouble / pass,
          s"queries.$m.shuffle_mb" -> c.shuffleBytes / 1048576.0 / pass)
      }.toMap + ("cache.retained_mb" -> Stats.median(cacheMb.toSeq))
    }
    spark.stop()
    Map(
      "workload" -> o.workload,
      "confs" -> confs.toMap,
      "inputs" -> Map("tables" -> "sf0.001", "table_seed" -> 42, "queries" -> queries.size,
        "modules" -> queries.groupBy(_._1).map { case (m, qs) => m -> qs.size }),
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmS, "warmup_errors" -> warmErrors),
      "setup_s" -> (sessionS + warmS),
      "outcomes" -> outcomes.toSeq,
      "op_seconds" -> outcomes.flatMap(_.seconds).toSeq,
      "pass_seconds" -> passS.toSeq,
      "retained_cache_mb" -> cacheMb.toSeq,
      "peak_rss_mb" -> Host.peakRssMb) ++
      layerMetrics.map(m => "layer_metrics" -> m) ++
      tracer.map(t => "spans" -> t.spanList)
  }
}
