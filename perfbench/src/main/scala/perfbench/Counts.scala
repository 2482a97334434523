package perfbench

/** Writes each registry query's Spark row count, oracle SQL and wall times
  * of a first and a second pass over a table directory, as the input of
  * `make_counts.py`, which keeps the expected counts.
  * Args: `<tablesDir> <workDir> <out.json>`. */
object Counts {
  def main(args: Array[String]): Unit = {
    val Array(tables, work, out) = args
    val (spark, _) = Sessions.build(work, Sessions.registryConfs(Host.nproc))
    val qs = RegistryBench.Modules.flatMap { case (m, qs) => qs.map(m -> _) }
    def pass(): Seq[(Option[Long], Double)] = qs.map { case (_, q) =>
      val t0 = System.nanoTime()
      val n =
        try Some(q.run(spark, tables).count())
        catch { case scala.util.control.NonFatal(_) => None }
        finally spark.catalog.clearCache()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val first = pass()
    val second = pass()
    spark.stop()
    Json.write(out, qs.zip(first.zip(second)).map { case ((m, q), ((n, t1), (_, t2))) =>
      q.name -> Map("module" -> m, "spark" -> n, "oracle" -> q.oracle,
        "first_s" -> t1, "second_s" -> t2)
    }.toMap)
  }
}
