package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Session`'s parsing and conf sets, without building a session. */
class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: a positive integer, else the host's cores; anything else is rejected") {
    assert(Session.parseCpus(Some("3")) == 3)
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    Seq("0", "-1", "abc", "").foreach { v =>
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
    }
  }

  test("SPARK_GRAFT_EXTRA_CONF: ';'-separated k=v, the value may hold '='") {
    assert(Session.parseExtraConf("a=1;b=x=y;") == Seq("a" -> "1", "b" -> "x=y"))
    val e = intercept[IllegalArgumentException](Session.parseExtraConf("a=1;oops"))
    assert(e.getMessage.contains("SPARK_GRAFT_EXTRA_CONF") && e.getMessage.contains("oops"))
  }

  // perfbench/Common.scala's `Sessions.forageConfs` and `registryConfs`
  // mirror these two sets (less the master and the local dir, which the
  // benchmark sets itself). A conf changed here must change there too, or
  // the benchmark stops measuring the program's sessions.
  test("the base and registry conf sets are exactly these") {
    val base = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    assert(Session.base(4).toMap == base && Session.base(4).size == base.size)
    val registry = base ++ Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.local.dir" -> "/dev/shm/graft_spark_local",
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "2m")
    assert(Session.registry(4).toMap == registry && Session.registry(4).size == registry.size)
  }
}
