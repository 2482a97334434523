package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("Bench.timeRun: a query that throws is a failure with its error class, not a time") {
    val boom = Q("boom", Nil, (_, _) => throw new IllegalStateException("broken query"))
    assert(Bench.timeRun(boom, SparkTestSession.spark, "") == Left("java.lang.IllegalStateException"))
    val ok = Q("ok", Nil, (spark, _) => spark.range(3).toDF())
    assert(Bench.timeRun(ok, SparkTestSession.spark, "").exists(_ >= 0))
  }
}
