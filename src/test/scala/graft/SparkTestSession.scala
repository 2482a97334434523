package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (ScalaTest runs suites in one
  * forked JVM; building a session per suite wastes ~5s each). Four cores
  * whatever the host has, so test plans do not depend on it. */
object SparkTestSession {
  lazy val spark: SparkSession = Session.build(Session.base(cpus = 4))
}
