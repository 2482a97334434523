package perfbench

/** One benchmark process: runs a workload and writes its result file.
  * Launched by `run.py`, which turns the result into the benchmark's output. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val result = o.workload match {
      case "forage_national" => ForageBench.run(o)
      case "registry" => RegistryBench.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val facts = Map(
      "nproc" -> Host.nproc,
      "xmx_mb" -> Host.xmxMb,
      "master" -> s"local[${Host.nproc}]",
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> System.getProperty("java.version"),
      "seed" -> o.seed,
      "seconds" -> o.seconds,
      "trace" -> o.trace)
    Json.write(o.resultFile, result + ("facts" -> facts))
  }
}
