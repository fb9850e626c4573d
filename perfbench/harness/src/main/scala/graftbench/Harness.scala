package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. Runs ONE workload in this (fresh)
  * JVM and writes raw samples, spans and counters under `--out`; the
  * Python runner derives the metrics and checks correctness.
  *
  *   --workload serve-mixed|batch-cold
  *   --data <source parquet dir> --out <dir> --stores <dir>
  *   --seconds <window> --trace 0|1
  *   --requests <jsonl>                     (serve workloads)
  *   --phases <phase:q1,q2;phase:q3,…>      (batch-cold, in run order)
  *
  * Every call into graft goes through a public entry point; the timers
  * and spans around those calls live in this package only. */
object Harness {

  final case class Opts(workload: String, data: String, out: String, stores: String,
      seconds: Int, trace: Boolean, requests: Option[String], phases: Option[String])

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Opts(m("workload"), m("data"), m("out"), m("stores"), m("seconds").toInt,
      m("trace") == "1", m.get("requests"), m.get("phases"))
  }

  /** The JVM-global trained codebooks must be empty: a run that starts
    * with them populated would time warm training as if it were cold. */
  def requireFreshJvm(): Unit = {
    val cls = Class.forName("graft.queries.LlmQueries$")
    val module = cls.getField("MODULE$").get(null)
    Seq("trainedCentroids", "trainedPqBooks").foreach { name =>
      cls.getDeclaredFields.find(_.getName == name).foreach { f =>
        f.setAccessible(true)
        f.get(module) match {
          case m: scala.collection.Map[_, _] if m.nonEmpty =>
            throw new IllegalStateException(s"refusing to run: LlmQueries.$name already holds ${m.size} entries")
          case _ => ()
        }
      }
    }
  }

  /** Session exactly as the CLI builds it (`Main.main`). */
  def session(): SparkSession = {
    val spark = graft.cli.Main.session()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Record the set-up's parts, and `setup_s`: from JVM process start
    * to the end of set-up, so JVM start and class loading count too. */
  def writeSetup(o: Opts, parts: Map[String, Any]): Unit = {
    val sinceStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Json.writeFile(s"${o.out}/setup.json", parts + ("setup_s" -> sinceStart) +
      ("end_ns" -> System.nanoTime()))
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time this JVM has used, all threads, in seconds. Unlike wall
    * time it does not grow while the host runs other tenants' work. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    requireFreshJvm()
    Files.createDirectories(Paths.get(o.out))
    o.workload match {
      case "serve-mixed" => Serve.run(o)
      case "batch-cold" => Batch.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    Json.writeFile(s"${o.out}/rss.json", Map("peak_rss_mb" -> peakRssMb()))
    // a daemon-free exit even if Spark left non-daemon threads behind
    sys.exit(0)
  }
}
