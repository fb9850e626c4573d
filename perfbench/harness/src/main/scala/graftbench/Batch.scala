package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** batch-cold: one cold pass over the graph phase, then the llm phase,
  * in a fixed order. Each query is timed in three parts:
  *   build — inside the `SparkEntry.queries(name)` call (eager
  *           checkpoints, trained codebooks, derived layouts)
  *   plan  — forcing the executed physical plan
  *   exec  — collecting the result rows
  * Results are then written as parquet, untimed, for the oracle check. */
object Batch {

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(o: Harness.Opts): Unit = {
    val phaseList: Seq[(String, Seq[String])] =
      o.phases.getOrElse(sys.error("--phases is required")).split(";").toSeq.map { p =>
        val Array(name, qs) = p.split(":", 2)
        name -> qs.split(",").toSeq
      }
    // set-up is the session alone
    val t0 = System.nanoTime()
    val spark = Harness.session()
    Harness.writeSetup(o, Map("session_s" -> Harness.secondsSince(t0)))

    val counters = new JobCounters
    val spans = new Spans(o.trace)
    if (o.trace) spark.sparkContext.addSparkListener(counters)
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val rows = Seq.newBuilder[Map[String, Any]]
    val phases = phaseList.map { case (phase, names) =>
      val gc0 = gcMs(); val blocks0 = counters.blockBytes
      val perQuery = names.map { name =>
        sc.setJobGroup(s"q:$name", name)
        val e0 = System.currentTimeMillis()
        val c0 = Harness.cpuSeconds()
        val t0 = System.nanoTime()
        val df = spans("queries.build", name)(_ => queries(name)(spark, o.data))
        val t1 = System.nanoTime()
        spans("queries.plan", name)(_ => df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val result = spans("queries.exec", name)(_ => df.collect())
        val t3 = System.nanoTime()
        val cpu = Harness.cpuSeconds() - c0
        val e1 = System.currentTimeMillis()
        sc.clearJobGroup()
        spark.createDataFrame(java.util.Arrays.asList(result: _*), df.schema)
          .write.parquet(s"${o.out}/results/$name")
        val r = Map("phase" -> phase, "query" -> name, "rows" -> result.length,
          "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
          "exec_s" -> (t3 - t2) / 1e9, "wall_s" -> (t3 - t0) / 1e9, "cpu_s" -> cpu,
          "t0_ns" -> t0, "t1_ns" -> t3,
          "start_ms" -> e0, "end_ms" -> e1)
        rows += r
        r
      }
      // job intervals are only kept in the traced run
      val walls = perQuery.map(_("wall_s").asInstanceOf[Double])
      val covered = perQuery.map(q => counters.coveredMs(Seq(s"q:${q("query")}"),
        q("start_ms").asInstanceOf[Long], q("end_ms").asInstanceOf[Long])).sum
      phase -> Map("wall_s" -> walls.sum, "gc_s" -> (gcMs() - gc0) / 1e3,
        "job_covered_s" -> covered / 1e3,
        "checkpoint_bytes" -> (counters.blockBytes - blocks0))
    }
    if (o.trace) {
      sc.removeSparkListener(counters)
      counters.dump(s"${o.out}/jobs.jsonl")
      spans.dump(s"${o.out}/spans.jsonl")
    }
    Json.writeLines(s"${o.out}/queries.jsonl", rows.result())
    Json.writeFile(s"${o.out}/phases.json",
      phases.toMap + ("tracer_s" -> (spans.selfSeconds + counters.selfSeconds)))
    val oracle = SparkEntry.oracleSql
    Json.writeFile(s"${o.out}/oracle_sql.json",
      phaseList.flatMap(_._2).flatMap(n => oracle.get(n).map(n -> _)).toMap)
    spark.stop()
  }
}
