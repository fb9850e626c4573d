package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** In-memory spans recorded from the benchmark's own code around each
  * call into a graft layer. Spans of one request share `req`; `parent`
  * is the id of the span that caused this one (0 at a request's root).
  * Nothing is written until [[dump]], when the run ends. */
final class Spans(val enabled: Boolean) {
  import Spans.Span
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]()
  private val selfNs = new AtomicLong

  /** Run `f` inside a span, passing it the span id (the parent of its
    * children). A disabled Spans times nothing and allocates nothing. */
  def apply[T](name: String, req: String, parent: Long = 0L)(f: Long => T): T =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try f(id) finally {
        val t1 = System.nanoTime()
        done.add(Span(id, parent, req, name, t0, t1))
        selfNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Time spent recording spans. */
  def selfSeconds: Double = selfNs.get / 1e9

  def dump(path: String): Unit = Json.writeLines(path, done.asScala.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

object Spans {
  final case class Span(id: Long, parent: Long, req: String, name: String,
      startNs: Long, endNs: Long)
}

/** Spark-side counters attributed by job group: the benchmark sets one
  * job group per request (serve) or per query (batch) and reads the
  * totals back per group. RDD block bytes (checkpoints, caches) carry
  * no job group and are summed globally. */
final class JobCounters extends SparkListener {
  final class Group {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L
    var inputBytes = 0L; var inputRecords = 0L
    var shuffleWrite = 0L; var spill = 0L
    var outputBytes = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val groups = mutable.Map[String, Group]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, (String, Long)]()
  @volatile var blockBytes = 0L
  private val selfNs = new AtomicLong

  /** Time spent in this listener's callbacks. */
  def selfSeconds: Double = selfNs.get / 1e9

  private def g(name: String): Group = groups.getOrElseUpdate(name, new Group)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try synchronized(f) finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val name = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = (name, e.time)
    g(name).jobs += 1
    e.stageIds.foreach(id => stageGroup(id) = name)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobGroup.remove(e.jobId).foreach { case (name, t0) => g(name).intervals += (t0 -> e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageGroup.get(e.stageInfo.stageId).foreach(n => g(n).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { n =>
      val x = g(n)
      x.tasks += 1
      if (m != null) {
        x.runMs += m.executorRunTime
        x.inputBytes += m.inputMetrics.bytesRead
        x.inputRecords += m.inputMetrics.recordsRead
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        x.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) blockBytes += b.memSize + b.diskSize
  }

  /** Wall time inside [t0, t1] (epoch ms) covered by at least one job
    * interval of the given groups. */
  def coveredMs(names: Seq[String], t0: Long, t1: Long): Long = synchronized {
    val iv = names.flatMap(n => groups.get(n).toSeq.flatMap(_.intervals))
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  def dump(path: String): Unit = synchronized {
    Json.writeLines(path, groups.toSeq.sortBy(_._1).map { case (n, x) => Map(
      "group" -> n, "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
      "run_ms" -> x.runMs, "input_bytes" -> x.inputBytes,
      "input_records" -> x.inputRecords, "shuffle_write" -> x.shuffleWrite, "spill" -> x.spill,
      "output_bytes" -> x.outputBytes,
      "intervals" -> x.intervals.map { case (a, b) => Seq(a, b) }.toSeq)
    })
  }
}

object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  def write(v: Any): String = org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), write(v))

  def writeLines(path: String, rows: Iterable[Any]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      rows.map(write).mkString("", "\n", "\n"))
}
