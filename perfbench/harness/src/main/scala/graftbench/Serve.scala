package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.cli.Main
import graft.load.{GenerationPins, GraphLoader, Store}
import graft.model.GraphSchema
import graft.query.{ArcadeSql, GraphQl, PropertyGraph}
import graft.server.{Dml, QueryServer, Users}

/** serve-mixed: build the store and start the server the way
  * `Main.serveHttp` does, then drive a closed loop of clients, each
  * sending its next request only after the previous reply. The readers
  * share one read stream; the writer walks its own.
  *
  * Phases:
  *   warmup  — HTTP requests, untimed, until the writer's first write
  *             (an insert) is acknowledged: the first requests of a JVM
  *             pay for JIT compilation, class loading and the store's
  *             first DML. Checked like the rest.
  *   http    — the next `--seconds` of the same streams, no tracing. The
  *             timed phase of an untraced run.
  *   traced  — a traced run only: `--seconds` of the request streams
  *             from their start, in process,
  *             through a replay of the calls the server makes (compile,
  *             plan, page collect; DML, reload, sweep), with spans and
  *             the job-group listener.
  * http − traced is the server's own overhead; the tracer times itself. */
object Serve {

  val Readers = 3
  val PoolSize = 8
  val QueryBudgetSec = 300
  val WarmupWrites = 1
  val PageLimit = QueryServer.DefaultLimit

  final case class Req(client: Int, seq: Int, cls: String, route: String, lang: String,
      command: String, vars: Map[String, String], ids: Seq[Long], key: Option[Long]) {
    def isWrite: Boolean = route == "command"
    /** The customer id an insert creates, or an edge starts at, in `phase`. */
    def id(phase: Int): Option[Long] = ids.lift(phase)
    def resolved(phase: Int): String = id(phase).fold(command)(i => command.replace("{ID}", i.toString))
  }

  /** The read stream and the write stream, in that order. */
  def loadRequests(path: String): IndexedSeq[IndexedSeq[Req]] = {
    val reqs = Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { line =>
      val j = JsonMethods.parse(line)
      def s(k: String) = (j \ k) match { case JString(v) => v; case o => sys.error(s"$k: $o") }
      def i(k: String) = (j \ k) match { case JInt(v) => v.toInt; case o => sys.error(s"$k: $o") }
      val vars = (j \ "vars") match {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }
      val ids = (j \ "ids") match { case JArray(xs) => xs.collect { case JInt(v) => v.toLong }; case _ => Nil }
      val key = (j \ "key") match { case JInt(v) => Some(v.toLong); case _ => None }
      Req(i("client"), i("seq"), s("cls"), s("route"), s("lang"), s("command"), vars, ids, key)
    }
    reqs.groupBy(_.client).toSeq.sortBy(_._1).map(_._2.sortBy(_.seq).toIndexedSeq).toIndexedSeq
  }

  final case class Sample(phase: String, client: Int, seq: Int, cls: String, write: Boolean,
      t0: Long, t1: Long, status: Int, body: String, id: Option[Long])

  final class Setup(val spark: SparkSession, val dir: String, val srv: QueryServer.Started,
      val token: String)

  /** The set-up: session, store build, open (the served views) and
    * server start with a bootstrapped account, as `Main.serveHttp`. */
  def setup(o: Harness.Opts): Setup = {
    val dir = s"${o.stores}/store"
    val t0 = System.nanoTime()
    val spark = Harness.session()
    val t1 = System.nanoTime()
    Main.create(spark, o.data, dir)
    val t2 = System.nanoTime()
    val g = Main.serve(spark, dir, Some(o.data))
    val t3 = System.nanoTime()
    val gs = schemaOf(dir)
    val (accounts, fresh) = Users.bootstrap(Paths.get(s"$dir/users.json"))
    val token = fresh.getOrElse(sys.error(s"users.json already existed in $dir"))
    val srv = QueryServer.start(spark, 0, Some(g),
      Some(QueryServer.StoreContext(dir, () => Main.serve(spark, dir, None))),
      schema = gs, users = accounts, poolSize = PoolSize,
      queryTimeoutSec = Some(QueryBudgetSec))
    val t4 = System.nanoTime()
    Harness.writeSetup(o, Map("session_s" -> (t1 - t0) / 1e9, "create_s" -> (t2 - t1) / 1e9,
      "open_s" -> (t3 - t2) / 1e9, "start_s" -> (t4 - t3) / 1e9,
      "store_bytes" -> dirBytes(dir)))
    new Setup(spark, dir, srv, token)
  }

  def schemaOf(dir: String): GraphSchema =
    GraphSchema.fromJson(Files.readString(Paths.get(s"$dir/schema.json")))

  def dirBytes(dir: String): Long = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  def fileCount(dir: String): Long = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.count(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toLong
    finally w.close()
  }

  /** Where the next window resumes the read and the write stream. */
  final class Cursor {
    val nextRead = new AtomicInteger
    val nextWrite = new AtomicInteger
    val writesDone = new AtomicInteger
  }

  /** Run one closed-loop window: `Readers` threads take the next unsent
    * read from the shared read stream, and one writer walks the write
    * stream, both from `at`. Each thread sends while `open(isWriter)`
    * holds. A request in flight when it stops holding completes and
    * counts; no request is taken from a stream without being sent. */
  def window(reads: IndexedSeq[Req], writes: IndexedSeq[Req], at: Cursor)(
      open: Boolean => Boolean)(send: Req => Sample): (Seq[Sample], Double) = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val loops = Seq.fill(Readers)((reads, at.nextRead, false)) :+ ((writes, at.nextWrite, true))
    val threads = loops.map { case (stream, next, isWriter) =>
      val t = new Thread(() => {
        try {
          while (open(isWriter)) {
            val i = next.getAndIncrement()
            if (i >= stream.size) sys.error(s"request stream exhausted after ${stream.size} requests")
            out.add(send(stream(i)))
            if (isWriter) at.writesDone.incrementAndGet()
          }
        } catch { case e: Throwable => errors.add(e) }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    (out.asScala.toSeq, Harness.secondsSince(t0))
  }

  /** Open for `seconds` from now. */
  def forSeconds(seconds: Int): Boolean => Boolean = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    _ => System.nanoTime() < deadline
  }

  /** Open until the writer has sent `n` writes; the readers read until
    * the last of them is acknowledged. */
  def untilWrites(at: Cursor, n: Int): Boolean => Boolean =
    isWriter => (if (isWriter) at.nextWrite.get() else at.writesDone.get()) < n

  def httpSend(port: Int, token: String, phase: String)(r: Req): Sample = {
    val client = clients.get()
    val body = Json.write(Map("language" -> r.lang, "command" -> r.resolved(0)) ++
      (if (r.vars.isEmpty) Map.empty else Map("variables" -> r.vars)))
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/${r.route}/graft"))
      .header("Authorization", s"Bearer $token")
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val t0 = System.nanoTime()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    val t1 = System.nanoTime()
    Sample(phase, r.client, r.seq, r.cls, r.isWrite, t0, t1, resp.statusCode(),
      if (r.isWrite) "" else resp.body(), r.id(0))
  }

  private val clients = ThreadLocal.withInitial[HttpClient](() =>
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())

  /** A served snapshot of the in-process phase, kept as the server
    * keeps its own: the graph, the schema registry read once per
    * snapshot, and the pinned generations, so a sweep never deletes
    * files an in-flight read still scans. */
  final class Snap(val g: PropertyGraph, val gschema: GraphSchema, val paths: Seq[String]) {
    val active = new AtomicInteger
  }

  /** The harness's replay of QueryServer's read and write paths: the
    * same graft calls in the same order, with a span around each. It
    * is a copy, so a change inside QueryServer moves the HTTP figures
    * but not these spans. */
  final class InProcess(spark: SparkSession, dir: String, spans: Spans) {
    private val phaseNo = 1
    private val phaseName = "traced"
    private def snapshot(): Snap = {
      val paths = Store.currentGenPaths(dir)
      GenerationPins.pin(paths)
      new Snap(Main.serve(spark, dir, None), schemaOf(dir), paths)
    }
    @volatile private var cur: Snap = snapshot()
    private val retired = new ConcurrentLinkedQueue[Snap]()
    private val writeLock = new Object
    private val sweepLock = new Object

    private def acquire(): Snap = {
      var s = cur
      s.active.incrementAndGet()
      while (!(s eq cur)) { s.active.decrementAndGet(); s = cur; s.active.incrementAndGet() }
      s
    }

    def compile(snap: Snap, schema: GraphSchema, r: Req): DataFrame = r.lang match {
      case "sql" if ArcadeSql.looksLikeDialect(schema, r.command) =>
        ArcadeSql.compile(snap.g, schema, r.command)
      case "sql" => spark.sql(r.command)
      case "graphql" => GraphQl.compile(snap.g, r.command, r.vars)
      case l => sys.error(s"unsupported language $l")
    }

    def send(r: Req): Sample = {
      val req = s"$phaseName-${r.client}-${r.seq}"
      val sc = spark.sparkContext
      sc.setLocalProperty("spark.scheduler.pool", s"bench-${Thread.currentThread().getId}")
      sc.setJobGroup(req, r.cls, interruptOnCancel = true)
      val t0 = System.nanoTime()
      try {
        val body = spans("request", req) { root =>
          if (r.isWrite) { write(r, req, root); "" }
          else {
            val snap = acquire()
            try {
              val df = spans("query.compile", req, root)(_ => compile(snap, snap.gschema, r))
              spans("query.plan", req, root)(_ => df.queryExecution.executedPlan)
              spans("query.exec", req, root)(_ =>
                df.limit(PageLimit).toJSON.collect().mkString("{\"result\":[", ",", "]}"))
            } finally { snap.active.decrementAndGet(); maybeSweep(req, root) }
          }
        }
        Sample(phaseName, r.client, r.seq, r.cls, r.isWrite, t0, System.nanoTime(), 200,
          body, r.id(phaseNo))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $req failed: $e")
          Sample(phaseName, r.client, r.seq, r.cls, r.isWrite, t0, System.nanoTime(), 500,
            "", r.id(phaseNo))
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty("spark.scheduler.pool", null)
      }
    }

    private def write(r: Req, req: String, root: Long): Unit = {
      writeLock.synchronized {
        spans("load.dml", req, root)(_ => Dml.executeReturning(spark, dir, r.resolved(phaseNo)))
        spans("load.reload", req, root) { _ =>
          val old = cur
          cur = snapshot()
          retired.add(old)
        }
      }
      maybeSweep(req, root)
    }

    /** As the server's: release the retired snapshots no read holds,
      * and sweep the store only when one was released. */
    private def maybeSweep(req: String, root: Long): Unit = {
      val released = sweepLock.synchronized {
        var any = false
        val it = retired.iterator()
        while (it.hasNext) {
          val s = it.next()
          if (s.active.get() == 0) { it.remove(); GenerationPins.unpin(s.paths); any = true }
        }
        any
      }
      if (released) spans("load.sweep", req, root)(_ => Store.sweep(dir))
    }
  }

  def run(o: Harness.Opts): Unit = {
    val streams = loadRequests(o.requests.getOrElse(sys.error("--requests is required")))
    require(streams.size == 2, s"expected a read and a write stream, got ${streams.size}")
    val (reads, writes) = (streams(0), streams(1))
    val s = setup(o)

    val phases = Seq.newBuilder[(String, Double)]
    val samples = Seq.newBuilder[Sample]
    val at = new Cursor
    val (warm, _) = window(reads, writes, at)(untilWrites(at, WarmupWrites))(
      httpSend(s.srv.port, s.token, "warmup"))
    samples ++= warm
    val cpu0 = Harness.cpuSeconds()
    val (http, httpS) = window(reads, writes, at)(forSeconds(o.seconds))(
      httpSend(s.srv.port, s.token, "http"))
    samples ++= http; phases += ("http" -> httpS) += ("http_cpu" -> (Harness.cpuSeconds() - cpu0))
    s.srv.stop()
    if (o.trace) {
      val spans = new Spans(true)
      val counters = new JobCounters
      s.spark.sparkContext.addSparkListener(counters)
      val (traced, tracedS) = window(reads, writes, new Cursor)(forSeconds(o.seconds))(
        new InProcess(s.spark, s.dir, spans).send)
      s.spark.sparkContext.removeSparkListener(counters)
      samples ++= traced
      phases += ("traced" -> tracedS) += ("tracer" -> (spans.selfSeconds + counters.selfSeconds))
      spans.dump(s"${o.out}/spans.jsonl")
      counters.dump(s"${o.out}/jobs.jsonl")
    }
    val all = samples.result()
    Json.writeLines(s"${o.out}/samples.jsonl", all.map(x => Map(
      "phase" -> x.phase, "client" -> x.client, "seq" -> x.seq, "cls" -> x.cls,
      "write" -> x.write, "t0_ns" -> x.t0, "t1_ns" -> x.t1, "status" -> x.status,
      "body" -> x.body, "id" -> x.id)))

    // durability: reopen the store from disk and dump what the
    // acknowledged writes touched
    val ids = all.filter(x => x.write && x.status == 200).flatMap(_.id).distinct
    val updated = writes.filter(_.cls == "update").flatMap(_.key).distinct
    val g = GraphLoader.openGraph(s.spark, s.dir)
    import org.apache.spark.sql.functions.col
    def among(c: String, xs: Seq[Long]) = if (xs.isEmpty) org.apache.spark.sql.functions.lit(false)
      else col(c).isin(xs: _*)
    val customers = g.nodes.filter(col("label") === "Customer" && among("id", ids ++ updated))
      .select("id", "name", "acctbal", "mktsegment").collect()
      .map(r => Seq(r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSeq
    val edges = g.edges.filter(col("label") === "IN_NATION" && among("src", ids))
      .select("src", "dst").collect().map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
    Json.writeFile(s"${o.out}/store_end.json", Map(
      "phases" -> phases.result().toMap,
      "customers" -> customers, "edges" -> edges,
      "store_files" -> fileCount(s.dir),
      "live_generations" -> Store.currentGenPaths(s.dir).size))
    s.spark.stop()
  }
}
