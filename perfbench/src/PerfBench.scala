package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Duration
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api.HttpFacade
import graft.catalog.{CatalogProvider, SparkCatalogProvider}
import graft.engine.{AppConfig, EngineConfig, GraftEngine, QueryExecutor, SqlGate}
import graft.results.{ResultStream, ValueFormat}

/** One response as the client saw it: status code and body bytes. */
final case class Res(status: Int, body: Array[Byte]) {
  def text: String = new String(body, UTF_8)
}

/** One seeded operation: the catalog table it browses and the SQL it runs. */
final case class Op(table: String, sql: String)

/** The engine surface an operation drives. [[HttpApi]] goes through the
  * HTTP façade; [[DirectApi]] calls the layers behind each route, so the
  * difference between the two is the `api` layer's own cost. */
trait Api {
  def namespaces(): Res
  def tables(ns: String): Res
  def schema(table: String): Res
  def details(table: String): Res
  def execute(sql: String): Res
  def status(id: String): Res
  def page(id: String, size: Int, offset: Int): Res
  def csv(id: String): Res
  def arrow(sql: String): Res
  def delete(id: String): Res
}

/** A client with its own connection, as a browser tab would have. */
final class HttpApi(port: Int) extends Api {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port/api/v1"

  private def send(b: HttpRequest.Builder): Res = {
    val r = client.send(b.timeout(Duration.ofSeconds(120)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    Res(r.statusCode, r.body)
  }
  private def get(path: String) = send(HttpRequest.newBuilder(URI.create(base + path)).GET())
  private def post(path: String, json: String) =
    send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)))

  def namespaces(): Res = get("/catalog/namespaces")
  def tables(ns: String): Res = get(s"/catalog/namespaces/$ns/tables")
  def schema(table: String): Res = get(s"/catalog/tables/$table/schema")
  def details(table: String): Res = get(s"/catalog/tables/$table")
  def execute(sql: String): Res = post("/query/execute", s"""{"sql":${ValueFormat.jsonString(sql)}}""")
  def status(id: String): Res = get(s"/query/$id/status")
  def page(id: String, size: Int, offset: Int): Res =
    get(s"/query/$id/results?page_size=$size&offset=$offset")
  def csv(id: String): Res = post("/export/csv", s"""{"query_id":"$id"}""")
  def arrow(sql: String): Res = post("/export/arrow", s"""{"sql":${ValueFormat.jsonString(sql)}}""")
  def delete(id: String): Res =
    send(HttpRequest.newBuilder(URI.create(s"$base/query/$id")).DELETE())
}

/** The calls each HTTP route makes, made in-process. Bodies carry just
  * the fields the output checks read; building them is a few string
  * concatenations, small against any call it wraps. */
final class DirectApi(executor: QueryExecutor, provider: CatalogProvider,
                      truncated: AtomicLong) extends Api {
  private def ok(s: String) = Res(200, s.getBytes(UTF_8))
  private def nsAndName(t: String) = { val p = t.split('.').toSeq; (p.init, p.last) }
  private def bytes(write: ByteArrayOutputStream => Unit): Res = {
    val out = new ByteArrayOutputStream()
    write(out)
    Res(200, out.toByteArray)
  }

  def namespaces(): Res = ok(provider.listNamespaces(None).map(_.mkString(".")).mkString(","))
  def tables(ns: String): Res = ok(provider.listTables(ns.split('.').toSeq).mkString(","))
  def schema(table: String): Res = {
    val (ns, t) = nsAndName(table)
    ok(provider.tableSchema(ns, t).fields.map(_.name).mkString(","))
  }
  def details(table: String): Res = {
    val (ns, t) = nsAndName(table)
    val d = provider.tableDetails(ns, t)
    ok(d.table + " " + d.location)
  }
  def execute(sql: String): Res = {
    val r = executor.execute(sql)
    if (r.truncated) truncated.incrementAndGet()
    ok(s"""{"query_id":"${r.queryId}","status":"${r.state.value}"}""")
  }
  def status(id: String): Res = executor.getStatus(UUID.fromString(id)) match {
    case None => Res(404, Array.emptyByteArray)
    case Some(r) => ok(s"""{"status":"${r.state.value}","rows_processed":${r.metrics.rowsReturned}}""")
  }
  def page(id: String, size: Int, offset: Int): Res = bytes { out =>
    ResultStream.ndjson(executor.getStatus(UUID.fromString(id)), id, size, offset)
      .foreach { l => out.write(l.getBytes(UTF_8)); out.write('\n') }
  }
  def csv(id: String): Res = executor.getStatus(UUID.fromString(id)) match {
    case None => Res(404, Array.emptyByteArray)
    case Some(r) => bytes(out => ResultStream.csv(r).foreach(out.write))
  }
  def arrow(sql: String): Res = bytes { out =>
    org.apache.spark.sql.GraftArrow.writeIpcStream(executor.dataFrameForExport(sql), out)
  }
  def delete(id: String): Res = {
    executor.cleanup(UUID.fromString(id))
    ok("""{"cleaned":true}""")
  }
}

/** One request of an operation; `arg` is the page offset for pages. */
final case class Step(name: String, cls: String, arg: Int, res: Res, t0: Long, t1: Long)

/** One operation as it ran: its requests in order, and the first error.
  * With `pace`, request i is not sent before `System.nanoTime` reaches
  * `pace(i)`. */
final class OpRun(val window: String, val client: Int, val index: Int, val op: Op,
                  pace: IndexedSeq[Long] = IndexedSeq.empty) {
  val steps = ArrayBuffer.empty[Step]
  var error: Option[String] = None
  var t0 = 0L
  var t1 = 0L

  def fail(msg: String): Unit = if (error.isEmpty) error = Some(msg)

  def call(name: String, cls: String, arg: Int = 0)(f: => Res): Res = {
    if (steps.size < pace.size) {
      val early = pace(steps.size) - System.nanoTime()
      if (early > 0) Thread.sleep(early / 1000000, (early % 1000000).toInt)
    }
    val s = System.nanoTime()
    val r = try f catch {
      case NonFatal(e) => Res(599, String.valueOf(e.getMessage).getBytes(UTF_8))
    }
    steps += Step(name, cls, arg, r, s, System.nanoTime())
    if (r.status / 100 != 2) fail(s"$name returned ${r.status}: ${r.text.take(200)}")
    r
  }
}

/** What one operation of a workload requests beyond the catalog tour. */
final case class Workload(pageSize: Int, allPages: Boolean)

/** Records every Spark job with its job group (the executor's query id),
  * SQL execution id, interval and summed task metrics, and the job group
  * of every SQL execution. A stage belongs to the first job that lists
  * it; later jobs only skip it. */
final class JobTrace extends SparkListener {
  final class Job(val id: Int, val group: String, val execId: String, val start: Long) {
    var end = 0L
    val stages = scala.collection.mutable.Set.empty[Int]
    var tasks, taskMs, inBytes, outBytes, shuffleRead, shuffleWrite, spill = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val executions = new ConcurrentLinkedQueue[String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.add(s"sqlexec\t${s.executionId}\t${s.jobGroupId.getOrElse("-")}")
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("-")
    val j = new Job(e.jobId, prop("spark.jobGroup.id"), prop("spark.sql.execution.id"), e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      stageJob.values().removeIf(_ eq j)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.stages += e.stageId
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.inBytes += m.inputMetrics.bytesRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }

  def records: Seq[String] = executions.asScala.toSeq ++
    jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
      Seq("job", j.id, j.group, j.execId, j.start, j.end, j.stages.size, j.tasks, j.taskMs,
        j.inBytes, j.outBytes, j.shuffleRead, j.shuffleWrite, j.spill).mkString("\t")
    }
}

/** Records Catalyst's phase times for every action, keyed by the SQL
  * execution id its jobs carry. */
final class PlanTrace extends QueryExecutionListener {
  private val rows = new ConcurrentLinkedQueue[String]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    rows.add(Seq("plan", qe.id, System.currentTimeMillis(), ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING)).mkString("\t"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  def records: Seq[String] = rows.asScala.toSeq
}

/**
 * Serving benchmark: drives the HTTP façade with seeded closed-loop
 * clients and writes one record per request, operation, Spark job and
 * plan to a tab-separated file. `perfbench/run.py` builds the plan,
 * launches this main, and turns the records into metrics.
 *
 * Arguments: `--workload explore|extract --plan <file> --out <file>
 * --seconds <n> --trace 0|1 --threads <n> --sf <dir>`.
 *
 * Plan lines are `op <list> <client> <table> <sql>`; the lists are `warm`
 * (warm-up), `A` (the timed window), and, when tracing, `B` (the traced
 * window) and `R` (B replayed through [[DirectApi]]).
 */
object PerfBench {
  val Workloads = Map(
    "explore" -> Workload(pageSize = 100, allPages = false),
    "extract" -> Workload(pageSize = 1000, allPages = true))
  val Tables = Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region")
  private val WarmSeconds = 25
  private val QueryIdRe = """"query_id":"([0-9a-f-]{36})"""".r
  private val RowsRe = """"rows_processed":(\d+)""".r
  private val mapper = new ObjectMapper()
  private lazy val allocator = new RootAllocator(Long.MaxValue)

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds of a `System.nanoTime` reading, to line up with
    * Spark's event times. */
  def epochMs(ns: Long): String = f"${baseMs + (ns - baseNs) / 1e6}%.3f"

  def runOp(api: Api, w: Workload, run: OpRun): Unit = {
    val table = s"bench.${run.op.table}"
    run.t0 = System.nanoTime()
    run.call("namespaces", "catalog")(api.namespaces())
    run.call("tables", "catalog")(api.tables("bench"))
    run.call("schema", "catalog")(api.schema(table))
    run.call("details", "catalog")(api.details(table))
    val ex = run.call("execute", "query")(api.execute(run.op.sql))
    QueryIdRe.findFirstMatchIn(ex.text).map(_.group(1)) match {
      case None => run.fail("execute returned no query_id")
      case Some(id) =>
        val st = run.call("status", "page")(api.status(id))
        val rows = RowsRe.findFirstMatchIn(st.text).map(_.group(1).toInt).getOrElse(0)
        val pages = if (w.allPages) math.max(1, (rows + w.pageSize - 1) / w.pageSize) else 1
        (0 until pages).foreach { p =>
          run.call("page", "page", p * w.pageSize)(api.page(id, w.pageSize, p * w.pageSize))
        }
        run.call("csv", "csv")(api.csv(id))
        run.call("arrow", "arrow")(api.arrow(run.op.sql))
        run.call("delete", "cleanup")(api.delete(id))
    }
    run.t1 = System.nanoTime()
  }

  /** Runs each client on its own thread through consecutive phases
    * `(name, end)`. An op belongs to the phase in which it starts and is
    * the next op of that phase's list; a client stops when the last phase
    * has ended or `stop(client, opsInPhase)` holds. A client sends its
    * next request only when the previous one has completed and, with
    * `pace`, not before the times `pace(client, op)` gives. Clients run
    * from one phase into the next without a barrier, so they never
    * restart in lockstep. The calling thread runs each `(time, hook)` at
    * its time while the clients run. */
  def runClients(phases: Seq[(String, Long)], lists: Map[String, IndexedSeq[IndexedSeq[Op]]],
                 apis: IndexedSeq[Api], w: Workload,
                 pace: (Int, Int) => IndexedSeq[Long] = (_, _) => IndexedSeq.empty,
                 stop: (Int, Int) => Boolean = (_, _) => false,
                 hooks: Seq[(Long, () => Unit)] = Nil): Map[String, IndexedSeq[Seq[OpRun]]] = {
    val out = phases.map(p => p._1 -> apis.indices.map(_ => ArrayBuffer.empty[OpRun])).toMap
    def phaseNow = phases.find(System.nanoTime() < _._2).map(_._1)
    val threads = apis.indices.map { c =>
      new Thread(() => {
        val next = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
        var phase = phaseNow
        while (phase.exists(p => !stop(c, next(p)))) {
          val p = phase.get
          val i = next(p)
          next(p) = i + 1
          val list = lists(p)(c)
          val run = new OpRun(p, c, i, list(i % list.size), pace(c, i))
          runOp(apis(c), w, run)
          out(p)(c) += run
          phase = phaseNow
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    hooks.foreach { case (at, hook) =>
      val wait = at - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      hook()
    }
    threads.foreach(_.join())
    out.map { case (p, runs) => p -> runs.map(_.toSeq) }
  }

  private def arrowRows(body: Array[Byte]): Long = {
    val reader = new ArrowStreamReader(new ByteArrayInputStream(body), allocator)
    try {
      var n = 0L
      while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
      n
    } finally reader.close()
  }

  /** NDJSON page protocol: metadata, then (data, progress) pairs, then
    * complete, with the page's row count everywhere it is stated. */
  private def checkPage(text: String, n: Long, size: Int, offset: Int): Option[String] = {
    val msgs = text.split('\n').filter(_.nonEmpty).map(mapper.readTree).toSeq
    val types = msgs.map(_.path("type").asText)
    val want = math.max(0L, math.min(size.toLong, n - offset))
    val dataRows = msgs.filter(_.path("type").asText == "data").map(_.path("rows").size.toLong).sum
    if (types.isEmpty || types.head != "metadata") Some("first message is not metadata")
    else if (types.last != "complete") Some("last message is not complete")
    else if (!types.slice(1, types.size - 1).grouped(2).forall(_ == Seq("data", "progress")))
      Some(s"messages out of order: ${types.mkString(",")}")
    else if (msgs.head.path("total_rows").asLong != n)
      Some(s"total_rows ${msgs.head.path("total_rows").asLong} != status rows_processed $n")
    else if (dataRows != want) Some(s"page holds $dataRows rows, expected $want")
    else if (msgs.last.path("rows_returned").asLong != want)
      Some(s"rows_returned ${msgs.last.path("rows_returned").asLong}, expected $want")
    else None
  }

  /** The first output check an operation fails, if any. `n` is the
    * expected row count, computed from the SQL with `spark.sql`. */
  def check(run: OpRun, n: Long, firstColumn: String, pageSize: Int): Option[String] =
    run.error.orElse {
    def need(ok: Boolean, msg: => String) = if (ok) None else Some(msg)
    run.steps.iterator.flatMap { s =>
      val text = s.res.text
      (s.name match {
        case "namespaces" => need(text.contains("bench"), "namespace bench missing")
        case "tables" => need(text.contains(run.op.table), s"table ${run.op.table} missing")
        case "schema" => need(text.contains(firstColumn), s"column $firstColumn missing")
        case "details" => need(text.contains(run.op.table), "details name another table")
        case "execute" => need(text.contains("\"status\":\"completed\""), s"not completed: $text")
        case "status" =>
          val got = RowsRe.findFirstMatchIn(text).map(_.group(1).toLong)
          need(got.contains(n), s"rows_processed $got, expected $n")
        case "page" => checkPage(text, n, pageSize, s.arg)
        case "csv" =>
          val lines = s.res.body.count(_ == '\n')
          need(lines == n + 1, s"csv has $lines lines, expected ${n + 1}")
        case "arrow" =>
          val rows = arrowRows(s.res.body)
          need(rows == n, s"arrow stream decodes to $rows rows, expected $n")
        case "delete" => need(text.contains("\"cleaned\":true"), s"not cleaned: $text")
        case other => Some(s"unknown step $other")
      }).map(e => s"${s.name}: $e")
    }.nextOption()
  }

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  private def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0

  /** (compilations, compile nanoseconds) of generated code so far. */
  private def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)

  def main(args: Array[String]): Unit =
    try run(args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    catch { case e: Throwable =>
      e.printStackTrace()
      System.exit(1)
    }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val w = Workloads(workload)
    val threads = o("threads").toInt
    val seconds = o("seconds").toDouble
    val records = ArrayBuffer.empty[String]
    def kv(k: String, v: Any): Unit = records += s"kv\t$k\t$v"
    def since(t0: Long) = (System.nanoTime() - t0) / 1e9

    val lists: Map[String, IndexedSeq[IndexedSeq[Op]]] =
      Files.readAllLines(Paths.get(o("plan")), UTF_8).asScala.toSeq
        .map(_.split("\t", -1)).collect {
          case Array("op", list, client, table, sql) => (list, client.toInt, Op(table, sql))
        }.groupBy(_._1).map { case (list, ops) =>
          list -> ops.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._3).toIndexedSeq).toIndexedSeq
        }

    var t = System.nanoTime()
    val spark = GraftEngine.buildSession(
      AppConfig(engine = EngineConfig(threads = threads)), "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    kv("setup.session_s", since(t))

    t = System.nanoTime()
    spark.sql("CREATE DATABASE bench")
    val firstColumn = Tables.map { name =>
      spark.catalog.createTable(s"bench.$name", s"${o("sf")}/$name.parquet", "parquet")
      name -> spark.table(s"bench.$name").columns.head
    }.toMap
    val executor = new QueryExecutor(spark)
    val provider = new SparkCatalogProvider(spark)
    val facade = new HttpFacade(spark, executor, provider)
    val port = facade.start(0, threads)
    val http: IndexedSeq[Api] = lists("A").indices.map(_ => new HttpApi(port))
    kv("setup.tables_s", since(t))

    val expected = scala.collection.mutable.Map.empty[String, Long]
    val maxRows = graft.engine.QueryConfig().maxRows.toLong
    // Checks run after a window, never inside it: a check's cost must not
    // slow the closed loop it verifies. Expected row counts come from
    // `spark.sql` directly, not through the routes under test.
    def finish(runs: IndexedSeq[Seq[OpRun]]): Unit = {
      val fresh = runs.flatten.map(_.op.sql).distinct.filterNot(expected.contains)
      val pool = Executors.newFixedThreadPool(threads)
      fresh.map(s => s -> pool.submit { () =>
        SparkSession.setActiveSession(spark) // pool threads are not Spark's own
        spark.sql(s"SELECT count(*) FROM ($s) q").first().getLong(0)
      })
        .foreach { case (s, f) => expected(s) = math.min(maxRows, f.get()) }
      pool.shutdown()
      runs.flatten.foreach { run =>
        val err = try check(run, expected(run.op.sql), firstColumn(run.op.table), w.pageSize)
          catch { case NonFatal(e) => Some(s"check threw $e") }
        val ok = if (err.isEmpty) 1 else 0
        records += Seq("op", run.window, run.client, run.index, epochMs(run.t0), epochMs(run.t1),
          ok, err.getOrElse("-").replaceAll("\\s+", " ")).mkString("\t")
        run.steps.zipWithIndex.foreach { case (s, i) =>
          val id = if (s.name != "execute") "-"
            else QueryIdRe.findFirstMatchIn(s.res.text).map(_.group(1)).getOrElse("-")
          records += Seq("req", run.window, run.client, run.index, i, s.name, s.cls,
            epochMs(s.t0), epochMs(s.t1), s.res.status, s.res.body.length, id, ok).mkString("\t")
        }
      }
    }

    // Clients warm up for a fixed time, measured to be enough for op
    // latencies to settle (perfbench/NOTES.md), then run straight on into
    // the timed window A and, when tracing, into the traced window B;
    // listeners are registered at B's start.
    val trace = o("trace") == "1"
    val jobs = new JobTrace
    val plans = new PlanTrace
    var gcCodegen0 = ((0L, 0L), (0L, 0L))
    val warmStart = System.nanoTime()
    val warmEnd = warmStart + (WarmSeconds * 1e9).toLong
    val aEnd = warmEnd + (seconds * 1e9).toLong
    val bEnd = aEnd + (if (trace) (seconds * 1e9).toLong else 0L)
    val phases = Seq("warm" -> warmEnd, "A" -> aEnd) ++ (if (trace) Seq("B" -> bEnd) else Nil)
    val runs = runClients(phases, lists, http, w, hooks = if (!trace) Nil else Seq(aEnd -> { () =>
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      gcCodegen0 = (gcTotals(), codegen())
    }))
    kv("setup.warmup_s", WarmSeconds)
    Seq("A" -> (warmEnd, aEnd), "B" -> (aEnd, bEnd)).take(if (trace) 2 else 1).foreach {
      case (name, (t0, t1)) => records += s"window\t$name\t${epochMs(t0)}\t${epochMs(t1)}"
    }
    finish(runs("A"))

    if (trace) {
      val traced = runs("B")
      val ((gc0, gcMs0), (cg0, cgNs0)) = gcCodegen0
      val (gc1, gcMs1) = gcTotals()
      val (cg1, cgNs1) = codegen()
      kv("jvm.gc_count", gc1 - gc0)
      kv("jvm.gc_ms", gcMs1 - gcMs0)
      kv("jvm.heap_after_gc_mb", heapAfterGcMb())
      kv("codegen.compiles", cg1 - cg0)
      kv("codegen.compile_ms", (cgNs1 - cgNs0) / 1e6)
      graft.engine.Metrics.recentSpans.foreach { s =>
        records += Seq("span", s.queryId, s.durationSeconds.fold(-1.0)(_ * 1000),
          s.rowsReturned.getOrElse(0L), s.status).mkString("\t")
      }
      val truncated = new AtomicLong
      val direct: IndexedSeq[Api] =
        lists("R").indices.map(_ => new DirectApi(executor, provider, truncated))
      // The replay sends each call when B sent the same request, so
      // Spark sees B's load and a direct call differs from its HTTP
      // round trip by the api layer alone.
      val rStart = System.nanoTime()
      val replay = runClients(Seq("R" -> Long.MaxValue), lists, direct, w,
        pace = (c, k) => traced(c)(k).steps.map(s => rStart + (s.t0 - aEnd)).toIndexedSeq,
        stop = (c, k) => k >= traced(c).size)("R")
      records += s"window\tR\t${epochMs(rStart)}\t${epochMs(System.nanoTime())}"
      kv("executor.truncated", truncated.get)
      replay.flatten.map(_.op.sql).foreach { sql =>
        val g0 = System.nanoTime()
        val ok = SqlGate.check(sql).isRight
        records += s"gate\t${(System.nanoTime() - g0) / 1e3}\t${if (ok) 1 else 0}"
      }
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
      records ++= jobs.records ++ plans.records
      finish(traced)
      finish(replay)
    }

    facade.stop()
    Files.write(Paths.get(o("out")), records.mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
    System.exit(0)
  }
}
