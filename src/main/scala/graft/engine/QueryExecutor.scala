package graft.engine

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * Query execution with lifecycle, timeout, and cancellation —
 * operators A2–A5 (reference: src/iceberg_explorer/query/executor.py:119-347).
 *
 * Spark-first translation of the reference's threading model:
 *  - the reference runs each query on a daemon thread so the caller can
 *    `wait(timeout)` and `conn.interrupt()` — here the worker thread tags
 *    itself with a Spark job group (= the query UUID) and `cancelJobGroup`
 *    is the interrupt. Cancellation lands at task boundaries (Spark
 *    semantics); the state machine is identical.
 *  - the reference serializes every query behind one connection lock
 *    (engine.py:139-164) because DuckDB connections aren't thread-safe.
 *    SparkSession IS thread-safe, so queries here run concurrently —
 *    the registry and metrics are lock-free concurrent structures.
 *  - results are buffered bounded: `toLocalIterator` + `maxRows` cap,
 *    never an unbounded collect (100 TB design rule). The reference's
 *    `max_rows` config was dead code; we enforce it (SURVEY §2.A note).
 *
 * One lifecycle serves every SQL-running caller: `register` (gate, timeout
 * clamp, registry, active gauge) → `run` (running → worker under the
 * timeout → `record`, the one writer of the duration point, row count and
 * span → release of the gauge and cancel flag → rethrow). [[execute]]
 * runs it on the caller's thread, [[executeAsync]] on a daemon runner;
 * the HTTP façade's inline-SQL CSV export is an [[execute]] followed by
 * [[cleanup]]. The Arrow export ([[dataFrameForExport]]) stays outside it.
 */
final class QueryExecutor(spark: SparkSession, config: QueryConfig = QueryConfig()) {

  private val activeQueries = new ConcurrentHashMap[UUID, QueryResult]()
  private val cancelFlags = new ConcurrentHashMap[UUID, AtomicBoolean]()

  def validateTimeout(timeout: Option[Int]): Int = config.clampTimeout(timeout)

  /** Validate, execute with timeout on the caller's thread, return the
    * terminal QueryResult. Throws like the reference: InvalidSqlError
    * before registration, QueryTimeoutError / QueryCancelledError / the
    * query's own failure after (state is recorded on the result first).
    *
    * `params` binds positional `?` placeholders (the reference passes
    * DuckDB positional parameters, e.g. api/routes/catalog.py:236; Spark 4
    * `spark.sql(sql, args)` is the native equivalent — literals are bound
    * post-gate, so parameter VALUES can never smuggle keywords past A1). */
  def execute(sql: String, timeout: Option[Int] = None,
              params: Seq[Any] = Seq.empty): QueryResult = {
    val (result, timeoutSec, cancelled) = register(sql, timeout)
    run(result, timeoutSec, cancelled, params)
    result
  }

  /**
   * Fire-and-poll execution — registers the query and returns its (live)
   * QueryResult immediately; the same tracked run happens on a daemon
   * runner thread. This is the reference's actual serving shape: the
   * execute endpoint dispatches to a thread and other endpoints poll
   * `get_status` while the query runs (reference:
   * api/routes/query.py:64,122-136). The terminal outcome (including
   * timeout/cancel/failure) is recorded on the result; nothing is thrown
   * to the caller after registration.
   */
  def executeAsync(sql: String, timeout: Option[Int] = None,
                   params: Seq[Any] = Seq.empty): QueryResult = {
    val (result, timeoutSec, cancelled) = register(sql, timeout)
    val runner = new Thread(() =>
      try run(result, timeoutSec, cancelled, params)
      catch { case NonFatal(_) => () }, // the outcome is on the result
      s"graft-async-${result.queryId}")
    runner.setDaemon(true)
    runner.start()
    result
  }

  /** Gate-validated DataFrame for columnar export: the same A1 gate and
    * maxRows bound as [[execute]], but the result stays a logical plan so
    * the Arrow transport can stream executor-produced IPC batches without
    * a driver Row-buffer detour (the reference buffers Arrow
    * RecordBatches the same way, executor.py:254-260). */
  def dataFrameForExport(sql: String): org.apache.spark.sql.DataFrame = {
    SqlGate.validate(sql)
    spark.sql(sql).limit(config.maxRows)
  }

  /** Gate (before anything is registered), clamp the timeout, and make
    * the query visible to `getStatus`/`cancel` and the active gauge. */
  private def register(sql: String, timeout: Option[Int]): (QueryResult, Int, AtomicBoolean) = {
    SqlGate.validate(sql)
    val timeoutSec = validateTimeout(timeout)
    val result = new QueryResult(sql)
    val cancelled = new AtomicBoolean(false)
    activeQueries.put(result.queryId, result)
    cancelFlags.put(result.queryId, cancelled)
    Metrics.incrementActiveQueries()
    (result, timeoutSec, cancelled)
  }

  /** The one tracked run: execute under the timeout, record the outcome,
    * release the active gauge and cancel flag, rethrow any failure. */
  private def run(result: QueryResult, timeoutSec: Int,
                  cancelled: AtomicBoolean, params: Seq[Any]): Unit =
    try {
      result.setRunning()
      runWithTimeout(result, timeoutSec, cancelled, params.toArray)
      record(result, timeoutSec, result.state.value, None)
    } catch {
      case e: QueryTimeoutError =>
        record(result, timeoutSec, "timeout", Some("Query timeout")); throw e
      case e: QueryCancelledError =>
        record(result, timeoutSec, "cancelled", None); throw e
      case NonFatal(e) =>
        record(result, timeoutSec, "failed",
          Some(Option(e.getMessage).getOrElse(e.toString))); throw e
    } finally {
      Metrics.decrementActiveQueries()
      cancelFlags.remove(result.queryId)
    }

  /** The outcome's metrics — one duration point, the returned rows of a
    * completed query — and one trace record per execution, with the
    * reference span's attribute set and OK/ERROR status semantics
    * (reference: executor.py:181-222 — timeout/failure are ERROR,
    * cancellation is OK). A timeout records its timeout as the duration. */
  private def record(result: QueryResult, timeoutSec: Int,
                     status: String, error: Option[String]): Unit = {
    val rows = if (status == "completed") Some(result.metrics.rowsReturned) else None
    rows.foreach(Metrics.recordQueryRows)
    val seconds = if (status == "timeout") timeoutSec.toDouble else result.metrics.durationSeconds
    Metrics.recordQueryDuration(seconds, status)
    Metrics.recordSpan(QuerySpan(
      name = "spark.query",
      queryId = result.queryId.toString,
      timeoutSeconds = timeoutSec,
      status = status,
      durationSeconds = Some(result.metrics.durationSeconds),
      rowsReturned = rows,
      statusCode =
        if (status == "failed" || status == "timeout") "ERROR" else "OK",
      statusDescription = error))
  }

  /** Run the query on a worker thread tagged with the query's job group
    * and wait for it at most `timeoutSec`; the caller's thread stays free
    * to time out even while the worker is stuck in driver-side code. */
  private def runWithTimeout(
      result: QueryResult, timeoutSec: Int, cancelled: AtomicBoolean,
      params: Array[Any]): Unit = {
    val jobGroup = result.queryId.toString
    val work = new FutureTask[Unit](() =>
      try {
        if (!cancelled.get()) {
          // job group tags every job this thread triggers; cancelJobGroup
          // with interruptOnCancel kills the running tasks.
          spark.sparkContext.setJobGroup(jobGroup, result.sql, interruptOnCancel = true)
          val df = if (params.isEmpty) spark.sql(result.sql)
                   else spark.sql(result.sql, params)
          if (!cancelled.get()) {
            // bounded driver buffering: maxRows + 1 detects truncation
            // without materializing the full result on the driver; a
            // cancel stops the next partition fetch through the job group.
            val rows = df.toLocalIterator().asScala.take(config.maxRows + 1).toVector
            if (!cancelled.get())
              result.setCompleted(rows.take(config.maxRows), df.schema,
                truncated = rows.length > config.maxRows)
          }
        }
      } finally spark.sparkContext.clearJobGroup())
    val worker = new Thread(work, s"graft-query-$jobGroup")
    worker.setDaemon(true)
    worker.start()

    try work.get(timeoutSec.toLong, TimeUnit.SECONDS) catch {
      case _: TimeoutException =>
        cancelled.set(true)
        // AndFutureJobs: also kills jobs the worker submits AFTER this call
        // (cancel can land between planning and job submission).
        spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
        result.setFailed("Query timeout exceeded")
        throw new QueryTimeoutError(s"Query exceeded ${timeoutSec}s timeout")
      case e: ExecutionException if !cancelled.get() =>
        result.setFailed(e.getCause.getMessage)
        throw e.getCause
      case _: ExecutionException => () // a cancel's job failure
    }
    if (cancelled.get()) {
      result.setCancelled()
      throw new QueryCancelledError("Query was cancelled")
    }
  }

  /** Cancel a running query — idempotent; false if unknown or terminal
    * (reference: executor.py:294-324). */
  def cancel(queryId: UUID): Boolean =
    (Option(activeQueries.get(queryId)), Option(cancelFlags.get(queryId))) match {
      case (Some(result), Some(flag)) if !result.isTerminal =>
        flag.set(true)
        // AndFutureJobs closes the plan-time race: a job group cancel issued
        // while the query is still being planned would otherwise be a no-op
        // and the action would run to completion once submitted.
        spark.sparkContext.cancelJobGroupAndFutureJobs(queryId.toString)
        if (result.state == QueryState.Running) result.setCancelled()
        true
      case _ => false
    }

  /** Lifecycle lookup (reference: executor.py:326-335). */
  def getStatus(queryId: UUID): Option[QueryResult] =
    Option(activeQueries.get(queryId))

  /** IDs of queries currently registered and not yet cleaned up. */
  def activeQueryIds: Seq[UUID] =
    activeQueries.entrySet().asScala
      .filter(e => !e.getValue.isTerminal).map(_.getKey).toSeq

  /** De-register and free buffered results (reference: executor.py:337-347). */
  def cleanup(queryId: UUID): Unit = {
    activeQueries.remove(queryId)
    cancelFlags.remove(queryId)
  }
}
