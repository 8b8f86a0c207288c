package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters of one run. Sums accumulate with [[add]], peaks with
  * [[max]]; every per-layer metric of the benchmark is one entry.
  */
final class Counters {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { m(k) = math.max(m.getOrElse(k, 0.0), v) }
  def get(k: String): Double = synchronized(m.getOrElse(k, 0.0))
  def snapshot: Map[String, Double] = synchronized(m.toMap)
  def clear(): Unit = synchronized(m.clear())
}

/** Spans (name, start, end, parent) kept in memory and written as JSON
  * lines by [[write]] when the run ends. Times are epoch microseconds.
  */
final class Spans {
  import Spans.Span
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val wallAnchorUs = System.currentTimeMillis() * 1000L
  private val nanoAnchor = System.nanoTime()
  private var nextId = 1

  def nowUs: Long = wallAnchorUs + (System.nanoTime() - nanoAnchor) / 1000L

  /** A fresh span id, for a span recorded later with [[add]]. */
  def reserve(): Int = synchronized { val i = nextId; nextId += 1; i }

  def add(parent: Int, name: String, startUs: Long, endUs: Long,
      attrs: (String, Any)*): Int = addAs(reserve(), parent, name, startUs, endUs, attrs: _*)

  def addAs(id: Int, parent: Int, name: String, startUs: Long, endUs: Long,
      attrs: (String, Any)*): Int = synchronized {
    buf += Span(id, parent, name, startUs, endUs, attrs)
    id
  }

  /** Runs `body` inside a span; the span id is passed to `body` so
    * child spans can name it as their parent. */
  def span[T](parent: Int, name: String, attrs: (String, Any)*)(body: Int => T): T = {
    val id = reserve()
    val s = nowUs
    try body(id)
    finally synchronized { buf += Span(id, parent, name, s, nowUs, attrs) }
  }

  def write(file: File): Unit = synchronized {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try buf.sortBy(_.startUs).foreach { s =>
      val fields = Seq[(String, Any)]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs) ++ s.attrs
      out.println(Json.obj(fields))
    } finally out.close()
  }
}

object Spans {
  private final case class Span(id: Int, parent: Int, name: String,
      startUs: Long, endUs: Long, attrs: Seq[(String, Any)])
}

/** Collectors of the traced run, registered by the benchmark (never by the
  * program): a `SparkListener` for jobs and task metrics, a
  * `QueryExecutionListener` for the executed plans' SQL metrics and plan
  * census, and a `StreamingQueryListener` for micro-batch progress.
  *
  * The caller brackets each operation (a batch query, a micro-batch) with
  * [[begin]]/[[end]]; job spans and the time no job covered are
  * attributed to the operation that was open.
  */
final class Collectors(spark: SparkSession, val counters: Counters, val spans: Spans) {

  @volatile private var openSpan = 0
  private var opCensus = new Counters
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Collectors.this.synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Collectors.this.synchronized {
      jobStart.remove(e.jobId).foreach { s =>
        jobIntervals += ((s, e.time))
        spans.add(openSpan, "job", s * 1000L, e.time * 1000L, "job_id" -> e.jobId)
      }
      counters.add("driver.jobs", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.add("driver.tasks", 1)
      val tm = e.taskMetrics
      if (tm != null) {
        counters.add("exec.cpu_ms", tm.executorCpuTime / 1e6)
        counters.add("exec.run_ms", tm.executorRunTime.toDouble)
        counters.add("exec.gc_ms", tm.jvmGCTime.toDouble)
        counters.add("exec.spill_bytes", (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble)
        counters.add("shuffle.write_bytes", tm.shuffleWriteMetrics.bytesWritten.toDouble)
        counters.add("shuffle.read_bytes",
          (tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead).toDouble)
        counters.add("shuffle.fetch_wait_ms", tm.shuffleReadMetrics.fetchWaitTime.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val census = Census.of(qe.executedPlan)
      val op = Collectors.this.synchronized(opCensus)
      census.foreach { case (k, v) => counters.add(k, v); op.add(k, v) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Drops what was counted so far: the counters cover the timed part. */
  def reset(): Unit = { drain(); counters.clear() }

  /** Opens an operation; returns its wall-clock start in epoch ms. */
  def begin(spanId: Int): Long = {
    drain()
    synchronized { openSpan = spanId; jobIntervals.clear(); opCensus = new Counters }
    System.currentTimeMillis()
  }

  /** Closes the operation begun at `startMs`: adds the part of its wall
    * time that no job covered to `driver.uncovered_ms`, and returns the
    * plan census of the queries the operation executed. */
  def end(startMs: Long): Map[String, Double] = {
    val endMs = System.currentTimeMillis()
    drain()
    val covered = synchronized {
      val ivs = jobIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var total = 0L
      var curS = -1L
      var curE = -1L
      ivs.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      openSpan = 0
      total
    }
    counters.add("driver.uncovered_ms", math.max(0L, endMs - startMs - covered).toDouble)
    val census = synchronized(opCensus.snapshot)
    Seq("shuffle.exchanges", "codegen.stages", "interp.hof_lambdas")
      .map(k => k -> census.getOrElse(k, 0.0)).toMap
  }

  /** Progress events delivered so far, removed from the queue. */
  def takeProgress(): Seq[StreamingQueryProgress] = {
    drain()
    Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Plan census and SQL metrics of one executed physical plan. Counts
  * repeat exactly for a fixed plan, so they can back a count claim. */
object Census {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(m => math.max(0L, m.value).toDouble).getOrElse(0.0)

  def of(plan: SparkPlan): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    nodes(plan).foreach { n =>
      n match {
        case s: FileSourceScanExec =>
          c("scan.time_ms") += metric(s, "scanTime")
          c("scan.bytes") += metric(s, "filesSize")
          c("scan.rows") += metric(s, "numOutputRows")
        case _: ShuffleExchangeExec => c("shuffle.exchanges") += 1
        case w: WholeStageCodegenExec =>
          c("codegen.stages") += 1
          c("codegen.stage_ms") += metric(w, "pipelineTime")
        case b: BroadcastExchangeExec => c("broadcast.build_ms") += metric(b, "buildTime")
        case _ =>
      }
      n.expressions.foreach(_.foreach {
        case _: HigherOrderFunction | _: CodegenFallback => c("interp.hof_lambdas") += 1
        case _ =>
      })
    }
    c.toMap
  }
}

/** Per-micro-batch engine, operator and state metrics from Spark's own
  * progress reports. */
object Progress {
  def record(p: StreamingQueryProgress, c: Counters): Unit = {
    val d = p.durationMs.asScala
    for (k <- Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"))
      c.add(s"engine.${k}_ms", d.get(k).map(_.doubleValue).getOrElse(0.0))
    if (p.numInputRows == 0) c.add("engine.no_data_batches", 1)
    p.stateOperators.foreach { so =>
      c.add("reorder.updates_ms", so.allUpdatesTimeMs.toDouble)
      c.add("reorder.removals_ms", so.allRemovalsTimeMs.toDouble)
      c.add("state.commit_ms", so.commitTimeMs.toDouble)
      c.max("state.rows_max", so.numRowsTotal.toDouble)
      val cm = so.customMetrics.asScala
      def cmv(k: String): Double = cm.get(k).map(_.doubleValue).getOrElse(0.0)
      // the state's size: RocksDB's live SST bytes (its memory figure
      // reads near zero right after each commit's flush)
      c.max("state.bytes_max", cmv("rocksdbSstFileSize"))
      c.add("state.rocksdb.put_count", cmv("rocksdbPutCount"))
      c.add("state.rocksdb.get_count", cmv("rocksdbGetCount"))
      c.add("state.rocksdb.commit_flush_ms", cmv("rocksdbCommitFlushLatency"))
      c.add("state.rocksdb.commit_checkpoint_ms", cmv("rocksdbCommitCheckpointLatency"))
      c.add("state.rocksdb.bytes_written", cmv("rocksdbTotalBytesWritten"))
    }
  }
}
