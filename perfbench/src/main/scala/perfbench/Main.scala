package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** What a workload run reports back to [[Main]]. `perUnit` is the number
  * of rounds or passes the per-layer sums are divided by. */
final case class Result(ok: Boolean, attempted: Int, failed: Int, metrics: Map[String, Double],
    perUnit: Int, problems: Seq[String], notes: Map[String, Any])

object Stats {
  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
}

/** The benchmark's JVM side. Run by `perfbench/run.py`, which builds it,
  * generates the batch tables and checks the batch outputs:
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *      --t0-ms EPOCH_MS [--data DIR] [--spans FILE] [--extra-queries a,b]
  * }}}
  *
  * One SparkSession, `local[k]` with k = available processors, RocksDB
  * state, 8 shuffle partitions. Writes one JSON object to `--out`.
  */
object Main {

  /** Metrics that are peaks; every other per-layer counter is a sum and
    * is reported per round (reorder) or per pass (batch). */
  private val peaks = Set("state.rows_max", "state.bytes_max", "reorder.buffered_end")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = new File(opt("work"))
    val t0Ms = opt("t0-ms").toLong
    var firstTimedMs = 0L
    var tr = Option.empty[Collectors]
    val firstTimedOp = () => if (firstTimedMs == 0L) {
      tr.foreach(_.reset())
      firstTimedMs = System.currentTimeMillis()
    }

    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // one engine batch per client hand-over, so flush timing and the
      // check do not race the engine's own timer-only batches; each round
      // ends with an explicit empty batch instead
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val spans = new Spans
    if (traced) tr = Some(new Collectors(spark, new Counters, spans))
    if (traced) spans.add(0, "session", t0Ms * 1000L, sessionReadyMs * 1000L)
    val result = spans.span(0, "run", "workload" -> workload, "seed" -> seed) { runSpan =>
      workload match {
        case "reorder_replay" | "reorder_deep" =>
          ReorderWorkload.run(spark, workload, seed, seconds, work, tr, runSpan, firstTimedOp)
        case "batch_mix" =>
          BatchWorkload.run(spark, workload, opt("data"), seconds, work, tr, runSpan, firstTimedOp,
            opt.get("extra-queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty))
      }
    }
    tr.foreach(_.close())

    // set-up: from the start of the run (after the build) to the first
    // timed operation
    val setupS = (firstTimedMs - t0Ms) / 1000.0
    val layers = tr.map(_.counters.snapshot.map { case (k, v) =>
      k -> (if (peaks(k)) v else v / result.perUnit) }).getOrElse(Map.empty)
    val json = Json.obj(Seq(
      "ok" -> result.ok,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> (result.metrics + ("setup_s" -> setupS)),
      "layers" -> (layers + ("peak_rss_mb" -> peakRssMb)),
      "problems" -> result.problems,
      "notes" -> (result.notes ++ Map("session_s" -> (sessionReadyMs - t0Ms) / 1000.0))))
    Files.write(new File(opt("out")).toPath, json.getBytes("UTF-8"))
    opt.get("spans").foreach(p => spans.write(new File(p)))
    spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
