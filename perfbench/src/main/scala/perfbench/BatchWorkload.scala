package perfbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The two batch workloads: fixed-order passes over a list of
  * `SparkEntry.queries`, each query forced through the `noop` sink. */
object BatchWorkload {

  /** The queries of each batch workload, in pass order. `batch_mix`
    * takes, from the LLM-data side, the interpreted-lambda text path
    * (`text_lm_score`), the pair-family shingle exchange
    * (`dedup_ngram_jaccard`) and a compute-once boundary
    * (`pipeline_curate_ingest`); from the relational side, a semi join
    * of `orders` with `lineitem` (`q4_semi_join`) and a scan-heavy
    * aggregate (`q_percentile`). The list is short because every query
    * pays a cold first execution in set-up. `q5_multi_join` is left out:
    * its oracle compares `round(sum(double), 2)` exactly, and on some
    * seeded tables the sum lands on a rounding tie whose side depends on
    * summation order. */
  val queryLists: Map[String, Seq[String]] = Map(
    "batch_mix" -> Seq("text_lm_score", "dedup_ngram_jaccard", "pipeline_curate_ingest",
      "q4_semi_join", "q_percentile"))

  /** The input tables each listed query reads. A pass's input records are
    * the rows of these tables as generated, summed over the list, so that
    * `records_per_s` is fixed work over `pass_s` and a plan that prunes
    * rows does not lower it. */
  val inputTables: Map[String, Seq[String]] = Map(
    "text_lm_score" -> Seq("documents"),
    "dedup_ngram_jaccard" -> Seq("documents"),
    "pipeline_curate_ingest" -> Seq("documents"),
    "q4_semi_join" -> Seq("orders", "lineitem"),
    "q_percentile" -> Seq("lineitem"))

  /** Runs one query into `noop`; returns its wall time, or the error. */
  private def runQuery(spark: SparkSession, name: String, dir: String): Either[String, Long] = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      Right(System.nanoTime() - t0)
    } catch { case e: Throwable => Left(s"$name: $e") }
  }

  /** One untimed pass that writes every query's output to parquet for
    * the oracle check (and warms the JIT, the codegen cache and the
    * compute-once boundaries), then as many timed passes as fit
    * `seconds`, judged by the first (at least two).
    * A query that throws in a timed pass is charged `seconds` on top of
    * the time it took, so a failure never shortens `pass_s`. */
  def run(spark: SparkSession, workload: String, dir: String, seconds: Int, work: File,
      tr: Option[Collectors], rootSpan: Int, firstTimedOp: () => Unit,
      extraQueries: Seq[String]): Result = {
    val names = queryLists(workload) ++ extraQueries
    val problems = mutable.ArrayBuffer.empty[String]

    val passRecords = names.flatMap(inputTables.getOrElse(_, Nil))
      .map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum
    val out = new File(work, "out")
    val dumped = names.filter { n =>
      try {
        SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(new File(out, n).getPath)
        true
      } catch { case e: Throwable => problems += s"$n (output dump): $e"; false }
    }
    val oracle = SparkEntry.oracleSql
    val oracleJson = Json.obj(Seq(
      "oracle" -> dumped.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "queries" -> names))
    java.nio.file.Files.write(new File(work, "oracle.json").toPath, oracleJson.getBytes("UTF-8"))

    firstTimedOp()
    val passNs = mutable.ArrayBuffer.empty[Long]
    val queryNs = mutable.ArrayBuffer.empty[Long]
    var attempted = 0
    var failed = 0
    def span[T](parent: Int, name: String, attrs: (String, Any)*)(body: Int => T): T =
      tr.map(_.spans.span(parent, name, attrs: _*)(body)).getOrElse(body(0))
    var planned = 2
    while (passNs.size < planned) {
      var pass = 0L
      span(rootSpan, "pass", "pass" -> passNs.size) { passSpan =>
        names.foreach { n =>
          attempted += 1
          val r = tr match {
            case None => runQuery(spark, n, dir)
            case Some(c) =>
              val id = c.spans.reserve()
              val s0 = c.spans.nowUs
              val opStart = c.begin(id)
              val r = runQuery(spark, n, dir)
              val census = c.end(opStart)
              c.spans.addAs(id, passSpan, "query", s0, c.spans.nowUs,
                Seq("query" -> n, "ok" -> r.isRight) ++ census.toSeq: _*)
              r
          }
          r match {
            case Right(ns) => queryNs += ns; pass += ns
            case Left(err) =>
              failed += 1
              if (!problems.contains(err)) problems += err
              pass += seconds * 1000000000L
          }
        }
      }
      passNs += pass
      if (passNs.size == 1) planned = math.max(2, math.round(seconds * 1e9 / pass).toInt)
    }

    val passS = Stats.median(passNs.map(_ / 1e9).toSeq)
    val lat = queryNs.map(_ / 1e6).sorted.toSeq
    Result(
      ok = problems.isEmpty,
      attempted = attempted,
      failed = failed + (names.size - dumped.size),
      metrics = Map(
        "records_per_s" -> passRecords / passS,
        "batch_ms_p50" -> Stats.quantile(lat, 0.5),
        "batch_ms_p90" -> Stats.quantile(lat, 0.9),
        "pass_s" -> passS),
      perUnit = passNs.size,
      problems = problems.toSeq,
      notes = Map("passes" -> passNs.size, "queries" -> names.size,
        "pass_s_all" -> passNs.map(_ / 1e9).toSeq))
  }
}
