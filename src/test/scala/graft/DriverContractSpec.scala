package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Guards the driver-facing contract (SparkEntry/Verify/Bench): the
  * correctness gate silently weakens if query and oracle keys drift, and
  * an oracle key with no query would break the driver's compare loop.
  */
class DriverContractSpec extends SparkTestBase {

  test("q_approx_distinct stays within HLL++ error bounds of the exact counts") {
    // the one sketch query has no SQL oracle (engine-specific HLL), so —
    // like the ANN recall floors — a hard accuracy gate replaces it:
    // default rsd 0.05 ⇒ gate at 3σ = 15% relative error per group
    val dir = "/root/testdata/sf0.01"
    val approx = SparkEntry.queries("q_approx_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Tables.lineitem(spark, dir)
      .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
      .agg(
        org.apache.spark.sql.functions.countDistinct("l_partkey").as("p"),
        org.apache.spark.sql.functions.countDistinct("l_suppkey").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (g, (p, sCount)) =>
      val (ap, as_) = approx(g)
      assert(math.abs(ap - p).toDouble / p <= 0.15, s"$g parts: $ap vs $p")
      assert(math.abs(as_ - sCount).toDouble / sCount <= 0.15, s"$g supps: $as_ vs $sCount")
    }
  }

  test("q_approx_percentile stays within GK sketch error of exact percentiles") {
    // engine-specific sketch (no SQL oracle, like q_approx_distinct): gate
    // vs Spark's exact percentile. accuracy=10000 bounds rank error by
    // n/10000 (~2 ranks per group at sf0.01); 2% relative value error is
    // a generous envelope over that
    val dir = "/root/testdata/sf0.01"
    import org.apache.spark.sql.functions.{col, expr}
    val approx = SparkEntry.queries("q_approx_percentile")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (g, (e50, e95)) =>
      val (a50, a95) = approx(g)
      assert(math.abs(a50 - e50) / e50 <= 0.02, s"$g p50: $a50 vs $e50")
      assert(math.abs(a95 - e95) / e95 <= 0.02, s"$g p95: $a95 vs $e95")
    }
  }

  test("IVF/PQ k-means oracles unroll 5 materialized centroid iterations") {
    // each c$i / p$i is read twice by the next iteration; DuckDB inlines
    // unmarked CTEs, so dropping the keyword re-evaluates the prefix
    // per reference and the oracle gate runs out of memory
    for ((query, cte) <- Seq("ann_topk_ivf" -> "c", "ann_topk_pq" -> "p")) {
      val sql = SparkEntry.oracleSql(query)
      (0 to 5).foreach { i =>
        assert(sql.contains(s"$cte$i AS MATERIALIZED ("), s"$query: $cte$i not materialized")
      }
      val inlined = raw"\b$cte\d+ AS \(".r.findAllIn(sql).toList
      assert(inlined.isEmpty, s"$query: inlined centroid CTEs $inlined")
    }
  }

  test("every oracle key has a query; no accidental orphans") {
    // each record carries exactly one check, so the derived views must
    // partition the query names: an oracle or a stated rows-only reason
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val rowsOnly = SparkEntry.rowsOnlyByDesign.keySet
    assert(os.diff(qs).isEmpty, s"oracle entries without a query: ${os.diff(qs)}")
    assert(os.intersect(rowsOnly).isEmpty, s"both oracle and rows-only: ${os.intersect(rowsOnly)}")
    assert(os ++ rowsOnly == qs, s"queries with no check: ${qs.diff(os ++ rowsOnly)}")
    assert(SparkEntry.rowsOnlyByDesign.values.forall(_.trim.nonEmpty))
  }

  test("registry names are unique, so no record shadows another") {
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
  }

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles.toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  test("queries are declared only as registry records") {
    // a name -> function map, a name -> SQL map or a rows-only literal
    // beside the records would split a query's declaration again
    val banned = Seq(
      raw"Map\[String,\s*(Relational\.)?Q\]".r,
      raw"(val|def)\s+oracles\w*\b".r,
      raw"rowsOnlyByDesign[^=\n]*=\s*Map\(".r,
      raw""""[a-z0-9_]+"\s*->\s*\(\w+ _\)""".r)
    val root = Paths.get("src/main/scala/graft").toFile
    assert(root.isDirectory, s"$root not found")
    val offenders = scalaFiles(root).flatMap { f =>
      val text = Files.readString(f.toPath)
      banned.flatMap(_.findFirstIn(text)).map(m => s"${f.getPath}: $m")
    }
    assert(offenders.isEmpty, s"declare each query once, as a Q record: ${offenders.mkString("; ")}")
  }

  test("theta and KLL sketches come only from Spark's built-in functions") {
    // Spark ships theta_* and kll_* SQL functions on the same DataSketches
    // jar; a hand-written aggregate over those packages duplicates them
    val banned = raw"org\.apache\.datasketches\.(theta|kll)\b".r
    val root = Paths.get("src/main/scala").toFile
    assert(root.isDirectory, s"$root not found")
    val offenders = scalaFiles(root).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, s"use Spark's theta_*/kll_* built-ins: ${offenders.mkString("; ")}")
  }

  test("JVM case mapping in the program names its locale") {
    // a bare toLowerCase/toUpperCase follows the JVM's default locale
    // (under tr_TR "TITLE" lowercases to "tıtle"), so a JVM twin of a SQL
    // string function would disagree with Spark's; go through
    // Text.tokenize or pass Locale.ROOT
    val bare = raw"\bto(Lower|Upper)Case\b(?!\s*\(\s*[A-Za-z])".r
    val root = Paths.get("src/main/scala").toFile
    assert(root.isDirectory, s"$root not found")
    val offenders = scalaFiles(root).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.zipWithIndex.collect {
        case (line, i) if bare.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, s"default-locale case mapping: ${offenders.mkString("; ")}")
  }

  test("Kafka config honors the reference's dev.properties keys") {
    val conf = graft.io.KafkaAvroIO.loadConf(Map(
      "input.topic.name" -> "in-t", "output.topic.name" -> "out-t",
      "bootstrap.servers" -> "b:9092", "confluent.framed" -> "false"))
    assert(conf.inputTopic == "in-t" && conf.outputTopic == "out-t")
    assert(conf.bootstrap == "b:9092" && !conf.confluentFramed)
    // defaults mirror the reference's serde (Confluent framing on)
    assert(graft.io.KafkaAvroIO.loadConf(Map.empty).confluentFramed)
  }

  test("entry() returns rows on the smoke scale") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("mine_triplets: every triplet has pos_cos >= tau > neg_cos (rank-aligned legs)") {
    val rows = SparkEntry.queries("mine_triplets")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val pos = r.getAs[Double]("pos_cos")
      val neg = r.getAs[Double]("neg_cos")
      assert(pos >= 0.3 && neg < 0.3 && pos > neg, s"bad triplet: $r")
    }
  }

  test("mine_preference_pairs: distinct docs, positive margin, same cluster") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("mine_preference_pairs")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val chosen = r.getAs[Long]("chosen")
      val rejected = r.getAs[Long]("rejected")
      val margin = r.getAs[Double]("margin")
      assert(chosen != rejected, s"self-pair: $r")
      assert(margin > 0 &&
        math.abs(margin - (r.getAs[Double]("chosen_score") -
          r.getAs[Double]("rejected_score"))) < 1e-6, s"bad margin: $r")
      assert(r.getAs[Long]("n_variants") >= 2, s"singleton cluster: $r")
    }
    // both members really belong to the emitting cluster
    val membership = SparkEntry.queries("dedup_clusters_star")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      assert(membership(r.getAs[Long]("chosen")) == cid &&
        membership(r.getAs[Long]("rejected")) == cid, s"cluster mismatch: $r")
    }
  }

  test("dedup_keep_best keeps one doc per family; the audit counts the policy gap") {
    val dir = "/root/testdata/sf0.001"
    val membership = SparkEntry.queries("dedup_clusters_star")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byCluster = membership.groupBy(_._2)
    val kept = SparkEntry.queries("dedup_keep_best")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // exactly one survivor per component (incl. singletons keeping themselves)
    assert(kept.size == byCluster.size)
    assert(kept.map(id => membership.toMap.apply(id)).size == byCluster.size,
      "two survivors share a cluster")
    val audit = SparkEntry.queries("dedup_keep_policy_audit")(spark, dir)
      .collect().head
    val multi = byCluster.count(_._2.length >= 2)
    assert(audit.getAs[Long]("n_clusters") == multi.toLong)
    val nFirstBest = audit.getAs[Long]("n_first_best")
    assert(nFirstBest >= 0 && nFirstBest <= multi)
    assert(math.abs(audit.getAs[Double]("frac_first_best") -
      nFirstBest.toDouble / multi) < 1e-6)
    // switching to best-wins can only gain score mass
    assert(audit.getAs[Double]("mean_uplift") >= 0.0)
  }

  test("pipeline_curate_incremental: admission funnel is monotone and consistent") {
    val rows = SparkEntry.queries("pipeline_curate_incremental")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    var admittedTotal = 0L
    rows.foreach { r =>
      val (nNew, nGated, nAdm) = (r.getAs[Long]("n_new"),
        r.getAs[Long]("n_gated"), r.getAs[Long]("n_admitted"))
      assert(nNew >= nGated && nGated >= nAdm && nNew > 0, s"funnel broken: $r")
      admittedTotal += nAdm
      if (nAdm == 0) {
        assert(r.isNullAt(r.fieldIndex("first_admitted")) &&
          r.getAs[Long]("chars_admitted") == 0L, s"empty-lang sentinel: $r")
      } else {
        // first_admitted is an increment doc (the % 10 == 0 convention)
        assert(r.getAs[Long]("first_admitted") % 10 == 0, s"not increment: $r")
        assert(r.getAs[Long]("chars_admitted") > 0, s"no char mass: $r")
      }
    }
    assert(admittedTotal > 0, "nothing admitted at sf0.001")
  }

  test("pipeline_incremental_manifest: inventories reconcile and both waterfills conserve budget") {
    val rows = SparkEntry.queries("pipeline_incremental_manifest")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("tok_total") ==
        r.getAs[Long]("tok_base") + r.getAs[Long]("tok_incr"), s"mass: $r")
      // epochs_before is NULL for an increment-only language (left-join
      // miss against the base inventory) — getAs[Double] would silently
      // unbox that to 0.0 and fail the range assert with a misleading
      // message, so gate the before/delta checks on presence explicitly
      val ea = r.getAs[Double]("epochs_after")
      assert(ea > 0 && ea <= 4.0, s"epoch range: $r")
      if (!r.isNullAt(r.fieldIndex("epochs_before"))) {
        val eb = r.getAs[Double]("epochs_before")
        assert(eb > 0 && eb <= 4.0, s"epoch range: $r")
        assert(math.abs((ea - eb) - r.getAs[Double]("epochs_delta")) < 1e-12)
      }
    }
    // the waterfill invariant on BOTH allocations: realized token mass
    // equals the 3x-budget exactly (up to IEEE division round-off)
    def conserved(mass: Row => Long, e: Row => Double): Unit = {
      val total = rows.map(mass).sum.toDouble
      val realized = rows.map(r => e(r) * mass(r)).sum
      assert(math.abs(realized - 3 * total) / (3 * total) < 1e-9,
        s"budget not conserved: $realized vs ${3 * total}")
    }
    conserved(_.getAs[Long]("tok_base"), _.getAs[Double]("epochs_before"))
    conserved(_.getAs[Long]("tok_total"), _.getAs[Double]("epochs_after"))
  }

  test("sample_doremi: rates form a mixture and are monotone in loss") {
    val rows = SparkEntry.queries("sample_doremi")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[Double]("loss"), r.getAs[Double]("rate")))
    assert(rows.length >= 2)
    // each rate is 6 dp-rounded, so the sum may drift by <= n half-ulps
    assert(math.abs(rows.map(_._2).sum - 1.0) <= 1e-5 * rows.length,
      s"rates don't sum to 1: ${rows.toSeq}")
    // multiplicative weights upweight lossier domains (round6 preserves
    // weak monotonicity of w = exp-iterates)
    rows.sortBy(_._1).sliding(2).foreach {
      case Array((l1, r1), (l2, r2)) =>
        assert(l1 > l2 || r1 <= r2 + 1e-12, s"rate not monotone: ($l1,$r1) ($l2,$r2)")
      case _ => ()
    }
  }

  test("text_quality_calibration: bins cover the corpus and mean scores sit inside their bins") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("text_quality_calibration")(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.documents(spark, dir).count(), s"bins lose rows: $total")
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val m = r.getAs[Double]("mean_score")
      val lo = bin / 10.0
      val hi = if (bin == 9) 1.0 else (bin + 1) / 10.0
      assert(m >= lo && m <= hi, s"mean_score outside bin: $r")
      val fp = r.getAs[Double]("frac_pos")
      assert(fp >= 0.0 && fp <= 1.0)
    }
  }

  test("emb_centroid_dist: one row per vector, non-negative, non-degenerate") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("emb_centroid_dist")(spark, dir)
      .collect().map(_.getAs[Double]("dist"))
    assert(rows.length == Tables.embeddings(spark, dir).count())
    assert(rows.forall(_ >= 0.0) && rows.max > 0.0)
  }

  test("sample_split_audit: the leak-safe scheme reads zero cross-split pairs, the naive one leaks") {
    val rows = SparkEntry.queries("sample_split_audit")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (nP, nX) = rows("naive_docid")
    val (sP, sX) = rows("leaksafe_cluster")
    assert(nP == sP && nP > 0, s"pair universes differ or empty: $rows")
    assert(sX == 0L, s"leak-safe split leaked pairs: $rows")
    assert(nX > 0L, s"naive split shows no leakage to audit: $rows")
  }

  test("text_langid_confusion: per-label shares sum to 1 and counts cover the corpus") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("text_langid_confusion")(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, dir).count())
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val share = rs.map(_.getAs[Double]("label_share")).sum
      assert(math.abs(share - 1.0) < 1e-9, s"$lang shares sum to $share")
    }
  }

  test("text_quality_sweep: kept counts are monotone non-increasing in the threshold") {
    val rows = SparkEntry.queries("text_quality_sweep")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[Double]("thr"), r.getAs[Long]("n_kept"),
        r.getAs[Double]("frac_kept")))
    assert(rows.nonEmpty)
    rows.sortBy(_._1).sliding(2).foreach {
      case Array((t1, n1, _), (t2, n2, _)) =>
        assert(t1 >= t2 || n1 >= n2, s"kept count rose with threshold: ($t1,$n1) ($t2,$n2)")
      case _ => ()
    }
    rows.foreach { case (_, _, f) => assert(f >= 0.0 && f <= 1.0) }
  }

  test("pipeline_train_manifest: shard realized-token totals equal the unimax realization's") {
    // the manifest's 8 shards partition exactly the realized corpus the
    // unimax sheet accounts (dropped docs contribute 0 to both sides)
    val dir = "/root/testdata/sf0.001"
    val shards = SparkEntry.queries("pipeline_train_manifest")(spark, dir)
      .collect().map(_.getAs[Long]("tok_realized")).sum
    val sheet = SparkEntry.queries("pipeline_curate_unimax")(spark, dir)
      .collect().map(_.getAs[Long]("tok_realized")).sum
    assert(shards == sheet,
      s"manifest realized tokens ($shards) != unimax sheet ($sheet)")
  }

  test("pipeline_curate_shuffled: shard doc counts sum to the curated train count") {
    val dir = "/root/testdata/sf0.001"
    val shuffled = SparkEntry.queries("pipeline_curate_shuffled")(spark, dir)
      .collect().map(_.getAs[Long]("n_docs")).sum
    val train = SparkEntry.queries("pipeline_curate_learned")(spark, dir)
      .filter(org.apache.spark.sql.functions.col("split") === "train")
      .collect().map(_.getAs[Long]("n_docs")).sum
    assert(shuffled == train,
      s"shuffle manifest ($shuffled docs) != curated train split ($train docs)")
  }

  // one sf0.001 Verify dump shared by the contract-shape test and the
  // full oracle gate below — the dump IS the expensive part
  private lazy val verifyOut: String = {
    val out = tempDir("graft-contract")
    Verify.main(Array("/root/testdata/sf0.001", out))
    out
  }

  test("Verify main writes one parquet dir per query plus parseable oracle json") {
    val out = verifyOut
    SparkEntry.queries.keys.foreach { name =>
      assert(Files.exists(Paths.get(out, name)), s"missing output for $name")
    }
    val json = Files.readString(Paths.get(out, "oracle_sql.json"))
    // driver parses with a strict JSON parser; ujson isn't on the test
    // classpath so round-trip through Spark's JSON reader as a proxy
    val parsed = spark.read.json(
      spark.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING))
    assert(parsed.columns.length == SparkEntry.oracleSql.size)
  }

  test("full DuckDB oracle gate passes at sf0.001 (round-8 verdict #8: " +
      "the cross-SF evidence regenerates every round)", Slow) {
    // replicates the driver's value-level compare via tools/oracle_check.py;
    // python3+duckdb live in the dev/driver environment, not the JVM — if
    // they are absent (a stripped CI sandbox) the gate is reported as
    // canceled, never silently green
    import scala.sys.process._
    val hasDuck = Process(Seq("python3", "-c", "import duckdb")).!(
      ProcessLogger(_ => ())) == 0
    assume(hasDuck, "python3/duckdb unavailable — oracle gate needs the driver env")
    val out = new StringBuilder
    val code = Process(
      Seq("python3", "tools/oracle_check.py", "/root/testdata/sf0.001", verifyOut))
      .!(ProcessLogger(l => out.append(l).append('\n')))
    assert(code == 0, s"oracle_check failed:\n${out.toString.takeRight(4000)}")
  }
}
