package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016 merge-pair
  * BPE) re-shaped for a distributed engine, plus the matching corpus
  * encoder — the tokenization-side operator family of an LLM data
  * pipeline (the reference repo, a 2-file Kafka Streams reorder demo,
  * has no tokenizer; this follows the standard published algorithm).
  *
  * Algorithm: pre-tokenize the corpus into words ([[graft.functions
  * .Text.tokens]] — lowercase alphanumeric runs), count word
  * frequencies, explode each distinct word into a character-symbol
  * sequence, then repeat `nMerges` times: count adjacent symbol pairs
  * weighted by word frequency, pick the most frequent pair (ties break
  * lexicographically on the pair), and greedily merge every
  * left-to-right occurrence of that pair in every word.
  *
  * Scale shape — the discipline is the same bounded-driver-loop contract
  * as [[Percentiles]] / [[Pca]]:
  *
  *  - ONE corpus-scale shuffle total (the word-frequency hash agg,
  *    map-side combined). Every training round after that runs over the
  *    DISTINCT-WORD table — vocabulary-scale, orders of magnitude
  *    smaller than the corpus and independent of corpus growth once the
  *    vocabulary saturates (Heaps' law).
  *  - Per round: one map-side-combined pair-count agg over the word
  *    table and ONE collected row (the arg-max pair). The driver holds
  *    only the merge table — `nMerges` rows, never data.
  *  - The merge application is a higher-order `aggregate` fold over each
  *    word's symbol array — pure Tungsten expression, no UDF — and each
  *    round's result is `localCheckpoint(eager)`-materialized so plan
  *    lineage stays flat across rounds (the [[Dedup.clusterIds]]
  *    pattern), with the predecessor's blocks released once the
  *    successor is live.
  *  - Encoding joins corpus words to the trained segmentation table:
  *    corpus-scale explode + one join against the vocabulary-scale
  *    segment table (AQE broadcasts it when it fits) — per-document
  *    re-segmentation work is never repeated per occurrence.
  *
  * Greedy-merge contract (what the oracle must reproduce): one pass per
  * merge, scanning left to right; after a pair merges, the merged token
  * cannot be the LEFT side of another application of the same pair in
  * that pass (`lhs + rhs != lhs` since `rhs` is non-empty), so a run of
  * k consecutive matches merges at positions 1,3,5… of the run —
  * "aaaa" under (a,a) becomes [aa, aa], not [aa, a, a]. The Spark side
  * implements this as the accumulator fold below; the generated DuckDB
  * oracle implements it positionally (run-parity over consecutive match
  * positions) — both are the same function, and the hash compare pins
  * them to each other at two scale factors.
  */
object Bpe {

  /** One learned merge: `idx` is the training round (= application
    * priority), `cnt` the weighted pair count at selection time.
    */
  final case class Merge(idx: Long, lhs: String, rhs: String, cnt: Long)

  /** (word, freq) over the tokenized corpus — the single corpus-scale
    * pass of training.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Characters of a word as array<string> (tokens are ASCII [a-z0-9],
    * so character == byte == codepoint on both engines).
    */
  private def chars(word: Column): Column =
    transform(sequence(lit(1), length(word)), j => word.substr(j, lit(1)))

  /** Adjacent-pair structs of a symbol array; empty for 1-symbol words
    * (Spark's `sequence(1, 0)` DESCENDS, so the short case must be
    * guarded explicitly, not left to the sequence bounds).
    */
  private def adjacentPairs(syms: Column): Column = {
    val emptyIdx = slice(sequence(lit(1), lit(1)), 1, 0)
    val idx = when(size(syms) >= 2, sequence(lit(1), size(syms) - 1))
      .otherwise(emptyIdx)
    transform(idx, j => struct(element_at(syms, j).as("a"),
      element_at(syms, j + 1).as("b")))
  }

  /** Greedy left-to-right application of one merge to a symbol array:
    * fold each symbol into an accumulator, replacing the accumulator's
    * tail with `lhs+rhs` whenever (tail, next) == (lhs, rhs). Equivalent
    * to the positional run-parity rule (see class doc) because a merged
    * token can never equal `lhs` again within the pass.
    */
  private[graft] def applyMerge(syms: Column, lhs: String, rhs: String): Column =
    aggregate(syms, slice(syms, 1, 0), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(lhs) && s === lit(rhs),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(lhs + rhs))))
        .otherwise(concat(acc, array(s))))

  /** See [[Dedup]] — release the pinned RDD behind an eager
    * localCheckpoint once its successor round is materialized, so
    * repeated training runs don't accumulate block-store debt.
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
      case _ => ()
    }

  /** Train `nMerges` merges; returns the merge list (driver-sized) and
    * the final (word, freq, syms) segmentation table (vocabulary-scale,
    * eagerly materialized). Stops early if the corpus runs out of
    * adjacent pairs. Callers that keep the segment table must release
    * it via `unpersistSegments` when done.
    */
  private[graft] def trainWithSegments(docs: DataFrame, textCol: String,
      nMerges: Int): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1, "nMerges must be positive")
    var words = wordCounts(docs, textCol)
      .withColumn("syms", chars(col("word")))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val top = words
        .select(explode(adjacentPairs(col("syms"))).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // exactly one row — the arg-max pair
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += Merge(i.toLong, a, b, cnt)
        val next = words
          .withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint(true)
        releaseCheckpoint(words)
        words = next
        i += 1
      }
    }
    (merges.result(), words)
  }

  private[graft] def unpersistSegments(words: DataFrame): Unit =
    releaseCheckpoint(words)

  /** The learned merge list rendered as the (merge_idx, lhs, rhs,
    * merged, n_pairs) table — the serving half of [[train]], shared
    * with session-cached callers that already hold the merges.
    */
  private[graft] def mergesDf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge]): DataFrame =
    spark.createDataFrame(merges.map(m =>
        (m.idx, m.lhs, m.rhs, m.lhs + m.rhs, m.cnt)))
      .toDF("merge_idx", "lhs", "rhs", "merged", "n_pairs")
      .orderBy(col("merge_idx"))

  /** The learned merge table as a DataFrame: (merge_idx, lhs, rhs,
    * merged, n_pairs), ordered by training round.
    */
  def train(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    val (merges, words) = trainWithSegments(docs, textCol, nMerges)
    unpersistSegments(words)
    mergesDf(spark, merges)
  }

  /** Encode a corpus against an ALREADY-TRAINED segment table: per
    * document, the word count and the BPE token count. The serving half
    * of [[trainAndEncode]] — callers that hold a session-cached segment
    * table (which stays pinned) pay only the one corpus scan + the
    * vocabulary-scale join here. Does NOT release `words`.
    */
  private[graft] def encodeFrom(words: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val segSizes = words.select(col("word"), size(col("syms")).cast("long").as("_n"))
    docs.select(col(idCol),
        explode(Text.tokens(col(textCol))).as("word"))
      // explicit: the segment table is vocabulary-scale (Heaps' law) —
      // pin the no-corpus-shuffle shape rather than leave it to stats
      .join(broadcast(segSizes), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_n")).as("n_bpe_tokens"))
      .orderBy(col(idCol))
  }

  /** Train on the corpus, then encode it: per document, the word count
    * and the BPE token count under the learned merges. Documents with no
    * tokens produce no row (both engines drop them identically).
    */
  def trainAndEncode(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int): DataFrame = {
    val (_, words) = trainWithSegments(docs, textCol, nMerges)
    val out = encodeFrom(words, docs, idCol, textCol)
      // eager: the per-doc result (docs-sized, two longs per row) is far
      // smaller than the segment table it joins against; materializing
      // it here lets the vocabulary-scale checkpoint release immediately
      // instead of staying pinned until the caller consumes the plan
      .localCheckpoint(true)
    unpersistSegments(words)
    out
  }

  /** Tokenizer fertility by group (language/domain): BPE tokens per
    * word under the merges trained on THIS corpus — the standard
    * tokenizer-equity audit (a vocabulary trained on skewed data
    * fragments low-resource languages into more tokens per word, so
    * their documents cost more context budget for the same text).
    * Emits per group the exact word and BPE-token counts plus
    * `fertility` = n_bpe_tokens / n_words — one IEEE division of exact
    * longs, so the unrolled DuckDB oracle replays it bit-identically.
    *
    * Scale shape: training is [[train]]'s vocabulary-scale loop; the
    * fertility pass is ONE corpus scan joined (broadcast — the segment
    * table is vocabulary-sized) to per-word segment lengths, into a
    * group-keyed hash agg. No corpus shuffle.
    */
  def fertility(docs: DataFrame, groupCol: String, textCol: String,
      nMerges: Int): DataFrame = {
    val (_, words) = trainWithSegments(docs, textCol, nMerges)
    val out = fertilityFrom(words, docs, groupCol, textCol)
      .localCheckpoint(true) // group-scale; frees the segment table eagerly
    unpersistSegments(words)
    out
  }

  /** [[fertility]]'s serving pass against an already-trained segment
    * table — one corpus scan, one broadcast of the vocabulary-scale
    * segment lengths, group-keyed hash agg. Does NOT release `words`.
    */
  private[graft] def fertilityFrom(words: DataFrame, docs: DataFrame,
      groupCol: String, textCol: String): DataFrame = {
    val segSizes = words.select(col("word"), size(col("syms")).cast("long").as("_n"))
    docs.select(col(groupCol),
        explode(Text.tokens(col(textCol))).as("word"))
      .join(broadcast(segSizes), Seq("word"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_n")).as("n_bpe_tokens"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
      .orderBy(col(groupCol))
  }

  /** The symbol vocabulary after training: every surviving symbol with
    * its frequency-weighted occurrence count and raw position count
    * across the segmented word table — the tokenizer artifact a serving
    * stack ships (vocabulary-scale: base characters + ≤ nMerges merged
    * tokens).
    */
  def vocab(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val (_, words) = trainWithSegments(docs, textCol, nMerges)
    val out = vocabFrom(words)
      .localCheckpoint(true) // tiny; frees the segment table eagerly
    unpersistSegments(words)
    out
  }

  /** [[vocab]]'s serving pass against an already-trained segment table
    * (vocabulary-scale explode + hash agg). Does NOT release `words`.
    */
  private[graft] def vocabFrom(words: DataFrame): DataFrame =
    words
      .select(explode(col("syms")).as("token"), col("freq"))
      .groupBy(col("token"))
      .agg(sum(col("freq")).as("n_occurrences"),
        count(lit(1)).as("n_positions"))
      .orderBy(col("token"))

  // ---------------------------------------------------------- oracle SQL

  /** Tokenizer + char-split base CTE (w0). MATERIALIZED: every iteration
    * references its predecessor twice (pair count + merge apply), and an
    * inlined CTE chain would re-evaluate the whole prefix per reference
    * — exponential in `nMerges`.
    */
  private def baseCte(table: String, textCol: String): String =
    s"""w0 AS MATERIALIZED (
       |  SELECT word, freq,
       |    list_transform(generate_series(1, length(word)), j -> word[j:j]) AS syms
       |  FROM (SELECT g AS word, count(*) AS freq FROM (
       |    SELECT unnest(${Text.tokensSql(textCol)}) AS g
       |    FROM $table) GROUP BY g))""".stripMargin

  /** One unrolled training iteration: arg-max pair m{i} (same count and
    * tie-break as the Spark side), then the positional greedy merge —
    * `mt` marks match positions, `st` (merge starts) are the
    * even-offset positions of each consecutive-match run, `consumed`
    * drops the symbol swallowed by the merge to its left.
    */
  private def iterCtes(i: Int): String = {
    val (w, m, x, y, z, w1) =
      (s"w$i", s"m$i", s"x$i", s"y$i", s"z$i", s"w${i + 1}")
    s"""$m AS MATERIALIZED (
       |  SELECT syms[j] AS a, syms[j+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM $w, unnest(generate_series(1, len(syms)-1)) AS t(j)
       |  GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
       |$x AS (
       |  SELECT word, freq, j, syms[j] AS s,
       |    coalesce(j < len(syms) AND syms[j] = (SELECT a FROM $m)
       |      AND syms[j+1] = (SELECT b FROM $m), FALSE) AS mt
       |  FROM $w, unnest(generate_series(1, len(syms))) AS t(j)),
       |$y AS (
       |  SELECT *, CASE WHEN mt THEN
       |      (j - min(j) OVER (PARTITION BY word, grp)) % 2 = 0
       |    ELSE FALSE END AS st
       |  FROM (SELECT *, CASE WHEN mt THEN j - row_number()
       |          OVER (PARTITION BY word, mt ORDER BY j) END AS grp
       |        FROM $x)),
       |$z AS (
       |  SELECT *, coalesce(lag(st) OVER (PARTITION BY word ORDER BY j),
       |    FALSE) AS consumed
       |  FROM $y),
       |$w1 AS MATERIALIZED (
       |  SELECT word, freq,
       |    list(CASE WHEN st THEN s || (SELECT b FROM $m) ELSE s END
       |      ORDER BY j) AS syms
       |  FROM $z WHERE NOT consumed GROUP BY word, freq)""".stripMargin
  }

  /** Full unrolled training oracle: the merge table after `nMerges`
    * rounds (early exhaustion yields fewer rows on both engines).
    */
  def trainSql(table: String, textCol: String, nMerges: Int): String = {
    val ctes = (baseCte(table, textCol) +:
      (0 until nMerges).map(iterCtes)).mkString(",\n")
    val rows = (0 until nMerges).map { i =>
      s"SELECT CAST($i AS BIGINT) AS merge_idx, a AS lhs, b AS rhs, " +
        s"a || b AS merged, cnt AS n_pairs FROM m$i"
    }.mkString(" UNION ALL ")
    s"WITH $ctes\nSELECT * FROM ($rows) ORDER BY merge_idx"
  }

  /** Full unrolled vocabulary oracle: re-derives the same merges, then
    * explodes the final segmentation table.
    */
  def vocabSql(table: String, textCol: String, nMerges: Int): String = {
    val ctes = (baseCte(table, textCol) +:
      (0 until nMerges).map(iterCtes)).mkString(",\n")
    s"""WITH $ctes
       |SELECT s AS token, CAST(sum(freq) AS BIGINT) AS n_occurrences,
       |  count(*) AS n_positions
       |FROM (SELECT freq, unnest(syms) AS s FROM w$nMerges)
       |GROUP BY s ORDER BY token""".stripMargin
  }

  /** Full unrolled encode oracle: re-derives the same merges, then joins
    * corpus words to the final segmentation table.
    */
  def encodeSql(table: String, idCol: String, textCol: String,
      nMerges: Int): String = {
    val ctes = (baseCte(table, textCol) +:
      (0 until nMerges).map(iterCtes)).mkString(",\n")
    s"""WITH $ctes,
       |enc AS (
       |  SELECT d.$idCol, len(w.syms) AS n
       |  FROM (SELECT $idCol, unnest(${Text.tokensSql(textCol)}) AS word
       |        FROM $table) d
       |  JOIN w$nMerges w USING (word))
       |SELECT $idCol, count(*) AS n_words,
       |  CAST(sum(n) AS BIGINT) AS n_bpe_tokens
       |FROM enc GROUP BY $idCol ORDER BY $idCol""".stripMargin
  }

  /** Full unrolled fertility oracle: [[encodeSql]]'s join grouped by
    * `groupCol` instead of the doc id, plus the one exact-long division.
    */
  def fertilitySql(table: String, groupCol: String, textCol: String,
      nMerges: Int): String = {
    val ctes = (baseCte(table, textCol) +:
      (0 until nMerges).map(iterCtes)).mkString(",\n")
    s"""WITH $ctes,
       |enc AS (
       |  SELECT d.$groupCol, len(w.syms) AS n
       |  FROM (SELECT $groupCol, unnest(${Text.tokensSql(textCol)}) AS word
       |        FROM $table) d
       |  JOIN w$nMerges w USING (word))
       |SELECT $groupCol, count(*) AS n_words,
       |  CAST(sum(n) AS BIGINT) AS n_bpe_tokens,
       |  CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS fertility
       |FROM enc GROUP BY $groupCol ORDER BY $groupCol""".stripMargin
  }
}
