package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

/** Column-level text helpers shared by the dedup / text-analysis operators.
  *
  * Everything here composes built-in or native codegen'd expressions — no
  * UDFs — so whole-stage codegen stays intact across the pipelines that
  * use them. Definitions are deliberately simple enough to re-express in
  * ANSI SQL for the DuckDB oracles ([[tokensSql]]).
  */
object Text {

  private val NonAlnum = UTF8String.fromString("[^a-z0-9]+")

  /** Lowercased alphanumeric tokens; empty strings filtered out. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** JVM twin of [[tokens]] for code that holds a `String` instead of a
    * column: Spark's own `lower` kernel with the session's ICU
    * case-mapping setting (never the JVM's default-locale lowercasing),
    * the same `UTF8String.split` and the same drop-empty, so a streaming
    * twin tokenizes exactly as its batch query does.
    */
  def tokenize(s: String): Array[String] = {
    val useIcu = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    val lowered = CollationSupport.Lower.exec(UTF8String.fromString(s),
      CollationFactory.UTF8_BINARY_COLLATION_ID, useIcu)
    lowered.split(NonAlnum, -1).iterator.filter(_.numBytes > 0).map(_.toString).toArray
  }

  /** [[tokens]] in DuckDB SQL, for the oracles. */
  def tokensSql(textCol: String): String =
    s"list_filter(string_split_regex(lower($textCol), '[^a-z0-9]+'), x -> x != '')"

  /** Distinct word n-gram shingles from a token array column; a document
    * shorter than `n` tokens is one shingle, its tokens joined. Callers
    * should still project `tokens(text)` into a named column first: the
    * token array is referenced three times here, and an inlined
    * tokenizer would run its regex split once per reference.
    */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    array_distinct(when(size(toks) >= n, WordNgrams.of(toks, n))
      .otherwise(array(array_join(toks, " "))))

  /** Convenience one-shot form — only for small inputs / tests; hot paths
    * must use the two-step projection (see [[shinglesOfTokens]]).
    */
  def shingles(text: Column, n: Int): Column = shinglesOfTokens(tokens(text), n)

  /** Cosine similarity of two numeric arrays, accumulated in array order
    * in double precision (bit-deterministic). Backed by the native
    * [[DotProduct]] codegen expression; callers on hot pair-join paths
    * should precompute norms with [[VectorOps.norm]] before the join.
    */
  def cosine(a: Column, b: Column): Column =
    VectorOps.dot(a, b) / (VectorOps.norm(a) * VectorOps.norm(b))
}
