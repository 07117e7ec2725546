package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftShims, MinHashExpr, ShingleHashesExpr}
import org.apache.spark.sql.types.LongType

/** Deterministic, engine-portable primitives shared by the dedup / similarity
  * / text operators.
  *
  * Everything here is chosen so an independent SQL engine (the correctness
  * oracle) can reproduce results bit-for-bit:
  *  - `hash60` = first 60 bits (big-endian) of md5, as a non-negative BIGINT —
  *    the same value as `CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)`.
  *    md5 is stable across platforms, 60 bits always fits a signed long.
  *  - word shingles are plain space-joined word k-grams over `split(text,' ')`.
  *
  * All expressions are codegen'd built-ins or codegen'd `graftshim`
  * expressions (no UDFs), so they stay inside whole-stage codegen on the
  * 100 TB path.
  */
object Portable {

  /** First 60 bits of md5(utf8(c)) as a non-negative long. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast(LongType)

  /** Seeded variant: independent hash families from one md5 core. */
  def hash60(seed: Int, c: Column): Column =
    hash60(concat(lit(s"$seed:"), c))

  /** The DuckDB-SQL text of [[hash60]] for oracle generation. */
  def hash60Sql(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 15)) AS BIGINT)"

  def hash60Sql(seed: Int, expr: String): String =
    hash60Sql(s"concat('$seed:', $expr)")

  // ---- universal-hash family (one digest, k arithmetic derivations) ----
  //
  // MinHash needs k independent hash functions per shingle. Hashing k times
  // (md5 per family member) makes the digest the dominant cost of the whole
  // dedup pipeline; the standard fix is ONE base digest h per value and a
  // universal family h_i = (a_i * h + b_i) mod P on top — same collision
  // guarantees (Carter–Wegman), k-fold fewer digests.

  /** Family modulus: 2^31 - 1 (Mersenne prime). With h reduced mod P first,
    * `a_i * h + b_i` stays below 2^62 — exact in BIGINT everywhere, so Spark
    * and the SQL oracle can never diverge on overflow semantics. */
  val UHPrime: Long = 2147483647L

  /** JVM twin of [[hash60]] (first 15 hex chars of md5 as a long) — shared
    * so driver-side featurization (e.g. classifier training) can never
    * desynchronize from the distributed bucket expression. */
  private[graft] def md5Long(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Multiplier of family member i, in [1, P-1] — fixed engine-independent
    * constants (derived from md5 JVM-side, embedded as literals in both the
    * Spark plan and the oracle SQL). */
  def uhA(i: Int): Long = md5Long(s"uh:a:$i") % (UHPrime - 1) + 1

  /** Offset of family member i, in [0, P-1]. */
  def uhB(i: Int): Long = md5Long(s"uh:b:$i") % UHPrime

  /** Family member i over a base-hash column already reduced mod [[UHPrime]]. */
  def uhash(i: Int, hm: Column): Column =
    (lit(uhA(i)) * hm + lit(uhB(i))) % UHPrime

  /** Base-hash column for the family: hash60 reduced mod [[UHPrime]]. */
  def uhashBase(c: Column): Column = hash60(c) % UHPrime

  /** DuckDB-SQL of [[uhash]] over an expression holding the reduced base hash. */
  def uhashSql(i: Int, hmExpr: String): String =
    s"(${uhA(i)} * $hmExpr + ${uhB(i)}) % $UHPrime"

  /** DuckDB-SQL of [[uhashBase]]. */
  def uhashBaseSql(expr: String): String = s"(${hash60Sql(expr)} % $UHPrime)"

  /** Whitespace word tokens (documents.text is single-space separated). */
  def words(text: Column): Column = split(text, " ")

  /** Word k-gram shingles: `size-k+1` space-joined k-grams, empty array when
    * the doc has fewer than k words. The dedup unit everywhere (order-aware,
    * unlike raw token sets, which degenerate on small vocabularies). */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = words(text)
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k), i => concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** The sorted, distinct [[uhashBase]] values of `text`'s word k-grams:
    * `array_sort(array_distinct(transform(wordShingles(text, k), uhashBase)))`,
    * computed in one compiled pass per row
    * ([[org.apache.spark.sql.graftshim.ShingleHashesExpr]]) with no gram
    * string built. Empty for a null text or one of fewer than k words. */
  def shingleHashes(text: Column, k: Int): Column =
    GraftShims.column(ShingleHashesExpr(GraftShims.expr(text), k))

  /** MinHash signature of a [[shingleHashes]] array: element i is the
    * minimum of [[uhash]]`(i, h)` over its members, for i < numHashes, in
    * one pass ([[org.apache.spark.sql.graftshim.MinHashExpr]]). */
  def minHash(hms: Column, numHashes: Int): Column = {
    val idx = 0 until numHashes
    GraftShims.column(MinHashExpr(GraftShims.expr(hms), idx.map(uhA), idx.map(uhB), UHPrime))
  }

  /** DuckDB-SQL for [[wordShingles]] over column `text` (1-based lists). */
  def wordShinglesSql(k: Int): String = {
    val terms = (0 until k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"CASE WHEN len(toks) >= $k THEN list_transform(range(1, len(toks) - ${k - 2}), i -> $terms) ELSE [] END"
  }
}
