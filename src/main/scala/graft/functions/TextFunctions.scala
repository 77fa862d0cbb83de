package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text primitives shared by the dedup / text-analysis operators.
  *
  * All of these are compositions of built-in, codegen'd Catalyst functions —
  * no UDFs — so they inline into whole-stage codegen and stay deterministic
  * across engines (the DuckDB oracle re-expresses the same md5-based hash).
  *
  * The reference's only text handling is user-supplied decoders (UTF-8 +
  * split(","), /root/reference/src/it/scala/ReadOnlyTableSpec.scala:28-35);
  * the operators built on these helpers are the [EXT] training-data-pipeline
  * surface mandated by BASELINE.json.
  */
object TextFunctions {

  /** Whitespace tokenization (fixtures are single-space separated). */
  def wsTokens(c: Column): Column = split(c, " ")

  /** Deterministic 60-bit non-negative hash usable identically in DuckDB:
    * first 15 hex chars of md5 → BIGINT. (`('0x' || substr(md5(x),1,15))::BIGINT`
    * on the oracle side.) 60 bits keeps it positive and exact in a Long.
    * Computed off the digest bytes directly (see [[Md5Hash60]]); equality
    * with the conv/substring formulation is spec-pinned.
    */
  def hash60(c: Column): Column = Md5Hash60.hash60(c)

  /** The SQL-built-ins formulation of [[hash60]] (kept for the equality
    * spec and as the form a pure-SQL user would write).
    */
  def hash60Sql(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** "BPE-ish" subword token count: word chars runs + single punctuation
    * marks, via one regexp pass (same RE2/Java-compatible pattern as the
    * oracle's `regexp_extract_all`).
    */
  def bpeishCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\w+|[^\\w\\s]"), lit(0)))
}
