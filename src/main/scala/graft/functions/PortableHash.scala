package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hash: the first 15 hex chars of md5 parsed
  * as a 60-bit non-negative integer. Bit-identical in Spark
  * (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
  * (`('0x'||substr(md5(x),1,15))::BIGINT`), which is what lets
  * hash-threshold sampling, split assignment, and simhash-style ops be
  * DuckDB-oracle-checked instead of [rows-only].
  *
  * Scale note: md5 is ~3× slower than xxhash64 per row but still ≥10⁷
  * rows/s/core in codegen — IO-dominated at 100 TB. Operators that never
  * face an SQL oracle (internal sampling for ML fits, d2's shingle
  * compaction) keep xxhash64; user-facing deterministic-sampling ops use
  * this so their contract is engine-portable and auditable.
  */
object PortableHash {

  /** 60-bit hash of the column's string form — the native [[MdHash64]]
    * expression (codegen'd, zero intermediate strings). */
  def mdhash64(c: Column): Column =
    GraftShim.column(MdHash64(GraftShim.expression(c.cast("string"))))

  /** Min over the [[mdhash64]] values of every `gram`-char window of
    * the column (the whole clipped string when shorter) — the fused
    * [[MinGramHash]] expression; see its scaladoc for the equivalence
    * contract with the transform/array_min composition. */
  def minGramHash(c: Column, gram: Int): Column =
    GraftShim.column(MinGramHash(GraftShim.expression(c.cast("string")), gram))

  /** Salted bucket in [0, buckets): hash of "<value>:<salt>". */
  def bucket(c: Column, salt: String, buckets: Long): Column =
    pmod(mdhash64(concat(c.cast("string"), lit(":" + salt))), lit(buckets))

  /** DuckDB twin of [[mdhash64]] over a SQL expression. */
  def duckMdhash64(e: String): String =
    s"(('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 15))::BIGINT)"

  /** DuckDB twin of [[bucket]]. */
  def duckBucket(e: String, salt: String, buckets: Long): String =
    s"(${duckMdhash64(s"CAST($e AS VARCHAR) || ':$salt'")} % $buckets)"
}
