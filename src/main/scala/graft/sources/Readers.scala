package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch sources with enforced schemas (SURVEY.md §2 source/sink
  * surface; reference ingests JSON records — app3_ML.py:34-63 — and
  * graft generalizes to the formats a data pipeline actually stores).
  *
  * Schema is always explicit: inference costs a full extra pass over
  * 100 TB and silently drifts when the data does. Malformed rows are
  * dropped (`DROPMALFORMED`), matching the reference's dropna
  * validation; switch to PERMISSIVE + corrupt-record column when a
  * quarantine stream is needed.
  */
object Readers {

  def parquet(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  def csv(s: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    s.read.schema(schema)
      .option("header", header.toString)
      .option("mode", "DROPMALFORMED")
      .csv(path)

  def jsonl(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema)
      .option("mode", "DROPMALFORMED")
      .json(path)
}

/** Sinks: partitioned columnar batch writes. */
object Sinks {

  /** Parquet partitioned by low-cardinality columns (e.g. date, source):
    * partition pruning makes downstream scans read only matching
    * directories. Caller controls file sizing with
    * `df.repartition(partitionCols)` first if needed. */
  def parquetPartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val w: DataFrameWriter[Row] = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }
}
