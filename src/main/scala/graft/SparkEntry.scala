package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory: relational coverage (SURVEY §2.B),
  * LLM-pipeline ops (dedup / similarity / text / multimodal), streaming,
  * and the graft columnar format round-trips. Every entry with a matching
  * `oracleSql` is hash-checked against DuckDB by the driver.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
      operators.TextOps.queries ++
      operators.Similarity.queries ++
      operators.Multimodal.queries ++
      operators.FormatOps.queries ++
      streaming.StreamOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (LSH banding, custom expressions) → driver records rows-only checks. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracle ++
      operators.TextOps.oracle ++
      operators.Similarity.oracle ++
      operators.Multimodal.oracle ++
      operators.FormatOps.oracle ++
      streaming.StreamOps.oracle
}
