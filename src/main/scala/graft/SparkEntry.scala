package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnalyticsOps, BpeOps, CoresetOps, CurationOps, DedupOps, EnrichOps, IngestOps, IvfPqOps, MultimodalOps, PcaOps, PipelineOps, PqOps, Relational, ScriptDedupOps, SimilarityOps, StreamingOps, TextOps, UdfOps, UnigramOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the per-module query maps (one entry per
  * operator in SURVEY.md §2); `oracleSql` carries the DuckDB-equivalent
  * SQL for every query whose semantics are SQL-expressible.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q117 is the composed end-to-end corpus pipeline (exact dedup →
    * LSH near-dup removal → quality gate → chunk → shard) — the engine's
    * O1 "pipeline orchestrator" statement. */
  def entry(spark: SparkSession): DataFrame =
    PipelineOps.queries("q117_corpus_pipeline")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ IngestOps.queries ++ DedupOps.queries ++
      SimilarityOps.queries ++ TextOps.queries ++ MultimodalOps.queries ++
      StreamingOps.queries ++ EnrichOps.queries ++ UdfOps.queries ++
      PipelineOps.queries ++ CurationOps.queries ++ AnalyticsOps.queries ++
      BpeOps.queries ++ PqOps.queries ++ PcaOps.queries ++ CoresetOps.queries ++
      IvfPqOps.queries ++ ScriptDedupOps.queries ++ UnigramOps.queries

  /** Rejects the whole request if any name is not a registered query, so
    * a typo fails before the names ahead of it have run. */
  def requireKnown(names: Iterable[String], source: String): Unit = {
    val unknown = names.toSet.diff(queries.keySet)
    require(unknown.isEmpty,
      s"$source names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ IngestOps.oracle ++ DedupOps.oracle ++
      SimilarityOps.oracle ++ TextOps.oracle ++ MultimodalOps.oracle ++
      StreamingOps.oracle ++ EnrichOps.oracle ++ UdfOps.oracle ++
      PipelineOps.oracle ++ CurationOps.oracle ++ AnalyticsOps.oracle ++
      BpeOps.oracle ++ PqOps.oracle ++ PcaOps.oracle ++ CoresetOps.oracle ++
      IvfPqOps.oracle ++ ScriptDedupOps.oracle ++ UnigramOps.oracle
}
