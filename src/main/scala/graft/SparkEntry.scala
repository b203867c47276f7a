package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.DemoApp
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * Runs the full engine (catalog scan -> trifecta generation -> view
    * registration) and then a multi-join analytic over the generated SAFE
    * views: revenue by nation through LMS_lineitem/LMS_orders/LMS_customer
    * (soft-deleted orders excluded, PII redacted).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    DemoApp.build(spark, dir)
    spark.read.parquet(s"$dir/nation.parquet").createOrReplaceTempView("nation_dim")
    spark.sql("""
      SELECT /*+ BROADCAST(n) */ n.n_name AS nation,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             count(DISTINCT o.o_orderkey) AS n_orders
      FROM LMS_lineitem l
      JOIN LMS_orders o ON l.l_orderkey = o.o_orderkey
      JOIN LMS_PII_customer c ON o.o_custkey = c.c_custkey
      JOIN nation_dim n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
      ORDER BY revenue DESC
    """)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ReferenceQueries.queries ++ AnalyticsQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++ SimilarityQueries.queries ++
      MultimodalQueries.queries ++ SqlSurfaceQueries.queries ++ PipelineQueries.queries ++
      CdcQueries.queries ++ RagQueries.queries ++ ServeAllQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ReferenceQueries.oracleSql ++ AnalyticsQueries.oracleSql ++
      TextQueries.oracleSql ++ DedupQueries.oracleSql ++ SimilarityQueries.oracleSql ++
      MultimodalQueries.oracleSql ++ SqlSurfaceQueries.oracleSql ++ PipelineQueries.oracleSql ++
      CdcQueries.oracleSql ++ RagQueries.oracleSql ++ ServeAllQueries.oracleSql
}
