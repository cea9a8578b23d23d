package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator/capability from SURVEY.md §2,
  * expressed Spark-first (DataFrame/Dataset + Catalyst). `oracleSql` holds
  * the equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables; queries whose semantics aren't SQL-expressible (e.g. MinHash
  * signatures) omit the oracle and get a rows-only check plus ScalaTest
  * property coverage in src/test.
  */
object SparkEntry {

  val modules: Seq[QueryModule] = Seq(
    Relational,
    WindowOps,
    JoinOps,
    PipelineOps,
    AdvancedOps,
    MultimodalOps,
    GraphOps,
    SinkOps,
    ContinuousGates,
    RetractOps,
    TopKAgg)

  private lazy val all: Seq[GQuery] = modules.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
