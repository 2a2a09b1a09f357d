package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{Relational => Rel}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Rel.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every entry
    * runs under a [[graft.queries.QueryScope.scoped]] cache scope (r15):
    * held intermediates park at scope exit and die at the next gated
    * call or one explicit `QueryScope.releaseAll()`.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Rel.all ++ graft.queries.TextDedup.all ++ graft.queries.Embeddings.all ++
      graft.queries.Events.all ++ graft.multimodal.Multimodal.all ++
      graft.queries.Survival.all ++ graft.queries.Ingest.all

  /** The UNSCOPED registry — plan-inspection specs (`BoundedWindowSpec`)
    * walk the plans it builds. Building a frame executes nothing, except
    * that the survival cohort queries (v1, v3–v14) collect their cohort
    * and return a local relation, and v12's reference plan runs its
    * Newton steps when it is built.
    */
  private[graft] def rawQueries: Map[String, (SparkSession, String) => DataFrame] =
    Rel.raw ++ graft.queries.TextDedup.raw ++ graft.queries.Embeddings.raw ++
      graft.queries.Events.raw ++ graft.multimodal.Multimodal.raw ++
      graft.queries.Survival.raw ++ graft.queries.Ingest.raw

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Oracles.all ++ OraclesText.all
}
