package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.plans.DialectParser

/** Engine facade — the Spark-native equivalent of the reference's
  * `SessionContext` (datafusion/core/src/execution/context/mod.rs:611):
  * table registration, SQL entry point, prepared-statement parameters, an
  * information_schema surface and EXPLAIN.
  *
  * `sql` is `spark.sql`: the reference dialect Spark's parser lacks —
  * `QUALIFY` (sqllogictest/test_files/qualify.slt), `DISTINCT ON`
  * (DataFrame distinct_on, dataframe/mod.rs:963), the `~` operators,
  * `* EXCLUDE` — is read by `graft.plans.DialectParser`, the parser every
  * graft session carries. Only PREPARE/EXECUTE/DEALLOCATE are handled here.
  */
class DFContext(val spark: SparkSession) {

  /** Register a file-backed table; format inferred from the extension
    * (parquet/csv/json), mirroring CREATE EXTERNAL TABLE
    * (reference: sql/src/parser.rs:245). */
  def register(name: String, path: String): Unit = {
    val df =
      if (path.endsWith(".csv")) spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      else if (path.endsWith(".json")) spark.read.json(path)
      else Tables.readParquet(spark, path)
    df.createOrReplaceTempView(name)
  }

  def registerTable(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  /** Register every fixture table from a scale-factor directory. */
  def registerAll(dir: String): Unit = Tables.registerAll(spark, dir)

  def table(name: String): DataFrame = spark.table(name)

  /** SQL-level prepared statements (reference: PREPARE/EXECUTE/DEALLOCATE
    * in sql/src/planner — `$1`-style positional placeholders; exercised by
    * sqllogictest/test_files/prepare.slt). The plan text is stored at
    * PREPARE time and placeholders are bound to literal argument text at
    * EXECUTE; optional declared types become explicit CASTs. */
  private val preparedStmts =
    scala.collection.concurrent.TrieMap.empty[String, (String, Seq[String])]

  private val PrepareRe =
    """(?is)^\s*PREPARE\s+(\w+)\s*(\(((?:[^()]|\([^()]*\))*)\))?\s*AS\s+(.+)$""".r
  private val ExecuteRe =
    """(?is)^\s*EXECUTE\s+(\w+)\s*(\((.*)\))?\s*$""".r
  private val DeallocRe =
    """(?is)^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*$""".r

  def sql(query: String): DataFrame = query.replaceAll(";\\s*$", "") match {
    case PrepareRe(name, _, types, body) =>
      val declared = Option(types).toSeq.flatMap(DialectParser.splitArgs).filter(_.nonEmpty)
      preparedStmts(name.toLowerCase) = (body, declared)
      spark.emptyDataFrame
    case ExecuteRe(name, _, argText) =>
      val (body, declared) = preparedStmts.getOrElse(name.toLowerCase,
        throw new IllegalArgumentException(s"prepared statement $name not found"))
      val args = Option(argText).toSeq.flatMap(DialectParser.splitArgs).filter(_.nonEmpty)
      // Bind each `$n` word token ($1 never fires inside $10, nor inside a
      // string literal or quoted identifier); an index past the supplied
      // arguments is a loud error, not silent text corruption.
      val bound = DialectParser.lex(body).filter { t =>
        t.kind == 'w' && body.substring(t.start, t.end).matches("\\$\\d+")
      }.foldRight(body) { (t, b) =>
        val i = body.substring(t.start + 1, t.end).toInt - 1
        if (i < 0 || i >= args.size) throw new IllegalArgumentException(
          s"EXECUTE $name: placeholder ${body.substring(t.start, t.end)} but only ${args.size} argument(s) supplied")
        val arg = if (declared.lift(i).exists(_.nonEmpty)) s"CAST(${args(i)} AS ${declared(i)})" else args(i)
        b.substring(0, t.start) + arg + b.substring(t.end)
      }
      spark.sql(bound)
    case DeallocRe(name) =>
      preparedStmts.remove(name.toLowerCase)
      spark.emptyDataFrame
    case q => spark.sql(q)
  }

  /** Prepared-statement surface (reference: Expr::Placeholder,
    * dataframe with_param_values — dataframe/mod.rs:2384): named `:name`
    * placeholders bound via Spark's parameterized SQL (literal-safe). */
  def sqlWithParams(query: String, params: Map[String, Any]): DataFrame =
    spark.sql(query, params.view.mapValues(lit).toMap)

  /** information_schema.tables equivalent
    * (reference: catalog/src/information_schema.rs:77). Pass a database
    * name to list that schema's persistent tables/views. */
  def informationSchemaTables(db: String = null): DataFrame = {
    import spark.implicits._
    val listed = if (db == null) spark.catalog.listTables()
    else spark.catalog.listTables(db)
    listed.select($"name".as("table_name"), $"tableType".as("table_type"),
      $"isTemporary".as("is_temporary"))
  }

  /** information_schema.schemata equivalent — the catalog→schema level of
    * the reference's catalog hierarchy (catalog/src/catalog.rs,
    * catalog/src/memory/). */
  def informationSchemaSchemata(): DataFrame = {
    import spark.implicits._
    spark.catalog.listDatabases().select($"name".as("schema_name"))
  }

  /** information_schema.columns for one table. */
  def informationSchemaColumns(tableName: String): DataFrame = {
    import spark.implicits._
    spark.catalog.listColumns(tableName)
      .select($"name".as("column_name"), $"dataType".as("data_type"),
        $"nullable".as("is_nullable"))
  }

  /** EXPLAIN surface (reference: ExplainExec — physical-plan/src/explain.rs:39). */
  def explain(query: String, mode: String = "formatted"): String =
    sql(query).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  /** EXPLAIN ANALYZE: execute the query and render the FINAL physical plan
    * (post-AQE) with each operator's runtime SQL metrics — rows produced,
    * spill/shuffle bytes, timings — the reference's AnalyzeExec surface
    * (physical-plan/src/analyze.rs:46). Execution runs distributed
    * (`toRdd.foreach`); only metric values come back to the driver. A
    * query run under the small-input profile prints the profile's line,
    * then its statically planned inner plan. */
  def explainAnalyze(query: String): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = sql(query)
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ())
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec =>
        walk(q.plan, depth)
      case s: graft.plans.SmallInputExec =>
        sb.append("  " * depth).append(s.nodeName).append(" [").append(s.profile).append("]\n")
        walk(s.executed, depth + 1)
      case _ =>
        val ms = p.metrics.toSeq.sortBy(_._1)
          .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
        sb.append("  " * depth).append(p.nodeName)
        if (ms.nonEmpty) sb.append(s" [$ms]")
        sb.append('\n')
        p.children.foreach(walk(_, depth + 1))
    }
    walk(qe.executedPlan, 0)
    sb.toString
  }
}

object DFContext {

  def apply(spark: SparkSession): DFContext = new DFContext(spark)
}
