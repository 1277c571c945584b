package graft.tools

import scala.io.StdIn

import graft.{DFContext, GraftSession}

/** Minimal SQL REPL/CLI front-end — the Spark-side counterpart of
  * `datafusion-cli` (reference: datafusion-cli/src/main.rs:181 →
  * exec::exec_from_repl, exec.rs:129). Reads `;`-terminated statements from
  * stdin (interactive or piped), runs them through [[DFContext]] on a graft
  * session — so the dialect the session's parser reads (QUALIFY, DISTINCT
  * ON, `~`, `* EXCLUDE`), Spark's pipe operators, prepared statements and
  * the engine's SQL functions all work — and prints result tables.
  *
  * Usage:
  *   sbt "runMain graft.tools.Repl [sfDir]"        # fixture tables pre-registered
  *   echo "SELECT 1;" | sbt "runMain graft.tools.Repl"
  *
  * Dot-commands (mirroring datafusion-cli's): `.tables`, `.schema <t>`,
  * `.explain <sql>`, `.quit`.
  */
object Repl {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = DFContext(spark)
    args.headOption.foreach { dir => ctx.registerAll(dir); println(s"registered fixture tables from $dir") }

    val interactive = System.console() != null
    if (interactive) println("graft SQL — statements end with ';', .quit exits")
    val buf = new StringBuilder
    var done = false
    while (!done) {
      if (interactive) print(if (buf.isEmpty) "graft> " else "    -> ")
      val line = StdIn.readLine()
      if (line == null) done = true
      else {
        val t = line.trim
        if (buf.isEmpty && t.startsWith(".")) runDot(ctx, t, () => done = true)
        else {
          buf.append(line).append('\n')
          if (t.endsWith(";")) {
            val sql = buf.toString.trim.stripSuffix(";")
            buf.clear()
            if (sql.nonEmpty) runSql(ctx, sql)
          }
        }
      }
    }
    spark.stop()
  }

  private def runDot(ctx: DFContext, cmd: String, quit: () => Unit): Unit =
    cmd.split("\\s+", 2) match {
      case Array(".quit") | Array(".exit") => quit()
      case Array(".tables") => ctx.informationSchemaTables().show(100, truncate = false)
      case Array(".schema", t) => ctx.informationSchemaColumns(t).show(200, truncate = false)
      case Array(".explain", sql) => println(ctx.explain(sql.stripSuffix(";")))
      case other => println(s"unknown command: ${other.mkString(" ")} (.tables .schema .explain .quit)")
    }

  private def runSql(ctx: DFContext, sql: String): Unit =
    try {
      val t0 = System.nanoTime()
      val df = ctx.sql(sql)
      if (df.schema.fields.nonEmpty) df.show(50, truncate = false)
      println(f"[${(System.nanoTime() - t0) / 1e9}%.3f s]")
    } catch { case e: Exception => println(s"error: ${e.getMessage.linesIterator.take(4).mkString("\n")}") }
}
