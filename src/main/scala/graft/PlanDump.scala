package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.execution.FormattedMode

/** Writes `.explain("formatted")` for named queries to files — the
  * plan-evidence artifacts for the optimization rounds (plans/rNN/).
  *
  * Usage: runMain graft.PlanDump <outDir> <name>[,<name>...] [suffix]
  *
  * Each query's plan lands in `<outDir>/<name>_<suffix>.txt` (suffix
  * default "before"). It runs on Bench's session
  * (`SparkEntry.batchSession`), so the captured plan is the plan the
  * bench actually times. Each name is a query name or id (the
  * `Board.select` rule); an unknown one is refused before the session
  * starts. Streaming-replay drains are skipped: their cost is drain
  * orchestration, not a batch plan — the frame a dump would explain is
  * the already-drained localCheckpoint.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <q1,q2,...> [suffix]")
    val board = Board.select(args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = if (args.length > 2) args(2) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.batchSession(defaultCpus = 32)
    board.foreach { case BoardQuery(name, _, run, drain) =>
      if (drain) {
        System.err.println(s"[plandump] $name skipped: drain query, no batch plan")
      } else {
        // SPARK_GRAFT_PLAN_EXEC=1: execute the query first and dump
        // the FINAL adaptive plan (isFinalPlan=true) — the only view
        // that shows whether AQE actually reused shuffle stages,
        // which the pre-execution formatted plan cannot.
        val exec = sys.env.get("SPARK_GRAFT_PLAN_EXEC").contains("1")
        val txt =
          try {
            val df = run(spark, sfDir)
            // collect() drives the dataset's OWN QueryExecution (a
            // count() would plan a separate pruned query), so after
            // it the executedPlan prints isFinalPlan=true with the
            // runtime-reused stages visible. Only use exec mode on
            // small-output queries.
            if (exec) { df.collect(); df.queryExecution.executedPlan.toString }
            else df.queryExecution.explainString(FormattedMode)
          }
          catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        println(s"[plandump] wrote ${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
