package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import scala.util.control.NonFatal

/** Plan-audit helper: `Explain [sfDir] [outDir] [query...]`. With no query
  * names it dumps `explain("formatted")` for every registered query to
  * <outDir>/<name>.txt so scan pushdown (`PushedFilters`, `ReadSchema`),
  * join strategies (`BroadcastHashJoin`), and whole-stage codegen spans
  * can be reviewed offline; with names it prints just those plans. A
  * development tool, outside the `Verify`/`Bench` contract. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_plans"
    val names = args.drop(2)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def plan(name: String): String =
      try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      catch { case NonFatal(e) => s"ERROR: ${e.getMessage}" }
    if (names.nonEmpty) names.foreach(n => println(s"===== $n =====\n${plan(n)}"))
    else {
      Files.createDirectories(Paths.get(outDir))
      SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan(name))
      }
    }
    spark.stop()
  }
}
