package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{LocalSession, SparkEntry}

/** Writes `.explain("formatted")` of the named queries, or of every query
  * when none is named, in name order into one markdown file: the
  * plan-quality evidence trail (pushdown, pruning, broadcast,
  * WholeStageCodegen spans). Re-run after plan-affecting changes.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf dir> \
  *   sbt "runMain graft.tools.PlanDump PLANS.md [query...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <out.md> [query...]")
    val selected = SparkEntry.select(
      if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit (generated by graft.tools.PlanDump)\n\n"
    sb ++= s"Scale dir: `$sfDir`. What to look for: `PushedFilters` reaching\n"
    sb ++= "the scan, pruned `ReadSchema`, `BroadcastHashJoin` for small dims,\n"
    sb ++= "wide `WholeStageCodegen` spans (custom expressions stay inside),\n"
    sb ++= "and exactly one `Exchange` per required clustering.\n"
    for ((name, fn) <- selected) {
      val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      sb ++= s"\n## $name\n\n```\n$plan```\n"
      LocalSession.dropCaches(spark)
    }
    Files.writeString(Paths.get(args(0)), sb.toString)
    println(s"[plan-dump] wrote ${args(0)} (${selected.size} plans)")
    spark.stop()
  }
}
