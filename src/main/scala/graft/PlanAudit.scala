package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: one-line physical-plan census per query — exchanges, join
  * strategies, codegen coverage — to catch accidental cartesians,
  * missed broadcasts, and codegen fallbacks across the whole surface.
  * With `<outDir> <suffix>` it also writes each query's
  * `explain("formatted")` plan to `<outDir>/<query>_<suffix>.txt` (the
  * before/after plan evidence under `plans/r14`, `plans/r15`). Builds
  * each plan on the bench session (GraftSession) without executing the
  * final action; constructors may still run their eager prep.
  *
  *   SPARK_GRAFT_ONLY=q1,q2 dev/run_main.sh graft.PlanAudit [<outDir> <suffix>]
  *
  * SPARK_GRAFT_SF_DIR overrides the sf0.1 default. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dump = args match {
      case Array() => None
      case Array(outDir, suffix) => Some((outDir, suffix))
      case _ => throw new IllegalArgumentException("usage: PlanAudit [<outDir> <suffix>]")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = GraftSession.selected()
    val spark = GraftSession.build()
    dump.foreach { case (outDir, _) => new java.io.File(outDir).mkdirs() }
    queries.foreach { case (name, fn) =>
      try {
        val qe = fn(spark, sfDir).queryExecution
        val plan = qe.executedPlan.toString
        dump.foreach { case (outDir, suffix) =>
          Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
            qe.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
        }
        def c(p: String) = p.r.findAllIn(plan).size
        val flags = Seq(
          "xch" -> c("Exchange hashpartitioning"),
          "bhj" -> c("BroadcastHashJoin"),
          "smj" -> c("SortMergeJoin"),
          "bnlj" -> c("BroadcastNestedLoopJoin"),
          "cart" -> c("CartesianProduct"),
          "sortAgg" -> c("SortAggregate"),
          "wsc" -> c("WholeStageCodegen"),
        ).collect { case (k, v) if v > 0 => s"$k=$v" }.mkString(" ")
        val warn = Seq(
          if (plan.contains("CartesianProduct")) "CARTESIAN" else "",
          if (plan.contains("BatchEvalPython")) "PY_UDF" else "",
          if (c("SortAggregate") > 0) "SORT_AGG" else "",
        ).filter(_.nonEmpty).mkString(",")
        println(f"[audit] $name%-28s $flags ${if (warn.nonEmpty) "  !! " + warn else ""}")
      } catch { case e: Throwable =>
        println(s"[audit] $name FAILED: ${String.valueOf(e.getMessage).take(80)}")
      } finally GraftSession.reset(spark)
    }
    spark.stop()
  }
}
