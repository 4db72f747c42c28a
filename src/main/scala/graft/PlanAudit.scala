package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: one-line physical-plan census per query — exchanges, join
  * strategies, codegen coverage — to catch accidental cartesians,
  * missed broadcasts, and codegen fallbacks across the whole surface.
  * `sbt 'runMain graft.PlanAudit'` (SPARK_GRAFT_SF_DIR to override). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Confs.tuned(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          // SPARK_GRAFT_PLAN=full: dump the whole physical plan (dev
          // loop for is-the-expensive-projection-above-the-exchange
          // questions the one-line census can't answer)
          if (sys.env.get("SPARK_GRAFT_PLAN").contains("full"))
            println(s"[audit-plan] $name\n$plan")
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
          println(s"[audit] $name FAILED: ${e.getMessage.take(80)}")
        } finally spark.catalog.clearCache()
      }
    spark.stop()
  }
}
