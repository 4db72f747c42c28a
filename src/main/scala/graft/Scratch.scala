package graft

import org.apache.spark.sql.SparkSession

/** Dev-only plan explorer: `sbt 'runMain graft.Scratch <queryName>'`
  * prints the formatted physical plan on the bench SF. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Confs.tuned(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach {
      case "entry" =>
        val n = SparkEntry.entry(spark).count()
        println(s"==== entry rows=$n ====")
      case name =>
        println(s"==== $name ====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
