package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Confs, ScratchDirs}

/** The benchmark session: the confs and warm-ups of `graft.Bench.main`,
  * restated here because Bench builds its session inline. Keep the two
  * in step, so benchmark plans are bench plans. */
object Session {
  def build(cpus: Int): SparkSession = {
    val spark = Confs.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", ScratchDirs.dir("spark_local"))
      .config("spark.sql.warehouse.dir", ScratchDirs.dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Bench's warm-ups: the generic batch shapes on `nation`, one stateful
    * AvailableNow drain on RocksDB, and the ICU case-mapping tables. */
  def warm(spark: SparkSession, dataDir: String): Unit = {
    var t = System.nanoTime()
    def step(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[perfbench] warm-up $name ${(now - t) / 1e9}%.3f s")
      t = now
    }
    noop(spark.range(1000).select(sum(col("id"))))
    val n = spark.read.parquet(s"$dataDir/nation.parquet")
    noop(n)
    noop(n.groupBy(col("n_regionkey")).agg(count(lit(1)), collect_list(col("n_name"))))
    noop(n.join(broadcast(n.select(col("n_regionkey").as("rk")).distinct()),
        col("n_regionkey") === col("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
      .orderBy(col("rn")).limit(5))
    step("batch shapes")

    val base = ScratchDirs.dir("warmup_stream")
    Files.remove(new java.io.File(base))
    spark.range(2).select(col("id")).write.mode("overwrite").parquet(s"$base/feed")
    Confs.withSessionConf(spark, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      Confs.withShufflePartitions(spark, 2) {
        spark.readStream
          .schema(StructType(Seq(StructField("id", LongType))))
          .parquet(s"$base/feed")
          .groupBy(col("id")).agg(count(lit(1)))
          .writeStream.format("memory").queryName("warmup_stream")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
    }
    spark.sql("DROP TABLE IF EXISTS warmup_stream")
    step("streaming")

    noop(spark.range(1).select(lower(lit("Étude")), upper(lit("ß")), initcap(lit("élan"))))
    step("ICU")
  }
}
