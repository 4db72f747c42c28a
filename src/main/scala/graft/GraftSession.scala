package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session every main runs on (Bench, Verify, Profile,
  * PlanAudit): the same confs, warm-ups, query selection and per-query
  * release, so a dev tool's plans and timings are the bench's. The
  * confs are exactly those of the benchmark harness
  * (`perfbench/src/perfbench/Session.scala`). The test session
  * (`SparkSpecBase`) stays separate: its confs pin ShuffleDriftSpec. */
object GraftSession {

  /** `local[cpus]` with `cpus` shuffle partitions, through
    * [[Confs.tuned]]; `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def build(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)): SparkSession = {
    val spark = Confs.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      // the events ts normalization (NTZ-layout parquet → session-TZ
      // timestamp) must be an identity on the stored micros, and window
      // alignment must match the oracle's
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 245 queries × several codegen'd stages each overflow the default
      // 100-entry generated-class cache; eviction then causes Janino
      // recompile storms mid-bench (jstack: threads blocked in
      // GeneratedClass.generate) that land on arbitrary queries
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // shuffle/spill scratch on the RAM-backed tmpfs: the bench host's
      // /tmp is a virtio disk whose write stalls dominated run-to-run
      // variance (see ScratchDirs)
      .config("spark.local.dir", ScratchDirs.dir("spark_local"))
      .config("spark.sql.warehouse.dir", ScratchDirs.dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm the JVM/codegen/parquet-reader paths once so the first timed
    * query doesn't absorb session startup: exercise the GENERIC
    * operator shapes (scan, shuffle agg, broadcast join, window, sort)
    * on the 25-row `nation` table of `sfDir` — compiles the shared
    * generated-code infrastructure without touching fact data or the
    * measured queries. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.range(1000).select(sum(col("id")))
      .write.format("noop").mode("overwrite").save()
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    n.write.format("noop").mode("overwrite").save()
    n.groupBy(col("n_regionkey")).agg(count(lit(1)), collect_list(col("n_name")))
      .write.format("noop").mode("overwrite").save()
    n.join(broadcast(n.select(col("n_regionkey").as("rk")).distinct()),
        col("n_regionkey") === col("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
      .orderBy(col("rn")).limit(5)
      .write.format("noop").mode("overwrite").save()
    // streaming INFRASTRUCTURE warmup (r14 optimization): the first
    // measured t-query otherwise absorbs the one-time cost of the
    // micro-batch engine's class loading, the offset/commit WAL
    // machinery, and the RocksDB state-store provider's JNI library
    // load. Two rows through a stateful drain touch all of it without
    // touching any measured query's data or expressions — the same
    // session-startup principle as the generic batch shapes above.
    locally {
      val wbase = ScratchDirs.dir("warmup_stream")
      val wfeed = s"$wbase/feed"; val wckpt = s"$wbase/ckpt"
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      rm(new java.io.File(wbase))
      spark.range(2).select(col("id")).write.mode("overwrite").parquet(wfeed)
      Confs.withSessionConf(spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        Confs.withShufflePartitions(spark, 2) {
          val q = spark.readStream
            .schema(org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType))))
            .parquet(wfeed)
            .groupBy(col("id")).agg(count(lit(1)))
            .writeStream.format("memory").queryName("warmup_stream")
            .option("checkpointLocation", wckpt)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
      }
      spark.sql("DROP TABLE IF EXISTS warmup_stream")
    }
    // force CollationAwareUTF8String.<clinit>: Spark 4 builds its ICU
    // case-mapping tables lazily on the first NON-ASCII case op,
    // a 20-30 s one-time cost that otherwise lands on whichever
    // measured query's data first trips it (jstack: one RUNNABLE
    // thread in com.ibm.icu CaseMapImpl.toTitle for the whole stall,
    // under CollationAwareUTF8String.<clinit>)
    spark.range(1).select(
        lower(lit("Étude")), upper(lit("ß")), initcap(lit("élan")))
      .write.format("noop").mode("overwrite").save()
  }

  /** Release everything a query materialized: cached frames, and the
    * RDD-level blocks (`localCheckpoint`) that `catalog.clearCache`
    * leaves behind. Run between queries, because blocks accumulating
    * across a long session age it and skew the later queries. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** The registered queries sorted by name, restricted to the
    * comma-separated names in `only` (default `SPARK_GRAFT_ONLY`; unset
    * means all). An unknown name throws `IllegalArgumentException`
    * listing every unknown one, so a typo cannot pass as a run of
    * nothing. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val names = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = names.getOrElse(Set.empty) -- all.keySet
    require(unknown.isEmpty,
      s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    all.toSeq.sortBy(_._1).filter { case (name, _) => names.forall(_.contains(name)) }
  }
}
