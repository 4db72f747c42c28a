package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

import graft.{HostStat, ScratchDirs, SparkEntry}

/** One benchmark run: a closed loop, one client, queries issued one after
  * another on `local[cpus]`. Pass 0 runs every query of the workload once
  * from a cold session, unmeasured; measured passes follow until
  * `--seconds` have elapsed (at least [[MinPasses]]). Each pass runs the workload in an
  * order drawn from `--seed`. Every drain is digested and checked
  * against the DuckDB oracle's digest. Results go to `--out` as
  * tab-separated lines that `perfbench/run.py` turns into the report.
  *
  * With `--trace 1` the run also registers the Spark and Catalyst
  * listeners and times the kernels; timed runs keep only the
  * streaming-progress listener. */
object PerfBench {
  /** Measured passes per run, at least; their medians are reported. */
  val MinPasses = 2
  /** Time each kernel is called for in a traced run. */
  val KernelSeconds = 0.3

  final case class Expected(status: String, columns: String, rows: Long, digest: Long)
  final case class Sample(name: String, pass: Int, totalS: Double, failure: Option[String])
  final case class Pass(wallS: Double, cpuS: Double, gcS: Double, layers: Map[String, Double],
      triggers: Seq[Long], samples: Seq[Sample])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest order statistic that leaves at least 10 samples above
    * it, with its percentile. Below 21 samples that statistic is no tail
    * (it sits under the median), so the maximum stands in. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = if (s.size >= 21) s.size - 11 else s.size - 1
    (s(i), 100.0 * (i + 1) / s.size)
  }

  private def loadExpected(path: String): Map[String, Expected] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      f(0) -> Expected(f(1), f(2), f(3).toLong, f(4).toLong)
    }.toMap

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Full collection, then the old-generation bytes still in use. */
  private def liveAfterGc(): Long = {
    System.gc()
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)
  }

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dataDir = arg("data")
    val cpus = arg("cpus").toInt
    val trace = arg("trace") == "1"
    val seconds = arg("seconds").toDouble
    val names = arg("queries").split(",").toSeq
    val expected = loadExpected(arg("expected"))
    val out = new java.io.PrintWriter(arg("out"), "UTF-8")
    def emit(fields: Any*): Unit = out.println(fields.mkString("\t"))

    val spark = Session.build(cpus)
    System.err.println(s"[perfbench] session up ${System.currentTimeMillis() - arg("launch-ms").toLong} ms after launch")
    val layers = new Counters
    val stream = new StreamListener(layers)
    spark.streams.addListener(stream)
    if (trace) {
      spark.sparkContext.addSparkListener(new ExecListener(layers))
      spark.listenerManager.register(new PlanListener(layers))
    }
    Session.warm(spark, dataDir)
    val setupS = (System.currentTimeMillis() - arg("launch-ms").toLong) / 1e3

    val fns = SparkEntry.queries
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val rng = new scala.util.Random(arg("seed").toLong)
    val sc = spark.sparkContext
    var heapPeak = 0L

    def check(name: String, columns: String, rows: Long, digest: Long): Option[String] =
      expected.get(name) match {
        case None => Some("no expected digest")
        case Some(e) if e.status != "ok" => Some(s"oracle ${e.status} ${e.columns}")
        case Some(e) if e.columns != columns => Some(s"columns [$columns] vs oracle [${e.columns}]")
        case Some(e) if e.rows != rows => Some(s"rows $rows vs oracle ${e.rows}")
        case Some(e) if e.digest != digest => Some(s"digest mismatch over $rows rows")
        case _ => None
      }

    def runQuery(name: String, pass: Int): Sample = {
      stream.newQueryCall()
      val before = layers.snapshot()
      val trig0 = before.getOrElse("stream.trigger_s", 0.0)
      val t0 = System.nanoTime()
      var t1 = t0
      val failure =
        try {
          val df = fns(name)(spark, dataDir)
          t1 = System.nanoTime()
          val qe = df.queryExecution
          val digester = Digester(df.schema)
          val parts = SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name")) {
            qe.toRdd.mapPartitions(digester.partition).collect()
          }
          check(name, Digest.columns(df.schema), parts.map(_._1).sum, parts.map(_._2).sum)
        } catch {
          case t: Throwable =>
            if (t1 == t0) t1 = System.nanoTime()
            Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}")
        }
      val t2 = System.nanoTime()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
      PerfbenchBus.drain(sc)
      val construct = (t1 - t0) / 1e9
      layers.add("queries.construct_s", construct)
      layers.add("exec.drain_s", (t2 - t1) / 1e9)
      val after = layers.snapshot()
      val trig = after.getOrElse("stream.trigger_s", 0.0) - trig0
      val batches = after.getOrElse("stream.batches", 0.0) - before.getOrElse("stream.batches", 0.0)
      if (trig > 0) layers.add("stream.outside_batch_s", math.max(0.0, construct - trig))
      val sample = Sample(name, pass, (t2 - t0) / 1e9, failure.map(_.replaceAll("\\s+", " ")))
      System.err.println(f"[perfbench] pass $pass $name ${sample.totalS}%.3f s " +
        f"${batches}%.0f batches ${sample.failure.getOrElse("ok")}")
      sample
    }

    def runPass(pass: Int): Pass = {
      val order = rng.shuffle(names)
      PerfbenchBus.drain(sc)
      val before = layers.snapshot()
      val trig0 = stream.triggerMs.size
      val cpu0 = HostStat.procCpuSec(); val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val samples = order.map(runQuery(_, pass))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = HostStat.procCpuSec() - cpu0
      val gc = gcSeconds() - gc0
      // the driver GC that lets the ContextCleaner reclaim shuffle files
      // (graft.Bench runs one every 8 queries): once per pass, outside
      // the timed window, so every pass starts from the same heap
      heapPeak = math.max(heapPeak, liveAfterGc())
      val d = Counters.delta(before, layers.snapshot())
      val triggers = stream.triggerMs.asScala.drop(trig0).map(_.longValue).toSeq
      Pass(wall, cpu, gc, d, triggers, samples)
    }

    val cold = runPass(0)
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val classes = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    heapPeak = 0L
    val host0 = HostStat.cpu()
    val m0 = System.nanoTime()
    val passes = Vector.newBuilder[Pass]
    var k = 0
    while (k < MinPasses || (System.nanoTime() - m0) / 1e9 < seconds) {
      k += 1
      passes += runPass(k)
    }
    val measured = passes.result()
    val hostFrac = HostStat.stormFrac(host0, HostStat.cpu())

    val samples = measured.flatMap(_.samples)
    val times = samples.map(_.totalS)
    val (tailS, tailPct) = tail(times)
    val passS = median(measured.map(_.wallS))
    def metric(name: String, value: Double, unit: String): Unit = emit("metric", name, value, unit)
    metric("pass_s", passS, "s")
    // the median query: each query's median over the passes, then the
    // median over queries (a median over raw samples jumps between the
    // time clusters of neighbouring queries when queries are few)
    metric("query_p50_s", median(samples.groupBy(_.name).values.map(ss => median(ss.map(_.totalS))).toSeq), "s")
    metric("query_tail_s", tailS, "s")
    metric("cpu_s", median(measured.map(_.cpuS)), "s")
    metric("heap_live_peak_mb", heapPeak / 1048576.0, "MB")
    metric("setup_s", setupS, "s")
    val triggers = measured.flatMap(_.triggers).map(_.toDouble)
    if (triggers.nonEmpty) {
      val (bt, bpct) = tail(triggers)
      metric("batch_p50_ms", median(triggers), "ms")
      metric("batch_tail_ms", bt, "ms")
      emit("info", "batch_tail_percentile", f"$bpct%.1f")
      emit("info", "batches", triggers.size)
    }
    emit("info", "query_tail_percentile", f"$tailPct%.1f")
    emit("info", "query_samples", times.size)
    emit("info", "passes", measured.size)
    emit("info", "cold_pass_s", cold.wallS)
    emit("info", "host_sys_steal_frac", hostFrac)

    val all = cold.samples ++ samples
    for ((name, ss) <- all.groupBy(_.name).toSeq.sortBy(_._1)) {
      val bad = ss.flatMap(_.failure)
      emit("query", name, ss.size, bad.size, median(ss.filter(_.pass > 0).map(_.totalS)),
        bad.headOption.getOrElse("ok"))
    }
    emit("count", "attempted", all.size)
    emit("count", "failed", all.count(_.failure.nonEmpty))

    if (trace) {
      for (k <- measured.flatMap(_.layers.keys).distinct.sorted)
        metric(k, median(measured.map(_.layers.getOrElse(k, 0.0))), "")
      metric("exec.core_busy_frac",
        median(measured.map(p => p.layers.getOrElse("exec.task_run_s", 0.0) / (p.wallS * cpus))), "")
      metric("trace.pass_s", passS, "s")
      metric("jvm.gc_s", median(measured.map(_.gcS)), "s")
      metric("jvm.jit_s", jitS, "s")
      metric("jvm.classes_loaded", classes.toDouble, "count")
      metric("host.sys_steal_frac", hostFrac, "")
      val memo = Files.memoDirs(new java.io.File(ScratchDirs.root))
      metric("memo.builds", memo.size.toDouble, "count")
      metric("memo.bytes", memo.map(Files.bytes).sum.toDouble, "bytes")
      for (k <- Kernels.run(spark, dataDir, KernelSeconds)) {
        metric(s"kernel.${k.name}_${k.unit}", k.perCall, k.unit)
        metric(s"kernel.${k.name}_calls", k.calls.toDouble, "count")
      }
    }
    out.close()
    spark.stop()
  }
}

/** Writes `SparkEntry.oracleSql` for every registered query (null where
  * a query has none) as one JSON object, for `perfbench/oracle.py`. */
object DumpOracle {
  def main(argv: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val m = new java.util.TreeMap[String, String]()
    SparkEntry.queries.keys.foreach(k => m.put(k, sql.getOrElse(k, null)))
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new java.io.File(argv(0)), m)
  }
}
