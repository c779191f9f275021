package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Spans, listener counters and workload counters of one invocation.
  * Listeners are attached only while `on`, so untraced passes run on a
  * session without them. */
final class Tracing {
  val tracer = new Tracer
  val counters = new Counters
  val exec = new ExecListener
  val plans = new PlanListener
  private var spark: SparkSession = _

  def on: Boolean = tracer.on
  def attach(s: SparkSession): Unit = spark = s
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def enable(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    tracer.on = true
  }
  def disable(): Unit = {
    tracer.on = false
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
  }

  /** Jobs started so far (complete only after a drain, so traced runs
    * drain first; untraced runs do not count). */
  def jobsStarted(): Long = if (on) { drain(); exec.jobs.get } else 0L

  /** Everything a pass moved, as named totals. */
  def totals(): Map[String, Double] =
    counters.snapshot ++
      exec.snapshot.map { case (k, v) => s"spark.exec.$k" -> v } ++
      plans.snapshot.map { case (k, v) => s"spark.plan.$k" -> v }

  def layerSeconds(from: Int): Map[String, Double] =
    Seq("sources.jdbc_keys_read", "sources.jdbc_append", "sources.jdbc_merge",
      "sources.zip_decode", "sources.v2.export_fetch", "sources.v2.page_scan",
      "sources.v2.sink_write", "Queries.build")
      .map(n => s"${n}_s" -> tracer.seconds(n, from)).toMap
}

/** One benchmark invocation inside the JVM: set-up, the measured passes,
  * the untimed correctness pass and, when tracing, the layer record.
  * Writes its record as JSON to `--out`; `run.py` turns that into the
  * result line. */
object Main {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  private def procField(path: String, key: String): String =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_.startsWith(key)).getOrElse("") finally src.close()
    } catch { case _: Exception => "" }

  private def peakRssMb(): Double =
    procField("/proc/self/status", "VmHWM:").split("\\s+").lift(1)
      .flatMap(_.toDoubleOption).getOrElse(0.0) / 1024

  private def psi(): String = procField("/proc/pressure/cpu", "some")

  /** CPU time of the whole JVM (all threads, Derby and the loopback
    * servers included). Unlike wall time it does not count time the
    * host gives to other tenants. */
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def buildSession(cores: Int, work: File): SparkSession = {
    val s = GraftSession.builder(cores.toString, cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val cores = a("cores").toInt
    val setups = a("setups").toInt
    val work = new File(a("work"))
    System.setProperty("derby.system.home", new File(work, "derby").getPath)
    val tr = new Tracing
    val workload: Workload = workloadName match {
      case "feeder_sweep" => new Feeder(a("feed"), work, cores, tr)
      case "curation" => new RegistryWorkload(workloadName,
        new scala.util.Random(seed).shuffle(RegistryWorkload.curationKeys), data, tr)
      case "registry_mix" => new RegistryWorkload(workloadName,
        RegistryWorkload.sample(seed), data, tr)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val psiStart = psi()
    // wall seconds since the JVM started at which each phase ended
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phaseEnd(name: String): Unit = phases(name) = (System.currentTimeMillis() - jvmStart) / 1e3
    workload.prepareInputs()

    // set-up, several times: session, warm-up, fixtures. The first is
    // cold (JVM class loading); stopping the previous session is not timed.
    var spark: SparkSession = null
    def warmUp(s: SparkSession): Unit =
      s.read.parquet(s"$data/orders.parquet").groupBy("o_orderstatus").count().collect()
    val setupS = (1 to setups).map { rep =>
      if (spark != null) {
        spark.stop()
        System.gc()
        Thread.sleep(200)
      }
      val t0 = System.nanoTime()
      spark = buildSession(cores, work)
      warmUp(spark)
      workload.startFixtures(spark, rep)
      (System.nanoTime() - t0) / 1e9
    }
    tr.attach(spark)
    def reviveIfDead(): Unit = if (spark.sparkContext.isStopped) {
      spark = buildSession(cores, work)
      tr.attach(spark)
    }
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // Before each measured pass, untimed: collect garbage so the context
    // cleaner deletes the previous pass's shuffle files now, not during
    // the next timed region.
    def settle(): Unit = {
      clearCaches()
      System.gc()
      Thread.sleep(500)
    }

    phaseEnd("setup")
    // correctness: registry results, written once, untimed
    val check = new File(work, "check")
    val wrong = mutable.LinkedHashMap.empty[String, String]
    val record = mutable.LinkedHashMap.empty[String, Any]
    workload match {
      case r: RegistryWorkload =>
        r.opNames.foreach { k =>
          clearCaches()
          try r.build(spark, k).write.mode("overwrite").parquet(new File(check, k).getPath)
          catch { case e: Throwable =>
            wrong(k) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            reviveIfDead()
          }
        }
        record("oracle") = graft.SparkEntry.oracleSql.filter { case (k, _) => r.opNames.contains(k) }
      case _ =>
    }

    phaseEnd("correctness")
    // measured passes; a traced invocation alternates untraced and traced,
    // at least three, so the traced pass has an untraced one after it to
    // compare with: the first pass still runs while the JIT warms up
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var n = 0
    while (n < (if (trace) 3 else 1) || elapsed < seconds) {
      val traced = trace && n % 2 == 1
      workload.beforePass(spark)
      settle()
      if (traced) tr.enable()
      val spanFrom = tr.tracer.size
      val before = if (traced) { tr.drain(); tr.totals() } else Map.empty[String, Double]
      val wallFrom = System.currentTimeMillis()
      val cpu0 = processCpuS()
      val p0 = System.nanoTime()
      val ops = workload.opNames.indices.map { i =>
        clearCaches()
        tr.tracer.op = i
        val o0 = System.nanoTime()
        val err = try { tr.tracer.span("op")(workload.runOp(spark, i)); None }
        catch { case e: Throwable =>
          reviveIfDead()
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        Map("name" -> workload.opNames(i), "s" -> (System.nanoTime() - o0) / 1e9, "err" -> err)
      }
      val runS = (System.nanoTime() - p0) / 1e9
      val cpuS = processCpuS() - cpu0
      val wallTo = System.currentTimeMillis()
      if (traced) {
        tr.drain()
        val after = tr.totals()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        val window = math.max(wallTo - wallFrom, 1L)
        val busy = tr.exec.taskIntervals
          .map { case (s, e) => math.min(e, wallTo) - math.max(s, wallFrom) }.filter(_ > 0).sum
        val pass = delta ++ tr.layerSeconds(spanFrom) ++ Map(
          "run_s" -> runS,
          "spark.exec.slot_busy_s" -> busy / 1e3,
          "spark.exec.window_slot_s" -> window * cores / 1e3,
          "spark.exec.driver_only_s" ->
            ExecListener.uncoveredMs(wallFrom, wallTo, tr.exec.taskIntervals) / 1e3)
        tr.disable()
        layerPasses += pass ++ workload.passCounters()
      }
      passes += Map("traced" -> traced, "run_s" -> runS, "cpu_s" -> cpuS, "ops" -> ops)
      n += 1
    }
    val rssMb = peakRssMb()
    phaseEnd("passes")

    workload match {
      case f: Feeder => record("feeder") = f.dumpResult(spark, check)
      case _ =>
    }
    if (trace && workloadName == "curation") {
      tr.enable()
      LayerProbes.operators(spark, data, tr.plans, () => tr.drain(), tr.counters)
      tr.disable()
      LayerProbes.kernels(spark, data, tr.counters)
    }

    phaseEnd("probes")
    record ++= Map(
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "psi_start" -> psiStart, "psi_end" -> psi(),
      "setup_s" -> setupS, "phase_end_s" -> phases.toMap, "passes" -> passes, "peak_rss_mb" -> rssMb,
      "check_dir" -> check.getPath, "wrong" -> wrong,
      "layer_passes" -> layerPasses, "probes" -> tr.counters.snapshot.filter { case (k, _) =>
        k.startsWith("functions.") || k.startsWith("operators.lsh") ||
          k.startsWith("operators.cc") || k.startsWith("operators.ann") },
      "self_s" -> tr.tracer.selfSeconds)
    if (trace) {
      val spans = tr.tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      mapper.writeValue(new File(a("spans")), toJava(spans))
    }
    mapper.writeValue(new File(a("out")), toJava(record.toMap))
    spark.stop()
  }
}
