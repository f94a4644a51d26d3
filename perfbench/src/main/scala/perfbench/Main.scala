package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import graft.core.Engine

/** One benchmark run in one JVM: build the session, generate the
  * seeded input (set-up), run the workload a fixed number of times to
  * warm up and then timed ([[Workload.Iterations]]), check every
  * result, and, with
  * `--trace 1`, run it once more with each layer in its own span. Raw
  * samples go to `--result` as JSON; run.py summarizes them.
  *
  * {{{
  * perfbench.Main --workload neardup --seed 1 --trace 0
  *                --work <dir> --result <file> --launch-ns <epoch ns>
  * }}}
  */
object Main {
  /** Set-up is repeated this many times per run; setup_s takes the median. */
  val SetupRepeats = 3

  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuNs: Long = cpuBean.getProcessCpuTime
  /** Summed time of all JIT compiler threads; CPU the program itself did not ask for. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def epochNs: Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val jvmStartS = (epochNs - opt("launch-ns").toLong) / 1e9
    val name = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    HeapPeak.install()

    val origin = System.nanoTime()
    val tr = new Tracer(s"$name-s$seed-${ProcessHandle.current.pid}", None)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = tr.span("core.session") {
      Engine.session("perfbench", s"local[$cores]", shufflePartitions = 2 * cores)
    }
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> (if (trace) 1 else 0),
      "cores" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_start_s" -> jvmStartS, "session_s" -> tr.seconds(tr.spans.head))
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    def attempt(what: String)(body: => Seq[String]): Boolean = {
      attempted += 1
      val errs = try body catch { case e: Throwable => Seq(s"threw ${e.toString.take(400)}") }
      if (errs.nonEmpty) { failed += 1; failures ++= errs.map(e => s"$what: $e") }
      errs.isEmpty
    }
    try {
      val wl = Workload(name, spark, work, cores)
      // set-up: generation and disk writes only, repeated for a stable median
      val sums = (1 to SetupRepeats).map(_ => tr.span("setup.gen")(wl.generate(seed)))
      out("gen_s") = tr.spans.filter(_.name == "setup.gen").map(tr.seconds).toSeq
      out("input_checksum") = sums.head
      attempt("setup")(Option.when(sums.distinct.size != 1)(
        s"generator gave different inputs for one seed: ${sums.mkString(",")}").toSeq)

      // warm-up: class loading, the first JIT wave and lazy session state; checked, not timed
      // iteration counts are fixed, not bounded by time: a fresh JVM keeps
      // compiling for about a minute, so each later iteration sits lower on
      // the JIT curve, and a time-bounded count would depend on the host's speed
      val (warmups, timed) = Workload.Iterations(name)
      val w0 = System.nanoTime()
      for (_ <- 1 to warmups)
        attempt("warmup") { fresh(spark, wl); tr.span("warmup")(wl.run()); wl.check() }
      out("warmup_s") = (System.nanoTime() - w0) / 1e9

      val jobS, cpuS, jitS, heapMb = mutable.ArrayBuffer[Double]()
      val gcCounts = mutable.ArrayBuffer[Long]()
      for (_ <- 1 to timed) {
        fresh(spark, wl)
        HeapPeak.reset()
        val c0 = processCpuNs
        val j0 = jitMs
        val t0 = System.nanoTime()
        attempt("job") {
          tr.span("job")(wl.run())
          val t1 = System.nanoTime()
          val c1 = processCpuNs
          jitS += (jitMs - j0) / 1e3
          val (peak, gcs) = HeapPeak.read()
          jobS += (t1 - t0) / 1e9
          cpuS += (c1 - c0) / 1e9
          if (gcs > 0) heapMb += peak / 1048576.0
          gcCounts += gcs
          wl.check()
        }
      }
      out("job_s") = jobS.toSeq
      out("cpu_s") = cpuS.toSeq
      out("jit_s") = jitS.toSeq
      out("heap_peak_mb") = heapMb.toSeq
      out("gc_count") = gcCounts.toSeq

      // no generation may fall inside a timed job (set-up moved out of job_s shows here)
      val jobs = tr.spans.filter(s => s.name == "job" || s.name == "warmup")
      val genInJob = tr.spans.count(g => g.name == "setup.gen" &&
        jobs.exists(j => g.startNs < j.endNs && j.startNs < g.endNs))
      out("gen_spans_in_job") = genInJob
      attempt("trace")(Option.when(genInJob > 0)(s"$genInJob generator spans inside job_s").toSeq)

      if (trace) {
        val sorted = jobS.sorted
        val n = sorted.size
        val median = if (n == 0) Double.NaN else (sorted((n - 1) / 2) + sorted(n / 2)) / 2
        out("layers") = tracedRun(spark, wl, tr, median, attempt)
        val traceFile = new File(work, "trace.json")
        Files.write(traceFile.toPath, tr.toJson(origin).getBytes(StandardCharsets.UTF_8))
        out("trace_file") = traceFile.getPath
      }
    } finally spark.stop()
    out("attempted") = attempted
    out("failed") = failed
    out("failures") = failures.toSeq
    out("spans") = RawJson(tr.toJson(origin))
    Files.write(new File(opt("result")).toPath, Json(out).getBytes(StandardCharsets.UTF_8))
  }

  /** Every iteration starts cold: no output left from the last one,
    * none of the frames the last one cached (the program caches
    * intermediate frames and leaves them registered with the session),
    * and a collected heap, so each iteration's post-GC occupancy counts
    * what it keeps alive, not garbage left over from set-up. */
  private def fresh(spark: org.apache.spark.sql.SparkSession, wl: Workload): Unit = {
    wl.clean()
    spark.catalog.clearCache()
    System.gc()
  }

  /** The per-layer run: listeners on, each layer's call in a span. */
  private def tracedRun(spark: org.apache.spark.sql.SparkSession, wl: Workload, tr: Tracer,
                        untracedMedian: Double,
                        attempt: String => (=> Seq[String]) => Boolean): Map[String, Double] = {
    val sc = spark.sparkContext
    val layers = new LayerListener
    val joinAgg = new JoinAggListener
    sc.addSparkListener(layers)
    spark.listenerManager.register(joinAgg)
    fresh(spark, wl)
    val c0 = processCpuNs
    val g0 = gcMs
    tr.jobGroups = Some(sc)
    var own = Map.empty[String, Double]
    var cpu, gc = 0.0
    attempt("traced") {
      try own = tr.span("traced")(wl.traced(tr))
      finally {
        tr.jobGroups = None
        cpu = (processCpuNs - c0) / 1e9
        gc = (gcMs - g0) / 1e3
        // detached before the check, so its jobs stay out of the counts
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(layers)
        spark.listenerManager.unregister(joinAgg)
      }
      wl.check()
    }

    val all = layers.all
    def sum(f: layers.Acc => Long) = all.map(f).sum.toDouble
    def cpuOf(g: String) = layers.group(g).cpuNs / 1e9
    val spanLayers = Seq("scan", "sources", "functions", "llm.minhash", "llm.components",
      "llm.setsim", "llm.curation", "jobs.sort", "jobs.validate", "sink")
    val taskCpu = sum(_.cpuNs) / 1e9
    val tracedS = tr.spans.filter(_.name == "traced").map(tr.seconds).sum
    val base = Map[String, Double](
      "core.session_s" -> tr.seconds(tr.spans.head),
      "scan.input_mb" -> Workload.mb(layers.group("scan").inBytes),
      "scan.records" -> layers.group("scan").inRecords.toDouble,
      "scan.task_cpu_s" -> cpuOf("scan"),
      "sources.task_cpu_s" -> cpuOf("sources"),
      "sources.input_mb" -> 0.0, "sources.records" -> 0.0,
      "functions.task_cpu_s" -> cpuOf("functions"),
      "functions.rows" -> 0.0,
      "llm.minhash.candidate_pairs" -> 0.0, "llm.minhash.verified_pairs" -> 0.0,
      "llm.minhash.useful_ratio" -> 0.0,
      "llm.components.jobs" -> layers.group("llm.components").jobs.toDouble,
      "llm.setsim.candidate_pairs" -> 0.0, "llm.setsim.pairs" -> 0.0,
      "llm.setsim.useful_ratio" -> 0.0, "llm.setsim.hot_posting_docs" -> 0.0,
      "exchange.write_mb" -> sum(_.shuffleBytes) / 1048576.0,
      "exchange.records" -> sum(_.shuffleRecords),
      "exchange.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "exchange.spill_mb" -> sum(_.spillBytes) / 1048576.0,
      "joinagg.join_rows_out" -> joinAgg.joinRows.toDouble,
      "joinagg.agg_rows_out" -> joinAgg.aggRows.toDouble,
      "sink.output_mb" -> 0.0, "sink.files" -> 0.0,
      "jvm.task_cpu_s" -> taskCpu,
      "jvm.task_cpu_share" -> (if (cpu > 0) taskCpu / cpu else 0.0),
      "jvm.gc_s" -> gc,
      "jvm.peak_execution_mb" -> all.map(_.peakExecBytes).foldLeft(0L)(math.max) / 1048576.0,
      "sched.jobs" -> sum(_.jobs), "sched.stages" -> sum(_.stages),
      "sched.tasks" -> sum(_.tasks), "sched.failed_tasks" -> sum(_.failedTasks),
      "trace.job_s" -> tracedS,
      "trace.overhead_s" -> (tracedS - untracedMedian),
      "trace.unattributed_tasks" -> layers.group(LayerListener.NoGroup).tasks.toDouble,
    ) ++ spanLayers.map(l => s"$l.span_s" -> tr.selfSeconds(l))
    base ++ own
  }
}

/** Largest post-GC heap occupancy (all heap pools, after each
  * collection) since the last reset, from GC notifications. */
object HeapPeak {
  private val peak = new AtomicLong(0)
  private val count = new AtomicLong(0)
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          count.incrementAndGet()
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
  def reset(): Unit = { peak.set(0); count.set(0) }
  /** (peak bytes, collections) since the last reset. */
  def read(): (Long, Long) = (peak.get, count.get)
}

/** Already-encoded JSON. */
final case class RawJson(s: String)

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case RawJson(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
