package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import graft.pipeline.RunStats

/** Benchmark process: one workload, one Spark `local[N]` session.
  *
  * Set-up (session start, fixture staging, warm-up) runs first and ends
  * at `ready_ms`. Then whole passes over the workload's fixed operation
  * sequence run back to back (closed loop, one caller) for about `--seconds`.
  * With `--trace 1`, untraced passes alternate with traced ones (spans and
  * a SparkListener), followed by standalone timings of the layers that
  * otherwise run only inside `Transfer.run`.
  * Every record is written as one JSON document to `--out`; run.py turns
  * it into metrics and checks the outputs.
  */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      fixtures: String, work: String, out: String, cores: Int,
      cronStartHour: Int, queryOrder: Seq[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1", m("fixtures"),
      m("work"), m("out"), m("cores").toInt, m.getOrElse("cron-start-hour", "0").toInt,
      m.getOrElse("query-order", "").split(",").toSeq.filter(_.nonEmpty))
  }

  // ---- process-level probes ------------------------------------------
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** The JIT compiler threads (fixed in number: the JVM runs with
    * -XX:-UseDynamicNumberOfCompilerThreads), found once in /proc. */
  private lazy val compilerStats: Seq[java.nio.file.Path] = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    tasks.toSeq.flatMap { t =>
      val comm = scala.util.Try(new String(Files.readAllBytes(t.toPath.resolve("comm"))).trim)
      if (comm.toOption.exists(_.contains("CompilerThre"))) Some(t.toPath.resolve("stat"))
      else None
    }
  }

  /** CPU seconds the JIT compiler threads have used (utime + stime, in
    * 1/100 s clock ticks); 0 where /proc is unavailable. */
  private def jitCpuS(): Double = compilerStats.map { p =>
    scala.util.Try {
      val st = new String(Files.readAllBytes(p))
      val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong + f(12).toLong) / 100.0
    }.getOrElse(0.0)
  }.sum

  /** Process CPU seconds minus JIT compilation: the work of executing the
    * workload (task, scheduler and GC threads). Compilation goes on long
    * after warm-up and its share of a measured pass varies from run to run;
    * it is reported on its own as jit_cpu_s. */
  private def cpuS(): Double = processCpuS() - jitCpuS()
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Peak heap in use right after a collection (the live set), from GC
    * notifications; reset at every pass start. */
  private object Heap {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    def reset(): Unit = peak = 0L
    def peakMb(): Double = {
      val p = if (peak > 0) peak else {
        val r = Runtime.getRuntime; r.totalMemory - r.freeMemory
      }
      p / 1e6
    }
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
              if (used > peak) peak = used
            }
        }, null, null)
      case _ => ()
    }
  }

  /** One operation: untimed preparation, then the timed call. */
  final case class Op(kind: String, name: String, call: () => Option[RunStats],
      prep: () => Map[String, Any] = () => Map.empty, target: Option[String] = None,
      meta: Map[String, Any] = Map.empty)

  private def countDataFiles(dir: String): Int = {
    val f = new File(dir)
    if (!f.isDirectory) 0
    else f.listFiles().count(x => x.isFile && !x.getName.startsWith(".") &&
      !x.getName.startsWith("_"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Heap.install()
    compilerStats
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // The settings the repository's own entry points (Bench, Verify) use.
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val sc = spark.sparkContext
    val sessionMs = System.currentTimeMillis()

    val tracer = new Tracer(sc)
    val engine = new EngineListener
    val plans = new PlanListener
    sc.addSparkListener(plans)

    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var opSeq = 0

    def runOp(phase: String, pass: Int, op: Op): Unit = {
      val prepMeta = op.prep()
      val filesBefore = op.target.map(countDataFiles).getOrElse(0)
      if (tracer.enabled) { PerfbenchBus.drain(sc); engine.takeBlockPeak() }
      val opId = tracer.newOp()
      val c0 = cpuS(); val j0 = jitCpuS()
      val start = tracer.nowMs()
      var err: String = null
      val stats = try tracer.span(op.kind)(op.call())
        catch { case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500); None }
      val end = tracer.nowMs()
      val cpu = cpuS() - c0
      val jit = jitCpuS() - j0
      val blockPeak = if (tracer.enabled) { PerfbenchBus.drain(sc); engine.takeBlockPeak() } else 0L
      opSeq += 1
      ops += (Map[String, Any]("seq" -> opSeq, "phase" -> phase, "pass" -> pass,
        "op_id" -> opId, "kind" -> op.kind, "name" -> op.name, "start_ms" -> start,
        "end_ms" -> end, "wall_s" -> (end - start) / 1e3, "cpu_s" -> cpu, "jit_cpu_s" -> jit,
        "error" -> err,
        "cache_peak_bytes" -> blockPeak,
        "target" -> op.target.orNull, "files_before" -> filesBefore,
        "files_after" -> op.target.map(countDataFiles).getOrElse(0)) ++
        stats.map(s => Map("read" -> s.rowsRead, "filtered" -> s.rowsFiltered,
          "written" -> s.rowsWritten)).getOrElse(Map.empty) ++ op.meta ++ prepMeta)
    }

    def runPass(phase: String, pass: Int, seq: Seq[Op]): Unit = {
      Heap.reset()
      val g0 = gcS(); val t0 = tracer.nowMs()
      val first = ops.size
      seq.foreach(op => runOp(phase, pass, op))
      val t1 = tracer.nowMs()
      // A pass's wall and CPU are sums over its timed calls: untimed
      // preparation (the incremental target restore) is left out.
      def total(k: String) = ops.drop(first).map(_(k).asInstanceOf[Double]).sum
      passes += Map("phase" -> phase, "pass" -> pass, "start_ms" -> t0, "end_ms" -> t1,
        "wall_s" -> total("wall_s"), "cpu_s" -> total("cpu_s"),
        "jit_cpu_s" -> total("jit_cpu_s"), "gc_s" -> (gcS() - g0),
        "heap_peak_mb" -> Heap.peakMb(), "ops" -> seq.size)
    }

    val wl = Workloads(a, spark, tracer)
    val stagedMs = System.currentTimeMillis()
    wl.warmUp.zipWithIndex.foreach { case (seq, i) => runPass("warm", i, seq) }
    val failedWarm = ops.filter(_("error") != null)
    require(failedWarm.isEmpty, s"warm-up failed: ${failedWarm.map(_("error")).mkString("; ")}")
    val readyMs = System.currentTimeMillis()

    // Measured passes (closed loop): as many as fill `--seconds` at the
    // workload's nominal pass time, at least three, so that per-pass figures
    // are medians. The count does not depend on how fast this run goes: cron
    // tick latency keeps falling for ~60 ticks, so a loop bounded by time
    // would give a fast run more, and more warmed, passes and widen the
    // spread between runs. When traced, untraced and traced passes
    // alternate, so the tracing overhead is not confounded with warm-up drift.
    val standalone = ArrayBuffer.empty[(String, Any)]
    val nPasses = math.max(3, math.round(a.seconds / wl.nominalPassS).toInt)
    var p = 0
    while (p < nPasses && wl.hasPass(p)) {
      val traced = a.trace && p % 2 == 1
      if (traced) { sc.addSparkListener(engine); tracer.enabled = true }
      runPass(if (traced) "traced" else "untraced", p, wl.pass(p))
      if (traced) { PerfbenchBus.drain(sc); tracer.enabled = false; sc.removeSparkListener(engine) }
      p += 1
    }
    if (a.trace) {
      sc.addSparkListener(engine); tracer.enabled = true
      tracer.newOp() // standalone spans belong to no measured operation
      standalone ++= wl.standalone(plans)
      PerfbenchBus.drain(sc)
      tracer.enabled = false; sc.removeSparkListener(engine)
    }
    val endMs = System.currentTimeMillis()

    val doc = Json.obj(Seq(
      "workload" -> a.workload,
      "stamp" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_master" -> sc.master,
        "spark_version" -> spark.version,
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark_local_dir" -> sc.getConf.get("spark.local.dir"),
        "java_version" -> System.getProperty("java.version")),
      "jvm_start_ms" -> jvmStartMs, "session_ms" -> sessionMs, "staged_ms" -> stagedMs,
      "ready_ms" -> readyMs, "end_ms" -> endMs,
      "ops" -> ops.toList, "passes" -> passes.toList,
      "meta" -> wl.meta,
      "standalone" -> standalone.toMap,
      "spans" -> tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> engine.jobs.toList.map(j => Map("id" -> j.id, "span" -> j.span,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
      "stages" -> engine.stages.toList.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "span" -> s.span, "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs,
        "gc_ms" -> s.gcMs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes, "spill_bytes" -> s.spillBytes,
        "in_records" -> s.inRecords, "in_bytes" -> s.inBytes,
        "out_records" -> s.outRecords, "out_bytes" -> s.outBytes)),
    ))
    val tmp = Paths.get(a.out + ".tmp")
    Files.write(tmp, doc.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(a.out), StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
  }
}
