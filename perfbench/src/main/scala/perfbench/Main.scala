package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--loadavg <1-min load before the run>]
  *
  * Set-up (session start, inputs from the seed to parquet, the JIT warmup
  * pass and any bootstrap) runs first and is billed to `setup_s`; the
  * timed part reads only the parquet inputs; output checks run after
  * timing stops. With `--trace 1` a traced replay of the workload follows
  * and the per-layer metrics are printed instead of the end-to-end ones.
  * The last stdout line is the result object.
  */
object Main {

  /** Input-generation passes per run; `setup_s` bills their median. */
  val SetupReps = 3
  /** Fixed shuffle and default parallelism: both commits run one plan,
    * whatever the core count. */
  val Partitions = 8

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.default.parallelism", Partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.io.compression.lz4.blockSize", "512k")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${json(k)}: $v" }.mkString("{", ", ", "}")

  /** Progress on stderr; stdout carries only the report. */
  def progress(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val wl = Workload.byName(opt("workload"))
    val trace = opt("trace") == "1"
    val jiffies0 = graft.Bench.cpuJiffies()

    val t0 = System.nanoTime()
    val spark = session(opt("work"))
    val sessionS = Workload.seconds(t0)
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, opt("work"))
    val setupWalls = (1 to SetupReps).map { rep =>
      val s = Workload.timed(wl.setup(ctx, rep))
      progress(f"set-up pass $rep: $s%.2f s")
      s
    }
    val warmupS = Workload.timed(wl.warmup(ctx))
    progress(f"warmup: $warmupS%.2f s")
    // the timed part starts from a collected heap, as every later pass does
    System.gc()
    // the session and the warmup or bootstrap run once per run; input
    // generation repeats and bills its median
    val setupS = sessionS + warmupS + Stats.median(setupWalls)

    val heap = new HeapPeak
    val m = wl.measure(ctx, heap)
    val sysShare = graft.Bench.sysShare(jiffies0, graft.Bench.cpuJiffies())
    val tc = System.nanoTime()
    val checks = wl.check(ctx)
    progress(f"checks: ${Workload.seconds(tc)}%.2f s")

    val e2e = Seq(Metric("setup_s", setupS, "s")) ++ m.metrics ++ wl.outputMetrics ++
      Seq(Metric("heap_peak_mb", heap.mb, "MB"))

    val (metrics, traceChecks) =
      if (!trace) (e2e, Nil)
      else tracedRun(spark, wl, ctx, m.wallS)

    val allChecks = checks ++ traceChecks
    val failed = m.failed + allChecks.count(!_.ok)
    val attempted = m.attempted + allChecks.length

    val conf = spark.conf.getAll.filter { case (k, _) =>
      Seq("spark.master", "spark.sql.shuffle.partitions", "spark.default.parallelism",
        "spark.sql.adaptive.enabled", "spark.io.compression.lz4.blockSize",
        "spark.shuffle.file.buffer").contains(k)
    }
    val window = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0)),
      "jvm_args" -> json(java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("-X")).mkString(" ")),
      "loadavg_1m_before" -> opts.get("loadavg").map(json).getOrElse("null"),
      "sys_cpu_share" -> sysShare.map(num).getOrElse("null"),
      "spark_conf" -> obj(conf.toSeq.sorted.map { case (k, v) => k -> json(v) }),
      "setup_pass_s" -> setupWalls.map(num).mkString("[", ", ", "]"),
      "session_s" -> num(sessionS), "warmup_s" -> num(warmupS)) ++
      m.info.map { case (k, v) => k -> json(v) }
    println("window " + obj(window))
    allChecks.foreach(c => println(s"check ${c.name}: ${if (c.ok) "ok" else "FAILED"} (${c.detail})"))
    spark.stop()

    val result = obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map(x => x.name -> obj(Seq("value" -> num(x.value), "unit" -> json(x.unit)))))))
    println(result)
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** CPU time of this JVM, all threads, in seconds. */
  private def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** The traced replay: per-layer metrics plus the trace's own checks. */
  private def tracedRun(spark: SparkSession, wl: Workload, ctx: Ctx,
                        untracedWall: Double): (Seq[Metric], Seq[Check]) = {
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val rec = SpanRecorder(s"${wl.name}-${ctx.seed}", sc)
    val gc0 = gcSeconds()
    val cpu0 = processCpuSeconds()
    val replay = wl.traced(ctx, rec)
    listener.drain(sc)
    val processCpuS = processCpuSeconds() - cpu0
    val gcS = gcSeconds() - gc0
    sc.removeSparkListener(listener)

    // the spans themselves, written out once, at the end
    println("spans " + rec.spans.sortBy(_.id).map(sp => obj(Seq(
      "id" -> sp.id.toString, "name" -> json(sp.name),
      "parent" -> sp.parent.fold("null")(_.toString), "run" -> json(sp.run),
      "start_ms" -> num(sp.start), "end_ms" -> num(sp.end), "rows" -> sp.rows.toString)))
      .mkString("[", ", ", "]"))
    val totals = listener.taskTotals
    val layers = LayerReport.layers(rec.spans, listener.jobs, totals)
    val zero = LayerStats(0, 0, 0, 0, 0, 0, 0, 0)
    val un = totals.getOrElse(None, TaskTotals())
    val runCpuS = listener.allCpuNs / 1e9
    val layerCpuS = layers.values.map(_.cpuS).sum
    val overhead = replay.wallS / untracedWall
    val perLayer = Workload.layers.flatMap { l =>
      val s = layers.getOrElse(l, zero)
      Seq(Metric(s"$l.wall_s", s.wallS, "s"), Metric(s"$l.gap_s", s.gapS, "s"),
        Metric(s"$l.jobs", s.jobs.toDouble, "count"), Metric(s"$l.cpu_s", s.cpuS, "s"),
        Metric(s"$l.shuffle_mb", s.shuffleMb, "MB"), Metric(s"$l.spill_mb", s.spillMb, "MB"),
        Metric(s"$l.rows", s.rows.toDouble, "count"))
    } ++ Seq("materialize", "inc.save").map(l =>
      Metric(s"$l.written_mb", layers.getOrElse(l, zero).writtenMb, "MB")) ++ Seq(
      Metric("run.wall_s", replay.wallS, "s"),
      Metric("run.cpu_s", runCpuS, "s"),
      Metric("run.gc_s", gcS, "s"),
      Metric("unattributed.jobs", listener.jobs.count(_.span.isEmpty).toDouble, "count"),
      Metric("unattributed.cpu_s", un.cpuNs / 1e9, "s"),
      Metric("trace.overhead", overhead, "ratio"))
    val unknown = layers.keySet -- wl.layers
    val checks = replay.checks ++ Seq(
      // both sides add up the listener's task events: this catches tasks
      // of stages no job claimed, not a listener that misses events
      Check("trace_cpu_reconciles", math.abs(layerCpuS + un.cpuNs / 1e9 - runCpuS) <= 0.01 * runCpuS + 1e-3,
        f"layers $layerCpuS%.3f + unattributed ${un.cpuNs / 1e9}%.3f vs run $runCpuS%.3f s"),
      // the JVM's own CPU clock bounds the listener's task CPU from above
      Check("trace_cpu_within_process", runCpuS > 0 && runCpuS <= processCpuS,
        f"task cpu $runCpuS%.3f s <= process cpu $processCpuS%.3f s"),
      // a replay that skips work the program does reads faster than it
      Check("trace_overhead", overhead >= wl.overheadFloor,
        f"replay $overhead%.3f x the untraced wall >= ${wl.overheadFloor}"),
      Check("trace_layers_known", unknown.isEmpty, s"unknown span names: ${unknown.mkString(",")}"))
    (perLayer, checks)
  }
}
