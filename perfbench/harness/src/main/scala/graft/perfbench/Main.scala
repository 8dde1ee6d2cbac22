package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, options). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), render(v))
  }
}

/** One benchmark run in one JVM: set up, [[Main.WarmupPasses]] untimed
  * passes, then exactly [[Main.TimedPasses]] timed passes over the
  * workload's op list. Writes `<out>/result.json`; run.py turns it into
  * the reported metrics. The JIT is still settling in the first passes,
  * so the pass count is fixed whatever the program's speed: a faster
  * build times the same passes, not more of them.
  *
  * Args: --workload query_mix|llm_dedup|sklearn --seed N --trace 0|1
  * --data DIR --out DIR
  */
object Main {
  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = cpuBean.getProcessCpuTime
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Untimed passes before timing. The first one's outputs are the
    * references. With one warmup pass the JIT was still compiling through
    * the timed passes: CPU per pass fell by a quarter or more from the
    * first timed pass to the third. */
  val WarmupPasses = 2
  /** Timed passes per run. A tracing run times the same passes, the
    * middle one traced. */
  val TimedPasses = 3

  final case class OpRun(op: String, seconds: Double, cpuS: Double, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val data = args("data")
    val out = args("out")
    val cores = Runtime.getRuntime.availableProcessors()
    Trace.enabled = trace

    val spark = Trace.span("engine.session") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) Trace.attach(spark)

    val wl: Workload = args("workload") match {
      case "sklearn" => new MlWorkload(spark, data, seed, cores)
      case name => new QueryWorkload(spark, data, QueryWorkload.ops(name, seed))
    }
    Trace.span("engine.load")(wl.load())

    def attempt(op: String): (Double, Double, Either[String, Any]) = {
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      val r = try Right(wl.run(op)) catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $op%s ${s}%.3fs${r.left.toOption.fold("")(" FAILED " + _)}")
      (s, (cpuNs() - c0) / 1e9, r)
    }

    // One pass over the op list. The first warmup pass's outputs are the
    // references that every later pass must reproduce. A failure, warmup
    // included, is recorded and counted, never dropped.
    def runPass(traced: Boolean, first: Boolean = false): Seq[OpRun] = {
      wl.beforePass()
      wl.ops.map { op =>
        val (s, c, r) = attempt(op)
        if (first) r.foreach(wl.reference(op, _))
        val err = if (first) r.left.toOption else r.fold(Some(_), o => wl.check(op, o))
        if (r.isRight) wl.afterOp(op, traced)
        OpRun(op, s, c, err)
      }
    }

    val warmup = runPass(traced = false, first = true) ++
      (1 until WarmupPasses).flatMap(_ => runPass(traced = false))
    val jitAtSetupMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val setupDoneMs = System.currentTimeMillis()

    // Timed passes. A tracing run traces the middle one, so the tracing
    // overhead is measured in the same JVM against untraced passes on both
    // sides.
    val passes = mutable.ArrayBuffer.empty[(Boolean, Seq[OpRun])]
    val windows = mutable.ArrayBuffer.empty[(Long, Long, Long)] // span ids from/to, gc ms
    for (i <- 0 until TimedPasses) {
      val traced = trace && i == TimedPasses / 2
      Trace.enabled = traced
      val from = Trace.watermark
      val gc0 = gcMs()
      val runs = runPass(traced)
      if (traced) windows += ((from, Trace.watermark, gcMs() - gc0))
      passes += traced -> runs
    }

    wl.finish(out)
    // spans stay in memory while the run measures; they are written here
    if (trace) Json.write(s"$out/spans.json", new Trace.Window(0L, Long.MaxValue).dump)
    val layers = if (trace) Layers(windows.toSeq, passes.toSeq, wl.planShapes, jitAtSetupMs) else Map.empty
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val hwmKb = status.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

    Json.write(s"$out/result.json", Map(
      "workload" -> args("workload"),
      "kind" -> (if (wl.isInstanceOf[QueryWorkload]) "queries" else "ml"),
      "seed" -> seed,
      "cores" -> cores,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
      "setup_done_ms" -> setupDoneMs,
      "peak_rss_mb" -> hwmKb / 1024.0,
      "warmup" -> warmup.map(r => Map("op" -> r.op, "error" -> r.error)),
      "passes" -> passes.map { case (traced, runs) =>
        Map("traced" -> traced, "ops" -> runs.map(r =>
          Map("op" -> r.op, "seconds" -> r.seconds, "cpu_s" -> r.cpuS, "error" -> r.error)))
      },
      "layers" -> layers,
      "plan_shapes" -> wl.planShapes.map { case (q, s) => q -> Map(
        "exchanges" -> s.exchanges, "sorts" -> s.sorts, "broadcasts" -> s.broadcasts,
        "reused_exchanges" -> s.reusedExchanges, "checkpoints" -> s.checkpoints) }))
    spark.stop()
  }
}

/** Per-layer metrics of a tracing run: each is the mean over its traced
  * passes, except `engine.*` and `jvm.jit_s` (set-up, once per run) and
  * `jvm.code_cache_mb` (at the end). */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def apply(windows: Seq[(Long, Long, Long)], passes: Seq[(Boolean, Seq[Main.OpRun])],
      shapes: Map[String, PlanShape], jitAtSetupMs: Long): Map[String, Double] = {
    val MB = 1024.0 * 1024.0
    val perPass = windows.map { case (from, to, gcMs) =>
      val w = new Trace.Window(from, to)
      val ops = w.inLayer("operators")
      val ml = w.inLayer("ml")
      val build = w.named("operators.build")
      val searches = w.named("ml.search")
      val fits = w.named("ml.fit")
      val refits = w.named("ml.refit")
      val searchS = w.seconds(searches)
      val shape = shapes.values.foldLeft(PlanShape.zero)(_ + _)
      Map[String, Double](
        "operators.jobs" -> w.sum(ops)(_.jobs).toDouble,
        "operators.build_jobs" -> w.sum(build)(_.jobs).toDouble,
        "operators.build_s" -> w.seconds(build),
        "operators.idle_s" -> w.named("operators.query").map(w.idleSeconds).sum,
        "operators.sched_delay_s" -> w.sum(ops)(_.schedDelayMs) / 1e3,
        "operators.plan_s" -> w.sum(ops)(_.planMs) / 1e3,
        "operators.task_s" -> w.sum(ops)(_.taskRunMs) / 1e3,
        "operators.task_cpu_s" -> w.sum(ops)(_.taskCpuNs) / 1e9,
        "operators.tasks" -> w.sum(ops)(_.tasks).toDouble,
        "operators.stages" -> w.sum(ops)(_.stages).toDouble,
        "operators.shuffle_read_mb" -> w.sum(ops)(_.shuffleReadB) / MB,
        "operators.shuffle_write_mb" -> w.sum(ops)(_.shuffleWriteB) / MB,
        "operators.spill_mb" -> w.sum(ops)(_.spillB) / MB,
        "operators.gc_s" -> w.sum(ops)(_.gcMs) / 1e3,
        "operators.exchanges" -> shape.exchanges.toDouble,
        "operators.sorts" -> shape.sorts.toDouble,
        "operators.broadcasts" -> shape.broadcasts.toDouble,
        "operators.reused_exchanges" -> shape.reusedExchanges.toDouble,
        "operators.checkpoints" -> shape.checkpoints.toDouble,
        "operators.output_mb" -> w.sum(ops)(_.outputB) / MB,
        "ml.fits" -> (fits.size + refits.size).toDouble,
        "ml.fit_s" -> median(fits.map(_.seconds)),
        "ml.fit_concurrency" -> (if (searchS > 0) w.seconds(fits) / searchS else 0.0),
        "ml.fits_per_s" -> (if (searchS > 0) (fits.size + refits.size) / searchS else 0.0),
        "ml.eval_s" -> w.seconds(w.named("ml.eval")),
        "ml.refit_s" -> w.seconds(refits),
        "ml.idle_s" -> searches.map(w.idleSeconds).sum,
        "ml.jobs" -> w.sum(ml)(_.jobs).toDouble,
        "ml.tasks" -> w.sum(ml)(_.tasks).toDouble,
        "ml.task_s" -> w.sum(ml)(_.taskRunMs) / 1e3,
        "ml.keyed_fit_s" -> w.seconds(w.named("ml.keyed_fit")),
        "ml.keyed_transform_s" -> w.seconds(w.named("ml.keyed_transform")),
        "ml.shuffle_write_mb" -> w.sum(ml)(_.shuffleWriteB) / MB,
        "jvm.gc_s" -> gcMs / 1e3)
    }
    val mean = perPass.head.keys.map(k => k -> perPass.map(_(k)).sum / perPass.size).toMap
    val setup = new Trace.Window(0L, windows.head._1)
    val codeCache = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum
    def runS(traced: Boolean) =
      median(passes.filter(_._1 == traced).map(_._2.map(_.seconds).sum))
    mean ++ Map(
      "engine.session_s" -> setup.seconds(setup.named("engine.session")),
      "engine.load_s" -> setup.seconds(setup.named("engine.load")),
      "engine.load_jobs" -> setup.sum(setup.named("engine.load"))(_.jobs).toDouble,
      "jvm.jit_s" -> jitAtSetupMs / 1e3,
      "jvm.code_cache_mb" -> codeCache / MB,
      "trace.run_s" -> runS(true),
      "trace.overhead_ratio" -> (runS(true) / runS(false) - 1.0))
  }
}
