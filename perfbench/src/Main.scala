package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command-line options; `perfbench/run.py` passes all of them. */
final case class Options(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    size: String,
    config: String,
    data: String,
    expected: String,
    out: String,
    spans: String,
    record: Boolean,
    dump: String)

object Options {
  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String, d: String = null): String =
      m.getOrElse(k, Option(d).getOrElse(throw new IllegalArgumentException(s"missing --$k")))
    Options(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("size"), get("config"), get("data", ""), get("expected", ""), get("out"),
      get("spans", ""), get("record", "0") == "1", get("dump", ""))
  }
}

/** What a run hands every workload: the session, its options and knobs, the
  * tracer, and the recorders for operations and output checks. */
final class Ctx(val spark: SparkSession, val opt: Options, val conf: JsonNode, val tracer: Tracer) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  // latencies of untraced and of traced operations, kept apart
  private val lat, tracedLat = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  // untraced latencies again, one buffer per pass
  private val byPass = ArrayBuffer.empty[ArrayBuffer[Double]]
  private val attempted = new java.util.concurrent.atomic.AtomicLong
  private val failed = new java.util.concurrent.atomic.AtomicLong
  val errors = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]

  def int(k: String): Int = conf.get(k).asInt
  def dbl(k: String): Double = conf.get(k).asDouble

  /** One user-visible operation: timed, counted, and on failure recorded
    * with its exception class and message. Nothing is retried. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val r = body
      val ms = (System.nanoTime() - t0) / 1e6
      lat.synchronized {
        if (tracer.enabled) tracedLat.getOrElseUpdate(name, ArrayBuffer.empty) += ms
        else {
          lat.getOrElseUpdate(name, ArrayBuffer.empty) += ms
          byPass.lastOption.foreach(_ += ms)
        }
      }
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed.incrementAndGet()
        errors.add(Map("op" -> name, "class" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage)))
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String): Unit = synchronized {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Latencies (ms) of the untraced operations that succeeded. */
  def latencies: Seq[Double] = lat.synchronized(lat.values.flatten.toList)
  /** Untraced latencies (ms) per pass begun with `newPass`. */
  def passLatencies: Seq[Seq[Double]] = lat.synchronized(byPass.map(_.toList).toList)
  def newPass(): Unit = lat.synchronized(byPass += ArrayBuffer.empty)
  /** Latencies (ms) of the traced operations of one name that succeeded. */
  def tracedLatencies(name: String): Seq[Double] =
    lat.synchronized(tracedLat.get(name).map(_.toList).getOrElse(Nil))
  /** Median latency (ms) and count per untraced operation name. */
  def byName: Map[String, Any] = lat.synchronized(lat.map { case (n, l) =>
    n -> Map("median_ms" -> Stats.median(l.toSeq), "n" -> l.size)
  }.toMap)
  def counts: (Long, Long) = (attempted.get, failed.get)
  /** Forgets latencies, not attempts or failures: every operation counts. */
  def resetLatencies(): Unit = lat.synchronized { lat.clear(); tracedLat.clear(); byPass.clear() }
}

/** A benchmark workload. `setup` builds inputs and warms up and may run
  * several times (each run replaces the last one's state); `pass` runs one
  * fixed unit of timed work through `Ctx.op`; `check` records output checks. */
trait Workload {
  def setup(): Unit
  /** One-off warm-up after the last setup, counted in setup time once. */
  def warmup(): Unit = ()
  def pass(i: Int): Unit
  def check(): Unit
  /** Workload-specific end-to-end figures (name, value, unit), given the
    * walls of the untraced passes. */
  def metrics(walls: Seq[Double]): Seq[(String, Double, String)]
  /** Per-layer figures of the traced passes, given their number and the
    * Spark task time of each set-up span per set-up. */
  def layerMetrics(passes: Int, setupTaskMs: Map[String, Double]): Seq[(String, Double, String)]
  /** Family of a traced root span, for per-family roll-ups. */
  def family(spanName: String): String = ""
}

object Main {
  def main(args: Array[String]): Unit = {
    val opt = Options.parse(args)
    val conf = new ObjectMapper().readTree(new java.io.File(opt.config))
      .get(opt.workload).get(opt.size)
    require(conf != null, s"no config for ${opt.workload}/${opt.size}")
    val nproc = Runtime.getRuntime.availableProcessors()
    // graft.Bench's session
    val spark = graft.SessionTuning.streaming(SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SessionTuning.install(spark)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(opt.trace, spark.sparkContext)
    val ctx = new Ctx(spark, opt, conf, tracer)
    val counters = new SparkCounters
    val plans = new PlanCounters
    val streams = new StreamCounters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)

    val wl: Workload = opt.workload match {
      case "suite_sf01" => new Suite(ctx)
      case "serve_closed_loop" => new Serving(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (opt.dump.nonEmpty) {
      wl.asInstanceOf[Suite].dump(opt.dump)
      Json.write(opt.out, Map("dump" -> opt.dump))
      spark.stop()
      return
    }
    val result = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    try {
      // a traced run traces set-up too: the serving workload's index builds
      // and loads happen there
      val setupS = (1 to ctx.int("setup_reps")).map { _ =>
        val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
      }
      // warm-up runs untraced, so that set-up spans hold set-up only
      tracer.enabled = false
      val w0 = System.nanoTime()
      wl.warmup()
      val warmupS = (System.nanoTime() - w0) / 1e9
      // Spark's ContextCleaner frees broadcast and shuffle state only after a
      // collection has dropped their references, so collect until it settles
      val heapMb = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(200)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
      // process start to the first timed operation, with the repeatable part
      // of set-up replaced by the median of its repetitions
      metrics += (("setup_s", sessionS + Stats.median(setupS) + warmupS, "s"))
      metrics += (("heap_mb", heapMb, "MB"))
      result("setup_reps_s") = setupS
      result("session_s") = sessionS
      result("warmup_s") = warmupS

      // the untraced passes give the end-to-end figures. A traced run
      // alternates untraced and traced passes, so that drift over the run
      // (JIT, caches) falls on both, and reports the difference of their
      // median walls as the tracing overhead
      val setupSpans = tracer.spans
      var setupTaskMs = Map.empty[String, Double]
      if (opt.trace) {
        org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
        // Spark task time of each set-up span, per set-up, before the
        // counters restart for the traced passes
        val acc = counters.snapshot
        setupTaskMs = setupSpans.groupBy(_.name).map { case (name, ss) =>
          name -> ss.flatMap(sp => acc.get(sp.id)).map(_.taskMs).sum.toDouble / setupS.size
        }
        result("setup_task_ms") = setupTaskMs
        counters.clear(); plans.events.clear(); streams.batches.clear()
        tracer.clear()
      }
      ctx.resetLatencies()
      val jvm0 = Jvm.snapshot
      val passes = runPasses(wl, ctx, opt.seconds, opt.trace)
      val walls = passes.filterNot(_.traced).map(_.wallS)
      val wallS = Stats.median(walls)
      val lat = ctx.latencies
      // per-pass percentiles, then their median: a slow spell of the host
      // that covers less than half the passes does not move the figure
      def pct(p: Double) = Stats.median(ctx.passLatencies.filter(_.nonEmpty).map(Stats.pct(_, p)))
      metrics += (("wall_s", wallS, "s"))
      metrics += (("latency_p50_ms", pct(0.5), "ms"))
      metrics += (("latency_p90_ms", pct(0.9), "ms"))
      metrics ++= wl.metrics(walls)
      result("passes") = walls.size
      result("pass_wall_s") = walls
      result("ops") = lat.size

      if (opt.trace) {
        org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
        val traced = passes.filter(_.traced)
        val tw = traced.map(_.wallS)
        metrics ++= Layers.analyse(wl, tracer.spans, setupSpans, setupS.size, setupTaskMs, counters, plans,
          streams, traced.map(p => (p.startUs, p.endUs)), passes.size, jvm0)
        metrics += (("trace.wall_s", Stats.median(tw), "s"))
        metrics += (("trace.overhead_s", Stats.median(tw) - wallS, "s"))
        result("traced_pass_wall_s") = tw
        if (opt.spans.nonEmpty) Json.write(opt.spans, (setupSpans ++ tracer.spans).map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "start_us" -> s.startUs, "end_us" -> s.endUs)))
      }
      result("op_ms") = ctx.byName
      wl.check()
    } catch {
      case NonFatal(e) =>
        ctx.errors.add(Map("op" -> "run", "class" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage)))
        ctx.check("run_completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    val (attempted, failed) = ctx.counts
    metrics += (("error_rate", if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio"))
    result("workload") = opt.workload
    result("seed") = opt.seed
    result("trace") = opt.trace
    result("size") = opt.size
    result("correct") = ctx.checks.nonEmpty && ctx.checks.forall(_("ok") == true) && failed == 0
    result("attempted") = attempted
    result("failed") = failed
    // a figure without samples (NaN) is written as null
    result("metrics") = metrics.map { case (n, v, u) =>
      n -> Map("value" -> Option(v).filterNot(x => x.isNaN || x.isInfinite), "unit" -> u)
    }.toMap
    result("checks") = ctx.checks.toList
    result("errors") = ctx.errors.asScala.toList
    result("provenance") = Map(
      "nproc" -> nproc,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "workload_config" -> new ObjectMapper().writeValueAsString(conf),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "env" -> sys.env.filter { case (k, _) => k.startsWith("GRAFT_") || k.startsWith("SPARK_GRAFT_") })
    Json.write(opt.out, result)
    spark.stop()
  }

  final case class Pass(traced: Boolean, startUs: Long, endUs: Long) {
    def wallS: Double = (endUs - startUs) / 1e6
  }

  /** Untraced passes until `seconds` have elapsed, at least one. With
    * `traced`, untraced and traced passes alternate, at least one of each,
    * ending on a traced one. */
  private def runPasses(wl: Workload, ctx: Ctx, seconds: Double, traced: Boolean): Seq[Pass] = {
    val tracer = ctx.tracer
    val out = ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    def more = (System.nanoTime() - start) / 1e9 < seconds || out.size < (if (traced) 2 else 1) ||
      (traced && !out.last.traced)
    while (more) {
      val on = traced && out.size % 2 == 1
      tracer.enabled = on
      if (!on) ctx.newPass()
      val t0 = Clock.nowUs
      wl.pass(out.size)
      out += Pass(on, t0, Clock.nowUs)
    }
    tracer.enabled = false
    out.toList
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Linear-interpolated percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** JVM counters: collector time, JIT time, code cache occupancy. */
object Jvm {
  final case class Snap(gcMs: Long, jitMs: Long)
  def snapshot: Snap = Snap(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L))
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
}

/** JSON output through Jackson's Scala module. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
