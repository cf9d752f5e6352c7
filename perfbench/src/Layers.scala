package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run. Figures of the traced passes are
  * divided by the number of traced passes, figures of set-up spans by the
  * number of set-ups, and JVM and cache figures, which cannot be told apart
  * by pass, by the number of all timed passes, so that runs of different
  * length compare. Spark jobs without a span tag come from untraced passes
  * and are left out.
  *
  * Self time: a span's self region is its interval minus its children's.
  * Inside that region, time under a Catalyst phase counts to `spark.plan`,
  * time under a running stage to `spark.exec`, and the rest to the layer the
  * span is named after. */
object Layers {
  val SelfLayers = Seq("queries", "spark.plan", "spark.driver", "spark.exec", "serve", "serve.router")
  val Families = Seq("dedup", "events", "graph", "hybrid", "media", "relational", "sparse",
    "streaming", "text", "vector")
  /** Set-up spans reported as `<name>_ms` per set-up. */
  val SetupOps = Seq("operators.ivf.train", "operators.ivf.assign", "operators.graph.build",
    "operators.pq.train", "operators.bf.knn", "streaming.append", "serve.load.graph", "serve.load.ivf",
    "serve.load.pq", "serve.load.bm25")
  /** Workload-reported figures; a workload without the layer reports 0. */
  val WorkloadFigures: Seq[(String, String)] =
    Serving.Verbs.flatMap(v => Seq(s"serve.$v.calls" -> "count", s"serve.$v.p50_us" -> "us",
      s"serve.$v.p99_us" -> "us")) ++ Seq(
      "serve.graph.ndis" -> "count", "serve.ivf.candidates" -> "count", "serve.bm25.docs_scored" -> "count",
      "serve.router.slowest_shard_us" -> "us", "serve.router.merge_us" -> "us", "serve.router.wait_us" -> "us",
      "plans.dist_evals" -> "count", "plans.dist_evals_per_task_s" -> "1/s")

  def layerOf(name: String): String =
    if (name.startsWith("serve.router")) "serve.router"
    else SelfLayers.find(l => name == l || name.startsWith(l + ".")).getOrElse(name.takeWhile(_ != '.'))

  def analyse(
      wl: Workload,
      spans: Seq[Span],
      setupSpans: Seq[Span],
      setups: Int,
      setupTaskMs: Map[String, Double],
      counters: SparkCounters,
      plans: PlanCounters,
      streams: StreamCounters,
      traced: Seq[(Long, Long)],
      allPasses: Int,
      jvm0: Jvm.Snap): Seq[(String, Double, String)] = {
    val n = math.max(1, traced.size).toDouble
    def inTraced(us: Long) = traced.exists { case (a, b) => us >= a && us <= b }
    val accs = counters.snapshot - 0L
    val all = accs.values.toSeq
    val phases = plans.events.asScala.toSeq.filter(p => inTraced(p.analysis._1) || inTraced(p.physical._1))
    val planIv = Intervals.union(phases.flatMap(p => Seq(p.analysis, p.optimization, p.physical)))
    val stageIv = Intervals.union(all.flatMap(_.stageIntervals))
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    val roots = spans.filter(_.parent == 0L)
    def ms(iv: (Long, Long)) = (iv._2 - iv._1) / 1e3
    def within(r: Span, us: Long) = us >= r.startUs && us <= r.endUs
    def gapMs(r: Span) = (r.us - Intervals.intersect(Seq((r.startUs, r.endUs)), stageIv)) / 1e3
    // driver gaps only exist in requests that ran Spark jobs
    val sparkTraces = accs.collect { case (id, a) if a.jobs > 0 => byId.get(id).map(_.trace) }.flatten.toSet
    val sparkRoots = roots.filter(r => sparkTraces(r.id))

    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val own = Intervals.minus(Seq((s.startUs, s.endUs)),
        Intervals.union(children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))))
      val plan = Intervals.intersect(own, planIv)
      val exec = Intervals.intersect(Intervals.minus(own, planIv), stageIv)
      self("spark.plan") += plan / 1e3
      self("spark.exec") += exec / 1e3
      self(layerOf(s.name)) += (Intervals.length(own) - plan - exec) / 1e3
    }
    val wallMs = traced.map(iv => iv._2 - iv._1).sum / 1e3

    def sum(f: SparkCounters#Acc => Long): Double = all.map(f).sum.toDouble
    val taskMs = sum(_.taskMs)
    val skew = all.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }
    val batches = streams.batches.asScala.toSeq.filter(b => inTraced(b.startUs))
    val streamRoots = roots.filter(r => batches.exists(b => within(r, b.startUs)))
    val triggerMs = batches.map(_.triggerMs).sum.toDouble
    val jvm1 = Jvm.snapshot

    // per-family roll-ups over the root spans (suite queries)
    val famOf: Long => String = id => byId.get(id).map(s => wl.family(s.name)).getOrElse("")
    val famMetrics = Families.flatMap { f =>
      val rs = roots.filter(r => famOf(r.id) == f)
      val famAccs = accs.collect { case (id, a) if byId.get(id).exists(s => famOf(s.trace) == f) => a }
      val analysis = phases.filter(p => rs.exists(r => within(r, p.analysis._1))).map(p => ms(p.analysis)).sum
      Seq(
        (s"spark.plan.analysis_ms.$f", analysis / n, "ms"),
        (s"spark.driver.gap_ms.$f", rs.filter(r => sparkTraces(r.id)).map(gapMs).sum / n, "ms"),
        (s"spark.exec.task_ms.$f", famAccs.map(_.taskMs).sum / n, "ms"),
        (s"spark.shuffle.fetch_wait_ms.$f", famAccs.map(_.fetchWaitMs).sum / n, "ms"))
    }
    val own = wl.layerMetrics(traced.size, setupTaskMs).map(m => m._1 -> m).toMap
    val perSetup = math.max(1, setups).toDouble
    val perPass = math.max(1, allPasses).toDouble

    Seq(
      ("queries.build_ms", spans.filter(_.name == "queries.build").map(_.us).sum / 1e3 / n, "ms"),
      ("spark.plan.analysis_ms", phases.map(p => ms(p.analysis)).sum / n, "ms"),
      ("spark.plan.optimization_ms", phases.map(p => ms(p.optimization)).sum / n, "ms"),
      ("spark.plan.physical_ms", phases.map(p => ms(p.physical)).sum / n, "ms"),
      ("spark.plan.qe_count", phases.size / n, "count"),
      ("spark.driver.jobs", sum(_.jobs) / n, "count"),
      ("spark.driver.stages", sum(_.stages) / n, "count"),
      ("spark.driver.gap_ms", sparkRoots.map(gapMs).sum / n, "ms"),
      ("spark.exec.tasks", sum(_.tasks) / n, "count"),
      ("spark.exec.task_ms", taskMs / n, "ms"),
      ("spark.exec.task_gc_ms", sum(_.taskGcMs) / n, "ms"),
      ("spark.exec.busy_cores", if (wallMs > 0) taskMs / wallMs else 0.0, "cores"),
      ("spark.exec.skew", if (skew.isEmpty) 1.0 else skew.max, "ratio"),
      ("spark.shuffle.write_mb", sum(_.shuffleWrite) / 1048576.0 / n, "MB"),
      ("spark.shuffle.read_mb", sum(_.shuffleRead) / 1048576.0 / n, "MB"),
      ("spark.shuffle.fetch_wait_ms", sum(_.fetchWaitMs) / n, "ms"),
      ("spark.shuffle.spill_mb", sum(_.spill) / 1048576.0 / n, "MB"),
      ("spark.cache.blocks_dropped", counters.blocksDropped.get / perPass, "count"),
      ("streaming.batches", batches.size / n, "count"),
      ("streaming.trigger_ms", triggerMs / n, "ms"),
      ("streaming.addbatch_ms", batches.map(_.addBatchMs).sum / n, "ms"),
      ("streaming.outside_trigger_ms", math.max(0.0, streamRoots.map(_.us).sum / 1e3 - triggerMs) / n, "ms"),
      ("jvm.gc_ms", (jvm1.gcMs - jvm0.gcMs) / perPass, "ms"),
      ("jvm.jit_ms", (jvm1.jitMs - jvm0.jitMs) / perPass, "ms"),
      ("jvm.code_cache_mb", Jvm.codeCacheMb, "MB"),
      ("trace.spans", spans.size / n, "count"),
      ("trace.coverage", if (wallMs > 0) self.values.sum / wallMs else 0.0, "ratio")
    ) ++ SetupOps.map { op =>
      (if (op.startsWith("serve.load.")) op.replace("serve.load.", "serve.load_ms.") else s"${op}_ms",
        setupSpans.filter(_.name == op).map(_.us).sum / 1e3 / perSetup, "ms")
    } ++ SelfLayers.map(l => (s"self_ms.$l", self(l) / n, "ms")) ++
      famMetrics ++
      WorkloadFigures.map { case (name, unit) => own.getOrElse(name, (name, 0.0, unit)) }
  }
}
