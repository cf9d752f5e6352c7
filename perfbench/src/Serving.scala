package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicReferenceArray}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BruteForce, GraphSearch, IvfIndex, Metric, ProductQuant, Serve, ShardedServe,
  SparseIndexModel, SparseSearch}
import graft.streaming.StreamingIndex

/** `serve_closed_loop`: set-up builds and loads 4-shard routers (graph, IVF,
  * IVF-PQ with reorder, BM25 WAND over a Zipf sparse corpus); then nproc
  * client threads run a closed loop over a seeded request mix. Each client
  * sends its next request only when the previous one has returned.
  *
  * The corpora come from the fixed `data_seed`, as the suite's tables do, so
  * that runs of different seeds serve the same indexes; the seed draws the
  * query vectors (from the same latent centers), the BM25 query terms and
  * the order of the request mix, which holds every verb equally often. */
final class Serving(ctx: Ctx) extends Workload {
  import Serving._
  private val spark = ctx.spark
  private val (nb, nq, dim, k, shards) = (ctx.int("nb"), ctx.int("nq"), ctx.int("dim"), ctx.int("k"), ctx.int("shards"))
  private val (nlist, nprobe, degree, ef, reorder) =
    (ctx.int("nlist"), ctx.int("nprobe"), ctx.int("degree"), ctx.int("ef"), ctx.int("reorder"))
  private val (pqM, pqKsub) = (ctx.int("pq_m"), ctx.int("pq_ksub"))
  private val seed = ctx.opt.seed
  private val dataSeed = ctx.int("data_seed").toLong
  private val allowed: Long => Boolean = id => (id & 1L) == 0L

  private var graph: ShardedServe.ShardedGraphServing = _
  private var ivf: ShardedServe.ShardedIvfServing = _
  private var pq: ShardedServe.ShardedIvfCodedServing = _
  private var bm25: ShardedServe.ShardedSparseBM25Serving = _
  private var graphShards: Seq[Serve.LocalGraphSearcher] = Nil
  private var ivfShards: Seq[Serve.LocalIvfSearcher] = Nil
  private var pqShards: Seq[Serve.LocalIvfPqSearcher] = Nil
  private var bm25Shards: Seq[Serve.LocalSparseBM25Searcher] = Nil
  private var singleIvf: Serve.LocalIvfSearcher = _
  private var singleBm25: Serve.LocalSparseBM25Searcher = _
  private var vectors: Array[Array[Float]] = Array.empty
  private var terms: Array[Seq[(String, Long)]] = Array.empty
  private var truth, truthEven: Array[Seq[Long]] = Array.empty
  private var requests: Array[Request] = Array.empty
  private var answers: AtomicReferenceArray[Seq[Long]] = _

  def setup(): Unit = {
    spark.catalog.clearCache()
    val centers = math.max(1, nb / 50)
    val base = Gen.clustered(spark, 0L, nb, dim, centers, ctx.dbl("noise"), dataSeed).persist()
    // query ids, and with them the queries' centers and noise, move with the seed
    val qdf = Gen.clustered(spark, (1L << 40) + (seed & 0xffffffL) * nq, nq, dim, centers, ctx.dbl("noise"),
      dataSeed, "qid", "qvec").persist()
    vectors = Gen.vectors(qdf).sortBy(_._1).map(_._2)
    val tr = ctx.tracer
    val cents = tr.span("operators.ivf.train")(IvfIndex.trainKMeans(spark, base, nlist, dataSeed))
    // the last `append` rows arrive through the streaming IVF append into a
    // growing segment; IVF and PQ shards load the sealed ∪ growing snapshot
    val sealedN = nb - ctx.int("append")
    val sealedIx = tr.span("operators.ivf.assign") {
      val ix = IvfIndex.build(base.filter(col("id") < sealedN), cents).persist(); ix.count(); ix
    }
    val work = s"${System.getProperty("java.io.tmpdir")}/serve-${System.nanoTime()}"
    base.filter(col("id") >= sealedN).write.parquet(s"$work/source")
    tr.span("streaming.append") {
      val q = StreamingIndex.startAppendIvf(spark, s"$work/source", base.schema, cents, s"$work/growing",
        s"$work/checkpoint")
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    val index = StreamingIndex.snapshot(spark, sealedIx, s"$work/growing").persist()
    index.count()
    val model = tr.span("operators.pq.train")(ProductQuant.train(spark, base, pqM, pqKsub, dataSeed))
    val docs = Gen.zipfDocs(spark, ctx.int("docs"), ctx.int("vocab"), ctx.dbl("zipf_s"), ctx.int("doc_min"),
      ctx.int("doc_max"), dataSeed)
    val bp = SparseSearch.postings(docs, "id", "text")
      .join(SparseSearch.docLengths(docs, "id", "text"), "id")
      .select(col("term"), col("id"), col("tf"), col("dl").cast("long").as("dl")).persist()
    val termStats = bp.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"), min(col("tf")).as("min_tf")).persist()
    val nDocs = docs.count()
    val avgdl = bp.select(col("id"), col("dl")).distinct().agg(avg(col("dl"))).head().getDouble(0)
    def bm25Model(p: DataFrame) = new SparseIndexModel(p, termStats, (nDocs, avgdl), 1.2, 0.75)
    def shard(df: DataFrame, s: Int) = df.filter(col("id") % shards === s)

    // every shard of every family is built and loaded concurrently, as
    // serving nodes that each build and load their own shard
    val loads = Seq[(String, Int => Any)](
      "ivf" -> (s => Serve.loadIvf(shard(index, s), cents, Metric.L2)),
      "graph" -> { s =>
        val b = shard(base, s)
        val g = tr.span("operators.graph.build") {
          val g = GraphSearch.knnGraphIvf(b, cents, degree, nprobe = 2).persist(); g.count(); g
        }
        try Serve.load(g, b, Gen.entries(b, centers, dataSeed), Metric.L2) finally g.unpersist()
      },
      "pq" -> (s => Serve.loadIvfPq(shard(index, s), cents, model)),
      "bm25" -> (s => Serve.loadSparseBM25(bm25Model(shard(bp, s)))))
    val tasks: Seq[() => Any] =
      loads.flatMap { case (f, load) => (0 until shards).map(s => () => tr.span(s"serve.load.$f")(load(s))) } ++ Seq(
        () => tr.span("operators.bf.knn")(Gen.topIds(BruteForce.knnFused(qdf, base, k * 8, Metric.L2, roundDist = Some(4)))),
        () => Serve.loadIvf(index, cents, Metric.L2),
        () => Serve.loadSparseBM25(bm25Model(bp)))
    val out = concurrently(tasks)
    val byFamily = out.take(loads.size * shards).grouped(shards).toSeq
    ivfShards = byFamily(0).map(_.asInstanceOf[Serve.LocalIvfSearcher])
    graphShards = byFamily(1).map(_.asInstanceOf[Serve.LocalGraphSearcher])
    pqShards = byFamily(2).map(_.asInstanceOf[Serve.LocalIvfPqSearcher])
    bm25Shards = byFamily(3).map(_.asInstanceOf[Serve.LocalSparseBM25Searcher])
    val Seq(deep, sIvf, sBm25) = out.drop(loads.size * shards)
    singleIvf = sIvf.asInstanceOf[Serve.LocalIvfSearcher]
    singleBm25 = sBm25.asInstanceOf[Serve.LocalSparseBM25Searcher]
    ivf = new ShardedServe.ShardedIvfServing(ivfShards, Metric.L2)
    graph = new ShardedServe.ShardedGraphServing(graphShards, Metric.L2).enableCoarseEntries()
    pq = new ShardedServe.ShardedIvfCodedServing(pqShards)
    bm25 = new ShardedServe.ShardedSparseBM25Serving(bm25Shards)

    // exact truth, unfiltered and over the allowed (even) ids, from one deep
    // exact search: id parity is independent of position, so the k*8 nearest
    // hold k even ids but with negligible probability
    val qids = qdf.select("qid").collect().map(_.getLong(0)).sorted
    val ranked = deep.asInstanceOf[Map[Long, Seq[Long]]]
    truth = qids.map(q => ranked(q).take(k))
    truthEven = qids.map(q => ranked(q).filter(allowed).take(k))
    val z = new Gen.Zipf(ctx.int("vocab"), ctx.dbl("zipf_s"))
    val rq = new java.util.Random(seed ^ 0x5eedL)
    terms = Array.fill(nq)(Seq.fill(ctx.int("query_terms"))(s"t${z.sample(rq)}").distinct.map(_ -> 1L))
    val rnd = new java.util.Random(seed)
    requests = new scala.util.Random(rnd).shuffle(
      Seq.tabulate(ctx.int("requests"))(j => Request(Verbs(j % Verbs.size), rnd.nextInt(nq)))).toArray
    answers = new AtomicReferenceArray[Seq[Long]](requests.length)
    Seq(base, qdf, sealedIx, index, bp, termStats).foreach(_.unpersist())
    Serving.delete(new java.io.File(work))
  }

  /** Runs the tasks on 2 × nproc threads (Spark jobs of this size wait on
    * scheduling more than on cores); results in task order. */
  private def concurrently(tasks: Seq[() => Any]): Seq[Any] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2 * ctx.nproc)
    try tasks.map(t => pool.submit(() => t())).map { fut =>
      try fut.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }
    finally pool.shutdown()
  }

  /** Untimed closed-loop passes, so that every verb's search path is
    * compiled before the first timed request. */
  override def warmup(): Unit = (1 to ctx.int("warmup_passes")).foreach(i => pass(-i))

  private def call(r: Request): Seq[Long] = (r.verb match {
    case "graph" => graph.search(vectors(r.q), k, ef)
    case "ivf" => ivf.search(vectors(r.q), k, nprobe)
    case "pq" => pq.search(vectors(r.q), k, nprobe, reorder)
    case "pq_filtered" => pq.search(vectors(r.q), k, nprobe, reorder, allowed)
    case "bm25" => bm25.search(terms(r.q), k)
  }).map(_._1)

  def pass(i: Int): Unit = {
    val next = new AtomicInteger(0)
    val clients = (0 until ctx.nproc).map { _ =>
      new Thread(() => {
        var j = next.getAndIncrement()
        while (j < requests.length) {
          val r = requests(j)
          ctx.op(r.verb)(ctx.tracer.span("serve.request")(ctx.tracer.span(s"serve.router.${r.verb}")(call(r))))
            .foreach(a => answers.set(j, a))
          j = next.getAndIncrement()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  private def recalls: Map[String, Double] = {
    val by = requests.indices.filter(answers.get(_) != null).groupBy(j => requests(j).verb)
    by.map { case (verb, js) =>
      val hits = js.map { j =>
        val r = requests(j)
        val t = verb match {
          case "pq_filtered" => truthEven(r.q)
          case "bm25" => singleBm25.search(terms(r.q), k).map(_._1)
          case _ => truth(r.q)
        }
        answers.get(j).count(t.toSet).toDouble / math.max(1, t.size)
      }
      verb -> hits.sum / hits.size
    }
  }

  def check(): Unit = {
    val rs = recalls
    Verbs.foreach { v =>
      val floor = ctx.dbl(s"recall_floor_$v")
      ctx.check(s"serve.recall_$v", rs.get(v).exists(_ >= floor), s"recall ${rs.get(v)} floor $floor")
    }
    // on a sampled set, router answers equal the unsharded searcher's: IVF
    // shares one coarse quantizer and BM25 one set of collection statistics,
    // so their merges are exact. Graph and PQ shards hold walks and rerank
    // pools of their own, so their router answer must equal the merge of the
    // shards' answers, and a filtered answer may hold allowed ids only.
    val sample = new java.util.Random(seed + 1).ints(ctx.int("sample").toLong, 0, nq).toArray
    val bad = ArrayBuffer.empty[String]
    sample.foreach { q =>
      val v = vectors(q)
      if (ivf.search(v, k, nprobe) != singleIvf.search(v, k, nprobe)) bad += s"ivf q$q"
      if (bm25.search(terms(q), k) != singleBm25.search(terms(q), k)) bad += s"bm25 q$q"
      if (graph.search(v, k, ef) != ShardedServe.mergeTopK(graphShards.map(_.search(v, k, ef)), k, ascending = true))
        bad += s"graph q$q"
      if (pq.search(v, k, nprobe, reorder) !=
        ShardedServe.mergeTopK(pqShards.map(_.search(v, k, nprobe, reorder)), k, ascending = true)) bad += s"pq q$q"
      val filtered = pq.search(v, k, nprobe, reorder, allowed)
      if (filtered != ShardedServe.mergeTopK(pqShards.map(_.search(v, k, nprobe, reorder, allowed)), k,
        ascending = true)) bad += s"pq_filtered q$q"
      if (!filtered.forall(x => allowed(x._1))) bad += s"pq_filter_leak q$q"
    }
    ctx.check("serve.router_equals_single", bad.isEmpty, bad.take(10).mkString(","))
  }

  def metrics(walls: Seq[Double]): Seq[(String, Double, String)] = {
    val lat = ctx.latencies
    val rs = recalls
    val ann = Seq("graph", "ivf", "pq", "pq_filtered").flatMap(rs.get)
    val resident = graphShards.map(_.residentVectorBytes).sum + ivfShards.map(_.residentBytes).sum
    Seq(("qps", lat.size / walls.sum, "1/s"),
      ("latency_p99_ms", Stats.pct(lat, 0.99), "ms"),
      ("recall_at_10", if (ann.isEmpty) Double.NaN else ann.sum / ann.size, "ratio"),
      ("resident_mb", resident / 1048576.0, "MB")) ++
      rs.toSeq.sorted.map { case (v, r) => (s"recall_at_10.$v", r, "ratio") }
  }

  /** Per-verb latency from the traced closed-loop passes; searcher
    * statistics and the router split (slowest shard, merge, remaining wait)
    * from a single-client pass over a sample of requests that calls every
    * shard directly; distance evaluations of the set-up's Spark kernels per
    * second of their Spark task time. */
  def layerMetrics(tracedPasses: Int, setupTaskMs: Map[String, Double]): Seq[(String, Double, String)] = {
    val perVerb = Verbs.flatMap { v =>
      val l = ctx.tracedLatencies(v)
      Seq((s"serve.$v.calls", l.size.toDouble / math.max(1, tracedPasses), "count"),
        (s"serve.$v.p50_us", Stats.pct(l, 0.5) * 1e3, "us"), (s"serve.$v.p99_us", Stats.pct(l, 0.99) * 1e3, "us"))
    }
    val slowest, merge, waitUs = ArrayBuffer.empty[Double]
    val stat = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    def us[T](f: => T): (T, Double) = { val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e3) }
    requests.take(ctx.int("sample") * Verbs.size).foreach { r =>
      val v = vectors(r.q)
      val (shardOut, statOf): (Seq[(Seq[(Long, Double)], Double)], () => Double) = r.verb match {
        case "graph" => (graphShards.map(s => us(s.search(v, k, ef))), () => graphShards.map(_.lastStats.ndis).sum.toDouble)
        case "ivf" => (ivfShards.map(s => us(s.search(v, k, nprobe))), () => ivfShards.map(_.lastCandidates).sum.toDouble)
        case "pq" => (pqShards.map(s => us(s.search(v, k, nprobe, reorder))), () => 0.0)
        case "pq_filtered" => (pqShards.map(s => us(s.search(v, k, nprobe, reorder, allowed))), () => 0.0)
        case "bm25" => (bm25Shards.map(s => us(s.search(terms(r.q), k))), () => bm25Shards.map(_.lastScored).sum.toDouble)
      }
      stat.getOrElseUpdate(r.verb, ArrayBuffer.empty) += statOf()
      val (_, mUs) = us(ShardedServe.mergeTopK(shardOut.map(_._1), k, ascending = r.verb != "bm25"))
      val (_, routerUs) = us(call(r))
      val slow = shardOut.map(_._2).max
      slowest += slow; merge += mUs; waitUs += routerUs - slow - mUs
    }
    def mean(v: String) = stat.get(v).map(s => s.sum / s.size).getOrElse(0.0)
    // distance evaluations the set-up's Spark-side kernels make, by span:
    // list assignment of the sealed and of the appended rows, the per-shard
    // graph build (one shard × nlist centroid ranking, then each row against
    // its nprobe = 2 nearest lists, taken as equal in size), and the exact
    // truth search. The k-means fits of IVF and PQ training run on the
    // driver, outside Spark tasks, and are not counted.
    val perShard = nb.toDouble / shards
    val evals = Map(
      "operators.ivf.assign" -> (nb - ctx.int("append")).toDouble * nlist,
      "streaming.append" -> ctx.int("append").toDouble * nlist,
      "operators.graph.build" -> shards * (perShard * nlist + perShard * 2 * perShard / nlist),
      "operators.bf.knn" -> nq.toDouble * nb)
    val taskS = evals.keys.toSeq.map(setupTaskMs.getOrElse(_, 0.0)).sum / 1e3
    perVerb ++ Seq(
      ("plans.dist_evals", evals.values.sum, "count"),
      ("plans.dist_evals_per_task_s", if (taskS > 0) evals.values.sum / taskS else Double.NaN, "1/s"),
      ("serve.graph.ndis", mean("graph"), "count"),
      ("serve.ivf.candidates", mean("ivf"), "count"),
      ("serve.bm25.docs_scored", mean("bm25"), "count"),
      ("serve.router.slowest_shard_us", Stats.median(slowest.toSeq), "us"),
      ("serve.router.merge_us", Stats.median(merge.toSeq), "us"),
      ("serve.router.wait_us", Stats.median(waitUs.toSeq), "us"))
  }
}

object Serving {
  val Verbs: Seq[String] = Seq("graph", "ivf", "pq", "pq_filtered", "bm25")
  final case class Request(verb: String, q: Int)

  def delete(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}
