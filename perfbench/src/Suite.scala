package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Registry

/** `suite_sf01`: a fixed, family-stratified subset of the shipped query
  * registry, one query at a time over the generated sf tables. Every query is
  * consumed whole (row count plus an order-independent content hash) and
  * checked against recorded expected values. The seed sets the query order
  * of each pass. */
final class Suite(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val names: Seq[String] = ctx.conf.get("queries").elements.asScala.map(_.asText).toSeq
  private val observed = mutable.Map.empty[String, mutable.Set[(Long, String)]]

  names.foreach(n => require(Registry.queries.contains(n), s"unknown query $n"))

  /** Reads every table: parquet footers, schemas and a full scan. */
  def setup(): Unit =
    Suite.Tables.foreach(t => spark.read.parquet(s"${ctx.opt.data}/$t.parquet").count())

  /** One pass before timing, so that timed passes measure queries whose
    * code is generated and compiled, not the JVM's first encounter. */
  override def warmup(): Unit = pass(-1)

  def pass(i: Int): Unit = {
    val order = new scala.util.Random(ctx.opt.seed * 1000003L + i).shuffle(names)
    order.foreach { q =>
      ctx.op(q) {
        ctx.tracer.span(s"spark.driver.$q") {
          val df = ctx.tracer.span("queries.build")(Registry.queries(q)(spark, ctx.opt.data))
          Suite.digest(df)
        }
      }.foreach(d => observed.getOrElseUpdate(q, mutable.Set.empty) += d)
      spark.catalog.clearCache()
    }
  }

  def check(): Unit = {
    if (ctx.opt.record) {
      val out = names.flatMap(q => observed.get(q).filter(_.size == 1).map(_.head).map { case (r, h) =>
        q -> Map("rows" -> r, "hash" -> h)
      }).toMap
      new java.io.File(ctx.opt.expected).getParentFile.mkdirs()
      Json.write(ctx.opt.expected, out)
    }
    val exp = new ObjectMapper().readTree(new java.io.File(ctx.opt.expected))
    names.foreach { q =>
      val e = Option(exp.get(q)).map(n => (n.get("rows").asLong, n.get("hash").asText))
      val got = observed.getOrElse(q, mutable.Set.empty)
      val ok = e.isDefined && got.nonEmpty && got.forall(e.contains)
      ctx.check(s"suite.$q", ok, s"expected ${e.getOrElse("none")} got ${got.mkString(",")}")
    }
  }

  def metrics(walls: Seq[Double]): Seq[(String, Double, String)] = {
    val lat = ctx.latencies
    Seq(("query_p50_s", Stats.pct(lat, 0.5) / 1e3, "s"), ("query_p90_s", Stats.pct(lat, 0.9) / 1e3, "s"))
  }

  def layerMetrics(passes: Int, setupTaskMs: Map[String, Double]): Seq[(String, Double, String)] = Nil

  override def family(name: String): String = Suite.family(name.stripPrefix("spark.driver."))

  /** Writes each query's output and the registry's oracle SQL for the
    * DuckDB cross-check of the expected values. */
  def dump(dir: String): Unit = {
    names.foreach(q => Registry.queries(q)(spark, ctx.opt.data).write.mode("overwrite").parquet(s"$dir/$q"))
    Json.write(s"$dir/oracle_sql.json", Registry.oracleSql.filter { case (q, _) => names.contains(q) })
  }
}

object Suite {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings")

  /** Row count and an order-independent hash of a frame's content: columns
    * in name order, floating-point values rounded to 4 decimals, per-row
    * xxhash64 summed exactly. */
  def digest(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = order.map(i => canon(pos.schema(i).dataType, col(s"c$i")))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = pos.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    val s = Option(r.getDecimal(1)).map(_.toBigInteger).getOrElse(java.math.BigInteger.ZERO)
    (r.getLong(0), s.mod(java.math.BigInteger.ONE.shiftLeft(64)).toString(16))
  }

  private def canon(t: DataType, c: Column): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 4) + lit(0.0))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** The query families of graft.Bench's roll-up. */
  def family(q: String): String =
    if (q.endsWith("_stream")) "streaming"
    else if (q.startsWith("dedup_") || q.startsWith("decontaminate") || q.startsWith("dup_ngram") ||
      q == "corpus_clean_keep" || q == "pipeline_clean_corpus") "dedup"
    else if (q.startsWith("sparse_")) "sparse"
    else if (q.startsWith("hybrid_") || q.startsWith("multivec") || q.startsWith("mmr_")) "hybrid"
    else if (q.startsWith("cagra") || q.startsWith("graph_") || q.startsWith("knn_graph") ||
      q.startsWith("nn_descent") || q.startsWith("diskann")) "graph"
    else if (q.startsWith("events_")) "events"
    else if (q.startsWith("doc_") || q.startsWith("vocab_") || q.startsWith("source_") ||
      q.startsWith("corpus_")) "text"
    else if (q.startsWith("media_")) "media"
    else if (q.startsWith("lineitem") || q.startsWith("orders") || q == "capability_table" ||
      q == "index_meta") "relational"
    else "vector"
}
