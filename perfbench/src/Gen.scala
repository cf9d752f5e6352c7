package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, id), so
  * the same seed gives the same inputs at any partitioning. */
object Gen {
  private def u(seed: Long, x: Column, i: Column): Column =
    (pmod(xxhash64(lit(seed), x * 1000 + i), lit(2000)).cast("double") - 1000d) / 1000d

  /** Clustered vectors, the generator of graft.Protocol and graft.Scale made
    * seedable: each row sits at one of `centers` latent centers plus noise.
    * Rows (idCol, vecCol) with ids in [from, from + n). */
  def clustered(spark: SparkSession, from: Long, n: Long, dim: Int, centers: Int, noise: Double,
      seed: Long, idCol: String = "id", vecCol: String = "vec"): DataFrame =
    spark.range(from, from + n).toDF(idCol)
      .withColumn("_c", pmod(xxhash64(lit(seed), col(idCol)), lit(centers)))
      .withColumn(vecCol, transform(sequence(lit(1), lit(dim)),
        i => (u(seed, col("_c") + 7777777L, i) + u(seed, col(idCol), i) * noise).cast("float")))
      .drop("_c")

  /** Graph entry points: one per latent center of [[clustered]] (its lowest
    * id), the per-cluster seeding graft.Protocol uses, so that no cluster of
    * the kNN graph is unreachable. */
  def entries(base: DataFrame, centers: Int, seed: Long): DataFrame =
    base.groupBy(pmod(xxhash64(lit(seed), col("id")), lit(centers)).as("_c"))
      .agg(min(col("id")).as("nid")).select(col("nid"))

  /** Zipf-distributed token documents (id, text) over a `vocab`-term
    * vocabulary, `minLen` to `maxLen` tokens each. */
  def zipfDocs(spark: SparkSession, n: Int, vocab: Int, s: Double, minLen: Int, maxLen: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    val z = new Zipf(vocab, s)
    val rnd = new java.util.Random(seed)
    (0 until n).map { i =>
      val len = minLen + rnd.nextInt(maxLen - minLen + 1)
      (i.toLong, Seq.fill(len)(s"t${z.sample(rnd)}").mkString(" "))
    }.toDF("id", "text")
  }

  /** Inverse-CDF sampler of ranks 1..n with P(r) proportional to r^-s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => math.pow(r, -s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rnd: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(n - 1) + 1
    }
  }

  /** Collected (id, vector) rows. */
  def vectors(df: DataFrame): Array[(Long, Array[Float])] =
    df.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Exact top-k ids per query id. */
  def topIds(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("qid", "nid", "dist").collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(r => (r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq }
}
