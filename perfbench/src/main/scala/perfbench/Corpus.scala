package perfbench

import java.util.Random

import org.apache.spark.sql.SparkSession

/** The seeded vector inputs every vector workload shares: a corpus drawn
  * from a Gaussian mixture (labels follow the component), held-out
  * queries from the same mixture, and insert vectors from a second,
  * distant set of components. Inserts stay far from every query, so the
  * base-corpus ground truth remains exact while inserts land. */
final class Corpus(val base: Array[Array[Float]], val labels: Array[Int],
    val queries: Array[Array[Float]], val inserts: Array[Array[Float]]) {
  def n: Int = base.length

  /** Vector of an id: base ids are 0 until n, insert ids follow. */
  def vector(id: Long): Array[Float] =
    if (id < n) base(id.toInt) else inserts((id - n).toInt)

  /** Writes the corpus as `<dir>/embeddings.parquet` (vec_id, embedding,
    * label) — the table layout IndexStore and the query entries read. */
  def write(spark: SparkSession, dir: String, parts: Int): Unit = {
    import spark.implicits._
    base.indices.map(i => (i.toLong, base(i).toSeq, labels(i)))
      .toDF("vec_id", "embedding", "label")
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

object Corpus {
  val Dim = 64
  val Components = 200
  val Labels = 10
  private val Spread = 1.0
  private val InsertOffset = 40.0

  def generate(seed: Long, n: Int, nQueries: Int, nInserts: Int): Corpus = {
    val rnd = new Random(seed)
    val centers = Array.fill(Components, Dim)(rnd.nextGaussian() * Spread)
    val insertCenters =
      Array.fill(Components / 10, Dim)(rnd.nextGaussian() * Spread + InsertOffset)
    def draw(cs: Array[Array[Double]]): (Array[Float], Int) = {
      val c = rnd.nextInt(cs.length)
      (Array.tabulate(Dim)(d => (cs(c)(d) + rnd.nextGaussian()).toFloat), c)
    }
    val (base, comps) = Array.fill(n)(draw(centers)).unzip
    val queries = Array.fill(nQueries)(draw(centers)._1)
    val inserts = Array.fill(nInserts)(draw(insertCenters)._1)
    new Corpus(base, comps.map(_ % Labels), queries, inserts)
  }

  /** Squared L2 in double precision: the reference the checks use. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact top-k (id, squared distance) of every query over the base
    * corpus, by a plain loop with a bounded heap per query, on `threads`
    * threads. Ties order by id. */
  def groundTruth(c: Corpus, qs: Array[Array[Float]], k: Int,
      threads: Int): Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](qs.length)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (0 until threads).map { _ =>
      new Thread(() => {
        var q = next.getAndIncrement()
        while (q < qs.length) {
          val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
            (a: (Long, Double), b: (Long, Double)) => {
              val c = java.lang.Double.compare(b._2, a._2)
              if (c != 0) c else java.lang.Long.compare(b._1, a._1)
            })
          var i = 0
          while (i < c.n) {
            val d = l2sq(qs(q), c.base(i))
            if (heap.size < k) heap.add((i.toLong, d))
            else if (d < heap.peek._2) { heap.poll(); heap.add((i.toLong, d)) }
            i += 1
          }
          val arr = new Array[(Long, Double)](heap.size)
          var j = arr.length - 1
          while (!heap.isEmpty) { arr(j) = heap.poll(); j -= 1 }
          out(q) = arr
          q = next.getAndIncrement()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    out
  }
}

/** One ranked answer row as the library returns it. */
final case class Hit(id: Long, rnk: Long, dist: Double)

/** Independent checks of returned answers against the ground truth. */
object Check {
  // the library reports round(sqrt(l2sq), 4) from a float-lane fold
  private def distOk(reported: Double, trueSq: Double): Boolean =
    math.abs(reported - math.sqrt(trueSq)) <= 1e-3 + 1e-5 * math.sqrt(trueSq)

  /** Structural validity: k rows, ranks 1..k, distinct ids, ascending
    * distances, and every distance equal to the id's true distance.
    * Returns an error message or None. */
  def valid(c: Corpus, qv: Array[Float], hits: Seq[Hit], k: Int): Option[String] = {
    val byRank = hits.sortBy(_.rnk)
    if (byRank.size != k) Some(s"${byRank.size} hits, expected $k")
    else if (byRank.map(_.rnk) != (1L to k.toLong)) Some(s"ranks ${byRank.map(_.rnk)}")
    else if (byRank.map(_.id).distinct.size != k) Some("duplicate ids")
    else if (byRank.sliding(2).exists(p => p(1).dist < p(0).dist)) Some("distances not ascending")
    else byRank.find(h => h.id < 0 || h.id >= c.n + c.inserts.length ||
        !distOk(h.dist, Corpus.l2sq(qv, c.vector(h.id))))
      .map(h => s"id ${h.id} reported at distance ${h.dist}")
  }

  /** Share of returned ids within the true k-th distance (ties at the
    * k-th distance count either way). */
  def recall(c: Corpus, qv: Array[Float], hits: Seq[Hit],
      truth: Array[(Long, Double)]): Double = {
    val kth = truth.last._2
    hits.count(h => Corpus.l2sq(qv, c.vector(h.id)) <= kth * (1 + 1e-6) + 1e-9)
      .toDouble / truth.length
  }

  /** Exact answers must hold exactly the true top-k, ties either way. */
  def exact(c: Corpus, qv: Array[Float], hits: Seq[Hit],
      truth: Array[(Long, Double)]): Option[String] =
    valid(c, qv, hits, truth.length).orElse(
      if (recall(c, qv, hits, truth) < 1.0)
        Some(s"exact answer ${hits.sortBy(_.rnk).map(_.id)} != truth ${truth.map(_._1).toSeq}")
      else None)
}
