package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{GraphSearch, IndexStore}

/** The beam engine's |Q| routing law (Route.BeamMaxQ): a batch
  * at or under the threshold runs the DRIVER-RESIDENT rounds, a larger
  * batch runs the DISTRIBUTED TopKByScore rounds — and the two paths
  * are bit-identical on the same input, because both implement the
  * identical expand → exact-L2 score → keep-ef-by-(d, node) round and
  * the identical greedy-stabilization skip (a subset law of the
  * rounds, not an artifact of where the reduction runs). The serving
  * entries rely on the driver path's job economy; the insert/compact
  * batches scale with the corpus and rely on the distributed path
  * (r12's all-driver routing measured v_graph_insert 10.7 → 37.3 s at
  * sf10 — the regression this law closes).
  */
class BeamPathLawSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-beamlaw-spec")
      .toString
    val rnd = new scala.util.Random(77)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian().toFloat * 3f))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => v + rnd.nextGaussian().toFloat * 0.3f).toSeq,
        (i % 4).toInt)
    }
    rows.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  /** 40 queries: under the default threshold, so default routing runs
    * the driver-resident rounds. */
  private lazy val queries = emb.filter($"vec_id" < 40)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  test("driver and distributed beam paths are bit-identical (40 queries, forced routing)") {
    val ivfDir = IndexStore.ivf(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    val rows = routeLaw {
      GraphSearch.search(spark, ivfDir, gDir, emb, queries,
          k = 5, ef = 16, hops = 3)
        .select($"query_id", $"neighbor_id", $"rnk", $"dist")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
    }
    assert(rows.nonEmpty)
  }

  test("default threshold covers serving batches and routes corpus-scaled batches away") {
    // spec-pins the production constant: serving shapes (|Q| ≤ a few
    // hundred) stay driver-resident; an insert batch at sf10 (20k) or
    // beyond must not.
    assert(Route.BeamMaxQ === 1024)
  }
}
