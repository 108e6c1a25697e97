package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic CLUSTERED embedding corpus — the evidence fixture
  * the r9 verdict asked for: every ANN/dedup recall and cost number
  * so far was measured on the uniform random fixture, which is the
  * adversarial case for the adaptive probe's centroid signal (all
  * gaps look alike) and the friendly case for banding. Real
  * embedding corpora are clustered; this generator scales the
  * `DedupSpec` planted-cluster shape (Gaussian centres + per-member
  * noise) to probe-sized corpora, plus a uniform background fraction
  * so a hard tail exists for the adaptive probe to escalate.
  *
  * Geometry: `nClusters` centres ~ N(0,1)^dim; a member is
  * `centre + noise·N(0,1)^dim` (within-cluster cosine ≈
  * 1/(1+noise²) for unit-variance centres), and a `bgFrac` fraction
  * of rows is pure N(0,1)^dim background (cross-cosine ≈ 0). Row
  * content is keyed by `seed ^ mix(vec_id)` so the corpus is
  * IDENTICAL under any partitioning — reruns, appends, and
  * different parallelism all see the same bytes.
  */
object ClusteredFixture {

  def frame(spark: SparkSession, n: Long, dim: Int = 64,
            nClusters: Int = 50, noise: Double = 0.35,
            bgFrac: Double = 0.1, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centres = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val bc = spark.sparkContext.broadcast(centres)
    spark.range(n).map { id =>
      val r = new scala.util.Random(seed ^ (id * 0x9E3779B97F4A7C15L))
      val bg = r.nextDouble() < bgFrac
      val c = bc.value((id % nClusters).toInt)
      val emb = Array.tabulate(dim) { i =>
        val g = r.nextGaussian()
        if (bg) g.toFloat else (c(i) + noise * g).toFloat
      }
      // label CORRELATED with the cluster (cluster mod 10): a filtered
      // probe's predicate then selects whole clusters — the adversarial
      // case for filter×probe interaction, where qualifying rows
      // concentrate in a few cells and every other query's probed
      // cells are EMPTIED by the filter (uniform fixtures spread
      // qualifying rows evenly and never exercise that path)
      (id, emb, ((id % nClusters) % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
  }
}
