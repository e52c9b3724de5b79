package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.similarity.Ann
import graft.store.Store

/** IVF recall@k floors on a clustered corpus (SCALE.md "Round-11: the
  * clustered-corpus column"). The oracle queries prove each ANN method
  * computes its own semantics exactly; this spec holds the quality each
  * approximation buys at the production sizing SCALE.md recommends:
  * cells ≈ cluster count, nProbe 4 for recall@10 ≥ 0.9, nProbe 8 for
  * ≥ 0.98.
  *
  * The corpus has the sf0.1 embeddings shape (2,000 unit vectors, 64
  * dims) with planted structure: a mixture of 32 Gaussians, sigma 0.15,
  * around unit-norm centres. Each vector draws from its own id-seeded
  * stream, so the data is independent of partitioning.
  */
class AnnRecallSpec extends SparkSpec {

  private val N = 2000
  private val Dims = 64
  private val Clusters = 32
  private val Sigma = 0.15
  private val Seed = 20260814L
  private val K = 10
  private val Queries = 100

  private def clusteredCorpus(): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(Seed)
    val centres = Array.fill(Clusters) {
      val v = Array.fill(Dims)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    (0L until N).map { id =>
      val r = new java.util.Random(Seed ^ (id * 0x9E3779B97F4A7C15L))
      val c = centres(r.nextInt(Clusters))
      val v = Array.tabulate(Dims)(d => c(d) + Sigma * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(x => (x / norm).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("IVF at 32 cells on the clustered corpus: recall@10 reaches 0.90 " +
    "at nProbe 4 and 0.98 at nProbe 8, and never falls as nProbe grows") {
    val emb = clusteredCorpus().localCheckpoint(true)
    val queries = emb.where(col("vec_id") < Queries)
    val truth = Ann.bruteForceTopK(emb, queries, K)
      .select("q_id", "nn_id").localCheckpoint(true)
    val truthN = truth.count()
    assert(truthN === Queries * K)
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_recall")
      .resolve("ivf").toString
    Store.buildIvfIndex(spark, idx, emb, nCells = Clusters)
    val (cells, asg) = Store.readIvfIndex(spark, idx)
    val recall = Seq(1, 2, 4, 8).map { p =>
      val hits = Ann.ivfTopK(emb, queries, K, cells, asg, nProbe = p)
        .select("q_id", "nn_id").join(truth, Seq("q_id", "nn_id")).count()
      p -> hits.toDouble / truthN
    }.toMap
    info(s"recall@$K by nProbe: ${recall.toSeq.sorted.mkString(", ")}")
    assert(recall(4) >= 0.90, recall)
    assert(recall(8) >= 0.98, recall)
    assert(recall(1) <= recall(2) && recall(2) <= recall(4) &&
      recall(4) <= recall(8), recall)
  }
}
