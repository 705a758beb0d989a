package graft.candidates

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._
import graft.embed.Embedder

/** Top-k similarity join — the flagship operator (SURVEY.md §2.3 J4).
  *
  * The reference uses an exact FAISS IndexFlatL2 over all KG2 vectors
  * (model/layers_LaBSE_neighbor.py:313-315). Vectors are L2-normalized,
  * so L2 rank ≡ cosine rank (SURVEY.md §7.5 item 6); we rank by cosine.
  *
  * Two kinds of physical path:
  *  - [[ExactTopK]]: broadcast corpus + per-query top-k buffer. The parity
  *    oracle the recall tests compare against, and the right plan
  *    whenever the corpus fits an executor (≲10^6 × dim floats). No
  *    shuffle at all on the query side.
  *  - BLOCKED top-k ([[BlockedTopK]]) — the 10^12-scale paths: a key
  *    generator maps each vector to block keys, pairs sharing a block
  *    are scored in one cogroup cell, and per-source partial lists merge
  *    map-side. Skew is handled explicitly: a block over the cap on
  *    either side is 2-D tiled — each side hashes to its own tile and
  *    replicates across the other side's tiles, so every pair meets in
  *    exactly one cell and per-task work stays O(cap²). The key
  *    generators are [[LshTopK]] (banded random-projection keys),
  *    [[IvfTopK]] (k-means pivot cells) and, for the continuous mode,
  *    [[BucketIndex.cogroupTopK]] (LSH keys under a frozen geometry).
  */
object ExactTopK {

  /** For each query vector, the top-k corpus vectors by cosine, plus the
    * RSM calibration moments (mean/std of cosine over a deterministic
    * 1/16 corpus sample — the negative-distribution estimate). */
  def topK(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int): Dataset[Candidate] =
    graft.util.JobDesc.withJobDesc(spark, "graft: exact top-k (broadcast corpus)") {
      topKImpl(spark, queries, corpus, k)
    }

  private def topKImpl(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int): Dataset[Candidate] = {
    import spark.implicits._
    val corpusArr = corpus.collect()
    val bc = spark.sparkContext.broadcast(corpusArr)
    queries.mapPartitions { it =>
      val cs = bc.value
      it.flatMap { q =>
        // ranked under ScoredTopK's total order (cos desc, id asc), so
        // ties do not depend on the corpus collect order
        val buf = new ScoredTopK.TopKBuf(k)
        var mu = 0.0; var m2 = 0.0; var nSamp = 0L
        var i = 0
        while (i < cs.length) {
          val s = Embedder.dot(q.emb, cs(i).emb)
          buf.offer(cs(i).id, s)
          if ((i & 15) == 0) { // deterministic negative sample for RSM
            nSamp += 1; val d = s - mu; mu += d / nSamp; m2 += d * (s - mu)
          }
          i += 1
        }
        val sigma = if (nSamp > 1) math.sqrt(m2 / (nSamp - 1)) else 1.0
        Iterator.range(0, buf.n).map { r =>
          Candidate(q.id, buf.ids(r), graft.align.MoCoTrainer.rsmScore(buf.cs(r), mu, sigma), r + 1)
        }
      }
    }
  }
}
