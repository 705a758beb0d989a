package graft.candidates

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.kg._
import graft.embed.Embedder

/** IVF-blocked cosine top-k — the inverted-file alternative to
  * [[LshTopK]] for approximate-nearest-neighbor candidate generation
  * (the reference's retrieval is an exact flat index,
  * model/layers_LaBSE_neighbor.py:313-315; IVF is the standard coarse
  * quantizer used to scale that index, re-expressed here as a Spark
  * bucket-join).
  *
  * Structure: a spherical k-means coarse quantizer (centroids trained on
  * the driver over a DETERMINISTIC hash-chosen corpus sample reduced in
  * sorted-id order — bit-identical at any parallelism, same discipline
  * as the LSH bucket geometry) partitions the corpus into nCells
  * inverted lists; each query probes its nProbe nearest centroids. A
  * (query, corpus) pair meets in AT MOST ONE cell (a corpus row lives in
  * exactly one list), so no cross-probe dedup is needed — unlike LSH
  * banding, where a near pair collides in most bands.
  *
  * vs LSH as the scale path: IVF's cells adapt to the data distribution
  * (k-means), so recall per probed row is higher on clustered corpora;
  * LSH needs no training pass and its geometry is oblivious to drift.
  * Both are exposed; [[graft.Pipeline]] auto-selects LSH by default and
  * either can be forced.
  *
  * Scale mechanics are [[BlockedTopK]]'s, with pivot partitions as the
  * block keys (cell, 0) and empty prefixes: vectors cross the cogroup
  * shuffle 16-bit quantized, hot cells are 2-D salt-tiled, partial
  * top-ks merge map-side, and scores are RSM z-scores — the same scale
  * as every other candidate path, so the canonicalization threshold is
  * path-independent.
  *
  * Shuffle inventory: one keyed shuffle per side (corpus rows move once,
  * query rows ≤ nProbe times), one narrow partial-list merge shuffle,
  * one narrow calibration join. Centroid broadcast is nCells × dim
  * floats; auto nCells is min(√corpus, cellsMax, sample/32) — the
  * sample coupling keeps the quantizer trained (≥32 samples/centroid,
  * see [[autoCells]]) and incidentally keeps the broadcast tiny. The
  * assignment scan is O(nCells × dim) per row — the known IVF tradeoff
  * vs LSH's O(bands × rows × dim).
  */
object IvfTopK {

  final case class IvfConfig(
      /** <= 0 → auto: min(ceil(sqrt(corpus rows)), cellsMax,
        * sample/SamplesPerCell) — see [[autoCells]]. */
      nCells: Int = 0,
      cellsMax: Int = 4096,
      /** inverted lists probed per query (recall/cost dial). */
      nProbe: Int = 4,
      /** Lloyd iterations over the driver sample. */
      lloydIters: Int = 6,
      /** corpus sample size for centroid training + RSM calibration. */
      sampleSize: Int = 4096,
      /** max rows (either side) of one cell before 2-D salt tiling. */
      bucketCap: Int = 512,
      seed: Long = Dims.Seed)

  /** Minimum training samples per centroid for the auto cell count:
    * below ~32 the Lloyd pass memorizes individual sample rows instead
    * of estimating cluster means (round-2 verdict: auto √corpus cells
    * with a fixed 4096-row sample degenerated to 1 sample/centroid at
    * corpus ≥ 16M — arbitrary centroids exactly where IVF must win). */
  val SamplesPerCell = 32

  /** Auto cell count: √corpus selectivity, bounded by the broadcast cap
    * AND by what the driver sample can actually train. Pure — gated in
    * OperatorSpec. At extreme corpora this bounds cells at
    * sampleSize/32 (default 128): cells get larger and salt tiling
    * bounds per-task work; callers wanting finer quantization raise
    * sampleSize explicitly (Lloyd is O(iters × sample × cells × dim) on
    * the driver) or use the LSH path, which needs no training pass. */
  def autoCells(nCorpus: Long, sampleLen: Int, cellsMax: Int): Int =
    math.max(1, math.min(math.min(cellsMax, sampleLen / SamplesPerCell),
      math.ceil(math.sqrt(nCorpus.toDouble)).toInt))

  /** argmax-dot centroid of v; ties break to the smaller cell id so
    * assignment is deterministic. */
  def nearestCell(v: Array[Float], cents: Array[Array[Float]]): Int = probeCells(v, cents, 1)(0)

  /** The nProbe nearest centroids by dot, descending (ties to the
    * smaller cell id — the ScoredTopK total order). */
  def probeCells(v: Array[Float], cents: Array[Array[Float]], nProbe: Int): Array[Int] = {
    val buf = new ScoredTopK.TopKBuf(math.min(nProbe, cents.length))
    var c = 0
    while (c < cents.length) { buf.offer(c, Embedder.dot(v, cents(c))); c += 1 }
    buf.resultIds.map(_.toInt)
  }

  /** Spherical k-means over the (driver-resident, id-sorted) sample:
    * init = evenly spaced sample rows, Lloyd assign/mean/renormalize;
    * an emptied cell keeps its previous centroid. Deterministic. */
  def trainCentroids(sample: Array[Emb], nCells: Int, iters: Int): Array[Array[Float]] = {
    require(sample.nonEmpty, "IvfTopK: empty centroid sample")
    val dim = sample(0).emb.length
    var cents = Array.tabulate(nCells) { c =>
      val row = ((c.toLong * sample.length) / nCells).toInt
      Embedder.l2normalize(sample(row).emb.clone())
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val cnts = new Array[Int](nCells)
      sample.foreach { e =>
        val c = nearestCell(e.emb, cents)
        cnts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += e.emb(i); i += 1 }
      }
      cents = Array.tabulate(nCells) { c =>
        if (cnts(c) == 0) cents(c)
        else Embedder.l2normalize(Array.tabulate(dim)(i => (sums(c)(i) / cnts(c)).toFloat))
      }
      it += 1
    }
    cents
  }

  /** Block occurrences: corpus rows land in exactly one inverted list,
    * queries probe their nProbe nearest. */
  private[graft] def corpusBlocks(ds: Dataset[Emb], cents: Broadcast[Array[Array[Float]]])
      : Dataset[BlockedTopK.Block[Array[Short]]] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val cs = cents.value
      it.map(e => (nearestCell(e.emb, cs), 0L, e.id, LshTopK.quantize(e.emb), Array.emptyLongArray))
    }
  }

  private[graft] def queryBlocks(ds: Dataset[Emb], cents: Broadcast[Array[Array[Float]]],
                                 nProbe: Int): Dataset[BlockedTopK.Block[Array[Short]]] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val cs = cents.value
      it.flatMap { e =>
        val q16 = LshTopK.quantize(e.emb)
        probeCells(e.emb, cs, nProbe).iterator.map(c => (c, 0L, e.id, q16, Array.emptyLongArray))
      }
    }
  }

  def topK(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int,
           cfg: IvfConfig = IvfConfig()): Dataset[Candidate] =
    graft.util.JobDesc.withJobDesc(spark, "graft: IVF top-k candidates") {
      topKImpl(spark, queries, corpus, k, cfg)
    }

  private def topKImpl(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int,
           cfg: IvfConfig): Dataset[Candidate] = {
    val qP = queries.persist(StorageLevel.MEMORY_AND_DISK)
    val cP = corpus.persist(StorageLevel.MEMORY_AND_DISK)
    // count + deterministic smallest-hash sample in ONE corpus pass
    val (nCorpus, sample) = BlockedTopK.countAndSample(cP, cfg.sampleSize)
    require(sample.nonEmpty, "IvfTopK: empty corpus")
    val nCells =
      if (cfg.nCells > 0) cfg.nCells // explicit: caller owns sample quality
      else autoCells(nCorpus, sample.length, cfg.cellsMax)
    val centsBc = spark.sparkContext.broadcast(
      trainCentroids(sample, math.min(nCells, sample.length), cfg.lloydIters))
    // persist: both feed the hot-cell inventory AND the cogroup
    val qB = queryBlocks(qP, centsBc, cfg.nProbe).persist(StorageLevel.MEMORY_AND_DISK)
    val cB = corpusBlocks(cP, centsBc).persist(StorageLevel.MEMORY_AND_DISK)
    val merged = BlockedTopK.topK(qB, cB, k, cfg.bucketCap, LshTopK.DotQCell,
      BlockedTopK.blockKeys(qB), BlockedTopK.blockKeys(cB))
    BlockedTopK.rsmCandidates(qP, merged, sample, release = Seq(qB, cB, qP, cP))
  }
}
