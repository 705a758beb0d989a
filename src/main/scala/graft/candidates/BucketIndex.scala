package graft.candidates

import org.apache.spark.sql.Dataset
import graft.kg.{Dims, Emb}
import graft.embed.Embedder
import graft.util.DetHash

/** Frozen LSH bucket-index geometry — the candidate-generation contract
  * of the INDEXED continuous-construction mode (IncrementalAlign with
  * `useIndex`).
  *
  * The exact continuous mode keeps per-query lists over the FULL corpus,
  * which forces one narrow corpus pass per delta batch (the rescore) and
  * a per-query merge against every delta row — fine at sandbox scale,
  * O(corpus) per batch at the 10^12-doc design point. The indexed mode
  * changes the CANDIDATE RULE instead of approximating the scores:
  *
  *   candidates(q, corpus) = { r : ∃ band j, key_j(q) == key_j(r) }
  *
  * under a geometry (projections, width, center) FROZEN at bootstrap.
  * Lists remain the exact cosine top-k OF THAT CANDIDATE SET, the RSM
  * calibration sample is unchanged, and because the rule is a pure
  * function of (q.emb, r.emb, geometry), the maintained state is
  * bit-identical to a from-scratch indexed run over the union corpus —
  * the same exactness contract as the exact mode, relative to the
  * indexed candidate rule (gated in IncrementalSpec).
  *
  * Geometry pieces: seeded deterministic unit projections,
  * mean-centering, banded FNV keys — the batch [[LshTopK]] path fits
  * the same geometry per call; here the result is COMMITTED in the
  * alignment state rather than re-derived per call, because candidate
  * membership must not drift as the corpus grows; a production system
  * refreshes the geometry only on an explicit index rebuild. */
final case class IndexGeometry(bands: Int, rows: Int, width: Double,
                               seed: Long, center: Array[Float],
                               /** the width-scale `fit` was called with —
                                 * carried IN the geometry so consumers
                                 * (DriftMonitor's fitted-residual
                                 * baseline = width/wScale) cannot be
                                 * mis-scaled by a config that differs
                                 * from the one the frozen fit used */
                               wScale: Double = 1.0) {
  @transient private lazy val projs = IndexGeometry.projections(bands, rows, seed, center.length)

  /** Band keys of one embedding under the frozen geometry. */
  def keysOf(emb: Array[Float]): Array[Long] = {
    val centered = new Array[Float](center.length)
    var i = 0
    while (i < center.length) { centered(i) = emb(i) - center(i); i += 1 }
    IndexGeometry.bandKeysOf(centered, projs, width, bands, rows)
  }
}

object IndexGeometry {
  /** Deterministic UNIT projection matrix (bands×rows, dim). */
  private def projections(bands: Int, rows: Int, seed: Long, dim: Int): Array[Array[Float]] =
    Array.tabulate(bands * rows) { p =>
      val v = Array.tabulate(dim) { i =>
        var s = 0.0
        var k = 0
        while (k < 4) { s += DetHash.toUnit(DetHash.h3(seed, p.toLong, i.toLong, k.toLong)); k += 1 }
        ((s - 2.0) * math.sqrt(3.0)).toFloat
      }
      Embedder.l2normalize(v)
    }

  /** Band keys of one vector: FNV over the rowsPerBand bucket ids. */
  private def bandKeysOf(emb: Array[Float], projs: Array[Array[Float]], w: Double,
                         bands: Int, rows: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = 0xcbf29ce484222325L ^ j
      var r = 0
      while (r < rows) {
        val b = math.floor(Embedder.dot(emb, projs(j * rows + r)) / w).toLong
        h ^= b; h *= 0x100000001b3L
        r += 1
      }
      out(j) = DetHash.mix64(h)
      j += 1
    }
    out
  }

  /** Fit a geometry from the (deterministic, driver-side) calibration
    * sample: center = sample mean, width = wScale × per-coordinate
    * residual std. */
  def fit(sample: Array[Emb], bands: Int = 10, rows: Int = 2,
          wScale: Double = 1.0, seed: Long = Dims.Seed): IndexGeometry = {
    require(sample.nonEmpty, "IndexGeometry.fit: empty sample")
    val dim = sample(0).emb.length
    val mean = new Array[Float](dim)
    val acc = new Array[Double](dim); var sq = 0.0
    sample.foreach { e =>
      var i = 0
      while (i < dim) { acc(i) += e.emb(i); sq += e.emb(i).toDouble * e.emb(i); i += 1 }
    }
    val n = sample.length
    var i = 0
    while (i < dim) { mean(i) = (acc(i) / n).toFloat; i += 1 }
    val residVar = math.max(1e-12, sq / n - mean.map(x => x.toDouble * x).sum)
    IndexGeometry(bands, rows, wScale * math.sqrt(residVar / dim), seed, mean, wScale)
  }
}

object BucketIndex {

  /** One committed index row: the corpus row's occurrence in band `band`
    * with its band-key prefix keys[0..band) — the prefix lets a probe
    * score each (query, row) pair exactly once (in their FIRST shared
    * band), the cross-band dedup of [[BlockedTopK]]. At the design point
    * this table is committed bucket-partitioned (TableIO partitionCols on
    * a key bucket), so probes prune partitions instead of scanning. */
  final case class IndexRow(band: Int, key: Long, id: Long,
                            emb: Array[Float], prefix: Array[Long])

  /** Exact cosine top-k of one query over the BUCKET-SHARING subset of a
    * driver-side corpus slice (keys precomputed, aligned with `corpus`).
    * Returns (ids, cos, candidateCount) — the count drives the
    * completeness flag (complete ⟺ the list is ALL candidates). */
  def scoreShared(qEmb: Array[Float], qKeys: Array[Long],
                  corpus: Array[Emb], corpusKeys: Array[Array[Long]],
                  k: Int): (Array[Long], Array[Double], Long) = {
    val buf = new ScoredTopK.TopKBuf(k)
    var cands = 0L
    var i = 0
    while (i < corpus.length) {
      if (BlockedTopK.sharesBand(qKeys, corpusKeys(i))) {
        buf.offer(corpus(i).id, Embedder.dot(qEmb, corpus(i).emb))
        cands += 1
      }
      i += 1
    }
    (buf.resultIds, buf.resultCos, cands)
  }

  /** The index rows of one corpus row (bands occurrences). */
  def rowsOf(id: Long, emb: Array[Float], geom: IndexGeometry): Iterator[IndexRow] = {
    val keys = geom.keysOf(emb)
    Iterator.tabulate(geom.bands)(j =>
      IndexRow(j, keys(j), id, emb, java.util.Arrays.copyOf(keys, j)))
  }

  /** Deterministic order-statistics corpus sample in ONE distributed
    * pass (BlockedTopK.countAndSample; same (hash(id), id) discipline as
    * ScoredTopK.sampleIdsOf, so the returned rows — ascending by id —
    * ARE the calibration sample of the corpus id set). */
  def corpusSample(corpus: Dataset[Emb], sampleSize: Int): Array[Emb] =
    BlockedTopK.countAndSample(corpus, sampleSize)._2

  /** Cell scorer of the indexed mode: full float dots, so the lists are
    * bit-exact against the delta path's driver-side scorers. */
  private[graft] val DotCell: BlockedTopK.CellScore[Array[Float]] = (q, vecs, idx, n, out) => {
    var j = 0
    while (j < n) { out(j) = Embedder.dot(q, vecs(idx(j))); j += 1 }
  }

  /** Distributed bootstrap scorer — the indexed twin of the exact
    * bootstrap's broadcast scorer, with NEITHER side collected: query
    * probe rows (bands per query, same shape as [[IndexRow]]) meet the
    * index in [[BlockedTopK]] by full (band, key), each (query, row)
    * pair scoring once — in their FIRST shared band — so candidate
    * counts sum to the true candidate-set size. Hot cells over `cellCap`
    * members tile (per-task work ~cap² scored pairs, exactness
    * property-gated in OperatorSpec). Returns (srcId, emb, topIds,
    * topCos, candidateCount) for EVERY query — one with no candidate
    * gets an empty list and count 0.
    *
    * Scale note: shuffle carries bands× copies of each embedding — the
    * same trade as LshTopK's banding; quantization is the production
    * step down. */
  def cogroupTopK(queries: Dataset[(Long, Array[Float])], index: Dataset[IndexRow],
                  geom: IndexGeometry, kPrime: Int, cellCap: Int = 512)
      : Dataset[(Long, Array[Float], Array[Long], Array[Double], Long)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bcG = spark.sparkContext.broadcast(geom)
    val probes = queries.flatMap { case (id, emb) => rowsOf(id, emb, bcG.value) }
      .as[BlockedTopK.Block[Array[Float]]]
    val rows = index.as[BlockedTopK.Block[Array[Float]]]
    val merged = BlockedTopK.topK(probes, rows, kPrime, cellCap, DotCell,
      BlockedTopK.blockKeys(probes), BlockedTopK.blockKeys(rows))
    queries.joinWith(merged, queries.col(queries.columns(0)) === merged.col(merged.columns(0)),
      "left_outer").map {
      case ((id, emb), null) => (id, emb, Array.emptyLongArray, Array.emptyDoubleArray, 0L)
      case ((id, emb), (_, ids, cs, n)) => (id, emb, ids, cs, n)
    }
  }
}
