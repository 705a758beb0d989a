package graft.candidates

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.kg._

/** LSH-blocked cosine top-k — the 10^12-scale candidate path: the
  * banded-LSH key generator of [[BlockedTopK]].
  *
  * Blocking is bucketed-random-projection LSH (the algorithm of
  * org.apache.spark.ml.feature.BucketedRandomProjectionLSH — bucket id =
  * floor(x·v / w) — computed inline over primitive float arrays: the
  * mllib class routes every row through VectorUDT (de)serialization and
  * UDF boundaries, measured at ~20× the arithmetic itself). Projections
  * are seeded DetHash Gaussians → deterministic at any parallelism.
  *
  * The geometry is [[IndexGeometry.fit]] over a DETERMINISTIC
  * hash-chosen corpus sample reduced in sorted-id order on the driver,
  * so it is bit-identical at any parallelism level (N-vs-4N
  * determinism; a distributed float reduction would sum in partition
  * order): vectors are MEAN-CENTERED and the bucket width is the
  * measured per-coordinate residual std — text-feature corpora share a
  * large common direction, and a fixed width put 92% of brute-force
  * pair work in a handful of buckets. `rowsPerBand` bucket ids compound
  * into one band key (banding), OR-ed across `bands` bands for recall:
  * p_hit = 1 - (1 - p^rows)^bands.
  *
  * SCORE SEMANTICS match [[ExactTopK]]: candidates carry the RSM
  * z-score ([[BlockedTopK.rsmCandidates]]). Per-source ranking is raw
  * cosine (z-score is monotone in it); the absolute score feeds the
  * pipeline's canonicalization acceptance threshold, so every candidate
  * path must emit the same scale.
  *
  * Shuffle inventory: one spread repartition of each raw side, one keyed
  * shuffle of each banded side (embedding arrays move ≤ tiles times),
  * then one narrow partial-list shuffle for the merge, then one narrow
  * join with the per-source calibration rows. Pair rows never
  * materialize.
  */
object LshTopK {

  final case class LshConfig(
      bands: Int = 10,
      rowsPerBand: Int = 2,
      /** max rows (either side) of one (band,key) before 2-D tiling.
        * 512 → ≤0.26M pairs per cell: enough cells that the cogroup's
        * hash partitioning spreads them evenly (cap 1000 left single
        * 13-21 s straggler tasks pacing the whole stage at 32 cores). */
      bucketCap: Int = 512,
      /** corpus sample size for mean/std + RSM calibration */
      sampleSize: Int = 4096,
      seed: Long = Dims.Seed)

  /** Scoring vectors travel the cogroup shuffle QUANTIZED to 16 bits:
    * inputs are L2-normalized (|coord| ≤ 1), so scale 32767 gives ≤3e-5
    * per-coordinate error (~1e-5 on a 256-dim cosine) — far below the
    * fixture's aligned-vs-bulk score gaps — while HALVING shuffle bytes,
    * cell cache footprint, and per-row deserialization (the measured
    * scaling ceiling of the cogroup stage). Candidate ranking is gated
    * by the recall-vs-exact tests; the exact path stays full float. */
  final val QScale = 32767f

  /** The product is taken in DOUBLE (exact for f32 × 32767, ≤39
    * mantissa bits) and rounded floor(x + 0.5) — cross-engine
    * reproducible arithmetic, oracle-checked element-wise by
    * `q_embed_quantize`. */
  def quantize(v: Array[Float]): Array[Short] = {
    val out = new Array[Short](v.length)
    var i = 0
    while (i < v.length) { out(i) = math.round(v(i).toDouble * QScale).toShort; i += 1 }
    out
  }

  /** Int dot over quantized vectors → cosine in [-1, 1].
    *
    * INT ACCUMULATOR, deliberately (round 6): both inputs are
    * quantizations of L2-NORMALIZED vectors, so by Cauchy–Schwarz every
    * PREFIX sum of products is bounded by |a|·|b| ≤ (32767 + ½√n)² ≈
    * 1.08e9 — under half of Int.MaxValue, so the int accumulator can
    * never wrap (exactness re-checked against a long-accumulated
    * reference incl. ±unit-spike worst cases in OperatorSpec and
    * tools/DotBench). The payoff is the paired form
    * `s += a(i)*b(i) + a(i+1)*b(i+1)`, which HotSpot C2 recognizes as
    * MulAddS2I and auto-vectorizes to pmaddwd-class SIMD — measured
    * ~4× the long-accumulated scalar loop on this box, on the frame
    * that is ~70% of the LSH scoring stage's CPU (StackProfile E=50k).
    * The returned integer is bit-identical either way, so every
    * candidate score is unchanged. */
  private[candidates] def dotQScalarInt(a: Array[Short], b: Array[Short]): Int = {
    val n = a.length
    var s = 0
    var i = 0
    while (i < n - 1) {
      s += a(i) * b(i) + a(i + 1) * b(i + 1)
      i += 2
    }
    if (i < n) s += a(i) * b(i)
    s
  }

  def dotQ(a: Array[Short], b: Array[Short]): Double = {
    val s = if (DotQ.AVAILABLE) DotQ.dot(a, b) else dotQScalarInt(a, b)
    s.toDouble / (QScale.toDouble * QScale)
  }

  /** Cell scorer of the quantized paths (LSH and IVF). */
  private[graft] val DotQCell: BlockedTopK.CellScore[Array[Short]] = (q, vecs, idx, n, out) => {
    var j = 0
    while (j < n) { out(j) = dotQ(q, vecs(idx(j))); j += 1 }
  }

  /** Block occurrences of `ds` under `geom`: one per band, quantized
    * vector, band-key prefix keys[0..band) for the cross-band dedup
    * (avg bands/2 longs per row — small next to the embedding itself). */
  private[graft] def blocks(ds: Dataset[Emb], geom: Broadcast[IndexGeometry])
      : Dataset[BlockedTopK.Block[Array[Short]]] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val g = geom.value
      it.flatMap { e =>
        val keys = g.keysOf(e.emb)
        val q16 = quantize(e.emb)
        Iterator.tabulate(g.bands)(j => (j, keys(j), e.id, q16, java.util.Arrays.copyOf(keys, j)))
      }
    }
  }

  /** Keys-only banding pass for the hot-cell inventory: no quantize or
    * prefix materialization, read straight from the persisted inputs. */
  private def bandKeys(ds: Dataset[Emb], geom: Broadcast[IndexGeometry]) =
    ds.rdd.mapPartitions { it =>
      val g = geom.value
      it.flatMap { e =>
        val keys = g.keysOf(e.emb)
        Iterator.tabulate(g.bands)(j => (j, keys(j)))
      }
    }

  def topK(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int,
           cfg: LshConfig = LshConfig()): Dataset[Candidate] =
    graft.util.JobDesc.withJobDesc(spark, "graft: LSH top-k candidates") {
      topKImpl(spark, queries, corpus, k, cfg)
    }

  private def topKImpl(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int,
           cfg: LshConfig): Dataset[Candidate] = {
    // this operator drives several actions over its inputs — persist
    // them so upstream stages (extraction, GAT encode) run exactly once
    val qP = queries.persist(StorageLevel.MEMORY_AND_DISK)
    val cP = corpus.persist(StorageLevel.MEMORY_AND_DISK)
    // count + deterministic sample in ONE corpus pass
    val (nCorpus, sample) = BlockedTopK.countAndSample(cP, cfg.sampleSize)
    require(sample.nonEmpty, "LshTopK: empty corpus")
    val dim = sample(0).emb.length
    val geomBc = spark.sparkContext.broadcast(
      IndexGeometry.fit(sample, cfg.bands, cfg.rowsPerBand, seed = cfg.seed))

    // spread the tiling/replication serialization across all cores —
    // without this the map work pins to the partitions holding hot rows.
    // The spread shuffle moves the RAW Emb rows (1× the vectors), not the
    // banded rows (bands× the vectors): banding fans out uniformly, so
    // repartitioning before it buys the same balance at ~1/bands the
    // shuffle bytes (the banded repartition was one of two full banded
    // shuffles — ~1 GB/side at 100k×256 — and shuffle IO is what
    // saturates memory bandwidth at 32 threads).
    // The banded sets are NOT persisted (round 6): their only consumer
    // is the kernel's cogroup — the hot-cell inventory reads a KEYS-ONLY
    // banding pass over the raw persisted inputs instead (20 projection
    // dots per row, no quantize/prefix materialization), so the
    // in-memory columnar cache build of the ~bands×-expanded banded
    // frames (~45 CPU-s of ColumnBuilder work at E=50k, tools/CpuProfile,
    // plus its GC pressure) buys nothing.
    // The partition count is DATA-derived (~64 MB of banded rows per
    // partition), floored by the session parallelism — NOT a multiple of
    // core count: the shuffle-write path carries a real per-output-
    // partition cost (round-3 stack profile: 93% of map-task samples in
    // BypassMergeSortShuffleWriter's LZ4-flush/write chain; 4× the
    // partitions measured 2.3× the task-seconds for identical rows), so
    // over-partitioning small data wastes exactly the resource this
    // operator is bound by, while at the 100-TB design point the byte
    // target keeps partitions bounded and spill-free regardless of
    // cluster width.
    val bandedBytes = nCorpus * cfg.bands * (dim * 2L + 8L * cfg.bands / 2 + 48)
    val spread = math.max(spark.sparkContext.defaultParallelism,
      (bandedBytes / (64L << 20)).toInt + 1)
    val merged = BlockedTopK.topK(
      blocks(qP.repartition(spread), geomBc), blocks(cP.repartition(spread), geomBc),
      k, cfg.bucketCap, DotQCell, bandKeys(qP, geomBc), bandKeys(cP, geomBc))
    BlockedTopK.rsmCandidates(qP, merged, sample, release = Seq(qP, cP))
  }
}
