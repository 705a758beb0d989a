package graft.candidates

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.kg._
import graft.util.DetHash

/** Blocked top-k — the one scoring kernel behind every blocked candidate
  * path. A blocking scheme turns each vector into BLOCK OCCURRENCES
  * (band, key, id, vector, prefix); a (query, corpus) pair is a
  * candidate iff the two share a block, and each query keeps the top-k
  * of its candidates under the ScoredTopK total order (score desc, id
  * asc). The key generators:
  *
  *  - [[LshTopK]]: banded random-projection keys, one occurrence per
  *    band; a near pair collides in several bands, so each occurrence
  *    carries its band-key PREFIX keys[0..band) and a pair scores only
  *    in the first band the two share ([[sharesBand]] on the prefixes);
  *  - [[IvfTopK]]: pivot partitions — a corpus row lives in its nearest
  *    centroid's block (cell, 0), a query probes its nProbe nearest; a
  *    pair meets in at most one block, so prefixes are empty;
  *  - [[BucketIndex.cogroupTopK]]: the LSH keys of a geometry frozen at
  *    bootstrap, probing the committed index (float scores, so the
  *    continuous mode's lists stay bit-exact).
  *
  * One kernel, four parts, each existing once:
  *
  *  1. HOT-CELL INVENTORY ([[hotCells]]): block sizes of both sides in
  *     ONE fused key-only count job. RDD reduceByKey, not a DataFrame
  *     groupBy: with AQE on, the groupBy form ran as 3 driver-scheduled
  *     query-stage jobs plus a codegen compile — pure serial floor at
  *     small inputs. The driver receives only blocks above the cap.
  *  2. 2-D SALT TILING (block purging without loss): a block whose
  *     query side has nq > cap rows or whose corpus side has nc > cap
  *     rows splits into ⌈nq/cap⌉ × ⌈nc/cap⌉ cells; each side hashes to
  *     its own tile and replicates across the other side's tiles, so
  *     every (query, corpus) pair still meets in exactly one cell.
  *     Per-task work AND working set are O(cap²) — cells stay
  *     CPU-cache-resident, measured ~5× faster per pair than scanning a
  *     hot block's full row set (a broadcast-hot-block variant walked
  *     14 MB per query and was DRAM-bound). Cells are keyed by the FULL
  *     (band, key): truncating the key would score pairs that share no
  *     block.
  *  3. ONE SCORING CELL: applies the prefix dedup, counts candidates and
  *     scores the survivors with the caller's [[CellScore]] — a
  *     per-cell function, so each caller's inner dot loop stays
  *     monomorphic (a per-pair closure would go megamorphic here).
  *  4. ONE PARTIAL-LIST MERGE ([[merge]]) of (src, ids, scores,
  *     candidateCount) rows, map-side first.
  *
  * Exactness: per-cell lists are top-k over disjoint candidate slices,
  * so the merge equals the single-pass top-k of each query's candidate
  * set, and the counts sum to its size — at any partitioning and any
  * cap (property-gated in OperatorSpec).
  */
object BlockedTopK {

  /** One block occurrence: (band, key, id, vector, prefix). */
  type Block[V] = (Int, Long, Long, V, Array[Long])

  /** One partial list of a source: (src, ids, scores, candidateCount),
    * ids/scores under the ScoredTopK total order. */
  type Partial = (Long, Array[Long], Array[Double], Long)

  /** Scores one query against the surviving members of a cell:
    * `out(j) = score(q, vecs(idx(j)))` for `j < n`. */
  trait CellScore[V] extends Serializable {
    def apply(q: V, vecs: Array[V], idx: Array[Int], n: Int, out: Array[Double]): Unit
  }

  /** true iff the two band-key arrays agree in some band
    * j < min(a.length, b.length). On full key arrays this is the LSH
    * candidate rule; on an occurrence's prefix it is the cross-band
    * dedup (the pair already met in an earlier band) — a handful of long
    * compares instead of a duplicate dim-length dot. */
  def sharesBand(a: Array[Long], b: Array[Long]): Boolean = {
    val n = math.min(a.length, b.length)
    var j = 0
    while (j < n) {
      if (a(j) == b(j)) return true
      j += 1
    }
    false
  }

  /** The (band, key) column pair of a block dataset as a key-only RDD
    * (columns by ordinal, so persisted inputs read only these two). */
  def blockKeys[V](ds: Dataset[Block[V]]): RDD[(Int, Long)] = {
    import ds.sparkSession.implicits._
    val c = ds.columns
    ds.select(col(c(0)), col(c(1))).as[(Int, Long)].rdd
  }

  /** Hot-cell inventory: (band, key) → (query tiles, corpus tiles) for
    * every block where either side exceeds `cap` — one job, and a driver
    * map of at most rows/cap entries by construction. */
  def hotCells(queryKeys: RDD[(Int, Long)], corpusKeys: RDD[(Int, Long)],
               cap: Int): Map[(Int, Long), (Int, Int)] = {
    require(cap > 0, "cap must be positive")
    def side(keys: RDD[(Int, Long)], s: Int) = keys.map { case (b, key) => ((s, b, key), 1L) }
    val hot = side(queryKeys, 0).union(side(corpusKeys, 1))
      .reduceByKey(_ + _, queryKeys.sparkContext.defaultParallelism)
      .filter(_._2 > cap)
      .collect()
    hot.groupBy { case ((_, b, key), _) => (b, key) }.map { case (cell, sides) =>
      def tiles(s: Int): Int =
        sides.collectFirst { case ((`s`, _, _), n) => ((n + cap - 1) / cap).toInt }.getOrElse(1)
      cell -> ((tiles(0), tiles(1)))
    }
  }

  @inline private def tileOf(id: Long, tiles: Int): Int =
    (DetHash.nonNeg(DetHash.h1(29L, id)) % tiles).toInt

  /** Merged top-k of every query over the corpus rows sharing one of its
    * blocks; a query with no candidate gets no row. `queryKeys` /
    * `corpusKeys` feed the hot-cell inventory — a caller may pass a
    * cheaper keys-only pass than [[blockKeys]] of the block datasets. */
  def topK[V: ClassTag: TypeTag](queries: Dataset[Block[V]], corpus: Dataset[Block[V]],
                                 k: Int, cap: Int, score: CellScore[V],
                                 queryKeys: RDD[(Int, Long)],
                                 corpusKeys: RDD[(Int, Long)]): Dataset[Partial] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val hotBc = spark.sparkContext.broadcast(hotCells(queryKeys, corpusKeys, cap))
    // each side hashes to its own tile and replicates across the other
    // side's tiles: every (q, c) pair meets in exactly one cell
    def tiled(ds: Dataset[Block[V]], querySide: Boolean) = ds.mapPartitions { it =>
      val hot = hotBc.value
      it.flatMap { case (b, key, id, v, prefix) =>
        (if (hot.isEmpty) None else hot.get((b, key))) match {
          case None => Iterator.single((b, key, 0, 0, id, v, prefix))
          case Some((tq, tc)) if querySide =>
            val i = tileOf(id, tq)
            Iterator.tabulate(tc)(j => (b, key, i, j, id, v, prefix))
          case Some((tq, tc)) =>
            val j = tileOf(id, tc)
            Iterator.tabulate(tq)(i => (b, key, i, j, id, v, prefix))
        }
      }
    }
    val scored = tiled(queries, querySide = true).groupByKey(r => (r._1, r._2, r._3, r._4))
      .cogroup(tiled(corpus, querySide = false).groupByKey(r => (r._1, r._2, r._3, r._4))) {
        (_, qs, cs) =>
          // corpus side as parallel primitive arrays — no per-element
          // tuple access in the inner loops
          val rows = cs.toArray
          if (rows.isEmpty) Iterator.empty
          else {
            val ids = rows.map(_._5); val vecs = rows.map(_._6); val prefixes = rows.map(_._7)
            val idx = new Array[Int](rows.length)
            val out = new Array[Double](rows.length)
            qs.flatMap { q =>
              var n = 0
              var i = 0
              while (i < rows.length) {
                if (!sharesBand(q._7, prefixes(i))) { idx(n) = i; n += 1 }
                i += 1
              }
              if (n == 0) Iterator.empty
              else {
                score(q._6, vecs, idx, n, out)
                val buf = new ScoredTopK.TopKBuf(k)
                var j = 0
                while (j < n) { buf.offer(ids(idx(j)), out(j)); j += 1 }
                Iterator.single((q._5, buf.resultIds, buf.resultCos, n.toLong))
              }
            }
          }
      }
    merge(scored, k)
  }

  /** Per-source merge of partial lists over DISJOINT candidate slices:
    * the top-k of their union under the total order (ScoredTopK.merge)
    * with the candidate counts summed. Each map partition first folds
    * its rows to one partial per source in a hash map, so the merge
    * shuffle carries ≤ one k-row partial per (source, partition), NOT
    * every scored list (44.5M rows / 0.68 GB at E=50k when the scored
    * pairs crossed it — the second-largest shuffle write of the whole
    * pipeline). Hand-rolled mapPartitions instead of a typed Aggregator
    * (or reduceGroups) on purpose: ObjectHashAggregateExec falls back to
    * SORT-based aggregation past 128 distinct keys per partition
    * (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) — with
    * thousands of sources per partition a typed-Aggregator version
    * sorted the full scored stream inside the scoring stage (measured
    * ~4× that stage's task-time). Memory: |sources-per-partition| ×
    * O(k). */
  def merge(partials: Dataset[Partial], k: Int): Dataset[Partial] = {
    import partials.sparkSession.implicits._
    def combine(a: Partial, b: Partial): Partial = {
      val (ids, cs) = ScoredTopK.merge(a._2, a._3, b._2, b._3, k)
      (a._1, ids, cs, a._4 + b._4)
    }
    partials.mapPartitions { it =>
      val m = new java.util.HashMap[Long, Partial]()
      it.foreach { p =>
        val prev = m.get(p._1)
        m.put(p._1, if (prev == null) p else combine(prev, p))
      }
      m.values.iterator.asScala
    }
    .groupByKey(_._1)
    .mapGroups((_, it) => it.reduce(combine))
  }

  /** One pass over `ds` returning (row count, deterministic sample):
    * the sample is the `sampleSize` rows with the SMALLEST
    * (hash(id), id) — order statistics under a total order, so
    * membership is independent of partitioning AND of the corpus size
    * (a rate-filter needs the count first, forcing a second full scan;
    * at the design point one scan of a billion-row corpus is the
    * difference). treeAggregate merges the bounded partials
    * executor-side, so the driver receives one ≤sampleSize buffer, not
    * partitions × sampleSize. Returned rows are sorted by id (the
    * driver-deterministic reduction order downstream code relies on). */
  def countAndSample(ds: Dataset[Emb], sampleSize: Int): (Long, Array[Emb]) = {
    type Acc = (Long, scala.collection.mutable.ArrayBuffer[(Long, Emb)])
    def compact(v: scala.collection.mutable.ArrayBuffer[(Long, Emb)]) = {
      val a = v.sortBy(t => (t._1, t._2.id)); a.takeInPlace(sampleSize); a
    }
    val (n, top) = ds.rdd.treeAggregate[Acc]((0L, scala.collection.mutable.ArrayBuffer.empty))(
      seqOp = { case ((n, v), e) =>
        v += ((ScoredTopK.sampleKey(e.id), e))
        (n + 1, if (v.length >= 2 * sampleSize) compact(v) else v)
      },
      combOp = { case ((n1, v1), (n2, v2)) => (n1 + n2, compact(v1 ++= v2)) })
    (n, compact(top).map(_._2).toArray.sortBy(_.id))
  }

  /** The candidate table of the LSH/IVF paths: merged lists ranked, and
    * cosines turned into RSM z-scores — per-source moments of the
    * query's cosine against the negative sample (every 8th calibration
    * row, [[ScoredTopK.calib]]), the relative-similarity-metric
    * denominator; the exact path fuses the same calibration into its
    * scan, so every path emits the same scale. The (≤ queries × k
    * narrow-row) table is persisted and materialized, then `release`d
    * inputs are unpersisted: repeated calls in one session must not
    * accumulate cached blocks. */
  private[candidates] def rsmCandidates(queries: Dataset[Emb], merged: Dataset[Partial],
                                        sample: Array[Emb],
                                        release: Seq[Dataset[_]]): Dataset[Candidate] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val negBc = spark.sparkContext.broadcast(
      sample.indices.collect { case i if i % 8 == 0 => sample(i) }.toArray)
    // queries-scale rows — joined, NOT broadcast: at the design point
    // the query side is billions of rows
    val calib = queries.mapPartitions { it =>
      val negs = negBc.value
      it.map { q => val (mu, sigma) = ScoredTopK.calib(q.emb, negs); (q.id, mu, sigma) }
    }
    val ranked = merged.flatMap { case (src, ids, cs, _) =>
      Iterator.tabulate(ids.length)(j => (src, ids(j), cs(j), j + 1))
    }
    val result = ranked.toDF("srcId", "dstId", "cos", "rank")
      .join(calib.toDF("srcId", "mu", "sigma"), "srcId")
      .as[(Long, Long, Double, Int, Double, Double)]
      .map { case (src, dst, cos, r, mu, sigma) =>
        Candidate(src, dst, graft.align.MoCoTrainer.rsmScore(cos, mu, sigma), r) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count() // materialize before releasing what it was built from
    release.foreach(_.unpersist(blocking = false))
    result
  }
}
