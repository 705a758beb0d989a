package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._
import graft.align.{GatWeights, MoCoTrainer}
import graft.graph.NeighborAgg
import graft.util.{BoundedProbe, Lineage}

/** The SelfKG stage chain, defined once: neighbor blocks → GAT encoding
  * (with the raw-embedding fallback) → KG1/KG2 sides for the candidate
  * scorer → canonical materialization. The batch [[Pipeline]] and the
  * continuous [[IncrementalAlign]] are two configurations of these
  * stages: they pick the weights (trained or initial), the candidate
  * scorer and the checkpointing; every cut, broadcast and probe
  * decision below holds for both. */
private[graft] object Stages {

  /** The one bounded probe that decides every forced dim-broadcast of a
    * run (batch run, bootstrap or refresh): true iff `cap > 0` and the
    * dictionary has ≤ `cap` rows. Above the cap the hints drop and
    * Catalyst/AQE shuffle-joins — a forced broadcast of billions of
    * entities is a driver OOM at the design point. */
  def dimsBounded(ents: Dataset[Entity], cap: Long): Boolean =
    cap > 0 && BoundedProbe.atMost(ents.toDF(), cap)

  /** Neighbor blocks of `triples` (any table with head, rel, tail
    * columns — batch `Triple` or provenance-carrying `DocTriple`).
    * Centers are restricted to `centers` when given (the touched set of
    * a delta): the rows are identical to a full run's as long as each
    * such center's complete incident edge set is present.
    *
    * The first-seen seq is a pure function of triple CONTENT (not
    * provenance or position), so the neighbor order is invariant under
    * retract/re-add and identical between the two modes. */
  def blocks(spark: SparkSession, triples: Dataset[_], ents: Dataset[Entity],
             embs: Dataset[Emb], dim: Int, boundedDims: Boolean,
             centers: Option[Set[Long]] = None): Dataset[NeighborBlock] = {
    import spark.implicits._
    val withSeq = triples.select(col("head"), col("rel"), col("tail")).as[Triple]
      .map(t => (t, (t.head << 20) ^ t.tail ^ (t.rel << 40)))
    val edges = NeighborAgg.undirectedEdges(spark, withSeq, ents, boundedDims)
    val ordered0 = NeighborAgg.orderedNeighbors(spark, edges, ents, boundedDims = boundedDims)
    val ordered = centers match {
      case Some(cs) =>
        val bc = spark.sparkContext.broadcast(cs)
        ordered0.filter(r => bc.value.contains(r._1))
      case None => ordered0
    }
    NeighborAgg.blocks(spark, ordered, embs, ents, dim, boundedDims)
  }

  /** GAT over `blocks` under `weights`, plus the raw embedding of every
    * `raw` row that has no block (reference blocks exist only for
    * entities appearing in triples) → (id, emb).
    *
    * Cut: the encoding is referenced twice (union branch + the
    * anti-join's id projection) and the encode stage has no exchange of
    * its own for Spark's shuffle-stage reuse to land on — without the
    * cut the GAT forward pass over every block runs TWICE per
    * downstream action. The anti-join's build side is an id-only
    * projection bounded by |ents|: under the dim gate it broadcasts (a
    * shuffle of the full embedding payload just to find blockless rows
    * was the alternative plan). */
  def encodeBlocks(spark: SparkSession, blocks: Dataset[NeighborBlock], weights: GatWeights,
                   raw: Dataset[Emb], boundedDims: Boolean): DataFrame = {
    val enc = Lineage.cut(MoCoTrainer.encode(spark, blocks, weights).toDF("id", "emb"))
    enc.unionByName(raw.toDF("id", "emb")
      .join(BoundedProbe.dimHint(enc.select("id"), boundedDims), Seq("id"), "left_anti"))
  }

  /** [[encodeBlocks]] over the whole dictionary with the kg attached by
    * a dictionary JOIN → (id, kg, emb), cut. No driver collect of the
    * entity table, so the indexed continuous bootstrap keeps its
    * 10^12-row shape end to end.
    *
    * The cut makes this the compute-once boundary of the candidate
    * stage: both candidate sides read it, and the candidate stage runs
    * MANY actions (sample/count/score/merge jobs). A persist would leave
    * the full upstream in every downstream logical plan, so each action
    * re-analyzes and AQE re-plans the deep tree (measured multi-second
    * driver gaps per job at bench scale); the checkpoint's LogicalRDD
    * keeps every candidate-stage plan shallow. Reliable checkpoint when
    * the session has a checkpoint dir, lazy localCheckpoint otherwise
    * (util.Lineage). */
  def encode(spark: SparkSession, blocks: Dataset[NeighborBlock], weights: GatWeights,
             raw: Dataset[Emb], ents: Dataset[Entity], boundedDims: Boolean): DataFrame = {
    val kgOf = BoundedProbe.dimHint(ents.toDF().select(col("id"), col("kg")), boundedDims)
    Lineage.cut(encodeBlocks(spark, blocks, weights, raw, boundedDims).join(kgOf, "id")
      .select(col("id"), col("kg"), col("emb")))
  }

  /** (queries, corpus) of an (id, kg, emb) encoding: KG1 rows query the
    * KG2 corpus. */
  def sides(spark: SparkSession, encoded: DataFrame): (Dataset[Emb], Dataset[Emb]) = {
    import spark.implicits._
    def side(kg: Int) = encoded.filter(col("kg") === kg).select(col("id"), col("emb")).as[Emb]
    (side(1), side(2))
  }

  /** Canonical materialization of `triples` under a CC `assignment`
    * (node, component): every triple column of the input (`t.*`) plus
    * (subj, pred, obj, subjId, objId). Callers project their own
    * schema.
    *
    * Each dimension (canonMap, names) joins TWICE — via aliases over the
    * SAME un-projected plan, with the renames in the join CONDITION — so
    * the pair of broadcast exchanges canonicalizes identically and AQE
    * builds each broadcast ONCE instead of twice (a duplicate exchange
    * costs a job plus ~0.5 s of driver planning gap on the bench VM,
    * tools/JobCount; at the design point it is a second broadcast of a
    * multi-GB dictionary). */
  def canonical(triples: Dataset[_], assignment: DataFrame, ents: Dataset[Entity],
                boundedDims: Boolean): DataFrame = {
    val canonMap = assignment.select(col("node"), col("component"))
    val names = BoundedProbe.dimHint(ents.toDF().select(col("id"), col("name")), boundedDims)
    triples.toDF().as("t")
      .join(canonMap.as("ch"), col("t.head") === col("ch.node"), "left")
      .join(canonMap.as("ct"), col("t.tail") === col("ct.node"), "left")
      .withColumn("subjId", coalesce(col("ch.component"), col("t.head")))
      .withColumn("objId", coalesce(col("ct.component"), col("t.tail")))
      .join(names.as("ns"), col("subjId") === col("ns.id"))
      .join(names.as("no"), col("objId") === col("no.id"))
      .select(col("t.*"), col("ns.name").as("subj"),
        concat(lit("rel_"), col("t.rel")).as("pred"), col("no.name").as("obj"),
        col("subjId"), col("objId"))
  }
}
