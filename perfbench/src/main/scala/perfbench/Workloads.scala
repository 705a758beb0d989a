package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{AlignState, IncrementalAlign, IncrementalConfig, Pipeline, PipelineConfig, PipelineResult}
import graft.align.{GatWeights, MoCoTrainer}
import graft.candidates.{ExactTopK, IvfTopK, ScoredTopK}
import graft.canon.ConnectedComponents
import graft.embed.{Embedder, EmbedderConfig}
import graft.eval.Metrics
import graft.extract.{Extraction, MediaKernels}
import graft.graph.NeighborAgg
import graft.ingest.{DocSynthesizer, SynthConfig}
import graft.kg._
import graft.streaming.{BatchStage, StreamProgress, StreamingKg}
import graft.tableio.TableIO
import graft.util.{BoundedProbe, DetHash, Lineage}

/** Shared run context: the session, the seed and a private work dir. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, work: String) {
  def dir(name: String): String = s"$work/$name"
}

final case class Metric(name: String, value: Double, unit: String)

/** One output check, made after timing stops. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Result of the timed part. */
final case class Measured(metrics: Seq[Metric], attempted: Long, failed: Long,
                          wallS: Double, info: Seq[(String, String)])

/** Result of the traced replay: its wall seconds and the checks that it
  * reproduced the timed work's output. */
final case class Replayed(wallS: Double, checks: Seq[Check])

/** Largest live heap, read after a full collection at points outside the
  * timed intervals. */
final class HeapPeak {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed)
  }
  def mb: Double = peak / (1024.0 * 1024.0)
}

trait Workload {
  def name: String
  /** Span names of the traced replay, in call order. */
  def layers: Seq[String]
  /** One pass of input generation: from the seed to parquet tables. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** One-time set-up over the inputs: the JIT warmup pass, or the
    * bootstrap state the timed part starts from. */
  def warmup(ctx: Ctx): Unit
  def measure(ctx: Ctx, heap: HeapPeak): Measured
  /** Output checks; also sets the end-to-end metrics read off the
    * checked outputs ([[outputMetrics]]). */
  def check(ctx: Ctx): Seq[Check]
  def outputMetrics: Seq[Metric]
  /** Replays the timed work with every layer call inside a span. */
  def traced(ctx: Ctx, rec: SpanRecorder): Replayed
  /** Lowest replay wall over untraced wall a replay that skips none of
    * the program's work shows. */
  def overheadFloor: Double
}

object Workload {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; seconds(t0) }

  /** Bytes under `dir` (recursively), in MB, skipping `skip` names. */
  def sizeMb(dir: java.io.File, skip: Set[String] = Set.empty): Double = {
    def walk(f: java.io.File): Long =
      if (skip.contains(f.getName)) 0L
      else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(dir) / (1024.0 * 1024.0)
  }

  /** Hit@1 and Hit@10 of `cands` against `gold`, read by column name. */
  def hits(spark: SparkSession, cands: Dataset[Candidate], gold: Dataset[Link]): (Double, Double) = {
    val m = Metrics.hitAtK(spark, cands, gold).head()
    (m.getAs[Double]("hit_at_1"), m.getAs[Double](s"hit_at_${Dims.TopK}"))
  }

  val all: Seq[Workload] = Seq(TrainIvf, CdcStream)

  /** Every layer a replay can span; a traced run reports all of them, 0
    * for the layers its workload does not call. */
  val layers: Seq[String] = all.flatMap(_.layers).distinct

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' (${all.map(_.name).mkString(", ")})"))
}

/** The trained batch build: `Pipeline.run` with MoCo training,
  * eval-every-epoch model selection over held-out valid links and IVF
  * candidates, over parquet inputs and checkpointed, so the TableIO
  * commits are part of every timed pass. The timed part runs [[Passes]]
  * passes, then more while `--seconds` have not passed. */
object TrainIvf extends Workload {
  val name = "train_ivf"
  val layers = Seq("extract", "media", "embed", "graph", "align.train", "align.encode",
    "candidates", "canon", "materialize")
  /** Entities per KG: each pass reads 2 × Entities docs. */
  val Entities = 1000
  /** Timed passes per run, at the least: the benchmark's whole time
    * budget holds one per run (see perfbench/README.md). */
  val Passes = 1
  /** The repository's Hit@1 gate for the IVF path (PipelineSpec). */
  val Hit1Floor = 0.5
  /** Below the lowest Hit@10 of thirty seeded runs of this workload (0.716). */
  val Hit10Floor = 0.65
  /** The replay forces every layer's output on top of the program's
    * work; the floor leaves room for the noise of one untraced pass. */
  val overheadFloor = 0.8

  private val cfg = PipelineConfig(
    synth = SynthConfig(entitiesPerKg = Entities, surfaceNoise = 0.5),
    embed = EmbedderConfig(dim = 256),
    useMoco = true, validFraction = 0.1, useIvf = true)
  private var synth: SynthConfig = _
  private var inputs: String = _
  private var last: PipelineResult = _
  private var passesRun = 0
  private var hits = (0.0, 0.0)

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    synth = cfg.synth.copy(seed = ctx.seed)
    inputs = ctx.dir(s"input-$rep")
    DocSynthesizer.docs(spark, synth).write.parquet(s"$inputs/docs")
    DocSynthesizer.entities(spark, synth).write.parquet(s"$inputs/ents")
    // the held-out valid links, split as Pipeline.runSynthetic splits them
    val (seed, fraction) = (synth.seed, cfg.validFraction)
    DocSynthesizer.goldLinks(spark, synth)
      .filter(l => DetHash.toUnit(DetHash.h2(seed, l.e1, 555L)) < fraction)
      .write.parquet(s"$inputs/valid")
  }

  private def read(spark: SparkSession): (Dataset[Doc], Dataset[Entity], Dataset[Link]) = {
    import spark.implicits._
    (spark.read.parquet(s"$inputs/docs").as[Doc], spark.read.parquet(s"$inputs/ents").as[Entity],
      spark.read.parquet(s"$inputs/valid").as[Link])
  }

  /** One pass; the result's alignment stays persisted until the next. */
  private def pass(ctx: Ctx): Double = {
    val (docs, ents, valid) = read(ctx.spark)
    passesRun += 1
    val ckpt = ctx.dir(s"ckpt-$passesRun")
    val t0 = System.nanoTime()
    val r = Pipeline.run(ctx.spark, docs, ents, cfg.copy(checkpointDir = Some(ckpt)), Some(valid))
    r.canonicalTriples.count()
    val wall = Workload.seconds(t0)
    if (last != null) last.alignment.unpersist()
    last = r
    wall
  }

  def warmup(ctx: Ctx): Unit = pass(ctx)

  def measure(ctx: Ctx, heap: HeapPeak): Measured = {
    val walls = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (walls.length < Passes || Workload.seconds(t0) < ctx.seconds) {
      walls += pass(ctx)
      Main.progress(f"pass ${walls.length}: ${walls.last}%.2f s")
      heap.sample()
    }
    val med = Stats.median(walls.toSeq)
    Measured(Seq(Metric("docs_per_s", 2.0 * Entities / med, "1/s"),
        Metric("state_mb", Workload.sizeMb(new java.io.File(ctx.dir(s"ckpt-$passesRun"))), "MB")),
      attempted = walls.length, failed = 0, wallS = med,
      info = Seq("passes" -> walls.length.toString,
        "pass_s" -> walls.map(w => f"$w%.3f").mkString("[", ",", "]")))
  }

  def check(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    val gold = DocSynthesizer.goldTriples(spark, synth, 1)
      .unionByName(DocSynthesizer.goldTriples(spark, synth, 2))
    val (p, r) = Metrics.triplePR(spark, last.idTriples, gold)
    hits = Workload.hits(spark, last.alignment, DocSynthesizer.goldLinks(spark, synth))
    val (h1, h10) = hits
    Seq(
      Check("triple_precision", p >= 0.95, f"$p%.4f >= 0.95"),
      Check("triple_recall", r >= 0.95, f"$r%.4f >= 0.95"),
      Check("hit1", h1 >= Hit1Floor, f"$h1%.4f >= $Hit1Floor"),
      Check("hit10", h10 >= Hit10Floor, f"$h10%.4f >= $Hit10Floor"),
      Check("candidate_path", last.candidatePath == "ivf", s"${last.candidatePath} == ivf"),
      Check("model_selection", last.validHit1.isDefined, s"validHit1=${last.validHit1}"))
  }

  def outputMetrics: Seq[Metric] = Seq(Metric("hit1", hits._1, "ratio"), Metric("hit10", hits._2, "ratio"))

  /** `Pipeline.run`, call for call, with each layer call in a span that
    * also forces the call's output with a count. Nothing is cut or
    * cached that the program does not cut or cache, so work the program
    * recomputes is recomputed here too, in the span that causes it. */
  def traced(ctx: Ctx, rec: SpanRecorder): Replayed = {
    val spark = ctx.spark
    import spark.implicits._
    val (docs, ents0, validLinks) = read(spark)
    val dir = ctx.dir("ckpt-traced")
    val t0 = System.nanoTime()
    val ents = Lineage.cut(ents0)
    val dimsBounded = cfg.dimBroadcastMaxRows > 0 &&
      BoundedProbe.atMost(ents.toDF(), cfg.dimBroadcastMaxRows)
    val idTriples = rec.span[Dataset[Triple]]("extract", _.count()) {
      val raw = Extraction.rawTriples(spark, docs)
      TableIO.computeIfAbsent(spark, s"$dir/id_triples", "extract") {
        Extraction.idTriples(spark, raw, ents, dimsBounded).toDF()
      }.as[Triple]
    }
    rec.span[DataFrame]("media", _.count()) {
      TableIO.computeIfAbsent(spark, s"$dir/media_features", "media") {
        MediaKernels.docMediaFeatures(spark, docs)
      }
    }
    val embs = rec.span[Dataset[Emb]]("embed", _.count()) {
      TableIO.computeIfAbsent(spark, s"$dir/embeddings", "embed") {
        Embedder.embedEntities(spark, ents, cfg.embed).toDF()
      }.as[Emb]
    }
    val blocks = rec.span[Dataset[NeighborBlock]]("graph", _.count()) {
      val withSeq = idTriples.map(t => (t, (t.head << 20) ^ t.tail ^ (t.rel << 40)))
      val edges = NeighborAgg.undirectedEdges(spark, withSeq, ents, dimsBounded)
      val ordered = NeighborAgg.orderedNeighbors(spark, edges, ents, boundedDims = dimsBounded)
      NeighborAgg.blocks(spark, ordered, embs, ents, cfg.embed.dim, dimsBounded)
    }
    val weights = rec.span[GatWeights]("align.train", _ => 0L) {
      val (score, close) = validation(spark, rec, blocks, validLinks)
      try MoCoTrainer.train(spark, blocks, cfg.embed.dim, cfg.moco, Some(score))
      finally close()
    }
    val embById = rec.span[DataFrame]("align.encode", _.count()) {
      val encoded = Lineage.cut(MoCoTrainer.encode(spark, blocks, weights))
      val encodedAll = encoded.toDF("id", "emb").unionByName(
        embs.toDF("id", "emb").join(BoundedProbe.dimHint(
          encoded.toDF("id", "emb2").select("id"), dimsBounded), Seq("id"), "left_anti"))
      val kgOf = BoundedProbe.dimHint(ents.toDF().select(col("id"), col("kg")), dimsBounded)
      Lineage.cut(encodedAll.join(kgOf, "id"))
    }
    val cands = rec.span[Dataset[Candidate]]("candidates", _.count()) {
      val q1 = embById.filter(col("kg") === 1).select(col("id"), col("emb")).as[Emb]
      val c2 = embById.filter(col("kg") === 2).select(col("id"), col("emb")).as[Emb]
      IvfTopK.topK(spark, q1, c2, cfg.topK)
    }
    embById.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
    val comps = rec.span[DataFrame]("canon", _.count()) {
      val accepted = cands.toDF()
        .filter(col("rank") === 1 && col("score") >= cfg.rsmThreshold)
        .select(col("srcId").as("a"), col("dstId").as("b"))
      ConnectedComponents.runAuto(spark, accepted)
    }
    val canonical = rec.span[DataFrame]("materialize", _.count()) {
      val canonMap = comps.select(col("node"), col("component"))
      val names = BoundedProbe.dimHint(ents.toDF().select(col("id"), col("name")), dimsBounded)
      val t = idTriples.toDF().as("t")
        .join(canonMap.as("ch"), col("t.head") === col("ch.node"), "left")
        .join(canonMap.as("ct"), col("t.tail") === col("ct.node"), "left")
        .withColumn("subjId", coalesce(col("ch.component"), col("t.head")))
        .withColumn("objId", coalesce(col("ct.component"), col("t.tail")))
        .join(names.as("ns"), col("subjId") === col("ns.id"))
        .join(names.as("no"), col("objId") === col("no.id"))
        .select(col("ns.name").as("subj"), concat(lit("rel_"), col("t.rel")).as("pred"),
          col("no.name").as("obj"),
          col("subjId"), col("objId"), pmod(col("subjId"), lit(16)).as("bucket"))
      TableIO.computeIfAbsent(spark, s"$dir/triples_canonical", "materialize",
        inputs = Seq(s"$dir/id_triples"), partitionCols = Seq("bucket"))(t)
    }
    val wall = Workload.seconds(t0)
    val (got, want) = (canonical.count(), last.canonicalTriples.count())
    cands.unpersist()
    Replayed(wall, Seq(Check("replay_rows", got == want,
      s"$got canonical triples replayed vs $want in the last timed pass")))
  }

  /** `Pipeline.validationHook`, call for call, with its encode and exact
    * top-k calls in spans of their own. */
  private def validation(spark: SparkSession, rec: SpanRecorder, blocks: Dataset[NeighborBlock],
                         validLinks: Dataset[Link], negSample: Int = 4096): (GatWeights => Double, () => Unit) = {
    import spark.implicits._
    val pairs = validLinks.collect()
    val bcSrc = spark.sparkContext.broadcast(pairs.map(_.e1).toSet)
    val bcDst = spark.sparkContext.broadcast(pairs.map(_.e2).toSet)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val qBlocks = blocks.filter(b => bcSrc.value.contains(b.id)).persist(lvl)
    val nKg2 = blocks.filter(_.kg == 2).count()
    val rate = math.max(1L, nKg2 / math.max(1, negSample))
    val cBlocks = blocks.filter { b =>
      b.kg == 2 && (bcDst.value.contains(b.id) || DetHash.nonNeg(DetHash.h1(941L, b.id)) % rate == 0L)
    }.persist(lvl)
    qBlocks.count(); cBlocks.count()
    val hook = (w: GatWeights) => {
      val (q, c) = rec.span[(Dataset[Emb], Dataset[Emb])]("align.encode", p => p._1.count() + p._2.count()) {
        (MoCoTrainer.encode(spark, qBlocks, w), MoCoTrainer.encode(spark, cBlocks, w))
      }
      val cands = rec.span[Dataset[Candidate]]("candidates", _.count())(ExactTopK.topK(spark, q, c, 1))
      Metrics.hitAtK(spark, cands, validLinks, 1).head().getDouble(0)
    }
    (hook, () => { qBlocks.unpersist(blocking = false); cBlocks.unpersist(blocking = false) })
  }
}

/** Continuous construction: a CDC event stream through
  * `StreamingKg.writerCdc` over an indexed bootstrap. One client feeds one
  * micro-batch and waits for it: the docs of [[PerBatch]] new entities per
  * KG plus [[Retractions]] tombstones of bootstrap docs, after which the
  * writer commits the state (save, reload, expire). */
object CdcStream extends Workload {
  val name = "cdc_stream"
  val layers = Seq("stream.pin", "inc.retract", "inc.delta", "inc.save", "inc.load")
  /** Entities per KG in the bootstrap. */
  val Bootstrap = 300
  /** New entities per KG in the micro-batch. */
  val PerBatch = 30
  /** Bootstrap docs the micro-batch retracts. */
  val Retractions = 3
  val RetainEpochs = 2
  /** Under the lowest Hit@1 and Hit@10 of twenty seeded runs of this
    * workload (0.955 and 0.959). */
  val Hit1Floor = 0.9
  val Hit10Floor = 0.9
  /** The replay calls the writer's functions without the streaming
    * engine's own per-batch work (offsets, batch planning) and after the
    * stream has warmed the code, so it reads faster than the stream. */
  val overheadFloor = 0.7

  private val cfg = IncrementalConfig(embed = EmbedderConfig(dim = 256), useIndex = true)
  private var synth: SynthConfig = _
  private var inputs: String = _
  private var state0: AlignState = _
  private var finalState: AlignState = _
  private var events: Seq[DocEvent] = _
  private var hits = (0.0, 0.0)

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    synth = SynthConfig(entitiesPerKg = Bootstrap, seed = ctx.seed)
    val (base, all) = (synth, synth.copy(entitiesPerKg = Bootstrap + PerBatch))
    val dir = ctx.dir(s"input-$rep")
    DocSynthesizer.docs(spark, base).write.parquet(s"$dir/boot_docs")
    DocSynthesizer.entities(spark, base).write.parquet(s"$dir/boot_ents")
    val stream = spark.range(Bootstrap, Bootstrap + PerBatch)
    stream.flatMap(i => Seq(1, 2).map { kg =>
      val d = DocSynthesizer.docOf(all, kg, i)
      ("add", d.doc_id, d.spans)
    }).toDF("op", "doc_id", "spans")
      .unionByName(retracted(ctx.seed).toDF("doc_id")
        .withColumn("op", lit("retract"))
        .withColumn("spans", typedLit(Seq.empty[Span])))
      .write.parquet(s"$dir/events")
    stream.flatMap(i => Seq(1, 2).map(kg => (s"kg${kg}_doc_$i", DocSynthesizer.entityId(kg, i),
      DocSynthesizer.entityName(base, kg, i), kg)))
      .toDF("doc_id", "id", "name", "kg").write.parquet(s"$dir/stream_ents")
    inputs = dir
  }

  /** Tombstones: distinct bootstrap docs chosen by the seed. */
  private def retracted(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle((0 until Bootstrap).toVector).take(Retractions)
      .map(i => s"kg${1 + i % 2}_doc_$i")

  private def entsFor(spark: SparkSession): Dataset[Doc] => Dataset[Entity] = {
    import spark.implicits._
    val streamEnts = spark.read.parquet(s"$inputs/stream_ents")
    adds => streamEnts.join(adds.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("id"), col("name"), col("kg")).as[Entity]
  }

  /** The indexed bootstrap; it also compiles the extraction, encoding,
    * candidate and canonicalization code the micro-batch runs. */
  def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    state0 = IncrementalAlign.initial(spark,
      spark.read.parquet(s"$inputs/boot_docs").as[Doc],
      spark.read.parquet(s"$inputs/boot_ents").as[Entity], cfg)
    events = spark.read.parquet(s"$inputs/events").select(col("op"), col("doc_id"), col("spans"))
      .as[DocEvent].collect().sortBy(e => (e.op, e.doc_id)).toSeq
  }

  /** Feeds the micro-batch through the writer and waits for it. */
  def measure(ctx: Ctx, heap: HeapPeak): Measured = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DocEvent]
    val (writer, handle) = StreamingKg.writerCdc(source.toDS(), entsFor(spark), state0, cfg,
      stateDir = Some(ctx.dir("state-timed")), retainEpochs = Some(RetainEpochs),
      checkpointLocation = Some(ctx.dir("chk-timed")))
    val q = writer.start()
    val wall = try Workload.timed {
      source.addData(events: _*)
      q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination() }
    Main.progress(f"micro-batch: $wall%.2f s")
    heap.sample()
    finalState = handle.state
    Measured(Seq(
        Metric("docs_per_s", events.length / wall, "1/s"),
        Metric("state_mb", Workload.sizeMb(new java.io.File(ctx.dir("state-timed")), Set("_staging")), "MB")),
      attempted = 1, failed = 0, wallS = wall,
      info = Seq("events" -> events.length.toString, "batch_s" -> f"$wall%.3f"))
  }

  /** The stored top-L lists of a state as ranked candidates. */
  private def candidates(spark: SparkSession, s: AlignState): Dataset[Candidate] = {
    import spark.implicits._
    s.topk.flatMap { q =>
      q.dstIds.indices
        .sortWith((a, b) => ScoredTopK.better(q.cos(a), q.dstIds(a), q.cos(b), q.dstIds(b)))
        .zipWithIndex.map { case (i, r) => Candidate(q.srcId, q.dstIds(i), q.cos(i), r + 1) }
    }
  }

  def check(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    import spark.implicits._
    val gone = events.filter(_.op == "retract").map(_.doc_id).toSet
    val bootDocs = spark.read.parquet(s"$inputs/boot_docs").as[Doc]
    val added = spark.createDataset(events.filter(_.op == "add").map(_.doc))
    val surviving = bootDocs.unionByName(added).filter(d => !gone.contains(d.doc_id))
    val allEnts = spark.read.parquet(s"$inputs/boot_ents").as[Entity].unionByName(
      spark.read.parquet(s"$inputs/stream_ents").select(col("id"), col("name"), col("kg")).as[Entity])
    val truth = IncrementalAlign.initial(spark, surviving, allEnts, cfg, geometry = finalState.geometry)
    def acceptedSet(s: AlignState): Set[(Long, Long)] =
      s.accepted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def canonBag(s: AlignState): Map[Seq[Any], Int] =
      s.canonical.collect().map(_.toSeq).groupBy(identity).map { case (k, v) => (k, v.length) }
    val (a, b) = (acceptedSet(finalState), acceptedSet(truth))
    val (c, d) = (canonBag(finalState), canonBag(truth))
    hits = Workload.hits(spark, candidates(spark, finalState),
      DocSynthesizer.goldLinks(spark, synth.copy(entitiesPerKg = Bootstrap + PerBatch)))
    val (h1, h10) = hits
    Seq(
      Check("accepted_edges", a == b, s"${a.size} edges vs ${b.size} from scratch"),
      Check("canonical_rows", c == d, s"${c.values.sum} rows vs ${d.values.sum} from scratch"),
      Check("retractions_applied", gone.size == Retractions &&
        finalState.idTriples.filter(t => gone.contains(t.docId)).count() == 0L,
        s"${gone.size} docs retracted"),
      Check("hit1", h1 >= Hit1Floor, f"$h1%.4f >= $Hit1Floor"),
      Check("hit10", h10 >= Hit10Floor, f"$h10%.4f >= $Hit10Floor"))
  }

  def outputMetrics: Seq[Metric] = Seq(Metric("hit1", hits._1, "ratio"), Metric("hit10", hits._2, "ratio"))

  /** The writer's work on the micro-batch (`writerCdc`, then
    * `commitMaybe` with a commit due), call for call. */
  def traced(ctx: Ctx, rec: SpanRecorder): Replayed = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.dir("state-traced")
    val chk = ctx.dir("chk-traced")
    val batchId = 0L
    val stage = new BatchStage(Some(dir), Some(chk))
    val t0 = System.nanoTime()
    val evs = rec.span[Dataset[DocEvent]]("stream.pin", _.count()) {
      stage.pinDs(spark.createDataset(events), batchId)
    }
    val tombstones = evs.filter(_.op == "retract").map(_.doc_id).collect().toSet
    val adds = evs.filter(_.op == "add").map(_.doc)
    var st = state0
    if (tombstones.nonEmpty)
      st = rec.span[AlignState]("inc.retract", _.canonical.count()) {
        IncrementalAlign.retract(spark, st, tombstones, cfg)
      }
    if (!adds.isEmpty)
      st = rec.span[AlignState]("inc.delta", _.canonical.count()) {
        IncrementalAlign.delta(spark, st, adds, entsFor(spark)(adds), cfg)
      }
    val committed = st
    rec.span[Unit]("inc.save", _ => 0L) {
      IncrementalAlign.save(spark, committed, dir, extras = Seq(StreamProgress.Component ->
        StreamProgress.of(spark, batchId, Some(StreamProgress.streamId(chk)))))
    }
    st = rec.span[AlignState]("inc.load", _.canonical.count())(IncrementalAlign.load(spark, dir))
    rec.span[Unit]("inc.save", _ => 0L)(IncrementalAlign.expire(dir, RetainEpochs))
    stage.release()
    val wall = Workload.seconds(t0)
    val (got, want) = (st.canonical.count(), finalState.canonical.count())
    Replayed(wall, Seq(Check("replay_rows", got == want,
      s"$got canonical rows replayed vs $want after the timed stream")))
  }
}
