package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft._
import graft.kg._

/** Stage-by-stage wall profile of the pipeline (diagnoses where the
  * N-vs-4N scaling evidence loses efficiency). */
object PipeProfile {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 8
    val e = if (args.length > 1) args(1).toInt else 2000
    val dim = if (args.length > 2) args(2).toInt else 256
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val cfg = PipelineConfig(
      synth = graft.ingest.SynthConfig(entitiesPerKg = e),
      embed = graft.embed.EmbedderConfig(dim = dim), useLsh = Some(true))
    val docs = graft.ingest.DocSynthesizer.docs(spark, cfg.synth)
    val ents = graft.ingest.DocSynthesizer.entities(spark, cfg.synth)
    time("docs materialize")(docs.count())
    time("ents materialize")(ents.count())
    val raw = graft.extract.Extraction.rawTriples(spark, docs)
    time("extract raw")(raw.count())
    val idT = graft.extract.Extraction.idTriples(spark, raw, ents).cache()
    time("idTriples")(idT.count())
    val embs = graft.embed.Embedder.embedEntities(spark, ents, cfg.embed).cache()
    time("embed")(embs.count())
    val blocks = Stages.blocks(spark, idT, ents, embs, dim, boundedDims = true).cache()
    time("neighbor blocks")(blocks.count())
    val w = graft.align.GatKernel.initWeights(dim)
    val enc = graft.align.MoCoTrainer.encode(spark, blocks, w).cache()
    time("gat encode")(enc.count())
    val encodedAll = enc.toDF("id", "emb").unionByName(
      embs.toDF("id", "emb").join(enc.toDF("id", "e2").select("id"), Seq("id"), "left_anti"))
    val kgOf = broadcast(ents.toDF().select(col("id"), col("kg")))
    val embById = encodedAll.join(kgOf, "id").cache()
    time("embById")(embById.count())
    val q1 = embById.filter(col("kg") === 1).select(col("id"), col("emb")).as[Emb]
    val c2 = embById.filter(col("kg") === 2).select(col("id"), col("emb")).as[Emb]
    val cands = graft.candidates.LshTopK.topK(spark, q1, c2, 10).cache()
    time("lsh topk")(cands.count())
    val acc = cands.toDF().filter(col("rank") === 1 && col("score") >= 2.0)
      .select(col("srcId").as("a"), col("dstId").as("b"))
    val comps = time("connected components")(graft.canon.ConnectedComponents.run(spark, acc))
    time("comps count")(comps.count())
    spark.stop()
  }
}
