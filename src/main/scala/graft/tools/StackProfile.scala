package graft.tools

import org.apache.spark.sql.SparkSession
import graft.candidates.LshTopK

/** Wall-clock stack sampler for the LSH candidate stage: samples every
  * executor worker thread every ~150 ms while `LshTopK.topK` runs and
  * prints the most-sampled frames — pinpoints per-task overhead that
  * stage metrics (records/bytes/GC) cannot attribute.
  * Args: cores [entitiesPerKg] [dim] [shuffleParts] */
object StackProfile {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 8
    val e = if (args.length > 1) args(1).toInt else 50000
    val dim = if (args.length > 2) args(2).toInt else 256
    val parts = if (args.length > 3) args(3).toInt else cores * 4
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // GAT-encoded pipeline embeddings so the LSH inputs match Bench's
    val cfg = graft.PipelineConfig(
      synth = graft.ingest.SynthConfig(entitiesPerKg = e),
      embed = graft.embed.EmbedderConfig(dim = dim))
    val docs = graft.ingest.DocSynthesizer.docs(spark, cfg.synth)
    val ents = graft.ingest.DocSynthesizer.entities(spark, cfg.synth)
    val raw = graft.extract.Extraction.rawTriples(spark, docs)
    val idT = graft.extract.Extraction.idTriples(spark, raw, ents)
    val embs = graft.embed.Embedder.embedEntities(spark, ents, cfg.embed)
    val blocks = graft.Stages.blocks(spark, idT, ents, embs, dim, boundedDims = true)
    val w = graft.align.GatKernel.initWeights(dim)
    val enc = graft.align.MoCoTrainer.encode(spark, blocks, w)
      .toDF("id", "emb").persist()
    val kgOf = org.apache.spark.sql.functions.broadcast(
      ents.toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("kg")))
    val byId = enc.join(kgOf, "id").persist()
    val q = byId.filter("kg = 1").select("id", "emb").as[graft.kg.Emb].persist()
    val c = byId.filter("kg = 2").select("id", "emb").as[graft.kg.Emb].persist()
    println(s"[stack] q=${q.count()} c=${c.count()} parts=$parts cores=$cores")

    val counts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val all = Thread.getAllStackTraces
        val it = all.entrySet().iterator()
        while (it.hasNext) {
          val en = it.next()
          if (en.getKey.getName.startsWith("Executor task launch")) {
            val st = en.getValue
            // count every frame once per sample (inclusive profile)
            val seen = new java.util.HashSet[String]()
            var i = 0
            while (i < st.length && i < 40) {
              val f = st(i)
              val key = f.getClassName + "." + f.getMethodName
              if (seen.add(key))
                counts.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
              i += 1
            }
          }
        }
        Thread.sleep(150)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    val cands = LshTopK.topK(spark, q, c, 10)
    val n = cands.count()
    sampling = false
    println(f"[stack] lsh_topk_sec=${(System.nanoTime() - t0) / 1e9}%.1f cands=$n")
    import scala.jdk.CollectionConverters._
    counts.asScala.toSeq.map { case (k, v) => (k, v.get) }.sortBy(-_._2).take(45)
      .foreach { case (k, v) => println(f"[stack] $v%7d  $k") }
    spark.stop()
  }
}
