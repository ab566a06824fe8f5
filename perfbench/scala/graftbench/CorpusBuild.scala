package graftbench

import graft.Tables
import graft.ops.{CorpusPipeline, Dedup, Staged}
import graft.pipeline.CorpusSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q62's corpus build over a generated corpus, written with CorpusSink:
  * the gate chain, exact dedup, n-gram Jaccard pairs, min-label clusters
  * and the representative keep, then the split-partitioned sink. Then
  * the light registered queries over the same documents, one operation
  * each, and a few waves of new documents through the streaming intake,
  * one operation per trigger. */
object CorpusBuild extends Workload {

  /** q62's pair generator: exact 3-gram Jaccard >= 0.03 on the gate's tokens. */
  private val q62Pairs: DataFrame => DataFrame =
    Dedup.ngramJaccardPairs("doc_id", "norm_text", 3, 0.03, tokensCol = Some("__w"))

  private def pairs(ctx: Ctx)(keep: DataFrame): DataFrame =
    if (!ctx.tracer.on) q62Pairs(keep)
    else ctx.tracer.span("ops.pairs") {
      val p = Staged.stage(q62Pairs(keep))
      ctx.tracer.count("pairs", p.count().toDouble)
      p
    }

  private def clusters(ctx: Ctx)(p: DataFrame, a: String, b: String): DataFrame =
    if (!ctx.tracer.on) Dedup.duplicateClusters(p, a, b)
    else ctx.tracer.span("ops.cluster") {
      val c = Staged.stage(Dedup.duplicateClusters(p, a, b))
      ctx.tracer.count("clusters", c.select("cluster").distinct().count().toDouble)
      c
    }

  private def build(ctx: Ctx, dir: String, sink: String): Map[String, Any] = {
    val spark = ctx.spark
    Staged.withStaged {
      val docs =
        if (!ctx.tracer.on) Tables.documents(spark, dir)
        else ctx.tracer.span("tables.scan") {
          val d = Tables.documents(spark, dir)
          d.write.format("noop").mode("overwrite").save()
          ctx.tracer.count("input_mb", Main.bytesUnder(s"$dir/documents.parquet") / 1048576.0)
          d
        }
      val out = ctx.tracer.span("ops.gate") {
        CorpusPipeline.run(docs, pairs(ctx), clusterer = clusters(ctx))
      }
      if (ctx.tracer.on) ctx.tracer.countOn("ops.gate", "rows_in", docs.count().toDouble)
      // the final action on the pipeline output reports corpus_final;
      // the sink then writes the persisted rows. Written unpersisted,
      // the sink's range sampler runs the observed plan a second time
      // and corpus_final counts every row twice.
      val kept = ctx.tracer.span("ops.keep") {
        val k = out.persist()
        k.count()
        k
      }
      try ctx.tracer.span("pipeline.corpus_sink") {
        CorpusSink.write(kept, sink)
        ctx.tracer.count("mb", Main.bytesUnder(sink) / 1048576.0)
      } finally kept.unpersist(blocking = true)
    }
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val keep = ctx.observed.take("corpus_keep")
    val fin = ctx.observed.take("corpus_final")
    ctx.tracer.countOn("ops.gate", "rows_kept", keep.getOrElse("rows_kept", 0L).toDouble)
    ctx.tracer.countOn("ops.gate", "rows_gated", keep.getOrElse("rows_gated", 0L).toDouble)
    ctx.tracer.countOn("ops.keep", "rows_final", fin.getOrElse("rows_final", 0L).toDouble)
    Map("rows_kept" -> keep.get("rows_kept"), "rows_gated" -> keep.get("rows_gated"),
      "rows_final" -> fin.get("rows_final"))
  }

  /** Count and order-free hash of the doc ids the sink holds. */
  private def sinkIds(ctx: Ctx, sink: String): Map[String, Any] = {
    val ids = ctx.spark.read.parquet(sink).select(col("doc_id").cast("string")).collect().map(_.getString(0))
    val h = ids.iterator.map(i => Check.rowHash(Seq(i))).foldLeft(BigInt(0))(_ + _)
    Map("sink_rows" -> ids.length.toLong, "sink_id_hash" -> (h % (BigInt(1) << 64)).toString)
  }

  def setup(ctx: Ctx): Unit = {
    val sink = s"${ctx.work}/corpus-warm"
    build(ctx, ctx.warm, sink)
    Main.deleteTree(sink)
    QueryMix.corpusNames.foreach(n => QueryMix.run(ctx, ctx.warm, n))
    StreamIntake.run(ctx, s"${ctx.warm}/stream", "warm", timed = false)
  }

  def iteration(ctx: Ctx, i: Int): Map[String, Any] = {
    ctx.beginIteration()
    val sink = s"${ctx.work}/corpus-$i"
    val o = ctx.op("build")(build(ctx, ctx.input, sink))
    if (o.error.isEmpty) ctx.annotate(o, sinkIds(ctx, sink))
    val out = Main.bytesUnder(sink)
    Main.deleteTree(sink)
    // staged blocks are freed asynchronously; free what is left now, so
    // every iteration starts from the same storage
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    QueryMix.corpusNames.foreach(n => ctx.op(n)(QueryMix.run(ctx, ctx.input, n)))
    val (streamIn, streamOut) = StreamIntake.run(ctx, s"${ctx.input}/stream", i.toString, timed = true)
    ctx.endIteration(Main.bytesUnder(s"${ctx.input}/documents.parquet") + streamIn, out + streamOut)
  }

  override def finish(ctx: Ctx): Map[String, Any] = QueryMix.results(ctx, QueryMix.corpusNames)
}
