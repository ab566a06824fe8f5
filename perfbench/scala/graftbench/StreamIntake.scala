package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.streaming.CorpusStream
import org.apache.spark.sql.streaming.Trigger

/** Documents arrive in waves; after each wave one AvailableNow run of
  * readDocs -> cleanDocs -> dedupedDocs -> corpusIngestSink resumes from
  * the same checkpoint. An iteration starts from an empty landing zone,
  * sink and checkpoint; an operation is one trigger. */
object StreamIntake extends Workload {

  private def waves(base: String): Seq[File] =
    Option(new File(base).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("wave")).sortBy(_.getName)

  private def novelRows(ctx: Ctx, sink: String): Long =
    if (Option(new File(sink).listFiles()).toSeq.flatten.exists(_.getName.startsWith("batch=")))
      ctx.spark.read.parquet(s"$sink/batch=*").count()
    else 0L

  private def trigger(ctx: Ctx, landing: String, sink: String, chk: String): Map[String, Any] =
    ctx.tracer.span("streaming.intake") {
      val stream = CorpusStream.dedupedDocs(CorpusStream.cleanDocs(
        CorpusStream.readDocs(ctx.spark, landing)))
      val q = CorpusStream.corpusIngestSink(stream, sink, chk)
        .trigger(Trigger.AvailableNow()).start()
      ctx.tracer.claim(q.runId.toString)
      q.awaitTermination()
      val ps = q.recentProgress.toSeq
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
      val state = ps.lastOption.toSeq.flatMap(_.stateOperators)
      ctx.tracer.count("rows_in", ps.map(_.numInputRows).sum.toDouble)
      ctx.tracer.count("state_rows", state.map(_.numRowsTotal).sum.toDouble)
      ctx.tracer.count("state_mb", state.map(_.memoryUsedBytes).sum / 1048576.0)
      ctx.tracer.count("plan_s", dur("queryPlanning"))
      ctx.tracer.count("commit_s", dur("commitOffsets") + dur("walCommit"))
      Map("input_rows" -> ps.map(_.numInputRows).sum)
    }

  /** Feed every wave under `base` through a fresh landing zone, sink and
    * checkpoint; returns (input bytes, output bytes). */
  def run(ctx: Ctx, base: String, tag: String, timed: Boolean): (Long, Long) = {
    val dir = s"${ctx.work}/stream-$tag"
    Main.deleteTree(dir)
    val (landing, sink, chk) = (s"$dir/landing", s"$dir/sink", s"$dir/chk")
    new File(landing).mkdirs()
    var bytesIn = 0L
    var novel = 0L
    waves(base).foreach { w =>
      w.listFiles().filter(_.isFile).foreach { f =>
        bytesIn += f.length()
        Files.copy(f.toPath, new File(landing, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
      }
      if (timed) {
        val o = ctx.op(w.getName)(trigger(ctx, landing, sink, chk))
        val now = novelRows(ctx, sink)
        ctx.tracer.countOn("streaming.intake", "rows_novel", (now - novel).toDouble)
        novel = now
        ctx.annotate(o, Map("novel_cumulative" -> now))
      } else trigger(ctx, landing, sink, chk)
    }
    val out = Main.bytesUnder(sink) + Main.bytesUnder(chk)
    Main.deleteTree(dir)
    (bytesIn, out)
  }

  def setup(ctx: Ctx): Unit = run(ctx, ctx.warm, "warm", timed = false)

  def iteration(ctx: Ctx, i: Int): Map[String, Any] = {
    ctx.beginIteration()
    val (in, out) = run(ctx, ctx.input, i.toString, timed = true)
    ctx.endIteration(in, out)
  }
}
