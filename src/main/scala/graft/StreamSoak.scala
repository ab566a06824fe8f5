package graft

import graft.streaming.{CorpusStream, StreamDoc}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Streaming state soak: drive the watermark-bounded intake path
  * (`cleanDocs` → `dropDuplicatesWithinWatermark`) through N
  * micro-batches of advancing event time and record the state store's
  * rows/bytes after every batch — the long-run evidence that the
  * watermark actually EVICTS: per-monitor specs prove semantics on a
  * handful of batches, this proves the state curve plateaus instead of
  * growing with total input (the difference between "runs forever" and
  * "OOMs in week two" on a real cluster).
  *
  * Batch shape (per batch b, event time advancing 1 min/batch,
  * watermark 10 min): `fresh` brand-new documents, `refetchRecent`
  * re-fetches of batch b−1 content (inside the horizon — the dedup
  * state must drop them), and `refetchOld` re-fetches of batch b−20
  * content — which probes the retention EDGE: an entry is evictable
  * when watermark > eventTime + delay and the watermark lags one
  * batch, so entries live ~2×delay + 1 batches (~21 here; Spark's
  * dropDuplicatesWithinWatermark guarantee covers events within
  * delay of EACH OTHER, which needs the 2× window). The measured
  * 60-batch run (BENCHNOTES round 10) confirms it: the b−20 refetch
  * is consistently still deduped (emitted stays exactly
  * fresh-per-batch) and state plateaus at ~2×delay×novelty. A leak
  * shows as numRowsTotal growing ~linearly with b; health shows as
  * that plateau — size state for 2×delay, not 1×.
  *
  * Usage: `runMain graft.StreamSoak [nBatches] [freshPerBatch]`.
  * Prints one line per batch: batch, input rows, emitted rows,
  * state rows, state MB, watermark. */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(60)
    val fresh = if (args.length > 1) args(1).toInt else 150
    val refetchRecent = fresh / 3
    val refetchOld = fresh / 3
    // no input directory: the session takes the cpus floor
    val spark = Driver.session(layoutBytes = 0L)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // passes the gates: >= 5 tokens with English stopword hits; the
    // (b, i) suffix makes content unique per (batch, index)
    def text(b: Int, i: Int): String =
      s"the quick brown fox carries batch b$b item i$i over the lazy dog"
    def ts(b: Int): Timestamp = new Timestamp(1704067200000L + b * 60000L)
    def docs(b: Int): Seq[StreamDoc] = {
      val f = (0 until fresh).map(i =>
        StreamDoc(b * 100000L + i, ts(b), text(b, i), "en", "crawl0"))
      val recent = if (b >= 1) (0 until refetchRecent).map(i =>
        StreamDoc(b * 100000L + 50000L + i, ts(b), text(b - 1, i), "en", "crawl1"))
      else Seq.empty
      val old = if (b >= 20) (0 until refetchOld).map(i =>
        StreamDoc(b * 100000L + 70000L + i, ts(b), text(b - 20, i), "en", "crawl2"))
      else Seq.empty
      f ++ recent ++ old
    }

    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.dedupedDocs(
        CorpusStream.cleanDocs(src.toDF()), watermark = "10 minutes")
      .writeStream.format("memory").queryName("soak_deduped")
      .outputMode("append").start()
    println(f"${"batch"}%5s ${"input"}%7s ${"emitted"}%8s ${"cumOut"}%8s " +
      f"${"stateRows"}%10s ${"stateMB"}%8s")
    var prevOut = 0L
    val stateRows = scala.collection.mutable.ArrayBuffer[Long]()
    (0 until nBatches).foreach { b =>
      val batch = docs(b)
      src.addData(batch)
      q.processAllAvailable()
      val out = spark.sql("SELECT count(*) FROM soak_deduped").head().getLong(0)
      val so = q.recentProgress.reverse.iterator
        .flatMap(_.stateOperators).find(_ => true)
      val rows = so.map(_.numRowsTotal).getOrElse(-1L)
      val memMb = so.map(_.memoryUsedBytes / 1048576.0).getOrElse(-1.0)
      stateRows += rows
      println(f"$b%5d ${batch.size}%7d ${out - prevOut}%8d $out%8d " +
        f"$rows%10d $memMb%8.2f")
      prevOut = out
    }
    q.stop()
    // plateau check: the mean state over the last third vs the first
    // post-warmup third — a leak reads >> 1
    val warm = stateRows.drop(15)
    if (warm.nonEmpty) {
      val firstThird = warm.take(warm.size / 3)
      val lastThird = warm.takeRight(warm.size / 3)
      val ratio = lastThird.sum.toDouble / math.max(1L, firstThird.sum)
      println(f"plateau ratio (last-third / first-third state rows, " +
        f"post-warmup): $ratio%.3f  (leak-free ~= 1.0)")
    }
    spark.stop()
  }
}
