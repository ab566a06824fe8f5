package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** One operation: its latency and what its output check needs. */
final case class Op(name: String, latencyS: Double, error: Option[String],
                    obs: Map[String, Any])

/** Everything one workload run shares. */
final class Ctx(val spark: SparkSession, val input: String, val warm: String,
                val work: String, val cores: Int, val seed: Long,
                val probe: Probe, val observed: Observed, val tracer: Tracer) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val ops = mutable.ArrayBuffer[Op]()
  private var cpuNs = 0L
  private var stored = 0L
  private var execPeak = 0L
  private var records = 0L

  def beginIteration(): Unit = { ops.clear(); cpuNs = 0L; stored = 0L; execPeak = 0L; records = 0L }

  /** Run `body` as one timed operation. A throw fails the operation;
    * the iteration goes on. Timing stops before the listener drain. */
  def op(name: String)(body: => Map[String, Any]): Op = {
    Bus.drain(spark.sparkContext)
    probe.resetWindow()
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val (err, obs) =
      try (None, body)
      catch { case e: Throwable =>
        (Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"), Map.empty[String, Any])
      }
    val dt = (System.nanoTime() - t0) / 1e9
    cpuNs += os.getProcessCpuTime - c0
    Bus.drain(spark.sparkContext)
    stored = math.max(stored, probe.windowStoredBytes)
    execPeak = math.max(execPeak, probe.windowExecPeakBytes)
    records += probe.windowRecords
    val o = Op(name, dt, err, obs)
    ops += o
    o
  }

  /** Attach check data gathered after the operation, outside its time. */
  def annotate(o: Op, more: Map[String, Any]): Unit = {
    val i = ops.indexOf(o)
    if (i >= 0) ops(i) = o.copy(obs = o.obs ++ more)
  }

  def endIteration(bytesIn: Long, bytesOut: Long): Map[String, Any] = Map(
    "wall_s" -> ops.map(_.latencyS).sum,
    "cpu_s" -> cpuNs / 1e9,
    "storage_mb" -> stored / 1048576.0,
    "exec_peak_mb" -> execPeak / 1048576.0,
    "records_read" -> records,
    "bytes_in" -> bytesIn, "bytes_out" -> bytesOut,
    "ops" -> ops.map(o => Map("name" -> o.name, "latency_s" -> o.latencyS,
      "error" -> o.error, "obs" -> o.obs)).toSeq)
}

trait Workload {
  /** Per-session preparation: sink schema, directories, warm-up. */
  def setup(ctx: Ctx): Unit
  /** One iteration of timed operations; returns the iteration record. */
  def iteration(ctx: Ctx, i: Int): Map[String, Any]
  /** After the timed loop: artifacts for the output check. */
  def finish(ctx: Ctx): Map[String, Any] = Map.empty
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 2

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def session(input: String, work: String, cores: Int): SparkSession = {
    // the load shape graft.Bench uses: AQE on, shuffle partitions from
    // the input's bytes, scan parallelism recorded for the fan-outs
    val parts = graft.ops.Skew.suggestedShufflePartitions(
      graft.ops.Skew.dirBytes(new org.apache.hadoop.conf.Configuration(), input),
      minParts = cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ops.Skew.recordScanParallelism(spark, input)
    spark
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val input = new File(arg(args, "input")).getAbsolutePath
    val warm = new File(arg(args, "warm")).getAbsolutePath
    val work = new File(arg(args, "work")).getAbsolutePath
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val seed = arg(args, "seed").toLong
    val out = arg(args, "out")
    val cores = Runtime.getRuntime.availableProcessors()
    val wl: Workload = workload match {
      case "loom_etl" => LoomEtl
      case "corpus_build" => CorpusBuild
      case "query_mix" => QueryMix
      case "stream_intake" => StreamIntake
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, repeated: session start -> sink schema -> warm-up
    val setupRecs = mutable.ArrayBuffer[Map[String, Any]]()
    var ctx: Ctx = null
    for (_ <- 1 to Setups) {
      if (ctx != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      val spark = session(input, work, cores)
      val probe = new Probe
      val observed = new Observed
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(observed)
      val t1 = System.nanoTime()
      ctx = new Ctx(spark, input, warm, work, cores, seed, probe, observed,
        new Tracer(spark.sparkContext, on = false))
      wl.setup(ctx)
      val t2 = System.nanoTime()
      setupRecs += Map("setup_s" -> (t2 - t0) / 1e9, "session_s" -> (t1 - t0) / 1e9,
        "warmup_s" -> (t2 - t1) / 1e9)
    }

    def loop(c: Ctx): Seq[Map[String, Any]] = {
      val its = mutable.ArrayBuffer[Map[String, Any]]()
      val t0 = System.nanoTime()
      while (its.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
        its += wl.iteration(c, its.size)
      its.toSeq
    }

    val untraced = loop(ctx)
    val finish = wl.finish(ctx)
    val traced =
      if (!trace) None
      else {
        val tracer = new Tracer(ctx.spark.sparkContext, on = true)
        val tctx = new Ctx(ctx.spark, input, warm, work, cores, seed, ctx.probe,
          ctx.observed, tracer)
        val its = loop(tctx)
        Bus.drain(ctx.spark.sparkContext)
        Some(Map("iterations" -> its, "layers" -> tracer.layers(ctx.probe, cores),
          "spans" -> tracer.spansJson))
      }

    val rec = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "spark" -> ctx.spark.version, "java" -> System.getProperty("java.version"),
      "shuffle_partitions" -> ctx.spark.conf.get("spark.sql.shuffle.partitions"),
      "setups" -> setupRecs.toSeq, "iterations" -> untraced, "finish" -> finish,
      "traced" -> traced)
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.write(Json(rec)) finally w.close()
    ctx.spark.stop()
  }

  /** Total bytes of the files under `path` (0 when absent). */
  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  def deleteTree(path: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(path))
  }
}
