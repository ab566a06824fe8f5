package graftbench

import java.io.File
import java.sql.DriverManager

import graft.ingest.{LoomCsv, LoomSchema}
import graft.ops.{Filters, Merge, Staged}
import graft.pipeline.{ExportJob, ImportJob, JdbcUpsertSink, SummaryJob}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's cycle, twice per iteration: an initial load into an empty
  * sink, then a next-day reload whose keys mostly exist. Each phase reads
  * the CSV tree with the sink's keys for the powered-off gate, upserts
  * into embedded Derby, exports the months and summarizes them. */
object LoomEtl extends Workload {
  private val table = "LOOM"
  private val url = "jdbc:derby:memory:graftbench;create=true"
  private val factory: () => java.sql.Connection = {
    val u = url
    () => DriverManager.getConnection(u)
  }

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def resetSink(): Unit = withConn { c =>
    try c.createStatement().execute(s"DROP TABLE $table")
    catch { case _: java.sql.SQLException => () }
    val cols = LoomSchema.columnNames.map { n =>
      val t = if (LoomSchema.primaryKey.contains(n)) "VARCHAR(32) NOT NULL" else "VARCHAR(96)"
      "\"" + n + "\" " + t
    }
    val pk = LoomSchema.primaryKey.map("\"" + _ + "\"").mkString(", ")
    c.createStatement().execute(s"CREATE TABLE $table (${cols.mkString(", ")}, PRIMARY KEY ($pk))")
  }

  private def sinkKeys(spark: SparkSession): DataFrame = {
    spark.read.jdbc(url, table, new java.util.Properties())
      .select(LoomSchema.primaryKey.map(col): _*)
  }

  /** Row count, order-independent content hash (the generator's
    * `set_hash`) and payload bytes (UTF-8 cell bytes) of the sink table.
    * Payload, not Derby's page count: page allocation follows the order
    * in which concurrent partitions arrive. */
  def sinkState(): Map[String, Any] = withConn { c =>
    val cols = LoomSchema.columnNames.map("\"" + _ + "\"").mkString(", ")
    val rs = c.createStatement().executeQuery(s"SELECT $cols FROM $table")
    var n = 0L
    var h = BigInt(0)
    var bytes = 0L
    while (rs.next()) {
      n += 1
      val cells = (1 to 71).map(i => rs.getString(i))
      h += Check.rowHash(cells)
      bytes += cells.map(c => if (c == null) 0 else c.getBytes("UTF-8").length).sum
    }
    Map("sink_rows" -> n, "sink_hash" -> (h % (BigInt(1) << 64)).toString,
      "sink_bytes" -> bytes)
  }

  private def months(root: String): Seq[String] =
    Option(new File(root).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.matches("\\d{4}-\\d{2}")).sorted

  private def forExport(df: DataFrame): DataFrame =
    df.withColumn("month", substring(col("DataTurno"), 1, 7))
      .withColumn("dataset_type", lit("daily"))

  /** One phase, as a user composes the program's public jobs. */
  private def phase(ctx: Ctx, root: String, exportDir: String): Map[String, Any] = {
    val spark = ctx.spark
    val ms = months(root)
    Staged.withStaged {
      val merged =
        if (ctx.tracer.on) tracedImport(ctx, root)
        else ImportJob.importCsvTree(spark, root, Some(sinkKeys(spark))).persist()
      try {
        ctx.tracer.span("pipeline.jdbc") {
          JdbcUpsertSink.write(merged, table, factory,
            dialect = JdbcUpsertSink.AnsiMergeUpsert())
        }
        val (verified, summary) = ctx.tracer.span("pipeline.export") {
          val exp = forExport(merged)
          ExportJob.exportMonthsIncremental(exp, ms, exportDir)
          val v = ExportJob.verifyExport(spark, exportDir, ms).collect()
          val s = SummaryJob.summarize(exp).collect()
          (v, s)
        }
        if (ctx.tracer.on) {
          val perPart = merged.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect()
          ctx.tracer.countOn("pipeline.jdbc", "rows", perPart.sum.toDouble)
          ctx.tracer.countOn("pipeline.jdbc", "batches", perPart.map(_ / 1000 + 1).sum.toDouble)
          ctx.tracer.countOn("pipeline.export", "mb", Main.bytesUnder(exportDir) / 1048576.0)
        }
        Map("export_rows_by_month" ->
              verified.map(r => r.getString(0) -> r.getLong(2)).toMap,
            "summary_rows" -> summary.map(_.getLong(2)).sum)
      } finally merged.unpersist(blocking = true)
    }
  }

  /** The traced run splits importCsvTree at its layer boundaries, in the
    * same order and composition, materializing each layer's output. */
  private def tracedImport(ctx: Ctx, root: String): DataFrame = {
    val spark = ctx.spark
    val parsed = ctx.tracer.span("ingest.loomcsv") {
      val p = LoomCsv.normalize(LoomCsv.readWithFallback(spark, root))
        .withColumnRenamed(LoomCsv.sourceFileCol, "__file").persist()
      p.count()
      p
    }
    val nParsed = parsed.count()
    val files = new File(root).listFiles().toSeq.flatMap(m =>
      Option(new File(m, "daily").listFiles()).toSeq.flatten)
      .count(f => f.getName.toLowerCase.endsWith(".csv"))
    val fallback = LoomCsv.readRaw(spark, root, "UTF-8")
      .filter(concat_ws("", LoomSchema.columnNames.map(col): _*).rlike("�"))
      .select(input_file_name()).distinct().count()
    ctx.tracer.countOn("ingest.loomcsv", "files", files)
    ctx.tracer.countOn("ingest.loomcsv", "fallback_files", fallback.toDouble)
    ctx.tracer.countOn("ingest.loomcsv", "rows_out", nParsed.toDouble)
    val merged = ctx.tracer.span("ops.merge") {
      val sink = sinkKeys(spark)
      val off = parsed.filter(Filters.poweredOff("DataTurno", "Funcionando", "Parado", 400.0))
        .join(broadcast(sink.select(LoomSchema.primaryKey.map(col): _*).distinct()),
          LoomSchema.primaryKey, "left_anti")
      val gated = parsed.filter(!Filters.poweredOff("DataTurno", "Funcionando", "Parado", 400.0))
        .unionByName(off)
      val m = Merge.lastWriterWins(LoomSchema.primaryKey, Seq(col("__file").desc))(gated)
        .drop("__file").persist()
      m.count()
      m
    }
    ctx.tracer.countOn("ops.merge", "rows_in", nParsed.toDouble)
    ctx.tracer.countOn("ops.merge", "rows_out", merged.count().toDouble)
    parsed.unpersist(blocking = true)
    merged
  }

  private def cycle(ctx: Ctx, base: String, tag: String, timed: Boolean,
                    phases: Seq[String] = Seq("phase1", "phase2")): (Long, Long) = {
    resetSink()
    val exportDir = s"${ctx.work}/export-$tag"
    Main.deleteTree(exportDir)
    var bytesOut = 0L
    phases.foreach { p =>
      val root = s"$base/$p"
      if (timed) {
        val o = ctx.op(p)(phase(ctx, root, exportDir))
        val st =
          try sinkState()
          catch { case e: java.sql.SQLException => Map("check_error" -> e.getMessage) }
        bytesOut += Main.bytesUnder(exportDir)
        ctx.annotate(o, st)
        if (p == "phase2") bytesOut += st.get("sink_bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
      } else phase(ctx, root, exportDir)
    }
    Main.deleteTree(exportDir)
    (Main.bytesUnder(s"$base/phase1") + Main.bytesUnder(s"$base/phase2"), bytesOut)
  }

  /** Warm-up: the initial load of the warm-up tree. The reload runs the
    * same plans (the gate anti-joins an empty sink in the first phase). */
  def setup(ctx: Ctx): Unit = cycle(ctx, ctx.warm, "warm", timed = false, Seq("phase1"))

  def iteration(ctx: Ctx, i: Int): Map[String, Any] = {
    ctx.beginIteration()
    val (in, out) = cycle(ctx, ctx.input, i.toString, timed = true)
    ctx.endIteration(in, out)
  }
}

object Check {
  /** First 8 bytes of md5 over the cells joined by U+001F (null as
    * U+0000), as an unsigned number; sums of these are order-free. */
  def rowHash(cells: Seq[String]): BigInt = {
    val s = cells.map(c => if (c == null) "\u0000" else c).mkString("\u001f")
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    BigInt(1, d.take(8))
  }
}
