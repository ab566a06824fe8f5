package graftbench

import graft.{SparkEntry, Tables}
import graft.ops.Staged

/** One client running registered queries back to back, each fully
  * evaluated through the `noop` sink. A pass runs the list once in an
  * order shuffled from the seed; an operation is one query execution. */
object QueryMix extends Workload {

  /** Light LLM-corpus queries with an oracle; they read only `documents`. */
  val corpusNames: Seq[String] = Seq(
    "q22_dedup_exact", "q23_token_stats", "q25_langid", "q47_normalize")

  /** The 22 core queries plus the light LLM-corpus queries. */
  val names: Seq[String] = Seq(
    "q01_project_trim", "q02_nonnull_keys", "q03_compound_predicate",
    "q04_anti_join", "q05_regex_filter", "q06_topk_month_semi",
    "q07_recency_window", "q08_semi_join", "q09_dim_join_agg",
    "q10_full_outer_months", "q11_lww_merge", "q12_distinct",
    "q13_conditional_counts", "q14_month_summary", "q15_promo_ratio",
    "q16_rollup", "q17_total_order", "q18_topk_per_group",
    "q19_union_distinct", "q20_scalar_text", "q20_scalar_date",
    "q21_rolling_avg") ++ corpusNames

  val tables: Seq[String] = Seq("lineitem", "orders", "customer", "part",
    "supplier", "nation", "region", "documents", "events")

  private lazy val registry = SparkEntry.queries
  /** Result rows per query, from the output check; the traced run,
    * which comes after it, reports them as `queries.exec.rows`. */
  private var resultRows = Map.empty[String, Long]

  /** One query execution: build, plan, then a full evaluation. */
  def run(ctx: Ctx, dir: String, name: String): Map[String, Any] =
    Staged.withStaged {
      val df = ctx.tracer.span("queries.build")(registry(name)(ctx.spark, dir))
      ctx.tracer.span("queries.plan")(df.queryExecution.executedPlan)
      ctx.tracer.span("queries.exec") {
        df.write.format("noop").mode("overwrite").save()
        ctx.tracer.count("rows", resultRows.getOrElse(name, 0L).toDouble)
      }
      Map.empty
    }

  private def scanTables(ctx: Ctx): Unit = tables.foreach { t =>
    ctx.tracer.span("tables.scan") {
      val d = if (t == "events") Tables.events(ctx.spark, ctx.input) else Tables.table(ctx.spark, ctx.input, t)
      d.write.format("noop").mode("overwrite").save()
      ctx.tracer.count("input_mb", Main.bytesUnder(s"${ctx.input}/$t.parquet") / 1048576.0)
    }
  }

  def setup(ctx: Ctx): Unit = names.foreach(n => run(ctx, ctx.warm, n))

  def iteration(ctx: Ctx, i: Int): Map[String, Any] = {
    ctx.beginIteration()
    if (ctx.tracer.on) scanTables(ctx)
    val order = new scala.util.Random(ctx.seed * 7919L + i).shuffle(names)
    order.foreach(n => ctx.op(n)(run(ctx, ctx.input, n)))
    ctx.endIteration(tables.map(t => Main.bytesUnder(s"${ctx.input}/$t.parquet")).sum, 0L)
  }

  override def finish(ctx: Ctx): Map[String, Any] = results(ctx, names)

  /** Each query's output once, as parquet, for the oracle comparison. */
  def results(ctx: Ctx, queries: Seq[String]): Map[String, Any] = {
    val dir = s"${ctx.work}/results"
    val rows = queries.map { n =>
      val out = s"$dir/$n"
      val r: Any =
        try {
          Staged.withStaged {
            registry(n)(ctx.spark, ctx.input).write.mode("overwrite").parquet(out)
          }
          ctx.spark.read.parquet(out).count()
        } catch { case e: Throwable => s"error: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
      n -> r
    }.toMap
    resultRows = rows.collect { case (n, c: Long) => n -> c }
    Map("results_dir" -> dir, "result_rows" -> rows, "result_bytes" -> Main.bytesUnder(dir),
      "oracle_sql" -> queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
}
