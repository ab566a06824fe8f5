package graft

import graft.ops.{Skew, Staged}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The harness every entry point (Bench, Verify, Profile, Soak,
  * StreamSoak) runs on: one session builder, one warm-up, one query
  * selection rule and one staged per-query runner. */
object Driver {

  /** On-disk bytes under `path` (recursive) — the layout size
    * [[session]] is sized from. */
  def layoutBytes(path: String): Long =
    Skew.dirBytes(new org.apache.hadoop.conf.Configuration(), path)

  /** A `local[cpus]` session sized for `layoutBytes` of input, cpus
    * being `SPARK_GRAFT_CPUS`, else the machine's core count. Shuffle
    * partitions from [[Skew.suggestedShufflePartitions]] (the cpus floor
    * at every fixture scale, bytes/128MB at corpus scale;
    * `SPARK_GRAFT_SHUFFLE` overrides) and the scan parallelism
    * [[Skew.fanOutForCpu]] reads, both from the same byte count. AQE on,
    * UTC, no UI, WARN logging. The heap is the launching JVM's
    * (`SPARK_DRIVER_MEM` in build.sbt): in local mode the driver is
    * already running when this executes, so `spark.driver.memory` here
    * would be a silent no-op. */
  def session(layoutBytes: Long): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      Skew.suggestedShufflePartitions(layoutBytes, minParts = n).toString)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Skew.recordScanParallelism(spark, layoutBytes)
    spark
  }

  /** Touches every table once so JVM, codegen and IO start-up are not
    * charged to whichever query is timed first. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Seq("lineitem", "orders", "documents", "embeddings")
      .foreach(Tables.table(spark, sfDir, _).count())
    Tables.events(spark, sfDir).count()
  }

  /** Splits a comma-separated selection (`SPARK_GRAFT_ONLY`, Verify's
    * third argument) into tokens for [[select]]. */
  def tokens(csv: String): Seq[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The names `tokens` select from `names`, in token order: a token
    * selects the name equal to it, otherwise every name it prefixes. No
    * tokens selects every name. A token that selects nothing fails the
    * call — a typo must not silently run zero queries. */
  def select(names: Seq[String], tokens: Seq[String]): Seq[String] = {
    def picks(t: String): Seq[String] =
      if (names.contains(t)) Seq(t) else names.filter(_.startsWith(t))
    val unknown = tokens.filter(picks(_).isEmpty)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    if (tokens.isEmpty) names else tokens.flatMap(picks).distinct
  }

  /** Builds `query`'s frame and runs `action` on it inside one staging
    * scope, so whatever the query pinned is released when the action
    * returns or throws — caches must not accumulate across a session
    * that runs many queries. */
  def run[A](spark: SparkSession, sfDir: String,
             query: (SparkSession, String) => DataFrame)(action: DataFrame => A): A =
    Staged.withStaged(action(query(spark, sfDir)))
}
