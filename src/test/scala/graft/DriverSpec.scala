package graft

/** The entry points' shared harness: the query selection rule every
  * main applies to its tokens, and the staged runner under the
  * driver-contract dump (Verify). */
class DriverSpec extends SparkSpec {

  private val names = Seq("q09_dim_join_agg", "q62_corpus_pipeline",
    "q62_corpus_pipeline_x", "q69_corpus_pipeline_approx", "q6_tiny")

  test("select: an exact name selects only itself, even when it prefixes others") {
    assert(Driver.select(names, Seq("q62_corpus_pipeline")) === Seq("q62_corpus_pipeline"))
    assert(Driver.select(names, Seq("q09_dim_join_agg")) === Seq("q09_dim_join_agg"))
  }

  test("select: a non-name token selects every name it prefixes, in token order, once") {
    assert(Driver.select(names, Seq("q6")) === Seq("q62_corpus_pipeline",
      "q62_corpus_pipeline_x", "q69_corpus_pipeline_approx", "q6_tiny"))
    assert(Driver.select(names, Seq("q69", "q0")) ===
      Seq("q69_corpus_pipeline_approx", "q09_dim_join_agg"))
    assert(Driver.select(names, Seq("q62", "q62_corpus_pipeline")) ===
      Seq("q62_corpus_pipeline", "q62_corpus_pipeline_x"))
    assert(Driver.select(names, Nil) === names)
    assert(Driver.tokens(" q09 , ,q62,") === Seq("q09", "q62"))
    assert(Driver.tokens("") === Nil)
  }

  test("select: a token that selects nothing fails, naming only the bad tokens") {
    val e = intercept[IllegalArgumentException] {
      Driver.select(names, Seq("q09", "q9_typo", "zz"))
    }
    assert(e.getMessage.contains("q9_typo, zz"), e.getMessage)
    assert(!e.getMessage.contains("q09,"), e.getMessage)
    intercept[IllegalArgumentException] {
      Driver.select(SparkEntry.queries.keys.toSeq, Driver.tokens("q09_dim_join_agg,q62_corpus_pipline"))
    }
  }

  test("Verify rejects an unknown selection before any session or output work") {
    val out = java.nio.file.Files.createTempDirectory("graft-driver-typo")
      .resolve("out").toFile
    intercept[IllegalArgumentException] {
      Verify.main(Array("/root/testdata/sf0.001", out.toString, "q09_dim_join_agg,q9_typo"))
    }
    assert(!out.exists(), "no output directory for a rejected selection")
    assert(!spark.sparkContext.isStopped, "the shared session was never touched")
  }

  test("Verify.dump over the staged runner: parquet rows per query, nothing left persisted") {
    val sf = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-driver-dump").toString
    val picked = Driver.select(SparkEntry.queries.keys.toSeq,
      Seq("q09_dim_join_agg", "q62_corpus_pipeline"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Verify.dump(spark, sf, out, picked)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "an RDD the queries pinned outlived the runner")
    picked.foreach { name =>
      assert(spark.read.parquet(s"$out/$name").count() > 0, name)
    }
    assert(new java.io.File(s"$out/oracle_sql.json").isFile)
  }
}
