package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation (guide §1) — SEPARATE from the frozen
  * driver contract in [[Bench]]:
  *   - `explain`: dump `.explain("formatted")` for every declared query to
  *     plans/<tag>/<name>_<suffix>.txt (the judge checks plan claims there);
  *   - `probe`: time isolated sub-stages of the expensive queries with the
  *     noop sink (guide §1.4) so the computation is measured, not the sink,
  *     each labeled via setJobDescription (guide §1.5).
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("probe")
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus)
    try {
      mode match {
        case "explain" => explainAll(spark, sfDir, suffix)
        case _ => probe(spark, sfDir)
      }
    } finally spark.stop()
  }

  private def explainAll(spark: SparkSession, sfDir: String, suffix: String): Unit = {
    val outDir = Paths.get("plans", "r07")
    Files.createDirectories(outDir)
    // warm shared materializations so query plans reflect steady state
    kg.KgQueries.sharedTriples(spark)
    kg.KgQueries.sharedTriples(spark, "original")
    kg.KgQueries.sharedClosure(spark)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
        println(s"[explain] $name ok (${plan.length} chars)")
      } catch {
        case e: Throwable => println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
  }

  /** Isolated sub-stage timings for the expensive queries (medians of 3). */
  private def probe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    def docs = Tables.t(spark, sfDir, "documents")
    def emb = Tables.t(spark, sfDir, "embeddings")
    def run(label: String)(f: => Unit): Unit = {
      sc.setJobDescription(label)
      val ts = (1 to 3).map(_ => time(f))
      sc.setJobDescription(null)
      println(f"[probe] $label%-40s median=${ts.sorted.apply(1)}%.3f s  (${ts.map(t => f"$t%.3f").mkString(", ")})")
    }

    // ---- minhash decomposition ----
    run("minhash: bands only") { noop(operators.Dedup.minhashBands(docs)) }
    run("minhash: full pairs") {
      noop(operators.Dedup.minhashPairs(docs, threshold = 0.5))
    }
    run("simhash: signature only") { noop(operators.Dedup.simhash(docs)) }
    run("simhash: full pairs") { noop(operators.Dedup.simhashPairs(docs)) }

    // ---- embedding dedup decomposition ----
    val embPlus = {
      val e = emb.select(col("vec_id"), col("embedding"))
      e.union(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    }
    run("embdedup: band keys only") {
      noop(operators.Dedup.embeddingBandKeys(embPlus, bands = 8, planesPerBand = 16))
    }
    run("embdedup: full pairs") {
      noop(operators.Dedup.embeddingPairs(embPlus, threshold = 0.9))
    }

    // ---- knn ----
    run("knn: bruteforce") {
      noop(operators.Similarity.bruteForceTopK(emb, nQueries = 64, k = 5))
    }
    run("knn: ivf") {
      noop(operators.Similarity.ivfTopK(emb, nQueries = 64, k = 5))
    }

    // ---- alias components ----
    run("alias: edges gen only") {
      noop(kg.KgQueries.aliasGraph(spark))
    }
    run("alias: components (no sort)") {
      noop(kg.AliasResolution.connectedComponents(kg.KgQueries.aliasGraph(spark)))
    }
    run("alias: components + orderBy") {
      noop(kg.AliasResolution.connectedComponents(kg.KgQueries.aliasGraph(spark)).orderBy("vertex"))
    }

    // ---- kg pipeline kernel at scale-digest size ----
    run("kernel: 24k docs triplesFromPages") {
      kg.KgPipeline.run(spark, 24000L, 42L).toDF().write
        .format("noop").mode("overwrite").save()
    }
  }
}
