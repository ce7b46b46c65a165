package graft.perfbench

/** Per-layer metrics of a traced run. Every workload reports every name; a
  * layer that a workload leaves idle reads 0 there, which is the prediction
  * the workload exists to check. */
object Layers {

  /** (name, unit) of every per-layer metric. */
  val Names: Seq[(String, String)] = Seq(
    "text.segment.us_per_doc" -> "us", "text.segment.kib_per_doc" -> "KiB",
    "text.segments_per_doc" -> "count",
    "nlp.parse.us_per_doc" -> "us", "nlp.parse.kib_per_doc" -> "KiB",
    "kernel.build_docs.us_per_doc" -> "us", "kernel.annotate.us_per_doc" -> "us",
    "kernel.graph_build.us_per_doc" -> "us", "kernel.process.us_per_doc" -> "us",
    "kernel.process.kib_per_doc" -> "KiB", "kernel.process.us_per_doc.long" -> "us",
    "kernel.triples_per_doc" -> "count", "extract.parallel_eff" -> "ratio",
    "pipeline.stage.segments.wall_ms" -> "ms", "pipeline.stage.triples_raw.wall_ms" -> "ms",
    "pipeline.stage.triples.wall_ms" -> "ms", "pipeline.stage.closure.wall_ms" -> "ms",
    "pipeline.shuffle_write_bytes" -> "bytes", "pipeline.shuffle_read_bytes" -> "bytes",
    "pipeline.spill_bytes" -> "bytes", "pipeline.output_bytes" -> "bytes",
    "pipeline.executor_run_ms" -> "ms", "pipeline.executor_cpu_ms" -> "ms",
    "pipeline.dedup_pages.dropped" -> "count", "pipeline.resume.wall_ms" -> "ms",
    "alias.wall_ms" -> "ms", "alias.rounds" -> "count", "alias.active_vertices" -> "count",
    "alias.jobs" -> "count", "alias.shuffle_bytes" -> "bytes", "alias.executor_run_ms" -> "ms",
    "alias.codegen_compiles" -> "count",
    "ops.minhash.wall_ms" -> "ms", "ops.simhash.wall_ms" -> "ms",
    "ops.embedding_dedup.wall_ms" -> "ms", "ops.knn_bruteforce.wall_ms" -> "ms",
    "ops.knn_ivf.wall_ms" -> "ms", "ops.minhash.candidates" -> "count",
    "ops.minhash.pairs" -> "count", "ops.minhash.pairs_per_candidate" -> "ratio",
    "ops.knn_ivf.recall_at_k" -> "ratio", "ops.shuffle_bytes" -> "bytes",
    "query.who_collect.p50_ms" -> "ms", "query.ext_who_collect.p50_ms" -> "ms",
    "query.validate_collection.p50_ms" -> "ms", "query.validate_sharing.p50_ms" -> "ms",
    "query.edge_purposes.p50_ms" -> "ms", "query.edge_texts.p50_ms" -> "ms",
    "query.party_tuples.p50_ms" -> "ms", "query.contradictions.p50_ms" -> "ms",
    "query.rows_out" -> "count", "query.executor_run_ms" -> "ms",
    "driver.codegen.compiles" -> "count", "driver.codegen.compile_ms" -> "ms",
    "driver.planning_ms" -> "ms", "driver.jobs_per_op" -> "count", "driver.tasks_per_op" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%")

  def metrics(tr: Tracer, phase: Main.Phase, extra: Map[String, Double], gcMsPerOp: Double,
      heapMb: Double): Map[String, (Double, String)] = {
    val ops = math.max(phase.tracedLat.size, 1).toDouble
    def calls(layer: String) = tr.calls(layer, "timed")
    def perOp(layer: String, key: String) = calls(layer).map(_.counters.getOrElse(key, 0.0)).sum / ops
    def perCall(layer: String, key: String) = {
      val cs = calls(layer)
      if (cs.isEmpty) 0.0 else cs.map(_.counters.getOrElse(key, 0.0)).sum / cs.size
    }
    def medianMs(name: String) = {
      val ds = tr.calls("ops", "timed").filter(_.name == name).map(_.durUs / 1e3)
      if (ds.isEmpty) 0.0 else Stats.median(ds)
    }
    val all = Seq("pipeline", "alias", "ops", "query").flatMap(calls)
    def allPerOp(key: String) = all.map(_.counters.getOrElse(key, 0.0)).sum / ops
    val alias = calls("alias")
    val derived = Map(
      "pipeline.shuffle_write_bytes" -> perOp("pipeline", "shuffle_write_bytes"),
      "pipeline.shuffle_read_bytes" -> perOp("pipeline", "shuffle_read_bytes"),
      "pipeline.spill_bytes" -> perOp("pipeline", "spill_bytes"),
      "pipeline.output_bytes" -> perOp("pipeline", "output_bytes"),
      "pipeline.executor_run_ms" -> perOp("pipeline", "executor_run_ms"),
      "pipeline.executor_cpu_ms" -> perOp("pipeline", "executor_cpu_ms"),
      "alias.wall_ms" -> (if (alias.isEmpty) 0.0 else Stats.median(alias.map(_.durUs / 1e3))),
      "alias.rounds" -> perCall("alias", "rounds"),
      "alias.active_vertices" -> perCall("alias", "active_vertices"),
      "alias.jobs" -> perCall("alias", "jobs"),
      "alias.shuffle_bytes" -> perCall("alias", "shuffle_write_bytes"),
      "alias.executor_run_ms" -> perCall("alias", "executor_run_ms"),
      "alias.codegen_compiles" -> perCall("alias", "codegen_compiles"),
      "ops.minhash.wall_ms" -> medianMs("corpus.minhash"),
      "ops.simhash.wall_ms" -> medianMs("corpus.simhash"),
      "ops.embedding_dedup.wall_ms" -> medianMs("corpus.embedding_dedup"),
      "ops.knn_bruteforce.wall_ms" -> medianMs("corpus.knn_bruteforce"),
      "ops.knn_ivf.wall_ms" -> medianMs("corpus.knn_ivf"),
      "ops.shuffle_bytes" -> perOp("ops", "shuffle_write_bytes"),
      "query.rows_out" -> perCall("query", "rows_out"),
      "query.executor_run_ms" -> perCall("query", "executor_run_ms"),
      "driver.codegen.compiles" -> allPerOp("codegen_compiles"),
      "driver.codegen.compile_ms" -> allPerOp("codegen_compile_ms"),
      "driver.planning_ms" -> allPerOp("planning_ms"),
      "driver.jobs_per_op" -> allPerOp("jobs"),
      "driver.tasks_per_op" -> allPerOp("tasks"),
      "jvm.gc_ms" -> gcMsPerOp,
      "jvm.heap_peak_mb" -> heapMb,
      "trace.overhead_pct" ->
        (if (phase.typeP50 > 0) (phase.tracedTypeP50 / phase.typeP50 - 1) * 100 else 0.0))
    Names.map { case (n, unit) => n -> (extra.getOrElse(n, derived.getOrElse(n, 0.0)), unit) }.toMap
  }
}
