package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.gen.CorpusGen
import graft.kg.{AliasResolution, DocKernel, GraphBuilder, KgApi, KgPipeline, StageStore}
import graft.kg.Model._
import graft.nlp.RuleNlp
import graft.operators.{Dedup, Similarity}
import graft.text.HtmlSegmenter

/** A correctness check; `error` is None when it passed. */
final case class Check(name: String, error: Option[String])

object Check {
  def equal(name: String, want: Any, got: Any): Check =
    Check(name, if (want == got) None else Some(s"expected $want, got $got"))
}

/** One completed timed operation: the documents it covered and the untimed
  * work that follows it (checks, and for ingest the timed resume). */
final case class OpOut(docs: Long, after: () => Seq[Check] = () => Nil)

/** A benchmark workload. `setup` builds the inputs from the seed and
  * materializes them; `op` is one timed operation. */
trait Workload {
  def name: String
  def setup(spark: SparkSession, tr: Tracer): Unit
  /** Least number of timed operations, however long they take. */
  def minOps: Int = 1
  /** Operations come in blocks of this many: a timed phase ends on a block
    * boundary, and a traced run traces alternate blocks. */
  def block: Int = 1
  /** Untimed operations that warm the JIT and Spark before the timed ones. */
  def warmUpOps: Int = 1
  def warmUp(tr: Tracer): Unit = (1 to warmUpOps).foreach(k => op(-k, tr).after())
  def opName(i: Int): String = name
  def op(i: Int, tr: Tracer): OpOut
  def finalChecks(): Seq[Check]
  /** Workload-specific end-to-end numbers for the printed table. */
  def summary(ops: Seq[(String, Double)]): Seq[(String, Double, String)] = Nil
  /** Per-layer numbers only this workload can produce, from its traced run. */
  def layerMetrics(tr: Tracer, untracedDocsPerS: Double): Map[String, Double] = Map.empty
}

object Workload {
  val names: Seq[String] = Seq("extract", "ingest", "corpus", "query")

  def apply(name: String, seed: Long, cores: Int, work: File): Workload = name match {
    case "extract" => new Extract(seed, cores, work)
    case "ingest" => new Ingest(seed, cores, work)
    case "corpus" => new Corpus(seed, cores)
    case "query" => new Query(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }
}

/** Single-threaded kernel steps on a sample of pages, each step bracketed by
  * wall time and ThreadMXBean allocated bytes. Steps are separate calls into
  * the public functions, so `annotate` includes `build_docs` and `process`
  * repeats the whole chain. */
object KernelSample {
  def measure(pages: Seq[Inputs.Page], tr: Tracer): Map[String, Double] = {
    val us = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val kib = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var segments = 0L
    var triples = 0L
    def step[T](key: String)(f: => T): T = tr.span(s"kernel.$key", "kernel") {
      val a0 = Jvm.allocatedBytes
      val t0 = System.nanoTime()
      val r = f
      us(key) += (System.nanoTime() - t0) / 1e3
      kib(key) += (Jvm.allocatedBytes - a0) / 1024.0
      r
    }
    val en = pages.filter(_.page.lang == "en")
    en.foreach { p =>
      tr.span("kernel.page", "kernel") {
        val url = p.page.url
        val html = new String(p.page.html, "UTF-8")
        val segs = step("segment")(HtmlSegmenter.segment(url, html))
        segments += segs.size
        step("parse") {
          segs.foreach(s => if (s.text.nonEmpty) {
            val (toks, ws) = RuleNlp.tokenize(s.text)
            RuleNlp.parse(toks, ws)
          })
        }
        step("build_docs")(DocKernel.buildDocs(segs.sortBy(_.segId)))
        val st = step("annotate")(DocKernel.annotate(url, segs))
        step("graph_build")(GraphBuilder.build(st, "extended"))
        val out = step("process")(DocKernel.process(url, segs))
        triples += out.size
      }
    }
    // long pages alone, timed again so their cost is not averaged away
    val long = en.filter(_.long)
    val longUs = long.map { p =>
      val segs = HtmlSegmenter.segment(p.page.url, new String(p.page.html, "UTF-8"))
      val t0 = System.nanoTime()
      DocKernel.process(p.page.url, segs)
      (System.nanoTime() - t0) / 1e3
    }
    val n = math.max(pages.size, 1).toDouble
    Map(
      "text.segment.us_per_doc" -> us("segment") / n,
      "text.segment.kib_per_doc" -> kib("segment") / n,
      "text.segments_per_doc" -> segments / n,
      "nlp.parse.us_per_doc" -> us("parse") / n,
      "nlp.parse.kib_per_doc" -> kib("parse") / n,
      "kernel.build_docs.us_per_doc" -> us("build_docs") / n,
      "kernel.annotate.us_per_doc" -> us("annotate") / n,
      "kernel.graph_build.us_per_doc" -> us("graph_build") / n,
      "kernel.process.us_per_doc" -> us("process") / n,
      "kernel.process.kib_per_doc" -> kib("process") / n,
      "kernel.process.us_per_doc.long" -> (if (longUs.isEmpty) 0.0 else Stats.median(longUs)),
      "kernel.triples_per_doc" -> triples / n,
      // single-thread docs/s of the extraction path: segment + process
      "kernel.single_thread_docs_per_s" -> n / ((us("segment") + us("process")) / 1e6)
    )
  }
}

// ---------------------------------------------------------------- extract

/** Pages → `KgPipeline.triplesFromPages` → a sink that keeps nothing. */
final class Extract(seed: Long, cores: Int, work: File) extends Workload {
  val name = "extract"
  val NPages = 1000
  override val warmUpOps = 2
  private var probeChecks: Seq[Check] = Nil
  private var spark: SparkSession = _
  private var pages: Vector[Inputs.Page] = Vector.empty
  private var ds: Dataset[WebPage] = _

  def setup(s: SparkSession, tr: Tracer): Unit = {
    spark = s
    import s.implicits._
    pages = Inputs.pages(NPages, seed)
    // contiguous slices: long pages (every 10th slot) spread evenly
    ds = Workload.persist(s.createDataset(s.sparkContext.parallelize(pages.map(_.page), cores * 2)))
  }

  def op(i: Int, tr: Tracer): OpOut = {
    tr.call("extract.triples_from_pages", "pipeline") { _ =>
      KgPipeline.triplesFromPages(ds).write.format("noop").mode("overwrite").save()
    }
    OpOut(NPages)
  }

  def finalChecks(): Seq[Check] = {
    val got = KgPipeline.triplesFromPages(ds).collect().toVector.groupBy(_.url)
    val want = Reference.triplesOf(pages.map(_.page), cores)
    val perPage = Reference.diffTriples(want.values.flatten.toVector, got.values.flatten.toVector)
    val truthMiss = pages.zipWithIndex.collect {
      case (p, j) if p.generated && p.page.lang == "en" =>
        val truth = CorpusGen.genPage(j, seed).truth.map(t => (t.subj, t.pred, t.obj)).toSet
        val kernel = got.getOrElse(p.page.url, Vector.empty).map(t => (t.subj, t.pred, t.obj)).toSet
        if (truth == kernel) None else Some(p.page.url)
    }.flatten
    probeChecks ++ Seq(
      Check("extract.triples_equal_single_thread_kernel", perPage),
      Check("extract.triples_equal_generator_truth",
        if (truthMiss.isEmpty) None
        else Some(s"${truthMiss.size} pages differ from CorpusGen truth, e.g. ${truthMiss.head}")))
  }

  /** Kernel steps on a sample of these pages, and the checkpointed write
    * path (the ingest workload's operation) measured once, so that a traced
    * extract run covers the KgPipeline + StageStore layer too. */
  override def layerMetrics(tr: Tracer, untracedDocsPerS: Double): Map[String, Double] = {
    val k = KernelSample.measure(pages.take(200), tr)
    val (pipeline, checks) = new Ingest(seed, cores, work).probe(spark, tr)
    probeChecks = checks
    k ++ pipeline + ("extract.parallel_eff" ->
      untracedDocsPerS / (cores * k("kernel.single_thread_docs_per_s")))
  }
}

// ----------------------------------------------------------------- ingest

/** `KgPipeline.runCheckpointed` into a fresh stage directory, then the
  * finished run reopened (resume). */
final class Ingest(seed: Long, cores: Int, work: File) extends Workload {
  val name = "ingest"
  val NDocs = 500
  private var spark: SparkSession = _
  private val resumeS = mutable.ArrayBuffer.empty[Double]
  private val stageWallMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var last: Option[(File, Dataset[Triple], Dataset[Triple])] = None

  private def dir(i: Int) = new File(work, s"ingest-$i")

  def setup(s: SparkSession, tr: Tracer): Unit = {
    spark = s
    last.foreach(l => delete(l._1))
    last = None
    resumeS.clear()
    stageWallMs.clear()
  }

  private def run(i: Int): Dataset[Triple] =
    KgPipeline.runCheckpointed(spark, NDocs, dir(i).getPath, s"run$i", seed)

  def op(i: Int, tr: Tracer): OpOut = {
    delete(dir(i))
    val tri = tr.call("ingest.run_checkpointed", "pipeline")(_ => run(i))
    OpOut(NDocs, after = () => {
      val t0 = System.nanoTime()
      val (resumed, n) = tr.call("ingest.resume", "pipeline") { _ =>
        val r = run(i)
        (r, r.count())
      }
      if (i >= 0) resumeS += (System.nanoTime() - t0) / 1e9
      if (tr.enabled && i >= 0)
        new StageStore(spark, dir(i).getPath, s"run$i").lineage()
          .select("stage", "wallMs").distinct().collect()
          .foreach(r => stageWallMs.getOrElseUpdate(r.getString(0), mutable.ArrayBuffer.empty) +=
            r.getLong(1).toDouble)
      last.foreach(l => delete(l._1))
      last = Some((dir(i), tri, resumed))
      Seq(Check.equal("ingest.resume_row_count", tri.count(), n))
    })
  }

  def finalChecks(): Seq[Check] = {
    val (_, tri, resumed) = last.get
    val pages = (0 until NDocs).map(i => CorpusGen.genPage(i, seed).page)
    val want = Reference.triplesOf(Reference.dedupPages(pages), cores).values.flatten.toVector
    Seq(
      Check("ingest.triples_stage_equals_extract_of_deduped_pages",
        Reference.diffTriples(want, tri.collect().toVector)),
      Check("ingest.resume_returns_same_rows",
        Reference.diffTriples(want, resumed.collect().toVector)))
  }

  override def summary(ops: Seq[(String, Double)]): Seq[(String, Double, String)] =
    if (resumeS.isEmpty) Nil else Seq(("resume_s", Stats.median(resumeS.toSeq), "s"))

  override def layerMetrics(tr: Tracer, untracedDocsPerS: Double): Map[String, Double] = {
    val sample = (0 until 200).map(i =>
      Inputs.Page(CorpusGen.genPage(i, seed).page, generated = true, long = false))
    KernelSample.measure(sample, tr) ++ pipelineMetrics(tr, "timed")
  }

  /** KgPipeline + StageStore metrics of the checkpointed runs traced inside
    * the span named `within`, per run. */
  private def pipelineMetrics(tr: Tracer, within: String): Map[String, Double] = {
    val stages = Seq("segments", "triples_raw", "triples", "closure").map { st =>
      s"pipeline.stage.$st.wall_ms" ->
        stageWallMs.get(st).filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
    }
    val calls = tr.calls("pipeline", within)
    val runs = math.max(calls.count(_.name == "ingest.run_checkpointed"), 1)
    def perRun(key: String) = calls.map(_.counters.getOrElse(key, 0.0)).sum / runs
    val counters = Seq("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes",
      "executor_run_ms", "executor_cpu_ms").map(k => s"pipeline.$k" -> perRun(k))
    val resumes = calls.filter(_.name == "ingest.resume").map(_.durUs / 1e3)
    val kept = KgPipeline.dedupPages(KgPipeline.pages(spark, NDocs, seed)).count()
    (stages ++ counters).toMap ++ Map(
      "pipeline.dedup_pages.dropped" -> (NDocs - kept).toDouble,
      "pipeline.resume.wall_ms" -> (if (resumes.isEmpty) 0.0 else Stats.median(resumes)))
  }

  /** One warm-up run, then one traced run and its resume, inside another
    * workload's session: the pipeline metrics and every check of this
    * workload. */
  def probe(s: SparkSession, tr: Tracer): (Map[String, Double], Seq[Check]) = {
    setup(s, tr)
    warmUp(tr)
    val checks = tr.span("ingest.probe")(op(0, tr).after())
    (pipelineMetrics(tr, "ingest.probe"), checks ++ finalChecks())
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

// ----------------------------------------------------------------- corpus

/** Corpus-wide passes: alias connected components, three dedup operators
  * and two top-k searches over cached, seed-generated inputs. */
final class Corpus(seed: Long, cores: Int) extends Workload {
  val name = "corpus"
  // a pass takes most of a run's seconds; three give its median
  override val minOps = 3
  val NDocs = 700
  val NEmb = 1000
  val NQueries = 8
  val K = 5
  private var spark: SparkSession = _
  private var edges: Vector[(String, String)] = Vector.empty
  private var docs: Vector[(Long, String)] = Vector.empty
  private var emb: Vector[(Long, Array[Float])] = Vector.empty
  private var edgesDf: DataFrame = _
  private var docsDf: DataFrame = _
  private var embDf: DataFrame = _
  private var labels: DataFrame = _
  private var results: Map[String, Array[org.apache.spark.sql.Row]] = Map.empty

  def setup(s: SparkSession, tr: Tracer): Unit = {
    spark = s
    import s.implicits._
    edges = Inputs.aliasEdges(seed)
    docs = Inputs.dedupDocs(NDocs, seed)
    emb = Inputs.embeddings(NEmb, seed)
    val sc = s.sparkContext
    edgesDf = Workload.persist(sc.parallelize(edges, cores).toDF("src", "dst"))
    docsDf = Workload.persist(sc.parallelize(docs, cores).toDF("doc_id", "text"))
    embDf = Workload.persist(sc.parallelize(emb, cores).toDF("vec_id", "embedding"))
    labels = null
  }

  def op(i: Int, tr: Tracer): OpOut = {
    tr.span("corpus.pass") {
      if (labels != null) labels.unpersist()
      labels = tr.call("corpus.alias_cc", "alias") { c =>
        val (l, rounds, sizes) = AliasResolution.connectedComponentsDiag(edgesDf)
        c("rounds") = rounds.toDouble
        c("active_vertices") = sizes.headOption.getOrElse(0L).toDouble
        l
      }
      def run(call: String)(df: => DataFrame): (String, Array[org.apache.spark.sql.Row]) =
        call -> tr.call(s"corpus.$call", "ops")(_ => df.collect())
      results = Map(
        run("minhash")(Dedup.minhashPairs(docsDf)),
        run("simhash")(Dedup.simhashPairs(docsDf)),
        run("embedding_dedup")(Dedup.embeddingPairs(embDf)),
        run("knn_bruteforce")(Similarity.bruteForceTopK(embDf, NQueries, K)),
        run("knn_ivf")(Similarity.ivfTopK(embDf, NQueries, K)))
    }
    OpOut(NDocs)
  }

  private def topK(rows: Array[org.apache.spark.sql.Row]): Map[Long, Vector[Long]] =
    rows.toVector.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._2).map(_._3) }

  def finalChecks(): Seq[Check] = {
    val want = Reference.components(edges)
    val got = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val ccBad = want.count { case (v, c) => !got.get(v).contains(c) } + (got.size - want.size).abs
    val text = docs.toMap
    val vec = emb.toMap
    def pairCheck(call: String)(ok: org.apache.spark.sql.Row => Boolean): Check = {
      val bad = results(call).filterNot(r => r.getLong(0) < r.getLong(1) && ok(r))
      Check(s"corpus.$call.pairs_pass_threshold_on_recompute",
        if (bad.isEmpty) None else Some(s"${bad.length} of ${results(call).length} pairs fail, e.g. ${bad.head}"))
    }
    val sig = mutable.Map.empty[Long, Long]
    def simhash(id: Long) = sig.getOrElseUpdate(id, Reference.simhash(text(id)))
    Seq(
      Check("corpus.alias_components_equal_union_find",
        if (ccBad == 0) None else Some(s"$ccBad of ${want.size} vertices mislabelled")),
      pairCheck("minhash") { r =>
        val j = Reference.jaccard(text(r.getLong(0)), text(r.getLong(1)))
        j >= 0.8 && j == r.getDouble(2)
      },
      pairCheck("simhash") { r =>
        val h = java.lang.Long.bitCount(simhash(r.getLong(0)) ^ simhash(r.getLong(1)))
        h <= 3 && h == r.getInt(2)
      },
      pairCheck("embedding_dedup") { r =>
        val c = Reference.cosine4(vec(r.getLong(0)), vec(r.getLong(1)))
        c >= 0.95 && c == r.getDouble(2)
      },
      Check.equal("corpus.knn_bruteforce_equals_exact_topk",
        Reference.topK(emb, NQueries, K), topK(results("knn_bruteforce"))))
  }

  override def summary(ops: Seq[(String, Double)]): Seq[(String, Double, String)] =
    Seq(("wall_s", Stats.median(ops.map(_._2)) / 1e3, "s"))

  override def layerMetrics(tr: Tracer, untracedDocsPerS: Double): Map[String, Double] = {
    val candidates = tr.call("corpus.minhash_candidates", "ops.extra") { _ =>
      Dedup.minhashPairs(docsDf, threshold = 0.0).count()
    }.toDouble
    val pairs = results("minhash").length.toDouble
    val exact = topK(results("knn_bruteforce"))
    val ivf = topK(results("knn_ivf"))
    val recall = exact.map { case (q, ns) => ivf.getOrElse(q, Vector.empty).count(ns.contains).toDouble / ns.size }
    Map(
      "ops.minhash.candidates" -> candidates,
      "ops.minhash.pairs" -> pairs,
      "ops.minhash.pairs_per_candidate" -> (if (candidates > 0) pairs / candidates else 0.0),
      "ops.knn_ivf.recall_at_k" -> recall.sum / math.max(recall.size, 1))
  }
}

// ------------------------------------------------------------------ query

/** A closed loop with one client over a materialized graph: each `KgApi`
  * call is collected before the next is sent. */
final class Query(seed: Long) extends Workload {
  val name = "query"
  // whole blocks: every run issues each call type equally often, and a
  // traced run traces every call type
  override val block = 8
  val NDocs = 150
  val Calls = Vector("who_collect", "ext_who_collect", "validate_collection",
    "validate_sharing", "edge_purposes", "edge_texts", "party_tuples", "contradictions")
  private var triples: Dataset[Triple] = _
  private var closure: DataFrame = _
  private var reference: Vector[Reference.Doc] = Vector.empty
  private var datatypes: Vector[String] = Vector.empty
  private var actors: Vector[String] = Vector.empty

  def setup(s: SparkSession, tr: Tracer): Unit = {
    import s.implicits._
    val pages = (0 until NDocs).map(j => CorpusGen.genPage(j, seed).page)
    triples = Workload.persist(KgPipeline.triplesFromPages(s.createDataset(pages)))
    closure = Workload.persist(KgApi.closureRows(triples))
    reference = Vector.empty
  }

  /** Draws datatypes and parties from the materialized graph, then issues
    * every call type twice. */
  override def warmUp(tr: Tracer): Unit = {
    val nodes = triples.collect().toVector.flatMap(t => Seq(t.subj -> t.subjType, t.obj -> t.objType))
    datatypes = nodes.collect { case (n, "DATA") => n }.distinct.sorted
    actors = nodes.collect { case (n, "ACTOR") => n }.distinct.sorted
    (0 until 2 * Calls.size).foreach(k => call(k % Calls.size, -1 - k))
  }

  /** The call type of op i: each block of eight ops issues every call type
    * once, in a seed-drawn order, so the mix is the same in every run. */
  override def opName(i: Int): String = {
    val rng = new Inputs.Rng(seed * 31 + Math.floorDiv(i, block))
    val order = Calls.indices.toArray
    (order.length - 1 to 1 by -1).foreach { k =>
      val j = rng.nextInt(k + 1)
      val t = order(k); order(k) = order(j); order(j) = t
    }
    Calls(order(Math.floorMod(i, Calls.size)))
  }

  private def draw(i: Int) = new Inputs.Rng(seed * 131 + i)

  /** Issues call type `c` with arguments drawn for op i; returns the rows
    * and the reference answer. */
  private def call(c: Int, i: Int): (Seq[Seq[String]], () => Seq[Seq[String]]) = {
    val rng = draw(i)
    def dt() = datatypes(rng.nextInt(datatypes.size))
    def actor() = actors(rng.nextInt(actors.size))
    val (df, want): (DataFrame, () => Seq[Seq[String]]) = Calls(c) match {
      case "who_collect" =>
        val d = dt()
        (KgApi.whoCollectFromClosure(closure, d), () => Reference.whoCollect(reference, d))
      case "ext_who_collect" =>
        val (d, u) = (dt(), rng.nextInt(2) == 1)
        (KgApi.extWhoCollect(triples, d, u), () => Reference.extWhoCollect(reference, d, u))
      case "validate_collection" =>
        val ds = Seq.fill(3)(dt())
        (KgApi.validateCollectionFromClosure(closure, ds), () => Reference.validateCollection(reference, ds))
      case "validate_sharing" =>
        val ps = Seq.fill(3)((actor(), dt()))
        (KgApi.validateSharingFromClosure(closure, ps), () => Reference.validateSharing(reference, ps))
      case "edge_purposes" => (KgApi.edgePurposes(triples), () => Reference.edgePurposes(reference))
      case "edge_texts" => (KgApi.edgeTexts(triples), () => Reference.edgeTexts(reference))
      case "party_tuples" => (KgApi.partyTuples(triples), () => Reference.partyTuples(reference))
      case "contradictions" => (KgApi.contradictions(triples), () => Reference.contradictions(reference))
    }
    (df.collect().toSeq.map(_.toSeq.map(String.valueOf)), want)
  }

  def op(i: Int, tr: Tracer): OpOut = {
    val c = Calls.indexOf(opName(i))
    val (rows, want) = tr.call(s"query.${Calls(c)}", "query") { m =>
      val r = call(c, i)
      m("rows_out") = r._1.size.toDouble
      r
    }
    OpOut(NDocs, after = () => {
      if (reference.isEmpty)
        reference = triples.collect().toVector.groupBy(_.url).toVector.sortBy(_._1)
          .map { case (u, ts) => new Reference.Doc(u, ts) }
      val order = Ordering.Implicits.seqOrdering[Seq, String]
      val expected = want().sorted(order)
      val got = rows.sorted(order)
      Seq(Check(s"query.${Calls(c)}_equals_policy_graph",
        if (expected == got) None
        else Some(s"${expected.size} rows expected, ${got.size} got; " +
          s"first expected-only ${expected.diff(got).headOption}, first unexpected ${got.diff(expected).headOption}")))
    })
  }

  def finalChecks(): Seq[Check] = Nil

  override def layerMetrics(tr: Tracer, untracedDocsPerS: Double): Map[String, Double] =
    Calls.map { c =>
      val ds = tr.spans.filter(_.name == s"query.$c").map(_.durUs / 1e3).toSeq
      s"query.$c.p50_ms" -> (if (ds.isEmpty) 0.0 else Stats.median(ds))
    }.toMap
}
