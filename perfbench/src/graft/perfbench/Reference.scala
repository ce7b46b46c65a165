package graft.perfbench

import scala.collection.mutable

import graft.kg.{DocKernel, KgApi}
import graft.kg.Model._
import graft.text.HtmlSegmenter

/** Expected outputs computed on the driver without Spark. */
object Reference {

  /** The kernel on one page, single-threaded, as the extraction path runs
    * it (English pages only). */
  def pageTriples(p: WebPage): Vector[Triple] =
    if (p.lang != "en") Vector.empty
    else DocKernel.process(p.url, HtmlSegmenter.segment(p.url, new String(p.html, "UTF-8")))

  /** `pageTriples` over many pages on a small thread pool; each call is
    * still single-threaded. */
  def triplesOf(pages: Seq[WebPage], threads: Int): Map[String, Vector[Triple]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = pages.map(p => pool.submit(() => p.url -> pageTriples(p)))
      futures.map(_.get()).toMap
    } finally pool.shutdown()
  }

  /** Multiset difference summary of two triple collections, or None when
    * they are equal. */
  def diffTriples(want: Seq[Triple], got: Seq[Triple]): Option[String] = {
    def counts(ts: Seq[Triple]) = ts.groupMapReduce(identity)(_ => 1)(_ + _)
    val (w, g) = (counts(want), counts(got))
    if (w == g) None
    else {
      val missing = w.filter { case (t, n) => g.getOrElse(t, 0) < n }.keys
      val extra = g.filter { case (t, n) => w.getOrElse(t, 0) < n }.keys
      Some(s"${want.size} expected, ${got.size} got; ${missing.size} missing " +
        s"(e.g. ${missing.headOption.getOrElse("-")}), ${extra.size} unexpected " +
        s"(e.g. ${extra.headOption.getOrElse("-")})")
    }
  }

  /** `KgPipeline.dedupPages` semantics: one page per distinct html, the
    * lexicographically first url. */
  def dedupPages(pages: Seq[WebPage]): Vector[WebPage] =
    pages.groupBy(_.html.toSeq).values.map(_.minBy(_.url)).toVector.sortBy(_.url)

  // ------------------------------------------------------------- alias CC

  /** Union-find with union by minimum: every vertex maps to the smallest
    * vertex of its component. */
  def components(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.iterator.flatMap { case (a, b) => Iterator(a, b) }.map(v => v -> find(v)).toMap
  }

  // ---------------------------------------------------- dedup and similarity

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Word-3-shingle set: words split on single spaces, shingle i covers
    * words [i, i+3); a text of fewer than 3 words is one shingle. */
  def shingles(text: String): Set[String] = {
    val w = text.split(" ", -1)
    (0 to math.max(w.length - 3, 0)).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    round4((sa & sb).size.toDouble / (sa | sb).size)
  }

  /** 60-bit SimHash: each non-empty word votes with the first 15 hex digits
    * of its MD5; bit i is set when its vote is positive. */
  def simhash(text: String): Long = {
    val votes = new Array[Int](60)
    text.split(" ", -1).filter(_.nonEmpty).foreach { w =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      val hex = md.map(b => f"${b & 0xff}%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      (0 until 60).foreach(i => votes(i) += (if (((h >> i) & 1L) == 1L) 1 else -1))
    }
    (0 until 60).foldLeft(0L)((s, i) => if (votes(i) > 0) s | (1L << i) else s)
  }

  /** Cosine with products and sums in double, summed in element order. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]) =
      x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  def cosine4(a: Array[Float], b: Array[Float]): Double = round4(cosine(a, b))

  /** Exact top-k neighbours of each query vector (ids below `nQueries`),
    * by cosine descending then id, excluding the query itself. */
  def topK(emb: Seq[(Long, Array[Float])], nQueries: Int, k: Int): Map[Long, Vector[Long]] =
    emb.filter(_._1 < nQueries).map { case (q, qe) =>
      q -> emb.iterator.filter(_._1 != q)
        .map { case (v, e) => (-cosine(qe, e), v) }
        .toVector.sorted.take(k).map(_._2)
    }.toMap

  // ---------------------------------------------------------------- queries

  /** One policy's in-memory graph, the per-document reference for every
    * query-layer call. */
  final class Doc(val url: String, val triples: Vector[Triple]) {
    val g = new KgApi.PolicyGraph(triples)
    private val collectors = mutable.Map.empty[String, Vector[String]]
    def whoCollect(dt: String): Vector[String] = collectors.getOrElseUpdate(dt, g.whoCollect(dt))
  }

  type Row = Seq[String]

  def whoCollect(docs: Seq[Doc], dt: String): Seq[Row] =
    for (d <- docs; a <- d.whoCollect(dt)) yield Seq(d.url, a)

  def extWhoCollect(docs: Seq[Doc], dt: String, umbrella: Boolean): Seq[Row] =
    for (d <- docs; a <- new KgApi.ExtPolicyGraph(d.triples, Set(dt), umbrella).whoCollect(dt))
      yield Seq(d.url, a)

  def validateCollection(docs: Seq[Doc], dts: Seq[String]): Seq[Row] =
    for (d <- docs; dt <- dts.distinct if d.whoCollect(dt).nonEmpty) yield Seq(d.url, dt)

  def validateSharing(docs: Seq[Doc], pairs: Seq[(String, String)]): Seq[Row] =
    for (d <- docs; (e, dt) <- pairs.distinct if d.whoCollect(dt).contains(e))
      yield Seq(d.url, e, dt)

  private def connected(d: Doc): Seq[(String, String)] =
    for (dt <- d.g.dataNodes.sorted; a <- d.whoCollect(dt)) yield (a, dt)

  def edgePurposes(docs: Seq[Doc]): Seq[Row] =
    for (d <- docs; (a, dt) <- connected(d); p <- d.g.purposes(a, dt)) yield Seq(d.url, a, dt, p)

  def edgeTexts(docs: Seq[Doc]): Seq[Row] =
    for (d <- docs; (a, dt) <- connected(d))
      yield Seq(d.url, a, dt, d.g.getText(a, dt).mkString(" || "))

  def partyTuples(docs: Seq[Doc]): Seq[Row] = docs.flatMap { d =>
    val fp = d.g.firstParty
    connected(d).collect { case (a, dt) if a != "you" && a != "user" =>
      Seq(d.url, if (fp(a)) "we" else "3rd-party", dt)
    }.distinct
  }

  def contradictions(docs: Seq[Doc]): Seq[Row] = docs.flatMap { d =>
    val g = d.g
    def conflict(p: String, n: String): Boolean =
      p == n || (!g.subsum(p, n) &&
        ((g.descendants(n) + n) & (g.descendants(p) + p)).nonEmpty)
    for {
      n <- d.triples if n.pred.startsWith("NOT_")
      p <- d.triples if PositiveEdgeTypes(p.pred) && p.pred == n.pred.stripPrefix("NOT_")
      if n.purposes.isEmpty || (n.purposes.keySet & p.purposes.keySet).nonEmpty
      if conflict(p.obj, n.obj) && conflict(p.subj, n.subj)
    } yield Seq(d.url, p.subj, p.pred, p.obj, n.subj, n.pred, n.obj)
  }
}
