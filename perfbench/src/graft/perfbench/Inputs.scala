package graft.perfbench

import java.sql.Timestamp

import graft.gen.CorpusGen
import graft.kg.Model.WebPage

/** Seed-determined workload inputs. Every generator is a pure function of
  * its seed and sizes; the layout of an input (which slots hold long pages,
  * how many vertices each alias shape has) is fixed, so a seed changes the
  * content and not the amount of work. */
object Inputs {

  /** splitmix64 finalizer: a bijection on 64-bit values. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var state = mix(seed)
    def nextLong(): Long = { state += 0x9e3779b97f4a7c15L; mix(state) }
    def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextGaussian(): Double = {
      val u = math.max(nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
    }
  }

  // ----------------------------------------------------------------- pages

  /** Every `LongEvery`-th page is long: `LongBodies` generated bodies
    * concatenated under one url. */
  val LongEvery = 10
  val LongBodies = 8

  /** A page and whether it is an unmodified `CorpusGen.genPage` page (those
    * carry generator truth). */
  final case class Page(page: WebPage, generated: Boolean, long: Boolean)

  def isLongSlot(j: Int): Boolean = j % LongEvery == LongEvery - 1

  /** `n` pages: `CorpusGen.genPage(j, seed)` in short slots, and in long
    * slots a concatenation of `LongBodies` bodies drawn from a disjoint
    * index range. */
  def pages(n: Int, seed: Long): Vector[Page] = (0 until n).map { j =>
    if (!isLongSlot(j)) Page(CorpusGen.genPage(j, seed).page, generated = true, long = false)
    else {
      val bodies = (0 until LongBodies).map(m =>
        CorpusGen.genPage(1000000 + j * LongBodies + m, seed).page)
      val url = f"https://long-$j%06d.example.org/privacy"
      val html = bodies.map(b => new String(b.html, "UTF-8")).mkString("\n")
      Page(WebPage(url, new Timestamp(bodies.head.warc_ts.getTime), html.getBytes("UTF-8"),
        bodies.map(_.text).mkString(" "), "en"), generated = false, long = true)
    }
  }.toVector

  // ------------------------------------------------------------ alias graph

  /** Shape of the alias graph: one hub star, one chain, many small stars. */
  final case class AliasShape(hubLeaves: Int, chainLength: Int, stars: Int,
      starMin: Int, starMax: Int)

  val aliasShape = AliasShape(hubLeaves = 3000, chainLength = 1000, stars = 2000,
    starMin = 2, starMax = 9)

  /** Random 16-hex-digit vertex name; distinct per (seed, k) because `mix`
    * is a bijection. */
  def vertexName(seed: Long, k: Long): String =
    f"${mix(seed * 0x632be59bd9b4e019L + k)}%016x"

  /** Undirected alias edges (src, dst) in seed-shuffled order. Small-star
    * sizes are seed-drawn but their total is fixed by `shape`. */
  def aliasEdges(seed: Long, shape: AliasShape = aliasShape): Vector[(String, String)] = {
    val rng = new Rng(seed ^ 0xa11a5L)
    var k = 0L
    def fresh(): String = { val v = vertexName(seed, k); k += 1; v }
    val edges = Vector.newBuilder[(String, String)]
    val hub = fresh()
    (0 until shape.hubLeaves).foreach(_ => edges += ((fresh(), hub)))
    var prev = fresh()
    (0 until shape.chainLength).foreach { _ =>
      val v = fresh()
      edges += ((prev, v))
      prev = v
    }
    // star sizes alternate around the mean so their sum is seed-independent
    val span = shape.starMax - shape.starMin
    (0 until shape.stars by 2).foreach { _ =>
      val d = rng.nextInt(span + 1)
      Seq(shape.starMin + d, shape.starMax - d).foreach { size =>
        val centre = fresh()
        (1 until size).foreach(_ => edges += ((fresh(), centre)))
      }
    }
    shuffle(edges.result(), rng)
  }

  private def shuffle[T](xs: Vector[T], rng: Rng): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  // -------------------------------------------------------- dedup documents

  val DupEvery = 10

  /** (doc_id, text): word documents over a 5,000-word vocabulary. Every
    * `DupEvery`-th document is a near-duplicate of an earlier one with 1-3
    * words replaced. */
  def dedupDocs(n: Int, seed: Long): Vector[(Long, String)] = {
    val rng = new Rng(seed ^ 0xd0c5L)
    val vocab = (0 until 5000).map(w => java.lang.Long.toString(mix(seed + w) >>> 20, 36)).toVector
    val docs = new Array[Vector[String]](n)
    (0 until n).foreach { i =>
      docs(i) =
        if (i % DupEvery == DupEvery - 1) {
          var d = docs(rng.nextInt(i))
          (0 to rng.nextInt(3)).foreach(_ => d = d.updated(rng.nextInt(d.size), vocab(rng.nextInt(vocab.size))))
          d
        } else Vector.fill(60 + rng.nextInt(61))(vocab(rng.nextInt(vocab.size)))
    }
    docs.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }.toVector
  }

  // ------------------------------------------------------------ embeddings

  val EmbeddingDim = 64

  /** (vec_id, embedding): unit-variance Gaussian vectors. Every 10th is a
    * small perturbation of an earlier vector (cosine near 1) and every 50th
    * an exact copy of one. */
  def embeddings(n: Int, seed: Long): Vector[(Long, Array[Float])] = {
    val rng = new Rng(seed ^ 0xe3bL)
    val vs = new Array[Array[Float]](n)
    (0 until n).foreach { i =>
      vs(i) =
        if (i > 16 && i % 50 == 49) vs(rng.nextInt(i)).clone()
        else if (i > 16 && i % 10 == 9) vs(rng.nextInt(i)).map(x => (x + 0.05 * rng.nextGaussian()).toFloat)
        else Array.fill(EmbeddingDim)(rng.nextGaussian().toFloat)
    }
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toVector
  }
}
