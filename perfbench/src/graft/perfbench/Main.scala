package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark process: runs one workload (or all four) at local[cores]
  * and prints one `PERFBENCH_RESULT {json}` line per workload.
  *
  * Protocol per workload: set up `Setups` times (each a fresh session and
  * freshly generated, materialized inputs; the first also pays JVM start)
  * and report the median; warm up once; run timed operations back to back
  * for `--seconds`; then run the correctness checks. With `--trace 1` every other timed operation is
  * traced; the per-layer metrics come from the traced ones, next to the
  * overhead between traced and untraced ones. */
object Main {
  val Setups = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: File, out: File)

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("cores").toInt, new File(get("work")), new File(get("out")))
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val names = if (o.workload == "all") Workload.names else Seq(o.workload)
    require(names.forall(Workload.names.contains), s"unknown workload ${o.workload}")
    val selfTest = SelfTest.run()
    var ok = true
    names.zipWithIndex.foreach { case (w, k) =>
      val r = runWorkload(w, o, if (k == 0) selfTest else Nil, firstInJvm = k == 0)
      ok &&= r("correct") == true
      println("PERFBENCH_RESULT " + Json.render(r))
    }
    sys.exit(if (ok) 0 else 1)
  }

  private def newSession(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(o.work, "hadoop").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Outcome of one timed phase. `lat` and `tracedLat` hold (op name, ms)
    * of successful untraced and traced operations. */
  final class Phase {
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val tracedLat = mutable.ArrayBuffer.empty[(String, Double)]
    var docs = 0L
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def opSeconds: Double = lat.map(_._2).sum / 1e3
    def docsPerS: Double = if (opSeconds > 0) docs / opSeconds else 0.0
    def p50: Double = if (lat.isEmpty) 0.0 else Stats.median(lat.map(_._2).toSeq)
    def typeP50: Double = Stats.meanTypeMedian(lat.toSeq)
    def tracedTypeP50: Double = Stats.meanTypeMedian(tracedLat.toSeq)
  }

  /** Operations back to back for `seconds`, to the end of a block of the
    * workload's `block` operations, and at least its `minOps` (two blocks
    * when interleaving). With `interleave`, alternate blocks are traced, so
    * traced and untraced ones sample the same part of the run and their gap
    * is the tracing overhead. */
  private def timed(wl: Workload, tr: Tracer, seconds: Double, interleave: Boolean): Phase = {
    val ph = new Phase
    tr.span("timed") {
      val t0 = System.nanoTime()
      var i = 0
      val least = if (interleave) wl.minOps.max(2 * wl.block) else wl.minOps
      while ((System.nanoTime() - t0) / 1e9 < seconds || i < least || i % wl.block != 0) {
        val traced = interleave && (i / wl.block) % 2 == 1
        tr.enabled = traced
        val opName = wl.opName(i)
        val s = System.nanoTime()
        val out = try Right(tr.span(s"op:$opName")(wl.op(i, tr))) catch { case NonFatal(e) => Left(e) }
        val ms = (System.nanoTime() - s) / 1e6
        ph.attempted += 1
        val problems = out match {
          case Left(e) => Seq(s"op $i ($opName) failed: $e")
          case Right(o) =>
            val checks = try o.after() catch { case NonFatal(e) => Seq(Check(s"op $i after", Some(e.toString))) }
            checks.flatMap(c => c.error.map(err => s"op $i ${c.name}: $err"))
        }
        if (problems.isEmpty) {
          if (traced) ph.tracedLat += opName -> ms
          else {
            ph.lat += opName -> ms
            ph.docs += out.toOption.get.docs
          }
        } else {
          ph.failed += 1
          ph.errors ++= problems
        }
        i += 1
      }
      tr.enabled = interleave
    }
    ph
  }

  def runWorkload(w: String, o: Opts, selfTest: Seq[Check], firstInJvm: Boolean): Map[String, Any] = {
    val work = new File(o.work, w)
    work.mkdirs()
    val tr = new Tracer
    tr.enabled = o.trace
    val wl = Workload(w, o.seed, o.cores, work)
    var spark: SparkSession = null
    val result = tr.span(s"workload:$w") {
      // setup: the first pays JVM start when it is the first in this JVM
      val setupS = (0 until Setups).map { r =>
        if (spark != null) stopSession(spark)
        System.gc() // each set-up starts from a collected heap
        val n0 = System.nanoTime()
        val jvmStart =
          if (r > 0 || !firstInJvm) 0.0
          else (System.currentTimeMillis() -
            java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
        tr.span(s"setup.$r") {
          spark = newSession(o)
          wl.setup(spark, tr)
        }
        jvmStart + (System.nanoTime() - n0) / 1e9
      }
      val w0 = System.nanoTime()
      tr.span("warm-up")(wl.warmUp(tr))
      val warmUpS = (System.nanoTime() - w0) / 1e9

      if (o.trace) {
        tr.attach(spark)
        Jvm.resetHeapPeak()
      }
      System.gc()
      val gc0 = Jvm.gcMs
      val t0 = System.nanoTime()
      val phase = timed(wl, tr, o.seconds, interleave = o.trace)
      val timedS = (System.nanoTime() - t0) / 1e9
      val ops = phase.lat.size + phase.tracedLat.size
      val gcMs = (Jvm.gcMs - gc0).toDouble / math.max(ops, 1)
      val heapMb = Jvm.heapPeakMb
      val extra =
        if (!o.trace) Map.empty[String, Double]
        else tr.span("layers")(wl.layerMetrics(tr, phase.docsPerS))
      val v0 = System.nanoTime()
      val checks = selfTest ++ tr.span("verify") {
        try wl.finalChecks() catch { case NonFatal(e) => Seq(Check(s"$w.final_checks", Some(e.toString))) }
      }
      val verifyS = (System.nanoTime() - v0) / 1e9
      val attempted = phase.attempted + checks.size
      val failed = phase.failed + checks.count(_.error.nonEmpty)
      val errors = phase.errors ++ checks.flatMap(c => c.error.map(e => s"${c.name}: $e"))
      val rss = Jvm.peakRssMb
      val lat = phase.lat.map(_._2).toSeq
      val tail = Stats.tailPercentile(lat.size)
      val summary =
        Seq(("setup_s", Stats.median(setupS), "s"),
          ("warm_up_s", warmUpS, "s"),
          ("docs_per_s", phase.docsPerS, "docs/s"),
          ("op_p50_ms", phase.p50, "ms"),
          ("mean_type_p50_ms", phase.typeP50, "ms")) ++
        tail.map(p => (s"op_p${p}_ms", Stats.percentile(lat, p), "ms")).toSeq ++
        (if (lat.size >= 100 && !tail.contains(90)) Seq(("op_p90_ms", Stats.percentile(lat, 90), "ms"))
         else Nil) ++
        wl.summary(phase.lat.toSeq) ++
        Seq(("failed_frac", failed.toDouble / math.max(attempted, 1), "ratio"),
          ("peak_rss_mb", rss, "MB"),
          ("ops", lat.size.toDouble, "count"),
          ("timed_phase_s", timedS, "s"),
          ("verify_s", verifyS, "s"))
      val metrics: Map[String, (Double, String)] =
        if (!o.trace) Map(
          "setup_s" -> (Stats.median(setupS), "s"),
          "docs_per_s" -> (phase.docsPerS, "docs/s"),
          "mean_type_p50_ms" -> (phase.typeP50, "ms"))
        else Layers.metrics(tr, phase, extra, gcMs, heapMb)
      Map(
        "workload" -> w,
        "correct" -> (failed == 0 && lat.nonEmpty),
        "attempted" -> attempted,
        "failed" -> failed,
        "errors" -> errors.take(20),
        "setups_s" -> setupS,
        "op_ms" -> lat,
        "summary" -> summary.map { case (n, v, u) => Seq(n, v, u) },
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    }
    if (spark != null) stopSession(spark)
    if (o.trace) {
      o.out.mkdirs()
      val f = new File(o.out, s"trace-$w-seed${o.seed}.json")
      val pw = new java.io.PrintWriter(f, "UTF-8")
      try pw.write(Json.render(Map("result" -> result, "spans" -> RawJson(tr.toJson))))
      finally pw.close()
    }
    result
  }
}
