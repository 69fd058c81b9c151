package perfbench

import scala.collection.mutable

/** The benchmark's JVM side: set-up, a first pass, steady passes for the
  * requested seconds, the post-run checks, then the metrics. Started by
  * perfbench/run.py, which builds the classpath and the inputs; see
  * perfbench/README.md for the workloads and every metric. */
object Main {
  final case class PassStat(index: Int, traced: Boolean, recs: Seq[OpRecord], builds: Long,
                            hits: Long, evictions: Long, heapMb: Double) {
    def passS: Double = recs.map(_.wallS).sum
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The tail percentile of op latencies, fixed so that it is the same
    * rank of the same ops in every run. */
  val TailPct = 90

  /** Nearest-rank `TailPct` percentile, as (value, samples). */
  def tail(xs: Seq[Double]): (Double, Int) =
    if (xs.isEmpty) (0.0, 0)
    else {
      val s = xs.sorted
      (s(math.ceil(TailPct / 100.0 * s.size).toInt - 1), s.size)
    }

  /** Live heap: used heap after a full collection, repeated once the
    * ContextCleaner has had a moment to drop what the first one freed. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmBootS = (System.currentTimeMillis() - args("launch-ms").toLong) / 1e3
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val record = args.get("record")
    val cores = args("cores").toInt
    val tracer = new Tracer(trace)
    val h = new Harness(cores, work, tracer)

    val wl: Workload = name match {
      case "daily_batch" => new DailyBatch(args("daily"), work)
      case "dedup_graph" =>
        val expected =
          if (record.nonEmpty) None else Some(Expected.load(args("expected"), args("dataset")))
        new ReadWorkload(Workloads.dedupGraph, Workloads.dedupGraphTables, args("data"),
          expected)
    }

    val passes = mutable.ArrayBuffer.empty[PassStat]
    def runPass(i: Int, traced: Boolean): Unit = {
      h.pass = i
      h.setTracing(traced)
      h.resetPass()
      wl.beforePass(h)
      val n0 = h.records.size
      val c0 = graft.ext.StageCache.stats
      tracer.span("pass", "pass" -> i) { wl.pass(h) }
      val c1 = graft.ext.StageCache.stats
      passes += PassStat(i, traced, h.records.drop(n0).toSeq, c1._2 - c0._2, c1._3 - c0._3,
        c1._4 - c0._4, heapAfterGcMb())
    }

    // One cold set-up, as a freshly launched batch pays it: the session
    // (class loading included), then the warm scan.
    var setup = (0.0, 0.0)
    tracer.span("run", "workload" -> name, "seed" -> seed) {
      tracer.span("setup") {
        val t0 = System.nanoTime()
        tracer.span("session")(h.newSession())
        val t1 = System.nanoTime()
        tracer.span("warm_scan")(wl.warm(h))
        setup = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      }
      runPass(0, trace)
      // Steady passes run until `seconds` have passed. Traced runs alternate
      // traced and untraced passes; the ratio of their medians is the
      // tracing overhead.
      val start = System.nanoTime()
      var i = 1
      while (record.isEmpty &&
          (i == 1 || (trace && i < 3) || (System.nanoTime() - start) / 1e9 < seconds)) {
        runPass(i, trace && i % 2 == 1)
        i += 1
      }
    }
    h.setTracing(false)

    record match {
      case Some(path) =>
        Expected.save(path, args("dataset"),
          h.records.filter(_.ok).map(r => r.name -> r.digest.get).toSeq)
        h.stopSession()
      case None =>
        val checkStart = System.nanoTime()
        val problems = wl.check(h)
        wl.facts("check_s") = (System.nanoTime() - checkStart) / 1e9
        val report = Report(name, seed, trace, cores, jvmBootS, setup, passes.toSeq, h,
          wl, problems)
        val outFile = new java.io.File(args("out"))
        outFile.getParentFile.mkdirs()
        java.nio.file.Files.writeString(outFile.toPath, Json.write(report.artifact))
        h.stopSession()
        report.summary.foreach(println)
        println(Json.write(report.result))
    }
  }
}

/** Recorded digests of the read workloads' queries, keyed by the dataset
  * they were recorded on. */
object Expected {
  def load(path: String, dataset: String): Map[String, Digest] = {
    val j = Json.read(path)
    if (j("dataset") != dataset) Map.empty
    else j("digests").asInstanceOf[Map[String, Map[String, Any]]].map { case (q, d) =>
      q -> Digest(d("rows").toString.toLong, d("hash").toString)
    }
  }

  def save(path: String, dataset: String, got: Seq[(String, Digest)]): Unit = {
    val digests = got.sortBy(_._1).map { case (q, d) => q -> Map("rows" -> d.rows, "hash" -> d.hash) }
    java.nio.file.Files.writeString(new java.io.File(path).toPath, Json.write(
      scala.collection.immutable.ListMap("dataset" -> dataset,
        "digests" -> scala.collection.immutable.ListMap(digests: _*))) + "\n")
  }
}
