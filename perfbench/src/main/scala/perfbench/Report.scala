package perfbench

import scala.collection.immutable.ListMap

import perfbench.Main.{PassStat, median, tail}

/** Metrics of one run. End-to-end metrics come from untraced steady passes,
  * per-layer metrics from traced steady passes; both are per-pass totals
  * taken as the median over those passes unless named otherwise. */
final case class Report(workload: String, seed: Long, trace: Boolean, cores: Int,
                        jvmBootS: Double, setup: (Double, Double),
                        passes: Seq[PassStat], h: Harness, wl: Workload,
                        problems: Seq[String]) {
  private val steady = passes.filter(_.index > 0)
  private val e2ePasses = steady.filterNot(_.traced)
  private val tracedPasses = steady.filter(_.traced)
  private val attempted = h.records.size
  private val failures = h.records.filterNot(_.ok)
  private val daily = workload == "daily_batch"

  private def ops(ps: Seq[PassStat], prefix: String = "") =
    ps.flatMap(_.recs).filter(r => r.ok && r.name.startsWith(prefix)).map(_.wallS)

  private val opTail = tail(ops(e2ePasses))
  private val readTail = tail(ops(e2ePasses, "read."))
  /** Per-day ingest and write latency: every op of day d except its reads. */
  private val dayLatencies = e2ePasses.flatMap { p =>
    p.recs.filter(r => r.ok && !r.name.startsWith("read.") && r.name.contains(".d"))
      .groupBy(_.name.split("\\.d").last).values.map(_.map(_.wallS).sum)
  }

  private def m(v: Double, unit: String) = ListMap("value" -> v, "unit" -> unit)

  val endToEnd: ListMap[String, ListMap[String, Any]] = ListMap(
    "setup_s" -> m(jvmBootS + setup._1 + setup._2, "s"),
    "first_pass_s" -> m(passes.head.passS, "s"),
    "pass_s" -> m(median(e2ePasses.map(_.passS)), "s"),
    "op_p50_s" -> m(median(ops(e2ePasses)), "s"),
    "op_tail_s" -> m(opTail._1, "s"),
    "peak_heap_mb" -> m(passes.map(_.heapMb).max, "MB"))

  /** Printed and written to the artifact; not part of the result line
    * because they do not apply to every workload (or are 0 when healthy). */
  val extras: ListMap[String, Any] = ListMap[String, Any](
    "failed_frac" -> failures.size.toDouble / attempted,
    "op_tail_pct" -> Main.TailPct, "op_samples" -> opTail._2) ++ (if (!daily) Nil else Seq(
    "day_p50_s" -> median(dayLatencies), "read_p50_s" -> median(ops(e2ePasses, "read.")),
    "read_tail_s" -> readTail._1, "read_tail_pct" -> Main.TailPct,
    "read_samples" -> readTail._2, "store_amp" -> wl.facts.getOrElse("store_amp", 0.0)))

  private def perPass(f: PassStat => Double): Double = median(tracedPasses.map(f))
  private def sumOps(p: PassStat, prefix: String)(f: OpRecord => Double): Double =
    p.recs.filter(_.name.startsWith(prefix)).map(f).sum
  private def prof(p: PassStat)(f: OpProfile => Double): Double =
    p.recs.flatMap(_.profile).map(f).sum
  private def counter(k: String)(p: PassStat): Double =
    wl.counters.get(p.index).flatMap(_.get(k)).getOrElse(0.0)
  private def fact(k: String): Double =
    wl.facts.get(k).map(_.toString.toDouble).getOrElse(0.0)
  private val queryPrefix = if (daily) "read." else ""

  val perLayer: ListMap[String, ListMap[String, Any]] = if (!trace) ListMap.empty else ListMap(
    "setup.session_s" -> m(setup._1, "s"),
    "setup.warm_scan_s" -> m(setup._2, "s"),
    "queries.plan_s" -> m(perPass(sumOps(_, queryPrefix)(_.planS)), "s"),
    "queries.action_s" -> m(perPass(sumOps(_, queryPrefix)(_.actionS)), "s"),
    "spark.jobs" -> m(perPass(prof(_)(_.jobs.toDouble)), "count"),
    "spark.stages" -> m(perPass(prof(_)(_.stages.toDouble)), "count"),
    "spark.tasks" -> m(perPass(prof(_)(_.tasks.toDouble)), "count"),
    "spark.tasks_per_op" -> m(perPass(p => prof(p)(_.tasks.toDouble) / p.recs.size), "count"),
    "spark.driver_idle_s" -> m(perPass(sumOps(_, "")(_.idleS)), "s"),
    "spark.executor_cpu_s" -> m(perPass(prof(_)(_.cpuNs / 1e9)), "s"),
    "spark.cpu_util" -> m(perPass(p => prof(p)(_.cpuNs / 1e9) / (p.passS * cores)), "ratio"),
    "spark.gc_s" -> m(perPass(prof(_)(_.gcMs / 1e3)), "s"),
    "spark.shuffle_write_mb" -> m(perPass(prof(_)(_.shuffleWriteBytes / 1e6)), "MB"),
    "spark.shuffle_read_mb" -> m(perPass(prof(_)(_.shuffleReadBytes / 1e6)), "MB"),
    "spark.spill_mb" -> m(perPass(prof(_)(_.spillBytes / 1e6)), "MB"),
    "ext.stage_cache.builds" -> m(perPass(_.builds.toDouble), "count"),
    "ext.stage_cache.hits" -> m(perPass(_.hits.toDouble), "count"),
    "ext.stage_cache.hit_ratio" -> m(perPass(p =>
      if (p.hits + p.builds == 0) 0.0 else p.hits.toDouble / (p.hits + p.builds)), "ratio"),
    "ext.stage_cache.evictions" -> m(perPass(_.evictions.toDouble), "count"),
    "ext.stage_cache.peak_mb" -> m(graft.ext.StageCache.stats._7 / 1e6, "MB"),
    "ingest.accepted_rows" -> m(fact("ingest.accepted_rows"), "count"),
    "ingest.rejected_rows" -> m(fact("ingest.rejected_rows"), "count"),
    "ingest.master_s" -> m(perPass(sumOps(_, "master.")(_.wallS)), "s"),
    "ingest.rejects_s" -> m(perPass(sumOps(_, "rejects.")(_.wallS)), "s"),
    "sources.write_s" -> m(perPass(sumOps(_, "price_write.")(_.wallS)), "s"),
    "sources.write_rows" -> m(perPass(counter("sources.write_rows")), "count"),
    "sources.write_mb" -> m(perPass(counter("sources.write_mb")), "MB"),
    "sources.compact_s" -> m(perPass(sumOps(_, "compact.")(_.wallS)), "s"),
    "sources.compact_rewritten_mb" -> m(perPass(counter("sources.compact_rewritten_mb")), "MB"),
    "sources.files_per_partition_max" ->
      m(perPass(counter("sources.files_per_partition_max")), "count"),
    "trace.pass_s" -> m(median(tracedPasses.map(_.passS)), "s"),
    "trace.untraced_pass_s" -> m(median(e2ePasses.map(_.passS)), "s"),
    "trace.overhead_ratio" -> m(median(tracedPasses.map(_.passS)) /
      median(e2ePasses.map(_.passS)), "ratio"))

  val correct: Boolean = failures.isEmpty && problems.isEmpty

  /** The single line the caller reads: at most a few hundred bytes. */
  val result: ListMap[String, Any] = ListMap("correct" -> correct, "attempted" -> attempted,
    "failed" -> failures.size, "metrics" -> (if (trace) perLayer else endToEnd))

  def summary: Seq[String] = {
    def fmt(ms: ListMap[String, ListMap[String, Any]]) =
      ms.map { case (k, v) => f"$k=${v("value").asInstanceOf[Double]}%.4g ${v("unit")}" }
    Seq(s"perfbench $workload seed=$seed trace=${if (trace) 1 else 0} cores=$cores " +
      s"passes=${passes.size} ops=$attempted failed=${failures.size} correct=$correct",
      "end_to_end " + fmt(endToEnd).mkString(" "),
      "extras " + extras.map { case (k, v) => s"$k=$v" }.mkString(" ")) ++
      (if (trace) Seq("per_layer " + fmt(perLayer).mkString(" ")) else Nil) ++
      failures.take(5).map(f => s"FAILED pass=${f.pass} ${f.name}: ${f.error.getOrElse("")}") ++
      problems.map("CHECK " + _)
  }

  /** Everything else goes to the artifact file: per-op profile rows,
    * passes, failures with their causes, and the spans. */
  def artifact: ListMap[String, Any] = ListMap(
    "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
    "result" -> result, "end_to_end" -> endToEnd, "per_layer" -> perLayer,
    "extras" -> extras, "facts" -> wl.facts.toMap, "check_problems" -> problems,
    "jvm_boot_s" -> jvmBootS,
    "setup" -> ListMap("session_s" -> setup._1, "warm_scan_s" -> setup._2),
    "passes" -> passes.map(p => ListMap("pass" -> p.index, "traced" -> p.traced,
      "pass_s" -> p.passS, "ops" -> p.recs.size, "stage_cache_builds" -> p.builds,
      "stage_cache_hits" -> p.hits, "heap_mb" -> p.heapMb,
      "counters" -> wl.counters.get(p.index).map(_.toMap).getOrElse(Map.empty))),
    "ops" -> h.records.map { r =>
      ListMap[String, Any]("pass" -> r.pass, "op" -> r.name, "traced" -> r.traced,
        "plan_s" -> r.planS, "action_s" -> r.actionS, "ok" -> r.ok,
        "error" -> r.error.orNull, "rows" -> r.digest.map(d => d.rows: Any).orNull,
        "hash" -> r.digest.map(_.hash).orNull, "stage_cache_builds" -> r.cacheBuilds,
        "stage_cache_hits" -> r.cacheHits) ++ r.profile.fold(ListMap.empty[String, Any]) {
        p => ListMap("jobs" -> p.jobs, "stages" -> p.stages, "tasks" -> p.tasks,
          "executor_cpu_s" -> p.cpuNs / 1e9, "gc_s" -> p.gcMs / 1e3,
          "shuffle_write_mb" -> p.shuffleWriteBytes / 1e6,
          "shuffle_read_mb" -> p.shuffleReadBytes / 1e6, "spill_mb" -> p.spillBytes / 1e6,
          "driver_idle_s" -> r.idleS)
      }
    },
    "spans" -> h.tracer.rows)
}
