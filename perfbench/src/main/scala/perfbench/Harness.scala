package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row count plus the sum of `xxhash64` over every column of every row:
  * the action each timed op ends in, so the op pays for every output
  * column (a bare `count()` lets Catalyst prune them), and the value its
  * correctness is checked by. */
final case class Digest(rows: Long, hash: String)

object Digest {
  def of(df: DataFrame): Digest = {
    // Positional renames: output names may repeat or contain dots.
    val cols = df.columns.indices.map(i => s"c$i")
    val t = df.toDF(cols: _*)
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.map(col): _*)
    val r = t.select(h.cast("decimal(20,0)").as("h")).agg(count(lit(1)), sum(col("h"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }
}

/** One attempt of one op. A failed op keeps its elapsed time and cause. */
final case class OpRecord(pass: Int, name: String, traced: Boolean,
                          planS: Double, actionS: Double, ok: Boolean,
                          error: Option[String], digest: Option[Digest],
                          profile: Option[OpProfile], idleS: Double,
                          cacheBuilds: Long, cacheHits: Long) {
  def wallS: Double = planS + actionS
}

/** Session lifecycle, the op runner and what it records. One client,
  * closed loop: each op starts when the previous one has returned. */
final class Harness(val cores: Int, val workDir: String, val tracer: Tracer) {
  var spark: SparkSession = _
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var pass: Int = 0
  var sessionsBuilt = 0
  /** Spark counters are collected in runs whose tracer starts on. */
  private val profiler = if (tracer.on) Some(new Profiler) else None

  /** Spans and Spark counters are recorded only while tracing is on. */
  def tracing: Boolean = tracer.on

  def setTracing(on: Boolean): Unit = if (on != tracer.on) {
    tracer.on = on
    profiler.foreach(p =>
      if (on) spark.sparkContext.addSparkListener(p) else spark.sparkContext.removeSparkListener(p))
  }

  def newSession(): SparkSession = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // Bounded status-store history, so retained heap does not grow with
      // the number of passes a run happens to fit in.
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (tracing) profiler.foreach(spark.sparkContext.addSparkListener)
    sessionsBuilt += 1
    spark
  }

  def stopSession(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    if (spark != null) spark.stop()
  }

  /** Run one op: `plan` builds the result (query functions may run eager
    * jobs here), `action` forces it. A throw or a digest different from
    * `expected` fails this op only; a stopped SparkContext is replaced
    * before the next op. */
  def op[A](name: String, expected: => Option[Digest] = None)(plan: => A)
           (action: A => Option[Digest]): OpRecord = {
    val group = s"op-${records.size}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    var spanId = -1
    var planS, actionS = 0.0
    var digest: Option[Digest] = None
    var error: Option[String] = None
    val cache0 = graft.ext.StageCache.stats
    val startMs = System.currentTimeMillis()
    tracer.span("op", "op" -> name, "pass" -> pass) {
      spanId = tracer.current
      val t0 = System.nanoTime()
      var t1 = -1L
      try {
        val planned = tracer.span("plan")(plan)
        t1 = System.nanoTime()
        digest = tracer.span("action")(action(planned))
      } catch {
        case NonFatal(e) =>
          error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t2 = System.nanoTime()
      if (t1 < 0) planS = (t2 - t0) / 1e9
      else { planS = (t1 - t0) / 1e9; actionS = (t2 - t1) / 1e9 }
    }
    if (error.isEmpty)
      for (want <- expected; got <- digest if got != want)
        error = Some(s"digest mismatch: expected $want, got $got")
    val endMs = System.currentTimeMillis()
    val cache1 = graft.ext.StageCache.stats
    val stopped = sc.isStopped
    if (!stopped) sc.clearJobGroup()
    val prof = profiler.filter(_ => tracing && !stopped).map { p =>
      BenchBridge.drainListeners(sc)
      val got = p.take(group)
      for ((id, s, e) <- got.jobSpans)
        tracer.child(spanId, "job", s * 1000L, e * 1000L, "job_id" -> id)
      got
    }
    val rec = OpRecord(pass, name, tracing, planS, actionS, error.isEmpty, error,
      digest, prof, prof.fold(0.0)(_.idleMs(startMs, endMs) / 1e3),
      cache1._2 - cache0._2, cache1._3 - cache0._3)
    records += rec
    if (stopped) {
      System.err.println(s"[perfbench] SparkContext stopped during $name; new session")
      stopSession()
      newSession()
      graft.ext.StageCache.invalidateAll()
    } else cleanup()
    rec
  }

  /** Untimed, between ops (as in graft.Bench): drop persisted RDDs that
    * StageCache does not pin, so one op's blocks do not squeeze the next. */
  def cleanup(): Unit = {
    val pinned = graft.ext.StageCache.pinnedRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Untimed, at the start of every pass: nothing rides over from an
    * earlier pass. */
  def resetPass(): Unit = {
    graft.ext.StageCache.invalidateAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
