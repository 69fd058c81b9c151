package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.{DailyPipeline, Ingest}
import graft.queries.{MarketClient, MasterClient}
import graft.sources.{CsvSource, HtmlTableSource, Metering, Sinks}

/** One workload: its inputs' warm scan, one pass of ops, and the checks
  * made after the run, outside timing. */
trait Workload {
  def warm(h: Harness): Unit
  def beforePass(h: Harness): Unit = ()
  def pass(h: Harness): Unit
  /** Problems found by the post-run self-check; empty when it holds. */
  def check(h: Harness): Seq[String] = Nil
  /** Counters the workload measures itself, per pass. */
  val counters = mutable.Map.empty[Int, mutable.LinkedHashMap[String, Double]]
  /** Facts about the run that are not per pass (sizes, ratios). */
  val facts = mutable.LinkedHashMap.empty[String, Any]
  private def merge(h: Harness, key: String, v: Double)(f: (Double, Double) => Double): Unit = {
    val m = counters.getOrElseUpdate(h.pass, mutable.LinkedHashMap.empty)
    m(key) = f(m.getOrElse(key, 0.0), v)
  }
  protected def count(h: Harness, key: String, v: Double): Unit = merge(h, key, v)(_ + _)
  protected def peak(h: Harness, key: String, v: Double): Unit = merge(h, key, v)(math.max)
}

object Workloads {
  /** The registered queries of the read workload, in the order they run,
    * and the tables they read. q47 rides the LSH stages q34 builds in
    * StageCache; the order is fixed because which op builds a shared stage
    * and which rides it decides each op's latency. */
  val dedupGraph: Seq[String] = Seq("q34_dedup_minhash_lsh", "q47_dedup_clusters",
    "q36_embed_near_dup", "q142_triangle_census", "q188_graph_hops")
  val dedupGraphTables: Seq[String] = Seq("documents", "embeddings", "lineitem", "orders")

  /** Hash every column of every row of every input, in one job: pulls the
    * files into the page cache and the decoders into the JIT before
    * anything is timed. */
  def warmScan(dfs: Seq[DataFrame]): Unit =
    dfs.map(_.selectExpr("xxhash64(struct(*)) AS h")).reduce(_ union _).agg(min("h")).collect()
}

/** A fixed list of registered queries over the static tables, each checked
  * against its recorded digest. */
final class ReadWorkload(queries: Seq[String], tables: Seq[String], dataDir: String,
                         expected: Option[Map[String, Digest]])
  extends Workload {
  def warm(h: Harness): Unit =
    Workloads.warmScan(tables.map(graft.model.Tables.load(h.spark, dataDir, _)))

  def pass(h: Harness): Unit = queries.foreach { q =>
    val fn = graft.SparkEntry.queries(q)
    // No recorded digest is a failure too, so a renamed query cannot pass
    // unchecked.
    h.op(q, expected.map(_.getOrElse(q, Digest(-1, "unrecorded"))))(fn(h.spark, dataDir))(
      df => Some(Digest.of(df)))
  }
}

/** The reference's daily KRX batch over generated drops: backfill, then per
  * day normalize → validate → rejects → merge → backup → append → compact,
  * with reads over the growing store. Every pass starts from an empty
  * store. */
final class DailyBatch(inputs: String, work: String) extends Workload {
  import DailyBatch._

  private val manifest = Json.read(s"$inputs/days.json")
  private val days: Seq[Day] = manifest("days").asInstanceOf[Seq[Map[String, Any]]].map { d =>
    Day(d("day").toString.toInt, d("stamp").toString, d("last_trade_date").toString,
      d("planted_rejects").asInstanceOf[Seq[String]])
  }
  private val root = s"$work/daily"
  private val store = s"$root/store"
  private def masterDir(d: Int) = s"$root/master/d$d"
  private def rejectsDir(d: Int) = s"$root/rejects/d$d"
  private def html(d: Int) = s"$inputs/master_$d.html"
  private def priceCsv(d: Int) = s"$inputs/price_$d.csv"
  private val backfill = s"$inputs/backfill.csv"
  /** Each pass rebuilds the same store, so every read must return what it
    * returned in the first pass. */
  private val firstDigests = mutable.Map.empty[String, Digest]

  def warm(h: Harness): Unit = Workloads.warmScan(
    CsvSource.read(h.spark, backfill, PriceSchema) +: days.flatMap(d => Seq(
      CsvSource.read(h.spark, priceCsv(d.d), PriceSchema),
      h.spark.read.option("wholetext", "true").text(html(d.d)))))

  override def beforePass(h: Harness): Unit = deleteTree(new java.io.File(root))

  private def parseMaster(h: Harness, d: Day): DataFrame = {
    val docs = h.spark.read.option("wholetext", "true").text(html(d.d))
      .as[String](org.apache.spark.sql.Encoders.STRING)
    HtmlTableSource.parse(h.spark, docs, HtmlTableSource.discoverHeader(docs.head()))
  }

  private def normalized(h: Harness, d: Day): DataFrame =
    DailyPipeline.normalize(parseMaster(h, d), d.stamp)

  private def master(h: Harness, d: Int): DataFrame = h.spark.read.parquet(masterDir(d))

  private def priceView(h: Harness): DataFrame = Sinks.readPartitioned(h.spark, store)

  private def read(h: Harness, name: String)(df: => DataFrame): Unit = {
    val rec = h.op(name, firstDigests.get(name))(df)(r => Some(Digest.of(r)))
    if (rec.ok) rec.digest.foreach(firstDigests.getOrElseUpdate(name, _))
  }

  def pass(h: Harness): Unit = {
    h.op("backfill")(CsvSource.read(h.spark, backfill, PriceSchema)) { df =>
      Sinks.writeMonthlyPartitioned(df, "trade_date", SortKeys, store); None
    }
    for (d <- days) h.tracer.span("day", "day" -> d.d) {
      h.op(s"master.d${d.d}") {
        val prev = if (d.d == 1) DailyPipeline.emptyState(h.spark) else master(h, d.d - 1)
        DailyPipeline.merge(prev, DailyPipeline.validate(normalized(h, d)))
      } { df => df.write.parquet(masterDir(d.d)); None }
      h.op(s"rejects.d${d.d}")(DailyPipeline.rejects(normalized(h, d))) { df =>
        df.write.parquet(rejectsDir(d.d)); None
      }
      h.op(s"backup.d${d.d}")(master(h, d.d)) { df =>
        Sinks.backupParquet(df, s"$root/backup", "stock_master", d.stamp.replaceAll("[^0-9]", ""))
        None
      }
      h.op(s"price_write.d${d.d}")(CsvSource.read(h.spark, priceCsv(d.d), PriceSchema)) { df =>
        val m = Metering.meteredWrite(df, logEveryTasks = 0)(appendMonthly(_, store))
        count(h, "sources.write_rows", m.rows.toDouble)
        count(h, "sources.write_mb", m.bytes / 1e6)
        None
      }
      val files = partitionFiles(store)
      peak(h, "sources.files_per_partition_max",
        files.values.map(_.size).maxOption.getOrElse(0).toDouble)
      if (d.d % CompactEvery == 0) {
        count(h, "sources.compact_rewritten_mb",
          files.values.filter(_.size > 1).flatten.map(_.length()).sum / 1e6)
        h.op(s"compact.d${d.d}")(()) { _ => Sinks.compactFiles(h.spark, store); None }
      }
      read(h, s"read.summary.d${d.d}")(
        new MarketClient(master(h, d.d), priceView(h)).getMarketSummary(d.lastTrade))
    }
    val last = days.last.d
    read(h, "read.optimize_table")(new MarketClient(master(h, last), priceView(h)).optimizeTable())
    read(h, "read.stock_count")(new MasterClient(master(h, last)).getStockCount())
  }

  /** The day-by-day fold must equal a one-shot replay of every accepted
    * drop, and the quarantine must hold exactly the planted rows. */
  override def check(h: Harness): Seq[String] = {
    val s = h.spark
    val problems = mutable.ArrayBuffer.empty[String]
    val accepted = days.map(d => DailyPipeline.validate(normalized(h, d)))
      .reduce(_ union _).localCheckpoint()
    val foldMaster = master(h, days.last.d)
    val (fm, rm) = (Digest.of(foldMaster),
      Digest.of(DailyPipeline.merge(DailyPipeline.emptyState(s), accepted)))
    if (fm != rm) problems += s"master fold $fm != replay $rm"

    val allPrices = (backfill +: days.map(d => priceCsv(d.d)))
      .map(CsvSource.read(s, _, PriceSchema)).reduce(_ union _)
    val replayPrice = Ingest.compactReplacing(allPrices, SortKeys, col("update_dt"),
      Seq(col("close_price").desc)).select(PriceColumns.map(col): _*)
    val foldPrice = new MarketClient(foldMaster, priceView(h)).optimizeTable()
      .select(PriceColumns.map(col): _*)
    val (fp, rp) = (Digest.of(foldPrice), Digest.of(replayPrice))
    if (fp != rp) problems += s"price view fold $fp != replay $rp"

    val rejected = days.flatMap { d =>
      s.read.parquet(rejectsDir(d.d)).select("name").collect().map(r => (d.d, r.getString(0)))
    }.sorted
    val planted = days.flatMap(d => d.planted.map(n => (d.d, n))).sorted
    if (rejected != planted)
      problems += s"rejects ${rejected.take(3)} != planted ${planted.take(3)} " +
        s"(${rejected.size} vs ${planted.size} rows)"

    // Space amplification: the store's bytes over the bytes of its
    // resolved rows written once with the same layout.
    val ref = s"$work/daily_ref"
    deleteTree(new java.io.File(ref))
    Sinks.writeMonthlyPartitioned(replayPrice, "trade_date", SortKeys, ref)
    val storeBytes = partitionFiles(store).values.flatten.map(_.length()).sum
    val refBytes = partitionFiles(ref).values.flatten.map(_.length()).sum
    facts ++= Seq("ingest.accepted_rows" -> accepted.count(),
      "ingest.rejected_rows" -> rejected.size, "master_rows" -> fm.rows,
      "price_rows_resolved" -> rp.rows, "store_bytes" -> storeBytes,
      "resolved_bytes" -> refBytes, "store_amp" -> storeBytes.toDouble / refBytes)
    // Final states for the DuckDB replay cross-check (perfbench/oracle_daily.py).
    foldMaster.coalesce(1).write.mode("overwrite").parquet(s"$work/final_master")
    foldPrice.coalesce(1).write.mode("overwrite").parquet(s"$work/final_price")
    problems.toSeq
  }
}

object DailyBatch {
  final case class Day(d: Int, stamp: String, lastTrade: String, planted: Seq[String])

  /** `Sinks.compactFiles` runs after every second day. */
  val CompactEvery = 2

  val PriceColumns: Seq[String] = Seq("symbol", "trade_date", "open_price", "high_price",
    "low_price", "close_price", "volume", "amount", "market_cap", "change_rate",
    "create_dt", "update_dt")
  val SortKeys: Seq[String] = Seq("symbol", "trade_date")

  /** The reference's stock_price columns (FIXTURES.md A4). */
  val PriceSchema: StructType = StructType(PriceColumns.map {
    case "symbol" => StructField("symbol", StringType)
    case "trade_date" => StructField("trade_date", DateType)
    case c @ ("volume" | "amount" | "market_cap") => StructField(c, LongType)
    case c @ ("create_dt" | "update_dt") => StructField(c, TimestampType)
    case c => StructField(c, DoubleType)
  })

  /** `Sinks.writeMonthlyPartitioned`'s layout in append mode: a daily drop
    * adds files to the month directories it touches. The program has no
    * append sink, so this write path is the benchmark's own copy, and the
    * daily `price_write` ops time it rather than `Sinks` code; call the
    * program's append entry point here once it has one. */
  def appendMonthly(df: DataFrame, path: String): Unit =
    df.withColumn(Sinks.MonthCol, date_format(col("trade_date"), "yyyyMM"))
      .repartition(col(Sinks.MonthCol))
      .sortWithinPartitions(SortKeys.map(col): _*)
      .write.partitionBy(Sinks.MonthCol).mode("append").parquet(path)

  /** Parquet data files per partition directory of a store. */
  def partitionFiles(path: String): Map[String, Seq[java.io.File]] = {
    val dirs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(Sinks.MonthCol + "="))
    dirs.map(d => d.getName -> Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq).toMap
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
