package bench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.flows.{CheckIntegrity, SyncKlines}
import graft.gaps.GapEngine
import graft.operators.Candles
import graft.sinks.UpsertSink
import graft.sources.KlineAdapters

/** The in-process exchange of `kline_sync`: binance-shaped 1m klines for
  * `symbols` symbols whose values are a pure function of (seed, symbol,
  * minute), plus the schedule on which each minute becomes available.
  *
  * History: `days` full days from 2024-01-01 are seeded into the sink,
  * except a [[SeedHoleShare]] of minutes that the exchange only serves from
  * a seeded pass in 1..[[HealPasses]] on, so every pass backfills a few
  * holes scattered over the older day partitions. Pass `k` extends the
  * range by one hour; a [[NewHoleShare]] of the new hour's minutes is left
  * out of the first response that covers them and served from pass k+1.
  */
final case class KlineFixture(seed: Long, symbols: Int, days: Int) {
  import KlineFixture._

  /** Last minute of the seeded history. */
  val t0: Long = Start + days * DayMs - M
  def endAt(pass: Int): Long = t0 + pass * HourMs
  def symbol(i: Int): String = f"S$i%03dUSDT"
  def index(sym: String): Int = sym.substring(1, sym.length - 4).toInt

  private def h(i: Int, ts: Long, salt: Long): Long =
    mix(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L +
      (ts / M) * 0x94D049BB133111EBL + salt)
  private def unit(x: Long): Double = (x >>> 11) / 9007199254740992.0

  /** The first pass whose response carries minute `ts` of symbol `i`;
    * 0 means it is in the seeded sink. */
  def servedFrom(i: Int, ts: Long): Int =
    if (ts <= t0) {
      val x = h(i, ts, 1)
      if (unit(x) < SeedHoleShare) 1 + ((x & 0xffffL) % HealPasses).toInt
      else 0
    } else {
      val born = ((ts - t0 + HourMs - 1) / HourMs).toInt
      if (unit(h(i, ts, 2)) < NewHoleShare) born + 1 else born
    }

  /** (open, high, low, close) in cents, volume in 1e-3, trade count. */
  def values(i: Int, ts: Long): (Long, Long, Long, Long, Long, Long) = {
    val x = h(i, ts, 3)
    val y = h(i, ts, 4)
    val base = 1000L + (mix(seed ^ (i + 1L)) >>> 1) % 100000L
    val o = base + (x & 0xff)
    val c = base + ((x >>> 8) & 0xff)
    val hi = math.max(o, c) + ((x >>> 16) & 0x3f)
    val lo = math.min(o, c) - ((x >>> 22) & 0x3f)
    (o, hi, lo, c, 1L + (y & 0xfffffL), 1L + ((y >>> 20) & 0x3ffL))
  }

  private def cents(v: Long) = f"${v / 100}.${v % 100}%02d"

  def row(i: Int, ts: Long): String = {
    val (o, hi, lo, c, v, n) = values(i, ts)
    val quote = v * c // 1e-5 units
    s"""[$ts,"${cents(o)}","${cents(hi)}","${cents(lo)}","${cents(c)}",""" +
      f""""${v / 1000}.${v % 1000}%03d",${ts + M - 1},""" +
      f""""${quote / 100000}.${quote % 100000}%05d",$n,"0","0","0"]"""
  }

  /** Response body for `[s, e]` as the exchange serves it at `pass`. */
  def body(i: Int, s: Long, e: Long, pass: Int): String =
    (s to e by M).iterator.filter(ts => servedFrom(i, ts) <= pass)
      .map(row(i, _)).mkString("[", ",", "]")

  def fetchAt(pass: Int): (String, Long, Long) => String =
    (sym, s, e) => body(index(sym), s, e, pass)
}

object KlineFixture {
  val M = 60000L
  val HourMs = 3600000L
  val DayMs = 86400000L
  val Start = 1704067200000L // 2024-01-01 00:00 UTC
  val SeedHoleShare = 0.01
  val NewHoleShare = 0.02
  val HealPasses = 48

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** What the sink must hold after a pass: per symbol and per hour. */
final case class KlineExpect(count: Long, perSymbol: Map[Int, (Long, Long)],
    perHour: Map[(Int, Long), (Long, Long, Long)], missing: Set[(Int, Long)])

/** Workload `kline_sync`: the paper's flagship write path. Each pass runs
  * `SyncKlines.run` for one more hour against the fixture exchange, then
  * four reads of the same sink: watermarks, the last day's hourly
  * integrity, a full-range gap scan and a 1m→1h candle rollup. */
final class KlineSync(spark: SparkSession, a: Main.Args, tracer: Tracer)
    extends Workload {
  import KlineFixture._
  import spark.implicits._

  private val (symbols, days) = if (a.tiny) (4, 1) else (30, 2)
  private val fx = KlineFixture(a.seed, symbols, days)
  private val sink = s"${a.tmp}/sink/kline_1m"
  private val Limit = 500
  private val MergeMs = 10 * M
  private val keyCols = SyncKlines.KeyCols
  private val keys: DataFrame = (0 until symbols)
    .map(i => (1.toShort, 1.toByte, fx.symbol(i)))
    .toDF("exchange_id", "inst_type", "symbol")

  /** Counters of the traced, stage-by-stage sync passes. */
  private val counters = mutable.Map[(Int, String), Double]()
  private val landed = mutable.Map[Int, Long]()

  def expect(pass: Int): KlineExpect = {
    val end = fx.endAt(pass)
    val perSym = mutable.Map[Int, (Long, Long)]()
    val perHour = mutable.Map[(Int, Long), (Long, Long, Long)]()
    val missing = mutable.Set[(Int, Long)]()
    var total = 0L
    for (i <- 0 until symbols) {
      var n = 0L
      var maxTs = 0L
      var ts = Start
      while (ts <= end) {
        if (fx.servedFrom(i, ts) <= pass) {
          n += 1
          maxTs = ts
          val (_, _, _, _, v, trades) = fx.values(i, ts)
          val hk = (i, ts / HourMs * HourMs)
          val (hn, hv, ht) = perHour.getOrElse(hk, (0L, 0L, 0L))
          perHour(hk) = (hn + 1, hv + v * 1000, ht + trades)
        } else missing += ((i, ts))
        ts += M
      }
      perSym(i) = (n, maxTs)
      total += n
    }
    KlineExpect(total, perSym.toMap, perHour.toMap, missing.toSet)
  }
  private val expects = mutable.Map[Int, KlineExpect]()
  private def expected(pass: Int) = expects.getOrElseUpdate(pass, expect(pass))

  def stage(): Unit = {
    // the seeded history: one response body per (symbol, day), normalised
    // by the same adapter and landed by the sink's cold-start write
    val f = fx
    val bodies = spark.range(symbols.toLong * days).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map { k =>
        val i = (k / f.days).toInt
        val s = Start + (k % f.days) * DayMs
        (f.symbol(i), f.body(i, s, s + DayMs - M, 0))
      }.toDF("symbol", "body")
    val rows = KlineAdapters.binance(bodies, 1, 1, M)
      .withColumn("dt_date", date_format(col("dt"), "yyyy-MM-dd"))
    UpsertSink.upsert(spark, sink, rows, keyCols :+ "ts", "ts",
      Some("dt_date"))
    val n = spark.read.parquet(sink).count()
    require(n == expected(0).count,
      s"seeded sink holds $n rows, expected ${expected(0).count}")
  }

  private def stored: DataFrame = spark.read.parquet(sink)

  private def read(rows: => Array[org.apache.spark.sql.Row])(
      check: Array[org.apache.spark.sql.Row] => Option[String]): Done = {
    val r = rows
    Done(0, 0, () => check(r))
  }

  private def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None
    else Some(s"$what: got ${got.toString.take(200)}, expected " +
      want.toString.take(200))

  def ops(pass: Int): Seq[Op] = {
    val end = fx.endAt(pass)
    // traced passes alternate the whole flow with its decomposition
    val staged = tracer.on && pass % 2 == 0
    val sync = Op(if (staged) "sync_staged" else "sync", () => {
      val before = expected(pass - 1).count
      if (!a.skipSyncPass.contains(pass)) {
        if (staged) stagedSync(pass, end)
        else SyncKlines.run(spark, sink, keys, "binance", 1, 1, M, Start,
          end, Limit, MergeMs)(fx.fetchAt(pass))
      }
      // the reads that follow check what the pass landed
      Done(0, 0, () => {
        landed(pass) = expected(pass).count - before
        None
      })
    })
    val watermarks = Op("read_watermarks", () => read(
      SyncKlines.watermarks(spark, sink).collect()) { rows =>
      val got = rows.map(r => fx.index(r.getAs[String]("symbol")) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("max_ts")))).toMap
      mismatch(s"per-symbol (rows, max_ts) after pass $pass", got,
        expected(pass).perSymbol)
    })
    val dayEnd = end + M
    val dayStart = dayEnd - DayMs
    val hourly = Op("read_hourly_status", () => read(
      CheckIntegrity.hourlyStatus(stored, keys, keyCols, "ts", dayStart,
        dayEnd, 60).collect()) { rows =>
      val got = rows.map(r => (fx.index(r.getAs[String]("symbol")),
        r.getAs[Long]("hour_ms")) -> r.getAs[Long]("n")).toMap
      val want = (for {
        i <- 0 until symbols
        hr <- dayStart until dayEnd by HourMs
      } yield (i, hr) ->
        expected(pass).perHour.get((i, hr)).map(_._1).getOrElse(0L)).toMap
      val badStatus = rows.count { r =>
        val n = r.getAs[Long]("n")
        r.getAs[String]("status") !=
          (if (n == 0) "EMPTY" else if (n < 60) "PARTIAL" else "OK")
      }
      mismatch("hourly cells", got, want)
        .orElse(mismatch("cells with a wrong status", badStatus, 0))
    })
    val gapScan = Op("read_gap_scan", () => read(
      GapEngine.gapPlan(stored.select((keyCols :+ "ts").map(col): _*), keys,
        keyCols, "ts", M, Start, end, M).collect()) { rows =>
      val got = rows.iterator.flatMap { r =>
        val i = fx.index(r.getAs[String]("symbol"))
        (r.getAs[Long]("gap_start") to r.getAs[Long]("gap_end") by M)
          .map(ts => (i, ts))
      }.toSet
      val want = expected(pass).missing
      if (got == want) None
      else Some(s"gap scan: ${(got -- want).size} minutes reported that " +
        s"are stored, ${(want -- got).size} withheld minutes not reported")
    })
    val candles = Op("read_candles_1h", () => read(
      Candles.merge(candleView(stored), HourMs).collect()) { rows =>
      val got = rows.map(r => (fx.index(r.getAs[String]("series")),
        r.getAs[Long]("bucket_ms")) -> ((r.getAs[Long]("n_trades") > 0,
        r.getAs[Long]("volume_micro"), r.getAs[Long]("n_trades")))).toMap
      val want = expected(pass).perHour.map { case (k, (n, v, t)) =>
        k -> ((n > 0, v, t)) }
      mismatch("hourly candles", got, want)
    })
    expects.remove(pass - 2)
    Seq(sync, watermarks, hourly, gapScan, candles)
  }

  /** The sink's 1m rows as mergeable 1m candles. */
  private def candleView(df: DataFrame): DataFrame = df.select(
    col("symbol").as("series"), col("ts").as("bucket_ms"),
    col("ts").as("f_ts"), lit(0L).as("f_eid"),
    (col("ts") + (M - 1)).as("l_ts"), lit(0L).as("l_eid"),
    col("open").cast("double").as("open"),
    col("close").cast("double").as("close"),
    col("high").cast("double").as("high"),
    col("low").cast("double").as("low"),
    (col("volume") * 1000000).cast("long").as("volume_micro"),
    col("count").as("n_trades"))

  /** A sync pass decomposed into the public functions the flow composes,
    * each forced and timed on its own: gaps, sources, sinks. */
  private def stagedSync(pass: Int, end: Long): Unit = {
    val fetch = fx.fetchAt(pass)
    val windows = tracer.span("gaps", "sync_staged") {
      val w = SyncKlines.fetchPlan(spark, sink, keys, M, Start, end, Limit,
        MergeMs).persist()
      val local = w.select("symbol", "req_start", "req_end")
        .as[(String, Long, Long)].collect()
      val starts = local.map(x => (x._1, x._2)).toSet
      counters((pass, "gaps.fetch_windows")) = local.length
      counters((pass, "gaps.gap_ranges")) =
        local.count(x => !starts.contains((x._1, x._2 - Limit * M)))
      w
    }
    val rows = tracer.span("sources", "sync_staged") {
      val raw = windows.repartition(col("exchange_id"))
        .select(col("symbol"), col("req_start"), col("req_end"))
        .as[(String, Long, Long)]
        .map { case (sym, s, e) => (sym, fetch(sym, s, e)) }
        .toDF("symbol", "body")
      val r = KlineAdapters.registry(("binance", 1))(raw, 1, 1, M)
        .where(col("ts").between(Start, end))
        .withColumn("dt_date", date_format(col("dt"), "yyyy-MM-dd"))
        .persist()
      counters((pass, "sources.rows_out")) = r.count().toDouble
      counters((pass, "sources.fetch_calls")) =
        counters((pass, "gaps.fetch_windows"))
      r
    }
    tracer.span("sinks", "sync_staged") {
      UpsertSink.upsert(spark, sink, rows, keyCols :+ "ts", "ts",
        Some("dt_date"))
    }
    val touched = rows.select("dt_date").distinct().as[String].collect()
    rows.unpersist(false)
    windows.unpersist(false)
    val rewritten = stored.where(col("dt_date").isin(touched: _*)).count()
    counters((pass, "sinks.partitions_touched")) = touched.length
    counters((pass, "sinks.rows_rewritten")) = rewritten.toDouble
    counters((pass, "sinks.write_amp")) = rewritten.toDouble /
      math.max(counters((pass, "sources.rows_out")), 1.0)
    counters((pass, "sinks.bytes_written_mib")) = touched.map(d =>
      parquetFiles(s"$sink/dt_date=$d").map(_._2).sum).sum / 1048576.0
  }

  /** (path, bytes) of the parquet files under `dir`. */
  private def parquetFiles(dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val out = mutable.ArrayBuffer[(String, Long)]()
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        out += ((st.getPath.toString, st.getLen))
    }
    out.toSeq
  }

  override def layerMetrics(in: LayerInput): Seq[Metric] = {
    def walls(n: String => Boolean) = in.recs.filter(r => n(r.name))
    def stageS(n: String) = in.tracer.named(n).map(_.seconds)
    def counter(n: String) = Stats.median(in.passes.flatMap(p =>
      counters.get((p, n))))
    val syncs = walls(_ == "sync")
    val files = parquetFiles(sink)
    val stageSum = Seq("gaps", "sources", "sinks")
      .map(n => Stats.median(stageS(n))).sum
    Seq(
      Metric("flows.sync_s", Stats.median(syncs.map(_.wallS)), "s"),
      Metric("flows.read_s",
        Stats.median(walls(_.startsWith("read_")).map(_.wallS)), "s"),
      Metric("flows.stage_sum_s", stageSum, "s"),
      Metric("flows.rows_upserted_per_s", Stats.median(syncs.map(r =>
        landed.getOrElse(r.pass, 0L) / math.max(r.wallS, 1e-9))), "rows/s"),
      Metric("gaps.plan_s", Stats.median(stageS("gaps")), "s"),
      Metric("sources.adapt_s", Stats.median(stageS("sources")), "s"),
      Metric("sinks.upsert_s", Stats.median(stageS("sinks")), "s"),
      Metric("sinks.files_total", files.size.toDouble, "count"),
      Metric("sinks.stored_bytes_per_row",
        files.map(_._2).sum.toDouble / math.max(stored.count(), 1L), "B")) ++
      Seq("gaps.fetch_windows", "gaps.gap_ranges", "sources.fetch_calls",
        "sources.rows_out", "sinks.partitions_touched",
        "sinks.rows_rewritten", "sinks.write_amp", "sinks.bytes_written_mib")
        .map(n => Metric(n, counter(n), Layers.catalog.toMap.apply(n)))
  }
}
