package bench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it, stages the inputs of a
  * workload and starts it; it runs one workload closed-loop (one client,
  * `local[nproc]`), checks every op's output and prints one
  * `BENCH_RESULT {json}` line last.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`,
  * plus the paths `run.py` prepared: `--tmp` (the run's temp root),
  * `--data` (generated tables), `--oracle` (DuckDB oracle results) and
  * `--launched-ms` (when `run.py` started the JVM). `--tiny`,
  * `--corrupt-digest <op>` and `--skip-sync-pass <n>` exist only for the
  * benchmark's self-test.
  */
object Main {

  val WarmupPasses = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tmp: String, data: String, oracle: String,
      launchedMs: Long, tiny: Boolean, corruptDigest: Option[String],
      skipSyncPass: Option[Int])

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("tmp"), kv.getOrElse("data", ""),
      kv.getOrElse("oracle", ""),
      kv.get("launched-ms").map(_.toLong).getOrElse(
        ManagementFactory.getRuntimeMXBean.getStartTime),
      kv.get("tiny").contains("1"), kv.get("corrupt-digest"),
      kv.get("skip-sync-pass").map(_.toInt))
  }

  /** The session `graft.Verify` builds (the configuration the oracle gate
    * certifies) at `local[nproc]`; only the temp locations differ. */
  def session(cores: Int, tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$tmp/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMiB(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def loadAvg(): String =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, a.tmp)
    val loadBefore = loadAvg()
    val sqlConf = spark.conf.getAll.filter(_._1.startsWith("spark.sql."))
    println("BENCH_AUDIT " + Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "cores" -> cores.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "spark" -> Json.str(spark.version),
      "java" -> Json.str(System.getProperty("java.runtime.version")),
      "loadavg_before" -> Json.str(loadBefore),
      "sql_conf" -> Json.obj(sqlConf.toSeq.sorted.map {
        case (k, v) => k -> Json.str(v) }))))

    val tracer = new Tracer
    val wl: Workload = a.workload match {
      case "kline_sync" => new KlineSync(spark, a, tracer)
      case w if QueryMix.lists.contains(w) =>
        new QueryMix(spark, w, a, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val sessionMs = System.currentTimeMillis()
    wl.stage()
    val stagedMs = System.currentTimeMillis()

    val recs = new ArrayBuffer[OpRec]()
    val passCpu = scala.collection.mutable.Map[Int, Double]()
    def runPass(pass: Int): Unit = {
      var cpu = 0L
      wl.ops(pass).foreach { op =>
        tracer.opId = s"p$pass/${op.name}"
        val c0 = cpuNs()
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val done = try Right(tracer.span("op")(op.run()))
        catch { case NonFatal(e) => Left(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        cpu += cpuNs() - c0
        spark.sharedState.cacheManager.clearCache()
        val rec = done match {
          case Right(d) =>
            val verdict = try d.check()
            catch { case NonFatal(e) => Some(s"check threw: $e") }
            OpRec(pass, op.name, wall, d.planS, d.execS, verdict, startMs,
              endMs)
          case Left(e) =>
            OpRec(pass, op.name, wall, 0, 0,
              Some(s"op threw: ${e.toString.take(400)}"), startMs, endMs)
        }
        rec.failure.foreach(f =>
          println(s"BENCH_FAIL pass=$pass op=${op.name}: $f"))
        recs += rec
      }
      passCpu(pass) = cpu / 1e9
    }

    // the first passes warm the JIT and the caches (the first pass runs at
    // 2-5x the steady pass time, the second ~1.3x); their time is part of
    // set-up
    (1 to WarmupPasses).foreach(runPass)
    val setupS = (System.currentTimeMillis() - a.launchedMs) / 1000.0
    println("BENCH_AUDIT " + Json.obj(Seq(
      "session_s" -> Json.num((sessionMs - a.launchedMs) / 1000.0),
      "stage_s" -> Json.num((stagedMs - sessionMs) / 1000.0),
      "warmup_s" -> Json.num(setupS - (stagedMs - a.launchedMs) / 1000.0),
      "setup_s" -> Json.num(setupS))))

    val sparkTrace = new SparkTrace
    val streamTrace = new StreamTrace
    var pass = WarmupPasses + 1
    def loop(seconds: Double, minPasses: Int): Seq[Int] = {
      val t0 = System.nanoTime()
      val done = ArrayBuffer[Int]()
      while (done.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        runPass(pass)
        done += pass
        pass += 1
      }
      done.toSeq
    }
    val (plain, traced) =
      if (!a.trace) (loop(a.seconds, 1), Seq.empty[Int])
      else {
        // the traced run first measures untraced passes, so the tracing
        // overhead is a same-process difference
        val p = loop(a.seconds / 2, 1)
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        spark.sparkContext.addSparkListener(sparkTrace)
        spark.streams.addListener(streamTrace)
        tracer.on = true
        val t = loop(a.seconds / 2, 2)
        tracer.on = false
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(sparkTrace)
        spark.streams.removeListener(streamTrace)
        (p, t)
      }

    val loopEndMs = System.currentTimeMillis()
    val late = wl.lateFailures()
    late.foreach { case (p, n, why) =>
      println(s"BENCH_FAIL pass=$p op=$n: $why") }
    val failedKeys = recs.filter(_.failure.nonEmpty).map(r => (r.pass, r.name))
      .toSet ++ late.map(l => (l._1, l._2))

    def passWall(ps: Seq[Int]): Seq[Double] =
      ps.map(p => recs.filter(_.pass == p).map(_.wallS).sum)
    val timed = recs.filter(r => plain.contains(r.pass)).toSeq
    val metrics = ArrayBuffer[Metric]()
    if (!a.trace) {
      metrics += Metric("setup_s", setupS, "s")
      metrics += Metric("pass_s", Stats.median(passWall(plain)), "s")
      metrics += Metric("op_s_p50", Stats.median(timed.map(_.wallS)), "s")
    } else {
      val in = LayerInput(recs.filter(r => traced.contains(r.pass)).toSeq,
        traced, tracer)
      val computed = Layers.spark(in, sparkTrace, cores) ++
        Layers.streaming(streamTrace, sparkTrace, traced.size) ++
        wl.layerMetrics(in) :+
        Metric("process.cpu_s_per_pass", Stats.median(traced.map(passCpu)),
          "s") :+
        Metric("trace.overhead_s", Stats.median(passWall(traced)) -
          Stats.median(passWall(plain)), "s")
      metrics ++= Layers.complete(a.workload, computed)
    }

    printSummary(recs.toSeq)
    println("BENCH_AUDIT " + Json.obj(Seq(
      "loadavg_after" -> Json.str(loadAvg()),
      "loop_end_s" -> Json.num((loopEndMs - a.launchedMs) / 1000.0),
      "result_s" -> Json.num((System.currentTimeMillis() - a.launchedMs) / 1000.0),
      "passes_timed" -> plain.size.toString,
      "pass_walls_s" -> passWall(1 to pass - 1)
        .map(w => f"$w%.3f").mkString("[", ", ", "]"),
      "fail_ratio" -> Json.num(failedKeys.size.toDouble / recs.size),
      "peak_rss_mib" -> Json.num(peakRssMiB()),
      "passes_traced" -> traced.size.toString)))
    println("BENCH_RESULT " + Json.obj(Seq(
      "correct" -> failedKeys.isEmpty.toString,
      "attempted" -> recs.size.toString,
      "failed" -> failedKeys.size.toString,
      "metrics" -> Json.obj(metrics.toSeq.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    spark.stop()
    System.exit(if (failedKeys.isEmpty) 0 else 1)
  }

  private def printSummary(recs: Seq[OpRec]): Unit = {
    val names = recs.map(_.name).distinct
    names.foreach { n =>
      val rs = recs.filter(r => r.name == n && r.pass > WarmupPasses)
      val walls = rs.map(_.wallS)
      println(f"BENCH_OP $n%-28s n=${rs.size}%3d " +
        f"p50=${Stats.median(walls)}%8.3fs min=${walls.minOption.getOrElse(0.0)}%8.3fs " +
        f"max=${walls.maxOption.getOrElse(0.0)}%8.3fs")
    }
  }
}

/** Minimal JSON rendering; values arrive already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
