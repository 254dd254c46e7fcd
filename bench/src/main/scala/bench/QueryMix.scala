package bench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.queries.Queries

/** A workload made of declared queries (`Queries.all`) over the generated
  * tables. One op is one query to its full result: the query function is
  * called (the plan; a streaming lifecycle runs here) and its result is
  * collected, which consumes every output column. The collected rows are
  * digested after the clock stops and compared, once the timed loop is
  * over, with the digest of the query's DuckDB oracle twin. */
final class QueryMix(spark: SparkSession, workload: String, a: Main.Args,
    tracer: Tracer) extends Workload {

  private val names = QueryMix.lists(workload)
  private val fns = Queries.all.toMap
  private val digests = mutable.ArrayBuffer[(Int, String, String)]()

  def stage(): Unit = names.foreach(n =>
    require(fns.contains(n), s"query $n is not in Queries.all"))

  def ops(pass: Int): Seq[Op] = names.map { n =>
    Op(n, () => {
      val t0 = System.nanoTime()
      val df = tracer.span("plan", n)(fns(n)(spark, a.data))
      val t1 = System.nanoTime()
      val rows = tracer.span("exec", n)(df.collect())
      val t2 = System.nanoTime()
      Done((t1 - t0) / 1e9, (t2 - t1) / 1e9, () => {
        digests += ((pass, n, Digest.of(df.schema, rows)))
        None
      })
    })
  }

  /** The oracle result DuckDB wrote for `n`, digested the same way; a
    * missing result carries the oracle's error. */
  private def expected(n: String): Either[String, String] = {
    val err = new java.io.File(s"${a.oracle}/$n.err")
    if (err.exists())
      Left("oracle failed: " + scala.io.Source.fromFile(err).mkString.take(300))
    else {
      val df = spark.read.parquet(s"${a.oracle}/$n.parquet")
      val d = Digest.of(df.schema, df.collect())
      Right(if (a.corruptDigest.contains(n)) "corrupt-" + d else d)
    }
  }

  override def lateFailures(): Seq[(Int, String, String)] = {
    val want = names.map(n => n -> expected(n)).toMap
    digests.toSeq.flatMap { case (p, n, got) =>
      want(n) match {
        case Left(why) => Some((p, n, why))
        case Right(d) if d != got =>
          Some((p, n, s"digest $got differs from the oracle's $d"))
        case _ => None
      }
    }
  }

  override def layerMetrics(in: LayerInput): Seq[Metric] =
    names.flatMap { n =>
      val rs = in.recs.filter(_.name == n)
      Metric(s"q.${n}_s", Stats.median(rs.map(_.wallS)), "s") +: (
        if (!QueryMix.split.contains(n)) Nil
        else Seq(
          Metric(s"q.${n}_plan_s", Stats.median(rs.map(_.planS)), "s"),
          Metric(s"q.${n}_exec_s", Stats.median(rs.map(_.execS)), "s")))
    }
}

object QueryMix {
  val lists: Map[String, Seq[String]] = Map(
    "olap_mix" -> Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q6_forecast_revenue", "q9_product_profit", "q18_large_orders",
      "q21_waiting_supplier", "a2_integrity_hours", "a8_rollup",
      "a14_retention", "a22_retention_cohorts", "a26_active_users",
      "j1_dim_join", "j3_fullouter_merge", "j9_salted_join", "x1_asof_join",
      "x2_range_join", "w1_gap_scan", "w2_boundary_gaps", "w3_gap_islands",
      "w4_fetch_windows", "w5_rolling_stats"),
    "dedup_heavy" -> Seq(
      "d2_jaccard_pairs", "d3_minhash_lsh", "d6_simhash_pairs",
      "d15_incremental_dedup", "d20_prefix_filter_pairs",
      "d23_containment_pairs", "d24_adaptive_semdedup", "s3_ivf_ann",
      "pipe1_funnel"),
    "stream_admission" -> Seq("w16_stream_admission"))

  /** Queries whose time is also split into the function call (`_plan_s`)
    * and the collecting action (`_exec_s`): the heaviest of each list. */
  val split: Set[String] = Set("q21_waiting_supplier", "q9_product_profit",
    "d15_incremental_dedup", "d20_prefix_filter_pairs",
    "w16_stream_admission", "w20_vector_admission")

  /** The per-query metrics of `workload`'s traced run. */
  def layerCatalog(workload: String): Seq[(String, String)] =
    lists.getOrElse(workload, Nil).flatMap { n =>
      (s"q.${n}_s" -> "s") +: (if (split.contains(n))
        Seq(s"q.${n}_plan_s" -> "s", s"q.${n}_exec_s" -> "s") else Nil)
    }
}
