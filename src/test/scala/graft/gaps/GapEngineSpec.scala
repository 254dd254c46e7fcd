package graft.gaps

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.flows.SyncKlines

class GapEngineSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Ivl = 100L // toy grid

  private def present(rows: Seq[(String, Long)]): DataFrame =
    rows.toDF("k", "ts")

  private type Key = (Short, Byte, String)
  private val Keys = SyncKlines.KeyCols

  /** The specification `gapPlan` is held to: W1 ∪ W2 → W3 composed from
    * the one-operator forms over the in-range rows. */
  private def composed(df: DataFrame, allKeys: DataFrame, start: Long,
      end: Long, mergeWithinMs: Long): DataFrame = {
    val d = df.where(col("ts").between(start, end))
    GapEngine.mergeRanges(
      GapEngine.interiorGaps(d, Keys, "ts", Ivl).unionByName(
        GapEngine.boundaryGaps(d, allKeys, Keys, "ts", Ivl, start, end)),
      Keys, mergeWithinMs)
  }

  private def gapRows(df: DataFrame): Seq[(Key, Long, Long)] =
    df.as[(Short, Byte, String, Long, Long)].collect().toSeq
      .map { case (x, i, sym, s, e) => ((x, i, sym), s, e) }
      .sortBy(_.toString)

  private def facts(rows: Seq[(Key, Long)]): DataFrame =
    rows.map { case ((x, i, sym), ts) => (x, i, sym, ts) }
      .toDF("exchange_id", "inst_type", "symbol", "ts")

  private def keyFrame(ks: Seq[Key]): DataFrame =
    ks.toDF("exchange_id", "inst_type", "symbol")

  test("interiorGaps finds exactly the holes") {
    val df = present(Seq("a" -> 0L, "a" -> 100L, "a" -> 400L, "a" -> 500L,
      "b" -> 0L, "b" -> 100L))
    val gaps = GapEngine.interiorGaps(df, Seq("k"), "ts", Ivl)
      .as[(String, Long, Long)].collect().toSet
    assert(gaps == Set(("a", 200L, 300L)))
  }

  test("boundaryGaps covers head, tail, and empty keys") {
    val df = present(Seq("a" -> 200L, "a" -> 300L))
    val keys = Seq("a", "zzz").toDF("k")
    val gaps = GapEngine.boundaryGaps(df, keys, Seq("k"), "ts", Ivl, 0L, 500L)
      .as[(String, Long, Long)].collect().toSet
    assert(gaps == Set(
      ("a", 0L, 100L),      // head
      ("a", 400L, 500L),    // tail
      ("zzz", 0L, 500L)))   // whole range for absent key
  }

  test("mergeRanges coalesces close gaps") {
    val gaps = Seq(("a", 0L, 100L), ("a", 300L, 400L), ("a", 2000L, 2100L))
      .toDF("k", "gap_start", "gap_end")
    val merged = GapEngine.mergeRanges(gaps, Seq("k"), 500L)
      .as[(String, Long, Long)].collect().toSet
    assert(merged == Set(("a", 0L, 400L), ("a", 2000L, 2100L)))
  }

  test("property: filling reported gaps closes the scan (backfill closure)") {
    val rnd = new scala.util.Random(7)
    val cases: Seq[List[Long]] = Seq.fill(12)(
      List.fill(rnd.nextInt(20))(rnd.nextLong(41L) * Ivl).distinct) :+
      List.empty[Long] :+ 0L.to(4000L, Ivl).toList
    cases.foreach { pts =>
      val start = 0L
      val end = 4000L
      val df = present(pts.map("k" -> _))
      val keys = Seq("k").toDF("k")
      val plan = GapEngine.gapPlan(df, keys, Seq("k"), "ts", Ivl,
        start, end, Ivl) // merge adjacent
      val gaps = plan.as[(String, Long, Long)].collect()
      // expand gaps onto the grid and union with the present points
      val filled = gaps.flatMap { case (_, s, e) => s.to(e, Ivl) } ++ pts
      val refilled = present(filled.distinct.map("k" -> _))
      val after = GapEngine.gapPlan(refilled, keys, Seq("k"), "ts", Ivl,
        start, end, Ivl).count()
      assert(after == 0, s"pts=$pts gaps=${gaps.mkString(",")}")
      // gaps cover exactly the missing grid points
      val covered = filled.distinct.sorted.toList
      assert(covered == start.to(end, Ivl).toList.sorted, s"pts=$pts")
    }
  }

  test("property: merged gaps are disjoint, ordered, within span") {
    val rnd = new scala.util.Random(11)
    val cases: Seq[List[(Long, Long)]] = Seq.fill(12)(
      List.fill(rnd.nextInt(15)) {
        val s = rnd.nextLong(51L)
        val len = rnd.nextLong(6L)
        (s * Ivl, (s + len) * Ivl)
      })
    cases.foreach { ranges =>
      val gaps = ranges.map { case (s, e) => ("k", s, e) }
        .toDF("k", "gap_start", "gap_end")
      val merged = GapEngine.mergeRanges(gaps, Seq("k"), 2 * Ivl)
        .as[(String, Long, Long)].collect().sortBy(_._2)
      // pairwise disjoint with at least mergeWithin separation
      merged.sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) => assert(s2 - e1 >= 2 * Ivl)
        case _ =>
      }
      if (ranges.nonEmpty) {
        assert(merged.head._2 == ranges.map(_._1).min)
        assert(merged.map(_._3).max == ranges.map(_._2).max)
      }
    }
  }

  test("fetchWindows paginates a gap into limit-sized requests") {
    val gaps = Seq(("a", 0L, 950L)).toDF("k", "gap_start", "gap_end")
    val wins = GapEngine.fetchWindows(gaps, Seq("k"), Ivl, 3)
      .select($"k", $"req_start", $"req_end")
      .as[(String, Long, Long)].collect().sortBy(_._2)
    // step = 300; windows [0,200],[300,500],[600,800],[900,950]
    assert(wins.toList == List(("a", 0L, 200L), ("a", 300L, 500L),
      ("a", 600L, 800L), ("a", 900L, 950L)))
  }

  test("property: fused gapPlan equals mergeRanges(interior ∪ boundary)") {
    val rnd = new scala.util.Random(23)
    val start = 1000L
    val end = start + 40 * Ivl
    val universe: Seq[Key] = Seq((1, 1, "a"), (1, 1, "b"), (1, 2, "a"),
      (2, 1, "a"), (2, 2, "c"), (1, 1, "d"), (3, 1, "e"))
      .map { case (x, i, sym) => (x.toShort, i.toByte, sym) }
    // the first four keys take one role each, the rest draw one
    val roles = Seq("both", "dfOnly", "allOnly", "none")
    def point(): Long = rnd.nextInt(10) match {
      case 0 => start - Ivl * (1 + rnd.nextInt(5)) // before the range
      case 1 => end + Ivl * (1 + rnd.nextInt(5))   // after the range
      case 2 => start + Ivl * rnd.nextInt(41) + 1 + rnd.nextInt(99) // off-grid
      case _ => start + Ivl * rnd.nextInt(41)
    }
    val cases = (0 until 12).map { c =>
      val role = universe.zipWithIndex.map { case (k, i) =>
        k -> (if (i < roles.size) roles((i + c) % roles.size)
              else roles(rnd.nextInt(roles.size)))
      }
      val rows = role.collect { case (k, r) if r == "both" || r == "dfOnly" =>
        val pts = Seq.fill(rnd.nextInt(25))(point())
        (pts ++ pts.take(rnd.nextInt(3))).map(k -> _) // duplicate ts
      }.flatten
      val active = role.collect { case (k, r) if r == "both" || r == "allOnly" =>
        Seq.fill(1 + rnd.nextInt(3))(k) // duplicate rows in allKeys
      }.flatten
      (rows, active, Seq(0L, Ivl, 10 * Ivl)(c % 3))
    } ++ Seq(0L, Ivl, 10 * Ivl).map(mw => // an empty df
      (Seq.empty[(Key, Long)], universe.take(3) :+ universe.head, mw)
    ) ++ Seq(0L, Ivl, 2 * Ivl, 10 * Ivl).map { mw =>
      // holes at grid steps 1-2, 12, 14, 25: consecutive gaps lie exactly
      // 10·ivl and 2·ivl apart, on W3's island boundary
      val holes = Set(1, 2, 12, 14, 25)
      ((0 to 40).filterNot(holes).map(i => universe.head -> (start + i * Ivl)),
        Seq(universe.head), mw)
    }
    cases.foreach { case (rows, active, mw) =>
      val df = facts(rows)
      val all = keyFrame(active)
      val got = gapRows(
        GapEngine.gapPlan(df, all, Keys, "ts", Ivl, start, end, mw))
      val want = gapRows(composed(df, all, start, end, mw))
      val ctx = s"mw=$mw rows=$rows active=$active"
      assert(got == want, ctx)
      val withFacts = rows.filter(r => r._2 >= start && r._2 <= end)
      // keys only in allKeys get the whole-range gap and nothing else
      active.distinct.filterNot(k => withFacts.exists(_._1 == k)).foreach {
        k => assert(got.filter(_._1 == k) == Seq((k, start, end)), ctx)
      }
      // keys only in df get interior gaps only: inside their fact extent
      withFacts.map(_._1).distinct.filterNot(active.contains).foreach { k =>
        val ts = withFacts.filter(_._1 == k).map(_._2)
        got.filter(_._1 == k).foreach { case (_, s, e) =>
          assert(s > ts.min && e < ts.max, ctx)
        }
      }
    }
  }

  test("fused gapPlan matches the composition on a null key component") {
    // SQL NULL = NULL is not true, so the composition's key join never
    // matches a null key: it gets the whole-range gap next to its interior
    // gaps, however many facts it has
    val nk: Key = (1.toShort, 1.toByte, null)
    val ok: Key = (1.toShort, 1.toByte, "a")
    val df = facts(Seq(0L, 100L, 400L, 500L, 900L).flatMap(t =>
      Seq(nk -> t, ok -> t)))
    val all = keyFrame(Seq(nk, nk, ok))
    Seq(0L, Ivl, 10 * Ivl).foreach { mw =>
      assert(gapRows(GapEngine.gapPlan(df, all, Keys, "ts", Ivl, 0L, 1000L,
        mw)) == gapRows(composed(df, all, 0L, 1000L, mw)), s"mw=$mw")
    }
  }

  test("structure: gapPlan is one fact scan, one shuffle, no window") {
    val path = Files.createTempDirectory("gapplan").toString + "/facts"
    val k: Key = (1.toShort, 1.toByte, "a")
    facts(Seq(0L, 100L, 400L, 500L).map(k -> _)).write.parquet(path)
    val df = spark.read.parquet(path)
    val all = keyFrame(Seq(k, (1.toShort, 1.toByte, "b")))
    def shape(plan: DataFrame): (Int, Int, Int) = {
      plan.collect()
      val p = plan.queryExecution.executedPlan
      (collect(p) { case s: FileSourceScanExec => s }.size,
        collect(p) { case e: ShuffleExchangeLike => e }.size,
        collect(p) { case w: WindowExec => w }.size)
    }
    assert(shape(GapEngine.gapPlan(df, all, Keys, "ts", Ivl, 0L, 1000L,
      Ivl)) == ((1, 1, 0)))
    // the count sees a split plan: the composition rescans and windows
    val (scans, shuffles, windows) = shape(composed(df, all, 0L, 1000L, Ivl))
    assert(scans > 1 && shuffles > 1 && windows > 0,
      s"composition: $scans scans, $shuffles shuffles, $windows windows")
  }
}
