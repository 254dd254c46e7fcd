package graft

import org.apache.spark.sql.SparkSession

/** Fixture REST endpoint for the flow demo (top level so executor closures
  * don't capture the driver object). */
object DemoFixtures {
  def serve(sym: String, s: Long, e: Long): String =
    (s to e by 60000L).map { ts =>
      s"""[$ts,"100.1","101.2","99.3","100.5","7.5",${ts + 59999},"750.0",42,"1","1","0"]"""
    }.mkString("[", ",", "]")
}

/** Local profiling scratchpad — not part of the driver contract. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // mirror Bench's AQE posture so isolated profiles match the bench
      // (see the rationale comments in Bench.scala)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_AQE_CACHED_REPARTITION", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"TIMER $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    args.headOption match {
      case Some("flow") =>
        // end-to-end sync_klines demo: cold-start backfill from a fixture
        // endpoint, then show watermarks and a closed gap scan
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val M = 60000L
        val start = 1704067200000L
        val end = start + 119 * M
        val sink = java.nio.file.Files.createTempDirectory("flowdemo")
          .toString + "/kline_1m"
        val keys = Seq((1.toShort, 1.toByte, "BTCUSDT"),
          (1.toShort, 1.toByte, "ETHUSDT"))
          .toDF("exchange_id", "inst_type", "symbol")
        flows.SyncKlines.run(spark, sink, keys, "binance", 1, 1, M,
          start, end, limit = 50, mergeWithinMs = M)(
          graft.DemoFixtures.serve)
        println("WATERMARKS:")
        flows.SyncKlines.watermarks(spark, sink).show(false)
        val gapsAfter = gaps.GapEngine.gapPlan(
          spark.read.parquet(sink).select($"exchange_id", $"inst_type",
            $"symbol", $"ts"),
          keys, flows.SyncKlines.KeyCols, "ts", M, start, end, M).count()
        println(s"GAPS AFTER BACKFILL: $gapsAfter")
        println(s"SINK ROWS: ${spark.read.parquet(sink).count()}")
      case Some("flows") =>
        // drive symbols/sentiment/kalshi/onchain flows with inline fixtures
        import spark.implicits._
        val base = java.nio.file.Files.createTempDirectory("flowsdemo").toString
        val info =
          """{"symbols":[{"symbol":"BTCUSDT","baseAsset":"BTC","quoteAsset":"USDT",
            |"status":"TRADING","contractType":"PERPETUAL","pricePrecision":2,
            |"quantityPrecision":3,"filters":[
            |{"filterType":"PRICE_FILTER","tickSize":"0.01000000"},
            |{"filterType":"LOT_SIZE","stepSize":"0.00100000"}]}]}"""
            .stripMargin.replace("\n", "")
        flows.SyncSymbols.run(spark, s"$base/dim",
          Seq(("x", info)).toDF("symbol", "body"), 1, 1)
        println("DIM:"); spark.read.parquet(s"$base/dim").show(false)
        val kinfo =
          """{"result":{"XXBTZUSD":{"altname":"XBTUSD","base":"XXBT","quote":"ZUSD",
            |"status":"online","tick_size":"0.1","lot_multiplier":1.0,
            |"lot_decimals":8,"pair_decimals":1}}}""".stripMargin.replace("\n", "")
        println("KRAKEN SYMBOLS:")
        flows.SyncSymbols.krakenSymbols(
          Seq(("x", kinfo)).toDF("symbol", "body"), 5, 0).show(false)
        def lsr(ts: Long, l: String, sh: String) =
          s"""[{"symbol":"BTCUSDT","longAccount":"$l","shortAccount":"$sh","timestamp":$ts}]"""
        flows.SyncSentiment.run(spark, s"$base/sent",
          Seq(("BTCUSDT", lsr(1704067200000L, "0.6", "0.4"))).toDF("symbol", "body"),
          Seq(("BTCUSDT", lsr(1704067200000L, "0.7", "0.3"))).toDF("symbol", "body"),
          Seq(("BTCUSDT", lsr(1704067500000L, "0.5", "0.5"))).toDF("symbol", "body"),
          1, 1)
        println("SENTIMENT:"); spark.read.parquet(s"$base/sent").show(false)
        val markets = Seq(
          (1704067200000L, "KXBTC-24DEC", "M1", 1, 55, 60, 65, 30, 40, 1000L, 500L, 1500L),
          (1704067200000L, "OTHER-X", "M2", 4, 55, 60, 65, 30, 40, 1000L, 500L, 400L))
          .toDF("updated_ts", "event_ticker", "ticker", "status", "last_price",
            "yes_bid", "yes_ask", "no_bid", "no_ask", "liquidity", "volume",
            "open_interest")
        flows.SyncKalshi.run(spark, s"$base/kmeta", s"$base/ksnap", markets)
        println("KALSHI META rows: " +
          spark.read.parquet(s"$base/kmeta").count())
        println("KALSHI SNAPSHOT:"); spark.read.parquet(s"$base/ksnap").show(false)
        val ts = "1704067200123"
        val enc = functions.TagCrypto.encryptTag("Binance Cold", ts)
        val txb =
          """{"data":{"hits":[{"chain":"ETH","txHash":"0xabc","fromAddress":"0xf1",
            |"toAddress":"0xt1","tokenSymbol":"ETH","tokenContractAddress":null,
            |"value":5000.0,"price":2000.0,"valueUsd":1.0E7,"timestamp":1704067200000}]}}"""
            .stripMargin.replace("\n", "")
        val tagb =
          s"""{"data":{"ETH":{"0xt1":{"entityTag":"$enc","hoverEntityTag":null,
             |"tokenTag":null,"entityTags":[]}}}}""".stripMargin.replace("\n", "")
        flows.SyncOnchain.run(spark, s"$base/onchain",
          Seq(txb).toDF("body"), Seq((ts, tagb)).toDF("ts", "body"))
        println("ONCHAIN:"); spark.read.parquet(s"$base/onchain").show(false)
        // integrity scan + archive repair
        val T0 = 1704067200000L; val H = 3600000L
        val facts = Seq(("A", T0 + 1, 1.0), ("A", T0 + 2, 2.0), ("A", T0 + 3, 3.0))
          .toDF("sym", "ts", "v")
        graft.sinks.UpsertSink.upsert(spark, s"$base/facts", facts,
          Seq("sym", "ts"), "ts")
        val status = flows.CheckIntegrity.hourlyStatus(
          spark.read.parquet(s"$base/facts"), Seq("A").toDF("sym"),
          Seq("sym"), "ts", T0, T0 + 2 * H, 3)
        println("INTEGRITY:"); status.show(false)
        val archive = Seq(("A", T0 + H + 7, 7.0), ("A", T0 + H + 8, 8.0),
          ("A", T0 + H + 9, 9.0)).toDF("sym", "ts", "v")
        flows.CheckIntegrity.repairFromArchive(spark, s"$base/facts", archive,
          flows.CheckIntegrity.deficientHours(status), Seq("sym"), "ts")
        // funding settlement: J4 lookup + P11 interval snap
        val fh = """[{"symbol":"BTCUSDT","fundingTime":1704067200000,"fundingRate":"0.0001"}]"""
        val fi = """[{"symbol":"BTCUSDT","fundingIntervalHours":8,"adjustedFundingRateCap":"0.02","adjustedFundingRateFloor":"-0.02"}]"""
        flows.SyncFunding.run(spark, s"$base/funding",
          Seq(fh).toDF("body"), Seq(fi).toDF("body"), 1, 1)
        println("FUNDING:"); spark.read.parquet(s"$base/funding").show(false)
        // watermarked live window view over a file-drop kline stream
        val wbase = java.nio.file.Files.createTempDirectory("wdemo")
        java.nio.file.Files.createDirectories(wbase.resolve("drop"))
        def kb(ts2: Long, c: String) =
          s"""BTCUSDT\t[[$ts2,"1","2","0.5","$c","10",${ts2 + 59999},"15",7,"1","1","0"]]"""
        java.nio.file.Files.write(wbase.resolve("drop/a.txt"),
          Seq(kb(T0, "1.5"), kb(T0 + 60000, "2.5"), kb(T0 + 1200000, "9.9"))
            .mkString("\n").getBytes)
        val wq = streaming.KlineStream.liveWindowQuery(spark,
          wbase.resolve("drop").toString, wbase.resolve("ckpt").toString,
          wbase.resolve("sink").toString, "binance", 1, 1, 60000L,
          "5 minutes", "1 minute",
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        wq.awaitTermination(120000)
        java.nio.file.Files.write(wbase.resolve("drop/b.txt"),
          kb(T0 + 2400000, "5.0").getBytes)
        val wq2 = streaming.KlineStream.liveWindowQuery(spark,
          wbase.resolve("drop").toString, wbase.resolve("ckpt").toString,
          wbase.resolve("sink").toString, "binance", 1, 1, 60000L,
          "5 minutes", "1 minute",
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        wq2.awaitTermination(120000)
        println("LIVE WINDOWS:")
        spark.read.parquet(wbase.resolve("sink").toString)
          .orderBy("w_start").show(false)
        println("DEFICIENT AFTER REPAIR: " +
          flows.CheckIntegrity.deficientHours(flows.CheckIntegrity.hourlyStatus(
            spark.read.parquet(s"$base/facts"), Seq("A").toDF("sym"),
            Seq("sym"), "ts", T0, T0 + 2 * H, 3)).count())
      case Some("scale") =>
        // scale-headroom probe: replicate lineitem in-memory and watch the
        // q1 aggregation throughput hold as rows grow 1x -> 16x
        import org.apache.spark.sql.functions._
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        def agg(df: org.apache.spark.sql.DataFrame): Long = df
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")), sum(col("l_extendedprice")),
            avg(col("l_discount")), count(lit(1)))
          .count()
        for (k <- Seq(1, 4, 16)) {
          val big = Seq.fill(k)(li).reduce(_ unionByName _)
          val rows = big.count()
          val t0 = System.nanoTime()
          agg(big)
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"SCALE x$k%-3d rows=$rows%10d  q1agg=${dt}%6.2f s  " +
            f"${rows / dt / 1e6}%8.2f M rows/s")
        }
      case Some("scale2") =>
        // Scale-headroom probe for the HEAVY SHUFFLE paths (d3/d6/d7/s2):
        // replicate documents/embeddings and watch wall time grow
        // sub-quadratically. Two realism fixes over naive replication:
        //  - each doc replica gets a DISJOINT token namespace (every token
        //    prefixed r<i>_) — a real 16x corpus is not 16 near-copies of
        //    itself; prefixing keeps vocabulary scaling Heaps-ish and output
        //    linear, so the probe measures the shuffle paths, not an
        //    unrepresentative cross-replica pair explosion;
        //  - every doc gains one UNIQUE token (z<doc_id>) so the corpus
        //    vocabulary exceeds 62 distinct tokens at EVERY scale — pinning
        //    d3 to its general (unbounded-vocab) path. Without it the x1 run
        //    rides the 64-bit-mask small-vocab fast path while x4/x16 take
        //    the general path, and the ratio compares different algorithms.
        // env: SPARK_GRAFT_SCALES (default "1,4,16"),
        //      SPARK_GRAFT_SCALE_OPS (default "d3,d6,d7,s2") — lets long
        //      scales run as separate bounded commands.
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
          .split(",").map(_.trim.toInt).toSeq
        val ops = sys.env.getOrElse("SPARK_GRAFT_SCALE_OPS", "d3,d6,d7,s2")
          .split(",").map(_.trim).toSet
        val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
        val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val nDocs = docs0.count(); val nVecs = emb0.count()
        def bigDocs(k: Int) = (0 until k).map { i =>
          docs0.select((col("doc_id") + lit(i * nDocs)).as("doc_id"),
            concat(regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1"),
              lit(" z"), col("doc_id") + lit(i * nDocs)).as("text"),
            col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
        def bigEmb(k: Int) = (0 until k).map { i =>
          emb0.select((col("vec_id") + lit(i * nVecs)).as("vec_id"),
            col("embedding"), col("label"))
        }.reduce(_ unionByName _)
        val times = scala.collection.mutable.Map[String, Double]()
        def timed(name: String)(f: => Long): Unit = {
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          val n = f
          val dt = (System.nanoTime() - t0) / 1e9
          times(name) = dt
          println(f"TIMER $name%-10s ${dt}%8.2f s  rows=$n")
        }
        for (k <- scales) {
          val docs = bigDocs(k); val emb = bigEmb(k)
          if (ops("d3")) timed(s"d3_x$k")(operators.Dedup.minhashDupPairs(
            docs, "doc_id", "text", 16, 4, 0.6).count())
          if (ops("d6")) timed(s"d6_x$k")(operators.Dedup.simhashDupPairs(
            docs, "doc_id", "text", bands = 6, maxHamming = 18).count())
          if (ops("d7")) timed(s"d7_x$k")(operators.Decontaminate.contaminatedDocs(
            docs.where(col("doc_id") % 29 =!= 0),
            docs.where(col("doc_id") % 29 === 0),
            "doc_id", "text", k = 3).count())
          if (ops("s2")) timed(s"s2_x$k")(operators.Similarity.lshTopK(emb,
            emb0.where(col("vec_id") < 8), "vec_id", "embedding",
            3, 8, 64).count())
          if (ops("d9")) timed(s"d9_x$k") {
            val pairs = operators.Dedup.jaccardDupPairs(docs, "doc_id",
              "text", Seq("lang", "source"), 0.8)
            operators.Components.connectedComponents(docs, "doc_id",
              pairs, "id_a", "id_b").count()
          }
          // d10: replicas share the 8 fixed centroids, so cells grow k×
          // (pair space k² within the original corpus slice is the honest
          // stressor — replicas are near-copies in embedding space)
          if (ops("d10")) timed(s"d10_x$k") {
            val cents = operators.Similarity.collectCentroids(
              emb0.where(col("vec_id") < 8), "vec_id", "embedding")
            operators.Similarity.semanticDedup(emb, "vec_id", "embedding",
              cents, 0.4).count()
          }
          // s11: the RDD Lloyd loop — rounds are data-size-independent in
          // NUMBER; wall should grow ~linearly with the pinned vector set
          if (ops("s11")) timed(s"s11_x$k") {
            val init = operators.Similarity.collectCentroids(
              emb0.where(col("vec_id") < 8), "vec_id", "embedding")
            operators.Similarity.kmeans(emb, "vec_id", "embedding", init,
              maxIters = 12, dim = 64).length.toLong
          }
          // s13: IVF-PQ — corpus k×, query set and cell count fixed, so the
          // candidate space per query grows k× (cells fatten); wall should
          // track the encode scan ~linearly, never the corpus×queries product
          if (ops("s13")) timed(s"s13_x$k") {
            val cents = operators.Similarity.collectCentroids(
              emb0.where(col("vec_id") < 8), "vec_id", "embedding")
            operators.Similarity.ivfPqTopK(emb,
              emb0.where(col("vec_id") < 8), cents, "vec_id", "embedding",
              k = 5, m = 8, dim = 64, nprobe = 2).count()
          }
        }
        for (q <- Seq("d3", "d6", "d7", "s2", "d9", "d10", "s11", "s13")
             if times.contains(s"${q}_x${scales.max}") &&
               times.contains(s"${q}_x${scales.min}") && scales.max > scales.min) {
          val growth = scales.max.toDouble / scales.min
          val r = times(s"${q}_x${scales.max}") / times(s"${q}_x${scales.min}")
          val verdict = if (r < growth * growth) "SUBQUADRATIC" else "SUPERLINEAR!"
          println(f"SCALE $q%-4s x${scales.max}/x${scales.min} = ${r}%6.2f  " +
            f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
        }
      case Some("scale3") =>
        // 16x probes for the round-6 newcomers (VERDICT r6 #4): q21's
        // two-level countDistinct profile, t13's in-plan rate derivation,
        // a14's user-grain aggs + days² rollup, s14's recall eval (the
        // ground-truth crossJoin side is QUERY-BATCH-sized — prove the
        // corpus side scales linearly), and pipe2's cross-batch state
        // (per-delivery cost must track the DELIVERY, not the accumulated
        // store, thanks to fp-prefix partition pruning).
        // env: SPARK_GRAFT_SCALES (default "1,4,16"),
        //      SPARK_GRAFT_SCALE_OPS (default "q21,t13,a14,s14,pipe2")
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
          .split(",").map(_.trim.toInt).toSeq
        val ops = sys.env.getOrElse("SPARK_GRAFT_SCALE_OPS",
          "q21,t13,a14,s14,pipe2").split(",").map(_.trim).toSet
        val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val ord0 = spark.read.parquet(s"$sfDir/orders.parquet")
        val sup0 = spark.read.parquet(s"$sfDir/supplier.parquet")
        val ev0 = Tables.events(spark, sfDir)
        val docs0 = Tables.documents(spark, sfDir)
        val emb0 = Tables.embeddings(spark, sfDir)
        // disjoint key spans per replica; suppliers/queries stay FIXED (a
        // bigger corpus does not mean more suppliers or more ANN queries)
        val okSpan = li0.agg(max(col("l_orderkey"))).head.getLong(0) + 1
        val uidSpan = ev0.agg(max(col("user_id"))).head.getLong(0) + 1
        val didSpan = docs0.agg(max(col("doc_id"))).head.getLong(0) + 1
        val vidSpan = emb0.agg(max(col("vec_id"))).head.getLong(0) + 1
        def rep(df: org.apache.spark.sql.DataFrame, key: String, span: Long,
            k: Int) = (0 until k).map(i =>
          df.withColumn(key, col(key) + lit(i * span))).reduce(_ unionByName _)
        val times = scala.collection.mutable.Map[String, Double]()
        def timed(name: String)(f: => Long): Unit = {
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          val n = f
          val dt = (System.nanoTime() - t0) / 1e9
          times(name) = dt
          println(f"TIMER $name%-10s ${dt}%8.2f s  rows=$n")
        }
        for (k <- scales) {
          // q21 shape on a k× fact (same plan as Queries.q21WaitingSupplier)
          if (ops("q21")) timed(s"q21_x$k") {
            val li = rep(li0, "l_orderkey", okSpan, k)
            val ord = rep(ord0, "o_orderkey", okSpan, k)
            val retOrders = li.where(col("l_returnflag") === "R")
              .select(col("l_orderkey"))
            val prof = li
              .join(retOrders.distinct(), Seq("l_orderkey"), "left_semi")
              .groupBy(col("l_orderkey").as("o_orderkey"))
              .agg(countDistinct(col("l_suppkey")).as("n_supp"),
                countDistinct(when(col("l_returnflag") === "R",
                  col("l_suppkey"))).as("n_ret_supp"))
            li.where(col("l_returnflag") === "R")
              .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"))
              .distinct()
              .join(ord.where(col("o_orderstatus") === "F")
                .select(col("o_orderkey")), Seq("o_orderkey"), "left_semi")
              .join(prof.where(col("n_supp") > 1 && col("n_ret_supp") === 1),
                Seq("o_orderkey"), "left_semi")
              .join(broadcast(sup0), col("l_suppkey") === col("s_suppkey"))
              .groupBy(col("s_name"))
              .agg(count(lit(1)).as("numwait"))
              .orderBy(col("numwait").desc, col("s_name")).limit(20).count()
          }
          // t13 shape: rates derived in-plan over a k× corpus
          if (ops("t13")) timed(s"t13_x$k") {
            val docs = rep(docs0, "doc_id", didSpan, k)
            val target = Seq("de", "en", "es", "fr", "zh").map(_ -> 0.2).toMap
            val kept = operators.Sampling
              .rebalanceSample(docs, "doc_id", "lang", target)
              .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
            docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
              .join(kept, Seq("lang"), "left_outer").count()
          }
          // a14 shape: k× users (events replicate on user_id)
          if (ops("a14")) timed(s"a14_x$k") {
            val dayMs = 24L * 3600000L
            val start = queries.QuerySpec.RangeStartMs
            def dayOf(c: org.apache.spark.sql.Column) =
              ((c - lit(start)) / dayMs).cast("long")
            val ev = rep(ev0, "user_id", uidSpan, k)
            val firsts = ev.where(col("event_type") === "purchase")
              .groupBy(col("user_id"))
              .agg(dayOf(min(col("ts_ms"))).as("cohort_day"))
            val active = ev.select(col("user_id"),
              dayOf(col("ts_ms")).as("day")).distinct()
            firsts.join(active, Seq("user_id"))
              .where(col("day") >= col("cohort_day"))
              .groupBy(col("cohort_day"),
                (col("day") - col("cohort_day")).as("day_offset"))
              .agg(countDistinct(col("user_id")).as("n_users")).count()
          }
          // s14 shape: k× corpus, FIXED 8-query batch — both the brute
          // ground truth and the LSH candidate join must stay linear in the
          // corpus (truth is corpus × 8, never corpus × corpus)
          if (ops("s14")) timed(s"s14_x$k") {
            val emb = rep(emb0, "vec_id", vidSpan, k)
            val qs = emb0.where(col("vec_id") < 8)
            val truth = operators.Similarity.cosineTopK(
              emb, qs, "vec_id", "embedding", 5)
            val approx = operators.Similarity.lshTopK(
              emb, qs, "vec_id", "embedding", 5, 8, 64)
            truth.select(col("query_id"), col("neighbor_id"))
              .join(approx.select(col("query_id"), col("neighbor_id"),
                lit(1L).as("hit")),
                Seq("query_id", "neighbor_id"), "left_outer")
              .groupBy(col("query_id"))
              .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
                count(lit(1))).as("recall")).count()
          }
        }
        // pipe2 cross-batch state: deliver a (max-scale)× corpus in 3
        // equal doc_id-range batches — per-delivery wall must track the
        // delivery, not the accumulated doc/passage stores. Replicas get a
        // disjoint token namespace (r<i>_ prefix) so they are FRESH docs
        // that grow the stores, not dups the first batch absorbs.
        if (ops("pipe2")) {
          val k = scales.max
          val fresh = (0 until k).map { i =>
            docs0.select((col("doc_id") + lit(i * didSpan)).as("doc_id"),
              regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1").as("text"))
          }.reduce(_ unionByName _)
          val nTotal = didSpan * k
          val base = java.nio.file.Files.createTempDirectory("pipe2scale")
          val drop = base.resolve("drop")
          java.nio.file.Files.createDirectories(drop)
          for (b <- 0 until 3) {
            val lo = nTotal * b / 3; val hi = nTotal * (b + 1) / 3
            fresh.where(col("doc_id") >= lo && col("doc_id") < hi)
              .select(col("doc_id"),
                concat_ws("\t", col("doc_id"), col("text")).as("value"))
              .orderBy(col("doc_id")).select(col("value"))
              .coalesce(1).write.mode("append").text(drop.toString)
            timed(s"pipe2_b$b") {
              streaming.DocStream.ingestFunnel(spark, drop.toString,
                base.resolve("ckpt").toString, base.resolve("sink").toString,
                base.resolve("pstore").toString,
                minQuality = 0.0, langs = Seq("en", "es", "de", "fr", "zh"),
                passageK = 10, sampleRates = Map.empty, sampleDefault = 1.0,
                markers = queries.QuerySpec.LangMarkers,
                stopwords = queries.QuerySpec.Stopwords,
                trigger = org.apache.spark.sql.streaming.Trigger
                  .AvailableNow()).awaitTermination(600000)
              spark.read.parquet(base.resolve("sink").toString).count()
            }
          }
          println("PSTORE ROWS: " + spark.read
            .parquet(base.resolve("pstore").toString).count())
        }
        for (q <- Seq("q21", "t13", "a14", "s14")
             if times.contains(s"${q}_x${scales.max}") &&
               times.contains(s"${q}_x${scales.min}") && scales.max > scales.min) {
          val growth = scales.max.toDouble / scales.min
          val r = times(s"${q}_x${scales.max}") / times(s"${q}_x${scales.min}")
          val verdict = if (r < growth * growth) "SUBQUADRATIC" else "SUPERLINEAR!"
          println(f"SCALE $q%-4s x${scales.max}/x${scales.min} = ${r}%6.2f  " +
            f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
        }
      case Some("scale4") =>
        // 16x probes for the round-7 newcomers: d11's bloom gate (clean
        // corpus growth must be pruned BEFORE the join), d12's stride-1
        // window explosion (linear in tokens), t14's epochs+1 aggregates,
        // q20's pre-aggregate part prune, and pipe1's one-pass stage
        // counts (2 scans at any scale, vs once-per-stage).
        // env: SPARK_GRAFT_SCALES (default "1,4,16"),
        //      SPARK_GRAFT_SCALE_OPS (default "d11,d12,t14,q20,pipe1")
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
          .split(",").map(_.trim.toInt).toSeq
        val ops = sys.env.getOrElse("SPARK_GRAFT_SCALE_OPS",
          "d11,d12,t14,q20,pipe1").split(",").map(_.trim).toSet
        val docs0 = Tables.documents(spark, sfDir)
        val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val part0 = spark.read.parquet(s"$sfDir/part.parquet")
        val sup0 = spark.read.parquet(s"$sfDir/supplier.parquet")
        val nat0 = spark.read.parquet(s"$sfDir/nation.parquet")
        val didSpan = docs0.agg(max(col("doc_id"))).head.getLong(0) + 1
        val okSpan = li0.agg(max(col("l_orderkey"))).head.getLong(0) + 1
        // replica 0 keeps the original text; later replicas get a disjoint
        // token namespace — so d11's TRUE contamination stays fixed while
        // the clean corpus grows (the gate's claimed regime), and d12's
        // duplicates replicate per-namespace instead of cross-matching
        def repDocs(k: Int) = (0 until k).map { i =>
          val txt = if (i == 0) col("text")
            else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")
          docs0.select((col("doc_id") + lit(i * didSpan)).as("doc_id"),
            txt.as("text"), col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
        val times = scala.collection.mutable.Map[String, Double]()
        def timed(name: String)(f: => Long): Unit = {
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          val n = f
          val dt = (System.nanoTime() - t0) / 1e9
          times(name) = dt
          println(f"TIMER $name%-10s ${dt}%8.2f s  rows=$n")
        }
        for (k <- scales) {
          if (ops("d11")) timed(s"d11_x$k") {
            val docs = repDocs(k)
            graft.plans.GraftExtensions.register(spark)
            operators.Decontaminate.contaminatedDocsBloom(
              docs.where(col("doc_id") % 31 =!= 0),
              docs0.where(col("doc_id") % 31 === 0), // benchmark FIXED
              "doc_id", "text", k = 3,
              expectedShingles = 1L << 16).count()
          }
          if (ops("d12")) timed(s"d12_x$k") {
            operators.Dedup.substringDupSpans(repDocs(k), "doc_id", "text",
              queries.QuerySpec.SubstrK).count()
          }
          if (ops("t14")) timed(s"t14_x$k") {
            val docs = repDocs(k)
            val xCols = (1 to 6).map(j => s"x$j")
            val hits = queries.QuerySpec.LangMarkers.zipWithIndex.map {
              case ((_, words), j) =>
                operators.TextAnalysis.stopwordHits(col("text"), words)
                  .cast("long").as(s"x${j + 1}")
            }
            val feats = docs.select(
              col("doc_id") +:
                when(operators.TextAnalysis.langId(col("text"),
                  queries.QuerySpec.LangMarkers) === "en", 1)
                  .otherwise(-1).as("y") +:
                hits :+ lit(1L).as("x6"): _*).persist()
            val w = operators.Perceptron.train(feats, "y", xCols,
              queries.QuerySpec.T14Epochs)
            val n = feats.count()
            feats.unpersist()
            w.sum.abs.min(n)
          }
          if (ops("q20")) timed(s"q20_x$k") {
            val li = (0 until k).map(i => li0.withColumn("l_orderkey",
              col("l_orderkey") + lit(i * okSpan))).reduce(_ unionByName _)
            val largeParts = part0.where(col("p_name").startsWith("large"))
              .select(col("p_partkey").as("l_partkey"))
            val in96 = col("l_shipdate").cast("timestamp") >=
              timestamp_millis(lit(queries.QuerySpec.Ms1996)) &&
              col("l_shipdate").cast("timestamp") <
                timestamp_millis(lit(queries.QuerySpec.Ms1997))
            val excess = li
              .join(broadcast(largeParts), Seq("l_partkey"), "left_semi")
              .groupBy(col("l_partkey"), col("l_suppkey"))
              .agg(sum(col("l_quantity").cast("decimal(18,2)"))
                .cast("double").as("total_qty"),
                sum(when(in96, col("l_quantity")).otherwise(lit(0))
                  .cast("decimal(18,2)")).cast("double").as("qty_1996"))
              .where(col("total_qty") > col("qty_1996") * 2)
              .select(col("l_suppkey").as("s_suppkey")).distinct()
            sup0.join(broadcast(nat0
              .where(col("n_name").isin("NATION_3", "NATION_7"))
              .select(col("n_nationkey").as("s_nationkey"))),
              Seq("s_nationkey"), "left_semi")
              .join(excess, Seq("s_suppkey"), "left_semi").count()
          }
          if (ops("pipe1")) timed(s"pipe1_x$k") {
            val docs = repDocs(k)
            val fQ = operators.TextAnalysis.qualityScore(col("text"),
              queries.QuerySpec.Stopwords) >= 0.5
            val fL = col("lang").isin("en", "es", "de")
            val head = docs.agg(count(lit(1)),
              sum(when(fQ, 1L).otherwise(0L)),
              sum(when(fQ && fL, 1L).otherwise(0L)))
            val wFp = org.apache.spark.sql.expressions.Window
              .partitionBy(operators.TextAnalysis.fingerprint(col("text")))
              .orderBy(col("doc_id"))
            val s3 = docs.where(fQ && fL)
              .withColumn("_rn", row_number().over(wFp))
              .where(col("_rn") === 1)
            val pd = operators.Dedup.passageDedup(s3, "doc_id", "text",
              queries.QuerySpec.PassageK).withColumnRenamed("id", "doc_id")
            val tail = s3.select(col("doc_id"), col("lang"))
              .join(pd, Seq("doc_id"), "left")
              .agg(count(lit(1)), sum(when(col("n_passages").isNotNull &&
                lit(2) * col("n_kept") >= col("n_passages"), 1L)
                .otherwise(0L)))
            head.crossJoin(tail).count()
          }
        }
        // streaming watermark probe: 16x denser events through the SAME
        // three deliveries — per-delivery wall must track the data term,
        // the fixed streaming machinery (start/checkpoint/commit) must
        // not multiply
        if (ops("w9s")) {
          val k = scales.max
          val ev0w = spark.read.parquet(s"$sfDir/events.parquet")
          val usColW = ev0w.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType => expr("ts div 1000")
            case _ => expr("unix_micros(cast(ts as timestamp))")
          }
          val eidSpan = ev0w.agg(max(col("event_id"))).head.getLong(0) + 1
          val evw = (0 until k).map(i => ev0w
            .withColumn("event_id", col("event_id") + lit(i * eidSpan)))
            .reduce(_ unionByName _)
            .select(col("event_id"), usColW.as("us"), col("value"))
            .withColumn("rel_ms",
              expr("us div 1000") - queries.QuerySpec.RangeStartMs)
          val base0w = when(col("rel_ms") < 10 * 86400000L, 0)
            .when(col("rel_ms") < 20 * 86400000L, 1).otherwise(2)
          val batchW = least(base0w + when(col("event_id") % 11 === 0, 1)
            .otherwise(0), lit(2))
          val linesW = evw.select(col("event_id"), batchW.as("batch"),
            concat_ws("\t", col("event_id"), col("us"), col("value"))
              .as("value_line"))
          val rootW = java.nio.file.Files.createTempDirectory("w9scale")
          val dropW = rootW.resolve("drop")
          java.nio.file.Files.createDirectories(dropW)
          for (b <- 0 to 2) {
            linesW.where(col("batch") === b)
              .orderBy(col("event_id")).select(col("value_line"))
              .coalesce(1).write.mode("append").text(dropW.toString)
            timed(s"w9_x${k}_b$b") {
              streaming.EventWindowStream.deliver(spark, dropW.toString,
                rootW.resolve("ckpt").toString,
                rootW.resolve("sink").toString,
                delay = "2 hours", windowDur = "1 day")
              spark.read.parquet(rootW.resolve("sink").toString).count()
            }
          }
        }
        for (q <- Seq("d11", "d12", "t14", "q20", "pipe1")
             if times.contains(s"${q}_x${scales.max}") &&
               times.contains(s"${q}_x${scales.min}") && scales.max > scales.min) {
          val growth = scales.max.toDouble / scales.min
          val r = times(s"${q}_x${scales.max}") / times(s"${q}_x${scales.min}")
          val verdict = if (r < growth * growth) "SUBQUADRATIC" else "SUPERLINEAR!"
          println(f"SCALE $q%-4s x${scales.max}/x${scales.min} = ${r}%6.2f  " +
            f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
        }
      case Some("scale5") =>
        // 16x probes for the post-bench round-7 trio: d13's best-of-cluster
        // election (cluster structure replicates per token namespace, so
        // cluster count grows kx and the election window stays per-cluster
        // bounded), t16's per-domain cap (WindowGroupLimit must keep the
        // per-source heap bounded while each source's doc count grows kx),
        // and s15's build/serve split (index BUILD pays kx, the DPP-pruned
        // SERVE scan pays only the probed cells' share of the growth).
        // env: SPARK_GRAFT_SCALES (default "1,4,16"),
        //      SPARK_GRAFT_SCALE_OPS (default "d13,t16,s15")
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
          .split(",").map(_.trim.toInt).toSeq
        val ops = sys.env
          .getOrElse("SPARK_GRAFT_SCALE_OPS", "d13,t16,s15,s16,s20")
          .split(",").map(_.trim).toSet
        val docs0 = Tables.documents(spark, sfDir)
        val emb0 = Tables.embeddings(spark, sfDir)
        val didSpan = docs0.agg(max(col("doc_id"))).head.getLong(0) + 1
        val vidSpan = emb0.agg(max(col("vec_id"))).head.getLong(0) + 1
        // same replica construction as scale4: replica 0 keeps the original
        // text, later replicas get disjoint token namespaces so duplicate
        // clusters replicate per-namespace instead of cross-matching
        def repDocs(k: Int) = (0 until k).map { i =>
          val txt = if (i == 0) col("text")
            else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")
          docs0.select((col("doc_id") + lit(i * didSpan)).as("doc_id"),
            txt.as("text"), col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
        def repEmb(k: Int) = (0 until k).map(i =>
          emb0.select((col("vec_id") + lit(i * vidSpan)).as("vec_id"),
            col("embedding"), col("label"))).reduce(_ unionByName _)
        val times = scala.collection.mutable.Map[String, Double]()
        def timed(name: String)(f: => Long): Unit = {
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          val n = f
          val dt = (System.nanoTime() - t0) / 1e9
          times(name) = dt
          println(f"TIMER $name%-10s ${dt}%8.2f s  rows=$n")
        }
        for (k <- scales) {
          if (ops("d13")) timed(s"d13_x$k") {
            val docs = repDocs(k)
            val pairs = operators.Dedup.jaccardDupPairs(docs, "doc_id",
              "text", Seq("lang", "source"), queries.QuerySpec.JaccardThreshold,
              maxBlock = Long.MaxValue)
            val clusters = operators.Components.connectedComponents(
              docs, "doc_id", pairs, "id_a", "id_b")
            val qual = docs.select(col("doc_id"),
              operators.TextAnalysis.qualityScore(col("text"),
                queries.QuerySpec.Stopwords).as("quality"))
            val byQ = Window.partitionBy(col("cluster_id"))
              .orderBy(col("quality").desc, col("doc_id"))
            clusters.join(qual, Seq("doc_id"))
              .withColumn("rk", row_number().over(byQ))
              .where(col("rk") === 1).count()
          }
          if (ops("t16")) timed(s"t16_x$k") {
            val byQ = Window.partitionBy(col("source"))
              .orderBy(col("quality").desc, col("doc_id"))
            repDocs(k).select(col("doc_id"), col("source"),
              operators.TextAnalysis.qualityScore(col("text"),
                queries.QuerySpec.Stopwords).as("quality"))
              .withColumn("rk", row_number().over(byQ))
              .where(col("rk") <= queries.QuerySpec.DomainCap).count()
          }
          if (ops("s15")) {
            val cents = operators.Similarity.collectCentroids(
              emb0.where(col("vec_id") < queries.QuerySpec.NumCentroids),
              "vec_id", "embedding")
            val idx = java.nio.file.Files.createTempDirectory(s"s15x$k")
              .resolve("ivf").toString
            timed(s"s15b_x$k") { // index BUILD: pays the full kx corpus
              operators.Similarity.assignCells(repEmb(k), cents, "vec_id",
                "embedding", "neighbor_id", "cv", 1)
                .write.mode("overwrite").partitionBy("cell").parquet(idx)
              k.toLong
            }
            timed(s"s15q_x$k") { // SERVE: DPP prunes to the probed cells
              val q = operators.Similarity.assignCells(
                emb0.where(col("vec_id") < queries.QuerySpec.NumQueries),
                cents, "vec_id", "embedding", "query_id", "qv", 1)
              val c = spark.read.parquet(idx)
                .withColumn("cell", col("cell").cast("long"))
              val w = Window.partitionBy(col("query_id"))
                .orderBy(col("sim").desc, col("neighbor_id"))
              c.join(broadcast(q), Seq("cell"))
                .where(col("neighbor_id") =!= col("query_id"))
                .withColumn("sim",
                  operators.Similarity.cosine(col("qv"), col("cv")))
                .withColumn("rank", row_number().over(w))
                .where(col("rank") <= queries.QuerySpec.IvfTopK).count()
            }
          }
          if (ops("s19")) {
            // incremental index maintenance: the STANDING corpus grows kx
            // (build pays it) but the delta batch stays fixed — the MERGE
            // (frozen-quantizer assign + partitioned append) must be
            // wall-flat in k; the census pass is the corpus-linear term
            // and can run delta-only with carried stats at scale
            val cents = operators.Similarity.collectCentroids(
              emb0.where(col("vec_id") < queries.QuerySpec.NumCentroids),
              "vec_id", "embedding")
            val idx = java.nio.file.Files.createTempDirectory(s"s19x$k")
              .resolve("ivf").toString
            timed(s"s19b_x$k") { // standing index build: pays kx
              operators.Similarity.assignCells(repEmb(k), cents, "vec_id",
                "embedding", "nid", "cv", 1)
                .withColumn("is_delta", lit(false))
                .write.mode("overwrite").partitionBy("cell").parquet(idx)
              k.toLong
            }
            timed(s"s19m_x$k") { // MERGE: fixed-size delta, append-only
              val delta = emb0.where(
                col("vec_id") >= queries.QuerySpec.NumCentroids &&
                  col("vec_id") % queries.QuerySpec.S19DeltaMod === 0)
                .select((col("vec_id") + lit(k.toLong * vidSpan))
                  .as("vec_id"), col("embedding"), col("label"))
              operators.Similarity.assignCells(delta, cents, "vec_id",
                "embedding", "nid", "cv", 1)
                .withColumn("is_delta", lit(true))
                .write.mode("append").partitionBy("cell").parquet(idx)
              1L
            }
            timed(s"s19c_x$k") { // census: one cell-grain index pass
              spark.read.parquet(idx).groupBy(col("cell")).count().count()
            }
          }
          if (ops("s20")) timed(s"s20_x$k") {
            // nprobe sweep: corpus side grows kx but is assigned/joined
            // ONCE for the whole sweep; per-setting work is
            // candidate-bounded windows over the checkpointed frame
            val cents = operators.Similarity.collectCentroids(
              emb0.where(col("vec_id") < queries.QuerySpec.NumCentroids),
              "vec_id", "embedding")
            val c = operators.Similarity.assignCells(repEmb(k), cents,
              "vec_id", "embedding", "neighbor_id", "cv", 1)
            val q = operators.Similarity.assignCellsRanked(
              emb0.where(col("vec_id") < queries.QuerySpec.NumQueries),
              cents, "vec_id", "embedding", "query_id", "qv",
              queries.QuerySpec.NprobeSweep.max)
            val cand = c.join(broadcast(q), Seq("cell"))
              .where(col("neighbor_id") =!= col("query_id"))
              .withColumn("sim",
                operators.Similarity.cosine(col("qv"), col("cv")))
              .localCheckpoint()
            queries.QuerySpec.NprobeSweep.map { p =>
              val w = Window.partitionBy(col("query_id"))
                .orderBy(col("sim").desc, col("neighbor_id"))
              cand.where(col("probe_rank") <= p)
                .withColumn("rank", row_number().over(w))
                .where(col("rank") <= queries.QuerySpec.TopK).count()
            }.sum
          }
          if (ops("s16")) timed(s"s16_x$k") {
            // contrastive mining: the corpus side grows kx but the query
            // batch and the pos/neg output stay fixed — wall must track
            // the probed-cell candidate scan, never the pair space
            operators.Similarity.contrastivePairs(repEmb(k),
              emb0.where(col("vec_id") < queries.QuerySpec.NumQueries),
              emb0.where(col("vec_id") < queries.QuerySpec.NumCentroids),
              "vec_id", "embedding", "label", queries.QuerySpec.PosK,
              queries.QuerySpec.NegK, queries.QuerySpec.S16Probe).count()
          }
        }
        for (q <- Seq("d13", "t16", "s15b", "s15q", "s16",
            "s19b", "s19m", "s19c", "s20")
             if times.contains(s"${q}_x${scales.max}") &&
               times.contains(s"${q}_x${scales.min}") && scales.max > scales.min) {
          val growth = scales.max.toDouble / scales.min
          val r = times(s"${q}_x${scales.max}") / times(s"${q}_x${scales.min}")
          val verdict = if (r < growth * growth) "SUBQUADRATIC" else "SUPERLINEAR!"
          println(f"SCALE $q%-4s x${scales.max}/x${scales.min} = ${r}%6.2f  " +
            f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
        }
      case Some("scale6") =>
        // 16x probes for the round-7 tail trio, run through the REAL
        // registered queries against a replicated corpus written in the sf
        // layout (no re-coded query bodies — what ships is what's probed):
        //   t17 (unigram-LM fluency): the (doc, token, occ) grain grows kx;
        //     LM build + scoring join must stay linear.
        //   t18 (BPE training): per-round cost is VOCAB-grain — namespaced
        //     replicas grow the vocab kx, so the 8 rounds must grow
        //     ~linearly, not with corpus pair-position grain.
        //   t19 (fertility eval): corpus explode + broadcast encoder join +
        //     per-source partial agg — one linear scan must dominate.
        // env: SPARK_GRAFT_SCALES (default "1,4,16"),
        //      SPARK_GRAFT_SCALE_OPS (default "t17,t18,t19")
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
          .split(",").map(_.trim.toInt).toSeq
        val ops6 = sys.env.getOrElse("SPARK_GRAFT_SCALE_OPS", "t17,t18,t19")
          .split(",").map(_.trim).toSet
        val names = Seq("t17" -> "t17_lm_perplexity",
          "t18" -> "t18_bpe_merges", "t19" -> "t19_bpe_fertility",
          "d15" -> "d15_incremental_dedup")
        val registry = queries.Queries.all.toMap
        val docs0 = Tables.documents(spark, sfDir)
        val didSpan = docs0.agg(max(col("doc_id"))).head.getLong(0) + 1
        // replica 0 keeps the original text; later replicas get disjoint
        // token namespaces (vocab and LM grow kx, the honest growth axis)
        def repDocs(k: Int) = (0 until k).map { i =>
          val txt = if (i == 0) col("text")
            else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")
          docs0.select((col("doc_id") + lit(i * didSpan)).as("doc_id"),
            txt.as("text"), col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
        val times = scala.collection.mutable.Map[String, Double]()
        for (k <- scales) {
          val dir = java.nio.file.Files.createTempDirectory(s"scale6x$k")
            .toString
          repDocs(k).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
          for ((short, qname) <- names if ops6(short)) {
            spark.sharedState.cacheManager.clearCache()
            val t0 = System.nanoTime()
            // construction is INSIDE the timer: t18/t19 run their training
            // collects while the plan is being built
            val df = registry(qname)(spark, dir)
            // force every output column (count() would prune the computed
            // projections — see README bench notes): sum an xxhash64 over
            // the full row struct
            val n = df
              .select((xxhash64(struct(df.columns.map(col): _*)) %
                lit(1000000007L)).as("h"))
              .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
              .head.getLong(1)
            val dt = (System.nanoTime() - t0) / 1e9
            times(s"${short}_x$k") = dt
            println(f"TIMER ${short}_x$k%-10s ${dt}%8.2f s  rows=$n")
          }
        }
        for ((short, _) <- names
             if times.contains(s"${short}_x${scales.max}") &&
               times.contains(s"${short}_x${scales.min}") &&
               scales.max > scales.min) {
          val growth = scales.max.toDouble / scales.min
          val r = times(s"${short}_x${scales.max}") /
            times(s"${short}_x${scales.min}")
          val verdict = if (r < growth * growth) "SUBQUADRATIC"
            else "SUPERLINEAR!"
          println(f"SCALE $short%-4s x${scales.max}/x${scales.min} = ${r}%6.2f  " +
            f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
        }
      case Some("scale9") =>
        // 16x probes for the round-7 third wave, through the REAL
        // registered queries over namespaced doc replicas (disjoint
        // per-replica token namespaces — vocab grows Heaps-ishly, so
        // MinHash/graph grains grow with data, the honest axis):
        //   d14 (MinHash estimation error): signature build grows kx,
        //     the sampled pair-eval grain must not go quadratic.
        //   d15 (incremental dedup): index build + batch serve both grow
        //     kx; the serve probe must stay band-bucket-joined.
        //   a18 (TextRank): graph nodes/edges grow kx; 8 rank rounds stay
        //     graph-grain joins against a broadcast vector.
        //   j11 (PIT join): user-namespaced events — version chains stay
        //     per-user O(1), the equi-join shuffle grows with rows.
        //   t25 (CDC chunks) / p4 (pack-export): map-side chunk/gate math
        //     + chunk/shard-grain aggregates; both should track the scan.
        //   j12 (fuzzy join): runs on the namespaced doc titles — the
        //     per-replica token prefixes keep PassJoin segment keys
        //     replica-selective, so candidates grow linearly (block-key
        //     selectivity IS the ER-blocking scaling contract).
        // env: SPARK_GRAFT_SCALES (default "1,16"), SPARK_GRAFT_SCALE_OPS
        //      (default "d14,d15,a18,j11,t25,p4,j12")
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,16")
          .split(",").map(_.trim.toInt).toSeq
        val ops9 = sys.env
          .getOrElse("SPARK_GRAFT_SCALE_OPS", "d14,d15,a18,j11,t25,p4,j12")
          .split(",").map(_.trim).toSet
        val names9 = Seq(
          "d14" -> "d14_minhash_est_error",
          "d15" -> "d15_incremental_dedup",
          "a18" -> "a18_pagerank",
          "j11" -> "j11_pit_join",
          "t25" -> "t25_cdc_chunks",
          "p4" -> "pipe4_pack_export",
          "j12" -> "j12_fuzzy_join")
        val registry9 = queries.Queries.all.toMap
        val docs9 = Tables.documents(spark, sfDir)
        val didSpan9 = docs9.agg(max(col("doc_id"))).head.getLong(0) + 1
        val ev9 = spark.read.parquet(s"$sfDir/events.parquet")
        val eidSpan9 = ev9.agg(max(col("event_id"))).head.getLong(0) + 1
        val uidSpan9 = ev9.agg(max(col("user_id"))).head.getLong(0) + 1
        val times9 = scala.collection.mutable.Map[String, Double]()
        for (k <- scales) {
          val dir = java.nio.file.Files.createTempDirectory(s"scale9x$k")
            .toString
          (0 until k).map { i =>
            val txt = if (i == 0) col("text")
              else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")
            docs9.select((col("doc_id") + lit(i * didSpan9)).as("doc_id"),
              txt.as("text"), col("lang"), col("source"), col("n_chars"))
          }.reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
          (0 until k).map(i => ev9.select(
            (col("event_id") + lit(i * eidSpan9)).as("event_id"), col("ts"),
            (col("user_id") + lit(i * uidSpan9)).as("user_id"),
            col("event_type"), col("value"), col("props")))
            .reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$dir/events.parquet")
          for ((short, qname) <- names9 if ops9(short)) {
            spark.sharedState.cacheManager.clearCache()
            val t0 = System.nanoTime()
            val df = registry9(qname)(spark, dir)
            val n = df
              .select((xxhash64(struct(df.columns.map(col): _*)) %
                lit(1000000007L)).as("h"))
              .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
              .head.getLong(1)
            val dt = (System.nanoTime() - t0) / 1e9
            times9(s"${short}_x$k") = dt
            println(f"TIMER ${short}_x$k%-10s ${dt}%8.2f s  rows=$n")
          }
        }
        for ((short, _) <- names9
             if times9.contains(s"${short}_x${scales.max}") &&
               times9.contains(s"${short}_x${scales.min}") &&
               scales.max > scales.min) {
          val growth = scales.max.toDouble / scales.min
          val r = times9(s"${short}_x${scales.max}") /
            times9(s"${short}_x${scales.min}")
          val verdict = if (r < growth * growth) "SUBQUADRATIC"
            else "SUPERLINEAR!"
          println(f"SCALE $short%-4s x${scales.max}/x${scales.min} = ${r}%6.2f  " +
            f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
        }
      case Some("scale10") =>
        // 16x probes for the operators without one (r7 verdict item #5)
        // plus the r8 newcomer t26, through the REAL registered queries
        // over replicated inputs:
        //   a19 (column profile): 16x lineitem, l_orderkey offset per
        //     replica so the distinct axis grows too — five pruned
        //     single-column scans must track column bytes.
        //   a20/a21 (MAD outliers / HLL rollup): 16x events, user/event
        //     ids offset — sketch grids and group counts stay fixed-size.
        //   o8 (range shards): 16x lineitem — exact-percentile boundary
        //     row stays 1, shard ids stay a map-side fold.
        //   m4 (batched inference): 16x documents — model "calls" must
        //     grow with rows/64, never per-row.
        //   t23/t24 (weighted sample / grouped split): 16x documents —
        //     keep-predicates map-side; t23's top-k stays heap+merge.
        //   t26 (HTML extract): 16x documents — synthesis + extraction
        //     is one fused projection, must track the scan.
        //   t27 (URL dedup): 16x documents — canonicalization map-side,
        //     the window shuffle grows with rows on a uniform key.
        //   pipe6 (web curation): 16x documents — two window shuffles +
        //     census agg; replica texts are namespaced so content dedup
        //     works per-replica, never collapsing across replicas.
        //   k5 (schema-evolution read): per-dir store build + merged read.
        //   j10 (bucketed SMJ): per-dir bucketed store build + zero-
        //     Exchange join; orders/customer replicated on a shared
        //     custkey offset so the join key stays consistent.
        //   sn2 (wide snapshot): the snapshot fixture rebuilds from the
        //     replicated events, so the wide scan grows 16x; the pruned
        //     read must stay column-bytes-bound.
        // env: SPARK_GRAFT_SCALES (default "1,16"), SPARK_GRAFT_SCALE_OPS
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,16")
          .split(",").map(_.trim.toInt).toSeq
        val defOps =
          "a19,a20,a21,o8,m4,t23,t24,t26,t27,pipe6,k5,j10,sn2,k6,pipe7," +
            "k7,t28,pipe8,m5,a22,a23,s17,t29,pipe9,s18,o9,a24,pipe10,a25,a26,t30,pipe11,k8,m6,d17,x3,t31,a27,d18,k9,t32,a28,d19,t33"
        val ops = sys.env.getOrElse("SPARK_GRAFT_SCALE_OPS", defOps)
          .split(",").map(_.trim).toSet
        val names = Seq(
          "a19" -> "a19_profile", "a20" -> "a20_mad_outliers",
          "a21" -> "a21_sketch_union", "o8" -> "o8_range_shards",
          "m4" -> "m4_batch_infer", "t23" -> "t23_weighted_sample",
          "t24" -> "t24_grouped_split", "t26" -> "t26_html_extract",
          "t27" -> "t27_url_dedup", "pipe6" -> "pipe6_web_curation",
          "k5" -> "k5_schema_merge", "j10" -> "j10_bucketed",
          "sn2" -> "sn2_book_shape",
          // r8 ingest seams: k6 (JSONL round-trip — gzip export + permissive
          // read grow with the corpus, census stays |langs|+2 rows),
          // pipe7 (WARC — record synth/split/extract all scan-tracking)
          "k6" -> "k6_jsonl_roundtrip", "pipe7" -> "pipe7_warc_ingest",
          // k7 (snapshot diff — one full-outer equi-join, census fixed),
          // t28 (RRF — rankers corpus-grain, fusion list-sized)
          "k7" -> "k7_snapshot_diff", "t28" -> "t28_hybrid_rrf",
          // pipe8 (sequence packing — one shard shuffle, 8-row census),
          // m5 (pair filter — embed+score fused into the pair scan)
          "pipe8" -> "pipe8_seq_pack", "m5" -> "m5_pair_filter",
          // a22 (retention — user-grain shuffle, matrix stays |days|^2),
          // a23 (funnel — shared-sort window passes, 4-row census)
          "a22" -> "a22_retention_cohorts",
          "a23" -> "a23_window_funnel",
          // s17 (rerank — candidate-bounded scorer over t28's fused list)
          "s17" -> "s17_rerank",
          // t29 (encoding repair — fused map-side projections, 3-row census)
          "t29" -> "t29_fix_encoding",
          // pipe9 (crawl→shards spine — one crawl scan, 3 uniform-key
          // window shuffles; census stays |shards| rows)
          "pipe9" -> "pipe9_crawl_shards",
          // s18 (MMR — corpus term is t28's rankers; the greedy unroll is
          // candidate-bounded)
          "s18" -> "s18_mmr_diversify",
          // o9 (compaction planner — metadata-grain: |files| rows, two
          // per-dir shuffles)
          "o9" -> "o9_compaction_plan",
          // a24 (attribution — one user-grain RangeFrame window, census
          // stays |days| rows)
          "a24" -> "a24_attribution",
          // pipe10 (mix assembly — bucket sums uniform-key, exact sort
          // only on the per-lang boundary buckets; census stays |langs|)
          "pipe10" -> "pipe10_mix_budget",
          // a25 (latency percentiles — A/B-only user-grain aggregates,
          // cumulative window on the bounded minute grid, not users)
          "a25" -> "a25_conversion_latency",
          // a26 (DAU/WAU — one user-grain shuffle, interval-union
          // explode bounded by the calendar, day-grain counts)
          "a26" -> "a26_active_users",
          // t30 (DSIR — vocab-grain LMs, one persisted (doc,tok,occ)
          // grain feeding builds + scoring; output grows with docs)
          "t30" -> "t30_dsir_weights",
          // pipe11 (selection spine — DSIR gate + fp election + mix +
          // packing in one plan; census stays |mix langs| rows)
          "pipe11" -> "pipe11_select_pack",
          // k8 (vacuum plan — metadata grain: per-(day,file) census
          // only; decisions map-side; |days| output rows)
          "k8" -> "k8_vacuum_plan",
          // m6 (shard manifest — one shard-key shuffle with map-side
          // partial digests; 8 output rows)
          "m6" -> "m6_shard_manifest",
          // d17 (LSH tuning — the d3 signature build + one 31-digest
          // explode and a (combo,digest) aggregate; 5 output rows)
          "d17" -> "d17_lsh_tuning",
          // x3 (overlap join — sessions gaps-and-islands + bucket
          // equi-join; 4 output rows)
          "x3" -> "x3_overlap_join",
          // t31 (label noise — map-side scoring, <=|langs|^2 rollup)
          "t31" -> "t31_label_noise",
          // a27 (session metrics — one user-grain sort, grid-bounded
          // percentile window; |days| output rows)
          "a27" -> "a27_session_metrics",
          // d18 (multiplicity census — staged-cluster read + two tiny
          // aggregates; |sizes| output rows)
          "d18" -> "d18_cluster_census",
          // k9 (drift census — two lang-grain censuses + 1-row totals)
          "k9" -> "k9_drift_census",
          // t32 (novelty — one shingle-grain election shuffle; replicas
          // are token-namespaced so their grams are fresh, novelty holds)
          "t32" -> "t32_novelty_census",
          // a28 (LTV — two user-grain passes, matrix-sized decimal
          // window; |days|^2 output rows)
          "a28" -> "a28_ltv_cohorts",
          // d19 (incremental decontamination — staged prev table + k7
          // diff + delta-only shingles; replicas add fresh benchmarks)
          "d19" -> "d19_incremental_decontam",
          // t33 (classifier loop — epochs+1 model-sized aggregates over
          // the train split + one source-grain census)
          "t33" -> "t33_classifier_loop")
        val registry = queries.Queries.all.toMap
        val docs = Tables.documents(spark, sfDir)
        val didSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
        val ev = spark.read.parquet(s"$sfDir/events.parquet")
        val eidSpan = ev.agg(max(col("event_id"))).head.getLong(0) + 1
        val uidSpan = ev.agg(max(col("user_id"))).head.getLong(0) + 1
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val okSpan = li.agg(max(col("l_orderkey"))).head.getLong(0) + 1
        val ords = spark.read.parquet(s"$sfDir/orders.parquet")
        val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        val ckSpan = cust.agg(max(col("c_custkey"))).head.getLong(0) + 1
        val times = scala.collection.mutable.Map[String, Double]()
        for (k <- scales) {
          val dir = java.nio.file.Files.createTempDirectory(s"scale10x$k")
            .toString
          def rep(base: org.apache.spark.sql.DataFrame,
              shift: (org.apache.spark.sql.DataFrame, Int)
                => org.apache.spark.sql.DataFrame, table: String): Unit =
            (0 until k).map(i => shift(base, i)).reduce(_ unionByName _)
              .write.mode("overwrite").parquet(s"$dir/$table.parquet")
          rep(docs, (d, i) => {
            val txt = if (i == 0) col("text")
              else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")
            d.select((col("doc_id") + lit(i * didSpan)).as("doc_id"),
              txt.as("text"), col("lang"), col("source"), col("n_chars"))
          }, "documents")
          rep(ev, (d, i) => d.select(
            (col("event_id") + lit(i * eidSpan)).as("event_id"), col("ts"),
            (col("user_id") + lit(i * uidSpan)).as("user_id"),
            col("event_type"), col("value"), col("props")), "events")
          rep(li, (d, i) => d.withColumn("l_orderkey",
            col("l_orderkey") + lit(i * okSpan)), "lineitem")
          rep(ords, (d, i) => d.withColumn("o_orderkey",
              col("o_orderkey") + lit(i * okSpan))
            .withColumn("o_custkey", col("o_custkey") + lit(i * ckSpan)),
            "orders")
          rep(cust, (d, i) => d.withColumn("c_custkey",
            col("c_custkey") + lit(i * ckSpan)), "customer")
          for (t <- Seq("region", "nation", "supplier", "part", "embeddings"))
            spark.read.parquet(s"$sfDir/$t.parquet")
              .write.mode("overwrite").parquet(s"$dir/$t.parquet")
          for ((short, qname) <- names if ops(short)) {
            spark.sharedState.cacheManager.clearCache()
            val t0 = System.nanoTime()
            val df = registry(qname)(spark, dir)
            val n = df
              .select((xxhash64(struct(df.columns.map(col): _*)) %
                lit(1000000007L)).as("h"))
              .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
              .head.getLong(1)
            val dt = (System.nanoTime() - t0) / 1e9
            times(s"${short}_x$k") = dt
            println(f"TIMER ${short}_x$k%-10s ${dt}%8.2f s  rows=$n")
          }
        }
        for ((short, _) <- names
             if times.contains(s"${short}_x${scales.max}") &&
               times.contains(s"${short}_x${scales.min}") &&
               scales.max > scales.min) {
          val growth = scales.max.toDouble / scales.min
          val r = times(s"${short}_x${scales.max}") /
            times(s"${short}_x${scales.min}")
          val verdict = if (r < growth * growth) "SUBQUADRATIC"
            else "SUPERLINEAR!"
          println(f"SCALE $short%-4s x${scales.max}/x${scales.min} = ${r}%6.2f  " +
            f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
        }
      case Some("scale12") =>
        // Sustained ×16 replay of the DYNAMIC-HEAVY set at sf0.1 (≈ a
        // sf1.6-equivalent volume): the 2×-of-baseline guarantee is only
        // evidenced at sf0.1, and the heavies are exactly where a bend
        // would appear first. Replication follows scale10 (namespaced doc
        // text so per-replica dedup structure is preserved; ids offset per
        // table) PLUS embeddings replicated with offset vec_ids — the
        // query/centroid designated rows (vec_id < NumQueries/NumCentroids)
        // stay replica-0 only, so the MODEL stays fixed while the corpus
        // grows, the realistic serving shape. Caveats printed, not silent:
        //  - d14 is EXCLUDED by default: its ×16 block-pair space here is
        //    ~128M in-memory pairs, far past the ~10⁷/node knee scale11
        //    measured and d16 mitigates — re-proving a named divergence
        //    at 40× the knee is wall-clock with no new information.
        //  - frozen-quantizer caveat for d10: identical replica vectors
        //    grow per-CELL density 16× (cell-local quadratic ×256); at
        //    real scale the quantizer grows with the corpus (s19's merge
        //    path), keeping density flat. A d10 bend here indicts the
        //    frozen 8-cell probe model, not the operator.
        // env: SPARK_GRAFT_SCALES (default "1,16"),
        //      SPARK_GRAFT_SCALE_OPS (comma list of FULL query names;
        //      default = the r9 heavy_dynamic set minus d14)
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,16")
          .split(",").map(_.trim.toInt).toSeq
        val defHeavy = Seq("a15_cms", "a18_pagerank", "a27_session_metrics",
          "d10_semantic_dedup", "d11_bloom_contamination",
          "d13_cluster_keep_best", "d15_incremental_dedup", "d3_minhash_lsh",
          "d6_simhash_pairs", "k4_compaction", "k8_vacuum_plan",
          "o8_range_shards", "o9_compaction_plan", "pipe11_select_pack",
          "pipe3_embed_funnel", "pipe5_backfill_closure",
          "pipe9_crawl_shards", "q21_waiting_supplier", "s5_symbol_catalog",
          "s7_int8_ann", "t14_perceptron", "t17_lm_perplexity",
          "t18_bpe_merges", "t22_postings", "t31_label_noise",
          "t32_novelty_census")
        val ops12 = sys.env.get("SPARK_GRAFT_SCALE_OPS")
          .map(_.split(",").map(_.trim).toSeq).getOrElse(defHeavy)
        println("scale12: d14_minhash_est_error EXCLUDED by default — " +
          "its ×16 block-pair space (~1.3e8 pairs) is 40× past the knee " +
          "scale11 measured and d16 mitigates; see README scale11 table")
        val registry12 = queries.Queries.all.toMap
        val docs12 = Tables.documents(spark, sfDir)
        val didSpan12 = docs12.agg(max(col("doc_id"))).head.getLong(0) + 1
        val ev12 = spark.read.parquet(s"$sfDir/events.parquet")
        val eidSpan12 = ev12.agg(max(col("event_id"))).head.getLong(0) + 1
        val uidSpan12 = ev12.agg(max(col("user_id"))).head.getLong(0) + 1
        val li12 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val okSpan12 = li12.agg(max(col("l_orderkey"))).head.getLong(0) + 1
        val ords12 = spark.read.parquet(s"$sfDir/orders.parquet")
        val cust12 = spark.read.parquet(s"$sfDir/customer.parquet")
        val ckSpan12 = cust12.agg(max(col("c_custkey"))).head.getLong(0) + 1
        val emb12 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val vidSpan12 = emb12.agg(max(col("vec_id"))).head.getLong(0) + 1
        val times12 = scala.collection.mutable.Map[String, Double]()
        for (k <- scales) {
          val dir = java.nio.file.Files.createTempDirectory(s"scale12x$k")
            .toString
          def rep(base: org.apache.spark.sql.DataFrame,
              shift: (org.apache.spark.sql.DataFrame, Int)
                => org.apache.spark.sql.DataFrame, table: String): Unit =
            (0 until k).map(i => shift(base, i)).reduce(_ unionByName _)
              .write.mode("overwrite").parquet(s"$dir/$table.parquet")
          rep(docs12, (d, i) => {
            val txt = if (i == 0) col("text")
              else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")
            d.select((col("doc_id") + lit(i * didSpan12)).as("doc_id"),
              txt.as("text"), col("lang"), col("source"), col("n_chars"))
          }, "documents")
          rep(ev12, (d, i) => d.select(
            (col("event_id") + lit(i * eidSpan12)).as("event_id"), col("ts"),
            (col("user_id") + lit(i * uidSpan12)).as("user_id"),
            col("event_type"), col("value"), col("props")), "events")
          rep(li12, (d, i) => d.withColumn("l_orderkey",
            col("l_orderkey") + lit(i * okSpan12)), "lineitem")
          rep(ords12, (d, i) => d.withColumn("o_orderkey",
              col("o_orderkey") + lit(i * okSpan12))
            .withColumn("o_custkey", col("o_custkey") + lit(i * ckSpan12)),
            "orders")
          rep(cust12, (d, i) => d.withColumn("c_custkey",
            col("c_custkey") + lit(i * ckSpan12)), "customer")
          rep(emb12, (d, i) => d.withColumn("vec_id",
            col("vec_id") + lit(i * vidSpan12)), "embeddings")
          for (t <- Seq("region", "nation", "supplier", "part"))
            spark.read.parquet(s"$sfDir/$t.parquet")
              .write.mode("overwrite").parquet(s"$dir/$t.parquet")
          for (qname <- ops12) {
            spark.sharedState.cacheManager.clearCache()
            val t0 = System.nanoTime()
            val df = registry12(qname)(spark, dir)
            val n = df
              .select((xxhash64(struct(df.columns.map(col): _*)) %
                lit(1000000007L)).as("h"))
              .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
              .head.getLong(1)
            val dt = (System.nanoTime() - t0) / 1e9
            times12(s"${qname}_x$k") = dt
            println(f"TIMER ${qname}_x$k%-34s ${dt}%8.2f s  rows=$n")
          }
        }
        for (qname <- ops12) {
          val pts = scales.filter(k => times12.contains(s"${qname}_x$k"))
          for (Seq(lo, hi) <- pts.sliding(2) if pts.size >= 2) {
            val growth = hi.toDouble / lo
            val r = times12(s"${qname}_x$hi") / times12(s"${qname}_x$lo")
            val verdict = if (r <= growth * 1.5) "LINEARISH"
              else if (r < growth * growth) "SUBQUADRATIC"
              else "SUPERLINEAR!"
            println(f"SCALE $qname%-26s x$hi/x$lo = ${r}%6.2f  " +
              f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
          }
        }
      case Some("d24census") =>
        // Pre-dedup bucket census for the frozen (d10) vs adaptive (d24)
        // quantizer at ×1/×16 replication — the evidence the round-10
        // verdict asked for: per-bucket pair space BOUNDED as density
        // grows. Prints, per scale and grain: bucket count, max and mean
        // bucket size, and the total in-bucket pair space Σ C(n,2).
        // Replication = scale12's embeddings shape (offset vec_ids,
        // model rows replica-0 only, so the 8 base centroids stay fixed
        // while density grows k×).
        import org.apache.spark.sql.functions._
        import graft.queries.QuerySpec._
        val scales24 = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,16")
          .split(",").map(_.trim.toInt).toSeq
        val emb24 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val vidSpan24 = emb24.agg(max(col("vec_id"))).head.getLong(0) + 1
        for (k <- scales24) {
          val corpus = (0 until k).map(i => emb24.withColumn("vec_id",
            col("vec_id") + lit(i * vidSpan24))).reduce(_ unionByName _)
          val cents = operators.Similarity.collectCentroids(
            corpus.where(col("vec_id") < NumCentroids),
            "vec_id", "embedding")
          val assigned = operators.Similarity.assignCells(
            corpus, cents, "vec_id", "embedding", "id", "v", 1).persist()
          def census(buckets: org.apache.spark.sql.DataFrame,
              grain: String): Unit = {
            val r = buckets.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
              .agg(count(lit(1)).as("buckets"), max(col("n")).as("mx"),
                avg(col("n")).as("mean"),
                sum(expr("n * (n - 1) div 2")).as("pairs"))
              .head
            println(f"CENSUS x$k $grain%-8s buckets=${r.getLong(0)}%4d " +
              f"max=${r.getLong(1)}%6d mean=${r.getDouble(2)}%8.1f " +
              f"pairSpace=${r.getLong(3)}%12d")
          }
          census(assigned.select(col("cell").as("bkt")), "frozen")
          // adaptive grain: the OPERATOR's own bucket assignment (shared
          // helper — the census measures what d24 actually runs)
          census(operators.Similarity.adaptiveBuckets(assigned, SemCellCap)
            .select(concat_ws("/", col("cell"), col("subcell")).as("bkt")),
            "adaptive")
          assigned.unpersist()
        }

      case Some("scale11") =>
        // SUSTAINED probe past 16x for the genuinely data-bound operators
        // (r8 verdict item #4): d14 (pair-space eval), d9 (uncapped pair
        // gen + connected components — timed on its staged BUILD, which
        // pays pairs + CC rounds), d15 (incremental-dedup index build).
        // Default scales 1,16,64 over replicated documents.
        //
        // GROWTH MODEL: by default each replica namespaces its SOURCE
        // (source_r<i>) as well as its token text — the "more domains"
        // model of web growth, under which the (lang, source) candidate
        // blocks multiply while block size stays fixed, so pair work
        // grows LINEARLY and the probe measures the claimed linear path
        // at real data-bound sizes. SPARK_GRAFT_NAMESPACE_SRC=0 keeps one
        // shared source per replica — the "same domains, 64x bigger"
        // model, under which in-block pair work provably grows k^2 (the
        // curve bend, measurable on d14 at small k). Both models are the
        // truth; which one a 100 TB corpus follows decides whether d2/d9/
        // d14-style blocked pair generation needs an LSH band gate
        // (d3/d15) in front of it.
        // env: SPARK_GRAFT_SCALES (default "1,16,64"),
        //      SPARK_GRAFT_SCALE_OPS (default "d14,d9,d15"),
        //      SPARK_GRAFT_NAMESPACE_SRC (default "1")
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,16,64")
          .split(",").map(_.trim.toInt).toSeq
        val ops11 = sys.env
          .getOrElse("SPARK_GRAFT_SCALE_OPS", "d14,d9,d15,d16")
          .split(",").map(_.trim).toSet
        val nsSrc = !sys.env.get("SPARK_GRAFT_NAMESPACE_SRC").contains("0")
        val names11 = Seq(
          "d14" -> "d14_minhash_est_error",
          // d16: d14's block-sampled calibration — the measured mitigation;
          // its curve must be d14's shape scaled by ~1/CalibSampleMod
          "d16" -> "d16_minhash_est_sampled",
          // t30: DSIR — vocab-grain LM joins; the sustained probe measures
          // the Heaps-law vocab growth term at real sizes
          "t30" -> "t30_dsir_weights",
          // pipe11: the selection spine end-to-end (DSIR + election +
          // mix + packing) — the heaviest one-plan composition
          "pipe11" -> "pipe11_select_pack",
          "d9" -> "d9_dup_clusters",
          "d15" -> "d15_incremental_dedup")
        val registry11 = queries.Queries.all.toMap
        val docs11 = Tables.documents(spark, sfDir)
        val didSpan11 = docs11.agg(max(col("doc_id"))).head.getLong(0) + 1
        val times11 = scala.collection.mutable.Map[String, Double]()
        for (k <- scales) {
          val dir = java.nio.file.Files.createTempDirectory(s"scale11x$k")
            .toString
          (0 until k).map { i =>
            val txt = if (i == 0) col("text")
              else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")
            val src = if (i == 0 || !nsSrc) col("source")
              else concat(col("source"), lit(s"_r$i"))
            docs11.select((col("doc_id") + lit(i * didSpan11)).as("doc_id"),
              txt.as("text"), col("lang"), src.as("source"), col("n_chars"))
          }.reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
          for ((short, qname) <- names11 if ops11(short)) {
            spark.sharedState.cacheManager.clearCache()
            val t0 = System.nanoTime()
            val df = registry11(qname)(spark, dir)
            val n = df
              .select((xxhash64(struct(df.columns.map(col): _*)) %
                lit(1000000007L)).as("h"))
              .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
              .head.getLong(1)
            val dt = (System.nanoTime() - t0) / 1e9
            times11(s"${short}_x$k") = dt
            println(f"TIMER ${short}_x$k%-10s ${dt}%8.2f s  rows=$n")
          }
        }
        for ((short, _) <- names11 if ops11(short)) {
          val pts = scales.filter(k => times11.contains(s"${short}_x$k"))
          for (Seq(lo, hi) <- pts.sliding(2) if pts.size >= 2) {
            val growth = hi.toDouble / lo
            val r = times11(s"${short}_x$hi") / times11(s"${short}_x$lo")
            val verdict = if (r <= growth * 1.5) "LINEARISH"
              else if (r < growth * growth) "SUBQUADRATIC"
              else "SUPERLINEAR!"
            println(f"SCALE $short%-4s x$hi/x$lo = ${r}%6.2f  " +
              f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
          }
        }
      case Some("scale8") =>
        // 16x probes for the round-7 second-wave newcomers, through the
        // REAL registered queries against replicated sf-layout temp dirs:
        //   w13 (SCD2) / a16 (sequence match): user-namespaced events —
        //     keys grow kx, per-key window state stays O(1); the shared
        //     single-shuffle shape must scale with rows, not keys^2.
        //   o7 (z-order census): input grows kx, the bucket census stays
        //     <=64 cells — wall should track the scan term only.
        //   a15 (CMS): input occurrences grow kx but the sketch is a fixed
        //     2k-cell grid — the build's map-side collapse is the claim.
        //   t20 (chunk-rewrite dedup): namespaced replicas — dup chunks
        //     replicate per-namespace, census + anti-join grow kx.
        //   t21 (BM25): PLAIN replicas (terms must keep matching) — tf
        //     rows grow kx; only term-matching occurrences shuffle.
        // env: SPARK_GRAFT_SCALES (default "1,16"), SPARK_GRAFT_SCALE_OPS
        //      (default "w13,a16,o7,a15,t20,t21")
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,16")
          .split(",").map(_.trim.toInt).toSeq
        val ops8 = sys.env
          .getOrElse("SPARK_GRAFT_SCALE_OPS", "w13,a16,o7,a15,t20,t21,t22")
          .split(",").map(_.trim).toSet
        val names8 = Seq(
          "w13" -> ("w13_scd2", "ev"), "a16" -> ("a16_seq_convert", "ev"),
          "o7" -> ("o7_zorder", "ev"), "a15" -> ("a15_cms", "ns"),
          "t20" -> ("t20_line_dedup", "ns"), "t21" -> ("t21_bm25", "pl"),
          "t22" -> ("t22_postings", "pl"))
        val registry8 = queries.Queries.all.toMap
        val docs8 = Tables.documents(spark, sfDir)
        val didSpan8 = docs8.agg(max(col("doc_id"))).head.getLong(0) + 1
        val ev8 = spark.read.parquet(s"$sfDir/events.parquet")
        val eidSpan8 = ev8.agg(max(col("event_id"))).head.getLong(0) + 1
        val uidSpan8 = ev8.agg(max(col("user_id"))).head.getLong(0) + 1
        def repDocs8(k: Int, namespaced: Boolean) = (0 until k).map { i =>
          val txt = if (i == 0 || !namespaced) col("text")
            else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")
          docs8.select((col("doc_id") + lit(i * didSpan8)).as("doc_id"),
            txt.as("text"), col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
        def repEv8(k: Int) = (0 until k).map(i => ev8.select(
          (col("event_id") + lit(i * eidSpan8)).as("event_id"), col("ts"),
          (col("user_id") + lit(i * uidSpan8)).as("user_id"),
          col("event_type"), col("value"), col("props")))
          .reduce(_ unionByName _)
        val times8 = scala.collection.mutable.Map[String, Double]()
        for (k <- scales) {
          val dir = java.nio.file.Files.createTempDirectory(s"scale8x$k")
            .toString
          repDocs8(k, namespaced = true).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
          repEv8(k).write.mode("overwrite").parquet(s"$dir/events.parquet")
          val dirP = java.nio.file.Files.createTempDirectory(s"scale8px$k")
            .toString
          repDocs8(k, namespaced = false).write.mode("overwrite")
            .parquet(s"$dirP/documents.parquet")
          for ((short, (qname, kind)) <- names8 if ops8(short)) {
            spark.sharedState.cacheManager.clearCache()
            val t0 = System.nanoTime()
            val df = registry8(qname)(spark, if (kind == "pl") dirP else dir)
            val n = df
              .select((xxhash64(struct(df.columns.map(col): _*)) %
                lit(1000000007L)).as("h"))
              .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
              .head.getLong(1)
            val dt = (System.nanoTime() - t0) / 1e9
            times8(s"${short}_x$k") = dt
            println(f"TIMER ${short}_x$k%-10s ${dt}%8.2f s  rows=$n")
          }
        }
        for ((short, _) <- names8
             if times8.contains(s"${short}_x${scales.max}") &&
               times8.contains(s"${short}_x${scales.min}") &&
               scales.max > scales.min) {
          val growth = scales.max.toDouble / scales.min
          val r = times8(s"${short}_x${scales.max}") /
            times8(s"${short}_x${scales.min}")
          val verdict = if (r < growth * growth) "SUBQUADRATIC"
            else "SUPERLINEAR!"
          println(f"SCALE $short%-4s x${scales.max}/x${scales.min} = ${r}%6.2f  " +
            f"($verdict; linear=${growth}%.0f, quadratic=${growth * growth}%.0f)")
        }
      case Some("scale7") =>
        // streaming STATE probes for the w11/w12 newcomers: replay their
        // exact 3-delivery constructions at 1x and kx event density and
        // time each delivery. user_id is namespaced per replica so w12's
        // interval-join matches stay within-replica (honest linear growth:
        // more users, not k^2 denser per-user match space); event_id
        // namespacing keeps w11's dedup keys disjoint, so dedup state
        // grows kx and the watermark TTL must keep each delivery's wall
        // tracking the data term, not accumulated state.
        // env: SPARK_GRAFT_SCALES (default "1,16"),
        //      SPARK_GRAFT_SCALE_OPS (default "w11s,w12s")
        import org.apache.spark.sql.functions._
        val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,16")
          .split(",").map(_.trim.toInt).toSeq
        val ops7 = sys.env.getOrElse("SPARK_GRAFT_SCALE_OPS", "w11s,w12s")
          .split(",").map(_.trim).toSet
        val raw7 = spark.read.parquet(s"$sfDir/events.parquet")
        val usCol7 = raw7.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => expr("ts div 1000")
          case _ => expr("unix_micros(cast(ts as timestamp))")
        }
        val base7 = raw7.select(col("event_id"), usCol7.as("us"),
          col("value"), col("user_id").cast("long").as("user_id"))
        val eidSpan7 = base7.agg(max(col("event_id"))).head.getLong(0) + 1
        val uidSpan7 = base7.agg(max(col("user_id"))).head.getLong(0) + 1
        def rep7(k: Int) = (0 until k).map(i => base7.select(
          (col("event_id") + lit(i * eidSpan7)).as("event_id"), col("us"),
          col("value"), (col("user_id") + lit(i * uidSpan7)).as("user_id")))
          .reduce(_ unionByName _)
        val dayUs = 86400000000L
        val times = scala.collection.mutable.Map[String, Double]()
        def timed(name: String)(f: => Long): Unit = {
          val t0 = System.nanoTime()
          val n = f
          val dt = (System.nanoTime() - t0) / 1e9
          times(name) = dt
          println(f"TIMER $name%-12s ${dt}%8.2f s  rows=$n")
        }
        for (k <- scales) {
          val ev = rep7(k).withColumn("rel_ms",
            expr("us div 1000") - queries.QuerySpec.RangeStartMs)
          val dayMs = 86400000L
          val base = when(col("rel_ms") < 10 * dayMs, 0)
            .when(col("rel_ms") < 20 * dayMs, 1).otherwise(2)
          if (ops7("w11s")) {
            // w11's exact class construction over the replicated stream
            val batchCol = least(base + when(col("event_id") % 11 === 0, 1)
              .otherwise(0), lit(2))
            val orig = ev.select(col("event_id"), col("us"), col("value"),
              batchCol.as("batch"))
            val dupSame = orig.where(col("event_id") % 5 === 0)
            val dupNext = orig
              .where(col("event_id") % 3 === 0 &&
                col("event_id") % 11 =!= 0 && col("batch") < 2)
              .withColumn("batch", col("batch") + 1)
            val reoccur = ev
              .where(base === 0 && col("event_id") % 13 === 0 &&
                col("event_id") % 11 =!= 0)
              .select(col("event_id"),
                (col("us") + lit(25L * dayUs / 1000L * 1000L)).as("us"),
                col("value"), lit(2).as("batch"))
            val lines = orig.unionByName(dupSame).unionByName(dupNext)
              .unionByName(reoccur)
              .select(col("event_id"), col("batch"),
                concat_ws("\t", col("event_id"), col("us"), col("value"))
                  .as("value_line"))
            val root = java.nio.file.Files.createTempDirectory(s"w11x$k")
            val drop = root.resolve("drop")
            java.nio.file.Files.createDirectories(drop)
            val sink = root.resolve("sink").toString
            for (b <- 0 to 2) {
              lines.where(col("batch") === b)
                .orderBy(col("event_id")).select(col("value_line"))
                .coalesce(1).write.mode("append").text(drop.toString)
              timed(s"w11_x${k}_b$b") {
                streaming.EventWindowStream.deliverDedup(spark,
                  drop.toString, root.resolve("ckpt").toString, sink,
                  delay = "2 hours")
                spark.read.parquet(sink).count()
              }
            }
          }
          if (ops7("w12s")) {
            val batchCol = when(base === 0 && col("event_id") % 11 === 0, 2)
              .otherwise(base)
            val lines = ev.select(col("event_id"), batchCol.as("batch"),
              (col("event_id") % 2).as("side"),
              concat_ws("\t", col("event_id"), col("us"), col("user_id"))
                .as("value_line"))
            val root = java.nio.file.Files.createTempDirectory(s"w12x$k")
            val dropA = root.resolve("dropA")
            val dropB = root.resolve("dropB")
            java.nio.file.Files.createDirectories(dropA)
            java.nio.file.Files.createDirectories(dropB)
            val sink = root.resolve("sink").toString
            for (b <- 0 to 2) {
              for ((side, dir) <- Seq(0 -> dropA, 1 -> dropB)) {
                lines.where(col("batch") === b && col("side") === side)
                  .orderBy(col("event_id")).select(col("value_line"))
                  .coalesce(1).write.mode("append").text(dir.toString)
              }
              timed(s"w12_x${k}_b$b") {
                streaming.EventWindowStream.deliverJoin(spark,
                  dropA.toString, dropB.toString,
                  root.resolve("ckpt").toString, sink, delay = "2 hours")
                spark.read.parquet(sink).count()
              }
            }
          }
        }
        for (q <- Seq("w11", "w12"); b <- 0 to 2
             if times.contains(s"${q}_x${scales.max}_b$b") &&
               times.contains(s"${q}_x${scales.min}_b$b") &&
               scales.max > scales.min) {
          val growth = scales.max.toDouble / scales.min
          val r = times(s"${q}_x${scales.max}_b$b") /
            times(s"${q}_x${scales.min}_b$b")
          val verdict = if (r < growth) "SUBLINEAR"
            else if (r < growth * growth) "SUBQUADRATIC" else "SUPERLINEAR!"
          println(f"SCALE ${q}_b$b x${scales.max}/x${scales.min} = ${r}%6.2f  " +
            f"($verdict; linear=${growth}%.0f)")
        }
      case Some("j13x") =>
        // Binding-clamp skew probe (r12 verdict item 7): j13's measured
        // factors (2/13/32 across SFs) only REACH the 32 cap at sf0.1 —
        // this probe drives a far hotter sentinel (user_id % 3 == 0 →
        // account 0, ~33% of the probe, skew multiple >> cap) at ×1/×16
        // event replication, so the clamp provably binds, and documents
        // the POST-REPAIR balance: rows per (hot key, salt) cell vs the
        // unsalted single-task max. Replication offsets event_id/user_id
        // per replica (scale12's shape) — account 0 stays THE hot key, so
        // its absolute count grows 16× while the cap stays 32.
        import org.apache.spark.sql.functions._
        val scalesJ = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,16")
          .split(",").map(_.trim.toInt).toSeq
        val evJ = spark.read.parquet(s"$sfDir/events.parquet")
        val eSpanJ = evJ.agg(max(col("event_id"))).head.getLong(0) + 1
        val uSpanJ = evJ.agg(max(col("user_id"))).head.getLong(0) + 1
        val buildJ = spark.read.parquet(s"$sfDir/customer.parquet")
          .select(col("c_custkey").as("account_id"), col("c_mktsegment"))
        for (k <- scalesJ) {
          val evK = (0 until k).map(i => evJ.select(
            (col("event_id") + lit(i * eSpanJ)).as("event_id"),
            (col("user_id") + lit(i * uSpanJ)).as("user_id"),
            col("value"))).reduce(_ unionByName _)
          val probeJ = evK.select(
            when(col("user_id") % 3 === 0, lit(0L))
              .otherwise(col("user_id")).as("account_id"),
            col("event_id"), col("value"))
          val (joinedJ, hotJ, statsJ) = operators.Skew.adaptiveSaltedJoin(
            probeJ, buildJ, Seq("account_id"), "event_id",
            queries.QuerySpec.J13HotNum, queries.QuerySpec.J13HotDen,
            queries.QuerySpec.J13SaltCap)
          time(s"j13x_join_x$k")(joinedJ.count())
          val st = statsJ.head
          val (nK, tot, mx) = (st.getLong(0), st.getLong(1), st.getLong(2))
          println(f"j13x_x$k census: n_keys=$nK tot=$tot max_key=$mx " +
            f"skew_multiple=${mx.toDouble * nK / tot}%.1f " +
            f"(cap=${queries.QuerySpec.J13SaltCap})")
          // post-repair balance: per-(hot key, salt) cell census — the
          // unsalted plan puts max_key rows in ONE task; after salting the
          // hot key's largest cell is its residual per-task max
          val cells = probeJ
            .join(broadcast(hotJ), Seq("account_id"))
            .groupBy(col("account_id"),
              pmod(xxhash64(col("event_id")), col("_factor")).as("_s"))
            .agg(count(lit(1)).as("n"))
          val bal = cells.groupBy(col("account_id"))
            .agg(max(col("n")).as("cell_max"), avg(col("n")).as("cell_mean"),
              count(lit(1)).as("n_cells"))
            .orderBy(col("cell_max").desc)
          bal.collect().take(5).foreach { r =>
            println(f"j13x_x$k hot key=${r.getLong(0)} cells=${r.getLong(3)} " +
              f"cell_max=${r.getLong(1)} cell_mean=${r.getDouble(2)}%.0f " +
              f"balance=${r.getLong(1) / r.getDouble(2)}%.3fx")
          }
        }
      case Some("pipe15x") =>
        // stage-by-stage pipe15 profile: curation cache fill, decon,
        // flag join, mix selection, then the full spine twice
        import org.apache.spark.sql.functions._
        val gated15 = queries.Queries.curationGated(spark, sfDir)
          .withColumn("words",
            size(operators.TextAnalysis.tokens(col("clean"))).cast("long"))
          .persist()
        time("gated_fill")(gated15.count())
        time("gated_cached")(gated15.count())
        val bench15 = gated15.where(col("doc_id") % 29 === 0)
          .select(col("doc_id"), col("clean"))
        val corp15 = gated15.where(col("final_ok") && col("doc_id") % 29 =!= 0)
          .select(col("doc_id"), col("clean"))
        val contam15 = operators.Decontaminate
          .contaminatedDocs(corp15, bench15, "doc_id", "clean",
            queries.QuerySpec.Pipe15DeconK)
          .select(col("doc_id"))
        time("decon")(contam15.count())
        val deconOk15 = corp15.select(col("doc_id"))
          .join(contam15, Seq("doc_id"), "left_anti")
        val flags15 = gated15
          .join(deconOk15.withColumn("decon_ok", lit(true)), Seq("doc_id"),
            "left")
          .withColumn("decon_ok", coalesce(col("decon_ok"), lit(false)))
          .persist()
        time("flags_fill")(flags15.count())
        val kept15 = queries.Queries.mixSelectOn(spark,
          flags15.where(col("decon_ok"))
            .select(col("doc_id"), col("lang"), col("words").as("toks")))
          .persist()
        time("kept_fill")(kept15.count())
        spark.sharedState.cacheManager.clearCache()
        val gatedW = queries.Queries.curationGated(spark, sfDir)
          .withColumn("words",
            size(operators.TextAnalysis.tokens(col("clean"))).cast("long"))
          .persist()
        time("gated_refill_warm")(gatedW.count())
        val gatedNoCache = queries.Queries.curationGated(spark, sfDir)
          .withColumn("words",
            size(operators.TextAnalysis.tokens(col("clean"))).cast("long"))
        time("gated_nocache_warm")(gatedNoCache.count())
        spark.sharedState.cacheManager.clearCache()
        time("full_first")(
          queries.Queries.pipe15EpochSpine(spark, sfDir).count())
        spark.sharedState.cacheManager.clearCache()
        time("full_second")(
          queries.Queries.pipe15EpochSpine(spark, sfDir).count())
      case Some("rest") =>
        import spark.implicits._
        val dir = java.nio.file.Files.createTempDirectory("restdemo")
        java.nio.file.Files.write(dir.resolve("BTCUSDT.json"),
          """[[1704067200000,"1","2","0.5","1.5","10",1704067259999,"15",7,"1","1","0"]]""".getBytes)
        val raw = spark.read.format(classOf[sources.RestSource].getName)
          .option("path", dir.toString).load()
        println(s"REST PARTITIONS: ${raw.rdd.getNumPartitions}")
        sources.KlineAdapters.binance(raw, 1, 1, 60000L).show(false)
      case Some("w3") =>
        time("w3_first")(queries.Queries.w3GapIslands(spark, sfDir).count())
        time("w3_second")(queries.Queries.w3GapIslands(spark, sfDir).count())
        queries.Queries.w3GapIslands(spark, sfDir).explain("formatted")
      case Some("d3x") =>
        import org.apache.spark.sql.functions._
        val docs0 = Tables.documents(spark, sfDir)
        val toks = docs0.select(col("doc_id").as("id"),
          operators.Dedup.tokenSet(col("text")).as("toks"))
          .where(size(col("toks")) > 0).persist()
        time("tokenize")(toks.count())
        val exploded = toks.select(col("id"), explode(col("toks")).as("tok"))
        time("vocab")(exploded.select(col("tok")).distinct().count())
        time("full_first")(queries.Queries.d3MinhashLsh(spark, sfDir).count())
        spark.sharedState.cacheManager.clearCache()
        time("full_second")(queries.Queries.d3MinhashLsh(spark, sfDir).count())
      case Some("d6x") =>
        import org.apache.spark.sql.functions._
        val docs0 = Tables.documents(spark, sfDir)
        val docs = docs0.select(col("doc_id").as("id"),
          operators.Dedup.tokenSet(col("text")).as("toks"))
          .withColumn("setkey", md5(concat_ws(" ", array_sort(col("toks")))))
        time("distinct_sets")(docs.select(col("setkey")).distinct().count())
        val spreadDocs = operators.Spread(docs0)
          .select(col("doc_id").as("id"),
            operators.Dedup.tokenSet(col("text")).as("toks"))
          .withColumn("setkey", md5(concat_ws(" ", array_sort(col("toks")))))
        time("distinct_sets_spread")(
          spreadDocs.select(col("setkey")).distinct().count())
        time("distinct_sets_spread2")(
          spreadDocs.select(col("setkey")).distinct().count())
        val hashed = docs.groupBy(col("setkey"))
          .agg(first(col("toks")).as("toks"))
          .select(col("setkey"), operators.Dedup.simhash(col("toks"), 60).as("sh"))
        time("simhash_stage")(hashed.count())
        time("simhash_again")(hashed.count())
        time("full")(queries.Queries.d6SimhashPairs(spark, sfDir).count())
        spark.sharedState.cacheManager.clearCache()
        time("full2")(queries.Queries.d6SimhashPairs(spark, sfDir).count())
        spark.sharedState.cacheManager.clearCache()
        time("full3")(queries.Queries.d6SimhashPairs(spark, sfDir).count())
      case Some("d7x") =>
        import org.apache.spark.sql.functions._
        val docs = Tables.documents(spark, sfDir)
        val corpus = docs.where(col("doc_id") % 29 =!= 0)
        val bench = docs.where(col("doc_id") % 29 === 0)
        val cSh = corpus.select(col("doc_id"),
          explode(operators.TextAnalysis.shingleHashes(col("text"), 3)).as("sh"))
        val bSh = bench.select(
          explode(operators.TextAnalysis.shingleHashes(col("text"), 3)).as("sh"))
        time("array_only")(corpus.select(
          size(operators.TextAnalysis.shingleHashes(col("text"), 3)).as("n"))
          .agg(sum(col("n"))).count())
        time("corpus_explode")(cSh.count())
        time("bench_explode")(bSh.count())
        time("bench_distinct")(bSh.distinct().count())
        time("join")(cSh.join(bSh.distinct(), Seq("sh")).count())
        time("full")(queries.Queries.d7Contamination(spark, sfDir).count())
      case Some("d9x") =>
        import org.apache.spark.sql.functions._
        val docs = Tables.documents(spark, sfDir)
        val pairs = operators.Dedup.jaccardDupPairs(docs, "doc_id", "text",
          Seq("lang", "source"), 0.8, maxBlock = Long.MaxValue)
        time("pairs")(pairs.count())
        val cc = operators.Components.connectedComponents(
          docs, "doc_id", pairs, "id_a", "id_b")
        time("terminal")(cc.count())
        time("terminal2")(cc.count())
        spark.sharedState.cacheManager.clearCache()
        time("full_cold")(queries.Queries.d9DupClusters(spark, sfDir).count())
        spark.sharedState.cacheManager.clearCache()
        var pairs2: org.apache.spark.sql.DataFrame = null
        time("build_pairs") {
          pairs2 = operators.Dedup.jaccardDupPairs(docs, "doc_id", "text",
            Seq("lang", "source"), 0.8, maxBlock = Long.MaxValue); 0L }
        var cc2: org.apache.spark.sql.DataFrame = null
        time("build_cc") {
          cc2 = operators.Components.connectedComponents(
            docs, "doc_id", pairs2, "id_a", "id_b"); 0L }
        time("count_cc")(cc2.orderBy(col("doc_id")).count())
      case Some("pipe2x") =>
        // pipe2_stream_funnel cost breakdown: corpus drop-file write,
        // streaming funnel (startup + one AvailableNow batch), sink
        // read-back — to see which of the three owns the bench median
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        import queries.QuerySpec._
        val base = java.nio.file.Files.createTempDirectory("pipe2x")
        val drop = base.resolve("drop")
        time("corpus_write") {
          Tables.documents(spark, sfDir)
            .select(col("doc_id"),
              concat_ws("\t", col("doc_id"), col("text")).as("value"))
            .orderBy(col("doc_id")).select(col("value")).coalesce(1)
            .write.text(drop.toString); 0L
        }
        time("stream_funnel") {
          streaming.DocStream.ingestFunnel(spark, drop.toString,
            base.resolve("ckpt").toString, base.resolve("sink").toString,
            base.resolve("pstore").toString,
            minQuality = 0.5, langs = Seq("en", "es", "de"),
            passageK = PassageK, sampleRates = Map("en" -> 0.25),
            sampleDefault = 0.5, markers = LangMarkers,
            stopwords = Stopwords,
            trigger = Trigger.AvailableNow()).awaitTermination(300000); 0L
        }
        time("sink_readback") {
          spark.read.parquet(base.resolve("sink").toString).count()
        }
        val nSink = java.nio.file.Files.walk(base.resolve("sink"))
          .filter(p => p.toString.endsWith(".parquet")).count()
        val nP = java.nio.file.Files.walk(base.resolve("pstore"))
          .filter(p => p.toString.endsWith(".parquet")).count()
        println(s"SINK FILES: $nSink  PSTORE FILES: $nP")
      case Some("w9x") =>
        // w9 watermark debug: fixed dirs, per-delivery sink row counts and
        // the checkpoint's recorded watermark
        import org.apache.spark.sql.functions._
        val root = java.nio.file.Paths.get("/tmp/w9x")
        org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
        val drop = root.resolve("drop")
        java.nio.file.Files.createDirectories(drop)
        val sink = root.resolve("sink").toString
        val rawEv = spark.read.parquet(s"$sfDir/events.parquet")
        val usCol = rawEv.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => expr("ts div 1000")
          case _ => expr("unix_micros(cast(ts as timestamp))")
        }
        val ev = rawEv.select(col("event_id"), usCol.as("us"), col("value"))
          .withColumn("rel_ms",
            expr("us div 1000") - queries.QuerySpec.RangeStartMs)
        val dayMs = 86400000L
        val base0 = when(col("rel_ms") < 10 * dayMs, 0)
          .when(col("rel_ms") < 20 * dayMs, 1).otherwise(2)
        val batchCol = least(base0 + when(col("event_id") % 11 === 0, 1)
          .otherwise(0), lit(2))
        val lines = ev.select(col("event_id"), batchCol.as("batch"),
          concat_ws("\t", col("event_id"), col("us"), col("value"))
            .as("value_line"))
        for (b <- 0 to 2) {
          lines.where(col("batch") === b)
            .orderBy(col("event_id")).select(col("value_line"))
            .coalesce(1).write.mode("append").text(drop.toString)
          streaming.EventWindowStream.deliver(spark, drop.toString,
            root.resolve("ckpt").toString, sink,
            delay = "2 hours", windowDur = "1 day")
          val n = try spark.read.parquet(sink).count() catch {
            case _: Throwable => -1L }
          println(s"AFTER DELIVERY $b: sink rows = $n")
        }
        import scala.jdk.CollectionConverters._
        val commits = java.nio.file.Files.list(root.resolve("ckpt/offsets"))
          .iterator().asScala.toSeq.sortBy(_.toString)
        commits.foreach { p =>
          val txt = new String(java.nio.file.Files.readAllBytes(p))
          println(s"OFFSET ${p.getFileName}: " +
            txt.linesIterator.filter(_.contains("watermark")).mkString(" | "))
        }
      case Some("m3x") =>
        // count() would PRUNE the feature columns — force full evaluation
        import org.apache.spark.sql.functions._
        val df = queries.Queries.m3PayloadFeatures(spark, sfDir)
        val total = expr((0 until 8).map(i => s"f$i").mkString(" + "))
        time("m3_eval_first")(
          df.agg(sum(total)).collect().length.toLong)
        time("m3_eval_second")(
          df.agg(sum(total)).collect().length.toLong)
      case Some("w20prune") =>
        // r13 verdict item 2 probe: with the vec index CELL-PARTITIONED on
        // disk, a fixed 32-vector batch's probe must read only the probed
        // cells' files and its wall must scale with the BATCH, not the
        // index — grow the index ×16 and report files probed/total + the
        // admit wall at each size
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.SaveMode
        val emb = Tables.embeddings(spark, sfDir)
        val k = 64
        val cents = operators.Similarity.collectCentroids(
          emb.where(col("vec_id") < k), "vec_id", "embedding")
        val batch = emb
          .where(col("vec_id") % 2 === 1 && col("vec_id") < 64)
          .select(col("vec_id"), col("embedding")).persist()
        println(s"batch rows: ${batch.count()}")
        for (mult <- Seq(1, 16)) {
          val root = java.nio.file.Files.createTempDirectory(s"w20prune$mult")
          val idx = root.resolve("idx").toString
          val sink = root.resolve("sink").toString
          val corpus = (0 until mult).map(i =>
            emb.where(col("vec_id") % 2 === 0)
              .select((col("vec_id") + lit(i.toLong * 10000000L))
                .as("vec_id"), col("embedding")))
            .reduce(_ unionByName _)
          operators.Similarity.writeVecIndex(corpus, "vec_id", "embedding",
            idx, cents, -1L, SaveMode.Overwrite)
          val vecs = spark.read.parquet(s"$idx/vecs")
          val total = vecs.select(input_file_name()).distinct().count()
          val probedCells = operators.Similarity.assignCellsRanked(batch,
              cents, "vec_id", "embedding", "id", "v", 2)
            .select(col("cell")).distinct().collect().map(_.getLong(0)).toSeq
          val probed = operators.Similarity.readVecIndexPruned(spark, idx,
              probedCells, 0L)
            .select(input_file_name()).distinct().count()
          println(s"x$mult: index_rows=${vecs.count()} " +
            s"cells_probed=${probedCells.size}/$k " +
            s"files_probed=$probed/$total")
          time(s"w20_admit_x$mult") {
            operators.Similarity.admitVecBatch(batch, 0L, "vec_id",
              "embedding", idx, sink, cents, nprobe = 2, threshold = 0.4)
            spark.read.parquet(sink).count()
          }
          time(s"w20_admit2_x$mult") {
            operators.Similarity.admitVecBatch(batch, 1L, "vec_id",
              "embedding", idx, sink, cents, nprobe = 2, threshold = 0.4)
            spark.read.parquet(sink).count()
          }
        }
        batch.unpersist()
      case Some("w21dens") =>
        // r15 verdict item 1 probe: does the epoch-boundary quantizer
        // refresh hold per-cell density flat where the FROZEN quantizer
        // degrades? Emulate admitted-data drift: grow the index ×16 with
        // perturbed copies of the vectors living in the 4 HOTTEST cells
        // (the m7-measured failure mode — replica near-dups concentrate),
        // then census the cell sizes and a trailing batch's probe cost
        // under (a) the frozen base model and (b) one refreshQuantizer +
        // rebuild. Report max/mean cell density, candidate rows a probe
        // touches, and the admit wall for each.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.SaveMode
        val emb = Tables.embeddings(spark, sfDir)
        val k = 64
        val nprobe = 2
        val cents0 = operators.Similarity.collectCentroids(
          emb.where(col("vec_id") < k), "vec_id", "embedding")
        val assigned = operators.Similarity.assignCells(
          emb.where(col("vec_id") % 2 === 0), cents0, "vec_id",
          "embedding", "id", "v", 1).persist()
        val hot4 = assigned.groupBy(col("cell")).count()
          .orderBy(col("count").desc, col("cell")).limit(4)
          .collect().map(_.getLong(0)).toSeq
        println(s"hottest cells under frozen model: ${hot4.mkString(",")}")
        // drift corpus: ×16 perturbed copies of the hot-cell vectors
        // (deterministic per-dim tilt — direction moves a little, so the
        // copies stay clustered but not byte-identical)
        val hotVecs = assigned.where(col("cell").isin(hot4: _*))
          .select(col("id"), col("v"))
        val drift = (1 to 16).map { i =>
          hotVecs.select((col("id") + lit(i.toLong * 10000000L)).as("id"),
            transform(col("v"), (x, d) =>
              (x.cast("double") *
                (lit(1.0) + ((lit(i) * 31 + d) % 7 - 3) * lit(0.01)))
                .cast("float")).as("v"))
        }.reduce(_ unionByName _)
        // trailing batch: 32 odd vectors (not in the growth slice)
        val batch = emb.where(col("vec_id") % 2 === 1 && col("vec_id") < 64)
          .select(col("vec_id"), col("embedding")).persist()
        println(s"batch rows: ${batch.count()}")
        val root = java.nio.file.Files.createTempDirectory("w21dens")
        val idx0 = root.resolve("idx0").toString
        operators.Similarity.writeVecIndex(
          assigned.select(col("id").as("vec_id"), col("v").as("embedding"))
            .unionByName(drift.select(col("id").as("vec_id"),
              col("v").as("embedding"))),
          "vec_id", "embedding", idx0, cents0, -1L, SaveMode.Overwrite)
        def census(idx: String, cents: Array[(Long, Array[Double])],
            label: String): Unit = {
          val vecs = spark.read.parquet(s"$idx/vecs")
          val cellCounts = vecs.groupBy(col("cell").cast("long").as("cell"))
            .count().collect().map(r => r.getLong(0) -> r.getLong(1))
          val n = cellCounts.map(_._2).sum
          val mx = cellCounts.map(_._2).max
          val mean = n.toDouble / k
          val probed = operators.Similarity.assignCellsRanked(batch,
              cents, "vec_id", "embedding", "id", "v", nprobe)
            .select(col("cell")).distinct().collect()
            .map(_.getLong(0)).toSet
          val cand = cellCounts.collect {
            case (c, cnt) if probed(c) => cnt }.sum
          println(f"$label%-9s rows=$n%7d cells_used=${cellCounts.size}%3d" +
            f" max_cell=$mx%7d max/mean=${mx / mean}%6.2f" +
            f" probe_cells=${probed.size}%3d probe_candidates=$cand%7d")
          // admit into a throwaway COPY: the append must not contaminate
          // the index the refresh is measured against
          val scratch = java.nio.file.Files
            .createTempDirectory(s"w21dens_admit")
          val idxCopy = scratch.resolve("idx")
          val srcP = java.nio.file.Paths.get(idx)
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(srcP)
          val paths = try walk.iterator().asScala.toSeq.sortBy(_.toString)
            finally walk.close()
          paths.foreach { p =>
            val dst = idxCopy.resolve(srcP.relativize(p).toString)
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.createDirectories(dst)
            else java.nio.file.Files.copy(p, dst)
          }
          val sink = scratch.resolve("s").toString
          time(s"admit_$label") {
            operators.Similarity.admitVecBatch(batch, 999999L, "vec_id",
              "embedding", idxCopy.toString, sink, cents, nprobe,
              queries.QuerySpec.SemThreshold)
            spark.read.parquet(sink).count()
          }
        }
        census(idx0, cents0, "frozen")
        val tRef0 = System.nanoTime()
        val cents1 = operators.Similarity.refreshQuantizer(spark, idx0,
          cents0, queries.QuerySpec.EmbeddingDim)
        val idx1 = root.resolve("idx1").toString
        operators.Similarity.rebuildVecIndex(spark, idx0, idx1, cents1)
        println(f"refresh+rebuild wall: ${(System.nanoTime() - tRef0) / 1e9}%.2f s")
        census(idx1, cents1, "refreshed")
        assigned.unpersist(); batch.unpersist()
      case Some("w16prune") =>
        // the text-plane twin of w20prune: bands read prunes to the
        // delta's band-buckets, toks read to the candidates' id-buckets
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.SaveMode
        val docs = Tables.documents(spark, sfDir)
        val batch = docs
          .where(col("doc_id") % 2 === 1 && col("doc_id") < 64)
          .select(col("doc_id"), col("text")).persist()
        println(s"batch rows: ${batch.count()}")
        for (mult <- Seq(1, 16)) {
          val root = java.nio.file.Files.createTempDirectory(s"w16prune$mult")
          val idx = root.resolve("idx").toString
          val sink = root.resolve("sink").toString
          val corpus = (0 until mult).map(i =>
            docs.where(col("doc_id") % 2 === 0)
              .select((col("doc_id") + lit(i.toLong * 10000000L))
                .as("doc_id"), col("text")))
            .reduce(_ unionByName _)
          operators.Dedup.writeTaggedIndex(corpus, "doc_id", "text", idx,
            queries.QuerySpec.MinhashK, queries.QuerySpec.MinhashBands,
            queries.QuerySpec.W16ShingleK, -1L, SaveMode.Overwrite)
          val bands = spark.read.parquet(s"$idx/bands")
          println(s"x$mult: band_rows=${bands.count()} files_total=" +
            bands.select(input_file_name()).distinct().count())
          // admitBatch returns its admitted-id frame as a LocalRelation
          // (nothing cached since r17's collect-fusion); the .unpersist()
          // was dropped with the stale persisted-frame comment (r17
          // ADVICE hygiene item)
          time(s"w16_admit_x$mult") {
            operators.Dedup.admitBatch(batch, 0L, "doc_id", "text", idx,
              sink, queries.QuerySpec.MinhashK,
              queries.QuerySpec.MinhashBands,
              queries.QuerySpec.W16ShingleK,
              queries.QuerySpec.MinhashThreshold)
            spark.read.parquet(sink).count()
          }
          time(s"w16_admit2_x$mult") {
            operators.Dedup.admitBatch(batch, 1L, "doc_id", "text", idx,
              sink, queries.QuerySpec.MinhashK,
              queries.QuerySpec.MinhashBands,
              queries.QuerySpec.W16ShingleK,
              queries.QuerySpec.MinhashThreshold)
            spark.read.parquet(sink).count()
          }
        }
        batch.unpersist()
      case Some("pipe16x") =>
        // stage-by-stage cost of ONE pipe16 micro-batch at this sf dir
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.SaveMode
        val docs = Tables.documents(spark, sfDir)
        val root = java.nio.file.Files.createTempDirectory("p16x")
        val idx = root.resolve("idx").toString
        val bench = root.resolve("bench").toString
        val base = queries.Queries.curationCleaned(
          docs.where(col("doc_id") % 2 === 0)
            .select(col("doc_id"), col("lang"), col("source"), col("text")))
          .persist()
        time("stage_index") {
          operators.Dedup.writeTaggedIndex(base.where(col("clean_ok")),
            "doc_id", "clean", idx, queries.QuerySpec.MinhashK,
            queries.QuerySpec.MinhashBands, queries.QuerySpec.W16ShingleK,
            -1L, SaveMode.Overwrite); 0L
        }
        time("stage_bench") {
          base.where(col("doc_id") % 29 === 0)
            .select(explode(operators.TextAnalysis.shingleHashes(
              col("clean"), queries.QuerySpec.Pipe15DeconK)).as("sh"))
            .distinct().coalesce(1).write.parquet(bench); 0L
        }
        val b0raw = docs.where(col("doc_id") % 2 === 1 &&
          expr("doc_id div 2") % queries.QuerySpec.Pipe16Batches === 0)
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
        var cur: org.apache.spark.sql.DataFrame = null
        time("curation")({
          cur = queries.Queries.curationCleaned(b0raw).persist()
          cur.count() })
        var deconOk: org.apache.spark.sql.DataFrame = null
        time("decon")({
          val cont = operators.Decontaminate.contaminatedAgainstSet(
            cur.where(col("clean_ok")), spark.read.parquet(bench),
            "doc_id", "clean", queries.QuerySpec.Pipe15DeconK)
            .select(col("doc_id"))
          deconOk = cur.where(col("clean_ok"))
            .join(cont, Seq("doc_id"), "left_anti").persist()
          deconOk.count() })
        time("admit") {
          operators.Dedup.admitBatch(
            deconOk.select(col("doc_id"), col("clean")), 0L, "doc_id",
            "clean", idx, root.resolve("sink").toString,
            queries.QuerySpec.MinhashK, queries.QuerySpec.MinhashBands,
            queries.QuerySpec.W16ShingleK,
            queries.QuerySpec.MinhashThreshold) // result discarded
          spark.read.parquet(root.resolve("sink").toString).count()
        }
        locally {
          val jobs = scala.collection.mutable.Buffer.empty[(Int, Long)]
          val starts = scala.collection.mutable.Map.empty[Int, Long]
          val listener = new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              starts(j.jobId) = j.time
            override def onJobEnd(
                j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
              jobs += ((j.jobId, j.time - starts.getOrElse(j.jobId, j.time)))
          }
          spark.sparkContext.addSparkListener(listener)
          time("full_ingest") {
            operators.EpochSpine.ingestBatch(cur, 1L, bench, idx,
              root.resolve("sink").toString,
              root.resolve("census").toString, Seq(("en", 100000L)),
              queries.QuerySpec.MinhashK, queries.QuerySpec.MinhashBands,
              queries.QuerySpec.W16ShingleK,
              queries.QuerySpec.MinhashThreshold,
              queries.QuerySpec.Pipe15DeconK, queries.QuerySpec.PackShards)
            0L
          }
          try {
            val bus = spark.sparkContext.getClass
              .getMethod("listenerBus").invoke(spark.sparkContext)
            bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
          } catch { case _: Throwable => Thread.sleep(500) }
          spark.sparkContext.removeSparkListener(listener)
          val tot = jobs.map(_._2).sum
          println(s"JOBS n=${jobs.size} wall_in_jobs=${tot}ms " +
            jobs.map { case (i, m) => s"j$i=${m}ms" }.mkString(" "))
        }
        // admitBatch's internal phases, re-run standalone (batch id 2)
        locally {
          import operators.Dedup
          val k = queries.QuerySpec.MinhashK
          val bands = queries.QuerySpec.MinhashBands
          val shingleK = queries.QuerySpec.W16ShingleK
          val threshold = queries.QuerySpec.MinhashThreshold
          val indexPath = idx; val tag = 2L
          val s = spark
          val batch2 = deconOk.select(col("doc_id"), col("clean"))
          var dToks: org.apache.spark.sql.DataFrame = null
          var dBands: org.apache.spark.sql.DataFrame = null
          time("a_toks_bands")({
            dToks = operators.Spread(batch2).select(col("doc_id").as("id"),
              operators.TextAnalysis.shingleHashes(col("clean"), shingleK)
                .as("toks"))
              .where(size(col("toks")) > 0).persist()
            dBands = Dedup.bandCols(Dedup.signatures(dToks, k), k, bands)
              .select(col("id"), explode(array((0 until bands).map(b =>
                col(s"b$b")): _*)).as("band")).persist()
            dBands.count() })
          var bk1: Seq[Long] = null
          time("b_bucket_collect1")({
            bk1 = dBands.select(pmod(xxhash64(col("band")),
              lit(Dedup.IndexBuckets)).as("bucket"))
              .distinct().collect().map(_.getLong(0)).toSeq.sorted
            bk1.size.toLong })
          var candIds: org.apache.spark.sql.DataFrame = null
          time("c_cand")({
            candIds = Dedup.readBucketPruned(s, s"$indexPath/bands", bk1,
              tag)
              .join(broadcast(dBands.withColumnRenamed("id", "delta_id")),
                Seq("band"))
              .select(col("id"), col("delta_id")).distinct().persist()
            candIds.count() })
          var bk2: Seq[Long] = null
          time("d_bucket_collect2")({
            bk2 = candIds.select(pmod(xxhash64(col("id")),
              lit(Dedup.IndexBuckets)).as("bucket"))
              .distinct().collect().map(_.getLong(0)).toSeq.sorted
            bk2.size.toLong })
          time("e_verify")({
            candIds
              .join(Dedup.readBucketPruned(s, s"$indexPath/toks", bk2, tag),
                Seq("id"))
              .join(broadcast(dToks.select(col("id").as("delta_id"),
                col("toks").as("dtoks"))), Seq("delta_id"))
              .where(Dedup.jaccard(col("toks"), col("dtoks")) >= threshold)
              .select(col("delta_id").as("id")).distinct().count() })
          time("f_band_append")({
            dBands.select(col("band"), col("id"), lit(tag).as("batch_id"),
              pmod(xxhash64(col("band")), lit(Dedup.IndexBuckets))
                .as("bucket"))
              .coalesce(1).write.mode(SaveMode.Append)
              .partitionBy("bucket").parquet(s"$indexPath/bands"); 0L })
          time("g_toks_append")({
            dToks.select(col("id"), col("toks"), lit(tag).as("batch_id"),
              pmod(xxhash64(col("id")), lit(Dedup.IndexBuckets))
                .as("bucket"))
              .coalesce(1).write.mode(SaveMode.Append)
              .partitionBy("bucket").parquet(s"$indexPath/toks"); 0L })
        }
      case Some("o8x") =>
        // r14 verdict item 5: the exact-percentile queries' 100 TB swap
        // (approxQuantile boundaries + repartitionByRange), MEASURED at
        // ×16 data against the exact form the oracle contract needs. The
        // exact `percentile` buffers every value in ONE aggregation
        // buffer (o8 is the suite's GC king — 0.44-0.67 s GC/run);
        // approxQuantile streams a bounded GK sketch per partition.
        import org.apache.spark.sql.functions._
        val gcBeans = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans
        def gcMs: Long = {
          var t = 0L
          gcBeans.forEach(b => t += math.max(b.getCollectionTime, 0L))
          t
        }
        val li16 = (0 until 16)
          .map(_ => Tables.lineitem(spark, sfDir)
            .select(col("l_extendedprice").as("x")))
          .reduce(_ unionByName _).persist()
        println(s"x16 rows: ${li16.count()}")
        def shardCensus(bnds: org.apache.spark.sql.DataFrame): Long =
          li16.crossJoin(broadcast(bnds))
            .select(col("x"), aggregate(col("bnds"), lit(0),
              (acc, b) => acc + when(col("x") >= b, 1).otherwise(0))
              .as("shard"))
            .groupBy(col("shard"))
            .agg(count(lit(1)).as("n_rows"),
              min(col("x")).as("min_x"), max(col("x")).as("max_x"))
            .count()
        for (round <- 1 to 3) {
          spark.sharedState.cacheManager.clearCache()
          li16.persist(); li16.count()
          System.gc()
          val g0 = gcMs
          time(s"exact_r$round") {
            shardCensus(li16.agg(percentile(col("x"),
              array((1 to 7).map(i => lit(i / 8.0)): _*)).as("bnds")))
          }
          println(s"  exact_r$round gc_ms=${gcMs - g0}")
          System.gc()
          val g1 = gcMs
          time(s"approx_r$round") {
            val qs = li16.stat.approxQuantile("x",
              (1 to 7).map(_ / 8.0).toArray, 1e-4)
            shardCensus(spark.range(1)
              .select(array(qs.map(lit): _*).as("bnds")))
          }
          println(s"  approx_r$round gc_ms=${gcMs - g1}")
        }
        // the layout move itself at ×16: repartitionByRange writes with
        // sampled boundaries — the production form o8's docstring names
        time("rangewrite_x16") {
          val out = java.nio.file.Files.createTempDirectory("o8x").toString
          li16.repartitionByRange(8, col("x"))
            .sortWithinPartitions(col("x"))
            .write.mode("overwrite").parquet(out)
          spark.read.parquet(out).count()
        }
        li16.unpersist()
      case Some("bcurve") =>
        // r14 verdict item 4: the IndexBuckets tradeoff curve — B ∈ {8,64}
        // at ×16 index size, reporting files probed/total, admit wall, and
        // the append commit cost (the multi-file append is the price of
        // finer pruning; the curve is the measured basis for the "256+ at
        // 100 TB" claim in Dedup.IndexBuckets' scaladoc).
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.SaveMode
        val docs = Tables.documents(spark, sfDir)
        val batch = docs
          .where(col("doc_id") % 2 === 1 && col("doc_id") < 64)
          .select(col("doc_id"), col("text")).persist()
        println(s"batch rows: ${batch.count()}")
        for (bkts <- Seq(8L, 64L)) {
          val root = java.nio.file.Files.createTempDirectory(s"bcurve$bkts")
          val idx = root.resolve("idx").toString
          val sink = root.resolve("sink").toString
          val corpus = (0 until 16).map(i =>
            docs.where(col("doc_id") % 2 === 0)
              .select((col("doc_id") + lit(i.toLong * 10000000L))
                .as("doc_id"), col("text")))
            .reduce(_ unionByName _)
          operators.Dedup.writeTaggedIndex(corpus, "doc_id", "text", idx,
            queries.QuerySpec.MinhashK, queries.QuerySpec.MinhashBands,
            queries.QuerySpec.W16ShingleK, -1L, SaveMode.Overwrite,
            idxBuckets = bkts)
          val bandsT = spark.read.parquet(s"$idx/bands")
          val totalFiles = bandsT.select(input_file_name()).distinct()
            .count()
          // files a probe reads: the delta's own band-buckets (the same
          // dBands derivation admitBatch runs)
          val dToksB = batch.select(col("doc_id").as("id"),
              operators.TextAnalysis.shingleHashes(col("text"),
                queries.QuerySpec.W16ShingleK).as("toks"))
            .where(size(col("toks")) > 0)
          val dBuckets = operators.Dedup.bandCols(
              operators.Dedup.signatures(dToksB,
                queries.QuerySpec.MinhashK),
              queries.QuerySpec.MinhashK, queries.QuerySpec.MinhashBands)
            .select(explode(array(
              (0 until queries.QuerySpec.MinhashBands).map(b =>
                col(s"b$b")): _*)).as("band"))
            .select(pmod(xxhash64(col("band")), lit(bkts)).as("bucket"))
            .distinct().count()
          println(s"B=$bkts: band_rows=${bandsT.count()} " +
            s"files_total=$totalFiles delta_buckets=$dBuckets/$bkts")
          for (r <- 0 to 2) {
            val nf0 = spark.read.parquet(s"$idx/bands")
              .select(input_file_name()).distinct().count()
            time(s"B${bkts}_admit$r") {
              operators.Dedup.admitBatch(batch, r.toLong, "doc_id",
                "text", idx, sink, queries.QuerySpec.MinhashK,
                queries.QuerySpec.MinhashBands,
                queries.QuerySpec.W16ShingleK,
                queries.QuerySpec.MinhashThreshold,
                idxBuckets = bkts).unpersist()
              spark.read.parquet(sink).count()
            }
            val nf1 = spark.read.parquet(s"$idx/bands")
              .select(input_file_name()).distinct().count()
            println(s"  B=$bkts admit$r appended_band_files=${nf1 - nf0}")
          }
        }
        batch.unpersist()
      case Some("bcurvet") =>
        // r15 verdict item 3: the B-curve's claimed TRICKLE-BATCH pay-off
        // regime, measured — the bcurve run above measured the saturating
        // side (a 32-doc batch touches most dirs at any B); the scaladoc's
        // "256+ at 100 TB" conclusion rests on touched ≪ B for SMALL
        // batches, which had no measured point. batch ∈ {1, 4} docs ×
        // B ∈ {8, 64, 256} × ×16 index, reporting dirs touched/total,
        // probe wall, files appended per admit.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.SaveMode
        val docs = Tables.documents(spark, sfDir)
        for (bkts <- Seq(8L, 64L, 256L)) {
          val root = java.nio.file.Files.createTempDirectory(s"bct$bkts")
          val idx = root.resolve("idx").toString
          val corpus = (0 until 16).map(i =>
            docs.where(col("doc_id") % 2 === 0)
              .select((col("doc_id") + lit(i.toLong * 10000000L))
                .as("doc_id"), col("text")))
            .reduce(_ unionByName _)
          operators.Dedup.writeTaggedIndex(corpus, "doc_id", "text", idx,
            queries.QuerySpec.MinhashK, queries.QuerySpec.MinhashBands,
            queries.QuerySpec.W16ShingleK, -1L, SaveMode.Overwrite,
            idxBuckets = bkts)
          val totalFiles = spark.read.parquet(s"$idx/bands")
            .select(input_file_name()).distinct().count()
          println(s"B=$bkts: files_total=$totalFiles")
          for (bsz <- Seq(1, 4)) {
            val batch = docs
              .where(col("doc_id") % 2 === 1 && col("doc_id") < 2 * bsz)
              .select(col("doc_id"), col("text")).persist()
            val n = batch.count()
            val dBuckets = operators.Dedup.bandCols(
                operators.Dedup.signatures(
                  batch.select(col("doc_id").as("id"),
                    operators.TextAnalysis.shingleHashes(col("text"),
                      queries.QuerySpec.W16ShingleK).as("toks"))
                    .where(size(col("toks")) > 0),
                  queries.QuerySpec.MinhashK),
                queries.QuerySpec.MinhashK, queries.QuerySpec.MinhashBands)
              .select(explode(array(
                (0 until queries.QuerySpec.MinhashBands).map(b =>
                  col(s"b$b")): _*)).as("band"))
              .select(pmod(xxhash64(col("band")), lit(bkts)).as("bucket"))
              .distinct().count()
            val sink = root.resolve(s"sink$bsz").toString
            println(s"  B=$bkts batch=$n dirs_touched=$dBuckets/$bkts")
            for (r <- 0 to 1) {
              val nf0 = spark.read.parquet(s"$idx/bands")
                .select(input_file_name()).distinct().count()
              time(s"B${bkts}_n${bsz}_admit$r") {
                // tag namespaced per (bsz, r): reusing a tag across the
                // bsz loops would replay-exclude the other loop's appends
                operators.Dedup.admitBatch(batch, (bsz * 10 + r).toLong,
                  "doc_id", "text", idx, sink, queries.QuerySpec.MinhashK,
                  queries.QuerySpec.MinhashBands,
                  queries.QuerySpec.W16ShingleK,
                  queries.QuerySpec.MinhashThreshold,
                  idxBuckets = bkts).unpersist()
                spark.read.parquet(sink).count()
              }
              val nf1 = spark.read.parquet(s"$idx/bands")
                .select(input_file_name()).distinct().count()
              println(s"  B=$bkts batch=$n admit$r " +
                s"appended_band_files=${nf1 - nf0}")
            }
            batch.unpersist()
          }
        }
      case Some("sanity") =>
        // the r13-pipe15 degeneracy census (round-14 gate): assert every
        // funnel-shaped query is stage-level non-trivial at THIS sf dir —
        // run at both sf0.01 and sf0.1 each round; the oracle gate is
        // blind to semantically-empty pipelines by construction.
        // `Scratch sanity [sfDir] [checkName …]`: a directory-looking arg
        // selects the sf dir POSITIONALLY (like every other mode — the
        // r15 judge's natural invocation used to be swallowed as a
        // check-name filter, printing a vacuous "0/0 checks ok"); every
        // other arg is a check-name filter, and Sanity.run fails loudly
        // on a filter name that matches no check
        val (dirArgs, filterArgs) = args.drop(1).partition(a =>
          a.contains("/") || new java.io.File(a).isDirectory)
        val bad = queries.Sanity.run(spark,
          dirArgs.lastOption.getOrElse(sfDir), filterArgs.toSet)
        if (bad > 0) { spark.stop(); sys.exit(1) }
      case Some("sanity3g") =>
        // detector SELF-TEST: re-introduce the known-degenerate 3-gram
        // pipe15 decon grain and require the census to flag it (r13's
        // incident is scale-dependent — run this at sf0.1, where the
        // 3-gram grain saturates; SanitySpec covers the same path
        // in-suite). Takes the sf dir positionally like `sanity` does.
        val vs = queries.Sanity.pipe15CheckAt(spark,
          args.drop(1).lastOption.getOrElse(sfDir), deconK = 3)
        if (vs.isEmpty) {
          println("SANITY3G FAIL: detector did NOT flag the 3-gram spine " +
            s"at $sfDir (expected violations)")
          spark.stop(); sys.exit(1)
        } else {
          println(s"SANITY3G OK: 3-gram spine flagged with " +
            s"${vs.size} violation(s):")
          vs.foreach(v => println(s"  $v"))
        }
      case Some("d6plan") =>
        import org.apache.spark.sql.functions.{col, md5, concat_ws, array_sort}
        // UNCACHED d6 plan (cache = identity): the declared query's
        // formatted plan hides the per-set simhash inside
        // InMemoryTableScan (it runs at cache-fill) and behind the sid
        // RDD round-trip, so the hash-stage structure is only visible on
        // the subplans directly
        val d6docs = operators.Spread(Tables.documents(spark, sfDir))
          .select(col("doc_id").as("id"),
            operators.Dedup.tokenSet(col("text")).as("toks"))
          .withColumn("setkey",
            md5(concat_ws(" ", array_sort(col("toks")))))
        println("=== d6 per-set simhash stage, r17 form (groupBy first(toks) → interpreted vote fold) ===")
        d6docs.groupBy(col("setkey"))
          .agg(org.apache.spark.sql.functions.first(col("toks")).as("toks"))
          .select(col("setkey"),
            operators.Dedup.simhash(col("toks"), 60).as("sh"))
          .explain("formatted")
        println("=== d6 per-set simhash stage, r18 form (map-side bit-count sums) ===")
        operators.Dedup.simhashByKey(d6docs, "setkey", "toks", 60)
          .explain("formatted")
        println("=== d6 full pair plan (cache = identity) ===")
        operators.Dedup.simhashDupPairs(
            Tables.documents(spark, sfDir), "doc_id", "text",
            bands = 6, maxHamming = 18, cache = x => x)
          .explain("formatted")
      case Some(q) =>
        val fn = SparkEntry.queries(q)
        time(s"${q}_first")(fn(spark, sfDir).count())
        time(s"${q}_second")(fn(spark, sfDir).count())
        fn(spark, sfDir).explain("formatted")
      case None => println("usage: Scratch <queryName>")
    }
    spark.stop()
  }
}
