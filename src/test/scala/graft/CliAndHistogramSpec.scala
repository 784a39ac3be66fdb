package graft

import graft.agg.ReservoirHistogram
import graft.cli.Reports
import graft.ops.Summary

/** Reports layer (CLI-command parity) and the reservoir estimator. */
class CliAndHistogramSpec extends SparkSpec {

  test("all five report commands render non-empty ASCII tables") {
    val out = Seq(
      Reports.summary(spark, Sf0001),
      Reports.sstables(spark, Sf0001),
      Reports.pstats(spark, Sf0001),
      Reports.cfstats(spark, Sf0001),
      Reports.purge(spark, Sf0001))
    out.foreach { s =>
      assert(s.contains("+-"), s.take(80))
      assert(s.linesIterator.size > 4)
    }
    assert(out(0).contains("ks1"))
    assert(out(2).contains("Largest partitions"))
  }

  /** The five reports rendered one section after another, on the calling
    * thread — what `Reports` must reproduce byte for byte. */
  private object Sequential {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.functions.Formatters
    import graft.ops.{CfStats, PStats, Purge}
    import graft.render.TableBuilder
    import graft.sources.Fixtures

    private def section(title: String, df: DataFrame) =
      s"$title\n${TableBuilder.render(df)}"
    private def empty(f: Seq[String]) = {
      val pscan = Fixtures.liPscan(spark, Sf0001)
      (if (f.isEmpty) pscan else pscan.where(col("sstable_id").isin(f: _*)))
        .isEmpty
    }

    def summary: String = section("Summary", Summary.rollup(spark, Sf0001)
      .withColumn("data_size", udf(Formatters.humanReadableByteCount _)
        .apply(col("uncompressed_length")))
      .withColumn("repair", format_string("%d/%d %d%%",
        col("repaired_count"), col("sstable_count"), col("repair_pct")))
      .select("keyspace", "tbl", "sstable_count", "data_size", "repair"))

    def sstables(f: Seq[String]): String = {
      val all = Summary.sstablesReport(spark, Sf0001)
      val df = if (f.isEmpty) all else all.where(col("sstable_id").isin(f: _*))
      if (df.isEmpty) Reports.NoData else section("SSTables", df)
    }

    def pstats(n: Int, f: Seq[String]): String =
      if (empty(f)) Reports.NoData
      else Seq(
        section("Partition size distribution",
          if (f.isEmpty) PStats.sizeDistribution(spark, Sf0001)
          else PStats.filteredSizeDistribution(spark, Sf0001, f)),
        section(s"Largest partitions (top $n)",
          PStats.topBySize(spark, Sf0001, n, f)),
        section(s"Partitions in most sstables (top $n)",
          PStats.topByTableCount(spark, Sf0001, n, f)),
        section("SSTables", PStats.sstableSection(spark, Sf0001, f))
      ).mkString("\n")

    def cfstats(n: Int, f: Seq[String], gc: Long): String =
      if (empty(f)) Reports.NoData
      else Seq(
        section("Totals", CfStats.totals(spark, Sf0001, f, gc)),
        section("Rows per partition", CfStats.rowsDistribution(spark, Sf0001, f)),
        section("Cells per partition",
          CfStats.cellsDistribution(spark, Sf0001, f)),
        section("Tombstones per partition (with tombstones)",
          CfStats.tombstonesDistribution(spark, Sf0001, f)),
        section(s"Widest partitions (top $n)",
          CfStats.topWide(spark, Sf0001, n, f)),
        section(s"Most tombstones (top $n)",
          CfStats.topTombstones(spark, Sf0001, n, f, gc)),
        section(s"Most deleted rows (top $n)",
          CfStats.topDeletedRows(spark, Sf0001, n, f)),
        section("TTL histogram", CfStats.ttlHistogram(spark, Sf0001, f)
          .withColumn("ttl", udf(Formatters.formatTtl _).apply(col("ttl_s")))
          .select("ttl", "cell_count")),
        section("SSTables", CfStats.sstableStats(spark, Sf0001, f, gc))
      ).mkString("\n")

    def purge(n: Int, f: Seq[String], gc: Long): String =
      Seq(
        section(s"Most reclaimable partitions (top $n)",
          Purge.top(spark, Sf0001, n, f, gc)),
        section("Totals", Purge.totals(spark, Sf0001, f, gc))
      ).mkString("\n")
  }

  test("concurrent reports equal a sequential rendering of their sections " +
      "(default, topN, sstable filter, gcBefore, NoData)") {
    import graft.sources.Fixtures.GcBeforeS
    assert(Reports.summary(spark, Sf0001) === Sequential.summary)
    val cases = Seq(
      (10, Nil, GcBeforeS),
      (3, Nil, GcBeforeS),
      (10, Seq("sst-1", "sst-3"), GcBeforeS),
      (10, Nil, GcBeforeS - 30L * 86400L),
      (10, Seq("sst-nope"), GcBeforeS))
    cases.foreach { case (n, f, gc) =>
      val label = s"topN=$n filter=$f gcBeforeS=$gc"
      assert(Reports.sstables(spark, Sf0001, f) === Sequential.sstables(f),
        label)
      assert(Reports.pstats(spark, Sf0001, n, f) === Sequential.pstats(n, f),
        label)
      assert(Reports.cfstats(spark, Sf0001, n, f, gc) ===
        Sequential.cfstats(n, f, gc), label)
      assert(Reports.purge(spark, Sf0001, n, f, gc) ===
        Sequential.purge(n, f, gc), label)
    }
    assert(Reports.cfstats(spark, Sf0001, sstableFilter = Seq("sst-nope")) ===
      Reports.NoData)
  }

  private def sectionThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-report-section"))

  test("a failing section rethrows its own exception after every section " +
      "thread has ended") {
    val boom = new IllegalStateException("section failed")
    val thrown = intercept[IllegalStateException] {
      Reports.concurrently(
        () => graft.sources.Tables.lineitem(spark, Sf0001).count().toString,
        () => throw boom,
        () => { Thread.sleep(200); "slow" })
    }
    assert(thrown eq boom)
    assert(sectionThreads.isEmpty)
  }

  test("section threads inherit the caller's local properties and active " +
      "session, and return their texts in order") {
    val sc = spark.sparkContext
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    sc.setLocalProperty("graft.test.tag", "reports")
    try {
      val seen = Reports.concurrently((0 until 9).map { i => () =>
        assert(org.apache.spark.sql.SparkSession.getActiveSession
          .contains(spark))
        s"$i:${sc.getLocalProperty("graft.test.tag")}"
      }: _*)
      assert(seen === (0 until 9).map(i => s"$i:reports"))
    } finally sc.setLocalProperty("graft.test.tag", null)
    assert(sectionThreads.isEmpty)
  }

  test("K2 progress sink: listener emits monotone percentages, reference " +
    "line format, terminal 100% line") {
    import graft.cli.Progress
    assert(Progress.render("purge", 40, 90000L) == "purge (40%) ETA: 1m 30s")
    assert(Progress.render("purge", 100, 0L) == "purge (100%)")
    assert(Progress.renderBar("purge", 0.5, 60000L) ==
      "purge " + "█" * 15 + "░" * 15 + " (50%) ETA: 1m 0s")
    assert(Progress.renderBar("purge", 1.0, 0L) == "purge " + "█" * 30 + " (100%)")
    assert(Progress.etaMs(1000L, 0.25) == 3000L) // ceil(elapsed/frac - elapsed)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = Progress.track(spark, "scan", lines += (_)) {
      graft.sources.Tables.lineitem(spark, Sf0001).count()
    }
    assert(n > 0)
    assert(lines.nonEmpty && lines.last == "scan (100%)")
    val pcts = lines.map(_.split("[()%]")(1).trim.toInt)
    assert(pcts == pcts.sorted && pcts.distinct == pcts)
  }

  test("golden: summary report renders byte-for-byte stable ASCII") {
    // Pins K1 format parity (TableBuilder.java:51-81): border style, col 0
    // left-aligned, other columns right-aligned, header widths from content.
    val expected =
      """Summary
        |+----------+----------+---------------+-----------+---------+
        || keyspace |      tbl | sstable_count | data_size |  repair |
        |+----------+----------+---------------+-----------+---------+
        || ks1      | lineitem |             6 |   29.8 MB | 3/6 49% |
        || ks1      |   orders |             4 |    6.0 MB | 2/4 48% |
        |+----------+----------+---------------+-----------+---------+
        |""".stripMargin
    assert(Reports.summary(spark, Sf0001) == expected)
  }

  test("golden: pstats report pins distribution row and top-N sections") {
    val out = Reports.pstats(spark, Sf0001, topN = 3)
    // exact distribution row (exact aggregates over seeded fixtures)
    assert(out.contains(
      "| 1473   |   29805777 |      151 |    66163 |    20234 |    11030 |" +
        "               1 |               6 |                  292 |" +
        "    18929 |    27322 |    35508 |    40069 |    49821 |"))
    assert(out.contains("Largest partitions (top 3)"))
    assert(out.contains("| 924  |       key-924 | 66163 |           5 |"))
    assert(out.contains("Partitions in most sstables (top 3)"))
    assert(out.contains("| 292  |       key-292 | 53518 |           6 |"))
    assert(out.contains(
      "| sst-0      |             804 |               7177 |" +
        "              26072 |             5770339 |"))
  }

  test("golden: cfstats report pins totals, TTL histogram and sstable stats") {
    val out = Reports.cfstats(spark, Sf0001, topN = 2)
    assert(out.contains(
      "| 1473            |      5329 |             1896 |       5681 |" +
        "            1968 |                      1099 |"))
    assert(out.contains("| NO_TTL   |       3088 |"))
    assert(out.contains("| 7d 0m 0s |        348 |"))
    assert(out.contains("| 1102 |      key-1102 |         12 | 57671 |         6 |"))
    assert(out.contains(
      "| sst-0      |             804 |      1013 |              350 |" +
        "       1092 |             787 |                 377 |" +
        "                 18 |             360 |                       181 |" +
        "                    55 |           72 |"))
  }

  test("F2 guard: filter matching nothing yields 'No data found!'") {
    assert(Reports.pstats(spark, Sf0001,
      sstableFilter = Seq("sst-nope")) == Reports.NoData)
    assert(Reports.sstables(spark, Sf0001,
      sstableFilter = Seq("sst-nope")) == Reports.NoData)
  }

  test("F1 filter: filtered distribution covers fewer partitions") {
    val all = graft.ops.PStats.sizeDistribution(spark, Sf0001)
      .collect().head.getAs[Long]("size_n")
    val filt = graft.ops.PStats.filteredSizeDistribution(
      spark, Sf0001, Seq("sst-0")).collect().head.getAs[Long]("size_n")
    assert(filt > 0 && filt < all)
  }

  test("F9/X8: index-name resolution and snapshot-name generation") {
    assert(Summary.resolveStore("lineitem.by_suppkey") == "lineitem")
    assert(Summary.resolveStore("lineitem") == "lineitem")
    val n = Summary.snapshotName(seed = 42L)
    assert(n.startsWith("analyse-") && n.length == "analyse-".length + 20)
    assert(n.drop(8).forall(c => c >= 'A' && c <= 'Z'))
    assert(Summary.snapshotName(seed = 42L) == n) // deterministic per seed
  }

  test("T3 strategy sorts order by the right columns") {
    assert(Summary.sortColumnsFor("TWCS").head.toString
      .contains("max_timestamp_us"))
    assert(Summary.sortColumnsFor("LCS").head.toString.contains("level"))
    assert(Summary.sortColumnsFor("STCS").head.toString
      .contains("sstable_id"))
    val rows = Summary.strategyOrders(spark, Sf0001).collect()
    assert(rows.length == 6)
    // stcs_rank follows sstable_id order, which is the output order
    assert(rows.map(_.getAs[Long]("stcs_rank")).sameElements(1L to 6L))
  }

  test("R-6 percentile formula matches hand-computed values") {
    val s = IndexedSeq(10L, 20L, 30L, 40L)
    // pos = p*(n+1) = p*5
    assert(ReservoirHistogram.percentileR6(s, 0.5) == 25.0) // pos 2.5
    assert(ReservoirHistogram.percentileR6(s, 0.1) == 10.0) // pos 0.5 clamp
    assert(ReservoirHistogram.percentileR6(s, 0.95) == 40.0) // pos 4.75 clamp
    assert(ReservoirHistogram.percentileR6(s, 0.25) == 12.5) // pos 1.25
  }

  test("reservoir snapshot: exact fields exact, percentiles near exact") {
    import graft.sources.Fixtures
    val parts = Fixtures.liPartitions(spark, Sf0001)
    val snap = ReservoirHistogram.snapshot(parts, "size").collect().head
    val exact = graft.ops.PStats.sizeDistribution(spark, Sf0001)
      .collect().head
    assert(snap.getAs[Long]("count") == exact.getAs[Long]("size_n"))
    assert(snap.getAs[Long]("total") == exact.getAs[Long]("size_total"))
    assert(snap.getAs[Long]("min") == exact.getAs[Long]("size_min"))
    assert(snap.getAs[Long]("max") == exact.getAs[Long]("size_max"))
    // sampling estimate: within 15% of the exact p50
    val p50 = snap.getAs[Double]("p50")
    val exactP50 = exact.getAs[Long]("size_p50").toDouble
    assert(math.abs(p50 - exactP50) / exactP50 < 0.15,
      s"p50=$p50 exact=$exactP50")
  }

  test("reservoir quirk: max initialized to 0 (all-negative input)") {
    import spark.implicits._
    val df = Seq(-5L, -3L, -10L).toDF("v")
    val snap = ReservoirHistogram.snapshot(df, "v").collect().head
    assert(snap.getAs[Long]("max") == 0L) // Histogram.java:32-37 quirk
    assert(snap.getAs[Long]("min") == -10L)
  }

  test("q158 TTL forecast: cumulative mass is monotone and ends at 1000‰") {
    val rows = graft.ops.CfStats.ttlForecast(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).values.foreach { tblRows =>
      val ordered = tblRows.sortBy(_.getAs[Long]("window_30d"))
      val cums = ordered.map(_.getAs[Long]("cum_bytes"))
      assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
      assert(ordered.last.getAs[Long]("cum_x1000") == 1000L)
      assert(ordered.map(_.getAs[Long]("bytes")).sum == cums.last)
    }
  }

  test("q144 log-quantile sketch brackets the exact percentiles " +
    "within the bucket bound (gamma = 2)") {
    import org.apache.spark.sql.functions._
    val sk = graft.ops.PStats.logQuantileSketch(spark, Sf0001).collect()
    assert(sk.nonEmpty)
    val exact = graft.sources.Fixtures.liPscan(spark, Sf0001)
      .groupBy("sstable_id")
      .agg(expr("percentile(size, 0.5)").as("e500"),
        expr("percentile(size, 0.95)").as("e950"),
        expr("percentile(size, 0.99)").as("e990"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    sk.foreach { r =>
      val (e5, e95, e99) = exact(r.getString(0))
      // a gamma=2 sketch's estimate is within [x/2, 2x] of the truth
      def ok(est: Long, ex: Double) = est >= ex / 2 - 1 && est <= ex * 2 + 1
      assert(ok(r.getAs[Long]("p500_est"), e5),
        s"${r.getString(0)} p50 ${r.getAs[Long]("p500_est")} vs $e5")
      assert(ok(r.getAs[Long]("p950_est"), e95))
      assert(ok(r.getAs[Long]("p990_est"), e99))
      // monotone in p
      assert(r.getAs[Long]("p500_est") <= r.getAs[Long]("p950_est"))
      assert(r.getAs[Long]("p950_est") <= r.getAs[Long]("p990_est"))
    }
  }
}
