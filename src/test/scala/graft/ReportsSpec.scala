package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.{Fixtures, Tables}

/** Report-pipeline specs over the sf0.001 fixtures. */
class ReportsSpec extends SparkSpec {

  test("pstats size distribution has sane exact stats") {
    val row = PStats.sizeDistribution(spark, Sf0001).collect().head
    val n = row.getAs[Long]("size_n")
    assert(n > 0)
    assert(row.getAs[Long]("size_min") <= row.getAs[Long]("size_p50"))
    assert(row.getAs[Long]("size_p50") <= row.getAs[Long]("size_p99"))
    assert(row.getAs[Long]("size_p99") <= row.getAs[Long]("size_max"))
    assert(row.getAs[Long]("size_avg") >= row.getAs[Long]("size_min"))
    assert(row.getAs[Long]("table_count_max") <= 6)
  }

  test("top-N by size equals sort+limit semantics and is size-descending") {
    val rows = PStats.topBySize(spark, Sf0001, 10).collect()
    assert(rows.length == 10)
    val sizes = rows.map(_.getAs[Long]("size"))
    assert(sizes.sameElements(sizes.sortBy(-_)))
  }

  test("collate: partition table_count matches distinct sstables per key") {
    val cells = Fixtures.lineitemCells(Tables.lineitem(spark, Sf0001))
    val direct = cells.groupBy("key")
      .agg(countDistinct("sstable_id").as("tc"))
    val collated = Fixtures.partitions(Fixtures.partitionScan(cells))
      .select(col("key"), col("table_count"))
    val joined = direct.join(collated, "key")
      .where(col("tc") =!= col("table_count"))
    assert(joined.count() == 0)
  }

  test("summary rollup: repaired subset bounds and repair pct") {
    val rows = Summary.rollup(spark, Sf0001).collect()
    assert(rows.length == 2) // ks1.lineitem + ks1.orders
    rows.foreach { r =>
      assert(r.getAs[Long]("repaired_count") <= r.getAs[Long]("sstable_count"))
      assert(r.getAs[Long]("repaired_length") <=
        r.getAs[Long]("uncompressed_length"))
      val pct = r.getAs[Long]("repair_pct")
      assert(pct >= 0 && pct <= 100)
    }
  }

  test("cfstats totals are consistent with sstable-level stats") {
    val totals = CfStats.totals(spark, Sf0001).collect().head
    val perSst = CfStats.sstableStats(spark, Sf0001)
      .agg(sum("tombstone_count"), sum("cell_count")).collect().head
    assert(totals.getAs[Long]("tombstone_count") == perSst.getLong(0))
    assert(totals.getAs[Long]("cell_count") == perSst.getLong(1))
  }

  test("ttl histogram includes NO_TTL sentinel and positive counts") {
    val rows = CfStats.ttlHistogram(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("ttl_s")).contains(-1L))
    assert(rows.forall(_.getAs[Long]("cell_count") > 0))
  }

  test("index offsets: lead(position)-position always re-derives size") {
    val rows = PStats.indexOffsets(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("mismatches") == 0)
      assert(r.getAs[Long]("derived_total") == r.getAs[Long]("stored_total"))
    }
  }

  test("driver contract: entry() returns rows on sf0.001, every query runs") {
    assert(SparkEntry.entry(spark).count() > 0)
    // oracleSql keys must be a subset of queries (driver joins on name)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  /** The single-aggregation `countDistinct` form of
    * `Fixtures.partitionScan`, kept as the reference the two-level scan
    * must equal. */
  private def distinctPartitionScan(cells: DataFrame,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame =
    cells
      .groupBy(col("tbl"), col("sstable_id"), col("key"))
      .agg(
        sum("size_bytes").as("size"),
        countDistinct("clustering").as("row_count"),
        countDistinct(when(col("is_tombstone"), col("clustering")))
          .as("row_delete_count"),
        count(when(col("kind") === "CELL", 1)).as("cell_count"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstone_count"),
        sum(when(col("is_tombstone") &&
          col("local_deletion_time_s") < gcBeforeS, 1L).otherwise(0L))
          .as("droppable_tombstone_count"),
        sum(when(col("kind") === "RANGE_TOMBSTONE_MARKER", 1L).otherwise(0L))
          .as("range_tombstone_count"),
        sum(when(col("is_live"), 1L).otherwise(0L)).as("live_cell_count"),
        sum(when(col("is_expiring"), 1L).otherwise(0L))
          .as("expiring_cell_count"),
        sum(when(col("is_counter"), 1L).otherwise(0L))
          .as("counter_cell_count"),
        min("timestamp_us").as("min_timestamp_us"),
        max("timestamp_us").as("max_timestamp_us"),
        min("local_deletion_time_s").as("min_local_deletion_time_s"),
        max("local_deletion_time_s").as("max_local_deletion_time_s"))
      .withColumn("keyspace", lit("ks1"))
      .withColumn("key_formatted", concat(lit("key-"), col("key")))

  /** Same columns in the same order, and equal as multisets of rows. */
  private def assertSameScan(cells: DataFrame): Unit = {
    val twoLevel = Fixtures.partitionScan(cells)
    val reference = distinctPartitionScan(cells)
    assert(twoLevel.columns.toSeq === reference.columns.toSeq)
    assert(twoLevel.count() > 0)
    assert(twoLevel.exceptAll(reference).isEmpty &&
      reference.exceptAll(twoLevel).isEmpty)
  }

  test("two-level partition scan == countDistinct form on the sf0.001 " +
      "lineitem cells") {
    assertSameScan(Fixtures.cells(spark, Sf0001))
  }

  test("two-level partition scan == countDistinct form on raw Data.db " +
      "cells (the q44/q71 path)") {
    val dir = graft.sources.datadb.DataDbFixture.ensureFiles(spark, Sf0001)
    assertSameScan(graft.sources.datadb.DataDb.cells(spark, dir))
  }

  test("two-level partition scan == countDistinct form with a null " +
      "clustering and a tombstone-only row") {
    import spark.implicits._
    // (key, clustering, kind, is_tombstone, size, ts, ldt, live)
    val cells = Seq(
      // partition 1: a null clustering (tombstone and live cell), one live
      // row, one row whose only cells are tombstones
      (1L, None, "CELL", true, 10L, 5L, 100L, false),
      (1L, None, "CELL", false, 11L, 6L, Long.MaxValue, true),
      (1L, Some(1L), "CELL", false, 12L, 7L, Long.MaxValue, true),
      (1L, Some(2L), "CELL", true, 13L, 8L, 50L, false),
      (1L, Some(2L), "RANGE_TOMBSTONE_MARKER", true, 14L, 9L, 60L, false),
      // partition 2: only a null clustering, nothing deleted
      (2L, None, "CELL", false, 15L, 1L, Long.MaxValue, true),
      // partition 3: a row with a deleted and a live cell
      (3L, Some(7L), "CELL", true, 16L, 2L, 10L, false),
      (3L, Some(7L), "CELL", false, 17L, 3L, Long.MaxValue, true))
      .toDF("key", "clustering", "kind", "is_tombstone", "size_bytes",
        "timestamp_us", "local_deletion_time_s", "is_live")
      .withColumn("tbl", lit("t"))
      .withColumn("sstable_id", lit("sst-0"))
      .withColumn("is_expiring", lit(false))
      .withColumn("is_counter", lit(false))
    assertSameScan(cells)
    val counts = Fixtures.partitionScan(cells)
      .select("key", "row_count", "row_delete_count").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(counts === Seq((1L, 2L, 1L), (2L, 0L, 0L), (3L, 1L, 1L)))
  }

  test("purge invariants: 0 <= reclaimable <= size; gc=-inf purges nothing") {
    val cells = Fixtures.lineitemCells(Tables.lineitem(spark, Sf0001))
    val stats = Purge.perPartition(cells).collect()
    stats.foreach { r =>
      val size = r.getAs[Long]("size")
      val rec = r.getAs[Long]("reclaimable")
      assert(rec >= 0 && rec <= size)
    }
    // with gcBefore = Long.MinValue nothing is droppable: reclaimable comes
    // only from shadowed duplicates, so merged == winners' sizes
    val agg = graft.agg.PurgeAggregator.perPartition(cells, Long.MinValue)
    val bad = agg.where(col("merged_size") > col("size"))
    assert(bad.count() == 0)
  }

  test("purge window form == purge Aggregator form") {
    val cells = Fixtures.lineitemCells(Tables.lineitem(spark, Sf0001))
    val w = Purge.perPartition(cells)
      .select("key", "table_count", "size", "reclaimable")
    val a = graft.agg.PurgeAggregator
      .perPartition(cells, Fixtures.GcBeforeS)
      .select("key", "table_count", "size", "reclaimable")
    assert(w.exceptAll(a).count() == 0)
    assert(a.exceptAll(w).count() == 0)
  }
}
