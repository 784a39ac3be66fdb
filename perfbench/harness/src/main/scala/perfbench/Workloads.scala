package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cli.Reports
import graft.ops.{CfStats, Compaction, PStats, Purge, Summary}
import graft.sources.{Fixtures, PlanCache}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** What one operation returned, reduced to the form its check compares:
  * the report text, or the collected rows in a canonical order.
  * `rows`/`schema` are kept so the run can hand them to the oracle. */
final case class Output(canonical: String, rows: Array[Row] = Array.empty,
    schema: org.apache.spark.sql.types.StructType = null)

object Output {
  def text(s: String): Output = Output(s)
  def of(df: DataFrame): Output = {
    val rows = df.collect()
    Output(Canon.rows(rows), rows, df.schema)
  }
}

/** A user-visible operation of a pass. `oracle` names the queries of
  * `SparkEntry` whose oracle check stands behind this operation's
  * output: if one of them fails, every run of the operation is failed. */
final case class Op(name: String, oracle: Seq[String], run: () => Output)

/** One benchmark workload over one tier. A pass clears the caches a
  * fresh CLI invocation would not have, then runs `ops` in order. */
abstract class Workload(val spark: SparkSession, val tier: String) {
  def name: String
  def ops: Seq[Op]

  /** Build every fixture the timed operations read (untimed set-up). */
  def fixtures(): Unit

  /** Drop the cache entries a cold pass must rebuild; returns how many
    * were dropped, or -1 when the workload has no cache to clear. */
  def clear(): Int

  /** Results the oracle checks once per run, by query name. */
  def oracleDumps(warm: Map[String, Output]): Map[String, DataFrame]

  /** Called after a checked pass, to drop what it wrote. */
  def afterPass(): Unit = ()

  /** DataFrames the timed operations plan, built fresh on each call;
    * used to time Catalyst planning apart from execution. */
  def plannedFrames(): Seq[DataFrame]

  /** The cell stream `Fixtures.partitionScan` reads on this workload. */
  def pscanCells(): DataFrame = Layers.cassandraCells(spark, tier)

  protected def fromRows(o: Output): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
}

object Workload {
  val Names: Seq[String] =
    Seq("reports-cli", "reports-sstable-files", "compaction-write")

  def apply(name: String, spark: SparkSession, tier: String,
      work: String): Workload = name match {
    case "reports-cli" => new ReportsCli(spark, tier)
    case "reports-sstable-files" => new ReportsSstableFiles(spark, tier)
    case "compaction-write" => new CompactionWrite(spark, tier, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }
}

/** The shipped CLI path: `Reports.*` over the parquet-derived cells. */
final class ReportsCli(spark: SparkSession, tier: String)
    extends Workload(spark, tier) {
  val name = "reports-cli"

  val ops: Seq[Op] = Seq(
    Op("summary", Seq("q00_catalog", "q05_summary"),
      () => Output.text(Reports.summary(spark, tier))),
    Op("sstables", Seq("q06_sstables_meta"),
      () => Output.text(Reports.sstables(spark, tier))),
    Op("pstats", Seq("q01_pstats_size_dist", "q02_pstats_top_size",
      "q03_pstats_top_tables", "q04_pstats_sstables"),
      () => Output.text(Reports.pstats(spark, tier))),
    Op("cfstats", Seq("q07_cfstats_rows_dist", "q08_cfstats_cells_dist",
      "q09_cfstats_tomb_dist", "q10_cfstats_top_wide",
      "q11_cfstats_top_tombstones", "q12_cfstats_top_deleted",
      "q13_cfstats_ttl_hist", "q14_cfstats_sstable_stats",
      "q15_cfstats_totals"),
      () => Output.text(Reports.cfstats(spark, tier))),
    Op("purge", Seq("q16_purge_top", "q17_purge_totals"),
      () => Output.text(Reports.purge(spark, tier))))

  def fixtures(): Unit = ()

  def clear(): Int = PlanCache.invalidateMatching(spark, "")

  def oracleDumps(warm: Map[String, Output]): Map[String, DataFrame] =
    ops.flatMap(_.oracle).map(n => n -> SparkEntry.queries(n)(spark, tier))
      .toMap

  def plannedFrames(): Seq[DataFrame] = Seq(
    Summary.rollup(spark, tier), Summary.sstablesReport(spark, tier),
    PStats.sizeDistribution(spark, tier), PStats.topBySize(spark, tier),
    PStats.topByTableCount(spark, tier), PStats.sstableSection(spark, tier),
    CfStats.totals(spark, tier), CfStats.rowsDistribution(spark, tier),
    CfStats.cellsDistribution(spark, tier),
    CfStats.tombstonesDistribution(spark, tier),
    CfStats.topWide(spark, tier), CfStats.topTombstones(spark, tier),
    CfStats.topDeletedRows(spark, tier), CfStats.ttlHistogram(spark, tier),
    CfStats.sstableStats(spark, tier),
    Purge.top(spark, tier), Purge.totals(spark, tier))

  override def pscanCells(): DataFrame = Fixtures.cells(spark, tier)
}

/** The same five reports computed off the binary sstables, through the
  * program's query inventory. */
final class ReportsSstableFiles(spark: SparkSession, tier: String)
    extends Workload(spark, tier) {
  val name = "reports-sstable-files"

  val queries: Seq[(String, String)] = Seq(
    "summary" -> "q47_summary_from_raw",
    "sstables" -> "q62_stats_real_format",
    "pstats" -> "q82_pstats_from_cassandra",
    "cfstats" -> "q71_cfstats_from_cassandra",
    "purge" -> "q83_purge_from_cassandra")

  val ops: Seq[Op] = queries.map { case (op, qn) =>
    Op(op, Seq(qn), () => Output.of(SparkEntry.queries(qn)(spark, tier)))
  }

  def fixtures(): Unit = Layers.fixtures(spark, tier)

  def clear(): Int = PlanCache.invalidateMatching(spark, "cass_")

  def oracleDumps(warm: Map[String, Output]): Map[String, DataFrame] =
    queries.map { case (op, qn) => qn -> fromRows(warm(op)) }.toMap

  def plannedFrames(): Seq[DataFrame] =
    queries.map { case (_, qn) => SparkEntry.queries(qn)(spark, tier) }
}

/** The executed major compaction, composed from its public pieces so
  * every pass really merges and writes: the program's own
  * `Compaction.compactionRoundtrip` memoises the write per session. */
final class CompactionWrite(spark: SparkSession, tier: String, work: String)
    extends Workload(spark, tier) {
  val name = "compaction-write"

  private var shards = 0L
  private val out = new File(work, "compacted")

  def inPath: String =
    CassandraDataFixture.ensureFiles(spark, tier, compressed = true)

  val ops: Seq[Op] = Seq(
    Op("compact", Seq("q162_compaction_roundtrip"), () => {
      Layers.deleteTree(out)
      Layers.writeCompacted(spark, inPath, shards, out)
      Output.text(s"files=${Layers.listFiles(out).size}")
    }),
    Op("readback", Seq("q162_compaction_roundtrip"),
      () => Output.of(CompactionWrite.rollup(spark, out.getPath))))

  /** Bytes of the last compacted set per byte of the input set. */
  def outBytesPerInByte: Double =
    Layers.bytesUnder(out).toDouble / Layers.bytesUnder(new File(inPath))

  def fixtures(): Unit = {
    // the program sizes the output fan-out once per input set (memoised
    // with the fixture); so does the composed pass
    shards = Layers.outputShards(spark, inPath)
  }

  def clear(): Int = -1

  def oracleDumps(warm: Map[String, Output]): Map[String, DataFrame] =
    Map("q162_compaction_roundtrip" -> fromRows(warm("readback")))

  override def afterPass(): Unit = Layers.deleteTree(out)

  def plannedFrames(): Seq[DataFrame] = Seq(
    Compaction.mergeWinners(Layers.inputEvents(spark, inPath),
      Fixtures.GcBeforeS),
    CompactionWrite.rollup(spark, inPath))
}

object CompactionWrite {
  private val ChkMod = SparkEntry.ChkMod

  /** q162's per-output-shard checksum rollup over a compacted set. */
  def rollup(spark: SparkSession, path: String): DataFrame =
    DataDb.cells(spark, path, format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id", Layers.fixtureSstableId)
      .groupBy("sstable_id")
      .agg(count(lit(1)).as("events"),
        sum(when(col("kind") === "CELL", 1L).otherwise(0L)).as("cells"),
        sum(when(col("kind") === "RANGE_TOMBSTONE_MARKER", 1L).otherwise(0L))
          .as("markers"),
        countDistinct("key").as("partitions"),
        sum(col("key") % ChkMod).as("keys_sum"),
        sum(col("clustering") % ChkMod).as("clustering_sum"),
        sum(col("timestamp_us") % ChkMod).as("ts_sum"),
        sum(col("ttl_s") % ChkMod).as("ttl_sum"),
        sum(col("local_deletion_time_s") % ChkMod).as("ldt_sum"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"),
        sum(when(col("is_expiring"), 1L).otherwise(0L)).as("expiring"),
        sum(when(col("is_live"), 1L).otherwise(0L)).as("live"),
        sum(col("size_bytes") % ChkMod).as("value_sum"))
      .orderBy("sstable_id")
}
