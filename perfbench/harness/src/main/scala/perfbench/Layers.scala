package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Compaction
import graft.sources.Fixtures
import graft.sources.compressioninfo.CompressionInfo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
import graft.sources.indexdb.IndexDb
import graft.sources.statsdb.{CassandraStatsFixture, StatsDb, StatsDbFixture}

/** Per-layer measurements for a traced run: each call into one layer of
  * the program runs inside its own span, so the tracer charges its Spark
  * work to it. Layers are named after the program's modules. */
object Layers {

  /** The split size the program's real-format queries use: about eight
    * splits over the largest Data.db, never below 64 KiB. */
  def splitBytes(path: String): Long = math.max(64L << 10,
    dataFiles(new File(path)).map(_.length).foldLeft(0L)(math.max) / 8)

  def dataFiles(dir: File): Seq[File] =
    listFiles(dir).filter(_.getName.endsWith("-Data.db"))

  def listFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq.filter(_.isFile)).getOrElse(Nil)

  def bytesUnder(dir: File): Long = listFiles(dir).map(_.length).sum

  def deleteTree(f: File): Unit = if (f != null) {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Generation number in a real sstable name back to the fixture's
    * `sst-<n>` id, as the program's compaction does. */
  val fixtureSstableId: Column = concat(lit("sst-"),
    (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1).cast("long") - 1L)
      .cast("string"))

  /** Events of the real-format LZ4 set, as the compaction reads them. */
  def inputEvents(spark: SparkSession, path: String): DataFrame =
    DataDb.cells(spark, path, maxSplitBytes = Some(splitBytes(path)),
        format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id", fixtureSstableId)

  /** The program's output fan-out for a compaction of `path`: its
    * relational volume model, summed in one pruned pass. */
  def outputShards(spark: SparkSession, path: String): Long =
    Compaction.outputShards(inputEvents(spark, path)
      .agg(sum(lit(Compaction.EventOverheadBytes) + col("size_bytes")))
      .head.getLong(0))

  /** The program's major compaction of `inPath` into `out`: LWW merge
    * with gc-grace purge, written by the compressed sstable sink as
    * `shards` output sstables. */
  def writeCompacted(spark: SparkSession, inPath: String, shards: Long,
      out: File): Unit =
    Compaction.mergeWinners(inputEvents(spark, inPath), Fixtures.GcBeforeS)
      .select(concat(lit("sst-"), pmod(col("key"), lit(shards)))
        .as("sstable_id"), col("key"), col("clustering"),
        col("column_name"), col("kind"), col("timestamp_us"), col("ttl_s"),
        col("local_deletion_time_s"), col("is_tombstone"),
        col("is_expiring"), col("size_bytes"))
      .write.format("sstable-data").option("path", out.getPath)
      .option("compressed", "true").mode("append").save()

  def cassandraCells(spark: SparkSession, tier: String): DataFrame = {
    val path = CassandraDataFixture.ensureFiles(spark, tier, compressed = true)
    DataDb.cells(spark, path, maxSplitBytes = Some(splitBytes(path)),
      format = DataDbScan.FormatCassandra)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Builds the binary fixture sets: the real-format LZ4 sstables and both
    * Statistics.db encodings (what `reports-sstable-files` reads, and what
    * the probes read on every workload). */
  def fixtures(spark: SparkSession, tier: String): Unit = {
    StatsDbFixture.ensureFiles(spark, tier)
    CassandraStatsFixture.ensureFiles(spark, tier)
    CassandraDataFixture.ensureFiles(spark, tier, compressed = true)
    ()
  }

  /** Runs every layer probe once and returns the per-layer metrics. */
  def probe(w: Workload, tracer: Tracer, work: String): Map[String, Double] = {
    val spark = w.spark
    val tier = w.tier
    val cass = CassandraDataFixture.ensureFiles(spark, tier, compressed = true)
    val dataMb = dataFiles(new File(cass)).map(_.length).sum / 1e6
    val mb = 1e6
    var probeNo = 0

    def timed(name: String)(body: => Unit): (Double, Counters) = {
      probeNo += 1
      val (_, s) = tracer.span(name, -probeNo)(body)
      tracer.drain()
      (s.seconds, tracer.subtree(s.id))
    }

    val planS = {
      val frames = w.plannedFrames()
      val t0 = System.nanoTime()
      frames.foreach(_.queryExecution.executedPlan)
      (System.nanoTime() - t0) / 1e9
    }

    // cold: a cached scan of the same plan would be read instead
    w.clear()
    val (pscanS, pscan) = timed("sources.pscan.build") {
      noop(Fixtures.partitionScan(w.pscanCells()))
    }

    val (decodeS, decode) = timed("sources.datadb.decode") {
      noop(DataDb.cells(spark, cass, maxSplitBytes = Some(splitBytes(cass)),
        format = DataDbScan.FormatCassandra))
    }
    val (splitPlanS, splits) = {
      val df = DataDb.cells(spark, cass, maxSplitBytes = Some(splitBytes(cass)),
        format = DataDbScan.FormatCassandra)
      val t0 = System.nanoTime()
      val n = df.rdd.getNumPartitions
      ((System.nanoTime() - t0) / 1e9, n)
    }

    val (statsS, _) = timed("sources.statsdb.read") {
      noop(StatsDb.read(spark, StatsDbFixture.ensureFiles(spark, tier)))
      noop(StatsDb.readCassandra(spark,
        CassandraStatsFixture.ensureFiles(spark, tier), Fixtures.GcBeforeS))
    }
    val (indexS, _) = timed("sources.indexdb.read") {
      noop(IndexDb.read(spark, cass))
      noop(CompressionInfo.read(spark, cass))
    }

    val (mergeS, _) = timed("ops.compaction.merge") {
      noop(Compaction.mergeWinners(inputEvents(spark, cass),
        Fixtures.GcBeforeS))
    }
    val shards = outputShards(spark, cass)
    val out = new File(work, "sink-probe")
    deleteTree(out)
    val (sinkS, _) = timed("sources.sink.write") {
      writeCompacted(spark, cass, shards, out)
    }
    val sinkBytes = bytesUnder(out)
    val sinkFiles = listFiles(out).size
    deleteTree(out)

    Map(
      "ops.plan_s" -> planS,
      "sources.pscan.build_s" -> pscanS,
      "sources.pscan.shuffle_mb" -> pscan.shuffleWriteBytes / mb,
      "sources.datadb.decode_s" -> decodeS,
      "sources.datadb.decode_mb_per_s" -> dataMb / decodeS,
      "sources.datadb.events" -> decode.inputRecords.toDouble,
      "sources.datadb.splits" -> splits.toDouble,
      "sources.datadb.split_plan_s" -> splitPlanS,
      "sources.statsdb.read_s" -> statsS,
      "sources.indexdb.read_s" -> indexS,
      "ops.compaction.merge_s" -> mergeS,
      "sources.sink.write_s" -> sinkS,
      "sources.sink.mb" -> sinkBytes / mb,
      "sources.sink.files" -> sinkFiles.toDouble)
  }
}
