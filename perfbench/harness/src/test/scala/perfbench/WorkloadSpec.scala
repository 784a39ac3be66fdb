package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.ops.Compaction

/** Pins what the benchmark's numbers rest on: the composed operations
  * compute what the program's own entry points compute, and a cold pass
  * really is cold. Runs on a small seeded tier. */
class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("perfbench-spec").toFile
  private val tier = new java.io.File(work, "tier").getPath
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Main.session(cores = 2, work = work.getPath)
    Tier.write(spark, seed = 7, orders = 600, dir = tier)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Layers.deleteTree(work)
  }

  private def rows(df: DataFrame): String = Canon.rows(df.collect())

  private def passes(w: Workload, n: Int): Seq[Int] = (1 to n).map { _ =>
    val dropped = w.clear()
    w.ops.foreach(_.run())
    w.afterPass()
    dropped
  }

  test("the tier is a pure function of the seed") {
    val other = new java.io.File(work, "tier-again").getPath
    Tier.write(spark, seed = 7, orders = 600, dir = other)
    Tier.Tables.foreach { t =>
      val a = spark.read.parquet(s"$tier/$t.parquet")
      val b = spark.read.parquet(s"$other/$t.parquet")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
    assert(Tier.keyOffset(7) > 0 && Tier.keyOffset(7) != Tier.keyOffset(8))
  }

  test("the composed compaction pass returns Compaction.compactionRoundtrip's rows") {
    val w = new CompactionWrite(spark, tier, work.getPath)
    w.fixtures()
    val outs = w.ops.map(op => op.name -> op.run()).toMap
    assert(outs("readback").canonical ==
      rows(Compaction.compactionRoundtrip(spark, tier)))
    assert(outs("readback").rows.nonEmpty)
    w.afterPass()
  }

  test("each reports-sstable-files operation returns SparkEntry.queries' rows") {
    val w = new ReportsSstableFiles(spark, tier)
    w.fixtures()
    w.clear()
    val got = w.ops.map(op => op.name -> op.run().canonical).toMap
    w.queries.foreach { case (op, q) =>
      assert(got(op) == rows(SparkEntry.queries(q)(spark, tier)), op)
    }
  }

  test("every cold pass after the first drops cached entries") {
    Seq(new ReportsCli(spark, tier), new ReportsSstableFiles(spark, tier))
      .foreach { w =>
        w.fixtures()
        val dropped = passes(w, 3)
        assert(dropped.tail.forall(_ > 0), s"${w.name}: $dropped")
      }
  }

  test("a pass's report text repeats exactly") {
    val w = new ReportsCli(spark, tier)
    val first = w.ops.map(_.run().canonical)
    w.clear()
    assert(w.ops.map(_.run().canonical) == first)
  }
}
