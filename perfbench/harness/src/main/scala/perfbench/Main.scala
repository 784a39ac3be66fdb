package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Sets the run up at least `MinSetups` times (fresh SparkSession, seeded tier,
  * every fixture the timed operations read), runs an untimed warm-up
  * (one pass, repeated while passes are short), then runs passes back to
  * back (a closed loop with one client) until `--seconds` have passed. Every operation's output is compared
  * with the warm-up's, and the warm-up's outputs are written under
  * `<work>/oracle` for the DuckDB oracle. Raw timings and checks go to
  * `<work>/result.json`; with `--trace 1` spans and listener counters go
  * to `<work>/trace.json`. */
object Main {

  /** Short passes repeat untimed until warm-up has taken this long. */
  val WarmupSeconds = 8.0

  /** At least this many set-ups; those after the first repeat (up to
    * twice as many in all) until they have taken `WarmSetupSeconds`. */
  val MinSetups = 3
  val WarmSetupSeconds = 5.0

  /** Orders in the tier; lineitem has four times as many rows. */
  val Orders = 12000L

  val Cores: Int = Runtime.getRuntime.availableProcessors

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
  }

  def session(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** One line per phase on stderr (the run's log), so a slow phase shows. */
  private def note(phase: String): Unit =
    System.err.println(f"perfbench: $phase%s done at ${
      (System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")

  /** CPU time of every thread of this process, JIT and GC included. */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this process, from /proc (Linux). */
  def rssPeakMb: Double = scala.util.Try {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    HeapPeak.start()
    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    new File(a.work).mkdirs()
    val tier = new File(a.work, "tier").getPath

    // --- set-up, several times; the last one's session is kept. Cheap
    // set-ups repeat more, so the median is not one JIT-cold sample. ----
    var spark: SparkSession = null
    var w: Workload = null
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    def warmSetupS = setups.drop(1).map(_("total_s")).sum
    while (setups.size < MinSetups ||
        (setups.size < 2 * MinSetups && warmSetupS < WarmSetupSeconds)) {
      if (spark != null) spark.stop()
      val (s, sessionS) = time(session(Cores, a.work))
      spark = s
      val (_, tierS) = time(Tier.write(spark, a.seed, Orders, tier))
      w = Workload(a.workload, spark, tier, a.work)
      val (_, fixtureS) = time(w.fixtures())
      val jvm = if (setups.isEmpty) jvmS else 0.0
      setups += Map("session_s" -> sessionS, "tier_s" -> tierS,
        "fixture_s" -> fixtureS, "total_s" -> (jvm + sessionS + tierS + fixtureS))
    }
    note(s"${setups.size} set-ups")
    val tracer = new Tracer(spark.sparkContext, a.trace)
    if (a.trace) {
      Layers.fixtures(spark, tier)
      note("probe fixtures")
    }

    // --- warm-up: the first pass's outputs are the reference every pass
    // must equal; short passes repeat until warm-up has taken WarmupSeconds
    val warm = mutable.LinkedHashMap.empty[String, Output]
    val warmErrors = mutable.LinkedHashMap.empty[String, String]
    val (_, warmupS) = time {
      w.clear()
      w.ops.foreach { op =>
        try warm(op.name) = op.run()
        catch { case NonFatal(e) => warmErrors(op.name) = describe(e) }
      }
      w.afterPass()
    }
    val warmStart = System.nanoTime()
    var warmPasses = 1
    while (warmErrors.isEmpty && warmPasses < 5 &&
        warmupS + secondsSince(warmStart) < WarmupSeconds) {
      w.clear()
      w.ops.foreach(_.run())
      w.afterPass()
      warmPasses += 1
    }
    note(s"warm-up ($warmPasses passes)")

    val oracleDir = new File(a.work, "oracle")
    Layers.deleteTree(oracleDir)
    val dumpErrors = mutable.LinkedHashMap.empty[String, String]
    // written concurrently: these jobs are untimed and floor-bound
    val dumps: Map[String, DataFrameDump] =
      try {
        val frames = w.oracleDumps(warm.toMap).toSeq
        val pool = java.util.concurrent.Executors.newFixedThreadPool(Cores)
        try frames.map { case (q, df) =>
          q -> pool.submit(() => {
            val path = new File(oracleDir, q).getPath
            df.coalesce(1).write.mode("overwrite").parquet(path)
            path
          })
        }.map { case (q, f) =>
          val path = try f.get() catch { case e: java.util.concurrent
              .ExecutionException =>
            dumpErrors.synchronized(dumpErrors(q) = describe(e.getCause))
            null
          }
          q -> DataFrameDump(path, graft.SparkEntry.oracleSql.get(q))
        }.toMap
        finally pool.shutdown()
      } catch { case NonFatal(e) =>
        dumpErrors("*") = describe(e)
        Map.empty
      }

    note("oracle results")

    // --- timed passes --------------------------------------------------
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    var outBytesRatio = Double.NaN
    val t0 = System.nanoTime()
    var n = 0
    while (n < (if (a.trace) 2 else 1) || secondsSince(t0) < a.seconds) {
      n += 1
      val traced = a.trace && n % 2 == 0
      tracer.attach(traced)
      val opSeconds = mutable.LinkedHashMap.empty[String, Double]
      val opSpans = mutable.LinkedHashMap.empty[String, Int]
      val outs = mutable.LinkedHashMap.empty[String, Output]
      val errs = mutable.LinkedHashMap.empty[String, String]
      var cleared = 0
      val cpu0 = processCpuNs
      val (_, passSpan) = tracer.span("pass", n) {
        cleared = w.clear()
        w.ops.foreach { op =>
          val t = System.nanoTime()
          try {
            val (out, s) = tracer.span(op.name, n)(op.run())
            outs(op.name) = out
            opSpans(op.name) = s.id
          } catch { case NonFatal(e) => errs(op.name) = describe(e) }
          opSeconds(op.name) = secondsSince(t)
        }
      }
      val passCpuS = (processCpuNs - cpu0) / 1e9
      w match {
        case c: CompactionWrite if !errs.contains("compact") =>
          outBytesRatio = c.outBytesPerInByte
        case _ =>
      }
      w.afterPass()
      // checks, outside the timed window
      w.ops.foreach { op =>
        attempted += 1
        val reason =
          errs.get(op.name).map("threw: " + _)
            .orElse(warmErrors.get(op.name).map("warm-up threw: " + _))
            .orElse(if (outs(op.name).canonical != warm(op.name).canonical)
              Some("output differs from the warm-up pass") else None)
            .orElse(if (op == w.ops.head && cleared == 0)
              Some("the cold-pass cache clear dropped no entries") else None)
        reason.foreach(r => failures += Map("pass" -> n, "op" -> op.name,
          "reason" -> r))
      }
      val counters: Map[String, Any] = if (!traced) Map.empty else {
        tracer.drain()
        Map("spark" -> countersJson(tracer.subtree(passSpan.id)),
          "op_spark" -> opSpans.map { case (o, id) =>
            o -> countersJson(tracer.subtree(id)) }.toMap)
      }
      passes += Map("pass" -> n, "traced" -> traced,
        "wall_s" -> passSpan.seconds, "cpu_s" -> passCpuS,
        "cleared" -> cleared,
        "ops" -> opSeconds.toMap) ++ counters
      note(s"pass $n${if (traced) " (traced)" else ""}")
    }

    // --- traced run: a warm pass and the layer probes -------------------
    var layers: Map[String, Double] = Map.empty
    if (a.trace) {
      tracer.attach(true)
      val (_, warmPassS) = time {
        w.ops.foreach(op => try op.run() catch { case NonFatal(_) => () })
        w.afterPass()
      }
      note("warm pass")
      layers = Layers.probe(w, tracer, a.work) +
        ("sources.plancache.warm_pass_s" -> warmPassS)
      note("layer probes")
      tracer.drain()
      Files.writeString(Paths.get(a.work, "trace.json"), tracer.json)
    }

    val result = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "orders" -> Orders,
      "cores" -> Cores, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "trace" -> a.trace, "jvm_s" -> jvmS, "setups" -> setups,
      "warmup_s" -> warmupS, "warmup_passes" -> warmPasses,
      "passes" -> passes, "attempted" -> attempted, "failures" -> failures,
      "op_oracle" -> w.ops.map(o => o.name -> o.oracle).toMap,
      "oracle" -> dumps.map { case (q, d) =>
        q -> Map("path" -> d.path, "sql" -> d.sql) },
      "dump_errors" -> dumpErrors.toMap,
      "out_bytes_per_in_byte" -> outBytesRatio,
      "layers" -> layers,
      "rss_peak_mb" -> rssPeakMb, "heap_live_peak_mb" -> HeapPeak.peakMb)
    Files.writeString(Paths.get(a.work, "result.json"), result)
    spark.stop()
    // stray non-daemon threads must not hold the process open
    sys.exit(0)
  }

  final case class DataFrameDump(path: String, sql: Option[String])

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(3).mkString(" | ")

  private def countersJson(c: Counters): Map[String, Any] = Map(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "task_s" -> c.taskMs / 1e3, "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
    "spill_mb" -> c.spillBytes / 1e6, "gc_s" -> c.gcMs / 1e3,
    "input_mb" -> c.inputBytes / 1e6)
}
