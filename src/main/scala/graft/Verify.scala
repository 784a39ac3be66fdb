package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      s"usage: Verify <sfDir> <outDir> [query-substring]; got ${args.toSeq}")
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: substring filter for fast local iteration (the
    // driver always passes exactly two); a filter matching NOTHING is an
    // error, not a silent empty run the comparer could misread as clean
    val only = args.lift(2)
    only.foreach(f => require(
      SparkEntry.queries.keys.exists(_.contains(f)),
      s"query filter '$f' matches no query"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries",
        GraftExtensions.CodegenCacheEntries)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // events.parquet uses TIMESTAMP(NANOS); read as long, see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale result from a previous run: leftover parquet
        // would make the failure look like a pass to the comparer. Deletes
        // recursively (writes can leave _temporary trees) and screams if
        // anything survives rather than silently false-passing.
        def rmr(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmr))
          f.delete()
        }
        val stale = new java.io.File(s"$outDir/$name")
        rmr(stale)
        if (stale.exists())
          System.err.println(
            s"[verify] WARNING: could not remove stale output $stale — " +
              "comparer may read a previous run's result")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
