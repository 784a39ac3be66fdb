package graft.cli

import org.apache.spark.sql.SparkSession

/** The reference's CLI entry point re-expressed over the Spark engine
  * (cli/CLI.java:9-20): same command set, same option grammar —
  *
  * {{{
  * graft.cli.Main summary
  * graft.cli.Main sstables <keyspace> <table>
  * graft.cli.Main {pstats|cfstats|purge} [-n <num>] [-t <snapshot>]
  *                [-f <files>] [-b] <keyspace> <table>
  * }}}
  *
  * `-n` top-N rows, `-f` comma-separated Data.db names (F1), `-b` batch
  * progress lines on stderr (K2), `-t` names the snapshot to analyse —
  * inputs here are immutable fixture paths, so the name is echoed (or
  * generated, X8) without hardlinking; `-g` overrides gc_grace_seconds for
  * cfstats/purge (the reference reads it from the table schema,
  * ColumnFamilyBackend.java:149 — an engine library gets it as input);
  * `help [command]` prints usage. Data directory comes from
  * SPARK_GRAFT_SF_DIR. Exit codes: 0 ok, 2 usage error — parse failures
  * never start a SparkSession. */
object Main {

  final case class Opts(command: String, topN: Int = 10,
      snapshot: Option[String] = None, files: Seq[String] = Nil,
      batch: Boolean = false, keyspace: String = "", table: String = "",
      gcGraceS: Option[Long] = None, method: String = "",
      execute: Boolean = false, sidecarSized: Boolean = false,
      minor: Boolean = false, leveled: Boolean = false,
      twcs: Boolean = false, ucs: Boolean = false, plan: Boolean = false,
      again: Boolean = false, promoteLevels: Boolean = false,
      ranges: Boolean = false, incremental: Boolean = false,
      mark: Boolean = false, matrix: Boolean = false,
      seqLen: Int = 2048, budgetTokens: Long = 1000000L,
      bpeSteps: Int = 3, key: Long = 0L, sliceLo: Long = 0L,
      sliceHi: Long = 0L) {
    def gcBeforeS: Long = gcGraceS
      .map(graft.sources.Fixtures.gcBeforeFor)
      .getOrElse(graft.sources.Fixtures.GcBeforeS)
  }

  val Commands = Set("blockers", "split", "levelreset", "summary",
    "sstables", "pstats", "cfstats", "purge",
    "dedup", "pack", "contaminate", "verify", "quality", "canon", "select",
    "classify", "ingest", "scrub", "chrome", "bpe", "lm", "agree",
    "search", "drift", "tokenize", "lookup", "get", "slice",
    "pipeline", "compact", "repair", "upgrade", "salvage", "relevel",
    "load", "repairedset", "downgrade", "cleanup", "bootstrap",
    "partitions", "garbagecollect", "decommission", "removenode",
    "move", "commitlog", "hints", "rebuild", "readrepair", "batchlog",
    "merkle", "mview", "snapshot", "cas", "counters", "backup",
    "vnodes", "summaryredist")

  def usage(cmd: String = ""): String = cmd match {
    case "summary" => "Usage: summary"
    case "sstables" => "Usage: sstables <keyspace> <table>"
    case "dedup" =>
      "Usage: dedup [-n <num>] {exact|ngram|minhash|simhash|embedding|clusters}"
    case "pack" => "Usage: pack [-l <seq_len>]"
    case "contaminate" => "Usage: contaminate [-n <num>]"
    case "verify" => "Usage: verify"
    case "repair" =>
      "Usage: repair <keyspace> <table> " +
        "[--ranges | --incremental | --execute [--matrix] [--mark]]"
    case "blockers" => "Usage: blockers <keyspace> <table>"
    case "split" => "Usage: split <keyspace> <table>"
    case "levelreset" => "Usage: levelreset <keyspace> <table>"
    case "upgrade" => "Usage: upgrade <keyspace> <table>"
    case "salvage" => "Usage: salvage <keyspace> <table>"
    case "relevel" => "Usage: relevel <keyspace> <table>"
    case "load" => "Usage: load <keyspace> <table>"
    case "repairedset" => "Usage: repairedset <keyspace> <table>"
    case "downgrade" => "Usage: downgrade <keyspace> <table>"
    case "cleanup" => "Usage: cleanup <keyspace> <table>"
    case "bootstrap" => "Usage: bootstrap <keyspace> <table>"
    case "partitions" => "Usage: partitions <keyspace> <table>"
    case "garbagecollect" =>
      "Usage: garbagecollect [-g <gc_grace_seconds>] <keyspace> <table>"
    case "decommission" => "Usage: decommission <keyspace> <table>"
    case "removenode" => "Usage: removenode <keyspace> <table>"
    case "move" => "Usage: move <keyspace> <table>"
    case "commitlog" => "Usage: commitlog <keyspace> <table>"
    case "hints" => "Usage: hints <keyspace> <table>"
    case "rebuild" => "Usage: rebuild <keyspace> <table>"
    case "readrepair" => "Usage: readrepair <keyspace> <table>"
    case "batchlog" => "Usage: batchlog <keyspace> <table>"
    case "merkle" => "Usage: merkle <keyspace> <table>"
    case "mview" => "Usage: mview <keyspace> <table>"
    case "snapshot" => "Usage: snapshot <keyspace> <table>"
    case "cas" => "Usage: cas <keyspace> <table>"
    case "counters" => "Usage: counters <keyspace> <table>"
    case "backup" => "Usage: backup <keyspace> <table>"
    case "vnodes" => "Usage: vnodes <keyspace> <table>"
    case "summaryredist" => "Usage: summaryredist <keyspace> <table>"
    case "quality" => "Usage: quality"
    case "canon" => "Usage: canon [-n <num>]"
    case "select" => "Usage: select [-B <budget_tokens>]"
    case "classify" => "Usage: classify"
    case "ingest" => "Usage: ingest"
    case "scrub" => "Usage: scrub"
    case "chrome" => "Usage: chrome"
    case "bpe" => "Usage: bpe [-s <merge_steps>]"
    case "lm" => "Usage: lm"
    case "agree" => "Usage: agree"
    case "search" => "Usage: search [-n <num>]"
    case "drift" => "Usage: drift"
    case "pipeline" => "Usage: pipeline"
    case "compact" =>
      "Usage: compact [--plan] [--execute <keyspace> <table>] " +
        "[--sidecar-sized] " +
        "[--minor | --leveled [--again | --promote] | --twcs [--again] " +
        "| --ucs [--again]] [-g <gc_grace_seconds>]"
    case "tokenize" => "Usage: tokenize [-s <merge_steps>]"
    case "lookup" => "Usage: lookup <keyspace> <table> <key>"
    case "get" => "Usage: get <keyspace> <table> <key>"
    case "slice" => "Usage: slice <keyspace> <table> <key> <lo> <hi>"
    case c if Commands(c) =>
      s"Usage: $c [-n <num>] [-t <snapshot>] [-f <files>] [-b]" +
        s" [-g <gc_grace_seconds>] <keyspace> <table>"
    case _ =>
      """Usage: <command> [options]
        |Commands:
        |  cfstats      Detailed statistics about cells in a column family
        |  pstats       Partition size statistics for a column family
        |  purge        Statistics about reclaimable data for a column family
        |  sstables     Print out metadata for sstables that belong to a column family
        |  summary      Summary information about all column families including how much of the data is repaired
        |  dedup        Duplicate-detection reports over the documents corpus
        |  pack         Sequence-packing rollup over the documents corpus
        |  contaminate  Benchmark-contamination report over the documents corpus
        |  verify       Integrity check of the real-format sstable set (bloom, digest, summary, row index)
        |  quality      Quality-filter survival rates by source
        |  canon        Canonical document per duplicate cluster (kept/dropped tokens)
        |  select       Deterministic token-budget selection by source
        |  classify     Hashed linear quality-classifier survival by (lang, source)
        |  ingest       Incremental dedup of the incoming batch against the base corpus
        |  scrub        PII scan (emails/IPs/phones + redaction budget) by source
        |  chrome       Structural-boilerplate (page chrome) removal report by source
        |  bpe          BPE tokenizer-training trace (one row per merge step)
        |  lm           Bigram-LM surprisal scoring rollup by source
        |  agree        Drop-rule agreement matrix across quality gates
        |  search       BM25-lite keyword retrieval over the documents corpus
        |  drift        Token-distribution drift between corpus snapshots by source
        |  tokenize     Apply the trained BPE merges; token counts and compression by source
        |  lookup       Point-lookup a partition key through the bti Partitions.db tries
        |  get          Point-read a partition (bloom -> summary -> index -> data) off real sstables
        |  slice        Clustering-slice read through the promoted row index (wide set)
        |  compact      Compaction what-if, or --execute the real major/minor/leveled/twcs/ucs compaction
        |  repair       Anti-entropy digests; --ranges, --incremental, or --execute the full loop
        |  blockers     Which live sstable blocks which fully-expired sstable's drop
        |  split        Rewrite the largest sstable as size-targeted sstables (partitions intact)
        |  levelreset   Drop every sstable's level to 0 (metadata-only Statistics.db rewrite)
        |  upgrade      Rewrite every sstable to the current big-format version ('nb' -> 'oa'), data byte-identical
        |  salvage      sstablescrub: per-partition isolated salvage of a corrupted sstable set
        |  relevel      sstableofflinerelevel: rebuild the leveled hierarchy from a flat set (metadata-only)
        |  load         sstableloader: stream an sstable set into the ring (4 nodes x RF=2), received views verified
        |  repairedset  sstablerepairedset --is-unrepaired: withdraw repairedAt stamps, re-opening the files to repair
        |  downgrade    sstabledowngrade: rewrite 'oa' back to 'nb'; the full version cycle is byte-exact
        |  cleanup      nodetool cleanup: after the ring doubles, rewrite away each node's foreign ranges
        |  bootstrap    node bootstrap: new nodes stream their ranges; the doubled cluster converges to RF=2
        |  partitions   sstablepartitions: per-sstable partitions crossing the size/cell/tombstone thresholds
        |  garbagecollect  nodetool garbagecollect: every sstable rewrites alone, per-file reclaim accounting
        |  decommission nodetool decommission: the leaving node streams its ranges; the shrunk ring restores RF=2
        |  removenode   nodetool removenode: the dead node's ranges re-replicate survivor-to-survivor
        |  move         nodetool move: a token shift — gained ranges stream in, lost ranges are cleaned away
        |  rebuild      nodetool rebuild: re-stream a node's ranges from surviving replicas after data loss
        |  commitlog    Commit-log segment inventory, replay recovery, and point-in-time restore accounting
        |  hints        Hinted-handoff store: pending/expired hints and post-delivery convergence
        |  batchlog     Batchlog store: pending/replayed batches and atomicity accounting
        |  readrepair   Read-repair: digest mismatches and repaired-row accounting per read quorum
        |  merkle       Merkle-tree anti-entropy descent: per-leaf digests and mismatched-range drill-down
        |  mview        Materialized-view build and base-to-view convergence accounting
        |  snapshot     Hard-link snapshot inventory (zero-copy, same-file-key verified)
        |  backup       Incremental backup manifest: linked-since-last-backup accounting
        |  cas          Lightweight-transaction (CAS) register: ballot history per partition
        |  counters     Distributed counter reconciliation: per-shard sums and final values
        |  vnodes       Vnode-granularity ring: pending-ranges calculus and executed decommission""".stripMargin
  }

  /** Engine version (build.sbt's ThisBuild/version; the reference's
    * `-V` prints the Cassandra version embedded in its jar manifest,
    * cli/VersionParser.java:1-40 — the analog here is the engine
    * release plus the Spark runtime it is built against). */
  val Version = "0.1.0"

  def versionString: String =
    s"graft $Version (Spark ${org.apache.spark.SPARK_VERSION}, " +
      s"Scala ${scala.util.Properties.versionNumberString})"

  /** Strict reference grammar; Left = usage message. */
  def parse(args: Seq[String]): Either[String, Opts] = {
    if (args.isEmpty) return Left(usage())
    args.head match {
      case "help" | "-h" | "--help" =>
        Left(usage(args.drop(1).headOption.getOrElse("")))
      case "-V" | "--version" => Left(versionString)
      case cmd if !Commands(cmd) => Left(usage())
      case cmd =>
        var o = Opts(cmd)
        var rest = args.tail
        val pos = Seq.newBuilder[String]
        while (rest.nonEmpty) {
          rest match {
            case Seq("-n", v, t @ _*) =>
              val n = v.toIntOption.getOrElse(return Left(usage(cmd)))
              if (n <= 0) return Left(usage(cmd))
              o = o.copy(topN = n); rest = t
            case Seq("-t", v, t @ _*) =>
              o = o.copy(snapshot = Some(v)); rest = t
            case Seq("-f", v, t @ _*) =>
              // the reference filters on Data.db file names; accept both the
              // bare sstable id and the full file name
              o = o.copy(files = v.split(",").toSeq.filter(_.nonEmpty)
                .map(_.stripSuffix("-Data.db"))); rest = t
            case Seq("-g", v, t @ _*) =>
              val g = v.toLongOption.getOrElse(return Left(usage(cmd)))
              if (g < 0) return Left(usage(cmd))
              o = o.copy(gcGraceS = Some(g)); rest = t
            case Seq("-l", v, t @ _*) if cmd == "pack" =>
              val l = v.toIntOption.getOrElse(return Left(usage(cmd)))
              if (l <= 0) return Left(usage(cmd))
              o = o.copy(seqLen = l); rest = t
            case Seq("-B", v, t @ _*) if cmd == "select" =>
              val b = v.toLongOption.getOrElse(return Left(usage(cmd)))
              if (b <= 0) return Left(usage(cmd))
              o = o.copy(budgetTokens = b); rest = t
            case Seq("-s", v, t @ _*) if cmd == "bpe" || cmd == "tokenize" =>
              val s = v.toIntOption.getOrElse(return Left(usage(cmd)))
              if (s <= 0) return Left(usage(cmd))
              o = o.copy(bpeSteps = s); rest = t
            case Seq("--execute", t @ _*) if cmd == "repair" =>
              o = o.copy(execute = true); rest = t
            case Seq("--execute", t @ _*) if cmd == "compact" =>
              o = o.copy(execute = true); rest = t
            case Seq("--sidecar-sized", t @ _*) if cmd == "compact" =>
              o = o.copy(sidecarSized = true); rest = t
            case Seq("--minor", t @ _*) if cmd == "compact" =>
              o = o.copy(minor = true); rest = t
            case Seq("--leveled", t @ _*) if cmd == "compact" =>
              o = o.copy(leveled = true); rest = t
            case Seq("--twcs", t @ _*) if cmd == "compact" =>
              o = o.copy(twcs = true); rest = t
            case Seq("--ucs", t @ _*) if cmd == "compact" =>
              o = o.copy(ucs = true); rest = t
            case Seq("--plan", t @ _*) if cmd == "compact" =>
              o = o.copy(plan = true); rest = t
            case Seq("--again", t @ _*) if cmd == "compact" =>
              o = o.copy(again = true); rest = t
            case Seq("--promote", t @ _*) if cmd == "compact" =>
              o = o.copy(promoteLevels = true); rest = t
            case Seq("--ranges", t @ _*) if cmd == "repair" =>
              o = o.copy(ranges = true); rest = t
            case Seq("--incremental", t @ _*) if cmd == "repair" =>
              o = o.copy(incremental = true); rest = t
            case Seq("--mark", t @ _*) if cmd == "repair" =>
              o = o.copy(mark = true); rest = t
            case Seq("--matrix", t @ _*) if cmd == "repair" =>
              o = o.copy(matrix = true); rest = t
            case Seq("-b", t @ _*) => o = o.copy(batch = true); rest = t
            case Seq(flag, _ @ _*) if flag.startsWith("-") => return Left(usage(cmd))
            case Seq(p, t @ _*) => pos += p; rest = t
          }
        }
        val positional = pos.result()
        cmd match {
          case "summary" | "pack" | "contaminate" | "verify" | "quality" |
              "canon" | "select" | "classify" | "ingest" | "scrub" |
              "chrome" | "bpe" | "lm" | "agree" | "search" | "drift" |
              "tokenize" | "pipeline" =>
            if (positional.nonEmpty) Left(usage(cmd)) else Right(o)
          case "compact" =>
            // read-only what-if by default; --execute <ks> <cf> runs the
            // real compaction (q162 path) at the -g gc cutoff.
            // Mode flags are mutually exclusive where they would
            // contradict: at most one strategy (--minor/--leveled),
            // --sidecar-sized only on the major path, --again only with
            // --leveled — conflicting combinations are usage errors, not
            // silently resolved by dispatch order
            if (Seq(o.minor, o.leveled, o.twcs, o.ucs).count(identity) > 1)
              Left(usage(cmd))
            else if (o.plan && (o.minor || o.leveled || o.twcs || o.ucs ||
                o.sidecarSized || o.execute || o.again || o.promoteLevels ||
                positional.nonEmpty))
              Left(usage(cmd)) // --plan detects the strategy itself
            else if (o.sidecarSized && (o.minor || o.leveled || o.twcs ||
                o.ucs))
              Left(usage(cmd))
            else if (o.again && !(o.leveled || o.twcs || o.ucs))
              Left(usage(cmd))
            else if (o.promoteLevels && !o.leveled) Left(usage(cmd))
            else if (o.again && o.promoteLevels) Left(usage(cmd))
            else if (o.execute) positional match {
              case Seq(ks, cf) => Right(o.copy(keyspace = ks,
                table = graft.ops.Summary.resolveStore(cf)))
              case _ => Left(usage(cmd))
            } else if (o.sidecarSized || o.minor || o.again ||
                o.promoteLevels || positional.nonEmpty)
              Left(usage(cmd)) // these mode flags only apply to --execute
            else Right(o) // bare/--leveled/--twcs/--ucs = its what-if
          case "repair" =>
            if (Seq(o.ranges, o.incremental, o.execute).count(identity) > 1)
              Left(usage(cmd))
            else if (o.mark && !o.execute) Left(usage(cmd))
            else if (o.matrix && !o.execute) Left(usage(cmd))
            else positional match {
              case Seq(ks, cf) => Right(o.copy(keyspace = ks,
                table = graft.ops.Summary.resolveStore(cf)))
              case _ => Left(usage(cmd))
            }
          case "dedup" => positional match {
            case Seq(m) if Reports.DedupMethods(m) => Right(o.copy(method = m))
            case _ => Left(usage(cmd))
          }
          case "slice" => positional match {
            case Seq(ks, cf, k, lo, hi) =>
              (k.toLongOption, lo.toLongOption, hi.toLongOption) match {
                case (Some(key), Some(l), Some(h)) => Right(o.copy(
                  keyspace = ks, table = graft.ops.Summary.resolveStore(cf),
                  key = key, sliceLo = l, sliceHi = h))
                case _ => Left(usage(cmd))
              }
            case _ => Left(usage(cmd))
          }
          case "lookup" | "get" => positional match {
            case Seq(ks, cf, k) => k.toLongOption match {
              case Some(key) => Right(o.copy(keyspace = ks,
                table = graft.ops.Summary.resolveStore(cf), key = key))
              case None => Left(usage(cmd))
            }
            case _ => Left(usage(cmd))
          }
          case _ => positional match {
            case Seq(ks, cf) => Right(o.copy(keyspace = ks,
              table = graft.ops.Summary.resolveStore(cf)))
            case _ => Left(usage(cmd))
          }
        }
    }
  }

  /** Dispatch a parsed command to the report library. The fixture dataset
    * carries cell-event granularity for ks1.lineitem (the reference operates
    * on one column family per invocation the same way). */
  def run(spark: SparkSession, dir: String, o: Opts,
      out: String => Unit): Int = {
    def requireStore(): Boolean =
      if (o.keyspace == "ks1" && o.table == "lineitem") true
      else { out(s"Unknown column family: ${o.keyspace}.${o.table}"); false }
    def tracked(title: String)(body: => String): String =
      if (o.batch) Progress.track(spark, title, s => System.err.println(s))(body)
      else body
    o.command match {
      case "summary" => out(Reports.summary(spark, dir)); 0
      case "sstables" =>
        if (!requireStore()) return 2
        out(Reports.sstables(spark, dir, o.files)); 0
      case "pstats" =>
        if (!requireStore()) return 2
        out(tracked("pstats")(Reports.pstats(spark, dir, o.topN, o.files))); 0
      case "cfstats" =>
        if (!requireStore()) return 2
        out(tracked("cfstats")(
          Reports.cfstats(spark, dir, o.topN, o.files, o.gcBeforeS))); 0
      case "purge" =>
        if (!requireStore()) return 2
        out(tracked("purge")(
          Reports.purge(spark, dir, o.topN, o.files, o.gcBeforeS))); 0
      case "dedup" =>
        out(tracked("dedup")(
          Reports.dedup(spark, dir, o.method, o.topN))); 0
      case "pack" =>
        out(tracked("pack")(Reports.pack(spark, dir, o.seqLen))); 0
      case "contaminate" =>
        out(tracked("contaminate")(
          Reports.contaminate(spark, dir, o.topN))); 0
      case "verify" =>
        out(tracked("verify")(Reports.verify(spark, dir))); 0
      case "repair" =>
        if (!requireStore()) return 2
        out(tracked("repair")(
          if (o.ranges) Reports.repairRanges(spark, dir)
          else if (o.incremental) Reports.repairIncremental(spark, dir)
          else if (o.execute && o.matrix && o.mark)
            Reports.repairMatrixMark(spark, dir)
          else if (o.execute && o.mark) Reports.repairMarkCycle(spark, dir)
          else if (o.execute && o.matrix) Reports.repairMatrix(spark, dir)
          else if (o.execute) Reports.repairExecute(spark, dir)
          else Reports.repair(spark, dir))); 0
      case "blockers" =>
        if (!requireStore()) return 2
        out(tracked("blockers")(Reports.blockers(spark, dir, o.gcBeforeS)))
        0
      case "split" =>
        if (!requireStore()) return 2
        out(tracked("split")(Reports.split(spark, dir))); 0
      case "levelreset" =>
        if (!requireStore()) return 2
        out(tracked("levelreset")(Reports.levelReset(spark, dir))); 0
      case "upgrade" =>
        if (!requireStore()) return 2
        out(tracked("upgrade")(Reports.upgrade(spark, dir))); 0
      case "salvage" =>
        if (!requireStore()) return 2
        out(tracked("salvage")(Reports.salvage(spark, dir))); 0
      case "relevel" =>
        if (!requireStore()) return 2
        out(tracked("relevel")(Reports.relevel(spark, dir))); 0
      case "load" =>
        if (!requireStore()) return 2
        out(tracked("load")(Reports.load(spark, dir))); 0
      case "repairedset" =>
        if (!requireStore()) return 2
        out(tracked("repairedset")(Reports.repairedset(spark, dir))); 0
      case "downgrade" =>
        if (!requireStore()) return 2
        out(tracked("downgrade")(Reports.downgrade(spark, dir))); 0
      case "cleanup" =>
        if (!requireStore()) return 2
        out(tracked("cleanup")(Reports.cleanup(spark, dir))); 0
      case "bootstrap" =>
        if (!requireStore()) return 2
        out(tracked("bootstrap")(Reports.bootstrap(spark, dir))); 0
      case "partitions" =>
        if (!requireStore()) return 2
        out(tracked("partitions")(Reports.partitions(spark, dir))); 0
      case "garbagecollect" =>
        if (!requireStore()) return 2
        out(tracked("garbagecollect")(
          Reports.garbagecollect(spark, dir, o.gcBeforeS))); 0
      case "decommission" =>
        if (!requireStore()) return 2
        out(tracked("decommission")(Reports.decommission(spark, dir))); 0
      case "removenode" =>
        if (!requireStore()) return 2
        out(tracked("removenode")(Reports.removenode(spark, dir))); 0
      case "move" =>
        if (!requireStore()) return 2
        out(tracked("move")(Reports.move(spark, dir))); 0
      case "vnodes" =>
        if (!requireStore()) return 2
        out(tracked("vnodes")(Reports.vnodes(spark, dir))); 0
      case "summaryredist" =>
        if (!requireStore()) return 2
        out(tracked("summaryredist")(Reports.summaryredist(spark, dir))); 0
      case "commitlog" =>
        if (!requireStore()) return 2
        out(tracked("commitlog")(Reports.commitlog(spark, dir))); 0
      case "hints" =>
        if (!requireStore()) return 2
        out(tracked("hints")(Reports.hints(spark, dir))); 0
      case "rebuild" =>
        if (!requireStore()) return 2
        out(tracked("rebuild")(Reports.rebuild(spark, dir))); 0
      case "readrepair" =>
        if (!requireStore()) return 2
        out(tracked("readrepair")(Reports.readrepair(spark, dir))); 0
      case "batchlog" =>
        if (!requireStore()) return 2
        out(tracked("batchlog")(Reports.batchlog(spark, dir))); 0
      case "merkle" =>
        if (!requireStore()) return 2
        out(tracked("merkle")(Reports.merkle(spark, dir))); 0
      case "mview" =>
        if (!requireStore()) return 2
        out(tracked("mview")(Reports.mview(spark, dir))); 0
      case "snapshot" =>
        if (!requireStore()) return 2
        out(tracked("snapshot")(Reports.snapshot(spark, dir))); 0
      case "cas" =>
        if (!requireStore()) return 2
        out(tracked("cas")(Reports.cas(spark, dir))); 0
      case "counters" =>
        if (!requireStore()) return 2
        out(tracked("counters")(Reports.counters(spark, dir))); 0
      case "backup" =>
        if (!requireStore()) return 2
        out(tracked("backup")(Reports.backup(spark, dir))); 0
      case "quality" =>
        out(tracked("quality")(Reports.quality(spark, dir))); 0
      case "canon" =>
        out(tracked("canon")(Reports.canon(spark, dir, o.topN))); 0
      case "select" =>
        out(tracked("select")(
          Reports.select(spark, dir, o.budgetTokens))); 0
      case "classify" =>
        out(tracked("classify")(Reports.classify(spark, dir))); 0
      case "ingest" =>
        out(tracked("ingest")(Reports.ingest(spark, dir))); 0
      case "scrub" =>
        out(tracked("scrub")(Reports.scrub(spark, dir))); 0
      case "chrome" =>
        out(tracked("chrome")(Reports.chrome(spark, dir))); 0
      case "bpe" =>
        out(tracked("bpe")(Reports.bpe(spark, dir, o.bpeSteps))); 0
      case "lm" =>
        out(tracked("lm")(Reports.lm(spark, dir))); 0
      case "agree" =>
        out(tracked("agree")(Reports.agree(spark, dir))); 0
      case "search" =>
        out(tracked("search")(Reports.search(spark, dir, o.topN))); 0
      case "drift" =>
        out(tracked("drift")(Reports.drift(spark, dir))); 0
      case "pipeline" =>
        out(tracked("pipeline")(Reports.pipeline(spark, dir))); 0
      case "compact" =>
        if (o.execute) {
          if (!requireStore()) return 2
          out(tracked("compact")(
            if (o.minor) Reports.minorCompactExecute(spark, dir, o.gcBeforeS)
            else if (o.twcs && o.again)
              Reports.twcsReingestExecute(spark, dir, o.gcBeforeS)
            else if (o.twcs)
              Reports.twcsCompactExecute(spark, dir, o.gcBeforeS)
            else if (o.ucs && o.again)
              Reports.ucsReingestExecute(spark, dir)
            else if (o.ucs)
              Reports.ucsCompactExecute(spark, dir, o.gcBeforeS)
            else if (o.leveled && o.promoteLevels)
              Reports.leveledPromoteExecute(spark, dir, o.gcBeforeS)
            else if (o.leveled && o.again)
              Reports.leveledReingestExecute(spark, dir, o.gcBeforeS)
            else if (o.leveled)
              Reports.leveledCompactExecute(spark, dir, o.gcBeforeS)
            else Reports.compactExecute(spark, dir, o.gcBeforeS,
              o.sidecarSized))); 0
        } else if (o.plan) {
          out(tracked("compact")(
            Reports.compactPlan(spark, dir, o.gcBeforeS))); 0
        } else if (o.leveled) {
          out(tracked("compact")(Reports.lcsWhatIf(spark, dir))); 0
        } else if (o.twcs) {
          out(tracked("compact")(
            Reports.twcsWhatIf(spark, dir, o.gcBeforeS))); 0
        } else if (o.ucs) {
          out(tracked("compact")(Reports.ucsWhatIf(spark, dir))); 0
        } else {
          // -g applies to the executed-compaction rollup in BOTH modes
          out(tracked("compact")(
            Reports.compact(spark, dir, o.gcBeforeS))); 0
        }
      case "tokenize" =>
        out(tracked("tokenize")(Reports.tokenize(spark, dir, o.bpeSteps))); 0
      case "lookup" =>
        if (!requireStore()) return 2
        out(tracked("lookup")(Reports.lookup(spark, dir, o.key))); 0
      case "get" =>
        if (!requireStore()) return 2
        out(tracked("get")(Reports.get(spark, dir, o.key))); 0
      case "slice" =>
        if (!requireStore()) return 2
        out(tracked("slice")(
          Reports.slice(spark, dir, o.key, o.sliceLo, o.sliceHi))); 0
    }
  }

  def main(args: Array[String]): Unit = {
    parse(args.toIndexedSeq) match {
      case Left(msg) =>
        // help and -V/--version are successful informational exits; any
        // other Left is a usage error (rc 2, stderr)
        val informational = args.headOption.exists(a =>
          a == "help" || a == "-h" || a == "--help" ||
            a == "-V" || a == "--version")
        if (informational) println(msg) else System.err.println(msg)
        sys.exit(if (informational) 0 else 2)
      case Right(o) =>
        val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.001")
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
        val spark = SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.extensions", "graft.GraftExtensions")
          .config("spark.sql.codegen.cache.maxEntries",
            graft.GraftExtensions.CodegenCacheEntries)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        // X8: a snapshot names the (immutable) file set under analysis —
        // only the sstable SCAN commands snapshot (the corpus extension
        // commands read parquet, and summary/sstables are metadata-only)
        o.snapshot.orElse(
          if (Set("pstats", "cfstats", "purge")(o.command))
            Some(graft.ops.Summary.snapshotName())
          else None
        ).foreach(s => System.err.println(s"Snapshot: $s"))
        val rc = try run(spark, dir, o, Console.out.println(_))
          finally spark.stop()
        sys.exit(rc)
    }
  }
}
