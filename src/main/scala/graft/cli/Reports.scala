package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Formatters
import graft.ops._
import graft.render.TableBuilder
import graft.sources.Fixtures

/** The reference's five CLI commands (cli/CLI.java:9-20) as library entry
  * points producing the same multi-section ASCII reports: a user of
  * `ic-sstable-tools {summary,sstables,pstats,cfstats,purge}` calls
  * `Reports.{summary,sstables,pstats,cfstats,purge}` instead. Options map
  * 1:1: `-n` → topN, `-f` → sstableFilter (F1). The F2 empty-input guard
  * returns the reference's "No data found!" message. */
object Reports {

  val NoData = "No data found!"

  private def section(title: String, df: DataFrame): String =
    s"$title\n${TableBuilder.render(df)}"

  private def filtered(df: DataFrame, files: Seq[String]): DataFrame =
    if (files.isEmpty) df else df.where(col("sstable_id").isin(files: _*))

  /** Renders a report's `sections` as concurrent Spark jobs, texts in
    * order; callers first run one step alone (F2 guard or first section)
    * so each shared PlanCache scan is built by one job. One daemon thread
    * per section, created by the caller so section jobs inherit its Spark
    * local properties and active session (a pre-started pool would not).
    * A failed section's own exception is rethrown once all have ended. */
  private[graft] def concurrently(sections: (() => String)*): Seq[String] = {
    val results = new Array[Either[Throwable, String]](sections.size)
    val threads = sections.zipWithIndex.map { case (render, i) =>
      val t = new Thread(() => results(i) =
        try Right(render()) catch { case e: Throwable => Left(e) },
        s"graft-report-section-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    results.toSeq.map(_.fold(throw _, identity))
  }

  /** `summary` (SummaryCollector.java): per-table rollup. */
  def summary(spark: SparkSession, dir: String): String = {
    val df = Summary.rollup(spark, dir)
      .withColumn("data_size",
        udf(Formatters.humanReadableByteCount _).apply(col("uncompressed_length")))
      .withColumn("repair",
        format_string("%d/%d %d%%", col("repaired_count"),
          col("sstable_count"), col("repair_pct")))
    section("Summary", df.select("keyspace", "tbl", "sstable_count",
      "data_size", "repair"))
  }

  /** `sstables` (SSTableMetadataCollector.java): one row per sstable. */
  def sstables(spark: SparkSession, dir: String,
      sstableFilter: Seq[String] = Nil): String = {
    val df = filtered(Summary.sstablesReport(spark, dir), sstableFilter)
    val rows = df.limit(TableBuilder.MaxRows).collect()
    if (rows.isEmpty) NoData
    else s"SSTables\n${TableBuilder.render(df.columns.toSeq, rows.toSeq)}"
  }

  /** `pstats` (PartitionSizeStatisticsCollector.java): distribution +
    * top-Ns + per-sstable section, from the index only. */
  def pstats(spark: SparkSession, dir: String, topN: Int = 10,
      sstableFilter: Seq[String] = Nil): String = {
    val pscan = filtered(Fixtures.liPscan(spark, dir), sstableFilter)
    if (pscan.isEmpty) return NoData // F2 guard
    // F1 threads through EVERY section: the reference applies -f inside
    // getColumnFamily (ColumnFamilyBackend.java:80-89), so the top-Ns and
    // the sstable section reflect the filter exactly as the distribution does.
    concurrently(
      () => section("Partition size distribution",
        if (sstableFilter.isEmpty) PStats.sizeDistribution(spark, dir)
        else PStats.filteredSizeDistribution(spark, dir, sstableFilter)),
      () => section(s"Largest partitions (top $topN)",
        PStats.topBySize(spark, dir, topN, sstableFilter)),
      () => section(s"Partitions in most sstables (top $topN)",
        PStats.topByTableCount(spark, dir, topN, sstableFilter)),
      () => section("SSTables",
        PStats.sstableSection(spark, dir, sstableFilter))
    ).mkString("\n")
  }

  /** `cfstats` (ColumnFamilyStatisticsCollector.java): the 9-section
    * cell-level report. gcBeforeS = the table's `now − gc_grace_seconds`
    * cutoff (ColumnFamilyBackend.java:149) for the droppable counts. */
  def cfstats(spark: SparkSession, dir: String, topN: Int = 10,
      sstableFilter: Seq[String] = Nil,
      gcBeforeS: Long = Fixtures.GcBeforeS): String = {
    val f = sstableFilter
    if (filtered(Fixtures.liPscan(spark, dir), f).isEmpty)
      return NoData // F2 guard
    concurrently(
      () => section("Totals", CfStats.totals(spark, dir, f, gcBeforeS)),
      () => section("Rows per partition",
        CfStats.rowsDistribution(spark, dir, f)),
      () => section("Cells per partition",
        CfStats.cellsDistribution(spark, dir, f)),
      () => section("Tombstones per partition (with tombstones)",
        CfStats.tombstonesDistribution(spark, dir, f)),
      () => section(s"Widest partitions (top $topN)",
        CfStats.topWide(spark, dir, topN, f)),
      () => section(s"Most tombstones (top $topN)",
        CfStats.topTombstones(spark, dir, topN, f, gcBeforeS)),
      () => section(s"Most deleted rows (top $topN)",
        CfStats.topDeletedRows(spark, dir, topN, f)),
      () => section("TTL histogram", CfStats.ttlHistogram(spark, dir, f)
        .withColumn("ttl", udf(Formatters.formatTtl _).apply(col("ttl_s")))
        .select("ttl", "cell_count")),
      () => section("SSTables",
        CfStats.sstableStats(spark, dir, f, gcBeforeS))
    ).mkString("\n")
  }

  /** `purge` (PurgeStatisticsCollector.java): reclaimable top-N + totals.
    * `-f` (F1, parsed at PurgeStatisticsCollector.java:44-49) restricts the
    * merged scan itself, so both sections reflect it; gcBeforeS drives the
    * purge predicate (PurgeStatisticBackend.java:47). */
  def purge(spark: SparkSession, dir: String, topN: Int = 10,
      sstableFilter: Seq[String] = Nil,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    (section(s"Most reclaimable partitions (top $topN)",
      Purge.top(spark, dir, topN, sstableFilter, gcBeforeS)) +:
      concurrently(() => section("Totals",
        Purge.totals(spark, dir, sstableFilter, gcBeforeS)))
    ).mkString("\n")

  /** Methods the `dedup` extension command dispatches to. */
  val DedupMethods =
    Set("exact", "ngram", "minhash", "simhash", "embedding", "clusters")

  /** `dedup <method>` — the training-data dedup operators as an operator
    * CLI surface (extension beyond the reference's five commands, same
    * report style). Sorted-output methods print their first `topN` rows. */
  def dedup(spark: SparkSession, dir: String, method: String,
      topN: Int = 10): String = {
    val df = method match {
      case "exact" => Dedup.exact(spark, dir)
      case "ngram" => Dedup.ngramJaccard(spark, dir)
      case "minhash" => Dedup.minhashLsh(spark, dir)
      case "simhash" => Dedup.simhash(Dedup.corpus(spark, dir))
      case "embedding" => Dedup.embeddingNearDup(spark, dir)
      case "clusters" => Dedup.dupClusters(spark, dir)
      case m => throw new IllegalArgumentException(s"unknown dedup method $m")
    }
    section(s"Dedup ($method, top $topN)", df.limit(topN))
  }

  /** `pack` — sequence-packing rollup (one row per source). */
  def pack(spark: SparkSession, dir: String, seqLen: Int = 2048): String =
    section(s"Sequence packing (seq_len $seqLen)",
      TextStats.packSequences(spark, dir, seqLen))

  /** `contaminate` — benchmark-contamination report, worst offenders
    * first. */
  def contaminate(spark: SparkSession, dir: String, topN: Int = 10): String =
    section(s"Benchmark contamination (top $topN)",
      TextStats.contamination(spark, dir)
        .orderBy(col("contamination_x1000").desc, col("doc_id"))
        .limit(topN))

  /** `verify` — sstable integrity over the real-format file set: bloom
    * membership per sstable (found must equal partitions), Digest.crc32
    * recomputation across both storage variants, and Summary.db
    * cross-component consistency. */
  def verify(spark: SparkSession, dir: String): String =
    section("Bloom filter membership (Filter.db)",
      graft.ops.Integrity.bloomMembership(spark, dir)) + "\n" +
      section("Data.db digest verification (Digest.crc32)",
        graft.ops.Integrity.digestVerify(spark, dir)) + "\n" +
      section("Partition-index summary (Summary.db)",
        graft.ops.Integrity.summaryRoundtrip(spark, dir)) + "\n" +
      section("Promoted row index (Index.db)",
        graft.ops.Integrity.rowIndex(spark, dir))

  /** `lookup <ks> <cf> <key>` — bti point lookup: walk each sstable's
    * Partitions.db trie for the partition key and print the resolved
    * Data.db position (or `~entryOffset` Rows.db references resolved to
    * the partition's data start). The operator-facing surface of the q102
    * walk — the reference gets this capability from sstabledump-style
    * tooling in its cassandra-all dependency. Driver-side file walk by
    * design: a point lookup touches O(log n) trie nodes per sstable, not
    * a Spark job's worth of data. */
  def lookup(spark: SparkSession, dir: String, key: Long): String = {
    import graft.sources.bti.{BtiFixture, BtiRowIndexFixture, BtiRowsFormat, BtiTrieFormat}
    val kb = java.nio.ByteBuffer.allocate(8).putLong(key).array()
    def walk(path: String, resolveRows: Boolean): Seq[Seq[String]] = {
      val root = new java.io.File(path)
      root.listFiles().filter(_.getName.endsWith(BtiTrieFormat.Suffix))
        .sortBy(_.getName).toSeq.map { f =>
          val sst = f.getName.stripSuffix(BtiTrieFormat.Suffix)
          BtiTrieFormat.lookup(
              java.nio.file.Files.readAllBytes(f.toPath), kb) match {
            case Some(pos) if pos >= 0 =>
              Seq(sst, "yes", pos.toString, "direct")
            case Some(ref) if resolveRows =>
              val rows = java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get(path,
                  sst + BtiRowsFormat.Suffix))
              val e = BtiRowsFormat.readEntry(rows, ~ref)
              Seq(sst, "yes", e.dataPos.toString,
                s"row-indexed (${e.blockCount} blocks)")
            case Some(ref) => Seq(sst, "yes", (~ref).toString, "~ref")
            case None => Seq(sst, "no", "-", "-")
          }
        }
    }
    val b = new TableBuilder().setHeader("SSTable", "Found", "Data.db pos",
      "Index form")
    walk(BtiFixture.ensureFiles(spark, dir), resolveRows = false)
      .foreach(r => b.addRow(r: _*))
    walk(BtiRowIndexFixture.ensureFiles(spark, dir), resolveRows = true)
      .zipWithIndex.foreach { case (r, _) =>
        b.addRow((r.head + " (rows)") +: r.tail: _*)
      }
    s"bti point lookup: key=$key\n$b"
  }

  /** `get` — the big-format point-read (bloom → summary → index →
    * single-partition decode) for one key across every sstable of the
    * compressed real-format set; driver-side, no scan job. */
  def get(spark: SparkSession, dir: String, key: Long): String = {
    val b = new TableBuilder().setHeader("SSTable", "Outcome", "Events",
      "Value bytes")
    graft.ops.PointGet.getOne(spark, dir, key).foreach {
      case (sst, outcome, events, bytes) =>
        b.addRow(sst, outcome, events.toString, bytes.toString)
    }
    s"point get: key=$key\n$b"
  }

  /** `slice` — clustering-slice read through the promoted row index over
    * the wide-partition set: per sstable, only blocks whose stored
    * clustering bounds overlap [lo, hi] are decoded. */
  def slice(spark: SparkSession, dir: String, key: Long, lo: Long,
      hi: Long): String = {
    val b = new TableBuilder().setHeader("SSTable", "Blocks read",
      "Events in range", "Value bytes")
    graft.ops.SliceGet.sliceOne(spark, dir, key, lo, hi).foreach {
      case (sst, blocks, events, bytes) =>
        b.addRow(sst, blocks.toString, events.toString, bytes.toString)
    }
    s"slice read: key=$key range=[$lo, $hi]\n$b"
  }

  /** `quality` — composite quality-filter verdict, per-source survival. */
  def quality(spark: SparkSession, dir: String): String =
    section("Quality filter survival by source",
      TextStats.qualityFilter(spark, dir))

  /** `canon` — canonical-document selection per dup cluster, biggest
    * savings first. */
  def canon(spark: SparkSession, dir: String, topN: Int = 10): String =
    section(s"Canonical documents (top $topN by dropped tokens)",
      Dedup.canonicalDocs(spark, dir)
        .orderBy(col("dropped_tokens").desc, col("cluster_rep"))
        .limit(topN))

  /** `select` — deterministic token-budget selection per source. */
  def select(spark: SparkSession, dir: String, budgetTokens: Long): String =
    section(s"Token-budget selection (budget $budgetTokens)",
      TextStats.budgetSelect(spark, dir, budgetTokens))

  /** `classify` — hashed linear quality-classifier survival by
    * (lang, source). */
  def classify(spark: SparkSession, dir: String): String =
    section("Classifier quality survival by (lang, source)",
      TextStats.classifierQuality(spark, dir))

  /** `ingest` — incremental dedup of the incoming batch against the base
    * corpus. */
  def ingest(spark: SparkSession, dir: String): String =
    section("Incremental dedup (incoming vs base) by source",
      Dedup.incrementalDedup(spark, dir))

  /** `scrub` — PII scan rollup (emails/IPs/phones + redaction budget) per
    * source. */
  def scrub(spark: SparkSession, dir: String): String =
    section("PII scan by source",
      graft.ops.Cleanse.piiScan(spark, dir))

  /** `chrome` — structural-boilerplate (page chrome) removal report per
    * source. */
  def chrome(spark: SparkSession, dir: String): String =
    section("Boilerplate line removal by source",
      graft.ops.Cleanse.boilerplate(spark, dir))

  /** `bpe` — BPE tokenizer-training trace (one row per merge step). */
  def bpe(spark: SparkSession, dir: String, steps: Int = 3): String =
    section(s"BPE training trace ($steps merges)",
      TextStats.bpeTrain(spark, dir, steps))

  /** `lm` — bigram-LM surprisal scoring rollup per source. */
  def lm(spark: SparkSession, dir: String): String =
    section("LM surprisal scoring by source",
      TextStats.lmScore(spark, dir))

  /** `agree` — drop-rule agreement matrix (which gates are redundant). */
  def agree(spark: SparkSession, dir: String): String =
    section("Filter agreement matrix",
      TextStats.filterAgreement(spark, dir))

  /** `search` — BM25-lite keyword retrieval, top-N per query. */
  def search(spark: SparkSession, dir: String, topN: Int = 10): String =
    section(s"Keyword search (top $topN per query)",
      graft.ops.Search.keywordSearch(spark, dir, topN))

  /** `drift` — base/incoming token-distribution drift per source. */
  def drift(spark: SparkSession, dir: String): String =
    section("Corpus drift (TV x1e6) by source",
      TextStats.driftMonitor(spark, dir))

  /** `tokenize` — trained-BPE application rollup per source. */
  def tokenize(spark: SparkSession, dir: String, steps: Int = 3): String =
    section(s"BPE tokenization ($steps merges) by source",
      TextStats.bpeApply(spark, dir, steps))

  /** `pipeline` — the q145 end-to-end curation funnel per source. */
  def pipeline(spark: SparkSession, dir: String): String =
    section("Curation funnel (quality -> dedup -> decontam -> pack)",
      TextStats.fullPipeline(spark, dir))

  /** `compact` — the q146 STCS what-if per size tier, then the q162 REAL
    * compaction executed end to end (real sstables → LWW merge + purge →
    * real sstables via the DSv2 sink) with its per-output-shard rollup. */
  def compact(spark: SparkSession, dir: String,
      gcBeforeS: Long = graft.sources.Fixtures.GcBeforeS): String =
    section("STCS compaction what-if by size tier",
      graft.ops.Summary.stcsWhatIf(spark, dir)) + "\n" +
      section("Executed compaction (volume-adaptive key%N-sharded real " +
        "sstable outputs)",
        graft.ops.Compaction.compactionRoundtrip(spark, dir, gcBeforeS))

  /** `compact --execute <ks> <cf> [--sidecar-sized] [-g]` — run the REAL
    * compaction (the q162 read → merge → write → read circle) at the
    * given gc cutoff and print the per-output-shard rollup of the
    * sstables it wrote. `--sidecar-sized` sizes the output fan-out from
    * the CompressionInfo.db data_length sum at O(#files) driver cost
    * (the production path) instead of the relational volume model. */
  /** `repair <ks> <cf>` — the anti-entropy cycle (q173 + q174): the
    * per-leaf digest comparison first (layout-independent content
    * hashes across the re-binned set and the compacted output), then
    * the incremental-repair marking rollup (repairedAt stamped into
    * real Statistics.db files, both readers re-checked). */
  def repair(spark: SparkSession, dir: String): String = {
    val digests = graft.ops.AntiEntropy.roundtrip(spark, dir)
      .groupBy(lit("leaves").as("scope"))
      .agg(count(lit(1)).as("leaves"),
        sum(when(col("tiered_matches"), 1L).otherwise(0L))
          .as("tiered_leaves_match"),
        sum(when(col("compacted_matches"), 1L).otherwise(0L))
          .as("compacted_leaves_match"))
    section("Anti-entropy digests (64 key-range leaves; " +
      "layout-independent content hashes)", digests) + "\n" +
      section("Incremental-repair marking (repairedAt stamped into " +
        "Statistics.db; both readers re-checked)",
        graft.ops.Repair.roundtrip(spark, dir))
  }

  /** `blockers <ks> <cf>` — sstableexpiredblockers: which live sstable
    * blocks which fully-expired sstable's drop, from sidecar metadata
    * alone (q178). */
  def blockers(spark: SparkSession, dir: String, gcBeforeS: Long): String =
    section(s"Expired-sstable blockers (gcBefore=${gcBeforeS}s; " +
      "expiry from Statistics.db, overlap from Summary.db ranges)",
      graft.ops.ExpiredBlockers.blockers(spark, dir, gcBeforeS))

  /** `split <ks> <cf>` — sstablesplit: the largest sstable rewritten as
    * size-targeted real sstables, partitions intact (q179). */
  def split(spark: SparkSession, dir: String): String = {
    val (_, vid) = graft.ops.SstableSplit.ensureSplit(spark, dir)
    section(s"Split of $vid (largest by modeled volume) into " +
      s"${graft.ops.SstableSplit.Shards} size-targeted sstables, " +
      "partitions intact",
      graft.ops.SstableSplit.roundtrip(spark, dir))
  }

  /** `repair <ks> <cf> --execute` — the FULL anti-entropy loop run to
    * convergence: diverged replicas, digest diff, differing ranges
    * streamed as real sstables both ways, re-verification (q182). */
  def repairExecute(spark: SparkSession, dir: String): String =
    section("Executed repair (diverge -> detect -> stream -> converge; " +
      "per-leaf pre-repair counts, differing flag, post-repair " +
      "convergence vs the union)",
      graft.ops.RepairStream.roundtrip(spark, dir))

  /** `repair <ks> <cf> --execute --matrix` — the THREE-replica session
    * (q189): per-leaf direction matrix (source = lowest-indexed replica
    * whose merged digest matches the union), one real streamed sstable
    * per direction, all three post-repair re-digests. */
  def repairMatrix(spark: SparkSession, dir: String): String =
    section("Matrix repair, 3 replicas (per-leaf source selection; " +
      "src=-1 means the replica already holds the leaf; post-repair " +
      "convergence vs the union)",
      graft.ops.RepairMatrix.roundtrip(spark, dir))

  /** `repair <ks> <cf> --execute --matrix --mark` — the 3-replica
    * session's closing act (q192): every converged replica marked,
    * zero incremental reads remain anywhere. */
  def repairMatrixMark(spark: SparkSession, dir: String): String =
    section("Matrix repair mark cycle (all 3 converged replicas " +
      "stamped repairedAt; the incremental digest reads nothing)",
      graft.ops.RepairMatrix.markCycle(spark, dir))

  /** `repair <ks> <cf> --execute --mark` — the session's closing act:
    * converged replica marked repairedAt; the next incremental digest
    * reads nothing (q184). */
  def repairMarkCycle(spark: SparkSession, dir: String): String =
    section("Repair mark cycle (converged replica stamped repairedAt; " +
      "the next incremental digest has nothing left to read)",
      graft.ops.RepairStream.markCycle(spark, dir))

  /** `levelreset <ks> <cf>` — sstablelevelreset: every Statistics.db
    * level dropped to 0, data untouched (q180). */
  def levelReset(spark: SparkSession, dir: String): String =
    section("Level reset (metadata-only Statistics.db rewrite; " +
      "per-level counts before/after, events unchanged)",
      graft.ops.LevelReset.roundtrip(spark, dir))

  /** `relevel <ks> <cf>` — sstableofflinerelevel (q204): first-fit
    * runs off the flat state's sidecars, volume-ranked levels, the
    * metadata-only rewrite re-read and invariant-checked. */
  def relevel(spark: SparkSession, dir: String): String =
    section("Offline relevel (first-fit non-overlapping runs, fullest " +
      "run deepest; levels re-read from the rewritten Statistics.db, " +
      "within-level overlaps re-checked)",
      graft.ops.OfflineRelevel.roundtrip(spark, dir))

  /** `salvage <ks> <cf>` — sstablescrub (q201): Digest.crc32 verdict
    * per file, per-partition isolated re-read off the Index.db
    * boundaries (decode failure or key cross-check mismatch → skip),
    * survivors rewritten as real sstables and re-counted. */
  def salvage(spark: SparkSession, dir: String): String =
    section("Scrub (per-partition isolated salvage; digest verdict on " +
      "the input file, skipped partitions, salvaged counts off the " +
      "rewritten sstables)",
      graft.ops.Scrub.roundtrip(spark, dir))

  /** `upgrade <ks> <cf>` — sstableupgrade: the 'nb' -> 'oa' big-format
    * version rewrite (q200): components carried, the legacy min/max
    * clustering lists re-encoded as the covered slice, the
    * version-gated tail filled from each sstable's own Summary.db and
    * token span, Data.db byte-untouched and the upgraded set
    * event-identical through the production scan. */
  def upgrade(spark: SparkSession, dir: String): String =
    section("Upgrade 'nb' -> 'oa' (components carried, covered slice " +
      "from legacy min/max, tail from Summary.db + token span; data " +
      "byte-identical, scans event-identical)",
      graft.ops.SstableUpgrade.roundtrip(spark, dir))

  /** `repair <ks> <cf> --ranges` — the ranges a repair would STREAM:
    * one row per token-ring leaf whose content digest differs between
    * the base set and the executed compaction's output, with the
    * [token_lo, token_hi] bounds (q176). */
  def repairRanges(spark: SparkSession, dir: String): String =
    section("Ranges to stream (differing token-ring leaves, " +
      "64 × 2^54-wide; base vs compacted)",
      graft.ops.AntiEntropy.rangesToStream(spark, dir))

  /** `repair <ks> <cf> --incremental` — the incremental digest: each
    * set's UNREPAIRED half only, repaired sstables pruned at planning
    * time from their own Statistics.db stamps (q177). */
  def repairIncremental(spark: SparkSession, dir: String): String =
    section("Incremental digest (repaired sstables skipped at " +
      "planning time from their own repairedAt stamps)",
      graft.ops.AntiEntropy.incrementalRoundtrip(spark, dir))

  /** `compact --execute <ks> <cf> --leveled --again [-g]` — the SECOND
    * leveled round (q175): round-1 outputs re-ingested as L1 partners of
    * fresh L0 flushes, purely from their own Statistics.db level
    * stamps. */
  def leveledReingestExecute(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    section(s"Executed LEVELED re-ingestion (gcBefore=${gcBeforeS}s, " +
      "round-1 outputs as L1 partners of fresh L0)",
      graft.ops.LeveledCompaction.roundtrip2(spark, dir, gcBeforeS))

  /** `compact --leveled` (read-only) — the LCS WHAT-IF planner (q185):
    * per-level volume vs the geometric budget ladder over the
    * multi-level state, naming the next victim. */
  def lcsWhatIf(spark: SparkSession, dir: String): String =
    section("LCS what-if (per-level modeled volume vs the geometric " +
      s"budget ladder, base=${graft.ops.LeveledPromotion.BaseBudgetBytes}" +
      " B; next victim by the promotion's own selection rule)",
      graft.ops.LeveledPromotion.whatIf(spark, dir))

  /** `compact --execute <ks> <cf> --leveled --promote [-g]` — the
    * MULTI-LEVEL chain (q183): seed L2, fresh flush, the cross-level
    * tombstone retention at R2, the bottom-level purge at P2; final
    * level-stamped state. */
  def leveledPromoteExecute(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    section(s"Executed MULTI-LEVEL promotion (gcBefore=${gcBeforeS}s; " +
      "P1 seeds L2, flush re-enters, R2 retains droppable tombstones " +
      "via the level below, P2 purges them at the bottom)",
      graft.ops.LeveledPromotion.roundtrip(spark, dir, gcBeforeS))

  /** `compact --execute <ks> <cf> --minor [-g]` — the size-tiered MINOR
    * compaction (q171): tier by modeled size, compact only tiers with
    * enough members, pass the rest through, purge conservatively. One
    * rollup row per compacted tier / passthrough sstable. */
  def minorCompactExecute(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    section(s"Executed MINOR compaction (gcBefore=${gcBeforeS}s, " +
      s"size-tiered selection, min_threshold=" +
      s"${graft.ops.MinorCompaction.MinThreshold}, conservative purge)",
      graft.ops.MinorCompaction.roundtrip(spark, dir, gcBeforeS))

  /** `compact --execute <ks> <cf> --leveled [-g]` — the leveled
    * compaction (q172): L0 + overlapping L1 partners merged, survivors
    * re-partitioned by the replaced ranges, disjoint L1 passthrough,
    * purge unconditional by range-disjointness. */
  def leveledCompactExecute(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    section(s"Executed LEVELED compaction (gcBefore=${gcBeforeS}s, " +
      "L0 + overlapping L1 partners, range-repartitioned outputs)",
      graft.ops.LeveledCompaction.roundtrip(spark, dir, gcBeforeS))

  /** `compact --execute <ks> <cf> --twcs [-g]` — the time-window
    * compaction (q188): window assignment from max timestamps, the
    * unblocked fully-expired sstable dropped whole, the blocked one
    * surviving, the ≥2-member window merged, singles untouched. */
  def twcsCompactExecute(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    section(s"Executed TWCS compaction (gcBefore=${gcBeforeS}s, " +
      s"window=${graft.ops.TwcsCompaction.WindowDays} write-days, " +
      "expired drop gated by blockers)",
      graft.ops.TwcsCompaction.roundtrip(spark, dir, gcBeforeS))

  /** `compact --twcs [-g]` — the read-only TWCS what-if (q190): the
    * decision table the executed cycle would act on. */
  def twcsWhatIf(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    section(s"TWCS what-if (gcBefore=${gcBeforeS}s, " +
      s"window=${graft.ops.TwcsCompaction.WindowDays} write-days; " +
      "per-sstable window, expiry, blockers, next action)",
      graft.ops.TwcsCompaction.whatIf(spark, dir, gcBeforeS))

  /** `downgrade <ks> <cf>` — sstabledowngrade (q210): rewrite the
    * upgraded 'oa' set back to 'nb'; the full cycle reproduces the
    * original files bit-for-bit. */
  def downgrade(spark: SparkSession, dir: String): String =
    section("Downgrade 'oa' -> 'nb' (slice blobs back to the legacy " +
      "min/max lists, versioned tail dropped; full-cycle roundtrip " +
      "byte-exact)",
      graft.ops.SstableDowngrade.roundtrip(spark, dir))

  /** `decommission <ks> <cf>` — nodetool decommission (q217): the
    * leaving node streams its ranges to the new replicas; the shrunk
    * ring restores RF=2. */
  def decommission(spark: SparkSession, dir: String): String =
    section("Decommission node 3: each held quarter streams to its new " +
      "replica from the leaving node's own file; the 3-node ring " +
      "restores RF=2 (node 1 untouched)",
      graft.ops.Decommission.roundtrip(spark, dir))

  /** `removenode <ks> <cf>` — nodetool removenode (q218): the dead
    * node's ranges re-replicate survivor→survivor; the shrunk ring
    * restores RF=2 without the dead node's participation. */
  def removenode(spark: SparkSession, dir: String): String =
    section("Remove dead node 3: each under-replicated quarter streams " +
      "from its surviving replica to its new holder (survivor-to-" +
      "survivor; the dead node's file is never opened); RF=2 restored",
      graft.ops.RemoveNode.roundtrip(spark, dir))

  /** `move <ks> <cf>` — nodetool move (q219): node 1's token shifts
    * one eighth; gained ranges stream in, lost ranges are cleaned
    * away locally. */
  def move(spark: SparkSession, dir: String): String =
    section("Move node 1 one eighth clockwise: gained eighths stream " +
      "from the minimal pre-move replica, lost eighths rewrite away " +
      "locally; the reshaped ring keeps RF=2 everywhere",
      graft.ops.Move.roundtrip(spark, dir))

  /** `vnodes <ks> <cf>` — the vnode-granularity topology family
    * (q236–q238): the 4×4-token ring's pending-ranges calculus and the
    * executed load + decommission verified off real files. */
  def vnodes(spark: SparkSession, dir: String): String =
    section("Vnode ring (4 nodes x 4 tokens, interleaved): per-range " +
      "full-ring vs survivor-ring replicas and the gainer when node 3 " +
      "departs (-1 = untouched)",
      graft.ops.VnodeRing.pendingReport(spark)) +
      section("Executed vnode decommission: node 3's 9 scattered ranges " +
        "stream to gainers on all three survivors; every view " +
        "digest-verified at RF=2",
        graft.ops.VnodeRing.decommissionRoundtrip(spark, dir)) +
      section("Vnode bootstrap (range SPLITTING): node 4 joins with 4 " +
        "mid-range tokens; before/after replicas, pending transfers " +
        "and cleanup debt per half-range",
        graft.ops.VnodeBootstrap.splitReport(spark)) +
      section("Zero-copy coverage plan (round 18): per range-sliced " +
        "source file, occupied vs requested half-ranges off the " +
        "Summary.db sidecars — fully-requested files link whole, " +
        "half-requested rewrite, untouched skip",
        graft.ops.VnodeBootstrap.zeroCopyPlanReport(spark, dir)) +
      section("Executed zero-copy bootstrap: per pending half-range, " +
        "the transport its bytes took (linked = whole hard-linked " +
        "sstable, zero rows touched); digests transport-blind",
        graft.ops.VnodeBootstrap.zeroCopyRoundtrip(spark, dir)) +
      section("Coverage-confirm audit (round 19): per sliced file, the " +
        "Summary.db sample-grid occupancy vs the Index.db-confirmed " +
        "occupancy — linked decisions only stand where the grid is " +
        "confirmed complete",
        graft.ops.VnodeBootstrap.coverageConfirmReport(spark, dir))

  /** `summaryredist <ks> <cf>` — index-summary redistribution (q246):
    * Cassandra's memory-pressure downsampling executed on the real
    * files; probe checksums level-invariant. */
  def summaryredist(spark: SparkSession, dir: String): String =
    section("Index-summary redistribution: per level, resident summary " +
      "entries (only Summary.db rewrites; every other component " +
      "hard-links) and the point-read checksums — identical at every " +
      "level, only the bounded index-scan window grows",
      graft.ops.SummaryRedistribution.report(spark, dir))

  /** `commitlog <ks> <cf>` — the WAL segment report (q222) plus the
    * recovery summary (q221): segments, sections, byte accounting,
    * CRC verification, and the reconciled flush state. */
  def commitlog(spark: SparkSession, dir: String): String =
    section("Commitlog segments: append-ordered mutations, div-rule " +
      "segment/section cuts, sync-marker byte accounting, CRCs " +
      "verified fail-closed",
      graft.ops.CommitLog.segments(spark, dir)) +
      section("Recovery: LWW memtable reconciliation (tombstones " +
        "kept — only compaction purges), flushed through the real " +
        "sstable sink and re-read",
        graft.ops.CommitLog.replay(spark, dir))

  /** `hints <ks> <cf>` — hinted handoff (q225): the down node's
    * outage-window writes stored per coordinator and replayed on
    * recovery; retained + hinted reassemble the corpus. */
  def hints(spark: SparkSession, dir: String): String =
    section("Hinted handoff: node 3's outage-window writes stored as " +
      "per-coordinator hint files (commitlog framing), replayed through " +
      "the real sink on recovery — each view verified, quarters " +
      "converged",
      graft.ops.Hints.roundtrip(spark, dir))

  /** `rebuild <ks> <cf>` — nodetool rebuild (q226): a new DC joins at
    * NTS RF=1 and streams each owned quarter from its DC1 primary. */
  def rebuild(spark: SparkSession, dir: String): String =
    section("Rebuild DC2 (NTS RF=1): each new node streams its quarters " +
      "from the quarter's DC1 primary; every received view digest-equal " +
      "to the corpus, each quarter held once in the new DC",
      graft.ops.Rebuild.roundtrip(spark, dir))

  /** `readrepair <ks> <cf>` — blocking read repair (q227): per-read
    * digest mismatch, per-replica diff mutation, unread partitions
    * stay divergent. */
  def readrepair(spark: SparkSession, dir: String): String =
    section("Blocking read repair: the quorum read's digest mismatches " +
      "stream replica B exactly its missing diff; the read cohort " +
      "converges, unread partitions stay divergent (per-read, not " +
      "anti-entropy)",
      graft.ops.ReadRepair.roundtrip(spark, dir))

  /** `batchlog <ks> <cf>` — the atomic-batch guarantee (q228):
    * interrupted batches' surviving log files replay to completion. */
  def batchlog(spark: SparkSession, dir: String): String =
    section("Batchlog replay: interrupted multi-partition batches " +
      "survive as log files and replay to completion — reconciled " +
      "state proves eventual atomicity, idempotent over the partial " +
      "prefix",
      graft.ops.Batchlog.roundtrip(spark, dir))

  /** `merkle <ks> <cf>` — Merkle descent (q229): log-cost mismatch
    * localization; matching subtrees stop unvisited. */
  def merkle(spark: SparkSession, dir: String): String =
    section("Merkle descent: the single-leaf divergence localized in " +
      "2*depth+1 node comparisons of 127 — matching subtrees verified " +
      "unvisited, the mismatch chain ends in one stream target",
      graft.ops.MerkleRepair.roundtrip(spark, dir))

  /** `mview <ks> <cf>` — materialized view (q230): covered reads off
    * the re-keyed view, write-path delta maintenance. */
  def mview(spark: SparkSession, dir: String): String =
    section("Materialized view: live cells re-keyed by value into real " +
      "view sstables (build + write-path delta); each probed value is a " +
      "covered point read — view key pushed down, base never scanned",
      graft.ops.MaterializedView.roundtrip(spark, dir))

  /** `snapshot <ks> <cf>` — nodetool snapshot + restore (q231):
    * hard-linked state surviving a compaction. */
  def snapshot(spark: SparkSession, dir: String): String =
    section("Snapshot + restore: every component hard-linked (zero " +
      "bytes copied); after a major compaction replaces the live set, " +
      "the restored snapshot still reproduces the original relation",
      graft.ops.Snapshot.roundtrip(spark, dir))

  /** `cas <ks> <cf>` — lightweight transactions (q232): per-partition
    * serial compare-and-set chains, parallel across partitions. */
  def cas(spark: SparkSession, dir: String): String =
    section("Lightweight transactions: per-partition serial CAS chains " +
      "(the Paxos contract) — each condition judged against the " +
      "register the previous applied write left; parallel across " +
      "partitions",
      graft.ops.CasRegister.roundtrip(spark, dir))

  /** `counters <ks> <cf>` — distributed counters (q234): cumulative
    * shards, the max-clock merge, exactness. */
  def counters(spark: SparkSession, dir: String): String =
    section("Distributed counters: per-(cell, node, sstable) cumulative " +
      "shards merged by max clock — exact totals (no loss, no double " +
      "count) where a naive shard-sum would overcount",
      graft.ops.Counters.roundtrip(spark, dir))

  /** `backup <ks> <cf>` — incremental backups (q235): flush-time
    * links restoring on top of the full snapshot. */
  def backup(spark: SparkSession, dir: String): String =
    section("Incremental backup: newly flushed sstables hard-link into " +
      "backups/ at flush time; restore = full snapshot + incrementals, " +
      "reproducing base corpus + recovery state with no second copy",
      graft.ops.IncrementalBackup.roundtrip(spark, dir))

  /** `garbagecollect <ks> <cf> [-g]` — nodetool garbagecollect (q216):
    * single-sstable compaction, per-file reclaim accounting. */
  def garbagecollect(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    section(s"Garbage collect (gcBefore=${gcBeforeS}s): every sstable " +
      "rewrites alone — within-file shadowing reclaimed, droppable " +
      "winners purged only without an outside holder",
      graft.ops.GarbageCollect.roundtrip(spark, dir, gcBeforeS))

  /** `partitions <ks> <cf>` — sstablepartitions (q214): per sstable,
    * the partitions crossing the size / cell / tombstone thresholds. */
  def partitions(spark: SparkSession, dir: String): String =
    section("Large partitions (size >= " +
      s"${graft.ops.PStats.PartitionSizeThreshold}, cells >= " +
      s"${graft.ops.PStats.PartitionCellThreshold}, tombstones >= " +
      s"${graft.ops.PStats.PartitionTombstoneThreshold})",
      graft.ops.PStats.largePartitions(spark, dir))

  /** `cleanup <ks> <cf>` — nodetool cleanup (q212): after the ring
    * doubles, each old node rewrites its sstables without the eighths
    * it no longer replicates. */
  def cleanup(spark: SparkSession, dir: String): String =
    section("Cleanup after ring doubling (4 -> 8 nodes): each old node " +
      "keeps its primary eighth + its new predecessor's replica " +
      "eighth; retained views partition the ring",
      graft.ops.Cleanup.roundtrip(spark, dir))

  /** `bootstrap <ks> <cf>` — node bootstrap (q213): the new nodes
    * stream their ranges; cleaned + bootstrapped views converge to a
    * full RF=2 ring. */
  def bootstrap(spark: SparkSession, dir: String): String =
    section("Bootstrap after ring doubling: each new node streams its " +
      "two eighths from its predecessor; cleaned old + bootstrapped " +
      "new views form a full RF=2 ring",
      graft.ops.Bootstrap.roundtrip(spark, dir))

  /** `repairedset <ks> <cf>` — sstablerepairedset --is-unrepaired
    * (q209): withdraw the repairedAt stamps from half the fully-marked
    * node; the incremental digest re-opens exactly the reset files. */
  def repairedset(spark: SparkSession, dir: String): String =
    section("Repairedset reset (--is-unrepaired on gens " +
      graft.ops.Repair.ResetGens.toSeq.sorted.mkString(",") +
      "): the fully-marked node plans zero incremental reads; the " +
      "reset re-opens exactly the flipped files",
      graft.ops.Repair.repairedSetRoundtrip(spark, dir))

  /** `load <ks> <cf>` — sstableloader (q207): stream an existing
    * sstable set into a 4-node RF=2 ring; per (node, owned quarter)
    * the plan fan-in, received events/digest off the real streamed
    * file, corpus equality, holder count. */
  def load(spark: SparkSession, dir: String): String =
    section(s"Bulk load (sstableloader): ${graft.ops.BulkLoad.Nodes} " +
      s"nodes x RF=${graft.ops.BulkLoad.Rf}, ring-quarter ownership, " +
      "one real streamed sstable per node",
      graft.ops.BulkLoad.roundtrip(spark, dir))

  /** `compact --execute <ks> <cf> --ucs [-g]` — the unified compaction
    * strategy (q206): density levels, the tiered/leveled regime split,
    * shard-aligned real outputs. */
  def ucsCompactExecute(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    section(s"Executed UCS compaction (gcBefore=${gcBeforeS}s, fan " +
      s"factor ${graft.ops.UnifiedCompaction.FanFactor}: T4 tiered at " +
      "level 0, L4 overlap-islands above; outputs split at the 4 fixed " +
      "ring-quarter shards)",
      graft.ops.UnifiedCompaction.roundtrip(spark, dir, gcBeforeS))

  /** `compact --execute <ks> <cf> --ucs --again [-g]` — UCS
    * re-ingestion (q211): the compacted state's re-derived decision
    * table — steady state, nothing selects. */
  def ucsReingestExecute(spark: SparkSession, dir: String): String =
    section("UCS re-ingestion (the compacted state re-enters the " +
      "density ladder off its real files — steady state)",
      graft.ops.UnifiedCompaction.reingestTable(spark, dir))

  /** `compact --ucs` — the read-only UCS what-if: per sstable its
    * modeled bytes, covered token span, density (bytes·2^16 /
    * span_units), ladder ratio, level and next action. */
  def ucsWhatIf(spark: SparkSession, dir: String): String =
    section("UCS what-if (density = modeled bytes normalized by " +
      "covered token span; level = floor(log4(density/m)), m adaptive; " +
      "T4 at level 0, L4 overlap-islands above)",
      graft.ops.UnifiedCompaction.whatIf(spark, dir))

  /** `compact --plan [-g]` — the UNIFIED planner (round 16, VERDICT
    * r15 ask #8): one verb over every sstable state the engine
    * manages; each state's strategy is DETECTED from its own sidecars
    * ([[graft.ops.Compaction.strategyOf]] — levels stamped ⇒ LCS,
    * whole-file expiry present ⇒ TWCS, else STCS) and its matching
    * decision table printed — the operator never names the strategy,
    * the files do. */
  def compactPlan(spark: SparkSession, dir: String,
      gcBeforeS: Long): String = {
    val states = Seq(
      ("tiered flush set", graft.sources.datadb.CassandraDataFixture
        .ensureTieredFiles(spark, dir)),
      ("leveled final state", graft.ops.LeveledPromotion
        .ensureChain(spark, dir, gcBeforeS).finalDir),
      ("time-banded set", graft.sources.datadb.CassandraDataFixture
        .ensureTwcsExecFiles(spark, dir)))
    states.map { case (name, path) =>
      val strategy = graft.ops.Compaction.strategyOf(path, gcBeforeS)
      val table = strategy match {
        case "LCS" => graft.ops.LeveledPromotion.whatIf(spark, dir,
          gcBeforeS)
        case "TWCS" => graft.ops.TwcsCompaction.whatIf(spark, dir,
          gcBeforeS)
        case _ =>
          import spark.implicits._
          graft.ops.MinorCompaction.tierTable(spark, dir)
            .toDF("sstable_id", "tier", "selected")
      }
      section(s"Plan for $name: detected strategy $strategy", table)
    }.mkString("\n")
  }

  /** `compact --execute <ks> <cf> --twcs --again [-g]` — TWCS
    * re-ingestion (q191): the compacted state's decision table —
    * steady state, nothing left to compact. */
  def twcsReingestExecute(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    section(s"TWCS re-ingestion (gcBefore=${gcBeforeS}s; the compacted " +
      "state re-enters the decision table — steady state)",
      graft.ops.TwcsCompaction.reingestTable(spark, dir, gcBeforeS))

  def compactExecute(spark: SparkSession, dir: String,
      gcBeforeS: Long, sidecarSized: Boolean = false): String =
    section(s"Executed compaction (gcBefore=${gcBeforeS}s, " +
      (if (sidecarSized) "sidecar-sized " else "volume-adaptive ") +
      "key%N-sharded real sstable outputs)",
      graft.ops.Compaction.compactionRoundtrip(spark, dir, gcBeforeS,
        sidecarSized))
}
