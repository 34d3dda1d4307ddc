package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.finance.Store
import graft.operators.AsOf
import graft.textops.{Dedup, Packing, Redact, Similarity, TextStats}

/** Scale-validation harness: multiplies the documents/embeddings corpora
  * Nx with deterministic perturbations and drives the dedup/similarity/
  * text-stats family through the result, printing rows and wall-clock per
  * operator. This is the empirical check behind the 100 TB posture claims:
  * the multiplied corpus is intentionally ADVERSARIAL for bucketed
  * operators — every document gains N-1 near-duplicates, so LSH buckets,
  * shingle posting lists and SimHash chunks all grow N-fold, exercising
  * the `maxBucket` caps and the id-only shuffle paths under real volume.
  *
  * Usage: SPARK_GRAFT_SCALE=20 runMain graft.ScaleSmoke
  * (20x sf0.1 = 100k documents / 100k embeddings; all operators must
  * complete without OOM and roughly linearly vs the 1x timings.)
  */
object ScaleSmoke {

  def scaledDocs(spark: SparkSession, sfDir: String, mult: Int): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val copies = spark.range(mult.toLong).toDF("copy")
    // copy 0 is the original; others append a small deterministic suffix →
    // near-duplicates (high but not perfect Jaccard), the worst case for
    // candidate-pair fan-out
    base.crossJoin(broadcast(copies))
      .select(
        (col("doc_id") * mult + col("copy")).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v"), col("copy"))).as("text"))
  }

  /** The DISJOINT-copy regime: every copy's tokens carry a per-copy
    * suffix (`token` → `tokenc<copy>`), so cross-copy shingle/token sets
    * are disjoint for ANY multiplier — no cyclic transform, no cap
    * (unlike a Caesar shift's mod-26 wraparound). Within-copy structure
    * is preserved exactly (the suffix is injective per copy, so
    * within-copy Jaccard is unchanged), which means near-dup CLIQUE
    * SIZES stay constant as the corpus multiplies — the regime a real
    * growing web corpus exhibits, where [[scaledDocs]]' suffix-append
    * copies deliberately model the opposite (every clique grows with the
    * multiplier; pair volume quadratic). The 100× lane runs BOTH:
    * `jaccard_prefix_pairs` on the adversarial corpus (output-linear
    * per-pair cost under clique growth) and `jaccard_prefix_disjoint`
    * here (wall tracking corpus size under constant cliques).
    */
  def scaledDocsDisjoint(spark: SparkSession, sfDir: String,
      mult: Int): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val copies = spark.range(mult.toLong).toDF("copy")
    base.crossJoin(broadcast(copies))
      .select(
        (col("doc_id") * mult + col("copy")).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1c"), col("copy")))).as("text"))
  }

  def scaledEmbeddings(spark: SparkSession, sfDir: String,
      mult: Int): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val copies = spark.range(mult.toLong).toDF("copy")
    // jitter one dimension per copy → tight clusters of near-identical
    // vectors (the ANN bucket stress shape)
    base.crossJoin(broadcast(copies))
      .select(
        (col("vec_id") * mult + col("copy")).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + when(i === pmod(col("copy"), lit(64)),
            col("copy").cast("double") / 1000.0).otherwise(0.0))
          .as("embedding"))
  }

  /** One smoke entry's evidence, accumulated for the JSON artifact —
    * VERDICT r5 asked for the 100 TB posture numbers as a driver-
    * inspectable file, not a log line that dies with stdout.
    */
  private case class Entry(name: String, rows: Long, sec: Double,
      droppedGroups: Option[Long] = None, maxGroup: Option[Long] = None,
      nGroups: Option[Long] = None,
      tasks: Option[Int] = None, medianMs: Option[Long] = None,
      maxMs: Option[Long] = None, stragglerRatio: Option[Double] = None,
      audited: Option[Boolean] = None,
      recallVsExact: Option[Double] = None,
      rounds: Option[Int] = None, components: Option[Long] = None,
      filesListed: Option[Int] = None, filesOpened: Option[Int] = None,
      segmentsListed: Option[Int] = None,
      segmentsParsed: Option[Int] = None,
      bloomSkipped: Option[Int] = None)

  private val results =
    scala.collection.mutable.LinkedHashMap.empty[String, Entry]

  private def record(e: Entry): Unit = results(e.name) = e

  /** Entry filter for iterating on ONE bottleneck without paying the whole
    * smoke: SPARK_GRAFT_SCALE_ONLY=jaccard_prefix_pairs,simhash_pairs.
    * Unset → all entries. Filtered runs write their artifact to a
    * `.partial.json` sibling path so they can never clobber a committed
    * full artifact.
    */
  private val onlyEntries: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  private def enabled(name: String): Boolean =
    onlyEntries.forall(_.contains(name))

  /** SPARK_GRAFT_SCALE_REPS=n (default 1): run each timed action n times
    * and record the MINIMUM wall — the round-10→11 measurement lesson:
    * single-shot walls on this shared VM swing 2-4× with host load, JIT
    * warmth and codegen-cache state (the same committed code measured
    * winnowing_fp at 0.55 s / 2.93 s / 6.25 s across three recordings),
    * so a one-rep artifact conflates the operator with the machine.
    * Min-of-reps is the standard steady-state estimator (the first rep
    * absorbs JIT/codegen compilation; the min approximates the
    * contention-free wall).
    */
  private val reps: Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1").toInt)

  /** Fixed-work CPU calibration — shared implementation in
    * [[Calib]] (Bench emits the same fields since r17 so RATIO reports
    * can normalize across host-drift windows). */
  private def calibrate(threads: Int): (Long, Long) =
    Calib.calibrate(threads)

  /** SPARK_GRAFT_SCALE_DEBUG=1 prints the heaviest stages (summed task
    * time) of each timed entry — the "where did the wall go" view the
    * disabled UI would otherwise give.
    */
  private val debugStages = sys.env.get("SPARK_GRAFT_SCALE_DEBUG").contains("1")
  private var debugListener: Option[StageTaskTimes] = None
  private def debugStart(spark: SparkSession): Unit = if (debugStages) {
    val l = new StageTaskTimes
    spark.sparkContext.addSparkListener(l)
    debugListener = Some(l)
  }
  private def debugDump(spark: SparkSession, name: String): Unit =
    debugListener.foreach { l =>
      Thread.sleep(500) // let the async listener bus drain
      val top = l.snapshot.toSeq
        .map { case (sid, ts) => (sid, ts.size, ts.sum) }
        .sortBy(-_._3).take(12)
      val ioMap = l.ioSnapshot
      println(s"[scale]   ${name}_stages (top by summed task ms):")
      top.foreach { case (sid, n, sum) =>
        val (in, sr, sw) = ioMap.getOrElse(sid, (0L, 0L, 0L))
        println(f"[scale]     stage $sid%5d  $n%5d tasks  $sum%8d ms  " +
          f"in=$in%d shufR=$sr%d shufW=$sw%d") }
      spark.sparkContext.removeSparkListener(l)
      debugListener = None
    }

  private def time(name: String, reEval: Boolean = false)
      (df: => DataFrame): Unit = {
    if (!enabled(name)) return
    val spark = SparkSession.active
    debugStart(spark)
    var frame: DataFrame = null
    var n = 0L
    val sec = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      // rep 1 builds the frame INSIDE the timed region (analysis included,
      // as the single-shot harness always measured); later reps re-count
      // the same Dataset — a lazy plan fully re-executes, and attached
      // Observations tolerate only one Dataset. EAGER operators
      // (robustOutliers' driver pipeline) do their work at build time, so
      // they pass reEval = true and rebuild every rep.
      if (frame == null || reEval) frame = df
      n = frame.count()
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"[scale] $name%-28s $n%10d rows  $sec%8.2f s" +
      (if (reps > 1) s"  (min of $reps)" else ""))
    debugDump(spark, name)
    record(Entry(name, n, sec))
  }

  /** [[time]] for operators exposing a Releasable twin: frees the
    * operator's persisted intermediate right after the timed action, so
    * sequential smoke entries don't stack cache entries until the heap
    * gives out — the exact long-session accumulation the release handles
    * exist for (20× corpora leave ~GB-scale shingle caches each).
    */
  private def timeReleasing(name: String)(
      dfr: => (DataFrame, () => Unit)): Unit = {
    if (!enabled(name)) return
    val (df, release) = dfr
    try time(name)(df) finally release()
  }

  /** Like [[time]] but also prints the operator's posting-list drop stats
    * (CollectMetrics): a nonzero `dropped_groups` means the cap fired and
    * recall is bounded, not silent.
    */
  private def timeObserved(name: String, obs: Observation)(
      df: => DataFrame): Unit = {
    if (!enabled(name)) return
    time(name)(df)
    printCaps(name, obs)
  }

  private def printCaps(name: String, obs: Observation): Unit = {
    val m = obs.get
    if (m.isEmpty)
      // CollectMetrics that execute inside a broadcast-exchange subtree
      // (AQE may broadcast an empty candidate side) don't reach the
      // Observation listener — absence of metrics, not absence of caps
      println(s"[scale]   ${name}_caps: metrics unavailable " +
        "(observed node ran inside a broadcast subtree)")
    else {
      println(s"[scale]   ${name}_caps: " +
        s"dropped_groups=${m("dropped_groups")} " +
        s"max_group=${m("max_group")} n_groups=${m("n_groups")}")
      results.get(name).foreach { e =>
        record(e.copy(
          droppedGroups = Option(m("dropped_groups")).map(_.toString.toLong),
          maxGroup = Option(m("max_group")).map(_.toString.toLong),
          nGroups = Option(m("n_groups")).map(_.toString.toLong)))
      }
    }
  }

  // ------------------------------------------------------------ skew audit

  /** Collects per-stage task durations (and, for the debug dump, summed
    * input/shuffle record counts — the cheapest stage fingerprint when
    * the UI is off) while registered. */
  private class StageTaskTimes extends SparkListener {
    private val byStage = scala.collection.mutable
      .Map.empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
    private val io = scala.collection.mutable
      .Map.empty[Int, Array[Long]] // in, shufRead, shufWrite
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null) {
        byStage.getOrElseUpdate(e.stageId,
          scala.collection.mutable.ArrayBuffer.empty) += e.taskInfo.duration
        if (e.taskMetrics != null) {
          val a = io.getOrElseUpdate(e.stageId, Array(0L, 0L, 0L))
          a(0) += e.taskMetrics.inputMetrics.recordsRead
          a(1) += e.taskMetrics.shuffleReadMetrics.recordsRead
          a(2) += e.taskMetrics.shuffleWriteMetrics.recordsWritten
        }
      }
    }
    def total: Int = synchronized(byStage.valuesIterator.map(_.size).sum)
    def snapshot: Map[Int, Seq[Long]] =
      synchronized(byStage.map { case (k, v) => (k, v.toSeq) }.toMap)
    def ioSnapshot: Map[Int, (Long, Long, Long)] =
      synchronized(io.map { case (k, a) => (k, (a(0), a(1), a(2))) }.toMap)
  }

  /** [[time]] plus a straggler audit: runs `df` under a task listener and
    * FAILS (require) if the dominant stage — the one with the largest
    * summed task time, where a skewed key would concentrate — has a task
    * slower than `maxRatio`× its median. The median is floored at 25 ms:
    * below that, task-time ratios measure scheduler jitter, not skew (a
    * real hot-key straggler shows up as seconds against a small median, so
    * the floor cannot mask one).
    *
    * Audit plumbing never fails the smoke (round-5 ADVICE): the multi-task
    * floor scales down with the configured parallelism (a low-core machine
    * or a small SPARK_GRAFT_SKEW_ROWS override legitimately produces small
    * stages), and when no stage reaches it the audit is SKIPPED with a
    * warning — recorded as `audited: false` in the JSON artifact, never
    * silently.
    */
  private def timeSkewAudited(spark: SparkSession, name: String,
      maxRatio: Double = 5.0)(df: => DataFrame): Unit = {
    if (!enabled(name)) return
    val listener = new StageTaskTimes
    spark.sparkContext.addSparkListener(listener)
    try {
      // min-of-reps like [[time]] (frame built once inside rep 1; the
      // audited entries were the last single-shot rows in the artifact
      // and showed the same 2× cold-JIT swings). The listener sees every
      // rep — more task samples for the SAME stages; the straggler ratio
      // still compares within the dominant stage, so re-execution only
      // tightens the audit.
      var frame: DataFrame = null
      var n = 0L
      val sec = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        if (frame == null) frame = df
        n = frame.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[scale] $name%-28s $n%10d rows  $sec%8.2f s" +
        (if (reps > 1) s"  (min of $reps)" else ""))
      // The listener bus is async and its waitUntilEmpty is private[spark]
      // (test-only API) — drain by requiring TWO consecutive quiet 250 ms
      // windows under a hard deadline instead of one (a single window can
      // miss events still queued behind a slow listener).
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var prev = -1
      var quiet = 0
      while (quiet < 2 && System.nanoTime() < deadline) {
        val cur = listener.total
        quiet = if (cur == prev) quiet + 1 else 0
        prev = cur
        Thread.sleep(250)
      }
      val minTasks = math.min(8, spark.sparkContext.defaultParallelism)
      val stages = listener.snapshot.filter(_._2.size >= minTasks)
      if (stages.isEmpty) {
        println(s"[scale]   ${name}_tasks: WARN no stage with >=$minTasks " +
          "tasks — skew audit skipped (stage too small to measure)")
        record(Entry(name, n, sec, audited = Some(false)))
      } else {
        val (sid, ts) = stages.maxBy(_._2.sum)
        val sorted = ts.sorted
        val median = sorted(sorted.size / 2)
        val ratio = sorted.last.toDouble / math.max(median, 25L)
        println(f"[scale]   ${name}_tasks: dominant stage $sid — ${ts.size} " +
          f"tasks, median ${median} ms, max ${sorted.last} ms, " +
          f"max/median(floored) $ratio%.1f")
        record(Entry(name, n, sec, tasks = Some(ts.size),
          medianMs = Some(median), maxMs = Some(sorted.last),
          stragglerRatio = Some(ratio), audited = Some(true)))
        require(ratio <= maxRatio, s"$name: straggler — max/median " +
          f"$ratio%.1f exceeds $maxRatio in stage $sid " +
          s"(median ${median} ms, max ${sorted.last} ms)")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Raw-layout transaction batch where every 10th row repeats ONE natural
    * key verbatim — all 7 dedup-key columns identical, so a single
    * fingerprint carries 10 % of the batch. This is the duplicate-heavy
    * re-import shape that made the previous window-based keep-first dedup
    * straggle (one task sorting 10 % of the batch).
    */
  def skewedTransactions(spark: SparkSession, n: Long, par: Int): DataFrame = {
    val hot = pmod(col("id"), lit(10)) === 0
    spark.range(0, n, 1, par).select(
      lit("giro").as("account"),
      when(hot, to_date(lit("2024-01-15")))
        .otherwise(date_add(to_date(lit("2020-01-01")),
          pmod(col("id"), lit(1460)).cast("int"))).as("book_date"),
      when(hot, to_date(lit("2024-01-16")))
        .otherwise(date_add(to_date(lit("2020-01-02")),
          pmod(col("id"), lit(1460)).cast("int"))).as("valuta_date"),
      when(hot, lit("HOT RECURRING GMBH"))
        .otherwise(concat(lit("party-"), col("id"))).as("party"),
      lit("Lastschrift").as("book_text"),
      when(hot, lit("identical recurring purpose line"))
        .otherwise(concat(lit("purpose-"), col("id"))).as("purpose"),
      when(hot, lit(-42.5))
        .otherwise((pmod(col("id"), lit(100000)).cast("double") - 50000.0)
          / 100.0).as("amount"),
      lit(1000.0).as("balance"),
      lit(null).cast("string").as("transfer_category"),
      lit(null).cast("string").as("category"),
      lit(null).cast("string").as("category_manual"))
  }

  def main(args: Array[String]): Unit = {
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE", "20").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scale-smoke")
      .config("spark.sql.shuffle.partitions", cpus)
      // layered-table front door + SQL functions (analyzer rule
      // injection applies at session construction only)
      .config("spark.sql.extensions",
        "graft.functions.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // default-sized, the generated-class cache evicted the
      // banded-embedding plans mid-smoke and the recompiles made ann/lsh
      // entry walls swing 3-7x run to run (see Codegen)
      .config("spark.sql.codegen.cache.maxEntries", Codegen.cacheMaxEntries)
      // same session geometry as Bench: a 48 GiB single-JVM "executor"
      // broadcasts a 20 MB dimension without blinking, but the stock
      // 10 MB threshold forces the ANN verify joins (40k × 520 B
      // embedding builds) into sort-merge plans whose per-stage sorts
      // dominated the lsh_near_dup entry 8× (measured 63 s vs 8 s
      // isolated) — the smoke should measure the operators, not an
      // unrealistically conservative join threshold
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // SPARK_GRAFT_SCALE_CODEC=zstd swaps the shuffle/spill codec: the
      // 100x lane's heaviest text shuffles outgrow this VM's ~90 GB
      // effective disk under lz4 (jaccard_prefix_pairs died ENOSPC);
      // zstd's 2-3x better text ratio is the documented trade (CPU for
      // disk) a real cluster would configure at this shuffle volume.
      // Artifacts record the codec via the entry log; default stays lz4
      // so 20x numbers remain comparable round-over-round.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_SCALE_CODEC", "lz4"))
      // SPARK_GRAFT_SCALE_GC tightens the ContextCleaner's periodic-GC
      // interval (Spark default 30min): shuffle files are only reclaimed
      // when a GC collects their dependency objects, and with a 40 GiB
      // heap full GCs are rare — at 100x the heavy entries' dead shuffle
      // files outlived the run's disk (jaccard's blockmgr peaked 40 GB,
      // then dropped to 11 GB the moment one GC ran). A 45s interval
      // bounds the dead-file backlog; harmless at 20x.
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_SCALE_GC", "30min"))
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (calibSt, calibMt) = calibrate(cpus.toInt)
    println(s"[scale] calibration: st=${calibSt}ms mt=${calibMt}ms " +
      s"reps=$reps")

    // repartition: the scaled corpus inherits ONE split from the single
    // testdata parquet file, which would serialize every non-shuffle stage
    // (e.g. a verification join against the cached corpus) onto one core —
    // a real 100 TB corpus arrives in thousands of splits, so simulate that
    val docs = scaledDocs(spark, sfDir, mult).repartition(cpus.toInt).persist()
    val embs = scaledEmbeddings(spark, sfDir, mult)
      .repartition(cpus.toInt).persist()
    val nDocs = docs.count()
    println(s"[scale] corpus: $nDocs docs, " +
      s"${embs.count()} embeddings (${mult}x $sfDir)")

    time("exact_dedup")(Dedup.exact(docs))
    timeReleasing("minhash_lsh_pairs")(
      Dedup.minhashLshPairsReleasable(docs, estThreshold = 0.8))
    time("simhash_pairs")(Dedup.simhashPairs(docs, maxDist = 3))
    val prefixObs = Observation("jaccard_prefix_caps")
    timeReleasing("jaccard_prefix_pairs")(
      Dedup.ngramJaccardPairsPrefixReleasable(docs, threshold = 0.9,
        dropStats = Some(prefixObs)))
    if (enabled("jaccard_prefix_pairs"))
      printCaps("jaccard_prefix_pairs", prefixObs)
    // posting-list variant with a deliberately tight cap: on this corpus
    // every shingle group holds ~mult near-identical members, so a cap of
    // mult/2 fires on most groups — values must stay exact regardless
    val cappedObs = Observation("jaccard_capped_caps")
    timeReleasing("jaccard_pairs_capped")(
      Dedup.ngramJaccardPairsReleasable(docs, threshold = 0.9,
        maxPostingList = math.max(2, mult / 2), dropStats = Some(cappedObs)))
    if (enabled("jaccard_pairs_capped"))
      printCaps("jaccard_pairs_capped", cappedObs)
    // Incremental admission at 20×: the standing index holds the mult-1
    // perturbed copies, the batch is the originals — every batch doc has
    // mult-1 near-dups in the index, the adversarial probe fan-out. The
    // build is timed separately (it is the OFFLINE side; admission's
    // per-batch cost is the claim under test).
    if (enabled("minhash_index_build") || enabled("incremental_admit"))
      locally {
        val dir = java.nio.file.Files
          .createTempDirectory("scale-minhash-idx").toString
        val existing = docs.filter(pmod(col("doc_id"), lit(mult)) =!= 0)
        val batch = docs.filter(pmod(col("doc_id"), lit(mult)) === 0)
        val nExisting = existing.count()
        val buildSec = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          Dedup.saveMinhashIndex(existing, dir)
          (System.nanoTime() - t0) / 1e9
        }.min
        println(f"[scale] minhash_index_build         $nExisting%10d rows" +
          f"  $buildSec%8.2f s" + (if (reps > 1) s"  (min of $reps)" else ""))
        if (enabled("minhash_index_build"))
          record(Entry("minhash_index_build", nExisting, buildSec))
        // releasable lane: the admit path persists the batch-signature
        // frame internally — with SPARK_GRAFT_SCALE_REPS>1 the plain API
        // would leak one cache entry per rep
        timeReleasing("incremental_admit")(
          Dedup.minhashLshAdmitReleasable(batch, dir, estThreshold = 0.8))
      }
    // Disjoint-copy regime (GenScaled's discipline, non-cyclic — see
    // scaledDocsDisjoint): clique sizes constant as the corpus grows, so
    // the pair set grows ~linearly with the multiplier, and the wall must
    // track corpus size — the regime the r13 100× jaccard adjudication
    // ASSUMED about real web corpora, now measured instead of argued.
    if (enabled("jaccard_prefix_disjoint")) locally {
      val docsD = scaledDocsDisjoint(spark, sfDir, mult)
        .repartition(cpus.toInt).persist()
      val nD = docsD.count()
      println(s"[scale] disjoint corpus: $nD docs")
      val dObs = Observation("jaccard_disjoint_caps")
      timeReleasing("jaccard_prefix_disjoint")(
        Dedup.ngramJaccardPairsPrefixReleasable(docsD, threshold = 0.9,
          dropStats = Some(dObs)))
      printCaps("jaccard_prefix_disjoint", dObs)
      docsD.unpersist(blocking = false)
      System.gc()
    }
    // jittered copies are ~identical vectors (cos ≈ 0.9999) → they collide
    // even in wide bands. Geometry is the n-aware DEFAULT (autoBandBits:
    // 100k vectors → 9-bit bands → 512 buckets/band, expected density
    // ~256) — the "grow r with log n" rule as code, exercised for real;
    // corpusCount is passed the way a fleet pipeline would (table size is
    // known), skipping the extra count job
    val nEmb = embs.count()
    val annObs = Observation("ann_lsh_caps")
    timeObserved("ann_lsh_topk", annObs)(Similarity.annLshTopK(
      embs, embs.filter(col("vec_id") < 64), k = 5,
      corpusCount = Some(nEmb), dropStats = Some(annObs)))
    val lshPairObs = Observation("lsh_near_dup_caps")
    timeObserved("lsh_near_dup_pairs", lshPairObs)(
      Similarity.cosineNearDupPairsLsh(embs, threshold = 0.98,
        bands = 4, corpusCount = Some(nEmb), dropStats = Some(lshPairObs)))
    time("ivf_topk")(Similarity.ivfTopK(
      embs, embs.filter(col("vec_id") < 64), k = 5, trainMod = mult))
    // PQ: codebooks train on the hash sample (offline-shaped), then the
    // full replicated corpus takes codes + distortion as one projection
    if (enabled("pq_assign") || enabled("ivfpq_topk")) locally {
      val books = Similarity.trainPqCodebooks(embs, m = 4, k = 16,
        iters = 2, trainMod = mult)
      if (enabled("pq_assign"))
        time("pq_assign")(Similarity.pqAssign(embs, books))
      // IVF+PQ ADC probe at 20×: the probe join's corpus side is
      // (cid, 4-int code) rows — codes move, the 64-dim vectors never do
      if (enabled("ivfpq_topk")) locally {
        val cents = Similarity.trainIvfCentroids(embs, nCentroids = 16,
          iters = 2, trainMod = mult)
        val queries = embs.filter(col("vec_id") < 64)
        time("ivfpq_topk")(Similarity.ivfPqTopK(
          embs, queries, k = 5, cents, books, nProbe = 4))
        def pairSet(df: DataFrame): Set[(Long, Long)] = df
          .select(col("query_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = pairSet(Similarity.cosineTopK(embs, queries, k = 5))
        val pqR = (exact intersect pairSet(Similarity.ivfPqTopK(
          embs, queries, k = 5, cents, books, nProbe = 4)))
          .size.toDouble / exact.size
        println(f"[scale]   recall_vs_exact: ivfpq_topk $pqR%.3f")
        results.get("ivfpq_topk").foreach(e =>
          record(e.copy(recallVsExact = Some(pqR))))
      }
    }
    // Graph ANN at scale: the proximity graph builds OFFLINE (timed as
    // its own entry, the minhash_index_build pattern) and the probe runs
    // against the saved index — the serving split the operator ships
    // (saveNswIndex / nswTopKIndexed). The jittered clone cliques are the
    // bucket-density adversary: every clone lands in its original's
    // buckets, so link candidates per node are ~mult regardless of r.
    if (enabled("nsw_index_build") || enabled("nsw_topk")) locally {
      val dir = java.nio.file.Files
        .createTempDirectory("scale-nsw-idx").toString
      val buildSec = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Similarity.saveNswIndex(embs, dir)
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[scale] nsw_index_build             ${embs.count()}%10d " +
        f"rows  $buildSec%8.2f s" +
        (if (reps > 1) s"  (min of $reps)" else ""))
      if (enabled("nsw_index_build"))
        record(Entry("nsw_index_build", embs.count(), buildSec))
      if (enabled("nsw_topk")) {
        val queries = embs.filter(col("vec_id") < 64)
        time("nsw_topk")(
          Similarity.nswTopKIndexed(dir, embs, queries, k = 5))
        def pairSet(df: DataFrame): Set[(Long, Long)] = df
          .select(col("query_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = pairSet(Similarity.cosineTopK(embs, queries, k = 5))
        val nswR = (exact intersect pairSet(
          Similarity.nswTopKIndexed(dir, embs, queries, k = 5)))
          .size.toDouble / exact.size
        println(f"[scale]   recall_vs_exact: nsw_topk $nswR%.3f")
        results.get("nsw_topk").foreach(e =>
          record(e.copy(recallVsExact = Some(nswR))))
      }
    }
    // SemDeDup at 20×: k grows with n (the semDedup scaladoc's k ∝ n rule
    // as code — a fixed k would let E[cluster] grow with the multiplier
    // and pair volume go quadratic); the jittered copies are genuine
    // semantic dups (cos ≈ 0.9999), so pruning must collapse each
    // mult-clique toward its id-minimal survivor
    if (enabled("semdedup")) locally {
      val kC = math.max(16, (nEmb / 1500L).toInt)
      val cents = Similarity.trainIvfCentroids(embs, nCentroids = kC,
        iters = 2, trainMod = mult)
      time("semdedup")(
        Similarity.semDedup(embs, cents, threshold = 0.98))
      val kept = Similarity.semDedup(embs, cents, threshold = 0.98)
        .filter(col("kept") === 1).count()
      println(s"[scale]   semdedup: k=$kC kept=$kept of $nEmb " +
        s"(cliques of $mult collapse unless split across clusters)")
    }
    // recall vs the exact brute-force baseline for both ANN paths — the
    // artifact's "approximation is bounded, not hoped" line. 64 queries ×
    // k=5 = 320 pairs per side: tiny collects, one corpus-scan each.
    if (enabled("ann_lsh_topk") || enabled("ivf_topk")) locally {
      val queries = embs.filter(col("vec_id") < 64)
      def pairSet(df: DataFrame): Set[(Long, Long)] = df
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairSet(Similarity.cosineTopK(embs, queries, k = 5))
      def recallOf(df: DataFrame): Double =
        (exact intersect pairSet(df)).size.toDouble / exact.size
      if (enabled("ann_lsh_topk")) {
        val annR = recallOf(Similarity.annLshTopK(embs, queries, k = 5,
          corpusCount = Some(nEmb)))
        println(f"[scale]   recall_vs_exact: ann_lsh_topk $annR%.3f")
        results.get("ann_lsh_topk").foreach(e =>
          record(e.copy(recallVsExact = Some(annR))))
      }
      if (enabled("ivf_topk")) {
        val ivfR = recallOf(Similarity.ivfTopK(embs, queries, k = 5,
          trainMod = mult))
        println(f"[scale]   recall_vs_exact: ivf_topk $ivfR%.3f")
        results.get("ivf_topk").foreach(e =>
          record(e.copy(recallVsExact = Some(ivfR))))
      }
    }
    time("langid_quality")(docs.select(
      TextStats.langId(col("text")).as("lang"),
      TextStats.qualityScore(col("text")).as("q"))
      .groupBy("lang").agg(avg("q").as("avg_q")))
    // per-doc rolling-hash fingerprinting is a pure projection — must
    // scale linearly with the corpus, no caps involved
    time("winnowing_fp")(docs.select(col("doc_id"),
      explode(TextStats.winnowingFingerprint(col("text"))).as("fp")))

    // connected-components cluster formation over the prefix-path pair set
    // — the q49 shape at 20×. Pairs are materialized FIRST so the timed
    // number is cluster formation itself, and the corpus is adversarial
    // for it: every document sits in a ~mult-member near-dup clique.
    // Its pairs fit the driver finish up to about 20× (934 194 pairs,
    // recorded as 1 round); dedup_groups_fixpoint times the distributed
    // fixpoint on the same pairs, whose rounds earlier artifacts recorded
    // under dedup_groups.
    // (Ordered AFTER the similarity entries: an iterative operator's
    // burst of short jobs + released caches measurably inflates whatever
    // runs next in the same JVM — entries keep their round-6 neighbors so
    // artifacts stay comparable round over round.)
    if (enabled("dedup_groups")) locally {
      val (pairsDf, relPairs) =
        Dedup.ngramJaccardPairsPrefixReleasable(docs, threshold = 0.9)
      val pinned = pairsDf.persist()
      pinned.count()
      relPairs()
      val t0 = System.nanoTime()
      val (labels, rounds, relLabels) = Dedup.connectedComponentsStats(
        pinned, nodes = Some(docs.select(col("doc_id"))))
      val n = labels.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val nComponents = labels.select("component").distinct().count()
      println(f"[scale] dedup_groups                $n%10d rows  $sec%8.2f s" +
        f"  ($nComponents components, $rounds rounds)")
      record(Entry("dedup_groups", n, sec, rounds = Some(rounds),
        components = Some(nComponents)))
      relLabels()
      // the same pairs through the distributed fixpoint alone: where the
      // entry above finished on the driver (rounds = 1), this one prices
      // the fixpoint beside it and keeps its rounds comparable with
      // artifacts from before the driver finish existed
      val t1 = System.nanoTime()
      val (fixLabels, fixRounds, relFix) =
        Dedup.connectedComponentsDistributed(pinned,
          nodes = Some(docs.select(col("doc_id"))))
      val nFix = fixLabels.count()
      val fixSec = (System.nanoTime() - t1) / 1e9
      val fixComponents = fixLabels.select("component").distinct().count()
      relFix()
      require(nFix == n && fixComponents == nComponents,
        s"fixpoint labels $nFix rows / $fixComponents components, " +
          s"dedup_groups $n / $nComponents")
      println(f"[scale] dedup_groups_fixpoint       $nFix%10d rows  " +
        f"$fixSec%8.2f s  ($fixComponents components, $fixRounds rounds)")
      record(Entry("dedup_groups_fixpoint", nFix, fixSec,
        rounds = Some(fixRounds), components = Some(fixComponents)))
      pinned.unpersist(blocking = false)
      System.gc() // drain the iterative burst before the skew audits
    }

    // contamination overlap at 20×: every scaled clique spans both
    // parities, and cross-clique common phrasing drives per-side postings
    // to ~n/2 — the tight cap (32) must drop those while clique-local
    // fingerprints (≤ mult/2 per side) keep the genuine overlap
    val contObsA = Observation("contamination_caps_a")
    val contObsB = Observation("contamination_caps_b")
    timeObserved("contamination", contObsA)(
      graft.textops.Overlap.fingerprintOverlap(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        minShared = 4, maxPostingList = 32,
        dropStatsA = Some(contObsA), dropStatsB = Some(contObsB)))
    if (enabled("contamination")) printCaps("contamination_b", contObsB)

    // deterministic stratified sample: a pure projection+filter — must be
    // scan-bound at any scale (stratum derived from the id here; the
    // testdata lang column doesn't survive the corpus multiplier)
    time("stratified_sample")(graft.textops.Sampling.stratifiedSample(
      docs.withColumn("stratum",
        concat(lit("s"), pmod(col("doc_id"), lit(4)))),
      stratumCol = "stratum", idCol = "doc_id",
      rates = Map("s0" -> 0.5, "s1" -> 0.25), defaultRate = 0.05))

    // redaction + unicode folding are pure projections — scan-bound, wall
    // must track the corpus multiplier and nothing else
    time("redact_fold")(docs.select(col("doc_id"),
      Redact.redactPii(col("text")).as("redacted"),
      graft.functions.TextExprs.foldText(col("text")).as("folded")))

    // sequence packing at 20×: one shuffle on a BOUNDED shard key (64
    // shards, the way a fleet pipeline buckets (source, id-range)) + a
    // streaming running-sum window — never a global sort
    time("sequence_packing")(Packing.packStats(
      docs.withColumn("shard", pmod(col("doc_id"), lit(64))),
      textCol = col("text"), partitionCol = col("shard"),
      orderCol = col("doc_id"), capacity = 512L))

    // as-of join at 20×: the key SPACE multiplies (more users, same
    // per-user density — the realistic 100 TB growth axis); one shuffle
    // on user_id, running-last window, no pair explosion
    if (enabled("asof_join") || enabled("resample_ffill") ||
        enabled("funnel") || enabled("funnel_skew10pct") ||
        enabled("funnel_parquet") || enabled("pattern_parquet") ||
        enabled("pattern_match") || enabled("retention") ||
        enabled("streaming_funnel_batch")) locally {
      val copies = spark.range(mult.toLong).toDF("copy")
      val scaledEv = graft.sources.Tables.events(spark, sfDir)
        .crossJoin(broadcast(copies))
        .select((col("event_id") * mult + col("copy")).as("event_id"),
          (col("user_id") * mult + col("copy")).as("user_id"),
          col("ts"), col("event_type"), col("value"))
        .repartition(cpus.toInt).persist()
      scaledEv.count()
      val purchases = scaledEv.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("purchase_value"))
      val views = scaledEv.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      if (enabled("asof_join"))
        time("asof_join")(
          AsOf.joinBackward(purchases, views, key = "user_id", ts = "ts"))
      // resample+ffill on the same multiplied key space: grid width per
      // key stays the key's own span, so rows scale with keys, not keys²
      time("resample_ffill")(AsOf.resampleFfill(
        views, key = "user_id", ts = "ts"))
      // funnel at 20×: per-step scan-pruned exchanges, chained-min
      // left joins, O(1) per-key aggregation state
      time("funnel")(graft.operators.Sessions.funnelTimes(scaledEv,
        steps = Seq("signup", "view", "click", "purchase"),
        key = "user_id", ts = "ts", typeCol = "event_type"))
      // hot-key variant: ~10% of all events collapse onto ONE user (the
      // bot/service-account shape). The salted chained-min spreads that
      // key's step events across salt buckets and pre-reduces each
      // bucket map-side, so the dominant stage's straggler ratio stays
      // scheduler-jitter-sized — the audit FAILS the smoke above 1.5
      if (enabled("funnel_skew10pct")) {
        val hotEv = scaledEv.select(
          when(pmod(col("event_id"), lit(10)) === 0, lit(0L))
            .otherwise(col("user_id")).as("user_id"),
          col("ts"), col("event_type"))
        timeSkewAudited(spark, "funnel_skew10pct", maxRatio = 1.5)(
          graft.operators.Sessions.funnelTimes(hotEv,
            steps = Seq("signup", "view", "click", "purchase"),
            key = "user_id", ts = "ts", typeCol = "event_type"))
      }
      // generalized pattern match at 20×: the q92 shape (optional middle
      // step, value predicates) — same chained-min joins plus the
      // key-universe scan optional heads require
      if (enabled("pattern_match")) locally {
        import graft.operators.Sessions.PatternStep
        time("pattern_match")(graft.operators.Sessions.matchPattern(
          scaledEv, Seq(
            PatternStep("signup", col("event_type") === "signup"),
            PatternStep("bigview",
              col("event_type") === "view" && col("value") > 100,
              optional = true),
            PatternStep("bigbuy",
              col("event_type") === "purchase" && col("value") > 50)),
          key = "user_id", ts = "ts"))
      }
      // FUNNEL / PATTERN over PARQUET at mult× (r20 shared-scan
      // adjudication): the q89/q92 shapes' real input is a parquet fact
      // table — the other funnel entries run over the PERSISTED
      // multiplied frame, where every "scan" is a memory read and read
      // amplification is invisible; these two entries price it.
      //
      //   - funnel_parquet: funnelTimes KEEPS per-step scans — its step
      //     union covers most of the event stream, so a shared
      //     persisted projection is nearly the whole table and the
      //     isolated q89 bench A/B measured the cache build costlier
      //     than the m−1 repeated pruned scans it saves (sf0.1
      //     0.50→0.80 s, sf1 0.90→1.02 s). The rejected shared-scan
      //     variant is timed beside it here so the crossover keeps
      //     getting priced at smoke scale.
      //   - pattern_parquet: matchPattern KEEPS the shared scan — its
      //     predicates are selective (small persisted projection) and
      //     it pays an extra key-universe pass; the isolated q92 bench
      //     A/B measured the shared scan faster at sf1 (1.45→1.12 s,
      //     twice reproduced) and flat at sf0.1. The pre-r20 per-step
      //     variant is timed beside it, and the one-shared-cache plan
      //     property is require()d.
      //   Both pairings run interleaved (coldAb below): this VM's
      //   window drift exceeds the shape deltas, so sequential blocks
      //   flip sign run to run — only rep-paired timing adjudicates.
      // INTERLEAVED cold-cache A/B: one rep = both shapes back-to-back,
      // so host-drift between two sequential whole-shape blocks (the
      // dominant noise on this VM) hits both sides of every rep equally;
      // min per shape over reps. Cache cleared before each timing — the
      // shared shapes persist a projection per CALL and a warm rep would
      // time the cache, not the scan.
      def coldAb(mkA: () => DataFrame, mkB: () => DataFrame)
          : (Long, Double, Long, Double) = {
        def one(mk: () => DataFrame): (Long, Double) = {
          spark.catalog.clearCache()
          CacheHandles.releaseAll()
          val t0 = System.nanoTime()
          val n = mk().count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
        val runs = (1 to math.max(2, reps)).map { _ => (one(mkA), one(mkB)) }
        val (na, sa) = (runs.head._1._1, runs.map(_._1._2).min)
        val (nb, sb) = (runs.head._2._1, runs.map(_._2._2).min)
        (na, sa, nb, sb)
      }
      if (enabled("funnel_parquet")) locally {
        val steps = Seq("signup", "view", "click", "purchase")
        val dir = java.nio.file.Files
          .createTempDirectory("scale-funnel-ev").toString
        scaledEv.write.mode("overwrite").parquet(dir)
        val evPq = spark.read.parquet(dir)
        // the REJECTED r20 variant: one In-filtered scan persisted,
        // branches filter the cache (matchPattern's kept shape)
        def sharedShape() = {
          val saltBuckets = 8
          val flagged = evPq
            .filter(col("event_type").isin(steps: _*))
            .select(col("user_id"), col("ts").as("graft_ts"),
              col("event_type").as("graft_type"),
              pmod(xxhash64(col("user_id"), col("ts")), lit(saltBuckets))
                .cast("int").as("graft_salt"))
            .transform(CacheHandles.persistTracked)
          def stepEvents(s: String) = flagged
            .filter(col("graft_type") === s)
            .select(col("user_id"), col("graft_ts"), col("graft_salt"))
          val head = stepEvents(steps.head).groupBy(col("user_id"))
            .agg(min(col("graft_ts")).as(s"t_${steps.head}"))
          steps.zip(steps.tail).foldLeft(head) { case (acc, (prev, s)) =>
            val accCols = acc.columns.map(col).toSeq
            val accS = acc.withColumn("graft_salt",
              explode(sequence(lit(0), lit(saltBuckets - 1))))
            accS.join(stepEvents(s), Seq("user_id", "graft_salt"), "left")
              .groupBy(accCols: _*)
              .agg(min(when(col("graft_ts") > col(s"t_$prev"),
                col("graft_ts"))).as(s"t_$s"))
          }
        }
        val (nP, secP, nS, secS) = coldAb(
          () => graft.operators.Sessions.funnelTimes(evPq, steps,
            key = "user_id", ts = "ts", typeCol = "event_type"),
          () => sharedShape())
        require(nS == nP, s"funnel shapes disagree: $nS vs $nP rows")
        println(f"[scale] funnel_parquet              $nP%10d rows" +
          f"  $secP%8.2f s  (rejected shared-scan shape: $secS%.2f s)")
        record(Entry("funnel_parquet", nP, secP))
        record(Entry("funnel_parquet_sharedscan", nS, secS))
      }
      if (enabled("pattern_parquet")) locally {
        import graft.operators.Sessions.PatternStep
        val dir = java.nio.file.Files
          .createTempDirectory("scale-pattern-ev").toString
        scaledEv.write.mode("overwrite").parquet(dir)
        val evPq = spark.read.parquet(dir)
        val pat = Seq(
          PatternStep("signup", col("event_type") === "signup"),
          PatternStep("bigview",
            col("event_type") === "view" && col("value") > 100,
            optional = true),
          PatternStep("bigbuy",
            col("event_type") === "purchase" && col("value") > 50))
        def kept() = graft.operators.Sessions.matchPattern(
          evPq, pat, key = "user_id", ts = "ts")
        locally {
          // the r20 plan property: every branch and the key universe
          // read ONE shared persisted projection — no direct source
          // relation survives, all cache hits are one InMemoryRelation
          val plan = kept().queryExecution.optimizedPlan
          val direct = plan.collect {
            case l: org.apache.spark.sql.execution.datasources
                .LogicalRelation => l
          }.size
          val caches = plan.collect {
            case m: org.apache.spark.sql.execution.columnar
                .InMemoryRelation => m.cacheBuilder
          }
          require(direct == 0 && caches.nonEmpty &&
              caches.distinct.size == 1,
            s"shared-scan pattern must read the source through ONE " +
              s"shared cache: direct=$direct caches=${caches.size}")
          spark.catalog.clearCache()
          CacheHandles.releaseAll()
        }
        // pre-r20 shape: one source scan per step + the universe scan
        def perStep() = {
          val saltBuckets = 8
          def stepEvents(p: PatternStep) = evPq
            .filter(p.pred)
            .select(col("user_id"), col("ts").as("graft_ts"),
              pmod(xxhash64(col("user_id"), col("ts")), lit(saltBuckets))
                .cast("int").as("graft_salt"))
          val universe = evPq
            .filter(pat.map(_.pred).reduce(_ || _))
            .select(col("user_id")).distinct()
          val folded = pat.zipWithIndex.foldLeft(universe) {
            case (acc, (s, i)) =>
              val accCols = acc.columns.map(col).toSeq
              val (opts, rest) = pat.take(i).reverse.span(_.optional)
              val chain = opts ++ rest.headOption
              val cond =
                if (chain.isEmpty) lit(true)
                else {
                  val anchor =
                    coalesce(chain.map(p => col(s"t_${p.name}")): _*)
                  if (rest.nonEmpty) col("graft_ts") > anchor
                  else anchor.isNull || col("graft_ts") > anchor
                }
              val accS = acc.withColumn("graft_salt",
                explode(sequence(lit(0), lit(saltBuckets - 1))))
              accS.join(stepEvents(s), Seq("user_id", "graft_salt"), "left")
                .groupBy(accCols: _*)
                .agg(min(when(cond, col("graft_ts"))).as(s"t_${s.name}"))
          }
          folded.filter(col(s"t_signup").isNotNull)
        }
        val (nK, secK, nP2, secP2) = coldAb(() => kept(), () => perStep())
        require(nK == nP2, s"pattern shapes disagree: $nK vs $nP2 rows")
        println(f"[scale] pattern_parquet             $nK%10d rows" +
          f"  $secK%8.2f s  (pre-r20 per-step-scan shape: $secP2%.2f s)")
        record(Entry("pattern_parquet", nK, secK))
        record(Entry("pattern_parquet_perstep", nP2, secP2))
      }
      // retention at 20×: both shuffles carry (key, day) pairs — rows
      // scale with active (user, day) cells, never raw events
      time("retention")(graft.operators.Sessions.retentionMatrix(
        scaledEv, key = "user_id", ts = "ts", period = "day"))
      // streaming-funnel function driven in batch mode: the per-key
      // sorted-apply path (groupByKey + fMGWS) at 20× key space — the
      // state-shape cost a real stream pays per micro-batch
      time("streaming_funnel_batch")(graft.streaming.EventStreams
        .funnelStream(scaledEv,
          steps = Seq("signup", "view", "click", "purchase"),
          key = "user_id", ts = "ts", typeCol = "event_type").toDF())
      scaledEv.unpersist(blocking = false)
    }

    // data-quality audit at 20×: all row-local checks in ONE pass over
    // the multiplied corpus + uniqueness distinct-count + FK anti-join
    if (enabled("quality_audit") || enabled("zorder") ||
        enabled("grouped_topk_hot") || enabled("cdc_apply") ||
        enabled("robust_outliers") || enabled("stats_pruned_scan") ||
        enabled("merge_on_read") || enabled("catalog_read") ||
        enabled("change_feed_incremental") ||
        enabled("bloom_probe")) locally {
      val copies = spark.range(mult.toLong).toDF("copy")
      // persisted: four entries share it, and zorder alone reads it three
      // times (stats pass, range-boundary sampling, the sort itself).
      // repartition BEFORE the multiplying crossJoin: the testdata is one
      // parquet split, and expanding 20× on that single task would
      // serialize the corpus build onto one core
      val li = graft.sources.Tables.lineitem(spark, sfDir)
        .repartition(cpus.toInt)
        .crossJoin(broadcast(copies))
        .select((col("l_orderkey") * mult + col("copy")).as("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_returnflag"),
          col("l_shipdate"))
        .persist()
      li.count()
      // same discipline: spread the single split, THEN multiply
      val orders = graft.sources.Tables.orders(spark, sfDir)
        .repartition(cpus.toInt)
        .crossJoin(broadcast(copies))
        .select((col("o_orderkey") * mult + col("copy")).as("o_orderkey"),
          col("o_totalprice"))
        .persist()
      orders.count()
      time("quality_audit")(graft.operators.Quality.audit(li, Seq(
        graft.operators.Quality.NotNull("l_shipdate"),
        graft.operators.Quality.InRange("l_quantity", 1, 25),
        graft.operators.Quality.AcceptedValues("l_returnflag",
          Seq("A", "R")),
        graft.operators.Quality.Unique(Seq("l_orderkey", "l_linenumber")),
        graft.operators.Quality.RefIntegrity("l_orderkey", orders,
          "o_orderkey"))))
      // Z-order rewrite at 20×: the stats pass + keyed interleave +
      // range-repartition/local-sort — the full pre-write clustered
      // shape over the multiplied fact table
      time("zorder")(graft.operators.Layout.zOrder(li,
        Seq("l_partkey", "l_orderkey"), bits = 12,
        tiebreakers = Seq("l_orderkey", "l_linenumber")))
      // grouped top-k on deliberately HOT groups (3 return-flag classes
      // share the whole multiplied table): the window formulation sorts
      // each multi-million-row group to keep 5 rows; the bounded
      // aggregate's state is 5 rows per group, map-side combined
      time("grouped_topk_hot")(li.groupBy(col("l_returnflag"))
        .agg(graft.functions.AggExprs.collectTopK(
          struct(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")), 5).as("top")))
      // CDC apply at 20×/100×: the multiplied changelog (one change per
      // lineitem) folds into the orders snapshot — winner selection is
      // a map-side max_by partial agg, the fold one full-outer join.
      // Skew-audited (r15): the artifact carries the dominant stage's
      // task count, median/max task ms and the straggler ratio — the
      // 100× lane's evidence that the merge has no hot-key tail
      timeSkewAudited(spark, "cdc_apply")(
        graft.operators.Temporal.applyChangelog(
        orders,
        li.select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber").as("v"),
          (col("l_quantity") < 2).as("del"),
          col("l_extendedprice").as("o_totalprice")),
        key = "o_orderkey", versionCol = "v", deleteCol = "del"))
      // robust outlier screen at 20×: 3 return-flag groups share the
      // whole 12 M-row table — the shape where the old windowed
      // formulation sorts 4 M rows per group inside single window tasks
      // (measured 17.1 s here) and the histogram-localized eager
      // pipeline stays scan-bound (measured 6.8 s): the q100 de-sort's
      // scale evidence
      time("robust_outliers", reEval = true)(
        graft.operators.Profile.robustOutliers(
          li, groupCol = "l_returnflag", valCol = "l_extendedprice",
          k = 3.0))
      // STATS-PRUNED SNAPSHOT SCAN at mult x: the multiplied fact table
      // lands in the snapshot store, OPTIMIZE z-orders it into 64 files,
      // and the timed read pushes an l_orderkey range through the
      // manifest stats - files_listed/files_opened land in the artifact,
      // proving the skipped-file count grows with the corpus while the
      // opened count stays O(selectivity). The commit+optimize (write
      // side) is timed separately.
      if (enabled("stats_pruned_scan") || enabled("merge_on_read")) locally {
        import graft.sources.SnapshotStore
        val dir = java.nio.file.Files
          .createTempDirectory("scale-snapstats").toString
        val tW0 = System.nanoTime()
        // lk = 8·l_orderkey + l_linenumber is the table's UNIQUE row key
        // (linenumber ≤ 7 fits in 3 bits) — the merge_on_read entry needs
        // per-row identity; the stats scan ignores the extra column
        val liSnap = li.withColumn("lk",
          col("l_orderkey") * 8 + col("l_linenumber"))
        SnapshotStore.commitOverwrite(liSnap, dir)
        SnapshotStore.optimize(spark, dir, targetFiles = 64,
          zorderBy = Seq("l_orderkey", "l_partkey"))
        val commitSec = (System.nanoTime() - tW0) / 1e9
        println(f"[scale] snapshot_commit_optimize     " +
          f"${li.count()}%10d rows  $commitSec%8.2f s")
        record(Entry("snapshot_commit_optimize", li.count(), commitSec))
        // the q120 gate's base range, scaled with the key space (keys
        // are okey·mult+copy): a fixed ~3 % slice at every multiplier
        if (enabled("stats_pruned_scan")) locally {
          val lo = 1000L * mult
          val hi = 3000L * mult
          var rep: SnapshotStore.ScanReport = null
          var nOut = 0L
          val sec = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            val (df, r) = SnapshotStore.readWhere(spark, dir,
              SnapshotStore.StatsPred.Between("l_orderkey", lo, hi))
            rep = r
            nOut = df.count()
            (System.nanoTime() - t0) / 1e9
          }.min
          require(rep.filesOpened < rep.filesListed,
            s"stats must prune the z-ordered layout: $rep")
          println(f"[scale] stats_pruned_scan           $nOut%10d rows" +
            f"  $sec%8.2f s  (opened ${rep.filesOpened}/${rep.filesListed})")
          record(Entry("stats_pruned_scan", nOut, sec,
            filesListed = Some(rep.filesListed),
            filesOpened = Some(rep.filesOpened)))
        }
        // MERGE-ON-READ at mult×: two change batches 10× apart in size
        // land as equality-delete layers against the untouched z-ordered
        // base — the wall must track |changes|, never the base (the CoW
        // cdc_apply entry above prices the rewrite alternative on the
        // same corpus). Then the read tax with two layers accreted, and
        // the OPTIMIZE that folds the layers back into plain base files.
        if (enabled("merge_on_read")) locally {
          val baseFiles = SnapshotStore.snapshot(dir).get.files
          // the changelog: bumped price, l_quantity=1 rows are deletes;
          // modulus picks ~1/m of the 8·okey+line key space
          def changelog(m: Int): DataFrame = li
            .filter(pmod(col("l_orderkey") * 8 + col("l_linenumber"),
              lit(m)) === 0)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_quantity"),
              (col("l_extendedprice") * 1.1).as("l_extendedprice"),
              col("l_discount"), col("l_returnflag"), col("l_shipdate"),
              (col("l_orderkey") * 8 + col("l_linenumber")).as("lk"),
              lit(1L).as("vord"), (col("l_quantity") === 1).as("del"))
          def morCommit(name: String, m: Int): Unit = {
            // persist OUTSIDE the timed region: the entry prices the
            // merge (winner fold + layer write + publish), not the
            // synthetic corpus multiply that builds the changelog
            val ch = changelog(m).persist()
            val nCh = ch.count()
            val t0 = System.nanoTime()
            SnapshotStore.mergeOnRead(spark, dir, ch,
              key = "lk", versionCol = "vord", deleteCol = "del")
            val sec = (System.nanoTime() - t0) / 1e9
            ch.unpersist(blocking = false)
            println(f"[scale] $name%-28s $nCh%10d rows  $sec%8.2f s")
            record(Entry(name, nCh, sec))
          }
          // three sizes spanning 200× in |changes|; the first also
          // absorbs the fold pipeline's JIT so the small/large contrast
          // is warm-vs-warm
          morCommit("mor_commit_tiny", 9973)  // ~0.01 % of the base keys
          morCommit("mor_commit_small", 503)  // ~0.2 %
          morCommit("mor_commit_large", 47)   // ~2 % — the size axis
          val m2 = SnapshotStore.snapshot(dir).get
          require(m2.files == baseFiles && m2.layers.size == 3,
            s"mergeOnRead must leave the ${baseFiles.size}-file base " +
              s"untouched and accrete 3 layers (files ${m2.files.size}, " +
              s"layers ${m2.layers.size})")
          // the read tax: base + three anti-join layers, full scan
          // (timed manually — the entry-name filter would drop a
          // time("mor_read") call when only merge_on_read is enabled)
          locally {
            var nRead = 0L
            val sec = (1 to reps).map { _ =>
              val t0 = System.nanoTime()
              nRead = SnapshotStore.read(spark, dir).count()
              (System.nanoTime() - t0) / 1e9
            }.min
            println(f"[scale] mor_read                    " +
              f"$nRead%10d rows  $sec%8.2f s")
            record(Entry("mor_read", nRead, sec))
          }
          // fold the layers back into plain files; reads return to
          // layer-free scans (and stats pruning applies to ALL rows)
          val tF0 = System.nanoTime()
          SnapshotStore.optimize(spark, dir, targetFiles = 64,
            zorderBy = Seq("l_orderkey", "l_partkey"))
          val foldSec = (System.nanoTime() - tF0) / 1e9
          val m3 = SnapshotStore.snapshot(dir).get
          require(m3.layers.isEmpty,
            s"optimize must fold the layers (left ${m3.layers.size})")
          val nFold = SnapshotStore.read(spark, dir).count()
          println(f"[scale] mor_fold_optimize           " +
            f"$nFold%10d rows  $foldSec%8.2f s")
          record(Entry("mor_fold_optimize", nFold, foldSec))
        }
      }
      // PINNED CATALOG READ at mult×: one atomic two-table transaction
      // (fact range-clustered on its key + dim beside it), then the head
      // moves on with a second commit — the timed read travels back to
      // the pinned version and must still file-skip through that
      // version's staged manifest stats. files_listed/files_opened land
      // in the artifact like the table-layer scan's.
      if (enabled("catalog_read")) locally {
        import graft.sources.{Catalog, SnapshotStore}
        val root = java.nio.file.Files
          .createTempDirectory("scale-catalog").toString
        val nLi = li.count()
        val tC0 = System.nanoTime()
        Catalog.commit(root, Map(
          "lineitem" ->
            ((li.repartitionByRange(64, col("l_orderkey")),
              Catalog.Overwrite: Catalog.Mode)),
          "orders" ->
            ((orders.repartitionByRange(16, col("o_orderkey")),
              Catalog.Overwrite: Catalog.Mode))))
        val commitSec = (System.nanoTime() - tC0) / 1e9
        println(f"[scale] catalog_commit2t            " +
          f"$nLi%10d rows  $commitSec%8.2f s")
        record(Entry("catalog_commit2t", nLi, commitSec))
        // head moves to v1 so the timed read is genuine time travel
        Catalog.commit(root, Map("orders" ->
          ((orders.filter(pmod(col("o_orderkey"), lit(1000)) === 0),
            Catalog.Append: Catalog.Mode))))
        val lo = 1000L * mult
        val hi = 3000L * mult
        var rep: SnapshotStore.ScanReport = null
        var nOut = 0L
        val sec = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val (df, r) = Catalog.readTableWhere(spark, root, "lineitem",
            SnapshotStore.StatsPred.Between("l_orderkey", lo, hi),
            version = Some(0))
          rep = r
          nOut = df.count()
          (System.nanoTime() - t0) / 1e9
        }.min
        require(rep.filesOpened * 5 <= rep.filesListed,
          s"pinned catalog read must open O(selectivity) files: $rep")
        println(f"[scale] catalog_read                $nOut%10d rows" +
          f"  $sec%8.2f s  (opened ${rep.filesOpened}/${rep.filesListed})")
        record(Entry("catalog_read", nOut, sec,
          filesListed = Some(rep.filesListed),
          filesOpened = Some(rep.filesOpened)))
      }
      // INCREMENTAL CHANGE FEED at mult× (r19 optimization): a
      // range-clustered table takes a small append then a narrow
      // predicate delete; the feed over both commits must cost
      // O(changed data) — the append branch reads ONLY the appended
      // files and the delete branch's removed-candidates come through
      // the stats tier (readWhere at the previous version), so the
      // UNION's input-file set is a fraction of the table. The generic
      // two-sided shape (both versions fully scanned per commit, the
      // pre-r19 plan) is timed beside it in the same JVM as the
      // honest before/after.
      if (enabled("change_feed_incremental")) locally {
        import graft.sources.SnapshotStore
        val dir = java.nio.file.Files
          .createTempDirectory("scale-incfeed").toString
        val nOrd = orders.count()
        SnapshotStore.commitOverwrite(
          orders.repartitionByRange(64, col("o_orderkey")), dir)   // v0
        val Array(kMin, kMax) = orders
          .agg(min(col("o_orderkey")), max(col("o_orderkey")))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        SnapshotStore.commitAppend(
          orders.filter(pmod(col("o_orderkey"), lit(1000)) === 0)
            .withColumn("o_orderkey", col("o_orderkey") + kMax + 1L)
            .repartition(2),  // a small append lands small (guide §6)
          dir)                                                     // v1
        val span = kMax - kMin
        SnapshotStore.deleteWhere(spark, dir,
          SnapshotStore.StatsPred.Between("o_orderkey",
            kMin + span / 2, kMin + span / 2 + span / 100))        // v2
        val total = SnapshotStore.snapshot(dir).get.files.size
        var nOut = 0L
        var inFiles = 0
        val sec = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val feed = SnapshotStore.changeFeed(spark, dir, 0, 2)
          inFiles = feed.inputFiles.length
          nOut = feed.count()
          (System.nanoTime() - t0) / 1e9
        }.min
        require(inFiles * 4 <= total,
          s"incremental feed must read O(changed) files: read " +
            s"$inFiles of $total")
        println(f"[scale] change_feed_incremental     $nOut%10d rows" +
          f"  $sec%8.2f s  (input files $inFiles/$total)")
        record(Entry("change_feed_incremental", nOut, sec,
          filesListed = Some(total), filesOpened = Some(inFiles)))
        // the pre-r19 generic shape, same versions, same JVM
        val secGen = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val gen = (0 until 2).map { v =>
            SnapshotStore.diffFrames(
              SnapshotStore.read(spark, dir, Some(v)),
              SnapshotStore.read(spark, dir, Some(v + 1)),
              SnapshotStore.SchemaChange.Common, s"generic v$v")
              .withColumn("version", lit(v + 1))
          }.reduce(_.unionByName(_))
          val n = gen.count()
          require(n == nOut, s"generic feed disagrees: $n vs $nOut")
          (System.nanoTime() - t0) / 1e9
        }.min
        println(f"[scale] change_feed_generic         $nOut%10d rows" +
          f"  $secGen%8.2f s")
        record(Entry("change_feed_generic", nOut, secGen))
        // TELESCOPED NON-ADJACENT ENDPOINT DIFF (r20): extend the same
        // table with a LONG small-commit chain — appends, narrow
        // predicate deletes, keyed upserts — and take the endpoint diff
        // across ALL versions. Every commit is recognizer-accepted, so
        // diff(0, last) composes the per-commit incremental frames
        // (collapseFeed telescoping) instead of two full endpoint
        // scans: input files must stay O(total changed), require()d
        // ≤ total/4, and the generic endpoint shape is timed beside it.
        if (enabled("change_feed_incremental")) locally {
          (1 to 3).foreach { i =>
            SnapshotStore.commitAppend(
              orders.filter(pmod(col("o_orderkey"), lit(997)) === i)
                .withColumn("o_orderkey",
                  col("o_orderkey") + (kMax + 1L) * (i + 1))
                .repartition(2), dir)
            SnapshotStore.deleteWhere(spark, dir,
              SnapshotStore.StatsPred.Between("o_orderkey",
                kMin + span * i / 10, kMin + span * i / 10 + span / 200))
            // keyed upsert over a RANGE-LOCAL key slice (the CDC shape:
            // a batch touches recent/contiguous keys) — the keyed
            // branch's stats-tier `key IN (…)` prune then opens only
            // the intersecting files
            SnapshotStore.mergeOnRead(spark, dir,
              orders.filter(col("o_orderkey").between(
                  kMin + span * (2 * i + 1) / 20,
                  kMin + span * (2 * i + 1) / 20 + span / 500))
                .limit(100)
                .select(col("o_orderkey"), col("o_totalprice") + 1.0,
                  lit(1L).as("ver"), lit(false).as("del"))
                .toDF("o_orderkey", "o_totalprice", "ver", "del"),
              key = "o_orderkey", versionCol = "ver", deleteCol = "del")
          }
          // telescoping is proven OBSERVABLY: the endpoint diff's
          // resolved input-file set must be O(changed) (require below)
          // — the generic two-sided shape would list every file of
          // both endpoints
          val lastV = SnapshotStore.versions(dir).last
          var nTel = 0L
          var telFiles = 0
          val secTel = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            val d = SnapshotStore.diff(spark, dir, 0, lastV)
            telFiles = d.inputFiles.length
            nTel = d.count()
            (System.nanoTime() - t0) / 1e9
          }.min
          val totalNow = SnapshotStore.snapshot(dir).get.files.size
          // ~2 touched files per commit × 9 commits vs the 64-file base
          // (the generic endpoint shape lists BOTH endpoints, ~2×64)
          require(telFiles * 3 <= totalNow,
            s"telescoped endpoint diff must read O(changed) files: " +
              s"read $telFiles of $totalNow")
          println(f"[scale] diff_telescoped             $nTel%10d rows" +
            f"  $secTel%8.2f s  (input files $telFiles/$totalNow, " +
            f"chain v0..v$lastV)")
          record(Entry("diff_telescoped", nTel, secTel,
            filesListed = Some(totalNow), filesOpened = Some(telFiles)))
          val secTelGen = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            val gen = SnapshotStore.diffFrames(
              SnapshotStore.read(spark, dir, Some(0)),
              SnapshotStore.read(spark, dir, Some(lastV)),
              SnapshotStore.SchemaChange.Common, "generic endpoints")
            val n = gen.count()
            require(n == nTel, s"generic endpoint diff disagrees: " +
              s"$n vs $nTel")
            (System.nanoTime() - t0) / 1e9
          }.min
          println(f"[scale] diff_endpoint_generic       $nTel%10d rows" +
            f"  $secTelGen%8.2f s")
          record(Entry("diff_endpoint_generic", nTel, secTelGen))
        }
      }
      // FILE-LEVEL BLOOM INDEX at mult×: orders lands clustered on
      // o_totalprice (⊥ o_orderkey — per-file key ranges span the
      // domain, so the min/max tier provably cannot skip a point
      // probe), the index builds in one (file, column) scan with
      // AUTO-SIZED bitmaps (≥10 bits/row of the largest file), and the
      // timed probe is a mid-domain key equality: every skip must be
      // BLOOM-attributed and the probe opens O(1 + false positives)
      // files out of 64 — the q127 gate's claim at corpus scale, with
      // the build wall priced beside the serve wall.
      if (enabled("bloom_probe")) locally {
        import graft.sources.SnapshotStore
        val dir = java.nio.file.Files
          .createTempDirectory("scale-bloomidx").toString
        val nOrd = orders.count()
        SnapshotStore.commitOverwrite(
          orders.repartitionByRange(64, col("o_totalprice")), dir)
        val tI0 = System.nanoTime()
        SnapshotStore.indexBloom(spark, dir, "o_orderkey")
        val idxSec = (System.nanoTime() - tI0) / 1e9
        println(f"[scale] bloom_index_build           $nOrd%10d rows" +
          f"  $idxSec%8.2f s")
        record(Entry("bloom_index_build", nOrd, idxSec))
        // mid-domain probe key (an extreme key would hand skips to the
        // stats tier — the r17 q127 lesson)
        val Array(kMin, kMax) = orders
          .agg(min(col("o_orderkey")), max(col("o_orderkey")))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        val probe = orders
          .filter(pmod(col("o_orderkey"), lit(13)) === 0 &&
            col("o_orderkey") <= (kMin + kMax) / 2)
          .agg(max(col("o_orderkey"))).head().getLong(0)
        var rep: SnapshotStore.ScanReport = null
        var nOut = 0L
        val sec = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val (df, r) = SnapshotStore.readWhere(spark, dir,
            SnapshotStore.StatsPred.Eq("o_orderkey", probe))
          rep = r
          nOut = df.count()
          (System.nanoTime() - t0) / 1e9
        }.min
        require(rep.filesOpened * 4 <= rep.filesListed &&
            rep.bloomSkipped == rep.filesSkipped && rep.bloomSkipped > 0,
          s"point probe must be bloom-pruned on the decorrelated " +
            s"layout: $rep")
        println(f"[scale] bloom_probe                 $nOut%10d rows" +
          f"  $sec%8.2f s  (opened ${rep.filesOpened}/${rep.filesListed}" +
          f", bloom-skipped ${rep.bloomSkipped})")
        record(Entry("bloom_probe", nOut, sec,
          filesListed = Some(rep.filesListed),
          filesOpened = Some(rep.filesOpened),
          bloomSkipped = Some(rep.bloomSkipped)))
      }
      li.unpersist(blocking = false)
      orders.unpersist(blocking = false)
    }

    // MANIFEST-LIST METADATA at ~10⁵ FILES: the segment tier's claim —
    // commits touch O(new files + segments) metadata and range reads
    // parse only intersecting segments — exercised at the file count it
    // was built for (q123 proves 1,000 files; this lane builds
    // 1000×mult, capped at 100k). Rows are TINY on purpose: the entry
    // prices METADATA walks, not data volume. Four walls recorded:
    // building the raw 10⁵-file table (inline commits), the
    // METADATA-ONLY rewriteManifests regroup into ~250-file segments,
    // one tail appendSegment (must be O(new files + segment count),
    // never O(total files)), and the pruned range read
    // (segments_parsed / files_opened land in the artifact).
    if (enabled("segment_metadata")) locally {
      import graft.sources.SnapshotStore
      // the table dir sits INSIDE a catalog root so the catalog can
      // ADOPT it later (pure metadata) for the by-name lane
      val segCatRoot = java.nio.file.Files
        .createTempDirectory("scale-segmeta").toString
      val dir = java.nio.file.Paths.get(segCatRoot, "seg").toString
      val totalFiles = sys.env.get("SPARK_GRAFT_SEG_FILES").map(_.toInt)
        .getOrElse(math.min(100000, 1000 * mult))
      val chunks = 16
      require(totalFiles >= chunks,
        s"SPARK_GRAFT_SEG_FILES=$totalFiles is below the $chunks-chunk " +
          "commit layout this lane builds (need >= 16)")
      val perChunk = totalFiles / chunks
      val rowsPerFile = 20L
      val tB0 = System.nanoTime()
      (0 until chunks).foreach { c =>
        val lo = c.toLong * perChunk * rowsPerFile
        val hi = lo + perChunk * rowsPerFile
        SnapshotStore.commitAppend(
          spark.range(lo, hi)
            .repartitionByRange(perChunk, col("id"))
            .select(col("id"), (col("id") % 97).as("v")), dir)
      }
      val nF = SnapshotStore.snapshot(dir).get.files.size
      val buildSec = (System.nanoTime() - tB0) / 1e9
      println(f"[scale] segment_build_files         $nF%10d files" +
        f"  $buildSec%8.2f s")
      record(Entry("segment_build_files", nF.toLong, buildSec))
      val nSegs = math.max(2, totalFiles / 250)
      val tR0 = System.nanoTime()
      SnapshotStore.rewriteManifests(dir, targetSegments = nSegs)
      val rwSec = (System.nanoTime() - tR0) / 1e9
      val mSeg = SnapshotStore.snapshot(dir).get
      require(mSeg.files.isEmpty && mSeg.segments.size >= nSegs - 1,
        s"rewrite must regroup everything into ~$nSegs segments " +
          s"(got ${mSeg.segments.size})")
      println(f"[scale] segment_rewrite_manifests   $nF%10d files" +
        f"  $rwSec%8.2f s  (${mSeg.segments.size} segments)")
      record(Entry("segment_rewrite_manifests", nF.toLong, rwSec,
        segmentsListed = Some(mSeg.segments.size)))
      // tail append: O(new files + segments), never O(total files)
      val tailLo = totalFiles.toLong * rowsPerFile + 1000000L
      val tA0 = System.nanoTime()
      SnapshotStore.appendSegment(
        spark.range(tailLo, tailLo + 64 * rowsPerFile)
          .repartitionByRange(64, col("id"))
          .select(col("id"), (col("id") % 97).as("v")), dir)
      val tailSec = (System.nanoTime() - tA0) / 1e9
      println(f"[scale] segment_append_tail         ${64}%10d files" +
        f"  $tailSec%8.2f s")
      record(Entry("segment_append_tail", 64L, tailSec))
      // pruned range read: a ~50-file slice out of 10⁵
      val sliceLo = totalFiles.toLong * rowsPerFile / 2
      val sliceHi = sliceLo + 50 * rowsPerFile - 1
      var rep: SnapshotStore.ScanReport = null
      var nOut = 0L
      val sec = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val (df, r) = SnapshotStore.readWhere(spark, dir,
          SnapshotStore.StatsPred.Between("id", sliceLo, sliceHi))
        rep = r
        nOut = df.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      require(rep.segmentsParsed * 4 <= rep.segmentsListed &&
          rep.filesOpened * 10 <= rep.filesListed,
        s"metadata-scale prune must skip whole segments unparsed: $rep")
      println(f"[scale] segment_pruned_read         $nOut%10d rows" +
        f"  $sec%8.2f s  (opened ${rep.filesOpened}/${rep.filesListed}" +
        f", parsed ${rep.segmentsParsed}/${rep.segmentsListed} segments)")
      record(Entry("segment_pruned_read", nOut, sec,
        filesListed = Some(rep.filesListed),
        filesOpened = Some(rep.filesOpened),
        segmentsListed = Some(rep.segmentsListed),
        segmentsParsed = Some(rep.segmentsParsed)))
      // the SAME slice through the Spark-native front door: the planner
      // pushes the range filter, GraftFileIndex.listFiles drives the
      // identical segment-tier prune, and file sizes come from the
      // sidecars the walk parsed (never an O(all-files) stat or size
      // pass) — proving format("graft") carries the metadata tier's
      // O(intersecting segments) promise behind Spark's own planner
      import graft.sources.GraftFileIndex
      var fdRep: SnapshotStore.ScanReport = null
      var fdOut = 0L
      val fdSec = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fdOut = spark.read.format("graft").load(dir)
          .filter(col("id").between(sliceLo, sliceHi)).count()
        fdRep = GraftFileIndex.lastReport(dir).getOrElse(
          sys.error("front-door scan left no report"))
        (System.nanoTime() - t0) / 1e9
      }.min
      require(fdOut == nOut,
        s"front door must return the readWhere row count: $fdOut/$nOut")
      require(fdRep.filesOpened == rep.filesOpened &&
          fdRep.segmentsParsed == rep.segmentsParsed,
        s"front door must make readWhere's prune decision: " +
          s"format=$fdRep readWhere=$rep")
      println(f"[scale] segment_front_door          $fdOut%10d rows" +
        f"  $fdSec%8.2f s  (opened ${fdRep.filesOpened}/" +
        f"${fdRep.filesListed}, parsed ${fdRep.segmentsParsed}/" +
        f"${fdRep.segmentsListed} segments)")
      record(Entry("segment_front_door", fdOut, fdSec,
        filesListed = Some(fdRep.filesListed),
        filesOpened = Some(fdRep.filesOpened),
        segmentsListed = Some(fdRep.segmentsListed),
        segmentsParsed = Some(fdRep.segmentsParsed)))
      // the SAME slice BY NAME through the SQL catalog: adoption is a
      // pure-metadata catalog commit (zero bytes moved at 10⁵ files),
      // and per-statement resolution adds O(1) — one catalog-version
      // read + one manifest parse — on top of the front door's
      // O(intersecting segments) walk. Decision parity is REQUIREd
      // against the readWhere reference; wall must sit within noise of
      // segment_front_door.
      import graft.sources.Catalog
      val tAd0 = System.nanoTime()
      Catalog.adopt(segCatRoot, "seg")
      val adoptSec = (System.nanoTime() - tAd0) / 1e9
      println(f"[scale] catalog_adopt               $nF%10d files" +
        f"  $adoptSec%8.2f s  (pure metadata)")
      record(Entry("catalog_adopt", nF.toLong, adoptSec))
      spark.conf.set("spark.sql.catalog.graft",
        "graft.sources.GraftSqlCatalog")
      spark.conf.set("spark.sql.catalog.graft.root", segCatRoot)
      var cdRep: SnapshotStore.ScanReport = null
      var cdOut = 0L
      val cdSec = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        cdOut = spark.sql("SELECT count(*) FROM graft.main.seg " +
          s"WHERE id BETWEEN $sliceLo AND $sliceHi")
          .collect()(0).getLong(0)
        cdRep = GraftFileIndex.lastReport(dir).getOrElse(
          sys.error("catalog front-door scan left no report"))
        (System.nanoTime() - t0) / 1e9
      }.min
      require(cdOut == nOut,
        s"catalog front door must return the readWhere count: " +
          s"$cdOut/$nOut")
      require(cdRep.filesOpened == rep.filesOpened &&
          cdRep.segmentsParsed == rep.segmentsParsed,
        s"catalog front door must make readWhere's prune decision: " +
          s"sql=$cdRep readWhere=$rep")
      println(f"[scale] catalog_front_door          $cdOut%10d rows" +
        f"  $cdSec%8.2f s  (opened ${cdRep.filesOpened}/" +
        f"${cdRep.filesListed}, parsed ${cdRep.segmentsParsed}/" +
        f"${cdRep.segmentsListed} segments)")
      record(Entry("catalog_front_door", cdOut, cdSec,
        filesListed = Some(cdRep.filesListed),
        filesOpened = Some(cdRep.filesOpened),
        segmentsListed = Some(cdRep.segmentsListed),
        segmentsParsed = Some(cdRep.segmentsParsed)))
      // METADATA TABLES at 10⁵ files: `t.files` lists EVERY referenced
      // file with its sidecar-carried rows — the deliberate full-
      // metadata walk (all segment manifests + stats sidecars parse),
      // paid only when a user asks for the complete inventory; the
      // SUM(rows) require doubles as a stats-coverage check (a file
      // missing from any sidecar would null out of the sum). `t.history`
      // prices the O(catalog versions) walk.
      var mfFiles = 0L
      var mfRows = 0L
      val mfSec = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val r = spark.sql("SELECT COUNT(*), CAST(SUM(rows) AS BIGINT) " +
          "FROM graft.main.seg.files").collect()(0)
        mfFiles = r.getLong(0); mfRows = r.getLong(1)
        (System.nanoTime() - t0) / 1e9
      }.min
      require(mfFiles == nF.toLong + 64,
        s"files metadata table must list every referenced file: " +
          s"$mfFiles vs ${nF + 64}")
      require(mfRows == (nF.toLong + 64) * rowsPerFile,
        s"every file must carry sidecar rows (stats coverage): $mfRows" +
          s" vs ${(nF.toLong + 64) * rowsPerFile}")
      println(f"[scale] meta_files_table            $mfFiles%10d files" +
        f"  $mfSec%8.2f s  (full metadata walk, rows covered)")
      record(Entry("meta_files_table", mfFiles, mfSec))
      var mhN = 0L
      val mhSec = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        mhN = spark.sql("SELECT COUNT(*) FROM graft.main.seg.history")
          .collect()(0).getLong(0)
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[scale] meta_history_table          $mhN%10d rows " +
        f"  $mhSec%8.2f s")
      record(Entry("meta_history_table", mhN, mhSec))
    }

    // corpus-level boilerplate stats at 20×: distinct-shingle explode →
    // shingle-keyed df partial-agg → join back on the same key (Exchange
    // reuse); shuffles carry (doc_id, shingle) pairs, never text — and on
    // THIS corpus every shingle is ~mult-hot (near-identical copies), the
    // worst realistic df skew
    time("crossdoc_ngrams")(TextStats.crossDocNgramStats(docs))

    // tf-idf top-k terms at 20×: one tokenize pass reused for tf and df,
    // per-doc window top-k — the term explode is the volume axis
    timeReleasing("tfidf_topk")(TextStats.tfidfTopTermsReleasable(docs, k = 3))

    // composite curation pipeline at 20× — the q103 chain (fold → exact
    // dedup → 13-gram decontam → rebalance → pack) as ONE plan over the
    // replicated corpus: the operator HAND-OFF cost (plan size, exchange
    // reuse across stages, no recompute) that per-operator entries never
    // exercise. On this corpus dedup collapses the 20 near-identical
    // copies, so downstream stages see ~1/mult of the input — the
    // realistic curation funnel shape.
    if (enabled("curation_pipeline")) locally {
      val folded = docs.select(col("doc_id"),
        concat(lit("s"), pmod(col("doc_id"), lit(7))).as("source"),
        graft.functions.TextExprs.foldText(col("text")).as("folded"))
      val ded = Dedup.exact(folded, textCol = "folded", idCol = "doc_id")
        .select("doc_id", "source", "folded")
      val train = ded.filter(pmod(col("doc_id"), lit(2)) === 0)
      val bench = ded.filter(pmod(col("doc_id"), lit(2)) === 1)
      val clean = train.join(
        graft.textops.Overlap.exactNgramContamination(
            train, bench, n = 13, textCol = "folded")
          .select("doc_id"),
        Seq("doc_id"), "left_anti")
      val balanced = graft.textops.Sampling.rebalanceToUniform(
        clean, "source", "doc_id")
      time("curation_pipeline")(graft.textops.Packing.packStats(balanced,
        textCol = col("folded"), partitionCol = col("source"),
        orderCol = col("doc_id"), capacity = 512L))
    }

    // mixture rebalance at 20×: skewed synthetic strata (70/25/5 — the
    // testdata source column doesn't survive the corpus multiplier);
    // counts + min broadcast back, the corpus side must stay a pure
    // scan+filter with no Exchange
    time("mixture_rebalance")(graft.textops.Sampling.rebalanceToUniform(
      docs.withColumn("stratum",
        when(pmod(col("doc_id"), lit(20)) === 0, lit("wiki"))
          .when(pmod(col("doc_id"), lit(20)) < 6, lit("books"))
          .otherwise(lit("web"))),
      stratumCol = "stratum", idCol = "doc_id"))

    // sketch family at 20×: HLL distinct texts (one register groupBy —
    // must stay scan-bound; the ~mult-fold duplication is invisible to a
    // distinct sketch by construction), CMS heavy hitters (Zipf-skewed
    // token counts partial-aggregate map-side), and exact 13-gram
    // decontamination with a realistically SMALL benchmark side (1 % of
    // the corpus → its gram set broadcasts; the 99 % train side is
    // scanned once, never shuffled)
    time("hll_distinct")(graft.operators.Sketches.hllDistinct(
      docs, lit("all"), col("text")))
    locally {
      val (df, release) = graft.operators.Sketches
        .cmsHeavyHittersReleasable(docs, col("text"))
      try time("cms_heavy_hitters")(df) finally release()
    }
    time("exact_decontam")(graft.textops.Overlap.exactNgramContamination(
      docs.filter(col("doc_id") >= mult * 50),
      docs.filter(col("doc_id") < mult * 50), n = 13))

    // Exact substring dedup (q82): the replicated corpus makes EVERY
    // ≥50-token doc's windows duplicated (mult copies of each), so the
    // island merge runs at full duplicated-position volume — the
    // worst-case span workload, plus boilerplate window hashes at mult×
    // frequency stressing the map-side combine of the dup-hash count.
    time("exact_substring_spans")(Dedup.exactSubstringSpans(docs))

    // ---- adversarial skew: ONE hot key at 10 % frequency -----------------
    // Exact dedup: every 10th document is the same boilerplate text → one
    // fingerprint holds 10 % of the corpus. The min_by aggregation must
    // absorb it map-side (partial agg → ≤ one row per map partition
    // reaches the hot key's reducer).
    val hotText = "hot boilerplate paragraph shared verbatim by one in " +
      "ten documents in this corpus exercising the dedup straggler path"
    val skewedCorpus = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(10)) === 0, lit(hotText))
        .otherwise(col("text")))
    timeSkewAudited(spark, "exact_dedup_skew10pct")(Dedup.exact(skewedCorpus))

    // Import keep-first dedup: 10 % of a 2M-row batch is one repeated
    // natural key. min_by partial-aggregates map-side, so the hot key
    // reaches its reducer as ≤ one row per map partition.
    val nTx = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "2000000").toLong
    val rawTx = skewedTransactions(spark, nTx, cpus.toInt)
    timeSkewAudited(spark, "import_dedup_skew10pct")(
      Store.importBatch(rawTx.limit(0), rawTx))

    // Upsert merge under the same distribution: post-dedup fingerprints are
    // unique on BOTH sides (importBatch is the upsert's contract), so the
    // full-outer merge join cannot skew by construction — audited here to
    // prove the composition, not just the parts.
    if (enabled("upsert_merge_skew10pct")) locally {
    val deduped = Store.importBatch(rawTx.limit(0), rawTx)
    val prepared = Store.withStoreColumns(deduped)
      .withColumn("imported_at", to_timestamp(lit("2026-01-01 00:00:00")))
      .select("account", "book_date", "valuta_date", "party", "book_text",
        "purpose", "amount_cents", "balance_cents", "transfer_category",
        "category", "category_manual", "fingerprint", "imported_at")
    val store = Store.upsert(Store.empty(spark), prepared).persist()
    store.count()
    timeSkewAudited(spark, "upsert_merge_skew10pct")(
      Store.upsert(store, prepared))
    }

    // Adaptive skew join under the same 10 % hot key: unsalted, the hot
    // key's 200k matches land in ONE shuffle partition of the join; the
    // sampled histogram detects key 0 and routes its rows to the salted
    // branch (16 buckets), and the task audit proves the straggler is
    // gone (the downstream agg partial-combines map-side, so
    // re-concentrating on the raw key afterwards stays flat too). This
    // audits the ADAPTIVE front door — the same route the q61 gate
    // takes, where a flat histogram instead skips the salt entirely.
    if (enabled("salted_join_skew10pct")) locally {
      val hotLeft = spark.range(nTx).select(
        when(pmod(col("id"), lit(10)) === 0, 0L).otherwise(col("id"))
          .as("k"),
        col("id").as("payload"))
      val dimRight = spark.range(nTx / 100).select(
        col("id").as("rk"), (col("id") * 2).as("weight"))
      timeSkewAudited(spark, "salted_join_skew10pct")(
        graft.operators.SkewJoin.adaptiveSkewJoin(hotLeft, dimRight,
            "k", "rk", buckets = 16)
          .groupBy("k")
          .agg(count(lit(1)).as("n"), sum("weight").as("w")))
    }

    // ---- persist the evidence ---------------------------------------------
    // The 100 TB posture numbers as a driver-inspectable artifact (per-
    // operator rows/wall-clock, cap drop counts, straggler ratios, recall
    // vs exact) — stdout dies with the log, this file is committed.
    // A SPARK_GRAFT_SCALE_ONLY-filtered run holds only the filtered
    // entries — writing it to the canonical path would silently clobber a
    // committed full artifact, so filtered runs divert to a .partial.json
    // sibling (round-8 ADVICE).
    val basePath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_r10.json")
    val outPath =
      if (onlyEntries.isEmpty) basePath
      else basePath.stripSuffix(".json") + ".partial.json"
    def js(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // Locale-pinned numeric formatting: f"%.2f" follows the default locale
    // and a comma-decimal locale would emit 0,12 — invalid JSON (the same
    // bug class CliSpec pins for Report's HTML tables).
    def num(v: Double, prec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(v))
    val entries = results.values.map { e =>
      val fields = (Seq(
        Some(s""""rows":${e.rows}"""),
        Some(s""""sec":${num(e.sec, 2)}"""),
        e.droppedGroups.map(v => s""""dropped_groups":$v"""),
        e.maxGroup.map(v => s""""max_group":$v"""),
        e.nGroups.map(v => s""""n_groups":$v"""),
        e.tasks.map(v => s""""tasks":$v"""),
        e.medianMs.map(v => s""""median_ms":$v"""),
        e.maxMs.map(v => s""""max_ms":$v"""),
        e.stragglerRatio.map(v => s""""straggler_ratio":${num(v, 2)}"""),
        e.audited.map(v => s""""audited":$v"""),
        e.recallVsExact.map(v => s""""recall_vs_exact":${num(v, 3)}"""),
        e.rounds.map(v => s""""rounds":$v"""),
        e.components.map(v => s""""components":$v"""),
        e.filesListed.map(v => s""""files_listed":$v"""),
        e.filesOpened.map(v => s""""files_opened":$v"""),
        e.segmentsListed.map(v => s""""segments_listed":$v"""),
        e.segmentsParsed.map(v => s""""segments_parsed":$v"""),
        e.bloomSkipped.map(v => s""""bloom_skipped":$v"""))
      ).flatten.mkString(",")
      js(e.name) + ":{" + fields + "}"
    }.mkString(",")
    val codec = sys.env.getOrElse("SPARK_GRAFT_SCALE_CODEC", "lz4")
    val json = s"""{"mult":$mult,"sf_dir":${js(sfDir)},"cpus":$cpus,""" +
      s""""reps":$reps,"calib_st_ms":$calibSt,"calib_mt_ms":$calibMt,""" +
      s""""codec":${js(codec)},""" +
      s""""docs":$nDocs,"embeddings":$nEmb,"entries":{$entries}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scale] wrote $outPath")

    spark.stop()
  }
}
