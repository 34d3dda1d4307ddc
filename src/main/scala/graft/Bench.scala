package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract (builder prompt).
  *
  * Runs every SparkEntry query over `SPARK_GRAFT_SF_DIR` and prints exactly
  * one JSON line: {"metric","value","unit","queries","reps","rep_policy",
  * "jit_ms_at_timing_end","sf"} — `queries` carries the per-query minimum
  * (the recorded number), `reps` the raw per-rep times behind it.
  *
  * Each query is materialized through the `noop` datasource writer so the
  * full result set (all columns, all rows) is produced — `count()` alone
  * would let Catalyst prune projections and undercount the real work.
  *
  * Before timing, every query runs once against the smallest scale factor
  * (`SPARK_GRAFT_WARM_DIR`, default sf0.001): whole-stage codegen compiles
  * and JIT warms per *plan shape*, not per data volume, so a ~10 s one-time
  * compilation spike would otherwise land on whichever timed query happens
  * to trigger it first (round 1: q14 absorbed 10.5 s of JIT). Warm-up data
  * is 100× smaller than the timed data — it cannot pre-compute any timed
  * work, it only stops the timings from measuring the JVM instead of the
  * queries.
  *
  * Failures are FATAL: a failing query aborts the bench with a non-zero
  * exit instead of scoring ~0 s (which would reward breakage).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir =
      sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Session geometry, env-overridable, defaults MEASURED for this
    // harness (local[32], sf0.1, sub-second queries):
    //  - shuffle.partitions=8: at sf0.1 every exchange's reduce side is a
    //    handful of MB, so 32 partitions mean ~31 near-empty tasks per
    //    exchange whose scheduling latency IS the floor for 35 of the 48
    //    queries.
    //  - AQE off: its stage-by-stage materialization barrier + re-planning
    //    costs more per query here than the runtime re-optimization saves
    //    (measured −14% total on the heavy-query subset, −11% on the
    //    floor-dominated one). On a real cluster at real scale both
    //    defaults flip: AQE on and partitions sized to data — the library
    //    itself never assumes either setting, and ScaleSmoke (the scale
    //    harness) runs WITH AQE enabled.
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8")
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "false")
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // layered-table front door + SQL functions (analyzer rule
      // injection applies at session construction only)
      .config("spark.sql.extensions",
        "graft.functions.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // openCostInBytes floors the scan-split size at 4 MB by default —
      // sized for many-file cloud listings, not this lane's one-file
      // tables, where it caps a 5.7 MB compressed documents file at TWO
      // splits and serializes expensive first map stages (q43's media
      // encode) onto two cores. 256 KB lets split count follow
      // bytes/parallelism; row-group midpoints still decide task
      // assignment, so the generator's per-table group sizing is the
      // other half of this fix. A real cluster keeps the default: its
      // parallelism comes from file count.
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPENCOST", (256 * 1024).toString))
      // reps measure the query, not the compiler (see Codegen)
      .config("spark.sql.codegen.cache.maxEntries", Codegen.cacheMaxEntries)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_ONLY filters to a comma-separated query subset (dev
    // iteration). SPARK_GRAFT_REPS (default 3) times each query N times and
    // reports the MINIMUM: the sf0.001 warm-up pass compiles the small-SF
    // plan shapes, but AQE re-plans at the timed SF (different partition
    // coalescing → different post-shuffle stages → fresh codegen), so the
    // first timed run still pays one-time JIT that a steady-state measure
    // shouldn't include. Data is page-cached either way (sf0.1 is 17 MB);
    // reps only de-noise compilation, they cannot pre-compute results.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val gcPauseMs = sys.env.getOrElse("SPARK_GRAFT_GC_MS", "250").toLong
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    def runOne(name: String, dir: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          Console.err.println(s"[bench] FATAL: $name failed on $dir: $e")
          throw e
      }

    // Fixed-work CPU calibration BEFORE any timing (shared with
    // ScaleSmoke): the ±20-25 % host-drift windows this VM shows are
    // larger than most round-over-round per-query deltas, so every
    // bench artifact carries the host-speed measurement the RATIO
    // reports normalize by — an entry that moved with calib moved with
    // the HOST.
    val (calibSt, calibMt) = Calib.calibrate(cpus.toInt)
    Console.err.println(
      s"[bench] calibration: st=${calibSt}ms mt=${calibMt}ms")

    // Codegen/JIT warm-up pass at the smallest SF (see scaladoc).
    queries.foreach { case (name, fn) =>
      runOne(name, warmDir, fn); CacheHandles.releaseAll() }

    val results = queries.map { case (name, fn) =>
      val repSecs = (1 to reps).map { _ =>
        // Some operators persist() intermediates (LSH signatures, IVF train
        // sets). Spark's CacheManager substitutes a prior rep's (or the
        // warm-up's) materialized cache into canonically-equal plans, which
        // would let rep 2 skip real work — clear before EVERY timed rep so
        // the minimum measures computation, not cache hits.
        spark.catalog.clearCache()
        // Isolate from the PREVIOUS query: 45 sequential queries in one JVM
        // accumulate heap garbage, finalizable shuffle/broadcast state and
        // code-cache pressure that lands on whoever runs next — round 2's
        // recorded numbers for late heavy queries were ~3× their isolated
        // cost (q28: 4.78 s recorded vs 1.51 s isolated). A forced full GC
        // plus a short drain pause before every timed rep makes the
        // recorded minimum measure the plan, not the JVM's backlog.
        System.gc()
        Thread.sleep(gcPauseMs)
        val t0 = System.nanoTime()
        runOne(name, sfDir, fn)
        val sec = (System.nanoTime() - t0) / 1e9
        // drain the per-call persist handles OUTSIDE the timed window
        // (clearCache above already drops the cache blocks; this empties
        // the CacheHandles queue so a 119-query × reps run doesn't
        // accumulate dead closures)
        CacheHandles.releaseAll()
        sec
      }
      val sec = repSecs.min
      Console.err.println(f"[bench] $name%-24s $sec%8.3f s" +
        repSecs.map(s => f"$s%.3f").mkString("  (reps: ", " ", ")"))
      (name, sec, repSecs)
    }
    // Locale-pinned: f"%.3f" follows the default locale; a comma-decimal
    // locale would emit 0,123 and break the driver's JSON parse.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results
      .map { case (k, v, _) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // Per-rep raw times + warm-state markers make a single hot run
    // interpretable: a machine-load artifact shows as uniformly slow reps
    // (min ≈ median), a one-time compile spike as rep1 >> rep2..n. The
    // JIT marker records how much compilation the JVM had already done
    // when the timed phase started — two runs with very different values
    // are not comparable rep-for-rep.
    val repsJson = results
      .map { case (k, _, rs) =>
        "\"" + k + "\":" + rs.map(num).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val jitMs = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime
    val total = results.map(_._2).sum
    // Two emissions of the same measurement (round-5 VERDICT #6: the
    // driver's stdout-tail capture clipped the head of the one long JSON
    // line, leaving `parsed: null`):
    //  - stdout gets the COMPACT line (no per-rep arrays — short enough to
    //    survive a bounded tail window even with sbt's epilogue after it);
    //  - BENCH_FULL.json (env SPARK_GRAFT_BENCH_OUT) gets the full record
    //    including the per-rep arrays, for rep-level analysis.
    val compact =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""queries":$qs,"rep_policy":"min","jit_ms_at_timing_end":$jitMs,""" +
      s""""calib_st_ms":$calibSt,"calib_mt_ms":$calibMt,""" +
      s""""sf":"$sfDir"}"""
    // provenance: label WHICH harness invocation produced the record
    // (round-11 VERDICT: driver BENCH_r{N} and builder BENCH_FULL_r{N}
    // are different runs; per-query analysis must not mix them) —
    // drivers/builders set SPARK_GRAFT_PROVENANCE when recording a
    // committed artifact
    val provenance = {
      val p = sys.env.getOrElse("SPARK_GRAFT_PROVENANCE", "unlabeled-run")
      // interpolated into JSON below: restrict to characters that can't
      // break the string literal rather than implementing JSON escaping
      require(p.matches("[A-Za-z0-9_.-]+"),
        s"SPARK_GRAFT_PROVENANCE must match [A-Za-z0-9_.-]+, got: $p")
      p
    }
    val full =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""queries":$qs,"reps":$repsJson,"rep_policy":"min",""" +
      s""""provenance":"$provenance",""" +
      s""""calib_st_ms":$calibSt,"calib_mt_ms":$calibMt,""" +
      s""""jit_ms_at_timing_end":$jitMs,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Console.err.println(s"[bench] full record written to $outPath")
    // Per-query map in BOUNDED stderr chunks (round-19 VERDICT #5): at
    // 141 queries the one-line compact record (~3.8 KB) loses its HEAD in
    // a bounded tail capture, so only the alphabetical tail of the
    // per-query map survived and round-over-round comparison degraded to
    // totals. Each chunk below is a SELF-CONTAINED JSON object under a
    // stable marker (`BENCH_JSON_Q:i/n:{...}`) and stays well under 1 KB,
    // so any line-or-byte-bounded tail window keeps whole chunks; a
    // parser merges the `queries` maps of whatever chunks it sees (chunk
    // ids say what is missing). Additions only — the compact stdout line,
    // the BENCH_JSON stderr line and the final totals line are unchanged.
    locally {
      val entries = results.map { case (k, v, _) => "\"" + k + "\":" + num(v) }
      val perChunk = 24 // ~24 × ~30 B ≈ 0.75 KB per line
      val groups = entries.grouped(perChunk).toSeq
      groups.zipWithIndex.foreach { case (g, i) =>
        Console.err.println(s"BENCH_JSON_Q:${i + 1}/${groups.size}:" +
          s"""{"chunk":${i + 1},"chunks":${groups.size},""" +
          s""""queries":${g.mkString("{", ",", "}")}}""")
      }
    }
    // The compact line goes to stdout UNWRAPPED (build.sbt forks `run`
    // with OutputStrategy.StdoutOutput, so there is no sbt [info] prefix
    // to strip) and ALSO to stderr under a stable marker — two independent
    // channels for the driver's parser.
    Console.err.println("BENCH_JSON:" + compact)
    println(compact)
    // FINAL stdout line: totals only, ~120 bytes. At 81 queries the
    // compact line itself (~2.9 KB) outgrew the driver's bounded
    // stdout-tail capture and was clipped at the HEAD (round-8 VERDICT
    // #2, `parsed: null`) — a last line this short survives any tail
    // window no matter how many queries the compact record grows to.
    // Per-query and per-rep data live in the compact/stderr line and the
    // committed BENCH_FULL.json respectively.
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""queries":{"all":${num(total)}},"n_queries":${results.size},""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
