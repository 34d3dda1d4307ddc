package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one JVM, one Spark session from the
  * program's own `Cli.session()`, one client thread running one workload in
  * a closed loop. Prints every end-to-end metric (untraced run) or every
  * per-layer metric (traced run) as the last line of standard output.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --dir WORKDIR --trace-out FILE
  */
object Main {

  val workloads: Seq[String] = Seq("ledger_session", "textops_mix")

  def make(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "ledger_session" => new LedgerSession(spark, seed)
    case "textops_mix"    => new TextopsMix(spark, seed)
  }

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "ops_per_s" -> "1/s", "rows_per_s" -> "rows/s", "heap_retained_mb" -> "MB",
    "store_bytes_per_row" -> "B/row")

  val sparkLayer: Seq[String] = Seq("spark.plan_ms", "spark.codegen_compiles",
    "spark.codegen_ms", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_ms", "spark.task_cpu_ms", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.task_wait_ms",
    "spark.straggler_ratio", "spark.gc_ms", "spark.input_rows",
    "spark.input_bytes", "spark.failed_tasks", "spark.persisted_rdds")

  val perLayer: Seq[(String, String)] =
    sparkLayer.map(n => n -> unitOf(n)) ++ Seq(
      "finance.ingcsv.parse_ms", "finance.ingcsv.rows", "finance.categorizer.ms",
      "finance.categorizer.hit_ratio", "finance.store.merge_ms",
      "finance.store.save_ms", "finance.store.dup_ratio",
      "finance.store.rows_written_per_new_row", "finance.store.bytes_written",
      "finance.store.load_ms", "finance.analysis.uncategorized_ms",
      "finance.analysis.income_overview_ms", "finance.analysis.expense_overview_ms",
      "finance.analysis.home_office_ms", "finance.analysis.cumsum_ms",
      "finance.analysis.rows_scanned_per_row_returned", "finance.report.render_ms",
      "textops.textstats.filter_ms", "textops.dedup.exact_ms",
      "textops.dedup.minhash_ms", "textops.dedup.cc_ms", "textops.dedup.survivor_ms",
      "textops.dedup.exact_dup_ratio", "textops.dedup.candidate_pairs",
      "textops.dedup.bucket_drops", "textops.dedup.cc_rounds",
      "textops.dedup.survivor_ratio", "textops.similarity.probe_ms",
      "textops.similarity.rows_scored_per_query",
      "textops.similarity.partitions_read_per_query",
      "textops.similarity.index_build_ms", "setup.generate_s",
      "setup.seed_stores_s", "setup.index_build_s", "setup.warmup_s",
      "failed_ratio", "dedup_recall", "search_recall_at_10", "trace.overhead_ms",
    ).map(n => n -> unitOf(n))

  def unitOf(n: String): String =
    if (n.endsWith("_ms") || n.endsWith(".ms")) "ms" else if (n.endsWith("_s")) "s"
    else if (n.endsWith("_per_row_returned") || n.endsWith("_per_new_row")) "rows/row"
    else if (n.endsWith("rows_scored_per_query")) "rows/query"
    else if (n.endsWith("partitions_read_per_query")) "partitions/query"
    else if (n.endsWith("_bytes") || n.endsWith("bytes_written")) "B"
    else if (n.contains("ratio") || n.contains("recall")) "ratio"
    else "count"

  final case class Window(latMs: Seq[Double], rows: Long, seconds: Double,
      ops: Seq[Int], failed: Set[Int])

  /** Run whole rounds of operations back to back until `seconds` have
    * passed, at least one; the round in progress at the deadline finishes.
    */
  def window(w: Workload, tr: Tracer, first: Int, seconds: Double,
      afterOp: Int => Unit): Window = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val failed = mutable.Set.empty[Int]
    var rows = 0L
    var i = first
    val t0 = System.nanoTime()
    while (i == first || (i - first) % w.round != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      w.prepare(i)
      tr.beginOp(i)
      val s = System.nanoTime()
      val done = scala.util.Try(tr.span("op")(w.op(i, tr)))
      lat += (System.nanoTime() - s) / 1e6
      val ok = done.map(d => scala.util.Try(d.verify()).getOrElse(false)).getOrElse(false)
      done.foreach(d => { rows += d.rows; scala.util.Try(d.release()) })
      done.failed.foreach(e => System.err.println(s"[perfbench] op $i failed: $e"))
      if (!ok) failed += i
      tr.endOp()
      afterOp(i)
      i += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val ops = first until i
    Window(lat.toSeq, rows, secs, ops, failed.toSet ++ w.finish(ops))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, once
    * the window holds enough samples for that to be at least the 90th
    * percentile; below that, the slowest sample. Returns (value,
    * percentile, samples beyond it).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size >= 100) (s(s.size - 11), 100.0 * (s.size - 10) / s.size, 10)
    else (s.last, 100.0, 0)
  }

  /** Heap in use after a forced full GC, once the listener bus has
    * delivered every queued event (so Spark's status store is not
    * mid-update). Spark's ContextCleaner frees broadcast and shuffle blocks
    * only after a GC has found their handles unreachable, so collections
    * are repeated with a pause between them; the least reading counts.
    */
  def heapRetainedMb(spark: SparkSession): Double = {
    org.apache.spark.perfbenchshim.Shim.drainListenerBus(spark.sparkContext)
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 2).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      m.getHeapMemoryUsage.getUsed
    }.min / (1024.0 * 1024.0)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def metricsJson(ms: Seq[(String, String)], values: Map[String, Double]): String =
    ms.map { case (n, u) =>
      s""""$n":{"value":${num(values.getOrElse(n, 0.0))},"unit":"$u"}"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(workloads.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val dir = Paths.get(opts("dir"))
    val spark = graft.finance.Cli.session()
    try run(spark, name, seed, seconds, traced, dir, opts.get("trace-out").map(Paths.get(_)))
    finally spark.stop()
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      traced: Boolean, dir: Path, traceOut: Option[Path]): Unit = {
    val w = make(name, spark, seed)
    val (phases, setupS) = Workload.timed(w.setup(dir.resolve("setup")))
    System.err.println(f"[perfbench] setup: $setupS%.3f s $phases")
    val phase = Seq("generate", "seed_stores", "index_build", "warmup").map(p =>
      s"setup.${p}_s" -> phases.getOrElse(p, 0.0)).toMap

    val plain = window(w, new Tracer(spark, enabled = false), 0, seconds, _ => ())
    val heapMb = heapRetainedMb(spark)
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    val storeBpr = w.storeBytesPerRow
    val p50 = median(plain.latMs)
    val (tailMs, tailPct, beyond) = tail(plain.latMs)
    val e2e = Map(
      "setup_s" -> setupS, "op_p50_ms" -> p50, "op_tail_ms" -> tailMs,
      "ops_per_s" -> plain.latMs.size / plain.seconds,
      "rows_per_s" -> plain.rows / plain.seconds,
      "heap_retained_mb" -> heapMb, "store_bytes_per_row" -> storeBpr)
    println(s"[perfbench] workload=$name seed=$seed ops=${plain.latMs.size} " +
      s"failed=${plain.failed.size} failed_ratio=${num(plain.failed.size.toDouble / math.max(1, plain.latMs.size))} " +
      s"op_tail=p${num(tailPct)} ($beyond samples beyond, n=${plain.latMs.size}) " +
      s"persisted_rdds=$persistedAfter lat_ms=${plain.latMs.map(x => math.round(x)).mkString(",")}")
    println("[perfbench] " + endToEnd.map { case (n, u) => s"$n=${num(e2e(n))} $u" }.mkString(" "))

    if (!traced) {
      finishLine(plain.latMs.size, plain.failed.size, metricsJson(endToEnd, e2e))
    } else {
      val tr = new Tracer(spark, enabled = true)
      val ev = new SparkEvents(spark, tr)
      ev.start()
      val leak = mutable.ArrayBuffer.empty[(Int, Double, Int)]
      // one traced round: per-layer figures have no bound to meet
      val t = window(w, tr, plain.ops.size, 0, i =>
        leak += ((i, heapRetainedMb(spark), spark.sparkContext.getPersistentRDDs.size)))
      ev.stop()
      val rep = new TraceReport(tr, ev, t.latMs.size)
      val attempted = plain.latMs.size + t.latMs.size
      val failed = plain.failed.size + t.failed.size
      val layerValues = rep.spark ++ w.layers(rep) ++ phase ++ Map(
        "spark.persisted_rdds" -> leak.lastOption.map(_._3.toDouble).getOrElse(0.0),
        "failed_ratio" -> failed.toDouble / math.max(1, attempted),
        "trace.overhead_ms" -> (median(t.latMs) - p50))
      traceOut.foreach { p =>
        val lines = rep.spansJson ++ leak.map { case (i, mb, n) =>
          s"""{"op":$i,"heap_retained_mb":${num(mb)},"persisted_rdds":$n}"""
        }
        Files.createDirectories(p.getParent)
        Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      }
      println(s"[perfbench] traced ops=${t.latMs.size} traced_op_p50_ms=${num(median(t.latMs))} " +
        s"overhead_ms=${num(layerValues("trace.overhead_ms"))}")
      finishLine(attempted, failed, metricsJson(perLayer, layerValues))
    }
  }

  private def finishLine(attempted: Int, failed: Int, metrics: String): Unit =
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
}
