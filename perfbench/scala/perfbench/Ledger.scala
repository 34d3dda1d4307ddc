package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.finance.{Analysis, Categorizer, IngCsv, Report, Store, TransactionSchema}

/** Generated users with parquet stores seeded through the program's own
  * import sequence.
  */
final class LedgerData(spark: SparkSession, seed: Long, val dir: Path,
    sizes: Seq[Int]) {
  val pool = Gen.pool(seed)
  val users: IndexedSeq[Gen.UserLedger] =
    sizes.indices.map(u => new Gen.UserLedger(u, seed, pool))
  /** Every distinct row drawn per user: the expected store content. */
  val rows: IndexedSeq[mutable.ArrayBuffer[Gen.Tx]] =
    sizes.indices.map(_ => mutable.ArrayBuffer.empty[Gen.Tx])
  /** Each user's latest statement, which the next one partly repeats. */
  val last: Array[Seq[Gen.Tx]] = Array.fill(sizes.size)(Seq.empty)
  /** The store row count the last import of each user reported. */
  val counts: Array[Long] = Array.fill(sizes.size)(0L)

  def store(u: Int): String = dir.resolve(s"user$u/store.parquet").toString

  /** Writes each user's history as ING exports, one CSV per account. The
    * smallest user's history comes as two exports (2015–2019, 2020–2024),
    * so seeding also runs an import into an existing store. Returns the
    * exports per user, in import order.
    */
  def generate(): Seq[Seq[Seq[Path]]] = sizes.indices.map { u =>
    val h = users(u).history(sizes(u))
    rows(u) ++= h
    def month(t: Gen.Tx): Int = {
      val d = java.time.LocalDate.ofEpochDay(t.book.toLong)
      d.getYear * 12 + d.getMonthValue
    }
    last(u) = h.filter(t => month(t) == month(h.last))
    val exports = if (u == 0) { val (a, b) = h.partition(_.year < 2020); Seq(a, b) } else Seq(h)
    exports.zipWithIndex.map { case (e, i) =>
      Gen.writeStatement(dir.resolve(s"user$u/history$i"), "20241231", e)
    }
  }

  /** Writes user `u`'s next statement; returns its files and row count. */
  def nextStatement(u: Int, k: Int): (Seq[Path], Int) = {
    val s = users(u).statement(k, last(u))
    val repeated = last(u).map(_.key).toSet
    rows(u) ++= s.filterNot(t => repeated.contains(t.key))
    last(u) = s
    (Gen.writeStatement(dir.resolve(f"user$u/stmt$k%03d"), f"2025${k + 1}%02d01", s), s.size)
  }

  def expectedRows(u: Int): Long = users(u).keys.size.toLong

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The `Cli.ingImport` call sequence, with a span around each call;
    * returns the store's row count that ingImport prints.
    */
  def ingest(tr: Tracer, u: Int, csvs: Seq[Path]): Long = {
    val path = store(u)
    val existing =
      if (exists(path)) spark.read.parquet(path)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        TransactionSchema.storeSchema)
    val storeAsRaw = existing
      .withColumn("amount", col("amount_cents") / 100.0)
      .withColumn("balance", col("balance_cents") / 100.0)
      .select("account", "book_date", "valuta_date", "party", "book_text",
        "purpose", "amount", "balance", "transfer_category", "category",
        "category_manual")
    val batch = tr.layer("finance.ingcsv.read") {
      IngCsv.read(spark, csvs.mkString(","))
        .withColumn("transfer_category", lit(null).cast("string"))
        .withColumn("category", lit(null).cast("string"))
        .withColumn("category_manual", lit(null).cast("string"))
    }
    val merged = tr.layer("finance.store.import_batch") { Store.importBatch(storeAsRaw, batch) }
    val categorized = tr.layer("finance.categorizer.pipeline") { Categorizer.pipeline(merged) }
    tr.probe("finance.categorizer.hit_ratio") {
      val r = categorized.agg(count(col("category")), count(lit(1))).head()
      r.getLong(0).toDouble / math.max(1L, r.getLong(1))
    }
    val prepared = Store.withStoreColumns(categorized)
      .withColumn("imported_at", current_timestamp())
      .select("account", "book_date", "valuta_date", "party", "book_text",
        "purpose", "amount_cents", "balance_cents", "transfer_category",
        "category", "category_manual", "fingerprint", "imported_at")
    val (next, release) = tr.span("finance.store.upsert") {
      val (n, r) = Store.upsertReleasable(existing, prepared)
      (tr.boundary(n), r)
    }
    try tr.span("finance.store.save") { Store.save(next, path) } finally release()
    counts(u) = tr.span("finance.store.count") { spark.read.parquet(path).count() }
    counts(u)
  }

  /** Fingerprints unique, and a sample of categories and transfer
    * categories equal to the plain-Scala cascade.
    */
  def verifyStore(u: Int): Boolean = {
    val df = spark.read.parquet(store(u))
    val r = df.agg(count(lit(1)), countDistinct(col("fingerprint"))).head()
    val sample = df.filter(pmod(xxhash64(col("fingerprint")), lit(40)) === 0)
      .select("account", "party", "book_text", "purpose", "amount_cents",
        "category", "transfer_category").collect()
    r.getLong(0) == expectedRows(u) && r.getLong(0) == r.getLong(1) &&
      sample.nonEmpty && sample.forall { s =>
        val cents = s.getLong(4)
        s.getString(5) == Reference.category(s.getString(0), s.getString(1),
          s.getString(2), s.getString(3), cents) &&
          s.getString(6) == Reference.transfer(s.getString(0), s.getString(3), cents)
      }
  }

  def bytesPerRow(us: Seq[Int]): Double =
    us.map(u => Workload.dataBytes(java.nio.file.Paths.get(store(u)))).sum.toDouble /
      math.max(1L, us.map(expectedRows).sum)
}

object LedgerData {
  /** 1 000 to 100 000 rows, log-spaced: heavy-tailed, and the same on
    * every seed.
    */
  val sizes: Seq[Int] = Gen.storeSizes(3, 1000, 100000)

  /** Generate every user's history, then seed the stores through the
    * import sequence. The smallest store is seeded first: it pays the
    * JVM's cold start, so its two imports are reported as warm-up.
    */
  def build(spark: SparkSession, seed: Long, dir: Path): (LedgerData, Map[String, Double]) = {
    val off = new Tracer(spark, enabled = false)
    val ((data, history), gen) = Workload.timed {
      val d = new LedgerData(spark, seed, dir, sizes)
      (d, d.generate())
    }
    val (_, warm) = Workload.timed(history(0).foreach(data.ingest(off, 0, _)))
    val (_, seeded) = Workload.timed {
      sizes.indices.tail.foreach(u => history(u).foreach(data.ingest(off, u, _)))
    }
    (data, Map("generate" -> gen, "seed_stores" -> seeded, "warmup" -> warm))
  }
}

/** ledger_session: each operation is one user's visit — import the next
  * monthly statement, then render a (user, year) report with the
  * uncategorized listing and its cumulative-sum curve. A round visits
  * every user once, so each window holds the same mix of store sizes:
  * the median is a mid-sized store, the tail the O(store) rewrite of the
  * largest. Report years follow a seeded order over the history.
  */
final class LedgerSession(spark: SparkSession, seed: Long) extends Workload {
  val name = "ledger_session"
  private var data: LedgerData = _
  private val users = LedgerData.sizes.indices
  override def round: Int = users.size
  private val years = Gen.historyYears
  private val yearOffset = {
    val r = Gen.rng(seed, 41)
    users.map(_ => r.nextInt(years.size))
  }
  private val pending = mutable.Map.empty[Int, (Seq[Path], Int)]
  private val stmtCount = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val totals = mutable.Map.empty[(Int, Int), (Reference.ReportTotals, Int)]

  def setup(dir: Path): Map[String, Double] = {
    val (d, phases) = LedgerData.build(spark, seed, dir)
    data = d
    // seeding already imported into an existing store; one report makes
    // sure no measured visit is the JVM's first report either
    val (_, w) = Workload.timed(report(new Tracer(spark, enabled = false), 0, years.last))
    phases + ("warmup" -> (phases("warmup") + w))
  }

  private def userOf(i: Int): Int = math.floorMod(i, users.size)
  private def yearOf(i: Int): Int =
    years(math.floorMod(math.floorDiv(i, users.size) + yearOffset(userOf(i)), years.size))

  private def expected(u: Int, y: Int): (Reference.ReportTotals, Int) =
    totals.getOrElseUpdate((u, y),
      (Reference.reportTotals(data.rows(u), y), data.rows(u).count(_.year == y)))

  override def prepare(i: Int): Unit = {
    val u = userOf(i)
    pending(i) = data.nextStatement(u, stmtCount(u))
    stmtCount(u) += 1
    expected(u, yearOf(i))
    ()
  }

  private def report(tr: Tracer, u: Int, y: Int): (String, Array[Row], Array[Row]) = {
    val loaded = tr.layer("finance.store.load") { Store.load(spark, data.store(u)) }
    val pc = Categorizer.addCat(loaded)
    val html = tr.span("finance.report.render") {
      Report.render(pc, y, Seq("Wohnung (AfA)" -> 250000.0), 50, 13.0 / 110.0)
    }
    val unc = tr.span("finance.analysis.uncategorized") { Analysis.uncategorized(pc, y).collect() }
    val cum = tr.span("finance.analysis.cumsum") { Analysis.uncategorizedCumsum(pc, y).collect() }
    graft.CacheHandles.releaseAll()
    (html, unc, cum)
  }

  def op(i: Int, tr: Tracer): Done = {
    val (u, y) = (userOf(i), yearOf(i))
    val (files, n) = pending.remove(i).get
    val before = data.counts(u)
    val total = data.ingest(tr, u, files)
    val (html, unc, cum) = report(tr, u, y)
    val (t, reported) = expected(u, y)
    tr.note("finance.ingcsv.rows", n)
    if (tr.enabled) {
      tr.note("finance.store.dup_ratio", 1.0 - (total - before).toDouble / n)
      tr.note("finance.store.new_rows", (total - before).toDouble)
      tr.note("finance.analysis.rows_returned",
        unc.length + cum.length + "<tr".r.findAllMatchIn(html).size)
    }
    Done(n + reported, () =>
      total == data.expectedRows(u) && LedgerSession.verify(html, unc, cum, t))
  }

  /** The stores the window wrote: fingerprints unique, categories right. */
  override def finish(ops: Seq[Int]): Set[Int] = {
    val bad = ops.map(userOf).distinct
      .filterNot(u => scala.util.Try(data.verifyStore(u)).getOrElse(false)).toSet
    ops.filter(i => bad.contains(userOf(i))).toSet
  }

  def storeBytesPerRow: Double = data.bytesPerRow(users)

  def layers(rep: TraceReport): Map[String, Double] = {
    val (written, bytes) = rep.written("finance.store.save")
    val newRows = rep.noteMean("finance.store.new_rows")
    val returned = rep.noteSum("finance.analysis.rows_returned")
    val (scanned, _) = rep.scanned(Set("finance.store.load", "finance.report.render",
      "finance.analysis.uncategorized", "finance.analysis.cumsum"))
    val render = "finance.report.render"
    val income = rep.queryMs(render, Seq("cat", "category_sum"))
    val expense = rep.queryMs(render, Seq("cat", "category_sum", "giro", "gesa", "common"))
    val office = rep.queryMs(render, Seq("position", "gesamtkosten", "raumkosten"))
    Map(
      "finance.ingcsv.parse_ms" -> rep.layerMs("finance.ingcsv.read"),
      "finance.ingcsv.rows" -> rep.noteMean("finance.ingcsv.rows"),
      "finance.categorizer.ms" -> rep.layerMs("finance.categorizer.pipeline"),
      "finance.categorizer.hit_ratio" -> rep.noteMean("finance.categorizer.hit_ratio"),
      "finance.store.merge_ms" -> (rep.layerMs("finance.store.import_batch") +
        rep.layerMs("finance.store.upsert")),
      "finance.store.save_ms" -> rep.layerMs("finance.store.save"),
      "finance.store.dup_ratio" -> rep.noteMean("finance.store.dup_ratio"),
      "finance.store.rows_written_per_new_row" ->
        (if (newRows > 0) written / newRows else 0.0),
      "finance.store.bytes_written" -> bytes,
      "finance.store.load_ms" -> rep.layerMs("finance.store.load"),
      "finance.analysis.uncategorized_ms" -> rep.layerMs("finance.analysis.uncategorized"),
      "finance.analysis.income_overview_ms" -> income,
      "finance.analysis.expense_overview_ms" -> expense,
      "finance.analysis.home_office_ms" -> office,
      "finance.analysis.cumsum_ms" -> rep.layerMs("finance.analysis.cumsum"),
      "finance.analysis.rows_scanned_per_row_returned" ->
        (if (returned > 0) scanned / returned else 0.0),
      "finance.report.render_ms" ->
        math.max(0.0, rep.layerMs(render) - income - expense - office))
  }
}

object LedgerSession {
  private def cents(d: Double): Long = math.round(d * 100)

  /** The report's two 'Overall Sum' rows and the uncategorized listing
    * against sums the benchmark computes itself over the generated rows.
    */
  def verify(html: String, unc: Array[Row], cum: Array[Row],
      t: Reference.ReportTotals): Boolean = {
    import Reference.eur
    val incomeRow = s"""<tr class="total"><td>Overall Sum</td><td class="num">${eur(t.incomeCents)}</td></tr>"""
    val expenseRow = s"""<tr class="total"><td>Overall Sum</td><td class="num">${eur(t.expenseCents)}</td>""" +
      Seq("giro", "gesa", "common").map(a =>
        s"""<td class="num">${eur(t.expenseByAccount(a))}</td>""").mkString + "</tr>"
    val amounts = unc.map(r => cents(r.getAs[Double]("amount"))).sorted.toSeq
    val prefix = t.uncategorized.scanLeft(0L)(_ + _).tail.sorted
    val curve = cum.map(r => cents(r.getAs[Double]("cumulative_sum"))).sorted.toSeq
    html.contains(incomeRow) && html.contains(expenseRow) &&
      amounts == t.uncategorized && curve == prefix
  }
}
