package graft.finance

import java.nio.file.Files
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** [[Report.render]] builds its tables from one aggregate pass; these specs
  * pin that it still says exactly what the lazy [[Analysis]] queries say,
  * and that it stays one unsorted store scan.
  */
class ReportSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val afa = Seq("Wohnung (AfA)" -> 250000.0, "Küche (AfA)" -> 12000.0)
  private val ratio = 13.0 / 110.0

  // store layout: account, book_date, party, purpose, transfer_category,
  // amount_cents, category
  private val rows = Seq(
    // 2024: every report signal, on every account
    ("giro", "2024-01-15", "Arbeitgeber", "Gehalt", null, 350000L, "einnahmen::gehalt::andreas"),
    ("gesa", "2024-02-15", "Uni", "Gehalt", null, 280050L, "einnahmen::gehalt::gesa"),
    // income has no account filter: the extra account counts
    ("extra", "2024-03-01", "Broker", "Dividende", null, 10L, "einnahmen::dividende"),
    ("extra", "2024-03-02", "Broker", "Dividende", null, 20L, "einnahmen::dividende"),
    // 0.1 + 0.2 + 0.4: a double sum lands off the cent grid
    ("giro", "2024-03-03", "Broker", "Dividende", null, 40L, "einnahmen::dividende"),
    // present on giro only: the pivot fills gesa/common with 0
    ("giro", "2024-03-04", "REWE", "Einkauf", null, -5432L, "einkaufen"),
    ("giro", "2024-03-05", "REWE", "Einkauf", null, -1L, "einkaufen"),
    // sums to exactly 0 across two accounts, through inexact doubles
    ("gesa", "2024-03-06", "Laden", "Rueckgabe", null, 10L, "kleinkram"),
    ("giro", "2024-03-07", "Laden", "Kauf", null, 20L, "kleinkram"),
    ("common", "2024-03-08", "Laden", "Kauf", null, -30L, "kleinkram"),
    // null cat: 'Uncategorized' in the expenses
    ("giro", "2024-04-01", "Unbekannt", "offen", null, -500L, null),
    ("common", "2024-04-02", "Unbekannt", "offen", null, -133L, null),
    // a transfer and a non-main account: neither is an expense
    ("giro", "2024-04-03", "Ich", "Umbuchung", "extra::giro", -50000L, null),
    ("extra", "2024-04-04", "Laden", "Kauf", null, -999L, "einkaufen"),
    ("common", "2024-04-05", "Naturstrom AG", "Abschlag", null, -8900L, "wohnen::strom"),
    ("giro", "2024-04-06", "NATURSTROM", "Nachzahlung", null, -1234L, "wohnen::strom"),
    ("common", "2024-04-07", "WEG", "Wohngeld", null, -32000L, "wohnen::wohngeld"),
    ("common", "2024-04-08", "Stadt", "Grundsteuer Q2 Grundst.", null, -15000L, "wohnen"),
    ("common", "2024-04-09", "Stadt", "Grundst. Erstattung", null, 2000L, "wohnen"),
    ("common", "2024-05-01", "Bank", "Darl.-Leistung Tilgung 898,22 Zinsen 140,12", null, -103834L, "wohnen::rate"),
    ("common", "2024-06-01", "Bank", "Darl.-Leistung Tilgung 900,00 Zinsen 1.138,40", null, -203840L, "wohnen::rate"),
    // a loan payment without a Zinsen part contributes no interest
    ("common", "2024-07-01", "Bank", "Darl.-Leistung Tilgung 500,00", null, -50000L, "wohnen::rate"),
    // loan interest is read on the common account only
    ("giro", "2024-07-02", "Bank", "Darl.-Leistung Zinsen 1,00", null, -100L, "wohnen::rate"),
    ("gesa", "2024-08-01", "intern", "Umbuchung", null, 700L, "intern::umbuchung"),
    // 2023: no Naturstrom, Wohngeld or Grundst rows, a Zinsen-less loan only
    ("giro", "2023-01-15", "Arbeitgeber", "Gehalt", null, 340000L, "einnahmen::gehalt::andreas"),
    ("giro", "2023-02-01", "REWE", "Einkauf", null, -7000L, "einkaufen"),
    ("common", "2023-05-01", "Bank", "Darl.-Leistung Tilgung 898,22", null, -89822L, "wohnen::rate"),
    // 2025: expenses only, no income
    ("gesa", "2025-01-02", "REWE", "Einkauf", null, -1999L, "einkaufen"),
    ("common", "2025-01-03", "Naturstrom AG", "Abschlag", null, -9100L, "wohnen::strom"))

  private lazy val storePath: String = {
    val path = Files.createTempDirectory("reportspec").resolve("tx.parquet").toString
    val df = rows.map { case (a, d, p, u, t, c, cat) =>
      (a, Date.valueOf(d), Date.valueOf(d), p, "Lastschrift", u, c, 0L, t, cat,
        null: String)
    }.toDF("account", "book_date", "valuta_date", "party", "book_text",
      "purpose", "amount_cents", "balance_cents", "transfer_category",
      "category", "category_manual")
    Store.save(df, path)
    path
  }

  private def loaded: DataFrame =
    Categorizer.addCat(Store.load(spark, storePath))

  /** The three tables as the report rendered them from the separate lazy
    * queries: collected rows, categories sorted on the driver with the
    * 'Overall Sum' row last, office positions in presentation order.
    */
  private def fromLazyQueries(pc: DataFrame, yr: Int): Report.Tables = {
    def stable(rows: Array[Seq[Any]]): Seq[Seq[Any]] = {
      val (total, cats) = rows.partition(_.head == "Overall Sum")
      (cats.sortBy(_.head.asInstanceOf[String]) ++ total).toSeq
    }
    val income = stable(Analysis.incomeOverview(pc, yr).collect()
      .map(r => Seq[Any](r.getAs[String]("cat"), r.getAs[Double]("category_sum"))))
    val expense = stable(Analysis.expenseOverview(pc, yr).collect()
      .map(r => Seq[Any](r.getAs[String]("cat"), r.getAs[Double]("category_sum"),
        r.getAs[Double]("giro"), r.getAs[Double]("gesa"), r.getAs[Double]("common"))))
    val order = (afa.map(_._1) ++
      Seq("Darlehenszinsen", "Stromkosten", "Hausgeld", "Grundsteuer")).zipWithIndex.toMap
    val office = Analysis.homeOfficeReport(pc, yr, afa, 50, ratio).collect()
      .map(r => Seq[Any](r.getAs[String]("position"),
        r.getAs[Double]("gesamtkosten"), r.getAs[Double]("raumkosten")))
      .sortBy(r => order(r.head.asInstanceOf[String])).toSeq
    Report.Tables(income, expense, office)
  }

  /** Doubles as their bit patterns: equality down to the last ulp and the
    * sign of zero, which `==` on doubles ignores.
    */
  private def exact(t: Report.Tables): Seq[Seq[Seq[Any]]] =
    Seq(t.income, t.expense, t.office).map(_.map(_.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }))

  test("render's tables equal the collected lazy income, expense and " +
      "home-office queries") {
    for (yr <- 2022 to 2025) {
      val got = Report.tables(loaded, yr, afa, 50, ratio)
      assert(exact(got) === exact(fromLazyQueries(loaded, yr)), s"year $yr")
    }
    val t = Report.tables(loaded, 2024, afa, 50, ratio)
    val income = t.income.map(r => r.head -> r(1)).toMap
    assert(income("einnahmen::dividende") === 0.7)
    assert(income("Overall Sum") === 6301.2)
    val expense = t.expense.map(r => r.head -> r.tail).toMap
    assert(expense("einkaufen") === Seq(-54.33, -54.33, 0.0, 0.0))
    assert(expense("kleinkram") === Seq(0.0, 0.2, 0.1, -0.3))
    assert(expense("Uncategorized") === Seq(-6.33, -5.0, 0.0, -1.33))
    val office = t.office.map(r => r.head -> r(1)).toMap
    assert(office("Darlehenszinsen") === 1278.52)
    assert(office("Stromkosten") === 101.34)
    assert(office("Grundsteuer") === 150.0)
  }

  test("a year without Naturstrom, Wohngeld or Grundst rows prints -0,00 " +
      "for them, as the reference's negated empty sums do") {
    val html = Report.render(loaded, 2023, afa, 50, ratio)
    for (p <- Seq("Stromkosten", "Hausgeld", "Grundsteuer"))
      assert(html.contains(
        s"""<tr><td>$p</td><td class="num">-0,00</td><td class="num">-0,00</td></tr>"""), p)
    // the Zinsen-less loan payment is the year's only loan row
    assert(html.contains(
      """<tr><td>Darlehenszinsen</td><td class="num">0,00</td><td class="num">0,00</td></tr>"""))
    // a year without any rows totals 0, like the reference's empty sums
    val empty = Report.render(loaded, 2022, afa, 50, ratio)
    assert(empty.contains(
      """<tr class="total"><td>Overall Sum</td><td class="num">0,00</td></tr>"""))
    assert(empty.contains("""<tr class="total"><td>Overall Sum</td>""" +
      """<td class="num">0,00</td>""" * 4 + "</tr>"))
  }

  test("render runs one query over the store, with no sort exchange") {
    val pc = loaded
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val done = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { seen.add(qe); done.incrementAndGet(); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = { done.incrementAndGet(); () }
    }
    // a marker query after render: listener delivery is async and ordered,
    // so once the marker arrives every query of render has too
    spark.listenerManager.register(listener)
    try {
      Report.render(pc, 2024, afa, 50, ratio)
      spark.range(1).collect()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val queries = seen.asScala.toSeq.filterNot(isMarker)
    assert(done.get() === queries.size + 1, "a render query failed")
    def plan(qe: QueryExecution): SparkPlan = qe.executedPlan
    val scanning = queries.filter(qe => collect(plan(qe)) {
      case s: FileSourceScanExec => s }.nonEmpty)
    assert(scanning.size === 1,
      s"render scanned the store in ${scanning.size} queries")
    assert(queries.size === 1, s"render ran ${queries.size} queries")
    val rangeExchanges = collect(plan(scanning.head)) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(rangeExchanges.isEmpty, plan(scanning.head).treeString)
  }

  private def isMarker(qe: QueryExecution): Boolean =
    qe.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Range => r
    }.nonEmpty

  test("reportSummary groups per (cat, account) with NULL where no row matches") {
    val s = Analysis.reportSummary(loaded, 2024)
      .filter(col("cat") === "einkaufen").orderBy("account")
      .select("account", "income_cents", "expense_cents").as[(String, Option[Long], Option[Long])]
      .collect().toSeq
    assert(s === Seq(("extra", None, None), ("giro", None, Some(-5433L))))
  }
}
