package graft.finance

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnalysisSpec extends SparkSpec {
  import spark.implicits._

  // pc layout: account, book_date, party, purpose, transfer_category, amount, cat
  private def pc(rows: (String, String, String, String, String, Double, String)*): DataFrame =
    rows.map { case (a, d, p, u, t, m, c) =>
      (a, Date.valueOf(d), Date.valueOf(d), p, null: String, u, t, m, 0.0, c)
    }.toDF("account", "book_date", "valuta_date", "party", "book_text",
      "purpose", "transfer_category", "amount", "balance", "cat")

  private val base = pc(
    ("giro", "2024-03-01", "Kreuzwerker", null, null, 4000.0, "einnahmen::gehalt::andreas"),
    ("gesa", "2024-03-05", "Arbeitgeber", null, null, 2000.0, "einnahmen::gehalt::gesa"),
    ("giro", "2024-04-01", "Broker", "Smartbroker Dividende", null, 55.5, "einnahmen::dividende"),
    ("giro", "2024-04-02", "REWE", null, null, -80.0, "einkaufen"),
    ("common", "2024-04-03", "INES BORNEMANN", null, null, -120.0, "wohnen::putzen"),
    ("giro", "2024-04-04", "Mystery GmbH", null, null, -30.0, null),
    ("extra", "2024-04-05", "X", null, "extra::giro", -500.0, null),
    ("giro", "2023-04-02", "REWE", null, null, -70.0, "einkaufen"),
    ("common", "2024-05-01", "Bank", "Rechnung Darl.-Leistung 607 Tilgung 898,22 Zinsen 140,12", null, -1038.34, "wohnen::rate"),
    ("common", "2024-06-01", "Bank", "Rechnung Darl.-Leistung 607 Tilgung 900,00 Zinsen 1.138,40", null, -2038.40, "wohnen::rate"))

  test("uncategorized: year + main accounts + transfer-null + cat-null, sorted") {
    val out = Analysis.uncategorized(base, 2024).collect()
    assert(out.map(_.getAs[String]("party")).toSeq === Seq("Mystery GmbH"))
  }

  test("income overview sums by category with Overall Sum row") {
    val out = Analysis.incomeOverview(base, 2024)
      .as[(String, Double)].collect().toSeq
    assert(out.contains(("einnahmen::gehalt::andreas", 4000.0)))
    assert(out.contains(("einnahmen::dividende", 55.5)))
    assert(out.last === (("Overall Sum", 6055.5)))
  }

  test("expense overview pivots by account with totals") {
    val out = Analysis.expenseOverview(base, 2024).collect()
    val byCat = out.map(r => r.getAs[String]("cat") -> r).toMap
    assert(byCat("einkaufen").getAs[Double]("giro") === -80.0)
    assert(byCat("einkaufen").getAs[Double]("common") === 0.0)
    assert(byCat("Uncategorized").getAs[Double]("category_sum") === -30.0)
    val overall = byCat("Overall Sum")
    // expenses exclude einnahmen/intern cats, transfers, non-main accounts:
    // -80 - 120 - 30 - 1038.34 - 2038.40
    assert(math.abs(overall.getAs[Double]("category_sum") - (-3306.74)) < 1e-9)
  }

  test("loan interest: regex-extract German amounts from purpose, summed") {
    val out = Analysis.loanInterest(base, 2024).as[Double].head()
    assert(math.abs(out - (140.12 + 1138.40)) < 1e-9)
  }

  test("loan interest: a Darl.-Leistung purpose without a Zinsen part adds nothing") {
    // pandas: `extract` gives NaN for the row and `sum` skips it; a cast of
    // the empty extract would throw CAST_INVALID_INPUT under ANSI mode
    val d = base.unionByName(pc(
      ("common", "2024-07-01", "Bank", "Rechnung Darl.-Leistung 607 Tilgung 500,00", null, -500.0, "wohnen::rate")))
    val out = Analysis.loanInterest(d, 2024).as[Double].head()
    assert(math.abs(out - (140.12 + 1138.40)) < 1e-9)
    val summary = Analysis.reportSummary(d, 2024)
      .agg(sum("loan_interest_cents")).as[Long].head()
    assert(summary === 14012L + 113840L)
    val onlyThatRow = d.filter(col("purpose").endsWith("Tilgung 500,00"))
    assert(Analysis.loanInterest(onlyThatRow, 2024).as[Double].head() === 0.0)
  }

  test("uncategorized cumsum: running sum over amount-ascending order") {
    val multi = pc(
      ("giro", "2024-04-04", "A", null, null, -30.0, null),
      ("giro", "2024-04-05", "B", null, null, -10.0, null),
      ("common", "2024-04-06", "C", null, null, 5.0, null))
    val out = Analysis.uncategorizedCumsum(multi, 2024)
      .select("party", "cumulative_sum").as[(String, Double)].collect().toSeq
    assert(out === Seq(("A", -30.0), ("B", -40.0), ("C", -35.0)))
  }

  test("giro credits: positive amounts on giro for the year only") {
    val out = Analysis.giroCredits(base, 2024)
      .select("party").as[String].collect().toSeq.sorted
    assert(out === Seq("Broker", "Kreuzwerker"))
  }

  test("legal costs 1: ci-regex OR across party/purpose, null-safe") {
    val d = pc(
      ("giro", "2024-01-01", "KNH Rechtsanwälte", null, null, -500.0, null),
      ("giro", "2024-01-02", null, "Zahlung an ZIRNGIBL", null, -200.0, null),
      ("giro", "2024-01-03", "knh", null, null, -1.0, null),
      ("giro", "2024-01-04", null, null, null, -9.0, null),
      ("giro", "2024-01-05", "REWE", "Einkauf", null, -30.0, null))
    val out = Analysis.legalCosts1(d).select("amount").as[Double].collect().toSeq.sorted
    assert(out === Seq(-500.0, -200.0, -1.0).sorted)
  }

  test("legal costs 2: cat-prefix OR purpose 'luig' OR party 'liu'") {
    val d = pc(
      ("giro", "2024-01-01", "X", null, null, -1.0, "anwalt::luig"),
      ("giro", "2024-01-02", "X", "Honorar LUIG", null, -2.0, null),
      ("giro", "2024-01-03", "Dr. Liu & Partner", null, null, -3.0, null),
      ("giro", "2024-01-04", "X", null, null, -4.0, "einkaufen"),
      ("giro", "2024-01-05", null, null, null, -5.0, null))
    val out = Analysis.legalCosts2(d).select("amount").as[Double].collect().toSeq.sorted
    assert(out === Seq(-3.0, -2.0, -1.0))
  }

  test("cleaning costs: OPEN (start, end) interval on common account") {
    val d = pc(
      ("common", "2024-02-01", "P", null, null, -100.0, "wohnen::putzen"), // == start: excluded
      ("common", "2024-02-02", "P", null, null, -110.0, "wohnen::putzen"),
      ("common", "2025-01-31", "P", null, null, -120.0, "wohnen::putzen"),
      ("common", "2025-02-01", "P", null, null, -130.0, "wohnen::putzen"), // == end: excluded
      ("giro",   "2024-06-01", "P", null, null, -140.0, "wohnen::putzen"), // wrong account
      ("common", "2024-06-01", "P", null, null, -150.0, "einkaufen"))      // wrong cat
    val out = Analysis.cleaningCosts(d, "2024-02-01", "2025-02-01")
      .select("amount").as[Double].collect().toSeq.sorted
    assert(out === Seq(-120.0, -110.0))
  }

  test("loan payments: ci 'Tilgung' AND case-SENSITIVE 'Leistung'") {
    val d = pc(
      ("common", "2024-05-01", "B", "Darl.-Leistung TILGUNG 1", null, -1.0, null),
      ("common", "2024-05-02", "B", "Darl.-leistung Tilgung 2", null, -2.0, null), // lowercase l: excluded
      ("common", "2024-05-03", "B", "Leistung ohne das andere Wort", null, -3.0, null),
      ("giro",   "2024-05-04", "B", "Darl.-Leistung Tilgung 4", null, -4.0, null), // wrong account
      ("common", "2024-05-05", "B", null, null, -5.0, null))
    val out = Analysis.loanPayments(d, 2024).select("amount").as[Double].collect().toSeq
    assert(out === Seq(-1.0))
  }

  test("scalar home-office sums: electricity, housing, property tax, mobile") {
    val d = pc(
      ("giro", "2024-01-01", "NATURSTROM AG", null, null, -90.0, null),
      ("giro", "2023-01-01", "Naturstrom", null, null, -80.0, null), // wrong year
      ("common", "2024-01-02", "WEG", null, null, -300.0, "wohnen::wohngeld"),
      ("giro", "2024-01-03", "Stadt", "GRUNDSTEUER Q1", null, -120.0, null),
      ("giro", "2024-01-04", "Stadt", "Grundst.-Erstattung", null, 50.0, null), // positive: excluded
      ("giro", "2024-01-05", "congstar", "Rechnung 2212684943", null, -20.0, null),
      ("giro", "2024-01-06", "congstar", "Rechnung 999", null, -25.0, null))
    def total(q: DataFrame): Double =
      Analysis.scalarSum(q, "x").select("total").as[Double].head()
    assert(total(Analysis.electricity(d, 2024)) === -90.0)
    assert(total(Analysis.housingFees(d, 2024)) === -300.0)
    assert(total(Analysis.propertyTax(d, 2024)) === -120.0)
    assert(total(Analysis.mobilePhone(d, 2024, "2212684943")) === -20.0)
    // empty match coalesces to 0.0, like pandas .sum() on an empty frame
    assert(total(Analysis.electricity(d, 2022)) === 0.0)
  }

  test("home-office report: AfA rows + running costs, area-scaled") {
    val report = Analysis.homeOfficeReport(base, 2024,
      afaCosts = Seq("Kaufsumme" -> 575000.0), afaYears = 50,
      officeRatio = 13.0 / 110.0)
    val rows = report.collect().map(r =>
      r.getAs[String]("position") -> r.getAs[Double]("raumkosten")).toMap
    assert(math.abs(rows("Kaufsumme") - 575000.0 / 50 * 13 / 110) < 1e-9)
    assert(math.abs(rows("Darlehenszinsen") - 1278.52 * 13 / 110) < 1e-6)
  }
}
