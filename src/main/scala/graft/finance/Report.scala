package graft.finance

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}

/** Self-contained HTML report sink — the downstream artifact the reference
  * pipeline feeds (/root/reference/reports/finanzberatung-report.html, a
  * sectioned document of numbered headings + right-aligned numeric tables
  * with a bold total row, built from panda_analysis.py's queries).
  *
  * Same structure, original markup: numbered sections each holding one
  * table; the three tables are the year's income overview
  * ([[Analysis.incomeOverview]]), the account-pivoted expense overview
  * ([[Analysis.expenseOverview]]) and the home-office deduction
  * ([[Analysis.homeOfficeReport]], panda_analysis.py:386-450). Amounts are
  * German-formatted ("1.234,56"), values HTML-escaped, no external assets —
  * one file a tax advisor can open offline.
  *
  * The report is ONE aggregate pass over the year ([[Analysis.reportSummary]]:
  * exact-cents sums per category and account under each report predicate),
  * collected once — bounded by #categories × #accounts rows — and shaped
  * into the three tables on the driver. The numbers equal the collected
  * lazy queries row for row (ReportSpec); what the single pass saves is
  * their nine store scans, the sort of [[Store.load]] under each, and most
  * of their Spark jobs (18 → 2 per render in the ledger benchmark on 4
  * cores).
  */
object Report {

  private val css =
    """body{font-family:sans-serif;margin:0;background:#f4f5f7;color:#222}
      |main{max-width:860px;margin:0 auto;padding:32px 20px}
      |h1{font-size:26px;margin-bottom:2px}
      |p.when{color:#667;font-size:13px;margin-top:0}
      |section{background:#fff;border:1px solid #dde;border-radius:10px;
      |padding:18px 22px;margin:18px 0}
      |h2{font-size:18px;margin:0 0 10px}
      |h2 em.no{font-style:normal;color:#364;background:#e7f0ea;
      |border-radius:6px;padding:1px 8px;margin-right:8px;font-size:14px}
      |table{width:100%;border-collapse:collapse;font-size:14px}
      |th,td{padding:7px 9px;border-bottom:1px solid #e5e8ee;text-align:left}
      |th{color:#667;font-size:12px;text-transform:uppercase}
      |td.num,th.num{text-align:right;font-variant-numeric:tabular-nums}
      |tr.total td{font-weight:bold;border-top:2px solid #222;border-bottom:0}
      |""".stripMargin

  private[finance] def esc(s: String): String =
    Option(s).getOrElse("").replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")

  /** German amount format, deterministic: "-1.234,56". */
  private[finance] def eur(v: Double): String = {
    val nf = java.text.NumberFormat.getNumberInstance(java.util.Locale.GERMANY)
    nf.setMinimumFractionDigits(2)
    nf.setMaximumFractionDigits(2)
    nf.setGroupingUsed(true)
    nf.format(v)
  }

  /** Render one table: (header, isNumeric) columns + string/double rows;
    * rows whose first cell equals `totalLabel` get the bold total style.
    */
  private def table(cols: Seq[(String, Boolean)], rows: Seq[Seq[Any]],
      totalLabel: String = "Overall Sum"): String = {
    val head = cols.map { case (h, num) =>
      s"""<th${if (num) " class=\"num\"" else ""}>${esc(h)}</th>""" }
      .mkString
    val body = rows.map { r =>
      val cls = if (r.headOption.contains(totalLabel)) " class=\"total\"" else ""
      val cells = r.zip(cols).map {
        case (v: Double, (_, _)) => s"""<td class="num">${eur(v)}</td>"""
        case (null, _)           => "<td></td>"
        case (v, _)              => s"<td>${esc(v.toString)}</td>"
      }.mkString
      s"<tr$cls>$cells</tr>"
    }.mkString("\n")
    s"<table><thead><tr>$head</tr></thead>\n<tbody>\n$body\n</tbody></table>"
  }

  private def section(no: Int, title: String, html: String): String =
    s"""<section><h2><em class="no">$no</em>${esc(title)}</h2>\n$html\n</section>"""

  /** The report sink's COLLECT CONTRACT, enforced: the collected frame
    * is an AGGREGATE — row count bounded by the category vocabulary
    * (~dozens) per account, never by data volume. A future schema change
    * that accidentally turns it into a row-level frame would otherwise
    * become a silent driver-side data-volume collect; fail loudly
    * instead. */
  private def boundedCollect(df: DataFrame): Array[Row] = {
    val limit = 1000 * TransactionSchema.ibanAccountMap.values.toSet.size
    val rows = df.collect()
    require(rows.length <= limit,
      s"report sink: collected ${rows.length} summary rows — this frame " +
        "must stay a category-level aggregate (bounded by the category " +
        "vocabulary), not a row-level collect")
    rows
  }

  /** A report's three tables as rendered, before formatting: (category,
    * sum) income rows, (category, sum, giro, gesa, common) expense rows —
    * both categories alphabetical, the 'Overall Sum' row last — and
    * (position, gesamtkosten, raumkosten) office rows in presentation
    * order: AfA entries as given, then the running costs.
    */
  private[finance] final case class Tables(
      income: Seq[Seq[Any]], expense: Seq[Seq[Any]], office: Seq[Seq[Any]])

  /** Build the year's tables from one collected [[Analysis.reportSummary]].
    * Ordering is imposed here, on the driver, never inherited from a plan —
    * the report is byte-golden-tested. Cents add up as longs and turn into
    * euros once per cell, so every cell equals the lazy query's value.
    */
  private[finance] def tables(pc: DataFrame, yr: Int,
      afaCosts: Seq[(String, Double)], afaYears: Int,
      officeRatio: Double): Tables = {
    val summary = boundedCollect(Analysis.reportSummary(pc, yr)).toSeq
    def euros(cents: Long): Double = cents / 100.0
    /** (cat, account, cents) of the groups where `column`'s sum is set. */
    def matched(column: String): Seq[(String, String, Long)] =
      summary.flatMap(r => Option(r.getAs[java.lang.Long](column)).map(c =>
        (r.getAs[String]("cat"), r.getAs[String]("account"), c.longValue)))
    def total(rows: Seq[(String, String, Long)]): Long = rows.map(_._3).sum

    val incomeRows = matched("income_cents")
    val income = incomeRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cat, rows) => Seq[Any](cat, euros(total(rows))) } :+
      Seq[Any]("Overall Sum", euros(total(incomeRows)))

    val expenseRows = matched("expense_cents")
    def byAccount(rows: Seq[(String, String, Long)]): Seq[Double] =
      euros(total(rows)) +:
        Analysis.mainAccounts.map(a => euros(total(rows.filter(_._2 == a))))
    val expense = expenseRows.groupBy(r => Option(r._1).getOrElse("Uncategorized"))
      .toSeq.sortBy(_._1)
      .map { case (cat, rows) => cat +: byAccount(rows) } :+
      ("Overall Sum" +: byAccount(expenseRows))

    def cost(column: String): Double = euros(total(matched(column)))
    val office = (afaCosts.map { case (position, c) => position -> c / afaYears } ++ Seq(
      "Darlehenszinsen" -> cost("loan_interest_cents"),
      "Stromkosten" -> -cost("electricity_cents"),
      "Hausgeld" -> -cost("housing_cents"),
      "Grundsteuer" -> -cost("property_tax_cents")))
      .map { case (position, g) => Seq[Any](position, g, g * officeRatio) }
    Tables(income, expense, office)
  }

  /** Build the full report document for a year. `pc` is the categorized
    * store frame (post-[[Categorizer.addCat]]).
    */
  def render(pc: DataFrame, yr: Int,
      afaCosts: Seq[(String, Double)], afaYears: Int,
      officeRatio: Double): String = {
    val Tables(income, expense, office) =
      tables(pc, yr, afaCosts, afaYears, officeRatio)
    val officeTotal = Seq[Any]("Overall Sum",
      office.map(_(1).asInstanceOf[Double]).sum,
      office.map(_(2).asInstanceOf[Double]).sum)

    s"""<!DOCTYPE html>
       |<html lang="de">
       |<head>
       |<meta charset="utf-8">
       |<title>Finanzübersicht $yr</title>
       |<style>
       |$css</style>
       |</head>
       |<body><main>
       |<header><h1>Finanzübersicht $yr</h1>
       |<p class="when">pandacount-spark · Berichtsjahr $yr</p></header>
       |${section(1, s"Einnahmen $yr", table(
            Seq("Kategorie" -> false, "Summe" -> true), income))}
       |${section(2, s"Ausgaben $yr", table(
            Seq("Kategorie" -> false, "Summe" -> true, "giro" -> true,
              "gesa" -> true, "common" -> true), expense))}
       |${section(3, s"Arbeitszimmer $yr (Anteil ${eur(officeRatio * 100)} %)",
          table(Seq("Position" -> false, "Gesamtkosten" -> true,
            "Raumkosten" -> true), office :+ officeTotal))}
       |<footer><p class="when">Erzeugt aus dem Transaktions-Store ·
       |alle Beträge in EUR</p></footer>
       |</main></body>
       |</html>
       |""".stripMargin
  }

  /** Render and write the report file (UTF-8). */
  def write(pc: DataFrame, yr: Int, path: String,
      afaCosts: Seq[(String, Double)] = Seq("Wohnung (AfA)" -> 250000.0),
      afaYears: Int = 50, officeRatio: Double = 13.0 / 110.0): Unit =
    Files.writeString(Paths.get(path), render(pc, yr, afaCosts, afaYears,
      officeRatio))
}
