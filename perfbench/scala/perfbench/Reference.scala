package perfbench

import java.util.Locale

import graft.finance.CategoryRuleTable

/** Plain-Scala restatements of the program's semantics, used only to check
  * its outputs: the last-writer-wins rule cascade plus the five special
  * rules, the transfer cascade, and the report totals.
  */
object Reference {

  private def lc(s: String): String =
    if (s == null) "" else s.toLowerCase(Locale.ROOT)

  private val rules = CategoryRuleTable.categoryRules.map(r => (r, lc(r.pattern)))
  private val transferRules = CategoryRuleTable.transferRules.map(r => (r, lc(r.pattern)))

  /** `category` of a row that had none before: the last matching table
    * rule, then the special rules in order, each overriding the last.
    */
  def category(account: String, party: String, bookText: String,
      purpose: String, cents: Long): String = {
    val text = Map("party" -> lc(party), "purpose" -> lc(purpose),
      "book_text" -> lc(bookText))
    var cat: String = null
    rules.foreach { case (r, p) =>
      if (text(r.attribute).contains(p) && r.accountScope.forall(_ == account))
        cat = r.category
    }
    if (text("party").contains("visa apple.com/bill") && cents > -5000) cat = "media"
    if (account == "gesa" && bookText == "Gehalt/Rente") cat = "einnahmen::gehalt::gesa"
    if (account == "giro" && (party == "Kreuzwerker" || party == "ANDREAS EDMOND PROFOUS"))
      cat = "einnahmen::gehalt::andreas"
    if (account == "giro" && text("purpose").contains("smartbroker") && cents > 0)
      cat = "einnahmen::dividende"
    if (text("party").contains("finanzamt charlottenburg") && bookText == "Gutschrift")
      cat = "einnahmen::steuererstattung"
    cat
  }

  /** `transfer_category`: the extra-account pre-rule, then the cascade. */
  def transfer(account: String, purpose: String, cents: Long): String = {
    var t: String = if (cents < 0 && account == "extra") "extra::giro" else null
    val p = lc(purpose)
    transferRules.foreach { case (r, pat) => if (p.contains(pat)) t = r.category }
    t
  }

  private val catMemo =
    scala.collection.mutable.HashMap.empty[(String, String, String, String, Int), String]

  /** [[category]] memoized on everything it reads: the amount only
    * matters through its sign and the -50 € threshold.
    */
  def categoryOf(t: Gen.Tx): String =
    catMemo.getOrElseUpdate((t.account, t.party, t.bookText, t.purpose,
        (if (t.cents > 0) 2 else 0) + (if (t.cents > -5000) 1 else 0)),
      category(t.account, t.party, t.bookText, t.purpose, t.cents))

  private val mainAccounts = Set("giro", "gesa", "common")

  /** Expected figures of one (user, year) report, exact in cents. */
  final case class ReportTotals(incomeCents: Long, expenseCents: Long,
      expenseByAccount: Map[String, Long], uncategorized: Seq[Long])

  def reportTotals(rows: Iterable[Gen.Tx], year: Int): ReportTotals = {
    val inYear = rows.filter(_.year == year).map(t => (t, categoryOf(t),
      transfer(t.account, t.purpose, t.cents)))
    val income = inYear.collect {
      case (t, c, _) if graft.finance.Analysis.incomeCats.contains(c) => t.cents
    }.sum
    val expenses = inYear.filter { case (t, c, tr) =>
      val cat = if (c == null) "" else c
      !cat.startsWith("intern") && !cat.startsWith("einnahmen") && tr == null &&
        mainAccounts.contains(t.account)
    }.map(_._1)
    val unc = inYear.collect {
      case (t, null, null) if mainAccounts.contains(t.account) => t.cents
    }
    ReportTotals(income, expenses.map(_.cents).sum,
      Seq("giro", "gesa", "common").map(a =>
        a -> expenses.filter(_.account == a).map(_.cents).sum).toMap,
      unc.toSeq.sorted)
  }

  /** The report's German amount format ("-1.234,56"). */
  def eur(cents: Long): String = {
    val nf = java.text.NumberFormat.getNumberInstance(Locale.GERMANY)
    nf.setMinimumFractionDigits(2)
    nf.setMaximumFractionDigits(2)
    nf.setGroupingUsed(true)
    nf.format(cents / 100.0)
  }
}
