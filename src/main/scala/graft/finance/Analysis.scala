package graft.finance

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's analysis query library
  * (/root/reference/panda_analysis.py), parameterized over the categorized
  * transactions DataFrame (`pc`, columns: account, book_date, valuta_date,
  * party, book_text, purpose, transfer_category, amount, balance, cat).
  *
  * Every query is a lazy DataFrame expression — Catalyst pushes the year /
  * account predicates into the store scan and prunes columns; nothing here
  * collects except the intentionally-scalar results (tax sums), which are
  * single-row aggregates.
  *
  * Money sums are exact: every sum adds integer cents
  * ([[Store.cents]] of `amount`) and converts to euros once, at the end.
  * A long sum does not depend on row order, so Catalyst also drops
  * [[Store.load]]'s global sort beneath these aggregates; a `double` sum
  * would keep it.
  */
object Analysis {

  private[finance] val mainAccounts = Seq("giro", "gesa", "common")

  /** Null-safe case-insensitive regex containment — pandas
    * `str.contains(pat, case=False, na=False)`.
    */
  private def containsCiRe(c: Column, pattern: String): Column =
    coalesce(c, lit("")).rlike("(?i)" + pattern)

  /** Q1 (panda_analysis.py:29-53): uncategorized transactions on the main
    * accounts for a year, sorted by amount ascending (most-negative first).
    */
  def uncategorized(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(year(col("book_date")) === yr &&
        col("transfer_category").isNull &&
        col("account").isin(mainAccounts: _*) &&
        col("cat").isNull)
      .withColumn("amount_type",
        when(col("amount") > 0, "Gutschrift").otherwise("Abbuchung"))
      .select("account", "book_date", "party", "purpose", "amount", "cat")
      .orderBy(asc("amount"))

  /** Q2 (panda_analysis.py:64-79): cumulative-sum curve over Q1, in exact
    * cents like every other money sum. One ordered window, in one task: the
    * input is one user's uncategorized rows of one year, a few hundred, so
    * a distributed prefix sum would only add jobs. The order among rows of
    * equal amount is unspecified.
    */
  def uncategorizedCumsum(pc: DataFrame, yr: Int): DataFrame = {
    val running = Window.orderBy(asc("amount"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    uncategorized(pc, yr)
      .withColumn("cumulative_sum", euros(sum(amountCents).over(running)))
  }

  val incomeCats: Seq[String] = Seq(
    "einnahmen::gehalt::andreas", "einnahmen::gehalt::gesa",
    "einnahmen::dividende")

  // The report's row predicates, year-free. The lazy queries filter by
  // them and [[reportSummary]] sums under them, so each report number has
  // exactly one definition.

  private[finance] def inYear(yr: Int): Column = year(col("book_date")) === yr

  private[finance] def isIncome: Column = col("cat").isin(incomeCats: _*)

  /** Expenses exclude intern/einnahmen category prefixes and transfers,
    * main accounts only.
    */
  private[finance] def isExpense: Column =
    !coalesce(col("cat"), lit("")).startsWith("intern") &&
      !coalesce(col("cat"), lit("")).startsWith("einnahmen") &&
      col("transfer_category").isNull &&
      col("account").isin(mainAccounts: _*)

  private[finance] def isElectricity: Column =
    containsCiRe(col("party"), "Naturstrom")

  private[finance] def isHousingFee: Column = col("cat") === "wohnen::wohngeld"

  private[finance] def isPropertyTax: Column =
    col("amount") < 0 && containsCiRe(col("purpose"), "Grundst")

  private[finance] def isLoanPayment: Column =
    col("account") === "common" &&
      coalesce(col("purpose"), lit("")).contains("Darl.-Leistung")

  /** `amount` as exact integer cents — the unit every money sum adds. */
  private[finance] def amountCents: Column = Store.cents(col("amount"))

  /** A cents sum as euros. */
  private[finance] def euros(cents: Column): Column = cents / 100.0

  /** Q17's per-row value: the "Zinsen 1.234,56" part of a loan payment's
    * purpose ("... Tilgung 898,22 Zinsen 140,12") as exact cents — the
    * digits with the German separators removed (the pattern pins exactly
    * two decimals). NULL on other rows and on a loan payment without a
    * Zinsen part, which `sum` then skips, like pandas' NaN from `extract`.
    * `try_cast`, not `cast`: ANSI mode throws on the empty extract.
    */
  private[finance] def loanInterestCents: Column = {
    val zinsen = regexp_extract(col("purpose"), "Zinsen\\s+([\\d.]+,\\d{2})", 1)
    when(isLoanPayment, regexp_replace(zinsen, "[.,]", "").try_cast("long"))
  }

  /** Q3 (panda_analysis.py:83-96): income transactions for a year. */
  def income(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(inYear(yr) && isIncome)

  /** Q4 (panda_analysis.py:100-122): per-category income sums + an
    * 'Overall Sum' grand-total row (0 for a year without income, as the
    * pandas sum of an empty frame).
    */
  def incomeOverview(pc: DataFrame, yr: Int): DataFrame = {
    val in = income(pc, yr)
    val byCat = in.groupBy("cat").agg(euros(sum(amountCents)).as("category_sum"))
    val total = in.agg(lit("Overall Sum").as("cat"),
      euros(coalesce(sum(amountCents), lit(0L))).as("category_sum"))
    byCat.orderBy("cat").unionByName(total)
  }

  /** Q5 (panda_analysis.py:126-144): expenses for a year — excludes intern/
    * einnahmen category prefixes and transfers, main accounts only.
    */
  def expenses(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(inYear(yr) && isExpense)

  /** Q6 (panda_analysis.py:148-190): expense overview pivoted by account,
    * with per-category totals and an 'Overall Sum' row (zeros for a year
    * without expenses). The reference's groupby+unstack+map dance is a
    * single groupBy+pivot here.
    */
  def expenseOverview(pc: DataFrame, yr: Int): DataFrame = {
    val ex = expenses(pc, yr)
      .withColumn("cat", coalesce(col("cat"), lit("Uncategorized")))
      .withColumn("graft_cents", amountCents)
    val pivoted = ex.groupBy("cat")
      .pivot("account", mainAccounts)
      .agg(sum("graft_cents"))
      .na.fill(0L, mainAccounts)
    val withTotal = ex.groupBy("cat").agg(sum("graft_cents").as("category_sum"))
      .join(pivoted, Seq("cat"))
    val overall = ex.agg(
      lit("Overall Sum").as("cat"),
      coalesce(sum("graft_cents"), lit(0L)).as("category_sum") +:
      mainAccounts.map(a => coalesce(sum(when(col("account") === a,
        col("graft_cents"))), lit(0L)).as(a)): _*)
    val columns = ("category_sum" +: mainAccounts).map(c => euros(col(c)).as(c))
    withTotal.select(col("cat") +: columns: _*).orderBy("cat")
      .unionByName(overall.select(col("cat") +: columns: _*))
  }

  /** Q7 (panda_analysis.py:193-198): giro credits for a year. */
  def giroCredits(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(col("account") === "giro" && col("amount") > 0 &&
      year(col("book_date")) === yr)

  /** Q8 (panda_analysis.py:202-211): legal costs — case-insensitive regex
    * OR-containment across party/purpose.
    */
  def legalCosts1(pc: DataFrame): DataFrame =
    pc.filter(containsCiRe(col("party"), "KNH|zirngibl") ||
      containsCiRe(col("purpose"), "KNH|zirngibl"))

  /** Q9 (panda_analysis.py:214-223): legal costs #2 — category prefix OR
    * party/purpose containment.
    */
  def legalCosts2(pc: DataFrame): DataFrame =
    pc.filter(coalesce(col("cat"), lit("")).startsWith("anwalt") ||
      containsCiRe(col("purpose"), "luig") ||
      containsCiRe(col("party"), "liu"))

  /** Q10/Q11 (panda_analysis.py:227-245): cleaning expenses in an open
    * (start, end) book_date interval on the common account.
    */
  def cleaningCosts(pc: DataFrame, start: String, end: String): DataFrame =
    pc.filter(col("account") === "common" &&
      col("book_date") > to_date(lit(start)) &&
      col("book_date") < to_date(lit(end)) &&
      col("cat") === "wohnen::putzen")

  /** Q12 (panda_analysis.py:249-259): loan payments with both a
    * case-insensitive 'Tilgung' and case-SENSITIVE 'Leistung' containment.
    */
  def loanPayments(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(year(col("book_date")) === yr && col("account") === "common" &&
      containsCiRe(col("purpose"), "Tilgung") &&
      coalesce(col("purpose"), lit("")).contains("Leistung"))

  /** Q13-Q16 (panda_analysis.py:262-297): scalar cost sums for the
    * home-office deduction. Each returns a 1-row (label, total) frame.
    */
  def scalarSum(df: DataFrame, label: String): DataFrame =
    df.agg(lit(label).as("position"),
      coalesce(euros(sum(amountCents)), lit(0.0)).as("total"))

  def electricity(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(isElectricity && inYear(yr))

  def housingFees(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(isHousingFee && inYear(yr))

  def propertyTax(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(inYear(yr) && isPropertyTax)

  def mobilePhone(pc: DataFrame, yr: Int, needle: String): DataFrame =
    pc.filter(inYear(yr) &&
      coalesce(col("purpose"), lit("")).contains(needle))

  /** Q17 (panda_analysis.py:351-354): loan INTEREST extracted from free-text
    * purpose ([[loanInterestCents]]) and summed.
    */
  def loanInterest(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(inYear(yr) && isLoanPayment)
      .agg(coalesce(euros(sum(loanInterestCents)), lit(0.0)).as("total"))

  /** The year's report in one pass: per (cat, account), the cents sums
    * under each report predicate — NULL where no row of the group
    * matches it. [[Report]] builds all three tables from these rows on
    * the driver; they are bounded by #categories × #accounts, not by
    * data volume. Every aggregate is a long sum, so Catalyst removes
    * [[Store.load]]'s sort and the store is scanned once, unsorted.
    */
  def reportSummary(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(inYear(yr)).groupBy("cat", "account").agg(
      sum(when(isIncome, amountCents)).as("income_cents"),
      sum(when(isExpense, amountCents)).as("expense_cents"),
      sum(when(isElectricity, amountCents)).as("electricity_cents"),
      sum(when(isHousingFee, amountCents)).as("housing_cents"),
      sum(when(isPropertyTax, amountCents)).as("property_tax_cents"),
      sum(loanInterestCents).as("loan_interest_cents"))

  /** Q18-Q20 (panda_analysis.py:386-450): home-office deduction table — AfA
    * rows (constants ÷ depreciation years) unioned with the year's running
    * costs, all scaled by the office area ratio. Constants live in tiny
    * local DataFrames; the running costs are 1-row aggregates — the join is
    * a broadcast of literally a handful of rows.
    */
  def homeOfficeReport(
      pc: DataFrame, yr: Int,
      afaCosts: Seq[(String, Double)], afaYears: Int,
      officeRatio: Double): DataFrame = {
    val spark = pc.sparkSession
    import spark.implicits._
    val afa = afaCosts.toDF("position", "cost")
      .select(col("position"), (col("cost") / afaYears).as("gesamtkosten"))
    val running = Seq(
      loanInterest(pc, yr).select(lit("Darlehenszinsen").as("position"),
        col("total").as("gesamtkosten")),
      scalarSum(electricity(pc, yr), "Stromkosten")
        .select(col("position"), (-col("total")).as("gesamtkosten")),
      scalarSum(housingFees(pc, yr), "Hausgeld")
        .select(col("position"), (-col("total")).as("gesamtkosten")),
      scalarSum(propertyTax(pc, yr), "Grundsteuer")
        .select(col("position"), (-col("total")).as("gesamtkosten")))
      .reduce(_ unionByName _)
    afa.unionByName(running)
      .withColumn("raumkosten", col("gesamtkosten") * officeRatio)
  }
}
