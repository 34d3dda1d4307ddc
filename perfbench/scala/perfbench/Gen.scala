package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import graft.finance.{CategoryRuleTable, TransactionSchema}

/** Seeded input generator. Every input the program sees is a file written
  * here; the same seed gives byte-identical files (one `SplittableRandom`
  * per stream, derived from the seed and a fixed salt, and no iteration
  * over unordered collections).
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ salt)

  def write(path: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
  }

  // ------------------------------------------------------------ ledger

  /** One statement row. Dates are epoch days; money is integer cents. */
  final case class Tx(account: String, book: Int, valuta: Int, party: String,
      bookText: String, purpose: String, cents: Long, balance: Long) {
    def key: (String, Int, Int, String, String, String, Long) =
      (account, book, valuta, party, bookText, purpose, cents)
    def year: Int = LocalDate.ofEpochDay(book.toLong).getYear
  }

  /** A merchant: party, booking text and purpose repeat across its rows,
    * amounts and dates vary. `account` pins scoped rules and salaries.
    */
  final case class Template(party: String, bookText: String, purpose: String,
      sign: Int, account: Option[String])

  val accounts: Seq[String] = Seq("giro", "gesa", "common", "extra")
  val iban: Map[String, String] =
    TransactionSchema.ibanAccountMap.map(_.swap)

  /** Share of non-salary rows drawn from rule-matching merchants. */
  val ruleHitShare = 0.6
  /** Rows per account in one monthly statement, and the share of them
    * that repeat the previous statement (overlapping exports).
    */
  val statementRows = 25
  val repeatShare = 0.2
  /** Seeded history spans these years; statements continue after it. */
  val historyYears: Seq[Int] = 2015 to 2024
  /** Store sizes: log-spaced over two orders of magnitude, so the size
    * distribution is heavy-tailed and the same on every seed.
    */
  def storeSizes(users: Int, min: Int, max: Int): Seq[Int] =
    (0 until users).map(i => math.round(min * math.pow(max.toDouble / min,
      i.toDouble / math.max(1, users - 1))).toInt)

  private val expenseTexts = Seq("Lastschrift", "Ueberweisung", "Dauerauftrag",
    "Entgelt")
  private val syllables = Seq("kar", "lin", "dor", "mes", "tal", "ron", "vek",
    "sum", "pal", "ger", "wen", "bru", "fal", "tin", "hos", "mar", "quo", "zel")
  private val fillerPurposes = Seq("Rechnung", "Beitrag", "Monatsabo",
    "Kundennummer", "Bestellung", "Lieferung", "Gebuehr", "Miete Stellplatz",
    "Reparatur", "Vertrag", "Spende", "Abschlag")

  private def fillerWord(r: SplittableRandom): String = {
    val w = (0 until 2 + r.nextInt(2)).map(_ => syllables(r.nextInt(syllables.size))).mkString
    w.head.toUpper +: w.tail
  }

  /** The merchant pool: one template per category and transfer rule (the
    * rule's pattern placed in its attribute, with case varied, and filler
    * text elsewhere), the five special rules, and rule-free filler
    * merchants. Filler text that happens to match any rule is redrawn, so
    * rule hits are exactly where they were planted.
    */
  final case class Pool(hits: IndexedSeq[Template], fillers: IndexedSeq[Template],
      giroSalary: Template, gesaSalary: Template)

  def pool(seed: Long): Pool = {
    val r = rng(seed, 11)
    def clean(t: Template): Boolean =
      accounts.forall(a => Reference.category(a, t.party, t.bookText, t.purpose, -100) == null &&
        Reference.category(a, t.party, t.bookText, t.purpose, 100) == null &&
        Reference.transfer(a, t.purpose, 100) == null)
    def filler(sign: Int): Template = {
      var t: Template = null
      while (t == null || !clean(t)) {
        t = Template(s"${fillerWord(r)} ${fillerWord(r)} GmbH",
          expenseTexts(r.nextInt(expenseTexts.size)),
          s"${fillerPurposes(r.nextInt(fillerPurposes.size))} ${fillerWord(r)}",
          sign, None)
      }
      t
    }
    def cased(p: String): String = r.nextInt(3) match {
      case 0 => p
      case 1 => p.toUpperCase(java.util.Locale.ROOT)
      case _ => p.toLowerCase(java.util.Locale.ROOT)
    }
    val incomeCats = graft.finance.Analysis.incomeCats.toSet
    val ruleTemplates = CategoryRuleTable.categoryRules.map { rule =>
      val f = filler(if (incomeCats.contains(rule.category)) 1 else -1)
      rule.attribute match {
        case "party"   => f.copy(party = cased(rule.pattern) + " " + fillerWord(r).toUpperCase(java.util.Locale.ROOT),
          account = rule.accountScope)
        // loan instalments carry their split, as ING purposes do; the
        // report's interest extraction reads the "Zinsen" amount
        case "purpose" if rule.pattern.contains("Darl.-Leistung") =>
          f.copy(purpose = rule.pattern + " Tilgung 898,22 Zinsen 140,12",
            account = rule.accountScope)
        case "purpose" => f.copy(purpose = cased(rule.pattern) + " " + fillerWord(r),
          account = rule.accountScope)
        case _         => f.copy(bookText = rule.pattern, account = rule.accountScope)
      }
    }
    val transferTemplates = CategoryRuleTable.transferRules.map(rule =>
      filler(-1).copy(purpose = rule.pattern + " " + fillerWord(r)))
    val special = Seq(
      filler(-1).copy(party = "VISA APPLE.COM/BILL", purpose = "App Store"),
      filler(1).copy(party = "Finanzamt Charlottenburg", bookText = "Gutschrift",
        purpose = "Steuererstattung"),
      filler(1).copy(purpose = "Dividende Smartbroker Depot", account = Some("giro")))
    Pool(
      hits = (ruleTemplates ++ transferTemplates ++ special).toIndexedSeq,
      fillers = (0 until 200).map(i => filler(if (i % 10 == 0) 1 else -1)),
      giroSalary = filler(1).copy(party = "Kreuzwerker", bookText = "Gehalt/Rente",
        purpose = "Gehalt", account = Some("giro")),
      gesaSalary = filler(1).copy(bookText = "Gehalt/Rente", purpose = "Lohn",
        account = Some("gesa")))
  }

  /** Draws rows for one user. Keeps the user's natural keys so that every
    * newly drawn row is distinct from all earlier rows: the expected store
    * size is then the number of distinct rows drawn.
    */
  final class UserLedger(val user: Int, seed: Long, pool: Pool) {
    val keys = mutable.HashSet.empty[(String, Int, Int, String, String, String, Long)]
    private val r = rng(seed, 1000 + user)
    private val balances = mutable.Map.empty[String, Long].withDefaultValue(250000L)

    private def draw(t: Template, account: String, day: Int): Tx = {
      val mag = math.round(math.exp(math.log(200) + r.nextDouble() * math.log(400)))
      var cents = t.sign * (if (t.bookText == "Gehalt/Rente") 300000 + mag else mag)
      val valuta = day + (if (r.nextInt(4) == 0) 1 else 0)
      var tx = Tx(account, day, valuta, t.party, t.bookText, t.purpose, cents, 0)
      while (keys.contains(tx.key)) { cents += t.sign; tx = tx.copy(cents = cents) }
      keys += tx.key
      balances(account) += cents
      tx.copy(balance = balances(account))
    }

    /** `n` rows in the given month, plus both salaries; rows sorted by day. */
    def month(year: Int, month: Int, n: Int): Seq[Tx] = {
      val first = LocalDate.of(year, month, 1)
      val days = first.lengthOfMonth()
      val base = first.toEpochDay.toInt
      val rows = mutable.ArrayBuffer.empty[Tx]
      rows += draw(pool.giroSalary, "giro", base + 27)
      rows += draw(pool.gesaSalary, "gesa", base + 27)
      for (_ <- 0 until math.max(0, n - 2)) {
        val t = if (r.nextDouble() < ruleHitShare) pool.hits(r.nextInt(pool.hits.size))
          else pool.fillers(r.nextInt(pool.fillers.size))
        val account = t.account.getOrElse(accounts(r.nextInt(accounts.size)))
        rows += draw(t, account, base + r.nextInt(days - 1))
      }
      rows.sortBy(t => (t.book, t.account)).toSeq
    }

    /** The seeded history: `size` rows spread evenly over the history
      * months, each month at least the two salaries.
      */
    def history(size: Int): Seq[Tx] = {
      val months = for (y <- historyYears; m <- 1 to 12) yield (y, m)
      val per = size / months.size
      val extra = size % months.size
      months.zipWithIndex.flatMap { case ((y, m), i) =>
        month(y, m, per + (if (i < extra) 1 else 0))
      }
    }

    /** The next monthly statement: per account, `statementRows` rows of
      * which `repeatShare` repeat the tail of the previous statement.
      */
    def statement(k: Int, previous: Seq[Tx]): Seq[Tx] = {
      val m = LocalDate.of(historyYears.last + 1, 1, 1).plusMonths(k.toLong)
      val repeats = accounts.flatMap { a =>
        val prev = previous.filter(_.account == a)
        prev.takeRight(math.round(statementRows * repeatShare).toInt)
      }
      val fresh = month(m.getYear, m.getMonthValue,
        statementRows * accounts.size - repeats.size)
      (repeats ++ fresh).sortBy(t => (t.book, t.account))
    }
  }

  private val deDay = java.time.format.DateTimeFormatter.ofPattern("dd.MM.yyyy")
  def germanDate(day: Int): String = LocalDate.ofEpochDay(day.toLong).format(deDay)

  /** Cents as an ING amount: "-1.234,56". */
  def germanAmount(cents: Long): String = {
    val abs = math.abs(cents)
    val euros = (abs / 100).toString.reverse.grouped(3).mkString(".").reverse
    f"${if (cents < 0) "-" else ""}$euros,${abs % 100}%02d"
  }

  /** One ING CSV per account: ISO-8859-1, a preamble (with ';' inside),
    * the header, then ';'-separated rows with German dates and decimals.
    */
  def writeStatement(dir: Path, stamp: String, rows: Seq[Tx]): Seq[Path] =
    accounts.flatMap { a =>
      val mine = rows.filter(_.account == a)
      if (mine.isEmpty) None else {
        val ib = iban(a)
        val sb = new StringBuilder
        sb ++= s"Umsatzanzeige;Datei erstellt am: ${germanDate(mine.last.book)}\r\n;\r\n"
        sb ++= s"IBAN;${ib.grouped(4).mkString(" ")}\r\nKontoname;Konto $a\r\n"
        sb ++= s"Zeitraum;${germanDate(mine.head.book)} - ${germanDate(mine.last.book)}\r\n;\r\n"
        sb ++= "Buchung;Wertstellungsdatum;Auftraggeber/Empfänger;Buchungstext;" +
          "Verwendungszweck;Saldo;Währung;Betrag;Währung\r\n"
        mine.foreach { t =>
          sb ++= s"${germanDate(t.book)};${germanDate(t.valuta)};${t.party};${t.bookText};" +
            s"${t.purpose};${germanAmount(t.balance)};EUR;${germanAmount(t.cents)};EUR\r\n"
        }
        val p = dir.resolve(s"Umsatzanzeige_${ib}_$stamp.csv")
        write(p, sb.toString.getBytes(StandardCharsets.ISO_8859_1))
        Some(p)
      }
    }

  // ------------------------------------------------------------ corpus

  private val enStop = graft.textops.TextStats.enStopwords
  private val enWords =
    ("river stone market window garden letter engine winter summer bridge " +
     "teacher doctor village harbor forest mountain valley island kitchen " +
     "station library painter farmer soldier captain student company " +
     "country morning evening season harvest weather journey history " +
     "science reason answer question number picture story family friend " +
     "machine building street road train paper music language animal " +
     "water light power money world system program problem service " +
     "quickly slowly early later always never often rarely simply " +
     "carry build write speak follow measure repair travel gather explain " +
     "bright quiet heavy narrow ancient modern simple careful honest " +
     "wooden golden distant common useful").split(" ").toSeq
  private val deWords = Seq("der", "die", "das", "und", "ist", "nicht", "mit",
    "ein", "zu", "den", "haus", "wasser", "strasse", "zeit", "arbeit", "stadt",
    "garten", "fenster", "abend", "morgen", "reise", "geschichte", "frage")

  final case class Doc(id: Long, text: String)

  /** Planted structure of the corpus, known only to the benchmark. */
  final case class CorpusTruth(
      exactGroups: Seq[Seq[Long]],
      nearClusters: Seq[(Long, Seq[Long])],
      filtered: Set[Long])

  /** A corpus of English documents with planted exact-duplicate groups
    * (2–4 copies differing only in case and spacing), near-duplicate
    * clusters (2–6 variants of a base with ~4 % of words replaced) plus one
    * large cluster of `bigCluster` variants for skew, and low-quality and
    * German documents the quality/language filter must drop.
    */
  def corpus(seed: Long, uniques: Int, exactGroupsN: Int, nearClustersN: Int,
      bigCluster: Int, junk: Int): (Seq[Doc], CorpusTruth) = {
    val r = rng(seed, 21)
    def words(vocab: Seq[String], n: Int): Array[String] =
      Array.fill(n)(vocab(r.nextInt(vocab.size)))
    // about a third stopwords, so every English document passes the
    // quality filter by a wide margin
    def enDoc(): Array[String] = Array.fill(60 + r.nextInt(80))(
      if (r.nextInt(3) == 0) enStop(r.nextInt(enStop.size))
      else enWords(r.nextInt(enWords.size)))
    val seen = mutable.HashSet.empty[String]
    def fresh(make: => String): String = {
      var t = make
      while (seen.contains(t)) t = make
      seen += t
      t
    }
    def variant(base: Array[String]): String = fresh {
      val v = base.clone()
      for (_ <- 0 until math.max(2, base.length / 25)) {
        val i = r.nextInt(v.length)
        v(i) = enWords.filterNot(_ == v(i))(r.nextInt(enWords.size - 1))
      }
      v.mkString(" ")
    }
    def respaced(ws: Array[String]): String = {
      val sb = new StringBuilder
      ws.zipWithIndex.foreach { case (w, i) =>
        if (i > 0) sb ++= (if (r.nextInt(8) == 0) "  " else " ")
        sb ++= (if (r.nextInt(6) == 0) w.toUpperCase(java.util.Locale.ROOT) else w)
      }
      sb.toString
    }
    val texts = mutable.ArrayBuffer.empty[String]
    val exactIdx = mutable.ArrayBuffer.empty[Seq[Int]]
    val nearIdx = mutable.ArrayBuffer.empty[(Int, Seq[Int])]
    val junkIdx = mutable.ArrayBuffer.empty[Int]
    def add(t: String): Int = { texts += t; texts.size - 1 }
    for (_ <- 0 until uniques) add(fresh(enDoc().mkString(" ")))
    for (_ <- 0 until exactGroupsN) {
      val d = fresh(enDoc().mkString(" ")).split(" ")
      exactIdx += (0 until 2 + r.nextInt(3)).map(_ => add(respaced(d)))
    }
    for (c <- 0 until nearClustersN + 1) {
      val baseText = fresh(enDoc().mkString(" "))
      val base = baseText.split(" ")
      val n = if (c == nearClustersN) bigCluster else 1 + r.nextInt(5)
      val b = add(baseText)
      nearIdx += (b -> (0 until n).map(_ => add(variant(base))))
    }
    for (i <- 0 until junk) junkIdx += add(
      if (i % 2 == 0) words(deWords, 40 + r.nextInt(40)).mkString(" ")
      else (0 until 30 + r.nextInt(30)).map(_ => r.nextInt(100000).toString + "!!").mkString(" "))
    // ids are a seeded permutation, so planted groups are scattered
    val ids = {
      val a = Array.tabulate(texts.size)(_.toLong)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val docs = texts.indices.map(i => Doc(ids(i), texts(i))).sortBy(_.id)
    (docs, CorpusTruth(exactIdx.map(_.map(ids(_)).sorted).toSeq,
      nearIdx.map { case (b, vs) => ids(b) -> vs.map(ids(_)) }.toSeq,
      junkIdx.map(ids(_)).toSet))
  }

  def writeDocs(path: Path, docs: Seq[Doc]): Unit = {
    val sb = new StringBuilder
    docs.foreach(d => sb ++= s"""{"doc_id":${d.id},"text":"${d.text}"}\n""")
    write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------------ vectors

  /** Clustered unit-scale embeddings: `clusters` Gaussian blobs around
    * random unit centres. Returns (corpus, queries); queries come from the
    * same blobs with ids disjoint from the corpus.
    */
  def embeddings(seed: Long, n: Int, queries: Int, dims: Int,
      clusters: Int, noise: Double): (Seq[(Long, Array[Double])], Seq[(Long, Array[Double])]) = {
    val r = rng(seed, 31)
    def gauss(): Double = { // Box–Muller, one value per draw
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centres = Array.fill(clusters)(unit(Array.fill(dims)(gauss())))
    def point(): Array[Double] = {
      val c = centres(r.nextInt(clusters))
      // six decimals: the written text is the value the program reads
      unit(c.map(_ + noise * gauss())).map(x => math.rint(x * 1e6) / 1e6)
    }
    val corpus = (0 until n).map(i => (i.toLong, point()))
    val qs = (0 until queries).map(i => (1000000000L + i, point()))
    (corpus, qs)
  }

  def writeVectors(path: Path, vs: Seq[(Long, Array[Double])]): Unit = {
    val sb = new StringBuilder
    vs.foreach { case (id, v) =>
      sb ++= s"""{"vec_id":$id,"embedding":[${v.map(x => "%.6f".formatLocal(java.util.Locale.ROOT, x)).mkString(",")}]}\n"""
    }
    write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
