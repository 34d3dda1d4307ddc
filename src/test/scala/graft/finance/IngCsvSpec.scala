package graft.finance

import java.nio.charset.Charset
import java.nio.file.{Files, Path}

import graft.SparkSpec

class IngCsvSpec extends SparkSpec {

  private def writeFixture(dir: Path, name: String, body: String): String = {
    val p = dir.resolve(name)
    Files.write(p, body.getBytes(Charset.forName("ISO-8859-1")))
    p.toString
  }

  private val fixtureBody =
    """Umsatzanzeige;Datei erstellt am: 30.06.2026
      |
      |IBAN;DE69 5001 0517 5402 3139 46
      |Kontoname;Girokonto
      |Verfügungsrahmen mit; Preamble; voller; Semikolons
      |
      |Buchung;Wertstellungsdatum;Auftraggeber/Empfänger;Buchungstext;Verwendungszweck;Saldo;Währung;Betrag;Währung
      |03.06.2024;03.06.2024;REWE MARKT GMBH;Lastschrift;Einkauf Danke;1.234,56;EUR;-45,67;EUR
      |05.06.2024;06.06.2024;Kreuzwerker;Gehalt/Rente;Gehalt Juni;5.678,90;EUR;4.444,34;EUR
      |07.06.2024;07.06.2024;;Gutschrift;;5.000,00;EUR;-678,90;EUR
      |""".stripMargin

  test("preamble skip + German date/decimal parse + account from filename") {
    val dir = Files.createTempDirectory("ingcsv")
    val path = writeFixture(dir,
      "Umsatzanzeige_DE69500105175402313946_20260630.csv", fixtureBody)

    val df = IngCsv.read(spark, path)
    val rows = df.orderBy("book_date").collect()
    assert(rows.length === 3)

    val r0 = rows(0)
    assert(r0.getAs[String]("account") === "giro")
    assert(r0.getAs[java.sql.Date]("book_date").toString === "2024-06-03")
    assert(r0.getAs[String]("party") === "REWE MARKT GMBH")
    assert(math.abs(r0.getAs[Double]("amount") - (-45.67)) < 1e-9)
    assert(math.abs(r0.getAs[Double]("balance") - 1234.56) < 1e-9)

    val r1 = rows(1)
    assert(r1.getAs[java.sql.Date]("valuta_date").toString === "2024-06-06")
    assert(math.abs(r1.getAs[Double]("amount") - 4444.34) < 1e-9)

    // empty CSV fields → null party/purpose, never ""
    val r2 = rows(2)
    assert(r2.getAs[String]("party") == null)
    assert(r2.getAs[String]("purpose") == null)
  }

  test("unknown IBAN in filename raises") {
    val dir = Files.createTempDirectory("ingcsv2")
    val path = writeFixture(dir, "Umsatz_DE00000000000000000000_x.csv", fixtureBody)
    val ex = intercept[Exception](IngCsv.read(spark, path).collect())
    assert(ex.getMessage.contains("unknown IBAN") ||
      ex.getCause != null && ex.getCause.getMessage.contains("unknown IBAN"))
  }

  test("malformed amount raises with its statement file and line") {
    val dir = Files.createTempDirectory("ingcsv3")
    val bad = "05.06.2024;06.06.2024;Kreuzwerker;Gehalt/Rente;Gehalt Juni;5.678,90;EUR;4.4x4,34;EUR"
    val path = writeFixture(dir, "Umsatzanzeige_DE69500105175402313946_bad.csv",
      fixtureBody.replace(
        "05.06.2024;06.06.2024;Kreuzwerker;Gehalt/Rente;Gehalt Juni;5.678,90;EUR;4.444,34;EUR",
        bad))
    val ex = intercept[Exception](IngCsv.read(spark, path).collect())
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("malformed amount '4.4x4,34'") &&
      m.contains("Umsatzanzeige_DE69500105175402313946_bad.csv") &&
      m.contains(bad)), msgs.mkString("\n"))
  }
}
