package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.finance.Store
import graft.operators.FinanceQueries

/** End-to-end gate for the STREAMING finance spine: readStream over the
  * committed ING fixtures → categorize → watermarked fingerprint dedup →
  * foreachBatch upsert → parquet store, drained in MULTIPLE micro-batches,
  * must reproduce the batch pipeline (q38 — itself DuckDB-hash-gated)
  * row-for-row. This is SURVEY §2.10's composition promise, not just the
  * per-operator streaming specs.
  */
class FinanceStreamSpec extends SparkSpec {

  test("incremental spine output equals the q38 batch pipeline") {
    val tmp = Files.createTempDirectory("fin-stream")
    val inDir = tmp.resolve("in")
    Files.createDirectories(inDir)
    FinanceQueries.ingFixtures.foreach { case (_, f, _) =>
      Files.copy(Paths.get(s"${FinanceQueries.fixtureDir}/$f"),
        inDir.resolve(f))
    }
    val store = tmp.resolve("store.parquet").toString
    val q = FinanceStream.runSpine(spark, inDir.toString, store,
      tmp.resolve("ckpt").toString, maxFilesPerTrigger = Some(2))
    q.awaitTermination()

    // incremental for real: the 4 files drained in ≥2 non-empty batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      s"expected ≥2 micro-batches, got " +
        q.recentProgress.map(_.numInputRows).mkString(","))

    val cols = Seq("account", "book_date", "valuta_date", "party",
      "book_text", "purpose", "amount_cents", "balance_cents",
      "transfer_category", "category", "fingerprint")
    val streamed = spark.read.parquet(store)
      .select(cols.map(col): _*).collect().map(_.toSeq)
      .sortBy(_.toString)
    val batch = FinanceQueries.q38IngPipeline(spark, "unused")
      .select(cols.map(col): _*).collect().map(_.toSeq)
      .sortBy(_.toString)
    assert(batch.nonEmpty)
    assert(streamed === batch,
      "streamed store must equal the batch pipeline row-for-row")

    // upsert composed correctly across batches: ids are ≥ 1 and unique
    val ids = spark.read.parquet(store)
      .select("transaction_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    assert(ids.head >= 1L && ids.distinct.length === ids.length)
  }

  test("a restarted spine drain continues ids from the committed store") {
    // Two drains on one checkpoint (a stop/start of the stream): the
    // second sees only the new 2024 statement and must merge it into the
    // store the first committed, continuing its ids.
    val tmp = Files.createTempDirectory("fin-stream-restart")
    val inDir = tmp.resolve("in")
    Files.createDirectories(inDir)
    val header = "Buchung;Wertstellungsdatum;Auftraggeber/Empfaenger;" +
      "Buchungstext;Verwendungszweck;Saldo;Waehrung;Betrag;Waehrung"
    def write(name: String, rows: Seq[String]): Unit =
      Files.write(inDir.resolve(name),
        (s"Umsatzanzeige preamble;x\n$header\n" + rows.mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val store = tmp.resolve("store.parquet").toString
    def drain(): Unit = FinanceStream.runSpine(spark, inDir.toString, store,
      tmp.resolve("ckpt").toString).awaitTermination()

    write("a_DE69500105175402313946_1.csv", Seq(
      "02.01.2020;02.01.2020;OLDCO;Lastschrift;rent20;1,00;EUR;-1,00;EUR",
      "03.01.2020;03.01.2020;OLDCO;Lastschrift;gas20;2,00;EUR;-2,00;EUR"))
    drain()
    write("a_DE69500105175402313946_2.csv", Seq(
      "01.06.2024;01.06.2024;ACME;Lastschrift;rent24;3,00;EUR;-3,00;EUR"))
    drain()

    val rows = spark.read.parquet(store)
      .orderBy("book_date").select("purpose", "transaction_id")
      .as[(String, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect()
    assert(rows.toSeq === Seq(("rent20", 1L), ("gas20", 2L), ("rent24", 3L)))
  }

  test("a statement older than the dedup horizon still reaches the store") {
    val tmp = Files.createTempDirectory("fin-stream-late")
    val inDir = tmp.resolve("in")
    Files.createDirectories(inDir)
    val header = "Buchung;Wertstellungsdatum;Auftraggeber/Empfaenger;" +
      "Buchungstext;Verwendungszweck;Saldo;Waehrung;Betrag;Waehrung"
    def write(name: String, row: String, modMs: Long): Unit = {
      val p = inDir.resolve(name)
      Files.write(p,
        s"Umsatzanzeige preamble;x\n$header\n$row\n"
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(modMs))
    }
    // Recent statement FIRST (its micro-batch advances any event-time
    // watermark deep into 2024), forgotten 2020 statement second — the
    // regression shape where a book_date-riding watermark would classify
    // the whole late file as too-old input and silently drop it. The
    // ingest-time watermark must let it through to the upsert.
    write("a_DE69500105175402313946_1.csv",
      "01.06.2024;01.06.2024;ACME;Lastschrift;rent;1.000,00;EUR;-42,50;EUR",
      modMs = 1000000L)
    write("b_DE69500105175402313946_2.csv",
      "01.01.2020;01.01.2020;OLDCO;Lastschrift;forgotten;1,00;EUR;-1,00;EUR",
      modMs = 2000000L)
    val store = tmp.resolve("store.parquet").toString
    val q = FinanceStream.runSpine(spark, inDir.toString, store,
      tmp.resolve("ckpt").toString, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "the two files must drain in separate micro-batches")
    val dates = spark.read.parquet(store)
      .select("book_date").collect().map(_.get(0).toString).sorted
    assert(dates === Array("2020-01-01", "2024-06-01"),
      "the old statement must reach the store, not be dropped as late")
  }
}
