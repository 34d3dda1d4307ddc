package graft.finance

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Distributed reader for ING bank-statement CSVs.
  *
  * Reference behavior (/root/reference/panda.py:18-82): each file is
  * ISO-8859-1, starts with a variable-length preamble (which may itself
  * contain ';'), followed by a `Buchung;Wertstellungsdatum;Auftraggeber…`
  * header line and ';'-separated rows with German dates (DD.MM.YYYY) and
  * German decimals ("1.234,56"); the account name is derived from the IBAN
  * embedded in the filename stem.
  *
  * Spark-first shape: `binaryFiles` distributes whole files across executors
  * (one task per file group — the right granularity, since a statement file
  * is small but there can be millions of them at fleet scale); the
  * preamble-skip is per-file imperative logic, everything after that is a
  * declarative `from_csv` projection that Catalyst optimizes freely.
  */
object IngCsv {

  private val fileLineSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("line", StringType, nullable = false)))

  /** Decode one statement file and emit its post-preamble data lines. The
    * ONE imperative step of the reader, shared by the batch `binaryFiles`
    * path and the streaming `binaryFile` source
    * ([[graft.streaming.FinanceStream]]) — batch/stream parity is the
    * design's correctness argument, so a charset/header fix must be
    * impossible to apply to one path and miss in the other.
    */
  private[graft] def statementLines(bytes: Array[Byte]): Iterator[String] =
    new String(bytes, "ISO-8859-1").split("\r?\n", -1).iterator
      .dropWhile(!_.startsWith(TransactionSchema.ingHeaderPrefix))
      .drop(1) // the header line itself
      .filter(_.nonEmpty)

  /** Read one or more ING CSV files (comma-separated globs OK) into the
    * canonical 8-column raw layout of [[TransactionSchema.rawColumns]].
    */
  def read(spark: SparkSession, paths: String): DataFrame = {
    val lines = spark.sparkContext.binaryFiles(paths).flatMap {
      case (path, stream) =>
        statementLines(stream.toArray()).map(l => Row(path, l))
    }
    project(spark.createDataFrame(lines, fileLineSchema))
  }

  /** The declarative half of the reader: (path, line) rows → canonical
    * 8-column layout. Shared by the batch `binaryFiles` path above and the
    * streaming `binaryFile`-source path
    * ([[graft.streaming.FinanceStream.ingStream]]) — the projection is
    * identical, so batch output IS the streaming correctness oracle.
    */
  private[graft] def project(lines: DataFrame): DataFrame = {
    val raw = lines
      .select(col("path"), col("line"),
        from_csv(col("line"), TransactionSchema.ingRawSchema,
          Map("sep" -> ";")).as("r"))

    raw.select(
      accountFromPath(col("path")).as("account"),
      germanDate(col("r.Buchung")).as("book_date"),
      germanDate(col("r.Wertstellungsdatum")).as("valuta_date"),
      col("r.party").as("party"),
      col("r.book_text").as("book_text"),
      col("r.purpose").as("purpose"),
      germanDecimal(col("r.Betrag"), col("path"), col("line")).as("amount"),
      germanDecimal(col("r.Saldo"), col("path"), col("line")).as("balance"))
  }

  /** `DD.MM.YYYY` → DateType (dayfirst parse, panda.py:60-61). */
  def germanDate(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_date(c, "d.M.yyyy")

  /** `"1.234,56"` → 1234.56d: strip '.'-thousands, ','→'.' (panda.py:62-67).
    * An empty field is NULL; a non-empty one that does not parse raises an
    * error naming the statement file (`path`) and its raw `line`.
    */
  def germanDecimal(c: Column, path: Column, line: Column): Column = {
    val parsed =
      regexp_replace(regexp_replace(c, "\\.", ""), ",", ".").try_cast("double")
    when(c.isNotNull && parsed.isNull, raise_error(concat(
      lit("malformed amount '"), c, lit("' in "), path, lit(": "), line)))
      .otherwise(parsed)
  }

  /** Filename stem `<prefix>_<IBAN>_<suffix>` → account name via the 5-entry
    * IBAN map; unknown IBAN raises (the reference KeyErrors, panda.py:31-42).
    */
  def accountFromPath(path: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val stem = regexp_extract(path, "([^/]+)\\.[Cc][Ss][Vv]$", 1)
    val iban = element_at(split(stem, "_"), 2)
    TransactionSchema.ibanAccountMap.foldLeft(
      when(lit(false), lit(null).cast("string"))) {
      case (chain, (k, v)) => chain.when(iban === k, v)
    }.otherwise(raise_error(concat(lit("unknown IBAN in filename: "), iban)))
  }
}
