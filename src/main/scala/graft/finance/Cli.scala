package graft.finance

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line entry points mirroring the reference CLI
  * (/root/reference/panda.py:753-775): `ing-import <store> <csv...>`,
  * `categorize <store>`, `report <store> <year>`.
  *
  * Usage: runMain graft.finance.Cli ing-import /path/store.parquet a.csv b.csv
  */
object Cli {

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("pandacount-spark")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a visit's generated classes outnumber Spark's default cache: without
      // this every import and report recompiles them (see graft.Codegen)
      .config("spark.sql.codegen.cache.maxEntries",
        graft.Codegen.cacheMaxEntries)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def storeExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def loadOrEmpty(spark: SparkSession, path: String): DataFrame =
    if (storeExists(spark, path)) spark.read.parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      TransactionSchema.storeSchema)

  /** Import pipeline (§3.1): read CSVs → dedup against store → categorize →
    * upsert → save.
    */
  def ingImport(spark: SparkSession, storePath: String, csvPaths: String): Unit = {
    val existing = loadOrEmpty(spark, storePath)
    val storeAsRaw = existing
      .withColumn("amount", col("amount_cents") / 100.0)
      .withColumn("balance", col("balance_cents") / 100.0)
      .select("account", "book_date", "valuta_date", "party", "book_text",
        "purpose", "amount", "balance", "transfer_category", "category",
        "category_manual")
    val batch = IngCsv.read(spark, csvPaths)
      .withColumn("transfer_category", lit(null).cast("string"))
      .withColumn("category", lit(null).cast("string"))
      .withColumn("category_manual", lit(null).cast("string"))
    val merged = Store.importBatch(storeAsRaw, batch)
    val categorized = Categorizer.pipeline(merged)
    val prepared = Store.withStoreColumns(categorized)
      .withColumn("imported_at", current_timestamp())
      .select("account", "book_date", "valuta_date", "party", "book_text",
        "purpose", "amount_cents", "balance_cents", "transfer_category",
        "category", "category_manual", "fingerprint", "imported_at")
    val (next, release) = Store.upsertReleasable(existing, prepared)
    // finally: a failed save must not leak the cache entry either — a
    // session retrying failed batches would otherwise accumulate one per attempt
    try Store.save(next, storePath) finally release()
    println(s"Stored $storePath with ${spark.read.parquet(storePath).count()} rows in total")
  }

  /** Re-categorization (§3.2): load → categorize → upsert (identity columns
    * and fingerprints are stable → idempotent).
    */
  def categorize(spark: SparkSession, storePath: String): Unit = {
    val existing = loadOrEmpty(spark, storePath)
    val asRaw = existing
      .withColumn("amount", col("amount_cents") / 100.0)
      .withColumn("balance", col("balance_cents") / 100.0)
    val categorized = Categorizer.pipeline(asRaw)
    val prepared = categorized
      .select("account", "book_date", "valuta_date", "party", "book_text",
        "purpose", "amount_cents", "balance_cents", "transfer_category",
        "category", "category_manual", "fingerprint", "imported_at")
    val (next, release) = Store.upsertReleasable(existing, prepared)
    try Store.save(next, storePath) finally release()
    println(s"Stored $storePath with ${spark.read.parquet(storePath).count()} rows in total")
  }

  /** Analysis report (§3.3): the notebook's headline queries for a year.
    * With `htmlOut` set, also writes the self-contained HTML report
    * ([[Report]] — the finanzberatung-report.html shape).
    */
  def report(spark: SparkSession, storePath: String, yr: Int,
      htmlOut: Option[String] = None): Unit = {
    val pc = Categorizer.addCat(Store.load(spark, storePath))
    println(s"== Uncategorized $yr ==")
    Analysis.uncategorized(pc, yr).show(50, truncate = false)
    println(s"== Income overview $yr ==")
    Analysis.incomeOverview(pc, yr).show(50, truncate = false)
    println(s"== Expense overview $yr ==")
    Analysis.expenseOverview(pc, yr).show(100, truncate = false)
    htmlOut.foreach { p =>
      Report.write(pc, yr, p)
      println(s"Wrote HTML report $p")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    try args.toList match {
      case "ing-import" :: store :: csvs if csvs.nonEmpty =>
        ingImport(spark, store, csvs.mkString(","))
      case "categorize" :: store :: Nil => categorize(spark, store)
      case "report" :: store :: yr :: Nil => report(spark, store, yr.toInt)
      case "report" :: store :: yr :: out :: Nil =>
        report(spark, store, yr.toInt, Some(out))
      case "migrate" :: yaml :: store :: Nil =>
        // one-time YAML backup → store migration (reference migrate.py)
        if (!YamlStore.migrate(spark, yaml, store)) sys.exit(1)
      case other =>
        System.err.println(
          s"""unknown command: ${other.mkString(" ")}
             |usage: ing-import <store.parquet> <csv> [csv...]
             |       categorize <store.parquet>
             |       report <store.parquet> <year> [report.html]
             |       migrate <backup.yaml> <store.parquet>""".stripMargin)
        sys.exit(2)
    } finally spark.stop()
  }
}
