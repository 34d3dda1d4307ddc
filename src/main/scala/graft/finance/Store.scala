package graft.finance

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Durable transaction store: fingerprinting, cents encoding, id assignment
  * and the fingerprint-keyed merge-upsert.
  *
  * Reference semantics (/root/reference/panda.py:560-733) re-expressed as a
  * deterministic two-phase Spark job over a parquet system-of-record:
  *
  *   - money is stored as exact integer cents via banker's rounding
  *     (pandas `.round()` is half-to-even → Spark `bround`, panda.py:678-679);
  *   - `fingerprint` = sha256 of the 7-field natural key with NULL→"" (amount
  *     NULL→"0"), '|'-separated, UTF-8 (panda.py:569-592) — computed with the
  *     codegen'd `sha2`/`concat` builtins, not a row-wise UDF;
  *   - upsert: rows whose fingerprint already exists keep their identity
  *     columns (`transaction_id`, natural key, `imported_at`) and take ONLY
  *     `transfer_category, category, category_manual, balance_cents` from the
  *     batch (panda.py:722-727); new rows get `MAX(id)+position` ids where
  *     position enumerates the whole batch in canonical order — conflicting
  *     rows burn their candidate ids, exactly like the reference
  *     (panda.py:685-691).
  *
  * Scale posture: a store is one user's ledger, a person's bank history
  * of at most some 1e5 rows, and a batch is that user's statements. So the
  * ids come from one ordered window over the batch (one task), nothing is
  * cached, and [[save]] commits crash-safely by renames. The merge is
  * one shuffle join keyed on fingerprint. The store has one layout: a
  * plain parquet directory that only [[save]] writes; [[load]] and
  * [[loadOrEmpty]] read it after recovering a crashed commit.
  */
object Store {

  /** Canonical output ordering (panda.py:647, 742-744), nulls last. */
  val canonicalOrder: Seq[Column] = Seq(
    asc_nulls_last("book_date"), asc_nulls_last("account"),
    asc_nulls_last("valuta_date"), asc_nulls_last("party"),
    asc_nulls_last("purpose"))

  /** `amount` (euros, double) → exact integer cents, banker's rounding. */
  def cents(c: Column): Column = bround(c * 100, 0).cast("long")

  /** sha256 natural-key fingerprint (panda.py:569-592). `concat_ws` would
    * skip NULLs instead of inserting "" — each field is coalesced explicitly.
    */
  def fingerprint(
      account: Column, bookDate: Column, valutaDate: Column, party: Column,
      bookText: Column, purpose: Column, amountCents: Column): Column =
    sha2(concat(
      coalesce(account, lit("")), lit("|"),
      coalesce(date_format(bookDate, "yyyy-MM-dd"), lit("")), lit("|"),
      coalesce(date_format(valutaDate, "yyyy-MM-dd"), lit("")), lit("|"),
      coalesce(party, lit("")), lit("|"),
      coalesce(bookText, lit("")), lit("|"),
      coalesce(purpose, lit("")), lit("|"),
      coalesce(amountCents.cast("string"), lit("0"))), 256)

  /** Decorate an in-memory batch (8-col raw layout + category columns) with
    * `amount_cents`, `balance_cents`, `fingerprint` (panda.py:672-682).
    */
  def withStoreColumns(df: DataFrame): DataFrame = {
    val d = df
      .withColumn("amount_cents", cents(col("amount")))
      .withColumn("balance_cents", cents(col("balance")))
    d.withColumn("fingerprint",
      fingerprint(col("account"), col("book_date"), col("valuta_date"),
        col("party"), col("book_text"), col("purpose"), col("amount_cents")))
  }

  /** Merge a prepared batch into the existing store (both carrying
    * [[TransactionSchema.storeSchema]] columns minus ids on the batch side).
    *
    * `existing` may be empty (first import). Returns the new store content.
    */
  def upsert(existing: DataFrame, batch: DataFrame): DataFrame = {
    val spark = existing.sparkSession
    import spark.implicits._

    // MAX(id)+1 offset — single tiny driver-side aggregate (panda.py:685-688).
    val maxId: Long =
      existing.agg(coalesce(max("transaction_id"), lit(0L))).as[Long].head()

    // Candidate ids enumerate the WHOLE batch in canonical order; ids of
    // conflicting rows are burned (panda.py:691). Ties in canonicalOrder
    // get arbitrary-but-unique ranks. The window runs in one task: a batch
    // is one user's statement or ledger (see the scale posture above).
    val candidate = batch.drop("transaction_id")
      .withColumn("transaction_id",
        lit(maxId) + row_number().over(Window.orderBy(canonicalOrder: _*)))

    val updateCols = Seq("transfer_category", "category", "category_manual",
      "balance_cents")
    val identityCols = TransactionSchema.storeSchema.fieldNames.toSeq
      .filterNot(updateCols.contains)

    val ex = existing.select(
      col("fingerprint").as("fp"),
      struct(existing.columns.map(col).toSeq: _*).as("ex"))
    val ba = candidate.select(
      col("fingerprint").as("fp"),
      struct(candidate.columns.map(col).toSeq: _*).as("ba"))

    // Full outer join on fingerprint = MERGE. Matched rows keep identity
    // columns from the store and take the 4 update columns from the batch.
    ex.join(ba, Seq("fp"), "full_outer").select(
      (identityCols.map(c =>
        coalesce(col(s"ex.$c"), col(s"ba.$c")).as(c)) ++
       updateCols.map(c =>
        when(col("ba").isNotNull, col(s"ba.$c"))
          .otherwise(col(s"ex.$c")).as(c))): _*)
      .select(TransactionSchema.storeSchema.fieldNames.map(col).toSeq: _*)
  }

  /** [[upsert]] with a no-op release handle. [[upsert]] caches nothing, so
    * there is nothing to release. Kept only because the benchmark
    * harness (`perfbench/scala/perfbench/Ledger.scala`) calls it and is
    * changed separately from the program; remove it with the benchmark's
    * next change.
    */
  def upsertReleasable(existing: DataFrame, batch: DataFrame): (DataFrame, () => Unit) =
    (upsert(existing, batch), () => ())

  /** Batch-import composition (panda.py:736-745): store rows win over
    * re-imported rows on the 7-col natural key (keep='first' over the
    * store-then-batch concat). Encoded as a source-priority min_by
    * aggregation — bare `dropDuplicates` is non-deterministic about
    * survivors, and the previous `row_number over (partition by key)`
    * funnels every occurrence of a hot natural key into ONE window task
    * (a duplicate-heavy re-import at fleet scale = one straggler sorting
    * 10 % of the batch). min_by partial-aggregates map-side, so a hot key
    * reaches the reducer as ≤ one row per map partition; the `_pos`
    * tie-break keeps the survivor unique and store-first (ids are unique
    * per row, so min_by never sees ordering ties). ScaleSmoke drives the
    * hot-key shape and asserts no straggler.
    *
    * Survivor determinism, precisely: store-vs-batch priority is always
    * deterministic (`_src`). WITHIN one batch, `_pos` is
    * `monotonically_increasing_id()`, which follows partition layout — if
    * the same natural key repeats in a batch with DIFFERING non-key
    * columns, the surviving row can change when upstream partitioning
    * changes (AQE, different parallelism). The reference's pandas
    * keep='first' is file-order-stable instead; callers needing that
    * stability should carry an explicit ingest-order column (e.g. file
    * path + line offset) and pre-dedup on it. For the ING pipeline this
    * is moot: in-batch duplicates are full-row duplicates (same non-key
    * columns), so any survivor is the same row.
    */
  def importBatch(store: DataFrame, batch: DataFrame): DataFrame = {
    val tagged = store.withColumn("_src", lit(0L))
      .unionByName(batch.withColumn("_src", lit(1L)), allowMissingColumns = true)
      .withColumn("_pos", monotonically_increasing_id())
    val dataCols = tagged.columns.filterNot(Seq("_src", "_pos").contains).toSeq
    tagged
      .groupBy(TransactionSchema.dedupKey.map(col): _*)
      .agg(min_by(struct(dataCols.map(col): _*),
        struct(col("_src"), col("_pos"))).as("_row"))
      .select(dataCols.map(c => col(s"_row.$c").as(c)): _*)
  }

  /** Store reader (panda.py:620-660): cents → float euros, canonical order.
    * The sort only materializes at this read boundary — the store itself
    * stays unsorted so writes never pay a global sort.
    */
  def load(spark: SparkSession, path: String): DataFrame = {
    recover(spark, path)
    read(spark, path)
      .orderBy(canonicalOrder: _*)
      .withColumn("amount", col("amount_cents") / 100.0)
      .withColumn("balance", col("balance_cents") / 100.0)
      .select("account", "book_date", "valuta_date", "party", "book_text",
        "purpose", "transfer_category", "category", "category_manual",
        "amount", "balance")
  }

  /** The raw store at `path` ([[TransactionSchema.storeSchema]] columns),
    * or an empty store when none has been committed yet.
    */
  def loadOrEmpty(spark: SparkSession, path: String): DataFrame =
    if (recover(spark, path)) read(spark, path) else empty(spark)

  /** The committed store at `path`, read with its known schema: inferring
    * it would run a one-task footer-reading job on every read.
    */
  private[finance] def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TransactionSchema.storeSchema).parquet(path)

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      TransactionSchema.storeSchema)

  /** Commit `df` as the store at `path`, crash-safely. The new version is
    * written to `<path>.staging`; the committed store is renamed aside to
    * `<path>.old`; the staging copy is renamed to `path`; only then is the
    * old copy deleted. No step deletes the only committed copy, so a crash
    * at any point leaves the old or the new version: at `path`, or, between
    * the two renames, at `<path>.old`, which [[load]] and [[loadOrEmpty]]
    * move back. Concurrent commits are not coordinated.
    */
  def save(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    recover(spark, path)
    val staging = new Path(path + ".staging")
    df.write.mode("overwrite").parquet(staging.toString)
    val (dst, aside) = (new Path(path), new Path(path + ".old"))
    val fs = fileSystem(spark, dst)
    if (fs.exists(dst)) {
      fs.delete(aside, true) // left by a crash after an earlier publish
      rename(fs, dst, aside)
    }
    rename(fs, staging, dst)
    fs.delete(aside, true)
  }

  /** Bring back the store a crashed [[save]] left outside `path`: the old
    * version moved aside, else a complete (`_SUCCESS`-marked) staging copy
    * when there is no other, as a crash before the first publish leaves.
    * Returns whether a store exists at `path`.
    */
  private def recover(spark: SparkSession, path: String): Boolean = {
    val dst = new Path(path)
    val fs = fileSystem(spark, dst)
    if (!fs.exists(dst)) {
      val aside = new Path(path + ".old")
      val staging = new Path(path + ".staging")
      if (fs.exists(aside)) rename(fs, aside, dst)
      else if (fs.exists(new Path(staging, "_SUCCESS"))) rename(fs, staging, dst)
    }
    fs.exists(dst)
  }

  /** The path's own filesystem — the store may live on a different scheme
    * (s3a://, file:///) than the cluster's fs.defaultFS.
    */
  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A rename onto an existing directory would nest `from` inside it, so
    * an existing target fails the commit as well.
    */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (fs.exists(to) || !fs.rename(from, to))
      throw new java.io.IOException(s"store commit: cannot rename $from to $to")
}
