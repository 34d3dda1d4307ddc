package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.finance.{IngCsv, Store, TransactionSchema}

/** The finance spine under Structured Streaming — SURVEY §2.10's design
  * promise made concrete (reference semantics: panda.py:753-767, the
  * import command, re-expressed as a continuously-running ingest):
  *
  *   statement directory (new ING CSVs appear over time)
  *     → `binaryFile` readStream, one row per NEW file
  *     → the SAME preamble-skip + `from_csv` projection as the batch reader
  *     → the SAME categorizer cascade (stateless projection — lifts as-is)
  *     → fingerprint/cents store prep
  *     → `dropDuplicatesWithinWatermark(fingerprint)` — bounded-state dedup
  *     → `foreachBatch` merge-upsert into the parquet store
  *
  * Batch/stream parity is BY CONSTRUCTION: every transform is the shared
  * `DataFrame => DataFrame` the batch gate (q38) hash-verifies, so the
  * batch pipeline is the streaming correctness oracle — FinanceStreamSpec
  * asserts the drained store equals q38's output row-for-row.
  *
  * Scale posture: file listing is the only driver work; parse/categorize
  * are stateless projections; dedup state is watermark-bounded (keyed on
  * fingerprint, evicted past the horizon); the upsert inside foreachBatch
  * is the same fingerprint-keyed merge join the batch path uses — against
  * a bucketed store it stays Exchange-free on the store side.
  */
object FinanceStream {

  /** The binaryFile source's fixed schema — streaming file sources demand
    * it explicitly (no inference on a stream).
    */
  private val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content",
      org.apache.spark.sql.types.BinaryType)))

  /** binaryFile readStream over `dir` → (path, line) rows past each file's
    * preamble — the per-file skip is a STATELESS flatMap, safe under any
    * trigger.
    */
  private def ingLines(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import spark.implicits._
    val reader = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.csv")
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        // the SAME decode + preamble-skip as the batch reader — parity by
        // shared code, not by parallel implementations
        IngCsv.statementLines(bytes).map(l => (path, l))
      }
      .toDF("path", "line")
  }

  /** Streaming ING CSV source: one row per new file under `dir`, parsed
    * with the exact batch semantics ([[IngCsv.project]]).
    */
  def ingStream(spark: SparkSession, dir: String): DataFrame =
    IngCsv.project(ingLines(spark, dir, None))

  /** Raw 8-column transactions → categorized, fingerprinted, watermark-
    * deduplicated store-ready rows (`dropDuplicatesWithinWatermark` is the
    * one streaming-only node, by design — batch dedup is importBatch's
    * keep-first, same key via the fingerprint).
    *
    * The watermark rides INGEST time, deliberately NOT `book_date`:
    * stateful operators DROP input rows older than the watermark, so a
    * book_date watermark would silently discard an entire forgotten
    * statement file the moment newer statements had advanced the horizon —
    * data loss, not dedup. Ingest time is monotonic (each micro-batch's
    * rows stamp later than the watermark left by the previous one), so NO
    * row is ever late, while state evicts `watermarkDelay` after a
    * fingerprint was FIRST ingested (`dropDuplicatesWithinWatermark` keys
    * state expiry to the first arrival's event time; duplicates do NOT
    * extend it). A fingerprint re-ingested beyond that horizon passes
    * through to the store upsert, which handles it as an update (identity
    * preserved): correctness degrades gracefully to the batch merge
    * semantics, never to duplicates or loss.
    */
  def spine(raw: DataFrame, watermarkDelay: String = "30 days"): DataFrame = {
    val withCats = raw
      .withColumn("transfer_category", lit(null).cast("string"))
      .withColumn("category", lit(null).cast("string"))
      .withColumn("category_manual", lit(null).cast("string"))
    Store.withStoreColumns(EventStreams.categorizeStream(withCats))
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")
      .drop("ingest_ts")
  }

  /** Run the spine over everything currently in `dir`, upserting each
    * micro-batch into the parquet store at `storePath` and stopping when
    * the input is drained (Trigger.AvailableNow — the streaming analogue
    * of one import command). `maxFilesPerTrigger` splits the drain into
    * multiple micro-batches — the spec uses it to prove incremental
    * upserts compose.
    *
    * Each micro-batch re-reads and REWRITES the whole path-based store —
    * O(store) per trigger, acceptable only for this one-shot import shape.
    * A continuous deployment (drop the trigger, let it run) must use
    * [[runSpineBucketed]], whose per-trigger cost is O(touched years +
    * batch).
    */
  def runSpine(spark: SparkSession, dir: String, storePath: String,
      checkpoint: String, watermarkDelay: String = "30 days",
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val deduped = spine(
      IngCsv.project(ingLines(spark, dir, maxFilesPerTrigger)),
      watermarkDelay)
    deduped.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val prepared = batch
          .withColumn("imported_at", current_timestamp())
          .select(TransactionSchema.storeSchema.fieldNames.toSeq
            .filterNot(_ == "transaction_id").map(col): _*)
        Store.save(Store.upsert(
          Store.loadOrEmpty(batch.sparkSession, storePath), prepared), storePath)
      }
      .start()
  }

  /** The CONTINUOUS deployment shape: the same spine, upserting each
    * micro-batch INCREMENTALLY into the fingerprint-bucketed store table —
    * per-trigger cost is O(touched `book_year` partitions + batch), never
    * O(store), which is what lets the query run unattended against a
    * 100 TB system-of-record:
    *
    *   - the merge reads the store through [[Store.upsertBucketedYears]]:
    *     partition-pruned to the batch's years (a fingerprint pins its
    *     book_date, so matches cannot exist elsewhere) and Exchange-free
    *     on the store side thanks to the fingerprint bucketing;
    *   - the write-back is [[Store.replaceYearPartitions]] — dynamic
    *     partition overwrite of exactly the touched `book_year=`
    *     directories; every other partition's data files stay
    *     byte-identical across triggers (FinanceStreamSpec asserts
    *     checksums).
    *
    * The first micro-batch bootstraps the table via [[Store.saveBucketed]].
    * Kept on `Trigger.AvailableNow` so tests and one-shot runs drain and
    * stop; a deployment drops the trigger and the per-trigger cost model
    * above is the one that holds.
    */
  def runSpineBucketed(spark: SparkSession, dir: String, table: String,
      checkpoint: String, watermarkDelay: String = "30 days",
      maxFilesPerTrigger: Option[Int] = None,
      nBuckets: Int = 16): StreamingQuery = {
    val deduped = spine(
      IngCsv.project(ingLines(spark, dir, maxFilesPerTrigger)),
      watermarkDelay)
    deduped.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        val prepared = batch
          .withColumn("imported_at", current_timestamp())
          .select(TransactionSchema.storeSchema.fieldNames.toSeq
            .filterNot(_ == "transaction_id").map(col): _*)
        if (sess.catalog.tableExists(table))
          Store.upsertBucketedYears(sess, table, prepared)
        else
          Store.saveBucketed(Store.upsert(Store.empty(sess), prepared),
            table, nBuckets)
      }
      .start()
  }
}
