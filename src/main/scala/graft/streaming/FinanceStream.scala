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
  * is the same fingerprint-keyed merge join and crash-safe [[Store.save]]
  * commit the batch import uses.
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
    * Each micro-batch re-reads and rewrites the whole store, O(store) per
    * trigger: a store is one user's ledger (see [[Store]]'s scale
    * posture). A restarted drain on the same checkpoint ingests only new
    * files and continues ids from the committed store.
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
}
