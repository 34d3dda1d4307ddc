package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2-style temporal dimension handling: turn a change-event stream
  * into validity epochs (`[valid_from, valid_to)` half-open intervals,
  * open-ended tail), then attribute facts to the epoch containing their
  * timestamp — the warehouse "effective-dated dimension lookup".
  *
  * Epoch derivation is one window pass (`lead` + `row_number` over the
  * same (key, ts) sort — a single shuffle, single sort, O(1) state per
  * row). The lookup is an equi-join on the key with the interval bounds
  * as a residual predicate: Spark plans it as a hash join keyed on the
  * key alone with the range as a post-probe filter — NEVER a
  * broadcast-nested-loop over the fact table, which is what a naive
  * `ts BETWEEN from AND to`-only condition degrades to. Dimensions are
  * small by definition at 100 TB (changes, not facts), so the dim side
  * broadcasts and the fact side never shuffles at all.
  */
object Temporal {

  /** Change events → validity epochs: adds `valid_from`, `valid_to`
    * (null = open-ended) and a 1-based `epoch_id` per key.
    */
  def epochs(changes: DataFrame, key: String, ts: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    changes
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("epoch_id", row_number().over(w))
  }

  /** Facts ⋈ epochs: each fact row joined to the single epoch of its key
    * whose `[valid_from, valid_to)` interval contains the fact timestamp
    * (inclusive start, exclusive end, open tail). Inner semantics: facts
    * before their key's first epoch drop out.
    */
  def joinInEpoch(facts: DataFrame, dim: DataFrame, key: String,
      factTs: String): DataFrame = {
    val inRange = facts(factTs) >= dim("valid_from") &&
      (dim("valid_to").isNull || facts(factTs) < dim("valid_to"))
    facts.join(broadcast(dim),
      facts(key) === dim(key) && inRange, "inner")
      .drop(dim(key))
  }

  /** Incremental view maintenance for the additive aggregates — keep a
    * materialized (key, sum, count) table current from a changelog of
    * inserts and delete tombstones WITHOUT rescanning the base: deltas
    * aggregate to one row per touched key (map-side combining — a hot
    * key's 10⁷ queued changes reduce before the shuffle), then one
    * full-outer merge adds them in; keys whose count reaches zero drop
    * out (fully-deleted groups), keys born by inserts appear. At 100 TB
    * this is the difference between O(|changes|) per refresh and a
    * full-fact-table rescan — the materialized-view maintenance rule
    * for SUM/COUNT (self-maintainable aggregates; MIN/MAX are not —
    * a delete can require a rescan, which is why they're absent here).
    *
    * Exactness contract: use an integer-valued `valueCol` (cents, the
    * [[graft.finance.Store]] discipline) for bit-reproducible sums —
    * double sums are order-dependent on any engine. Deletes must match
    * rows actually present (standard changelog discipline); the operator
    * trusts the log. Null tombstone flag = insert (never a silent
    * delete, as [[applyChangelog]]).
    */
  def maintainSumCount(base: DataFrame, changes: DataFrame, key: String,
      valueCol: String, deleteCol: String,
      sumCol: String = "sum_v", countCol: String = "n"): DataFrame = {
    val isDel = coalesce(col(deleteCol), lit(false))
    val deltas = changes.groupBy(col(key))
      .agg(sum(when(isDel, -col(valueCol)).otherwise(col(valueCol)))
          .as("graft_dv"),
        sum(when(isDel, -1L).otherwise(1L)).as("graft_dn"))
    base.join(deltas, Seq(key), "full_outer")
      .select(col(key),
        (coalesce(col(sumCol), lit(0L)) + coalesce(col("graft_dv"),
          lit(0L))).as(sumCol),
        (coalesce(col(countCol), lit(0L)) + coalesce(col("graft_dn"),
          lit(0L))).as(countCol))
      .filter(col(countCol) > 0)
  }

  /** CDC changelog apply — the lakehouse MERGE/CDF primitive: fold a
    * change stream (upserts + delete tombstones, each versioned) into a
    * base snapshot, producing the next snapshot. Per key, the HIGHEST
    * version change wins outright: an upsert replaces the base row (or
    * inserts one), a delete tombstone removes it; base rows with no
    * change pass through untouched. Exactly Delta/Iceberg MERGE
    * semantics for a latest-wins changelog (Debezium/CDF compaction).
    *
    * Shape: winner selection is ONE aggregate — `max_by(payload,
    * version)` (struct-buffered, so physically an interpreted
    * SortAggregate; a per-task sort, but no joins and one exchange).
    * By default it PARTIAL-aggregates map-side, so a hot key's 10⁷
    * queued changes reduce to one row per map partition before the
    * shuffle — the skew armor a 100 TB replay needs. When the caller
    * KNOWS per-key multiplicity is small (a compacted daily CDC batch:
    * a handful of changes per key, spread across input splits), the
    * partial phase reduces nothing and costs a second full sort —
    * `skipPartialAgg` repartitions on the key and runs the aggregate
    * COMPLETE-mode instead (the [[Quality.audit]]
    * repartition-then-aggregate lesson applied to max_by; measured
    * −2 s of 8.5 on the sf1 q97 gate). `numPartitions` sizes that
    * exchange — align it with the base table's bucket count so the
    * downstream merge join gets full parallelism without a second
    * exchange. The r15 adjudication measured the plausible
    * alternatives and kept max_by: a max(version)+join-back (even
    * exchange-reusing, hash-hinted) pays the changelog exchange twice
    * plus a dedup — 13.3 s on the gate; a row_number window carries
    * the payload through its sort — 10.2 s; a bounded TypedImperative
    * top-1 aggregate falls off ObjectHashAggregate's 128-key fallback
    * into sorted-interpreted inserts — 27.7 s; max_by with the fixes
    * above: 5.3 s. Callers with a BOUNDED composite version should
    * still pack it into one long (cents/seq in the low bits, loud
    * range guard — the q97 gate pattern): an 8-byte version makes
    * every SortAggregate comparison one long compare instead of an
    * interpreted struct walk.
    * The fold is then a single full-outer join on the key: changed
    * keys take the winner's payload, unchanged keys keep the base row,
    * tombstoned keys drop. Both sides shuffle once on the key — at
    * 100 TB the changelog side is typically ≪ base, and AQE broadcasts
    * it.
    *
    * Determinism contract: `(key, version)` unique in `changes`
    * (standard CDC — version is an offset/LSN). Violations surface
    * loudly via max_by's ties being broken arbitrarily ONLY if the
    * caller supplied duplicate versions; pass a composite version
    * (struct, or better a packed long) to break ties totally when the
    * source can't guarantee it.
    */
  def applyChangelog(base: DataFrame, changes: DataFrame, key: String,
      versionCol: String, deleteCol: String,
      skipPartialAgg: Boolean = false,
      numPartitions: Option[Int] = None): DataFrame = {
    val payloadCols = base.columns.toSeq
    require(payloadCols.contains(key), s"base must carry $key")
    val payload = struct(col(deleteCol).as("graft_del") +:
      payloadCols.filter(_ != key).map(col): _*)
    val pre =
      if (!skipPartialAgg) changes
      else numPartitions match {
        case Some(n) => changes.repartition(n, col(key))
        case None    => changes.repartition(col(key))
      }
    val winner = pre.groupBy(col(key))
      .agg(max_by(payload, col(versionCol)).as("graft_w"))
    base.join(winner, Seq(key), "full_outer")
      // null tombstone flag = not a delete (a silent drop would be the
      // worst possible failure mode for a merge)
      .filter(col("graft_w").isNull ||
        !coalesce(col("graft_w.graft_del"), lit(false)))
      .select(col(key) +: payloadCols.filter(_ != key).map(c =>
        when(col("graft_w").isNotNull, col(s"graft_w.$c"))
          .otherwise(col(c)).as(c)): _*)
  }

  /** Save a snapshot as a KEY-BUCKETED table — the base-table layout
    * [[applyChangelogBucketed]] merges into without ever shuffling the
    * base side. The snapshot is written to `<table>_staging` and swapped
    * in by DROP + RENAME, so a crash between the two leaves only the
    * staging table. Not partitioned: a CDC base table's access path is
    * the key, not time.
    */
  def saveBucketedBase(df: DataFrame, table: String, key: String,
      nBuckets: Int = 32): Unit = {
    val spark = df.sparkSession
    val staging = table + "_staging"
    // DROP in a fresh session's empty catalog does not remove a previous
    // JVM's managed directory — clear the leftover locations explicitly
    // or the staging rename fails with LOCATION_ALREADY_EXISTS. When the
    // table EXISTS in the catalog, resolve its real location from the
    // catalog metadata (the <warehouse>/<table> guess only holds in the
    // default database); the warehouse-relative path remains the fallback
    // sweep for orphaned directories no catalog entry names.
    def dropWithLocation(t: String): Unit = {
      val catalog = spark.sessionState.catalog
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(t)
      val loc: Option[org.apache.hadoop.fs.Path] =
        if (catalog.tableExists(ident))
          Some(new org.apache.hadoop.fs.Path(
            catalog.getTableMetadata(ident).location))
        else None
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val hconf = spark.sparkContext.hadoopConfiguration
      loc.foreach { p =>
        val fs = p.getFileSystem(hconf)
        if (fs.exists(p)) fs.delete(p, true)
      }
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = wh.getFileSystem(hconf)
      if (fs.exists(wh)) fs.delete(wh, true)
    }
    dropWithLocation(staging)
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(staging)
    dropWithLocation(table)
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  /** [[applyChangelog]] against a [[saveBucketedBase]] table: the base
    * side of the full-outer merge reads ALREADY partitioned (and sorted)
    * on the key, so the plan carries NO base-side Exchange — only the
    * changelog shuffles (TemporalSpec pins the shape). This is the
    * deployment contract that matters at fleet scale: the base snapshot
    * is orders of magnitude larger than any day's changelog, so the
    * plain operator's O(base) exchange + sort IS the job; against the
    * bucketed table the merge costs O(changes) + a co-located join read.
    * The merged OUTPUT is what the next [[saveBucketedBase]] writes —
    * the same read-modify-write cycle as the finance store's bucketed
    * upsert.
    */
  def applyChangelogBucketed(spark: org.apache.spark.sql.SparkSession,
      baseTable: String, changes: DataFrame, key: String,
      versionCol: String, deleteCol: String): DataFrame = {
    // bucketed deployment = compacted batch per key: skip the useless
    // partial phase and size the winner exchange to the base table's
    // OWN bucket count (read from the catalog, never a drifting
    // parameter) so the merge join runs bucket-parallel with the base
    // scan staying bucketed — no base Exchange, no planner fallback
    val buckets = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        baseTable))
      .bucketSpec.map(_.numBuckets)
    applyChangelog(spark.table(baseTable), changes, key, versionCol,
      deleteCol, skipPartialAgg = true, numPartitions = buckets)
  }
}
