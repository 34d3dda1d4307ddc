package graft.finance

import java.nio.file.Files
import java.security.MessageDigest
import java.sql.Date

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FinanceQueries

class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def rawRow(
      account: String, bookDate: String, valutaDate: String, party: String,
      bookText: String, purpose: String, amount: Double, balance: Double) =
    (account, Date.valueOf(bookDate), Date.valueOf(valutaDate), party,
      bookText, purpose, amount, balance)

  private def rawDf(rows: Seq[(String, Date, Date, String, String, String, Double, Double)]): DataFrame =
    rows.toDF("account", "book_date", "valuta_date", "party", "book_text",
      "purpose", "amount", "balance")
      .withColumn("transfer_category", lit(null).cast("string"))
      .withColumn("category", lit(null).cast("string"))
      .withColumn("category_manual", lit(null).cast("string"))

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("fingerprint matches the reference format (golden vector)") {
    val d = Store.withStoreColumns(rawDf(Seq(
      rawRow("giro", "2024-06-03", "2024-06-04", "REWE MARKT", "Lastschrift",
        "Einkauf", -45.67, 1234.56),
      rawRow("giro", "2024-06-03", "2024-06-04", null, null, null, -45.67, 0.0))))
    val fps = d.orderBy(asc_nulls_last("party")).select("fingerprint")
      .as[String].collect()
    assert(fps(0) === sha256Hex(
      "giro|2024-06-03|2024-06-04|REWE MARKT|Lastschrift|Einkauf|-4567"))
    // NULL text fields → "", never the literal "null"
    assert(fps(1) === sha256Hex("giro|2024-06-03|2024-06-04||||-4567"))
  }

  test("cents use banker's rounding (half-to-even), matching pandas .round()") {
    val d = rawDf(Seq(
      rawRow("giro", "2024-01-01", "2024-01-01", "a", null, null, 0.125, 0.135),
      rawRow("giro", "2024-01-02", "2024-01-02", "b", null, null, -0.125, 0.0)))
    val out = Store.withStoreColumns(d)
      .orderBy("book_date").select("amount_cents", "balance_cents")
      .as[(Long, Long)].collect()
    assert(out(0) === ((12L, 14L)))  // 12.5 → 12 (even), 13.5 → 14 (even)
    assert(out(1)._1 === -12L)
  }

  test("upsert: new rows inserted with MAX(id)+position ids, burned on conflict") {
    val first = Store.withStoreColumns(rawDf(Seq(
      rawRow("giro", "2024-01-01", "2024-01-01", "a", null, "p1", -1.0, 0.0),
      rawRow("giro", "2024-01-02", "2024-01-02", "b", null, "p2", -2.0, 0.0))))
    // LocalRelation empty (not emptyRDD) so the no-RDD-seam plan assertion
    // below sees only relational leaves.
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      TransactionSchema.storeSchema)
    val store1 = Store.upsert(empty, first
      .withColumn("imported_at", current_timestamp()))
    assert(store1.select("transaction_id").as[Long].collect().sorted
      === Array(1L, 2L))

    // Second import: one existing row (conflict) + one new row. The batch
    // enumerates ids 3,4 in canonical order; the conflicting row burns its
    // candidate id; the new row keeps its position-based id.
    val second = Store.withStoreColumns(rawDf(Seq(
      rawRow("giro", "2024-01-01", "2024-01-01", "a", null, "p1", -1.0, 0.0),
      rawRow("giro", "2024-01-03", "2024-01-03", "c", null, "p3", -3.0, 0.0))))
    val store2 = Store.upsert(store1,
      second.withColumn("imported_at", current_timestamp()))
    val ids = store2.orderBy("book_date")
      .select("party", "transaction_id").as[(String, Long)].collect()
    assert(ids === Array(("a", 1L), ("b", 2L), ("c", 4L)))

    // The id-assignment path stays inside ONE Catalyst plan: no RDD seam
    // (Scan ExistingRDD / SerializeFromObject show up when a DataFrame is
    // rebuilt from an RDD, as the old zipWithIndex path did). The only
    // non-relational leaf is the empty-store LocalRelation.
    val plan = store2.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), plan.take(2000))
    assert(!plan.contains("SerializeFromObject"), plan.take(2000))
  }

  test("upsert updates ONLY the 4-column policy, preserving identity columns") {
    val v1 = Store.withStoreColumns(rawDf(Seq(
      rawRow("giro", "2024-01-01", "2024-01-01", "a", null, "p1", -1.0, 10.0)))
      .withColumn("category", lit("old::cat")))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      TransactionSchema.storeSchema)
    val store1 = Store.upsert(empty,
      v1.withColumn("imported_at", to_timestamp(lit("2024-01-01 00:00:00"))))

    // Re-import the same natural key with new categorization and balance.
    val v2 = Store.withStoreColumns(rawDf(Seq(
      rawRow("giro", "2024-01-01", "2024-01-01", "a", null, "p1", -1.0, 99.0))
      ).withColumn("category", lit("new::cat"))
       .withColumn("transfer_category", lit("t::x")))
    // same fingerprint: balance is NOT part of the natural key
    val store2 = Store.upsert(store1,
      v2.withColumn("imported_at", to_timestamp(lit("2025-01-01 00:00:00"))))

    val row = store2.collect().head
    assert(store2.count() === 1)
    assert(row.getAs[Long]("transaction_id") === 1L)            // preserved
    assert(row.getAs[java.sql.Timestamp]("imported_at").toString
      .startsWith("2024-01-01"))                                // preserved
    assert(row.getAs[String]("category") === "new::cat")        // updated
    assert(row.getAs[String]("transfer_category") === "t::x")   // updated
    assert(row.getAs[Long]("balance_cents") === 9900L)          // updated
  }

  test("importBatch: store rows beat re-imported rows on the natural key") {
    val store = rawDf(Seq(
      rawRow("giro", "2024-01-01", "2024-01-01", "a", "t", "p", -1.0, 0.0)))
      .withColumn("category", lit("kept"))
    val batch = rawDf(Seq(
      rawRow("giro", "2024-01-01", "2024-01-01", "a", "t", "p", -1.0, 50.0),
      rawRow("giro", "2024-01-05", "2024-01-05", "z", "t", "p", -9.0, 0.0)))
    val out = Store.importBatch(store, batch).orderBy("book_date").collect()
    assert(out.length === 2)
    assert(out(0).getAs[String]("category") === "kept")
    assert(out(0).getAs[Double]("balance") === 0.0)  // store row survived
    assert(out(1).getAs[String]("party") === "z")
  }

  test("upsert + save leave no persisted RDD behind") {
    val dir = Files.createTempDirectory("store-rel").resolve("tx.parquet")
    val batch = Store.withStoreColumns(rawDf(Seq(
      rawRow("giro", "2024-01-01", "2024-01-01", "a", null, "p1", -1.0, 0.0))))
      .withColumn("imported_at", current_timestamp())
    // delta-based so other suites' persists don't bleed in
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Store.save(Store.upsert(Store.empty(spark), batch), dir.toString)
    val mine = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(mine.isEmpty, "upsert must cache nothing")
    assert(spark.read.parquet(dir.toString).count() === 1)
  }

  test("upsert ids: MAX(id) + position in the batch's canonical order") {
    val day = java.time.LocalDate.of(2024, 1, 1)
    def row(i: Int, dayOff: Int, account: String, party: String,
        purpose: String) =
      (account, Date.valueOf(day.plusDays(dayOff)),
        Date.valueOf(day.plusDays(dayOff + 1)), party, s"t$i", purpose,
        -i.toDouble, 0.0)
    // 50 groups of 4 rows that tie on every canonical-order column (they
    // differ in book_text and amount), some with NULL party or purpose,
    // then 200 rows with unique order keys
    val tied = (0 until 200).map { i =>
      val g = i / 4
      row(i, (g * 7) % 50, Seq("giro", "common", "gesa")(g % 3),
        if (g % 10 == 0) null else s"g$g", if (g % 6 == 0) null else "p")
    }
    val unique = (200 until 400).map(i =>
      row(i, 60 + (i * 13) % 200, Seq("giro", "common")(i % 2), s"u$i", "q"))
    // the store: 40 of the unique rows (conflicts) plus 20 store-only rows
    val storeOnly = (0 until 20).map(j => row(1000 + j, -100 - j, "gesa", s"s$j", "r"))
    def prepared(rows: Seq[(String, Date, Date, String, String, String, Double, Double)]) =
      Store.withStoreColumns(rawDf(rows))
        .withColumn("imported_at", to_timestamp(lit("2024-01-01 00:00:00")))
    val path = Files.createTempDirectory("store-ids").resolve("tx.parquet").toString
    Store.save(Store.upsert(Store.empty(spark),
      prepared(unique.take(40) ++ storeOnly)), path)
    val existing = Store.loadOrEmpty(spark, path)
    val storeIds = existing.select("fingerprint", "transaction_id")
      .as[(String, Long)].collect().toMap
    assert(storeIds.values.toSet === (1L to 60L).toSet)

    val batch = prepared(new scala.util.Random(7).shuffle(tied ++ unique)).repartition(8)
    assert(batch.rdd.getNumPartitions === 8)
    val out = Store.upsert(existing, batch)
      .select("fingerprint", "transaction_id").as[(String, Long)].collect()
    assert(out.length === 60 + 400 - 40)
    assert(out.map(_._2).distinct.length === out.length)
    val got = out.toMap

    // driver side: sort the batch by the canonical order (nulls last) and
    // enumerate it from MAX(id) + 1; tied rows share their positions
    type Key = (Long, String, Long, Option[String], Option[String])
    val nullsLast = Ordering.by[Option[String], (Boolean, String)](
      o => (o.isEmpty, o.getOrElse("")))
    implicit val keyOrder: Ordering[Key] = Ordering.Tuple5(
      Ordering.Long, Ordering.String, Ordering.Long, nullsLast, nullsLast)
    val keyed = batch.select("fingerprint", "book_date", "account",
        "valuta_date", "party", "purpose").collect().toSeq.map { r =>
      (r.getString(0), (r.getDate(1).getTime, r.getString(2),
        r.getDate(3).getTime, Option(r.getString(4)), Option(r.getString(5))): Key)
    }.sortBy(_._2)
    val candidates = keyed.zipWithIndex.map { case ((fp, k), pos) =>
      (fp, k, 60L + pos + 1) }
    candidates.groupBy(_._2).values.foreach { group =>
      val (known, fresh) = group.partition(c => storeIds.contains(c._1))
      // a conflicting row keeps its store id and burns its candidate id
      known.foreach(c => assert(got(c._1) === storeIds(c._1)))
      if (known.isEmpty)
        assert(fresh.map(c => got(c._1)).sorted === group.map(_._3).sorted)
      else assert(group.length === 1)
    }
    storeIds.foreach { case (fp, id) => assert(got(fp) === id) }
  }

  test("save: every crash state reads as the old or the new store") {
    val root = Files.createTempDirectory("store-crash")
    def prepared(parties: String*) = Store.withStoreColumns(rawDf(
      parties.zipWithIndex.map { case (p, i) =>
        rawRow("giro", s"2024-01-0${i + 1}", s"2024-01-0${i + 1}", p, null,
          null, -1.0 - i, 0.0) }))
      .withColumn("imported_at", to_timestamp(lit("2024-01-01 00:00:00")))
    // the committed old version and the new one that a save would publish
    val oldDir = root.resolve("old.parquet")
    val newDir = root.resolve("new.parquet")
    Store.save(Store.upsert(Store.empty(spark), prepared("a", "b")), oldDir.toString)
    Store.save(Store.upsert(Store.loadOrEmpty(spark, oldDir.toString),
      prepared("a", "b", "c")), newDir.toString)
    val (oldRows, newRows) = (Set("a", "b"), Set("a", "b", "c"))
    def copy(from: java.nio.file.Path, to: java.nio.file.Path,
        complete: Boolean = true): Unit = {
      val files = Files.list(from).toArray.map(_.asInstanceOf[java.nio.file.Path])
      Files.createDirectories(to)
      files.filter(f => complete || !f.getFileName.toString.contains("SUCCESS"))
        .foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    }
    // (name, (store, aside, staging), expected rows); a partial staging
    // copy is one whose write had not finished (no _SUCCESS marker)
    val states = Seq(
      ("committed, staging being written", (Some(oldDir), None, Some(false)), oldRows),
      ("committed, staging written", (Some(oldDir), None, Some(true)), oldRows),
      ("between the renames", (None, Some(oldDir), Some(true)), oldRows),
      ("published, old copy not yet dropped", (Some(newDir), Some(oldDir), None), newRows),
      ("only the old copy aside", (None, Some(oldDir), None), oldRows),
      ("only a written staging copy", (None, None, Some(true)), newRows),
      ("only a partial staging copy", (None, None, Some(false)), Set.empty[String]))
    states.zipWithIndex.foreach { case ((name, (store, aside, staging), want), i) =>
      val path = root.resolve(s"s$i").resolve("tx.parquet")
      store.foreach(copy(_, path))
      aside.foreach(copy(_, path.resolveSibling("tx.parquet.old")))
      staging.foreach(done => copy(newDir, path.resolveSibling("tx.parquet.staging"), done))
      def parties() = Store.loadOrEmpty(spark, path.toString)
        .select("party").as[String].collect().toSet
      assert(parties() === want, name)
      if (want.nonEmpty)
        assert(Store.load(spark, path.toString).select("party").as[String]
          .collect().toSet === want, name)
      // the next import keeps every row the crash left readable
      Store.save(Store.upsert(Store.loadOrEmpty(spark, path.toString),
        prepared("z")), path.toString)
      assert(parties() === want + "z", name)
      assert(!Files.exists(path.resolveSibling("tx.parquet.old")), name)
    }
  }

  test("an import after a crash mid-commit keeps the earlier rows") {
    // A save stopped after the old store left its path: the new version
    // is complete in `.staging` and nothing is at the store path. Without
    // recovery, the next import starts from an empty store and overwrites
    // `.staging`, the only copy of the earlier rows.
    val csvs = FinanceQueries.ingFixtures
      .map(f => s"${FinanceQueries.fixtureDir}/${f._2}")
    val root = Files.createTempDirectory("store-crash-cli")
    def fingerprints(p: java.nio.file.Path) =
      spark.read.parquet(p.toString).select("fingerprint").as[String]
        .collect().toSet
    val all = root.resolve("all.parquet")
    Cli.ingImport(spark, all.toString, csvs.mkString(","))
    val path = root.resolve("tx.parquet")
    Cli.ingImport(spark, path.toString, csvs.take(2).mkString(","))
    val earlier = fingerprints(path)
    Files.move(path, path.resolveSibling("tx.parquet.staging"))
    Cli.ingImport(spark, path.toString, csvs.drop(2).mkString(","))
    assert(earlier.nonEmpty && earlier.subsetOf(fingerprints(path)))
    assert(fingerprints(path) === fingerprints(all))
  }

  test("save + load round-trip restores euros and canonical order") {
    val dir = Files.createTempDirectory("store").resolve("tx.parquet").toString
    val batch = Store.withStoreColumns(rawDf(Seq(
      rawRow("giro", "2024-02-01", "2024-02-01", "b", null, null, -2.5, 1.0),
      rawRow("common", "2024-01-01", "2024-01-01", "a", null, null, 1.25, 2.0))))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      TransactionSchema.storeSchema)
    Store.save(Store.upsert(empty,
      batch.withColumn("imported_at", current_timestamp())), dir)
    val back = Store.load(spark, dir)
    val rows = back.collect()
    assert(rows.map(_.getAs[String]("account")).toSeq === Seq("common", "giro"))
    assert(rows.map(_.getAs[Double]("amount")).toSeq === Seq(1.25, -2.5))
  }

  /** Spark jobs `body` starts on this thread. Jobs are told apart by a
    * job group; a marker job in the same group, run last, flushes the
    * asynchronous listener bus, which delivers events in order.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"store-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker")
            marker.countDown()
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "probe")
    try {
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("Store.load starts no Spark job: the store schema is known") {
    val dir = Files.createTempDirectory("store-load").resolve("tx.parquet")
      .toString
    val batch = Store.withStoreColumns(rawDf(Seq(
      rawRow("giro", "2024-02-01", "2024-02-01", "b", null, null, -2.5, 1.0))))
      .withColumn("imported_at", current_timestamp())
    Store.save(Store.upsert(Store.empty(spark), batch), dir)
    var loaded: DataFrame = null
    assert(jobsStartedBy { loaded = Store.load(spark, dir) } === 0)
    assert(jobsStartedBy { Store.loadOrEmpty(spark, dir) } === 0)
    assert(loaded.collect().map(_.getAs[Double]("amount")).toSeq === Seq(-2.5))
  }
}
