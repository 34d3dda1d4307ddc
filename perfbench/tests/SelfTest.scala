package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._

import graft.finance.{Analysis, Categorizer, Report, Store}

/** The benchmark's own tests: the generator is deterministic, and every
  * output check accepts the program's real output and rejects a
  * deliberately corrupted copy of it.
  *
  * Usage: python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  /** Every input file a seed produces: ledger histories and statements,
    * the corpus and the embeddings.
    */
  private def generate(spark: SparkSession, seed: Long, dir: Path): Map[String, Seq[Byte]] = {
    val d = new LedgerData(spark, seed, dir.resolve("ledger"), Seq(300, 2000))
    d.generate()
    for (k <- 0 until 3; u <- 0 until 2) d.nextStatement(u, k)
    val (docs, _) = Gen.corpus(seed, 200, 10, 5, 20, 10)
    Gen.writeDocs(dir.resolve("corpus.jsonl"), docs)
    val (vs, qs) = Gen.embeddings(seed, 500, 16, 8, 4, 0.25)
    Gen.writeVectors(dir.resolve("vectors.jsonl"), vs)
    Gen.writeVectors(dir.resolve("queries.jsonl"), qs)
    tree(dir)
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0))
    val spark = graft.finance.Cli.session()
    try {
      generatorTests(spark, root.resolve("gen"))
      ledgerTests(spark, root.resolve("ledger"))
      curationTests(spark, root.resolve("curation"))
      searchTests(spark, root.resolve("search"))
    } finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def generatorTests(spark: SparkSession, dir: Path): Unit = {
    val a = generate(spark, 11, dir.resolve("a"))
    val b = generate(spark, 11, dir.resolve("b"))
    val c = generate(spark, 12, dir.resolve("c"))
    expect("generator: files written", a.size >= 10)
    expect("generator: same seed gives byte-identical inputs", a == b)
    expect("generator: another seed gives other inputs",
      a.keySet == c.keySet && a.exists { case (k, v) => c(k) != v })
  }

  def ledgerTests(spark: SparkSession, dir: Path): Unit = {
    val off = new Tracer(spark, enabled = false)
    val d = new LedgerData(spark, 7, dir, Seq(600))
    d.generate()(0).foreach(d.ingest(off, 0, _))
    val (stmt, _) = d.nextStatement(0, 0)
    val total = d.ingest(off, 0, stmt)
    expect("ingest: row count equals seeded plus new distinct rows", total == d.expectedRows(0))
    expect("ingest: real store passes", d.verifyStore(0))

    val path = d.store(0)
    val original = spark.read.parquet(path).collect()
    val schema = spark.read.parquet(path).schema
    def restore(rows: Seq[Row]): Unit =
      Store.save(spark.createDataFrame(rows.asJava, schema), path)
    def corrupted(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Boolean = {
      Store.save(f(spark.createDataFrame(original.toSeq.asJava, schema)), path)
      try d.verifyStore(0) finally restore(original.toSeq)
    }
    expect("ingest: wrong categories rejected",
      !corrupted(_.withColumn("category", lit("einkaufen"))))
    expect("ingest: duplicate fingerprint rejected",
      !corrupted(df => df.unionByName(df.limit(1))))
    expect("ingest: lost row rejected",
      !corrupted(df => df.orderBy("fingerprint").offset(1)))
    expect("ingest: store restored", d.verifyStore(0))

    val y = Gen.historyYears(3)
    val pc = Categorizer.addCat(Store.load(spark, path))
    val html = Report.render(pc, y, Seq("Wohnung (AfA)" -> 250000.0), 50, 13.0 / 110.0)
    val unc = Analysis.uncategorized(pc, y).collect()
    val cum = Analysis.uncategorizedCumsum(pc, y).collect()
    graft.CacheHandles.releaseAll()
    val t = Reference.reportTotals(d.rows(0), y)
    expect("report: real report passes", LedgerSession.verify(html, unc, cum, t))
    expect("report: wrong income total rejected",
      !LedgerSession.verify(html.replace(Reference.eur(t.incomeCents), "0,01"), unc, cum, t))
    expect("report: wrong expense total rejected",
      !LedgerSession.verify(html.replace(Reference.eur(t.expenseCents), "0,00"), unc, cum, t))
    expect("report: missing uncategorized row rejected",
      unc.nonEmpty && !LedgerSession.verify(html, unc.tail, cum, t))
    val bumped = {
      val r = cum(0)
      val i = r.fieldIndex("cumulative_sum")
      new GenericRowWithSchema(r.toSeq.updated(i, r.getDouble(i) + 1.0).toArray, r.schema): Row
    }
    expect("report: wrong cumulative sum rejected",
      !LedgerSession.verify(html, unc, cum.updated(0, bumped), t))
  }

  def curationTests(spark: SparkSession, dir: Path): Unit = {
    val c = new Curation(spark, 7)
    c.setup(dir)
    val d = c.op(0, new Tracer(spark, enabled = false))
    expect("curation: real pass passes", d.verify())
    d.release()
    val survivors = spark.read.parquet(c.outPath).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val dup = c.truth.exactGroups.head.max
    val junk = c.truth.filtered.head
    expect("curation: real survivors pass", Curation.check(c.truth, survivors, 1.0))
    expect("curation: kept exact duplicate rejected",
      !Curation.check(c.truth, survivors + dup, 1.0))
    expect("curation: kept filtered document rejected",
      !Curation.check(c.truth, survivors + junk, 1.0))
    expect("curation: low near-duplicate recall rejected",
      !Curation.check(c.truth, survivors, Curation.minRecall / 2))
    val merged = c.truth.nearClusters.flatMap { case (b, vs) => (b +: vs).map(_ -> b) }.toMap
    expect("curation: fully merged clusters have recall 1",
      Curation.recall(c.truth, merged) == 1.0)
    expect("curation: split cluster lowers recall",
      Curation.recall(c.truth, merged + (c.truth.nearClusters.head._2.head -> -1L)) < 1.0)
  }

  def searchTests(spark: SparkSession, dir: Path): Unit = {
    val s = new Search(spark, 7)
    s.setup(dir)
    val d = s.op(0, new Tracer(spark, enabled = false))
    expect("search: real batch passes", d.verify())
    val qs = s.exact.keys.toSeq.sorted.take(Search.batchSize)
    expect("search: exact neighbours have recall 1",
      Search.recall(qs, s.exact, s.exact) == 1.0)
    val wrong = qs.map(q => q -> s.exact(q).map(_ + 1000000L)).toMap
    expect("search: wrong neighbours rejected",
      Search.recall(qs, wrong, s.exact) < Search.minRecall)
  }
}
