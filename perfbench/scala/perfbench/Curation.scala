package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.textops.{Dedup, TextStats}

/** Corpus curation: each operation is one full curation pass over the same
  * generated corpus — quality and language filter, exact dedup, MinHash-LSH
  * candidate pairs, connected components, survivor selection — with the
  * survivors written out. Runs no finance code.
  */
final class Curation(spark: SparkSession, seed: Long) extends Workload {
  val name = "corpus_curation"
  private var corpusPath: String = _
  private[perfbench] var outPath: String = _
  private[perfbench] var truth: Gen.CorpusTruth = _
  private var docs = 0L
  private var lastRecall = 0.0

  def setup(dir: Path): Map[String, Double] = {
    corpusPath = dir.resolve("corpus.jsonl").toString
    outPath = dir.resolve("survivors.parquet").toString
    val (_, gen) = Workload.timed {
      val (ds, t) = Gen.corpus(seed, uniques = 700, exactGroupsN = 40,
        nearClustersN = 25, bigCluster = 60, junk = 60)
      Gen.writeDocs(java.nio.file.Paths.get(corpusPath), ds)
      truth = t
      docs = ds.size.toLong
    }
    val (_, w) = Workload.timed {
      val d = op(-1, new Tracer(spark, enabled = false))
      d.release()
    }
    Map("generate" -> gen, "warmup" -> w)
  }

  def op(i: Int, tr: Tracer): Done = {
    val input = spark.read.schema("doc_id LONG, text STRING").json(corpusPath)
    val filtered = tr.layer("textops.textstats.filter") {
      input.withColumn("n_chars", length(col("text")))
        .filter(TextStats.qualityScore(col("text")) >= 0.55 &&
          TextStats.langId(col("text")) === "en")
    }
    val exact = tr.layer("textops.dedup.exact") { Dedup.exact(filtered) }
    val drops = Observation(s"perfbench-drops-$i-${System.nanoTime()}")
    val (pairs, releasePairs) = tr.span("textops.dedup.minhash") {
      val (p, r) = Dedup.minhashLshPairsReleasable(exact, dropStats = Some(drops))
      (tr.boundary(p), r)
    }
    val (components, rounds, releaseCc) = tr.span("textops.dedup.cc") {
      Dedup.connectedComponentsStats(pairs, nodes = Some(exact.select(col("doc_id"))))
    }
    val keep = tr.layer("textops.dedup.survivor") {
      Dedup.survivorSelection(components, exact)
    }
    tr.span("curation.write_survivors") {
      exact.join(keep.filter(col("keep") === 1).select("doc_id"), "doc_id")
        .write.mode("overwrite").parquet(outPath)
    }
    if (tr.enabled) {
      tr.probe("textops.dedup.exact_dup_ratio") {
        1.0 - exact.count().toDouble / math.max(1L, filtered.count())
      }
      tr.probe("textops.dedup.candidate_pairs")(pairs.count().toDouble)
      tr.probe("textops.dedup.survivor_ratio") {
        keep.filter(col("keep") === 1).count().toDouble / math.max(1L, exact.count())
      }
      tr.note("textops.dedup.cc_rounds", rounds)
      tr.note("textops.dedup.bucket_drops",
        drops.get.get("dropped_groups").map(_.toString.toDouble).getOrElse(0.0))
    }
    Done(docs, () => verify(components), () => { releasePairs(); releaseCc() })
  }

  /** Every planted exact duplicate is gone (each group keeps exactly its
    * smallest id), no filtered document survives, and planted
    * near-duplicates are merged with their base often enough.
    */
  private def verify(components: org.apache.spark.sql.DataFrame): Boolean = {
    val survivors = spark.read.parquet(outPath).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val comp = components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lastRecall = Curation.recall(truth, comp)
    Curation.check(truth, survivors, lastRecall)
  }

  /** Bytes and rows of the survivors written. */
  def stored: (Long, Long) =
    (Workload.dataBytes(java.nio.file.Paths.get(outPath)), spark.read.parquet(outPath).count())

  def storeBytesPerRow: Double = stored._1.toDouble / math.max(1L, stored._2)

  def layers(rep: TraceReport): Map[String, Double] = Map(
    "textops.textstats.filter_ms" -> rep.layerMs("textops.textstats.filter"),
    "textops.dedup.exact_ms" -> rep.layerMs("textops.dedup.exact"),
    "textops.dedup.minhash_ms" -> rep.layerMs("textops.dedup.minhash"),
    "textops.dedup.cc_ms" -> rep.layerMs("textops.dedup.cc"),
    "textops.dedup.survivor_ms" -> rep.layerMs("textops.dedup.survivor"),
    "textops.dedup.exact_dup_ratio" -> rep.noteMean("textops.dedup.exact_dup_ratio"),
    "textops.dedup.candidate_pairs" -> rep.noteMean("textops.dedup.candidate_pairs"),
    "textops.dedup.bucket_drops" -> rep.noteMean("textops.dedup.bucket_drops"),
    "textops.dedup.cc_rounds" -> rep.noteMean("textops.dedup.cc_rounds"),
    "textops.dedup.survivor_ratio" -> rep.noteMean("textops.dedup.survivor_ratio"),
    "dedup_recall" -> lastRecall)
}

object Curation {
  /** Lowest near-duplicate recall the pass must reach. */
  val minRecall = 0.9

  /** Share of planted (variant, base) pairs that ended in one component. */
  def recall(t: Gen.CorpusTruth, comp: Map[Long, Long]): Double = {
    val pairs = t.nearClusters.flatMap { case (b, vs) => vs.map(_ -> b) }
    pairs.count { case (v, b) => comp.contains(v) && comp.get(v) == comp.get(b) }
      .toDouble / math.max(1, pairs.size)
  }

  def check(t: Gen.CorpusTruth, survivors: Set[Long], recall: Double): Boolean =
    t.exactGroups.forall(g => g.filter(survivors.contains) == Seq(g.min)) &&
      !t.filtered.exists(survivors.contains) && recall >= minRecall
}
