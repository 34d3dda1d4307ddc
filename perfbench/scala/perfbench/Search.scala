package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.textops.Similarity

/** Vector search: each operation probes a batch of query vectors against
  * the IVF index that set-up trained and saved, through the serving path
  * (broadcast probe side, dynamic partition pruning on the cid-partitioned
  * index). Recall is checked against exact top-k computed in set-up.
  */
final class Search(spark: SparkSession, seed: Long) extends Workload {
  import Search._
  val name = "vector_search"
  private var indexPath: String = _
  private var cents: Array[Array[Double]] = _
  private var queries: IndexedSeq[Row] = _
  private[perfbench] var exact: Map[Long, Set[Long]] = _
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var indexBuildMs = 0.0

  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  def setup(dir: Path): Map[String, Double] = {
    indexPath = dir.resolve("ivf_index").toString
    val (corpus, gen1) = Workload.timed {
      val (c, q) = Gen.embeddings(seed, corpusSize, batches * batchSize, dims = 32,
        clusters = 16, noise = 0.2)
      Gen.writeVectors(dir.resolve("vectors.jsonl"), c)
      Gen.writeVectors(dir.resolve("queries.jsonl"), q)
      queries = spark.read.schema(schema).json(dir.resolve("queries.jsonl").toString)
        .collect().toIndexedSeq.sortBy(_.getLong(0))
      // read once: training, the index write and the exact top-k all scan it
      spark.read.schema(schema).json(dir.resolve("vectors.jsonl").toString).cache()
    }
    val (_, build) = Workload.timed {
      cents = Similarity.trainIvfCentroids(corpus, nCentroids = lists, iters = 2, trainMod = 2)
      Similarity.saveIvfIndex(corpus, cents, indexPath)
    }
    indexBuildMs = build * 1000
    val (_, gen2) = Workload.timed {
      exact = neighbours(Similarity.cosineTopK(corpus, frame(queries), k).collect().toSeq)
      corpus.unpersist(blocking = true)
    }
    val (_, w) = Workload.timed {
      for (i <- 0 until round / 2) op(i, new Tracer(spark, enabled = false)).verify()
      recalls.clear()
    }
    Map("generate" -> (gen1 + gen2), "index_build" -> build, "warmup" -> w)
  }

  private def frame(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)

  override def round: Int = batches

  def op(i: Int, tr: Tracer): Done = {
    val b = math.floorMod(i, batches)
    val batch = queries.slice(b * batchSize, (b + 1) * batchSize)
    val got = tr.span("textops.similarity.ivf_topk_indexed") {
      Similarity.ivfTopKIndexed(indexPath, frame(batch), k, cents, nProbe = probes).collect().toSeq
    }
    Done(batch.size, () => {
      val r = Search.recall(batch.map(_.getLong(0)), neighbours(got), exact)
      recalls += r
      r >= minRecall
    })
  }

  private def recall: Double = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size

  /** Bytes and rows of the saved index. */
  def stored: (Long, Long) =
    (Workload.dataBytes(java.nio.file.Paths.get(indexPath)), corpusSize.toLong)

  def storeBytesPerRow: Double = stored._1.toDouble / stored._2

  def layers(rep: TraceReport): Map[String, Double] = {
    val probe = "textops.similarity.ivf_topk_indexed"
    val (rows, partitions) = rep.scanned(Set(probe))
    val queried = math.max(1, rep.calls(probe) * batchSize)
    Map(
      "textops.similarity.probe_ms" -> rep.layerMs(probe),
      "textops.similarity.rows_scored_per_query" -> rows.toDouble / queried,
      "textops.similarity.partitions_read_per_query" -> partitions.toDouble / queried,
      "textops.similarity.index_build_ms" -> indexBuildMs,
      "search_recall_at_10" -> recall)
  }
}

object Search {
  val corpusSize = 6000
  val batchSize = 16
  val batches = 8
  val k = 10
  val lists = 16
  val probes = 4
  /** Lowest recall@10 a batch may have against the exact top-k. */
  val minRecall = 0.8

  def neighbours(rows: Seq[Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  /** Mean recall@k of a batch against the exact top-k. */
  def recall(qs: Seq[Long], got: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
    qs.map(q => (got.getOrElse(q, Set.empty) intersect exact(q)).size.toDouble / k).sum /
      math.max(1, qs.size)
}
