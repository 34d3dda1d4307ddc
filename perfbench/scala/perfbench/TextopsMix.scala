package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** textops_mix: a node that curates and serves. Each round is one
  * curation pass ([[Curation]]) followed by one pass over the query
  * batches ([[Search]]), so the median operation is a search batch and the
  * slowest is the curation pass. Runs no finance code.
  */
final class TextopsMix(spark: SparkSession, seed: Long) extends Workload {
  val name = "textops_mix"
  private val curation = new Curation(spark, seed)
  private val search = new Search(spark, seed)

  def setup(dir: Path): Map[String, Double] = {
    val c = curation.setup(dir.resolve("curation"))
    val s = search.setup(dir.resolve("search"))
    (c.keySet ++ s.keySet).map(k => k -> (c.getOrElse(k, 0.0) + s.getOrElse(k, 0.0))).toMap
  }

  override def round: Int = 1 + search.round

  def op(i: Int, tr: Tracer): Done = {
    val r = math.floorDiv(i, round)
    val k = math.floorMod(i, round)
    if (k == 0) curation.op(r, tr) else search.op(r * search.round + k - 1, tr)
  }

  def storeBytesPerRow: Double = {
    val (cb, cr) = curation.stored
    val (sb, sr) = search.stored
    (cb + sb).toDouble / math.max(1L, cr + sr)
  }

  def layers(rep: TraceReport): Map[String, Double] =
    curation.layers(rep) ++ search.layers(rep)
}
