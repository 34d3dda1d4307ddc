package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The outcome of one timed operation: the rows it processed, its output
  * check (run after the timer stops) and the release of anything it keeps
  * for that check.
  */
final case class Done(rows: Long, verify: () => Boolean, release: () => Unit = () => ())

/** One workload: a closed loop of operations from a single client over
  * state that [[setup]] builds from the seed.
  */
trait Workload {
  def name: String

  /** Generate the inputs under `dir` and build what the operations start
    * from, then warm up. Returns seconds per set-up phase
    * (generate, seed_stores, index_build, warmup).
    */
  def setup(dir: Path): Map[String, Double]

  /** Operations per round. A window runs whole rounds, so every window
    * holds the same mix of operations.
    */
  def round: Int = 1

  /** Untimed per-operation preparation, such as writing the next input. */
  def prepare(i: Int): Unit = ()

  def op(i: Int, tr: Tracer): Done

  /** Checks that need the state after the window; returns failed op ids. */
  def finish(ops: Seq[Int]): Set[Int] = Set.empty

  /** Bytes per row of what the workload keeps on disk. */
  def storeBytesPerRow: Double

  /** Per-layer metrics of this workload from a traced window. */
  def layers(rep: TraceReport): Map[String, Double]
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Total size of the data files under a directory (Spark's own
    * checksum and marker files excluded).
    */
  def dataBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.map(Files.size).sum
      finally s.close()
    }
}
