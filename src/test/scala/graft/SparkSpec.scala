package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one JVM-wide session (getOrCreate)
  * so the suite doesn't pay per-class startup.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions",
        "graft.functions.GraftSparkExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the generated-class cache size users get (see graft.Codegen)
      .config("spark.sql.codegen.cache.maxEntries",
        graft.Codegen.cacheMaxEntries)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
