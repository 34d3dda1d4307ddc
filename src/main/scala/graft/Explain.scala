package graft

/** Dev tool: print the formatted physical plan (and optionally run) of
  * named SparkEntry queries — the `.explain("formatted")` loop the
  * plan-audit discipline runs before pinning a shape in PlanAuditSpec.
  *
  * Usage: runMain graft.Explain <sfDir> <query> [query ...]
  *        SPARK_GRAFT_EXPLAIN_RUN=1 also executes each query (so AQE's
  *        final plan is the one printed, not the initial estimate).
  *
  *        runMain graft.Explain report <store.parquet> <year>
  *        renders the finance HTML report of a store in `Cli`'s session
  *        and prints every query the render ran, as executed (AQE-final),
  *        with counts of their store reads, sorts and range-partitioning
  *        exchanges.
  */
object Explain {
  def main(args: Array[String]): Unit = args.toList match {
    case "report" :: store :: yr :: Nil => report(store, yr.toInt)
    case _ => queries(args)
  }

  private def session(): org.apache.spark.sql.SparkSession = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      // layered-table front door + SQL functions (analyzer rule
      // injection applies at session construction only)
      .config("spark.sql.extensions",
        "graft.functions.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .appName("graft-explain")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def report(store: String, yr: Int): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the session `Cli` renders with, so the plans are the ones it runs
    val spark = finance.Cli.session()
    val ran = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.put(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ran.put(qe)
    }
    val pc = finance.Categorizer.addCat(finance.Store.load(spark, store))
    spark.listenerManager.register(listener)
    finance.Report.render(pc, yr, Seq("Wohnung (AfA)" -> 250000.0), 50,
      13.0 / 110.0)
    Thread.sleep(500) // listener bus drain
    spark.listenerManager.unregister(listener)
    val plans = Iterator.continually(ran.poll()).takeWhile(_ != null).toSeq
    val helper = new AdaptiveSparkPlanHelper {}
    def count(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Unit]) =
      plans.map(qe => helper.collect(qe.executedPlan)(pf).size).sum
    val reads = plans.map(_.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size).sum
    val sorts = plans.map(_.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
    }.size).sum
    println(s"==== Report.render $store $yr ====")
    // reads/sorts: optimized logical plans; scans/exchanges: the executed
    // plans, where exchange reuse can share one scan between reads
    println(s"-- queries: ${plans.size}, store reads: $reads, sorts: $sorts, " +
      s"physical store scans: ${count { case _: FileSourceScanExec => () }}, " +
      "range-partitioning exchanges: " + count {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[RangePartitioning] => ()
      } + " (plans below are AQE-final)")
    plans.zipWithIndex.foreach { case (qe, i) =>
      println(s"---- query ${i + 1} ----")
      println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }

  private def queries(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val spark = session()
    args.drop(1).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name ====")
      if (sys.env.get("SPARK_GRAFT_EXPLAIN_RUN").contains("1")) {
        // runtime I/O accounting (round-20): the formatted plan REPRINTS
        // a cached subtree under every InMemoryTableScan, so node counts
        // over the text wildly overstate executed work — the listener
        // totals below are what actually ran (source records read from
        // files, shuffle records, stages), the SQL-tab-equivalent
        // evidence for exchange/cache-reuse questions.
        val l = new org.apache.spark.scheduler.SparkListener {
          val in = new java.util.concurrent.atomic.AtomicLong
          val sr = new java.util.concurrent.atomic.AtomicLong
          val stages = new java.util.concurrent.atomic.AtomicLong
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (e.taskMetrics != null) {
              in.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
              sr.addAndGet(e.taskMetrics.shuffleReadMetrics.recordsRead)
              ()
            }
          override def onStageCompleted(
              e: org.apache.spark.scheduler
                .SparkListenerStageCompleted): Unit = {
            stages.incrementAndGet(); ()
          }
        }
        spark.sparkContext.addSparkListener(l)
        val n = df.count()
        Thread.sleep(500) // listener bus drain
        spark.sparkContext.removeSparkListener(l)
        println(s"-- rows: $n (plan below is AQE-final)")
        println(s"-- executed: stages=${l.stages.get} " +
          s"inputRecords=${l.in.get} shuffleReadRecords=${l.sr.get}")
      }
      df.explain("formatted")
    }
    spark.stop()
  }
}
