package graft.textops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Connected-components duplicate clustering (the q49 operator): semantics
  * of both finishes (the driver union-find and the distributed fixpoint)
  * against an in-test union-find oracle, pointer-jumping convergence on a
  * long-chain component, universe handling, and the no-cache-leak contract
  * on release and on non-convergence.
  */
class DedupGroupsSpec extends SparkSpec {
  import spark.implicits._

  private def pairsDf(ps: Seq[(Long, Long)]) = ps.toDF("id_a", "id_b")
  private def nodesDf(ns: Seq[Long]) = ns.toDF("doc_id")

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("id", "component").as[(Long, Long)].collect().toMap

  /** Reference union-find over the same pairs — the independent oracle. */
  private def unionFind(nodes: Seq[Long],
      pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (nodes ++ pairs.flatMap(p => Seq(p._1, p._2))).foreach(n =>
      parent.getOrElseUpdate(n, n))
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("transitive closure: chained pairs collapse into one component, " +
      "isolated nodes stay singletons") {
    // (1,2) + (2,3) must place 3 with 1 even though (1,3) was never emitted
    val out = labelsOf(Dedup.connectedComponents(
      pairsDf(Seq((1L, 2L), (2L, 3L), (10L, 11L))),
      nodes = Some(nodesDf(1L to 12L))))
    assert(out === unionFind(1L to 12L, Seq((1L, 2L), (2L, 3L), (10L, 11L))))
    assert(out(3L) === 1L)
    assert(out(4L) === 4L) // singleton labels itself
  }

  test("pointer jumping: a diameter-79 chain converges in O(log d) rounds") {
    val chain = (0L until 79L).map(i => (i, i + 1))
    val (labels, rounds, release) = Dedup.connectedComponentsDistributed(
      pairsDf(chain), nodes = Some(nodesDf(0L to 79L)))
    try {
      val out = labelsOf(labels)
      assert(out.values.toSet === Set(0L), "one component labeled 0")
      assert(out.size === 80)
      // plain min-propagation needs ~79 rounds (> the default maxIter=25);
      // label distance halves per round with the shortcut step
      assert(rounds <= 10, s"expected O(log 79) rounds, got $rounds")
    } finally release()
  }

  test("pair endpoints missing from the supplied nodes universe are " +
      "unioned in with minimal labels") {
    val out = labelsOf(Dedup.connectedComponents(
      pairsDf(Seq((10L, 11L), (11L, 2L))), nodes = Some(nodesDf(Seq(1L)))))
    // output covers nodes ∪ endpoints; 2 < 10 < 11 share one component
    assert(out === Map(1L -> 1L, 2L -> 2L, 10L -> 2L, 11L -> 2L))
  }

  test("non-convergence fails loudly and leaks no cache entries") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (0L until 40L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsDistributed(pairsDf(chain), maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }

  test("seeded random graphs: driver finish, distributed fixpoint and " +
      "union-find agree") {
    val rnd = new scala.util.Random(20261021L)
    // duplicate pairs, reversed pairs and endpoints outside `nodes`; the
    // last graph has no pairs at all
    val graphs = Seq(40, 60, 25, 0).map { nPairs =>
      val pairs = Seq.fill(nPairs)((rnd.nextInt(50).toLong,
        rnd.nextInt(50).toLong)).filter(p => p._1 != p._2)
      val withDups = pairs ++ pairs.take(5) ++ pairs.take(5).map(_.swap)
      (withDups, (0L until 40L).filter(_ => rnd.nextDouble() < 0.8))
    }
    for ((pairs, nodes) <- graphs) {
      val oracle = unionFind(nodes, pairs)
      val (driver, driverRounds, relDriver) = Dedup.connectedComponentsStats(
        pairsDf(pairs), nodes = Some(nodesDf(nodes)))
      val (dist, _, relDist) = Dedup.connectedComponentsDistributed(
        pairsDf(pairs), nodes = Some(nodesDf(nodes)))
      try {
        assert(driverRounds === 1, "small pair sets finish on the driver")
        assert(labelsOf(driver) === oracle)
        assert(labelsOf(dist) === oracle)
        assert(driver.count() === oracle.size, "one row per node")
        assert(driver.dtypes === dist.dtypes, "same columns and types")
      } finally { relDriver(); relDist() }
    }
    // without `nodes`, only endpoints are labeled
    val (pairs, nodes) = graphs.head
    assert(labelsOf(Dedup.connectedComponents(pairsDf(pairs))) ===
      unionFind(Nil, pairs))
    // int ids finish on the driver too, and keep their type
    val intPairs = pairs.map { case (a, b) => (a.toInt, b.toInt) }
      .toDF("id_a", "id_b")
    val intNodes = Some(nodes.map(_.toInt).toDF("doc_id"))
    val (intDriver, intRounds, relInt) =
      Dedup.connectedComponentsStats(intPairs, nodes = intNodes)
    val (intDist, _, relIntDist) =
      Dedup.connectedComponentsDistributed(intPairs, nodes = intNodes)
    try {
      assert(intRounds === 1)
      assert(labelsOf(intDriver) === unionFind(nodes, pairs))
      assert(intDriver.dtypes.toSeq ===
        Seq("id" -> "IntegerType", "component" -> "IntegerType"))
      assert(intDriver.dtypes === intDist.dtypes)
    } finally { relInt(); relIntDist() }
  }

  test("more pairs than the driver limit take the distributed fixpoint") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 4L))
    val (labels, rounds, release) = Dedup.componentsWithin(3,
      pairsDf(pairs), "id_a", "id_b", Some(nodesDf(1L to 7L)), "doc_id", 25)
    try {
      assert(rounds > 1, s"expected fixpoint rounds, got $rounds")
      assert(labelsOf(labels) === unionFind(1L to 7L, pairs))
    } finally release()
    val (_, atLimit, relAtLimit) = Dedup.componentsWithin(4,
      pairsDf(pairs), "id_a", "id_b", None, "doc_id", 25)
    relAtLimit()
    assert(atLimit === 1, "a pair set of exactly the limit fits")
  }

  test("the driver finish leaves no persisted RDD after release") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, rounds, release) = Dedup.connectedComponentsStats(
      pairsDf(Seq((1L, 2L), (2L, 3L))), nodes = Some(nodesDf(1L to 5L)))
    assert(rounds === 1)
    assert(labels.count() === 5)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before !== Set.empty,
      "the returned frame is persisted until released")
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }

  test("q49 shape: prefix-path pairs + components match union-find on the " +
      "same pair set") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (4L, "der schnelle braune fuchs springt und ist nicht mit dem hund"),
      (5L, "completely different words about spark catalyst optimizer plans"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairsPrefix(docs, n = 3, threshold = 0.5)
    val collected = pairs.select("id_a", "id_b").as[(Long, Long)]
      .collect().toSeq
    assert(collected.toSet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val out = labelsOf(Dedup.connectedComponents(pairs,
      nodes = Some(docs.select("doc_id"))))
    assert(out === unionFind(1L to 5L, collected))
  }

  test("survivorSelection: longest doc wins per component, length ties " +
      "break to the smallest id, singletons keep themselves") {
    val comp = Seq( // {1,2,3} one cluster, {7,8} tied lengths, 9 singleton
      (1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L), (9L, 9L))
      .toDF("id", "component")
    val docs = Seq(
      (1L, 10L), (2L, 25L), (3L, 25L), (7L, 5L), (8L, 5L), (9L, 3L))
      .toDF("doc_id", "n_chars")
    val got = Dedup.survivorSelection(comp, docs)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set(
      (1L, 1L, 0), (2L, 1L, 1), (3L, 1L, 0), // 2 beats 3: tie → min id
      (7L, 7L, 1), (8L, 7L, 0),
      (9L, 9L, 1)))
    // exactly one survivor per component
    val perComp = got.groupBy(_._2).view.mapValues(_.count(_._3 == 1))
    assert(perComp.values.forall(_ == 1))
  }
}
