package graft.textops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import graft.functions.{AggExprs, ArrayExprs}

/** Deduplication operators for document corpora: exact, n-gram Jaccard,
  * MinHash+LSH, and SimHash — the standard near-dup toolkit of large-scale
  * training-data pipelines (Lee et al. 2021 "Deduplicating Training Data
  * Makes Language Models Better"; Broder 1997 resemblance sketches).
  *
  * Scale posture (100 TB): every operator here avoids the O(n²) all-pairs
  * comparison. Exact dedup is one hash-partitioned groupBy. MinHash-LSH and
  * SimHash banding shuffle each document once per band keyed on the bucket
  * hash, so candidate generation touches only same-bucket pairs; the final
  * verification join is between the (small) candidate-pair set and the
  * corpus. The only quadratic term is within-bucket, bounded by the
  * `maxBucket` cap: a degenerate bucket (a stop-shingle shared by most of
  * the corpus, an adversarial LSH collision) is DROPPED rather than
  * collected into one executor — bounded memory traded for recall on
  * pathological keys, the standard posture for fleet dedup jobs. One
  * step does hold data on the driver: [[connectedComponents]] counts the
  * pairs, collects a pair set of at most [[driverEdgeLimit]] (2^20) edges
  * and finishes the components there with a union-find; only a larger
  * pair set runs the distributed fixpoint.
  *
  * Cache lifecycle: [[ngramJaccardPairs]], [[ngramJaccardPairsPrefix]] and
  * [[minhashLshPairs]] persist an intermediate (the shingle arrays /
  * signatures) that the RETURNED lazy plan still reads, so it cannot be
  * unpersisted inside the call — one MEMORY_AND_DISK entry per call.
  * Each has a `...Releasable` twin returning `(frame, release)`:
  * pipeline callers that materialize the result (write it, collect it)
  * call the handle afterwards. The plain variants register their handle with
  * [[graft.CacheHandles]] (r15), so harness consumers (Verify between
  * queries, Bench between reps) drain them automatically — a plain
  * call is no longer a per-invocation leak, it is a deferred release.
  */
object Dedup {

  /** Exact dedup on normalized content: keep the smallest-`idCol` row per
    * distinct text (deterministic survivor — never bare dropDuplicates),
    * exactly ONE output row per fingerprint even if ids repeat.
    *
    * Shape: groupBy(fingerprint).agg(min_by(row, id)) — one shuffle,
    * SKEW-RESISTANT where the obvious `row_number over (partition by
    * fingerprint)` is not: a boilerplate document at 10 % corpus frequency
    * funnels 10 % of ALL rows into one window task (windows sort whole
    * partitions; AQE cannot split them), while min_by partial-aggregates
    * map-side, so the hot fingerprint reaches its reducer as ≤ one row per
    * map partition. ScaleSmoke drives exactly this corpus and asserts no
    * straggler.
    */
  def exact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.withColumn("fingerprint",
        TextStats.contentFingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min_by(struct(docs.columns.map(col).toSeq: _*),
        col(idCol)).as("_row"))
      .select(docs.columns.map(c => col(s"_row.$c").as(c)).toSeq
        :+ col("fingerprint"): _*)

  /** Exact-dup groups: fingerprint → surviving id + victim count. */
  def exactDupStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.withColumn("fingerprint", TextStats.contentFingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Within-group (a<b) pair explode over a capped posting list. Groups
    * above `maxGroup` are dropped: an oversize group means a key shared by
    * a large corpus fraction — quadratic pair fan-out and a collection
    * buffer that must fit one executor. The cap bounds both.
    *
    * Cap hits are NEVER silent: a CollectMetrics node (Dataset.observe —
    * the Spark-native accumulator surface: computed inline by the action,
    * no extra job) reports `dropped_groups` (how many groups the cap
    * discarded), `max_group` and `n_groups`. Callers that pass `dropStats`
    * observe the metrics programmatically; callers that don't get a named
    * observation that [[DropWarnings]]' session listener WARN-logs when
    * any group was dropped.
    */
  private[textops] def groupPairs(rows: DataFrame, keyCols: Seq[String],
      member: Column, maxGroup: Int,
      dropStats: Option[Observation] = None): DataFrame =
    // repartition BEFORE the quadratic explode: the grouped frame is tiny
    // (one row per group), so AQE coalesces it onto a handful of tasks —
    // and then each task fans out up to maxGroup² pair rows, serializing
    // the dominant stage of every banded operator onto ~1/4 of the cores
    // (measured at the 20× smoke: the SimHash pair explode ran as 7 tasks
    // of 32 s). Round-robin on the group rows restores full parallelism
    // for the explode; the extra Exchange moves only the capped group
    // rows, which the cap bounds to maxGroup members each.
    cappedGroups(rows, keyCols, member, maxGroup, dropStats, minSize = 2)
      .repartition(rows.sparkSession.sparkContext.defaultParallelism)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a") < col("b"))

  /** The aggregate-observe-cap half of [[groupPairs]], reusable by
    * operators whose candidate fan-out is a group JOIN rather than a
    * within-group pair explode (e.g. [[Similarity.annLshTopK]]'s
    * query×bucket join — there a singleton group is still a valid
    * candidate source, hence `minSize`). Groups `rows` by `keyCols` and
    * returns the keys plus a `members` array of `member` values for every
    * group whose size is within [minSize, maxGroup].
    *
    * The collection buffer itself is CAPPED ([[AggExprs.CollectCapped]]):
    * a degenerate group — one stop-shingle or LSH bucket holding 10 % of
    * the corpus — never materializes more than `maxGroup` elements in any
    * aggregation buffer. The drop decision and the metrics ride on a
    * `count(*)` in the same aggregation (O(1) state, map-side partial),
    * which carries the TRUE group size; groups the cap truncated are
    * exactly the groups the size filter drops, so truncation is never
    * observable in the output. Metrics contract: `dropped_groups` /
    * `max_group` / `n_groups`, WARN-logged via [[DropWarnings]] when no
    * `dropStats` observation is supplied.
    */
  private[textops] def cappedGroups(rows: DataFrame, keyCols: Seq[String],
      member: Column, maxGroup: Int, dropStats: Option[Observation],
      minSize: Int): DataFrame = {
    val grouped = rows.groupBy(keyCols.map(col): _*)
      .agg(AggExprs.collectCapped(member, maxGroup).as("members"),
        count(lit(1)).as("_n"))
    val metrics = Seq(
      sum(when(col("_n") > maxGroup, 1L).otherwise(0L))
        .as("dropped_groups"),
      max(col("_n")).as("max_group"),
      count(lit(1)).as("n_groups"))
    val observed = dropStats match {
      case Some(o) => grouped.observe(o, metrics.head, metrics.tail: _*)
      case None =>
        DropWarnings.install(rows.sparkSession)
        grouped.observe(DropWarnings.nextName(), metrics.head, metrics.tail: _*)
    }
    observed.filter(col("_n").between(minSize, maxGroup)).drop("_n")
  }

  /** The size-gate half of [[cappedGroups]] WITHOUT the member
    * collection: (keyCols) rows for every group whose size is within
    * [minSize, maxGroup], metrics-observed exactly like [[cappedGroups]]
    * (`dropped_groups`/`max_group`/`n_groups`, WARN-logged when no
    * `dropStats` is supplied). For operators that enforce the cap by
    * semi-joining group keys instead of exploding a collected array —
    * no aggregation buffer holds members at all, so the per-group state
    * is one counter regardless of group size.
    */
  private[textops] def sizeGatedKeys(rows: DataFrame, keyCols: Seq[String],
      maxGroup: Int, dropStats: Option[Observation],
      minSize: Int): DataFrame = {
    val grouped = rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
    val metrics = Seq(
      sum(when(col("_n") > maxGroup, 1L).otherwise(0L))
        .as("dropped_groups"),
      max(col("_n")).as("max_group"),
      count(lit(1)).as("n_groups"))
    val observed = dropStats match {
      case Some(o) => grouped.observe(o, metrics.head, metrics.tail: _*)
      case None =>
        DropWarnings.install(rows.sparkSession)
        grouped.observe(DropWarnings.nextName(), metrics.head, metrics.tail: _*)
    }
    observed.filter(col("_n").between(minSize, maxGroup)).drop("_n")
  }

  /** All pairs (a<b) whose word-n-gram Jaccard similarity ≥ `threshold`,
    * found via inverted posting lists and verified EXACTLY: group docs by
    * shared distinct shingle, emit within-group pairs, count shared
    * shingles as a candidate score, then recompute |A∩B| from the full
    * shingle arrays (`array_intersect`) for every surviving pair.
    *
    * One shuffle keyed on the shingle (the groupBy) + one on the pair key;
    * only documents sharing at least one shingle ever meet — no cross join,
    * and no string-keyed sort-merge self-join (the posting-list self-join
    * formulation shuffles the shingle strings twice and sorts them; this
    * shape is ~4× faster at sf0.1). `maxPostingList` bounds the per-shingle
    * group (a stop-shingle like "the quick brown" in a web corpus); groups
    * above it are DROPPED, which biases the counted score downward for
    * every pair sharing a dropped shingle. Consequences, made exact where
    * it matters:
    *
    *   - reported `jaccard` VALUES are always exact: the counted score is
    *     only a candidate filter; survivors are re-verified against the
    *     full arrays, so a dropped shingle still counts in |A∩B|;
    *   - RECALL can drop: a pair whose counted score falls below the
    *     threshold because of dropped groups is never re-examined — that
    *     loss is the cap's documented price, and `dropStats` makes it
    *     observable (a run with `dropped_groups = 0` is provably exact
    *     AND complete).
    *
    * The counted score brackets true jaccard from both sides: posting
    * groups key on xxhash64(shingle) (8-byte exchange, see inline), so
    * a hash collision can INFLATE a pair's count, while a capped-group
    * drop DEFLATES it — which is exactly why the exact array
    * verification is the decider in both directions (the final
    * threshold filter rejects collision-admitted pairs; reported
    * values are the true HASHED-shingle jaccard, which matches the
    * string-shingle jaccard up to the documented ±1-intersection
    * 64-bit collision bound below). For bounded
    * fan-out without the stop-shingle recall caveat at high thresholds
    * see [[ngramJaccardPairsPrefix]].
    *
    * The doc→shingle-array frame is persisted (three consumers: posting
    * build + both verification sides); see the object scaladoc's cache
    * lifecycle — materializing callers should use the Releasable twin.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8, textCol: String = "text",
      idCol: String = "doc_id", maxPostingList: Int = 1 << 14,
      dropStats: Option[Observation] = None): DataFrame =
    ngramJaccardPairsReleasable(docs, n, threshold, textCol, idCol,
      maxPostingList, dropStats)._1

  /** [[ngramJaccardPairs]] plus a release handle freeing the persisted
    * shingle frame — call it after materializing the result (see the
    * object scaladoc's cache-lifecycle contract).
    */
  def ngramJaccardPairsReleasable(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8, textCol: String = "text",
      idCol: String = "doc_id", maxPostingList: Int = 1 << 14,
      dropStats: Option[Observation] = None): (DataFrame, () => Unit) = {
    // HASH-FIRST (the q81 lesson, applied end to end): every shingle
    // becomes its xxhash64 ONCE, per document, inside the array — the
    // persisted frame carries long arrays (~3× smaller than the string
    // arrays), the posting exchange ships 8-byte keys, and the
    // verification intersects long arrays (integer compares, no string
    // walks). A 64-bit collision merges two shingles corpus-wide —
    // probability any exists is ≤ m²/2⁶⁵ for m distinct shingles
    // (~10⁻⁶ at m = 10⁷), and its effect is a ±1 on one pair's
    // intersection — the same documented bound as
    // [[graft.operators.Quality.Unique]]'s hashed distinct count.
    val sh = docs
      .select(col(idCol).as("id"),
        array_distinct(transform(TextStats.shingles(col(textCol), n),
          s => xxhash64(s))).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("n_sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Carry each doc's shingle count inside the posting list so |A|,|B|
    // ride along to the pair aggregation — no join back to a sizes table.
    val posting = sh.select(col("id"), col("n_sh"),
      explode(col("sh")).as("shingle"))
    val cands = groupPairs(posting, Seq("shingle"),
        struct(col("id"), col("n_sh")), maxPostingList, dropStats)
      // PPJoin length filter BEFORE the pair-key exchange: J ≥ t forces
      // min(|A|,|B|) ≥ t·max(|A|,|B|) (|A∩B| ≤ min, |A∪B| ≥ max), so a
      // length-mismatched co-occurrence never becomes an aggregate row —
      // the filter runs on the two ints already riding the pair struct
      .filter(col("b.n_sh") >= lit(threshold) * col("a.n_sh") &&
        col("a.n_sh") >= lit(threshold) * col("b.n_sh"))
      .groupBy(col("a.id").as("id_a"), col("a.n_sh").as("n_a"),
        col("b.id").as("id_b"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_counted"))
      // lower-bound pre-filter (see scaladoc): exact-verify survivors only
      .filter(col("n_counted").cast("double") /
        (col("n_a") + col("n_b") - col("n_counted")) >= threshold)
      .select("id_a", "id_b")
    // shuffle_hash pin, same reason as the prefix variant: per-document
    // shingle arrays must never ride a (misestimated) broadcast.
    // (A candidate-id semi-join prune of the array side was measured
    // and REJECTED: the broadcast subquery re-executes the whole
    // candidate pipeline — 3.7 s vs 2.7 s at sf1.)
    val result = cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("n_sh").as("n_a")).hint("shuffle_hash"), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("n_sh").as("n_b")).hint("shuffle_hash"), "id_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    (result, () => { sh.unpersist(blocking = false); () })
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (PPJoin-style): each
    * document posts only the first ⌊(1−t)·|d|⌋+1 of its shingles under a
    * global total order (xxhash64 — any total order is correct; hash order
    * needs no frequency statistics and therefore no extra aggregate). Any
    * pair with Jaccard ≥ t must share ≥1 prefix shingle, so the candidate
    * set is complete WHILE no prefix-shingle group exceeds
    * `maxPostingList` (an over-cap group is dropped, losing the pairs
    * whose only shared prefix shingle it held — observable via
    * `dropStats`); candidates are then verified EXACTLY by intersecting
    * the full shingle arrays, so reported values are always exact.
    *
    * vs [[ngramJaccardPairs]]: posting-list volume shrinks by ~(1−t) and,
    * more importantly, the per-shingle group fan-out is bounded by how many
    * documents RANK the shingle inside their prefix — corpus-wide
    * stop-shingles land in most documents' suffix and never form giant
    * groups, making this the 100 TB shape for high thresholds. Candidates
    * are further pruned BEFORE the verification joins by the PPJoin
    * length filter (|B| ≥ t·|A|) and positional filter (per-occurrence
    * overlap upper bound vs α — see the inline derivation), both
    * FP-margin-conservative so exact verification remains the decider.
    * Two extra narrow joins (the verification) are the price.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8, textCol: String = "text",
      idCol: String = "doc_id", maxPostingList: Int = 1 << 14,
      dropStats: Option[Observation] = None): DataFrame =
    ngramJaccardPairsPrefixReleasable(docs, n, threshold, textCol, idCol,
      maxPostingList, dropStats)._1

  /** [[ngramJaccardPairsPrefix]] plus a release handle freeing the
    * persisted sorted-shingle frame (object-scaladoc lifecycle contract).
    */
  def ngramJaccardPairsPrefixReleasable(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8, textCol: String = "text",
      idCol: String = "doc_id", maxPostingList: Int = 1 << 14,
      dropStats: Option[Observation] = None): (DataFrame, () => Unit) = {
    // Distinct shingles sorted by (xxhash64, shingle): array_sort on the
    // (hash, shingle) struct gives the global order; the shingle rides
    // along for exact (collision-free) equality joins.
    val sorted = docs.select(col(idCol).as("id"),
      array_sort(transform(
        array_distinct(TextStats.shingles(col(textCol), n)),
        s => struct(xxhash64(s).as("h"), s.as("s")))).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Prefix length for Jaccard t over a set of size m: m − ⌈t·m⌉ + 1.
    val prefLen = (size(col("sh")) -
      ceil(lit(threshold) * size(col("sh"))).cast("int") + 1)
    // Posting rows carry (set size, 1-based prefix position) so the PPJoin
    // length and positional filters can prune candidate OCCURRENCES before
    // anything joins back to the full shingle arrays.
    val posting = sorted
      .select(col("id"), size(col("sh")).as("n"),
        posexplode(slice(col("sh"), lit(1), prefLen)).as(Seq("pos0", "p")))
      .select(col("id"), col("n"), (col("pos0") + lit(1)).as("pos"),
        col("p.s").as("shingle"))
    // J(A,B) ≥ t needs overlap O ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉ (since
    // O ≥ t·|A∪B| and |A∪B| = |A|+|B|−O), hence also |B| ≥ t·|A|:
    //  - LENGTH filter: least(n) ≥ t·greatest(n), occurrence-independent;
    //  - POSITIONAL filter: for a common shingle at (sorted) positions
    //    (pa, pb), common shingles BEFORE it number ≤ min(pa−1, pb−1)
    //    (equal values sort identically) and AFTER it ≤ min(nA−pa, nB−pb),
    //    so O ≤ U(pa,pb) = min(pa,pb) + min(nA−pa, nB−pb) — an upper
    //    bound valid for EVERY occurrence, so O ≤ min U over the pair's
    //    shared prefix occurrences and `min U < α` prunes soundly.
    // Both compare in double with a 1e-9 margin so FP rounding can only
    // KEEP a boundary pair (the exact verification decides it), never
    // drop one. On the sf0.1 synthetic corpus these two filters cut the
    // surviving candidate set ~an order of magnitude before verification.
    val occ = groupPairs(posting, Seq("shingle"),
        struct(col("id"), col("n"), col("pos")), maxPostingList, dropStats)
      .filter(least(col("a.n"), col("b.n")).cast("double") >=
        lit(threshold) * greatest(col("a.n"), col("b.n")) - lit(1e-9))
    val cands = occ
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (least(col("a.pos"), col("b.pos")) +
          least(col("a.n") - col("a.pos"),
            col("b.n") - col("b.pos"))).as("u"),
        (lit(threshold / (1.0 + threshold)) *
          (col("a.n") + col("b.n"))).as("alpha"))
      .groupBy("id_a", "id_b")
      .agg(min(col("u")).as("min_u"), first(col("alpha")).as("alpha"))
      .filter(col("min_u").cast("double") >= col("alpha") - lit(1e-9))
      .select("id_a", "id_b")
    // Verification, two tiers. On a near-dup-clique corpus most candidate
    // pairs share a prefix shingle by corpus-wide phrasing, not true
    // similarity — the 20× smoke measured ~8M candidates for ~0.9M true
    // pairs, and shipping two ~2 KB (h, s) struct arrays to every
    // candidate made the verification joins a GC-bound 2/3 of the wall.
    //
    // Tier 1 — HASH SCREEN: join only the sorted 64-bit hash PROJECTION
    // (~5× fewer bytes; derived from the persisted frame, so no second
    // cache) and threshold on the hash-multiset intersection ĉ
    // ([[ArrayExprs.SortedIntersectCountLong]]). ĉ ≥ c (a cross-pair hash
    // collision can only inflate) and j(c) is monotone, so rejecting
    // ĵ < t never rejects a true pair — the screen is sound, not trusted.
    // Tier 2 — EXACT: only screen survivors (≈ the true pair set) join
    // the full struct arrays; |A∩B| is the linear two-pointer merge with
    // string tie-break ([[ArrayExprs.SortedIntersectCount]]), so reported
    // values remain exact — hash order pays for the merge, strings decide.
    val hv = sorted.select(col("id"), transform(col("sh"), s => s("h"))
      .as("hv"))
    // Both verification tiers pin SHUFFLE_HASH on the array side: the
    // doc→hashes/shingles frames are hundreds of bytes per ROW, so their
    // true size is 10-100× what the planner estimates through the
    // transform() projections — at 100× smoke scale AQE "upgraded" these
    // to broadcast joins and the ~1.2 GB driver-side broadcast collect
    // aborted on spark.driver.maxResultSize. An id-keyed shuffle-hash
    // join is the shape that survives any corpus size; never broadcast
    // a per-document array frame.
    val screened = cands
      .join(hv.select(col("id").as("id_a"), col("hv").as("hv_a"))
        .hint("shuffle_hash"), "id_a")
      .join(hv.select(col("id").as("id_b"), col("hv").as("hv_b"))
        .hint("shuffle_hash"), "id_b")
      .withColumn("c_ub",
        ArrayExprs.sortedIntersectCountLong(col("hv_a"), col("hv_b")))
      .filter(col("c_ub").cast("double") /
        (size(col("hv_a")) + size(col("hv_b")) - col("c_ub")) >=
        lit(threshold))
      .select("id_a", "id_b")
    val result = screened
      .join(sorted.select(col("id").as("id_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "id_a")
      .join(sorted.select(col("id").as("id_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "id_b")
      .withColumn("n_common",
        ArrayExprs.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    (result, () => { sorted.unpersist(blocking = false); () })
  }

  // --------------------------------------------------- connected components

  /** Duplicate-CLUSTER formation over an undirected pair-edge set: assigns
    * every node the minimum node id reachable through the pairs — the step
    * a dedup pipeline runs AFTER candidate/verify, because survivorship is
    * per COMPONENT, not per pair: edges (a,b) and (b,c) must collapse
    * {a,b,c} into one cluster even though (a,c) was never emitted (Lee et
    * al. 2021 dedup semantics; a per-pair keep-min would keep b's "winner"
    * and c's "winner" inconsistently). Keep the rows whose
    * `component == id`, drop the rest.
    *
    * Two finishes, chosen by the pair count the call observes. It caches
    * the two id columns and counts them, so one number reaches the driver
    * and either finish reads the cache, not the pair plan. At most
    * [[driverEdgeLimit]] pairs (a curation pass over 1 000 documents has
    * a few thousand) are collected as primitive arrays; a union-find
    * labels every endpoint on the driver, and the broadcast (endpoint,
    * label) arrays label the node universe in one lookup. The driver then
    * holds 48 bytes per edge (the collected columns, their concatenation,
    * its sorted copy) and 20 per endpoint (ids, parents, labels), plus the
    * broadcast's serialized copy at 16 per endpoint: about 120 MiB at the
    * limit when no two edges share an endpoint. A larger pair set runs
    * [[connectedComponentsDistributed]], the pointer-jumping fixpoint
    * that holds no data on the driver. Ids of any integral type take
    * either finish, and the labels keep their type.
    *
    * `nodes` (optional) supplies the FULL node universe so isolated nodes
    * — documents with no near-dup pair — appear as singleton components.
    * Pair endpoints are ALWAYS part of the universe (endpoints missing
    * from `nodes` are unioned in with minimal labels); without `nodes`,
    * only pair endpoints are labeled.
    *
    * Returns (id, component), one row per node, persisted and
    * materialized — call the Releasable twin's handle when done with it
    * (object-scaladoc cache-lifecycle contract). `maxIter` bounds the
    * distributed fixpoint only.
    */
  def connectedComponents(pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      nodes: Option[DataFrame] = None, nodeCol: String = "doc_id",
      maxIter: Int = 25): DataFrame =
    connectedComponentsReleasable(pairs, idA, idB, nodes, nodeCol,
      maxIter)._1

  /** [[connectedComponents]] plus the release handle for the returned
    * persisted label frame.
    */
  def connectedComponentsReleasable(pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      nodes: Option[DataFrame] = None, nodeCol: String = "doc_id",
      maxIter: Int = 25): (DataFrame, () => Unit) = {
    val (df, _, release) =
      connectedComponentsStats(pairs, idA, idB, nodes, nodeCol, maxIter)
    (df, release)
  }

  /** [[connectedComponentsReleasable]] plus the number of rounds: the
    * propagation rounds the distributed fixpoint took (~log₂ of the worst
    * component diameter with pointer jumping; ScaleSmoke records it), or
    * 1 for the driver finish, whose one round is the union-find.
    */
  def connectedComponentsStats(pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      nodes: Option[DataFrame] = None, nodeCol: String = "doc_id",
      maxIter: Int = 25): (DataFrame, Int, () => Unit) =
    componentsWithin(driverEdgeLimit, pairs, idA, idB, nodes, nodeCol,
      maxIter)

  /** Most pair edges [[connectedComponentsStats]] finishes on the driver:
    * a bound on driver memory, not a speed cut-off. On 4 local cores the
    * driver finish beat the fixpoint at every size measured up to 2^21
    * edges (cliques of 20 ids: 1.5 against 4.8 s at 2^20 edges, 2.4
    * against 5.7 s at 2^21; 2^20 edges on 2^21 distinct ids: 3.4 against
    * 12.8 s). ScaleSmoke's 20× corpus (934 194 pairs) finishes on the
    * driver; its 100× corpus (about 24 M pairs) runs the fixpoint.
    */
  private[textops] val driverEdgeLimit: Int = 1 << 20

  /** [[connectedComponentsStats]] with the driver finish bounded by
    * `edgeLimit` edges instead of [[driverEdgeLimit]].
    */
  private[textops] def componentsWithin(edgeLimit: Int, pairs: DataFrame,
      idA: String, idB: String, nodes: Option[DataFrame], nodeCol: String,
      maxIter: Int): (DataFrame, Int, () => Unit) = {
    // the count ships one number to the driver and leaves the id pairs
    // cached, so either finish reads the pair plan's result, not the plan
    val ids = pairs.select(col(idA), col(idB))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (ids.count() <= edgeLimit) componentsOnDriver(ids, nodes, nodeCol)
      else connectedComponentsDistributed(ids, idA, idB, nodes, nodeCol,
        maxIter)
    } finally { ids.unpersist(blocking = false) }
  }

  /** The driver finish over the two id columns of `ids`: collects them as
    * primitive arrays (one pair per partition), labels every endpoint with
    * [[unionFindLabels]] and broadcasts the sorted (endpoint, label)
    * arrays; each node of `nodes` ∪ endpoints looks its label up there,
    * and a node that is no endpoint labels itself. The labels keep the
    * type of the id columns; the release handle also destroys the
    * broadcast.
    */
  private def componentsOnDriver(ids: DataFrame, nodes: Option[DataFrame],
      nodeCol: String): (DataFrame, Int, () => Unit) = {
    val sess = ids.sparkSession
    import sess.implicits._
    val parts = ids.select(ids.columns.map(col(_).cast(LongType)): _*)
      .as[(Long, Long)]
      .mapPartitions { it =>
        val a = Array.newBuilder[Long]
        val b = Array.newBuilder[Long]
        it.foreach { case (x, y) => a += x; b += y }
        Iterator((a.result(), b.result()))
      }.collect()
    val table = sess.sparkContext.broadcast(unionFindLabels(
      Array.concat(parts.map(_._1).toIndexedSeq: _*),
      Array.concat(parts.map(_._2).toIndexedSeq: _*)))
    val label = udf { (id: Long) =>
      val (ends, comps) = table.value
      val i = java.util.Arrays.binarySearch(ends, id)
      if (i >= 0) comps(i) else id
    }
    val endpoints =
      ids.select(explode(array(ids.columns.map(col).toIndexedSeq: _*)).as("id"))
    val universe = nodes.fold(endpoints)(n =>
      n.select(col(nodeCol).as("id")).unionByName(endpoints)).distinct()
    val idType = universe.schema("id").dataType
    val out = universe
      .select(col("id"), label(col("id").cast(LongType)).cast(idType)
        .as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    (out, 1, () => { out.unpersist(blocking = false); table.destroy(); () })
  }

  /** The min-id component label of every endpoint of the edges
    * `(a(i), b(i))`: (sorted distinct endpoints, their labels). Union by
    * the smaller index — the endpoints are sorted, so every root is its
    * component's minimum id — with path halving.
    */
  private[textops] def unionFindLabels(a: Array[Long],
      b: Array[Long]): (Array[Long], Array[Long]) = {
    val all = Array.concat(a, b)
    java.util.Arrays.sort(all)
    var n = 0
    for (x <- all) if (n == 0 || all(n - 1) != x) { all(n) = x; n += 1 }
    val ends = java.util.Arrays.copyOf(all, n)
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (i <- a.indices) {
      val ra = find(java.util.Arrays.binarySearch(ends, a(i)))
      val rb = find(java.util.Arrays.binarySearch(ends, b(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (ends, Array.tabulate(n)(i => ends(find(i))))
  }

  /** The distributed finish of [[connectedComponentsStats]], for pair sets
    * too large to collect: min-label propagation WITH pointer jumping —
    * each round every node takes the min over (its own label, its
    * neighbors' labels), then shortcuts through the label table itself
    * (component′ = label(label(id)), the classic hooking/shortcutting
    * step): the label distance halves each round, so the fixpoint arrives
    * in O(log max component diameter) rounds, not O(diameter) — a
    * pathological chain component (shingled near-identical doc sequences)
    * of diameter 10⁶ converges in ~20 rounds. `maxIter` (default 25 ⇒
    * diameters beyond 2^25 hops) bounds the loop and convergence failure
    * FAILS LOUDLY (require) instead of returning silently-partial
    * components. Each round is two keyed joins + one partial-aggregating
    * min — no windows, no driver data beyond the 1-row convergence probe
    * per round. The per-round label frames are persisted and released
    * internally; only the returned frame's persist survives the call.
    */
  private[graft] def connectedComponentsDistributed(pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      nodes: Option[DataFrame] = None, nodeCol: String = "doc_id",
      maxIter: Int = 25): (DataFrame, Int, () => Unit) = {
    // symmetrize with ONE explode, not union(e, swap(e)): the union shape
    // scans the (possibly expensive — q49 feeds the whole prefix-Jaccard
    // pipeline in here) pair plan twice on first materialization
    val sym = pairs.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val endpoints = sym.select(col("src").as("id"))
    // Pair endpoints always join the universe: a supplied `nodes` frame
    // that misses an endpoint would otherwise leave labels that reference
    // ids absent from the label table (breaking the pointer-jump lookup)
    // and possibly non-minimal.
    val seed = nodes match {
      case Some(n) => n.select(col(nodeCol).as("id")).unionByName(endpoints)
      case None    => endpoints
    }
    var labels = seed.distinct()
      .select(col("id"), col("id").as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var converged = false
    // Exact fixpoint probe WITHOUT a join: labels are elementwise monotone
    // non-increasing over a fixed id set, so Σcomponent (exact DECIMAL(38)
    // — no FP rounding, no overflow below 2^63 ids) strictly decreases
    // until the fixpoint; an unchanged sum IS convergence. One scalar
    // aggregate per round, piggybacked on the job that materializes the
    // round's labels — no second pass, no probe join.
    var prevSum: Option[java.math.BigDecimal] = None
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("component").cast("decimal(38,0)")))
        .head().getDecimal(0))
    while (!converged && iter < maxIter) {
      val viaNeighbors = sym
        .join(labels.select(col("id").as("dst"), col("component")), "dst")
        .select(col("src").as("id"), col("component"))
      val next = viaNeighbors.unionByName(labels)
        .groupBy("id").agg(min("component").as("component"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // pointer jumping: shortcut each label through the label table
      // (label(x) is itself a node id — guaranteed by the endpoint-union
      // seed — so the lookup is total). least() is belt-and-braces: the
      // looked-up label is ≤ by the monotone component(x) ≤ x invariant.
      // cutLineage: the self-join would otherwise DOUBLE the logical plan
      // tree every round — O(2^rounds) analysis/explain cost (the data
      // and RDD DAG stay linear; plan trees duplicate what DAGs share).
      val jumped = org.apache.spark.sql.graftshim.cutLineage(
          next.as("x")
            .join(next.select(col("id").as("component"),
              col("component").as("c2")), "component")
            .select(col("id"),
              least(col("component"), col("c2")).as("component")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val s = labelSum(jumped) // materializes jumped's persist
      next.unpersist(blocking = false)
      labels.unpersist(blocking = false)
      labels = jumped
      // compareTo, not equals (BigDecimal.equals is scale-sensitive);
      // a null sum means an empty universe — converged by definition
      converged = s.isEmpty || prevSum.exists(_.compareTo(s.get) == 0)
      prevSum = s
      iter += 1
    }
    sym.unpersist(blocking = false)
    val out = labels
    if (!converged) out.unpersist(blocking = false) // no cache leak on throw
    require(converged,
      s"connectedComponents did not converge within $maxIter iterations — " +
        "a component's diameter exceeds the bound; raise maxIter")
    (out, iter, () => { out.unpersist(blocking = false); () })
  }

  /** Survivor selection — the step a dedup pipeline runs AFTER cluster
    * formation: within each component keep exactly one document (the
    * longest by `weightCol`, ties to the SMALLEST id — fully deterministic)
    * and mark the rest for dropping. Returns one row per node:
    * (idCol, component, keep ∈ {0,1}); filtering `keep = 1` yields the
    * deduplicated corpus.
    *
    * The per-component winner is a partial-aggregating `max(struct(weight,
    * inverted id))` — map-side combine absorbs hot components, so a
    * degenerate near-dup cluster holding 10 % of the corpus costs one
    * combiner cell, not a window sort over the cluster (same skew posture
    * as [[exact]]'s min_by). Contract: ids are non-negative (the
    * inverted-id trick flips min-id into max-order) — holds for every id
    * column in this library's surface.
    */
  def survivorSelection(components: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", weightCol: String = "n_chars"): DataFrame = {
    val labeled = components.select(col("id"), col("component"))
      .join(docs.select(col(idCol).as("id"),
        col(weightCol).cast("long").as("graft_w")), "id")
    val winners = labeled.groupBy("component")
      .agg(max(struct(col("graft_w").as("w"),
        (lit(Long.MaxValue) - col("id")).as("inv"))).as("s"))
      .select(col("component"),
        (lit(Long.MaxValue) - col("s.inv")).as("survivor_id"))
    labeled.join(winners, "component")
      .select(col("id").as(idCol), col("component"),
        (col("id") === col("survivor_id")).cast("int").as("keep"))
  }

  // ---------------------------------------------------------------- MinHash

  /** Deterministic universal-hash parameters for the MinHash signature:
    * h_i(x) = (a_i·x + b_i) mod p over Murmur3 shingle hashes. Fixed seeds
    * (splitmix-style constants), NOT Math.random — resumable and identical
    * across executors by construction.
    */
  private[graft] val P = 2147483647L // 2^31 - 1 (Mersenne prime)
  private[graft] def hashParams(k: Int): Seq[(Long, Long)] = {
    var s = 0x9e3779b97f4a7c15L
    def next(): Long = { // splitmix64 step
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until k).map(_ => ((next() & 0x7fffffffL) | 1L, next() & 0x7fffffffL))
  }

  /** k-permutation MinHash signature column over word-n-gram shingles.
    * The shingle pipeline runs once per row; all k permutation-mins are
    * updated in a single pass by the native [[ArrayExprs.MinHashSig]]
    * expression (the `array_min(transform(...))` ×k formulation re-evaluates
    * the shingle pipeline k times per row — ~60× slower at sf0.1).
    *
    * Shingle → integer via the Karp–Rabin polynomial hash
    * ([[graft.functions.TextExprs.krHash]], base 257 mod 1e9+7) rather
    * than Murmur3: identical sketching quality, but DIRECTLY restatable in
    * DuckDB SQL, so the driver's hard gate can recompute the full
    * MinHash+LSH pipeline ([[graft.OracleGen.q29Sql]]) instead of trusting
    * a rows-only check.
    */
  def minhashSignature(text: Column, n: Int = 3, k: Int = 64): Column = {
    val hashes = transform(array_distinct(TextStats.shingles(text, n)),
      s => graft.functions.TextExprs.krHash(s))
    val params = hashParams(k)
    ArrayExprs.minhashSig(hashes,
      params.map(_._1).toIndexedSeq, params.map(_._2).toIndexedSeq, P)
  }

  /** MinHash-LSH candidate pairs: signatures banded into `bands` groups of
    * rows; documents colliding in ≥1 band meet; pairs are scored by
    * signature agreement (estimated Jaccard). Threshold tuning: collision
    * prob ≈ 1-(1-j^r)^b.
    *
    * Shuffle plan: signatures are computed ONCE and disk-backed; only
    * (id, band, bucket) triples — never the k-long signatures — flow
    * through the banding shuffle, the pair explode and the pair-dedup
    * (round 1 carried 64-long arrays ×16 bands through all three, and that
    * single query was 14% of the whole bench). Signatures rejoin the
    * (small) deduped candidate-pair set for scoring. Never materializes n²
    * pairs; per-bucket fan-out bounded by `maxBucket` (drops WARN-logged
    * via [[DropWarnings]], or observed via `dropStats`).
    *
    * Unlike the hyperplane banding ([[Similarity.cosineNearDupPairsLsh]]),
    * rows-per-band needs NO n-aware scaling here: the bucket key is a
    * 64-bit hash of r signature VALUES (keyspace 2^64, not 2^r), so
    * unrelated documents collide with probability ~(j_pair)^r per band,
    * independent of corpus size — bucket population tracks the true
    * duplicate-cluster size, which `maxBucket` bounds. r's only role is
    * the precision/recall trade at the estimated-Jaccard threshold
    * (collision prob ≈ 1-(1-j^r)^b).
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, k: Int = 64,
      bands: Int = 16, estThreshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 1 << 12,
      dropStats: Option[Observation] = None): DataFrame =
    minhashLshPairsReleasable(docs, n, k, bands, estThreshold, textCol,
      idCol, maxBucket, dropStats)._1

  /** [[minhashLshPairs]] plus a release handle freeing the persisted
    * signature frame (object-scaladoc lifecycle contract).
    */
  def minhashLshPairsReleasable(docs: DataFrame, n: Int = 3, k: Int = 64,
      bands: Int = 16, estThreshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 1 << 12,
      dropStats: Option[Observation] = None): (DataFrame, () => Unit) = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // Persisted because three plan consumers need it (banding + both sides
    // of the scoring join); without the persist the whole shingle+minhash
    // pipeline would run 3×. MEMORY_AND_DISK: signatures are ~k·8 B/doc —
    // at fleet scale this spills to local disk, never to the driver.
    val sigs = docs.select(col(idCol).as("id"),
      minhashSignature(col(textCol), n, k).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = minhashBanded(sigs, bands, r)
    val pairs = groupPairs(banded, Seq("band", "bucket"), col("id"),
        maxBucket, dropStats)
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val result = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast("double") / k)
      .filter(col("est_jaccard") >= estThreshold)
      .select("id_a", "id_b", "est_jaccard")
    (result, () => { sigs.unpersist(blocking = false); () })
  }

  /** (id, band, bucket) triples for a signature frame — the banding shape
    * shared by [[minhashLshPairsReleasable]] and the incremental index.
    */
  private def minhashBanded(sigs: DataFrame, bands: Int,
      r: Int): DataFrame =
    sigs.select(col("id"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          xxhash64(concat_ws(",",
            transform(slice(col("sig"), j * r + 1, r),
              x => x.cast("string")))).as("bucket"))): _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

  /** Build a PERSISTENT MinHash-LSH index for incremental ingestion:
    * the corpus's band table (`<path>/bands`: id, band, bucket) and
    * signature table (`<path>/sigs`: id, sig) as parquet — built once,
    * offline, then probed by every [[minhashLshAdmit]] batch without
    * ever rescanning the corpus (the daily-crawl admission shape: corpus
    * work is O(corpus) ONCE, per-batch work is O(batch + matches)).
    *
    * Buckets larger than `maxBucket` are excluded AT BUILD TIME, loudly
    * (the standard cap posture: a stop-shingle bucket holding half the
    * corpus would turn every future admission probe into a quadratic
    * join; recall loss is logged with the dropped-bucket count). The
    * build is an eager action (it writes files), so the drop count is an
    * exact, already-paid aggregate — no Observation plumbing needed.
    */
  def saveMinhashIndex(docs: DataFrame, path: String, n: Int = 3,
      k: Int = 64, bands: Int = 16, textCol: String = "text",
      idCol: String = "doc_id", maxBucket: Int = 1 << 12): Unit = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // parameter manifest: probing an index with different (n, k, bands)
    // silently yields WRONG est_jaccard (zip_with over unequal-length
    // signatures pads with null, which the equality filter drops) — the
    // admit door require()s a match against this row instead
    locally {
      val sess = docs.sparkSession
      import sess.implicits._
      Seq((n, k, bands, maxBucket))
        .toDF("n", "k", "bands", "max_bucket")
        .write.mode("overwrite").parquet(s"$path/params")
    }
    val sigs = docs.select(col(idCol).as("id"),
      minhashSignature(col(textCol), n, k).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      sigs.write.mode("overwrite").parquet(s"$path/sigs")
      val banded = minhashBanded(sigs, bands, r)
      val counts = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("graft_csz"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val dropped = counts.filter(col("graft_csz") > maxBucket).count()
        if (dropped > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"graft minhash index $path: $dropped buckets over the " +
              s"$maxBucket cap were excluded at build time; admission " +
              "recall against their members is reduced")
        banded.join(counts.filter(col("graft_csz") <= maxBucket),
            Seq("band", "bucket"))
          .select("id", "band", "bucket")
          .write.mode("overwrite").parquet(s"$path/bands")
      } finally { counts.unpersist(blocking = false); () }
    } finally { sigs.unpersist(blocking = false); () }
  }

  /** Incremental near-dup ADMISSION: check a new document batch against a
    * saved corpus index ([[saveMinhashIndex]]) — the shape real ingestion
    * runs daily: the corpus never rescans, only the batch's shingling and
    * the (band, bucket) probe join pay per call. Returns every
    * (new_id, old_id, est_jaccard) with signature agreement ≥
    * `estThreshold`; an absent new_id is admissible (no near-dup in the
    * corpus). Batch-internal duplicates are deliberately out of scope —
    * run the batch through [[minhashLshPairs]] and compose.
    *
    * Plan: batch bands join the index band table on (band, bucket) —
    * id-only triples on the exchange, never signatures; candidate pairs
    * dedupe, then BOTH signature joins are pinned `shuffle_hash` (a
    * per-document array frame must never ride a broadcast — the 100×
    * smoke lane's AQE-misestimate lesson). Index buckets were size-capped
    * at build, so probe fan-out per batch band row is bounded.
    */
  def minhashLshAdmit(newDocs: DataFrame, indexPath: String, n: Int = 3,
      k: Int = 64, bands: Int = 16, estThreshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    { val (res, release) = minhashLshAdmitReleasable(newDocs, indexPath,
        n, k, bands, estThreshold, textCol, idCol)
      graft.CacheHandles.register(release); res }

  /** [[minhashLshAdmit]] plus a release handle freeing the persisted
    * batch-signature frame — the door for the operator's own premise of
    * REPEATED daily calls: without the handle each admission leaks one
    * cached frame for the session lifetime (the minhashLshPairs
    * lifecycle contract, applied to the admission path). Call the handle
    * after the caller's action has consumed the result.
    */
  def minhashLshAdmitReleasable(newDocs: DataFrame, indexPath: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      estThreshold: Double = 0.5, textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, () => Unit) = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val spark = newDocs.sparkSession
    // the index's parameter manifest must match the probe's parameters —
    // a mismatched probe yields silently-wrong est_jaccard, never an
    // error, so fail HERE (indexes written before the manifest existed
    // fail loudly too: missing params/ is unreadable)
    val p = spark.read.parquet(s"$indexPath/params").head()
    require(p.getAs[Int]("n") == n && p.getAs[Int]("k") == k &&
      p.getAs[Int]("bands") == bands,
      s"minhash index $indexPath was built with (n=${p.getAs[Int]("n")}, " +
        s"k=${p.getAs[Int]("k")}, bands=${p.getAs[Int]("bands")}); " +
        s"probe asked (n=$n, k=$k, bands=$bands)")
    val newSigs = newDocs.select(col(idCol).as("id"),
      minhashSignature(col(textCol), n, k).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = minhashBanded(newSigs, bands, r)
      .withColumnRenamed("id", "new_id")
      .join(spark.read.parquet(s"$indexPath/bands")
        .withColumnRenamed("id", "old_id"), Seq("band", "bucket"))
      .select("new_id", "old_id")
      .dropDuplicates("new_id", "old_id")
    val result = cand
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig_a"))
        .hint("shuffle_hash"), "new_id")
      .join(spark.read.parquet(s"$indexPath/sigs")
        .select(col("id").as("old_id"), col("sig").as("sig_b"))
        .hint("shuffle_hash"), "old_id")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast("double") / k)
      .filter(col("est_jaccard") >= estThreshold)
      .select("new_id", "old_id", "est_jaccard")
    (result, () => { newSigs.unpersist(blocking = false); () })
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word tokens: per bit position, sum ±1 weighted by
    * each token's hash bit; the sign vector packs into one long. All 64
    * bit-counters update in one pass over the token-hash array
    * ([[ArrayExprs.SimHash64]]) — shuffle-free, no per-bit re-evaluation.
    * Token hash = splitmix64-finalized Karp–Rabin
    * ([[graft.functions.TextExprs.krHash64]]): same per-bit uniformity as
    * xxhash64 but restatable in DuckDB SQL, so the driver gate recomputes
    * the whole SimHash pipeline independently ([[graft.OracleGen.q30Sql]]).
    */
  def simhash(text: Column): Column =
    ArrayExprs.simhash64(transform(TextStats.words(text),
      w => graft.functions.TextExprs.krHash64(w)))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist`, found by
    * banding the 64-bit hash into 4 16-bit chunks (pigeonhole: any pair at
    * distance ≤3 agrees exactly on ≥1 chunk). One shuffle per chunk key;
    * the simhash itself is one long, so unlike the MinHash plan there is
    * nothing to strip before the shuffle — members carry (id, sh) and the
    * Hamming distance is computed in-group. `maxBucket` bounds degenerate
    * chunks (e.g. a corpus-wide boilerplate prefix driving one 16-bit chunk
    * to a single value).
    */
  /** Exact SUBSTRING dedup — the other half of Lee et al. 2021
    * (ExactSubstr): find verbatim token spans repeated ANYWHERE in the
    * corpus (across docs or within one), at substring granularity — the
    * repeated boilerplate/licence/quote mass that document-level dedup
    * ([[exact]], [[minhashLshPairs]]) cannot see because the containing
    * documents differ.
    *
    * Published rule: a span of ≥ `minTokens` (canonically 50) tokens
    * occurring at ≥ 2 positions corpus-wide is duplicated. Restated
    * window-wise (the distributed form): a position's `minTokens`-token
    * window is duplicated iff its window hash occurs ≥ 2 times; a
    * repeated span of length s ≥ minTokens makes exactly its
    * s−minTokens+1 covering windows repeat, so the union of duplicated
    * windows' token coverage IS the repeated-span mass, and maximal
    * contiguous covered runs are the maximal repeated spans.
    *
    * The suffix array of the monolithic implementation is replaced by
    * [[ArrayExprs.RollingGramKrHashes]] — one O(m) rolling-hash pass per
    * doc (no per-window strings), ~60-bit packed double-residue keys (a
    * hash collision can merge two windows' identities and over-mark a
    * span; at 2^60 that is negligible and the oracle replays the same
    * hashes, so the gate is exact).
    *
    * Scale shape: the (doc_id, pos, h) window stream shuffles twice —
    * once as (h, count) partial-aggregate rows (map-side combine absorbs
    * boilerplate hot keys: each hot window hash reaches its reducer as
    * ≤ one row per map partition), once joining the stream against the
    * (much smaller) duplicated-hash set, h-to-h co-partitioned; a hot
    * stream-side h joins one build row, AQE splits any residual skew. The
    * island merge then shuffles only the DUPLICATED positions by doc_id;
    * the per-doc window sort is bounded by document length. Never
    * all-pairs, no posting lists of positions, no text on any shuffle.
    *
    * Returns one row per document owning ≥ 1 duplicated span:
    * (idCol, n_dup_spans, dup_tokens, max_span_tokens) where spans are
    * maximal runs of tokens covered by ≥ 1 duplicated window (two windows
    * merge iff their coverage overlaps or touches: gap ≤ minTokens).
    */
  def exactSubstringSpans(docs: DataFrame, minTokens: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val L = minTokens
    val grams = docs
      .withColumn("graft_w", TextStats.words(col(textCol)))
      .filter(size(col("graft_w")) >= L)
      .select(col(idCol),
        posexplode(ArrayExprs.rollingGramKrHashes(col("graft_w"), L)))
      .toDF(idCol, "graft_pos", "graft_h")
    val dupHashes = grams.groupBy("graft_h")
      .agg(count(lit(1)).as("graft_n"))
      .filter(col("graft_n") >= 2)
      .select("graft_h")
    val dupPos = grams.join(dupHashes, "graft_h")
      .select(col(idCol), col("graft_pos"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("graft_pos")
    val prev = lag(col("graft_pos"), 1).over(byDoc)
    dupPos
      .withColumn("graft_new",
        when(prev.isNull || col("graft_pos") - prev > L, 1).otherwise(0))
      .withColumn("graft_span", sum(col("graft_new")).over(byDoc))
      .groupBy(col(idCol), col("graft_span"))
      .agg(min(col("graft_pos")).as("graft_s"),
        (max(col("graft_pos")) + lit(L - 1)).as("graft_e"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("graft_e") - col("graft_s") + 1).as("dup_tokens"),
        max(col("graft_e") - col("graft_s") + 1).as("max_span_tokens"))
  }

  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 1 << 12,
      dropStats: Option[Observation] = None): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    val chunks = sh.select(col("id"), col("sh"),
      explode(array((0 until 4).map(j => struct(lit(j).as("chunk"),
        shiftright(col("sh"), j * 16).bitwiseAND(0xffffL).as("key"))): _*))
        .as("c"))
      .select(col("id"), col("sh"), col("c.chunk"), col("c.key"))
    // Bucket-grouped pair generation — simhash evaluated once per doc (a
    // chunks-self-join would run the token pipeline twice; see LSH above).
    // Hamming filter BEFORE the pair dedup: hamming is a pure function of
    // the pair, so filter∘dedup ≡ dedup∘filter — but a near-cap 16-bit
    // chunk bucket (a corpus-wide boilerplate chunk) fans out ~maxBucket²/2
    // candidate pairs of which almost none are within maxDist; filtering
    // first keeps those candidates out of the dedup Exchange entirely
    // (measured at the 20× smoke: 73M candidate rows → the true ~1M
    // before the shuffle instead of after).
    groupPairs(chunks, Seq("chunk", "key"),
        struct(col("id"), col("sh")), maxBucket, dropStats)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }
}
