package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Rounds

/** NN-Descent K-NN graph construction (Dong, Moses & Li, WWW 2011,
  * "Efficient K-Nearest Neighbor Graph Construction for Generic
  * Similarity Measures") — the graph-based ANN family's build step,
  * covering the production vector-serving shape the IVF/PQ/LSH
  * members don't: a navigable neighbor graph built ONCE in batch and
  * persisted ([[IndexStore.saveKnn]]), from which serving reads
  * precomputed neighbor lists (and graph-walk ANN engines bootstrap).
  *
  * The algorithm is "a neighbor of a neighbor is likely a neighbor":
  * start from a pseudo-random K-NN guess and repeatedly LOCAL-JOIN —
  * each node proposes every pair among its current neighbors and
  * REVERSE neighbors, scores the proposals exactly, and keeps the
  * best K — until an iteration improves (almost) nothing. Empirical
  * cost is ~O(n^1.14) exact comparisons (the paper's result) versus
  * n² brute force.
  *
  * Distributed shape — every step is an equi-join or aggregation on
  * node id, no cross join anywhere:
  *  - the adjacency state is `overbuild`·K rows per node; a round's
  *    local join is `lists SELF-JOIN on node id`, so candidate volume
  *    is bounded by n·(2·overbuild·K)² rows of 8-byte id pairs — the
  *    embeddings only enter for the DISTINCT new pairs (the SemDedup
  *    two-phase shape);
  *  - REVERSE degree is unbounded in adversarial data (a hub vector
  *    near everything), so reverse lists are CAPPED at `overbuild`·k
  *    per node by a per-round deterministic hash sample — the paper's
  *    ρK sampling at ρ=overbuild, which is also what bounds the local
  *    join above;
  *  - each round re-roots the state on a persisted RDD
  *    ([[graft.operators.Rounds.materialize]]) so Catalyst's plan
  *    stays constant-size across rounds;
  *  - all randomness is xxhash64 of (seed, round, ids) — the build is
  *    bit-deterministic, same graph every run.
  *
  * Convergence: the paper's termination counts UPDATES per round;
  * here a round's update count is the number of (node, neighbor)
  * edges not present before the round, and the loop stops when that
  * falls below `convergedFrac`·n·(`overbuild`·k) — the fraction is of
  * the OVERBUILT state the descent maintains, not the emitted k-list
  * — (or at `maxRounds`, whichever
  * first — unlike ConnectedComponents there is no fixpoint guarantee
  * to enforce, an under-converged graph is a recall tradeoff, not
  * wrong data; callers pin recall with the spec's bruteTopK compare).
  */
object NnDescent {

  /** Build the K-NN graph of `corpus` (vec_id, embedding) under
    * exact cosine. Returns (vec_id, rank, n_id, sim) with rank 1..k
    * by (sim desc, n_id) per node — every node appears (isolated
    * degenerate corpora aside: nodes keep their best k candidates
    * seen, which is k for any corpus with > k vectors). */
  def build(corpus: DataFrame, k: Int, maxRounds: Int = 10,
            convergedFrac: Double = 0.001, seed: Long = 42L,
            overbuild: Int = 2): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    require(overbuild >= 1, "overbuild must be >= 1")
    // OVER-BUILD: the descent maintains lists of overbuild*k and the
    // output keeps the best k. On unstructured (uniform-random)
    // corpora the k-NN graph's greedy local optimum is measurably
    // below the true graph; wider lists give each local join more
    // hops to escape it (recall@10 on the 64-dim random test corpus:
    // 0.84 at overbuild=1 -> ~0.99 at 2). Candidate volume grows
    // (2*overbuild*k)^2 per node -- the documented cost knob.
    val kb = k * overbuild
    val spark = corpus.sparkSession
    val lvl = StorageLevel.MEMORY_AND_DISK

    // embeddings + norms: read by every round's scoring join
    // (columnar-cached; a narrowed clone sees the same cache through
    // the shared CacheManager)
    val v0 = corpus.select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"))
      .persist(lvl)
    val n = v0.count()
    require(n > kb, s"corpus has $n vectors, need > overbuild*k=$kb")

    // a round's state is n·2kb adjacency rows (forward + capped
    // reverse lists), the profile's size
    val p = Rounds.profile(n * 2L * kb, hasLocal = false)
    val loop = Rounds.session(spark, p)
    val v = loop.bind(v0)

    // dense index 0..n-1 per vec_id (sorted => deterministic), for
    // uniform pseudo-random initial candidates; distributed sort +
    // zipWithIndex, never a single-partition window
    import loop.spark.implicits._
    val idmap = v.select(col("vec_id")).sort("vec_id")
      .as[Long].rdd.zipWithIndex.toDF("vec_id", "idx")
      .persist(lvl)

    // init: k pseudo-random distinct-from-self candidates per node.
    // c in [0, n-2]; shifting c >= idx by one makes the draw uniform
    // over [0, n-1] \ {idx}. Duplicate draws collapse harmlessly.
    val draws = array((0 until kb).map(j =>
      pmod(xxhash64(lit(seed), col("idx"), lit(j)), lit(n - 1))): _*)
    val initPairs = idmap
      .select(col("idx").as("a_idx"),
        explode(draws).as("c"))
      .withColumn("b_idx", when(col("c") >= col("a_idx"), col("c") + 1)
        .otherwise(col("c")))
      .join(idmap.select(col("idx").as("a_idx"), col("vec_id").as("id")), "a_idx")
      .join(idmap.select(col("idx").as("b_idx"), col("vec_id").as("nbr")), "b_idx")
      .select(col("id"), col("nbr"))

    def score(pairs: DataFrame): DataFrame = pairs
      .join(v.select(col("vec_id").as("id"), col("embedding").as("_e1"),
        col("nrm").as("_n1")), Seq("id"))
      .join(v.select(col("vec_id").as("nbr"), col("embedding").as("_e2"),
        col("nrm").as("_n2")), Seq("nbr"))
      .withColumn("sim",
        Similarity.dot(col("_e1"), col("_e2")) / (col("_n1") * col("_n2")))
      .select(col("id"), col("nbr"), col("sim"))

    // top-k neighbor list per node from scored (id, nbr, sim, old)
    // rows, in ONE groupBy(id) via the bounded [[TopKEdges]] aggregate
    // (r17): (id, nbr) dedup and the per-id trim happen inside the
    // aggregation buffer, with map-side partial aggregation collapsing
    // every partition to ≤ kb entries per id BEFORE the exchange — the
    // r16 shape paid a (id, nbr)-keyed dedup exchange plus a second
    // exchange carrying whole collect_list buffers. A duplicate
    // (id, nbr) carries the same exact sim from both sources, so the
    // buffer's max-over-equal-sims dedup is a formality; `old` merges
    // by OR (the exactness argument is in TopKEdges' doc). Emitting
    // flag = !old HERE is what lets each round skip a join-back
    // against its previous state.
    def topK(scored: DataFrame): DataFrame = scored
      .groupBy(col("id"))
      .agg(graft.functions.TopKEdges(kb)(
        col("nbr"), col("sim"), col("old")).as("_top"))
      .select(col("id"), explode(col("_top.es")).as("_t"))
      .select(col("id"), col("_t.nbr").as("nbr"), col("_t.sim").as("sim"),
        (!col("_t.flag")).as("flag"))

    // init rows all arrive old=false, so topK emits them flag=true
    var (knn, knnRdd) = Rounds.materialize(
      topK(score(initPairs).withColumn("old", lit(false))), lvl)

    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val fwd = knn.select(col("id"), col("nbr"), col("flag"))
      // reverse edges, capped at k per node by a per-round hash sample
      val rev = knn.select(col("nbr").as("id"), col("id").as("nbr"), col("flag"))
        .withColumn("_r", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
            .orderBy(xxhash64(lit(seed), lit(round), col("nbr")), col("nbr"))))
        .filter(col("_r") <= kb).drop("_r")
      val lists = fwd.union(rev)
        .groupBy(col("id"), col("nbr")).agg(max(col("flag")).as("flag"))
      // local join: every neighbor pair of every node with at least
      // one NEW member — narrow 8-byte id pairs only. Under the
      // Narrow profile the candidate dedup exchange is SKIPPED (r17):
      // there the scoring joins are broadcast (the cached vector
      // table is driver-sized by the same profile), so duplicated
      // candidates cost only map-side re-scores that the bounded
      // topK aggregate dedups before its one exchange — the
      // distinct() was the round's dominant shuffle (the sf0.1
      // measurement: 83 MB of the build's 84 MB total). At full
      // width the dedup stays: dup pairs there would enter the
      // score joins' corpus-keyed exchanges once per duplicate.
      val cand0 = lists.as("a").join(lists.as("b"),
          col("a.id") === col("b.id") && col("a.nbr") < col("b.nbr")
            && (col("a.flag") || col("b.flag")))
        .select(col("a.nbr").as("id"), col("b.nbr").as("nbr"))
      val scored = score(if (p == Rounds.Narrow) cand0 else cand0.distinct())
      val updates = scored.union(
          scored.select(col("nbr").as("id"), col("id").as("nbr"), col("sim")))
        .withColumn("old", lit(false))
      val merged = topK(knn.select(col("id"), col("nbr"), col("sim"))
        .withColumn("old", lit(true)).union(updates))
      // the convergence count rides the materializing job itself
      // (r17, Rounds.materializeCount) — flag is field 3 of the state
      val (next, nextRdd, changed) =
        Rounds.materializeCount(merged, lvl, _.getBoolean(3))
      knnRdd.unpersist(blocking = false)
      knn = next
      knnRdd = nextRdd
      done = changed < convergedFrac * n * kb
      round += 1
    }
    // the returned plan is re-rooted on the final round's persisted
    // RDD — on the CALLER's session, so the tail (and everything
    // downstream) plans at the caller's width — and neither the
    // embedding table nor the id map is read again: release both now
    // (the RDD backing `out` is freed by ContextCleaner when the
    // caller drops the plan, the ConnectedComponents contract)
    idmap.unpersist(blocking = false)
    v0.unpersist(blocking = false)
    org.apache.spark.sql.GraftBridge.internalDF(spark, knnRdd, knn.schema)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("sim").desc, col("nbr"))))
      .filter(col("rank") <= k)
      .select(col("id").as("vec_id"), col("rank"), col("nbr").as("n_id"),
        col("sim"))
  }

  /** INCREMENTAL insert: extend an existing K-NN `graph` over `base`
    * (the [[build]]/[[IndexStore.loadKnn]] layout) with a new `batch`
    * of vectors WITHOUT rebuilding — the growing-corpus shape every
    * crawl pipeline needs between periodic rebuilds. Returns the full
    * merged graph (vec_id, rank, n_id, sim) over base ∪ batch.
    *
    * The construction is the HNSW-family insert (Malkov & Yashunin
    * 2016, layer 0) run for a whole batch as DataFrame joins, seeded
    * from search results per the NN-descent local-join machinery this
    * file already has:
    *  1. each new vector finds its approximate k-NN in `base` via
    *     [[GraphSearch.topKHier]] over the persisted graph — the
    *     HOP-BUDGETED beam walk from hierarchical entries (HNSW's
    *     ef_construction-bounded insert search: entries from the
    *     coarse layer start near the query, and `searchHops` caps the
    *     walk — the 27i5 measurement shows near entries are worth a
    *     full hop, so the cap costs no recall), never a scan of the
    *     base corpus;
    *  2. batch-INTERNAL neighbors (new arrivals in one crawl batch
    *     are each other's best near-dup candidates): exact brute
    *     force up to `bruteFloor` vectors — nBatch² broadcast-join
    *     pair comparisons beat the descent's fixed per-round stage
    *     costs until ~bruteFloor² ≈ 10⁸ pairs, and the edges are
    *     exact — with [[build]] run on the batch alone above the
    *     floor (the descent's ~O(n^1.14) wins at bulk-batch sizes);
    *  3. each new node keeps the best k of (1) ∪ (2) ∪ reversed (2);
    *  4. REVERSE links: every base node discovered in (1) merges the
    *     proposing new vector into its list and re-trims to k — the
    *     HNSW reverse-link prune. Only those TOUCHED base nodes
    *     (≤ batch·k of them) are rewritten; every other base row
    *     rides through byte-identical, so insert cost scales with
    *     the batch, never the corpus.
    *
    * Like the build, the result is approximate with exact-cosine
    * sims: callers pin recall against [[Similarity.bruteTopK]]
    * (GraphInsertSpec pins the fresh-build floor). Bit-deterministic.
    *
    * Contract: the batch rides [[GraphSearch]]'s broadcast-queries
    * serving shape, so one insert call's batch must be bounded
    * (micro-batch grain — a caller ingesting an unbounded stream
    * chunks it, the natural arrival shape); a batch comparable to
    * the base is a rebuild, not an insert. Batch ids must be
    * disjoint from base ids (new arrivals; re-ingest dedup is
    * 22a/24c's job). */
  def insert(graph: DataFrame, base: DataFrame, batch: DataFrame,
             k: Int, beam: Int = -1, maxRounds: Int = 3,
             convergedFrac: Double = 0.01, seed: Long = 42L,
             overbuild: Int = 2, entryFanout: Int = 32,
             searchHops: Int = 4, bruteFloor: Int = 10000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val bm = if (beam > 0) beam else 3 * k
    val spark = base.sparkSession
    val lvl = StorageLevel.MEMORY_AND_DISK

    val nBatch = batch.count()
    require(nBatch >= 1, "batch is empty")

    // (1) cross edges: new vector -> its approximate k-NN in base,
    // via the hop-budgeted hierarchical beam walk over the existing
    // graph (exact cosine sims)
    val searched = GraphSearch.topKHier(graph, base, batch, k, bm,
        fanout = entryFanout, maxHops = searchHops, seed = seed)
      .select(col("q_id").as("id"), col("n_id").as("nbr"), col("sim"))
      .persist(lvl)
    // released after the caller's action: new-node lists, the reverse
    // proposals, and the touched set all read it inside the ONE
    // returned plan (the SemDedup release contract)
    graft.functions.CacheRelease.afterNextExecution(searched)

    // (2) batch-internal edges: exact brute force below the declared
    // cost-crossover floor (nBatch² 8-byte-pair comparisons with the
    // batch broadcast — cheaper than the descent's fixed per-round
    // stage costs until ~bruteFloor² pairs, and strictly BETTER
    // recall since the internal edges are exact), the descent over
    // the batch alone above it
    // NOT persisted (r18, measured): the internal edges feed newLists
    // twice (forward + reversed union), but persisting them read
    // 13-14 s vs 3.5 s at sf0.1 — the cache fill under concurrent
    // broadcast-future builds serializes on block locks and blocks
    // AQE's own exchange reuse across the two subtrees.
    val internal: DataFrame =
      if (nBatch > math.max(bruteFloor.toLong, overbuild.toLong * k + 1))
        build(batch, k, maxRounds, convergedFrac, seed, overbuild)
          .select(col("vec_id").as("id"), col("n_id").as("nbr"), col("sim"))
      else if (nBatch >= 2)
        Similarity.bruteTopKSim(batch, batch, math.min(k.toLong, nBatch - 1).toInt)
          .select(col("q_id").as("id"), col("n_id").as("nbr"), col("sim"))
      else
        spark.emptyDataFrame
          .select(lit(0L).as("id"), lit(0L).as("nbr"), lit(0.0).as("sim"))
          .limit(0)

    // one groupBy(id) via the bounded TopKEdges aggregate (r17): the
    // (id, nbr) dedup exchange + per-id window the r16 shape paid
    // collapse into one k-bounded aggregation; rank = array position
    def rankTopK(edges: DataFrame): DataFrame = edges
      .groupBy(col("id"))
      .agg(graft.functions.TopKEdges(k)(
        col("nbr"), col("sim"), lit(false)).as("_top"))
      .select(col("id").as("vec_id"),
        posexplode(col("_top.es")).as(Seq("_p", "_t")))
      .select(col("vec_id"), (col("_p") + 1).as("rank"),
        col("_t.nbr").as("n_id"), col("_t.sim").as("sim"))

    // ---- batch-grain tail (r18): steps (3)-(4) below carry batch-
    // and sliver-grain data only (newLists ≤ batch·(beam+2k) rows, the
    // profile's size; touchedLists ≤ 2·batch·k), so at caller width
    // their ~20 AQE stage-jobs were pure launch latency. Under the
    // Narrow profile the two sliver plans bind to the clone and
    // materialize on persisted RDDs (lazily — the caller's one action
    // computes them), re-rooted on the caller's session; the
    // corpus-scale untouched passthrough NEVER binds to the clone — it
    // stays a caller-width map-only anti join. The touched set gets an
    // explicit broadcast hint on the clone (AQE is off there; it is
    // ≤ batch·k rows by the micro-batch contract — the wide path keeps
    // AQE's own choice).
    val p = Rounds.profile(nBatch * (bm + 2L * k), hasLocal = false)
    val loop = Rounds.session(spark, p)
    def reroot(df: DataFrame): DataFrame =
      if (p == Rounds.Narrow) {
        val (_, rdd) = Rounds.materialize(df, lvl)
        org.apache.spark.sql.GraftBridge.internalDF(spark, rdd, df.schema)
      } else df

    // (3) new-node lists: best k of cross ∪ internal ∪ reversed
    // internal (x→y within the batch proposes y→x too — sims are
    // symmetric and exact, the trim keeps whichever k win)
    val newLists = reroot(rankTopK(loop.bind(searched
      .union(internal)
      .union(internal.select(col("nbr").as("id"), col("id").as("nbr"),
        col("sim"))))))

    // (4) touched base nodes: merge the reverse proposals b→x into
    // b's existing list and re-trim — a sliver of ≤ batch·k nodes
    val revProps = searched.select(col("nbr").as("id"), col("id").as("nbr"),
      col("sim"))
    val touched = revProps.select(col("id")).distinct()
    val touchedB = if (p == Rounds.Narrow) broadcast(touched) else touched
    val touchedOld = graph.join(touchedB,
        graph("vec_id") === touchedB("id"))
      .select(col("vec_id").as("id"), col("n_id").as("nbr"), col("sim"))
    val touchedLists = reroot(rankTopK(loop.bind(touchedOld.union(revProps))))

    // untouched base rows ride through unchanged (rank and sim kept)
    // — on the CALLER's session: the passthrough is the corpus-scale
    // half, and its analyzed plan carrying `searched` is also what
    // lets the cache-release matcher see the caller's action
    val untouched = graph.join(touched,
        graph("vec_id") === touched("id"), "left_anti")
      .select(col("vec_id"), col("rank"), col("n_id"), col("sim"))

    untouched.union(touchedLists).union(newLists)
  }
}
