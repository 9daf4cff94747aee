package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

import graft.operators.Rounds

/** Graph-ANN SERVING: batch best-first beam search over a persisted
  * K-NN graph (the [[NnDescent]] build artifact, loaded through
  * [[IndexStore.loadKnn]]) — the query-time half of the graph-based
  * ANN family (the greedy-walk search HNSW-family engines run per
  * query, here executed for a whole query BATCH as iterative
  * DataFrame joins; Malkov & Yashunin 2016 describe the single-query
  * form, layer 0).
  *
  * Per query the walk keeps a BEAM of the best `beam` nodes seen so
  * far; each hop expands every not-yet-expanded beam member through
  * the graph's adjacency, scores the proposed nodes exactly against
  * the query vector, and re-selects the beam. The walk stops when a
  * hop admits no new beam member for any query (or at `maxHops`).
  * Like the build, an under-converged search is a recall tradeoff,
  * never wrong data — callers pin recall against
  * [[Similarity.bruteTopK]] (GraphSearchSpec).
  *
  * Distributed shape:
  *  - the graph is the big side: `n·k` 8-byte edge rows, persisted
  *    once (symmetrized — reverse edges restore the navigability the
  *    directed K-NN graph loses) and equi-joined on node id each hop;
  *  - queries broadcast (a serving batch is driver-sized by
  *    definition); per-hop state is `|queries|·beam` rows;
  *  - candidate volume per hop is bounded by frontier·degree ≈
  *    `|queries|·beam·2k` id pairs; embeddings join in only for the
  *    DISTINCT proposals (the NnDescent/SemDedup two-phase shape);
  *  - a node enters a beam at most once (beam minima only rise and
  *    sims are fixed), so each node is EXPANDED at most once per
  *    query; re-proposed already-evicted nodes re-score but never
  *    re-enter — bounded waste traded for not carrying a per-query
  *    visited set through every hop;
  *  - each hop re-roots on a persisted RDD
  *    ([[graft.operators.Rounds.materialize]]) so the plan stays
  *    constant-size across hops;
  *  - entry points ([[topK]]) are the `beam` nodes minimizing
  *    `xxhash64(seed, vec_id)` — a deterministic corpus-wide sample
  *    (TakeOrdered, a per-partition heap, never a global sort), the
  *    same for every query, so the search is bit-deterministic —
  *    or ([[topKHier]]) per-query entries from a coarse UPPER LAYER.
  */
object GraphSearch {

  /** Search `graph` (vec_id, n_id[, rank, sim] — the NnDescent/
    * IndexStore layout) for the `k` nearest corpus vectors to each
    * query under exact cosine, excluding the query's own vec_id.
    * Output (q_id, rank, n_id, sim), rank 1..k by (sim desc, n_id).
    */
  def topK(graph: DataFrame, corpus: DataFrame, queries: DataFrame,
           k: Int, beam: Int, maxHops: Int = 10,
           seed: Long = 42L): DataFrame =
    topKWithHops(graph, corpus, queries, k, beam, maxHops, seed)._1

  /** [[topK]] plus the number of hops the walk ran — the spec's
    * measurement surface. */
  private[graft] def topKWithHops(graph: DataFrame, corpus: DataFrame,
                                  queries: DataFrame, k: Int, beam: Int,
                                  maxHops: Int = 10, seed: Long = 42L)
      : (DataFrame, Int) =
    walk(graph, corpus, queries, k, beam, maxHops,
      EntryRule.sample(beam, seed))

  /** HIERARCHICAL entry points — the HNSW upper-layer idea (Malkov &
    * Yashunin 2016): before the layer-0 beam walk, each query scans a
    * coarse TOP LAYER of ~n/`fanout` deterministically sampled nodes
    * (membership by `pmod(xxhash64(seed+1, node), fanout) = 0` — a
    * map-only filter, never a global limit) and takes its `beam` best
    * as PER-QUERY entry points. Entries start near the query, so the
    * walk needs fewer hops to converge — the spec measures the
    * reduction at equal recall on the same persisted graph.
    *
    * Scale: the layer scan is |queries|·n/fanout id pairs (queries
    * broadcast, layer filtered map-side from the corpus); pick
    * `fanout` so the layer is scan-cheap — at corpus sizes where even
    * n/fanout is too big to scan, use the RECURSIVE stack
    * ([[buildLayers]] + [[topKLayered]]): per-layer K-NN graphs over
    * the same persisted format, descended with a narrow beam
    * (HNSW's geometric construction). Falls back to
    * [[topK]]'s global entry sample if the layer filter matches
    * nothing (tiny corpora). Bit-deterministic either way. */
  def topKHier(graph: DataFrame, corpus: DataFrame, queries: DataFrame,
               k: Int, beam: Int, fanout: Int = 32, maxHops: Int = 10,
               seed: Long = 42L): DataFrame =
    topKHierWithHops(graph, corpus, queries, k, beam, fanout, maxHops,
      seed)._1

  /** [[topKHier]] plus the hop count, for the spec's measurement. */
  private[graft] def topKHierWithHops(graph: DataFrame, corpus: DataFrame,
                                      queries: DataFrame, k: Int, beam: Int,
                                      fanout: Int = 32, maxHops: Int = 10,
                                      seed: Long = 42L)
      : (DataFrame, Int) = {
    val (entry, fallback) = hierEntries(beam, fanout, seed)
    walk(graph, corpus, queries, k, beam, maxHops, entry, Some(fallback))
  }

  /** [[topKHier]]'s entry rules: the level-1 layer, and the flat global
    * sample as the tiny-corpus fallback — applied only if the layer
    * produced NO scored entries, detected for free on the materialized
    * init state instead of a pre-scan job. */
  private[vector] def hierEntries(beam: Int, fanout: Int, seed: Long)
      : (EntryRule, EntryRule) =
    (EntryRule.layer(1, fanout, seed), EntryRule.sample(beam, seed))

  /** Layer-ℓ membership: a deterministic nested sample — divisibility
    * by fanout^ℓ, so layer ℓ+1 ⊆ layer ℓ (the HNSW nesting property)
    * and membership is a map-only filter, never a global sort. */
  private def member(level: Int, fanout: Int, seed: Long)
                    (node: org.apache.spark.sql.Column) =
    pmod(xxhash64(lit(seed + 1), node), lit(layerModulus(level, fanout))) === 0

  private def layerModulus(level: Int, fanout: Int): Long = {
    require(fanout >= 1, "fanout must be >= 1")
    var m = 1L
    (1 to level).foreach(_ => m *= fanout)
    m
  }

  /** `xxhash64(lit(s), node)` on the driver: Spark's XXH64 chain starts
    * at seed 42 and hashes the long literal, then the node. */
  private def hashLocal(s: Long, node: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashLong(node, XXH64.hashLong(s, 42L))
  }

  /** A walk's entry rule: the unscored (q_id, node) pairs each query's
    * beam starts from. One rule, two forms: `plan` over the vector
    * table `v` (node, …) and the query batch `q` (q_id, …) for the
    * distributed walk, and `local` over the corpus node ids and the
    * query ids for the driver twins. The forms select the same pairs. */
  private[vector] final case class EntryRule(
      plan: (DataFrame, DataFrame) => DataFrame,
      local: (Array[Long], Array[Long]) => Array[(Long, Long)])

  private[vector] object EntryRule {
    private def cross(qs: Array[Long], nodes: Array[Long]) =
      for (q <- qs; n <- nodes) yield (q, n)

    /** Every corpus node — the layered descent's scan-cheap top layer. */
    val all: EntryRule = EntryRule(
      (v, q) => q.select(col("q_id")).crossJoin(v.select(col("node"))),
      (nodes, qs) => cross(qs, nodes))

    /** The `beam` nodes minimizing (`xxhash64(seed, node)`, node): a
      * deterministic corpus-wide sample, the same for every query
      * (TakeOrdered in the plan, a sort on the driver). */
    def sample(beam: Int, seed: Long): EntryRule = EntryRule(
      (v, q) => q.select(col("q_id")).crossJoin(broadcast(
        v.select(col("node"))
          .orderBy(xxhash64(lit(seed), col("node")), col("node"))
          .limit(beam))),
      (nodes, qs) => cross(qs,
        nodes.sortBy(n => (hashLocal(seed, n), n)).take(beam)))

    /** The layer-`level` members ([[member]]) — a map-only filter in the
      * plan, the same `pmod` test on the driver. */
    def layer(level: Int, fanout: Int, seed: Long): EntryRule = {
      val m = layerModulus(level, fanout)
      EntryRule(
        (v, q) => q.select(col("q_id")).crossJoin(
          v.select(col("node")).filter(member(level, fanout, seed)(col("node")))),
        (nodes, qs) => cross(qs,
          nodes.filter(n => java.lang.Math.floorMod(hashLocal(seed + 1, n), m) == 0)))
    }

    /** Fixed (q_id, node) seeds — the layered descent's walk-to-walk
      * hand-off. */
    def seeded(seeds: DataFrame): EntryRule = EntryRule((_, _) => seeds,
      (_, _) => seeds.collect().map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Build the RECURSIVE layer stack over the same persisted format —
    * the geometric HNSW construction [[topKHier]]'s doc declares: for
    * each level ℓ = 1..`levels`, a K-NN graph (NnDescent) over the
    * nested layer-ℓ sample of the corpus. Construction stops early
    * when a layer falls under `minLayer` nodes (a layer that small is
    * scan-cheap — it becomes the top). Returns the per-level graphs,
    * level 1 first; persist each with IndexStore.saveKnn under a
    * layer=ℓ subdir to serve without rebuilding (GraphLayersSpec
    * round-trips it). Build cost is geometric-series-bounded:
    * Σ n/fanout^ℓ < n/(fanout-1) extra vectors indexed. */
  def buildLayers(corpus: DataFrame, k: Int, fanout: Int, levels: Int,
                  seed: Long = 42L, maxRounds: Int = 6): Seq[DataFrame] = {
    require(fanout >= 2, "fanout must be >= 2")
    require(levels >= 1, "levels must be >= 1")
    val out = Seq.newBuilder[DataFrame]
    var done = false
    (1 to levels).foreach { l =>
      if (!done) {
        val sub = corpus.filter(member(l, fanout, seed)(col("vec_id")))
        if (sub.count() < math.max(k + 2, 8)) done = true
        else out += NnDescent.build(sub, k, maxRounds = maxRounds)
      }
    }
    out.result()
  }

  /** Multi-layer descending search — the recursive form of
    * [[topKHier]] for corpora where even the n/fanout coarse layer is
    * too big to scan per query: scan only the TOP layer
    * (n/fanout^L nodes), then beam-walk each intermediate layer's OWN
    * graph (corpus restricted to that layer's members) seeded from the
    * layer above, and finally walk layer 0 seeded from layer 1 — so
    * entry selection costs |top| + Σ walk-candidates instead of the
    * one-level |layer1| scan. `layerGraphs` is [[buildLayers]]' output
    * (level 1 first); built and searched with the same fanout/seed.
    * Bit-deterministic; recall floors pinned by GraphLayersSpec. */
  def topKLayered(graph: DataFrame, layerGraphs: Seq[DataFrame],
                  corpus: DataFrame, queries: DataFrame, k: Int, beam: Int,
                  fanout: Int, entryBeam: Int = 4, maxHops: Int = 10,
                  seed: Long = 42L): DataFrame =
    topKLayeredWithHops(graph, layerGraphs, corpus, queries, k, beam,
      fanout, entryBeam, maxHops, seed)._1

  /** [[topKLayered]] plus per-phase hop counts (top-down, layer 0
    * last) — the spec's measurement surface. `entryBeam` is the
    * narrow beam the DESCENT phases run (HNSW's small upper-layer ef:
    * upper layers only need to land near the query's region, so their
    * walks stay a fraction of the one-level layer scan they replace);
    * only the final layer-0 walk uses the full `beam`. */
  private[graft] def topKLayeredWithHops(graph: DataFrame,
                                         layerGraphs: Seq[DataFrame],
                                         corpus: DataFrame, queries: DataFrame,
                                         k: Int, beam: Int, fanout: Int,
                                         entryBeam: Int = 4,
                                         maxHops: Int = 10, seed: Long = 42L)
      : (DataFrame, Seq[Int]) = {
    require(layerGraphs.nonEmpty, "need at least one layer graph")
    require(entryBeam >= 1, "entryBeam must be >= 1")
    val top = layerGraphs.length
    val hops = Seq.newBuilder[Int]
    // top layer: exhaustive scan (it is built to be scan-cheap)
    var (entries, h0) = walk(layerGraphs.last,
      corpus.filter(member(top, fanout, seed)(col("vec_id"))), queries,
      k = entryBeam, beam = entryBeam, maxHops = 1, EntryRule.all)
    hops += h0
    // descend: each layer's walk is seeded by the layer above
    (top - 1 to 1 by -1).foreach { l =>
      val seedEntries = entries.select(col("q_id"), col("n_id").as("node"))
      val (e2, h) = walk(layerGraphs(l - 1),
        corpus.filter(member(l, fanout, seed)(col("vec_id"))), queries,
        k = entryBeam, beam = entryBeam, maxHops = maxHops,
        EntryRule.seeded(seedEntries))
      entries = e2
      hops += h
    }
    val seedEntries = entries.select(col("q_id"), col("n_id").as("node"))
    val (out, hL) = walk(graph, corpus, queries, k, beam, maxHops,
      EntryRule.seeded(seedEntries))
    hops += hL
    (out, hops.result())
  }

  private[vector] def requireWalk(k: Int, beam: Int, maxHops: Int): Unit = {
    require(k >= 1, "k must be >= 1")
    require(beam >= k, s"beam ($beam) must be >= k ($k)")
    require(maxHops >= 1, "maxHops must be >= 1")
  }

  /** The shared walk: the `entry` rule produces the initial (q_id,
    * node) candidate pairs; everything after the entry scoring is
    * identical across entry strategies. `fallback`, when present, is
    * a second entry rule used only if the first produced no scored
    * entries at all (checked on the already-materialized init state —
    * no extra scan). Returns (ranked top-k, hops the loop ran). */
  private def walk(graph: DataFrame, corpus: DataFrame, queries: DataFrame,
                   k: Int, beam: Int, maxHops: Int, entry: EntryRule,
                   fallback: Option[EntryRule] = None)
      : (DataFrame, Int) = {
    requireWalk(k, beam, maxHops)
    val lvl = StorageLevel.MEMORY_AND_DISK
    val callerSpark = graph.sparkSession

    // symmetrized adjacency: an edge in either direction is walkable
    val fwd = graph.select(col("vec_id").as("node"), col("n_id"))
    val adj0 = fwd.union(
        graph.select(col("n_id").as("node"), col("vec_id").as("n_id")))
      .distinct()
      .persist(lvl)
    // materializing the adjacency here (every hop joins it anyway)
    // yields the edge count for the profile: per-hop candidate volume
    // is bounded by frontier·degree and the hop stages re-read this
    // edge list; the vector table sizes a driver walk too
    val nEdges = adj0.count()
    val vc = corpus.select(col("vec_id").as("node"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"))
      .persist(lvl)
    val vCount = if (nEdges <= Rounds.LocalRows) vc.count() else 0L
    val p = Rounds.profile(math.max(nEdges, vCount), hasLocal = true)
    val loop = Rounds.session(callerSpark, p)
    val adj = loop.bind(adj0)
    val v = loop.bind(vc)
    // the query batch is driver-sized by contract and its broadcast is
    // rebuilt by EVERY hop's plan — collect it ONCE into a
    // LocalRelation (r17), so each hop's broadcast build is a
    // driver-side copy instead of a scheduled job over the cluster
    // (measured: 2-3 of the ~4 jobs per hop were broadcast builds)
    val qProj = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      Similarity.norm(col("embedding")).as("q_nrm"))
    val qRows = qProj.collect()
    val qLocal = callerSpark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qProj.schema)
    val q = broadcast(loop.bind(qLocal))

    // ---- DRIVER-LOCAL hop loop (r18): under the Local profile the
    // vector table is ALREADY the broadcast build side of every hop's
    // score join and the per-hop state is |queries|·beam rows, while
    // the distributed loop costs ~4 scheduled jobs per hop of pure
    // launch latency (q_walk spent <2 s of its 3.9 s in stages). The
    // driver loop runs the identical recurrence with the identical
    // kernels: entry candidates come from the entry rules' driver
    // forms, sims call the same left-to-right double accumulation as
    // [[DotProduct.compute]] on the same Spark-computed norms, and the
    // beam re-selection IS [[graft.functions.TopKEdges.prune]].
    if (p == Rounds.Local) {
      val (lists, hops) = walkLocal(
        adjacencyLocal(adj0.collect().iterator.map(r => (r.getLong(0), r.getLong(1)))),
        new Similarity.LocalVecs(vc.collect()),
        new Similarity.LocalVecs(qRows), entry, fallback, beam, maxHops)
      adj0.unpersist(blocking = false)
      vc.unpersist(blocking = false)
      return (ranked(callerSpark, "q_id", lists, k), hops)
    }

    // score (q_id, node) proposals exactly; the query's own id never
    // scores (bruteTopK's self-exclusion)
    def score(cand: DataFrame): DataFrame = cand
      .filter(col("node") =!= col("q_id"))
      .join(v, Seq("node"))
      .join(q, Seq("q_id"))
      .withColumn("sim", Similarity.dot(col("q_emb"), col("embedding"))
        / (col("q_nrm") * col("nrm")))
      .select(col("q_id"), col("node"), col("sim"))

    val beamW = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("node"))
    def topBeam(df: DataFrame): DataFrame = df
      .withColumn("_r", row_number().over(beamW))
      .filter(col("_r") <= beam).drop("_r")

    // entry candidates may arrive from a caller-session frame (the
    // layered descent seeds); rebind so the whole walk — init included
    // — plans on the loop's session
    val init = topBeam(score(loop.bind(entry.plan(v, q))))
      .withColumn("exp", lit(false))

    // the init row count rides the materializing job (r17) — it is
    // the fallback's emptiness probe, so no separate isEmpty job runs
    var (state, stateRdd, nInit) =
      Rounds.materializeCount(init, lvl, _ => true)
    fallback.foreach { fb =>
      if (nInit == 0L) { // e.g. the coarse layer sampled no nodes
        stateRdd.unpersist(blocking = false)
        val (s2, r2) = Rounds.materialize(
          topBeam(score(loop.bind(fb.plan(v, q)))).withColumn("exp", lit(false)), lvl)
        state = s2
        stateRdd = r2
      }
    }
    var hop = 0
    var done = false
    while (!done && hop < maxHops) {
      val frontier = state.filter(!col("exp"))
        .select(col("q_id"), col("node"))
      val cand = frontier.join(adj, Seq("node"))
        .select(col("q_id"), col("n_id").as("node"))
        .distinct()
      // prior rows were all expanded this hop (they were the beam:
      // unexpanded ones formed the frontier) — new entrants arrive
      // exp=false; a re-proposed surviving node keeps exp=true via the
      // buffer's flag-OR. The (q_id, node) dedup and the beam trim run
      // in ONE groupBy(q_id) via the bounded TopKEdges aggregate
      // (r17): map-side partials collapse every partition to ≤ beam
      // entries per query before the exchange — the r16 shape paid a
      // (q_id, node) dedup exchange plus the beam window's second
      // exchange per hop (duplicate (q_id, node) rows carry the same
      // exact sim: re-proposals re-score the identical expression)
      val merged = state.select(col("q_id"), col("node"), col("sim"),
          lit(true).as("exp"))
        .union(score(cand).withColumn("exp", lit(false)))
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKEdges(beam)(
          col("node"), col("sim"), col("exp")).as("_top"))
        .select(col("q_id"), explode(col("_top.es")).as("_t"))
        .select(col("q_id"), col("_t.nbr").as("node"),
          col("_t.sim").as("sim"), col("_t.flag").as("exp"))
      // the new-entrant count rides the materializing job itself
      // (r17, Rounds.materializeCount) — exp is field 3 of the state
      val (next, nextRdd, entered) =
        Rounds.materializeCount(merged, lvl, r => !r.getBoolean(3))
      stateRdd.unpersist(blocking = false)
      state = next
      stateRdd = nextRdd
      done = entered == 0
      hop += 1
    }
    adj0.unpersist(blocking = false)
    vc.unpersist(blocking = false)
    // re-root the final state on the caller's session so the ranking
    // tail (and everything downstream) plans at the caller's width
    val out = org.apache.spark.sql.GraftBridge
      .internalDF(callerSpark, stateRdd, state.schema)
      .withColumn("rank", row_number().over(beamW))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("node").as("n_id"), col("sim"))
    (out, hop)
  }

  /** The symmetrized adjacency of (a, b) edges on the driver — the
    * walk's `adj0`: an edge in either direction is walkable, each
    * neighbor listed once. */
  private[vector] def adjacencyLocal(edges: Iterator[(Long, Long)])
      : mutable.HashMap[Long, mutable.LinkedHashSet[Long]] = {
    val adj = mutable.HashMap[Long, mutable.LinkedHashSet[Long]]()
    def add(a: Long, b: Long): Unit = {
      adj.getOrElseUpdate(a, mutable.LinkedHashSet[Long]()) += b
      ()
    }
    edges.foreach { case (a, b) => add(a, b); add(b, a) }
    adj
  }

  /** The driver-local hop loop (r18). Inputs are the symmetrized
    * adjacency ([[adjacencyLocal]]), the corpus vector table and the
    * query batch (the norms are the SPARK-computed doubles, collected,
    * not recomputed), and the entry rules, whose driver forms select
    * the pairs their plans do. Every step mirrors the distributed loop
    * operation for operation:
    *  - sims are [[Similarity.cosineLocal]]: `DotProduct.compute`'s
    *    left-to-right double accumulation over float arrays, divided
    *    by the collected norms' product — the identical IEEE op
    *    sequence, failing on a zero norm as ANSI division does;
    *  - the per-hop beam re-selection calls
    *    [[graft.functions.TopKEdges.prune]] itself (dedup by nbr with
    *    flag-OR over equal sims, trim to beam by (sim desc, nbr));
    *  - per-hop candidates are the distinct adjacency expansion of the
    *    unexpanded beam (the distributed `distinct()`), self-ids and
    *    non-corpus nodes drop exactly where the joins dropped them;
    *  - the loop stops when a hop admits no flag=false entry
    *    (`entered == 0`) or at maxHops — the same convergence the
    *    materializing count drove.
    * Returns each query's final beam, prune-ordered and sorted by
    * q_id, with the hop count. */
  private[vector] def walkLocal(
      adj: scala.collection.Map[Long, scala.collection.Set[Long]],
      v: Similarity.LocalVecs, q: Similarity.LocalVecs, entry: EntryRule,
      fallback: Option[EntryRule], beam: Int, maxHops: Int)
      : (Seq[(Long, Seq[graft.functions.TopKEdges.Entry])], Int) = {
    import graft.functions.TopKEdges
    // the score joins' row semantics: self-id filtered, inner joins
    // drop nodes/queries absent from their tables
    def score(qid: Long, node: Long): Option[TopKEdges.Entry] =
      if (node == qid) None
      else {
        val i = v.indexOf(node)
        val j = q.indexOf(qid)
        if (i < 0 || j < 0) None
        else Some(TopKEdges.Entry(node,
          Similarity.cosineLocal(q, j, v, i), flag = false))
      }

    // init: score the entry pairs, rank by (sim desc, node), keep beam
    // (the distributed topBeam window — entry pairs are distinct by
    // construction, so no dedup pass exists there either)
    def initFrom(rule: EntryRule)
        : mutable.HashMap[Long, Seq[TopKEdges.Entry]] = {
      val st = mutable.HashMap[Long, Seq[TopKEdges.Entry]]()
      rule.local(v.ids, q.ids).groupBy(_._1).foreach { case (qid, pairs) =>
        val scored = pairs.toSeq.flatMap(pr => score(qid, pr._2))
        if (scored.nonEmpty)
          st(qid) = scored.sorted(TopKEdges.ord).take(beam)
      }
      st
    }
    var state = initFrom(entry)
    fallback.foreach { fb => if (state.isEmpty) state = initFrom(fb) }

    var hop = 0
    var done = false
    while (!done && hop < maxHops) {
      var entered = 0L
      val next = mutable.HashMap[Long, Seq[TopKEdges.Entry]]()
      state.foreach { case (qid, es) =>
        val candSet = mutable.LinkedHashSet[Long]()
        es.foreach { e =>
          if (!e.flag) adj.get(e.nbr).foreach(candSet ++= _)
        }
        val merged = TopKEdges.prune(
          es.map(_.copy(flag = true)) ++ candSet.toSeq.flatMap(score(qid, _)),
          beam)
        entered += merged.count(!_.flag)
        if (merged.nonEmpty) next(qid) = merged
      }
      state = next
      done = entered == 0
      hop += 1
    }
    (state.toSeq.sortBy(_._1), hop)
  }

  /** A driver twin's result as (`key`, rank, n_id, sim) rows on the
    * caller's session: `passthrough` rows as they are, then each list
    * cut to `k`. Each list is prune-ordered by (sim desc, nbr) already,
    * so rank is list position — the distributed tails' row_number over
    * the same ordering. */
  private[vector] def ranked(spark: org.apache.spark.sql.SparkSession,
                             key: String,
                             lists: Seq[(Long, Seq[graft.functions.TopKEdges.Entry])],
                             k: Int,
                             passthrough: Seq[org.apache.spark.sql.Row] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField(key, LongType),
      StructField("rank", IntegerType), StructField("n_id", LongType),
      StructField("sim", DoubleType)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    passthrough.foreach { r => rows.add(r); () }
    lists.foreach { case (id, es) =>
      es.take(k).zipWithIndex.foreach { case (e, i) =>
        rows.add(org.apache.spark.sql.Row(id, i + 1, e.nbr, e.sim))
        ()
      }
    }
    spark.createDataFrame(rows, schema)
  }
}
