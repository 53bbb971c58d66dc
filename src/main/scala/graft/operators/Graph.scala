package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over corpus-scale edge lists — the companion
  * of [[Dedup.connectedComponents]] for graphs where WEIGHT, not just
  * membership, matters (domain authority for crawl prioritization,
  * citation weighting for source mixing).
  */
object Graph {

  /** Fixed-iteration PageRank in EXACT integer micro-units.
    *
    * pr_{t+1}(v) = base + d·Σ_{u→v} pr_t(u)/outdeg(u), evaluated
    * entirely in BIGINT arithmetic: ranks are micro-units (init
    * `unit` = 1.0), per-edge contributions use integer division
    * `pr div deg`, the damping factor is the rational dampNum/dampDen
    * applied as `(dampNum·Σ) div dampDen`. Every aggregation is a sum
    * of longs — associative, so the result is bit-identical in ANY
    * partition order and the "approximate" iterative algorithm carries
    * an exact replayable oracle (the k-means exactMeans / PQ ADC
    * trick). The integer floor loses < 1 micro-unit per edge per round
    * — far below any ranking-relevant difference.
    *
    * Scale shape: per iteration, one equi-join of edges against the
    * current ranks (shuffle on src), one partial-aggregable groupBy on
    * dst, one left join back to the node set. No driver-side state at
    * all — the node count never materializes on the driver; dangling
    * mass is NOT redistributed (nodes with no outlinks absorb rank),
    * the standard simplification when the edge generator guarantees
    * outdegree > 0. Plan depth grows linearly with iterations; for
    * double-digit iteration counts at cluster scale, persist or
    * checkpoint the rank DataFrame every few rounds (same lineage
    * argument as [[Dedup.connectedComponentsWithRounds]]). */
  def pageRank(edges: DataFrame, iterations: Int,
               srcCol: String = "src", dstCol: String = "dst",
               dampNum: Long = 85, dampDen: Long = 100,
               unit: Long = 1000000L): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must lie in [0,1]")
    // Materialize the loop-invariant inputs ONCE (lineage-truncating
    // localCheckpoint, freed by the context cleaner when unreferenced):
    // without it every iteration re-derives edges/nodes/degrees from the
    // source scan, so an 8-round run pays the scan 8×. At cluster scale
    // this is the standard iterative-graph shape (one materialized edge
    // set, rounds shuffle only the rank table); swap localCheckpoint for
    // a reliable checkpoint dir when executor loss must be survivable.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val base = (unit * (dampDen - dampNum)) / dampDen
    var pr = nodes.withColumn("pr", lit(unit))
    (0 until iterations).foreach { _ =>
      val contrib = e.join(pr.withColumnRenamed("id", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("id"), expr("pr div deg").as("c"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("m"))
      pr = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampNum * coalesce(m, 0L)) div $dampDen"))
            .as("pr"))
    }
    pr.select(col("id"), col("pr").as("pr_micro"))
  }

  /** Personalized PageRank: [[pageRank]]'s exact integer micro-unit
    * recurrence with the RESTART MASS confined to `sources` — the
    * proximity score behind "how close is this doc to the trusted
    * seeds" crawl prioritization and seed-expansion labeling (the
    * rank-mass companion of [[bfsDistance]]'s hop distance).
    * pr_{t+1}(v) = [v ∈ S]·base + d·Σ_{u→v} pr_t(u) div outdeg(u),
    * with pr_0 = unit on sources and 0 elsewhere. Same scale shape and
    * exactness argument as [[pageRank]] (all-BIGINT, associative sums,
    * loop invariants materialized once); the source membership joins
    * as a dimension-sized left semi marker, never a filter on the rank
    * table. Ranks are unnormalized (Σ restart mass is |S|·base, not
    * N·base) — rankings and ratios are unaffected. */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
                           iterations: Int,
                           srcCol: String = "src", dstCol: String = "dst",
                           idCol: String = "id",
                           dampNum: Long = 85, dampDen: Long = 100,
                           unit: Long = 1000000L): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must lie in [0,1]")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val src = sources.select(col(idCol).as("id")).distinct()
    // Node spine = edge endpoints ∪ SOURCES: an isolated seed (no
    // edges at all) still carries its restart mass — ppr = base —
    // rather than silently vanishing from the output.
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).union(src).distinct()
      .join(src.withColumn("is_src", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("is_src"), lit(0L)).as("is_src"))
      .localCheckpoint()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val base = (unit * (dampDen - dampNum)) / dampDen
    var pr = nodes.withColumn("pr", col("is_src") * lit(unit))
      .select("id", "pr")
    (0 until iterations).foreach { _ =>
      val contrib = e.join(pr.withColumnRenamed("id", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("id"), expr("pr div deg").as("c"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("m"))
      pr = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (col("is_src") * lit(base) +
            expr(s"($dampNum * coalesce(m, 0L)) div $dampDen")).as("pr"))
    }
    pr.select(col("id"), col("pr").as("ppr_micro"))
  }

  /** Per-node degree profile of a DIRECTED edge list: out/in degree plus
    * distinct-neighbor counts (multi-edges counted once in the latter).
    *
    * Scale shape: two partial-aggregable groupBys (one per direction) and
    * an outer join on the node id — shuffle volume is O(|E|) with map-side
    * combine collapsing multi-edges early; no driver state. Distinct
    * neighbor counts are exact `count(distinct)` per single key, which
    * Spark plans as a two-phase partial-distinct aggregate (no expand:
    * one distinct column per aggregation). */
  def degreeStats(edges: DataFrame,
                  srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val out = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("out_deg"),
        countDistinct(col("dst")).as("out_nbrs"))
    val in = e.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("in_deg"),
        countDistinct(col("src")).as("in_nbrs"))
    out.join(in, Seq("id"), "full")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_nbrs"), lit(0L)).as("out_nbrs"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_nbrs"), lit(0L)).as("in_nbrs"))
  }

  /** Label-pack base for [[labelPropagation]]: labels (node ids) must lie
    * in [0, 2^31) so a (count, label) vote packs into one BIGINT and the
    * per-round argmax stays a true fixed-width HashAggregate (the same
    * SortAggregate-demotion dodge as the IVF assignment pack —
    * Similarity.scala's one-BIGINT min_by shape). */
  private val LabelPack = 1L << 31

  /** Synchronous label propagation (community detection) over an
    * UNDIRECTED view of the edge list, `iterations` fixed rounds.
    *
    * Round t+1: label(v) = the most frequent label among v's neighbors at
    * round t, ties broken toward the SMALLEST label; isolated nodes keep
    * their own label. Synchronous update + deterministic tie-break makes
    * the "heuristic" algorithm bit-reproducible in any partition order,
    * so it carries an exact replayable oracle (the pageRank trick).
    *
    * Scale shape per round: one equi-join of the symmetrized edges
    * against the current labels (shuffle on src), one groupBy
    * (dst, label) with map-side combine, then the argmax-by-vote as a
    * single max() over a packed BIGINT — `cnt * 2^31 + (2^31-1-label)` —
    * so both aggregations are partial-aggregable fixed-width
    * HashAggregates. Driver holds nothing; lineage grows linearly with
    * rounds (checkpoint every few rounds at cluster scale, as
    * [[Dedup.connectedComponentsWithRounds]] documents). */
  def labelPropagation(edges: DataFrame, iterations: Int,
                       srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val d = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // Symmetrize and drop self-loops: a self-loop would let a node vote
    // for its own label, which defeats propagation. Both loop
    // invariants materialize once (the pageRank localCheckpoint
    // argument) — otherwise each round re-runs the symmetrize+distinct
    // shuffle from the source scan.
    val e = d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    val nodes = d.select(col("src").as("id"))
      .union(d.select(col("dst").as("id"))).distinct().localCheckpoint()
    var labels = nodes.withColumn("label", col("id"))
    (0 until iterations).foreach { _ =>
      val votes = e.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("id"))
        .agg(max(col("cnt") * lit(LabelPack) +
          (lit(LabelPack - 1) - col("label"))).as("packed"))
        .select(col("id"),
          (lit(LabelPack - 1) - pmod(col("packed"), lit(LabelPack))).as("vote"))
      labels = labels.join(votes, Seq("id"), "left")
        .select(col("id"), coalesce(col("vote"), col("label")).as("label"))
    }
    labels
  }

  /** Common-neighbor link prediction over an UNDIRECTED view of the edge
    * list: for every node pair (a < b) sharing at least one neighbor,
    * the shared-neighbor count and the exact-integer Jaccard numerator /
    * denominator plus a rounded score.
    *
    * Scale shape: wedge enumeration — self-join of the adjacency list on
    * the MIDDLE node (shuffle on the neighbor id), emitting each wedge
    * a−m−b once with a < b, then a partial-aggregable groupBy on the
    * pair. The wedge count at a hub explodes as deg², so nodes with
    * degree > `degCap` are EXCLUDED as middles (the same hot-key cap as
    * the shingle df cap in [[Dedup]]; at corpus scale a few celebrity
    * hubs would otherwise dominate the shuffle while adding no
    * discriminative signal). `common` therefore counts shared neighbors
    * THROUGH capped middles only — the score degrades gracefully at hubs
    * instead of exploding the shuffle; degrees stay uncapped. Degrees join back broadcast-sized when the
    * node set is bounded; at 100 TB the degree table shuffles on id like
    * any dimension. The Jaccard division happens once per surviving pair
    * on exact integer inputs — identical IEEE doubles in any engine. */
  def commonNeighbors(edges: DataFrame, degCap: Int = 64,
                      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(degCap >= 1, s"degCap must be >= 1, got $degCap")
    val d = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // Wedges a-m-b through middles under the cap; each unordered pair
    // emitted once per shared neighbor.
    val adj = e.select(col("src").as("m"), col("dst").as("n"))
      .join(deg.select(col("id").as("m"), col("deg")), "m")
      .filter(col("deg") <= degCap)
      .select(col("m"), col("n"))
    val wedges = adj.as("l").join(adj.as("r"), col("l.m") === col("r.m"))
      .filter(col("l.n") < col("r.n"))
      .select(col("l.n").as("a"), col("r.n").as("b"))
    val common = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("id").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"),
        (col("deg_a") + col("deg_b") - col("common")).as("union_sz"),
        round(col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Fixed-round k-core peel over the UNDIRECTED view of the edge list:
    * iteratively remove nodes whose degree in the surviving induced
    * subgraph is < k, `rounds` times, then report each survivor's
    * induced degree. The k-core (the maximal subgraph of min-degree k)
    * is the fixpoint of this peel; a FIXED round count keeps the plan
    * static and exactly replayable (the labelPropagation contract) —
    * callers that need the true fixpoint raise `rounds` until the
    * survivor count stops changing (the peel is monotone, so the
    * round-R result is always a superset of the core).
    *
    * Scale shape per round: two equi-joins of the edge set against the
    * alive node set (shuffle on src / dst) + one map-side-combined
    * degree count; alive sets only shrink. The edge set materializes
    * once (localCheckpoint), and each round's alive set is checkpointed
    * to cut the doubling lineage — the [[bfsDistance]] policy. */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
            srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1, 64], got $rounds")
    val d = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    var alive = e.select(col("src").as("id")).distinct().localCheckpoint()
    (1 to rounds).foreach { _ =>
      val deg = e
        .join(alive.select(col("id").as("src")), "src")
        .join(alive.select(col("id").as("dst")), "dst")
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      alive = deg.filter(col("deg") >= k).select("id").localCheckpoint()
    }
    e.join(alive.select(col("id").as("src")), "src")
      .join(alive.select(col("id").as("dst")), "dst")
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
  }

  /** Fixed-round k-truss peel — the EDGE-grained sibling of [[kCore]]:
    * iteratively remove edges supported by fewer than k−2 triangles in
    * the surviving subgraph, `rounds` times, then report each surviving
    * edge's induced support (0 for edges in no triangle, via the left
    * join — they survive the report exactly as a 0-support row, the
    * same "report, don't re-filter" convention as kCore's final degree).
    * Trusses are the community-core primitive one notch stricter than
    * cores: every k-truss edge sits inside a (k−1)-core, but not
    * conversely — spam-farm and citation-ring detection use the truss
    * because triangle support resists the star-shaped padding that
    * inflates degrees.
    *
    * Support counting per round: canonical undirected edges (a<b,
    * distinct) joined twice against the round's adjacency — wedge
    * (a,c) matched to (b,c) — one shuffle on each endpoint plus one
    * partial-aggregable count per edge. Per-round cost is Σ_v deg(v)²
    * in wedge candidates, the honest triangle-enumeration shape; at
    * 100 TB the caller bounds it exactly as [[commonNeighbors]] does —
    * a degree cap on the middle vertex (trusses of interest live far
    * below hub degrees). Edge sets only shrink; each round's survivor
    * set is localCheckpointed to cut the doubling lineage
    * ([[bfsDistance]] policy). */
  def kTruss(edges: DataFrame, k: Int, rounds: Int,
             srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1, 64], got $rounds")
    val d = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    var und = d.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint()
    def support(u: DataFrame): DataFrame = {
      val adj = u.select(col("a").as("s"), col("b").as("t"))
        .unionAll(u.select(col("b").as("s"), col("a").as("t")))
      u.join(adj.select(col("s").as("a"), col("t").as("c")), "a")
        .join(adj.select(col("s").as("b"), col("t").as("c")), Seq("b", "c"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    (1 to rounds).foreach { _ =>
      und = support(und).filter(col("support") >= k - 2)
        .select("a", "b").localCheckpoint()
    }
    und.join(support(und), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Multi-source BFS: the DIRECTED hop distance from the nearest source
    * node, for every node reachable within `rounds` hops — landmark
    * distance, blast-radius, and "how far is this doc from a trusted
    * seed" all reduce to this. Frontier relaxation: each round extends
    * the reached set by one hop (state joins edges on the src side,
    * union, groupBy-min — all partial-aggregable), so after r rounds the
    * state holds the exact min distance for every node at distance ≤ r.
    * Unreached nodes are ABSENT (not null-distance rows): the caller
    * left-joins if it wants explicit infinities.
    *
    * Scale shape: state is ≤ one row per reached node; each round is one
    * shuffle on the edge src + one map-side-combined min. Fixed rounds
    * keep the plan static (no driver convergence probe); `cutEvery`
    * cuts the doubling lineage exactly as [[Hierarchy.rootAndDepth]] —
    * same `checkpointDir` escape hatch for cluster fault tolerance. */
  def bfsDistance(edges: DataFrame, sources: DataFrame, rounds: Int,
                  srcCol: String = "src", dstCol: String = "dst",
                  idCol: String = "id", cutEvery: Int = 6,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 0 && rounds <= 64, s"rounds must be in [0, 64], got $rounds")
    require(cutEvery >= 1, s"cutEvery must be >= 1, got $cutEvery")
    val cut = LineageCut(checkpointDir, "bfs")
    // The edge set is loop-invariant: materialize it once through the
    // same cut channel the state uses (reliable checkpoint when a dir
    // is given, localCheckpoint otherwise) instead of re-deriving it
    // from the source scan every round.
    val e = cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    var state = sources.select(col(idCol).as("node")).distinct()
      .withColumn("dist", lit(0L))
    (1 to rounds).foreach { r =>
      val next = state.join(e, state("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
        .union(state)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      state = if (r % cutEvery == 0 && r < rounds) cut(next) else next
    }
    state
  }

  /** HyperBall (Boldi, Rosa & Vigna 2011): the neighborhood function
    * N(t) = Σ_v |B(v,t)| estimated with one HyperLogLog sketch PER
    * NODE, merged along edges — the algorithm that measured the
    * effective diameter of the Facebook friendship graph, and THE
    * 100 TB shape for reachability statistics: exact all-pairs BFS is
    * |V|·|E| and infeasible, while HyperBall is O(rounds·|E|) with
    * constant per-node state.
    *
    * Each node starts with the sketch of {itself}; round t merges in
    * its out-neighbors' round-(t−1) sketches, so after round t the
    * sketch covers exactly the OUT-ball B(v,t) (every path ≤ t hops).
    * The merge is register-wise max — idempotent, commutative,
    * associative — so every round's state is bit-identical under ANY
    * partitioning and the "approximate" algorithm carries an exact
    * replayable oracle (the pageRank trick, lifted to sketches).
    * Per-node estimates quantize to exact micro-unit BIGINTs BEFORE
    * the global sum ([[Sketches.hllEstimateMicro]] — the silhouette
    * discipline), so each round's reported total is one exact integer:
    * no order-dependent float sum anywhere.
    *
    * Scale shape: state is (node, bucket, mreg) with ≤ min(|ball|,256)
    * rows per node; each round is ONE equi-join of the edge set
    * against the state (shuffle on dst) + one partial-aggregable max
    * per (node, bucket), and each round's finalize is one more
    * partial-aggregable pass — no spine explode, no driver state
    * beyond `rounds` single-row results. Loop invariants materialize
    * once and each round's state cuts lineage (the [[bfsDistance]]
    * policy). Output: one row per t ∈ [0, rounds] —
    * (t, n_nodes, sum_ball_micro) where sum_ball_micro =
    * Σ_v floor(est|B(v,t)|·1e6); sum fits BIGINT through ~3e6 nodes —
    * beyond that, switch the quantum to centi-units or sum in decimal
    * (documented, not silent). An EMPTY edge set yields an empty
    * result (no per-node rows to group), not rounds+1 zero rows —
    * callers lag-windowing over t (effective diameter) see no rows,
    * not nulls. */
  def hyperBall(edges: DataFrame, rounds: Int,
                srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    hyperBallPerNode(edges, rounds, srcCol, dstCol)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("est_micro")).as("sum_ball_micro"))
      .select(col("t"), col("n_nodes"), col("sum_ball_micro"))

  /** Per-node HyperBall trajectory: (id, t, est_micro) for every node
    * and round t ∈ [0, rounds] — the raw material for centrality
    * measures ([[hyperBall]]'s totals are its groupBy, so both graded
    * views share one register evolution). est_micro is the exact
    * quantized per-node estimate from [[Sketches.hllEstimateMicro]];
    * everything downstream can stay in integer algebra. Same scale
    * shape as [[hyperBall]]: rounds × (one edge equi-join + one
    * partial-aggregable register max + one finalize pass); per-round
    * state cuts lineage via localCheckpoint. */
  def hyperBallPerNode(edges: DataFrame, rounds: Int,
                       srcCol: String = "src",
                       dstCol: String = "dst"): DataFrame = {
    require(rounds >= 0 && rounds <= 32,
      s"rounds must be in [0, 32], got $rounds")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var state = Sketches.hllRegisters(nodes, "id", col("id")).localCheckpoint()
    def roundEst(t: Int, st: DataFrame): DataFrame =
      Sketches.hllEstimateMicro(st, "id")
        .select(col("id"), lit(t.toLong).as("t"), col("est_micro"))
    val perRound = scala.collection.mutable.ArrayBuffer(roundEst(0, state))
    (1 to rounds).foreach { t =>
      val absorbed = e
        .join(state.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("bucket"), col("mreg"))
      state = absorbed.unionAll(state.select("id", "bucket", "mreg"))
        .groupBy(col("id"), col("bucket")).agg(max(col("mreg")).as("mreg"))
        .localCheckpoint()
      perRound += roundEst(t, state)
    }
    perRound.reduce(_ unionAll _)
  }
}
