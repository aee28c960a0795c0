"""Link-graph analytics over edge-list DataFrames.

PageRank is the classic link-quality score of web-corpus curation
(Common Crawl publishes host-level ranks precisely so dataset builders
can weight/filter pages); the reference has no built-in graph library,
so like ConnectedComponents (operators/dedupe.py) this re-expresses
each iterative algorithm in the scale-safe DataFrame shape: one keyed
join + one keyed aggregation per round. Every iterative loop here and
in ConnectedComponents runs through ``_fixed_point``, which decides
for all of them how a round is checkpointed, how many rounds run per
convergence check and when a superseded round is released.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beam_spark.pcollection import PCollection, PTransform


def _undirected(df: DataFrame, src: str, dst: str,
                weight: str | None = None) -> DataFrame:
    """Canonical undirected simple edges ``(a, b)`` with ``a < b``:
    self-loops dropped, one row per unordered pair. With ``weight``,
    parallel edges sum their weights into ``__w`` (double)."""
    e = (df.select(F.least(F.col(src), F.col(dst)).alias("a"),
                   F.greatest(F.col(src), F.col(dst)).alias("b"),
                   *([F.col(weight).cast("double").alias("__w")]
                     if weight else []))
         .where(F.col("a") != F.col("b")))
    if weight:
        return e.groupBy("a", "b").agg(F.sum("__w").alias("__w"))
    return e.distinct()


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD behind a localCheckpoint'ed frame (its plan is a
    LogicalRDD over it)."""
    return df._jdf.queryExecution().analyzed().rdd()


def _release_superseded(frames, successor: DataFrame) -> bool:
    """Drop the localCheckpointed ``frames`` from the block manager once
    ``successor`` is materialized, i.e. its lineage no longer reads
    them; returns whether it was. ``successor`` itself is kept."""
    if not _checkpoint_rdd(successor).isCheckpointed():
        return False
    sc = successor.sparkSession.sparkContext._jsc.sc()
    for f in frames:
        if f is not successor:
            sc.unpersistRDD(_checkpoint_rdd(f).id(), False)
    return True


def _fixed_point(start: DataFrame, step, rounds: int, changed=None,
                 per_check: int = 1):
    """Iterate ``step`` (one round: frame -> frame) from ``start`` for
    at most ``rounds`` rounds. Returns ``(frame, rounds_run,
    converged)``.

    Without ``changed`` exactly ``rounds`` rounds run (the fixed-count,
    replayable mode) and ``converged`` is False. With it, the loop
    calls ``changed(new, prev)`` after every batch of ``per_check``
    rounds (``prev`` is the frame before the batch, ``new`` its last
    round) and stops, converged, when it returns False. The budget
    counts rounds, so the last batch is cut short where it ends. A
    batch of two rounds is only sound for monotone updates, where an
    unchanged frame across the batch is a fixed point.

    One rule for each decision, in every loop:
    - checkpoint: each round is localCheckpointed so the plan stays
      one round deep. It is eager when no check follows it (fixed
      mode), else lazy, so that the check materializes it — at best
      ``changed`` is one action over both frames;
    - release: once the newest round is materialized (its lineage
      cut), every round it superseded is dropped from the block
      manager. ``DataFrame.unpersist`` cannot do this — it only
      uncaches cached queries — so the context drops the RDD, which
      also skips the warning ``RDD.unpersist`` logs for a locally
      checkpointed RDD (``_release_superseded``). ``start`` belongs to
      the caller and is kept.
    """
    cur, run, stale = start, 0, []
    while run < rounds:
        prev = cur
        for _ in range(min(per_check, rounds - run) if changed else 1):
            if cur is not start:
                stale.append(cur)
            cur = step(cur).localCheckpoint(eager=changed is None)
            run += 1
        done = changed is not None and not changed(cur, prev)
        if _release_superseded(stale, cur):
            stale = []
        if done:
            return cur, run, True
    return cur, run, False


class PageRank(PTransform):
    """Damped PageRank over an edge list (src, dst) with a FIXED
    iteration count — deterministic by construction, which is what
    makes it value-oracle-able against an independent engine.

    pr_{t+1}(v) = (1 - d) / N
                  + d * (sum over in-edges (u, v) of pr_t(u) / deg(u)
                         + dangling_mass_t / N)

    Dangling nodes (no out-edges) redistribute their mass uniformly —
    the standard correction keeping total mass at 1. Parallel edges
    count: dedupe the edge list upstream if multiplicity should not
    weight the link.

    Scale: per round, ranks join edges on src (rank table is
    nodes-sized — small relative to edges; Spark picks broadcast
    below the threshold and a shuffle hash join above, both correct),
    then one dst-keyed aggregation; the dangling term is a 1-row
    broadcast. Rounds run through ``_fixed_point``, so the plan stays
    one round deep instead of `iterations` joins tall.

    Output: (node, pr) for every node, sum(pr) == 1 up to float.
    """

    def __init__(self, src: str = "src", dst: str = "dst",
                 damping: float = 0.85, iterations: int = 10,
                 weight: str | None = None,
                 personalization=None, tol: float | None = None,
                 label=None):
        """``weight``: optional edge-weight column — a node's rank
        distributes to its out-neighbors proportionally to weight
        (out-strength normalization) instead of uniformly.

        ``personalization``: optional DataFrame (node, p) of teleport
        probabilities — the (1-d) restart mass lands on these nodes
        proportionally to p (p is normalized internally; nodes absent
        get zero restart mass), and dangling mass redistributes by the
        same vector: personalized PageRank (the seed-biased variant
        used for topic/host-local quality scoring).

        ``tol``: optional L-inf convergence threshold — when set,
        ``iterations`` becomes a CAP and the loop exits as soon as
        max |pr_{t+1} - pr_t| < tol (the delta check is the job that
        materializes the round, so early exit saves whole rounds, each
        a join + shuffle).
        ``rounds_run_`` records the executed round count after
        expansion. Fixed-iteration mode (tol=None, the default) stays
        the value-oracle-able posture."""
        super().__init__(label)
        self.src, self.dst = src, dst
        self.damping, self.iterations = float(damping), int(iterations)
        self.weight = weight
        self.personalization = personalization
        self.tol = None if tol is None else float(tol)
        self.rounds_run_ = None
        if not 0.0 <= self.damping <= 1.0:
            raise ValueError(f"damping {damping} outside [0, 1]")
        if self.iterations < 1:
            raise ValueError("iterations must be >= 1")
        if self.tol is not None and self.tol <= 0.0:
            raise ValueError(f"tol {tol} must be > 0")

    def expand(self, pcoll: PCollection) -> PCollection:
        d, wc = self.damping, self.weight
        edges = (pcoll.df
                 .select(F.col(self.src).alias("src"),
                         F.col(self.dst).alias("dst"),
                         *([F.col(wc).cast("double").alias("__w")]
                           if wc else []))
                 .localCheckpoint(eager=False))
        nodes = (edges.select(F.col("src").alias("node"))
                 .unionByName(edges.select(F.col("dst").alias("node")))
                 .distinct()
                 .localCheckpoint(eager=False))
        deg = (edges.groupBy("src")
               .agg((F.sum("__w") if wc else F.count(F.lit(1)))
                    .alias("__deg"))
               .localCheckpoint(eager=False))
        n_nodes = nodes.count()
        # restart vector: uniform 1/N, or the normalized
        # personalization (absent nodes restart with zero mass)
        if self.personalization is not None:
            pers = self.personalization
            pers = pers.df if isinstance(pers, PCollection) else pers
            node_c, p_c = pers.columns[:2]
            tot = pers.agg(F.sum(F.col(p_c).cast("double"))
                           .alias("__t"))
            rv = (nodes.join(
                pers.select(F.col(node_c).alias("node"),
                            F.col(p_c).cast("double").alias("__p")),
                on="node", how="left")
                .crossJoin(F.broadcast(tot))
                .select("node", F.coalesce(F.col("__p") / F.col("__t"),
                                           F.lit(0.0)).alias("__r"))
                .localCheckpoint(eager=False))
        else:
            rv = (nodes.withColumn("__r", F.lit(1.0 / n_nodes))
                  .localCheckpoint(eager=False))
        share = (F.col("pr") * F.col("__w") / F.col("__deg")
                 if wc else F.col("pr") / F.col("__deg"))

        def step(ranks):
            # mass sitting on dangling nodes this round (1-row frame,
            # broadcast into the update — no collect in the loop);
            # it redistributes by the restart vector
            dangling = (ranks.join(deg, ranks["node"] == deg["src"],
                                   "left_anti")
                        .agg(F.coalesce(F.sum("pr"), F.lit(0.0))
                             .alias("__dm")))
            contrib = (edges
                       .join(ranks, edges["src"] == ranks["node"])
                       .join(deg, "src")
                       .groupBy("dst")
                       .agg(F.sum(share).alias("__m")))
            return (rv
                    .join(contrib, rv["node"] == contrib["dst"], "left")
                    .crossJoin(F.broadcast(dangling))
                    .select(
                        rv["node"],
                        ((1.0 - d) * F.col("__r")
                         + d * (F.coalesce(F.col("__m"), F.lit(0.0))
                                + F.col("__dm") * F.col("__r")))
                        .alias("pr")))

        def moved(new, prev):
            # L-inf rank delta over two node-sized frames
            delta = (new.alias("n").join(prev.alias("p"), "node")
                     .agg(F.max(F.abs(F.col("n.pr") - F.col("p.pr"))))
                     .first()[0])
            return delta is None or delta >= self.tol

        ranks, self.rounds_run_, _ = _fixed_point(
            rv.select("node", F.col("__r").alias("pr")), step,
            self.iterations, moved if self.tol is not None else None)
        return pcoll.with_df(ranks)


class ShortestPaths(PTransform):
    """Single/multi-source shortest paths by iterated edge relaxation
    (distributed Bellman-Ford): per round, every known distance
    relaxes across out-edges and each node keeps the MIN — after r
    rounds dist(v) is exact over all <= r-hop paths, and a fixpoint
    is the true shortest-path table. Non-negative weights assumed
    (the useful case; negative cycles would diverge).

    Deterministic BY CONSTRUCTION, hence value-oracle-able: every
    candidate distance is the same per-hop left-to-right float sum in
    any engine, and min() is order-insensitive — unlike sum-based
    iterative scores there is no accumulation-order noise at all, so
    the oracle compares UNROUNDED.

    Scale: per round one join of the dist table (nodes-sized) against
    edges keyed on src, one dst-keyed min-aggregation, run through
    ``_fixed_point``. Early exit when a batch of two rounds changes
    nothing (one count action over two node-sized frames);
    ``rounds_run_`` records the executed count.

    Output: (node, dist) for every REACHED node; unreachable nodes
    are absent (no infinities to carry).
    """

    def __init__(self, sources, src: str = "src", dst: str = "dst",
                 weight: str | None = None, iterations: int = 10,
                 predecessors: bool = False, label=None):
        """``sources``: iterable of node ids (dist 0 each).
        ``weight``: optional edge-weight column; hop count when
        None. ``predecessors=True`` adds a ``pred`` column (the
        previous node on a shortest path; a source is its own pred) —
        ties on distance pick the SMALLEST predecessor via a
        lexicographic struct min, so path reconstruction is
        deterministic and engine-replayable."""
        super().__init__(label)
        self.sources = list(sources)
        if not self.sources:
            raise ValueError("need at least one source node")
        self.src, self.dst, self.weight = src, dst, weight
        self.iterations = int(iterations)
        self.predecessors = bool(predecessors)
        self.rounds_run_ = None
        if self.iterations < 1:
            raise ValueError("iterations must be >= 1")

    def expand(self, pcoll: PCollection) -> PCollection:
        wc = self.weight
        edges = (pcoll.df
                 .select(F.col(self.src).alias("src"),
                         F.col(self.dst).alias("dst"),
                         (F.col(wc).cast("double") if wc
                          else F.lit(1.0)).alias("__w"))
                 .localCheckpoint(eager=True))
        spark = pcoll.df.sparkSession
        node_t = edges.schema["src"].dataType.simpleString()
        preds = self.predecessors
        dist = (spark.createDataFrame(
            [(s,) for s in self.sources], f"node {node_t}")
            .withColumn("dist", F.lit(0.0)))
        if preds:
            # a source is its own predecessor (never NULL: engines
            # disagree on NULL ordering inside struct comparisons)
            dist = dist.withColumn("pred", F.col("node"))
        dist = dist.localCheckpoint(eager=False)

        def relax(cur):
            # one Bellman-Ford round
            if preds:
                cand = (edges.join(cur, edges["src"] == cur["node"])
                        .select(F.col("dst").alias("node"),
                                F.struct(
                                    (F.col("dist") + F.col("__w"))
                                    .alias("dist"),
                                    F.col("src").alias("pred"))
                                .alias("sp")))
                base = cur.select(
                    "node", F.struct("dist", "pred").alias("sp"))
                return (base.unionByName(cand)
                        .groupBy("node").agg(F.min("sp").alias("sp"))
                        .select("node",
                                F.col("sp.dist").alias("dist"),
                                F.col("sp.pred").alias("pred")))
            cand = (edges.join(cur, edges["src"] == cur["node"])
                    .select(F.col("dst").alias("node"),
                            (F.col("dist") + F.col("__w"))
                            .alias("dist")))
            return (cur.unionByName(cand)
                    .groupBy("node").agg(F.min("dist").alias("dist")))

        if preds:
            diff = (F.col("n.dist") != F.col("p.dist")) | (
                F.col("n.pred") != F.col("p.pred"))
        else:
            diff = F.col("n.dist") != F.col("p.dist")

        def changed(new, prev):
            return (new.alias("n")
                    .join(prev.alias("p"), "node", "left")
                    .where(F.col("p.dist").isNull() | diff)
                    .count()) > 0

        # two rounds per check: distances/preds only ever DECREASE
        # under the min, so a table unchanged across two rounds is a
        # fixed point; the round budget is shared, so the r-hop
        # exactness bound holds
        dist, self.rounds_run_, _ = _fixed_point(
            dist, relax, self.iterations, changed, per_check=2)
        return pcoll.with_df(dist)


class TriangleCount(PTransform):
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list (src, dst) — the density/cohesion signal of
    link-graph curation (spam farms and boilerplate link rings show
    extreme clustering; social/web analytics' standard motif).

    Algorithm (the degree-ordered orientation of Schank & Wagner 2005
    / Suri & Vassilvitskii's MapReduce formulation): normalize to
    canonical undirected edges, orient each edge from its
    lower-(degree, node) endpoint to the higher one, then one
    self-join of the oriented list on the source produces each
    wedge (u -> v, u -> w) EXACTLY once per potential triangle apex,
    and a semi-join against the oriented edges confirms (v, w).
    Every triangle is found exactly once.

    Scale: orientation bounds each node's out-degree by O(sqrt(m)) on
    any graph (a node of degree d only keeps edges to HIGHER-degree
    neighbors, and there can be at most ~2m/d of those), so the wedge
    join is sum(out_deg^2) <= O(m^1.5) instead of sum(deg^2) — the
    hub-killer that makes triangle counting feasible on power-law web
    graphs. Joins are all equi-joins on node keys; no Python.

    Output: (node, triangles, degree, clustering) for every node with
    degree >= 1, clustering = 2*T / (deg*(deg-1)) (0 when deg < 2).
    """

    def __init__(self, src: str = "src", dst: str = "dst", label=None):
        super().__init__(label)
        self.src, self.dst = src, dst

    def expand(self, pcoll: PCollection) -> PCollection:
        und = _undirected(pcoll.df, self.src, self.dst)
        deg = (und.select(F.explode(F.array("a", "b")).alias("node"))
               .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
        da = deg.select(F.col("node").alias("a"),
                        F.col("deg").alias("da"))
        db = deg.select(F.col("node").alias("b"),
                        F.col("deg").alias("db"))
        # orient low (degree, node) -> high: out-degree O(sqrt(m)).
        # The oriented list feeds FOUR downstream branches (both wedge
        # legs, both closure directions); checkpointed once, they all
        # read one materialization instead of re-planning the
        # distinct+degree+join tree (200+ Exchanges) each.
        oriented = (und.join(da, "a").join(db, "b")
                    .select(
                        F.when((F.col("da") < F.col("db"))
                               | ((F.col("da") == F.col("db"))
                                  & (F.col("a") < F.col("b"))),
                               F.col("a")).otherwise(F.col("b"))
                        .alias("u"),
                        F.when((F.col("da") < F.col("db"))
                               | ((F.col("da") == F.col("db"))
                                  & (F.col("a") < F.col("b"))),
                               F.col("b")).otherwise(F.col("a"))
                        .alias("v"))
                    .localCheckpoint(eager=True))
        # degrees re-derived from the checkpoint: oriented rows map
        # 1:1 to und rows with the same endpoint multiset, so the
        # explode'd counts are the identical integers — and the
        # downstream plan never references the pre-checkpoint tree
        deg = (oriented.select(F.explode(F.array("u", "v"))
                               .alias("node"))
               .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
        e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
        e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
        wedges = (e1.join(e2, "u").where(F.col("x") < F.col("y")))
        # a wedge (u; x, y) closes iff oriented edge (x, y) exists —
        # x < y and orientation is a total order, so one direction
        # suffices... except orientation orders by (degree, node),
        # not by node id: check BOTH oriented directions (one explode
        # pass over the checkpoint instead of a two-branch union)
        closers = (oriented.select(F.explode(F.array(
            F.struct(F.col("u").alias("x"), F.col("v").alias("y")),
            F.struct(F.col("v").alias("x"), F.col("u").alias("y"))))
            .alias("e")).select("e.x", "e.y").distinct())
        tri = (wedges.join(closers, ["x", "y"], "inner")
               .select("u", "x", "y"))
        per_node = (tri.select(F.explode(F.array("u", "x", "y"))
                               .alias("node"))
                    .groupBy("node")
                    .agg(F.count(F.lit(1)).alias("triangles")))
        out = (deg.join(per_node, "node", "left")
               .select(
                   "node",
                   F.coalesce("triangles", F.lit(0)).cast("long")
                   .alias("triangles"),
                   F.col("deg").cast("long").alias("degree"),
                   F.round(
                       F.when(F.col("deg") >= 2,
                              2.0 * F.coalesce("triangles", F.lit(0))
                              / (F.col("deg")
                                 * (F.col("deg") - F.lit(1))))
                       .otherwise(F.lit(0.0)), 6).alias("clustering")))
        return pcoll.with_df(out)


class KCore(PTransform):
    """The k-core of an undirected graph — the maximal subgraph where
    every node keeps degree >= k — by iterative peeling (Seidman
    1983): drop nodes with degree < k, recompute degrees over the
    induced subgraph, repeat to fixpoint. The standard
    dense-subgraph / spam-ring / community-seed filter of link-graph
    curation (a node's SURVIVAL at high k is a far stronger cohesion
    signal than raw degree).

    ``fixed_rounds``: run EXACTLY that many peels with no convergence
    check — the deterministic-replay mode the DuckDB oracle uses
    (peeling is idempotent after convergence, so equality holds round
    for round); default (None) peels to fixpoint with a per-round
    convergence check, capped at ``max_rounds``.

    Scale: each round is one edge semi-join against the (shrinking)
    survivor set + one degree aggregation, run through
    ``_fixed_point``; the convergence check asks whether the round
    peeled any edge. Peeling converges in at most O(peeled nodes)
    rounds but in practice a handful: each round removes every
    currently-underdegree node at once.

    Output: (node, degree) for k-core members, degree measured INSIDE
    the core.
    """

    def __init__(self, k: int, src: str = "src", dst: str = "dst",
                 max_rounds: int = 50, fixed_rounds: int | None = None,
                 label=None):
        super().__init__(label)
        if int(k) < 1:
            raise ValueError("k must be >= 1")
        self.k = int(k)
        self.src, self.dst = src, dst
        self.max_rounds = int(max_rounds)
        self.fixed_rounds = (None if fixed_rounds is None
                             else int(fixed_rounds))

    def expand(self, pcoll: PCollection) -> PCollection:
        k = self.k
        und = (_undirected(pcoll.df, self.src, self.dst)
               .localCheckpoint(eager=True))

        def degrees(edges):
            return (edges.select(F.col("a").alias("node"))
                    .unionAll(edges.select(F.col("b").alias("node")))
                    .groupBy("node")
                    .agg(F.count(F.lit(1)).alias("degree")))

        def peel(edges):
            survivors = (degrees(edges).where(F.col("degree") >= k)
                         .select("node"))
            return (und
                    .join(survivors.select(F.col("node").alias("a")),
                          "a", "left_semi")
                    .join(survivors.select(F.col("node").alias("b")),
                          "b", "left_semi"))

        def peeled(new, prev):
            # edges only shrink, so an edge missing from new is a change
            return not prev.join(new, ["a", "b"], "left_anti").isEmpty()

        fixed = self.fixed_rounds is not None
        edges, _, _ = _fixed_point(
            und, peel, self.fixed_rounds if fixed else self.max_rounds,
            None if fixed else peeled)
        out = (degrees(edges).where(F.col("degree") >= k)
               .select("node", F.col("degree").cast("long")
                       .alias("degree")))
        return pcoll.with_df(out)


class LabelPropagation(PTransform):
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) made DETERMINISTIC: every node starts labeled with
    its own id; each round every node adopts the label that is most
    frequent among its NEIGHBORS' labels, ties broken by the SMALLEST
    label — no randomized visit order, so a fixed round count replays
    identically in any engine (the classic async-LPA coin flips are
    what make vanilla implementations non-reproducible). The standard
    cheap community pass of link-graph curation, next to
    ConnectedComponents (coarser: ignores density) and KCore (keeps
    only the dense part): near-duplicate site clusters, mutual-link
    spam rings, topical hubs.

    ``fixed_rounds``: run EXACTLY that many synchronous updates — the
    deterministic-replay mode the DuckDB oracle chains one CTE per
    round (synchronous LPA can 2-cycle on bipartite structures, so
    fixpoint is not guaranteed; fixed-round replay sidesteps that and
    is the value-oracle-able posture). Default (None): run until no
    label changes, capped at ``max_rounds`` (the change count is the
    job that materializes the round).

    Scale: per round, ONE join of the (node, neighbor) adjacency
    against the nodes-sized label frame, one (node, label) count
    aggregation, one per-node arg-max — all keyed shuffles of
    edge-bound volume, run through ``_fixed_point``. Tiebreak is an
    order-free ``min(struct(-cnt, lbl))`` aggregate: no window sort
    over the full corpus.

    ``weight``: optional edge-weight column — a neighbor's label
    counts by summed edge weight instead of multiplicity (parallel
    edges aggregate their weights per undirected pair first). With
    INTEGRAL weights the sums are exact doubles in any accumulation
    order, so the oracle posture is unchanged; fractional weights
    make the arg-max sensitive to 1-ulp sum differences — prefer
    scaled-integer weights for replayable runs.

    Output: (node, community) — community ids are node ids (label
    ancestors), stable across runs.
    """

    def __init__(self, src: str = "src", dst: str = "dst",
                 max_rounds: int = 20, fixed_rounds: int | None = None,
                 weight: str | None = None, label=None):
        super().__init__(label)
        self.src, self.dst = src, dst
        self.weight = weight
        self.max_rounds = int(max_rounds)
        self.fixed_rounds = (None if fixed_rounds is None
                             else int(fixed_rounds))
        if self.max_rounds < 1:
            raise ValueError("max_rounds must be >= 1")
        if self.fixed_rounds is not None and self.fixed_rounds < 1:
            raise ValueError("fixed_rounds must be >= 1")
        self.rounds_run_ = None

    def expand(self, pcoll: PCollection) -> PCollection:
        wc = self.weight
        und = (_undirected(pcoll.df, self.src, self.dst, weight=wc)
               .localCheckpoint(eager=True))
        wcols = [F.col("__w")] if wc else []
        adj = (und.select(F.col("a").alias("node"),
                          F.col("b").alias("nb"), *wcols)
               .unionAll(und.select(F.col("b").alias("node"),
                                    F.col("a").alias("nb"), *wcols)))
        labels = (adj.select("node").distinct()
                  .withColumn("lbl", F.col("node"))
                  .localCheckpoint(eager=True))

        def step(labels):
            cnt = (adj
                   .join(labels.select(F.col("node").alias("nb"),
                                       "lbl"), "nb")
                   .groupBy("node", "lbl")
                   .agg((F.sum("__w") if wc else F.count(F.lit(1)))
                        .alias("__c")))
            return (cnt
                    .groupBy("node")
                    .agg(F.min(F.struct(
                        (-F.col("__c")).alias("__nc"),
                        F.col("lbl"))).alias("__m"))
                    .select("node", F.col("__m.lbl").alias("lbl")))

        def changed(new, prev):
            return (new.alias("n")
                    .join(prev.alias("p"), "node")
                    .where(F.col("n.lbl") != F.col("p.lbl"))
                    .count()) > 0

        fixed = self.fixed_rounds is not None
        labels, self.rounds_run_, _ = _fixed_point(
            labels, step, self.fixed_rounds if fixed else self.max_rounds,
            None if fixed else changed)
        out = labels.select("node", F.col("lbl").alias("community"))
        return pcoll.with_df(out)


class Modularity(PTransform):
    """Newman modularity report for a community assignment: per
    community c over the undirected deduped edge set,

        contribution(c) = e_c / m - (d_c / (2m))^2

    (e_c = intra-community edges, d_c = summed degree of c's nodes,
    m = total edges) — sum over communities = the familiar Q in
    [-1/2, 1]. The standard "was this partition better than chance"
    score for choosing between LabelPropagation /
    ConnectedComponents / KCore-seeded groupings of a link graph.

    ``communities``: (node, community) frame — LabelPropagation's
    output, or any assignment. Nodes missing from it contribute to
    m and degree but to no community (their edges are
    inter-community by definition).

    Per-community contributions are EXACT doubles (integer counts
    through identical division/square expressions — no accumulation
    order anywhere), so the report oracles without rounding; only a
    grand-total Q would need rounding (sum order), which is why the
    output is the per-community frame — sum it downstream.

    Scale: two node-keyed joins tagging each edge's endpoint
    communities, one edge-keyed aggregation, one degree aggregation
    — all edge-bound shuffles, no iteration.

    Output: (community, n_nodes, intra_edges, degree_sum,
    contribution) for every community, ordered by community.
    """

    def __init__(self, communities, src: str = "src", dst: str = "dst",
                 node_col: str = "node", community_col: str = "community",
                 label=None):
        super().__init__(label)
        self.communities = (communities.df
                            if isinstance(communities, PCollection)
                            else communities)
        self.src, self.dst = src, dst
        self.node_col, self.community_col = node_col, community_col

    def expand(self, pcoll: PCollection) -> PCollection:
        com = self.communities.select(
            F.col(self.node_col).alias("node"),
            F.col(self.community_col).alias("c"))
        und = _undirected(pcoll.df, self.src, self.dst)
        tagged = (und
                  .join(com.select(F.col("node").alias("a"),
                                   F.col("c").alias("ca")), "a", "left")
                  .join(com.select(F.col("node").alias("b"),
                                   F.col("c").alias("cb")), "b", "left"))
        m_df = und.agg(F.count(F.lit(1)).alias("__m"))
        intra = (tagged
                 .where(F.col("ca").isNotNull()
                        & (F.col("ca") == F.col("cb")))
                 .groupBy(F.col("ca").alias("c"))
                 .agg(F.count(F.lit(1)).alias("intra_edges")))
        deg = (und.select(F.col("a").alias("node"))
               .unionAll(und.select(F.col("b").alias("node")))
               .groupBy("node").agg(F.count(F.lit(1)).alias("__deg")))
        per_c = (com.join(deg, "node", "left")
                 .groupBy("c")
                 .agg(F.count(F.lit(1)).alias("n_nodes"),
                      F.sum(F.coalesce("__deg", F.lit(0)))
                      .alias("degree_sum")))
        out = (per_c.join(intra, "c", "left")
               .crossJoin(F.broadcast(m_df))
               .select(
                   F.col("c").alias("community"),
                   "n_nodes",
                   F.coalesce("intra_edges", F.lit(0)).cast("long")
                   .alias("intra_edges"),
                   F.col("degree_sum").cast("long").alias("degree_sum"),
                   (F.coalesce("intra_edges", F.lit(0)).cast("double")
                    / F.col("__m")
                    - (F.col("degree_sum").cast("double")
                       / (2.0 * F.col("__m")))
                    * (F.col("degree_sum").cast("double")
                       / (2.0 * F.col("__m"))))
                   .alias("contribution")))
        return pcoll.with_df(out)


class Hits(PTransform):
    """HITS hubs & authorities (Kleinberg, JACM 1999) over an edge
    list (src, dst) with a FIXED iteration count and L1 normalization
    each half-step — the deterministic, value-oracle-able posture
    every iterative operator here uses (PageRank's convention):

        auth'(v) = sum over edges (u, v) of hub(u),   then sum-to-1
        hub'(u)  = sum over edges (u, v) of auth'(v), then sum-to-1

    L1 (not the textbook L2) normalization keeps every step a linear
    sum — scores are the principal-eigenvector directions either way,
    just scaled to sum 1 (a probability-style reading). Parallel
    edges count; dedupe upstream if multiplicity should not weight
    the link. Initial hub = 1/N on every node.

    Scale: per round, TWO node-keyed joins of the score table
    (nodes-sized) against the edge list + one dst-keyed and one
    src-keyed aggregation; the normalizer is a 1-row broadcast. Rounds
    run through ``_fixed_point`` on one (node, h, a) state frame, so the
    plan stays one round deep.

    Output: (node, hub, authority), each rounded 9 (per-group float
    sum order is the only cross-engine difference; round 9 absorbs it
    at these magnitudes), every node present (zero scores for nodes
    with no out-/in-edges).
    """

    def __init__(self, src: str = "src", dst: str = "dst",
                 iterations: int = 5, label=None):
        super().__init__(label)
        self.src, self.dst = src, dst
        self.iterations = int(iterations)
        if self.iterations < 1:
            raise ValueError("iterations must be >= 1")

    def expand(self, pcoll: PCollection) -> PCollection:
        edges = (pcoll.df
                 .select(F.col(self.src).alias("src"),
                         F.col(self.dst).alias("dst"))
                 .localCheckpoint(eager=True))
        nodes = (edges.select(F.col("src").alias("node"))
                 .unionByName(edges.select(F.col("dst").alias("node")))
                 .distinct()
                 .localCheckpoint(eager=False))
        n_nodes = nodes.count()
        if n_nodes == 0:
            raise ValueError("Hits: empty edge list")

        def half_step(scores, score, key, other, out):
            # L1-normalized sum of ``score`` over the edges' ``key`` end,
            # landed on their ``other`` end
            raw = (edges.join(scores, edges[key] == scores["node"])
                   .groupBy(other).agg(F.sum(score).alias("__r")))
            norm = raw.agg(F.sum("__r").alias("__s"))
            return (nodes
                    .join(raw, nodes["node"] == raw[other], "left")
                    .crossJoin(F.broadcast(norm))
                    .select(nodes["node"],
                            (F.coalesce(F.col("__r"), F.lit(0.0))
                             / F.col("__s")).alias(out)))

        def step(state):
            auth = half_step(state, "h", "src", "dst", "a")
            return half_step(auth, "a", "dst", "src", "h").join(auth, "node")

        start = nodes.withColumn("h", F.lit(1.0 / n_nodes))
        state, _, _ = _fixed_point(start, step, self.iterations)
        out = state.select("node", F.round("h", 9).alias("hub"),
                           F.round("a", 9).alias("authority"))
        return pcoll.with_df(out)


class LinkPrediction(PTransform):
    """Topological link-prediction scores for every non-adjacent node
    pair at distance 2 in an undirected graph (src, dst) — the
    classic Liben-Nowell & Kleinberg (CIKM 2003) battery:

        common_neighbors  |N(a) & N(b)|
        jaccard           cn / |N(a) | N(b)|
        adamic_adar       sum over shared w of 1 / ln(deg(w))
        resource_alloc    sum over shared w of 1 / deg(w)
        pref_attachment   deg(a) * deg(b)

    Candidate pairs are generated by one wedge self-join of the
    adjacency list on the shared-neighbor key (exactly the pairs with
    cn >= 1), then existing edges are anti-joined away. A shared
    neighbor always has degree >= 2, so ln(deg(w)) is never 0.

    Scale: the wedge join is sum over nodes of deg(node)^2 — the
    hub-quadratic shape. ``max_neighbor_degree`` drops wedge CENTERS
    above the cap before the join (standard at web scale: a hub
    mediating millions of pairs contributes ~1/ln(deg) ~ 0 evidence
    per pair while dominating the shuffle). With a cap D the join is
    bounded by n*D^2 regardless of skew; uncapped it is exact.
    ``min_common`` prunes the output (not the join) to pairs with at
    least that much shared evidence.

    Output: (a, b, common_neighbors, jaccard, adamic_adar,
    resource_alloc, pref_attachment) with a < b; float scores
    rounded 9 (per-pair float-sum order is the only cross-engine
    difference at these magnitudes).

    Reference parity: Beam has no graph library; this mirrors the
    feature set of NetworkX link_prediction.py / Spark ecosystems'
    GraphFrames usage, re-expressed as two equi-joins + one agg.
    """

    def __init__(self, src: str = "src", dst: str = "dst",
                 min_common: int = 1,
                 max_neighbor_degree: int | None = None, label=None):
        super().__init__(label)
        self.src, self.dst = src, dst
        self.min_common = int(min_common)
        if self.min_common < 1:
            raise ValueError("min_common must be >= 1")
        self.max_neighbor_degree = (
            None if max_neighbor_degree is None
            else int(max_neighbor_degree))
        if (self.max_neighbor_degree is not None
                and self.max_neighbor_degree < 2):
            raise ValueError("max_neighbor_degree must be >= 2")

    def expand(self, pcoll: PCollection) -> PCollection:
        # und feeds both wedge legs, the existing-edge anti-join and
        # (through deg) both endpoint-degree joins — unmaterialized,
        # the distinct tree is planned and executed ~13 times (the
        # TriangleCount pathology); checkpointed, und and deg are read
        # as one materialization each.
        und = (_undirected(pcoll.df, self.src, self.dst)
               .localCheckpoint(eager=True))
        # adj stays the two-block unionAll (NOT an explode): the
        # wedge aggregation sums doubles downstream, and the union of
        # two checkpoint reads preserves the exact pre-change row
        # layout (an explode would interleave rows and perturb the
        # partial-sum accumulation order). Reading a materialized
        # frame twice costs no extra shuffle.
        adj = (und.select(F.col("a").alias("node"),
                          F.col("b").alias("nbr"))
               .unionAll(und.select(F.col("b").alias("node"),
                                    F.col("a").alias("nbr"))))
        deg = (adj.groupBy("node").agg(
            F.count(F.lit(1)).alias("deg"))
            .localCheckpoint(eager=True))
        # wedge centers: the shared neighbor w carries its own degree
        # into the join so adamic-adar / resource-allocation are
        # computed in the same pass as the pair count
        centers = adj.join(deg, "node")
        if self.max_neighbor_degree is not None:
            centers = centers.where(
                F.col("deg") <= F.lit(self.max_neighbor_degree))
        w1 = centers.select(F.col("node").alias("w"),
                            F.col("nbr").alias("pa"),
                            F.col("deg").alias("wdeg"))
        w2 = centers.select(F.col("node").alias("w"),
                            F.col("nbr").alias("pb"))
        pairs = (w1.join(w2, "w")
                 .where(F.col("pa") < F.col("pb"))
                 .groupBy(F.col("pa").alias("a"),
                          F.col("pb").alias("b"))
                 .agg(F.count(F.lit(1)).alias("cn"),
                      F.sum(1.0 / F.log(F.col("wdeg"))).alias("aa"),
                      F.sum(1.0 / F.col("wdeg")).alias("ra")))
        pairs = pairs.join(und, ["a", "b"], "left_anti")
        if self.min_common > 1:
            pairs = pairs.where(F.col("cn") >= self.min_common)
        da = deg.select(F.col("node").alias("a"),
                        F.col("deg").alias("da"))
        db = deg.select(F.col("node").alias("b"),
                        F.col("deg").alias("db"))
        out = (pairs.join(da, "a").join(db, "b")
               .select(
                   "a", "b",
                   F.col("cn").cast("long").alias("common_neighbors"),
                   F.round(F.col("cn").cast("double")
                           / (F.col("da") + F.col("db")
                              - F.col("cn")), 9).alias("jaccard"),
                   F.round("aa", 9).alias("adamic_adar"),
                   F.round("ra", 9).alias("resource_alloc"),
                   (F.col("da") * F.col("db")).cast("long")
                   .alias("pref_attachment")))
        return pcoll.with_df(out)
