"""Isolation forest anomaly scoring (Liu, Ting & Zhou, ICDM 2008) —
the trainable complement to the per-group z-score/IQR/MAD detectors:
anomalies are points that RANDOM axis-parallel splits isolate in few
cuts, so no distribution assumption and multivariate by construction.

Reference surface: ml/anomaly (detectors + offline scoring); the
PyOD-adapter path (`detectors/pyod_adapter.py`) is how the reference
runs IForest — this is the native distributed re-expression.

Spark-first design (the GradientBoostedStumps posture):

* FIT is aggregation-only over a DETERMINISTIC md5 row sample per
  tree (``md5(seed:t:id) % sample_mod == 0`` — no RNG state, any
  partitioning): one depth-round = one (tree, node) min/max/count
  aggregation over the sample, thresholds drawn driver-side from the
  node stats via md5-derived uniform grid points
  (``thr = lo + u * (hi - lo)``, u on the exact 1e-6 grid), split
  feature by md5 mod |features|. The per-round collect is bounded by
  trees * 2^depth node-stat rows — a driver artifact, never data.
* SCORING is one zero-shuffle expression pass: every row descends
  every tree through a literal when-tree (heap indexing, root = 1,
  child = 2*node + (x > thr) — ids stay unique ACROSS depths, which
  keying splits/leaves by (tree, node) requires)
  and h(x) = depth-reached + c(leaf_size); score = 2^(-avg_h/c(norm_n)).
  c(m) = 2*(ln(m-1) + gamma) - 2*(m-1)/m (the paper's average-BST
  depth), c(2) = 1, c(<=1) = 0.

Every fit decision (sample membership, feature choice, threshold) is
a pure function of md5 + exact node aggregates, so DuckDB replays
TRAINING end-to-end in chained CTEs and the scores hash-match at
round 6 (the <=1-ulp ln() divergence between engines sits far below
the 1e-6 grid).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from beam_spark.pcollection import PCollection, PTransform

EULER_GAMMA = 0.5772156649015329
MAX_FEATURES = 16


def avg_path_c(m: int) -> float:
    """c(m): expected search-path length in a BST of m nodes — the
    paper's normalizer and unresolved-leaf adjustment."""
    if m <= 1:
        return 0.0
    if m == 2:
        return 1.0
    return 2.0 * (math.log(m - 1) + EULER_GAMMA) - 2.0 * (m - 1) / m


def _grid_u(key: str) -> float:
    """Uniform [0,1) on the exact 1e-6 grid from md5(key) — the
    BootstrapCI integer-grid convention, replayable in any engine."""
    import hashlib

    h = hashlib.md5(key.encode()).hexdigest()
    return (int(h[:8], 16) % 1_000_000) / 1e6


def oblique_direction(prefix: str, dim: int) -> list[float]:
    """Deterministic ~N(0,1) hyperplane slope for one tree node
    (extended isolation forest, Hariri et al. 2019): Box-Muller over
    two md5 grid uniforms per component, rounded 6 — PYTHON-side
    literals shared verbatim by the Spark plan and the oracle SQL
    (the lsh_projections convention), so no cross-engine transcendental
    ever runs on data. Normalization is unnecessary: the split
    threshold is drawn from the node's own projection range, so the
    slope's scale cancels."""
    import math

    out = []
    for i in range(dim):
        u1 = max(_grid_u(f"{prefix}a{i}:1"), 1e-6)
        u2 = _grid_u(f"{prefix}a{i}:2")
        n = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
        out.append(round(n, 6))
    return out


class IsolationForest(PTransform):
    """Fit ``trees`` isolation trees on a deterministic row sample of
    the piped frame and append (``h_avg``, ``score``) columns scoring
    EVERY row. NULL rows (any feature) get NULL scores. ``model_``
    holds the fitted splits/leaves after expand.

    Output: input columns + iforest_h (round 6) + iforest_score
    (round 6, in (0, 1]; higher = more isolated = more anomalous).
    """

    def __init__(self, features, id_col: str, trees: int = 4,
                 depth: int = 4, sample_mod: int = 1, seed: int = 7,
                 norm_n: int = 256, group_col: str | None = None,
                 max_groups: int = 32, oblique: bool = False,
                 label=None):
        super().__init__(label)
        self.features = ([features] if isinstance(features, str)
                         else list(features))
        if not 1 <= len(self.features) <= MAX_FEATURES:
            raise ValueError(
                f"need 1..{MAX_FEATURES} features, got "
                f"{len(self.features)}")
        self.id_col = id_col
        self.trees = int(trees)
        if not 1 <= self.trees <= 32:
            raise ValueError("trees must be in [1, 32]")
        self.depth = int(depth)
        if not 1 <= self.depth <= 8:
            raise ValueError("depth must be in [1, 8]")
        if self.trees * (1 << self.depth) > 2048:
            raise ValueError(
                "trees * 2^depth > 2048 — the per-round node-stat "
                "collect and the scoring when-tree are bounded by it")
        self.sample_mod = int(sample_mod)
        if self.sample_mod < 1:
            raise ValueError("sample_mod must be >= 1")
        self.seed = int(seed)
        self.norm_n = int(norm_n)
        if self.norm_n < 2:
            raise ValueError("norm_n must be >= 2")
        #: per-GROUP forests (multi-tenant anomaly surfaces): one
        #: independent forest per distinct ``group_col`` value, fitted
        #: in the SAME per-depth aggregation rounds (the group key just
        #: joins the node key) — seeds are group-salted so two groups
        #: with identical data still draw independent trees. Bounded:
        #: distinct groups <= max_groups (fit fail-fasts), and
        #: groups * trees * 2^depth <= 4096 caps the node-stat collect
        #: AND the scoring when-tree size.
        self.group_col = group_col
        self.max_groups = int(max_groups)
        if self.max_groups < 1:
            raise ValueError("max_groups must be >= 1")
        #: EXTENDED isolation forest (Hariri, Kind & Brunner, TKDE
        #: 2019): each node cuts on a random OBLIQUE hyperplane
        #: (projection = sum_i a_i * x_i with md5-derived round-6
        #: normal slopes, threshold drawn from the node's projection
        #: range) instead of a single axis — removes the axis-parallel
        #: "ghost region" artifacts of standard iForest score maps.
        #: Same aggregation rounds (min/max of ONE projection per node
        #: instead of per-feature), same bounded collects, and the
        #: slopes are Python-side literals shared verbatim with the
        #: oracle, so the fit replays exactly.
        self.oblique = bool(oblique)
        self.model_ = None   # {"splits": {(t,node): (fidx,thr,d)},
        #                      "leaves": {(t,node): (depth,size)}}
        #                     (group_col: keys gain a leading group
        #                      string -> (g,t,node); "groups": [g...])

    # -- fit ------------------------------------------------------------
    def _fit(self, df):
        fs, T, D = self.features, self.trees, self.depth
        seed, mod = self.seed, self.sample_mod
        idc, gcol = self.id_col, self.group_col
        cond = F.lit(True)
        for f in fs:
            cond = cond & F.col(f).isNotNull()
        cols = [F.col(idc).cast("string").alias("__id"),
                *[F.col(f).cast("double").alias(f) for f in fs]]
        if gcol:
            cond = cond & F.col(gcol).isNotNull()
            cols.append(F.col(gcol).cast("string").alias("__g"))
        base = df.where(cond).select(*cols)
        if gcol:
            gs = sorted(r["__g"] for r in base.select("__g").distinct()
                        .limit(self.max_groups + 1).collect())
            if len(gs) > self.max_groups:
                raise ValueError(
                    f"IsolationForest: > {self.max_groups} distinct "
                    f"{gcol!r} groups — per-group forests collect "
                    "groups * trees * 2^depth node stats and build "
                    "that many scoring branches; raise max_groups "
                    "deliberately or coarsen the group key")
            if len(gs) * T * (1 << D) > 4096:
                raise ValueError(
                    f"IsolationForest: {len(gs)} groups * {T} trees * "
                    f"2^{D} > 4096 — shrink trees/depth for the "
                    "per-group configuration")
            groups = gs
        else:
            groups = []
        # group-salted sample key: '{seed}:{g}:{t}:{id}' so two groups
        # with identical rows draw independent samples
        gseg = "__g || ':' || " if gcol else ""
        samp = (base.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(T - 1)))
            .alias("__t"))
            .where(F.expr(
                f"CAST(conv(substring(md5('{seed}:' || {gseg}"
                f"CAST(__t AS STRING) || ':' || __id), 1, 8), 16, 10) "
                f"AS BIGINT) % {mod} = 0"))
            .withColumn("__node", F.lit(1)))
        # non-eager: depth 0's stats collect is the sole first
        # consumer and materializes the sample in the same job
        # (guide §1.2 one-job-per-round)
        samp = samp.localCheckpoint(eager=False)
        gkeys = ["__g"] if gcol else []
        gcode = {g: i for i, g in enumerate(groups)}

        def k(g, t, node):
            return (g, t, node) if gcol else (t, node)

        # FLAT literal-map composite key (a per-node OR/when chain is
        # left-deep and overflows Catalyst recursion at a few thousand
        # nodes — the r13 ContinuousAggregate lesson; create_map is
        # one node)
        key = (F.col("__t").cast("long") * F.lit(1 << 24)
               + F.col("__node"))
        if gcol:
            gc_map = F.create_map(*[
                x for g, c in gcode.items()
                for x in (F.lit(g), F.lit(c))])
            key = key + gc_map[F.col("__g")].cast("long") \
                * F.lit(1 << 40)

        def mkey(lk):
            if gcol:
                g, t, node = lk
                return (gcode[g] << 40) + (t << 24) + node
            t, node = lk
            return (t << 24) + node

        ob = self.oblique
        splits: dict = {}
        leaves: dict = {}
        live = samp
        for d in range(D):
            cand = {}
            proj = None
            if ob:
                # slopes for EVERY possible node at this depth (a
                # superset of live nodes — bounded by the same
                # groups*T*2^depth cap), as per-dim literal maps; the
                # left-assoc (a0*f0) + (a1*f1) + ... accumulation is
                # the chain the oracle spells out
                for g in (groups if gcol else [""]):
                    pre = f"{seed}:{g}:" if gcol else f"{seed}:"
                    for t in range(T):
                        for node in range(1 << d, 1 << (d + 1)):
                            cand[k(g, t, node)] = oblique_direction(
                                f"{pre}{t}:{node}:", len(fs))
                for i in range(len(fs)):
                    m = F.create_map(*[
                        x for lk, cs in cand.items()
                        for x in (F.lit(mkey(lk)), F.lit(cs[i]))])
                    term = m[key] * F.col(fs[i])
                    proj = term if proj is None else proj + term
                stats = (live.groupBy(*gkeys, "__t", "__node")
                         .agg(F.count(F.lit(1)).alias("n"),
                              F.min(proj).alias("lo_p"),
                              F.max(proj).alias("hi_p"))
                         ).collect()
            else:
                stats = (live.groupBy(*gkeys, "__t", "__node")
                         .agg(F.count(F.lit(1)).alias("n"),
                              *[F.min(f).alias(f"lo_{i}")
                                for i, f in enumerate(fs)],
                              *[F.max(f).alias(f"hi_{i}")
                                for i, f in enumerate(fs)])
                         ).collect()
            level = {}
            for r in sorted(stats,
                            key=lambda r: ((r["__g"],) if gcol else ())
                            + (r["__t"], r["__node"])):
                t, node, n = r["__t"], r["__node"], r["n"]
                g = r["__g"] if gcol else ""
                pre = f"{seed}:{g}:" if gcol else f"{seed}:"
                if ob:
                    sel = cand[k(g, t, node)]
                    lo, hi = r["lo_p"], r["hi_p"]
                else:
                    sel = int(int.from_bytes(
                        __import__("hashlib").md5(
                            f"{pre}{t}:{node}:f".encode()).digest()[:4],
                        "big") % len(fs))
                    lo, hi = r[f"lo_{sel}"], r[f"hi_{sel}"]
                if n <= 1 or lo == hi:
                    leaves[k(g, t, node)] = (d, n)
                    continue
                u = _grid_u(f"{pre}{t}:{node}:u")
                thr = lo + u * (hi - lo)
                splits[k(g, t, node)] = (sel, thr, d)
                level[k(g, t, node)] = (sel, thr)
            if not level:
                break
            thr_map = F.create_map(*[
                x for lk, (fi, th) in level.items()
                for x in (F.lit(mkey(lk)), F.lit(float(th)))])
            thr_col = thr_map[key]
            if ob:
                xsel = proj   # identical literal chain as the stats
            else:
                xsel = F.col(fs[0])
                if len(fs) > 1:
                    fid_map = F.create_map(*[
                        x for lk, (fi, th) in level.items()
                        for x in (F.lit(mkey(lk)), F.lit(int(fi)))])
                    fid_col = fid_map[key]
                    xsel = F.when(fid_col == 0, F.col(fs[0]))
                    for i in range(1, len(fs)):
                        xsel = xsel.when(fid_col == i, F.col(fs[i]))
            # non-eager: the next depth's stats collect (or the
            # max-depth leaf collect) is the sole first consumer and
            # materializes the level in the same job — one driver job
            # per depth instead of two, identical arithmetic
            live = (live.where(thr_col.isNotNull())
                    .withColumn(
                        "__node",
                        F.col("__node") * 2
                        + (xsel > thr_col).cast("int"))
                    .localCheckpoint(eager=False))
        else:
            # max depth reached: remaining nodes become leaves
            for r in (live.groupBy(*gkeys, "__t", "__node")
                      .agg(F.count(F.lit(1)).alias("n")).collect()):
                leaves[k(r["__g"] if gcol else "", r["__t"],
                         r["__node"])] = (D, r["n"])
        out = {"splits": splits, "leaves": leaves}
        if gcol:
            out["groups"] = groups
        return out

    # -- score ----------------------------------------------------------
    def _h_expr(self, tree: int, group: str | None = None):
        fs, D = self.features, self.depth
        splits, leaves = self.model_["splits"], self.model_["leaves"]

        def k(node):
            return ((group, tree, node) if group is not None
                    else (tree, node))

        def desc(node, d):
            s = splits.get(k(node))
            if s is not None and d < D:
                sel, thr, _ = s
                if self.oblique:
                    test = None
                    for i, c in enumerate(sel):
                        term = F.lit(c) * F.col(fs[i])
                        test = term if test is None else test + term
                else:
                    test = F.col(fs[sel])
                return F.when(
                    test > F.lit(thr),
                    desc(2 * node + 1, d + 1)
                ).otherwise(desc(2 * node, d + 1))
            # a fit leaf at (tree, node) was terminalized at exactly
            # this descent depth (heap ids are depth-unique), so d is
            # the leaf depth; unseen nodes (no sample reached them)
            # contribute c(0) = 0 — immediate isolation
            _, size = leaves.get(k(node), (d, 0))
            return F.lit(float(d) + avg_path_c(size))

        return desc(1, 0)

    def _forest_h(self, group: str | None = None):
        h = self._h_expr(0, group)
        for t in range(1, self.trees):
            h = h + self._h_expr(t, group)
        return h

    def expand(self, pcoll: PCollection) -> PCollection:
        fs, gcol = self.features, self.group_col
        self.model_ = self._fit(pcoll.df)
        if not self.model_["splits"] and not self.model_["leaves"]:
            raise ValueError(
                "IsolationForest: empty input after NULL filtering "
                "and sampling — nothing to fit")
        cond = F.lit(True)
        for f in fs:
            cond = cond & F.col(f).isNotNull()
        if gcol:
            # per-group scoring: each row descends ITS group's forest
            # (groups are exhaustive over non-NULL keys by
            # construction — fit's distinct ran on this same frame)
            cond = cond & F.col(gcol).isNotNull()
            gexpr = F.col(gcol).cast("string")
            h = None
            for g in self.model_["groups"]:
                hg = self._forest_h(g)
                h = (F.when(gexpr == F.lit(g), hg) if h is None
                     else h.when(gexpr == F.lit(g), hg))
            if h is None:
                raise ValueError(
                    "IsolationForest: no non-NULL groups to fit")
        else:
            h = self._forest_h()
        h_avg = h / F.lit(float(self.trees))
        score = F.pow(F.lit(2.0),
                      -h_avg / F.lit(avg_path_c(self.norm_n)))
        out = (pcoll.df
               .withColumn("iforest_h",
                           F.when(cond, F.round(h_avg, 6)))
               .withColumn("iforest_score",
                           F.when(cond, F.round(score, 6))))
        return pcoll.with_df(out)
