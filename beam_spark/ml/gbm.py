"""Gradient-boosted decision stumps trained INSIDE Spark —
least-squares boosting (Friedman 2001, squared loss) where each round
is ONE partial-agg pass over the residual frame, so fitting a
small-d regression head on 100 TB is T scans with a
(features x distinct-values)-cell reduce. No parameter server, no
driver-side data beyond the per-feature distinct-value histograms.

Reference parity: Beam has no trainer (its ML story is RunInference);
this extends the LogisticFit "small-d, huge-n" trainable family with
the standard tabular regressor (XGBoost's depth-1 ancestor).

Round t (learning rate lr, current prediction F_{t-1}):

    r_i        = y_i - F_{t-1}(x_i)                 [plain double]
    per (f, v) : S_fv = sum_i quant(r_i [x_if = v]) [exact decimal]
                 n_fv = count
    split gain : G(f, s) = SL^2/nL + SR^2/nR - S^2/n  (left = x <= s)
    best split : max round-9 gain, ties -> smallest (feature, s)
    leaves     : wL = SL/nL, wR = SR/nR              [one division]
    F_t        = F_{t-1} + lr * (x_f <= s ? wL : wR)

Determinism / oracle replay (the LogisticFit convention): residual
terms quantize to decimal(16,9) BEFORE the sum (order-free, exact —
partitioning cannot change it); prefix sums over the distinct-value
histogram stay decimal-exact; leaf values are ONE exact-decimal ->
double division; gains are fixed-order doubles ROUNDED 9 only for
the argmax (with (feature, threshold) tie-break — the
InformationGainSplit convention); predictions accumulate as plain
doubles from exact literals, the same IEEE sequence in every engine.
``_gbm_oracle_sql``-style chained CTEs replay the FULL training run
in DuckDB, split choice included.

Scale: T sequential jobs, each one scan + a (sum(d_f distinct
values))-cell aggregate; features must be QUANTIZED upstream (the
histogram is the working set — ``max_distinct`` fails fast on a
continuous column, mirroring KsDrift/IsotonicCalibration). The
residual frame is localCheckpointed once; per-round work rides
expression literals.

Output: (round, feature, threshold, left_value, right_value) — round
0 carries the base prediction in left_value with feature ''. After
expand, ``model_`` holds the fitted list driver-side and
``prediction_column()`` returns a Column scoring any frame with the
same feature columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from beam_spark.operators.core import fan_out
from beam_spark.pcollection import PCollection, PTransform

_DEC = "decimal(16,9)"
MAX_FEATURES = 64


def _checkpoint_bytes(n_rows: int, n_features: int) -> int:
    """Estimated block-manager footprint of the eager-checkpointed
    training frame: UnsafeRow of (1 + F) doubles = 8-byte null
    bitset word + 8 bytes per field, x2 for deserialized-storage +
    melt-pass headroom (the sf1 OOM this guards against was observed
    at roughly this multiple)."""
    row = 8 + 8 * (1 + n_features)
    return 2 * n_rows * row


def _available_heap_bytes(spark) -> int | None:
    """Free JVM heap of the driver-side block-manager JVM (in local
    mode the only JVM). None when the JVM is unreachable — the guard
    then stands aside rather than guessing. Module-level so tests can
    fake a small heap."""
    try:
        rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        return int(rt.maxMemory() - rt.totalMemory() + rt.freeMemory())
    except Exception:
        return None


class GradientBoostedStumps(PTransform):
    """Fit T least-squares stumps on the piped frame's QUANTIZED
    numeric ``features`` against numeric ``target``; NULL rows (any
    feature or the target) are excluded. lr should be dyadic for
    bit-stable replay; rounds is fixed (the PageRank/LogisticFit
    value-oracle posture). Keep |target| modest (scale it) so the
    decimal(16,9) residual terms cannot overflow — an overflowed
    term fails loudly, never silently skips."""

    def __init__(self, features, target: str, rounds: int = 3,
                 lr: float = 0.5, max_distinct: int = 10_000,
                 label=None):
        super().__init__(label)
        self.features = ([features] if isinstance(features, str)
                         else list(features))
        if not 1 <= len(self.features) <= MAX_FEATURES:
            raise ValueError(
                f"need 1..{MAX_FEATURES} features, got "
                f"{len(self.features)}")
        self.target = target
        self.rounds = int(rounds)
        if self.rounds < 1:
            raise ValueError("rounds must be >= 1")
        self.lr = float(lr)
        if self.lr <= 0:
            raise ValueError("lr must be > 0")
        self.max_distinct = int(max_distinct)
        self.model_ = None       # [(feature, threshold, wL, wR)]
        self.f0_ = None          # base prediction, set by expand

    def prediction_column(self, model=None, f0=None) -> Column:
        """F_T(x) as a Column over the feature columns."""
        m = model if model is not None else self.model_
        base = f0 if f0 is not None else self.f0_
        if m is None or base is None:
            raise ValueError(
                "fit first (run expand), or pass both model and f0")
        p = F.lit(float(base))
        for feat, thr, wl, wr in m:
            p = p + F.lit(self.lr) * F.when(
                F.col(feat).cast("double") <= F.lit(float(thr)),
                F.lit(float(wl))).otherwise(F.lit(float(wr)))
        return p

    def expand(self, pcoll: PCollection) -> PCollection:
        fs, yc, lr = self.features, self.target, self.lr
        cond = F.col(yc).isNotNull()
        for f in fs:
            cond = cond & F.col(f).isNotNull()
        df = (pcoll.df.where(cond)
              .select(F.col(yc).cast("double").alias("__y"),
                      *[F.col(f).cast("double").alias(f) for f in fs]))
        spark = pcoll.df.sparkSession
        df = fan_out(df)
        # ONE setup pass BEFORE checkpointing — row count (the heap
        # fail-fast: the localCheckpoint pins the whole (1 + F)-
        # column double frame in this JVM's block manager, and a frame
        # that doesn't fit dies as an opaque JVM OOM mid-round) and
        # the exact-decimal target sum (the base prediction). The
        # per-feature distinct-count guard rides round 1's histogram
        # (its non-NULL cells per feature ARE the distinct counts),
        # whose collect is capped so the guard fires before an
        # un-quantized feature's histogram reaches the driver.
        row0 = df.agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("__y").try_cast(_DEC)).alias("__s"),
            F.count(F.col("__y").try_cast(_DEC)).alias("__c")).first()
        n = row0["__n"]
        if n == 0:
            raise ValueError("GradientBoostedStumps: empty input "
                             "after NULL filtering")
        est = _checkpoint_bytes(n, len(fs))
        avail = _available_heap_bytes(spark)
        if avail is not None and est > 0.5 * avail:
            raise ValueError(
                f"GradientBoostedStumps: the checkpointed training "
                f"frame needs ~{est // (1 << 20)} MiB "
                f"({n} rows x {len(fs) + 1} double columns) but only "
                f"~{avail // (1 << 20)} MiB of JVM heap is free — "
                f"raise driver memory (e.g. "
                f"spark.driver.memory=8g in local mode) or train on "
                f"a smaller slice")
        if row0["__c"] != n:
            raise ValueError(
                "GradientBoostedStumps: target overflowed "
                "decimal(16,9) — scale it down (|y| must stay well "
                "under 1e7)")
        from decimal import ROUND_HALF_UP, Decimal
        f0 = float(Decimal(row0["__s"]).quantize(
            Decimal("0.000001"),
            rounding=ROUND_HALF_UP)) / float(n)
        self.f0_ = f0
        # non-eager: round 1's histogram collect is the sole first
        # consumer and materializes the training frame in the same
        # job (guide §1.2); the heap fail-fast above still ran BEFORE
        # anything is pinned
        df = df.localCheckpoint(eager=False)

        # grouping-set id of the set containing ONLY feature i
        # (every other grouping column aggregated away)
        L = len(fs)
        gid_of = {sum(1 << (L - 1 - j) for j in range(L) if j != i): i
                  for i in range(L)}

        model: list[tuple] = []
        pred: Column = F.lit(f0)
        # the histogram is the working set: round 1 collects at most
        # L * max_distinct + 1 cells — past that, by pigeonhole, some
        # feature is un-quantized (mirrors KsDrift/Isotonic)
        cap = L * self.max_distinct + 1
        for _t in range(self.rounds):
            r = (F.col("__y") - pred).try_cast(_DEC)
            # one native Expand — GROUPING SETS ((f1), (f2), ...) —
            # builds every feature's (value -> residual sum/count)
            # histogram in a single pass. Same per-cell row multisets
            # as the previous explode-of-structs melt (decimal sums
            # are order-free), without constructing an array of
            # structs per row: measured ~40% less per-round time.
            # Cells whose value is NULL (a value the double cast
            # rejected) are dropped: only the grouped feature is
            # non-NULL in a cell, so coalesce finds it.
            cells = (df.groupingSets([[f] for f in fs], *fs)
                     .agg(F.grouping_id().alias("__g"),
                          F.sum(r).alias("s"),
                          F.count(r).alias("c"),
                          F.count(F.lit(1)).alias("rows"))
                     .where(F.coalesce(*fs).isNotNull()))
            grows = (cells.limit(cap) if _t == 0 else cells).collect()
            hist = []
            for g in grows:
                f = fs[gid_of[g["__g"]]]
                hist.append({"f": f, "v": g[f], "s": g["s"],
                             "c": g["c"], "rows": g["rows"]})
            if _t == 0:
                from collections import Counter

                nd = Counter(h["f"] for h in hist)
                for f in fs:
                    if nd[f] > self.max_distinct:
                        raise ValueError(
                            f"GradientBoostedStumps: feature {f!r} "
                            f"has more than max_distinct "
                            f"{self.max_distinct} distinct values — "
                            f"quantize it upstream")
            bad = sum(h["rows"] - h["c"] for h in hist)
            if bad:
                raise ValueError(
                    f"GradientBoostedStumps: {bad} residual terms "
                    "overflowed decimal(16,9) — scale the target")
            best = self._best_split(hist, fs)
            if best is None:
                raise ValueError(
                    "GradientBoostedStumps: no valid split (every "
                    "feature is constant)")
            feat, thr, wl, wr = best
            model.append((feat, thr, wl, wr))
            pred = pred + F.lit(lr) * F.when(
                F.col(feat) <= F.lit(thr), F.lit(wl)
            ).otherwise(F.lit(wr))
        self.model_ = model

        out = spark.createDataFrame(
            [(0, "", None, f0, f0)]
            + [(t + 1, feat, float(thr), wl, wr)
               for t, (feat, thr, wl, wr) in enumerate(model)],
            "round int, feature string, threshold double, "
            "left_value double, right_value double")
        return pcoll.with_df(out)

    @staticmethod
    def _best_split(hist, fs):
        """Argmax over candidate splits from the collected histogram.
        Exact-decimal prefix sums (python Decimal — identical to the
        SQL window sum), QUANTIZED to scale 6 before the double cast
        (a scale-9 sum's unscaled integer can pass 2^53 at ~1e7
        magnitude, where decimal->double double-rounds differently
        across engines — the documented KMV/logistic hazard); gains
        as fixed-order doubles; argmax on (round-9 gain DESC,
        feature ASC, threshold ASC)."""
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")

        def d2f(d: Decimal) -> float:
            return float(d.quantize(q6, rounding=ROUND_HALF_UP))

        per: dict = {f: [] for f in fs}
        for h in hist:
            per[h["f"]].append((float(h["v"]), Decimal(h["s"]),
                                int(h["c"])))
        best = None
        for f in fs:
            rows = sorted(per[f])
            tot_s = sum((s for _, s, _ in rows), Decimal(0))
            tot_n = sum(c for _, _, c in rows)
            st = d2f(tot_s)
            cs, cn = Decimal(0), 0
            for v, s, c in rows[:-1]:       # last value: empty right
                cs += s
                cn += c
                sl, nl = d2f(cs), cn
                sr, nr = d2f(tot_s - cs), tot_n - cn
                gain = (sl * sl / nl + sr * sr / nr
                        - st * st / tot_n)
                key = (-round(gain, 9), f, v)
                if best is None or key < best[0]:
                    best = (key, (f, v, sl / nl, sr / nr))
        return best[1] if best else None
