"""Logistic regression trained INSIDE Spark — full-batch gradient
descent where each iteration is one partial-agg pass, so training a
quality/routing classifier on 100 TB is T scans with a (d+1)-cell
reduce, no parameter server, no driver-side data.

Reference parity: Beam has no trainer; its ML story is RunInference
(ml/inference.py mirrors that). This is the trainable counterpart for
the common "small-d, huge-n" corpus-scoring case (fastText-style
quality classifiers, sample-weight heads).

Update rule (iteration t, learning rate lr, x_0 = 1 intercept):

    p_i   = sigmoid(w_t . x_i)
    g_j   = sum_i quant((p_i - y_i) * x_ij / n)     [exact decimal sum]
    w_j   = w_j - lr * g_j                          [plain double]

Determinism / oracle replay (the PageRank chained-CTE convention):
every per-row gradient term is quantized to decimal(16,9) BEFORE the
sum — the sum is order-free and exact, partitioning cannot change it;
dividing by n inside the term keeps the sum's unscaled integer under
2^53 at any row count (the decimal->double cast hazard); weights stay
FULL-PRECISION doubles — with a dyadic lr, `w - lr*g` is the same
IEEE sequence in every engine, and crucially weights are NEVER
rounded mid-training (rounding a 0.5*scale-9-decimal product to 9 dp
lands on an exact half tie almost every step, where engines'
rounding modes differ — found designing this). Display rounds 9 at
the very end, where the value is a generic double. The quantization
of gradient TERMS is part of the algorithm definition, not an
approximation afterthought — 1e-9 gradient noise is far below any
sane lr's step.

Scale: T sequential jobs, each one scan + one (d+1)-sum aggregate;
driver holds d+1 doubles. d is capped (weights ride in expressions).

Output: (term, weight) — 'intercept' plus one row per feature.
After expand, ``weights_`` holds the fitted dict driver-side, and
``decision_column(df)`` returns a sigmoid-score Column for scoring
any frame with the same feature columns. NULL rows are excluded; NaN
feature values are NOT (they would poison the gradient exactly as in
any GD trainer) — clean upstream.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from beam_spark.operators.core import fan_out
from beam_spark.pcollection import PCollection, PTransform

_DEC_G = "decimal(16,9)"
MAX_FEATURES = 256


class LogisticFit(PTransform):
    """Fit w on the piped frame's numeric ``features`` against binary
    ``label`` (0/1 or boolean); NULL rows (any feature or the label)
    are excluded. lr should be dyadic (0.5, 0.25, ...) for bit-stable
    replay; iterations is fixed (no convergence test — the
    value-oracle posture of PageRank/KMeans)."""

    def __init__(self, features, label: str, iterations: int = 5,
                 lr: float = 0.5, label_=None):
        super().__init__(label_)
        self.features = ([features] if isinstance(features, str)
                         else list(features))
        if not 1 <= len(self.features) <= MAX_FEATURES:
            raise ValueError(
                f"need 1..{MAX_FEATURES} features, got "
                f"{len(self.features)}")
        self.label = label
        self.iterations = int(iterations)
        if self.iterations < 1:
            raise ValueError("iterations must be >= 1")
        self.lr = float(lr)
        if self.lr <= 0:
            raise ValueError("lr must be > 0")
        self.weights_ = None

    def _x(self, j: int) -> Column:
        return (F.lit(1.0) if j == 0
                else F.col(self.features[j - 1]).cast("double"))

    def decision_column(self, w=None) -> Column:
        """sigmoid(w . x) as a Column over the feature columns."""
        ws = w or self.weights_
        if ws is None:
            raise ValueError("fit first (run expand)")
        z = F.lit(ws["intercept"])
        for f in self.features:
            z = z + F.lit(ws[f]) * F.col(f).cast("double")
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))

    def expand(self, pcoll: PCollection) -> PCollection:
        fs, lc = self.features, self.label
        cond = F.col(lc).isNotNull()
        for f in fs:
            cond = cond & F.col(f).isNotNull()
        df = (pcoll.df.where(cond)
              .select(F.col(lc).cast("boolean").cast("double")
                      .alias("__y"),
                      *[F.col(f).cast("double").alias(f) for f in fs]))
        # spread the T scans: a small parquet source may arrive in 1-2
        # partitions, serializing every gradient pass (gradients are
        # order-free decimal sums, so this cannot change values)
        df = fan_out(df)
        # T scans, one lineage; non-eager — the count right below is
        # the sole first consumer and materializes the frame in the
        # same job (guide §1.2 one-job-per-round)
        df = df.localCheckpoint(eager=False)
        n = df.count()
        if n == 0:
            raise ValueError("LogisticFit: empty input after NULL "
                             "filtering")
        names = ["intercept"] + fs
        w = [0.0] * len(names)
        for _ in range(self.iterations):
            z = F.lit(w[0])
            for j, f in enumerate(fs, start=1):
                z = z + F.lit(w[j]) * F.col(f).cast("double")
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            casted = [((p - F.col("__y")) * self._x(j)
                       / F.lit(float(n))).try_cast(_DEC_G)
                      for j in range(len(names))]
            # an out-of-range decimal term must fail LOUDLY, not be
            # silently sum()-skipped (non-ANSI) or raise a cryptic
            # ANSI cast error mid-task: try_cast makes overflow NULL
            # in both modes, and the count guard below raises with
            # the actionable message (|(p-y)*x/n| >= 1e7 means
            # wildly unscaled features; standardize them)
            terms = ([F.sum(c).alias(f"g{j}")
                      for j, c in enumerate(casted)]
                     + [F.count(c).alias(f"c{j}")
                        for j, c in enumerate(casted)])
            row = df.agg(*terms).first()
            for j in range(len(names)):
                if row[f"c{j}"] != n:
                    raise ValueError(
                        f"LogisticFit: gradient term for "
                        f"{names[j]!r} overflowed decimal(16,9) on "
                        f"{n - row[f'c{j}']} of {n} rows — feature "
                        "magnitudes are unscaled; standardize (e.g. "
                        "ScaleTo01/z-score) before fitting")
            w = [w[j] - self.lr * float(row[f"g{j}"])
                 for j in range(len(names))]
        self.weights_ = dict(zip(names, w))
        spark = df.sparkSession
        out = spark.createDataFrame(
            list(zip(names, w)), "term string, weight double")
        return pcoll.with_df(out)


class InformationGainSplit(PTransform):
    """Optimal binary split of a numeric feature against a binary
    label — the decision-stump / feature-screening primitive (CART's
    inner loop, run once per candidate feature): over the DISTINCT
    feature values, find the threshold maximizing information gain

        IG(t) = H(p) - (n_le/n) * H(p_le) - (n_gt/n) * H(p_gt)

    where a split sends value <= t left. All counts are exact
    integers from one groupBy + cumulative windows over the
    distinct-value frame (cardinality-bounded — quantize continuous
    features upstream); entropies are fixed-order doubles; the argmax
    takes the best ROUND-9 gain with the smallest threshold as
    tie-break (deterministic and replayable).

    ``keys`` screens per slice (one stump per key). Rows with NULL
    feature or label are excluded. Output: keys + (split_value,
    gain round 9, n, n_le, pos_le, n_gt, pos_gt) — one row per key;
    degenerate inputs (constant feature or label) yield gain 0 at
    the smallest value.

    Scale: one (keys, value) count + cumulative windows over the
    distinct-value frame + a per-key argmax window — the MannWhitneyU
    posture.
    """

    def __init__(self, feature: str, label_col: str, keys=None,
                 label_=None):
        super().__init__(label_)
        self.feature, self.label_col = feature, label_col
        self.keys = ([keys] if isinstance(keys, str)
                     else list(keys) if keys else [])

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql import Window

        f, lc, ks = self.feature, self.label_col, self.keys
        df = pcoll.df.where(F.col(f).isNotNull()
                            & F.col(lc).isNotNull())
        y = F.col(lc).cast("boolean").cast("long")
        cnt = (df.groupBy(*ks, F.col(f).alias("__v"))
               .agg(F.count(F.lit(1)).cast("long").alias("__c"),
                    F.sum(y).cast("long").alias("__p")))
        wkey = Window.partitionBy(*ks) if ks else Window.partitionBy()
        wcum = wkey.orderBy("__v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        cnt = (cnt
               .withColumn("__n", F.sum("__c").over(wkey))
               .withColumn("__pos", F.sum("__p").over(wkey))
               .withColumn("__nle", F.sum("__c").over(wcum))
               .withColumn("__ple", F.sum("__p").over(wcum)))
        n = F.col("__n").cast("double")
        pos = F.col("__pos").cast("double")
        nle = F.col("__nle").cast("double")
        ple = F.col("__ple").cast("double")
        ngt = n - nle
        pgt = pos - ple

        def ent(p, tot):
            # H in bits; 0*log(0) handled by the guards
            frac = p / tot
            term = (F.when((frac > 0.0) & (frac < 1.0),
                           -(frac * F.log2(frac)
                             + (1.0 - frac) * F.log2(1.0 - frac)))
                    .otherwise(F.lit(0.0)))
            return term

        gain = (ent(pos, n)
                - (nle / n) * ent(ple, nle)
                - F.when(ngt > 0.0, (ngt / n) * ent(pgt, ngt))
                .otherwise(F.lit(0.0)))
        # a split keeping everything left (the max value) is no split:
        # force its gain to 0 so degenerate cases pick the smallest v
        gain = F.when(F.col("__nle") < F.col("__n"), gain) \
            .otherwise(F.lit(0.0))
        scored = cnt.withColumn("__g", F.round(gain, 9))
        wbest = wkey.orderBy(F.desc("__g"), F.col("__v"))
        out = (scored.withColumn("__r", F.row_number().over(wbest))
               .where(F.col("__r") == 1)
               .select(
                   *ks,
                   F.col("__v").alias("split_value"),
                   F.col("__g").alias("gain"),
                   F.col("__n").cast("long").alias("n"),
                   F.col("__nle").cast("long").alias("n_le"),
                   F.col("__ple").cast("long").alias("pos_le"),
                   (F.col("__n") - F.col("__nle")).cast("long")
                   .alias("n_gt"),
                   (F.col("__pos") - F.col("__ple")).cast("long")
                   .alias("pos_gt")))
        return pcoll.with_df(out)
