"""Slowly-changing-dimension maintenance (warehouse Type 2).

The reference has no dimension-history operator; this is lake-side
bread and butter (dbt snapshots, Delta MERGE-based SCD recipes)
re-expressed as pure DataFrame windows: apply a batch of keyed,
timestamped attribute changes to a versioned dimension table where
each version carries [valid_from, valid_to) and the current version
has valid_to NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beam_spark.pcollection import PCollection, PTransform
from beam_spark.session import batch_shuffle_partitions


class ScdType2Apply(PTransform):
    """Apply a change batch to a Type-2 dimension, functionally: the
    input PCollection is the CHANGES frame (key, attribute columns,
    ``ts_col``); ``dim`` is the existing dimension (same key +
    attributes plus ``valid_from`` / ``valid_to``, NULL valid_to =
    current). Returns the fully updated dimension.

    Semantics (dbt-snapshot / Kimball Type 2):
      * a change whose attributes differ from the key's latest state
        closes the current version at the change timestamp and opens a
        new version [ts, next-change-or-NULL);
      * consecutive identical states collapse (a no-op change never
        creates a version — the current row stays open with its
        ORIGINAL valid_from);
      * multiple changes per key in one batch chain versions in
        timestamp order (equal timestamps tie-break on the attribute
        fingerprint, deterministically);
      * keys new to the dimension start their history at their first
        change; closed history rows pass through untouched.

    Implementation: current rows become baseline pseudo-changes at
    their valid_from; one per-key window pass drops consecutive
    duplicate states (lag on the attribute fingerprint) and a second
    assigns valid_to = lead(ts). Two key-partitioned windows, no
    self-joins, history untouched — at 100 TB the cost is one shuffle
    of (current ∪ changes) on the key, never of the closed history.
    """

    def __init__(self, dim: DataFrame | PCollection, key: str = "id",
                 ts_col: str = "ts", valid_from: str = "valid_from",
                 valid_to: str = "valid_to", label=None):
        super().__init__(label)
        self.dim = dim.df if isinstance(dim, PCollection) else dim
        self.key, self.ts_col = key, ts_col
        self.valid_from, self.valid_to = valid_from, valid_to

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql import Window

        changes = pcoll.df
        k, ts = self.key, self.ts_col
        vf, vt = self.valid_from, self.valid_to
        attrs = [c for c in changes.columns if c not in (k, ts)]
        missing = [c for c in [k, *attrs, vf, vt]
                   if c not in self.dim.columns]
        if missing:
            raise ValueError(
                f"dimension frame lacks columns {missing} (need key + "
                "change attributes + valid_from/valid_to)")
        extra = [c for c in self.dim.columns
                 if c not in (k, vf, vt) and c not in attrs]
        if extra:
            raise ValueError(
                f"dimension attribute columns {extra} absent from the "
                "changes frame — they would be silently dropped from "
                "the returned dimension (closed history included); "
                "carry them in the changes frame or project them off "
                "the dimension first")
        hist = self.dim.filter(F.col(vt).isNotNull())
        cur = self.dim.filter(F.col(vt).isNull())
        # engine-portable state fingerprint: attribute values joined on
        # the unit separator with a record-separator NULL placeholder
        # — control characters keep adjacent fields from colliding
        # (("ab","c") vs ("a","bc")) and never appear in sane data
        state = F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"),
                                  F.lit("\x1e")) for c in attrs])
        base = (cur.select(k, *attrs, F.col(vf).alias(ts))
                .withColumn("__src", F.lit(0)))
        chg = (changes.select(k, *attrs, ts)
               .withColumn("__src", F.lit(1)))
        u = base.unionByName(chg).withColumn("__state", state)
        w = Window.partitionBy(k).orderBy(ts, "__src", "__state")
        eff = (u.withColumn("__prev", F.lag("__state").over(w))
               .filter(F.col("__prev").isNull()
                       | (F.col("__state") != F.col("__prev"))))
        w2 = Window.partitionBy(k).orderBy(ts, "__src", "__state")
        out = (eff.withColumn(vt, F.lead(ts).over(w2))
               .select(k, *attrs, F.col(ts).alias(vf), vt))
        return pcoll.with_df(out.unionByName(hist.select(*out.columns)))


class CdcApply(PTransform):
    """Apply a CDC changelog to produce the CURRENT SNAPSHOT — the
    merge step of a change-data-capture ingest (Debezium-style op
    column): per key, the latest change in ``order_by`` order wins;
    a terminal delete removes the key entirely.

    ``op_col`` values: upper-cased first letter decides — I(nsert) /
    U(pdate) / R(ead, snapshot) keep the row, D(elete) drops the key.
    An unrecognized op is data, not configuration, so it fails at
    RUNTIME through a raise_error guard — a bad feed dies loudly
    instead of silently surviving into the snapshot.

    Scale: ONE key-partitioned window (row_number over the descending
    change order) + a filter — the changelog shuffles once on the
    key; the snapshot is never joined against history.

    Output: one row per surviving key, changelog columns minus
    ``op_col``.
    """

    def __init__(self, key: str = "id", order_by="ts",
                 op_col: str = "op", label=None):
        super().__init__(label)
        self.key = key
        self.order_by = ([order_by] if isinstance(order_by, str)
                         else list(order_by))
        self.op_col = op_col

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql import Window

        df = pcoll.df
        op = F.upper(F.substring(F.col(self.op_col), 1, 1))
        guard = F.when(op.isin("I", "U", "R", "D"), op).otherwise(
            F.raise_error(F.concat(
                F.lit("CdcApply: unrecognized op "),
                F.col(self.op_col).cast("string"))))
        w = (Window.partitionBy(self.key)
             .orderBy(*[F.col(c).desc() for c in self.order_by]))
        out = (df.withColumn("__op", guard)
               .withColumn("__rn", F.row_number().over(w))
               .filter((F.col("__rn") == 1) & (F.col("__op") != "D"))
               .drop("__rn", "__op", self.op_col))
        return pcoll.with_df(out)


def _rank_scaled_words(df, cols, bits: int):
    """Equi-depth rank scaling of arbitrary orderable numeric columns
    (doubles included) onto [0, 2^bits), as ``__w{i}`` bigint columns.

    Per column: the DISTINCT-value count frame gets a cumulative
    row-rank (window over the cardinality-bounded distinct frame, NOT
    the data), then word = (rank_before * (2^bits - 1)) DIV (n - 1) —
    pure integer arithmetic on exact counts, so words are bit-equal
    across engines even though the inputs are doubles. Equi-depth by
    construction: each word covers ~equal data mass, which is what
    file-level min/max pruning wants under skew (min-max scaling
    collapses under outliers). NULL input -> NULL word (left-join
    miss). NaN is rejected up-front: Spark orders NaN largest while
    other engines vary, so a NaN would make the key engine-dependent.

    Cost: one groupBy + one value-keyed left join per column — unlike
    min-max's zero-shuffle expression. That is the honest price of
    rank scaling; for write_zordered it is amortized against the
    range exchange the write performs anyway.
    """
    from pyspark.sql import Window

    top = (1 << int(bits)) - 1
    out = df
    for i, c in enumerate(cols):
        cnt = (df.where(F.col(c).isNotNull())
               .groupBy(F.col(c).alias("__v"))
               .agg(F.count(F.lit(1)).alias("__c")))
        wcum = (Window.orderBy("__v")
                .rowsBetween(Window.unboundedPreceding,
                             Window.currentRow))
        wall = Window.partitionBy()
        ranked = cnt.select(
            "__v",
            (F.sum("__c").over(wcum) - F.col("__c")).alias("__r"),
            F.sum("__c").over(wall).alias("__n"))
        word = (F.when(F.isnan(F.col("__v").cast("double")),
                       F.raise_error(F.lit(
                           f"rank scaling: NaN in column {c!r} — "
                           "NaN order is engine-dependent; filter or "
                           "impute first")).cast("long"))
                .when(F.col("__n") > 1,
                      F.expr(f"CAST((__r * {top}) DIV (__n - 1) "
                             "AS BIGINT)"))
                .otherwise(F.lit(0).cast("long")))
        ranked = ranked.select("__v", word.alias(f"__w{i}"))
        out = (out.join(ranked, on=out[c] == ranked["__v"], how="left")
               .drop("__v"))
    return out


class ZOrderKey(PTransform):
    """Morton (Z-order) clustering key over 2+ integer columns — the
    data-layout primitive behind Delta's OPTIMIZE ZORDER BY / Iceberg
    sort orders: writing files sorted by the interleaved key gives
    every participating column locality, so min/max file statistics
    prune scans on ANY of them (not just the leading sort column).

    ``scale='rank'`` extends the key to DOUBLE (any orderable numeric)
    columns via equi-depth rank scaling — see
    :func:`_rank_scaled_words` for the exactness and cost story; the
    default ``'minmax'`` stays the zero-shuffle integer path.

    Each column is first scaled onto [0, 2^bits) with pure INTEGER
    arithmetic — (v - min) * (2^bits - 1) DIV (max - min), min/max
    from one global aggregate broadcast back — then the scaled words
    are bit-interleaved (column 0 owns bit positions 0, d, 2d, ...).
    Every step is integer shift/mask/or, so the key is bit-exact
    across engines by construction. Constant columns scale to 0. NULL
    in any participating column yields a NULL key (sort them last).

    Overflow bound: (max - min) * (2^bits - 1) must fit a BIGINT —
    with the default 16 bits that allows value ranges up to ~1.4e14;
    d * bits must be <= 63 (d = number of columns).

    Scale: ONE aggregation for the min/max frame (broadcast cross
    join), then a zero-shuffle expression — the expensive part of
    z-order layout is the final ORDER BY / repartitionByRange on the
    key, which is exactly the exchange the write needs anyway.

    Output: the input plus ``output_col`` (bigint).
    """

    def __init__(self, cols, bits: int = 16,
                 output_col: str = "zorder_key", scale: str = "minmax",
                 label=None):
        super().__init__(label)
        cols = [cols] if isinstance(cols, str) else list(cols)
        if len(cols) < 2:
            raise ValueError("ZOrderKey needs >= 2 columns")
        if not 1 <= int(bits) * len(cols) <= 63:
            raise ValueError(
                f"bits * n_cols = {int(bits) * len(cols)} outside "
                "[1, 63] (key must fit a BIGINT)")
        if scale not in ("minmax", "rank"):
            raise ValueError(f"scale must be 'minmax' or 'rank', "
                             f"got {scale!r}")
        self.cols, self.bits = cols, int(bits)
        self.output_col, self.scale = output_col, scale

    def expand(self, pcoll: PCollection) -> PCollection:
        b, d = self.bits, len(self.cols)
        top = (1 << b) - 1
        if self.scale == "rank":
            df = _rank_scaled_words(pcoll.df, self.cols, b)
            words = [F.col(f"__w{i}") for i in range(d)]
        else:
            aggs = []
            for i, c in enumerate(self.cols):
                aggs += [F.min(F.col(c).cast("long")).alias(f"__mn{i}"),
                         F.max(F.col(c).cast("long")).alias(f"__mx{i}")]
            mm = pcoll.df.agg(*aggs)
            df = pcoll.df.crossJoin(F.broadcast(mm))
            # integer scale: (v - min) * top DIV range — floor division
            # keeps every step integer-exact in both engines
            words = []
            for i, c in enumerate(self.cols):
                rng = F.col(f"__mx{i}") - F.col(f"__mn{i}")
                # NULL guard FIRST: the constant-column otherwise(0)
                # branch must not swallow NULL inputs (NULL in ->
                # NULL key)
                words.append(F.when(F.col(c).isNull(),
                                    F.lit(None).cast("long"))
                             .when(rng > 0,
                                   F.expr(f"CAST((({c} - __mn{i}) "
                                          f"* {top}) "
                                          f"DIV (__mx{i} - __mn{i}) "
                                          f"AS BIGINT)"))
                             .otherwise(F.lit(0).cast("long")))
        key = F.lit(0).cast("long")
        for i, w in enumerate(words):
            for bit in range(b):
                key = key.bitwiseOR(
                    F.shiftleft(F.shiftright(w, bit)
                                .bitwiseAND(F.lit(1)),
                                bit * d + i))
        drop = ([f"__w{i}" for i in range(d)] if self.scale == "rank"
                else [f"__mn{i}" for i in range(d)]
                + [f"__mx{i}" for i in range(d)])
        out = (df.withColumn(self.output_col, key.cast("long"))
               .drop(*drop))
        return pcoll.with_df(out)


class ReconcileTables(PTransform):
    """Row- and column-level diff between two versions of a keyed
    table — the post-backfill / post-migration reconciliation report
    ("what did the rewrite actually change?"). The piped collection is
    the BEFORE frame; ``other`` is the AFTER frame.

    One full-outer join on ``keys`` classifies every key as added
    (only in after), removed (only in before), changed (present in
    both, any compared column differs — NULL-SAFE: NULL vs value
    counts as a change, NULL vs NULL does not) or unchanged; among
    present-in-both rows each compared column reports its own differ
    count. Every output is an exact integer.

    ``columns``: compared columns (default: all shared non-key
    columns, in before-frame order). Keys are assumed UNIQUE per side
    (a keyed table's invariant) — duplicate keys fan out through the
    join and inflate the counts.

    Scale: ONE key-keyed full-outer join (AQE-skew-safe) + one global
    aggregation; the report is (4 + n_columns) rows regardless of
    table size.

    Output: (kind, name, n) — ('rows', added/removed/changed/
    unchanged, count) and ('column', <col>, differ-count).
    """

    def __init__(self, other, keys, columns=None, label=None):
        super().__init__(label)
        self.other = other.df if isinstance(other, PCollection) else other
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.columns = list(columns) if columns else None

    def expand(self, pcoll: PCollection) -> PCollection:
        left, right, ks = pcoll.df, self.other, self.keys
        cols = self.columns or [
            c for c in left.columns
            if c not in ks and c in right.columns]
        missing = [c for c in cols + ks
                   if c not in left.columns or c not in right.columns]
        if missing:
            raise ValueError(
                f"ReconcileTables: columns {missing} absent from one "
                "side")
        l = left.select(*ks, *[F.col(c).alias(f"__l_{c}") for c in cols],
                        F.lit(1).alias("__lp"))
        r = right.select(*ks,
                         *[F.col(c).alias(f"__r_{c}") for c in cols],
                         F.lit(1).alias("__rp"))
        j = l.join(r, on=ks, how="full_outer")
        diff = [~F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}"))
                for c in cols]
        if diff:
            any_diff = diff[0]
            for d in diff[1:]:
                any_diff = any_diff | d
        else:
            # only keys overlap: key-presence classification only —
            # matched rows count as unchanged, no per-column rows
            any_diff = F.lit(False)
        both = F.col("__lp").isNotNull() & F.col("__rp").isNotNull()
        agg = j.agg(
            F.sum(F.when(F.col("__lp").isNull(), 1).otherwise(0))
            .cast("long").alias("__added"),
            F.sum(F.when(F.col("__rp").isNull(), 1).otherwise(0))
            .cast("long").alias("__removed"),
            F.sum(F.when(both & any_diff, 1).otherwise(0))
            .cast("long").alias("__changed"),
            F.sum(F.when(both & ~any_diff, 1).otherwise(0))
            .cast("long").alias("__unchanged"),
            *[F.sum(F.when(both & d, 1).otherwise(0)).cast("long")
              .alias(f"__c_{c}") for c, d in zip(cols, diff)])
        rows = [F.struct(F.lit("rows").alias("kind"),
                         F.lit(nm).alias("name"),
                         F.col(f"__{nm}").alias("n"))
                for nm in ("added", "removed", "changed", "unchanged")]
        rows += [F.struct(F.lit("column").alias("kind"),
                          F.lit(c).alias("name"),
                          F.col(f"__c_{c}").alias("n")) for c in cols]
        out = (agg.select(F.explode(F.array(*rows)).alias("x"))
               .select("x.*"))
        return pcoll.with_df(out)


class HilbertKey(PTransform):
    """Hilbert-curve clustering key over exactly TWO integer columns —
    the better-locality alternative to ZOrderKey's Morton order (a
    Hilbert walk never jumps: consecutive keys are always grid
    neighbors, so range scans touch fewer files; Morton's quadrant
    seams cost ~10-30% extra I/O on range-heavy workloads).

    Columns scale onto [0, 2^bits) with the same integer floor-
    division scaling as ZOrderKey, then the classic xy2d walk (rotate
    + reflect per bit plane) computes the curve index. The per-bit
    rotation is DATA-DEPENDENT state, which rules out a flat Catalyst
    expression (unrolling doubles the tree per bit plane — projection
    collapse re-inlines it to 2^bits nodes); instead the walk runs as
    ``bits`` vectorized numpy passes per Arrow batch inside
    mapInPandas — integer ops only, so the key is still bit-exact
    across engines, and the Python cost is O(bits) ARRAY ops per
    batch, not per row.

    NULL in either column yields a NULL key. Same overflow bound as
    ZOrderKey; 2*bits <= 62.

    Scale: one min/max aggregate broadcast + one mapInPandas
    projection (zero shuffles); the write-side ORDER BY on the key is
    the exchange the layout needs anyway.

    Output: the input plus ``output_col`` (bigint in
    [0, 4^bits)).
    """

    def __init__(self, cols, bits: int = 16,
                 output_col: str = "hilbert_key", scale: str = "minmax",
                 label=None):
        super().__init__(label)
        cols = [cols] if isinstance(cols, str) else list(cols)
        if len(cols) != 2:
            raise ValueError("HilbertKey needs exactly 2 columns")
        if not 1 <= int(bits) <= 31:
            raise ValueError(f"bits {bits} outside [1, 31]")
        if scale not in ("minmax", "rank"):
            raise ValueError(f"scale must be 'minmax' or 'rank', "
                             f"got {scale!r}")
        self.cols, self.bits = cols, int(bits)
        self.output_col, self.scale = output_col, scale

    def expand(self, pcoll: PCollection) -> PCollection:
        b = self.bits
        top = (1 << b) - 1
        if self.scale == "rank":
            # equi-depth rank scaling — double-column support, same
            # exactness/cost story as ZOrderKey (see
            # _rank_scaled_words)
            df = _rank_scaled_words(pcoll.df, self.cols, b)
        else:
            aggs = []
            for i, c in enumerate(self.cols):
                aggs += [F.min(F.col(c).cast("long")).alias(f"__mn{i}"),
                         F.max(F.col(c).cast("long")).alias(f"__mx{i}")]
            mm = pcoll.df.agg(*aggs)
            df = pcoll.df.crossJoin(F.broadcast(mm))
            for i, c in enumerate(self.cols):
                rng = F.col(f"__mx{i}") - F.col(f"__mn{i}")
                df = df.withColumn(
                    f"__w{i}",
                    F.when(F.col(c).isNull(), F.lit(None).cast("long"))
                    .when(rng > 0,
                          F.expr(f"CAST((({c} - __mn{i}) * {top}) "
                                 f"DIV (__mx{i} - __mn{i}) AS BIGINT)"))
                    .otherwise(F.lit(0).cast("long")))
            df = df.drop(*[f"__mn{i}" for i in range(2)],
                         *[f"__mx{i}" for i in range(2)])
        in_fields = [f for f in df.schema.fields
                     if f.name not in ("__w0", "__w1")]
        schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in in_fields
        ) + f", {self.output_col} bigint"
        oc = self.output_col
        keep = [f.name for f in in_fields]

        def fn(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                ok = pdf["__w0"].notna() & pdf["__w1"].notna()
                x = pdf["__w0"].fillna(0).to_numpy(dtype=np.int64)
                y = pdf["__w1"].fillna(0).to_numpy(dtype=np.int64)
                d = np.zeros(len(pdf), dtype=np.int64)
                s = np.int64(1) << (b - 1)
                while s > 0:
                    rx = ((x & s) > 0).astype(np.int64)
                    ry = ((y & s) > 0).astype(np.int64)
                    d += s * s * ((3 * rx) ^ ry)
                    swap = ry == 0
                    flip = swap & (rx == 1)
                    xf = np.where(flip, s - 1 - x, x)
                    yf = np.where(flip, s - 1 - y, y)
                    x, y = (np.where(swap, yf, xf),
                            np.where(swap, xf, yf))
                    s >>= 1
                out = pdf[keep].copy()
                # Nullable Int64, NOT .loc[...] = None into int64:
                # that coerces the column to float64 and corrupts
                # every key with bits >= 27 (2^53 mantissa) in any
                # batch containing one NULL-input row.
                out[oc] = pd.arrays.IntegerArray(
                    d, mask=(~ok).to_numpy())
                yield out

        return pcoll.with_df(df.mapInPandas(fn, schema))


def write_zordered(df: DataFrame, path: str, cols, bits: int = 16,
                   partitions: int | None = None,
                   curve: str = "morton", mode: str = "overwrite",
                   scale: str = "minmax"):
    """OPTIMIZE ZORDER-style layout write: compute the clustering key
    (Morton or Hilbert), range-partition and sort the data by it, and
    write parquet WITHOUT the key column — every participating column
    gets file-level min/max locality, so scans filtering on ANY of
    them prune files. ``partitions`` controls the output file count
    (default: the session's batch shuffle partitions). The exchange this
    adds (one repartitionByRange on the key) is the write's shuffle —
    there is no extra pass. ``scale='rank'`` clusters DOUBLE (any
    orderable numeric) columns via equi-depth rank scaling — see
    :func:`_rank_scaled_words`.
    """
    if curve not in ("morton", "hilbert"):
        raise ValueError(f"curve {curve!r}: 'morton' or 'hilbert'")
    op = (ZOrderKey(cols, bits=bits, output_col="__zk", scale=scale)
          if curve == "morton"
          else HilbertKey(cols, bits=bits, output_col="__zk",
                          scale=scale))
    keyed = (PCollection(df) | op).df
    n = partitions or batch_shuffle_partitions(df.sparkSession)
    (keyed.repartitionByRange(n, F.col("__zk"))
     .sortWithinPartitions("__zk")
     .drop("__zk")
     .write.mode(mode).parquet(path))


class MergeInto(PTransform):
    """Engine-level MERGE INTO (Delta/Iceberg upsert semantics) as a
    pure DataFrame transform: the piped collection is the TARGET
    table, ``source`` the change set; the output is the post-merge
    table. Reference point: Spark's own MERGE requires a transactional
    table format — this gives the identical row-level semantics on
    plain frames/parquet:

      * matched (key in both, ``match_condition`` true):
        'update' -> source values for ``update_cols`` (default: all
        shared non-key columns), 'delete' -> row dropped,
        None -> target row kept unchanged
      * matched but condition false: target row kept unchanged
      * target-only: kept — unless ``when_not_matched_by_source=
        'delete'`` (Delta's third clause: full-mirror sync drops
        target keys absent from the source; KEY-level, so a
        key-matched row failing ``match_condition`` still survives)
      * source-only: 'insert' -> source row (when_not_matched),
        None -> ignored

    Ambiguous matches: like Delta, a target row matching MULTIPLE
    source rows is an error — ``validate=True`` (default) folds a
    duplicate-source-key guard INTO the merge plan (a per-key count
    window on the source + assert_true in the filter), so the error
    surfaces from within the single merge job at ACTION time — zero
    extra jobs, which is what a hot foreachBatch upsert loop needs.
    Disable only when the source is known key-unique.

    ``match_condition``: optional SQL boolean over ``t.<col>`` /
    ``s.<col>`` prefixed columns (e.g. "s.ts > t.ts" — the
    late-arrival guard), evaluated only on key-matched pairs.

    Scale: ONE key-keyed full-outer join (AQE skew handling applies)
    + a projection; the validate window shuffles the source on the
    same keys the join shuffles on. Output column order = target
    column order.
    """

    def __init__(self, source, keys, when_matched: str | None = "update",
                 when_not_matched: str | None = "insert",
                 update_cols=None, match_condition: str | None = None,
                 when_not_matched_by_source: str | None = None,
                 validate: bool = True, label=None):
        super().__init__(label)
        self.source = (source.df if isinstance(source, PCollection)
                       else source)
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        if when_matched not in ("update", "delete", None):
            raise ValueError(f"when_matched {when_matched!r}: "
                             "'update', 'delete' or None")
        if when_not_matched not in ("insert", None):
            raise ValueError(f"when_not_matched {when_not_matched!r}: "
                             "'insert' or None")
        # Delta's third clause: target rows whose KEY has no source
        # row at all ('delete' = sync-style full mirror). Key-level:
        # a key-matched row failing match_condition is still MATCHED.
        if when_not_matched_by_source not in ("delete", None):
            raise ValueError(
                f"when_not_matched_by_source "
                f"{when_not_matched_by_source!r}: 'delete' or None")
        self.when_not_matched_by_source = when_not_matched_by_source
        self.when_matched = when_matched
        self.when_not_matched = when_not_matched
        self.update_cols = list(update_cols) if update_cols else None
        self.match_condition = match_condition
        self.validate = bool(validate)

    def expand(self, pcoll: PCollection) -> PCollection:
        t, s, ks = pcoll.df, self.source, self.keys
        out_cols = t.columns
        upd = self.update_cols or [
            c for c in t.columns if c not in ks and c in s.columns]
        missing = [c for c in upd + ks if c not in s.columns]
        if missing and self.when_matched == "update":
            raise ValueError(
                f"MergeInto: update columns {missing} absent from the "
                "source")
        # inserted rows carry NULL for target-only columns — standard
        # MERGE behavior, nothing to validate on the insert side
        # presence flags via key NULL-ness would be wrong when keys
        # can be NULL — a literal marker column per side is not;
        # the marker goes on BEFORE .alias() (withColumn would strip
        # the subquery alias)
        ta = t.withColumn("__tp", F.lit(1)).alias("t")
        if self.validate:
            # duplicate-source-key guard folded INTO the merge plan:
            # a per-key count window on the source, asserted inside
            # the SOURCE-side presence marker itself — every source
            # row evaluates it when __sp is computed, BEFORE the join
            # and independent of which rows the keep filter retains
            # (an assert conjoined into `keep` is skipped by And
            # short-circuit for rows an earlier conjunct drops, e.g.
            # when_matched='delete'). Zero extra jobs — the window's
            # shuffle is on the same keys the join shuffles on
            # anyway, which matters in hot foreachBatch upsert loops
            # where a driver-side pre-flight would cost one job per
            # batch. assert_true returns NULL on success, so
            # when(guard.isNull(), 1) is always 1 — or throws.
            from pyspark.sql import Window
            guard = F.assert_true(
                F.count(F.lit(1)).over(
                    Window.partitionBy(
                        *[F.col(k) for k in ks])) <= F.lit(1),
                F.concat(
                    F.lit("MergeInto: source has multiple rows for "
                          "key ("),
                    F.concat_ws(
                        ", ",
                        *[F.coalesce(F.col(k).cast("string"),
                                     F.lit("NULL")) for k in ks]),
                    F.lit(") — MERGE requires a key-unique source "
                          "(Delta raises the same); pre-aggregate or "
                          "pass validate=False at your own risk")))
            sa = s.withColumn(
                "__sp", F.when(guard.isNull(), F.lit(1))).alias("s")
        else:
            sa = s.withColumn("__sp", F.lit(1)).alias("s")
        j = ta.join(
            sa,
            on=[F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
                for k in ks],
            how="full_outer")
        matched = F.col("__tp").isNotNull() & F.col("__sp").isNotNull()
        if self.match_condition:
            matched = matched & F.expr(self.match_condition)
        t_only = F.col("__tp").isNotNull() & F.col("__sp").isNull()
        s_only = F.col("__tp").isNull() & F.col("__sp").isNotNull()
        key_matched = (F.col("__tp").isNotNull()
                       & F.col("__sp").isNotNull())
        # condition-failed key matches are always kept unchanged
        keep = key_matched & ~matched
        if self.when_not_matched_by_source is None:
            keep = keep | t_only            # else: by-source delete
        if self.when_matched in ("update", None):
            keep = keep | matched
        if self.when_not_matched == "insert":
            keep = keep | s_only
        proj = []
        for c in out_cols:
            src_c = (F.col(f"s.{c}") if c in s.columns
                     else F.lit(None))
            if c in ks:
                proj.append(F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}"))
                            .alias(c))
            elif self.when_matched == "update" and c in upd:
                proj.append(
                    F.when(matched | s_only, src_c)
                    .otherwise(F.col(f"t.{c}")).alias(c))
            else:
                proj.append(
                    F.when(s_only, src_c)
                    .otherwise(F.col(f"t.{c}")).alias(c))
        out = j.where(keep).select(*proj)
        return pcoll.with_df(out)
