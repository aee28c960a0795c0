"""MATCH_RECOGNIZE — complex event processing (SURVEY.md §2.9 BeamMatchRel).

Beam reference: sdks/java/extensions/sql/impl/rel/BeamMatchRel.java (486
LoC: sort rows per partition key :378, run an NFA over them :234) and the
NFA itself impl/nfa/NFA.java (795 LoC). Semantics re-implemented (not
ported): regex-over-rows with per-symbol predicates, greedy quantifiers
(incl. bounded ``{n,m}``), alternation groups ``(A|B)``, AFTER MATCH SKIP
PAST LAST ROW | TO NEXT ROW | TO FIRST/LAST <symbol>, measures over the
matched span.

Spark design: ``groupBy(keys).applyInPandas`` — each key's rows are
sorted by the ORDER BY column in pandas and a small backtracking matcher
runs per group (the group is the natural CEP unit and Beam executes it
the same way). At scale the shuffle is one partition-by-key exchange;
skewed keys are the caveat (same as Beam's per-key sort).

Execution: symbol predicates are evaluated ONCE per (symbol, row) into
numpy boolean masks before matching — the backtracking matcher then only
reads bits, so predicate cost is O(rows x symbols) rather than
O(rows x scan x backtrack). Predicates supplied as ``vectorized()``
defines evaluate whole-column (no per-row Python at all, and row dicts
are materialized lazily only for rows inside a match); plain callables
fall back to one pass over row dicts.

Pattern language:
  pattern = sequence of (symbol(s), quantifier) where symbol(s) is a
  name, a tuple of alternatives ``("C", "P")`` (leftmost alternative
  labels each row), or ``Permute("A", "B", ...)`` (all symbols once
  each in any order; orderings backtrack in lexicographic preference),
  and quantifier is ``'1' | '?' | '+' | '*'`` or a bounded
  ``(min, max)`` tuple (max=None for unbounded).
Measures: callables over the list of (symbol, row) pairs of one match.

Divergence note (documented): within one quantified alternation run the
row label is the leftmost alternative whose predicate passes; the
matcher backtracks on run LENGTH but not on per-row alternative choice.
For disjoint alternatives (the SQL-standard common case) this is exact;
overlapping alternatives that require cross-row label backtracking need
the full NFA (Beam's NFA.java has the same greedy default).
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import types as T

from beam_spark.pcollection import PCollection, PTransform
from beam_spark.types import schema_from_dict

SKIP_PAST_LAST_ROW = "past_last_row"
SKIP_TO_NEXT_ROW = "to_next_row"


def skip_to_first(symbol: str) -> tuple:
    """``AFTER MATCH SKIP TO FIRST <symbol>``: resume matching AT the
    first row the symbol mapped to (SQL standard; Beam NFA.java's
    SKIP_TO_FIRST)."""
    return ("to_first", symbol)


def skip_to_last(symbol: str) -> tuple:
    """``AFTER MATCH SKIP TO [LAST] <symbol>``: resume matching AT the
    last row the symbol mapped to (``SKIP TO X`` in SQL is shorthand
    for LAST)."""
    return ("to_last", symbol)


def _next_start(after_match, m, pos):
    """Resumption index after a match per the AFTER MATCH clause.
    ``m`` is the match as (symbol, row_index) pairs, ``pos`` its start.
    """
    if after_match == SKIP_PAST_LAST_ROW:
        return m[-1][1] + 1
    if after_match == SKIP_TO_NEXT_ROW:
        return pos + 1
    mode, tsym = after_match
    idxs = [idx for s, idx in m if s == tsym]
    if not idxs:
        raise ValueError(
            f"AFTER MATCH SKIP TO {tsym}: the symbol did not occur in "
            "the match")
    tgt = idxs[0] if mode == "to_first" else idxs[-1]
    if tgt <= pos:
        raise ValueError(
            f"AFTER MATCH SKIP TO {tsym} resumes at the match's start "
            "row — an infinite loop, which the SQL standard defines as "
            "a runtime error")
    return tgt

ONE_ROW_PER_MATCH = "one"
ALL_ROWS_PER_MATCH = "all"


class Define:
    """Symbol predicate as a vectorized mask: ``mask_fn(pdf) -> bool
    array`` takes the sorted frame and returns one bit per row. (A plain
    row callable in ``defines`` is the other predicate form; see
    :class:`MatchRecognize`.)

    ``frontier_sensitive`` marks predicates whose mask reads FORWARD
    neighbor rows (NEXT shifts): their value at the last buffered row
    can change when more data arrives, so the streaming matcher must
    reject them (a frontier evaluation could wrongly release rows).
    Backward (PREV) shifts are NOT frontier-sensitive — declare their
    depth in ``prev_depth`` and the streaming matcher retains that many
    consumed rows as shift context.

    ``ctx_fn(cols, pos, acc) -> bool`` is an optional MATCH-STATE
    predicate evaluated on top of the mask during matching — ``cols``
    maps column name -> numpy array for the sorted group, ``acc`` is the
    list of (symbol, row_index) labels already committed in the current
    candidate match. This is what FIRST/LAST symbol references in DEFINE
    compile to (``B AS B.value < FIRST(A.value)``). Streaming-safe:
    ctx only reads rows inside the match, so phantom frontier positions
    simply evaluate as matching.
    """

    __slots__ = ("mask_fn", "frontier_sensitive", "ctx_fn", "prev_depth")

    def __init__(self, mask_fn: Callable, *,
                 frontier_sensitive: bool = False,
                 ctx_fn: Callable | None = None,
                 prev_depth: int = 0):
        self.mask_fn = mask_fn
        self.frontier_sensitive = frontier_sensitive
        self.ctx_fn = ctx_fn
        #: largest backward (PREV) shift the mask reads. Backward-only
        #: masks are streaming-safe when the matcher retains this many
        #: consumed rows as shift context (set frontier_sensitive for
        #: FORWARD (NEXT) reads — those genuinely depend on the future).
        self.prev_depth = int(prev_depth)


def vectorized(mask_fn: Callable, **options) -> Define:
    """Vectorized symbol predicate: ``mask_fn`` takes the group's sorted
    pandas DataFrame and returns a boolean array (one bit per row). If
    the mask reads FORWARD neighbor rows (``shift(-k)``), set
    ``frontier_sensitive=True`` — required for streaming correctness;
    if it reads only BACKWARD rows (``shift(k)``), declare the max
    shift in ``prev_depth`` instead and it stays streaming-safe.
    ``ctx_fn(cols, pos, acc)`` adds a match-state condition (see
    :class:`Define`)."""
    return Define(mask_fn, **options)


def _is_quantifier(q) -> bool:
    return q in ("1", "?", "+", "*") or (
        isinstance(q, tuple) and len(q) == 2
        and all(x is None or isinstance(x, int) for x in q))


class Permute:
    """PERMUTE(e1, e2, ...) pattern group (Calcite/Beam NFA PERMUTE):
    one repetition matches ALL the elements once each in ANY order;
    orderings are tried in lexicographic order of the element list
    (the SQL-standard expansion order) with full backtracking. Each
    element may itself be QUANTIFIED or a group — pass ``"A"`` for a
    bare symbol or ``(node, quant)`` pairs like the top-level pattern:
    ``Permute("A", ("B", "+"), (Seq(("C", "1")), "?"))``."""

    __slots__ = ("items",)

    def __init__(self, *elements):
        if len(elements) < 2:
            raise ValueError("PERMUTE needs at least two elements")
        pairs = [e if (isinstance(e, tuple) and len(e) == 2
                       and _is_quantifier(e[1])) else (e, "1")
                 for e in elements]
        self.items = _normalize_pattern(pairs)


class Seq:
    """Nested sequence group ``(A B+)`` usable as a quantified pattern
    item: one repetition matches the sub-pattern once. Items are
    (symbol/group, quantifier) pairs like the top-level pattern."""

    __slots__ = ("items",)

    def __init__(self, *items):
        if not items:
            raise ValueError("empty sequence group")
        self.items = _normalize_pattern(items)


class Alt:
    """Sequence-level alternation ``((A B)|C)``: branches tried in
    order, full backtracking. Each branch is a symbol, a Seq, or any
    other group node."""

    __slots__ = ("branches",)

    def __init__(self, *branches):
        if len(branches) < 2:
            raise ValueError("alternation needs at least two branches")
        self.branches = tuple(branches)


def _symbols_of(node):
    """All symbols reachable from a pattern node (for DEFINE checks and
    the lead-mask superset)."""
    if isinstance(node, Permute):
        out = set()
        for sub, _, _ in node.items:
            out |= _symbols_of(sub)
        return out
    if isinstance(node, Seq):
        out = set()
        for sub, _, _ in node.items:
            out |= _symbols_of(sub)
        return out
    if isinstance(node, Alt):
        out = set()
        for b in node.branches:
            out |= _symbols_of(b if isinstance(b, (Permute, Seq, Alt))
                               else (b,) if isinstance(b, str) else b)
        return out
    if isinstance(node, str):
        return {node}
    return set(node)  # tuple of alternative symbols


def _normalize_pattern(pattern: Sequence[tuple]) -> list[tuple]:
    """-> [(node, min, max_or_None), ...] where node is a tuple of
    alternative symbols, a Permute, a Seq, or an Alt."""
    out = []
    for sym, quant in pattern:
        if isinstance(sym, (Permute, Seq, Alt)):
            alts = sym
        else:
            alts = tuple(sym) if isinstance(sym, (tuple, list)) else (sym,)
        if quant == "1":
            mn, mx = 1, 1
        elif quant == "?":
            mn, mx = 0, 1
        elif quant == "+":
            mn, mx = 1, None
        elif quant == "*":
            mn, mx = 0, None
        elif isinstance(quant, tuple):
            mn, mx = quant
            if mn < 0 or (mx is not None and mx < mn):
                raise ValueError(f"bad bounded quantifier {quant}")
        else:
            raise ValueError(f"unknown quantifier {quant!r}")
        out.append((alts, mn, mx))
    return out


def _node_min_rows(node) -> int:
    if isinstance(node, Permute):
        return _pattern_min_rows(node.items)
    if isinstance(node, Seq):
        return _pattern_min_rows(node.items)
    if isinstance(node, Alt):
        return min(_node_min_rows(b) if isinstance(b, (Permute, Seq, Alt))
                   else 1 for b in node.branches)
    return 1


def _pattern_min_rows(pattern: list) -> int:
    """Minimum rows a (normalized) pattern can consume — the phantom-row
    budget for streaming frontier decisions."""
    return sum(mn * _node_min_rows(node) for node, mn, _ in pattern)


def _runlen_true(mask):
    """run_len[i] = number of consecutive True entries starting at i
    (0 where mask[i] is False) — O(n) numpy, no Python loop. This is
    what lets the matcher consume a whole greedy symbol run as one
    array slice instead of one Python mask probe per row."""
    import numpy as np

    n = mask.shape[0]
    ext = np.append(np.flatnonzero(~mask), n)
    nxt = ext[np.searchsorted(ext, np.arange(n), side="left")]
    return nxt - np.arange(n)


def _make_fast_runs(masks: Mapping, ctx_syms: frozenset):
    """Per-partition cache: alts tuple -> (codes, runlen) where
    codes[i] is the index of the LEFTMOST alternative whose mask is
    True at row i (-1 if none) and runlen is the consecutive-any-alt
    run length. Symbols with match-state predicates (ctx) can't be
    precomputed (their truth depends on the candidate's committed
    labels) — those alts return (None, None) and the matcher falls
    back to the per-row path."""
    import numpy as np

    cache: dict = {}

    def fast(alts: tuple):
        got = cache.get(alts)
        if got is None:
            if any(s in ctx_syms for s in alts):
                got = (None, None)
            elif len(alts) == 1:
                m = masks[alts[0]]
                got = (None, _runlen_true(m))
            else:
                codes = np.full(masks[alts[0]].shape[0], -1,
                                dtype=np.int64)
                for j in range(len(alts) - 1, -1, -1):
                    codes[masks[alts[j]]] = j
                got = (codes, _runlen_true(codes >= 0))
            cache[alts] = got
        return got

    return fast


def _match_at(masks: Mapping, n_rows: int, start: int,
              pattern: list, ctx: Mapping | None = None,
              require_end: int | None = None,
              fast=None) -> list | None:
    """Greedy backtracking matcher over precomputed masks; returns list
    of (symbol, row_index) or None. Pattern items: (alts|Permute, min,
    max). Quantifier counts and PERMUTE orderings backtrack; within a
    quantified alternation run each row takes the leftmost matching
    alternative (see module docstring).

    ``ctx`` optionally maps symbol -> ``fn(pos, acc) -> bool``: a
    MATCH-STATE predicate evaluated on top of the symbol's mask, where
    ``acc`` is the list of (symbol, row_index) labels committed so far
    in the current candidate match (the current row NOT included) —
    this is what FIRST/LAST symbol references in DEFINE compile to.
    Labels depend only on PRECEDING acc entries, so backtracking a
    quantifier run keeps its retained prefix valid."""
    import itertools

    ctx = ctx or {}

    def ok(s, pos, acc):
        if not masks[s][pos]:
            return False
        f = ctx.get(s)
        return True if f is None else bool(f(pos, acc))

    def label(alts, pos, acc):
        for s in alts:
            if ok(s, pos, acc):
                return s
        return None

    def seq_matches(items, p, acc):
        """Yield (acc', end) for matching a sub-pattern item list."""
        if not items:
            yield acc, p
            return
        node, mn, mx = items[0]
        rest = items[1:]
        for acc1, p1 in expand_item(node, mn, mx, p, acc):
            yield from seq_matches(rest, p1, acc1)

    def one_rep(node, p, acc):
        """Yield (acc', end) for ONE repetition of a group node."""
        if isinstance(node, Seq):
            yield from seq_matches(node.items, p, acc)
        elif isinstance(node, Alt):
            for b in node.branches:
                if isinstance(b, (Seq, Alt, Permute)):
                    yield from one_rep(b, p, acc)
                else:
                    alts = (b,) if isinstance(b, str) else tuple(b)
                    if p < n_rows:
                        s = label(alts, p, acc)
                        if s is not None:
                            yield acc + [(s, p)], p + 1
        elif isinstance(node, Permute):
            # each ordering of the (possibly quantified / grouped)
            # elements is just a sequence — full backtracking within
            # and across orderings via seq_matches
            for perm in itertools.permutations(node.items):
                yield from seq_matches(list(perm), p, acc)

    def expand_item(alts, mn, mx, pos, acc):
        """Yield (acc', end_pos) candidates in preference order
        (greedy: more repetitions first; ordering/branch backtracking
        within each count)."""
        if isinstance(alts, (Permute, Seq, Alt)):
            def reps(p, acc0, depth):
                if depth == 0:
                    yield acc0, p
                    return
                for acc1, p1 in one_rep(alts, p, acc0):
                    if p1 == p:  # zero-width rep: no progress, stop
                        continue
                    yield from reps(p1, acc1, depth - 1)
            max_reps = mx if mx is not None else max(n_rows - pos, mn)
            for count in range(max_reps, mn - 1, -1):
                yield from reps(pos, acc, count)
            # SQL-standard empty-group matching: a group whose body can
            # itself match zero-width (every sub-item optional, e.g.
            # ((A?) B)) satisfies a min>=1 quantifier with an empty
            # match — reps() skips no-progress repetitions, so surface
            # the zero-width candidate explicitly (after all non-empty
            # candidates: greedy preference order)
            if mn >= 1:
                for _a1, p1 in one_rep(alts, pos, acc):
                    if p1 == pos:
                        yield acc, pos
                        break
            return
        # plain symbol / row-level alternation run: greedy forward scan,
        # then backtrack on the run LENGTH. Labels committed earlier in
        # the run stay valid when the tail is cut (prefix-stability).
        if fast is not None:
            codes, rl = fast(tuple(alts))
            if rl is not None:
                # vectorized run: the whole greedy run comes from the
                # precomputed consecutive-true length (capped by the
                # quantifier max and the candidate window), labels
                # from the leftmost-alternative code array — no
                # per-row Python probe
                L = int(rl[pos]) if pos < n_rows else 0
                L = min(L, n_rows - pos)
                if mx is not None:
                    L = min(L, mx)
                if codes is None:
                    s0 = alts[0]
                    run = [(s0, p) for p in range(pos, pos + L)]
                else:
                    run = [(alts[c], p) for p, c in
                           zip(range(pos, pos + L), codes[pos:pos + L])]
                for n in range(L, mn - 1, -1):
                    yield acc + run[:n], pos + n
                return
        run = []
        p = pos
        acc_run = acc
        while (mx is None or len(run) < mx) and p < n_rows:
            s = label(alts, p, acc_run)
            if s is None:
                break
            run.append((s, p))
            acc_run = acc_run + [(s, p)] if ctx else acc_run
            p += 1
        for n in range(len(run), mn - 1, -1):
            yield acc + run[:n], pos + n

    def rec(pos, pi, acc):
        if pi == len(pattern):
            # $ anchor: the match must consume through require_end;
            # returning None here keeps backtracking alive, so the
            # greedy-preferred match SATISFYING the anchor is found
            # (not a post-filter on the unanchored greedy match)
            if require_end is not None and pos != require_end:
                return None
            return acc
        alts, mn, mx = pattern[pi]
        for acc1, end in expand_item(alts, mn, mx, pos, acc):
            r = rec(end, pi + 1, acc1)
            if r is not None:
                return r
        return None

    return rec(start, 0, [])


def _ts_ms(s):
    """Event times of a datetime64 series as int64 UTC milliseconds,
    whatever the series' unit (``pd.Timestamp(v).value // 10**6`` per
    row, vectorized); a tz-aware series normalizes to UTC first."""
    import numpy as np

    if getattr(s.dtype, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.to_numpy().astype("datetime64[ms]").astype(np.int64)


def _require_timestamp(df, col: str, what: str) -> None:
    """Plan-time check that ``col`` is a timestamp: a numeric column
    would silently use the wrong unit for WITHIN and maturity."""
    dt = df.schema[col].dataType
    if not isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        raise TypeError(f"{what} needs a timestamp column ({col} is "
                        f"{dt.simpleString()})")


def _encode_state(held, match_no: int, shift_ctx) -> bytes:
    """One streaming state record per key: ``{"cols": held rows, "mn":
    matches emitted so far, "ctx": PREV shift context}``. Each frame
    crosses the state boundary as pickled {column -> numpy array} (None
    when empty): numeric and datetime columns serialize as raw buffers,
    so encode/decode cost is O(columns), not O(rows) — the
    coder-encoded-state discipline of trigger_manager.py:123."""
    import pickle

    def cols(df):
        if df is None or not len(df):
            return None
        return {c: df[c].to_numpy() for c in df.columns}

    return pickle.dumps({"cols": cols(held), "mn": match_no,
                         "ctx": cols(shift_ctx)})


def _decode_state(blob):
    """-> (held rows, match number, shift context); frames are None when
    empty. Any other record shape raises rather than being misread."""
    import pickle

    import pandas as pd

    saved = pickle.loads(bytes(blob))
    if not isinstance(saved, dict) or set(saved) != {"cols", "mn", "ctx"}:
        raise ValueError(
            "MatchRecognize: the streaming state record is not the "
            "columnar {cols, mn, ctx} record (a checkpoint from an older "
            "build?) — restart the query from a new checkpoint")

    def frame(cols):
        return None if cols is None else pd.DataFrame(cols)

    return frame(saved["cols"]), saved["mn"], frame(saved["ctx"])


class _MatchCore:
    """What batch and streaming MATCH_RECOGNIZE share: how a DEFINE
    becomes a mask over a sorted frame, how match-state (ctx)
    predicates bind to its columns, and how a found match becomes
    output rows. Both paths run ``_match_at`` over these masks and emit
    through ``emit``, so a stream returns what the batch query returns;
    each path keeps only where a match may start and end."""

    def __init__(self, mr: "MatchRecognize"):
        self.defines, self.measures = mr.defines, mr.measures
        self.after_match = mr.after_match
        self.all_rows = mr.rows_per_match == ALL_ROWS_PER_MATCH
        self.running = self.all_rows and mr.measure_semantics == "running"
        self.excluded, self.unalias = mr.exclude_symbols, mr.symbol_aliases
        self.ctx_fns = {sym: d.ctx_fn for sym, d in mr.defines.items()
                        if isinstance(d, Define) and d.ctx_fn is not None}
        schema = mr.output_schema
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        if self.all_rows and "__classifier" not in schema.fieldNames():
            schema = (schema
                      .add("__classifier", T.StringType())
                      .add("__match_number", T.LongType()))
        self.schema = schema
        self.out_cols = schema.fieldNames()

    def masks(self, pdf) -> dict:
        """symbol -> bool array over the rows of ``pdf``: a Define's
        mask, or a plain row callable over row dicts (built once, and
        only when such a callable exists)."""
        import numpy as np

        records, out = None, {}
        for sym, d in self.defines.items():
            if isinstance(d, Define):
                out[sym] = np.asarray(d.mask_fn(pdf)).astype(bool)
                continue
            if records is None:
                records = pdf.to_dict(orient="records")
            out[sym] = np.fromiter((bool(d(r)) for r in records),
                                   dtype=bool, count=len(pdf))
        return out

    def ctx(self, cols: Mapping, n_real: int):
        """The match-state predicates bound to ``cols`` (column ->
        array over the matched frame), as ``_match_at`` calls them:
        symbol -> ``fn(pos, acc)``, with ``acc`` un-aliased so a
        FIRST/LAST reference sees original names. None if no DEFINE
        has one. Positions at or past ``n_real`` are the streaming
        phantoms and match (ctx only reads rows inside the match)."""
        if not self.ctx_fns:
            return None
        unalias = self.unalias

        def bind(f):
            def ok(pos, acc):
                if pos >= n_real:
                    return True
                return f(cols, pos, [(unalias.get(s, s), i) for s, i in acc]
                         if unalias else acc)
            return ok

        return {sym: bind(f) for sym, f in self.ctx_fns.items()}

    def emit(self, m: list, start: int, cols: Mapping, key: dict,
             match_no: int, out: list) -> int:
        """Append the output rows of match ``m`` ((symbol, row) pairs
        found at ``start`` over ``cols``) to ``out``; return the row
        where matching resumes (AFTER MATCH SKIP). ``key`` holds the
        partition values ONE ROW PER MATCH carries; ``match_no`` is the
        match's 1-based number within its partition. Only the matched
        rows become dicts."""
        # suppression is POSITIONAL: mark the excluded occurrences'
        # rows BEFORE un-aliasing, then give measures / skip /
        # classifier the original names
        excl_rows = {idx for sym, idx in m if sym in self.excluded}
        if self.unalias:
            m = [(self.unalias.get(sym, sym), idx) for sym, idx in m]
        match_rows = [(sym, {c: v[idx] for c, v in cols.items()})
                      for sym, idx in m]
        measures = self.measures
        meas = {name: fn(match_rows) for name, fn in measures.items()}
        if not self.all_rows:
            out.append({**key, **meas})
        else:
            for ridx, (sym, r) in enumerate(match_rows):
                if m[ridx][1] in excl_rows:
                    continue
                meas_r = (meas if not self.running else
                          {name: (meas[name]
                                  if getattr(fn, "final_semantics", False)
                                  else fn(match_rows[:ridx + 1]))
                           for name, fn in measures.items()})
                out.append({**r, **meas_r, "__classifier": sym,
                            "__match_number": match_no})
        return _next_start(self.after_match, m, start)


class MatchRecognize(PTransform):
    """Row-pattern matching per key (BeamMatchRel semantics).

    Args:
      partition_by: key column(s).
      order_by: event-order column (ties: add a secondary unique column).
      pattern: [('A', '1'), ('B', '+'), (('C','D'), (2, 4)), ...] —
        regex-over-rows with alternation tuples and bounded quantifiers.
      defines: {'A': predicate} where predicate is a row callable, or a
        ``vectorized()`` / Define for whole-column evaluation.
      measures: {'out_col': lambda match_rows: value} where match_rows is
        the list of (symbol, row_dict) pairs in match order.
      output_schema: schema of partition_by cols + measure cols (ONE ROW
        PER MATCH) — in ALL ROWS PER MATCH mode pass the INPUT columns
        you want forwarded plus the measure cols; ``__classifier`` and
        ``__match_number`` are appended automatically.
      after_match: SKIP_PAST_LAST_ROW (default), SKIP_TO_NEXT_ROW, or
        ``skip_to_first(sym)`` / ``skip_to_last(sym)`` — resume AT the
        first/last row the symbol mapped to (errors if that is the
        match's start row, per the SQL standard).
      rows_per_match: ONE_ROW_PER_MATCH (default, SQL standard default)
        or ALL_ROWS_PER_MATCH — one output row per MATCHED INPUT ROW,
        carrying that row's columns, the row's pattern variable
        (``__classifier``), the 1-based ``__match_number``, and the
        measures (FINAL or RUNNING, see ``measure_semantics``).
    """

    def __init__(self, partition_by, order_by,
                 pattern: Sequence[tuple], defines: Mapping,
                 measures: Mapping[str, Callable], output_schema,
                 after_match: str = SKIP_PAST_LAST_ROW,
                 rows_per_match: str = ONE_ROW_PER_MATCH,
                 within: str | None = None,
                 measure_semantics: str = "final",
                 drain_state_ttl: str | None = None,
                 anchor_start: bool = False, anchor_end: bool = False,
                 exclude_symbols=(), symbol_aliases=None, label=None):
        """``within``: optional time bound ("10 minutes") — a match must
        complete within this interval of its first row (Flink/Calcite
        ``PATTERN (...) WITHIN``). On streams this BOUNDS STATE: once
        the watermark passes start_ts + within, the decision at that
        start is definitive (no phantoms) and the rows drain; without
        it, an open pattern can hold its key's rows indefinitely.

        ``measure_semantics`` (ALL ROWS PER MATCH only): 'final' (each
        output row carries the whole-match measure values) or 'running'
        (the SQL-standard default for that mode — measures evaluate over
        the match PREFIX up to each row).

        ``anchor_start`` / ``anchor_end`` (SQL PATTERN ``^`` / ``$``
        anchors, batch only): the match must begin at the partition's
        first row / consume through its last row. ``$`` is enforced
        DURING the backtracking search (the greedy-preferred match
        satisfying the anchor is found, not a post-filter). Streaming
        rejects both — a partition's first/last row is undefined on an
        unbounded input until drain.

        ``drain_state_ttl`` (streaming only): when a key's row buffer
        fully drains, a counter-only state record (match number + PREV
        shift context, ~bytes) survives so ``__match_number`` stays
        per-key monotone exactly like the batch replay. None (default)
        keeps it for the stream's lifetime — the per-key cost is a few
        bytes but the key cardinality is unbounded; set a duration
        ("1 hour") to expire idle keys' counters, accepting that a key
        silent for longer restarts numbering."""
        from beam_spark.streaming.core import _parse_delay

        super().__init__(label)
        if rows_per_match not in (ONE_ROW_PER_MATCH, ALL_ROWS_PER_MATCH):
            raise ValueError(
                f"rows_per_match must be ONE_ROW_PER_MATCH or "
                f"ALL_ROWS_PER_MATCH, not {rows_per_match!r}")
        self.rows_per_match = rows_per_match
        if measure_semantics not in ("final", "running"):
            raise ValueError(measure_semantics)
        self.measure_semantics = measure_semantics

        def ms(delay):
            return (None if delay is None
                    else int(_parse_delay(delay).total_seconds() * 1000))

        self.within_ms = ms(within)
        self.drain_ttl_ms = ms(drain_state_ttl)
        self.partition_by = ([partition_by] if isinstance(partition_by, str)
                             else list(partition_by))
        self.order_by = [order_by] if isinstance(order_by, str) else list(order_by)
        self.pattern = _normalize_pattern(pattern)
        self.defines = dict(defines)
        self.measures = dict(measures)
        self.output_schema = (schema_from_dict(output_schema)
                              if isinstance(output_schema, dict) else output_schema)
        self.after_match = after_match
        self.anchor_start = bool(anchor_start)
        self.anchor_end = bool(anchor_end)
        #: SQL:2016 pattern exclusion {- ... -}: these symbols' rows
        #: participate in matching AND in measures, but are omitted
        #: from ALL ROWS PER MATCH output (no effect in ONE ROW mode)
        self.exclude_symbols = frozenset(exclude_symbols)
        #: POSITIONAL exclusion support: {alias: original}. An alias
        #: is a private pattern symbol sharing the original's DEFINE
        #: (bound here); the matcher labels rows with the alias, and
        #: matches un-alias immediately after being found — measures,
        #: CLASSIFIER, and AFTER MATCH SKIP all see the original name,
        #: while the alias's membership in exclude_symbols marks that
        #: OCCURRENCE's rows for ALL-ROWS suppression. This is how
        #: ``A {- A -} A`` excludes only the middle occurrence
        #: (NFA.java:795 tracks the same thing as per-state emit
        #: flags).
        self.symbol_aliases = dict(symbol_aliases or {})
        for alias, orig in self.symbol_aliases.items():
            if orig not in self.defines:
                raise ValueError(
                    f"symbol_aliases: alias {alias!r} points at "
                    f"{orig!r}, which has no DEFINE")
            self.defines.setdefault(alias, self.defines[orig])
        needed = {s for alts, _, _ in self.pattern
                  for s in _symbols_of(alts)}
        stray = self.exclude_symbols - needed
        if stray:
            raise ValueError(
                f"exclude_symbols not in the pattern: {sorted(stray)}")
        missing = needed - set(self.defines)
        if missing:
            raise ValueError(f"pattern symbols without DEFINE: {sorted(missing)}")
        if after_match not in (SKIP_PAST_LAST_ROW, SKIP_TO_NEXT_ROW) and not (
                isinstance(after_match, tuple) and len(after_match) == 2
                and after_match[0] in ("to_first", "to_last")
                and after_match[1] in {self.symbol_aliases.get(s, s)
                                       for s in needed}):
            raise ValueError(
                f"after_match must be SKIP_PAST_LAST_ROW, SKIP_TO_NEXT_ROW, "
                f"or skip_to_first/skip_to_last of a pattern symbol, not "
                f"{after_match!r}")

    def expand(self, pcoll: PCollection) -> PCollection:
        import numpy as np
        import pandas as pd

        if not pcoll.is_bounded:
            if self.anchor_start or self.anchor_end:
                raise ValueError(
                    "PATTERN anchors (^ / $) are batch-only: a "
                    "partition's first/last row is undefined on an "
                    "unbounded input until drain")
            return self._expand_streaming(pcoll)

        core = _MatchCore(self)
        anchor_start, anchor_end = self.anchor_start, self.anchor_end
        keys, order_by, pattern = self.partition_by, self.order_by, self.pattern
        within_ms = self.within_ms
        if within_ms is not None:
            _require_timestamp(pcoll.df, order_by[0],
                               "WITHIN (the first order_by column)")

        # Superset of feasible match starts: union of the alternative
        # masks of every leading item up to and including the first
        # mandatory (min>0) one. Lets the scan loop jump between
        # candidates instead of probing every row.
        lead_items = []
        for alts, mn, _ in pattern:
            lead_items.append(tuple(_symbols_of(alts)))
            if mn > 0:
                break

        def _boundaries(pdf):
            """Group-start flags over a (keys)-sorted frame. factorize
            is NaN-safe (NULL keys get one code), so NULL-key rows form
            one group exactly like groupBy would."""
            n = len(pdf)
            change = np.zeros(n, dtype=bool)
            change[0] = True
            for k in keys:
                kc = pd.factorize(pdf[k], use_na_sentinel=False)[0]
                change[1:] |= kc[1:] != kc[:-1]
            return change

        def process(pdf: "pd.DataFrame", out: list) -> None:
            """Match over a SORTED frame holding MANY complete groups:
            masks / column arrays / run-length tables build ONCE per
            Arrow-batch body (defines are elementwise, so multi-group
            evaluation is identical to per-group), then the matcher
            walks each group through numpy slice VIEWS. This is the
            many-small-groups posture: per-group pandas fixed costs
            (sort, frame construction) amortize across the batch."""
            n = len(pdf)
            if n == 0:
                return
            masks = core.masks(pdf)
            lead_all = np.zeros(n, dtype=bool)
            for alts in lead_items:
                for s in alts:
                    lead_all |= masks[s]
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            fast_all = _make_fast_runs(masks, frozenset(core.ctx_fns))
            if within_ms is not None:
                ts_all = _ts_ms(pdf[order_by[0]])

            change = _boundaries(pdf)
            gstarts = np.flatnonzero(change)
            gends = np.append(gstarts[1:], n)
            for g_lo, g_hi in zip(gstarts, gends):
                g_lo, g_hi = int(g_lo), int(g_hi)
                gn = g_hi - g_lo
                gmasks = {s: m[g_lo:g_hi] for s, m in masks.items()}
                gcols = {c: v[g_lo:g_hi] for c, v in cols.items()}

                def gfast(alts, _lo=g_lo, _hi=g_hi):
                    # absolute run lengths may extend past the group
                    # end; expand_item caps at n_rows - pos, which is
                    # exactly the group-boundary cut
                    codes, rl = fast_all(alts)
                    if rl is None:
                        return (None, None)
                    return (None if codes is None else codes[_lo:_hi],
                            rl[_lo:_hi])

                ctx = core.ctx(gcols, gn)
                starts = np.flatnonzero(lead_all[g_lo:g_hi])
                if anchor_start:
                    # ^ : the only admissible candidate start is row 0
                    starts = (starts[:1]
                              if len(starts) and starts[0] == 0
                              else starts[:0])
                req_end = gn if anchor_end else None
                key_rec = {k: gcols[k][0] for k in keys}
                if within_ms is not None:
                    ts_arr = ts_all[g_lo:g_hi]
                # SQL:2016 MATCH_NUMBER is sequential per MATCH within
                # its partition, not per emitted row: a match whose
                # rows are all excluded via {- -} still advances it
                # (the streaming path persists the same counter).
                i = match_no = 0
                for pos in starts:
                    if pos < i:
                        continue
                    j_end = gn
                    if within_ms is not None:
                        # WITHIN bound: candidate rows are those inside
                        # the start row's time window
                        j_end = int(np.searchsorted(
                            ts_arr, ts_arr[pos] + within_ms,
                            side="right"))
                    m = _match_at(gmasks, j_end, pos, pattern, ctx,
                                  require_end=req_end, fast=gfast)
                    if m:
                        match_no += 1
                        i = core.emit(m, pos, gcols, key_rec, match_no,
                                      out)
                    else:
                        i = pos + 1

        def gen(batches):
            """mapInPandas driver over a (keys + order_by)-sorted
            partition: Arrow batch boundaries can SPLIT a group, so
            the last (possibly incomplete) group of each batch is
            carried into the next; everything before it is complete
            and processed in bulk."""
            carry = None
            for pdf in batches:
                if carry is not None and len(carry):
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                    carry = None
                n = len(pdf)
                if n == 0:
                    continue
                last_start = int(np.flatnonzero(_boundaries(pdf))[-1])
                if last_start == 0:
                    carry = pdf          # one (possibly open) group
                    continue
                carry = pdf.iloc[last_start:].reset_index(drop=True)
                body = pdf.iloc[:last_start].reset_index(drop=True)
                out: list = []
                process(body, out)
                if out:
                    yield pd.DataFrame(out, columns=core.out_cols)
            if carry is not None and len(carry):
                out = []
                process(carry, out)
                if out:
                    yield pd.DataFrame(out, columns=core.out_cols)

        # repartition by key + sort within partitions replaces the
        # per-group applyInPandas: one JVM sort instead of a pandas
        # mergesort per group, and each python call sees a whole Arrow
        # batch of groups — the difference between 15k tiny UDF calls
        # and ~100 batch calls at sf1
        out = (pcoll.df.repartition(*keys)
               .sortWithinPartitions(*keys, *order_by)
               .mapInPandas(gen, schema=core.schema))
        return pcoll.with_df(out)

    def _expand_streaming(self, pcoll: PCollection) -> PCollection:
        """Streaming CEP (Beam SQL MATCH_RECOGNIZE on unbounded input /
        Flink CEP shape): per-key row buffer in state, matcher runs over
        the watermark-mature prefix each micro-batch.

        Emission rule (no retraction needed): the matcher runs over the
        mature rows extended by ``min_rows(pattern)`` PHANTOM rows on
        which every symbol matches — the stand-in for rows that may
        still arrive. A match that stays entirely within the mature
        region is definitive (greedy quantifiers would have consumed the
        all-matching phantoms if extension were possible) and is
        emitted; a match touching a phantom is inconclusive and held; no
        match even WITH phantoms is a definitive failure and the start
        row is released. Consumed rows (SKIP PAST LAST ROW) drop from
        state; the held tail is bounded by the watermark's out-of-order
        allowance plus one open match span. A key whose pattern stays
        open holds its rows until more data arrives (event-time
        semantics: absence is unprovable without a WITHIN bound — same
        as Beam's NFA).

        Requires a watermarked event-time column as the first
        ``order_by`` key. Both ONE and ALL ROWS PER MATCH are
        supported; in ALL mode each matched input row is emitted with
        its columns, measures (FINAL, or RUNNING prefixes with
        ``measure_semantics='running'``), ``__classifier`` and
        ``__match_number``. Numbering is per-key monotone ACROSS full
        buffer drains: a counter-only state record (match number + PREV
        shift context) survives the drain, so streaming numbers agree
        with the batch replay; ``drain_state_ttl`` bounds that record's
        lifetime for unbounded key cardinalities.

        State is one record per key, the columnar ``{cols, mn, ctx}``
        of ``_encode_state``; a record in any other format (as written
        by builds before it) fails the query instead of restoring.
        """
        import numpy as np
        import pandas as pd
        from pyspark.sql.streaming.state import GroupStateTimeout

        for sym, d in self.defines.items():
            if isinstance(d, Define) and d.frontier_sensitive:
                raise ValueError(
                    f"DEFINE {sym} reads FORWARD neighbor rows (NEXT): "
                    "its mask at the buffer frontier would change when "
                    "more data arrives, so the streaming matcher cannot "
                    "evaluate it safely — use batch mode or rewrite the "
                    "predicate row-locally (PREV-only masks ARE "
                    "supported: declare prev_depth)")
        core = _MatchCore(self)
        # PREV-only masks are backward-looking: retain max_prev consumed
        # rows as shift context so PREV at the buffer head still sees
        # its (consumed) predecessor, matching the batch sort.
        max_prev = max((d.prev_depth for d in self.defines.values()
                        if isinstance(d, Define)), default=0)
        keys, order_by, pattern = self.partition_by, self.order_by, self.pattern
        ts_col = pcoll.ts_col or order_by[0]
        _require_timestamp(pcoll.df, ts_col,
                           "streaming MATCH_RECOGNIZE's event time")
        within_ms, drain_ttl_ms = self.within_ms, self.drain_ttl_ms
        phantoms = max(1, _pattern_min_rows(pattern))

        def fn(key, pdfs, state):
            parts, match_no, ctx_df = [], 0, None
            if state.exists:
                held, match_no, ctx_df = _decode_state(state.get[0])
                if held is not None:
                    parts.append(held)
            for pdf in pdfs:
                if len(pdf):
                    parts.append(pdf)
            if not parts:
                # reachable only via a timeout on a counter-only record
                # (keys with data always repopulate buf). With a TTL
                # configured the fired timer IS the expiry (we always
                # overwrite the timer when keeping the record); without
                # one it is a stale buffer-drain timer — keep the record.
                if drain_ttl_ms is None and state.exists:
                    return
                if state.exists:
                    state.remove()
                return
            buf = (parts[0] if len(parts) == 1
                   else pd.concat(parts, ignore_index=True))
            # stable multi-key sort: held rows keep arrival order on
            # ties, exactly like the old list.sort on key tuples
            buf = buf.sort_values(list(order_by), kind="stable",
                                  ignore_index=True)
            wm = state.getCurrentWatermarkMs()

            ts_all = _ts_ms(buf[ts_col])
            over = ts_all > wm
            # first index with ts > wm == the old linear-scan stop
            n_mature = int(over.argmax()) if over.any() else len(buf)

            out = []
            consumed = 0
            if n_mature > 0:
                mature = buf.iloc[:n_mature]
                if max_prev and ctx_df is not None and len(ctx_df):
                    # evaluate masks over (shift context + mature) and
                    # slice the context off: PREV at the buffer head
                    # then reads the retained consumed rows, exactly as
                    # the batch sort would
                    n_ctx = len(ctx_df)
                    ext = pd.concat([ctx_df, mature], ignore_index=True)
                    raw_masks = {sym: m[n_ctx:]
                                 for sym, m in core.masks(ext).items()}
                else:
                    raw_masks = core.masks(mature)
                masks = {sym: np.concatenate(
                            [mask, np.ones(phantoms, dtype=bool)])
                         for sym, mask in raw_masks.items()}
                n_ext = n_mature + phantoms
                ts_arr = ts_all[:n_mature]
                cols = {c: mature[c].to_numpy() for c in mature.columns}
                ctx = core.ctx(cols, n_mature)
                # the run arrays span the full phantom-extended buffer;
                # every _match_at call caps by its own n_rows, so one
                # cache serves the open and the WITHIN-closed variants
                fast = _make_fast_runs(masks, frozenset(core.ctx_fns))
                key_rec = dict(zip(keys, key))
                i = 0
                while i < n_mature:
                    j_end, closed = n_ext, False
                    if within_ms is not None and wm >= ts_arr[i] + within_ms:
                        # window over: decide on rows <= limit only, no
                        # phantoms — definitive either way
                        closed = True
                        j_end = int(np.searchsorted(
                            ts_arr, ts_arr[i] + within_ms, side="right"))
                    m = _match_at(masks, j_end, i, pattern, ctx, fast=fast)
                    if m is None:
                        # not even all-matching future rows can complete
                        # a match here: release the row
                        consumed = max(consumed, i + 1)
                        i += 1
                    elif closed or m[-1][1] < n_mature:
                        # definitive: window closed, or fully mature
                        # (greedy would have taken phantoms if extension
                        # were possible)
                        match_no += 1
                        i = core.emit(m, i, cols, key_rec, match_no, out)
                        consumed = max(consumed, i)
                    else:
                        break  # touches phantoms: hold until decidable
            if max_prev:
                ctx_parts = [x for x in (ctx_df, buf.iloc[:consumed])
                             if x is not None and len(x)]
                ctx_df = (pd.concat(ctx_parts, ignore_index=True)
                          .iloc[-max_prev:].reset_index(drop=True)
                          if ctx_parts else None)
            held = len(buf) - consumed
            if held > 0:
                state.update((_encode_state(buf.iloc[consumed:], match_no,
                                            ctx_df),))
                # wake when the watermark passes the earliest held row —
                # or, with WITHIN, when its window closes (guaranteed
                # drain even if the key never sees another row)
                target = int(ts_all[consumed]) + 1
                if within_ms is not None:
                    target = int(ts_all[consumed]) + within_ms + 1
                state.setTimeoutTimestamp(max(target, wm + 1))
            elif match_no or (ctx_df is not None and len(ctx_df)):
                # full drain: keep the counter-only record so match
                # numbering (and PREV context at the next row) survives
                # — the batch-equivalence guarantee. ~bytes per key;
                # drain_state_ttl expires it for idle keys.
                state.update((_encode_state(None, match_no, ctx_df),))
                if drain_ttl_ms is not None:
                    state.setTimeoutTimestamp(wm + drain_ttl_ms)
            else:
                state.remove()
            if out:
                yield pd.DataFrame(out, columns=core.out_cols)

        out_df = (pcoll.df.groupBy(*keys)
                  .applyInPandasWithState(
                      fn, outputStructType=core.schema,
                      stateStructType="blob binary",
                      outputMode="append",
                      timeoutConf=GroupStateTimeout.EventTimeTimeout))
        return pcoll.with_df(out_df)
