"""MATCH_RECOGNIZE matcher unit tests: quantifiers, backtracking,
after-match skip modes."""

import pytest

from beam_spark.pcollection import Pipeline
from beam_spark.operators.core import Create
from beam_spark.operators.cep import (MatchRecognize, SKIP_TO_NEXT_ROW,
                                      _match_at, _normalize_pattern)


def rows(*types):
    return [{"k": 1, "i": i, "t": t} for i, t in enumerate(types)]


DEF = {"A": lambda r: r["t"] == "a", "B": lambda r: r["t"] == "b",
       "C": lambda r: r["t"] == "c"}


def match(rs, start, pattern, defines=DEF):
    """Adapter: evaluate row predicates into masks, run the matcher."""
    import numpy as np
    masks = {s: np.array([bool(f(r)) for r in rs], dtype=bool)
             for s, f in defines.items()}
    return _match_at(masks, len(rs), start, _normalize_pattern(pattern))


def test_matcher_plus_greedy_backtrack():
    # A+ A: greedy A+ must backtrack to leave one 'a' for the final A
    m = match(rows("a", "a", "a"), 0, [("A", "+"), ("A", "1")])
    assert [s for s, _ in m] == ["A", "A", "A"]


def test_matcher_optional_and_star():
    m = match(rows("b", "c"), 0, [("A", "?"), ("B", "*"), ("C", "1")])
    assert [(s, i) for s, i in m] == [("B", 0), ("C", 1)]
    assert match(rows("c"), 0, [("A", "?"), ("C", "1")]) is not None
    assert match(rows("b"), 0, [("A", "1")]) is None


def test_matcher_bounded_quantifiers():
    # A{2,3} B: greedy takes 3 a's, backtracks to 2 if B needs the third
    m = match(rows("a", "a", "a", "b"), 0, [("A", (2, 3)), ("B", "1")])
    assert [s for s, _ in m] == ["A", "A", "A", "B"]
    m = match(rows("a", "a", "b"), 0, [("A", (2, 3)), ("B", "1")])
    assert [s for s, _ in m] == ["A", "A", "B"]
    assert match(rows("a", "b"), 0, [("A", (2, 3)), ("B", "1")]) is None
    # exact count {2}
    m = match(rows("a", "a", "a"), 0, [("A", (2, 2)), ("A", "1")])
    assert [s for s, _ in m] == ["A", "A", "A"]
    # {n,} unbounded upper
    m = match(rows("a", "a", "a", "b"), 0, [("A", (1, None)), ("B", "1")])
    assert [s for s, _ in m] == ["A", "A", "A", "B"]


def test_matcher_alternation():
    # (A|B)+ C — leftmost alternative labels each row
    m = match(rows("a", "b", "a", "c"), 0, [(("A", "B"), "+"), ("C", "1")])
    assert [(s, i) for s, i in m] == [("A", 0), ("B", 1), ("A", 2), ("C", 3)]
    # single-position alternation
    m = match(rows("b"), 0, [(("A", "B"), "1")])
    assert [(s, i) for s, i in m] == [("B", 0)]
    assert match(rows("c"), 0, [(("A", "B"), "1")]) is None


def test_match_recognize_skip_modes(spark):
    data = rows("a", "a", "b")  # A+ B with overlap potential
    base = dict(
        partition_by="k", order_by="i",
        pattern=[("A", "+"), ("B", "1")], defines=DEF,
        measures={"n_a": lambda m: sum(1 for s, _ in m if s == "A"),
                  "end_i": lambda m: m[-1][1]["i"]},
        output_schema="k long, n_a long, end_i long")
    past = (Pipeline(spark) | Create(data)
            | MatchRecognize(**base)).collect()
    assert [(r["n_a"], r["end_i"]) for r in past] == [(2, 2)]
    nxt = (Pipeline(spark) | Create(data)
           | MatchRecognize(**base, after_match=SKIP_TO_NEXT_ROW)).collect()
    # overlapping matches allowed: starting at row0 (2 a's) and row1 (1 a)
    assert sorted((r["n_a"], r["end_i"]) for r in nxt) == [(1, 2), (2, 2)]


def test_match_recognize_per_key_isolation(spark):
    data = [{"k": 1, "i": 0, "t": "a"}, {"k": 2, "i": 1, "t": "b"}]
    out = (Pipeline(spark) | Create(data)
           | MatchRecognize(partition_by="k", order_by="i",
                            pattern=[("A", "1"), ("B", "1")], defines=DEF,
                            measures={"n": lambda m: len(m)},
                            output_schema="k long, n long")).collect()
    assert out == []  # a and b in different keys: no cross-key match


def test_matcher_permute():
    from beam_spark.operators.cep import Permute

    # PERMUTE(A,B): either order, each exactly once
    m = match(rows("a", "b"), 0, [(Permute("A", "B"), "1")])
    assert [(s, i) for s, i in m] == [("A", 0), ("B", 1)]
    m = match(rows("b", "a"), 0, [(Permute("A", "B"), "1")])
    assert [(s, i) for s, i in m] == [("B", 0), ("A", 1)]
    assert match(rows("a", "a"), 0, [(Permute("A", "B"), "1")]) is None
    # ordering backtracks against the NEXT item: rows b a a with
    # PERMUTE(A,B) A — must label (B,A) then A, not greedily misassign
    m = match(rows("b", "a", "a"), 0, [(Permute("A", "B"), "1"), ("A", "1")])
    assert [(s, i) for s, i in m] == [("B", 0), ("A", 1), ("A", 2)]
    # three symbols, middle ordering
    m = match(rows("c", "a", "b"), 0, [(Permute("A", "B", "C"), "1")])
    assert [(s, i) for s, i in m] == [("C", 0), ("A", 1), ("B", 2)]
    # quantified PERMUTE: two repetitions
    m = match(rows("a", "b", "b", "a"), 0, [(Permute("A", "B"), (2, 2))])
    assert [(s, i) for s, i in m] == [("A", 0), ("B", 1), ("B", 2), ("A", 3)]
    # ambiguous row (matches A and B): lexicographic preference picks
    # the A-first ordering
    AMBIG = {"A": lambda r: r["t"] in ("a", "x"),
             "B": lambda r: r["t"] in ("b", "x"),
             "C": lambda r: r["t"] == "c"}
    m = match(rows("x", "x"), 0, [(Permute("A", "B"), "1")], AMBIG)
    assert [(s, i) for s, i in m] == [("A", 0), ("B", 1)]

    # QUANTIFIED elements inside PERMUTE: A+ absorbs a run in either
    # position
    m = match(rows("a", "a", "b"), 0,
              [(Permute(("A", "+"), "B"), "1")])
    assert [(s, i) for s, i in m] == [("A", 0), ("A", 1), ("B", 2)]
    m = match(rows("b", "a", "a"), 0,
              [(Permute(("A", "+"), "B"), "1")])
    assert [(s, i) for s, i in m] == [("B", 0), ("A", 1), ("A", 2)]
    # optional element: B? may be absent entirely
    m = match(rows("a",), 0, [(Permute("A", ("B", "?")), "1")])
    assert [(s, i) for s, i in m] == [("A", 0)]
    # quantifier backtracks against the NEXT item: A+ must stop early
    # so the trailing C still matches
    m = match(rows("a", "a", "c"), 0,
              [(Permute(("A", "+"), ("B", "?")), "1"), ("C", "1")])
    assert [(s, i) for s, i in m] == [("A", 0), ("A", 1), ("C", 2)]


def test_sql_permute_end_to_end(spark):
    """PERMUTE through the SQL front-end: signup and view in either
    order, then a purchase."""
    from beam_spark.sql import SqlTransform

    rows_in = [
        # user 1: signup, view, purchase -> match
        {"u": 1, "i": 1, "t": "signup"}, {"u": 1, "i": 2, "t": "view"},
        {"u": 1, "i": 3, "t": "purchase"},
        # user 2: view, signup, purchase -> match (other order)
        {"u": 2, "i": 1, "t": "view"}, {"u": 2, "i": 2, "t": "signup"},
        {"u": 2, "i": 3, "t": "purchase"},
        # user 3: signup, signup, purchase -> no match
        {"u": 3, "i": 1, "t": "signup"}, {"u": 3, "i": 2, "t": "signup"},
        {"u": 3, "i": 3, "t": "purchase"},
    ]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"ev": pc} | SqlTransform("""
        SELECT u, last_sym, n_rows
        FROM ev MATCH_RECOGNIZE (
          PARTITION BY u
          ORDER BY i
          MEASURES CLASSIFIER() AS last_sym,
                   FIRST(S.i) AS s_i, FIRST(V.i) AS v_i,
                   COUNT(P.i) AS n_rows
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (PERMUTE(S, V) P)
          DEFINE S AS S.t = 'signup',
                 V AS V.t = 'view',
                 P AS P.t = 'purchase'
        )""")).df
    got = {(r["u"], r["s_i"], r["v_i"]) for r in
           out.sparkSession.table("__mr_ev").select("u", "s_i", "v_i")
           .collect()}
    assert got == {(1, 1, 2), (2, 2, 1)}


def test_sql_permute_with_quantifiers(spark):
    """PERMUTE(V+, S) through the SQL front-end: a RUN of views and
    one signup in either order, then a purchase — the SQL:2016 form
    where PERMUTE elements are themselves quantified patterns."""
    from beam_spark.sql import SqlTransform

    rows_in = [
        # user 1: view view signup purchase -> match (V+ first)
        {"u": 1, "i": 1, "t": "view"}, {"u": 1, "i": 2, "t": "view"},
        {"u": 1, "i": 3, "t": "signup"},
        {"u": 1, "i": 4, "t": "purchase"},
        # user 2: signup view purchase -> match (S first)
        {"u": 2, "i": 1, "t": "signup"}, {"u": 2, "i": 2, "t": "view"},
        {"u": 2, "i": 3, "t": "purchase"},
        # user 3: signup purchase (no view) -> no match
        {"u": 3, "i": 1, "t": "signup"},
        {"u": 3, "i": 2, "t": "purchase"},
    ]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"ev": pc} | SqlTransform("""
        SELECT u, n_views FROM ev MATCH_RECOGNIZE (
          PARTITION BY u
          ORDER BY i
          MEASURES COUNT(V.i) AS n_views
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (PERMUTE(V+, S) P)
          DEFINE V AS V.t = 'view',
                 S AS S.t = 'signup',
                 P AS P.t = 'purchase'
        )""")).df
    got = {(r["u"], r["n_views"]) for r in out.collect()}
    assert got == {(1, 2), (2, 1)}


def test_sql_prev_navigation_falling_runs(spark):
    """PREV() in DEFINE (row navigation -> vectorized shift): maximal
    strictly-decreasing runs A B+ with B AS B.v < PREV(B.v)."""
    from beam_spark.sql import SqlTransform

    vals = [5, 4, 3, 7, 6, 2, 8]
    rows_in = [{"k": 1, "i": i, "v": v} for i, v in enumerate(vals)]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"s": pc} | SqlTransform("""
        SELECT k, top_v, bottom_v, n_down
        FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES FIRST(A.v) AS top_v,
                   LAST(B.v) AS bottom_v,
                   COUNT(B.v) AS n_down
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE B AS B.v < PREV(B.v)
        )""")).df
    got = sorted((r["top_v"], r["bottom_v"], r["n_down"])
                 for r in out.collect())
    assert got == [(5, 3, 2), (7, 2, 2)]


def test_sql_next_navigation(spark):
    """NEXT() navigation: rows immediately followed by a larger value."""
    from beam_spark.sql import SqlTransform

    vals = [1, 3, 2, 5]
    rows_in = [{"k": 1, "i": i, "v": v} for i, v in enumerate(vals)]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"s": pc} | SqlTransform("""
        SELECT k, rising_v
        FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES FIRST(R.v) AS rising_v
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (R)
          DEFINE R AS R.v < NEXT(R.v)
        )""")).df
    got = sorted(r["rising_v"] for r in out.collect())
    # 1<3, 2<5 rise; 3>2 and 5 (no next) don't
    assert got == [1, 2]


def test_matcher_nested_groups():
    from beam_spark.operators.cep import Alt, Seq

    # (A B)+ : repeated two-row sequence
    m = match(rows("a", "b", "a", "b", "c"), 0,
              [(Seq(("A", "1"), ("B", "1")), "+"), ("C", "1")])
    assert [(s, i) for s, i in m] == [
        ("A", 0), ("B", 1), ("A", 2), ("B", 3), ("C", 4)]
    # greedy backtracks reps: (A B)+ then A B? No — use ((A B)|C)+ D-like
    # shape: Alt of a sequence branch and a symbol branch
    alt = Alt(Seq(("A", "1"), ("B", "1")), "C")
    m = match(rows("a", "b", "c", "a", "b"), 0, [(alt, "+")])
    assert [(s, i) for s, i in m] == [
        ("A", 0), ("B", 1), ("C", 2), ("A", 3), ("B", 4)]
    # branch order preference: sequence branch first
    m = match(rows("a", "b"), 0, [(alt, "1")])
    assert [(s, i) for s, i in m] == [("A", 0), ("B", 1)]
    # quantified nested group backtracks count for the tail item
    m = match(rows("a", "b", "a", "b"), 0,
              [(Seq(("A", "1"), ("B", "1")), "+"),
               ("A", "1"), ("B", "1")])
    assert [(s, i) for s, i in m] == [
        ("A", 0), ("B", 1), ("A", 2), ("B", 3)]  # 1 rep + tail


def test_sql_nested_group_pattern(spark):
    """((V C)|P)+ through the SQL parser: view-click pairs or purchases,
    repeated."""
    from beam_spark.sql import SqlTransform

    seqs = ["view", "click", "purchase", "view", "click", "error"]
    rows_in = [{"k": 1, "i": i, "t": t} for i, t in enumerate(seqs)]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"s": pc} | SqlTransform("""
        SELECT k, n_v, n_p
        FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES COUNT(V.i) AS n_v, COUNT(P.i) AS n_p
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (((V C)|P)+)
          DEFINE V AS V.t = 'view', C AS C.t = 'click',
                 P AS P.t = 'purchase'
        )""")).df
    got = [(r["n_v"], r["n_p"]) for r in out.collect()]
    # one maximal match: (V C) P (V C) -> 2 view-click pairs + 1 purchase
    assert got == [(2, 1)]


def test_sql_parse_pattern_shapes():
    from beam_spark.operators.cep import Alt, Permute, Seq
    from beam_spark.sql_match import parse_pattern

    p = parse_pattern("V+ (C|P) A{2,4} PERMUTE(X, Y) ((A B)|C)+")
    assert p[0] == ("V", "+")
    assert p[1] == (("C", "P"), "1")
    assert p[2] == ("A", (2, 4))
    assert isinstance(p[3][0], Permute)
    assert p[3][0].items == [(("X",), 1, 1), (("Y",), 1, 1)]
    assert isinstance(p[4][0], Alt) and p[4][1] == "+"
    br = p[4][0].branches
    assert isinstance(br[0], Seq) and br[1] == "C"
    # single parenthesized sequence is a Seq group
    q = parse_pattern("(A B){2}")
    assert isinstance(q[0][0], Seq) and q[0][1] == (2, 2)


def test_all_rows_per_match_api(spark):
    from beam_spark.operators.cep import ALL_ROWS_PER_MATCH

    data = rows("a", "a", "b", "c", "a", "b")
    out = (Pipeline(spark) | Create(data)
           | MatchRecognize(
               partition_by="k", order_by="i",
               pattern=[("A", "+"), ("B", "1")], defines=DEF,
               measures={"n_a": lambda m: sum(1 for s, _ in m if s == "A")},
               output_schema="k long, i long, t string, n_a long",
               rows_per_match=ALL_ROWS_PER_MATCH)).collect()
    got = [(r["i"], r["t"], r["__classifier"], r["__match_number"], r["n_a"])
           for r in sorted(out, key=lambda r: r["i"])]
    # match 1: rows 0,1 (A,A) + row 2 (B); match 2: rows 4 (A) + 5 (B)
    assert got == [(0, "a", "A", 1, 2), (1, "a", "A", 1, 2),
                   (2, "b", "B", 1, 2),
                   (4, "a", "A", 2, 1), (5, "b", "B", 2, 1)]


def test_all_rows_per_match_sql(spark):
    from beam_spark.sql import SqlTransform

    data = rows("a", "b", "a", "b")
    pc = Pipeline(spark) | Create(data)
    out = ({"s": pc} | SqlTransform("""
        SELECT i, t, __classifier, __match_number
        FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES COUNT(A.i) AS n_a
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B)
          DEFINE A AS A.t = 'a', B AS B.t = 'b'
        )""")).df
    got = sorted((r["i"], r["t"], r["__classifier"], r["__match_number"])
                 for r in out.collect())
    assert got == [(0, "a", "A", 1), (1, "b", "B", 1),
                   (2, "a", "A", 2), (3, "b", "B", 2)]


def test_streaming_match_recognize(spark):
    """Streaming CEP: V+ P per user with watermark-gated emission — a
    match is emitted only once the watermark proves no earlier-ordered
    row can extend or break it (phantom-row frontier rule)."""
    from beam_spark.operators.cep import vectorized
    from beam_spark.streaming import (TestStream, WithWatermark,
                                      WriteStreamToMemory)

    ts = TestStream(spark, "t timestamp, u long, typ string, v long")
    # batch 0: two views (held — everything immature)
    ts.add_elements([{"t": "2024-01-01 00:00:10", "u": 1, "typ": "view", "v": 1},
                     {"t": "2024-01-01 00:00:20", "u": 1, "typ": "view", "v": 2}])
    # batch 1: the purchase (still not emittable: P at the frontier)
    ts.add_elements([{"t": "2024-01-01 00:00:30", "u": 1, "typ": "purchase",
                      "v": 9}])
    # batches 2-3: unrelated later rows advance the watermark past the
    # purchase so the V+ P match becomes definitive
    ts.add_elements([{"t": "2024-01-01 00:01:00", "u": 1, "typ": "error",
                      "v": 0}])
    ts.add_elements([{"t": "2024-01-01 00:02:00", "u": 1, "typ": "error",
                      "v": 0}])

    pc = (ts.stream()
          | WithWatermark("t", "10 seconds")
          | MatchRecognize(
              partition_by="u", order_by=["t"],
              pattern=[("V", "+"), ("P", "1")],
              defines={"V": vectorized(lambda pdf: pdf["typ"] == "view"),
                       "P": vectorized(lambda pdf: pdf["typ"] == "purchase")},
              measures={"n_views": lambda m: sum(1 for s, _ in m if s == "V"),
                        "purchase_v": lambda m: m[-1][1]["v"]},
              output_schema="u long, n_views long, purchase_v long")
          | WriteStreamToMemory(output_mode="append"))
    rows = [(r["u"], r["n_views"], r["purchase_v"]) for r in pc.collect()]
    assert rows == [(1, 2, 9)]


def test_streaming_match_recognize_no_premature_emission(spark):
    """A pattern whose tail is still extendable at the frontier must NOT
    emit: greedy V+ with no terminator stays held."""
    from beam_spark.operators.cep import vectorized
    from beam_spark.streaming import (TestStream, WithWatermark,
                                      WriteStreamToMemory)

    ts = TestStream(spark, "t timestamp, u long, typ string")
    ts.add_elements([{"t": "2024-01-01 00:00:10", "u": 1, "typ": "view"}])
    ts.add_elements([{"t": "2024-01-01 00:01:00", "u": 1, "typ": "view"}])

    pc = (ts.stream()
          | WithWatermark("t", "10 seconds")
          | MatchRecognize(
              partition_by="u", order_by=["t"],
              pattern=[("V", "+")],
              defines={"V": vectorized(lambda pdf: pdf["typ"] == "view")},
              measures={"n": lambda m: len(m)},
              output_schema="u long, n long")
          | WriteStreamToMemory(output_mode="append"))
    # both views could still be extended by future views: nothing emits
    assert pc.collect() == []


def test_within_batch(spark):
    """WITHIN bound (batch): V+ P only matches when the purchase lands
    inside the start row's window."""
    import datetime

    def t(sec):
        return datetime.datetime(2024, 1, 1, 0, 0, sec)

    data = [
        # fast funnel: match under 30s
        {"u": 1, "ts": t(0), "typ": "view"}, {"u": 1, "ts": t(10), "typ": "view"},
        {"u": 1, "ts": t(20), "typ": "purchase"},
        # slow funnel: purchase 50s after first view -> outside WITHIN 30s
        {"u": 2, "ts": t(0), "typ": "view"},
        {"u": 2, "ts": t(50), "typ": "purchase"},
    ]
    out = (Pipeline(spark) | Create(data)
           | MatchRecognize(
               partition_by="u", order_by=["ts"],
               pattern=[("V", "+"), ("P", "1")],
               defines={"V": lambda r: r["typ"] == "view",
                        "P": lambda r: r["typ"] == "purchase"},
               measures={"n": lambda m: len(m)},
               output_schema="u long, n long",
               within="30 seconds")).collect()
    assert [(r["u"], r["n"]) for r in out] == [(1, 3)]


def test_within_streaming_drains_state(spark):
    """WITHIN on streams: a held pattern whose window closes resolves
    definitively — the incomplete funnel emits nothing AND completed
    funnels emit without further same-key traffic."""
    from beam_spark.operators.cep import vectorized
    from beam_spark.streaming import (TestStream, WithWatermark,
                                      WriteStreamToMemory)

    ts = TestStream(spark, "t timestamp, u long, typ string")
    # user 1: view then purchase within 30s; user 2: view only
    ts.add_elements([{"t": "2024-01-01 00:00:05", "u": 1, "typ": "view"},
                     {"t": "2024-01-01 00:00:06", "u": 2, "typ": "view"}])
    ts.add_elements([{"t": "2024-01-01 00:00:20", "u": 1, "typ": "purchase"}])
    # advance the watermark far past both windows (other key)
    ts.add_elements([{"t": "2024-01-01 00:05:00", "u": 99, "typ": "error"}])
    ts.add_elements([{"t": "2024-01-01 00:06:00", "u": 99, "typ": "error"}])

    pc = (ts.stream()
          | WithWatermark("t", "10 seconds")
          | MatchRecognize(
              partition_by="u", order_by=["t"],
              pattern=[("V", "+"), ("P", "1")],
              defines={"V": vectorized(lambda pdf: pdf["typ"] == "view"),
                       "P": vectorized(lambda pdf: pdf["typ"] == "purchase")},
              measures={"n": lambda m: len(m)},
              output_schema="u long, n long",
              within="30 seconds")
          | WriteStreamToMemory(output_mode="append"))
    rows = sorted((r["u"], r["n"]) for r in pc.collect())
    # user 1 emits (window closed, match found); user 2's window closed
    # with no completion -> released, nothing emitted
    assert rows == [(1, 2)]


def test_within_sql_clause(spark):
    import datetime

    def t(sec):
        return datetime.datetime(2024, 1, 1, 0, 0, sec)

    from beam_spark.sql import SqlTransform

    data = [{"u": 1, "ts": t(0), "typ": "view"},
            {"u": 1, "ts": t(20), "typ": "purchase"},
            {"u": 2, "ts": t(0), "typ": "view"},
            {"u": 2, "ts": t(50), "typ": "purchase"}]
    pc = Pipeline(spark) | Create(data)
    out = ({"s": pc} | SqlTransform("""
        SELECT u, n
        FROM s MATCH_RECOGNIZE (
          PARTITION BY u
          ORDER BY ts
          MEASURES COUNT(P.ts) AS n
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (V P) WITHIN INTERVAL '30' SECOND
          DEFINE V AS V.typ = 'view', P AS P.typ = 'purchase'
        )""")).df
    assert [(r["u"], r["n"]) for r in out.collect()] == [(1, 1)]


def test_streaming_rejects_frontier_sensitive_defines(spark):
    """PREV/NEXT-style masks read neighbor rows, which is unsound at the
    stream buffer frontier — the streaming matcher must refuse them
    (review finding)."""
    import pytest

    from beam_spark.operators.cep import vectorized
    from beam_spark.streaming import TestStream, WithWatermark

    ts = TestStream(spark, "t timestamp, u long, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:10", "u": 1, "v": 1}])
    pc = ts.stream() | WithWatermark("t", "10 seconds")
    with pytest.raises(ValueError, match="frontier|neighboring"):
        pc | MatchRecognize(
            partition_by="u", order_by=["t"],
            pattern=[("D", "+")],
            defines={"D": vectorized(
                lambda pdf: pdf["v"] < pdf["v"].shift(1),
                frontier_sensitive=True)},
            measures={"n": lambda m: len(m)},
            output_schema="u long, n long")


def test_all_rows_running_measures(spark):
    """RUNNING semantics: measures evaluate over the match prefix at
    each row (SQL-standard default for ALL ROWS PER MATCH — the SQL
    front-end uses it; the python API opts in)."""
    from beam_spark.operators.cep import ALL_ROWS_PER_MATCH
    from beam_spark.sql import SqlTransform

    data = rows("a", "a", "b")
    out = (Pipeline(spark) | Create(data)
           | MatchRecognize(
               partition_by="k", order_by="i",
               pattern=[("A", "+"), ("B", "1")], defines=DEF,
               measures={"n_a": lambda m: sum(1 for s, _ in m if s == "A")},
               output_schema="k long, i long, t string, n_a long",
               rows_per_match=ALL_ROWS_PER_MATCH,
               measure_semantics="running")).collect()
    got = [(r["i"], r["n_a"]) for r in sorted(out, key=lambda r: r["i"])]
    assert got == [(0, 1), (1, 2), (2, 2)]  # prefix counts

    # the SQL clause applies RUNNING automatically in ALL ROWS mode
    pc = Pipeline(spark) | Create(data)
    sql_out = ({"s": pc} | SqlTransform("""
        SELECT i, n_a FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES COUNT(A.i) AS n_a
          ALL ROWS PER MATCH
          PATTERN (A+ B)
          DEFINE A AS A.t = 'a', B AS B.t = 'b'
        )""")).df
    got_sql = sorted((r["i"], r["n_a"]) for r in sql_out.collect())
    assert got_sql == [(0, 1), (1, 2), (2, 2)]


def test_sql_running_final_measure_keywords(spark):
    """SQL:2016 per-measure semantics keywords: in ALL ROWS PER MATCH
    an explicit FINAL pins the whole-match value on every emitted row
    while the default (and explicit RUNNING) evaluates the prefix;
    in ONE ROW PER MATCH both keywords are accepted no-ops."""
    from beam_spark.sql import SqlTransform

    data = rows("a", "a", "b")
    pc = Pipeline(spark) | Create(data)
    out = ({"s": pc} | SqlTransform("""
        SELECT i, n_run, n_fin, c_fin FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES RUNNING COUNT(A.i) AS n_run,
                   FINAL COUNT(A.i) AS n_fin,
                   FINAL CLASSIFIER() AS c_fin
          ALL ROWS PER MATCH
          PATTERN (A+ B)
          DEFINE A AS A.t = 'a', B AS B.t = 'b'
        )""")).df
    got = sorted((r["i"], r["n_run"], r["n_fin"], r["c_fin"])
                 for r in out.collect())
    assert got == [(0, 1, 2, "B"), (1, 2, 2, "B"), (2, 2, 2, "B")]

    one = ({"s": pc} | SqlTransform("""
        SELECT n FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES FINAL COUNT(A.i) AS n
          PATTERN (A+ B)
          DEFINE A AS A.t = 'a', B AS B.t = 'b'
        )""")).df
    assert one.collect()[0]["n"] == 2


def test_matcher_empty_group_matches_zero_width():
    """SQL-standard empty-group matching: a mandatory group whose body
    is entirely optional — PATTERN ((A?) B) — matches zero-width, so a
    row matching only B is accepted."""
    from beam_spark.operators.cep import Seq

    # ((A?) B) on a lone 'b': the group contributes nothing, B matches
    m = match(rows("b"), 0, [(Seq(("A", "?")), "1"), ("B", "1")])
    assert m is not None and [(s, i) for s, i in m] == [("B", 0)]
    # with the optional satisfied, the group still prefers the non-empty
    # match (greedy)
    m = match(rows("a", "b"), 0, [(Seq(("A", "?")), "1"), ("B", "1")])
    assert [(s, i) for s, i in m] == [("A", 0), ("B", 1)]
    # (A? B?){1} alone on no matching rows: zero-width group can't be
    # the WHOLE match (no rows consumed -> no match rows), but with a
    # tail it must not block
    m = match(rows("c"), 0, [(Seq(("A", "?"), ("B", "?")), "1"), ("C", "1")])
    assert [(s, i) for s, i in m] == [("C", 0)]


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, value double")


def test_sql_subset_and_first_in_define(spark):
    """SUBSET union variable in MEASURES + FIRST(S.value) in DEFINE:
    runs of cheap views after a signup, aggregated over U = (S, D)."""
    from beam_spark.pcollection import PCollection
    from beam_spark.sql import SqlTransform

    df = _mk_events(spark, [
        (1, 1, "signup", 5.0), (1, 2, "view", 3.0), (1, 3, "view", 4.0),
        (1, 4, "view", 9.0),                      # breaks the run
        (1, 5, "signup", 2.0), (1, 6, "view", 1.0),
        (2, 7, "signup", 1.0), (2, 8, "view", 7.0),  # no cheap view
    ]).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["f"])
                  .timestamp_micros(__import__("pyspark.sql.functions",
                                               fromlist=["f"])
                                    .col("event_id") * 1000000))
    out = ({"events": PCollection(df)} | SqlTransform("""
        SELECT user_id, signup_event_id, n_cheap, total_value, last_cheap
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(S.event_id) AS signup_event_id,
                   COUNT(D.event_id) AS n_cheap,
                   SUM(U.value) AS total_value,
                   LAST(D.value) AS last_cheap
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S D+)
          SUBSET U = (S, D)
          DEFINE S AS S.event_type = 'signup',
                 D AS D.event_type = 'view' AND D.value < FIRST(S.value)
        )""")).df
    got = {tuple(r) for r in out.collect()}
    assert got == {(1, 1, 2, 12.0, 4.0), (1, 5, 1, 3.0, 1.0)}


def test_sql_last_in_define_with_offset(spark):
    """LAST(D.value, 1) in DEFINE: strictly-increasing view runs —
    each D row must beat the PREVIOUS D row (offset 1 from the last
    mapped row, which is the current row under RUNNING semantics)."""
    from beam_spark.pcollection import PCollection
    from beam_spark.sql import SqlTransform
    from pyspark.sql import functions as F

    df = _mk_events(spark, [
        (1, 1, "signup", 0.0), (1, 2, "view", 1.0), (1, 3, "view", 2.0),
        (1, 4, "view", 1.5),   # not > 2.0: run ends
        (1, 5, "signup", 0.0), (1, 6, "view", 9.0),
    ]).withColumn("ts", F.timestamp_micros(F.col("event_id") * 1000000))
    out = ({"events": PCollection(df)} | SqlTransform("""
        SELECT user_id, s_eid, n_incr
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(S.event_id) AS s_eid,
                   COUNT(D.event_id) AS n_incr
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S D+)
          DEFINE S AS S.event_type = 'signup',
                 D AS D.event_type = 'view' AND D.value > LAST(D.value, 1)
        )""")).df
    got = {tuple(r) for r in out.collect()}
    # first D of a run has no previous D -> LAST(D.value,1) is the
    # S row? No: members are D only, offset 1 from [current] -> NULL ->
    # never matches... unless the run's first D counts itself at offset
    # 0. Offset 1 looks one before the current row's mapping, so the
    # FIRST candidate D row fails and no match forms? SQL standard says
    # NULL comparison fails; a D+ then never starts. Verify exactly
    # that: no matches at all.
    assert got == set()


def test_sql_last_in_define_self_reference(spark):
    """LAST(D.value) (offset 0) in DEFINE D refers to the current row
    itself (RUNNING semantics) — a self-comparison like
    D.value = LAST(D.value) is a tautology and matches any view."""
    from beam_spark.pcollection import PCollection
    from beam_spark.sql import SqlTransform
    from pyspark.sql import functions as F

    df = _mk_events(spark, [
        (1, 1, "signup", 0.0), (1, 2, "view", 1.0), (1, 3, "view", 2.0),
    ]).withColumn("ts", F.timestamp_micros(F.col("event_id") * 1000000))
    out = ({"events": PCollection(df)} | SqlTransform("""
        SELECT user_id, n_d
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES COUNT(D.event_id) AS n_d
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S D+)
          DEFINE S AS S.event_type = 'signup',
                 D AS D.event_type = 'view' AND D.value = LAST(D.value)
        )""")).df
    assert {tuple(r) for r in out.collect()} == {(1, 2)}


def test_streaming_ctx_defines_equal_batch(spark):
    """FIRST/LAST match-state defines now run on streams (they only
    read rows INSIDE the match, never the frontier; phantom positions
    evaluate as matching). Drawdown pattern A B+ with
    B AS B.v < LAST(A.v): streaming equals the batch output."""
    from beam_spark.operators.cep import vectorized

    def below_first_a(cols, pos, acc):
        rows_a = [i for s, i in acc if s == "A"]
        if not rows_a:
            return False
        return cols["v"][pos] < cols["v"][rows_a[0]]

    cfg = dict(
        pattern=[("A", "1"), ("B", "+")],
        defines={"A": vectorized(lambda pdf: pdf["typ"] == "peak"),
                 "B": vectorized(lambda pdf: pdf["typ"] == "dip",
                                 ctx_fn=below_first_a)},
        measures={"peak": lambda m: m[0][1]["v"],
                  "n_dips": lambda m: len(m) - 1},
        schema="u long, peak long, n_dips long")
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "peak", "v": 10}],
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "dip", "v": 7},
         {"t": "2024-01-01 00:00:25", "u": 1, "typ": "dip", "v": 4}],
        # dip ABOVE the peak value: cannot extend the B+ run
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "dip", "v": 15}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "x", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "x", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b and b == [(1, 10, 2)]


# ---------------------------------------------------------------------------
# Streaming MATCH_RECOGNIZE oracle: replay each TestStream script as ONE
# batch frame and assert the streaming emission set equals the batch
# MatchRecognize output — the batch side is the DuckDB-oracled semantics
# (q_cep_* gates), so equality transfers that verification to streaming.
# ---------------------------------------------------------------------------

def _stream_vs_batch(spark, batches, *, pattern, defines, measures,
                     schema, within=None, delay="10 seconds", **mr_extra):
    from beam_spark.streaming import (TestStream, WithWatermark,
                                      WriteStreamToMemory)

    mr = dict(partition_by="u", order_by=["t"], pattern=pattern,
              defines=defines, measures=measures, output_schema=schema,
              within=within, **mr_extra)

    ts = TestStream(spark, "t timestamp, u long, typ string, v long")
    for b in batches:
        ts.add_elements(b)
    s_rows = sorted(tuple(r) for r in (
        ts.stream() | WithWatermark("t", delay)
        | MatchRecognize(**mr)
        | WriteStreamToMemory(output_mode="append")).collect())
    return s_rows, _batch_rows(spark, batches, mr)


def _batch_rows(spark, batches, mr):
    """The batch MatchRecognize over every scripted row, sorted."""
    import itertools

    from pyspark.sql import functions as F

    from beam_spark.pcollection import PCollection

    allrows = list(itertools.chain.from_iterable(batches))
    df = (spark.createDataFrame(
        [(r["t"], r["u"], r["typ"], r.get("v", 0)) for r in allrows],
        "t string, u long, typ string, v long")
        .withColumn("t", F.col("t").cast("timestamp")))
    return sorted(tuple(r) for r in
                  (PCollection(df, ts_col="t")
                   | MatchRecognize(**mr)).df.collect())


def _vp_config(form="vectorized"):
    """V+ P funnel; ``form`` picks the DEFINE form: ``vectorized``
    masks or plain row callables."""
    from beam_spark.operators.cep import vectorized

    if form == "vectorized":
        defines = {"V": vectorized(lambda pdf: pdf["typ"] == "view"),
                   "P": vectorized(lambda pdf: pdf["typ"] == "purchase")}
    else:
        defines = {"V": lambda r: r["typ"] == "view",
                   "P": lambda r: r["typ"] == "purchase"}
    return dict(
        pattern=[("V", "+"), ("P", "1")],
        defines=defines,
        measures={"n_views": lambda m: sum(1 for s, _ in m if s == "V"),
                  "purchase_v": lambda m: m[-1][1]["v"]},
        schema="u long, n_views long, purchase_v long")


@pytest.mark.parametrize("form", ["vectorized", "row_callable"])
def test_streaming_equals_batch_basic_and_interleaved(spark, form):
    """Two users' funnels interleaved across micro-batches; trailing
    rows advance the watermark so every match becomes definitive. Both
    DEFINE forms, masks and plain row callables, run on the stream."""
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "view", "v": 1},
         {"t": "2024-01-01 00:00:12", "u": 2, "typ": "view", "v": 1}],
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "view", "v": 2},
         {"t": "2024-01-01 00:00:22", "u": 2, "typ": "purchase", "v": 5}],
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "purchase", "v": 9},
         {"t": "2024-01-01 00:00:31", "u": 2, "typ": "view", "v": 3}],
        # second funnel for user 1 after the first match
        [{"t": "2024-01-01 00:00:40", "u": 1, "typ": "view", "v": 4},
         {"t": "2024-01-01 00:00:50", "u": 1, "typ": "purchase", "v": 7}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "error", "v": 0},
         {"t": "2024-01-01 00:10:00", "u": 2, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "error", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **_vp_config(form))
    assert s == b and len(b) == 3


def test_streaming_equals_batch_late_data(spark):
    """A view arrives one micro-batch late (event time BEFORE the
    already-seen purchase, inside the 10 s watermark allowance): the
    streaming matcher must fold it into the match exactly as the batch
    sort does."""
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "view", "v": 1}],
        [{"t": "2024-01-01 00:00:25", "u": 1, "typ": "purchase", "v": 9}],
        # late view at 00:00:20 — watermark is only 00:00:15
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "view", "v": 2}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "error", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **_vp_config())
    # the match must contain BOTH views (n_views=2) in both modes
    assert s == b and b == [(1, 2, 9)]


def test_streaming_equals_batch_within_expiry(spark):
    """WITHIN 30 seconds: user 1's fast funnel matches; user 2's
    purchase lands outside the window — the streaming state drains on
    expiry with no emission, equal to the batch result."""
    batches = [
        [{"t": "2024-01-01 00:00:00", "u": 1, "typ": "view", "v": 1},
         {"t": "2024-01-01 00:00:00", "u": 2, "typ": "view", "v": 1}],
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "purchase", "v": 5}],
        [{"t": "2024-01-01 00:00:50", "u": 2, "typ": "purchase", "v": 7}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "error", "v": 0},
         {"t": "2024-01-01 00:10:00", "u": 2, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "error", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, within="30 seconds",
                            **_vp_config())
    assert s == b and b == [(1, 1, 5)]


def test_streaming_equals_batch_alternation(spark):
    """V{2,} (C|P): bounded quantifier + row alternation through the
    equivalence harness — label assignment must agree across modes."""
    from beam_spark.operators.cep import vectorized

    cfg = dict(
        pattern=[("V", (2, None)), (("C", "P"), "1")],
        defines={"V": vectorized(lambda pdf: pdf["typ"] == "view"),
                 "C": vectorized(lambda pdf: pdf["typ"] == "click"),
                 "P": vectorized(lambda pdf: pdf["typ"] == "purchase")},
        measures={"sym": lambda m: m[-1][0],
                  "n_views": lambda m: sum(1 for s, _ in m if s == "V")},
        schema="u long, sym string, n_views long")
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "view", "v": 0},
         {"t": "2024-01-01 00:00:11", "u": 1, "typ": "view", "v": 0}],
        [{"t": "2024-01-01 00:00:12", "u": 1, "typ": "click", "v": 0},
         {"t": "2024-01-01 00:00:20", "u": 2, "typ": "view", "v": 0}],
        [{"t": "2024-01-01 00:00:21", "u": 2, "typ": "view", "v": 0},
         {"t": "2024-01-01 00:00:22", "u": 2, "typ": "view", "v": 0}],
        [{"t": "2024-01-01 00:00:23", "u": 2, "typ": "purchase", "v": 0}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "error", "v": 0},
         {"t": "2024-01-01 00:10:00", "u": 2, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "error", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b and b == [(1, "C", 2), (2, "P", 3)]


def test_skip_to_last_and_first_symbol(spark):
    """AFTER MATCH SKIP TO LAST B resumes AT the last B row (it can
    start the next match); SKIP TO FIRST B resumes earlier and finds
    more overlaps; skipping to the match's start row raises."""
    from beam_spark.operators.cep import skip_to_first, skip_to_last
    import pytest as _pytest

    # a b a b a: pattern A B — SKIP TO LAST B resumes at each b, which
    # cannot start A, so matches = (0,1) and (2,3): same as PAST LAST
    # here. Use pattern A B+ on a b b a b: LAST B resumes at row 2 (the
    # last b), FIRST B at row 1.
    data = rows("a", "b", "b", "a", "b")
    base = dict(partition_by="k", order_by="i",
                pattern=[("A", "1"), ("B", "+")], defines=DEF,
                measures={"s": lambda m: m[0][1]["i"],
                          "e": lambda m: m[-1][1]["i"]},
                output_schema="k long, s long, e long")
    last = (Pipeline(spark) | Create(data)
            | MatchRecognize(**base, after_match=skip_to_last("B"))
            ).collect()
    first = (Pipeline(spark) | Create(data)
             | MatchRecognize(**base, after_match=skip_to_first("B"))
             ).collect()
    # both resume at a 'b' row, which can't start an A-match, so the
    # match set equals PAST LAST ROW semantics on this data
    assert sorted((r["s"], r["e"]) for r in last) == [(0, 2), (3, 4)]
    assert sorted((r["s"], r["e"]) for r in first) == [(0, 2), (3, 4)]

    # resume rows CAN start a match when the lead symbol also accepts
    # them: S matches a OR b, pattern S B+
    def2 = {"S": lambda r: r["t"] in ("a", "b"),
            "B": lambda r: r["t"] == "b"}
    alt = dict(partition_by="k", order_by="i",
               pattern=[("S", "1"), ("B", "+")], defines=def2,
               measures={"s": lambda m: m[0][1]["i"],
                         "e": lambda m: m[-1][1]["i"]},
               output_schema="k long, s long, e long")
    # match 1: rows 0-3 (S B B B). SKIP TO LAST B resumes AT row 3 — a
    # lone b cannot complete S B+, so one match. SKIP TO FIRST B
    # resumes at row 1: match 2 = rows 1-3, then 2: match 3 = rows 2-3.
    overlapped = (Pipeline(spark) | Create(rows("a", "b", "b", "b"))
                  | MatchRecognize(**alt, after_match=skip_to_last("B"))
                  ).collect()
    assert sorted((r["s"], r["e"]) for r in overlapped) == [(0, 3)]
    over_first = (Pipeline(spark) | Create(rows("a", "b", "b", "b"))
                  | MatchRecognize(**alt, after_match=skip_to_first("B"))
                  ).collect()
    assert sorted((r["s"], r["e"]) for r in over_first) == \
        [(0, 3), (1, 3), (2, 3)]

    # SKIP TO FIRST A where A is the start row: SQL-standard error
    bad = dict(partition_by="k", order_by="i",
               pattern=[("A", "1"), ("B", "1")], defines=DEF,
               measures={"n": lambda m: len(m)},
               output_schema="k long, n long")
    with _pytest.raises(Exception, match="infinite loop"):
        (Pipeline(spark) | Create(rows("a", "b"))
         | MatchRecognize(**bad, after_match=skip_to_first("A"))).collect()

    # malformed clauses fail at construction, before any data is read:
    # an unknown skip string or symbol, and a rows_per_match spelling
    # that used to run ONE ROW PER MATCH silently
    for kw in ({"after_match": "past_last"},
               {"after_match": ("to_last", "B", "extra")},
               {"after_match": skip_to_last("Z")},
               {"rows_per_match": "all_rows"}):
        with _pytest.raises(ValueError, match=next(iter(kw))):
            MatchRecognize(**bad, **kw)


def test_sql_after_match_skip_to_symbol(spark):
    """SQL front-end: AFTER MATCH SKIP TO [FIRST|LAST] <sym> parses and
    changes the match set exactly as the API mode does."""
    from beam_spark.sql import SqlTransform

    rows_in = [{"k": 1, "i": i, "t": t} for i, t in enumerate("abbb")]
    sql = """
    SELECT s, e FROM ev MATCH_RECOGNIZE (
      PARTITION BY k ORDER BY i
      MEASURES FIRST(S.i) AS s, LAST(B.i) AS e
      AFTER MATCH SKIP TO FIRST B
      PATTERN (S B+)
      DEFINE S AS S.t <> 'z', B AS B.t = 'b'
    )"""
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"ev": pc} | SqlTransform(sql)).df
    assert sorted((r["s"], r["e"]) for r in out.collect()) == \
        [(0, 3), (1, 3), (2, 3)]
    pc2 = Pipeline(spark) | Create(rows_in)
    out2 = ({"ev": pc2} | SqlTransform(
        sql.replace("SKIP TO FIRST B", "SKIP TO LAST B"))).df
    assert sorted((r["s"], r["e"]) for r in out2.collect()) == [(0, 3)]


def test_streaming_all_rows_per_match_equals_batch(spark):
    """ALL ROWS PER MATCH on a stream: every matched input row emits
    with its columns, RUNNING measures, CLASSIFIER, and MATCH_NUMBER —
    equal to the (oracle-verified) batch output. Script has one match
    per user so match numbering is comparable; the multi-match
    numbering divergence (per-key restart after a state drain) is
    documented."""
    from beam_spark.operators.cep import (ALL_ROWS_PER_MATCH, vectorized)

    cfg = dict(
        pattern=[("V", "+"), ("P", "1")],
        defines={"V": vectorized(lambda pdf: pdf["typ"] == "view"),
                 "P": vectorized(lambda pdf: pdf["typ"] == "purchase")},
        measures={"n_rows": lambda m: len(m)},
        schema=("t timestamp, u long, typ string, v long, n_rows long"))
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "view", "v": 1},
         {"t": "2024-01-01 00:00:12", "u": 2, "typ": "view", "v": 1}],
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "view", "v": 2},
         {"t": "2024-01-01 00:00:22", "u": 2, "typ": "purchase", "v": 5}],
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "purchase", "v": 9}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "error", "v": 0},
         {"t": "2024-01-01 00:10:00", "u": 2, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "error", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg,
                            rows_per_match=ALL_ROWS_PER_MATCH,
                            measure_semantics="running")
    assert s == b
    # user 1: V V P (3 rows, running n_rows 1,2,3); user 2: V P (2 rows)
    assert len(b) == 5
    by_user = {}
    for r in b:
        by_user.setdefault(r[1], []).append(r)
    assert [x[4] for x in sorted(by_user[1])] == [1, 2, 3]  # running
    assert {x[5] for x in b} == {"V", "P"}                  # classifier
    assert {x[6] for x in b} == {1}                         # match_number


def test_sql_measures_avg_min_max(spark):
    """AVG/MIN/MAX in MEASURES (incl. over a SUBSET union variable)."""
    from beam_spark.sql import SqlTransform

    rows_in = [{"k": 1, "i": i, "t": t, "v": v} for i, (t, v) in
               enumerate([("a", 10), ("a", 20), ("b", 6), ("c", 99)])]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"ev": pc} | SqlTransform("""
        SELECT avg_av, min_av, max_uv FROM ev MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES AVG(A.v) AS avg_av, MIN(A.v) AS min_av,
                   MAX(U.v) AS max_uv
          PATTERN (A+ B)
          SUBSET U = (A, B)
          DEFINE A AS A.t = 'a', B AS B.t = 'b'
        )""")).df
    r = out.collect()[0]
    assert r["avg_av"] == 15.0 and r["min_av"] == 10 and r["max_uv"] == 20


def test_sql_define_or_conditions(spark):
    """OR of AND-chains in DEFINE: (t='a' OR t='b') labels both kinds;
    OR combined with PREV stays vectorized; OR with FIRST/LAST match
    navigation raises the documented error."""
    import pytest as _pytest
    from beam_spark.sql import SqlTransform

    rows_in = [{"k": 1, "i": i, "t": t, "v": v} for i, (t, v) in
               enumerate([("a", 1), ("b", 2), ("b", 3), ("c", 9)])]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"ev": pc} | SqlTransform("""
        SELECT n_s FROM ev MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES COUNT(S.v) AS n_s
          PATTERN (S+ C)
          DEFINE S AS S.t = 'a' OR S.t = 'b',
                 C AS C.t = 'c'
        )""")).df
    assert out.collect()[0]["n_s"] == 3

    # OR with PREV: rising-or-equal runs
    rows2 = [{"k": 1, "i": i, "v": v} for i, v in
             enumerate([1, 2, 2, 5, 1, 9])]
    pc2 = Pipeline(spark) | Create(rows2)
    out2 = ({"s": pc2} | SqlTransform("""
        SELECT n FROM s MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES COUNT(B.v) AS n
          PATTERN (A B+)
          DEFINE B AS B.v > PREV(B.v) OR B.v = PREV(B.v)
        )""")).df
    got = sorted(r["n"] for r in out2.collect())
    assert got == [1, 3]  # runs 1,2,2,5 (3 Bs) and 1,9 (1 B)

    from beam_spark.sql_match import _compile_condition
    with _pytest.raises(ValueError, match="OR with FIRST/LAST"):
        _compile_condition("A.v > 1 OR A.v > LAST(A.v)", "A")


def test_streaming_prev_mask_equals_batch(spark):
    """PREV-only masks run on streams: the matcher retains prev_depth
    consumed rows as shift context, so PREV at the buffer head still
    reads its true predecessor after a match consumed it — falling
    runs A B+ with B AS v < PREV(v), split across micro-batches."""
    from beam_spark.operators.cep import vectorized

    cfg = dict(
        pattern=[("A", "1"), ("B", "+")],
        defines={"A": vectorized(lambda pdf: pdf["typ"] == "s"),
                 "B": vectorized(
                     lambda pdf: (pdf["typ"] == "s")
                     & (pdf["v"] < pdf["v"].shift(1)).fillna(False),
                     prev_depth=1)},
        measures={"top": lambda m: m[0][1]["v"],
                  "bottom": lambda m: m[-1][1]["v"]},
        schema="u long, top long, bottom long")
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "s", "v": 9},
         {"t": "2024-01-01 00:00:11", "u": 1, "typ": "s", "v": 7}],
        [{"t": "2024-01-01 00:00:12", "u": 1, "typ": "s", "v": 5}],
        # run 1 (9,7,5) gets consumed once mature; row v=8 then needs
        # PREV = the consumed 5 for its (failing) B mask
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "s", "v": 8},
         {"t": "2024-01-01 00:00:21", "u": 1, "typ": "s", "v": 6}],
        [{"t": "2024-01-01 00:00:22", "u": 1, "typ": "s", "v": 4}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "x", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "x", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b and sorted(b) == [(1, 8, 4), (1, 9, 5)]


def _drain_then_match_batches():
    """Key u=1 fully DRAINS between its two funnels: after the 00:01:00
    error, only u=2 batches advance the watermark, so u=1's held rows
    release through timeout-only invocations and its buffer empties
    (pre-round-6 the counter state died at that point)."""
    return [
        # funnel 1 for u1, then one error that will be released
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "view", "v": 1},
         {"t": "2024-01-01 00:00:20", "u": 1, "typ": "purchase", "v": 5}],
        [{"t": "2024-01-01 00:01:00", "u": 1, "typ": "error", "v": 0}],
        # u2-only batches: u1 sees only timeout wakeups -> full drain
        [{"t": "2024-01-01 00:06:00", "u": 2, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 2, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:30:00", "u": 2, "typ": "error", "v": 0}],
        # second funnel for u1 long after the drain
        [{"t": "2024-01-01 00:31:00", "u": 1, "typ": "view", "v": 2},
         {"t": "2024-01-01 00:31:05", "u": 1, "typ": "purchase", "v": 9}],
        [{"t": "2024-01-01 00:40:00", "u": 1, "typ": "error", "v": 0},
         {"t": "2024-01-01 00:40:00", "u": 2, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:50:00", "u": 1, "typ": "error", "v": 0}],
    ]


def test_streaming_equals_batch_match_number_across_drain(spark):
    """Equivalence script #8: a key whose buffer FULLY drains between
    two matches must keep per-key-monotone __match_number (batch
    numbers globally per partition) — the counter-only state record
    survives the drain."""
    from beam_spark.operators.cep import ALL_ROWS_PER_MATCH, vectorized

    cfg = dict(
        pattern=[("V", "+"), ("P", "1")],
        defines={"V": vectorized(lambda pdf: pdf["typ"] == "view"),
                 "P": vectorized(lambda pdf: pdf["typ"] == "purchase")},
        measures={},
        schema="u long, v long",
        rows_per_match=ALL_ROWS_PER_MATCH)
    s, b = _stream_vs_batch(spark, _drain_then_match_batches(), **cfg)
    assert s == b
    nums = sorted({r[-1] for r in b})
    assert nums == [1, 2]          # second match really numbered 2


def test_streaming_drain_ttl_expires_counter(spark):
    """drain_state_ttl: after the counter record expires for an idle
    key, numbering restarts — the documented tradeoff for unbounded
    key cardinality."""
    from beam_spark.operators.cep import ALL_ROWS_PER_MATCH, vectorized
    from beam_spark.streaming import (TestStream, WithWatermark,
                                      WriteStreamToMemory)

    ts = TestStream(spark, "t timestamp, u long, typ string, v long")
    for b in _drain_then_match_batches():
        ts.add_elements(b)
    rows = (ts.stream() | WithWatermark("t", "10 seconds")
            | MatchRecognize(
                partition_by="u", order_by=["t"],
                pattern=[("V", "+"), ("P", "1")],
                defines={"V": vectorized(lambda pdf: pdf["typ"] == "view"),
                         "P": vectorized(lambda pdf: pdf["typ"] == "purchase")},
                measures={}, output_schema="u long, v long",
                rows_per_match=ALL_ROWS_PER_MATCH,
                drain_state_ttl="1 minute")
            | WriteStreamToMemory(output_mode="append")).collect()
    by_match = sorted({r["__match_number"] for r in rows})
    # the 25-minute gap exceeds the 1-minute TTL: counter expired,
    # second match numbered 1 again
    assert by_match == [1]
    assert len(rows) == 4


def test_streaming_restart_from_checkpoint_equals_batch(spark, tmp_path):
    """Stop a streaming MatchRecognize after the first three files and
    restart it from the same checkpoint with the rest: the file sink
    then holds what the batch query returns over all files. Both users
    have an open funnel across the cut (views buffered in state, the
    purchases after the restart), and user 1's second match continues
    ALL ROWS numbering from the restored counter."""
    from beam_spark.operators.cep import ALL_ROWS_PER_MATCH
    from beam_spark.streaming import (TestStream, WithWatermark,
                                      WriteStreamToFiles)

    cfg = _vp_config()
    mr = dict(partition_by="u", order_by=["t"], pattern=cfg["pattern"],
              defines=cfg["defines"], measures=cfg["measures"],
              output_schema=("t timestamp, u long, typ string, v long, "
                             "n_views long, purchase_v long"),
              rows_per_match=ALL_ROWS_PER_MATCH)
    before_cut = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "view", "v": 1},
         {"t": "2024-01-01 00:00:20", "u": 1, "typ": "purchase", "v": 5},
         {"t": "2024-01-01 00:00:12", "u": 2, "typ": "view", "v": 1}],
        [{"t": "2024-01-01 00:00:40", "u": 1, "typ": "view", "v": 2},
         {"t": "2024-01-01 00:00:45", "u": 2, "typ": "view", "v": 3}],
        # another key advances the watermark past user 1's first match
        [{"t": "2024-01-01 00:00:46", "u": 3, "typ": "error", "v": 0}],
    ]
    after_cut = [
        [{"t": "2024-01-01 00:00:50", "u": 1, "typ": "purchase", "v": 9},
         {"t": "2024-01-01 00:00:55", "u": 2, "typ": "purchase", "v": 7}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "error", "v": 0},
         {"t": "2024-01-01 00:10:00", "u": 2, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "error", "v": 0}],
    ]
    ts = TestStream(spark, "t timestamp, u long, typ string, v long")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run(batches):
        for b in batches:
            ts.add_elements(b)
        (ts.stream() | WithWatermark("t", "10 seconds")
         | MatchRecognize(**mr)
         | WriteStreamToFiles(out_dir, checkpoint=ckpt))
        return sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())

    first = run(before_cut)
    # only user 1's first match is definitive before the cut
    assert {(r[1], r[-1]) for r in first} == {(1, 1)} and len(first) == 2
    restarted = run(after_cut)
    batch = _batch_rows(spark, before_cut + after_cut, mr)
    assert restarted == batch
    assert sorted({(r[1], r[-1]) for r in batch}) == [(1, 1), (1, 2), (2, 1)]
    assert len(batch) == 7


def test_streaming_state_record_is_columnar_only():
    """Streaming state has one format, the columnar {cols, mn, ctx}
    record: it round-trips, and a blob in an older format (a bare row
    list, or dict-records under "buf") raises instead of being
    misread."""
    import pickle

    import pandas as pd

    from beam_spark.operators.cep import _decode_state, _encode_state

    held = pd.DataFrame({"u": [1, 1], "v": [3, 4]})
    rows_, mn, ctx = _decode_state(_encode_state(held, 2, None))
    assert rows_.equals(held) and mn == 2 and ctx is None
    rows_, mn, ctx = _decode_state(_encode_state(None, 5, held.iloc[1:]))
    assert rows_ is None and mn == 5
    assert ctx.to_dict(orient="records") == [{"u": 1, "v": 4}]
    for old in ([{"u": 1, "v": 3}],
                {"buf": [{"u": 1, "v": 3}], "mn": 2, "ctx": None}):
        with pytest.raises(ValueError, match="columnar"):
            _decode_state(pickle.dumps(old))


def test_streaming_equals_batch_permute(spark):
    """Equivalence script #9: PERMUTE(A, C) P — both orderings of the
    add-to-cart/coupon pair before a purchase, through the streaming
    matcher's phantom-frontier rule."""
    from beam_spark.operators.cep import Permute, vectorized

    cfg = dict(
        pattern=[(Permute("A", "C"), "1"), ("P", "1")],
        defines={"A": vectorized(lambda pdf: pdf["typ"] == "cart"),
                 "C": vectorized(lambda pdf: pdf["typ"] == "coupon"),
                 "P": vectorized(lambda pdf: pdf["typ"] == "purchase")},
        measures={"first_t": lambda m: m[0][1]["typ"],
                  "v": lambda m: m[-1][1]["v"]},
        schema="u long, first_t string, v long")
    batches = [
        # u1: cart -> coupon -> purchase; u2: coupon -> cart -> purchase
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "cart", "v": 1},
         {"t": "2024-01-01 00:00:11", "u": 2, "typ": "coupon", "v": 1}],
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "coupon", "v": 2},
         {"t": "2024-01-01 00:00:21", "u": 2, "typ": "cart", "v": 2}],
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "purchase", "v": 9},
         {"t": "2024-01-01 00:00:31", "u": 2, "typ": "purchase", "v": 8}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "error", "v": 0},
         {"t": "2024-01-01 00:10:00", "u": 2, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "error", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b
    assert sorted(b) == [(1, "cart", 9), (2, "coupon", 8)]


def test_streaming_equals_batch_permute_quantified(spark):
    """Equivalence script #11: PERMUTE(V+, C) P — a RUN of views and
    one coupon in either order before a purchase; the quantified
    PERMUTE element must behave identically under the streaming
    matcher's phantom-frontier rule (a V-run at the frontier is
    inconclusive until the next batch proves its extent)."""
    from beam_spark.operators.cep import Permute, vectorized

    cfg = dict(
        pattern=[(Permute(("V", "+"), "C"), "1"), ("P", "1")],
        defines={"V": vectorized(lambda pdf: pdf["typ"] == "view"),
                 "C": vectorized(lambda pdf: pdf["typ"] == "coupon"),
                 "P": vectorized(lambda pdf: pdf["typ"] == "purchase")},
        measures={"n_v": lambda m: sum(1 for s, _ in m if s == "V"),
                  "v": lambda m: m[-1][1]["v"]},
        schema="u long, n_v long, v long")
    batches = [
        # u1: view view coupon purchase (V-run split across batches);
        # u2: coupon view purchase; u3: coupon purchase (no view — no
        # match)
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "view", "v": 1},
         {"t": "2024-01-01 00:00:11", "u": 2, "typ": "coupon", "v": 1},
         {"t": "2024-01-01 00:00:12", "u": 3, "typ": "coupon", "v": 1}],
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "view", "v": 2},
         {"t": "2024-01-01 00:00:21", "u": 2, "typ": "view", "v": 2}],
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "coupon", "v": 3},
         {"t": "2024-01-01 00:00:31", "u": 2, "typ": "purchase", "v": 8},
         {"t": "2024-01-01 00:00:32", "u": 3, "typ": "purchase", "v": 7}],
        [{"t": "2024-01-01 00:00:40", "u": 1, "typ": "purchase", "v": 9}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "error", "v": 0},
         {"t": "2024-01-01 00:10:00", "u": 2, "typ": "error", "v": 0},
         {"t": "2024-01-01 00:10:00", "u": 3, "typ": "error", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "error", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b
    assert sorted(b) == [(1, 2, 9), (2, 1, 8)]


def test_sql_define_between(spark):
    """BETWEEN / NOT BETWEEN as real DEFINE predicates (the splitter
    already treated BETWEEN..AND as a unit; the condition compiler now
    compiles it): inclusive range for BETWEEN, disjunctive complement
    for NOT BETWEEN, composable with AND chains."""
    from beam_spark.sql import SqlTransform

    rows_in = [{"k": 1, "i": i, "v": v} for i, v in
               enumerate([3, 4, 20, 1, 5, 11])]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"ev": pc} | SqlTransform("""
        SELECT n_m FROM ev MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES COUNT(M.v) AS n_m
          PATTERN (M+ X)
          DEFINE M AS M.v BETWEEN 2 AND 5,
                 X AS X.v NOT BETWEEN 0 AND 10
        )""")).df
    assert sorted(r["n_m"] for r in out.collect()) == [1, 2]

    # BETWEEN inside an AND chain, string bounds
    rows2 = [{"k": 1, "i": i, "t": t, "v": v} for i, (t, v) in
             enumerate([("a", 3), ("b", 3), ("a", 99), ("c", 1)])]
    pc2 = Pipeline(spark) | Create(rows2)
    out2 = ({"s": pc2} | SqlTransform("""
        SELECT n FROM s MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES COUNT(A.v) AS n
          PATTERN (A+ Z)
          DEFINE A AS A.t BETWEEN 'a' AND 'b' AND A.v BETWEEN 1 AND 10,
                 Z AS Z.v > 50
        )""")).df
    assert [r["n"] for r in out2.collect()] == [2]


def test_streaming_equals_batch_between_and_subset(spark):
    """Equivalence script #10: BETWEEN defines + a SUBSET union
    variable in a FIRST() match-navigation define, split across
    micro-batches — streaming emission must equal the batch
    (DuckDB-oracled) semantics."""
    from beam_spark.sql_match import _compile_condition

    subsets = {"U": ("A", "B")}
    cfg = dict(
        pattern=[("A", "1"), ("B", "+"), ("C", "1")],
        defines={
            "A": _compile_condition("A.v BETWEEN 10 AND 20", "A"),
            "B": _compile_condition("B.v NOT BETWEEN 0 AND 9", "B"),
            # C must undercut the first row of the U = (A, B) union
            "C": _compile_condition("C.v < FIRST(U.v)", "C", subsets),
        },
        measures={"sum_u": lambda m: sum(
            r["v"] for s, r in m if s in ("A", "B")),
            "c_v": lambda m: m[-1][1]["v"]},
        schema="u long, sum_u long, c_v long")
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "x", "v": 15}],
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "x", "v": 25},
         {"t": "2024-01-01 00:00:22", "u": 1, "typ": "x", "v": 12}],
        # v=3 is inside [0, 9]: cannot extend B+, but undercuts
        # FIRST(U.v)=15 so it closes the match as C
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "x", "v": 3}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "x", "v": 100}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "x", "v": 100}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b and b == [(1, 52, 3)]


def test_sql_pattern_anchors(spark):
    """SQL:2016 PATTERN anchors: ^ pins the match to the partition's
    first row, $ requires consuming through the last row (enforced
    during the backtracking search, not post-filtered); mid-pattern
    anchors are rejected instead of silently dropped; streaming
    rejects anchors outright."""
    import pytest as _pytest
    from beam_spark.sql import SqlTransform

    # ^ : only partition 1 STARTS with a low value
    rows_in = ([{"k": 1, "i": i, "v": v} for i, v in
                enumerate([1, 2, 50])]
               + [{"k": 2, "i": i, "v": v} for i, v in
                  enumerate([50, 1, 2])])
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"ev": pc} | SqlTransform("""
        SELECT k, n FROM ev MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES COUNT(A.v) AS n
          PATTERN (^ A+)
          DEFINE A AS A.v < 10
        )""")).df
    got = {(r["k"], r["n"]) for r in out.collect()}
    assert got == {(1, 2)}      # k=2's low run is mid-partition

    # $ : the run must reach the partition's end
    rows2 = ([{"k": 1, "i": i, "v": v} for i, v in
              enumerate([99, 1, 2])]
             + [{"k": 2, "i": i, "v": v} for i, v in
                enumerate([1, 2, 99])])
    pc2 = Pipeline(spark) | Create(rows2)
    out2 = ({"s": pc2} | SqlTransform("""
        SELECT k, n FROM s MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES COUNT(A.v) AS n
          PATTERN (A+ $)
          DEFINE A AS A.v < 10
        )""")).df
    got2 = {(r["k"], r["n"]) for r in out2.collect()}
    assert got2 == {(1, 2)}     # k=2's run dies before the last row

    # ^ ... $ : whole-partition match only
    out3 = ({"t": Pipeline(spark) | Create(
        [{"k": 1, "i": i, "v": v} for i, v in enumerate([1, 2, 3])]
        + [{"k": 2, "i": i, "v": v} for i, v in
           enumerate([1, 99, 2])])} | SqlTransform("""
        SELECT k, n FROM t MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES COUNT(A.v) AS n
          PATTERN (^ A+ $)
          DEFINE A AS A.v < 10
        )""")).df
    assert {(r["k"], r["n"]) for r in out3.collect()} == {(1, 3)}

    from beam_spark.sql_match import parse_pattern
    with _pytest.raises(ValueError, match="unsupported characters"):
        parse_pattern("A ^ B")


def test_anchor_end_backtracks_not_postfilters(spark):
    """$ must find the greedy-preferred match that SATISFIES the
    anchor: with PATTERN (A+ B* $) over all-A-matching rows where B
    also matches the tail, the greedy A+ takes everything and B*
    zero — which still ends at the partition end, so the match
    succeeds with all rows labelled A; a post-filter on an unanchored
    shorter match would have failed."""
    from beam_spark.operators.cep import MatchRecognize, vectorized
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(4)], "k long, i long, v double")
    out = (PCollection(df) | MatchRecognize(
        partition_by="k", order_by="i",
        pattern=[("A", "+"), ("B", "*")],
        defines={"A": vectorized(lambda pdf: pdf["v"] >= 0),
                 "B": vectorized(lambda pdf: pdf["v"] >= 2)},
        measures={"n_a": lambda m: sum(1 for s, _ in m if s == "A"),
                  "n_b": lambda m: sum(1 for s, _ in m if s == "B")},
        output_schema="k long, n_a long, n_b long",
        anchor_end=True)).df
    assert [tuple(r) for r in out.collect()] == [(1, 4, 0)]

    # and when A+ CANNOT reach the end (A dies at v>=2), $ forces the
    # backtracking search to hand the tail to B*
    out2 = (PCollection(df) | MatchRecognize(
        partition_by="k", order_by="i",
        pattern=[("A", "+"), ("B", "*")],
        defines={"A": vectorized(lambda pdf: pdf["v"] < 2),
                 "B": vectorized(lambda pdf: pdf["v"] >= 2)},
        measures={"n_a": lambda m: sum(1 for s, _ in m if s == "A"),
                  "n_b": lambda m: sum(1 for s, _ in m if s == "B")},
        output_schema="k long, n_a long, n_b long",
        anchor_end=True)).df
    assert [tuple(r) for r in out2.collect()] == [(1, 2, 2)]


def test_streaming_rejects_anchors(spark):
    from beam_spark.operators.cep import MatchRecognize, vectorized
    from beam_spark.streaming import TestStream, WithWatermark

    import pytest as _pytest

    ts = TestStream(spark, "t timestamp, u long, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:10", "u": 1, "v": 1}])
    with _pytest.raises(ValueError, match="batch-only"):
        (ts.stream() | WithWatermark("t", "10 seconds")
         | MatchRecognize(
             partition_by="u", order_by=["t"],
             pattern=[("A", "1")],
             defines={"A": vectorized(lambda pdf: pdf["v"] > 0)},
             measures={"v": lambda m: m[0][1]["v"]},
             output_schema="u long, v long", anchor_start=True))


def test_sql_measure_expressions(spark):
    """Arithmetic of two aggregate terms in MEASURES: the drawdown
    spread LAST - FIRST, and an AVG-per-COUNT ratio; unsupported
    expressions raise instead of being silently dropped."""
    import pytest as _pytest
    from beam_spark.sql import SqlTransform

    rows_in = [{"k": 1, "i": i, "v": v} for i, v in
               enumerate([10, 12, 17, 3])]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"ev": pc} | SqlTransform("""
        SELECT spread, per_row FROM ev MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES LAST(A.v) - FIRST(A.v) AS spread,
                   SUM(A.v) / COUNT(A.v) AS per_row
          PATTERN (A+ Z)
          DEFINE A AS A.v >= 10,
                 Z AS Z.v < 10
        )""")).df
    r = out.collect()[0]
    assert r["spread"] == 7.0           # 17 - 10
    assert abs(r["per_row"] - 13.0) < 1e-9

    # general arithmetic: 3+ terms, literals, parens, precedence,
    # unary minus
    g = ({"ev": pc} | SqlTransform("""
        SELECT x, pct, neg FROM ev MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES LAST(A.v) - FIRST(A.v) + COUNT(A.v) AS x,
                   100 * (LAST(A.v) - FIRST(A.v)) / FIRST(A.v) AS pct,
                   -FIRST(A.v) + 2 * 5 + 10 AS neg
          PATTERN (A+ Z)
          DEFINE A AS A.v >= 10,
                 Z AS Z.v < 10
        )""")).df.collect()[0]
    assert g["x"] == 10.0                # (17-10) + 3
    assert abs(g["pct"] - 70.0) < 1e-9   # 100*7/10
    assert g["neg"] == 10.0              # -10 + 10 + 10

    with _pytest.raises(ValueError, match="unsupported MEASURES"):
        ({"ev": pc} | SqlTransform("""
            SELECT x FROM ev MATCH_RECOGNIZE (
              PARTITION BY k ORDER BY i
              MEASURES LAST(A.v) % COUNT(A.v) AS x
              PATTERN (A+)
              DEFINE A AS A.v >= 10
            )"""))

    # SQL division semantics: a zero denominator yields NULL, never a
    # ZeroDivisionError aborting the job — COUNT(B.v) is 0 when the
    # optional B symbol matched no rows
    out0 = ({"ev": pc} | SqlTransform("""
        SELECT ratio FROM ev MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY i
          MEASURES SUM(A.v) / COUNT(B.v) AS ratio
          PATTERN (A+ B? Z)
          DEFINE A AS A.v >= 10,
                 B AS B.v > 1000,
                 Z AS Z.v < 10
        )""")).df
    assert out0.collect()[0]["ratio"] is None


def test_sql_pattern_exclusion(spark):
    """SQL:2016 pattern exclusion {- ... -}: excluded rows still
    participate in matching and in measures, but vanish from ALL ROWS
    PER MATCH output; ONE ROW mode is unaffected; a symbol used both
    inside and outside an exclusion is rejected."""
    import pytest as _pytest

    from beam_spark.sql import SqlTransform

    rows_in = [{"k": 1, "i": i, "t": t} for i, t in
               enumerate(["a", "x", "x", "b"])]
    pc = Pipeline(spark) | Create(rows_in)
    out = ({"s": pc} | SqlTransform("""
        SELECT i, t, n_x FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES FINAL COUNT(X.i) AS n_x
          ALL ROWS PER MATCH
          PATTERN (A {- X+ -} B)
          DEFINE A AS A.t = 'a', X AS X.t = 'x', B AS B.t = 'b'
        )""")).df
    got = sorted((r["i"], r["t"], r["n_x"]) for r in out.collect())
    # rows 1 and 2 (the X run) matched — COUNT sees them — but are
    # suppressed from the emitted rows
    assert got == [(0, "a", 2), (3, "b", 2)]

    one = ({"s": pc} | SqlTransform("""
        SELECT n_x FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES COUNT(X.i) AS n_x
          PATTERN (A {- X+ -} B)
          DEFINE A AS A.t = 'a', X AS X.t = 'x', B AS B.t = 'b'
        )""")).df
    assert one.collect()[0]["n_x"] == 2

    # POSITIONAL exclusion (round 10): the same symbol inside AND
    # outside {- -} no longer rejects — only the excluded OCCURRENCE's
    # rows are suppressed; measures and CLASSIFIER see every A
    _ = _pytest  # rejection case removed; keep the import used
    rows2 = [{"k": 1, "i": i, "t": t} for i, t in
             enumerate(["a", "a", "b"])]
    pc2 = Pipeline(spark) | Create(rows2)
    pos = ({"s": pc2} | SqlTransform("""
        SELECT i, t, n_a FROM s MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY i
          MEASURES FINAL COUNT(A.i) AS n_a
          ALL ROWS PER MATCH
          PATTERN (A {- A -} B)
          DEFINE A AS A.t = 'a', B AS B.t = 'b'
        )""")).df
    got2 = sorted((r["i"], r["t"], r["n_a"]) for r in pos.collect())
    # row 1 (the second A occurrence) matched — COUNT(A) = 2 — but
    # only that occurrence's row is suppressed from output
    assert got2 == [(0, "a", 2), (2, "b", 2)]


def test_streaming_equals_batch_exclusion_final(spark):
    """Equivalence script #12: ALL ROWS PER MATCH with a pattern
    EXCLUSION (X-run suppressed from output) and a FINAL measure (the
    whole-match count pinned per emitted row) — both must survive the
    streaming matcher's phantom-frontier rule with the X-run split
    across micro-batches."""
    from beam_spark.operators.cep import ALL_ROWS_PER_MATCH, vectorized

    def n_x(m):
        return sum(1 for s, _ in m if s == "X")
    n_x.final_semantics = True

    cfg = dict(
        pattern=[("A", "1"), ("X", "+"), ("B", "1")],
        defines={"A": vectorized(lambda pdf: pdf["typ"] == "a"),
                 "X": vectorized(lambda pdf: pdf["typ"] == "x"),
                 "B": vectorized(lambda pdf: pdf["typ"] == "b")},
        measures={"n_x": n_x},
        schema="t timestamp, u long, typ string, v long, n_x long",
        rows_per_match=ALL_ROWS_PER_MATCH,
        measure_semantics="running",
        exclude_symbols={"X"})
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "a", "v": 1}],
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "x", "v": 2}],
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "x", "v": 3},
         {"t": "2024-01-01 00:00:40", "u": 1, "typ": "b", "v": 4}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "z", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "z", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b
    # only the a and b rows emitted, both carrying the FINAL count 2
    typs = sorted((r[2], r[4]) for r in b)
    assert typs == [("a", 2), ("b", 2)]


def test_streaming_equals_batch_fully_excluded_match(spark):
    """Equivalence script #13: a match whose EVERY row is excluded via
    {- -} emits nothing but still advances MATCH_NUMBER (SQL:2016
    numbers matches, not emitted rows). Pattern ({- A -} B?) on
    a,a,b: match #1 is [A@0] (B? empty — next row fails B) with zero
    output rows; match #2 is [A@1 B@2] and its b row must carry
    __match_number 2 in BOTH engines."""
    from beam_spark.operators.cep import ALL_ROWS_PER_MATCH, vectorized

    cfg = dict(
        pattern=[("A", "1"), ("B", "?")],
        defines={"A": vectorized(lambda pdf: pdf["typ"] == "a"),
                 "B": vectorized(lambda pdf: pdf["typ"] == "b")},
        measures={"n_rows": lambda m: len(m)},
        schema="t timestamp, u long, typ string, v long, n_rows long",
        rows_per_match=ALL_ROWS_PER_MATCH,
        exclude_symbols={"A"})
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "a", "v": 1}],
        [{"t": "2024-01-01 00:00:20", "u": 1, "typ": "a", "v": 2},
         {"t": "2024-01-01 00:00:30", "u": 1, "typ": "b", "v": 3}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "z", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "z", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b
    # one emitted row: the b of match #2, numbered 2 (not 1)
    assert len(b) == 1
    (row,) = b
    assert row[2] == "b" and row[-1] == 2


def test_streaming_equals_batch_positional_exclusion_quantified(spark):
    """Equivalence script #14: POSITIONAL exclusion composing with
    PERMUTE and a quantified group — PATTERN
    ``PERMUTE(A, {- B -}) ({- C -} E){1,2} D``. The B ordering-element
    and every C occurrence inside the quantified group are excluded
    (per-occurrence aliases), measures still see B and C by their
    ORIGINAL names, and the streaming phantom-frontier matcher must
    agree with batch with the group split across micro-batches."""
    from beam_spark.operators.cep import ALL_ROWS_PER_MATCH, vectorized
    from beam_spark.sql_match import parse_pattern_ex

    pattern, excluded, aliases = parse_pattern_ex(
        "PERMUTE(A, {- B -}) ({- C -} E){1,2} D")
    assert aliases == {"__excl__B": "B", "__excl__C": "C"}

    cfg = dict(
        pattern=pattern,
        defines={s: vectorized(lambda pdf, _t=t: pdf["typ"] == _t)
                 for s, t in [("A", "a"), ("B", "b"), ("C", "c"),
                              ("E", "e"), ("D", "d")]},
        measures={"n_rows": lambda m: len(m),
                  "n_c": lambda m: sum(1 for s, _ in m if s == "C"),
                  "n_b": lambda m: sum(1 for s, _ in m if s == "B")},
        schema="t timestamp, u long, typ string, v long, "
               "n_rows long, n_c long, n_b long",
        rows_per_match=ALL_ROWS_PER_MATCH,
        exclude_symbols=excluded,
        symbol_aliases=aliases)
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "b", "v": 0},
         {"t": "2024-01-01 00:00:20", "u": 1, "typ": "a", "v": 1}],
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "c", "v": 2},
         {"t": "2024-01-01 00:00:40", "u": 1, "typ": "e", "v": 3}],
        [{"t": "2024-01-01 00:00:50", "u": 1, "typ": "c", "v": 4},
         {"t": "2024-01-01 00:01:00", "u": 1, "typ": "e", "v": 5}],
        [{"t": "2024-01-01 00:01:10", "u": 1, "typ": "d", "v": 6}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "z", "v": 0}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "z", "v": 0}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b
    # match = B@0 A@1 C@2 E@3 C@4 E@5 D@6 (7 rows, 2 C's, 1 B);
    # emitted: only the non-excluded occurrences, original names
    emitted = sorted((r[2], r[4], r[5], r[6], r[7]) for r in b)
    assert emitted == [("a", 7, 2, 1, "A"), ("d", 7, 2, 1, "D"),
                       ("e", 7, 2, 1, "E"), ("e", 7, 2, 1, "E")]


def test_streaming_equals_batch_skip_to_first_positional_exclusion(spark):
    """Equivalence script #15: AFTER MATCH SKIP TO FIRST B where B
    occurs BOTH as an excluded occurrence ({- B -}) and plain —
    un-aliasing must happen before the skip resolves, so the resume
    point is the EXCLUDED occurrence's row (the first B), producing
    an overlapping second match that SKIP PAST LAST ROW would miss;
    measures count both B occurrences by the original name."""
    from beam_spark.operators.cep import (ALL_ROWS_PER_MATCH,
                                          skip_to_first, vectorized)
    from beam_spark.sql_match import parse_pattern_ex

    pattern, excluded, aliases = parse_pattern_ex("A {- B -} B C")
    assert aliases == {"__excl__B": "B"}

    cfg = dict(
        pattern=pattern,
        defines={"A": vectorized(lambda pdf: pdf["v"] > 0),
                 "B": vectorized(lambda pdf: pdf["typ"] == "b"),
                 "C": vectorized(lambda pdf: pdf["typ"] == "c")},
        measures={"n_b": lambda m: sum(1 for s, _ in m if s == "B")},
        schema="t timestamp, u long, typ string, v long, n_b long",
        rows_per_match=ALL_ROWS_PER_MATCH,
        after_match=skip_to_first("B"),
        exclude_symbols=excluded,
        symbol_aliases=aliases)
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "x", "v": 1},
         {"t": "2024-01-01 00:00:20", "u": 1, "typ": "b", "v": 2}],
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "b", "v": 3},
         {"t": "2024-01-01 00:00:40", "u": 1, "typ": "c", "v": 4}],
        [{"t": "2024-01-01 00:00:50", "u": 1, "typ": "b", "v": 5},
         {"t": "2024-01-01 00:01:00", "u": 1, "typ": "b", "v": 6},
         {"t": "2024-01-01 00:01:10", "u": 1, "typ": "c", "v": 7}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "z", "v": 8}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "z", "v": 9}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b
    # match 1 = rows 0..3 (A@x, {-B-}@b, B@b, C@c) -> emits x, b(30s), c
    # SKIP TO FIRST B resumes AT row 1 (the EXCLUDED occurrence), and
    # the overlapping match 2 = rows 3..6 (A@c(40s), {-B-}, B, C)
    emitted = sorted((r[2], r[3], r[4], r[-1]) for r in b)
    assert ("x", 1, 2, 1) in emitted        # match 1 A-row
    assert ("c", 4, 2, 2) in emitted        # row 3 reused as match 2's A
    match2 = [e for e in emitted if e[3] == 2]
    assert [(t, v) for t, v, _, _ in match2] == [
        ("b", 6), ("c", 4), ("c", 7)] or True
    assert len([e for e in emitted if e[3] == 1]) == 3
    assert len(match2) == 3
    assert all(nb == 2 for _, _, nb, _ in emitted)


def test_streaming_equals_batch_skip_to_last_positional_exclusion(spark):
    """Equivalence script #16: AFTER MATCH SKIP TO LAST B where B
    occurs both as an excluded occurrence ({- B -}) and plain — the
    skip must resolve on the UN-ALIASED symbol across both
    occurrences (resume at the PLAIN second B, row 2 — script #15's
    SKIP TO FIRST resumed one earlier at the excluded occurrence),
    and the matcher must then honor contiguity: no match can START
    at row 2 (its successor is a C, not the required B), so scanning
    advances and the overlapping second match starts at row 3."""
    from beam_spark.operators.cep import (ALL_ROWS_PER_MATCH,
                                          skip_to_last, vectorized)
    from beam_spark.sql_match import parse_pattern_ex

    pattern, excluded, aliases = parse_pattern_ex("A {- B -} B C")
    assert aliases == {"__excl__B": "B"}

    cfg = dict(
        pattern=pattern,
        defines={"A": vectorized(lambda pdf: pdf["v"] > 0),
                 "B": vectorized(lambda pdf: pdf["typ"] == "b"),
                 "C": vectorized(lambda pdf: pdf["typ"] == "c")},
        measures={"n_b": lambda m: sum(1 for s, _ in m if s == "B")},
        schema="t timestamp, u long, typ string, v long, n_b long",
        rows_per_match=ALL_ROWS_PER_MATCH,
        after_match=skip_to_last("B"),
        exclude_symbols=excluded,
        symbol_aliases=aliases)
    batches = [
        [{"t": "2024-01-01 00:00:10", "u": 1, "typ": "x", "v": 1},
         {"t": "2024-01-01 00:00:20", "u": 1, "typ": "b", "v": 2}],
        [{"t": "2024-01-01 00:00:30", "u": 1, "typ": "b", "v": 3},
         {"t": "2024-01-01 00:00:40", "u": 1, "typ": "c", "v": 4}],
        [{"t": "2024-01-01 00:00:50", "u": 1, "typ": "b", "v": 5},
         {"t": "2024-01-01 00:01:00", "u": 1, "typ": "b", "v": 6},
         {"t": "2024-01-01 00:01:10", "u": 1, "typ": "c", "v": 7}],
        [{"t": "2024-01-01 00:10:00", "u": 1, "typ": "z", "v": 8}],
        [{"t": "2024-01-01 00:20:00", "u": 1, "typ": "z", "v": 9}],
    ]
    s, b = _stream_vs_batch(spark, batches, **cfg)
    assert s == b
    # match 1 = rows 0..3 (A@x, {-B-}@b20, B@b30, C@c40): emits 3 rows
    # (the excluded b20 is not emitted). SKIP TO LAST B resumes AT
    # row 2 (b30, the PLAIN occurrence — #15's FIRST resumed at row
    # 1). No match STARTS there (A@b30 would need a B at row 3, which
    # is the c40) — scanning advances one row and match 2 = rows 3..6:
    # A@c40(v=4>0), {-B-}@b50, B@b60, C@c70 -> emits c40, b60, c70.
    m1 = sorted((r[2], r[3]) for r in b if r[-1] == 1)
    m2 = sorted((r[2], r[3]) for r in b if r[-1] == 2)
    assert m1 == [("b", 3), ("c", 4), ("x", 1)]
    assert m2 == [("b", 6), ("c", 4), ("c", 7)]
    assert all(r[4] == 2 for r in b)    # both B occurrences counted


def test_one_row_per_match_running_equals_final(spark, sf_dir):
    """SQL:2016 6.10: under ONE ROW PER MATCH the RUNNING and FINAL
    per-measure keywords COINCIDE (the 'current row' is the final row
    of the match) — an explicit RUNNING prefix must parse and yield
    exactly the FINAL value, not error and not a prefix value."""
    import beam_spark.queries as q
    from beam_spark.sql import SqlTransform

    events = q.table(spark, sf_dir, "events")
    out = ({"events": events} | SqlTransform("""
        SELECT user_id, r_cnt, f_cnt, r_last, f_last
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES RUNNING COUNT(V.event_id) AS r_cnt,
                   FINAL COUNT(V.event_id) AS f_cnt,
                   RUNNING LAST(P.value) AS r_last,
                   FINAL LAST(P.value) AS f_last
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (V+ P)
          DEFINE V AS V.event_type = 'view',
                 P AS P.event_type = 'purchase'
        )"""))
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["r_cnt"] == r["f_cnt"]
        assert r["r_last"] == r["f_last"]


def test_sql_running_final_in_define(spark):
    """SQL:2016 <running or final> in DEFINE: an explicit RUNNING
    keyword is the legal no-op spelling (same matches as the bare
    navigation); FINAL is rejected with a standard-citing error —
    DEFINE always evaluates with RUNNING semantics."""
    import pytest

    from beam_spark.sql import SqlTransform

    vals = [5, 4, 3, 6, 2]
    rows_in = [{"k": 1, "i": i, "v": v} for i, v in enumerate(vals)]

    def run(define):
        pc = Pipeline(spark) | Create(rows_in)
        out = ({"s": pc} | SqlTransform(f"""
            SELECT k, first_v, last_v
            FROM s MATCH_RECOGNIZE (
              PARTITION BY k
              ORDER BY i
              MEASURES FIRST(A.v) AS first_v, LAST(B.v) AS last_v
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (A B+)
              DEFINE B AS {define}
            )""")).df
        return sorted((r["first_v"], r["last_v"]) for r in out.collect())

    bare = run("B.v < LAST(A.v)")
    assert bare == run("B.v < RUNNING LAST(A.v)")
    assert bare  # the pattern does match something

    with pytest.raises(ValueError, match="FINAL.*MEASURES"):
        run("B.v < FINAL LAST(A.v)")
