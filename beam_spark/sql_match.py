"""MATCH_RECOGNIZE SQL clause support (constrained grammar).

Beam reference: BeamMatchRel.java (Calcite parses the clause; the rel
sorts per partition and runs an NFA) with the pattern grammar from
impl/cep/CEPUtils.java + impl/nfa/NFA.java. Here the clause is parsed
with a small recognizer and executed by operators.cep.MatchRecognize;
the surrounding query runs as normal Spark SQL against the match result
registered as a temp view.

Supported grammar (the common CEP core):

    FROM <table> MATCH_RECOGNIZE (
      PARTITION BY c1 [, c2 ...]
      ORDER BY o1 [, o2 ...]
      MEASURES [RUNNING|FINAL] FIRST(S.col) | LAST(S.col)
               | COUNT(S.col) | SUM(S.col) | AVG(S.col) | MIN(S.col)
               | MAX(S.col) | CLASSIFIER()
               | <arithmetic of the above + numeric literals>
               AS alias [, ...]
      [AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW
       | SKIP TO [FIRST|LAST] <symbol>]
      PATTERN (ITEM ITEM ...)
      [SUBSET U = (S1, S2) [, V = (...)]]
      DEFINE SYM AS <cond> [AND <cond>]* [, ...]
    ) [AS alias]

where ITEM is ``SYM``, an alternation group ``(S1|S2|...)``, or
``PERMUTE(S1, S2, ...)`` (all symbols once each in any order, orderings
tried lexicographically with backtracking), each with an optional
quantifier ``+ * ?`` or bounded ``{n} {n,} {n,m}``, and <cond> is
``SYM.col <op> (literal | PREV(SYM.col[, k]) | NEXT(SYM.col[, k])
| FIRST(SYM2.col[, k]) | LAST(SYM2.col[, k]))``
(op: = <> != >= <= > <; PREV/NEXT are row navigation over the sorted
partition and compile to vectorized column shifts; FIRST/LAST are
MATCH navigation — they read the k-th-from-first / k-th-from-last row
so far mapped to SYM2 in the current match, RUNNING semantics, and
compile to a match-state predicate the matcher evaluates during
backtracking). SUBSET declares union variables usable as SYM2 in
FIRST/LAST and as the symbol of any MEASURES aggregate (rows mapped to
any member, in match order). Symbols without a DEFINE match any row
(SQL standard). CLASSIFIER() returns the pattern variable of the last
row of the match (ONE ROW PER MATCH semantics).
DEFINE conditions compile to vectorized numpy masks — the operator
evaluates whole columns, no per-row Python.
Nested sequence groups / cross-symbol PREV/NEXT references are out of
scope (use the python MatchRecognize API directly).
"""

from __future__ import annotations

import operator
import re

from beam_spark.operators.cep import Define

_MR_RE = re.compile(
    r"FROM\s+(\w+)\s+MATCH_RECOGNIZE\s*\((.*)\)\s*(?:AS\s+(\w+))?",
    re.IGNORECASE | re.DOTALL)

_COND_RE = re.compile(
    r"(\w+)\.(\w+)\s*(=|<>|!=|>=|<=|>|<)\s*"
    r"(?:(PREV|NEXT|FIRST|LAST)\s*\(\s*(\w+)\.(\w+)\s*(?:,\s*(\d+)\s*)?\)"
    r"|('(?:[^'])*'|-?[0-9.]+))", re.IGNORECASE)

_MEASURE_RE = re.compile(
    r"(FIRST|LAST|COUNT|SUM|AVG|MIN|MAX)\s*\(\s*(\w+)\.(\w+)\s*\)"
    r"\s+AS\s+(\w+)"
    r"|(CLASSIFIER)\s*\(\s*\)\s+AS\s+(\w+)",
    re.IGNORECASE)

_PAT_TOKEN_RE = re.compile(r"\{-|-\}|\w+|[()|,+*?]|\{[^}]*\}")

_OPS = {"=": operator.eq, "<>": operator.ne, "!=": operator.ne,
        ">=": operator.ge, "<=": operator.le, ">": operator.gt,
        "<": operator.lt}
# NOT BETWEEN is a per-test disjunction, so it can't expand to two
# AND-chain comparisons like BETWEEN does (masks only)
_VEC_OPS = {**_OPS, "__nb__": lambda s, b: (s < b[0]) | (s > b[1])}

_BETWEEN_RE = re.compile(
    r"(\w+)\.(\w+)\s+(NOT\s+)?BETWEEN\s+"
    r"('(?:[^'])*'|-?[0-9.]+)\s+AND\s+('(?:[^'])*'|-?[0-9.]+)",
    re.IGNORECASE)


def _parse_literal(lit: str):
    if lit.startswith("'"):
        return lit[1:-1]
    return float(lit) if "." in lit else int(lit)


def _parse_quantifier(q: str | None):
    if q is None:
        return "1"
    if q in "+*?":
        return q
    body = q.strip("{}").replace(" ", "")
    if "," not in body:
        n = int(body)
        return (n, n)
    lo, hi = body.split(",")
    return (int(lo), int(hi) if hi else None)


def parse_pattern(pattern_sql: str) -> list[tuple]:
    """parse_pattern_ex without the exclusion set (test/back-compat
    shim)."""
    return parse_pattern_ex(pattern_sql)[0]


def parse_pattern_ex(pattern_sql: str):
    """Recursive-descent PATTERN parser -> (pattern, excluded_syms,
    symbol_aliases).

    'V+ (C|P) A{2,4} PERMUTE(X, Y) ((A B)|C)+' ->
    [('V','+'), (('C','P'),'1'), ('A',(2,4)), (Permute('X','Y'),'1'),
     (Alt(Seq(('A','1'),('B','1')), 'C'), '+')]

    Grouping rules: a parenthesized single sequence is a Seq group; an
    alternation whose branches are ALL bare symbols stays a symbol
    tuple (row-level alternation); otherwise it is a sequence-level
    Alt. SQL:2016 exclusions ``{- ... -}`` parse as ordinary groups.
    Exclusion is POSITIONAL (per pattern occurrence, SQL:2016
    <row pattern exclusion>): every symbol occurrence inside
    ``{- -}`` is rewritten to a private alias ``__excl__<sym>``
    sharing the original's DEFINE (the MatchRecognize
    ``symbol_aliases`` contract), so ``A {- A -} A`` suppresses only
    the middle occurrence's rows while measures, CLASSIFIER and
    AFTER MATCH SKIP still see the original symbol name. The aliases
    are returned in ``excluded_syms``; rows they label are omitted
    from ALL ROWS PER MATCH output (no effect in ONE ROW mode).
    """
    from beam_spark.operators.cep import Alt, Permute, Seq, _symbols_of

    excluded: set = set()
    aliases: dict = {}
    excl_depth = [0]

    leftover = _PAT_TOKEN_RE.sub("", pattern_sql).strip()
    if leftover:
        # previously unknown characters (e.g. a mid-pattern anchor)
        # were silently dropped by findall — reject them instead
        raise ValueError(
            f"PATTERN: unsupported characters {leftover!r} (anchors "
            "^ / $ are only valid at the very start / end)")
    toks = _PAT_TOKEN_RE.findall(pattern_sql)
    if not toks:
        raise ValueError("empty PATTERN")
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def expect(t):
        got = take()
        if got != t:
            raise ValueError(f"PATTERN: expected {t!r}, got {got!r}")

    def parse_quant_opt():
        t = peek()
        if t in ("+", "*", "?") or (t and t.startswith("{")
                                     and t != "{-"):
            return _parse_quantifier(take())
        return "1"

    def parse_primary():
        t = take()
        if t is None:
            raise ValueError("PATTERN: unexpected end")
        if t == "{-":
            excl_depth[0] += 1
            items = parse_seq()
            excl_depth[0] -= 1
            expect("-}")
            for node, _q in items:
                excluded.update(_symbols_of(
                    node if not isinstance(node, str) else node))
            if len(items) == 1 and items[0][1] == "1":
                return items[0][0]
            return Seq(*items)
        if t.upper() == "PERMUTE" and peek() == "(":
            take()
            # each element is a full pattern primary with an optional
            # quantifier: PERMUTE(A+, B, (C D){2})
            elems = [(parse_primary(), parse_quant_opt())]
            while peek() == ",":
                take()
                elems.append((parse_primary(), parse_quant_opt()))
            expect(")")
            return Permute(*elems)
        if t == "(":
            branches = [parse_seq()]
            while peek() == "|":
                take()
                branches.append(parse_seq())
            expect(")")
            nodes = []
            for b in branches:
                if len(b) == 1 and b[0][1] == "1" \
                        and isinstance(b[0][0], str):
                    nodes.append(b[0][0])  # bare symbol branch
                else:
                    nodes.append(Seq(*b))
            if len(nodes) == 1:
                n = nodes[0]
                return n if isinstance(n, str) else n
            if all(isinstance(n, str) for n in nodes):
                return tuple(nodes)  # row-level alternation fast path
            return Alt(*nodes)
        if re.fullmatch(r"\w+", t):
            if excl_depth[0] > 0:
                # positional exclusion: this OCCURRENCE is excluded;
                # other occurrences of the same symbol outside {- -}
                # stay visible (alias shares the original's DEFINE)
                alias = f"__excl__{t}"
                aliases[alias] = t
                return alias
            return t
        raise ValueError(f"PATTERN: unexpected token {t!r}")

    def parse_seq():
        items = []
        while peek() is not None and peek() not in (")", "|", "-}"):
            node = parse_primary()
            items.append((node, parse_quant_opt()))
        if not items:
            raise ValueError("PATTERN: empty sequence")
        return items

    out = parse_seq()
    if peek() is not None:
        raise ValueError(f"PATTERN: trailing tokens from {peek()!r}")
    return out, frozenset(excluded), aliases


def _split_top_level(cond: str, kw: str) -> list[str]:
    """Split a DEFINE condition on the keyword (OR / AND) only at top
    level: outside single-quoted string literals ('' is the quote
    escape), outside parentheses — so ``status = 'X OR Y'`` and
    ``(a OR b) AND c`` are never split mid-literal / mid-group — and
    never inside ``BETWEEN lo AND hi`` (the AND that follows a
    top-level BETWEEN binds to it, not to the chain)."""
    kw = kw.upper()
    k = len(kw)
    parts, buf = [], []
    depth, in_str, i, n = 0, False, 0, len(cond)
    pending_between = 0

    def word_at(j, w):
        """cond[j:] starts with word w (case-insensitive, word-bounded
        on both sides)."""
        if cond[j:j + len(w)].upper() != w:
            return False
        before_ok = j == 0 or not (cond[j - 1].isalnum()
                                   or cond[j - 1] == "_")
        after = j + len(w)
        after_ok = after >= n or not (cond[after].isalnum()
                                      or cond[after] == "_")
        return before_ok and after_ok

    while i < n:
        ch = cond[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and cond[i + 1] == "'":
                    buf.append("''")
                    i += 2
                    continue
                in_str = False
            buf.append(ch)
        elif ch == "'":
            in_str = True
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif depth == 0 and word_at(i, "BETWEEN"):
            pending_between += 1
            buf.append(cond[i:i + 7])
            i += 7
            continue
        elif (depth == 0 and ch.isspace()
              and word_at(i + 1, "AND") and pending_between):
            # this AND closes a BETWEEN — part of the predicate
            pending_between -= 1
            buf.append(cond[i:i + 4])
            i += 4
            continue
        elif (depth == 0 and ch.isspace()
              and cond[i + 1:i + 1 + k].upper() == kw
              and i + 1 + k < n and cond[i + 1 + k].isspace()):
            parts.append("".join(buf))
            buf = []
            i += 1 + k
            continue
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _compile_condition(cond_sql: str, symbol: str,
                       subsets: dict | None = None) -> Define:
    """Disjunction (``OR``) of AND-chains; each AND-chain compiles as
    below and the branch masks OR together (vectorized). FIRST/LAST
    match navigation inside an OR is rejected: the matcher evaluates
    match-state conditions as a conjunct on top of the row mask, which
    cannot express a per-branch disjunction."""
    branches = _split_top_level(cond_sql.strip(), "OR")
    if len(branches) == 1:
        return _compile_and_chain(cond_sql, symbol, subsets)
    defs = [_compile_and_chain(b, symbol, subsets) for b in branches]
    if any(d.ctx_fn is not None for d in defs):
        raise ValueError(
            "OR with FIRST/LAST match navigation is unsupported in "
            "DEFINE (match-state conditions evaluate as a conjunct on "
            "top of the row mask)")

    def mask(pdf):
        import numpy as np
        m = np.zeros(len(pdf), dtype=bool)
        for d in defs:
            m |= np.asarray(d.mask_fn(pdf), dtype=bool)
        return m

    return Define(mask,
                  frontier_sensitive=any(d.frontier_sensitive for d in defs),
                  prev_depth=max(d.prev_depth for d in defs))


def _compile_and_chain(cond_sql: str, symbol: str,
                       subsets: dict | None = None) -> Define:
    """AND-chain of ``SYM.col op (literal | PREV(SYM.col[,k]) |
    NEXT(SYM.col[,k]) | FIRST(SYM2.col[,k]) | LAST(SYM2.col[,k]))``
    comparisons -> Define with a vectorized whole-column mask (NULL
    never matches, including ``<>``).

    PREV/NEXT are ROW navigation over the sorted partition (SQL
    standard): they compile to column shifts, so even cross-row
    predicates stay fully vectorized; the first/last rows (shift out of
    range) never match, per the standard's undefined-PREV semantics.

    FIRST/LAST are MATCH navigation (SQL standard RUNNING semantics):
    ``LAST(A.price)`` reads the column at the last row so far mapped to
    A — including the current row if the symbol being defined is (in)
    A — and ``FIRST(A.price, k)``/``LAST(A.price, k)`` step k rows in
    from the ends of A's mapped-row list. ``A`` may be a SUBSET union
    variable. No mapped row (or offset past the list) compares as NULL:
    never matches. These compile to a match-state ``ctx_fn`` the
    matcher evaluates on top of the mask (Define.ctx_fn)."""
    subsets = subsets or {}
    parts = _split_top_level(cond_sql.strip(), "AND")
    tests = []
    ctx_tests = []
    next_used = False
    prev_k_max = 0
    for part in parts:
        # SQL:2016 <running or final>: DEFINE evaluates with RUNNING
        # semantics; an explicit RUNNING keyword is the legal no-op
        # spelling, while FINAL shall appear only in MEASURES
        # (reference: BeamMatchRel enforces the same in its DEFINE
        # validation).
        if re.search(r"\bFINAL\s+(FIRST|LAST|PREV|NEXT)\s*\(",
                     part, re.IGNORECASE):
            raise ValueError(
                f"FINAL navigation is not allowed in DEFINE — SQL:2016 "
                f"gives DEFINE RUNNING semantics; use FINAL only in "
                f"MEASURES: {part!r}")
        part = re.sub(r"\bRUNNING\s+(?=(?:FIRST|LAST|PREV|NEXT)\s*\()",
                      "", part, flags=re.IGNORECASE)
        bm = _BETWEEN_RE.fullmatch(part.strip())
        if bm:
            # SQL-standard inclusive range over literals. BETWEEN
            # expands to two AND-chain comparisons; NOT BETWEEN is a
            # single disjunctive test (v < lo OR v > hi) — NULL never
            # matches either, like every other comparison here.
            bsym, col, neg, lo, hi = bm.groups()
            if bsym.upper() != symbol.upper():
                raise ValueError(
                    f"DEFINE for {symbol} references {bsym}")
            lo, hi = _parse_literal(lo), _parse_literal(hi)
            if neg:
                tests.append((col, "__nb__", (lo, hi)))
            else:
                tests.append((col, ">=", lo))
                tests.append((col, "<=", hi))
            continue
        m = _COND_RE.fullmatch(part.strip())
        if not m:
            raise ValueError(f"unsupported DEFINE condition: {part!r}")
        sym, col, op, nav, nav_sym, nav_col, nav_k, lit = m.groups()
        if sym.upper() != symbol.upper():
            raise ValueError(f"DEFINE for {symbol} references {sym}")
        if nav and nav.upper() in ("FIRST", "LAST"):
            members = frozenset(
                s.upper() for s in subsets.get(nav_sym, (nav_sym,)))
            k = int(nav_k) if nav_k else 0
            ctx_tests.append((col, op, nav.upper(), members, nav_col, k))
        elif nav:
            k = int(nav_k) if nav_k else 1
            if nav.upper() == "PREV":
                shift = k
                prev_k_max = max(prev_k_max, k)
            else:
                shift = -k
                next_used = True
            tests.append((col, op, ("__nav__", nav_col, shift)))
        else:
            tests.append((col, op, _parse_literal(lit)))

    def mask(pdf):
        import numpy as np
        m = np.ones(len(pdf), dtype=bool)
        for col, op, val in tests:
            s = pdf[col]
            if isinstance(val, tuple) and val[0] == "__nav__":
                rhs = pdf[val[1]].shift(val[2])
                cmp = _VEC_OPS[op](s, rhs)
                m &= (s.notna().to_numpy() & rhs.notna().to_numpy()
                      & np.asarray(cmp.fillna(False), dtype=bool))
            else:
                cmp = _VEC_OPS[op](s, val)
                m &= s.notna().to_numpy() & np.asarray(cmp.fillna(False),
                                                      dtype=bool)
        return m

    ctx_fn = None
    if ctx_tests:
        self_u = symbol.upper()

        def ctx_fn(cols, pos, acc):
            import pandas as pd
            for col, op, which, members, tcol, k in ctx_tests:
                rows = [i for s, i in acc if s.upper() in members]
                if self_u in members:
                    rows.append(pos)  # current row maps to the symbol
                idx = k if which == "FIRST" else len(rows) - 1 - k
                if idx < 0 or idx >= len(rows):
                    return False  # NULL reference never matches
                v = cols[col][pos]
                t = cols[tcol][rows[idx]]
                try:
                    if pd.isna(v) or pd.isna(t):
                        return False
                except (TypeError, ValueError):
                    pass
                if not _OPS[op](v, t):
                    return False
            return True

    # only FORWARD (NEXT) navigation depends on the frontier; PREV-only
    # masks are streaming-safe with prev_depth rows of shift context
    return Define(mask, frontier_sensitive=next_used, ctx_fn=ctx_fn,
                  prev_depth=prev_k_max)


def _compile_measure(agg: str, sym: str, col: str,
                     subsets: dict | None = None):
    agg = agg.upper()
    # SUBSET union variables: a measure over U = (A, B) aggregates the
    # rows mapped to ANY member symbol, in match order (SQL standard)
    members = frozenset(
        s.upper() for s in (subsets or {}).get(sym, (sym,)))

    def fn(match_rows):
        vals = [r[col] for s, r in match_rows if s.upper() in members]
        if agg == "FIRST":
            return vals[0] if vals else None
        if agg == "LAST":
            return vals[-1] if vals else None
        if agg == "COUNT":
            return len(vals)
        if agg == "SUM":
            return sum(vals) if vals else None
        if agg == "AVG":
            return sum(vals) / len(vals) if vals else None
        if agg == "MIN":
            return min(vals) if vals else None
        if agg == "MAX":
            return max(vals) if vals else None
        raise ValueError(agg)

    return fn


def _classifier_measure(match_rows):
    return match_rows[-1][0]


_AGG_TERM_RE = re.compile(
    r"(FIRST|LAST|COUNT|SUM|AVG|MIN|MAX)\s*\(\s*(\w+)\.(\w+)\s*\)",
    re.IGNORECASE)

_NUM_RE = re.compile(r"\d+(?:\.\d+)?(?:[eE][-+]?\d+)?")


def _compile_measure_arith(expr: str, subsets: dict | None):
    """Arithmetic MEASURES expression -> fn(match_rows) -> float|None.

    Grammar (standard precedence, parens, unary minus):
        expr   := term (('+'|'-') term)*
        term   := factor (('*'|'/') factor)*
        factor := NUMBER | AGG '(' SYM '.' COL ')' | '(' expr ')'
                  | '-' factor
    SQL semantics: any NULL operand yields NULL; x / 0 yields NULL.
    Raises ValueError on anything outside the grammar.
    """
    tokens = []
    i = 0
    while i < len(expr):
        if expr[i].isspace():
            i += 1
            continue
        m = _AGG_TERM_RE.match(expr, i)
        if m:
            tokens.append(("agg", _compile_measure(*m.groups(), subsets)))
            i = m.end()
            continue
        m = _NUM_RE.match(expr, i)
        if m:
            v = float(m.group(0))
            tokens.append(("num", lambda _mr, _v=v: _v))
            i = m.end()
            continue
        if expr[i] in "+-*/()":
            tokens.append((expr[i], None))
            i += 1
            continue
        raise ValueError(f"unsupported MEASURES expression: {expr!r}")

    pos = [0]

    def peek():
        return tokens[pos[0]][0] if pos[0] < len(tokens) else None

    def take():
        t = tokens[pos[0]]
        pos[0] += 1
        return t

    def binop(op, f1, f2):
        def fn(mr, _f1=f1, _f2=f2, _op=op):
            v1, v2 = _f1(mr), _f2(mr)
            if v1 is None or v2 is None:
                return None
            if _op == "+":
                return float(v1 + v2)
            if _op == "-":
                return float(v1 - v2)
            if _op == "*":
                return float(v1 * v2)
            return None if v2 == 0 else float(v1 / v2)
        return fn

    def parse_factor():
        k = peek()
        if k == "-":
            take()
            f = parse_factor()
            return lambda mr, _f=f: (None if _f(mr) is None
                                     else -float(_f(mr)))
        if k == "(":
            take()
            e = parse_expr()
            if peek() != ")":
                raise ValueError(
                    f"unsupported MEASURES expression: {expr!r}")
            take()
            return e
        if k in ("agg", "num"):
            return take()[1]
        raise ValueError(f"unsupported MEASURES expression: {expr!r}")

    def parse_term():
        f = parse_factor()
        while peek() in ("*", "/"):
            f = binop(take()[0], f, parse_factor())
        return f

    def parse_expr():
        f = parse_term()
        while peek() in ("+", "-"):
            f = binop(take()[0], f, parse_term())
        return f

    out = parse_expr()
    if pos[0] != len(tokens):
        raise ValueError(f"unsupported MEASURES expression: {expr!r}")
    return out


def _split_commas(s: str) -> list[str]:
    """Top-level comma split: outside parens and string literals."""
    parts, buf, depth, in_str = [], [], 0, False
    for ch in s:
        if in_str:
            buf.append(ch)
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def try_rewrite_match_recognize(sql: str, spark, tables: dict) -> str:
    """If the SQL contains a MATCH_RECOGNIZE clause, execute it via the
    MatchRecognize operator and rewrite the query to select from the
    result view. Returns the (possibly rewritten) SQL."""
    m = _MR_RE.search(sql)
    if not m:
        return sql
    table_name, body, alias = m.group(1), m.group(2), m.group(3)

    def clause(name, stop):
        mm = re.search(rf"{name}\s+(.*?)\s*(?={stop})", body,
                       re.IGNORECASE | re.DOTALL)
        return mm.group(1).strip() if mm else None

    partition_by = [c.strip() for c in
                    clause("PARTITION BY", "ORDER BY").split(",")]
    order_by = [c.strip() for c in
                clause("ORDER BY", "MEASURES").split(",")]
    measures_sql = clause(
        "MEASURES", r"ALL\s+ROWS|ONE\s+ROW|AFTER\s+MATCH|PATTERN")
    pattern_sql = re.search(
        r"PATTERN\s*\((.*?)\)\s*(?:WITHIN|SUBSET|DEFINE|AFTER)", body,
        re.IGNORECASE | re.DOTALL).group(1)
    # SUBSET U = (A, B) [, V = (...)]: union variables for MEASURES and
    # FIRST/LAST references in DEFINE (SQL standard / Flink CEP)
    subsets: dict[str, tuple] = {}
    subset_m = re.search(r"SUBSET\s+(.*?)(?=DEFINE)", body,
                         re.IGNORECASE | re.DOTALL)
    if subset_m:
        for ent in re.finditer(r"(\w+)\s*=\s*\(([^)]*)\)",
                               subset_m.group(1)):
            subsets[ent.group(1)] = tuple(
                s.strip() for s in ent.group(2).split(","))
    within_m = re.search(
        r"WITHIN\s+INTERVAL\s+'(\d+)'\s+(SECOND|MINUTE|HOUR|DAY)S?",
        body, re.IGNORECASE)
    within = (f"{within_m.group(1)} {within_m.group(2).lower()}s"
              if within_m else None)
    define_sql = re.search(r"DEFINE\s+(.*)$", body,
                           re.IGNORECASE | re.DOTALL).group(1).strip()
    skip_to_next = bool(re.search(r"SKIP\s+TO\s+NEXT\s+ROW", body, re.IGNORECASE))
    skip_to_sym = None
    skip_sym_m = re.search(
        r"AFTER\s+MATCH\s+SKIP\s+TO\s+(?:(FIRST|LAST)\s+)?(\w+)",
        body, re.IGNORECASE)
    if skip_sym_m and skip_sym_m.group(2).upper() != "NEXT":
        # SQL: SKIP TO X == SKIP TO LAST X
        mode = (skip_sym_m.group(1) or "LAST").upper()
        skip_to_sym = (mode, skip_sym_m.group(2))
    all_rows = bool(re.search(r"ALL\s+ROWS\s+PER\s+MATCH", body, re.IGNORECASE))

    # SQL:2016 anchors: ^ pins the match to the partition's first row,
    # $ requires it to consume through the last (batch-only; start/end
    # position only — the tokenizer rejects them anywhere else)
    ps = pattern_sql.strip()
    anchor_start = ps.startswith("^")
    anchor_end = ps.endswith("$")
    if anchor_start:
        ps = ps[1:]
    if anchor_end:
        ps = ps[:-1]
    pattern, excluded_syms, sym_aliases = parse_pattern_ex(ps)

    defines: dict = {}
    for part in re.split(r",\s*(?=\w+\s+AS\s)", define_sql, flags=re.IGNORECASE):
        dm = re.match(r"(\w+)\s+AS\s+(.*)", part.strip(),
                      re.IGNORECASE | re.DOTALL)
        defines[dm.group(1)] = _compile_condition(dm.group(2), dm.group(1),
                                                  subsets)
    from beam_spark.operators.cep import _symbols_of

    for sym, _ in pattern:  # undefined symbols match any row
        for s in _symbols_of(sym):
            # an exclusion alias resolves through its ORIGINAL symbol
            # (MatchRecognize binds the alias's DEFINE); default the
            # original, never the alias, or the binding would be
            # shadowed by a match-anything stub
            s = sym_aliases.get(s, s)
            defines.setdefault(s, Define(
                lambda pdf: __import__("numpy").ones(len(pdf), bool)))

    measures, measure_types = {}, []
    df = tables[table_name] if table_name in tables else spark.table(table_name)
    col_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for part in _split_commas(measures_sql):
        mm = re.fullmatch(r"(.*?)\s+AS\s+(\w+)", part,
                          re.IGNORECASE | re.DOTALL)
        if not mm:
            raise ValueError(f"unsupported MEASURES entry: {part!r}")
        expr, out_name = mm.group(1).strip(), mm.group(2)
        # SQL:2016 per-measure semantics keywords: RUNNING is the
        # default in ALL ROWS PER MATCH (and coincides with FINAL in
        # ONE ROW mode, where measures see the whole match anyway);
        # an explicit FINAL pins the whole-match value per emitted row
        kw = re.match(r"(RUNNING|FINAL)\s+", expr, re.IGNORECASE)
        final_kw = False
        if kw:
            final_kw = kw.group(1).upper() == "FINAL"
            expr = expr[kw.end():]

        def _finalize(fn):
            if final_kw:
                wrapped = (lambda mr, _f=fn: _f(mr))
                wrapped.final_semantics = True
                return wrapped
            return fn

        if re.fullmatch(r"CLASSIFIER\s*\(\s*\)", expr, re.IGNORECASE):
            measures[out_name] = _finalize(_classifier_measure)
            measure_types.append(f"{out_name} string")
            continue
        single = _AGG_TERM_RE.fullmatch(expr)
        if single:
            agg, sym, col = single.groups()
            measures[out_name] = _finalize(
                _compile_measure(agg, sym, col, subsets))
            t = ("bigint" if agg.upper() == "COUNT"
                 else "double" if agg.upper() == "AVG"
                 else col_types.get(col, "string"))
            measure_types.append(f"{out_name} {t}")
            continue
        # arithmetic over aggregate terms and numeric literals (any
        # arity, standard precedence, parens, unary minus): spreads,
        # SUM/COUNT ratios, 100 * (LAST-FIRST) / FIRST, ...
        measures[out_name] = _finalize(
            _compile_measure_arith(expr, subsets))
        measure_types.append(f"{out_name} double")

    from beam_spark.operators.cep import (ALL_ROWS_PER_MATCH,
                                          ONE_ROW_PER_MATCH,
                                          SKIP_PAST_LAST_ROW,
                                          SKIP_TO_NEXT_ROW, MatchRecognize,
                                          skip_to_first, skip_to_last)
    from beam_spark.pcollection import PCollection

    if all_rows:
        # SQL standard: ALL ROWS PER MATCH forwards every input column,
        # one output row per matched row, plus measures (FINAL) and the
        # per-row CLASSIFIER / MATCH_NUMBER (appended by the operator)
        base_types = ", ".join(f"{c} {t}" for c, t in col_types.items())
    else:
        base_types = ", ".join(f"{k} {col_types[k]}" for k in partition_by)
    out_schema = f"{base_types}, {', '.join(measure_types)}" \
        if measure_types else base_types
    result = (PCollection(df)
              | MatchRecognize(
                  partition_by=partition_by, order_by=order_by,
                  pattern=pattern, defines=defines, measures=measures,
                  output_schema=out_schema,
                  after_match=(
                      SKIP_TO_NEXT_ROW if skip_to_next
                      else (skip_to_first(skip_to_sym[1])
                            if skip_to_sym and skip_to_sym[0] == "FIRST"
                            else skip_to_last(skip_to_sym[1]))
                      if skip_to_sym else SKIP_PAST_LAST_ROW),
                  rows_per_match=ALL_ROWS_PER_MATCH if all_rows
                  else ONE_ROW_PER_MATCH,
                  # SQL standard: ALL ROWS PER MATCH measures default to
                  # RUNNING semantics (prefix-evaluated per row)
                  measure_semantics="running" if all_rows else "final",
                  anchor_start=anchor_start, anchor_end=anchor_end,
                  exclude_symbols=excluded_syms,
                  symbol_aliases=sym_aliases,
                  within=within)).df
    view = f"__mr_{table_name}"
    result.createOrReplaceTempView(view)
    return sql[: m.start()] + f"FROM {view}" + (f" AS {alias}" if alias else "") \
        + sql[m.end():]
