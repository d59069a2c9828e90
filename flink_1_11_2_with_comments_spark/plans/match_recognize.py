"""SQL MATCH_RECOGNIZE front-end → quantified CEP engine.

The reference exposes CEP both as the DataStream Pattern API and as
SQL MATCH_RECOGNIZE (flink-table-planner-blink/.../physical/stream/
StreamExecMatch.scala:68; parser flink-sql-parser SqlMatchRecognize).
Spark has no MATCH_RECOGNIZE; per SURVEY §7 the SQL surface is a
front-end parse, with execution in streaming/cep.py's NFA
(match_pattern_batch / QStep).

Supported subset (raise on anything else, loudly):

    SELECT * FROM <table>
    MATCH_RECOGNIZE (
      [PARTITION BY k [, k...]]
      ORDER BY ts [, id]
      MEASURES [RUNNING|FINAL] <m> AS alias [, ...]
      [ONE ROW PER MATCH | ALL ROWS PER MATCH]
      [AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW |
       SKIP TO [FIRST|LAST] V]
      PATTERN ( V[q] V[q] ... [| V[q] ...] | PERMUTE(V, V, ...) )
        [WITHIN INTERVAL 'n' UNIT]
      DEFINE V AS <OR-of-ANDs (SQL precedence, no parentheses) of
                   V.col <op> literal
                   | V.col <op> PREV|NEXT(V.col [, n])
                   | V.col [NOT] IN (literal, ...)> [, ...]
    )

- PREV/NEXT(V.col [, n]) iterative conditions (SQL standard: they
  navigate the input rows, classifier-agnostic) compile to
  LAG/LEAD(col, n) over (partition, order) — evaluated JVM-side like
  every other DEFINE flag; NULL beyond the partition bounds is false.
  Streaming too: the NFA buffer carries the nav-referenced columns
  and freezes nav flags once neighbors are watermark-final
  (cep.match_pattern_stream nav_steps).
- each DEFINE is parsed once (_parse_define) into OR-of-AND atoms;
  the batch JVM Column (_parse_flag_expr), the stream's Python
  predicate (_parse_predicate), the nav metadata and the pruned
  column set are all read off those atoms.

- quantifiers: none (exactly once), `+`, `*`, `?`, `{n}`, `{m,n}`,
  `{m,}` — each RELUCTANT with a trailing `?` (`B+?`, `B*?`, `B??`,
  `B{m,n}?`: prefer FEWER repetitions; Quantifier.greedy/reluctant).
  min-0 forms (`*`, `?`) are handled NATIVELY by the NFA walk:
  each step yields its zero-repetition option at its own preference
  position, so backtracking explores choices in regex order —
  left-to-right, earlier quantifiers' preference outranking later
  steps' (fuzz-pinned against Python's `re`; the reference NFA's
  OPTIONAL state, flink-cep/.../pattern/Quantifier.java). Streaming
  runs min-0 at EVERY position: mid-pattern zero gaps are immutable
  inside the watermark-complete prefix, the after-match scan anchors
  at every position (leftmost preference survives zero leading
  bindings), and a min-0 LAST
  variable rides the same boundary deferral as any greedy trailing
  quantifier (held until a watermark-final successor fails to
  extend, or the within timeout). Patterns that can match zero
  rows (all steps optional) raise.
- alternation `A B | C D`: one branch per arm, SQL preference =
  textual order (ties at the same start row resolve to the earlier
  branch); a variable unmatched by the winning branch reports NULL
  ids / COUNT 0. Batch and streaming (union flags + anchored
  first-branch-wins scan).
- AFTER MATCH SKIP TO [FIRST|LAST] V: resume AT the first/last row
  mapped to V (AfterMatchSkipStrategy.skipToFirst/skipToLast) —
  overlapping matches allowed; runtime error if V matched no rows or
  the resume point would not advance. Batch and streaming (eviction
  keeps everything from the resume point on); SKIP TO NEXT ROW
  streams via the anchored per-start-row scan.
- PERMUTE(A, B, ...): any ordering of the elements — expanded to the
  alternation of permutations, ties at the same start row broken by
  permutation order (SqlMatchRecognize PERMUTE / Calcite expansion).
  Batch and streaming (ONE ROW PER MATCH).
- pattern exclusion `{- V[q] -}`: V matches and feeds measures, but
  its rows are omitted from ALL ROWS PER MATCH output (no-op for ONE
  ROW PER MATCH, as in the standard).
- measures: FIRST(V.<id>), LAST(V.<id>), bare V.<id>, COUNT(V.*),
  MATCH_NUMBER(), CLASSIFIER() — each optionally prefixed RUNNING or
  FINAL (SqlMatchRecognize.java RUNNING/FINAL; runtime rt/match/).
  MEASURES is parsed once (_parse_measures). ONE ROW PER MATCH:
  everything is FINAL (RUNNING evaluated at the last row of a
  completed match equals FINAL — both accepted) and the per-variable
  measures read the NFA's match-row columns. ALL ROWS PER MATCH:
  default is RUNNING; batch and stream run the same NFA option
  (emit="rows") and the same evaluator (cep._match_rows), which
  emits one row per matched event with MATCH_NUMBER(), CLASSIFIER()
  and the measures over the running frame (the match's rows up to
  the current one) or the final frame (the whole match). Matches are
  complete when they are emitted, so no window function runs after
  the NFA, and a stream's rows on watermark-complete input are the
  batch rows by construction (MATCH_NUMBER() persists in stream
  state).
- ALL ROWS PER MATCH output: PARTITION BY keys, order/id columns,
  then the measures (the pruned projection that crossed the NFA, not
  every input column — documented subset).
- pattern concatenation is consecutive rows (SQL standard); the match
  may begin at any row — first step anchors relaxed, the rest strict.
- default after-match strategy is SKIP PAST LAST ROW (SQL standard,
  same default as the reference).
"""

from __future__ import annotations

import functools
import re
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.cep import QStep, _union_steps, match_pattern_batch

_MR = re.compile(
    r"SELECT\s+\*\s+FROM\s+(\w+)\s+MATCH_RECOGNIZE\s*\((?P<body>.*)\)\s*"
    r"(?:AS\s+\w+\s*)?$",
    re.IGNORECASE | re.DOTALL)

_CLAUSE = re.compile(
    r"(PARTITION\s+BY|ORDER\s+BY|MEASURES|ONE\s+ROW\s+PER\s+MATCH|"
    r"ALL\s+ROWS\s+PER\s+MATCH|AFTER\s+MATCH|PATTERN|WITHIN|DEFINE)",
    re.IGNORECASE)

_QUANT = re.compile(
    r"^(\w+)(\+\??|\*\??|\?\??|\{\s*\d+\s*(?:,\s*\d*\s*)?\}\??)?$")

_COND = re.compile(
    r"^(\w+)\.(\w+)\s*(=|<>|!=|<=|>=|<|>)\s*"
    r"('(?:[^']*)'|-?\d+(?:\.\d+)?)$")

# iterative condition: V.col <op> PREV|NEXT(V.col2 [, offset]) — SQL
# standard PREV/NEXT navigate the input rows (classifier-agnostic)
_COND_PREV = re.compile(
    r"^(\w+)\.(\w+)\s*(=|<>|!=|<=|>=|<|>)\s*"
    r"(PREV|NEXT)\s*\(\s*(\w+)\.(\w+)\s*(?:,\s*(\d+)\s*)?\)$",
    re.IGNORECASE)

_OPS = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}

# membership atom: V.col [NOT] IN ('a', 'b', 1, ...)
_COND_IN = re.compile(
    r"^(\w+)\.(\w+)\s+(NOT\s+)?IN\s*\(\s*([^)]+)\s*\)$",
    re.IGNORECASE)


def _literal(lit: str):
    lit = lit.strip()
    return lit[1:-1] if lit.startswith("'") else (
        float(lit) if "." in lit else int(lit))


class _Atom(NamedTuple):
    """One DEFINE test on the defined variable's own row:
    ``col op rhs``. ``op`` is an ``_OPS`` key with a literal ``rhs``,
    or "in" / "not in" with a tuple of literals. With ``link``
    ("__prev" / "__next") ``rhs`` is a column of the row ``off`` rows
    before / after (SQL PREV/NEXT)."""
    col: str
    op: str
    rhs: object
    link: str | None = None
    off: int = 1

    @property
    def cols(self) -> set[str]:
        return {self.col, self.rhs} if self.link else {self.col}


def _parse_define(cond: str, var: str) -> list[list[_Atom]]:
    """DEFINE condition → disjuncts of conjunct atoms (AND binds
    tighter than OR, SQL precedence; no parentheses in the subset —
    the same boundary the rest of the parser draws). TRUE (an
    undefined catch-all variable) is one empty conjunction. The one
    subset check for both emitters: every atom must test ``var``."""
    if cond.strip().upper() == "TRUE":
        return [[]]
    out = []
    for d in re.split(r"\s+OR\s+", cond.strip(), flags=re.IGNORECASE):
        conj = []
        for part in re.split(r"\s+AND\s+", d, flags=re.IGNORECASE):
            part = part.strip()
            m = (_COND_PREV.match(part) or _COND_IN.match(part)
                 or _COND.match(part))
            if not m or m.group(1).upper() != var.upper():
                raise NotImplementedError(
                    f"MATCH_RECOGNIZE DEFINE subset: `{part}` "
                    f"(want {var}.col <op> literal | PREV(V.col[, n]) "
                    f"| {var}.col [NOT] IN (...) [AND/OR ...])")
            if m.re is _COND_PREV:
                conj.append(_Atom(m.group(2), m.group(3), m.group(6),
                                  f"__{m.group(4).lower()}",
                                  int(m.group(7) or 1)))
            elif m.re is _COND_IN:
                conj.append(_Atom(
                    m.group(2), "not in" if m.group(3) else "in",
                    tuple(_literal(v) for v in m.group(4).split(","))))
            else:
                conj.append(_Atom(m.group(2), m.group(3),
                                  _literal(m.group(4))))
        out.append(conj)
    return out


def _lag_window(keys: list[str], ts_col: str, id_col: str):
    """Row-order window for PREV() compilation."""
    from pyspark.sql import Window
    base = Window.partitionBy(*keys) if keys else Window.partitionBy()
    return base.orderBy(ts_col, id_col)


def _split_clauses(body: str) -> dict[str, str]:
    """Split the MATCH_RECOGNIZE body into its clauses by keyword."""
    parts = _CLAUSE.split(body)
    out: dict[str, str] = {}
    for i in range(1, len(parts), 2):
        key = re.sub(r"\s+", " ", parts[i].upper())
        out[key] = parts[i + 1].strip().rstrip(",").strip()
    return out


def _atom_test(a: _Atom):
    if a.link:
        def nav_test(ev):
            p = ev
            for _ in range(a.off):
                p = p.get(a.link) if p else None
            return p is not None and _OPS[a.op](ev[a.col], p[a.rhs])
        return nav_test
    if a.op in ("in", "not in"):
        vals, neg = set(a.rhs), a.op == "not in"
        return lambda ev: (ev[a.col] in vals) != neg
    return lambda ev: _OPS[a.op](ev[a.col], a.rhs)


def _parse_predicate(disjuncts: list[list[_Atom]]):
    """Parsed DEFINE → Python predicate over a row dict (the stream
    evaluates it at ingestion). PREV/NEXT walk the ``__prev`` /
    ``__next`` chain that cep._records and the stream buffer attach;
    beyond the partition bounds it is NULL → condition false (the SQL
    semantics)."""
    tests = [[_atom_test(a) for a in conj] for conj in disjuncts]
    return lambda ev: any(all(t(ev) for t in ts) for ts in tests)


def _atom_column(a: _Atom, lag_window):
    if a.link:
        if lag_window is None:
            raise NotImplementedError(
                "PREV()/NEXT() conditions need a row order "
                "(batch only)")
        nav = F.lag if a.link == "__prev" else F.lead
        return F.coalesce(
            _OPS[a.op](F.col(a.col), nav(a.rhs, a.off).over(lag_window)),
            F.lit(False))
    if a.op in ("in", "not in"):
        c = F.col(a.col).isin(*a.rhs)
        return ~c if a.op == "not in" else c
    return _OPS[a.op](F.col(a.col), F.lit(a.rhs))


def _parse_flag_expr(disjuncts: list[list[_Atom]], lag_window=None):
    """The same parsed DEFINE as a JVM boolean Column (batch) — the
    _OPS lambdas build Column expressions when fed Columns, so
    predicate evaluation stays in whole-stage codegen and only (keys,
    id, ts, flags) cross the Arrow boundary (cep._flag_projection).
    PREV/NEXT(V.col, n) compile to LAG/LEAD(col, n) over
    ``lag_window`` (partition keys, row order) — still fully JVM-side;
    NULL beyond the partition bounds coalesces to false."""
    if disjuncts == [[]]:
        return F.lit(True)
    return functools.reduce(Column.__or__, [
        functools.reduce(Column.__and__,
                         [_atom_column(a, lag_window) for a in conj])
        for conj in disjuncts])


def _parse_branch(
        toks: list[str],
        permute: bool) -> tuple[list[tuple[str, int, int | None, bool]],
                                set[str]]:
    """One alternation branch's tokens → ([(name, min, max, greedy)],
    excluded). min may be 0 (`*` = {0,}, `?` = {0,1}) — the engine
    handles these natively (zero-repetition options in per-step
    preference order). A trailing `?` on any quantifier (`B*?`,
    `B+?`, `B??`, `B{m,n}?`) makes it RELUCTANT: prefer FEWER
    repetitions (SQL standard reluctant quantifiers; reference:
    Quantifier.greedy/reluctant, flink-cep/.../pattern/Quantifier.java
    — Pattern.oneOrMore().greedy() vs default reluctant loops)."""
    steps, excluded = [], set()
    in_excl = False
    for tok in toks:
        if tok == "{-":
            if in_excl or permute:
                raise NotImplementedError("nested pattern exclusion")
            in_excl = True
            continue
        if tok == "-}":
            if not in_excl:
                raise NotImplementedError("unbalanced `-}` in pattern")
            in_excl = False
            continue
        m = _QUANT.match(tok)
        if not m:
            raise NotImplementedError(
                f"MATCH_RECOGNIZE pattern subset: token `{tok}` "
                "(supported: V, V+[?], V*[?], V?[?], V{n}, V{m,n}[?], "
                "V{m,}, PERMUTE(...), {- V -}, alternation `|`)")
        name, q = m.group(1), m.group(2)
        if in_excl:
            excluded.add(name)
        greedy = True
        if q == "??":
            q, greedy = "?", False
        elif q is not None and q != "?" and q.endswith("?"):
            q, greedy = q[:-1], False
        if q is None:
            steps.append((name, 1, 1, True))
        elif q == "+":
            steps.append((name, 1, None, greedy))
        elif q == "*":
            steps.append((name, 0, None, greedy))
        elif q == "?":
            steps.append((name, 0, 1, greedy))
        else:
            nums = re.findall(r"\d+", q)
            if "," not in q:
                steps.append((name, int(nums[0]), int(nums[0]), True))
            elif len(nums) == 2:
                steps.append((name, int(nums[0]), int(nums[1]), greedy))
            else:
                steps.append((name, int(nums[0]), None, greedy))
    if in_excl:
        raise NotImplementedError("unbalanced `{-` in pattern")
    return steps, excluded


_GROUP = re.compile(
    r"\(\s*([^()|]+?)\s*\)\s*(\{\s*\d+\s*(?:,\s*\d+)?\s*\}\??|"
    r"[?*+]\??|\{\s*\d+\s*,\s*\}\??)")


def _expand_groups(arm: str, budget: int = 64) -> list[str]:
    """Grouped-sequence quantifiers `(A B){m,n}` / `(A B){n}` /
    `(A B)?` → the alternation of unrolled repetitions, GREEDY
    preference order (more repetitions first), recursively for
    multiple groups in one arm (reference: GroupPattern.java —
    Pattern.begin(pattern).times(m, n); NFACompiler unrolls group
    states the same way). Unbounded group repetition (`(A B)+`,
    `(A B)*`, `{m,}`) has no finite unrolling and stays outside the
    subset — single-variable unbounded quantifiers cover the common
    cases (the engine matches `B+` natively).

    Preference note: unrolling ranks the group's repetition-count
    choice ABOVE earlier quantifiers' backtracking (alternation
    semantics), where the regex model interleaves it positionally —
    observable only when an EARLIER unbounded quantifier could
    backtrack to enable one more group repetition (e.g.
    `A{2,} (A C)?` on 'AAAC': this front-end matches 'AA'+'AC',
    regex prefers 'AAA' + absent). Single-variable quantifiers have
    exact regex preference (fuzz-pinned in tests/test_stateful.py)."""
    m = _GROUP.search(arm)
    if m is None:
        if "(" in arm or ")" in arm:
            raise NotImplementedError(
                f"MATCH_RECOGNIZE pattern group subset: `{arm}` "
                "(supported: (SEQ){n}, (SEQ){m,n}, (SEQ)? — bounded "
                "quantifier, no `|` inside the group; nesting is "
                "unrolled innermost-first)")
        return [arm]
    seq, q = m.group(1), m.group(2)
    # trailing `?` on the group quantifier = RELUCTANT (fewer
    # repetitions preferred); `??` is the reluctant optional group
    reluctant = False
    if q == "??":
        q, reluctant = "?", True
    elif q != "?" and q.endswith("?"):
        q, reluctant = q[:-1], True
    if q in ("+", "*") or ("," in q and len(re.findall(r"\d+", q)) == 1):
        raise NotImplementedError(
            f"unbounded group repetition `({seq}){q}`: multi-variable "
            "sequences must use a bounded quantifier ({n}, {m,n}, ?)")
    if q == "?":
        lo, hi = 0, 1
    else:
        nums = [int(x) for x in re.findall(r"\d+", q)]
        lo, hi = (nums[0], nums[0]) if len(nums) == 1 else (nums[0],
                                                            nums[1])
    if hi < lo or hi > 8:
        raise NotImplementedError(
            f"group quantifier bound out of range in `({seq}){q}` "
            "(max 8 repetitions — unrolling is exponential)")
    out: list[str] = []
    # greedy: longer unrollings first; reluctant: shorter first
    reps = (range(hi, lo - 1, -1) if not reluctant
            else range(lo, hi + 1))
    for r in reps:
        unrolled = (arm[:m.start()] + " ".join([seq] * r)
                    + arm[m.end():]).strip()
        out.extend(_expand_groups(unrolled, budget))
        if len(out) > budget:
            raise NotImplementedError(
                "group quantifier expansion exceeds 64 branches")
    return out


def _parse_pattern(
        pat: str) -> tuple[list[list[tuple[str, int, int | None]]],
                           set[str], bool]:
    """`(A B+ C{2,4})` → ([branch, ...], excluded, permute), where a
    branch is [(name, min, max), ...].

    Handles every SqlMatchRecognize pattern form in the subset:
    - quantifiers none/`+`/`*`/`?`/`{n}`/`{m,n}`/`{m,}` (min 0 forms
      are matched natively by the engine's walk);
    - top-level alternation ``A B | C D`` — one branch per arm, SQL
      preference = textual order (ties at the same start row resolve
      to the earlier branch);
    - ``PERMUTE(A, B, ...)`` — any ordering of the elements
      (expanded to the alternation of permutations, SQL preference =
      permutation order); returns permute=True;
    - exclusion ``{- V[q] -}`` — V participates in matching but its
      rows are omitted from ALL ROWS PER MATCH output
      (SqlMatchRecognize exclusion syntax); V is added to `excluded`.
    """
    pat = pat.strip()
    if pat.startswith("(") and pat.endswith(")"):
        pat = pat[1:-1].strip()
    pm = re.match(r"^PERMUTE\s*\((.*)\)$", pat, re.IGNORECASE | re.DOTALL)
    if pm:
        if "|" in pm.group(1):
            raise NotImplementedError("alternation inside PERMUTE")
        toks = [t.strip() for t in pm.group(1).split(",") if t.strip()]
        if any("{-" in t for t in toks):
            raise NotImplementedError("exclusion inside PERMUTE")
        steps, excluded = _parse_branch(toks, permute=True)
        return [steps], excluded, True
    arms = [a.strip() for a in pat.split("|")]
    if len(arms) > 1 and "PERMUTE" in pat.upper():
        raise NotImplementedError("PERMUTE combined with alternation")
    branches, excluded = [], set()
    for arm in arms:
        if not arm:
            raise NotImplementedError("empty alternation arm in pattern")
        for ex in _expand_groups(arm):
            if not ex:
                # a lone `(SEQ)?` unrolled to zero repetitions — the
                # zero-row-match boundary, same as all-optional patterns
                raise NotImplementedError(
                    "patterns that can match zero rows (group `?` with "
                    "no other steps) are unsupported")
            toks = ex.replace("{-", " {- ").replace("-}", " -} ").split()
            steps, excl = _parse_branch(toks, permute=False)
            if not steps:
                raise NotImplementedError(
                    "empty alternation arm in pattern")
            branches.append(steps)
            excluded |= excl
    return branches, excluded, False


# ONE ROW PER MATCH: measure kind → the NFA's per-variable column
_ONE_ROW_COLS = {"first_id": "{}_first_id", "last_id": "{}_last_id",
                 "count_var": "{}_n"}
# ALL ROWS PER MATCH: measure kinds the NFA emits as columns
_EMITTED = {"match_number": "match_seq", "classifier": "classifier"}


def _parse_measures(text: str, id_col: str, all_rows: bool) -> list[dict]:
    """MEASURES → one dict per measure, in order: ``alias``, ``kind``
    (first_id, last_id, count_var, count_all, match_number or
    classifier), ``var`` (the pattern variable, for first_id /
    last_id / count_var) and ``final`` (the FINAL prefix; ALL ROWS
    PER MATCH defaults to RUNNING, per the SQL standard). Bare
    ``V.id`` is LAST(V.id). ONE ROW PER MATCH reads only the
    per-variable kinds: RUNNING at the last row of a completed match
    equals FINAL, so both prefixes are accepted there."""
    out = []
    for item in re.split(r",\s*(?=[^,]+\s+AS\s)", text,
                         flags=re.IGNORECASE):
        if not item.strip():
            continue
        expr, _, alias = re.split(r"\s+(AS)\s+", item.strip(),
                                  maxsplit=1, flags=re.IGNORECASE)
        sm = re.match(r"^(RUNNING|FINAL)\s+(.*)$", expr.strip(),
                      re.IGNORECASE | re.DOTALL)
        expr = (sm.group(2) if sm else expr).strip()
        kind = var = None
        if re.match(r"MATCH_NUMBER\s*\(\s*\)$", expr, re.IGNORECASE):
            kind = "match_number"
        elif re.match(r"CLASSIFIER\s*\(\s*\)$", expr, re.IGNORECASE):
            kind = "classifier"
        elif (m := re.match(rf"FIRST\s*\(\s*(\w+)\.{id_col}\s*\)$", expr,
                            re.IGNORECASE)):
            kind, var = "first_id", m.group(1)
        elif (m := re.match(rf"LAST\s*\(\s*(\w+)\.{id_col}\s*\)$", expr,
                            re.IGNORECASE)):
            kind, var = "last_id", m.group(1)
        elif (m := re.match(r"COUNT\s*\(\s*(?:(\w+)\.)?\*\s*\)$", expr,
                            re.IGNORECASE)):
            var = m.group(1)
            kind = "count_var" if var else "count_all"
        elif (m := re.match(rf"(\w+)\.{id_col}$", expr)):
            kind, var = "last_id", m.group(1)
        if all_rows and kind is None:
            raise NotImplementedError(
                f"ALL ROWS MEASURES subset: `{expr}` (want MATCH_NUMBER(), "
                f"CLASSIFIER(), FIRST/LAST(V.{id_col}), COUNT(V.*), "
                f"COUNT(*), V.{id_col})")
        if not all_rows and kind not in _ONE_ROW_COLS:
            raise NotImplementedError(
                f"MEASURES subset: `{expr}` (want FIRST/LAST(V.{id_col}), "
                f"V.{id_col}, COUNT(V.*))")
        out.append({"alias": alias.strip(), "kind": kind, "var": var,
                    "final": bool(sm) and sm.group(1).upper() == "FINAL"})
    return out


def match_recognize(spark: SparkSession, sql: str,
                    df: DataFrame | None = None) -> DataFrame:
    """Parse and execute a MATCH_RECOGNIZE query (subset above).

    `df` overrides the FROM table (for streaming inputs); otherwise
    the table is resolved from the Spark catalog. Batch and stream
    run the same parse: one atom list per DEFINE, one measure list,
    one output select.
    """
    m = _MR.match(sql.strip().rstrip(";").strip())
    if not m:
        raise NotImplementedError(
            "MATCH_RECOGNIZE subset: SELECT * FROM <table> "
            "MATCH_RECOGNIZE (...) [AS alias]")
    table, body = m.group(1), m.group("body")
    cl = _split_clauses(body)
    if "ORDER BY" not in cl or "PATTERN" not in cl or "DEFINE" not in cl:
        raise NotImplementedError(
            "MATCH_RECOGNIZE needs ORDER BY, PATTERN and DEFINE")

    keys = [c.strip() for c in cl.get("PARTITION BY", "").split(",")
            if c.strip()]
    order = [c.strip() for c in cl["ORDER BY"].split(",")]
    ts_col = order[0]
    id_col = order[1] if len(order) > 1 else "event_id"
    all_rows = "ALL ROWS PER MATCH" in cl
    measures = _parse_measures(cl.get("MEASURES", ""), id_col, all_rows)

    defines: dict[str, list[list[_Atom]]] = {}
    for item in re.split(r",\s*(?=\w+\s+AS\s)", cl["DEFINE"],
                         flags=re.IGNORECASE):
        var, _, cond = re.split(r"\s+(AS)\s+", item.strip(),
                                maxsplit=1, flags=re.IGNORECASE)
        defines[var.upper()] = _parse_define(cond, var)

    branches_raw, excluded, permute = _parse_pattern(cl["PATTERN"])
    branches = []
    for braw in branches_raw:
        bsteps = []
        for i, (name, mn, mx, greedy) in enumerate(braw):
            pred = _parse_predicate(defines.get(name.upper(), [[]]))
            bsteps.append(QStep(
                name, pred, min_times=mn, max_times=mx,
                contiguity="relaxed" if i == 0 else "strict",
                greedy=greedy))
        branches.append(bsteps)
    # union of variables across branches, first-appearance order — the
    # flag/measure basis (a variable in several branches gets one slot)
    steps = _union_steps(branches)

    within = None
    if "WITHIN" in cl:
        wm = re.match(r"INTERVAL\s+'(\d+)'\s+(\w+)", cl["WITHIN"],
                      re.IGNORECASE)
        if not wm:
            raise NotImplementedError(f"WITHIN subset: {cl['WITHIN']}")
        unit = wm.group(2).lower()
        within = f"{wm.group(1)} {unit if unit.endswith('s') else unit + 's'}"

    after = re.sub(r"\s+", " ", cl.get("AFTER MATCH",
                                       "SKIP PAST LAST ROW").upper())
    if "PAST LAST" in after:
        after_match = "skip_past_last"
    elif "NEXT ROW" in after:
        # one preferred match per start row, resume one past the
        # match's START (AfterMatchSkipStrategy.skipToNext) — matches
        # may overlap, but NOT the NO_SKIP all-candidates semantics
        after_match = "skip_to_next_row"
    elif (stm := re.match(r"SKIP TO (?:(FIRST|LAST) )?(\w+)$", after)):
        # SKIP TO [FIRST|LAST] V — resume AT the first/last row mapped
        # to V (AfterMatchSkipStrategy.skipToFirst/skipToLast; bare
        # SKIP TO V is SKIP TO LAST V per the SQL standard). Runtime
        # error if V matched no rows or resuming would not advance.
        which = (stm.group(1) or "LAST").lower()
        var = stm.group(2)
        if var.upper() not in {s.name.upper() for s in steps}:
            raise NotImplementedError(
                f"AFTER MATCH SKIP TO {which.upper()} {var}: unknown "
                f"pattern variable")
        after_match = f"skip_to_{which}:{var}"
    else:
        raise NotImplementedError(f"AFTER MATCH subset: {after}")

    # iterative-condition metadata, from the same atoms: which
    # variables navigate with PREV/NEXT, which source columns those
    # variables' conditions read, and the deepest offsets — the
    # streaming NFA buffers exactly those columns and freezes nav
    # flags once neighbors are watermark-final
    atoms = {v: [a for conj in d for a in conj] for v, d in defines.items()}
    nav_vars = {v for v, ats in atoms.items() if any(a.link for a in ats)}
    navs = [a for v in nav_vars for a in atoms[v]]
    nav_kw = dict(
        nav_steps=nav_vars, nav_cols=sorted(set().union(
            *(a.cols for a in navs))),
        max_prev=max((a.off for a in navs if a.link == "__prev"),
                     default=0),
        max_next=max((a.off for a in navs if a.link == "__next"),
                     default=0)) if nav_vars else {}
    # column pruning: ship only key/order/DEFINE-referenced columns
    # into the per-key NFA (the parser knows the full referenced set,
    # so the Arrow transfer carries nothing else)
    cond_cols = set().union(*(a.cols for ats in atoms.values()
                              for a in ats))
    src = df if df is not None else spark.table(table)
    src = src.select(*[c for c in src.columns
                       if c in {*keys, ts_col, id_col, *cond_cols}])
    # ALL ROWS measures the NFA evaluates per matched row (the rest
    # are its match_seq / classifier columns)
    specs = [{**ms, "alias": f"__m{i}"} for i, ms in enumerate(measures)
             if ms["kind"] not in _EMITTED] if all_rows else None
    kw = dict(within=within, id_col=id_col, permute=permute,
              after_match=after_match, alternation=branches,
              emit="rows" if all_rows else "match", row_measures=specs)
    if src.isStreaming:
        # streaming MATCH_RECOGNIZE (StreamExecMatch): the stateful
        # NFA implements every skip strategy — SKIP PAST LAST ROW
        # (the SQL default), the overlap-allowing SKIP TO
        # FIRST/LAST(V), and SKIP TO NEXT ROW (anchored
        # per-start-row scan)
        from ..streaming.cep import match_pattern_stream
        matched = match_pattern_stream(src, keys, ts_col, steps, **kw,
                                       **nav_kw)
    else:
        lag_w = _lag_window(keys, ts_col, id_col)
        flag_exprs = [_parse_flag_expr(defines.get(s.name.upper(), [[]]),
                                       lag_window=lag_w)
                      for s in steps]
        matched = match_pattern_batch(src, keys, ts_col, steps,
                                      flag_exprs=flag_exprs, **kw)

    key_cols = [F.col(k) for k in keys]
    if not all_rows:
        return matched.select(*key_cols, *[
            F.col(_ONE_ROW_COLS[ms["kind"]].format(ms["var"]))
            .alias(ms["alias"]) for ms in measures])
    # ALL ROWS PER MATCH: keys, order/id columns, then the measures;
    # excluded variables (`{- V -}`) fed the measures, but their rows
    # are dropped from the output (the SQL-standard exclusion)
    out = matched.select(
        *key_cols, F.col(ts_col), F.col(id_col),
        *[F.col(_EMITTED.get(ms["kind"], f"__m{i}")).alias(ms["alias"])
          for i, ms in enumerate(measures)],
        F.col("classifier").alias("__cls"))
    if excluded:
        out = out.where(~F.col("__cls").isin(*sorted(excluded)))
    return out.drop("__cls")
