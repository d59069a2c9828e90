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
  ONE ROW PER MATCH: everything is FINAL (RUNNING evaluated at the
  last row of a completed match equals FINAL — both accepted). ALL
  ROWS PER MATCH: default is RUNNING; the NFA emits one row per
  matched event (cep.match_pattern_batch_rows) and measures compile
  to JVM-side window functions over (partition, match_seq) — running
  frame rowsBetween(unboundedPreceding, currentRow), final frame the
  whole match.
- ALL ROWS PER MATCH output: PARTITION BY keys, order/id columns,
  then the measures (the pruned projection that crossed the NFA, not
  every input column — documented subset). Streaming inputs support
  ALL ROWS with the FULL measure set — MATCH_NUMBER()/CLASSIFIER()
  are the NFA's emitted columns (numbering persisted in state), and
  the aggregate measures are evaluated at emission inside the state
  function (matches emit atomically, so the batch window frames are
  computable row-by-row).
- pattern concatenation is consecutive rows (SQL standard); the match
  may begin at any row — first step anchors relaxed, the rest strict.
- default after-match strategy is SKIP PAST LAST ROW (SQL standard,
  same default as the reference).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
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


def _in_values(raw: str) -> list:
    vals = []
    for item in raw.split(","):
        lit = item.strip()
        vals.append(lit[1:-1] if lit.startswith("'") else (
            float(lit) if "." in lit else int(lit)))
    return vals


def _atoms(cond: str) -> list[list[str]]:
    """DEFINE condition → disjuncts of conjunct atoms (AND binds
    tighter than OR, SQL precedence; no parentheses in the subset —
    the same boundary the rest of the parser draws)."""
    return [[a.strip() for a in re.split(r"\s+AND\s+", d,
                                         flags=re.IGNORECASE)]
            for d in re.split(r"\s+OR\s+", cond.strip(),
                              flags=re.IGNORECASE)]


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


def _parse_predicate(cond: str, var: str):
    """Conjunction of `V.col op literal` (or `op PREV(V.col [, n])`) →
    python predicate over a row dict. TRUE → always-true (an undefined
    catch-all variable). PREV walks the ``__prev`` chain cep._records
    attaches; beyond the partition start it is NULL → condition false
    (the SQL semantics)."""
    cond = cond.strip()
    if cond.upper() == "TRUE":
        return lambda ev: True
    disjuncts = []
    for conj in _atoms(cond):
        tests = []
        for part in conj:
            pm = _COND_PREV.match(part)
            if pm and pm.group(1).upper() == var.upper():
                col, op = pm.group(2), _OPS[pm.group(3)]
                link = ("__prev" if pm.group(4).upper() == "PREV"
                        else "__next")
                pcol, off = pm.group(6), int(pm.group(7) or 1)

                def nav_test(ev, col=col, op=op, pcol=pcol, off=off,
                             link=link):
                    p = ev
                    for _ in range(off):
                        p = p.get(link) if p else None
                    return p is not None and op(ev[col], p[pcol])

                tests.append(nav_test)
                continue
            im = _COND_IN.match(part)
            if im and im.group(1).upper() == var.upper():
                col, neg = im.group(2), bool(im.group(3))
                vals = set(_in_values(im.group(4)))
                tests.append(
                    lambda ev, c=col, vs=vals, n=neg:
                    (ev[c] not in vs) if n else (ev[c] in vs))
                continue
            m = _COND.match(part)
            if not m or m.group(1).upper() != var.upper():
                raise NotImplementedError(
                    f"MATCH_RECOGNIZE DEFINE subset: `{part}` "
                    f"(want {var}.col <op> literal | PREV(V.col[, n]) "
                    f"| {var}.col [NOT] IN (...) [AND/OR ...])")
            col, op, lit = m.group(2), m.group(3), m.group(4)
            val = lit[1:-1] if lit.startswith("'") else (
                float(lit) if "." in lit else int(lit))
            tests.append(
                lambda ev, c=col, o=_OPS[op], v=val: o(ev[c], v))
        disjuncts.append(tests)
    return lambda ev, ds=disjuncts: any(all(t(ev) for t in ts)
                                        for ts in ds)


def _parse_flag_expr(cond: str, var: str, lag_window=None):
    """Same DEFINE conjunction as a JVM boolean Column — the _OPS
    lambdas build Column expressions when fed Columns, so predicate
    evaluation stays in whole-stage codegen and only (keys, id, ts,
    flags) cross the Arrow boundary (cep._flag_projection).
    PREV(V.col, n) compiles to LAG(col, n) over ``lag_window``
    (partition keys, row order) — still fully JVM-side; NULL beyond
    the partition start coalesces to false."""
    cond = cond.strip()
    if cond.upper() == "TRUE":
        return F.lit(True)
    expr = None
    for conj in _atoms(cond):
        cexpr = None
        for part in conj:
            pm = _COND_PREV.match(part)
            if pm and pm.group(1).upper() != var.upper():
                # same subset boundary as _parse_predicate: the LHS
                # must be the variable being defined (DEFINE B AS
                # C.v > PREV(C.v) is outside the subset in BOTH
                # execution paths)
                raise NotImplementedError(
                    f"MATCH_RECOGNIZE DEFINE subset: `{part}` "
                    f"(want {var}.col <op> ... )")
            if pm:
                if lag_window is None:
                    raise NotImplementedError(
                        "PREV()/NEXT() conditions need a row order "
                        "(batch only)")
                col, pcol = pm.group(2), pm.group(6)
                off = int(pm.group(7) or 1)
                nav = (F.lag if pm.group(4).upper() == "PREV"
                       else F.lead)
                c = F.coalesce(
                    _OPS[pm.group(3)](F.col(col),
                                      nav(pcol, off).over(lag_window)),
                    F.lit(False))
            elif (im := _COND_IN.match(part)) \
                    and im.group(1).upper() == var.upper():
                c = F.col(im.group(2)).isin(*_in_values(im.group(4)))
                if im.group(3):
                    c = ~c
            else:
                m = _COND.match(part)
                if not m or m.group(1).upper() != var.upper():
                    raise NotImplementedError(
                        f"MATCH_RECOGNIZE DEFINE subset: `{part}` "
                        f"(want {var}.col <op> literal | "
                        f"PREV(V.col[, n]) | {var}.col [NOT] IN (...) "
                        f"[AND/OR ...])")
                col, op, lit = m.group(2), m.group(3), m.group(4)
                val = lit[1:-1] if lit.startswith("'") else (
                    float(lit) if "." in lit else int(lit))
                c = _OPS[op](F.col(col), F.lit(val))
            cexpr = c if cexpr is None else (cexpr & c)
        expr = cexpr if expr is None else (expr | cexpr)
    return expr


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


def match_recognize(spark: SparkSession, sql: str,
                    df: DataFrame | None = None) -> DataFrame:
    """Parse and execute a MATCH_RECOGNIZE query (subset above).

    `df` overrides the FROM table (for streaming inputs); otherwise
    the table is resolved from the Spark catalog.
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

    defines: dict[str, str] = {}
    for item in re.split(r",\s*(?=\w+\s+AS\s)", cl["DEFINE"],
                         flags=re.IGNORECASE):
        var, _, cond = re.split(r"\s+(AS)\s+", item.strip(),
                                maxsplit=1, flags=re.IGNORECASE)
        defines[var.upper()] = cond

    branches_raw, excluded, permute = _parse_pattern(cl["PATTERN"])
    branches = []
    for braw in branches_raw:
        bsteps = []
        for i, (name, mn, mx, greedy) in enumerate(braw):
            pred = _parse_predicate(defines.get(name.upper(), "TRUE"),
                                    name)
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

    all_rows = "ALL ROWS PER MATCH" in cl

    src = df if df is not None else spark.table(table)
    # iterative-condition metadata: which variables navigate with
    # PREV/NEXT, which source columns those conditions read, and the
    # deepest offsets — the streaming NFA buffers exactly those
    # columns and freezes nav flags once neighbors are watermark-final
    nav_vars: set[str] = set()
    nav_cols: set[str] = set()
    max_prev = max_next = 0
    for var, cond in defines.items():
        parts = [p for conj in _atoms(cond) for p in conj]
        if not any(_COND_PREV.match(p) for p in parts):
            continue
        nav_vars.add(var.upper())
        for part in parts:
            if (pm := _COND_PREV.match(part)):
                nav_cols.update((pm.group(2), pm.group(6)))
                off = int(pm.group(7) or 1)
                if pm.group(4).upper() == "PREV":
                    max_prev = max(max_prev, off)
                else:
                    max_next = max(max_next, off)
            elif (m := _COND.match(part)):
                # a nav variable's non-nav tests also evaluate at NFA
                # time — their columns ride along in the buffer too
                nav_cols.add(m.group(2))
            elif (im := _COND_IN.match(part)):
                nav_cols.add(im.group(2))
    nav_kw = dict(nav_steps=nav_vars, nav_cols=sorted(nav_cols),
                  max_prev=max_prev, max_next=max_next) \
        if nav_vars else {}
    # column pruning: ship only key/order/DEFINE-referenced columns
    # into the per-key NFA (the parser knows the full referenced set,
    # so the Arrow transfer carries nothing else)
    cond_cols = set()
    for cond in defines.values():
        for part in (p for conj in _atoms(cond) for p in conj):
            if (m := _COND.match(part)):
                cond_cols.add(m.group(2))
            elif (pm := _COND_PREV.match(part)):
                cond_cols.update((pm.group(2), pm.group(6)))
            elif (im := _COND_IN.match(part)):
                cond_cols.add(im.group(2))
    needed = [c for c in src.columns
              if c in {*keys, ts_col, id_col, *cond_cols}]
    src = src.select(*needed)
    if all_rows:
        if src.isStreaming:
            return _all_rows_stream(src, cl, keys, ts_col, id_col,
                                    steps, within, after_match,
                                    excluded=excluded, permute=permute,
                                    alternation=branches,
                                    nav_kw=nav_kw)
        return _all_rows_per_match(src, cl, keys, ts_col, id_col,
                                   defines, steps, within, after_match,
                                   excluded=excluded, permute=permute,
                                   alternation=branches)
    if src.isStreaming:
        # streaming MATCH_RECOGNIZE (StreamExecMatch): the stateful
        # NFA implements every skip strategy — SKIP PAST LAST ROW
        # (the SQL default), the overlap-allowing SKIP TO
        # FIRST/LAST(V), and SKIP TO NEXT ROW (anchored
        # per-start-row scan)
        from ..streaming.cep import match_pattern_stream
        matched = match_pattern_stream(src, keys, ts_col, steps,
                                       within=within, id_col=id_col,
                                       permute=permute,
                                       after_match=after_match,
                                       alternation=branches,
                                       **nav_kw)
    else:
        lag_w = _lag_window(keys, ts_col, id_col)
        flag_exprs = [_parse_flag_expr(defines.get(s.name.upper(), "TRUE"),
                                       s.name, lag_window=lag_w)
                      for s in steps]
        matched = match_pattern_batch(src, keys, ts_col, steps,
                                      within=within,
                                      after_match=after_match,
                                      id_col=id_col,
                                      flag_exprs=flag_exprs,
                                      permute=permute,
                                      alternation=branches)

    # measures → the engine's fixed per-step outputs
    sel = [F.col(k) for k in keys]
    for item in re.split(r",\s*(?=[^,]+\s+AS\s)", cl.get("MEASURES", ""),
                         flags=re.IGNORECASE):
        if not item.strip():
            continue
        expr, _, alias = re.split(r"\s+(AS)\s+", item.strip(),
                                  maxsplit=1, flags=re.IGNORECASE)
        # ONE ROW PER MATCH: RUNNING at the final row of a completed
        # match equals FINAL, so both prefixes erase here
        expr = re.sub(r"^(RUNNING|FINAL)\s+", "", expr.strip(),
                      flags=re.IGNORECASE)
        fm = re.match(rf"FIRST\s*\(\s*(\w+)\.{id_col}\s*\)$", expr,
                      re.IGNORECASE)
        lm = re.match(rf"LAST\s*\(\s*(\w+)\.{id_col}\s*\)$", expr,
                      re.IGNORECASE)
        cm = re.match(r"COUNT\s*\(\s*(\w+)\.\*\s*\)$", expr, re.IGNORECASE)
        bm = re.match(rf"(\w+)\.{id_col}$", expr)
        if fm:
            col = f"{fm.group(1)}_first_id"
        elif lm:
            col = f"{lm.group(1)}_last_id"
        elif cm:
            col = f"{cm.group(1)}_n"
        elif bm:  # SQL-standard final semantics: last row of the variable
            col = f"{bm.group(1)}_last_id"
        else:
            raise NotImplementedError(
                f"MEASURES subset: `{expr}` (want FIRST/LAST(V.{id_col}), "
                f"V.{id_col}, COUNT(V.*))")
        sel.append(F.col(col).alias(alias.strip()))
    return matched.select(*sel)


def _all_rows_stream(src: DataFrame, cl: dict[str, str],
                     keys: list[str], ts_col: str, id_col: str,
                     steps: list, within: str | None,
                     after_match: str,
                     excluded: set[str] = frozenset(),
                     permute: bool = False,
                     alternation: list | None = None,
                     nav_kw: dict | None = None) -> DataFrame:
    """Streaming ALL ROWS PER MATCH: the stateful NFA emits one row
    per matched event with MATCH_NUMBER() (a per-key counter persisted
    across micro-batches) and CLASSIFIER(). Aggregate measures —
    FIRST/LAST(V.id), COUNT(V.*), COUNT(*), bare V.id, each RUNNING
    (default) or FINAL — are evaluated AT EMISSION inside the NFA
    state function: a match is emitted atomically with all its rows in
    hand, so the same frames the batch twin computes as window
    functions over (keys, match_seq) are computable row-by-row with no
    post-hoc window (which an append-mode stream could not run).
    Exactly the batch `_all_rows_per_match` measure subset."""
    from ..streaming.cep import match_pattern_stream
    specs: list[dict] = []
    sel_plan: list[tuple[str, str]] = []  # (source col, alias)
    for item in re.split(r",\s*(?=[^,]+\s+AS\s)", cl.get("MEASURES", ""),
                         flags=re.IGNORECASE):
        if not item.strip():
            continue
        expr, _, alias = re.split(r"\s+(AS)\s+", item.strip(),
                                  maxsplit=1, flags=re.IGNORECASE)
        expr, alias = expr.strip(), alias.strip()
        sm = re.match(r"^(RUNNING|FINAL)\s+(.*)$", expr,
                      re.IGNORECASE | re.DOTALL)
        # SQL standard: ALL ROWS PER MATCH defaults to RUNNING
        final = bool(sm and sm.group(1).upper() == "FINAL")
        if sm:
            expr = sm.group(2).strip()
        fm = re.match(rf"FIRST\s*\(\s*(\w+)\.{id_col}\s*\)$", expr,
                      re.IGNORECASE)
        lm = re.match(rf"LAST\s*\(\s*(\w+)\.{id_col}\s*\)$", expr,
                      re.IGNORECASE)
        cm = re.match(r"COUNT\s*\(\s*(\w+)\.\*\s*\)$", expr,
                      re.IGNORECASE)
        ca = re.match(r"COUNT\s*\(\s*\*\s*\)$", expr, re.IGNORECASE)
        bm = re.match(rf"(\w+)\.{id_col}$", expr)
        if re.match(r"MATCH_NUMBER\s*\(\s*\)$", expr, re.IGNORECASE):
            sel_plan.append(("match_seq", alias))
            continue
        if re.match(r"CLASSIFIER\s*\(\s*\)$", expr, re.IGNORECASE):
            sel_plan.append(("classifier", alias))
            continue
        if fm:
            spec = {"kind": "first_id", "var": fm.group(1)}
        elif lm:
            spec = {"kind": "last_id", "var": lm.group(1)}
        elif cm:
            spec = {"kind": "count_var", "var": cm.group(1)}
        elif ca:
            spec = {"kind": "count_all"}
        elif bm:  # bare V.id: RUNNING LAST semantics in ALL ROWS mode
            spec = {"kind": "last_id", "var": bm.group(1)}
        else:
            raise NotImplementedError(
                f"ALL ROWS MEASURES subset: `{expr}` (want "
                f"MATCH_NUMBER(), CLASSIFIER(), FIRST/LAST(V.{id_col}),"
                f" COUNT(V.*), COUNT(*), V.{id_col})")
        spec.update(alias=f"__m{len(specs)}", final=final)
        specs.append(spec)
        sel_plan.append((spec["alias"], alias))
    rows = match_pattern_stream(src, keys, ts_col, steps,
                                within=within, id_col=id_col,
                                permute=permute, emit="rows",
                                after_match=after_match,
                                alternation=alternation,
                                row_measures=specs,
                                **(nav_kw or {}))
    sel = [*[F.col(k) for k in keys], F.col(ts_col), F.col(id_col),
           *[F.col(c).alias(a) for c, a in sel_plan]]
    out = rows.select(*sel, F.col("classifier").alias("__cls"))
    if excluded:
        out = out.where(~F.col("__cls").isin(*sorted(excluded)))
    return out.drop("__cls")


def _all_rows_per_match(src: DataFrame, cl: dict[str, str],
                        keys: list[str], ts_col: str, id_col: str,
                        defines: dict[str, str], steps: list,
                        within: str | None,
                        after_match: str,
                        excluded: set[str] = frozenset(),
                        permute: bool = False,
                        alternation: list | None = None) -> DataFrame:
    """ALL ROWS PER MATCH: the NFA emits one row per matched event
    (keys, id, ts, match_seq, classifier); every measure compiles to
    a JVM-side window function over the match — running frame up to
    the current row, final frame the whole match (rt/match/ RUNNING
    vs FINAL; MATCH_NUMBER()/CLASSIFIER() are the emitted columns).

    ``excluded`` variables (pattern exclusion ``{- V -}``) take part
    in matching and in measure aggregation, but their rows are
    filtered from the output AFTER the measure windows are computed —
    the SQL-standard exclusion semantics.
    """
    from pyspark.sql import Window

    from ..streaming.cep import match_pattern_batch_rows

    flag_exprs = [_parse_flag_expr(defines.get(s.name.upper(), "TRUE"),
                                   s.name,
                                   lag_window=_lag_window(keys, ts_col,
                                                          id_col))
                  for s in steps]
    rows = match_pattern_batch_rows(
        src, keys, ts_col, steps, within=within,
        after_match=after_match, id_col=id_col, flag_exprs=flag_exprs,
        permute=permute, alternation=alternation)

    base = Window.partitionBy(*keys, "match_seq").orderBy(ts_col, id_col)
    w_run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fin = base.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)

    def of_var(var: str, col):
        return F.when(F.col("classifier") == var, col)

    sel = [*[F.col(k) for k in keys], F.col(ts_col), F.col(id_col)]
    for item in re.split(r",\s*(?=[^,]+\s+AS\s)", cl.get("MEASURES", ""),
                         flags=re.IGNORECASE):
        if not item.strip():
            continue
        expr, _, alias = re.split(r"\s+(AS)\s+", item.strip(),
                                  maxsplit=1, flags=re.IGNORECASE)
        expr = expr.strip()
        sm = re.match(r"^(RUNNING|FINAL)\s+(.*)$", expr,
                      re.IGNORECASE | re.DOTALL)
        # SQL standard: ALL ROWS PER MATCH defaults to RUNNING
        w = (w_fin if sm and sm.group(1).upper() == "FINAL" else w_run)
        if sm:
            expr = sm.group(2).strip()
        fm = re.match(rf"FIRST\s*\(\s*(\w+)\.{id_col}\s*\)$", expr,
                      re.IGNORECASE)
        lm = re.match(rf"LAST\s*\(\s*(\w+)\.{id_col}\s*\)$", expr,
                      re.IGNORECASE)
        cm = re.match(r"COUNT\s*\(\s*(\w+)\.\*\s*\)$", expr, re.IGNORECASE)
        ca = re.match(r"COUNT\s*\(\s*\*\s*\)$", expr, re.IGNORECASE)
        bm = re.match(rf"(\w+)\.{id_col}$", expr)
        if re.match(r"MATCH_NUMBER\s*\(\s*\)$", expr, re.IGNORECASE):
            col = F.col("match_seq")
        elif re.match(r"CLASSIFIER\s*\(\s*\)$", expr, re.IGNORECASE):
            col = F.col("classifier")
        elif fm:
            col = F.first(of_var(fm.group(1), F.col(id_col)),
                          ignorenulls=True).over(w)
        elif lm:
            col = F.last(of_var(lm.group(1), F.col(id_col)),
                         ignorenulls=True).over(w)
        elif cm:
            col = F.count(of_var(cm.group(1), F.lit(1))).over(w)
        elif ca:
            col = F.count(F.lit(1)).over(w)
        elif bm:  # bare V.id: RUNNING LAST semantics in ALL ROWS mode
            col = F.last(of_var(bm.group(1), F.col(id_col)),
                         ignorenulls=True).over(w)
        else:
            raise NotImplementedError(
                f"ALL ROWS MEASURES subset: `{expr}` (want MATCH_NUMBER(), "
                f"CLASSIFIER(), FIRST/LAST(V.{id_col}), COUNT(V.*), "
                f"COUNT(*), V.{id_col})")
        sel.append(col.alias(alias.strip()))
    out = rows.select(*sel, F.col("classifier").alias("__cls"))
    if excluded:
        out = out.where(~F.col("__cls").isin(*sorted(excluded)))
    return out.drop("__cls")
