"""Complex event processing / MATCH_RECOGNIZE — SURVEY §2.9.

Reference: flink-libraries/flink-cep (CEP.java:29, Pattern.java:50 —
where/followedBy/next/times/within), SQL MATCH_RECOGNIZE
(StreamExecMatch.scala:68, rt/match/). The reference compiles a
pattern to one NFA (nfa/NFA.java) evaluated per key over the ordered
stream, behind both the Pattern API and SQL.

Spark mapping: no native equivalent → one NFA over per-key
time-ordered events (``QStep`` lists walked by ``_find_q_matches``),
with the after-match skip strategy applied by one scan
(``_scan_matches``). Batch: applyInPandas per key bucket (events for
one key fit in one Arrow batch at sane key cardinality; a 100 TB run
partitions by key first, which is the same contract the reference
has — CEP state is per key). Streaming: keyed stateful op buffering
events until the watermark passes, then running the same scan on the
watermark-complete prefix (event-time-correct, late events beyond the
watermark dropped exactly like the reference's within-window pruning).

Semantics implemented: quantifiers (times/oneOrMore/optional, greedy
or reluctant), strict (next) and relaxed (followedBy) contiguity,
notFollowedBy, until, allowCombinations, alternation and PERMUTE, an
optional ``within`` window, and the after-match strategies NO_SKIP
('all', batch only), SKIP_PAST_LAST_EVENT, SKIP_TO_NEXT and SKIP TO
FIRST/LAST(V) (AfterMatchSkipStrategy.java).
"""

from __future__ import annotations

import dataclasses
import itertools
from collections.abc import Callable

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .state import KeyedState, keyed_process, utc_ms


def _flag_projection(df: DataFrame, keys: list[str], ts_col: str,
                     id_col: str, steps, flag_exprs: list[Column],
                     until_exprs: list[Column | None] | None = None):
    """Evaluate step predicates JVM-side: project (keys, id, ts,
    one flag per DISTINCT step name) so the Arrow transfer carries only
    booleans and the per-key NFA does dict lookups instead of Python
    predicate calls — the same flags-at-ingestion scheme
    match_pattern_stream uses (predicate evaluation stays in
    whole-stage codegen; payload width is fixed regardless of the
    input schema). Flags are keyed by step NAME (not position) so the
    same projection serves every branch of an alternation — a variable
    appearing in several branches shares one flag column. Steps with
    an ``until`` stop condition need a matching Column in
    ``until_exprs`` — the projection drops every source column, so a
    Python until lambda would see nothing.

    Returns (projected_df, pred_map, until_map): name → flag-lookup
    callable; callers rebuild their step lists via dataclasses.replace.
    """
    if len(flag_exprs) != len(steps):
        raise ValueError("flag_exprs must match steps 1:1")
    if until_exprs is None:
        if any(s.until is not None for s in steps):
            raise ValueError(
                "steps with `until` need until_exprs alongside flag_exprs")
        until_exprs = [None] * len(steps)
    if len(until_exprs) != len(steps):
        raise ValueError("until_exprs must match steps 1:1")
    if len({s.name for s in steps}) != len(steps):
        raise ValueError("step names must be distinct for flag keying")
    proj = df.select(
        *keys, id_col, ts_col,
        *[e.cast("boolean").alias(f"__flag_{s.name}")
          for s, e in zip(steps, flag_exprs)],
        *[u.cast("boolean").alias(f"__until_{s.name}")
          for s, u in zip(steps, until_exprs) if u is not None])
    pred_map = {s.name: (lambda ev, n=s.name: ev[f"__flag_{n}"])
                for s in steps}
    until_map = {s.name: (lambda ev, n=s.name: ev[f"__until_{n}"])
                 for s, u in zip(steps, until_exprs) if u is not None}
    # Pin the shuffle width: flag rows are so narrow that AQE's
    # byte-based coalescing would fold the whole corpus into 1-2
    # post-shuffle partitions, serializing the CPU-bound Python NFA.
    # An explicit numPartitions repartition is exempt from AQE
    # coalescing and matches the 100 TB layout (keyed partitions
    # sized for cores, not bytes). The shuffle key is the dispatch
    # BUCKET (hash of the key, 16x parallelism): HashPartitioning on
    # the bucket satisfies the ClusteredDistribution of everything
    # downstream that clusters on (bucket, ...) — the prefilter
    # window (which partitions by (bucket, keys)) and
    # _bucketed_apply's groupBy — so this stays the ONLY exchange in
    # the whole batch CEP plan (pinned by
    # test_cep_key_prefilter_no_extra_shuffle).
    par = proj.sparkSession.sparkContext.defaultParallelism
    proj = proj.withColumn(
        "__cep_bucket", F.pmod(F.hash(*keys), F.lit(max(par * 16, 8))))
    proj = proj.repartition(par, "__cep_bucket")
    return proj, pred_map, until_map


def _rebind_steps(steps, pred_map, until_map):
    """Swap each step's Python predicate for its JVM-computed flag
    lookup (and likewise `until`), preserving quantifiers/contiguity."""
    out = []
    for s in steps:
        repl = {"predicate": pred_map[s.name]}
        if s.until is not None:
            repl["until"] = until_map[s.name]
        out.append(dataclasses.replace(s, **repl))
    return out


def _records(pdf: pd.DataFrame, ts_col: str, id_col: str) -> list[dict]:
    """pdf → time-ordered list of row dicts. Series.tolist + zip is
    ~6× faster than sort_values + to_dict('records') — with thousands
    of small per-key groups the pandas conversion, not the NFA, is
    the CEP hot path."""
    names = list(pdf.columns)
    cols = [pdf[c].tolist() for c in names]
    events = [dict(zip(names, row)) for row in zip(*cols)]
    events.sort(key=lambda e: (e[ts_col], e[id_col]))
    # __prev/__next chain for iterative conditions (SQL PREV/NEXT
    # navigate input rows): predicates may read ev["__prev"] /
    # ev["__next"], None beyond the partition bounds
    for i, ev in enumerate(events):
        ev["__prev"] = events[i - 1] if i > 0 else None
        ev["__next"] = events[i + 1] if i + 1 < len(events) else None
    return events


@dataclasses.dataclass
class QStep:
    """Quantified pattern step — Pattern.times/oneOrMore/next surface
    (pattern/Pattern.java:291 times, :352 oneOrMore, :156 next).

    min_times/max_times bound the repetition (max_times=None =
    unbounded oneOrMore); contiguity='strict' is Pattern.next (the
    repetition and the step after it must be adjacent events),
    'relaxed' is followedBy; greedy prefers longer repetitions.

    negated=True is Pattern.notFollowedBy (Pattern.java:382): no
    event matching the predicate may occur between the previous
    step's last event and the NEXT step's first event. A negated
    step consumes no events (quantifiers ignored) and cannot be the
    final step — same restriction as the reference.

    until is Pattern.until (IterativeCondition stop condition,
    Pattern.java:331): a looping step stops accepting events at the
    first event satisfying it — the until-event itself is never
    consumed by the loop.

    combinations=True is Pattern.oneOrMore().allowCombinations()
    (Pattern.java:370): loop repetitions may be NON-consecutive —
    every combination of qualifying events is a candidate run. Like
    the reference, this is combinatorial by design; use under
    after_match='all' on bounded windows (the ITCase-scale contract).
    """
    name: str
    predicate: Callable[[dict], bool]
    min_times: int = 1
    max_times: int | None = 1
    contiguity: str = "relaxed"
    greedy: bool = True
    negated: bool = False
    until: Callable[[dict], bool] | None = None
    combinations: bool = False


def _find_q_matches(events: list[dict], steps: list[QStep],
                    ts_col: str, within_ms: int | None,
                    start_idx: int = 0, first_only: bool = False,
                    anchored: bool = False):
    """Matches of quantified steps, in preference order per start
    position (greedy: longer repetitions first). Returns a list of
    (match, end_idx) where a match is a list of (step, [events]) and
    end_idx is the index just past its last event. first_only stops
    at the first (= earliest-start, most-preferred) match.

    ``anchored``: the match's first CONSUMED event must be exactly
    events[start_idx] (the regex `match`-at-pos model). The after-
    match scan (_scan_matches) uses this and advances start_idx —
    leftmost preference then holds even when leading min-0 steps
    match zero rows (un-anchored scanning would prefer a later-
    starting consuming option over a zero-repetition at start_idx).

    Repetitions are CONSECUTIVE events (Flink's `.times(n)` /
    `.oneOrMore().consecutive()`); the step's anchor follows its
    contiguity: 'strict' = Pattern.next (must start right after the
    previous step's last event), 'relaxed' is followedBy (may skip).
    """
    matches: list = []
    n_steps = len(steps)
    n_ev = len(events)

    def within_ok(first_ev, ev) -> bool:
        if first_ev is None or within_ms is None:
            return True
        return (ev[ts_col] - first_ev[ts_col]).total_seconds() * 1000 \
            <= within_ms

    relaxed_first = bool(steps) and steps[0].contiguity == "relaxed"

    def step_reps(step: QStep, start: int, first_ev, consumed=True):
        """Yield (rep_events, next_idx, anchor) for one step, in
        preference order. min_times=0 steps ALSO yield the
        zero-repetition option ([], start, None), placed by the
        step's preference (greedy: after every consuming option;
        reluctant: before) — so the walk's backtracking explores
        choices in regex order: left-to-right, each quantifier's own
        preference outranking every later step's (the SQL standard /
        reference NFA OPTIONAL-state semantics; branch expansion put
        the presence choice outermost, which inverted preference for
        patterns like `B{1,2}? C?? A*`; fuzz-pinned against Python's
        `re` in tests/test_stateful.py). A step reached with NOTHING
        consumed yet (every earlier step matched zero rows) inherits
        the first step's relaxed anchor — unless ``anchored``, which
        pins the first consumed event to start_idx."""
        strict = ((step.contiguity == "strict"
                   and (consumed or not relaxed_first))
                  or (anchored and not consumed))
        anchors = [start] if strict else range(start, n_ev)
        stop = step.until or (lambda ev: False)
        if step.min_times == 0 and not step.greedy:
            yield [], start, None
        for a in anchors:
            if a >= n_ev or not within_ok(first_ev, events[a]):
                # events are time-ordered: no later anchor is inside
                # the window either
                break
            if not step.predicate(events[a]) or stop(events[a]):
                if strict:
                    break
                continue
            if step.combinations:
                # allowCombinations: non-consecutive repetitions — every
                # combination of qualifying events after the anchor (the
                # anchor is always the first loop event), truncated at
                # the first until-event. Combinatorial by design.
                pool = [a]
                j = a + 1
                while j < n_ev and within_ok(first_ev or events[a],
                                             events[j]):
                    if stop(events[j]):
                        break
                    if step.predicate(events[j]):
                        pool.append(j)
                    j += 1
                max_k = (len(pool) if step.max_times is None
                         else min(step.max_times, len(pool)))
                lo = max(step.min_times, 1)
                sizes = (range(max_k, lo - 1, -1) if step.greedy
                         else range(lo, max_k + 1))
                for k in sizes:
                    if k < 1:
                        continue
                    for rest in itertools.combinations(pool[1:], k - 1):
                        sel = [a, *rest]
                        yield [events[i] for i in sel], sel[-1] + 1, a
                if strict:
                    break
                continue
            run = [a]
            j = a + 1
            while ((step.max_times is None or len(run) < step.max_times)
                   and j < n_ev and step.predicate(events[j])
                   and within_ok(first_ev or events[a], events[j])
                   and not stop(events[j])):
                run.append(j)
                j += 1
            lo = max(step.min_times, 1)
            lengths = (range(len(run), lo - 1, -1) if step.greedy
                       else range(lo, len(run) + 1))
            for ln in lengths:
                if ln <= len(run):
                    yield [events[i] for i in run[:ln]], run[ln - 1] + 1, a
            if strict:
                break
        if step.min_times == 0 and step.greedy:
            yield [], start, None

    def walk(partial, next_idx, step_i, first_ev) -> bool:
        if step_i == n_steps:
            if not partial:
                return False  # every step matched zero rows — no match
            matches.append((partial, next_idx))
            return first_only
        step = steps[step_i]
        consumed = bool(partial)
        if step.negated:
            # notFollowedBy: bind the NEXT positive step, then require
            # the gap [next_idx, its anchor) to be free of forbidden
            # events (Pattern.java:382; cannot be final, and cannot
            # precede a min-0 step — validated by the caller: a
            # zero-repetition binding would leave the gap unbounded)
            nxt_step = steps[step_i + 1]
            for reps, nxt, a in step_reps(nxt_step, next_idx, first_ev,
                                          consumed):
                if not reps:
                    continue
                if any(step.predicate(events[g])
                       for g in range(next_idx, a)):
                    continue
                if walk(partial + [(nxt_step, reps)], nxt, step_i + 2,
                        first_ev or reps[0]):
                    return True
            return False
        for reps, nxt, _ in step_reps(step, next_idx, first_ev, consumed):
            if not reps:
                # zero-repetition option: the step binds no rows (SQL
                # unmatched-variable semantics downstream) — continue
                # with the SAME position and first event
                if walk(partial, nxt, step_i + 1, first_ev):
                    return True
                continue
            if walk(partial + [(step, reps)], nxt, step_i + 1,
                    first_ev or reps[0]):
                return True
        return False

    walk([], start_idx, 0, None)
    return matches


def _scan_matches(events, branches, ts_col, within_ms, after_match,
                  hold=None):
    """The after-match scan (AfterMatchSkipStrategy.java), the one
    owner of the resume policy for batch and stream: yields
    (match, resume_idx) in emission order. A lone pattern is a
    one-branch list.

    Every strategy but NO_SKIP drives start positions ONE BY ONE with
    anchored matching (regex `match`-at-pos): leftmost preference is
    the scan's, per-position preference the walk's, and ties at the
    same start row break by branch order (SQL alternation/PERMUTE
    preference) — correct even when leading min-0 steps consume
    nothing, and for a strict first step. A miss is cheap (the
    anchored first step fails fast), so the scan stays O(n) per
    branch. The resume index is:
    - 'skip_past_last': one past the match's last event;
    - 'skip_to_next_row': one past the match's START, so matches may
      overlap but each start row yields at most one (skipToNext — NOT
      NO_SKIP, which emits every greedy-length candidate per start);
    - 'skip_to_first:V' / 'skip_to_last:V': AT the first/last row
      mapped to V (_skip_to_resume).
    'all' (NO_SKIP) yields every candidate of every branch, with
    resume None.

    ``hold(match, branch_steps, end_idx)``: a True return stops the
    scan BEFORE that match is yielded or its resume computed (the
    stream defers a match that later events could still extend).

    Cost note (SCALE.md): with k branches this tries up to k NFAs per
    position — for PERMUTE that is k! branches, so matching is
    O(n²·k!) per key worst-case. Fine at per-key event counts; bound
    k (the reference's Calcite expansion has the same factorial
    blowup)."""
    if after_match == "all":
        for steps in branches:
            for m, _end in _find_q_matches(events, steps, ts_col,
                                           within_ms):
                yield m, None
        return
    mode, _, var = after_match.partition(":")
    pos_of = {id(ev): i for i, ev in enumerate(events)} if var else None
    idx = 0
    while idx < len(events):
        for steps in branches:
            found = _find_q_matches(events, steps, ts_col, within_ms,
                                    start_idx=idx, first_only=True,
                                    anchored=True)
            if found:
                break
        if not found:
            idx += 1  # anchored: only start == idx was checked
            continue
        m, end = found[0]
        if hold is not None and hold(m, steps, end):
            return
        if mode == "skip_past_last":
            idx = end
        elif mode == "skip_to_next_row":
            idx += 1
        else:
            idx = _skip_to_resume(m, var, mode == "skip_to_first", idx,
                                  pos_of)
        yield m, idx


def _skip_to_resume(m, var: str, take_first: bool, start: int,
                    pos_of) -> int:
    """AFTER MATCH SKIP TO FIRST/LAST(V) resume position
    (AfterMatchSkipStrategy.skipToFirst/skipToLast,
    flink-cep/.../nfa/aftermatch/): the next scan starts AT the
    first/last row mapped to V — overlapping matches are allowed, but
    the resume point must advance past the match's start row (the
    standard's runtime error; the reference throws
    FlinkRuntimeException("Could not skip to first element..."))."""
    which = "FIRST" if take_first else "LAST"
    v_evs = [e for s, reps in m if s.name.upper() == var.upper()
             for e in reps]
    if not v_evs:
        raise ValueError(
            f"AFTER MATCH SKIP TO {which}({var}): variable matched no "
            f"rows in this match")
    tgt = pos_of[id(v_evs[0] if take_first else v_evs[-1])]
    if tgt <= start:
        raise ValueError(
            f"AFTER MATCH SKIP TO {which}({var}) would resume at the "
            f"match's own start row — infinite loop (same error as the "
            f"reference's AfterMatchSkipStrategy)")
    return tgt


def _permute_alts(steps: list[QStep]) -> list[list[QStep]]:
    """PERMUTE(A, B, ...) → the alternation of every ordering
    (SqlMatchRecognize PERMUTE; Calcite expands to `(A B | B A)` —
    alternative order is the SQL preference order). Contiguity is
    positional: each permutation re-uses the contiguity of the
    POSITION (first anchor relaxed, rest as concatenation), not of
    the variable, matching the expansion semantics."""
    if any(s.negated for s in steps):
        raise ValueError("notFollowedBy inside PERMUTE is unsupported")
    if any(s.min_times == 0 for s in steps):
        raise NotImplementedError(
            "optional (`*`/`?`) elements inside PERMUTE are unsupported")
    contigs = [s.contiguity for s in steps]
    return [
        [dataclasses.replace(s, contiguity=contigs[i])
         for i, s in enumerate(perm)]
        for perm in itertools.permutations(steps)]


def _union_steps(branches: list[list[QStep]]) -> list[QStep]:
    """Distinct steps across branches, first-appearance order — the
    flag-projection / output-schema basis for an alternation (a
    variable may appear in several branches; it gets ONE flag column
    and ONE measures slot)."""
    seen: set[str] = set()
    out: list[QStep] = []
    for br in branches:
        for s in br:
            if s.name not in seen:
                seen.add(s.name)
                out.append(s)
    return out


def _key_prefilter(df: DataFrame, keys: list[str],
                   branches: list[list]) -> DataFrame:
    """Drop whole keys that can never match BEFORE the Python NFA
    (round-9 advisor: cep_quantified's 10x scale ratio was 5.57
    because every key's events cross Arrow even when the key lacks a
    required event type entirely). COUNT-AWARE (round-11): a match
    binds at least min_times DISTINCT events to every positive step
    (the NFA consumes each position once), so the necessary condition
    per branch is per-flag COUNT >= the summed min_times of the
    branch's positive steps carrying that flag — not merely flag
    EXISTS. A key whose 7 clicks can never satisfy click{8,} is
    dropped before Arrow. Keep a key iff EXISTS a branch whose every
    required flag count clears its bound. Computed as per-key window
    SUMs over the already-key-partitioned flag projection: satisfies
    the same ClusteredDistribution as the downstream groupBy, so the
    filter costs one window pass and ZERO extra shuffles, and it runs
    in whole-stage codegen. Batch-only by construction
    (_flag_projection callers): a stream key could still receive the
    missing events later, so the streaming path never key-prefilters.
    Reference gate: MatchRecognizeITCase quantifier cases."""
    # partition by (dispatch bucket, keys) when the projection carries
    # the bucket column: semantically identical frames (the bucket is
    # a function of the key), but HashPartitioning(bucket) from the
    # projection's repartition then satisfies this window's
    # ClusteredDistribution — zero extra exchanges
    wkeys = ((["__cep_bucket"] if "__cep_bucket" in df.columns else [])
             + list(keys))
    w = Window.partitionBy(*wkeys)
    alts = []
    for br in branches:
        need: dict[str, int] = {}
        for s in br:
            if not s.negated and s.min_times >= 1:
                need[s.name] = need.get(s.name, 0) + s.min_times
        if not need:  # a branch with no required step keeps every key
            return df
        alts.append(functools.reduce(
            Column.__and__,
            [F.sum(F.col(f"__flag_{n}").cast("int")).over(w) >= m
             for n, m in sorted(need.items())]))
    # window exprs are illegal in WHERE: materialize one boolean
    # column, filter, drop
    return (df.withColumn("__key_can_match",
                          functools.reduce(Column.__or__, alts))
            .where(F.col("__key_can_match"))
            .drop("__key_can_match"))


def _pattern_branches(steps, alternation, after_match: str,
                      streaming: bool = False) -> list[list[QStep]]:
    """Validate a pattern and its after-match strategy — the one
    validator batch and stream share. Returns the branch list (a lone
    pattern is one branch). min_times=0 steps are handled NATIVELY by
    the walk (zero-repetition option in each step's preference
    order — regex-equivalent backtracking; fuzz-pinned against
    Python's `re` in tests/test_stateful.py)."""
    branches = alternation if alternation is not None else [steps]
    if not branches or not any(branches):
        raise ValueError("pattern needs at least one step")
    for br in branches:
        if br and br[-1].negated:
            raise ValueError(
                "notFollowedBy cannot be the last pattern step")
        if any(a.negated and b.negated for a, b in zip(br, br[1:])):
            raise ValueError(
                "consecutive notFollowedBy steps are unsupported")
        if any(s.negated and not any(not p.negated and p.min_times > 0
                                     for p in br[:i])
               for i, s in enumerate(br)):
            # the forbidden gap starts at the previous step's last
            # event; with nothing bound before it the gap would
            # depend on where the scan happens to start
            raise ValueError(
                "notFollowedBy cannot begin a pattern (no step before "
                "it binds an event — the reference's Pattern cannot "
                "start with a negation either)")
        if not any(not s.negated and s.min_times > 0 for s in br):
            raise NotImplementedError(
                "patterns that can match zero rows (every positive "
                "step optional) are unsupported")
        if any(a.negated and b.min_times == 0
               for a, b in zip(br, br[1:])):
            raise ValueError(
                "notFollowedBy cannot precede an optional (min-0) "
                "step — a zero-repetition binding leaves the "
                "forbidden gap unbounded")
    mode, sep, var = after_match.partition(":")
    if sep:
        known = (mode in ("skip_to_first", "skip_to_last")
                 and var.upper() in {s.name.upper() for br in branches
                                     for s in br if not s.negated})
    else:
        known = mode in ("all", "skip_past_last", "skip_to_next_row")
    if not known:
        raise ValueError(
            f"unknown after_match {after_match!r} (want 'all', "
            f"'skip_past_last', 'skip_to_next_row', 'skip_to_first:V' "
            f"or 'skip_to_last:V' with V a pattern variable)")
    if streaming and mode == "all":
        raise NotImplementedError(
            "streaming CEP after-match subset: SKIP PAST LAST ROW, "
            "SKIP TO NEXT ROW, SKIP TO FIRST(V), SKIP TO LAST(V) "
            "(NO_SKIP 'all' is batch-only)")
    return branches


def _expand_permute(branches, permute: bool) -> list[list[QStep]]:
    """PERMUTE expands every branch into its orderings (in order)."""
    if not permute:
        return branches
    return [p for br in branches for p in _permute_alts(br)]


def _output_columns(emit: str, keys: list[str], pos_steps, id_col: str,
                    ts_col: str, row_measures) -> tuple[str, list[str]]:
    """Output (schema, columns) of batch and stream CEP.
    ``emit="match"`` (ONE ROW PER MATCH): keys, per positive step its
    first/last event id and repetition count, then the match's
    start/end timestamps. ``emit="rows"`` (ALL ROWS PER MATCH): keys,
    id, ts, ``match_seq``, ``classifier``, then one bigint per
    ``row_measures`` spec."""
    if emit == "match":
        cols = [*keys,
                *[c for s in pos_steps
                  for c in (f"{s.name}_first_id", f"{s.name}_last_id",
                            f"{s.name}_n")],
                "start_ts", "end_ts"]
        types = {"start_ts": "timestamp", "end_ts": "timestamp"}
    elif emit == "rows":
        cols = [*keys, id_col, ts_col, "match_seq", "classifier",
                *[sp["alias"] for sp in row_measures or ()]]
        types = {ts_col: "timestamp", "classifier": "string"}
    else:
        raise ValueError("emit must be 'match' or 'rows'")
    return ", ".join(f"{c} {types.get(c, 'bigint')}" for c in cols), cols


def _match_row(m, key_vals: dict, pos_steps, id_col: str,
               ts_col: str) -> dict:
    """One ONE ROW PER MATCH row. Defaults are the SQL
    unmatched-variable semantics: NULL ids and COUNT(V.*) = 0 for a
    step the winning branch did not bind (or bound zero rows). A
    branch may bind the same variable several times (group quantifier
    unrolling, `(B C){2}` -> B C B C): FIRST keeps the earliest
    binding, LAST the latest, COUNT accumulates. Bindings are in
    event order (the walk only moves forward), so the match spans its
    first binding's first event to its last binding's last."""
    row = dict(key_vals)
    for s in pos_steps:
        row[f"{s.name}_first_id"] = None
        row[f"{s.name}_last_id"] = None
        row[f"{s.name}_n"] = 0
    for s, reps in m:
        if row[f"{s.name}_n"] == 0:
            row[f"{s.name}_first_id"] = reps[0][id_col]
        row[f"{s.name}_last_id"] = reps[-1][id_col]
        row[f"{s.name}_n"] += len(reps)
    row["start_ts"] = m[0][1][0][ts_col]
    row["end_ts"] = m[-1][1][-1][ts_col]
    return row


def _match_rows(m, key_vals: dict, id_col: str, ts_col: str, seq: int,
                row_measures) -> list[dict]:
    """The ALL ROWS PER MATCH rows of one match — the one measure
    evaluator batch and stream share (rt/match/ RUNNING vs FINAL). One
    row per matched event in (ts, id) order with ``match_seq`` (SQL
    MATCH_NUMBER()), ``classifier`` (the event's variable) and one
    value per ``row_measures`` spec ({alias, kind, var, final}):
    first_id / last_id / count_var over the rows of ``var``,
    count_all over every row, each taken over the RUNNING frame (the
    match's rows up to the current one) or, with ``final``, the whole
    match. Matches are complete when they are emitted, so both frames
    are known row by row."""
    mrows = sorted(((s.name, ev) for s, reps in m for ev in reps),
                   key=lambda p: (p[1][ts_col], p[1][id_col]))
    out = [{**key_vals, id_col: ev[id_col], ts_col: ev[ts_col],
            "match_seq": seq, "classifier": cls} for cls, ev in mrows]
    for sp in row_measures or ():
        n, first, last, vals = 0, None, None, []
        for cls, ev in mrows:
            if sp["kind"] == "count_all" or cls == sp.get("var"):
                n += 1
                first = ev[id_col] if n == 1 else first
                last = ev[id_col]
            vals.append({"count_all": n, "count_var": n, "first_id": first,
                         "last_id": last}[sp["kind"]])
        for rec, val in zip(out, vals):
            rec[sp["alias"]] = vals[-1] if sp.get("final") else val
    return out


def _prepare_branches(df, keys, ts_col, id_col, steps, flag_exprs,
                      until_exprs, permute, alternation, after_match):
    """Front half of match_pattern_batch: validate,
    project flags (name-keyed, once for every branch), expand PERMUTE
    into the final alternation. Returns (df, union_steps, branches)."""
    branches = _pattern_branches(steps, alternation, after_match)
    union = _union_steps(branches)
    if flag_exprs is not None:
        df, pred_map, until_map = _flag_projection(
            df, keys, ts_col, id_col, union, flag_exprs, until_exprs)
        branches = [_rebind_steps(br, pred_map, until_map)
                    for br in branches]
        df = _key_prefilter(df, keys, branches)
    return df, union, _expand_permute(branches, permute)


def match_pattern_batch(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    steps: list[QStep],
    within: str | None = None,
    after_match: str = "all",
    id_col: str = "event_id",
    flag_exprs: list[Column] | None = None,
    permute: bool = False,
    until_exprs: list[Column | None] | None = None,
    alternation: list[list[QStep]] | None = None,
    emit: str = "match",
    row_measures: list[dict] | None = None,
) -> DataFrame:
    """Quantified batch CEP. ``emit="match"`` (default) yields one row
    per match with, per (positive) step, the first/last matched event
    id and the repetition count; a step absent from the winning branch
    (or matching zero rows) reports first/last id NULL and count 0 —
    the SQL unmatched-variable semantics. ``emit="rows"`` yields the
    ALL ROWS PER MATCH shape of match_pattern_stream, from the same
    evaluator (_match_rows): one row per matched event with
    ``match_seq`` (MATCH_NUMBER(), 1-based, ordered by match start
    within the key), ``classifier`` and the ``row_measures`` columns.

    Pass ``flag_exprs`` (one boolean Column per DISTINCT step name, in
    first-appearance order) to evaluate predicates JVM-side and ship
    only flags over Arrow (plus ``until_exprs`` for steps carrying a
    stop condition). ``permute`` matches any ordering of the steps
    (SQL PERMUTE, of every branch). ``alternation`` supplies explicit
    branches (`(A B | C D)`); steps with min_times=0 (`B*`, `B?`) are
    matched natively by the walk."""
    df, union, alts = _prepare_branches(
        df, keys, ts_col, id_col, steps, flag_exprs, until_exprs,
        permute, alternation, after_match)
    within_ms = _interval_ms(within) if within else None
    pos_steps = [s for s in union if not s.negated]
    out_schema, cols = _output_columns(emit, keys, pos_steps, id_col,
                                       ts_col, row_measures)

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        events = _records(pdf, ts_col, id_col)
        matches = [m for m, _ in _scan_matches(events, alts, ts_col,
                                               within_ms, after_match)]
        key_vals = {k: events[0][k] for k in keys} if events else {}
        if emit == "match":
            out = [_match_row(m, key_vals, pos_steps, id_col, ts_col)
                   for m in matches]
        else:
            # MATCH_NUMBER() orders by match start within the partition
            matches.sort(key=lambda m: (m[0][1][0][ts_col],
                                        m[0][1][0][id_col]))
            out = [r for seq, m in enumerate(matches, start=1)
                   for r in _match_rows(m, key_vals, id_col, ts_col, seq,
                                        row_measures)]
        return out

    return _bucketed_apply(df, keys, per_key, out_schema, cols)


def _bucketed_apply(df: DataFrame, keys: list[str], per_key,
                    out_schema: str, cols: list[str]) -> DataFrame:
    """applyInPandas for MANY SMALL KEYS: hash the key to a bucket
    (16x parallelism) and sub-group in pandas inside the worker — ONE
    Arrow transfer + ONE Python invocation per bucket instead of per
    key. With sf-proportional key counts (events has ~1 key per ~60
    rows) the per-group dispatch overhead of grouped-map — batch
    framing, UDF invocation, per-group pandas assembly — grows with
    keys and dominated cep_quantified's 10x scale ratio; bucketing
    makes the invocation count scale with CORES, not keys. Same
    ClusteredDistribution guarantee (a key's rows hash to one
    bucket), same per-key handler, so NFA semantics are untouched.
    At 1000 executors the bucket count follows defaultParallelism —
    no driver-side tuning needed. Skew: buckets hold ~|keys|/buckets
    keys each; a single monster KEY still lands in one bucket, which
    is exactly the grouped-map contract (key-level skew needs the
    operator-level prefilters, not the dispatcher).

    ``per_key(pdf)`` returns one key's output rows as dicts; each
    bucket's rows become ONE frame with columns ``cols``, so a column's
    dtype comes from all of the bucket's values — not from how
    ``pd.concat`` of per-key frames treats a key whose column is all
    NULL (a variable none of its matches bound), which pandas is
    changing."""
    if "__cep_bucket" in df.columns:
        # the flag projection already computed the bucket AND
        # hash-partitioned on it (its AQE-exempt repartition is the
        # plan's only exchange) — reuse both
        bucketed = df
    else:
        # flag-less caller: add the bucket and pin the shuffle width
        # here. Explicit-numPartitions repartition on the bucket key
        # is AQE-exempt (byte-based coalescing would fold narrow rows
        # into 1-2 partitions and SERIALIZE the CPU-bound NFA) and
        # satisfies the groupBy's ClusteredDistribution, so no second
        # shuffle follows.
        par = df.sparkSession.sparkContext.defaultParallelism
        bucketed = df.withColumn(
            "__cep_bucket",
            F.pmod(F.hash(*keys), F.lit(max(par * 16, 8))))
        bucketed = bucketed.repartition(par, "__cep_bucket")

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # dropna=False: Spark's groupBy keeps null keys as a group;
        # pandas would silently drop them
        groups = pdf.drop(columns=["__cep_bucket"]).groupby(
            keys, sort=False, dropna=False)
        return pd.DataFrame([r for _, g in groups for r in per_key(g)],
                            columns=cols)

    return bucketed.groupBy("__cep_bucket").applyInPandas(
        per_bucket, out_schema)


def match_pattern_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    steps: list[QStep],
    within: str | None = None,
    id_col: str = "event_id",
    permute: bool = False,
    emit: str = "match",
    after_match: str = "skip_past_last",
    alternation: list[list[QStep]] | None = None,
    row_measures: list[dict] | None = None,
    nav_steps: set[str] | None = None,
    nav_cols: list[str] | None = None,
    max_prev: int = 0,
    max_next: int = 0,
) -> DataFrame:
    """Streaming quantified CEP (reference: flink-cep/.../nfa/NFA.java
    with AfterMatchSkipStrategy.java).

    ``emit`` and ``row_measures`` mean what they mean for
    match_pattern_batch, and both engines build their rows with the
    same helpers (_match_row, _match_rows): ``emit="match"`` (default)
    yields one row per match with per-step first/last ids and counts;
    ``emit="rows"`` yields one row per MATCHED EVENT with
    ``match_seq`` (MATCH_NUMBER(), here a per-key counter persisted in
    state across micro-batches), ``classifier`` and one column per
    ``row_measures`` spec ({alias, kind, var, final}, kind in
    first_id/last_id/count_var/count_all) over the RUNNING or FINAL
    frame. A match is emitted atomically, so on watermark-complete
    input the stream's rows are the batch rows.

    ``after_match``: 'skip_past_last' resumes past the match's end and
    evicts the consumed prefix; 'skip_to_next_row' resumes one past
    the match's start; 'skip_to_first:V'/'skip_to_last:V'
    resume AT the first/last row mapped to V (overlapping matches
    allowed — eviction only drops rows BEFORE the resume point; the
    reference's skipToFirst/skipToLast, including its runtime error
    when V is empty or resuming would not advance).

    ``alternation``: branch step-lists (pattern `A B | C`, or a group
    quantifier's unrolled branches). Flags are computed once over the
    branch UNION; the scan anchors at each position and takes the
    first branch (SQL alternation preference) that matches there.
    Branch preference applies WITHIN the watermark-complete prefix;
    when a lower-preference branch completes inside the prefix and a
    higher-preference one would need out-of-watermark events, the
    completed one is emitted — exactly the reference NFA's
    completion-order behavior under a skip strategy (the pruning in
    AfterMatchSkipStrategy kills the pending partial the same way).

    Per key: events are buffered with per-step predicate flags
    computed at ingestion; when the watermark advances, the NFA runs
    over the watermark-complete prefix. Late events (ts ≤ watermark
    at arrival) are dropped, matching the reference's
    watermark-ordered NFA. A match whose final step is a greedy
    still-extensible quantifier (unbounded, under max_times, or a
    min-0 step bound zero) and which ends exactly at the prefix
    boundary is deferred — a later in-watermark event could extend
    the greedy run (the reference's NFA equally waits for the first
    non-matching event or the within timeout). The prefix runs
    through the batch scan (_scan_matches, anchored at every
    position), so leftmost preference survives zero leading bindings
    (`A? B`, `A* B`) and a strict first step, and a position that
    fails now is rescanned next trigger because nothing before it is
    evicted until a match emits; min-0 steps stream at EVERY position.

    Iterative conditions (``nav_steps``: variables whose DEFINE uses
    PREV/NEXT over the input order): the buffer additionally carries
    the nav-referenced columns (``nav_cols`` — ONLY those, the
    flags-not-rows discipline otherwise stands), and those steps'
    flags are evaluated lazily, FROZEN the first trigger the event's
    neighbors are final: a complete event's predecessors are final
    (late rows are dropped, new rows sort after the watermark), and
    its NEXT(off) neighbor is final once `off` complete successors
    exist — events short of that guard stay out of the matching
    prefix. Eviction keeps the last ``max_prev`` consumed rows as
    GHOSTS (nav neighbors only, never match candidates) so a
    newly-complete event can still see its predecessor's values.
    """
    branches = _pattern_branches(steps, alternation, after_match,
                                 streaming=True)
    within_ms = _interval_ms(within) if within else None
    union = _union_steps(branches)
    pos_steps = [s for s in union if not s.negated]
    out_schema, cols = _output_columns(emit, keys, pos_steps, id_col,
                                       ts_col, row_measures)

    # flag indices are UNION positions; branch steps rebind by name so
    # a variable shared across branches (or repeated by a group
    # quantifier's unrolling) reads the one flag computed for it
    name_idx = {s.name: i for i, s in enumerate(union)}

    def _flag_step(s: QStep) -> QStep:
        i = name_idx[s.name]
        return dataclasses.replace(
            s, predicate=lambda ev, i=i: ev["__flags"][i],
            until=(lambda ev, i=i: ev["__uflags"][i])
            if s.until is not None else None)

    alts = _expand_permute([[_flag_step(s) for s in br]
                            for br in branches], permute)

    nav = bool(nav_steps)
    nav_names = {n.upper() for n in (nav_steps or ())}
    carry = list(nav_cols or [])

    def fn(key, rows: pd.DataFrame | None, state: KeyedState):
        import datetime as dt
        buf = state.get("buf", [])
        wm = state.watermark_ms()
        key_vals = dict(zip(keys, key))
        if rows is not None:
            for rec in rows.to_dict("records"):
                if wm > 0 and utc_ms(rec[ts_col]) <= wm:
                    continue  # late beyond watermark: drop
                # predicate AND until flags are computed at ingestion —
                # the buffer carries only booleans plus (with nav
                # conditions) the nav-referenced column values; a
                # nav step's flags stay None until its neighbors are
                # watermark-final (frozen below)
                buf.append([rec[ts_col].isoformat(), int(rec[id_col]),
                            [None if s.name.upper() in nav_names
                             else bool(s.predicate(rec))
                             for s in union],
                            [bool(s.until(rec)) if s.until else False
                             for s in union],
                            [v.item() if hasattr(v, "item") else v
                             for v in (rec[c] for c in carry)],
                            0])
        buf.sort()
        events = [{id_col: rid, ts_col: dt.datetime.fromisoformat(t_),
                   "__flags": fl, "__uflags": ufl, "__ghost": gh,
                   **dict(zip(carry, car))}
                  for t_, rid, fl, ufl, car, gh in buf]
        n_total = sum(1 for e in events
                      if utc_ms(e[ts_col]) <= wm) if wm > 0 else 0
        if nav:
            # input-order navigation chains across ghosts + live rows
            for i, ev in enumerate(events):
                ev["__prev"] = events[i - 1] if i > 0 else None
                ev["__next"] = events[i + 1] \
                    if i + 1 < len(events) else None
            # freeze nav flags once final: predecessors of a complete
            # event are final (late rows drop, new rows sort after the
            # watermark); NEXT(off) needs `off` complete successors
            for i, ev in enumerate(events[:n_total]):
                if ev["__ghost"] or None not in ev["__flags"]:
                    continue
                if n_total - 1 - i < max_next:
                    continue  # NEXT neighbor not final yet
                for j, s in enumerate(union):
                    if ev["__flags"][j] is None:
                        ev["__flags"][j] = bool(s.predicate(ev))
        # matching prefix: live watermark-complete events whose flags
        # are all frozen (the all-known run is contiguous: earlier
        # events have more complete successors)
        complete = [e for e in events[:n_total]
                    if not e["__ghost"] and None not in e["__flags"]]
        n_ghost = sum(1 for e in events if e["__ghost"])
        n_complete = len(complete)
        out = []
        evict_n = 0  # live positions before this are consumed/passed

        def open_ended(m, bsteps, end) -> bool:
            """A match ending at the prefix boundary that later events
            could still extend: the last CONSUMED step can take more
            reps, OR a trailing greedy min-0 step bound zero (m omits
            zero-bound steps, so look past the last consumed step in
            the branch's step list — a future event binding it is
            preferred by greedy choice)."""
            if end != n_complete:
                return False
            last_step, last_reps = m[-1]
            tail_from = next(i for i, s in enumerate(bsteps)
                             if s is last_step) + 1
            if not ((last_step.greedy
                     and (last_step.max_times is None
                          or len(last_reps) < last_step.max_times))
                    or any(s.greedy and s.min_times == 0
                           and not s.negated
                           for s in bsteps[tail_from:])):
                return False
            # any future non-late event has ts > wm; once first_ts +
            # within ≤ wm it cannot satisfy within_ok, so the greedy
            # run is final — deferring here would let the
            # within-cutoff eviction below destroy the match's events
            # while the key is quiet (the reference's NFA emits on the
            # within timeout)
            return not (within_ms is not None and wm > 0
                        and utc_ms(m[0][1][0][ts_col]) + within_ms <= wm)

        for m, resume in _scan_matches(complete, alts, ts_col, within_ms,
                                       after_match, hold=open_ended):
            if emit == "rows":
                seq = state.get("seq", 0) + 1
                state.put("seq", seq)
                out.extend(_match_rows(m, key_vals, id_col, ts_col, seq,
                                       row_measures))
            else:
                out.append(_match_row(m, key_vals, pos_steps, id_col,
                                      ts_col))
            # events before the resume point can never join a future
            # match (every future match starts at or after it)
            evict_n = resume
        consumed = buf[n_ghost:n_ghost + evict_n]
        rest = buf[n_ghost + evict_n:]
        if within_ms is not None and wm > 0:
            cutoff = wm - within_ms
            rest = [r for r in rest
                    if utc_ms(dt.datetime.fromisoformat(r[0]))
                    >= cutoff]
        if nav and max_prev:
            # keep the newest max_prev consumed rows as ghosts: nav
            # neighbors for events that become complete later, never
            # match candidates (bounded — the within cutoff does not
            # apply to them)
            ghosts = (buf[:n_ghost] + consumed)[-max_prev:]
            for r in ghosts:
                r[5] = 1
        else:
            ghosts = []
        buf = ghosts + rest
        state.put("buf", buf)
        # one event-time timer per key (Spark's GroupState), re-armed
        # on every call, so a quiet key still runs when the watermark
        # passes: (a) its newest live row, once that row is not yet
        # watermark-complete, so the rows buffered after the key's
        # last arrival are matched; (b) with `within`, earliest live
        # row + within, so the deferred-final emission above happens
        # (the reference's NFA timeout — CepOperator.onEventTime).
        # Ghosts never expire and never arm.
        fire = []
        if rest:
            newest = utc_ms(dt.datetime.fromisoformat(rest[-1][0]))
            if newest > wm:
                fire.append(newest)
            if within_ms is not None:
                fire.append(utc_ms(dt.datetime.fromisoformat(rest[0][0]))
                            + within_ms + 1)
        if fire:
            state.register_event_timer(int(max(min(fire), wm + 1)))
        return pd.DataFrame(out, columns=cols) if out else None

    # EventTimeTimeout needs a watermark: a stream without
    # withWatermark fails when the query starts, not silently
    return keyed_process(df, keys, fn, out_schema, output_mode="append",
                         timeout="EventTimeTimeout")


def _interval_ms(interval: str) -> int:
    qty, unit = interval.split()
    mult = {"second": 1000, "seconds": 1000, "minute": 60000,
            "minutes": 60000, "hour": 3600000, "hours": 3600000,
            "day": 86400000, "days": 86400000}[unit]
    return int(qty) * mult
