"""Fluent CEP Pattern API — the DataStream-side pattern surface.

Reference: flink-libraries/flink-cep/.../pattern/Pattern.java —
begin(:50) / where(:118) / or(:136) / next(:156) / followedBy(:176) /
notFollowedBy(:382) / times(:291) / oneOrMore(:352) / optional(:317) /
consecutive / allowCombinations(:370) / until(:331) / subtype(:104) /
within(:282), executed by CEP.pattern(stream, pattern) (CEP.java:29).

This facade compiles the fluent chain into the engine's QStep list
(streaming/cep.py) — the same NFA the SQL MATCH_RECOGNIZE front-end
targets — so DataStream-style call sites port mechanically:

    pat = (Pattern.begin("a").where(lambda e: e["event_type"] == "view")
           .followed_by("b").where(lambda e: e["event_type"] == "click")
           .one_or_more().consecutive().greedy()
           .until(lambda e: e["event_type"] == "purchase")
           .next("c").where(lambda e: e["event_type"] == "purchase")
           .within("30 minutes"))
    df = pat.match(events_df, keys=["user_id"], ts_col="ts")

``subtype`` filters on a designated type-tag column — the row-world
equivalent of the reference's Java-class filter (rows carry their
variant in a column, not in the JVM type).
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable

from pyspark.sql import Column, DataFrame

from .cep import QStep, match_pattern_batch, match_pattern_stream


@dataclasses.dataclass
class _StepDraft:
    name: str
    predicates: list[Callable[[dict], bool]] = \
        dataclasses.field(default_factory=list)
    or_mode: bool = False
    min_times: int = 1
    max_times: int | None = 1
    contiguity: str = "relaxed"
    greedy: bool = True
    negated: bool = False
    until: Callable[[dict], bool] | None = None
    combinations: bool = False

    def build(self) -> QStep:
        preds = self.predicates or [lambda ev: True]
        if self.or_mode:
            def predicate(ev, ps=tuple(preds)):
                return any(p(ev) for p in ps)
        else:
            def predicate(ev, ps=tuple(preds)):
                return all(p(ev) for p in ps)
        return QStep(self.name, predicate, min_times=self.min_times,
                     max_times=self.max_times, contiguity=self.contiguity,
                     greedy=self.greedy, negated=self.negated,
                     until=self.until, combinations=self.combinations)


class Pattern:
    """Fluent pattern builder; every mutator returns self."""

    def __init__(self, name: str):
        self._steps: list[_StepDraft] = [_StepDraft(name)]
        self._within: str | None = None

    # -- construction ---------------------------------------------------
    @classmethod
    def begin(cls, name: str) -> "Pattern":
        """Pattern.begin — the first (relaxed-anchor) step."""
        return cls(name)

    def followed_by(self, name: str) -> "Pattern":
        """followedBy: relaxed contiguity (events may intervene)."""
        self._steps.append(_StepDraft(name, contiguity="relaxed"))
        return self

    def next(self, name: str) -> "Pattern":
        """next: strict contiguity (must be the adjacent event)."""
        self._steps.append(_StepDraft(name, contiguity="strict"))
        return self

    def not_followed_by(self, name: str) -> "Pattern":
        """notFollowedBy: forbidden in the gap before the next step."""
        self._steps.append(_StepDraft(name, negated=True))
        return self

    # -- conditions -----------------------------------------------------
    def where(self, predicate: Callable[[dict], bool]) -> "Pattern":
        """AND-composed condition (IterativeCondition.filter)."""
        self._cur.predicates.append(predicate)
        return self

    def or_(self, predicate: Callable[[dict], bool]) -> "Pattern":
        """OR-composed condition (Pattern.or)."""
        self._cur.predicates.append(predicate)
        self._cur.or_mode = True
        return self

    def subtype(self, type_col: str, type_value) -> "Pattern":
        """Pattern.subtype mapped to rows: keep events whose
        ``type_col`` equals ``type_value`` (the reference narrows by
        Java class; rows carry the variant in a column)."""
        self._cur.predicates.append(
            lambda ev, c=type_col, v=type_value: ev[c] == v)
        return self

    def until(self, predicate: Callable[[dict], bool]) -> "Pattern":
        """Stop condition for a looping step (Pattern.until)."""
        self._cur.until = predicate
        return self

    # -- quantifiers ----------------------------------------------------
    def times(self, n: int, to: int | None = None) -> "Pattern":
        self._cur.min_times = n
        self._cur.max_times = n if to is None else to
        return self

    def one_or_more(self) -> "Pattern":
        self._cur.min_times, self._cur.max_times = 1, None
        return self

    def times_or_more(self, n: int) -> "Pattern":
        self._cur.min_times, self._cur.max_times = n, None
        return self

    def optional(self) -> "Pattern":
        """The step may match zero events (Pattern.optional,
        Pattern.java:317): min_times = 0, handled natively by the NFA
        in regex backtracking order, batch and streaming alike (a
        min-0 last step is held back at the watermark boundary until
        a later event fails to extend it, or the within timeout).

        The reference's TIMES+optional means {0} UNION {m..n}; a
        single QStep can only express the contiguous {0..n}, so
        `.times(m>1).optional()` raises rather than silently matching
        the in-between counts."""
        if self._cur.min_times > 1:
            raise NotImplementedError(
                "optional() after times(m>1) means {0} or {m..n} "
                "(Quantifier TIMES+OPTIONAL) — the contiguous-range "
                "engine cannot express the union; restructure as an "
                "explicit two-pattern union")
        self._cur.min_times = 0
        return self

    def consecutive(self) -> "Pattern":
        """Loop repetitions must be adjacent (the engine default)."""
        self._cur.combinations = False
        return self

    def allow_combinations(self) -> "Pattern":
        """Non-consecutive repetitions — every combination
        (combinatorial, like the reference; see QStep docstring)."""
        self._cur.combinations = True
        return self

    def greedy(self, flag: bool = True) -> "Pattern":
        self._cur.greedy = flag
        return self

    def within(self, interval: str) -> "Pattern":
        """Max first-to-last event span (Pattern.within)."""
        self._within = interval
        return self

    # -- execution ------------------------------------------------------
    @property
    def _cur(self) -> _StepDraft:
        return self._steps[-1]

    def build(self) -> list[QStep]:
        return [s.build() for s in self._steps]

    def match(self, df: DataFrame, keys: list[str], ts_col: str,
              id_col: str = "event_id",
              after_match: str = "skip_past_last",
              flag_exprs: list[Column] | None = None,
              until_exprs: list[Column | None] | None = None) -> DataFrame:
        """CEP.pattern(stream, pattern) → select: run the NFA.

        Batch DataFrames use match_pattern_batch (pass ``flag_exprs``
        to keep predicate evaluation JVM-side, plus ``until_exprs`` —
        one Column or None per step — when a looping step carries an
        ``until`` stop condition); streaming DataFrames route to the
        watermark-driven stateful NFA, which evaluates Python
        predicates (ignored flag_exprs would change semantics, so they
        raise). ``after_match`` goes to the engine as given; its
        validator rejects an unknown strategy, and NO_SKIP ('all') on
        a stream.
        """
        steps = self.build()
        if df.isStreaming:
            if flag_exprs is not None or until_exprs is not None:
                raise NotImplementedError(
                    "flag_exprs/until_exprs are a batch-only "
                    "optimization; streaming evaluates Python "
                    "predicates in the stateful NFA")
            return match_pattern_stream(df, keys, ts_col, steps,
                                        within=self._within,
                                        id_col=id_col,
                                        after_match=after_match)
        if (flag_exprs is not None and until_exprs is None
                and any(s.until is not None for s in steps)):
            raise ValueError(
                "pattern has .until() steps: pass until_exprs (one "
                "Column or None per step) alongside flag_exprs")
        return match_pattern_batch(df, keys, ts_col, steps,
                                   within=self._within,
                                   after_match=after_match,
                                   id_col=id_col, flag_exprs=flag_exprs,
                                   until_exprs=until_exprs)
