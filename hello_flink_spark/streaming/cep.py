"""General CEP pattern compiler (VERDICT r05 "Next round" #6; SURVEY
§2.10 MATCH_RECOGNIZE gap).

[F] Flink CEP ``Pattern.begin(A).followedBy(B)...within(t)`` — Spark
has no MATCH_RECOGNIZE surface, so a declarative pattern (an ordered
list of event types + a per-stage time window) is COMPILED into both
execution forms:

- ``compile_stream``: one generic NFA, a per-user fold run by the
  key-group driver every keyed operator shares
  (``stateful._by_key_group``). State per user is the open
  partial-match list (anchor event_id + the matched timestamps so
  far), kept in its key group's state row and expired by event-time
  deadlines, so state stays bounded by the window span regardless of
  stream length.
- ``compile_batch``: a chain of keyed equi-joins with time-band
  residuals + MIN-aggregations — the batch shadow, linear per key.
- ``oracle_sql``: the equivalent DuckDB CTE chain for the driver gate.

Match semantics (the ``followedBy`` relaxed-contiguity rule the 2-step
and 3-step hand NFAs established, now generalized): a stage-``i``
partial is promoted by the FIRST strictly-later event of stage
``i+1``'s type within the window; all pending stage-``i`` partials
promote together at that event and leave stage ``i``. The previous
hand-rolled machines (``stateful.cep_click_purchase``,
``stateful.cep3_view_click_purchase``) are now thin instances of this
compiler — their golden tests pin the compiler to the exact semantics
they had when hand-written.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hello_flink_spark.streaming.stateful import _by_key_group, _Recurrence


@dataclass(frozen=True)
class CepPattern:
    """Declarative 'A followedBy B ... within t' pattern.

    ``steps``: ordered event types (>= 2). ``within_minutes``: per-stage
    time window — each stage must occur within this of the previous.
    ``step_min_value``: optional per-step value guard (None = no guard;
    an event only matches step i if ``value >= step_min_value[i]``) —
    Flink CEP's ``.where(SimpleCondition)`` tier, restricted to the
    one predicate form all three compiled targets (Spark, DuckDB,
    pandas NFA) evaluate identically on doubles.
    """

    steps: Tuple[str, ...]
    within_minutes: int
    step_min_value: Tuple[float | None, ...] | None = None
    # [F] Flink CEP ``oneOrMore().greedy()`` (Kleene plus), deterministic
    # single-match form: index of the single step that may repeat. The
    # emitted match carries the LONGEST run compatible with the first
    # completion — every repetition accepted before the first next-step
    # event — which is Flink's greedy head match. (Flink's reluctant
    # variant instead enumerates every shorter prefix as extra matches
    # — available here via ``reluctant=True`` below; a reluctant
    # SINGLE match degenerates to the plain pattern, so the default
    # one-deterministic-match-per-anchor form is the greedy one.)
    # Mechanics: after the first
    # occurrence promotes the partial, every further event of that type
    # arriving strictly later and within the window of the LAST accepted
    # repetition extends the run (count += 1, window slides); the first
    # next-step event within the window of the last repetition completes
    # the stage. Deterministic single-match-per-anchor — consistent with
    # the compiler's first-match promotion rule, unlike Flink's default
    # greedy enumeration of every sub-run. Output gains an ``n_rep``
    # count column; the repeated step's ts column holds the LAST
    # accepted repetition. Streaming-NFA only (no join-chain shadow can
    # express variable-length runs): compile_batch/oracle_sql refuse.
    one_or_more: int | None = None
    # [F] ``Pattern#oneOrMore`` DEFAULT (non-greedy) multi-match form
    # (r10, VERDICT r09 #4): with ``reluctant=True`` every PREFIX of
    # the accepted run is its own match — the NFA freezes a copy of
    # the pre-extension run at each extension (the prefix branch can
    # complete or expire but never re-extend, which is exactly what
    # keeps {b1, b3}-style skip-combinations out: those belong to
    # followedByAny), and the first eligible next-step event completes
    # EVERY open branch — one row per prefix length m in
    # [min_reps..n_rep], each holding that prefix's last repetition in
    # the Kleene slot, all consumed at one completion event (the
    # compiler's deterministic first-completion discipline; Flink's
    # fully non-deterministic successor dimension — the same run
    # completing again at later successor events — is the documented
    # delta, same class as the greedy single-match form). A prefix
    # whose window (measured from ITS last repetition) has expired by
    # completion time emits nothing — per-branch windows, as in Flink.
    # State grows O(run length) per anchor — reluctant's inherent cost.
    # Composes with min_reps/max_reps (each branch gated by its own
    # count; the capped head stops spawning prefixes), step_min_value,
    # or_types, total_minutes, and (r10, property-suite-pinned)
    # until_type — [F]'s ACTUAL default pairing, since oneOrMore is
    # reluctant unless .greedy(): the stop event freezes the live head
    # (no new prefixes), already-spawned prefix branches still
    # complete, and a run awaiting its first repetition dies — the
    # NFA's FROZEN marker means "complete-or-expire" identically for
    # until-frozen heads and reluctant prefix copies, so the two
    # features share it. Also composes (r10, each property-suite-
    # pinned): run_min_total (every branch carries ITS frozen total —
    # branches are JUDGED independently per next-step event: a frozen
    # prefix clears the bar at the first one after its spawn or never;
    # the under-total head keeps extending and may complete later ONLY
    # when that event emitted nothing — completion is anchor-terminal,
    # so a sibling prefix emitting kills an ineligible head too) and
    # skip_past_last (all branches complete at one event, so the
    # earliest-anchor-wins/clear-state/consume rule lifts unchanged —
    # the winner emits EVERY prefix), and the timeout side-output
    # (per-ANCHOR contract: prefixes expire silently while the anchor
    # lives, the last surviving branch's expiry emits one
    # matched=false row with the maximal-progress branch; completion
    # is anchor-terminal, so a matched anchor never later times out),
    # and after_match_skip (r10 — completions are a branch fan-out
    # through the established (anchor_ts, anchor_id, branch) judgement
    # order: to_next emits the SHORTEST prefix per anchor, to_first/
    # to_last run the per-branch boundary fold with anchor-terminal
    # completion on top). No reluctant composition remains refused.
    reluctant: bool = False
    # [F] Flink CEP ``optional()``: indexes of middle steps that may be
    # SKIPPED. First-event-wins determinism: after the previous stage,
    # whichever arrives first within the window — the optional step's
    # event (which is then accepted, and the next stage's window is
    # measured from it) or the next step's event (which completes the
    # stage pair with the optional slot NULL) — decides the match.
    # Restrictions: strictly middle steps, pairwise non-adjacent (a
    # skip crosses exactly one step), disjoint from one_or_more, and
    # the skipped/next step types must differ (else one event is
    # ambiguous between taking and skipping).
    optional_steps: Tuple[int, ...] = ()
    # [F] Flink CEP ``timesOrMore(n)``: minimum repetition count for the
    # ``one_or_more`` step. The run still extends greedily and the stage
    # still completes at the first next-step event — but only once the
    # run has accepted >= min_reps repetitions; a next-step event
    # arriving earlier is ignored (relaxed contiguity) and the partial
    # keeps waiting for more repetitions. min_reps=1 is plain oneOrMore.
    min_reps: int = 1
    # [F] ``Pattern#times(from, to)`` upper bound: the run stops
    # ACCEPTING repetitions once it holds max_reps (further events of
    # the repeated type are relaxed-contiguity ignored; the stage
    # window stays anchored at the last ACCEPTED repetition), so the
    # emitted n_rep is always within [min_reps, max_reps]. None = no
    # cap (timesOrMore/oneOrMore). With min_reps this completes the
    # quantifier family: times(n) fixed = step expansion, times(m, n)
    # range = min_reps=m + max_reps=n, timesOrMore(n) = min_reps=n.
    max_reps: int | None = None
    # [F] ``Pattern#oneOrMore().until(condition)`` — the STOP condition
    # for the looping step: once an event of this type (passing the
    # optional value guard below) arrives STRICTLY later than a run's
    # last accepted event, every run currently IN OR ENTERING the
    # looping state is FROZEN — a run at the Kleene stage accepts no
    # further repetitions (but may still complete via the next step:
    # Flink's until stops acceptance INTO the looping state only; the
    # successor state still consumes), and a run WAITING for its first
    # repetition refuses it (it can never satisfy the >= 1 quota and
    # expires as a genuine timeout). A frozen run holding fewer than
    # min_reps repetitions likewise can only time out. Per-partial and
    # per-event: a run that reaches the loop's doorstep after the stop
    # event is unaffected (the condition is evaluated per arriving
    # event, not retroactively). Restrictions (determinism discipline):
    # requires one_or_more; the stop type must differ from the repeated
    # step's type-set (an event cannot both extend and freeze — Flink
    # evaluates until before acceptance, making such an event a silent
    # no-op extension, a semantics no test could pin) and from the
    # successor step's type-set — including the post-optional successor
    # when the loop's successor is optional — (completing and freezing
    # with one event is ambiguous between NFA branch orders). until ×
    # not_next on the loop stages is already impossible: not_next is
    # rejected there for every one_or_more pattern. Tie class: a stop
    # event on the SAME µs as the run's last accepted event does not
    # freeze (strict >), the same boundary every other guard uses.
    until_type: str | None = None
    # optional value guard on the stop event: it only freezes if
    # ``value >= until_min_value`` (None = any value stops).
    until_min_value: float | None = None
    # [F] IterativeCondition over ``ctx.getEventsForPattern(loop)`` in
    # its AGGREGATE form — the "repetitions totaling >= X" guard (e.g.
    # clicks whose values sum to 100, then a purchase): completion OUT
    # of the Kleene stage additionally requires the SUM of the
    # accepted repetitions' values to reach this threshold; an earlier
    # next-step event is relaxed-contiguity ignored (the run keeps
    # waiting/extending) — exactly the min_reps gating shape, on value
    # mass instead of count. Composes with min_reps (both gates apply),
    # max_reps (capped repetitions are ignored, so their values never
    # count), and until (a frozen run completes only if its already-
    # accumulated total clears the bar). Mechanics: the running total
    # rides IN the Kleene slot of the value segment (seeded by the
    # first repetition, accumulated on extension) — zero state-encoding
    # change — so a rel_guard REFERENCING the loop step is refused when
    # this is set (the slot can't be both last-value and total; with
    # that refusal no compiled form emits the loop's value column, so
    # the running total is NFA-internal). Fail-closed: a NULL
    # repetition value makes the total unknown (NaN) and an unknown
    # total never clears the bar.
    run_min_total: float | None = None
    # [F] GroupPattern — ``Pattern.begin(Pattern.begin("b").next/
    # followedBy("c")).oneOrMore()``: a contiguous SUB-SEQUENCE of
    # middle steps (gi..gj inclusive, gi < gj) repeats as a UNIT —
    # "(b c)+ then d". Greedy deterministic single-match form (the
    # compiler's one-match-per-anchor discipline): each repetition
    # must COMPLETE the whole group in order (relaxed contiguity
    # within); at a group BOUNDARY (a repetition just completed),
    # whichever arrives first — a group-start event (opens the next
    # repetition; the prior repetition's slots are discarded, so the
    # emitted group columns hold the LAST repetition, the Kleene
    # slot convention) or the post-group step's event (completes the
    # stage with n_rep counting completed repetitions) — decides,
    # first-event-wins. A group-start event arriving MID-repetition
    # is relaxed-contiguity ignored (no branching — the documented
    # delta vs Flink's sub-run enumeration, same class as the
    # Kleene single-match form). Restrictions (v1 determinism
    # discipline): strictly middle (the anchor cannot repeat; a
    # terminal group's reluctant single match degenerates to the
    # plain pattern); step type-sets gi..gj+1 pairwise disjoint
    # (boundary and in-group promotions must be unambiguous);
    # composes with or_types, the window bounds, step_min_value, the
    # timeout side-output, and (r10) the WHOLE AfterMatchSkip family —
    # group completions ride the same (anchor_ts, anchor_id) judgement
    # + boundary fold, property-tested as full group × skip × timeout
    # triples; to_first cannot reference an in-group slot (restarts
    # slide it to the last repetition — the Kleene-step rule's
    # analog), and until (r10 — the stop freezes acceptance INTO the
    # group's looping state: no restart, no in-group promotion;
    # completion out of a finished repetition stays allowed), and
    # run_min_total (r10 — the total accumulates the repetition-
    # completing step's values on the anchor slot; completion out of
    # the group gates on total >= bar, early exits are relaxed
    # no-ops). optional/strict compose OFF-SPAN (r10): an optional
    # pair may end AT the group's first slot or begin after the
    # post-group step; strict steps stay off the span and the
    # post-group step. not_between/not_next compose off-span the
    # same way (guard kills stay silent; an armed notNext pend never
    # overlaps the group's FROZEN span). rel_guards COMPOSE (r11):
    # value slots are boundary-coherent — pre-group slots (ref < gi)
    # survive restarts verbatim; in-span slots are truncated WITH the
    # repetition, so an in-span ref always reads the CURRENT
    # repetition mid-span and the LAST completed repetition from the
    # post-group step onward (the emitted-columns convention); a
    # guard ON the group-start step is enforced on BOTH entry paths
    # (first-repetition promotion and boundary restart — a failing
    # restart event is a relaxed no-op, exactly the step_min_value
    # rule); the single refusal is ref 0 × run_min_total (the anchor
    # slot carries the running total there). PERMANENTLY refused
    # (docs/SEMANTICS.md, numbered deltas): quantifiers (a Kleene
    # step alongside a group — two interleaved looping states have
    # no deterministic first-event-wins form: one event at a
    # loop/group boundary can extend one machine and restart the
    # other) and any_match (branch fan-out × boundary restart — a
    # restarted branch and its still-armed parent re-converge on the
    # same slots, so match multiplicity is ill-defined).
    group_reps: Tuple[int, int] | None = None
    # [F] ``Pattern#within(Duration)`` — the PATTERN-GLOBAL window: the
    # whole match (anchor → final step) must span at most this. The
    # per-stage ``within_minutes`` still applies between consecutive
    # stages; both bounds are enforced in the NFA, the batch chain, and
    # the generated oracle. For a k-step pattern with per-stage t, a
    # total < (k-1)*t is a REAL restriction (first→last spans up to
    # (k-1)*t under per-stage alone).
    total_minutes: int | None = None
    # [F] ``Pattern#next`` — STRICT contiguity for these step indexes
    # (>= 1): step i must be matched by an event at the EARLIEST
    # event-timestamp strictly after stage i-1's event (any type, any
    # key activity counts); if some event exists at that earliest
    # timestamp but none of them matches step i's type+guard, the
    # partial is DISCARDED silently (no timeout side-output — Flink
    # discards contiguity violations the same way). Ties at the same
    # timestamp resolve as "some earliest event matches", which is the
    # rule a join/MIN batch shadow can also express. Disjoint from
    # optional/Kleene neighborhoods (validated) — a skip or an
    # extension makes "immediately next" ambiguous.
    strict_steps: Tuple[int, ...] = ()
    # [F] MID-PATTERN ``notFollowedBy`` — negative condition BETWEEN two
    # positive stages: ``not_between[i]`` (None = no guard) names an
    # event type that must NOT occur between stage i-1's event and
    # stage i's event. A forbidden-type event arriving strictly later
    # than stage i-1 while the partial awaits stage i KILLS the partial
    # silently (a violation, not a timeout — no side-output emission,
    # matching the strict-contiguity convention). Batch/oracle twin:
    # the stage joins over BOTH types and requires the promoter's MIN
    # timestamp strictly before the forbidden MIN (an exact cross-type
    # tie kills in SQL but resolves by event_id in the NFA — the same
    # documented tie class as optional(), absent from the µs fixture).
    # Entry i=0 is meaningless (nothing precedes the anchor); guarded
    # stages must stay clear of optional/Kleene/strict neighborhoods
    # (validated) and the forbidden type must differ from the stage's
    # own type.
    not_between: Tuple[str | None, ...] | None = None
    # [F] ``Pattern#notNext`` — NEGATED strict contiguity: ``not_next[i]``
    # (None = no guard) names an event type that must NOT be the
    # IMMEDIATELY next event of the user's stream after stage i's
    # accepted event. The NFA arms a guard on acceptance; the first
    # strictly-later event resolves it — forbidden type kills the
    # partial silently, anything else clears the guard (if no later
    # event ever arrives within the window the guard passes vacuously
    # and the partial times out as usual). Batch/oracle: first-any vs
    # first-forbidden MIN comparison over the stage-window band — kill
    # iff a forbidden event sits at the earliest later timestamp (tie
    # groups judged as a set in SQL, by event_id in the NFA: the same
    # documented tie class as strict/optional, absent from the µs
    # fixture). Guards live on stages 0..k-2 and must stay clear of
    # strict/optional/Kleene neighborhoods (validated).
    not_next: Tuple[str | None, ...] | None = None
    # [F] ``AfterMatchSkipStrategy.skipPastLastEvent()``: when one or
    # more partials complete at an event, emit ONLY the earliest-anchored
    # match and discard every other open partial for the key; the
    # completing event is consumed (it cannot also anchor a new
    # partial). Matching restarts from the next event — non-overlapping
    # matches, the sessionization-style selection. Streaming-NFA only:
    # the greedy sequential selection is not join-expressible, so
    # compile_batch / oracle_sql refuse (property + golden tested).
    skip_past_last: bool = False
    # [F] The remaining ``AfterMatchSkipStrategy`` variants (round 9;
    # skipPastLastEvent + default NO_SKIP above):
    #   ("to_next", None)  — ``skipToNext()``: after a match is
    #     emitted, discard every other partial that started with the
    #     SAME anchor event — at most one match per anchor. Without
    #     branch enumeration this equals NO_SKIP (one partial per
    #     anchor completes at most once); its non-trivial use is with
    #     ``any_match_steps``, where it collapses the branch fan-out
    #     to the first-completing branch per anchor.
    #   ("to_first", j) / ("to_last", j) — ``skipToFirst/Last(name)``:
    #     after a match is emitted, discard every open partial whose
    #     ANCHOR timestamp is strictly before the emitted match's
    #     accepted event at step j (ties survive — Flink discards
    #     partials that started BEFORE the reference event).
    #     Matches completing at the same event are judged in
    #     (anchor_ts, anchor_id) order against the running boundary.
    #     For a plain step, first == last == the one accepted event —
    #     the two strategies differ only on the Kleene step's run,
    #     where to_last uses the LAST accepted repetition (the slot
    #     the state already keeps) and to_first is REJECTED (the
    #     first repetition's timestamp is not retained).
    # The completing event is NOT consumed (unlike skipPastLastEvent)
    # — it may still anchor a new partial. Killed partials are
    # DISCARDED (never timeout rows). Streaming-NFA only: greedy
    # sequential selection is not join-expressible, so compile_batch /
    # oracle_sql refuse (reference model + property suite instead).
    after_match_skip: Tuple[str, int | None] | None = None
    # [F] ``o.a.f.cep.pattern.conditions.IterativeCondition`` — a
    # per-step predicate over PREVIOUSLY ACCEPTED events (Flink's
    # ``ctx.getEventsForPattern``), in the one relative-value form all
    # three compiled targets evaluate identically on doubles:
    # ``rel_guards[i] = (ref, factor)`` means an event only matches
    # step i if ``value >= factor * value(accepted event at step
    # ref)`` (canonical demo: purchase value >= 2x the anchor view's).
    # An event of the right type failing the guard is relaxed-
    # contiguity IGNORED — the partial keeps waiting, exactly like a
    # failed ``step_min_value`` guard; and because the referenced
    # value differs per partial, one event may promote some partials
    # and not others (the per-partial hit() the NFA already does).
    # Batch/oracle: the referenced stage carries its accepted event's
    # value down the chain (anchor: plain column; later stages:
    # MIN_BY(value, ts) / ARG_MIN — same tie class as MIN(ts)), and
    # the guard becomes one extra join predicate. Restrictions (each
    # keeps the guard's meaning single-valued): entry 0 is None
    # (nothing precedes the anchor); ref < i; guarded and referenced
    # steps must be PLAIN relaxed stages — not strict, not optional,
    # not the Kleene step, not not_between-guarded — because a
    # skipped slot has no value and a run has many.
    rel_guards: Tuple[Tuple[int, float] | None, ...] | None = None
    # [F] ``Pattern#followedByAny`` — ANY-MATCH relaxed contiguity for
    # these step indexes (>= 1): EVERY eligible event within the
    # window promotes (each spawns its own match branch), not just the
    # first — and the waiting partial REMAINS armed for later events
    # until its window expires. Batch/oracle: the stage's band join
    # WITHOUT the MIN collapse (every candidate row survives — the
    # branch set IS the row set). NFA: promotion spawns a branch but
    # skips the remove step, so state grows with the number of
    # eligible events in the window — followedByAny's inherent cost
    # (identical in Flink). Restrictions: no timeout side-output
    # (compile_*_timeouts refuse — an already-branched partial is not
    # a timeout, so the row sets can't agree), and the step must be a
    # plain relaxed stage clear of strict/optional/Kleene/not_between/
    # not_next neighborhoods; rel_guards COMPOSE (the guard filters
    # the branch set — property-tested).
    any_match_steps: Tuple[int, ...] = ()
    # [F] ``Pattern#where(cond).or(cond)`` / subtype conditions: the
    # OR-combinator in the one form every compiled target evaluates
    # identically — a step accepts a SET of event types.
    # ``or_types[i]`` lists ADDITIONAL types admitted at step i (the
    # empty tuple = just ``steps[i]``), so step i matches an event iff
    # its type ∈ {steps[i]} ∪ or_types[i]; value guards
    # (step_min_value / rel_guards) apply to the whole set, exactly
    # like a Flink ``.where(typeA or typeB).where(valueGuard)`` chain.
    # Join-expressible: the stage filter's type equality becomes an
    # ``isin`` (Spark) / ``IN`` list (oracle); the NFA's equality
    # becomes set membership; MIN-first determinism is unchanged
    # because candidates from all admitted types share one timestamp
    # order. Every single-type disambiguation rule generalizes to SET
    # DISJOINTNESS (validated below): an optional step's set must not
    # overlap its successor's, the Kleene step's set must not overlap
    # its neighbors', and a not_between forbidden type must not be
    # admitted by its own stage.
    or_types: Tuple[Tuple[str, ...], ...] | None = None

    def step_types(self, i: int) -> Tuple[str, ...]:
        """All event types admitted at step i (primary + OR types)."""
        if self.or_types is None:
            return (self.steps[i],)
        return (self.steps[i],) + tuple(self.or_types[i])

    def __post_init__(self) -> None:
        if len(self.steps) < 2:
            raise ValueError("a CEP pattern needs at least 2 steps")
        for s in self.optional_steps:
            if not (0 < s < len(self.steps) - 1):
                raise ValueError("optional steps must be strictly middle steps")
            if s - 1 in self.optional_steps or s + 1 in self.optional_steps:
                raise ValueError("optional steps must be pairwise non-adjacent")
            if s == self.one_or_more:
                raise ValueError("a step cannot be both optional and one_or_more")
            if self.steps[s] == self.steps[s + 1]:
                raise ValueError(
                    "an optional step must differ in type from its successor"
                )
        if self.step_min_value is not None and len(self.step_min_value) != len(
            self.steps
        ):
            raise ValueError("step_min_value must have one entry per step")
        if self.one_or_more is not None:
            r = self.one_or_more
            if not (0 < r < len(self.steps) - 1):
                raise ValueError(
                    "one_or_more must name a middle step: the anchor cannot "
                    "repeat (each occurrence opens its own partial) and a "
                    "reluctant terminal repetition completes at its first "
                    "occurrence, which is the plain pattern"
                )
            if self.steps[r] in (self.steps[r - 1], self.steps[r + 1]):
                raise ValueError(
                    "one_or_more step must differ in type from its neighbors "
                    "(same-type adjacency makes extension vs promotion of one "
                    "event ambiguous)"
                )
        if self.reluctant:
            if self.one_or_more is None:
                raise ValueError(
                    "reluctant ([F] non-greedy oneOrMore) requires a "
                    "one_or_more step — it is an emission policy for the "
                    "Kleene run"
                )
            # after_match_skip COMPOSES (r10, the last reluctant
            # refusal deleted): completions are a branch fan-out, so
            # the established (anchor_ts, anchor_id, branch) judgement
            # order lifts unchanged — to_next emits the SHORTEST prefix
            # per anchor (Flink's documented b+ SKIP_TO_NEXT: b1, b2,
            # b3) and kills the anchor's remaining branches; to_first/
            # to_last run the same boundary fold per BRANCH, with
            # anchor-terminal completion applied on top. Property
            # suites + goldens in tests/test_properties.py.
        if self.min_reps < 1:
            raise ValueError("min_reps must be >= 1")
        if self.min_reps > 1 and self.one_or_more is None:
            raise ValueError("min_reps (timesOrMore) requires a one_or_more step")
        if self.max_reps is not None:
            if self.one_or_more is None:
                raise ValueError("max_reps (times(m, n)) requires a one_or_more step")
            if self.max_reps < self.min_reps:
                raise ValueError("max_reps must be >= min_reps")
        if self.group_reps is not None:
            gi, gj = self.group_reps
            if not (0 < gi < gj < len(self.steps) - 1):
                raise ValueError(
                    "group_reps must name a strictly-middle multi-step span "
                    "(gi < gj; the anchor cannot repeat, a terminal group's "
                    "reluctant single match is the plain pattern, and a "
                    "single-step group is one_or_more)"
                )
            span = [frozenset(self.step_types(i)) for i in range(gi, gj + 2)]
            for x in range(len(span)):
                for y in range(x + 1, len(span)):
                    if span[x] & span[y]:
                        raise ValueError(
                            "group step type-sets (and the post-group step's) "
                            "must be pairwise disjoint: boundary restart vs "
                            "completion and in-group promotions must be "
                            "unambiguous"
                        )
            # step_min_value COMPOSES (r10, VERDICT r09 #3): the guard
            # applies per admitted event — in-group promotions through
            # the generic mins[i] check, boundary restarts through the
            # group-start guard (a guard-failing event is a relaxed
            # no-op in both roles) — property-suite + goldens in
            # tests/test_properties.py.
            # skip_past_last COMPOSES (r10): group completions land in
            # the same `completed` list as plain ones, so the
            # earliest-anchor-wins/clear-state/consume fold lifts
            # unchanged; skip-killed group partials are discards, not
            # timeouts (property-tested as the full group × skip ×
            # timeout triple in tests/test_properties.py).
            # after_match_skip COMPOSES (r10, same session as
            # skip_past_last): group completions ride the generic
            # (anchor_ts, anchor_id) judgement + boundary fold; the
            # one group-specific rule is below (to_first cannot
            # reference an in-group slot — restarts slide it to the
            # LAST repetition, the Kleene-step rule's analog).
            # Property-tested as group × skipTo × timeout triples.
            if self.after_match_skip is not None:
                mode, j = self.after_match_skip
                if mode == "to_first" and j is not None and gi <= j <= gj:
                    raise ValueError(
                        "to_first cannot reference an in-group step: a "
                        "boundary restart discards the slots, so only the "
                        "LAST repetition's timestamp is retained (use "
                        "to_last)"
                    )
            # optional_steps / strict_steps COMPOSE (r10) when they
            # stay clear of the group machinery's slots: an optional
            # pair owns slots o and o+1, so it must END before the
            # group starts (o + 1 < gi) or BEGIN after the post-group
            # step (o ≥ gj + 2 — the exit promotion and boundary
            # restart both key on stage gj+1, which stays mandatory);
            # a strict step judges contiguity against its predecessor,
            # so it must not be a group-span stage or the post-group
            # step (restarts make 'immediately next' ambiguous there),
            # leaving pre-group (s < gi) and post-post-group
            # (s ≥ gj + 2) placements. Property-suited with a 5-step
            # fixture in tests/test_properties.py.
            for o in self.optional_steps:
                # o + 1 == gi is allowed: the skip path writes [None,
                # first-repetition ts] and every group mechanism keys
                # on stages gi..gj+1, which the pair never occupies —
                # "anchor, optional step, (group)+, exit" is the
                # canonical composed shape. (Group patterns never
                # compile to the batch pair chain, so the batch-side
                # pair constraint does not apply.)
                if not (o < gi or o >= gj + 2):
                    raise ValueError(
                        "an optional step must stay clear of the group "
                        "span: it may end at the group's first slot "
                        "(o + 1 <= gi) or begin after the post-group step"
                    )
            for s in self.strict_steps:
                if gi <= s <= gj + 1:
                    raise ValueError(
                        "a strict step cannot be a group-span stage or "
                        "the post-group step (boundary restarts make "
                        "'immediately next' ambiguous)"
                    )
            # not_between / not_next COMPOSE off-span (r10): both are
            # stage-keyed, so placements that never touch the group's
            # stages behave exactly as in plain patterns. not_between
            # may guard stages <= gi-1 or >= gj+2 (guarding the span
            # or the post-group step would span boundary restarts —
            # ambiguous); not_next may arm only at steps <= gi-2 (the
            # armed GUARD pend then lives at stages <= gi-1, disjoint
            # from the FROZEN marker's group span gi..gj+1 — the same
            # slot-disjointness rule the Kleene tier keeps) or
            # >= gj+2. Property-suited on the 5-step fixture.
            if self.not_between is not None:
                for idx, x in enumerate(self.not_between):
                    if x is not None and gi <= idx <= gj + 1:
                        raise ValueError(
                            "not_between cannot guard a group-span stage or "
                            "the post-group step (boundary restarts make the "
                            "guarded span ambiguous)"
                        )
            if self.not_next is not None:
                for idx, x in enumerate(self.not_next):
                    if x is not None and not (idx <= gi - 2 or idx >= gj + 2):
                        raise ValueError(
                            "not_next must stay clear of the group "
                            "neighborhood (an armed guard's pend slot must "
                            "never overlap the group's FROZEN span)"
                        )
            # rel_guards COMPOSE (r11, VERDICT r10 #3): the guard rules
            # are slot-coherent with the boundary restart — see the
            # rel_guards block below for the one group-specific refusal
            # (ref 0 × run_min_total, the repurposed anchor slot) and
            # the NFA's restart branch for the group-start enforcement.
            for feature, label in (
                (self.one_or_more is not None, "one_or_more"),
                (bool(self.any_match_steps), "any_match_steps"),
            ):
                if feature:
                    raise ValueError(
                        f"group_reps × {label} is a PERMANENT documented "
                        "delta (docs/SEMANTICS.md) — two interleaved looping "
                        "states / branch fan-out × boundary restart have no "
                        "deterministic single-match form"
                    )
        if self.until_min_value is not None and self.until_type is None:
            raise ValueError("until_min_value requires until_type")
        if self.run_min_total is not None:
            if self.one_or_more is None and self.group_reps is None:
                raise ValueError(
                    "run_min_total (the run-aggregate guard) requires a "
                    "looping stage — a one_or_more step or a group_reps span"
                )
            # group × run_min_total (r10): the total accumulates the
            # REPETITION-COMPLETING step's (gj's) accepted values, one
            # per completed repetition, riding the anchor value slot
            # (free in group patterns unless a rel_guard REFERENCES
            # step 0 — that composition is refused in the rel_guards
            # block below, so no emitted v-column or guard ever reads
            # the repurposed slot). Completion out of the group gates
            # on total >= bar; an early post-group event is a relaxed
            # no-op, exactly the Kleene rule.
            if self.rel_guards is not None and any(
                g is not None and g[0] == self.one_or_more
                for g in self.rel_guards
            ):
                raise ValueError(
                    "run_min_total repurposes the Kleene value slot as the "
                    "running TOTAL, so a rel_guard referencing the loop step "
                    "(last-value semantics) cannot compose with it"
                )
        if self.until_type is not None:
            if self.one_or_more is None and self.group_reps is None:
                raise ValueError(
                    "until_type ([F] oneOrMore().until) requires a looping "
                    "stage — a one_or_more step or a group_reps span — the "
                    "stop condition gates the looping state"
                )
            if self.group_reps is not None:
                # group × until (r10): the stop freezes acceptance INTO
                # the group's looping state — no boundary restart, no
                # in-group promotion (a mid-repetition frozen partial
                # can never refill its slots and expires as a genuine
                # timeout); completion OUT of a finished repetition
                # (stage gj+1 → the post-group step) stays allowed —
                # the exact analog of the Kleene freeze. One-event
                # ambiguity rules mirror the Kleene ones across the
                # whole span + the post-group step.
                gi_, gj_ = self.group_reps
                for s in range(gi_, gj_ + 2):
                    if self.until_type in self.step_types(s):
                        raise ValueError(
                            "until_type must differ from every group-span "
                            "and post-group type-set (one event cannot both "
                            "freeze and promote/restart/complete)"
                        )
            r = self.one_or_more
            if r is not None and self.until_type in self.step_types(r):
                raise ValueError(
                    "until_type must differ from the repeated step's type-set "
                    "(one event cannot both extend and freeze the run)"
                )
            if r is not None and self.until_type in self.step_types(r + 1):
                raise ValueError(
                    "until_type must differ from the successor step's type-set "
                    "(one event completing AND freezing is ambiguous between "
                    "NFA branch orders)"
                )
            if (
                r is not None
                and r + 1 in self.optional_steps
                and self.until_type in self.step_types(r + 2)
            ):
                raise ValueError(
                    "until_type must differ from the post-optional successor's "
                    "type-set: with the loop's successor optional, such an "
                    "event would complete (via the optional skip) AND freeze "
                    "— the same one-event ambiguity as the direct successor"
                )
            # (until × not_next needs no guard of its own: not_next is
            # already rejected on the Kleene step and its successor for
            # EVERY one_or_more pattern — the 'must stay clear of
            # optional/Kleene neighborhoods' rule below — which is what
            # keeps the GUARD and FROZEN pending markers disjoint.)
        if self.not_between is not None:
            if len(self.not_between) != len(self.steps):
                raise ValueError("not_between must have one entry per step")
            if self.not_between[0] is not None:
                raise ValueError(
                    "not_between[0] is meaningless: nothing precedes the anchor"
                )
            for i, x in enumerate(self.not_between):
                if x is None:
                    continue
                if x == self.steps[i]:
                    raise ValueError(
                        "a stage's forbidden type must differ from its own type"
                    )
                if i in self.optional_steps or i - 1 in self.optional_steps:
                    raise ValueError(
                        "not_between cannot guard an optional step or its "
                        "successor (a skip makes the guarded span ambiguous)"
                    )
                if self.one_or_more is not None and i in (
                    self.one_or_more,
                    self.one_or_more + 1,
                ):
                    raise ValueError(
                        "not_between cannot guard the Kleene step or its "
                        "successor (run extension makes the span ambiguous)"
                    )
                if i in self.strict_steps:
                    raise ValueError(
                        "not_between on a strict step is redundant: strict "
                        "contiguity already constrains the next event fully"
                    )
        if self.not_next is not None:
            if len(self.not_next) != len(self.steps):
                raise ValueError("not_next must have one entry per step")
            if self.not_next[-1] is not None:
                raise ValueError(
                    "not_next on the final stage is meaningless: the match "
                    "has already completed (a pattern cannot end negated)"
                )
            for i, x in enumerate(self.not_next):
                if x is None:
                    continue
                if i + 1 in self.strict_steps:
                    raise ValueError(
                        "not_next before a strict step is redundant: strict "
                        "contiguity already constrains the next event fully"
                    )
                if (
                    i in self.optional_steps
                    or i + 1 in self.optional_steps
                    or (
                        self.one_or_more is not None
                        and i in (self.one_or_more, self.one_or_more + 1)
                    )
                ):
                    raise ValueError(
                        "not_next must stay clear of optional/Kleene "
                        "neighborhoods (skips and run extension make "
                        "'immediately next' ambiguous)"
                    )
        if self.total_minutes is not None and self.total_minutes < 1:
            raise ValueError("total_minutes must be >= 1")
        for s in self.strict_steps:
            if not (1 <= s < len(self.steps)):
                raise ValueError(
                    "strict steps must be in 1..k-1 (the anchor has no "
                    "predecessor to be contiguous with)"
                )
            if s in self.optional_steps or s - 1 in self.optional_steps:
                raise ValueError(
                    "a strict step cannot be optional or follow an optional "
                    "step (a skip makes 'immediately next' ambiguous)"
                )
            if self.one_or_more is not None and s in (
                self.one_or_more,
                self.one_or_more + 1,
            ):
                raise ValueError(
                    "a strict step cannot be the Kleene step or its successor "
                    "(run extension makes 'immediately next' ambiguous)"
                )
        for s in self.any_match_steps:
            if not (1 <= s < len(self.steps)):
                raise ValueError(
                    "any_match steps must be in 1..k-1 (the anchor already "
                    "branches per event by construction)"
                )
            if s in self.strict_steps:
                raise ValueError(
                    "a step cannot be both any-match and strict (followedByAny "
                    "is the opposite of next())"
                )
            if s in self.optional_steps or s - 1 in self.optional_steps:
                raise ValueError(
                    "an any-match step cannot be optional or follow an "
                    "optional step (the pair compilation owns both slots)"
                )
            if self.one_or_more is not None and s in (
                self.one_or_more,
                self.one_or_more + 1,
            ):
                raise ValueError(
                    "an any-match step cannot be the Kleene step or its "
                    "successor (run extension already re-consumes events)"
                )
            if self.not_between is not None and self.not_between[s] is not None:
                raise ValueError(
                    "an any-match step cannot carry a not_between guard "
                    "(one tier per stage keeps both join-expressible)"
                )
            # any_match × not_next COMPOSES (r11 — the file's last
            # "untested composition" refusal, deleted property-suite-
            # first): a guard armed by the step BEFORE the any-match
            # step resolves on the first strictly-later event, before
            # any branch can spawn (kill → no branches ever, clear →
            # fan-out proceeds); a guard ON the any-match step arms
            # PER BRANCH at each branch's own acceptance ts — the
            # generic pend machinery, the batch chain's per-row
            # first-any vs first-forbidden MIN guard, and the oracle's
            # unconditional post-stage notNext CTE all agree
            # (tie-free 4-way properties + eid-ordered tied NFA
            # property + goldens in tests/test_properties.py; the
            # × after_match_skip triple rides the same guard-filtered
            # completion set through the unchanged skip fold).
            if self.skip_past_last:
                raise ValueError(
                    "any_match with skip_past_last is contradictory: one "
                    "enumerates every branch, the other consumes them"
                )
        if self.rel_guards is not None:
            if len(self.rel_guards) != len(self.steps):
                raise ValueError("rel_guards must have one entry per step")
            if self.rel_guards[0] is not None:
                raise ValueError(
                    "rel_guards[0] is meaningless: no event precedes the anchor"
                )

            def _plain(j: int, role: str) -> None:
                if j in self.strict_steps:
                    raise ValueError(f"rel_guards {role} step cannot be strict")
                if j in self.optional_steps:
                    raise ValueError(
                        f"rel_guards {role} step cannot be optional (a "
                        "skipped slot has no value)"
                    )
                if j - 1 in self.optional_steps:
                    raise ValueError(
                        f"rel_guards {role} step cannot follow an optional "
                        "step (the pair compilation owns both slots, so the "
                        "batch chain could not apply the guard)"
                    )
                if self.one_or_more is not None and j == self.one_or_more:
                    raise ValueError(
                        f"rel_guards {role} step cannot be the Kleene step "
                        "(a run has many values)"
                    )
                if (
                    self.not_between is not None
                    and j > 0
                    and self.not_between[j] is not None
                ):
                    raise ValueError(
                        f"rel_guards {role} step cannot carry a not_between "
                        "guard (one tier per stage keeps both join-expressible)"
                    )

            for i, g in enumerate(self.rel_guards):
                if g is None:
                    continue
                ref, factor = g
                if not (0 <= ref < i):
                    raise ValueError(
                        "rel_guards ref must name an EARLIER step (ref < i)"
                    )
                _plain(i, "guarded")
                if ref > 0:
                    _plain(ref, "referenced")
                # group × rel_guards (r11, VERDICT r10 #3): every
                # placement is slot-coherent with boundary restarts
                # (see group_reps above) EXCEPT a reference to the
                # anchor while run_min_total repurposes that slot as
                # the running total
                if (
                    self.group_reps is not None
                    and self.run_min_total is not None
                    and ref == 0
                ):
                    raise ValueError(
                        "a rel_guard cannot reference the anchor in a "
                        "group_reps × run_min_total pattern: the anchor "
                        "value slot carries the running TOTAL there"
                    )
        if self.or_types is not None:
            if len(self.or_types) != len(self.steps):
                raise ValueError("or_types must have one entry per step")
            for i, alts in enumerate(self.or_types):
                if len(set(alts)) != len(alts) or self.steps[i] in alts:
                    raise ValueError(
                        "or_types entries must be distinct and must not "
                        "repeat the step's own type"
                    )
            # every single-type disambiguation rule generalizes to set
            # disjointness; re-check the pairs whose base-type checks
            # above could not see the OR types
            for s in self.optional_steps:
                if set(self.step_types(s)) & set(self.step_types(s + 1)):
                    raise ValueError(
                        "an optional step's type set must be disjoint from "
                        "its successor's (shared types make one event "
                        "ambiguous between taking and skipping)"
                    )
            if self.one_or_more is not None:
                r = self.one_or_more
                for j in (r - 1, r + 1):
                    if set(self.step_types(r)) & set(self.step_types(j)):
                        raise ValueError(
                            "the Kleene step's type set must be disjoint "
                            "from its neighbors' (shared types make "
                            "extension vs promotion ambiguous)"
                        )
            if self.not_between is not None:
                for i, x in enumerate(self.not_between):
                    if x is not None and x in self.step_types(i):
                        raise ValueError(
                            "a stage's forbidden type must not be admitted "
                            "by the stage's own type set"
                        )
        if self.after_match_skip is not None:
            mode, j = self.after_match_skip
            if self.skip_past_last:
                raise ValueError(
                    "skip_past_last and after_match_skip are mutually "
                    "exclusive (one AfterMatchSkipStrategy per pattern)"
                )
            if mode == "to_next":
                if j is not None:
                    raise ValueError("to_next takes no reference step")
            elif mode in ("to_first", "to_last"):
                if j is None or not (0 <= j < len(self.steps)):
                    raise ValueError(
                        "to_first/to_last must reference a step index in "
                        "0..k-1"
                    )
                if j in self.optional_steps:
                    raise ValueError(
                        "to_first/to_last cannot reference an optional "
                        "step (a skipped slot has no timestamp)"
                    )
                if mode == "to_first" and j == self.one_or_more:
                    raise ValueError(
                        "to_first cannot reference the Kleene step: the "
                        "run's FIRST repetition timestamp is not retained "
                        "(the state slot slides to the last; use to_last)"
                    )
                # any_match COMPOSES (r10, VERDICT r09 #3): same-event
                # completions — now a branch fan-out — are judged in
                # (anchor_ts, anchor_id, branch) order against the
                # running step-j boundary, and the boundary kill also
                # prunes still-armed any-match waiters by anchor ts
                # (property-suite + goldens in tests/test_properties.py,
                # same _skip_to_sim fold as the to_next × any_match pair).
            else:
                raise ValueError(
                    "after_match_skip mode must be to_next/to_first/to_last"
                )

    @classmethod
    def of(
        cls, spec: "list[str | Tuple[str, int]]", within_minutes: int, **kw: Any
    ) -> "CepPattern":
        """[F] ``Pattern#times(n)`` — quantified construction. Each spec
        item is an event type (one occurrence) or ``(event_type, n)``:
        exactly n occurrences, each within the per-stage window of the
        previous (Flink's relaxed contiguity inside ``times``). Fixed n
        expands to n plain steps, so the whole existing machinery — NFA,
        batch join chain, generated oracle — applies unchanged; the NFA's
        strict ts > ordering and highest-stage-first promotion already
        handle adjacent same-type steps (the `cep_pattern_repeat` tier).

        Step-indexed kwargs (``strict_steps``, ``optional_steps``,
        ``one_or_more``, ``step_min_value``, ``not_between``,
        ``not_next``) address the EXPANDED step list. When the spec
        actually expands (any ``(type, n)`` with n > 1) those indexes
        would silently shift against the caller's spec-relative
        intent, so ``of`` REJECTS them (ADVICE r07) — construct
        ``CepPattern`` directly with post-expansion indexes instead."""
        steps: list[str] = []
        expanded = False
        for item in spec:
            if isinstance(item, str):
                steps.append(item)
            else:
                etype, n = item
                if n < 1:
                    raise ValueError("times(n) needs n >= 1")
                if n > 1:
                    expanded = True
                steps.extend([etype] * n)
        step_indexed = {
            "strict_steps",
            "optional_steps",
            "one_or_more",
            "step_min_value",
            "not_between",
            "not_next",
            "rel_guards",
            "any_match_steps",
            "or_types",
            "group_reps",
        } & set(kw)
        if expanded and step_indexed:
            raise ValueError(
                f"of() expanded the spec (times n>1), which shifts step "
                f"indexes; pass {sorted(step_indexed)} by constructing "
                "CepPattern directly with post-expansion indexes"
            )
        return cls(steps=tuple(steps), within_minutes=within_minutes, **kw)

    def min_value(self, i: int) -> float | None:
        return self.step_min_value[i] if self.step_min_value else None

    @property
    def window_us(self) -> int:
        return self.within_minutes * 60 * 1_000_000

    @property
    def total_window_us(self) -> int | None:
        return (
            self.total_minutes * 60 * 1_000_000
            if self.total_minutes is not None
            else None
        )

    def ts_col(self, i: int) -> str:
        """Output column for stage i's timestamp (unique even when an
        event type appears at several steps)."""
        name = f"{self.steps[i]}_ts"
        return name if self.steps.count(self.steps[i]) == 1 else f"s{i + 1}_{name}"

    def val_col(self, i: int) -> str:
        """Output column for stage i's accepted event VALUE (only
        materialized for steps referenced by a rel_guard)."""
        name = f"{self.steps[i]}_value"
        return name if self.steps.count(self.steps[i]) == 1 else f"s{i + 1}_{name}"

    @property
    def referenced_steps(self) -> Tuple[int, ...]:
        """Steps whose accepted value some rel_guard references — the
        steps whose value column every compiled form must carry."""
        if self.rel_guards is None:
            return ()
        return tuple(sorted({g[0] for g in self.rel_guards if g is not None}))

    @property
    def anchor_col(self) -> str:
        return f"{self.steps[0]}_id"


# ---------------------------------------------------------------------------
# streaming NFA
# ---------------------------------------------------------------------------


def _make_processor(
    steps: Tuple[str, ...],
    window_us: int,
    mins: Tuple[float | None, ...] | None = None,
    emit_timeouts: bool = False,
    rep: int | None = None,
    optionals: frozenset[int] = frozenset(),
    min_reps: int = 1,
    max_reps: int | None = None,
    total_us: int | None = None,
    strict: frozenset[int] = frozenset(),
    skip_past_last: bool = False,
    not_between: Tuple[str | None, ...] | None = None,
    not_next: Tuple[str | None, ...] | None = None,
    rel_guards: Tuple[Tuple[int, float] | None, ...] | None = None,
    emit_vals: Tuple[int, ...] = (),
    any_match: frozenset[int] = frozenset(),
    alts: Tuple[Tuple[str, ...], ...] | None = None,
    skip_to: Tuple[str, int | None] | None = None,
    until: Tuple[str, float | None] | None = None,
    run_total: float | None = None,
    grp: Tuple[int, int] | None = None,
    reluctant: bool = False,
):
    """Build the NFA as a per-user fold for the key-group driver
    (``stateful._by_key_group``): the returned recurrence folds one
    user's ``(ts_ns, event_id, event_type, value)`` rows, on arrival
    and in (ts, event_id) order, onto its open partial matches and
    returns the output rows as tuples in its ``output`` column order.
    Partial matches are encoded in the user's one state field as
    'anchor_id:ts1,ts2,...|n_rep|pending|values' strings (stage =
    number of ts entries) — a single array<string> works for every
    pattern length, which is what makes the compiler general. The
    user's deadline, its event-time timer, is the latest partial's
    expiry; once the watermark passes it, the driver folds the user
    with no rows and every partial has expired.

    With ``emit_timeouts`` ([F] Flink's timed-out-pattern side output,
    ``PatternStream.select(timeoutTag, ...)``) every expired partial is
    EMITTED as a row carrying the stage prefix it reached plus
    ``matched=false`` (completed matches carry ``matched=true``) —
    both at the deadline and at inline window pruning.

    With ``rep`` ([F] Flink CEP ``oneOrMore()``, greedy single-match —
    see CepPattern.one_or_more) a partial that has matched through step
    ``rep`` is EXTENDED by each further event of that type arriving
    strictly later and within the window of the last accepted
    repetition: its ts slot slides to the new event, ``n_rep``
    increments, and the next stage's window is measured from the last
    repetition. ``min_reps`` ([F] ``timesOrMore(n)``) gates completion
    of the Kleene stage: a next-step event only promotes once the run
    holds >= min_reps repetitions (earlier ones are relaxed-contiguity
    ignored). Output rows carry the ``n_rep`` count.

    ``total_us`` ([F] pattern-global ``within``) bounds the whole match
    span anchor→now on top of the per-stage window.

    ``strict`` ([F] ``next()``): events are processed in equal-timestamp
    GROUPS; a partial waiting at a strict stage when a later-timestamp
    group ends unpromoted is marked with a pending-kill timestamp and
    silently discarded at the next strictly-later group (or silently at
    the deadline — a later event existed, so it is a contiguity violation,
    not a timeout). The deferral makes the verdict identical no matter
    how a same-timestamp group is split across micro-batches.

    ``skip_past_last`` ([F] ``AfterMatchSkipStrategy.skipPastLastEvent``):
    on completion, emit only the earliest-anchored match, drop every
    other open partial, and consume the completing event."""
    k = len(steps)
    mins = mins or (None,) * k
    nb = not_between or (None,) * k
    nn = not_next or (None,) * k
    rg = rel_guards or (None,) * k
    # [F] where().or(): each step admits a SET of types (membership
    # replaces equality; everything else — ordering, guards, windows —
    # is type-set-agnostic)
    tset = tuple(
        frozenset((steps[i],) + (alts[i] if alts else ())) for i in range(k)
    )
    # pend field semantics: None = idle; >= 0 = strict-contiguity kill
    # deadline (the first later group's ts); GUARD = a notNext guard is
    # armed and awaits the first strictly-later event; FROZEN = an [F]
    # until() stop event froze this run's Kleene extension (validation
    # keeps the three states disjoint: strict never marks the loop
    # stages, and until+notNext-on-the-loop is refused — so one int
    # slot carries all three and the state encoding is unchanged)
    GUARD = -2
    FROZEN = -3

    def _kv(vals, val):
        # with a run-aggregate guard the Kleene value slot carries the
        # running TOTAL (else the last value) — hoisted out of the
        # per-event hot loop
        if run_total is not None:
            if vals and vals[-1] is not None:
                return vals[:-1] + [vals[-1] + val]
            # fail CLOSED: the Kleene slot is always seeded with a
            # float/NaN, so a None here means prior repetitions' mass
            # was lost — an unknown total must never pass the >= bar
            # (NaN comparisons are False), not restart from this event
            return vals[:-1] + [float("nan")]
        return vals[:-1] + [val]

    # output rows are tuples in this column order
    counted = rep is not None or grp is not None
    output = ", ".join(
        ["user_id long", "anchor_id long"]
        + [f"ts{j + 1} timestamp" for j in range(k)]
        + [f"v{j + 1} double" for j in emit_vals]
        + (["n_rep int"] if counted else [])
        + (["matched boolean"] if emit_timeouts else [])
    )

    def _row(uid, aid, tss, matched, cnt, vals=()):
        tss = [
            None if t is None else pd.Timestamp(int(t), unit="us")
            for t in tss + [None] * (k - len(tss))
        ]
        row = (uid, aid, *tss, *(vals[j] if j < len(vals) else None for j in emit_vals))
        return row + ((cnt,) if counted else ()) + ((matched,) if emit_timeouts else ())

    def _expired(tss, now_us) -> bool:
        return now_us - tss[-1] > window_us or (
            total_us is not None and now_us - tss[0] > total_us
        )

    def _timeout_eligible(pend) -> bool:
        # strict pending-kill partials saw a later event that failed
        # contiguity: discarded, not timed out; an ARMED notNext guard
        # (GUARD) never saw a later event at all — vacuous pass, a
        # genuine timeout; a FROZEN run ([F] until / a reluctant prefix
        # copy) was still validly waiting to complete — also genuine
        return pend is None or pend in (GUARD, FROZEN)

    def _progress(p):
        # branch-progress order for the reluctant per-anchor timeout
        # collapse: deepest stage, then most repetitions, then latest
        # timestamps — the live head (or its furthest-promoted
        # descendant) always dominates its frozen prefix copies
        return (len(p[1]), p[2], [-1 if x is None else x for x in p[1]])

    def _collapse_anchor_timeouts(expired, alive_aids=frozenset()):
        # reluctant ([F] non-greedy oneOrMore) × timeout side-output:
        # one anchor holds MANY branches (frozen prefixes + the live
        # head). The timeout contract stays per-ANCHOR: emit exactly
        # one matched=false row — carrying the maximal-progress
        # branch — and only once the anchor's LAST branch has expired
        # (prefixes expire first, silently: the anchor is still live).
        best: dict[int, tuple] = {}
        for p in expired:
            if p[0] in alive_aids or not _timeout_eligible(p[3]):
                continue
            cur = best.get(p[0])
            if cur is None or _progress(p) > _progress(cur):
                best[p[0]] = p
        return [best[aid] for aid in sorted(best)]

    def _deadline(tss) -> int:
        d = tss[-1] + window_us
        if total_us is not None:
            d = min(d, tss[0] + total_us)
        return d

    def _decode(encoded):
        # skipped optional slots encode as -1 (timestamps are µs > 0);
        # accepted-event values ride a 4th segment (repr round-trips
        # doubles exactly; '' = no value, e.g. a skipped slot)
        partials: list[
            tuple[int, list[int | None], int, int | None, list[float | None]]
        ] = []
        for enc in encoded:
            parts = enc.split("|")
            aid, _, tss = parts[0].partition(":")
            cnt = int(parts[1]) if len(parts) > 1 and parts[1] else 0
            pend = int(parts[2]) if len(parts) > 2 and parts[2] else None
            stss = [None if x == "-1" else int(x) for x in tss.split(",")]
            vals = (
                [None if x == "" else float(x) for x in parts[3].split(",")]
                if len(parts) > 3 and parts[3]
                else [None] * len(stss)
            )
            partials.append((int(aid), stss, cnt, pend, vals))
        return partials

    def deadline(scalars) -> int:
        # the event-time timer (ns): once the watermark passes the
        # latest partial's expiry, every open partial has expired
        return 1000 * max(_deadline(p[1]) for p in _decode(scalars[0]))

    def fold(user: int, scalars, ready: list, cutoff):
        partials = _decode(scalars[0]) if scalars else []
        if not ready:  # folded for its deadline: every partial expired
            if not emit_timeouts:
                return None, []
            if reluctant:
                partials = _collapse_anchor_timeouts(partials)
            return None, [
                _row(user, aid, tss, False, cnt, vals)
                for aid, tss, cnt, pend, vals in partials
                if _timeout_eligible(pend)
            ]

        out: list[tuple] = []
        gi = 0
        while gi < len(ready):
            ts_us = ready[gi][0] // 1000
            gj = gi
            while gj < len(ready) and ready[gj][0] // 1000 == ts_us:
                gj += 1
            group, gi = ready[gi:gj], gj
            # group start: window/total expiry, then strict pending kills
            if emit_timeouts:
                expired_now = [p for p in partials if _expired(p[1], ts_us)]
                if reluctant:
                    expired_now = _collapse_anchor_timeouts(
                        expired_now,
                        alive_aids={
                            p[0]
                            for p in partials
                            if not _expired(p[1], ts_us)
                        },
                    )
                out.extend(
                    _row(user, aid, tss, False, cnt, vals)
                    for aid, tss, cnt, pend, vals in expired_now
                    if _timeout_eligible(pend)
                )
            partials = [
                p
                for p in partials
                if not _expired(p[1], ts_us)
                and not (p[3] is not None and p[3] >= 0 and p[3] < ts_us)
            ]
            for ts, eid, etype, val in group:
                # notNext: the first strictly-later event resolves an
                # armed guard — forbidden type kills, anything else
                # clears (before this event can promote anything)
                if not_next is not None:
                    resolved = []
                    for aid, tss, cnt, pend, vals in partials:
                        if pend == GUARD and ts_us > tss[-1]:
                            if etype == nn[len(tss) - 1]:
                                continue  # killed silently
                            pend = None
                        resolved.append((aid, tss, cnt, pend, vals))
                    partials = resolved
                # mid-pattern notFollowedBy: a forbidden-type event
                # strictly later than the last accepted stage KILLS the
                # partial waiting at the guarded stage — before any
                # promotion this event could make (its own stage's type
                # differs by validation, so no promotion is lost)
                if not_between is not None:
                    partials = [
                        p
                        for p in partials
                        if not (nb[len(p[1])] == etype and ts_us > p[1][-1])
                    ]
                # [F] until(): a stop event freezes every run currently
                # IN OR ENTERING the looping state — at the Kleene
                # stage (no more repetitions) AND waiting to take its
                # FIRST repetition (Flink: until guards acceptance INTO
                # the looping state, so a stop before any repetition
                # kills the run too — it can never satisfy oneOrMore's
                # >= 1 quota and expires as a genuine timeout). Applied
                # before this event could extend or promote anything
                # (the stop type is validation-disjoint from the
                # repeated type and the loop's effective successors,
                # so no acceptance is lost)
                if (
                    until is not None
                    and etype == until[0]
                    and (until[1] is None or val >= until[1])
                ):
                    # looping stages the stop freezes: the Kleene step
                    # and its successor (extension / completed-run),
                    # or — group × until (r10) — the whole group span
                    # plus the completed-repetition stage gj+1 (a
                    # frozen mid-repetition partial can never refill
                    # its slots and expires as a genuine timeout;
                    # completion OUT via the post-group step stays
                    # allowed, the exact Kleene analog)
                    loop_stages = (
                        tuple(range(grp[0], grp[1] + 2))
                        if grp is not None
                        else (rep, rep + 1)
                    )
                    partials = [
                        (aid, tss, cnt, FROZEN, vals)
                        if len(tss) in loop_stages
                        and ts_us > tss[-1]
                        and pend is None
                        else (aid, tss, cnt, pend, vals)
                        for aid, tss, cnt, pend, vals in partials
                    ]
                # Kleene extension first (stage rep+1 is the highest
                # stage this event type can touch); strict ts > means a
                # partial promoted below by this same event cannot also
                # be extended. A FROZEN run ([F] until) never extends.
                if (
                    rep is not None
                    and etype in tset[rep]
                    and (mins[rep] is None or val >= mins[rep])
                ):
                    # times(m, n) cap: a run already holding max_reps
                    # ignores further repetitions (relaxed contiguity).
                    # Reluctant mode ([F] non-greedy oneOrMore):
                    # extension ALSO keeps the pre-extension run as a
                    # FROZEN prefix branch — complete-or-expire only,
                    # never re-extend (re-extension would produce the
                    # followedByAny skip-combinations, not prefixes).
                    ext: list = []
                    for aid, tss, cnt, pend, vals in partials:
                        if (
                            len(tss) == rep + 1
                            and ts_us > tss[-1]
                            and pend != FROZEN
                            and (max_reps is None or cnt < max_reps)
                        ):
                            if reluctant:
                                ext.append((aid, tss, cnt, FROZEN, vals))
                            ext.append(
                                (
                                    aid,
                                    tss[:-1] + [ts_us],
                                    cnt + 1,
                                    pend,
                                    _kv(vals, val),
                                )
                            )
                        else:
                            ext.append((aid, tss, cnt, pend, vals))
                    partials = ext
                # [F] GroupPattern boundary restart: at a completed
                # repetition (len == gj+1), a group-start event strictly
                # later opens the NEXT repetition — slots gi..gj are
                # discarded (the emitted group columns hold the LAST
                # repetition) and tss[-1] == ts_us blocks this same
                # event from promoting the restarted partial below.
                # Mid-repetition group-start events fail the len check
                # and are relaxed-contiguity ignored (documented).
                if (
                    grp is not None
                    and etype in tset[grp[0]]
                    and (mins[grp[0]] is None or val >= mins[grp[0]])
                ):
                    gi_, gj_ = grp
                    g0 = rg[gi_]

                    def _restart_guard_ok(vals, _g0=g0, _val=val):
                        # group × rel_guards (r11): a guard ON the
                        # group-start step is enforced at restarts too
                        # (its ref is pre-group by validation, so the
                        # slot read here survives the truncation below
                        # verbatim); a failing event is a relaxed
                        # no-op, exactly the mins[gi] rule. Fail
                        # CLOSED on a missing ref slot.
                        if _g0 is None:
                            return True
                        rv = vals[_g0[0]] if _g0[0] < len(vals) else None
                        return rv is not None and _val >= _g0[1] * rv

                    # a FROZEN partial ([F] until stop on the group's
                    # looping state) never opens another repetition
                    partials = [
                        (aid, tss[:gi_] + [ts_us], cnt, pend, vals[:gi_] + [val])
                        if len(tss) == gj_ + 1
                        and ts_us > tss[-1]
                        and pend != FROZEN
                        and _restart_guard_ok(vals)
                        else (aid, tss, cnt, pend, vals)
                        for aid, tss, cnt, pend, vals in partials
                    ]
                # highest stage first: a partial promoted by this event
                # has already passed its new stage's turn, so one event
                # advances any partial at most one step (and strict ts >
                # blocks same-timestamp re-promotion for repeated-type
                # patterns).
                completed: list[
                    tuple[int, list[int | None], int, list[float | None]]
                ] = []
                for i in range(k - 1, 0, -1):
                    if etype not in tset[i] or (mins[i] is not None and val < mins[i]):
                        continue
                    # eligible stages: i itself, plus i-1 when step i-1
                    # is optional (first-event-wins: this event arriving
                    # before any step-(i-1) event skips the optional
                    # slot as NULL)
                    stages = {i} | ({i - 1} if i - 1 in optionals else set())

                    def hit(p, _stages=stages, _g=rg[i], _val=val, _i=i):
                        if len(p[1]) not in _stages or ts_us <= p[1][-1]:
                            return False
                        # until(): a FROZEN waiter accepts nothing INTO
                        # the looping state — its first repetition is
                        # refused (completion OUT of the loop, _i ==
                        # rep + 1, stays allowed); group × until: every
                        # in-group target gi..gj is refused, completion
                        # out via the post-group step stays allowed
                        if p[3] == FROZEN and rep is not None and _i == rep:
                            return False
                        if (
                            p[3] == FROZEN
                            and grp is not None
                            and grp[0] <= _i <= grp[1]
                        ):
                            return False
                        # IterativeCondition: the guard compares this
                        # event's value against THIS partial's accepted
                        # ref-step value, so one event may promote some
                        # partials and not others
                        if _g is not None:
                            ref_val = p[4][_g[0]] if _g[0] < len(p[4]) else None
                            if ref_val is None or _val < _g[1] * ref_val:
                                return False
                        # timesOrMore: a partial AT the Kleene stage may
                        # only leave it with >= min_reps accepted
                        # repetitions — gate on the partial's stage, not
                        # the target step, so an optional-skip promotion
                        # cannot bypass the quota
                        if (
                            rep is not None
                            and len(p[1]) == rep + 1
                            and p[2] < min_reps
                        ):
                            return False
                        # run-aggregate guard ([F] IterativeCondition over
                        # the loop's accepted events): the accumulated
                        # total must clear the bar — an early next-step
                        # event is a relaxed no-op, like min_reps
                        if (
                            run_total is not None
                            and rep is not None
                            and len(p[1]) == rep + 1
                        ):
                            tot = p[4][rep] if rep < len(p[4]) else None
                            # fail CLOSED on an unknown total: a NULL
                            # repetition value reaches here as NaN, and
                            # NaN >= bar is False — a run whose value
                            # mass is unknown cannot clear the bar
                            if tot is None or not (tot >= run_total):
                                return False
                        # group × run_min_total: completion OUT of the
                        # group gates on the accumulated per-repetition
                        # total riding the anchor value slot — an early
                        # post-group event is a relaxed no-op; same
                        # fail-closed NaN rule
                        if (
                            run_total is not None
                            and grp is not None
                            and len(p[1]) == grp[1] + 1
                            and _i == grp[1] + 1
                        ):
                            tot = p[4][0] if p[4] else None
                            if tot is None or not (tot >= run_total):
                                return False
                        return True

                    promoted = [p for p in partials if hit(p)]
                    if not promoted:
                        continue
                    # followedByAny: the promoting event spawns a branch
                    # but the waiting partial STAYS armed for later
                    # events (until its own window expires)
                    if i not in any_match:
                        partials = [p for p in partials if not hit(p)]
                    for aid, tss, cnt, _pend, vals in promoted:
                        ntss = tss + [None] * (i - len(tss)) + [ts_us]
                        nvals = vals + [None] * (i - len(vals)) + [val]
                        ncnt = 1 if rep is not None and i == rep else cnt
                        if grp is not None and i == grp[1]:
                            ncnt = cnt + 1
                            if run_total is not None:
                                # accumulate the repetition-completing
                                # step's value into the anchor slot —
                                # fail CLOSED (NaN) if the prior total
                                # was somehow lost, mirroring _kv
                                prior = nvals[0] if nvals else None
                                nvals[0] = (
                                    prior + val
                                    if prior is not None
                                    else float("nan")
                                )
                        if i == k - 1:
                            completed.append((aid, ntss, ncnt, nvals))
                        else:
                            # promotion clears any pending-kill marker;
                            # a notNext guard on the accepted stage arms
                            partials.append(
                                (
                                    aid,
                                    ntss,
                                    ncnt,
                                    GUARD if nn[i] is not None else None,
                                    nvals,
                                )
                            )
                if completed and skip_past_last:
                    win_aid = min(completed, key=lambda c: (c[1][0], c[0]))[0]
                    # reluctant: the winning (earliest) anchor's branches
                    # ALL complete at this event — every prefix emits
                    # (ascending prefix order), then the skip clears the
                    # key's state; greedy anchors have one branch, so the
                    # single-emission behavior is unchanged.
                    for aid, tss, cnt, vals in sorted(
                        (c for c in completed if c[0] == win_aid),
                        key=lambda c: [-1 if x is None else x for x in c[1]],
                    ):
                        out.append(_row(user, aid, tss, True, cnt, vals))
                    partials = []
                    continue  # the completing event is consumed: no anchor
                if completed and skip_to is not None:
                    # [F] skipToNext / skipToFirst / skipToLast: judge
                    # same-event completions in (anchor_ts, anchor_id,
                    # branch-creation) order; the completing event is
                    # NOT consumed, so fall through to anchoring.
                    mode, sj = skip_to
                    completed.sort(
                        key=lambda c: (
                            c[1][0],
                            c[0],
                            [-1 if x is None else x for x in c[1]],
                        )
                    )
                    if mode == "to_next":
                        emitted: set[int] = set()
                        for aid, tss, cnt, vals in completed:
                            if aid not in emitted:
                                out.append(
                                    _row(user, aid, tss, True, cnt, vals)
                                )
                                emitted.add(aid)
                        partials = [p for p in partials if p[0] not in emitted]
                    else:
                        bound = None
                        emitted_aids: set[int] = set()
                        for aid, tss, cnt, vals in completed:
                            if bound is not None and tss[0] < bound:
                                continue  # killed by an earlier emission
                            out.append(_row(user, aid, tss, True, cnt, vals))
                            emitted_aids.add(aid)
                            b = tss[sj]
                            bound = b if bound is None else max(bound, b)
                        if bound is not None:
                            partials = [
                                p for p in partials if p[1][0] >= bound
                            ]
                        if reluctant and not any_match:
                            # anchor-terminal completion composes with
                            # the boundary kill: a to_first[anchor]
                            # boundary TIES with the emitting anchor's
                            # own leftover branches (tss[0] == bound
                            # survives the strict < kill), but a
                            # matched reluctant anchor always leaves
                            # whole — same contract as the no-skip path
                            partials = [
                                p for p in partials if p[0] not in emitted_aids
                            ]
                    completed = []
                out.extend(
                    _row(user, aid, tss, True, cnt, vals)
                    for aid, tss, cnt, vals in completed
                )
                if completed and reluctant and not any_match:
                    # anchor-terminal completion: once ANY branch of an
                    # anchor emits, the whole anchor leaves — leftover
                    # frozen prefixes (under quota / under total) could
                    # never complete anyway, and a live head that was
                    # ineligible at this event dies WITH its emitting
                    # siblings (declared: completion is per-anchor, so
                    # a matched anchor never later produces a timeout
                    # row). An anchor that emitted NOTHING here keeps
                    # its head extending (the staggered-resolution
                    # semantics pinned by the run_min_total suite).
                    # followedByAny waiters stay armed by definition,
                    # so the removal skips any_match patterns.
                    done = {c[0] for c in completed}
                    partials = [p for p in partials if p[0] not in done]
                if etype in tset[0] and (mins[0] is None or val >= mins[0]):
                    partials.append(
                        (
                            int(eid),
                            [ts_us],
                            0,
                            GUARD if nn[0] is not None else None,
                            # group × run_min_total repurposes the
                            # anchor value slot as the running total
                            [
                                0.0
                                if run_total is not None and grp is not None
                                else float(val)
                            ],
                        )
                    )
            # group end: a strict-stage waiter that saw this (strictly
            # later) group pass without promoting it is marked; the kill
            # lands at the next later group so a same-timestamp group
            # split across micro-batches can still promote it.
            if strict:
                partials = [
                    (aid, tss, cnt, ts_us, vals)
                    if len(tss) in strict and tss[-1] < ts_us and pend is None
                    else (aid, tss, cnt, pend, vals)
                    for aid, tss, cnt, pend, vals in partials
                ]

        if not partials:
            return None, out
        encoded = [
            f"{aid}:"
            + ",".join("-1" if x is None else str(x) for x in tss)
            + f"|{cnt}|{'' if pend is None else pend}|"
            + ",".join("" if v is None else repr(v) for v in vals)
            for aid, tss, cnt, pend, vals in partials
        ]
        return (encoded,), out

    return _Recurrence(
        fold,
        (("partials", "array<string>"),),
        output,
        "append",
        (("event_type", "string"), ("value", "double")),
        deadline,
        on_arrival=True,
    )


def _stream_nfa(
    pattern: CepPattern, events: DataFrame, watermark: str, emit_timeouts: bool
) -> DataFrame:
    """Shared streaming compilation for both NFA entry points: one
    source selection (strict contiguity is judged against ALL key
    activity, so the type pre-filter must stay off for strict
    patterns), one processor wiring, one output projection — a new
    pattern feature flag is threaded through exactly once."""
    if emit_timeouts and pattern.any_match_steps:
        raise ValueError(
            "any_match patterns have no timeout side-output: a partial that "
            "already spawned branches is not a timeout, so the NFA and the "
            "left join chain cannot agree on the row set"
        )
    # after_match_skip / skip_past_last × timeout side-output COMPOSES
    # (r10): skip-killed partials (boundary kills, the past-last
    # clear-all, to_next same-anchor kills) are DISCARDS and emit
    # nothing; only window/total expiry produces matched=false rows —
    # and expiry is judged at group start, BEFORE any kill the same
    # group's completion could cause. Reference model + chunking
    # properties (all four strategies) + goldens in
    # tests/test_properties.py.
    # reluctant × timeout side-output COMPOSES (r10): the timeout
    # contract stays per-ANCHOR — prefix branches expire silently while
    # the anchor lives (the head outlives every prefix: its last-
    # accepted ts is the max), and only the last surviving branch's
    # expiry emits ONE matched=false row carrying the maximal-progress
    # branch; completion is anchor-terminal (once any branch emits, the
    # whole anchor leaves — a matched anchor never later times out).
    # Reference model + chunking property + goldens in
    # tests/test_properties.py.
    # group_reps × timeout side-output COMPOSES (r10, VERDICT r09 #3):
    # an expired group partial emits its stage prefix — slots gi..
    # onward hold the current (possibly partially refilled) repetition,
    # n_rep counts COMPLETED repetitions — with matched=false; group
    # partials are never silently discarded, so every non-completing
    # anchor yields exactly one timeout row. Reference model +
    # chunking-invariance property + goldens in tests/test_properties.py.
    k = len(pattern.steps)
    types = {
        t for i in range(k) for t in pattern.step_types(i)
    } | {x for x in (pattern.not_between or ()) if x is not None}
    if pattern.until_type is not None:  # stop events must reach the NFA
        types = types | {pattern.until_type}
    # notNext judges the immediately-next event of ANY type, so the
    # pre-filter must stay off when such a guard exists
    if pattern.not_next is not None and any(
        x is not None for x in pattern.not_next
    ):
        types = None
    src = (
        events
        if pattern.strict_steps or types is None
        else events.filter(F.col("event_type").isin(*types))
    )
    nfa = _by_key_group(
        src,
        watermark,
        _make_processor(
            pattern.steps,
            pattern.window_us,
            pattern.step_min_value,
            emit_timeouts=emit_timeouts,
            rep=pattern.one_or_more,
            optionals=frozenset(pattern.optional_steps),
            min_reps=pattern.min_reps,
            max_reps=pattern.max_reps,
            total_us=pattern.total_window_us,
            strict=frozenset(pattern.strict_steps),
            skip_past_last=pattern.skip_past_last,
            not_between=pattern.not_between,
            not_next=pattern.not_next,
            rel_guards=pattern.rel_guards,
            emit_vals=pattern.referenced_steps,
            any_match=frozenset(pattern.any_match_steps),
            alts=pattern.or_types,
            skip_to=pattern.after_match_skip,
            until=(
                (pattern.until_type, pattern.until_min_value)
                if pattern.until_type is not None
                else None
            ),
            run_total=pattern.run_min_total,
            grp=pattern.group_reps,
            reluctant=pattern.reluctant,
        ),
    )
    renames = [F.col("user_id"), F.col("anchor_id").alias(pattern.anchor_col)]
    renames += [F.col(f"ts{i + 1}").alias(pattern.ts_col(i)) for i in range(k)]
    renames += [
        F.col(f"v{j + 1}").alias(pattern.val_col(j))
        for j in pattern.referenced_steps
    ]
    if pattern.one_or_more is not None or pattern.group_reps is not None:
        renames += [F.col("n_rep")]
    if emit_timeouts:
        renames += [F.col("matched")]
    return nfa.select(*renames)


def compile_stream(
    pattern: CepPattern, events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Compile the pattern to a streaming NFA over keyed state. Output:
    (user_id, <anchor>_id, one timestamp column per stage)."""
    return _stream_nfa(pattern, events, watermark, emit_timeouts=False)


def compile_stream_timeouts(
    pattern: CepPattern, events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Compile the pattern to a streaming NFA that ALSO emits Flink's
    timed-out-pattern side output: completed matches carry
    ``matched=true`` with every stage timestamp; expired partials
    carry ``matched=false`` with the prefix they reached (later stages
    NULL). One tagged stream — split downstream with two filters (the
    repo's side-output convention, SURVEY §2.10)."""
    return _stream_nfa(pattern, events, watermark, emit_timeouts=True)


# ---------------------------------------------------------------------------
# batch shadow + oracle
# ---------------------------------------------------------------------------


def _stage_filter(pattern: CepPattern, events: DataFrame, i: int) -> DataFrame:
    """Events eligible for step i: type match + optional value guard.
    The ONE definition of stage eligibility — used for the anchor
    stage and (via _stage_events) every later stage."""
    si = events.filter(F.col("event_type").isin(*pattern.step_types(i)))
    if pattern.min_value(i) is not None:
        si = si.filter(F.col("value") >= pattern.min_value(i))
    return si


def _stage_events(
    pattern: CepPattern, events: DataFrame, i: int, with_value: bool = False
) -> DataFrame:
    cols = [F.col("user_id").alias("__u"), F.col("ts").alias("__ts")]
    if with_value:
        cols.append(F.col("value").alias("__v"))
    return _stage_filter(pattern, events, i).select(*cols)


def _min_join(
    cur, nxt, anchor_col, out_col, w, how, total_pred=None, rel_pred=None, val_out=None
):
    """One chain stage: first strictly-later candidate within the
    window of ``anchor_col``, as a keyed join + MIN aggregation. A NULL
    anchor (earlier stage missed, left chains) propagates NULL.
    ``total_pred`` ([F] pattern-global within) additionally bounds the
    candidate against the ANCHOR stage's timestamp. ``rel_pred`` ([F]
    IterativeCondition) further gates candidates against a carried
    prior-stage value column; ``val_out`` carries THIS stage's accepted
    value (MIN_BY over the same candidate set — the argmin event's
    value, NULL-tie class identical to MIN(ts)) for later guards."""
    cond = (
        (F.col("user_id") == F.col("__u"))
        & (F.col("__ts") > F.col(anchor_col))
        & (F.col("__ts") <= F.col(anchor_col) + F.expr(w))
    )
    if total_pred is not None:
        cond = cond & total_pred
    if rel_pred is not None:
        cond = cond & rel_pred
    aggs = [F.min("__ts").alias(out_col)]
    if val_out is not None:
        aggs.append(F.min_by("__v", "__ts").alias(val_out))
    return cur.join(nxt, cond, how).groupBy(*[c for c in cur.columns]).agg(*aggs)


def _strict_join(pattern: CepPattern, cur, events: DataFrame, i: int, w, total_pred):
    """One STRICT ([F] ``next()``) chain stage: among ALL events (any
    type) strictly after stage i-1 within the window(s), take the
    earliest timestamp; the stage matches iff some event at that exact
    timestamp has step i's type and passes its guard — otherwise the
    row is a contiguity violation and is dropped (both chains; the NFA
    discards it silently too, so timeout outputs agree). Rows with NO
    candidate event keep NULL: a true timeout."""
    all_ev = events.select(
        F.col("user_id").alias("__u"),
        F.col("ts").alias("__ts"),
        F.col("event_type").alias("__et"),
        F.col("value").alias("__v"),
    )
    prev_ts = pattern.ts_col(i - 1)
    cond = (
        (F.col("user_id") == F.col("__u"))
        & (F.col("__ts") > F.col(prev_ts))
        & (F.col("__ts") <= F.col(prev_ts) + F.expr(w))
    )
    if total_pred is not None:
        cond = cond & total_pred
    hit = F.col("__et").isin(*pattern.step_types(i))
    if pattern.min_value(i) is not None:
        hit = hit & (F.col("__v") >= pattern.min_value(i))
    return (
        cur.join(all_ev, cond, "left")
        .groupBy(*cur.columns)
        .agg(
            F.min("__ts").alias("__next"),
            F.min(F.when(hit, F.col("__ts"))).alias("__hit"),
        )
        .filter(F.col("__next").isNull() | (F.col("__hit") == F.col("__next")))
        .withColumn(pattern.ts_col(i), F.col("__hit"))
        .drop("__next", "__hit")
    )


def _not_between_join(
    pattern: CepPattern, cur, events: DataFrame, i: int, w, total_pred, left: bool
):
    """One mid-pattern-notFollowedBy stage ([F]): join the band over
    BOTH the promoter type and the forbidden type, take each MIN, and
    promote only when the promoter lands strictly before the first
    forbidden event (exact cross-type ties kill here, resolve by
    event_id in the NFA — the documented optional()-class tie delta).
    A row with a forbidden event but no earlier promoter is a KILLED
    partial and is dropped from BOTH chains (the NFA kills silently —
    never a timeout); rows with neither stay NULL in the left chain:
    true timeouts."""
    forb = pattern.not_between[i]
    ev2 = events.filter(
        F.col("event_type").isin(*pattern.step_types(i), forb)
    ).select(
        F.col("user_id").alias("__u"),
        F.col("ts").alias("__ts"),
        F.col("event_type").alias("__et"),
        F.col("value").alias("__v"),
    )
    prev_ts = pattern.ts_col(i - 1)
    cond = (
        (F.col("user_id") == F.col("__u"))
        & (F.col("__ts") > F.col(prev_ts))
        & (F.col("__ts") <= F.col(prev_ts) + F.expr(w))
    )
    if total_pred is not None:
        cond = cond & total_pred
    hit = F.col("__et").isin(*pattern.step_types(i))
    if pattern.min_value(i) is not None:
        hit = hit & (F.col("__v") >= pattern.min_value(i))
    grouped = (
        cur.join(ev2, cond, "left")
        .groupBy(*cur.columns)
        .agg(
            F.min(F.when(hit, F.col("__ts"))).alias("__hit"),
            F.min(
                F.when(F.col("__et") == forb, F.col("__ts"))
            ).alias("__forb"),
        )
    )
    promoted = F.col("__hit").isNotNull() & (
        F.col("__forb").isNull() | (F.col("__hit") < F.col("__forb"))
    )
    keep = (
        # left chain: drop killed rows, keep promoted and true timeouts
        F.col("__forb").isNull() | promoted
        if left
        else promoted
    )
    return (
        grouped.filter(keep)
        .withColumn(pattern.ts_col(i), F.when(promoted, F.col("__hit")))
        .drop("__hit", "__forb")
    )


def _not_next_guard(pattern: CepPattern, cur, events: DataFrame, i: int, w, total_pred):
    """[F] ``notNext`` guard applied after stage i is computed: among
    ALL events strictly after stage i's timestamp within the window
    band, the earliest must not carry the forbidden type — kill iff a
    forbidden event sits at the first later timestamp (the negated
    twin of ``_strict_join``'s comparison). Rows with NO later event
    keep: the guard passes vacuously and the partial times out as
    usual, in both chains."""
    forb = pattern.not_next[i]
    all_ev = events.select(
        F.col("user_id").alias("__u"),
        F.col("ts").alias("__ts"),
        F.col("event_type").alias("__et"),
    )
    anchor = pattern.ts_col(i)
    cond = (
        (F.col("user_id") == F.col("__u"))
        & (F.col("__ts") > F.col(anchor))
        & (F.col("__ts") <= F.col(anchor) + F.expr(w))
    )
    if total_pred is not None:
        cond = cond & total_pred
    return (
        cur.join(all_ev, cond, "left")
        .groupBy(*cur.columns)
        .agg(
            F.min("__ts").alias("__gnext"),
            F.min(
                F.when(F.col("__et") == forb, F.col("__ts"))
            ).alias("__gforb"),
        )
        .filter(
            F.col("__gnext").isNull()
            | F.col("__gforb").isNull()
            | (F.col("__gforb") > F.col("__gnext"))
        )
        .drop("__gnext", "__gforb")
    )


def _any_join(pattern: CepPattern, cur, events: DataFrame, i: int, w, total_pred):
    """One ANY-MATCH ([F] ``followedByAny``) chain stage: the band join
    WITHOUT the MIN collapse — every eligible event within the window
    survives as its own branch row. rel_guards compose (the guard
    predicate filters the branch set); a referenced any-match stage
    carries the branch event's own value (no argmin needed — the
    branch IS the event). Each branch row also carries its event's id
    (``__br{i}``, dropped at the end of ``_chain``), so two branch
    events at the same timestamp stay two rows through the later
    stages' GROUP BY, as they stay two branches in the NFA."""
    referenced = set(pattern.referenced_steps)
    rel = pattern.rel_guards[i] if pattern.rel_guards is not None else None
    cols = [
        F.col("user_id").alias("__u"),
        F.col("ts").alias("__ts"),
        F.col("event_id").alias(f"__br{i}"),
    ]
    if i in referenced or rel is not None:
        cols.append(F.col("value").alias("__v"))
    nxt = _stage_filter(pattern, events, i).select(*cols)
    prev_ts = pattern.ts_col(i - 1)
    cond = (
        (F.col("user_id") == F.col("__u"))
        & (F.col("__ts") > F.col(prev_ts))
        & (F.col("__ts") <= F.col(prev_ts) + F.expr(w))
    )
    if total_pred is not None:
        cond = cond & total_pred
    if rel is not None:
        cond = cond & (
            F.col("__v") >= F.lit(rel[1]) * F.col(pattern.val_col(rel[0]))
        )
    sel = [F.col(c) for c in cur.columns] + [
        F.col("__ts").alias(pattern.ts_col(i)),
        F.col(f"__br{i}"),
    ]
    if i in referenced:
        sel.append(F.col("__v").alias(pattern.val_col(i)))
    return cur.join(nxt, cond, "inner").select(*sel)


def _chain(pattern: CepPattern, events: DataFrame, left: bool) -> DataFrame:
    """Shared join-chain builder. Mandatory stages join inner (matched
    chain) or left (timeout chain); an OPTIONAL stage is compiled as a
    pair with its successor — three left MIN-joins plus the
    first-event-wins decision:

        b  = first optional-step event within the window of prev
        cd = first next-step event within the window of prev (skip path)
        ca = first next-step event within the window of b     (take path)
        skip ⇔ b IS NULL OR cd < b
        ts_optional = NULL if skip else b
        ts_next     = cd   if skip else ca

    Exact cross-type timestamp TIES between b and cd resolve to the
    take path here (cd < b is strict) while the NFA resolves them by
    event_id order — divergence only on exact ties, which the µs
    fixture never produces (checked: zero same-user same-ts multi-type
    groups)."""
    w = f"INTERVAL {pattern.within_minutes} MINUTES"
    base_how = "left" if left else "inner"
    referenced = set(pattern.referenced_steps)
    anchor_cols = [
        F.col("user_id"),
        F.col("event_id").alias(pattern.anchor_col),
        F.col("ts").alias(pattern.ts_col(0)),
    ]
    if 0 in referenced:
        anchor_cols.append(F.col("value").alias(pattern.val_col(0)))
    cur = _stage_filter(pattern, events, 0).select(*anchor_cols)
    total_pred = (
        F.col("__ts")
        <= F.col(pattern.ts_col(0)) + F.expr(f"INTERVAL {pattern.total_minutes} MINUTES")
        if pattern.total_minutes is not None
        else None
    )
    def guard(cur, j):
        if pattern.not_next is not None and pattern.not_next[j] is not None:
            return _not_next_guard(pattern, cur, events, j, w, total_pred)
        return cur

    cur = guard(cur, 0)
    if left and pattern.any_match_steps:
        raise ValueError(
            "any_match patterns have no timeout side-output (left chain): a "
            "partial that already spawned branches is not a timeout"
        )
    i, k = 1, len(pattern.steps)
    while i < k:
        if i in pattern.any_match_steps:
            # notNext on an any-match stage applies PER BRANCH ROW
            # (each branch carries its own ts_col(i), so the
            # first-any vs first-forbidden MIN guard judges each
            # branch's own neighborhood) — r11 composition
            cur = guard(_any_join(pattern, cur, events, i, w, total_pred), i)
            i += 1
        elif i in pattern.strict_steps:
            cur = guard(_strict_join(pattern, cur, events, i, w, total_pred), i)
            i += 1
        elif pattern.not_between is not None and pattern.not_between[i] is not None:
            cur = guard(
                _not_between_join(pattern, cur, events, i, w, total_pred, left), i
            )
            i += 1
        elif i in pattern.optional_steps:
            o, m = i, i + 1
            prev = pattern.ts_col(o - 1)
            cur = _min_join(cur, _stage_events(pattern, events, o), prev, "__b", w, "left", total_pred)
            cur = _min_join(cur, _stage_events(pattern, events, m), prev, "__cd", w, "left", total_pred)
            cur = _min_join(cur, _stage_events(pattern, events, m), "__b", "__ca", w, "left", total_pred)
            skip = F.col("__b").isNull() | (
                F.col("__cd").isNotNull() & (F.col("__cd") < F.col("__b"))
            )
            cur = (
                cur.withColumn(pattern.ts_col(o), F.when(~skip, F.col("__b")))
                .withColumn(
                    pattern.ts_col(m),
                    F.when(skip, F.col("__cd")).otherwise(F.col("__ca")),
                )
                .drop("__b", "__cd", "__ca")
            )
            i += 2
        else:
            rel = (
                pattern.rel_guards[i]
                if pattern.rel_guards is not None
                else None
            )
            need_v = i in referenced or rel is not None
            rel_pred = (
                F.col("__v") >= F.lit(rel[1]) * F.col(pattern.val_col(rel[0]))
                if rel is not None
                else None
            )
            cur = guard(
                _min_join(
                    cur,
                    _stage_events(pattern, events, i, with_value=need_v),
                    pattern.ts_col(i - 1),
                    pattern.ts_col(i),
                    w,
                    base_how,
                    total_pred,
                    rel_pred=rel_pred,
                    val_out=pattern.val_col(i) if i in referenced else None,
                ),
                i,
            )
            i += 1
    return cur.drop(*(f"__br{s}" for s in pattern.any_match_steps))


def compile_batch(pattern: CepPattern, events: DataFrame) -> DataFrame:
    """Compile the pattern to the batch join chain: stage-1 events
    anchored by event_id, each later stage joined on user_id + strict
    time band and reduced to MIN(ts) — 'first strictly-later within
    window', identical to the NFA. All joins shuffle on user_id, so the
    exchange is reused down the chain (one partitioning, k-1 joins).
    Optional steps compile to the three-join pair of ``_chain``; a
    match then requires every MANDATORY stage present. Strict stages
    ([F] next()) compile to ``_strict_join`` and likewise require the
    stage present."""
    if pattern.one_or_more is not None or pattern.group_reps is not None:
        raise ValueError(
            "one_or_more / group_reps patterns have no join-chain shadow "
            "(variable-length runs); use compile_stream / "
            "compile_stream_timeouts — semantics are pinned by the "
            "reference-model tests"
        )
    if pattern.skip_past_last or pattern.after_match_skip is not None:
        raise ValueError(
            "AfterMatchSkipStrategy (skip_past_last / after_match_skip) is a "
            "greedy sequential selection with no join-chain shadow; use "
            "compile_stream — semantics are pinned by the reference-model "
            "tests"
        )
    cur = _chain(pattern, events, left=False)
    # the pair's mandatory successor joins LEFT inside _chain; require
    # it present for a match (all other mandatory stages join inner);
    # strict stages join LEFT too (to tell timeout from violation) and
    # must equally be present
    for o in pattern.optional_steps:
        cur = cur.filter(F.col(pattern.ts_col(o + 1)).isNotNull())
    for s in pattern.strict_steps:
        cur = cur.filter(F.col(pattern.ts_col(s)).isNotNull())
    return cur


def compile_batch_timeouts(pattern: CepPattern, events: DataFrame) -> DataFrame:
    """Batch shadow of ``compile_stream_timeouts``: the same join
    chain as ``compile_batch`` with every stage join turned LEFT, so
    an anchor that never finds its next stage within the window keeps
    NULLs from that stage on — exactly the prefix the NFA emits when
    the partial expires. ``matched`` = final stage present (the final
    step is never optional by validation). A STRICT stage violation
    (next event existed but mismatched) drops the row entirely — the
    NFA discards those silently too, so the timeout outputs agree.
    Same one user_id exchange reused down the chain."""
    if pattern.one_or_more is not None or pattern.group_reps is not None:
        raise ValueError(
            "one_or_more / group_reps patterns have no join-chain shadow "
            "(variable-length runs); use compile_stream / "
            "compile_stream_timeouts — semantics are pinned by the "
            "reference-model tests"
        )
    if pattern.skip_past_last or pattern.after_match_skip is not None:
        raise ValueError(
            "AfterMatchSkipStrategy (skip_past_last / after_match_skip) is a "
            "greedy sequential selection with no join-chain shadow; use "
            "compile_stream — semantics are pinned by the reference-model "
            "tests"
        )
    cur = _chain(pattern, events, left=True)
    last_ts = pattern.ts_col(len(pattern.steps) - 1)
    return cur.withColumn("matched", F.col(last_ts).isNotNull())


def _absence_filter(pattern: CepPattern, timeouts: DataFrame) -> DataFrame:
    """Restrict a timeout chain to decided absences: unmatched partials
    whose last MANDATORY stage before the final is present (an optional
    slot may be NULL via the skip path and still be a real absence)."""
    k = len(pattern.steps)
    j = k - 2
    while j in pattern.optional_steps:
        j -= 1  # validation guarantees a mandatory anchor stage exists
    last_ts = pattern.ts_col(k - 1)
    return timeouts.filter(
        (~F.col("matched")) & F.col(pattern.ts_col(j)).isNotNull()
    ).drop(last_ts, "matched")


def compile_batch_absence(pattern: CepPattern, events: DataFrame) -> DataFrame:
    """[F] Flink CEP's terminal ``notFollowedBy`` step
    (``Pattern.begin(A)...followedBy(B).notFollowedBy(C).within(t)``):
    emit the A..B prefix only when NO C arrives within the window of B
    — absence detection (cart abandonment, churn signals, missed-SLA
    alerts). Compiled as a pure derivation of the timeout machinery:
    the timed-out-pattern output restricted to partials that completed
    every positive stage and expired waiting for the negated final
    step. "Completed every positive stage" anchors on the last
    MANDATORY stage before the final — an optional step k-2 may be
    legitimately NULL in a genuine absence (the partial was awaiting
    the final step directly via the skip path), so filtering on it
    would silently drop those matches. One LEFT-join chain, same
    single user_id exchange."""
    to = compile_batch_timeouts(pattern, events)
    return _absence_filter(pattern, to)


def compile_stream_absence(
    pattern: CepPattern, events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming twin of ``compile_batch_absence``: the NFA's
    timed-out-pattern side output filtered to full positive prefixes.
    Emission is inherently deferred — a row can only appear once the
    event-time timer proves no negated event arrived within the
    window, exactly Flink's ``notFollowedBy``-with-``within`` rule
    (absence is undecidable before the window closes)."""
    to = compile_stream_timeouts(pattern, events, watermark)
    return _absence_filter(pattern, to)


def _oracle_chain(pattern: CepPattern, left: bool) -> str:
    """Shared DuckDB CTE-chain generator (``left`` selects the timeout
    variant). Mirrors ``_chain`` stage for stage: mandatory stages are
    MIN joins, strict stages compare the first any-type event against
    the first type-matching one ([F] next()), and the pattern-global
    total window ([F] Pattern#within) bounds every stage against the
    anchor timestamp."""
    if pattern.one_or_more is not None or pattern.group_reps is not None:
        raise ValueError(
            "one_or_more / group_reps patterns have no join-chain shadow "
            "(variable-length runs); use compile_stream / "
            "compile_stream_timeouts — semantics are pinned by the "
            "reference-model tests"
        )
    if pattern.optional_steps:
        raise ValueError(
            "optional patterns have no generated oracle; semantics are pinned "
            "by the batch-shadow and reference-model tests"
        )
    if pattern.skip_past_last or pattern.after_match_skip is not None:
        raise ValueError(
            "AfterMatchSkipStrategy (skip_past_last / after_match_skip) is a "
            "greedy sequential selection with no join-chain shadow; use "
            "compile_stream — semantics are pinned by the reference-model "
            "tests"
        )
    if left and pattern.any_match_steps:
        raise ValueError(
            "any_match patterns have no timeout side-output (left chain): a "
            "partial that already spawned branches is not a timeout"
        )
    w = f"INTERVAL {pattern.within_minutes} MINUTE"
    anchor, ts0 = pattern.anchor_col, pattern.ts_col(0)
    how = "LEFT JOIN" if left else "JOIN"

    def tl(i: int) -> str:
        """Type predicate for step i: equality, or an IN list when the
        step carries OR types ([F] where().or())."""
        ts = pattern.step_types(i)
        if len(ts) == 1:
            return f"= '{ts[0]}'"
        return "IN (" + ", ".join(f"'{x}'" for x in ts) + ")"

    guard0 = (
        f" AND value >= {pattern.min_value(0)}"
        if pattern.min_value(0) is not None
        else ""
    )
    referenced = set(pattern.referenced_steps)
    val0 = (
        f", value AS {pattern.val_col(0)}" if 0 in referenced else ""
    )
    sql = (
        f"WITH s1 AS (SELECT user_id, event_id AS {anchor}, ts AS {ts0}{val0} "
        f"FROM events WHERE event_type {tl(0)}{guard0})"
    )
    prev = "s1"
    cols = [f"{anchor}", f"{ts0}"]
    if 0 in referenced:
        cols.append(pattern.val_col(0))

    def not_next_cte(sql, prev, cols, i):
        """[F] notNext guard CTE after stage i: keep iff no forbidden
        event sits at the earliest strictly-later timestamp in the
        stage-window band (vacuously kept when no later event)."""
        forb = pattern.not_next[i]
        ts_i = pattern.ts_col(i)
        qcols = ", ".join([f"{prev}.user_id"] + [f"{prev}.{c}" for c in cols])
        total = (
            f"AND e.ts <= {prev}.{ts0} + INTERVAL {pattern.total_minutes} MINUTE "
            if pattern.total_minutes is not None
            else ""
        )
        name = f"{prev}g"
        sql += (
            f", {name} AS (SELECT user_id, {', '.join(cols)} FROM ("
            f"SELECT {qcols}, MIN(e.ts) AS __gnext, "
            f"MIN(CASE WHEN e.event_type = '{forb}' THEN e.ts END) AS __gforb "
            f"FROM {prev} LEFT JOIN events e ON e.user_id = {prev}.user_id "
            f"AND e.ts > {prev}.{ts_i} AND e.ts <= {prev}.{ts_i} + {w} "
            f"{total}GROUP BY {qcols}) t "
            f"WHERE __gnext IS NULL OR __gforb IS NULL OR __gforb > __gnext)"
        )
        return sql, name

    if pattern.not_next is not None and pattern.not_next[0] is not None:
        sql, prev = not_next_cte(sql, prev, cols, 0)
    for i in range(1, len(pattern.steps)):
        prev_ts, this_ts = pattern.ts_col(i - 1), pattern.ts_col(i)
        qcols = ", ".join([f"{prev}.user_id"] + [f"{prev}.{c}" for c in cols])
        guard = (
            f"AND e.value >= {pattern.min_value(i)} "
            if pattern.min_value(i) is not None
            else ""
        )
        total = (
            f"AND e.ts <= {prev}.{ts0} + INTERVAL {pattern.total_minutes} MINUTE "
            if pattern.total_minutes is not None
            else ""
        )
        if i in pattern.any_match_steps:
            rel = (
                pattern.rel_guards[i] if pattern.rel_guards is not None else None
            )
            relg = (
                f"AND e.value >= {rel[1]} * {prev}.{pattern.val_col(rel[0])} "
                if rel is not None
                else ""
            )
            valsel = (
                f", e.value AS {pattern.val_col(i)}" if i in referenced else ""
            )
            # the band join WITHOUT the MIN collapse: every candidate
            # is its own branch row ([F] followedByAny), carrying its
            # event id so same-timestamp branches stay apart through
            # the later GROUP BYs
            sql += (
                f", s{i + 1} AS (SELECT {qcols}, e.ts AS {this_ts}{valsel}, "
                f"e.event_id AS __br{i} "
                f"FROM {prev} JOIN events e ON e.user_id = {prev}.user_id "
                f"AND e.event_type {tl(i)} {guard}{relg}"
                f"AND e.ts > {prev}.{prev_ts} AND e.ts <= {prev}.{prev_ts} + {w} "
                f"{total})"
            )
        elif i in pattern.strict_steps:
            keep = "__next IS NULL OR __hit = __next" if left else "__hit = __next"
            sql += (
                f", s{i + 1} AS (SELECT user_id, {', '.join(cols)}, "
                f"__hit AS {this_ts} FROM ("
                f"SELECT {qcols}, MIN(e.ts) AS __next, "
                f"MIN(CASE WHEN e.event_type {tl(i)} "
                f"{guard}THEN e.ts END) AS __hit "
                f"FROM {prev} LEFT JOIN events e ON e.user_id = {prev}.user_id "
                f"AND e.ts > {prev}.{prev_ts} AND e.ts <= {prev}.{prev_ts} + {w} "
                f"{total}GROUP BY {qcols}) t WHERE {keep})"
            )
        elif pattern.not_between is not None and pattern.not_between[i] is not None:
            forb = pattern.not_between[i]
            promoted = "__hit IS NOT NULL AND (__forb IS NULL OR __hit < __forb)"
            keep = f"__forb IS NULL OR ({promoted})" if left else promoted
            sql += (
                f", s{i + 1} AS (SELECT user_id, {', '.join(cols)}, "
                f"CASE WHEN {promoted} THEN __hit END AS {this_ts} FROM ("
                f"SELECT {qcols}, "
                f"MIN(CASE WHEN e.event_type {tl(i)} "
                f"{guard}THEN e.ts END) AS __hit, "
                f"MIN(CASE WHEN e.event_type = '{forb}' THEN e.ts END) AS __forb "
                f"FROM {prev} LEFT JOIN events e ON e.user_id = {prev}.user_id "
                f"AND (e.event_type {tl(i)} OR e.event_type = '{forb}') "
                f"AND e.ts > {prev}.{prev_ts} AND e.ts <= {prev}.{prev_ts} + {w} "
                f"{total}GROUP BY {qcols}) t WHERE {keep})"
            )
        else:
            rel = (
                pattern.rel_guards[i] if pattern.rel_guards is not None else None
            )
            relg = (
                f"AND e.value >= {rel[1]} * {prev}.{pattern.val_col(rel[0])} "
                if rel is not None
                else ""
            )
            valsel = (
                f", ARG_MIN(e.value, e.ts) AS {pattern.val_col(i)}"
                if i in referenced
                else ""
            )
            sql += (
                f", s{i + 1} AS (SELECT {qcols}, MIN(e.ts) AS {this_ts}{valsel} "
                f"FROM {prev} {how} events e ON e.user_id = {prev}.user_id "
                f"AND e.event_type {tl(i)} {guard}{relg}"
                f"AND e.ts > {prev}.{prev_ts} AND e.ts <= {prev}.{prev_ts} + {w} "
                f"{total}GROUP BY {qcols})"
            )
        prev = f"s{i + 1}"
        cols.append(this_ts)
        if i in referenced:
            cols.append(pattern.val_col(i))
        if i in pattern.any_match_steps:
            cols.append(f"__br{i}")
        if pattern.not_next is not None and pattern.not_next[i] is not None:
            sql, prev = not_next_cte(sql, prev, cols, i)
    if left:
        last_ts = pattern.ts_col(len(pattern.steps) - 1)
        return (
            f"{sql} SELECT user_id, {', '.join(cols)}, "
            f"({last_ts} IS NOT NULL) AS matched FROM {prev}"
        )
    strict_keep = "".join(
        f" AND {pattern.ts_col(s)} IS NOT NULL" for s in pattern.strict_steps
    )
    where = f" WHERE TRUE{strict_keep}" if strict_keep else ""
    out = [c for c in cols if not c.startswith("__br")]
    return f"{sql} SELECT user_id, {', '.join(out)} FROM {prev}{where}"


def oracle_sql_timeouts(pattern: CepPattern) -> str:
    """DuckDB equivalent of ``compile_batch_timeouts`` (LEFT JOIN CTE
    chain; ``matched`` = final stage IS NOT NULL; strict-contiguity
    violations dropped, true timeouts kept with NULLs)."""
    return _oracle_chain(pattern, left=True)


def oracle_sql(pattern: CepPattern) -> str:
    """DuckDB SQL equivalent of ``compile_batch`` (CTE chain, one MIN
    aggregation per stage) for the driver's correctness gate."""
    return _oracle_chain(pattern, left=False)


# The graded 4-step instance (queries/round6.py::cep4_pattern_batch +
# tests/test_streaming.py golden twin): the full acquisition funnel.
# 12 h per stage: complete 4-step funnels are rare in the fixture —
# this width keeps every SF non-vacuous (1 / 16 / 168 matches at
# sf0.001 / 0.01 / 0.1) without flooding the state store.
FUNNEL4 = CepPattern(steps=("signup", "view", "click", "purchase"), within_minutes=720)

# The guarded instance (queries/round6.py::cep_pattern_guarded + golden
# twin): view -> click -> HIGH-VALUE purchase (>= 100), 24 h per stage
# — Flink CEP's .where() condition tier. 1 / 37 / 354 matches at
# sf0.001 / 0.01 / 0.1.
GUARDED3 = CepPattern(
    steps=("view", "click", "purchase"),
    within_minutes=1440,
    step_min_value=(None, None, 100.0),
)

# The repeated-type instance (queries/round6.py::cep_pattern_repeat +
# golden twin): view followedBy view within 1 h — one event type at
# two steps exercises the highest-stage-first promotion order and the
# stage-prefixed output naming. 1 / 41 matches at sf0.001 / 0.01.
REPEAT2 = CepPattern(steps=("view", "view"), within_minutes=60)

# The absence instance (compile_*_absence + golden twin): view ->
# click NOT followed by purchase within 12 h — cart abandonment, the
# canonical `notFollowedBy` report.
ABSENCE3 = CepPattern(steps=("view", "click", "purchase"), within_minutes=720)

# The Kleene instance (compile_stream only + reference-model tests):
# view, then click oneOrMore (each within 12 h of the last), then
# purchase within 12 h of the last click — engagement-run funnels with
# the run length reported as n_rep.
ONEPLUS3 = CepPattern(steps=("view", "click", "purchase"), within_minutes=720, one_or_more=1)

# The [F] GroupPattern instance: signup, then one or more complete
# (view click) browsing loops, then purchase — "(view click)+" as a
# repeating unit. NFA-only; semantics pinned by the _group_sim
# reference model and the replay golden.
GROUP4 = CepPattern(
    steps=("signup", "view", "click", "purchase"),
    # 48 h stages: the 4-step group chain is long, and the sf0.001
    # fixture only produces multi-repetition runs at this horizon
    # (26 matches / 7 multi-rep — both classes non-vacuous)
    within_minutes=2880,
    group_reps=(1, 2),
)

# The [F] run-aggregate-guard instance: the same Kleene funnel, but
# completion requires the click run's VALUES to total >= 60 — the
# "engagement mass, then purchase" shape ([F] IterativeCondition over
# ctx.getEventsForPattern). NFA-only; semantics pinned by the
# _runtotal_sim reference model and the replay golden.
RUNTOTAL3 = CepPattern(
    steps=("view", "click", "purchase"),
    within_minutes=720,
    one_or_more=1,
    run_min_total=60.0,
)

# The [F] oneOrMore().until(stop) instance: the same Kleene funnel, but
# an ERROR event freezes the click run — the "session broke, stop
# counting engagement" shape. NFA-only (Kleene); semantics pinned by
# the _until_sim reference model (tests/test_properties.py) and the
# replay golden (tests/test_streaming.py).
UNTIL3 = CepPattern(
    steps=("view", "click", "purchase"),
    within_minutes=720,
    one_or_more=1,
    until_type="error",
)

# The optional instance (NFA + batch shadow + reference-model tests):
# signup, optionally a browsing view, then purchase — 12 h per stage.
# Completions report view_ts NULL when the purchase came first.
OPT3 = CepPattern(
    steps=("signup", "view", "purchase"), within_minutes=720, optional_steps=(1,)
)

# The times(n) instance (queries/round7.py::cep_pattern_times + golden
# twin): view, click times(2), purchase — [F] Pattern#times expands to
# fixed adjacent same-type steps, fully join-expressible.
TIMES3 = CepPattern.of(
    ["view", ("click", 2), "purchase"], within_minutes=720
)

# The pattern-global-within instance (queries/round7.py::
# cep_pattern_within_total + golden twin): view→click→purchase with
# 24 h per stage but the WHOLE match bounded to 36 h — [F]
# Pattern#within. Strictly tighter than the per-stage-only 48 h max
# span, and demonstrably different on the fixture at BOTH test scale
# factors (27→25 matches at sf0.001, 225→207 at sf0.01), so the bound
# is exercised, not vacuous.
TOTAL3 = CepPattern(
    steps=("view", "click", "purchase"),
    within_minutes=1440,
    total_minutes=2160,
)

# The strict-contiguity instance (queries/round7.py::cep_pattern_strict
# + golden twin): view, then the IMMEDIATELY next event must be a
# click ([F] Pattern#next), then purchase (relaxed) — 24 h windows.
STRICT3 = CepPattern(
    steps=("view", "click", "purchase"), within_minutes=1440, strict_steps=(1,)
)

# The timesOrMore instance (compile_stream only + reference-model
# tests): view, click timesOrMore(2) (greedy run), purchase — [F]
# Pattern#timesOrMore. Streaming-NFA only, like oneOrMore.
TWOPLUS3 = CepPattern(
    steps=("view", "click", "purchase"),
    within_minutes=720,
    one_or_more=1,
    min_reps=2,
)

# The mid-pattern notFollowedBy instance (queries/round7.py::
# cep_pattern_not_between + golden twin): view followed by purchase
# within 24 h with NO click in between — the "direct purchase" report,
# [F] Pattern.begin(view).notFollowedBy(click).followedBy(purchase).
NOBETWEEN2 = CepPattern(
    steps=("view", "purchase"),
    within_minutes=1440,
    not_between=(None, "click"),
)

# The notNext instance (queries/round7.py::cep_pattern_not_next +
# golden twin): signup whose IMMEDIATELY next action is not an error,
# then purchase within 48 h — [F]
# Pattern.begin(signup).notNext(error).followedBy(purchase): the
# "clean-onboarding conversion" report.
NONEXT2 = CepPattern(
    steps=("signup", "purchase"),
    within_minutes=2880,
    not_next=("error", None),
)

# The after-match-skip instance (compile_stream only + reference-model
# tests): the 3-step funnel with [F]
# AfterMatchSkipStrategy.skipPastLastEvent — non-overlapping matches.
# 24 h windows so the strategy is actually exercised on the sf0.001
# golden fixture (18 skip-selected matches vs 27 unrestricted).
SKIP3 = CepPattern(
    steps=("view", "click", "purchase"), within_minutes=1440, skip_past_last=True
)

# The skipToFirst instance (golden + property tests): after a match,
# discard partials anchored strictly before the match's CLICK — [F]
# AfterMatchSkipStrategy.skipToFirst("click"). 27 → 19 matches on the
# sf0.001 golden fixture (non-vacuous, less aggressive than
# skipPastLastEvent's 18 because the completing event is not consumed
# and the boundary is the click, not the purchase).
SKIPFIRST3 = CepPattern(
    steps=("view", "click", "purchase"),
    within_minutes=1440,
    after_match_skip=("to_first", 1),
)

# The skipToNext instance (golden + property tests): followedByAny
# branch fan-out collapsed to ONE match per anchor — [F]
# AfterMatchSkipStrategy.skipToNext() composed with followedByAny.
# 39 branch rows → 29 per-anchor matches on the sf0.001 fixture (and
# 29 > the 27 first-match twin: any-match completes anchors whose
# FIRST click never converts but a later one does).
SKIPNEXT3 = CepPattern(
    steps=("view", "click", "purchase"),
    within_minutes=1440,
    any_match_steps=(1,),
    after_match_skip=("to_next", None),
)

# The IterativeCondition instance (queries/round8.py::
# cep_pattern_relative_guard + golden twin): view → click → purchase
# where the purchase value must be at least 2x the ANCHOR view's value
# — [F] o.a.f.cep.pattern.conditions.IterativeCondition (the per-step
# predicate over ctx.getEventsForPattern), the "upsell conversion"
# report. Join-expressible: the anchor's value rides the chain and the
# guard is one extra join predicate; verified non-vacuous on the
# fixture (5 matches at sf0.001 vs 27 unguarded).
RELGUARD3 = CepPattern(
    steps=("view", "click", "purchase"),
    within_minutes=1440,
    rel_guards=(None, None, (0, 2.0)),
)

# The followedByAny instance (queries/round8.py::
# cep_pattern_followed_by_any + golden twin): view followedByAny click
# followedBy purchase — EVERY click within 24 h of the view forks its
# own branch (not just the first), each branch completed by its own
# first purchase; the "every-touchpoint attribution" report, [F]
# Pattern#followedByAny. Non-vacuous vs the first-match twin on the
# fixture: 27→39 matches at sf0.001, 225→277 at sf0.01.
ANYCLICK3 = CepPattern(
    steps=("view", "click", "purchase"),
    within_minutes=1440,
    any_match_steps=(1,),
)

# The OR-combinator instance (queries/round9.py::
# cep_pattern_or_condition + property suite): signup → (view OR click)
# → purchase, 12 h stages — [F] Pattern#where(cond).or(cond) / subtype
# conditions: the middle step admits a SET of event types, so whichever
# engagement signal arrives first carries the funnel forward (the
# "any-engagement conversion" report). Non-vacuous vs the view-only
# twin on the fixture: 12→17 matches at sf0.001, 77→140 at sf0.01 —
# the extra matches are anchors whose first engagement was a click.
ORSTEP3 = CepPattern(
    steps=("signup", "view", "purchase"),
    within_minutes=720,
    or_types=((), ("click",), ()),
)
