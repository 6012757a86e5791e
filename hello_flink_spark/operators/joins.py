"""Join combinators beyond Spark's built-in ``df.join`` (SURVEY §2.3).

The built-in joins (inner/outer/semi/anti/cross/theta) need no wrapper —
declared queries call ``df.join`` directly and Catalyst picks
broadcast-hash / sort-merge / nested-loop. This module holds the joins
Spark lacks natively:

- ``asof_join`` — Flink's temporal table join, ``FOR SYSTEM_TIME AS OF``
  [F org.apache.flink.table.api: temporal table function join]. For each
  left row, the latest right row with ``right_ts <= left_ts`` per key.
- ``pair_counts`` — the grouped form of a counted equi-self-join
  (``a.g = b.g AND a.x < b.x GROUP BY a.x, b.x``), the one in-group
  pair enumeration of every pair-producing query.

Scale notes (100 TB): the naive formulation (range join + ROW_NUMBER)
explodes to O(|L|·|R|/keys) intermediate rows before the rank filter.
Two linear formulations instead:

- ``asof_join_window`` (default): union both sides, per-key window,
  carry the latest right values forward with last(ignorenulls) — one
  shuffle total, all JVM (no Python boundary). Measured ~7x faster
  than the cogroup path at sf0.1 (BASELINE.md).
- ``asof_join`` (cogroup + ``pandas.merge_asof``): one exchange per
  side, vectorized per group — the escape hatch when per-key logic
  outgrows what a window can express.

Skewed keys can be salted upstream with ``repartition``; AQE skew
handling does not apply inside cogroup, so extremely hot keys are the
caller's responsibility.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _require_disjoint_columns(
    left: DataFrame, right: DataFrame, key: str, left_ts: str, right_ts: str
) -> None:
    """Both as-of implementations require the two sides to share ONLY the
    key column. A shared non-key name would be silently overwritten with
    NULLs by the union/carry-forward path while the merge_asof path would
    suffix it — diverging results. Fail loudly instead (ADVICE r02);
    callers rename collisions up front.
    """
    if left_ts == right_ts:
        raise ValueError(
            f"asof join: left_ts and right_ts must differ (both {left_ts!r}); "
            "rename one side before joining"
        )
    overlap = (set(left.columns) & set(right.columns)) - {key}
    if overlap:
        raise ValueError(
            f"asof join: sides share non-key columns {sorted(overlap)}; "
            "rename them before joining (only the key may be shared)"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    schema: str,
    allow_exact_matches: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: per key, the latest right row with right_ts <=
    left_ts (``direction='backward'``, the temporal-join default) or
    the earliest with right_ts >= left_ts (``'forward'``).

    ``schema`` is the output schema DDL: all left columns followed by the
    right columns to attach (right columns other than ``key`` are kept).
    Unmatched left rows keep nulls on the right side (LEFT ASOF).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward, got {direction!r}")
    _require_disjoint_columns(left, right, key, left_ts, right_ts)
    left_cols = left.columns
    right_cols = [c for c in right.columns if c != key]

    def merge(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        left_pdf = left_pdf.sort_values(left_ts)
        right_pdf = right_pdf.sort_values(right_ts)
        out = pd.merge_asof(
            left_pdf,
            right_pdf.drop(columns=[key]),
            left_on=left_ts,
            right_on=right_ts,
            direction=direction,
            allow_exact_matches=allow_exact_matches,
        )
        out = out[left_cols + right_cols]
        # pandas fills unmatched numeric columns with NaN; Spark must see
        # SQL NULL (NaN != NULL in Spark), so rewrite misses explicitly.
        for c in right_cols:
            col = out[c]
            if col.isna().any():
                out[c] = col.astype(object).where(col.notna(), None)
        return out

    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(merge, schema=schema)
    )


def asof_join_window(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    allow_exact_matches: bool = True,
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join, JVM-only: union both sides tagged, order per key by
    event time, and fill each left row with the latest preceding right
    values via last(..., ignorenulls=True) over a running row frame
    (``direction='backward'``) or the earliest following values via
    first(...) over the mirrored frame (``'forward'``). One shuffle,
    whole-stage codegen throughout.

    Tie handling at equal timestamps (backward): right rows sort before
    left rows when ``allow_exact_matches`` (a right row AT the probe
    time matches), after them otherwise; forward mirrors this.

    Caveat vs merge_asof: carry-forward is per right COLUMN — a right
    row with NULL in one attached column would inherit that column from
    an older row. Right rows must be NULL-free in attached columns
    (dedup/clean upstream), which the declared queries guarantee.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward, got {direction!r}")
    _require_disjoint_columns(left, right, key, left_ts, right_ts)
    right_cols = [c for c in right.columns if c != key and c != right_ts]
    l_tagged = left.withColumn("__ts", F.col(left_ts)).withColumn("__left", F.lit(1))
    for c in [right_ts, *right_cols]:
        l_tagged = l_tagged.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    r_tagged = right.withColumn("__ts", F.col(right_ts)).withColumn("__left", F.lit(0))
    for c in left.columns:
        if c != key:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = l_tagged.unionByName(r_tagged.select(l_tagged.columns))

    if direction == "backward":
        tie = F.col("__left").asc() if allow_exact_matches else F.col("__left").desc()
        w = (
            Window.partitionBy(key)
            .orderBy(F.col("__ts"), tie)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        fill = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        tie = F.col("__left").desc() if allow_exact_matches else F.col("__left").asc()
        w = (
            Window.partitionBy(key)
            .orderBy(F.col("__ts"), tie)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        fill = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    filled = unioned.select(
        *[c for c in left.columns],
        F.col("__left"),
        *[fill(c).alias(c) for c in [right_ts, *right_cols]],
    )
    out = filled.filter(F.col("__left") == 1).drop("__left")
    if tolerance is not None:
        # bounded staleness (merge_asof's tolerance): a match older
        # (backward) / further ahead (forward) than the tolerance is as
        # good as no match — null the attached columns, keep the row.
        tol = F.expr(f"INTERVAL {tolerance}")
        fresh = (
            F.col(right_ts) >= F.col(left_ts) - tol
            if direction == "backward"
            else F.col(right_ts) <= F.col(left_ts) + tol
        )
        out = out.select(
            *[c for c in left.columns],
            *[F.when(fresh, F.col(c)).alias(c) for c in [right_ts, *right_cols]],
        )
    return out


def pair_counts(
    frame: DataFrame, group_cols: list[str], item: str, a: str, b: str, count: str
) -> DataFrame:
    """``(a, b, count)``: for every pair of ``item`` values a < b that
    share a ``group_cols`` group, the number of (group, member, member)
    matches — the rows of

        SELECT x.item AS a, y.item AS b, COUNT(*) AS count
        FROM frame x JOIN frame y
          ON x.g = y.g AND x.item < y.item GROUP BY a, b

    with ONE exchange of ``frame`` instead of the self-join's two. Each
    group of two or more members becomes one sorted member array; each
    member is posexploded against its strictly-later tail, so a row
    holds one O(k) slice, never a group's k(k−1)/2 pair array, and the
    pairs stream into the count's map-side partial. ``a < b`` drops the
    equal pairs that duplicate members form, as the join's ``<`` does.
    A null member pairs with nothing (``collect_list`` skips it), and
    a null group key, which an equi-join never matches, is dropped."""
    return (
        frame.dropna(subset=group_cols)
        .groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list(item)).alias("ds"))
        .where(F.size("ds") >= 2)
        .select(F.posexplode("ds").alias("i", a), "ds")
        .select(a, F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias(b))
        .where(F.col(a) < F.col(b))
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias(count))
    )


def lookup_join(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Flink lookup join [F LookupTableSource]: per-record dim enrichment.

    In Spark the scalable equivalent is a broadcast hash join against the
    dim snapshot — map-side, no shuffle of the fact table.
    """
    return fact.join(F.broadcast(dim), on, how)


def temporal_join(
    probes: DataFrame,
    dim: DataFrame,
    key: str,
    probe_key: str,
    probe_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """[F] Temporal table join (`FOR SYSTEM_TIME AS OF p.ts`): each
    probe row joins the dim VERSION whose validity interval covers its
    event time (open interval = current version). SCD2 intervals are
    disjoint per key, so each probe matches at most one version — an
    equi-join on the dim key with the range as residual, one keyed
    shuffle (or, stream-side, a stream-static join: the same condition
    is accepted because only the probe side is unbounded). Used by the
    declared batch query (queries/round6.py::join_temporal_table) and
    the streaming twin (streaming/jobs.py::stream_temporal_join),
    golden-tested equal."""
    return probes.join(
        dim,
        (F.col(key) == F.col(probe_key))
        & (F.col(valid_from) <= F.col(probe_ts))
        & (F.col(valid_to).isNull() | (F.col(probe_ts) < F.col(valid_to))),
    )
