"""Distributed connected components (SURVEY §2.12 dedup clustering).

Implements the alternating large-star / small-star algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC 2014) — the standard shuffle-based CC formulation GraphX /
GraphFrames use for billion-edge graphs. Each round is two hash
aggregations + two equi-joins (no cartesian anything), and the round
count is O(log² n) in the worst case — independent of graph DIAMETER,
which is what breaks naive min-label propagation (a k-round unroll
leaves any component of diameter > k split; VERDICT r03 "What's
wrong" #2).

The fixed-point check is a driver-side scalar per round (count +
order-insensitive xxhash64 checksum of the canonical edge set). An
action per iteration is inherent to convergence-checked iterative
algorithms — it is one tiny aggregate, not a collect of data rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ROUNDS = 25  # ~log²(n) bound; 25 covers graphs far beyond any test rig


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (u > v) pairs, self-loops dropped."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _symmetric(canon: DataFrame) -> DataFrame:
    return canon.union(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to
    m = min(Γ(u) ∪ {u})."""
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct each edge large→small; connect each smaller neighbor
    (and u itself) to m = min of u's smaller neighborhood.

    Input contract: ``edges`` is already canonical (u > v, distinct) —
    true of ``_large_star``'s output by construction (it emits
    (v, m) with m ≤ u < v, filtered and distinct), so re-canonicalizing
    here would only add a redundant shuffle per round."""
    directed = edges  # (u, v) with u > v
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


STAR_TEST_ROUNDS = 3  # rounds that pay the node-keyed star test: the
# early-exit saves a whole confirming round (4-5 edge-scale exchanges)
# but the test itself costs one node-keyed exchange of 2|E| endpoint
# rows PER round it runs in — a net loss on high-diameter graphs that
# take many rounds (review r18). Near-dup pair graphs converge in 1-2
# rounds, so the test runs exactly where it wins; deeper graphs fall
# back to the pre-r18 shuffle-free checksum + sig-equality exit. The
# entry _checksum(cur), before any round, always pays the star test,
# whatever STAR_TEST_ROUNDS is: a caller whose edges already form a
# star forest then runs zero rounds.


def _checksum(canon: DataFrame, star_test: bool = True) -> tuple[int, int, bool]:
    """(edge count, order-insensitive hash, is_star_forest) in ONE job.

    bit_xor, not sum: order-insensitive over the distinct edge set and
    cannot overflow (ANSI mode rejects a plain sum of 64-bit hashes).
    With ``star_test=False`` this is the pre-r18 shuffle-free global
    aggregate and the star flag is reported False (unknown).

    The star test (round-18, guide §1.2 "fewer passes"): a canonical
    edge set is a min-rooted star forest iff every u carries exactly
    one edge and no node is both a u and a v — and every star forest
    is a FIXED POINT of the large-star/small-star round (direct
    computation: large_star maps each leaf back to its root,
    small_star reproduces the same edges). Detecting that here lets
    the loop stop WITHOUT paying the confirming round the
    sig-equality check needs. The hash rides the u-side rows of the
    endpoint explode, so the global xor covers each edge exactly once
    — byte-equal to the star_test=False hash.
    """
    if not star_test:
        row = canon.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).head()
        return int(row["n"]), int(row["h"]), False
    ex = canon.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("node"),
                    F.lit(1).alias("deg_u"),
                    F.lit(0).alias("deg_v"),
                    F.xxhash64("u", "v").alias("eh"),
                ),
                F.struct(
                    F.col("v").alias("node"),
                    F.lit(0).alias("deg_u"),
                    F.lit(1).alias("deg_v"),
                    F.lit(None).cast("long").alias("eh"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    per = ex.groupBy("node").agg(
        F.sum("deg_u").alias("du"),
        F.max("deg_v").alias("hv"),
        F.coalesce(F.bit_xor("eh"), F.lit(0)).alias("hx"),
    )
    row = per.agg(
        F.coalesce(F.sum("du"), F.lit(0)).alias("n"),
        F.coalesce(F.bit_xor("hx"), F.lit(0)).alias("h"),
        F.coalesce(
            F.max(
                F.when(
                    (F.col("du") > 1)
                    | ((F.col("du") >= 1) & (F.col("hv") >= 1)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("viol"),
    ).head()
    return int(row["n"]), int(row["h"]), int(row["viol"]) == 0


def connected_components(
    edges: DataFrame, src: str = "u", dst: str = "v",
    assume_canonical: bool = False,
) -> DataFrame:
    """Label every endpoint of ``edges`` with its component's minimum
    node id. Returns columns ``(node, label)``.

    Converges when a full large-star + small-star round leaves the
    canonical edge set unchanged (at that point the graph is a forest
    of stars rooted at each component minimum). Deterministic — safe
    for hash-compared declared queries.

    ``assume_canonical=True`` (round-17, guide §2.4): skip the
    greatest/least swap AND the distinct exchange when the caller
    guarantees ``src > dst`` per row with no duplicate edges — true of
    the dedup pair generators, whose (doc_a < doc_b) pair sets come
    out of a keyed aggregation (pass src=the larger column). The
    entry materialization is then map-only instead of paying a full
    edge-set shuffle.
    """
    # non-eager: the _checksum action right below is the first
    # materialization and persists the checkpoint in the SAME job —
    # one job launch saved per round vs eager=True (round-17,
    # guide §1.2 "fewer passes"), identical caching afterwards.
    named = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    cur = (named if assume_canonical else _canonical(named)).localCheckpoint(
        eager=False
    )

    sig = _checksum(cur)
    if not sig[2]:  # entry already a star forest ⇒ zero rounds needed
        for rnd in range(MAX_ROUNDS):
            # _small_star's output is already canonical (every emitted
            # edge is (x, y) with x > y, self-loops filtered, distinct
            # applied), so the round needs NO extra _canonical pass: 2
            # aggregations + 2 joins + 2 distincts per round, down from
            # 4 distincts. At sf0.1 the wall time is unchanged
            # (per-round checkpoint + convergence action dominate); the
            # saved shuffles are edge-set-sized, which is what matters
            # at 100 TB.
            nxt = _small_star(_large_star(_symmetric(cur))).localCheckpoint(
                eager=False
            )
            nxt_sig = _checksum(nxt, star_test=rnd < STAR_TEST_ROUNDS)
            cur = nxt
            # star forest ⇒ fixed point ⇒ stop WITHOUT the confirming
            # round. The sig-equality arm is the pre-r18 exit for the
            # rounds past STAR_TEST_ROUNDS: by Kiveris Thm 1 a
            # sig-equal (unchanged) set IS a star forest, so the label
            # stage below remains valid on that arm too — the residual
            # reliance on the theorem (a 64-bit count+xor collision
            # between DIFFERENT consecutive sets would mislabel) is
            # exactly the exposure the pre-r18 code had.
            if nxt_sig[2] or nxt_sig[:2] == sig[:2]:
                break
            sig = nxt_sig
        else:
            raise RuntimeError(
                f"connected_components did not converge in {MAX_ROUNDS} rounds"
            )

    # Converged: the edge set is a min-rooted star forest (Kiveris et
    # al. Theorem 1 — every non-root carries exactly one edge to its
    # component minimum, and every edge's v-side IS a root), so the
    # edge set is already the label map. Round-18 (guide §2.4): read
    # the labels off it directly — non-roots from the per-u aggregate,
    # roots from the distinct label set — instead of re-deriving the
    # node universe from the ENTRY edge set (a distinct over 2× the
    # input edges) and LEFT-joining the labels back. Node sets agree
    # because every round preserves each component's node set (entry
    # components have ≥ 2 nodes, so the star forest keeps them all).
    # The groupBy(u) collapses any duplicate-u rows to the min (on a
    # true star forest each u already has exactly one edge, so it is a
    # no-op pass-through, NOT a detector — review r18); correctness
    # rests on the loop exiting only at a star forest (the explicit
    # test, or sig-equality which implies it by Kiveris Thm 1), and
    # equality with the old nodes-join formula is pinned by the
    # union-find property test on random graphs
    # (tests/test_properties.py).
    leaf_labels = cur.groupBy("u").agg(F.min("v").alias("label"))
    roots = (
        cur.select(F.col("v").alias("node"))  # v-side = roots (star forest)
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    return leaf_labels.select(F.col("u").alias("node"), "label").union(roots)


def copurchase_edges(lineitem: DataFrame, min_cooccur: int = 2) -> DataFrame:
    """Part co-purchase edge set: undirected (pa < pb) pairs of parts
    sharing >= ``min_cooccur`` orders. The one edge definition shared
    by graph_triangle_count, graph_degree_stats and their oracles.

    Round-17 shape (guide §2.3/§2.4): group the lineitem scan by order
    ONCE and emit the in-basket ordered pairs with an array fold —
    baskets are a handful of lines, so the per-group fan-out is
    basket² — then hash-aggregate by pair. The previous self-join on
    l_orderkey shuffled the (ok, part) table TWICE and joined; pair
    multiset is identical (the sorted index enumeration with the
    strict pa < pb filter replicates the join's duplicate-line
    semantics exactly — verified row-for-row)."""
    # Round-18 note: spreading the (order, part) feed before the
    # basket aggregation (the minhash r18 treatment) was tried and
    # measured WORSE at sf1 (graph_triangle_count c32 7.4 -> 10.0 s):
    # the collect_list partials cannot map-side-combine across the
    # round-robin spread the way minhash's md5 min() can, so the
    # added exchange buys no parallel work. Reverted.
    baskets = (
        lineitem.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
        )
        .groupBy("ok")
        .agg(F.expr("array_sort(collect_list(p))").alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(sequence(1, size(ds) - 1),"
                " i -> transform(slice(ds, i + 1, size(ds) - i),"
                " y -> struct(element_at(ds, i) AS pa, y AS pb)))),"
                " s -> s.pa < s.pb)"
            )
        ).alias("s")
    ).select("s.pa", "s.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("cooccur"))
        .filter(F.col("cooccur") >= min_cooccur)
        .select("pa", "pb")
    )
