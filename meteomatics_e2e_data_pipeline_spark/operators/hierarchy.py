"""Recursive-CTE-style hierarchy walks as iterative DataFrame joins.

Spark has no ``WITH RECURSIVE``; the engine's answer is **pointer
doubling** (recursive squaring): each node keeps a state
``(jump, depth, anc_sum)`` — its current known ancestor, the edge count
to it, and the weight sum of the path ``(node, jump]`` — and every
iteration composes each state with its jump target's state, DOUBLING
the covered distance. A depth-D hierarchy converges in ⌈log2 D⌉
rounds, each one equi-join shuffle keyed on the jump pointer — the
same O(log) round structure as the large-star/small-star components in
``neardup.py``, and the reason a 100 TB BOM explodes in ~5 rounds
instead of D sequential self-joins.

Exactness: pass an exact-typed weight (decimal / integer) — doubling
reassociates the path addition, so float weights could drift vs a
sequential oracle walk; decimal addition is associative and matches
the recursive-CTE oracle bit-for-bit.

Driver-job budget: each round is ONE eager checkpoint job plus a
cheap convergence aggregate over the truncated frame (the state
appears twice per round, as itself and as its own join target, so an
untruncated plan would have 2^rounds paths). The state carries
``at_root`` ("my jump pointer is a root"), which composes exactly
(new at_root = target's at_root), so the loop stops the same round
convergence happens — no extra no-change round — and the orphan test
rides the first aggregate instead of its own job.

No reference-repo counterpart (its SQL is non-recursive dbt models);
this serves the analytics extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..artifacts import materialize

__all__ = ["ancestor_rollup"]


def ancestor_rollup(nodes: DataFrame, id_col: str = "id",
                    parent_col: str = "parent", weight_col: str = "w",
                    max_iters: int = 50) -> DataFrame:
    """Resolve every node's root ancestor, depth, and path-weight sum
    (own weight + every ancestor's, root included) over a forest given
    as ``(id, parent, weight)`` rows; roots point at themselves.
    Returns ``(id, root_key, depth, path_sum)``. Cycles (a malformed
    "hierarchy") cannot converge and raise after ``max_iters``; orphan
    pointers (a non-root row whose parent id is absent from the input)
    are the other malformed shape and raise immediately — an inner
    join here would silently drop the orphan and drain its whole
    subtree out of the walk over later rounds.
    """
    base = nodes.select(
        F.col(id_col).alias("id"),
        F.col(parent_col).alias("parent"),
        F.col(weight_col).alias("w"))
    # The orphan test keys on a NON-NULL marker from the parent side,
    # not on the parent's weight: a parent that EXISTS but carries a
    # NULL weight is a legitimate row (its subtree's path sums go NULL,
    # the usual SQL sum-with-null semantics), while "parent row absent"
    # is the malformed shape — conflating the two via pw.isNull() would
    # misreport the former as orphaned (r8 advisor finding).
    # ``p_is_root`` seeds the at_root convergence flag: a non-root
    # node's initial jump is its parent, so it is settled iff the
    # parent is a root — known from the parent row itself.
    pw = base.select(F.col("id").alias("parent"),
                     F.col("w").alias("pw"),
                     F.lit(1).alias("_parent_seen"),
                     (F.col("parent") == F.col("id")).alias("p_is_root"))
    is_root = F.col("id") == F.col("parent")
    zero_w = F.lit(0).cast(base.schema["w"].dataType)
    state = materialize(
        base.join(pw, "parent", "left")
        .select(
            "id",
            F.when(is_root, F.col("id")).otherwise(F.col("parent"))
            .alias("jump"),
            F.when(is_root, 0).otherwise(1).cast("bigint").alias("d"),
            F.when(is_root, zero_w).otherwise(F.col("pw")).alias("s"),
            F.when(is_root, F.lit(True))
            .otherwise(F.coalesce(F.col("p_is_root"), F.lit(False)))
            .alias("at_root"),
            # roots always self-match in pw, so "marker absent" alone is
            # the orphan signal (a NULL parent also lands here — ``~is_root``
            # would go NULL on it and hide the orphan from max())
            F.col("_parent_seen").isNull().alias("__orphan")),
        "eager")
    # one cheap aggregate over the truncated state answers both the
    # orphan test and "how many nodes still point below a root"
    row = state.agg(
        F.max(F.col("__orphan").cast("int")).alias("bad"),
        F.sum((~F.col("at_root")).cast("int")).alias("unresolved")).first()
    if row["bad"]:
        bad = [r.id for r in state.where("__orphan")
               .select("id").limit(5).collect()]
        raise ValueError(
            f"hierarchy has orphan parent pointers (e.g. node ids "
            f"{bad}): every non-root row's parent must exist in the "
            f"input")
    unresolved = row["unresolved"] or 0
    iters = 0
    while unresolved:
        if iters >= max_iters:
            raise ValueError(
                f"hierarchy did not converge in {max_iters} doubling "
                f"rounds — cycle in the parent pointers?")
        iters += 1
        target = state.select(F.col("id").alias("jid"),
                              F.col("jump").alias("jjump"),
                              F.col("d").alias("jd"),
                              F.col("s").alias("js"),
                              F.col("at_root").alias("jat_root"))
        new_state = materialize(
            state.join(target, state.jump == target.jid)
            .select("id", F.col("jjump").alias("jump"),
                    (F.col("d") + F.col("jd")).alias("d"),
                    (F.col("s") + F.col("js")).alias("s"),
                    # my new jump is the target's jump, so "my jump is
                    # a root" is exactly the target's own flag
                    F.col("jat_root").alias("at_root")),
            "eager")
        unresolved = new_state.agg(
            F.sum((~F.col("at_root")).cast("int"))).first()[0] or 0
        state = new_state
    return (
        base.select("id", "w")
        .join(state, "id")
        .select("id", F.col("jump").alias("root_key"),
                F.col("d").alias("depth"),
                (F.col("w") + F.col("s")).alias("path_sum"))
    )
