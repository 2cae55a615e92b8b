"""The round-loop kernel the Spark-side iterative operators run on
(PageRank, label propagation, BFS, k-core, connected components, Lloyd
rounds, ...), plus the two fragments those operators share: edge
symmetrization and the unrolled-round chain of their SQL oracles."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    until: Column | None = None,
) -> tuple[DataFrame, int]:
    """Apply ``step`` to ``state`` up to ``rounds`` times; returns the last
    generation and the number of rounds run.

    Each new generation is checkpointed eagerly (``localCheckpoint``).
    Release rule: a generation is freed once the next one is checkpointed,
    but only a generation this kernel made; the caller's ``state`` is
    never released, and the returned generation stays alive. So a frame
    that must outlive its round has to travel inside the state: anything
    else derived lazily from a generation fails loudly once the next
    round ends.

    ``until`` is an aggregate Column observed on the frame being
    checkpointed, so the checkpoint's own job fills it and the early stop
    costs no extra job. The loop stops when the value equals the previous
    generation's. The caller's input is not observed, so round 1 never
    stops the loop."""
    made = last = None
    for n in range(1, rounds + 1):
        nxt = step(state)
        if until is not None:
            obs = Observation()
            nxt = nxt.observe(obs, until.alias("until"))
        state = nxt.localCheckpoint(eager=True)
        if made is not None:
            # unpersist() does not reach a localCheckpoint's blocks: they
            # belong to the RDD under the frame's LogicalRDD
            made._jdf.queryExecution().analyzed().rdd().unpersist(False)
        made = state
        if until is not None:
            seen = obs.get["until"]
            if n > 1 and seen == last:
                return state, n
            last = seen
    return state, rounds


def symmetrize(
    edges: DataFrame,
    *carry: str,
    ends: tuple[str, str] = ("u", "v"),
    names: tuple[str, str] = ("src", "dst"),
) -> DataFrame:
    """Both orientations of an undirected edge frame: the ``ends`` columns
    read as ``names``, then swapped, with the ``carry`` columns (weights,
    costs) riding along unchanged."""
    (u, v), (src, dst) = ends, names
    return edges.select(F.col(u).alias(src), F.col(v).alias(dst), *carry).unionByName(
        edges.select(F.col(v).alias(src), F.col(u).alias(dst), *carry)
    )


def unroll_sql(round_sql: Callable[..., str], rounds: int, *names: str) -> str:
    """The comma-joined CTE chain of ``rounds`` unrolled oracle rounds.
    ``round_sql`` gets ``names`` formatted per round: ``{i}`` is the
    round's input generation, ``{j}`` = i + 1 its output."""
    return ",".join(
        round_sql(*(name.format(i=i, j=i + 1) for name in names))
        for i in range(rounds)
    )
