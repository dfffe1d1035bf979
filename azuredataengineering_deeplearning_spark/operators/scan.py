"""Sequential pattern matching over ordered event streams — the engine
behind KQL's ``scan`` operator (dialect subset, see sources/kql.py).

Reference parity: the reference's telemetry pipelines detect multi-step
ticket/device state sequences in Kusto (the ``scan``/``partition``
family adjacent to ``daily_eval.py:158``'s revision queries); this
module re-expresses the core single-active-match semantics Spark-first.

Semantics (documented dialect, pinned in tests/test_scan_operator.py):
greedy, single-active, non-overlapping sequence matching. Rows are
visited in the given order within each key group, driving a state
machine over the K step predicates:

- state ``j`` means steps ``0..j-1`` matched; the FIRST subsequent row
  satisfying step ``j``'s predicate advances the state (each step
  matches exactly one row; rows satisfying earlier steps are ignored
  while a sequence is open — Kusto's full ``scan`` keeps concurrent
  matches and per-step runs, which this subset deliberately drops);
- completing step ``K-1`` closes the match: its K rows are emitted
  with a per-key 0-based ``match_id``, and the machine resets to idle;
- rows not part of a completed match are dropped (Kusto emits only
  matched rows when every step is unconditional-output, as here).

For K = 2 these semantics have a closed form — step-2 row matches the
FIRST step-1 row after the previous step-2 row — which is what the
catalog row's DuckDB oracle exploits (any step-2 row forces the
machine idle, matched or not).

Scale shape: one sorted pass. (1) The step predicates are JVM boolean
columns (whole-stage codegen), and rows matching no step — which the
machine never reacts to or emits — are filtered out before (2) one
hash exchange on the keys (``defaultParallelism`` partitions, exempt
from AQE coalescing) and ``sortWithinPartitions(keys, order)``, NULLs
last. (3) One ``mapInPandas`` loop per partition walks the sorted
rows once, resetting at each key boundary, and emits the matches
with one positional take. A scan WITHOUT keys is a single sequential
task by definition (as in Kusto's serialized engine).

HOT-KEY CEILING (``tools/scale_probe.py --only scan_hotkey``,
SCALING.md "scan hot key"): one key's candidate rows flow through ONE
Python task — the semantic floor of a serialized state machine. At
2M events with 1M on one key (4-core VM, warm, median of 5):
selective (2% step hits) 1.15 s, against 3.01 s for the former
per-group pandas path; dense (every hot-key row matches) 2.75 s
against 3.14 s, of which the JVM sort plus the Arrow round trip are
~1.6 s and the Python loop ~0.15 s. For groups beyond what one task
should hold, ``max_group_rows`` fails loudly instead.

Rejected: a JVM-only ``aggregate`` array fold over ``array_sort(
collect_list(...))`` per key. A probe of it tied this pass on the
funnel, but Spark arrays are immutable, so it rebuilds its output
array on every match — O(rows × matches) per key; on the 1M-row hot
key it died with ``OutOfMemoryError`` (1 GB heap, and 8 GB after
173 s).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def scan_steps(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[tuple[str, bool]],
    steps: Sequence[Column],
    match_col: str = "match_id",
    max_group_rows: int | None = None,
    step_col: str | None = None,
) -> DataFrame:
    """Emit rows participating in completed step sequences.

    ``order_by``: [(column_name, ascending), ...] — the serialized
    order within each key group, NULLs last in both directions (ties
    make the row visit order, and therefore matching, nondeterministic
    — same caveat as KQL ``serialize``). ``steps``: one boolean Column
    per step (nulls are non-matches). Output = the input columns +
    ``match_col`` (long, 0-based per key group, in match-completion
    order).

    ``max_group_rows``: optional hot-key guard — a key with more
    CANDIDATE rows (rows matching at least one step) than this raises
    loudly inside the task instead of silently running one giant
    sequential pass (see the module docstring's hot-key ceiling).

    ``step_col``: optionally also emit each row's 0-based STEP index
    within its match (row j of a match satisfied step j by
    construction — each step matches exactly one row). The KQL
    ``scan declare`` compilation keys its post-hoc state-variable
    windows on this column."""
    if not steps:
        raise ValueError("scan_steps needs at least one step predicate")
    if not order_by:
        raise ValueError("scan_steps needs an explicit order_by")
    import numpy as np

    k = len(steps)
    keys = list(keys)
    flags = [p.cast("boolean") for p in steps]
    # rows matching no step never move the machine and are never
    # emitted, so they stop here, before the exchange
    work = df.filter(reduce(or_, flags)).select(
        "*",
        *[F.coalesce(f, F.lit(False)).alias(f"__scanp{j}")
          for j, f in enumerate(flags)],
    )
    order = [F.col(c).asc_nulls_last() for c in keys] + [
        F.col(c).asc_nulls_last() if asc else F.col(c).desc_nulls_last()
        for c, asc in order_by
    ]
    n_parts = df.sparkSession.sparkContext.defaultParallelism if keys else 1
    extra = [T.StructField(match_col, T.LongType())]
    if step_col:
        extra.append(T.StructField(step_col, T.IntegerType()))
    out_schema = T.StructType(df.schema.fields + extra)

    def matcher(batches):
        import pandas as pd

        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        g = pd.concat(pdfs, ignore_index=True)
        n = len(g)
        # rows arrive sorted by (keys, order): a key starts wherever any
        # key column differs from the previous row (NULL == NULL)
        start = np.zeros(n, dtype=bool)
        start[0] = True
        for kc in keys:
            v = g[kc].to_numpy()
            na = g[kc].isna().to_numpy()
            start[1:] |= (v[1:] != v[:-1]) & ~(na[1:] & na[:-1])
        heads = np.flatnonzero(start)
        gid = np.cumsum(start) - 1
        if max_group_rows is not None:
            sizes = np.bincount(gid)
            big = int(sizes.argmax())
            if sizes[big] > max_group_rows:
                key_desc = {kc: g[kc].iloc[heads[big]] for kc in keys}
                raise ValueError(
                    f"scan_steps: key group {key_desc} has {sizes[big]} "
                    f"candidate rows, over max_group_rows={max_group_rows}. "
                    "A scan group is one sequential task by semantics — "
                    "split the key or raise the guard."
                )
        # bit j of a row's mask = the row satisfies step j
        masks = sum(
            g.pop(f"__scanp{j}").to_numpy(dtype=np.int64) << j
            for j in range(k)
        ).tolist()
        bounds = heads.tolist() + [n]
        top = 1 << (k - 1)
        pos: list[int] = []
        for a, b in zip(bounds, bounds[1:]):
            # `bit` is the step the machine waits for; `done` ends the
            # key's completed matches, so an open match is cut off
            done, bit = len(pos), 1
            for i, mk in enumerate(masks[a:b], a):
                if mk & bit:
                    pos.append(i)
                    if bit == top:
                        done, bit = len(pos), 1
                    else:
                        bit <<= 1
            del pos[done:]
        if not pos:
            return
        out = g.take(pos)
        # match j is the j-th K-row block of `pos`; mg (its key) is
        # nondecreasing, so a key's first match is a binary search away
        mg = gid[pos[::k]]
        mid = np.arange(len(mg)) - np.searchsorted(mg, mg)
        out[match_col] = np.repeat(mid, k)
        if step_col:
            # each match's rows were appended in step order 0..k-1
            out[step_col] = np.tile(np.arange(k, dtype=np.int32), len(mg))
        yield out

    return (
        work.repartition(n_parts, *keys)
        .sortWithinPartitions(*order)
        .mapInPandas(matcher, schema=out_schema)
    )
