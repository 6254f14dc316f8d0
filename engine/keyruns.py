"""Per-key kernels over a key-sorted Arrow stream (the mapInArrow shape of
groupBy().applyInPandas without the per-group pandas frame).

A caller repartitions by its keys and sorts within partitions on them
(`df.repartition(*keys).sortWithinPartitions(*keys, ...)`), then maps
`key_run_stream(keys, kernel)` over the partition.  Every complete key run
reaches `kernel` as ONE pyarrow Table — runs that span Arrow batch
boundaries are stitched — and equal keys group exactly as groupBy groups
them: a null key is its own run, and NaN equals NaN.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

RunKernel = Callable[[pa.Table], "pa.RecordBatch | None"]


def _changes(keys: pa.Table) -> np.ndarray:
    """Boolean mask of length n - 1: row i + 1 starts a new key run."""
    n = keys.num_rows
    change = np.zeros(max(n - 1, 0), dtype=bool)
    if n < 2:
        return change
    for col in keys.columns:
        a = col.combine_chunks()
        cur, prev = a.slice(1), a.slice(0, n - 1)
        # not_equal is null where either side is null; a null <-> value
        # step is a change, null <-> null is not
        neq = pc.or_(pc.fill_null(pc.not_equal(cur, prev), False),
                     pc.not_equal(pc.is_null(cur), pc.is_null(prev)))
        if pa.types.is_floating(a.type):
            both_nan = pc.fill_null(
                pc.and_(pc.is_nan(cur), pc.is_nan(prev)), False)
            neq = pc.and_not(neq, both_nan)
        change |= neq.to_numpy(zero_copy_only=False)
    return change


def key_run_stream(keys: Sequence[str], kernel: RunKernel
                   ) -> Callable[[Iterator[pa.RecordBatch]],
                                 Iterator[pa.RecordBatch]]:
    """mapInArrow callable: cut a partition sorted on `keys` into complete
    key runs and call `kernel(run)` once per run.

    `run` is a Table with single-chunk columns; the kernel returns a
    RecordBatch or None (no output).  Outputs are coalesced and
    yielded once per input batch that completed at least one run, plus
    once at end of stream — the batch size downstream sees tracks Spark's
    input batching, not the number of keys.  Peak Python memory is one
    input batch plus the largest run."""
    keys = list(keys)

    def run(pending: list[pa.Table]):
        return kernel(pending[0] if len(pending) == 1
                      else pa.concat_tables(pending).combine_chunks())

    def emit(outs: list):
        outs = [o for o in outs if o is not None and o.num_rows]
        if outs:
            yield from pa.Table.from_batches(outs).combine_chunks() \
                .to_batches()

    def stream(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending: list[pa.Table] = []   # slices of the open (last) run
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            kt = tbl.select(keys)
            if pending:
                # prepend the open run's last key so the batch seam is
                # cut by the same comparison as every other row pair
                last = pending[-1]
                kt = pa.concat_tables(
                    [last.select(keys).slice(last.num_rows - 1), kt])
            # rows of tbl that open a new run (row 0 only at a seam cut)
            starts = np.flatnonzero(_changes(kt)) + (0 if pending else 1)
            continues = bool(pending) and not (len(starts) and starts[0] == 0)
            edges = np.r_[0, starts[starts > 0], tbl.num_rows]
            outs = []
            for i in range(len(edges) - 1):
                g = tbl.slice(int(edges[i]), int(edges[i + 1] - edges[i]))
                if i == 0 and continues:
                    pending.append(g)
                    continue
                if pending:
                    outs.append(run(pending))
                pending = [g]
            yield from emit(outs)
        if pending:
            yield from emit([run(pending)])

    return stream
