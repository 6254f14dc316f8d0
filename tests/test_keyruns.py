"""engine.keyruns.key_run_stream in plain pyarrow (no Spark): runs are cut
exactly where the sorted keys change — across batch seams, through empty
and one-row batches, on any key column, and with null keys as their own
run, as groupBy groups them."""

import pyarrow as pa

from engine.keyruns import key_run_stream


def _batches(rows, sizes, names=("h", "s", "v")):
    """Cut `rows` (tuples) into record batches of the given sizes."""
    cols = list(zip(*rows))
    tbl = pa.table({n: pa.array(list(c)) for n, c in zip(names, cols)})
    out, off = [], 0
    for n in sizes:
        out.append(pa.RecordBatch.from_pylist(
            tbl.slice(off, n).to_pylist(), schema=tbl.schema))
        off += n
    assert off == len(rows)
    return out


def _runs(keys, batches):
    """(key tuple, values, n_chunks) per kernel call, plus output sizes."""
    seen = []

    def kernel(run):
        seen.append((tuple(run[k][0].as_py() for k in keys),
                     run["v"].to_pylist(),
                     max(run[c].num_chunks for c in run.column_names)))
        return pa.record_batch([pa.array([len(seen)])], names=["i"])

    outs = list(key_run_stream(keys, kernel)(iter(batches)))
    return seen, [b.num_rows for b in outs]


def test_run_spanning_three_batches():
    rows = [("a", 0, i) for i in range(3)] + \
        [("b", 0, i) for i in range(10)] + [("c", 0, 0)]
    seen, outs = _runs(["h"], _batches(rows, [4, 4, 4, 2]))
    assert [(k, v) for k, v, _ in seen] == [
        (("a",), [0, 1, 2]), (("b",), list(range(10))), (("c",), [0])]
    assert all(n == 1 for _, _, n in seen)   # stitched into one chunk
    # one coalesced output per input batch that closed a run, plus the
    # end-of-stream flush: "a" closes in batch 1, "b" in batch 4
    assert outs == [1, 1, 1]


def test_empty_and_one_row_batches():
    rows = [("a", 0, 0), ("a", 0, 1), ("b", 0, 2), ("b", 0, 3),
            ("c", 0, 4)]
    seen, outs = _runs(["h"], _batches(rows, [0, 1, 0, 1, 1, 0, 1, 1, 0]))
    assert [(k, v) for k, v, _ in seen] == [
        (("a",), [0, 1]), (("b",), [2, 3]), (("c",), [4])]
    assert sum(outs) == 3
    assert list(key_run_stream(["h"], lambda run: None)(iter([]))) == []


def test_second_key_change_cuts():
    rows = [("a", 0, 0), ("a", 0, 1), ("a", 1, 2), ("a", 1, 3),
            ("b", 1, 4)]
    # the (a, 0) -> (a, 1) step lands both inside a batch and on a seam
    for sizes in ([5], [2, 3], [3, 2]):
        seen, _ = _runs(["h", "s"], _batches(rows, sizes))
        assert [(k, v) for k, v, _ in seen] == [
            (("a", 0), [0, 1]), (("a", 1), [2, 3]), (("b", 1), [4])], sizes


def test_null_keys_are_their_own_run():
    rows = [(None, 0, 0), (None, 0, 1), ("a", 0, 2), ("a", None, 3),
            ("a", None, 4), ("a", 1, 5)]
    for sizes in ([6], [1, 1, 1, 1, 1, 1], [2, 2, 2]):
        seen, _ = _runs(["h", "s"], _batches(rows, sizes))
        assert [(k, v) for k, v, _ in seen] == [
            ((None, 0), [0, 1]), (("a", 0), [2]), (("a", None), [3, 4]),
            (("a", 1), [5])], sizes


def test_nan_float_keys_group_together():
    rows = [("a", float("nan"), 0), ("a", float("nan"), 1), ("a", 1.0, 2)]
    seen, _ = _runs(["h", "s"], _batches(rows, [1, 2]))
    assert [v for _, v, _ in seen] == [[0, 1], [2]]
