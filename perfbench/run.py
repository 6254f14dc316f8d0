"""Benchmark runner for spark-trip-tiler (see perfbench/README.md).

    python3 perfbench/run.py --workload geo_zipf_staged --seed 0 \
        --seconds 1 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root.  One process runs one workload on
local[<cores>] in a closed loop: set-up, then passes until --seconds
have elapsed (at least one; the first runs in a fresh JVM).  The last
stdout line is one JSON object with `correct`, `attempted`, `failed` and
`metrics`; the lines before it print every metric with its unit.
--trace 1 makes every pass a traced one, reports the per-module metrics
instead and writes the spans to .perfbench/trace-<workload>-s<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

from measure import MB, RssSampler, StatusStore, Tracer, process_tree, \
    tree_cpu_s
from workloads import CHECK, WORKLOADS, Curation, GuardError, \
    SpatialJoins, make_inputs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = ROOT / ".perfbench"
DIGESTS = HERE / "digests.json"
SETUPS = 3                  # session start + input load, repeated

GEO = ("trace_prep", "locations", "episodes", "tiles")
SPATIAL = tuple(name for name, _ in SpatialJoins.ops)
CURATION = Curation.modules

# per-module metric: (unit, better)
FIELDS = {
    "wall_s": ("s", "lower"), "cpu_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"), "spill_mb": ("MB", "lower"),
    "jobs": ("count", "lower"), "rows_out": ("rows", "higher"),
    "core_util": ("ratio", "higher"), "task_skew": ("ratio", "lower"),
    "written_mb": ("MB", "lower"), "files_written": ("count", "lower"),
    "write_amp": ("ratio", "lower"),
}
LAYER_FIELDS = {
    **{m: ("wall_s", "cpu_s", "shuffle_mb", "spill_mb", "jobs", "rows_out",
           "core_util", "task_skew") for m in GEO},
    "catalog": ("wall_s", "written_mb", "files_written", "write_amp",
                "jobs"),
    **{m: ("wall_s", "cpu_s", "shuffle_mb", "spill_mb", "jobs", "task_skew",
           "rows_out") for m in SPATIAL},
    **{m: ("wall_s", "cpu_s", "shuffle_mb", "jobs") for m in CURATION},
}
TRACE_COST = {"bench.wall_s_traced": ("s", "lower"),
              "bench.trace_overhead_s": ("s", "lower")}
END_TO_END = {"wall_s": "s", "docs_per_s": "rows/s", "setup_s": "s",
              "cpu_s": "s", "shuffle_mb": "MB", "peak_rss_mb": "MB"}


def per_layer_names() -> dict[str, tuple[str, str]]:
    out = {f"{m}.{f}": FIELDS[f] for m, fs in LAYER_FIELDS.items()
           for f in fs}
    out.update(TRACE_COST)
    return out


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    JVM's Python workers import the engine."""
    for d in ("tmp", "spark-local", "warehouse"):
        (SCRATCH / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(SCRATCH / "tmp")
    tempfile.tempdir = str(SCRATCH / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(SCRATCH / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, str(ROOT))


def start_spark(cores: int):
    from engine.session import get_spark
    tmp = SCRATCH / "tmp"
    return get_spark(
        "perfbench", master=f"local[{cores}]", driver_memory="1g",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(SCRATCH / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn256m",
        })


def stop_spark() -> None:
    """Stop the session, if any, shut the JVM down and wait until it has
    exited.  Safe to call more than once."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()          # the launcher exits when its stdin closes
    proc.wait(timeout=60)


class Untraced:
    """The probe of a measured pass: no spans, no extra materialization."""

    @contextmanager
    def span(self, name):
        yield

    def boundary(self, df):
        return df

    def release(self):
        pass


class Traced:
    """The probe of a traced pass: a span per module call, and each
    module's output persisted and counted at its boundary, so the
    module's work happens inside its own span."""

    def __init__(self, tracer):
        self.tracer = tracer
        self._cached = []

    def span(self, name):
        return self.tracer.span(name)

    def boundary(self, df):
        df = df.persist()
        self.tracer.add_rows(df.count())
        self._cached.append(df)
        return df

    def release(self):
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


class Checker:
    """Compares each pass's output digests with the ones recorded for this
    workload, size and seed, or, for a seed with no record, with the
    run's first pass.  An oracle or invariant verdict (a `check:` key)
    is not compared: it fails unless it reads "ok"."""

    def __init__(self, workload: str, size: str, seed: int,
                 recorded: dict | None = None):
        book = (json.loads(DIGESTS.read_text()) if recorded is None
                and DIGESTS.exists() else recorded or {})
        self.expected = book.get(workload, {}).get(size, {}).get(str(seed))
        self.recorded = self.expected is not None
        self.attempted = self.failed = 0
        self.first: dict | None = None
        self.mismatches: list[str] = []

    def check(self, got: dict) -> None:
        if self.first is None:
            self.first = got
        want = self.expected if self.recorded else self.first
        for key in sorted(set(want) | set(got)):
            self.attempted += 1
            if key.startswith(CHECK):
                bad = got.get(key) != "ok"
            else:
                bad = want.get(key) != got.get(key)
            if bad:
                self.failed += 1
                self.mismatches.append(key)

    def fail_all(self, n: int) -> None:
        self.attempted += n
        self.failed += n


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> int:
    wl = WORKLOADS[args.workload]("full")
    cores = len(os.sched_getaffinity(0))
    inputs = make_inputs(wl, args.seed, SCRATCH / "inputs")
    workdir = SCRATCH / "work" / f"{wl.name}-s{args.seed}"
    shutil.rmtree(workdir, ignore_errors=True)
    checker = Checker(wl.name, wl.size, args.seed)
    n_out = None

    setups, spark = [], None
    # a traced run reports no setup_s
    for _ in range(1 if args.trace else SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_spark(cores)
        inp = wl.load(spark, inputs)
        setups.append(time.perf_counter() - t0)
    store = StatusStore(spark)

    def one_pass(probe, measure: bool) -> dict:
        """Runs one pass; returns its measurements.  Digests are taken
        after the clock stops."""
        nonlocal n_out
        stats = {}
        if measure:
            mark = store.watermark()
            cpu0 = tree_cpu_s(process_tree())
            rss.window()
        t0 = time.perf_counter()
        try:
            outs = wl.run_pass(spark, probe, inp, workdir)
        except GuardError:
            raise
        except Exception:            # an operation that raised counts failed
            traceback.print_exc()
            checker.fail_all(n_out or 1)
            probe.release()
            shutil.rmtree(workdir, ignore_errors=True)
            return {}
        stats["wall_s"] = time.perf_counter() - t0
        if measure:
            stats["cpu_s"] = tree_cpu_s(process_tree()) - cpu0
            stats["peak_rss_mb"] = rss.window() / MB
            stats["shuffle_mb"] = store.since(mark)["shuffle_bytes"] / MB
        if hasattr(wl, "written"):
            stats["written"] = wl.written(workdir)
        got = wl.digests(spark, inp, workdir, outs)
        n_out = len(got)
        checker.check(got)
        probe.release()
        shutil.rmtree(workdir, ignore_errors=True)
        return stats

    probe = Untraced()
    if args.trace:
        tracer = Tracer(spark, store)
        probe = Traced(tracer)
    passes = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < args.seconds:
            if not args.trace:
                passes.append(one_pass(probe, measure=True))
                continue
            tracer.pass_id, tracer.cost_s = len(passes), 0.0
            with tracer.span("pass"):
                stats = one_pass(probe, measure=False)
            passes.append(stats and {**stats, "trace_cost_s": tracer.cost_s})
    stop_spark()

    ok = [p for p in passes if p]
    error_rate = checker.failed / max(checker.attempted, 1)
    print(f"# workload={wl.name} seed={args.seed} cores={cores} "
          f"trace={args.trace} passes={len(passes)} "
          f"digests={'recorded' if checker.recorded else 'first-pass'}")
    print(f"{'error_rate':>40} {error_rate:14.4f} ratio "
          f"({checker.failed}/{checker.attempted})")
    if checker.mismatches:
        print("# mismatched outputs:",
              ", ".join(sorted(set(checker.mismatches))))
    if args.trace:
        values = layer_metrics(tracer, cores, passes, inp)
        out = SCRATCH / f"trace-{wl.name}-s{args.seed}.json"
        out.write_text(json.dumps({"workload": wl.name, "seed": args.seed,
                                   "spans": tracer.dump()}, indent=1))
        units = {name: unit for name, (unit, _) in per_layer_names().items()}
    else:
        wall = _median([p["wall_s"] for p in ok])
        values = {
            "wall_s": wall,
            "docs_per_s": inp["rows"] / wall if wall else 0.0,
            "setup_s": _median(setups),
            "cpu_s": _median([p["cpu_s"] for p in ok]),
            "shuffle_mb": _median([p["shuffle_mb"] for p in ok]),
            "peak_rss_mb": _median([p["peak_rss_mb"] for p in ok]),
        }
        units = END_TO_END
        print(f"{'wall_s_max':>40} "
              f"{max((p['wall_s'] for p in ok), default=0.0):14.4f} s")
    for name, value in values.items():
        print(f"{name:>40} {value:14.4f} {units[name]}")
    if args.record and checker.failed == 0 and checker.first:
        book = json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}
        book.setdefault(wl.name, {}).setdefault(wl.size, {})[
            str(args.seed)] = checker.first
        DIGESTS.write_text(json.dumps(book, indent=1, sort_keys=True) + "\n")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"correct": checker.failed == 0,
                      "attempted": checker.attempted,
                      "failed": checker.failed, "metrics": metrics}))
    return 0


def layer_metrics(tracer, cores: int, traced: list[dict], inp: dict) -> dict:
    """Per-module medians over the traced passes that completed; modules
    the workload does not call read 0."""
    per_pass: list[dict[str, dict]] = []
    for pid in range(len(traced)):
        if not traced[pid]:
            continue
        mods: dict[str, dict] = {}
        for idx, sp in enumerate(tracer.spans):
            if sp.pass_id != pid or sp.name == "pass":
                continue
            c = tracer.self_counters(idx)
            m = mods.setdefault(sp.name, {"wall_s": 0.0, "cpu_s": 0.0,
                                          "shuffle_mb": 0.0, "spill_mb": 0.0,
                                          "jobs": 0, "rows_out": 0,
                                          "run_ms": 0, "task_skew": 0.0})
            m["wall_s"] += c["wall_s"]
            m["cpu_s"] += c["cpu_s"]
            m["shuffle_mb"] += c["shuffle_bytes"] / MB
            m["spill_mb"] += c["spill_bytes"] / MB
            m["jobs"] += c["jobs"]
            m["rows_out"] += c["rows_out"]
            m["run_ms"] += c["run_ms"]
            m["task_skew"] = max(m["task_skew"], c["task_skew"])
        for m in mods.values():
            m["core_util"] = (m["run_ms"] / 1000.0 / (m["wall_s"] * cores)
                              if m["wall_s"] > 0 else 0.0)
        if "catalog" in mods and traced[pid].get("written"):
            nbytes, nfiles = traced[pid]["written"]
            mods["catalog"].update(written_mb=nbytes / MB,
                                   files_written=nfiles,
                                   write_amp=nbytes / inp["in_bytes"])
        per_pass.append(mods)
    values = {}
    for name in per_layer_names():
        mod, field = name.rsplit(".", 1)
        values[name] = _median([p[mod][field] for p in per_pass if mod in p])
    ok = [p for p in traced if p]
    values["bench.wall_s_traced"] = _median([p["wall_s"] for p in ok])
    values["bench.trace_overhead_s"] = _median(
        [p["trace_cost_s"] for p in ok])
    return values


def selftest() -> int:
    """Tiny-scale check of the benchmark itself: every workload runs, its
    passes agree, a corrupted digest is caught, the radius-join oracle
    catches a lost pair, the geo invariants catch a lost episode, and
    BENCHMARK.json lists exactly the metrics and workloads this runner
    reports."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"] for m in bench["per_layer"]} == set(per_layer_names())
    assert {m["name"] for m in bench["end_to_end"]} == set(END_TO_END)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    cores = len(os.sched_getaffinity(0))
    spark = start_spark(cores)
    for name, cls in WORKLOADS.items():
        wl = cls("tiny")
        inp = wl.load(spark, make_inputs(wl, 0, SCRATCH / "inputs"))
        workdir = SCRATCH / "work" / f"selftest-{name}"
        shutil.rmtree(workdir, ignore_errors=True)
        runs = []
        for _ in range(2):
            outs = wl.run_pass(spark, Untraced(), inp, workdir)
            runs.append(wl.digests(spark, inp, workdir, outs))
            shutil.rmtree(workdir, ignore_errors=True)
        good = Checker(name, "tiny", 0, recorded={name: {"tiny": {
            "0": runs[0]}}})
        good.check(runs[1])
        key = sorted(k for k in runs[0] if not k.startswith(CHECK))[0]
        bad = Checker(name, "tiny", 0, recorded={name: {"tiny": {
            "0": {**runs[0], key: "0" * 64}}}})
        bad.check(runs[1])
        assert good.failed == 0, (name, good.mismatches)
        assert bad.failed == 1 and bad.mismatches == [key], bad.mismatches
        if name == "operators":     # the oracle sees a lost pair
            spatial = wl.parts[0]
            verdict = spatial.radius_oracle(
                inp[spatial.name], outs["ops.radius_join_2d"].iloc[1:])
            assert verdict != "ok", verdict
        else:                       # the invariants see a lost episode
            wl.run_pass(spark, Untraced(), inp, workdir)
            eps, locs, pyr = wl.tables(spark, workdir)
            shutil.rmtree(workdir, ignore_errors=True)
            assert wl.invariants(eps, locs, pyr) == "ok"
            verdict = wl.invariants(eps.drop(eps.index[1]), locs, pyr)
            assert verdict != "ok", verdict
        print(f"selftest {name}: {len(runs[0])} outputs agree across "
              f"passes; corrupted digest of {key!r} caught")
    stop_spark()
    print("selftest ok")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's output digests in digests.json")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not (ROOT / "engine" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if not args.selftest and args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    _prepare_env()
    try:
        return selftest() if args.selftest else run(args)
    except GuardError as e:
        print(f"perfbench: workload guard failed: {e}", file=sys.stderr)
        return 3
    finally:
        stop_spark()


if __name__ == "__main__":
    raise SystemExit(main())
