#!/usr/bin/env python3
"""DBSCAN engine benchmark.

    python3 perfbench/run.py --workload fit-skewed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One client drives ``local[4]``: set-up
starts the session and fits a small warm-up sample of the workload's
distribution; then a closed loop of ``dbscan()`` fits of the workload's
full point set is measured. A traced run then sends one ``predict()``
request of ``PREDICT_POINTS`` new points to the last fitted model. Inputs
come from ``--seed``; the program only ever sees the DataFrames built from
them. Every operation's output is collected and checked against the
oracles in ``oracle.py``, which a child process computes before the session
starts: they are not timed and their memory does not count toward the
driver's peak RSS. Every process a run starts has ended when it exits.

The last line of standard output is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a separate
traced run (see ``spans.py``). Host-noise readings, every sample and the
spans go to ``.perfbench/`` in the checkout. See ``README.md`` here for the
workloads, the layer-to-metric predictions and what was left out.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import hashlib
import json
import os
import pickle
import resource
import shlex
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

CPUS = 4
PREDICT_POINTS = 500
# A run measures round(seconds / NOMINAL_FIT_S) fits, each of its own point
# set: a fixed count, so every run samples the same stretch of the JVM's
# warm-up curve whatever the host's speed, and the measured time is about
# ``--seconds``.
NOMINAL_FIT_S = 15.0
# Set-up fits a small sample of the workload's distribution, cut into at
# least as many partitions as cores, so that every core starts its Python
# worker. The measured fits then pay no one-time start-up of that kind.
WARM_POINTS = 4000
WARM_CAP = 1000
# The blob layout is fixed so that seeds vary the points, not the skew.
LAYOUT_SEED = 0
OUTLIER_SHARE = 0.10


@dataclass(frozen=True)
class Workload:
    """Input size and DBSCAN parameters; why each workload exists is
    recorded in ``BENCHMARK.json``."""

    n: int
    eps: float
    min_points: int
    max_points_per_partition: int
    # (rng, n) -> (fit points, k -> k new points, (lo, hi) data extent)
    make: Callable[[np.random.Generator, int], tuple]
    # Full-size fits in set-up after the small one, each of its own point
    # set. The first full-size fit in a JVM runs up to 40% slower than the
    # next and varies most; a workload whose fit is cheap enough for the
    # run budget moves it into set-up.
    warm_twins: int


FRAGMENTED_DENSITY = 0.2


def _skewed(rng: np.random.Generator, n: int):
    layout = datagen.skewed_layout(np.random.default_rng(LAYOUT_SEED))
    return (
        datagen.skewed_points(rng, n, layout),
        lambda k: datagen.skewed_points(rng, k, layout),
        (0.0, datagen.SKEW_EXTENT),
    )


def _uniform(rng: np.random.Generator, n: int):
    P = datagen.uniform_points(rng, n, FRAGMENTED_DENSITY)
    side = float(np.sqrt(n / FRAGMENTED_DENSITY))
    return P, lambda k: rng.uniform(0.0, side, size=(k, 2)), (0.0, side)


WORKLOADS = {
    "fit-skewed": Workload(
        n=24000, eps=0.1, min_points=8, max_points_per_partition=2000,
        make=_skewed, warm_twins=0,
    ),
    "fit-fragmented": Workload(
        n=12000, eps=2.0, min_points=4, max_points_per_partition=500,
        make=_uniform, warm_twins=1,
    ),
}


# -- launcher --------------------------------------------------------------

def _launcher_env() -> None:
    """Environment the JVM and its Python workers inherit: the checkout on
    ``PYTHONPATH`` (workers import ``dbscan_spark`` by name), scratch dirs
    inside the checkout, four cores, and no console progress bars."""
    tmp = os.path.join(OUT, "tmp")
    local = os.path.join(OUT, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


# -- host noise (recorded only, never used to adjust a number) --------------

def _steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` cpu line."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _calib_s() -> float:
    """Fixed-work probe: best of three SHA-256 passes, each hashing one
    64 KiB buffer 512 times (32 MiB of input, no large allocation)."""
    buf = bytes(range(256)) * 256
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(512):
            h.update(buf)
        h.digest()
        best = min(best, time.perf_counter() - t0)
    return best


# -- the run ---------------------------------------------------------------

_ORACLE_CHILD = (
    "import oracle, pickle, sys; sets, eps, m = pickle.load(sys.stdin.buffer); "
    "pickle.dump([oracle.fit_truth(P, eps, m) for P in sets], sys.stdout.buffer)"
)


def _oracles(sets: list[np.ndarray], eps: float, min_points: int) -> list:
    """``oracle.fit_truth`` of each point set, computed in one child process
    that has ended when this returns. A plain subprocess, not
    ``multiprocessing``: that would leave its resource tracker running."""
    out = subprocess.run(
        [sys.executable, "-c", _ORACLE_CHILD],
        input=pickle.dumps((sets, eps, min_points)),
        stdout=subprocess.PIPE, cwd=HERE, check=True,
    )
    return pickle.loads(out.stdout)


@dataclass
class FitInput:
    """One point set to fit: its oracle, partition cap and DataFrame."""

    P: np.ndarray
    truth: oracle.FitTruth
    cap: int
    df: object = None  # built once the session runs


class Run:
    """One benchmark run: inputs, oracles, the session and the samples."""

    def __init__(self, name: str, seed: int, seconds: float, tracer) -> None:
        self.w = w = WORKLOADS[name]
        self.tracer = tracer
        self._rng = np.random.default_rng(seed)
        P, self._new_points, self._extent = w.make(self._rng, w.n)
        k = max(1, round(seconds / NOMINAL_FIT_S))
        sets = [P] + [w.make(self._rng, w.n)[0] for _ in range(k - 1)]
        sets.append(w.make(self._rng, WARM_POINTS)[0])
        sets += [w.make(self._rng, w.n)[0] for _ in range(w.warm_twins)]
        truths = _oracles(sets, w.eps, w.min_points)
        caps = [w.max_points_per_partition] * len(sets)
        caps[k] = WARM_CAP
        fits = [FitInput(*x) for x in zip(sets, truths, caps)]
        self.inputs, self.warm = fits[:k], fits[k:]
        self.samples: list[float] = []  # measured fit times
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.model = None
        self.cores = None  # (xy, cluster) of the current model's core points
        self.ops: list[tuple[str, str]] = []  # (kind, span id) when traced

    def request(self) -> np.ndarray:
        """One predict request: the workload's distribution plus outliers
        drawn uniformly from a box 1.5x the data extent."""
        n_out = int(PREDICT_POINTS * OUTLIER_SHARE)
        lo, hi = self._extent
        pad = 0.25 * (hi - lo)
        out = self._rng.uniform(lo - pad, hi + pad, size=(n_out, 2))
        return np.vstack([self._new_points(PREDICT_POINTS - n_out), out])

    def _frame(self, P: np.ndarray):
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame({"id": np.arange(len(P)), "x": P[:, 0], "y": P[:, 1]})
        )

    def _op(self, kind: str, fn):
        """Time one operation, with its span and job group when traced."""
        self.attempted += 1
        if self.tracer is None:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0
        with self.tracer.span(f"dbscan.{kind}") as rec:
            self.spark.sparkContext.setJobGroup(rec["id"], kind)
            out = fn()
        self.ops.append((kind, rec["id"]))
        return out, rec["end"] - rec["start"]

    def fit(self, inp: FitInput) -> float | None:
        from dbscan_spark import dbscan

        w = self.w

        def call():
            res = dbscan(
                inp.df, eps=w.eps, min_points=w.min_points,
                max_points_per_partition=inp.cap,
            )
            return res, res.select("id", "cluster", "flag").toPandas()

        try:
            (res, pdf), dt = self._op("fit", call)
        except Exception as exc:  # a failed fit counts; the loop goes on
            self._fail(f"fit raised {exc!r}")
            return None
        errs = oracle.check_fit(
            inp.truth, pdf["id"].to_numpy(), pdf["cluster"].to_numpy(),
            pdf["flag"].to_numpy(),
        )
        if errs:
            self._fail("fit: " + "; ".join(errs))
        if self.model is not None:
            self.model.unpersist()
        self.model = res
        core = pdf[pdf["flag"] == "core"]
        self.cores = (inp.P[core["id"].to_numpy()], core["cluster"].to_numpy())
        return dt

    def predict(self) -> float | None:
        from dbscan_spark import predict

        if self.cores is None:
            self.attempted += 1
            self._fail("predict: no fitted model")
            return None
        Q = self.request()
        try:
            pdf, dt = self._op(
                "predict",
                lambda: predict(self.model, self._frame(Q), self.w.eps)
                .select("id", "cluster", "flag")
                .toPandas(),
            )
        except Exception as exc:
            self._fail(f"predict raised {exc!r}")
            return None
        pdf = pdf.sort_values("id")
        want = oracle.predict_truth(*self.cores, Q, self.w.eps)
        got = pdf["cluster"].to_numpy()
        flag_ok = np.array_equal(pdf["flag"].to_numpy() == "border", got > 0)
        if len(pdf) != len(Q) or not np.array_equal(got, want) or not flag_ok:
            bad = int((got != want).sum()) if len(got) == len(want) else len(Q)
            self._fail(f"predict: {bad} of {len(Q)} labels differ from the oracle")
        return dt

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def setup(self) -> float:
        """Session start plus the warm-up fits: the small one starts the
        Python workers and fills Spark's code caches."""
        from dbscan_spark.session import get_spark

        t0 = time.perf_counter()
        if self.tracer is None:
            self.spark = get_spark(app_name="perfbench")
        else:
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        for inp in (*self.warm, *self.inputs):
            inp.df = self._frame(inp.P)
        for inp in self.warm:
            self.fit(inp)
        self.set_up_ops = len(self.ops)
        return time.perf_counter() - t0

    def measure(self) -> float:
        """Closed loop of fits; returns the measured wall time."""
        t0 = time.perf_counter()
        for inp in self.inputs:
            dt = self.fit(inp)
            if dt is not None:
                self.samples.append(dt)
        return time.perf_counter() - t0


def _end_to_end(run: Run, setup_s: float) -> dict:
    fit = statistics.median(run.samples)
    return {
        "setup_s": (setup_s, "s"),
        "fit_p50_s": (fit, "s"),
        "fit_points_per_s": (run.w.n / fit, "1/s"),
        "driver_peak_rss_mb": (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"
        ),
    }


def _per_layer(run: Run) -> dict:
    tr = run.tracer
    sc = run.spark.sparkContext
    time.sleep(1.0)  # let the listener bus post the last jobs' status
    measured = run.ops[run.set_up_ops:]
    by_id = {s["id"]: s for s in tr.spans}
    fits = [by_id[i] for k, i in measured if k == "fit"]
    preds = [by_id[i] for k, i in measured if k == "predict"]
    med = statistics.median

    def child(span, name):
        return next(c for c in tr.children(span) if c["name"] == name)

    fp = [child(f, "partitioner.find_partitions") for f in fits]
    ag = [child(f, "graph.assign_global_ids") for f in fits]
    fit_counts = [spans.job_counts(sc, f["id"]) for f in fits]
    pred_counts = [spans.job_counts(sc, p["id"]) for p in preds]
    k = spans.replay_kernel(run.inputs[-1].P, tr.partitions, run.w.eps, run.w.min_points)
    fit_s = med(spans.duration(f) for f in fits)
    m = {
        "session.get_spark_s": (spans.duration(tr.named("session.get_spark")[0]), "s"),
        "dbscan.fit_s": (fit_s, "s"),
        "dbscan.fit_self_s": (med(spans.self_time(tr, f) for f in fits), "s"),
        # The fit's phases, cut at the two driver-side calls.
        "dbscan.histogram_s": (med(p["start"] - f["start"] for f, p in zip(fits, fp)), "s"),
        "dbscan.cluster_merge_s": (med(a["start"] - p["end"] for p, a in zip(fp, ag)), "s"),
        "dbscan.relabel_s": (med(f["end"] - a["end"] for f, a in zip(fits, ag)), "s"),
        "dbscan.fit_jobs": (med(c["jobs"] for c in fit_counts), "count"),
        "dbscan.fit_stages": (med(c["stages"] for c in fit_counts), "count"),
        "dbscan.fit_tasks": (med(c["tasks"] for c in fit_counts), "count"),
        "dbscan.driver_rows": (
            med(f["cells"] + a["local_clusters"] + a["edges"] for f, a in zip(fp, ag)),
            "count",
        ),
        "dbscan.predict_s": (med(spans.duration(p) for p in preds), "s"),
        "dbscan.predict_jobs": (med(c["jobs"] for c in pred_counts), "count"),
        "dbscan.predict_tasks": (med(c["tasks"] for c in pred_counts), "count"),
        "partitioner.find_partitions_s": (
            spans.replay_partitioner(*tr.partitioner_args), "s"
        ),
        "partitioner.cells": (fp[-1]["cells"], "count"),
        "partitioner.partitions": (fp[-1]["partitions"], "count"),
        "partitioner.max_box_points": (fp[-1]["max_box_points"], "count"),
        "partitioner.overfull_boxes": (fp[-1]["overfull_boxes"], "count"),
        "partitioner.dup_ratio": (k["points"] / run.w.n, "ratio"),
        "kernel.calls": (k["calls"], "count"),
        "kernel.points": (k["points"], "count"),
        "kernel.busy_s": (k["busy_s"], "s"),
        "kernel.fit_share": (k["busy_s"] / fit_s, "ratio"),
        "kernel.max_call_s": (k["max_call_s"], "s"),
        "kernel.grid_calls": (k["grid_calls"], "count"),
        "graph.assign_global_ids_s": (med(spans.duration(a) for a in ag), "s"),
        "graph.local_clusters": (ag[-1]["local_clusters"], "count"),
        "graph.edges": (ag[-1]["edges"], "count"),
        "graph.global_clusters": (ag[-1]["global_clusters"], "count"),
        "trace.fit_p50_s": (med(run.samples), "s"),
    }
    for f, c in zip(fits, fit_counts):
        f.update(c)
    for p, c in zip(preds, pred_counts):
        p.update(c)
    return m


def _stop_spark() -> None:
    """Stop the session, then end the JVM it started and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # An interrupted py4j call can leave the gateway unusable; the JVM is
    # still ended below.
    with contextlib.suppress(Exception):
        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants. The JVM's
    Python worker daemon outlives the JVM by a moment; as an orphan it is
    re-parented here, not to init, so ``_reap_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot adopt orphaned workers", file=sys.stderr)


def _children() -> list[int]:
    """Pids whose parent is this process, from ``/proc``."""
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            out.append(int(entry))
    return out


def _reap_children(grace_s: float = 30.0) -> None:
    """Wait until no child process is left; after ``grace_s`` kill those
    still running."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dbscan_spark")):
        print(f"perfbench: no dbscan_spark package under {ROOT}", file=sys.stderr)
        return 2
    _adopt_orphans()
    # A terminated run still stops the session and reaps its children.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run(args)
    finally:
        _reap_children()


def _run(args: argparse.Namespace) -> int:
    _launcher_env()
    tracer = spans.Tracer() if args.trace else None
    run = Run(args.workload, args.seed, args.seconds, tracer)
    calib0, (steal0, total0) = _calib_s(), _steal_ticks()
    try:
        with spans.instrument(tracer) if tracer else contextlib.nullcontext():
            setup_s = run.setup()
            window_s = run.measure()
            steal1, total1 = _steal_ticks()
            # Checks and traces the serving path once; untraced runs skip it.
            predict_s = run.predict() if tracer else None
            if not run.samples or (tracer and predict_s is None):
                metrics = {}  # nothing to measure: a verdict, but no numbers
            else:
                metrics = _per_layer(run) if tracer else _end_to_end(run, setup_s)
    finally:
        _stop_spark()
    calib1 = _calib_s()

    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_s": setup_s,
        "window_s": window_s,
        "fit_s": run.samples,
        "predict_s": predict_s,
        "problems": run.problems,
        "host": {
            "steal_ticks": steal1 - steal0,
            "total_ticks": total1 - total0,
            "calib_before_s": calib0,
            "calib_after_s": calib1,
        },
    }
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if tracer:
        tracer.dump(stem + ".spans.json")
    print(
        f"perfbench {args.workload} seed={args.seed}: "
        f"{len(run.samples)} fits in {window_s:.1f}s; steal {steal1 - steal0}/{total1 - total0} ticks; "
        f"calib {calib0:.4f}s -> {calib1:.4f}s"
    )
    for msg in run.problems:
        print(f"perfbench: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())
