"""End-to-end benchmark of seqtables_spark with a per-layer breakdown.

    python3 perfbench/run.py --workload amplicon --seed 1 --seconds 8 --trace 0

One client, closed loop: a single Python thread runs ``local[<cores>]``
and issues one op at a time. An op is a build call (an entry query
with ``queries(cached=False)`` or a SeqTable facade call) followed by
``collect()``. The run sets up (session, inputs from ``--seed``, one
untimed warm pass that verifies every op against its reference), then
runs whole passes over the workload's op list until ``--seconds`` have
passed, and at least two. Every later result must reproduce the
verified row hash.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
interleaves untraced and traced passes and writes its spans and per-op
layer rows to ``.perfbench/trace-<workload>.json``. The exit code is 1
when any op fails or returns a wrong answer.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))

from inputs import RunRoot  # noqa: E402
from layers import LAYER_KEYS, Probe, self_times  # noqa: E402
from sampler import PeakRss, cpu_times, steal_pct  # noqa: E402

UNITS = {
    "setup_s": "s", "pass_s": "s", "op_s.p50": "s", "peak_rss_mb": "MB",
    "setup.session_s": "s", "setup.input_s": "s", "setup.warm_s": "s",
    "host.steal_pct": "%", "oracle.ratio": "ratio", "trace.overhead_frac": "ratio",
    "check.failed_frac": "ratio", "stage.core_busy": "ratio",
}
for _k in LAYER_KEYS:
    UNITS[_k] = ("s" if _k.endswith("_s") or _k.endswith(".s") else
                 "MB" if _k.endswith("_mb") else "count")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("amplicon", "curate", "io"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-hash", metavar="OP", default=None,
                    help="replace OP's verified row hash after the warm pass "
                         "(a self-test: the run must then fail)")
    return ap.parse_args(argv)


def isolate(root: Path) -> dict:
    """Point every scratch location of this process, the JVM and the
    Python workers at the run root. Returns Spark conf for the JVM."""
    tmp = root / "tmp"
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(root / "spark")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, str(REPO))
    return {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": str(root / "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Run:
    """One run's op loop: verification state and counts."""

    def __init__(self, root: RunRoot, workload, spark, cores: int):
        self.root = root
        self.wl = workload
        self.cores = cores
        self.probe = Probe(spark)
        self.expected: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.stale = 0

    def op(self, name: str, build, trace: bool):
        """Run, check and count one op; None when it failed."""
        self.attempted += 1
        try:
            rec = self.probe.run(name, build, trace)
            digest = self.wl.digest(rec.columns, rec.rows)
            if name not in self.expected:
                err = self.wl.verify(name, rec.columns, rec.rows)
                if err:
                    raise AssertionError(f"{name}: wrong answer: {err}")
                self.expected[name] = digest
            elif digest != self.expected[name]:
                raise AssertionError(f"{name}: rows differ from the verified result")
        except Exception:
            self.failed += 1
            print(f"perfbench: op {name} FAILED\n{traceback.format_exc()}",
                  file=sys.stderr, flush=True)
            return None
        return rec

    def one_pass(self, trace: bool) -> tuple[float, list]:
        """(summed op wall time, op records) for one pass."""
        start = time.time()
        recs = [self.op(n, b, trace) for n, b in self.wl.ops()]
        # the entry's roundtrip ops write fixtures named seqtables_* into
        # the temp directory; each pass must rewrite every one of them
        fixtures = str(self.root.path / "tmp" / "seqtables_")
        stale = [p for p in self.root.stale_files(start) if p.startswith(fixtures)]
        if stale:
            self.stale += len(stale)
            print(f"perfbench: {len(stale)} fixture files not rewritten in this "
                  f"pass, e.g. {stale[0]}", file=sys.stderr, flush=True)
        recs = [r for r in recs if r is not None]
        return sum(r.wall_s for r in recs), recs


def main(argv=None) -> int:
    args = parse_args(argv)
    runs = RunRoot(REPO / ".perfbench" / "runs")
    runs.create()
    spark = None
    try:
        conf = isolate(runs.path)
        import workloads
        from seqtables_spark.session import get_spark

        wl = workloads.make(args.workload, REPO)
        cores = len(os.sched_getaffinity(0))

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
        spark.range(10_000).selectExpr("sum(id)").collect()
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = PeakRss([os.getpid(), jvm_pid]).start()

        t0 = time.perf_counter()
        wl.prepare(spark, runs.path, args.seed)
        input_s = time.perf_counter() - t0

        run = Run(runs, wl, spark, cores)
        warm_s, _ = run.one_pass(trace=False)
        if args.corrupt_hash:
            run.expected[args.corrupt_hash] = "corrupted"
        metrics = measure(run, args, session_s, input_s, warm_s, rss)
    finally:
        if spark is not None:
            stop_spark(spark)
        runs.remove()

    if run.stale:
        run.failed += 1
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(run: Run, args, session_s, input_s, warm_s, rss) -> dict:
    """The timed window: whole passes until ``args.seconds`` have passed,
    and at least two. With passes longer than half the window, every
    run times the same number of passes; a run that timed two passes
    and one that timed three would report medians over different
    shares of JIT warm-up. A traced run times untraced (A) and traced
    (B) passes in the order A B B A, at least four, so that warm-up
    drift cancels out of ``trace.overhead_frac``."""
    untraced, traced = [], []
    cpu0 = cpu_times()
    t_end = time.perf_counter() + args.seconds
    min_passes = 4 if args.trace else 2
    k = 0
    while k < min_passes or time.perf_counter() < t_end:
        trace = bool(args.trace) and k % 4 in (1, 2)
        (traced if trace else untraced).append(run.one_pass(trace))
        k += 1
    steal = steal_pct(cpu0, cpu_times())
    peak = rss.stop()
    pass_med = statistics.median(p for p, _ in untraced)
    per_op: dict[str, list] = {}
    for _, recs in untraced:
        for r in recs:
            per_op.setdefault(r.name, []).append(r.wall_s)
    op_med = {n: statistics.median(v) for n, v in per_op.items()}

    if not args.trace:
        print(f"perfbench: {args.workload}: {len(untraced)} passes; "
              f"op seconds {json.dumps(per_op)}", file=sys.stderr)
        # The median op: each op's median latency, then the median over
        # the ops. Pooling the samples first puts the median on the
        # boundary between two groups of ops with distinct latencies,
        # where it flips from run to run.
        return {
            "setup_s": session_s + input_s + warm_s,
            "pass_s": pass_med,
            "op_s.p50": statistics.median(op_med.values()),
            "peak_rss_mb": peak,
        }

    per_pass = [{k: sum(r.layers[k] for r in recs) for k in LAYER_KEYS} for _, recs in traced]
    out = {k: statistics.median(p[k] for p in per_pass) for k in LAYER_KEYS}
    traced_pass = [sum(r.layers["build.s"] + r.layers["plan.s"] + r.layers["exec.s"]
                       + r.layers["collect.s"] for r in recs) for _, recs in traced]
    out["stage.core_busy"] = out["stage.task_s"] / (statistics.median(traced_pass) * run.cores)
    ref_s = run.wl.reference_s
    checked = [n for n in op_med if ref_s.get(n)]
    out["oracle.ratio"] = (sum(op_med[n] for n in checked) / sum(ref_s[n] for n in checked)
                           if checked else 0.0)
    out["trace.overhead_frac"] = statistics.median(p for p, _ in traced) / pass_med - 1
    out["host.steal_pct"] = steal
    out["setup.session_s"] = session_s
    out["setup.input_s"] = input_s
    out["setup.warm_s"] = warm_s
    out["check.failed_frac"] = run.failed / run.attempted
    write_trace(args, traced, op_med, ref_s, out)
    return out


def write_trace(args, traced, op_med, ref_s, summary) -> None:
    """Spans and per-op layer rows of the traced passes, as JSON."""
    spans, rows = [], {}
    for _, recs in traced:
        for r in recs:
            spans += r.spans
            rows.setdefault(r.name, []).append(r.layers)
    per_op = {}
    for name, layer_list in rows.items():
        row = {k: statistics.median(l[k] for l in layer_list) for k in LAYER_KEYS}
        row["op_s"] = op_med.get(name)
        row["reference_s"] = ref_s.get(name)
        row["oracle.ratio"] = op_med[name] / ref_s[name] if ref_s.get(name) else None
        per_op[name] = row
    doc = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cores": len(os.sched_getaffinity(0)),
        "summary": summary, "self_s": self_times(spans), "ops": per_op, "spans": spans,
    }
    out = REPO / ".perfbench" / f"trace-{args.workload}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(doc, indent=1))


if __name__ == "__main__":
    sys.exit(main())
