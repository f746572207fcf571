"""Render the per-op layer table from traced runs as Markdown.

    python3 perfbench/run.py --workload io --seed 1 --seconds 8 --trace 1
    python3 perfbench/layer_table.py .perfbench/trace-*.json > perfbench/LAYERS.md

Each row is one op: medians over the traced passes of one run.
"""

from __future__ import annotations

import json
import sys

COLUMNS = ("build.s", "build.jobs", "plan.s", "exec.s", "collect.s",
           "python.run_s", "oracle.ratio")
SUMMARY = ("trace.overhead_frac", "stage.core_busy", "host.steal_pct",
           "setup.session_s", "setup.input_s", "setup.warm_s")


def _fmt(v) -> str:
    if v is None:
        return "-"
    if float(v).is_integer():
        return str(int(v))
    return f"{v:.3f}"


def table(doc: dict) -> str:
    out = [
        f"## {doc['workload']} (seed {doc['seed']}, {doc['seconds']:g} s, "
        f"{doc['cores']} cores)",
        "",
        "| op | " + " | ".join(COLUMNS) + " |",
        "|---|" + "---:|" * len(COLUMNS),
    ]
    for name, row in doc["ops"].items():
        out.append(f"| {name} | " + " | ".join(_fmt(row.get(c)) for c in COLUMNS) + " |")
    s = doc["summary"]
    out += ["", ", ".join(f"`{k}` = {_fmt(s[k])}" for k in SUMMARY), ""]
    self_s = ", ".join(f"{k} {v:.3f} s" for k, v in doc["self_s"].items())
    out += [f"Self time over the traced passes: {self_s}.", ""]
    return "\n".join(out)


HEADER = """# Per-op layer table

One traced run per workload (`--trace 1`), rendered by
`perfbench/layer_table.py`. Per op, medians over the run's traced
passes: `build.s` is the build call, `build.jobs` the Spark jobs it
started, `plan.s` the physical planning, `exec.s` the collect's jobs,
`collect.s` the Row hand-over after the last job, `python.run_s` the
Python-worker run time summed over tasks, and `oracle.ratio` the op's
untraced median time over its reference: the DuckDB oracle for entry
queries, the numpy evaluation for amplicon ops.
"""


def main(paths: list[str]) -> None:
    print(HEADER)
    for p in paths:
        with open(p) as fh:
            print(table(json.load(fh)))


if __name__ == "__main__":
    main(sys.argv[1:])
