"""Per-layer metrics of a traced run, from its spans.

A layer's time is the self time of its spans: duration minus the part
covered by child spans. Every metric except ``session.*``,
``spark.storage_peak_mb``, ``spark.jvm_peak_rss_mb`` and
``trace.overhead_s`` is the median over the traced warm passes of the
pass's total, so it is comparable with ``pass_s``. Layers a workload
does not call read 0.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 1 << 20

# spans around the calls into a layer, timed from outside
TIMED = {"core.build", "operators.build", "driver.collect", "io.read",
         "io.write"}


def busy_s(intervals) -> float:
    """Wall time covered by at least one of the (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _written(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _pass_totals(spans, rec, pass_span, self_s, pass_dir) -> dict:
    out = defaultdict(float)
    for s in spans:
        if s["pass_id"] != pass_span["id"]:
            continue
        name = s["name"]
        if name in TIMED:
            out[f"{name}_s"] += self_s[s["id"]]
        if name in ("core.build", "operators.build"):
            out[f"{name}_jobs"] += s["c1"]["jobs"] - s["c0"]["jobs"]
        if name == "driver.collect":
            out["driver.collect_rows"] += s["rows"]
    c0, c1 = pass_span["c0"], pass_span["c1"]
    d = {k: c1[k] - c0[k] for k in c0}
    out["spark.exec_s"] = rec["busy_s"]
    out["spark.jobs"] = d["jobs"]
    out["spark.tasks"] = d["tasks"]
    out["spark.task_s"] = d["task_ms"] / 1e3
    out["spark.gc_s"] = d["gc_ms"] / 1e3
    out["spark.shuffle_write_mb"] = d["shuffle_w_b"] / MB
    out["spark.input_mb"] = d["input_b"] / MB
    if pass_dir is not None:
        files, size = _written(pass_dir)
        out["io.files_written"] = files
        out["io.write_mb"] = size / MB
    return out


METRICS = [
    ("session.start_s", "s"), ("session.register_s", "s"),
    ("core.build_s", "s"), ("core.build_jobs", "count"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("driver.collect_s", "s"), ("driver.collect_rows", "count"),
    ("spark.exec_s", "s"), ("spark.jobs", "count"),
    ("spark.tasks", "count"), ("spark.task_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.input_mb", "MB"),
    ("spark.storage_peak_mb", "MB"), ("spark.jvm_peak_rss_mb", "MB"),
    ("io.read_s", "s"), ("io.write_s", "s"), ("io.write_mb", "MB"),
    ("io.files_written", "count"), ("trace.overhead_s", "s"),
]


def per_layer(runner, ctx, jvm_rss_mb: float, work_root: str) -> dict:
    spans = ctx.tracer.spans
    covered = defaultdict(float)
    for s in spans:
        s["dur"] = s["t1"] - s["t0"]
        if s["parent"] is not None:
            covered[s["parent"]] += s["dur"]
    for s in spans:  # parents precede children
        s["pass_id"] = (s["id"] if s["name"] == "pass" else
                        spans[s["parent"]]["pass_id"]
                        if s["parent"] is not None else None)
    self_s = {s["id"]: s["dur"] - covered[s["id"]] for s in spans}
    dirs = getattr(runner.wl, "pass_dirs", None)
    warm = runner.warm()
    per_pass = [_pass_totals(spans, p, spans[p["span"]], self_s,
                             dirs[p["pass_no"]] if dirs else None)
                for p in warm if p["traced"]]
    values = {name: statistics.median(t.get(name, 0) for t in per_pass)
              for name, _ in METRICS}
    first = {s["name"]: s["dur"] for s in spans
             if s["name"].startswith("session.")}
    values["session.start_s"] = first["session.start"]
    values["session.register_s"] = first["session.register"]
    values["spark.storage_peak_mb"] = max(
        c["storage_b"] for s in spans for c in (s.get("c0"), s.get("c1"))
        if c) / MB
    values["spark.jvm_peak_rss_mb"] = jvm_rss_mb
    values["trace.overhead_s"] = (
        statistics.median(p["s"] for p in warm if p["traced"])
        - statistics.median(p["s"] for p in warm if not p["traced"]))
    os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
    out = os.path.join(work_root, "traces",
                       f"{runner.args.workload}-seed{runner.args.seed}.json")
    with open(out, "w") as f:
        json.dump({"passes": runner.passes, "spans": spans,
                   "metrics": values}, f)
    print(f"trace: {len(spans)} spans in {out}")
    return {name: (values[name], unit) for name, unit in METRICS}
