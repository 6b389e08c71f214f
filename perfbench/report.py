"""Metric names, units and how a finished :class:`workloads.Run` becomes
them. ``BENCHMARK.json`` lists the same names; ``tests`` check they agree.

End-to-end metrics are measured with tracing off; per-layer metrics come
from the separate traced run. Every workload prints every metric of its
kind; a layer a workload never reaches reads 0.
"""

from __future__ import annotations

import json
import os
import subprocess
from collections import defaultdict
from statistics import mean
from pathlib import Path

from stats import p50, self_time, tail

# name: (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "write_s": ("s", "lower"),
    "read_s": ("s", "lower"),
    "py_rss_peak_mb": ("MB", "lower"),
    "meta_bytes_per_file": ("B", "lower"),
}

#: spans whose Spark jobs and py4j calls are counted
SPARK_SPANS = (
    "sync",
    "sync.watermark",
    "sync.source.snapshot",
    "sync.source.changes",
    "sync.target.iceberg.apply",
    "sync.target.delta.apply",
    "formats.hudi.commit",
    "formats.iceberg.read",
    "formats.delta.read",
    "queries.staging",
    "queries.build",
    "queries.exec",
)
SPARK_COUNTERS = {
    "jobs": "count",
    "tasks": "count",
    "job_s": "s",
    "driver_s": "s",
    "executor_cpu_s": "s",
    "shuffle_bytes": "B",
    "py4j_calls": "count",
}
#: spans whose summed duration is reported as ``<span>_s``
TIMED_SPANS = (
    "sync.watermark",
    "sync.safety_check",
    "sync.source.changes",
    "sync.source.inflight",
    "sync.source.snapshot",
    "sync.target.iceberg.apply",
    "sync.target.delta.apply",
    "formats.hudi.commit",
    "formats.iceberg.read",
    "formats.delta.read",
    "queries.build",
    "queries.exec",
)
FAMILIES = (
    "tpch", "g", "sync", "streaming", "formats", "dedup", "ann", "text", "multimodal",
    "analytics",
)

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    **{f"{s}_s": ("s", "lower") for s in TIMED_SPANS},
    "sync.overhead_s": ("s", "lower"),
    "sync.errors": ("count", "lower"),
    "formats.delta.checkpoints": ("count", "lower"),
    "formats.iceberg.manifests": ("count", "lower"),
    "formats.iceberg.manifests_reused_ratio": ("ratio", "higher"),
    **{
        f"formats.{f}.{k}": (u, "lower")
        for f in ("delta", "iceberg", "hudi")
        for k, u in (("meta_bytes", "B"), ("meta_files", "count"))
    },
    "formats.hudi.active_instants": ("count", "lower"),
    "queries.staging_s": ("s", "lower"),
    **{f"queries.{f}.exec_s": ("s", "lower") for f in FAMILIES},
    **{f"{s}.{c}": (u, "lower") for s in SPARK_SPANS for c, u in SPARK_COUNTERS.items()},
    "jvm.gc_s": ("s", "lower"),
    "jvm.rss_peak_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

#: counters that must repeat exactly between two traced runs of one seed
PINNED_SUFFIXES = (".jobs", ".py4j_calls")
PINNED_NAMES = (
    "sync.errors",
    "formats.delta.checkpoints",
    "formats.iceberg.manifests",
    "formats.hudi.active_instants",
    "formats.delta.meta_files",
    "formats.iceberg.meta_files",
    "formats.hudi.meta_files",
)


#: left out: the two targets apply concurrently and share a change's frame,
#: whose lazily computed state costs Spark jobs and py4j calls in whichever
#: thread asks first. The targets' summed jobs are pinned instead; their
#: summed py4j calls still vary by one when both threads ask at once
UNPINNED = tuple(
    f"sync.target.{f}.apply.{c}" for f in ("iceberg", "delta") for c in ("jobs", "py4j_calls")
)


def pinned(metrics: dict) -> dict:
    out = {
        k: v["value"]
        for k, v in metrics.items()
        if (k in PINNED_NAMES or k.endswith(PINNED_SUFFIXES)) and k not in UNPINNED
    }
    out["sync.target.*.apply.jobs"] = sum(
        metrics[k]["value"] for k in UNPINNED if k.endswith(".jobs")
    )
    return out


def end_to_end(run) -> dict:
    """Each end-to-end metric is the median of its samples in the run."""
    s = run.samples
    kinds = {
        "setup_s": "setup",
        "write_s": "write",
        "read_s": "read",
        "py_rss_peak_mb": "py_rss",
        "meta_bytes_per_file": "meta_bytes_per_file",
    }
    return {k: {"value": p50(s[kinds[k]]), "unit": END_TO_END[k][0]} for k in END_TO_END}


def per_layer(run, jobs: list[dict], session: dict, jvm: dict) -> dict:
    """Per-layer metrics of a traced run from its spans, the Spark jobs
    tagged with their names and the py4j calls counted under them."""
    spans = run.tracer.spans
    by_name = defaultdict(list)
    for sp in spans:
        by_name[sp.name].append(sp)
    children = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    jobs_by_group = defaultdict(list)
    for j in jobs:
        jobs_by_group[j["group"]].append(j)

    v = dict.fromkeys(PER_LAYER, 0)
    v.update(session)
    v.update(jvm)
    for name in TIMED_SPANS:
        v[f"{name}_s"] = sum(sp.end - sp.start for sp in by_name[name])
    v["sync.overhead_s"] = sum(
        self_time((sp.start, sp.end), children[sp.id]) for sp in by_name["sync"]
    )
    for name in SPARK_SPANS:
        js = jobs_by_group[name]
        v[f"{name}.jobs"] = len(js)
        v[f"{name}.tasks"] = sum(j["tasks"] for j in js)
        v[f"{name}.job_s"] = sum(_job_len(j) for j in js)
        v[f"{name}.executor_cpu_s"] = sum(j["executor_cpu_s"] for j in js)
        v[f"{name}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in js)
        v[f"{name}.py4j_calls"] = run.tracer.py4j_calls[name]
        v[f"{name}.driver_s"] = sum(
            self_time(
                (sp.start, sp.end),
                children[sp.id] + [(j["start"], j["end"]) for j in js if j["end"]],
            )
            for sp in by_name[name]
        )
    for k in PER_LAYER:
        if k in run.layer:
            v[k] = run.layer[k]
    s = run.samples
    for f in FAMILIES:
        v[f"queries.{f}.exec_s"] = sum(s[f"queries.{f}.exec"])
    if s["write_traced"]:
        v["trace.overhead_s"] = p50(s["write_traced"]) - p50(s["write"])
    elif s["query_traced"]:
        v["trace.overhead_s"] = mean(s["query_traced"]) - mean(s["query"])
    return {k: {"value": v[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}


def _job_len(j) -> float:
    return (j["end"] - j["start"]) if j["end"] else 0.0


def jvm_stats(spark) -> dict:
    """Garbage-collection seconds and peak resident set of the JVM."""
    jvm = spark._jvm
    gc_ms = sum(
        max(b.getCollectionTime(), 0)
        for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    )
    pid = jvm.java.lang.ProcessHandle.current().pid()
    return {"jvm.gc_s": gc_ms / 1000.0, "jvm.rss_peak_mb": _status_kb(pid, "VmHWM") / 1e3}


def _status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


# ----------------------------------------------------------- provenance


def steal_jiffies() -> int:
    """Cumulative CPU-steal jiffies (field 8 of the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) if parts and parts[0] == "cpu" else 0


def code_version(root: Path) -> str:
    """The git commit when ``root`` is a repository, else a hash of the
    program's sources, so every run names the code it measured."""
    if (root / ".git").exists():
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, check=False,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    import hashlib

    h = hashlib.sha256()
    for p in sorted((root / "onetable_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return "tree-" + h.hexdigest()[:16]


def provenance(root: Path, steal0: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "steal_jiffies": steal_jiffies() - steal0,
        "loadavg_1m": os.getloadavg()[0],
        "code": code_version(root),
    }


def tails(run) -> dict:
    """The tail percentile of each operation kind with its sample count."""
    return {k: tail(run.samples[k]) for k in ("write", "read", "commit", "sync", "query")}


def dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), default=str)
