"""The benchmark's workloads. Each one drives the program through the same
calls its CLI and driver make, times them, checks what they produced and
fills a :class:`Run`.

- ``sync_incremental``: a Hudi source bootstrapped to Iceberg + Delta, then
  cycles of one source commit, one incremental ``SyncClient.sync`` and each
  target resolving its live file set, which must equal the source's.
- ``query_registry``: a seeded TPC-H-shaped corpus, a fixed set of staged
  table lifecycles (the writes), then passes over a fixed set of registered
  queries in a seeded order (the reads), each checked against its DuckDB
  twin.

One process, one closed-loop client: an operation starts when the previous
one has finished. The program's own two-thread target fan-out runs inside
``SyncClient.sync`` and is part of what is measured.
"""

from __future__ import annotations

import hashlib
import os
import random
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

import gen
from stats import Ops
from spans import SourceProxy, TargetProxy, Tracer

REPO = Path(__file__).resolve().parent.parent

#: sync_incremental's source format and target formats: LoadTest's own
#: direction, Hudi into the other two
SOURCE, TARGETS = "hudi", ("iceberg", "delta")
#: sync_incremental shape: a base of PARTITIONS x FILES_PER files, then one
#: new file in every partition per cycle
PARTITIONS, FILES_PER = 100, 10
#: cycles every run covers at least: the Delta target's 10th version writes
#: a checkpoint
MIN_CYCLES = 11
#: leading cycles run and checked but left out of the samples: the first
#: incremental sync, commit and read compile their code paths
WARM_CYCLES = 2
#: set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3
#: a traced sync_incremental run does exactly this many cycles, alternating
#: traced (odd) and untraced (even) ones
TRACED_CYCLES = 14


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: Path
    ops: Ops = field(default_factory=Ops)
    samples: dict = field(default_factory=lambda: defaultdict(list))
    layer: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)

    def timed(self, kinds, span: str, fn, *args):
        """Run ``fn`` under ``span``; add its wall to each sample kind named
        in ``kinds``."""
        t0 = time.perf_counter()
        with self.tracer.span(span):
            out = fn(*args)
        for k in kinds:
            self.samples[k].append(time.perf_counter() - t0)
        return out


class RssPeak:
    """Peak resident set of this (driver Python) process while open."""

    def __init__(self, interval: float = 0.05):
        self.interval, self.peak = interval, 0

    @staticmethod
    def read() -> int:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
        return 0

    def __enter__(self):
        self._stop = threading.Event()
        self.peak = self.read()

        def poll():
            while not self._stop.wait(self.interval):
                self.peak = max(self.peak, self.read())

        self._thread = threading.Thread(target=poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.read())


def path_hash(path: str) -> int:
    """The 60-bit hash :func:`fingerprint` sums, computed in Python."""
    return int(hashlib.md5(path.encode()).hexdigest()[:15], 16)


def fingerprint(df) -> tuple[int, int, int]:
    """(file count, sum of record counts, sum of path hashes) of a
    FILES_SCHEMA frame, in one Spark job. Equal fingerprints mean equal
    path sets with equal counts, short of a hash collision."""
    from pyspark.sql import functions as F

    h = F.conv(F.substring(F.md5("path"), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count("*"), F.sum("record_count"), F.sum(h)).collect()[0]
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


def rows_fingerprint(rows) -> tuple[int, int, int]:
    """:func:`fingerprint` of generated FILES_SCHEMA tuples, without Spark."""
    return len(rows), sum(r[4] for r in rows), sum(path_hash(r[0]) for r in rows)


def add_fp(a, b):
    return tuple(x + y for x, y in zip(a, b))


META_DIRS = {"delta": "_delta_log", "iceberg": "metadata", "hudi": ".hoodie"}


def meta_size(root: str, fmt: str) -> tuple[int, int]:
    """(bytes, files) a format's metadata directory holds on disk."""
    total = files = 0
    for dirpath, _, names in os.walk(os.path.join(root, META_DIRS[fmt])):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def warm_up(run: Run) -> None:
    """The session's first Spark job, outside every timing."""
    run.spark.range(4).count()


# ---------------------------------------------------------------- sync


def plane(spark, fmt: str, root: str):
    """The metadata plane of one format at ``root``."""
    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable

    cls = {"delta": DeltaLog, "iceberg": IcebergTable, "hudi": HudiTimeline}[fmt]
    return cls(spark, root)


class SyncTable:
    """One source table with its targets, driven through
    ``source_for``/``target_for`` and ``SyncClient`` as the CLI drives
    them. Formats are named in lower case (``"hudi"``)."""

    def __init__(
        self,
        run: Run,
        root: str,
        source: str = SOURCE,
        targets: tuple[str, ...] = TARGETS,
        partitions: int = PARTITIONS,
    ):
        from onetable_spark.model import TableFormat
        from onetable_spark.sync import SyncClient, source_for, target_for

        spark = run.spark
        self.run, self.root, self.partitions = run, root, partitions
        self.source_fmt = source
        self.source_plane = plane(spark, source, root)
        self.readers = {fmt: plane(spark, fmt, root) for fmt in targets}
        self.client = SyncClient(spark)
        self.source = source_for(spark, TableFormat[source.upper()], root)
        self.targets = [target_for(spark, TableFormat[fmt.upper()], root) for fmt in targets]
        self.expected = (0, 0, 0)

    def bootstrap(self, files_per: int) -> None:
        from onetable_spark.model import Table, TableFormat

        self.source_plane.init_table(
            Table(
                name="bench",
                base_path=self.root,
                table_format=TableFormat[self.source_fmt.upper()],
                read_schema=gen.inventory_schema(),
            )
        )
        self.commit(self.adds(0, files_per))
        self.sync()
        self.read("bootstrap")

    def adds(self, cycle: int, files_per: int):
        """The cycle's generated files as a frame; the source's expected
        live set grows by them."""
        from onetable_spark.model import FILES_SCHEMA
        from onetable_spark.session import local_rows_df

        run = self.run
        rows = gen.inventory_rows(run.seed, self.root, self.partitions, files_per, cycle)
        self.expected = add_fp(self.expected, rows_fingerprint(rows))
        return local_rows_df(run.spark, rows, FILES_SCHEMA)

    def commit(self, adds):
        return self.run.timed(
            ["commit"],
            f"formats.{self.source_fmt}.commit",
            lambda: self.source_plane.commit(adds=adds),
        )

    def sync(self):
        """One ``SyncClient.sync``; each target's result is one operation."""
        run = self.run
        source, targets = self.source, self.targets
        if run.tracer.enabled:
            source = SourceProxy(source, run.tracer)
            targets = [TargetProxy(t, run.tracer) for t in targets]
        results = run.timed(["sync"], "sync", self.client.sync, source, targets)
        for fmt, res in results.items():
            ok = res.status.value == "SUCCESS"
            run.ops.record(ok, f"sync to {fmt.value}: {res.error}")
            run.layer["sync.errors"] = run.layer.get("sync.errors", 0) + (not ok)
        return results

    def read(self, label: str) -> None:
        """Each target resolves its live file set, and the set must equal
        the source's: one operation per target."""
        for fmt, reader in self.readers.items():
            got = self.run.timed(
                (), f"formats.{fmt}.read", lambda r=reader: fingerprint(r.snapshot_files())
            )
            self.run.ops.record(
                got == self.expected,
                f"{label}: {fmt} live set (files, records, path hash) {got} "
                f"!= source {self.expected}",
            )

    def check_source(self) -> None:
        got = fingerprint(self.source_plane.snapshot_files())
        self.run.ops.record(
            got == self.expected,
            f"{self.source_fmt} source live set {got} != {self.expected}",
        )


def sync_incremental(run: Run, traced: bool) -> None:
    base = run.work / "sync"
    t_setup = time.perf_counter()
    for rep in range(SETUP_REPS):
        table = SyncTable(run, str(base / f"t{rep}"))
        run.timed(["setup"], "setup", table.bootstrap, FILES_PER)
    run.record["setup_phase_s"] = time.perf_counter() - t_setup

    t_loop = time.perf_counter()
    measured, cycle = 0.0, 0
    with RssPeak() as rss:
        while cycle < (TRACED_CYCLES if traced else MIN_CYCLES) or (
            not traced and measured < run.seconds
        ):
            cycle += 1
            tracing = traced and cycle % 2 == 1
            run.tracer.enabled = tracing
            adds = table.adds(cycle, 1)
            t0 = time.perf_counter()
            table.commit(adds)
            table.sync()
            t1 = time.perf_counter()
            table.read(f"cycle {cycle}")
            t2 = time.perf_counter()
            measured += t2 - t0
            if cycle > WARM_CYCLES:
                run.samples["write_traced" if tracing else "write"].append(t1 - t0)
                run.samples["read"].append(t2 - t1)
    run.tracer.enabled = False
    table.check_source()
    run.record.update(cycles=cycle, loop_s=time.perf_counter() - t_loop)
    run.samples["py_rss"].append(rss.peak / 1e6)
    run.layer.update(sync_layer_state(table))
    live = table.expected[0]
    meta = sum(meta_size(table.root, f)[0] for f in TARGETS)
    run.samples["meta_bytes_per_file"].append(meta / live)


def sync_layer_state(table: SyncTable) -> dict:
    """Counts read off the three formats' metadata after the run."""
    from onetable_spark.formats.avro_codec import read_container

    out = {}
    for fmt in ("delta", "iceberg", "hudi"):
        out[f"formats.{fmt}.meta_bytes"], out[f"formats.{fmt}.meta_files"] = meta_size(
            table.root, fmt
        )
    out["formats.delta.checkpoints"] = sum(
        1 for n in os.listdir(table.readers["delta"].log_path) if ".checkpoint." in n
    )
    out["formats.hudi.active_instants"] = len(table.source_plane.completed_instants())
    # manifests carried over from the parent snapshot / manifests listed,
    # over every snapshot the Iceberg target holds
    md = table.readers["iceberg"].metadata()
    prev, listed, reused = set(), 0, 0
    for snap in md.get("snapshots", []):
        _, entries = read_container(snap["manifest-list"])
        paths = {m["manifest_path"] for m in entries}
        listed += len(paths)
        reused += len(paths & prev)
        prev = paths
    out["formats.iceberg.manifests"] = len(prev)
    out["formats.iceberg.manifests_reused_ratio"] = reused / listed if listed else 0.0
    return out


# ------------------------------------------------------------- registry

#: lifecycles staged in every run (the writes): an Iceberg
#: write-audit-publish, a Delta change data feed and a sync recovery
STAGED = ("iceberg_wap", "streaming_cdc_feed", "sync_recovery")

#: leading passes run and checked but left out of the samples: the first
#: pass compiles the queries' code paths
WARM_PASSES = 1
#: registered queries every pass runs (the reads), by family; the staged
#: lifecycles above are read back through their own queries
FAMILIES = {
    "tpch": ("tpch_q1", "tpch_q14"),
    "g": ("g1_files_diff",),
    "sync": ("sync_recovery",),
    "streaming": ("streaming_cdc_feed", "streaming_hopping"),
    "formats": ("iceberg_wap",),
    "dedup": ("substring_dedup",),
    "ann": ("ann_lsh_topk",),
    "text": ("tfidf_top_terms",),
    "multimodal": ("image_resize",),
    "analytics": ("cohort_retention",),
}
QUERIES = tuple(q for qs in FAMILIES.values() for q in qs)
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}


def query_registry(run: Run, traced: bool) -> None:
    """Set-up writes three corpora; the last one is used. The lifecycles are
    staged one after another, the staging phase timed as one write. Then
    passes over the queries in a seeded order, until ``--seconds`` of work
    is done and at least two passes ran. The first pass compiles the
    queries' code paths; it is run and checked but not sampled. One read
    is a later pass's mean query wall (build + collect): a mean over the
    pass, so the order cannot move it. A traced run makes exactly two
    passes and traces each query in one of them, so traced and untraced
    walls pair up."""
    import duckdb

    import __spark_entry__ as entry
    from onetable_spark import queries as registry
    from onetable_spark.session import TABLES

    spark_queries, oracle = entry.queries(), entry.oracle_sql()
    if "sync_foreign_table" in spark_queries and not _in_repo(registry.FOREIGN_FIXTURES):
        run.ops.skip(
            "sync_foreign_table", f"fixtures {registry.FOREIGN_FIXTURES} are not in the repository"
        )
    missing = [q for q in (*STAGED, *QUERIES) if q not in spark_queries]
    if missing:
        raise RuntimeError(f"queries not registered: {missing}")

    for rep in range(SETUP_REPS):
        sf_dir = str(run.work / f"sf{rep}")
        run.timed(["setup"], "setup", _corpus_setup, run, sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    rng = random.Random(run.seed)
    t_phase = time.perf_counter()
    with RssPeak() as rss:
        for name in STAGED:
            run.timed(["staging"], "queries.staging", _stage, spark_queries[name], run.spark, sf_dir)
        run.samples["write"].append(time.perf_counter() - t_phase)
        run.layer["queries.staging_s"] = run.samples["write"][0]
        passes = 0
        while passes < WARM_PASSES + 1 or (not traced and time.perf_counter() - t_phase < run.seconds):
            order = list(QUERIES)
            rng.shuffle(order)
            walls = []
            for name in order:
                tracing = traced and (QUERIES.index(name) + passes) % 2 == 0
                run.tracer.enabled = tracing
                t0 = time.perf_counter()
                try:
                    cols, rows = _run_query(run, name, spark_queries[name], sf_dir)
                except Exception:  # noqa: BLE001 - a failing query is a failed op
                    run.ops.record(False, f"{name}: {traceback.format_exc(limit=3)}")
                    continue
                finally:
                    run.tracer.enabled = False
                    walls.append(time.perf_counter() - t0)
                run.samples["query_traced" if tracing else "query"].append(walls[-1])
                err = compare_rows(cols, rows, oracle[name], con)
                run.ops.record(err is None, f"{name}: {err}")
            if passes >= WARM_PASSES:
                run.samples["read"].append(sum(walls) / len(walls))
            passes += 1
    run.record["passes"] = passes
    run.samples["py_rss"].append(rss.peak / 1e6)
    meta, data = staged_meta(Path(os.environ["TMPDIR"]))
    run.samples["meta_bytes_per_file"].append(meta / max(data, 1))


def _in_repo(path: str) -> bool:
    return Path(path).resolve().is_relative_to(REPO) and os.path.exists(path)


def _corpus_setup(run: Run, sf_dir: str) -> None:
    """One set-up: write the seeded corpus and build the shared token-hash
    index the registry's text and near-duplicate queries reuse."""
    from onetable_spark import queries as registry

    gen.write_corpus(run.seed, sf_dir)
    registry._corpus_token_hashes(run.spark, sf_dir).count()


def _stage(fn, spark, sf_dir) -> None:
    fn(spark, sf_dir).count()


def _run_query(run: Run, name: str, fn, sf_dir: str):
    """Build and collect one query; returns its columns and rows."""
    t0 = time.perf_counter()
    with run.tracer.span("queries.build"):
        df = fn(run.spark, sf_dir)
    t1 = time.perf_counter()
    with run.tracer.span("queries.exec"):
        rows = df.collect()
    t2 = time.perf_counter()
    if run.tracer.enabled:
        run.samples["queries.build"].append(t1 - t0)
        run.samples["queries.exec"].append(t2 - t1)
        run.samples[f"queries.{FAMILY_OF[name]}.exec"].append(t2 - t1)
    return df.columns, rows


def compare_rows(columns, rows, sql: str, con) -> str | None:
    """``tools/check_oracle.compare_result`` on rows already collected:
    schema by sorted column name, row count, then order-insensitive values
    under the same normalisation."""
    from tools.check_oracle import norm

    scols = sorted(columns)
    spark_vals = sorted(tuple(norm(r[c]) for c in scols) for r in rows)
    rel = con.execute(sql)
    dcols_raw = [d[0] for d in rel.description]
    drows = rel.fetchall()
    dorder = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
    dcols = [dcols_raw[i] for i in dorder]
    duck_vals = sorted(tuple(norm(r[i]) for i in dorder) for r in drows)
    if scols != dcols:
        return f"schema mismatch spark={scols} duckdb={dcols}"
    if len(spark_vals) != len(duck_vals):
        return f"rowcount spark={len(spark_vals)} duckdb={len(duck_vals)}"
    if spark_vals != duck_vals:
        diffs = [(a, b) for a, b in zip(spark_vals, duck_vals) if a != b]
        return f"{len(diffs)} differing rows; first: {diffs[:3]}"
    return None


def staged_meta(tmp: Path) -> tuple[int, int]:
    """(format metadata bytes, data files) over every table staged under ``tmp``."""
    meta = data = 0
    for dirpath, _, names in os.walk(tmp):
        parts = set(Path(dirpath).parts)
        in_meta = bool(parts & set(META_DIRS.values()))
        for n in names:
            if in_meta:
                meta += os.path.getsize(os.path.join(dirpath, n))
            elif n.endswith(".parquet"):
                data += 1
    return meta, data


WORKLOADS = {"sync_incremental": sync_incremental, "query_registry": query_registry}
