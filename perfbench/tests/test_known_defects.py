"""A known defect of the program that the ``sync_incremental`` workload is
built around, kept in view here. This test starts Spark and takes about a
minute.

    python3 -m pytest perfbench/tests/test_known_defects.py -q

``HudiTarget`` archives every instant but the 10 latest after each sync,
and ``HudiTimeline.snapshot_files`` replays only the active timeline. So
from the 10th incremental sync on, a Hudi target loses the files of the
archived commits. A benchmark workload must be one on which no operation
fails, so ``sync_incremental`` syncs a Hudi source into Iceberg + Delta
instead of a Delta source into Iceberg + Hudi.

The test syncs a Delta source into Iceberg + Hudi past archival and is
expected to fail while the defect stands. Once it is fixed the test
passes, the strict ``xfail`` reports that as a failure, and Hudi can go
back among the workload's targets.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run as runner  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.mark.xfail(
    strict=True,
    reason="a Hudi target drops the files of archived instants from its live set",
)
def test_hudi_target_keeps_its_files_past_archival(tmp_path):
    runner.isolate(tmp_path, traced=False)
    from onetable_spark.session import get_spark

    spark = get_spark("perfbench-known-defects")
    try:
        run = workloads.Run(spark, Tracer(), seed=1, seconds=0, work=tmp_path)
        table = workloads.SyncTable(
            run, str(tmp_path / "t"), source="delta", targets=("iceberg", "hudi"), partitions=4
        )
        table.bootstrap(1)
        for cycle in range(1, workloads.MIN_CYCLES + 1):
            table.commit(table.adds(cycle, 1))
            table.sync()
            table.read(f"cycle {cycle}")
        table.check_source()
    finally:
        runner.stop(spark)
    assert run.ops.failed == 0, run.ops.reasons
