"""Job budgets, pinned like ``_GLOBAL_WINDOW_ALLOWLIST``: each entry
forces one library call inside its own job group and counts the Spark
jobs it launched through ``statusTracker``. Wall time per call fits
roughly a fixed cost plus ~0.04 s per job, so job count is a cost of its
own; a rewrite that adds a job must raise the budget here with a reason.

First entry: ``compat.doFolder_dataRed`` over a parquet curve bank and
an id9 log — the paper's reduction, re-run on the growing bank after
every folder re-scan in online mode. Every per-group quantity it needs
(reference pick, reference-ladder edges, per-grain ref totals) comes
from the window partitions the shot table already has; a summary
aggregated apart and broadcast back re-runs the whole upstream plan
(one more bank scan, log scan and job set per summary).
"""

from __future__ import annotations

import uuid

import numpy as np

from trx_spark import compat
from trx_spark.operators.multimodal import encode_edf
from trx_spark.sources.logfile import read_id9_log

NY = NX = 16
PONI = dict(dist=0.05, pixel=200e-6, xcen=NX / 2, ycen=NY / 2, E=10.0)
# id9 spelling: laser-off shots between the pumped delays
DELAYS = ["off", "100ps", "off", "300ps", "off", "1ns", "off", "100ps", "off"]
LOG_HEADER = (
    "# pd1 dark/sec : 2.0\n"
    "# file delay time currentmA pd1ic pd2ic timeic\n"
)

# doFolder_dataRed(...)["scan"]: the log's slice shuffle and broadcast,
# the acquisition-index shuffle, the reference-average add-back and the
# result. The physical plan scans the bank twice: for the shot table and
# for the add-back's branch. With adaptive execution on, the executed
# plan reuses the shot table's acquisition-index shuffle for the
# add-back (a ReusedExchange), so the bank is read once. Every further
# per-group summary joined back would add a bank scan, a log scan and
# their jobs.
REDUCTION_MAX_JOBS = 6
REDUCTION_MAX_BANK_SCANS = 2
REDUCTION_MAX_EXECUTED_BANK_SCANS = 1


def _bank_and_log(spark, tmp_path):
    """Parquet curve bank + id9 log, built like the compat journeys:
    flat EDF frames whose level codes the delay, integrated by
    ``compat.doFolder``."""
    folder = tmp_path / "sample" / "run1"
    folder.mkdir(parents=True)
    rows = []
    for i, d in enumerate(DELAYS):
        name = f"img_{i:04d}.edf"
        level = 50.0 if d == "off" else 60.0 + i
        (folder / name).write_bytes(encode_edf(np.full((NY, NX), level, dtype="f8")))
        rows.append(f"{name} {d} 10:00:{i:02d} 190.0 100.0 50.0 1.0\n")
    log_path = tmp_path / "waxs.log"
    log_path.write_text(LOG_HEADER + "".join(rows))
    bank_path = str(tmp_path / "bank")
    compat.doFolder(
        spark, str(folder), files="*.edf", nQ=5, qlims=(0.0, 0.2), poni=PONI
    ).write.parquet(bank_path)
    return spark.read.parquet(bank_path), read_id9_log(spark, str(log_path))


def _jobs_in_group(spark, fn):
    """Run ``fn`` inside a fresh job group; return (its result, jobs)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_doFolder_dataRed_scan_job_budget(spark, tmp_path):
    bank, log = _bank_and_log(spark, tmp_path)

    def reduce_and_force():
        scan = compat.doFolder_dataRed(bank, log)["scan"]
        scan.write.format("noop").mode("overwrite").save()
        return scan

    scan, jobs = _jobs_in_group(spark, reduce_and_force)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert jobs <= REDUCTION_MAX_JOBS, f"{jobs} jobs\n{plan[:3000]}"
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    scans = plan.count("Scan parquet")
    assert scans <= REDUCTION_MAX_BANK_SCANS, f"{scans} bank scans\n{plan[:3000]}"
    # the budget counts a real reduction, not an empty one
    assert len(scan.collect()) == 4 * 5  # 4 delays (off + 3 pumped) x nQ
    # the collect ran this frame's own adaptive plan to its final form
    final = scan._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final[:3000]
    final = final.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    executed_scans = final.count("Scan parquet")
    assert executed_scans <= REDUCTION_MAX_EXECUTED_BANK_SCANS, (
        f"{executed_scans} executed bank scans\n{final}"
    )
