"""Job budgets, pinned like ``_GLOBAL_WINDOW_ALLOWLIST``: each entry
forces one library call inside its own job group and counts the Spark
jobs it launched through ``statusTracker``. Wall time per call fits
roughly a fixed cost plus ~0.04 s per job, so job count is a cost of its
own; a rewrite that adds a job must raise the budget here with a reason.

First entry: ``compat.doFolder_dataRed`` over a parquet curve bank and
an id9 log — the paper's reduction, re-run on the growing bank after
every folder re-scan in online mode. Every per-group quantity it needs
(reference pick, reference-ladder edges, per-grain ref totals, the
reference average of the add-back) comes from the window partitions the
shot table already has; a summary aggregated apart and joined back
re-runs the whole upstream plan (one more bank scan, log scan and job
set per summary).

Second entry: one whole ``compat.FolderPoller`` wave — poll, bank,
log, reduce and ``saveTxt`` — the online mode's unit of work.
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

# doFolder_dataRed(...)["scan"]: the log's broadcast, the acquisition
# index's single-partition shuffle and the result. The bank is read once:
# one shot-table branch (bank ⨝ log), whose window partitions every later
# window, the scan-point aggregate and the carried reference average
# reuse. The log is read unsliced, so its branch plans no row_number
# window (a single-partition shuffle of its own).
REDUCTION_MAX_JOBS = 3
REDUCTION_MAX_BANK_SCANS = 1

# One FolderPoller wave after the first (the detector geometry is built
# once per detector, on the first, so a later poll pays no geometry
# rebuild): poll 3, bank 1, log 2 (the id9 dtype probe's aggregate),
# reduce 0 (lazy), saveTxt 3 (the scan above). The scan carries q, so
# saveTxt joins no (q_bin, q) map read off the bank.
WAVE_MAX_JOBS = 9


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


def _log_branch(plan: str) -> list[str]:
    """The operators between the log's text scan and the join that takes
    it in, read off a plan's tree string (a node's ancestors are the
    nearest lines above it at a smaller indent)."""
    lines = plan.splitlines()

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    i = next(k for k, line in enumerate(lines) if "FileScan text" in line)
    depth, path = indent(lines[i]), []
    for line in reversed(lines[:i]):
        if indent(line) < depth:
            if "Join" in line:
                return path
            path.append(line.strip())
            depth = indent(line)
    raise AssertionError(f"no join above the log scan\n{plan}")


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
    # one bank scan, feeding one shot-table branch: a single bank ⨝ log
    # join and no exchange reused by a second branch
    assert final.count("Scan parquet") == 1, final
    joins = sum(final.count(j) for j in ("HashJoin", "SortMergeJoin", "NestedLoopJoin"))
    assert joins == 1 and "ReusedExchange" not in final, final
    # the unsliced log plans no window
    assert not [op for op in _log_branch(final) if "Window" in op], final


def _wave(folder, log_path, wave: int, per_wave: int = 4) -> None:
    """``per_wave`` flat EDF frames (off/on alternating) and their log rows."""
    rows = []
    for j in range(per_wave):
        i = wave * per_wave + j
        d = "off" if j % 2 == 0 else ["100ps", "1ns"][(j // 2) % 2]
        name = f"img_{i:04d}.edf"
        level = 50.0 if d == "off" else 60.0 + j
        (folder / name).write_bytes(encode_edf(np.full((NY, NX), level, dtype="f8")))
        rows.append(f"{name} {d} 10:00:{i:02d} 190.0 100.0 50.0 1.0\n")
    with open(log_path, "a") as f:
        if wave == 0:
            f.write(LOG_HEADER)
        f.write("".join(rows))


def test_folder_poller_wave_job_budget(spark, tmp_path):
    folder = tmp_path / "sample" / "run1"
    folder.mkdir(parents=True)
    log_path = tmp_path / "waxs.log"
    poller = compat.FolderPoller(
        spark, str(folder), store_dir=str(tmp_path / "store"), files="*.edf",
        nQ=5, qlims=(0.0, 0.2), poni=PONI, detector_shape=(NY, NX),
    )

    def wave():
        assert poller.poll() == 4
        bank = poller.bank()
        res = compat.doFolder_dataRed(bank, read_id9_log(spark, str(log_path)))
        return compat.saveTxt(res, str(tmp_path / "reduced"), curves=bank)

    for w in range(2):
        _wave(folder, log_path, w)
        written, jobs = _jobs_in_group(spark, wave)
    assert jobs <= WAVE_MAX_JOBS, f"{jobs} jobs in one wave"
    # the counted wave wrote a real text family: 3 matrices + 3 delays
    assert len(written) == 3 + 3
