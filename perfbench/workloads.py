"""The benchmark's workloads: one pass of fixed work each, plus its checks.

``online_waves`` drives ``compat.FolderPoller`` over a folder that receives
waves of EDF frames; after each wave it polls, reads the id9 log, reduces
the growing bank with ``compat.doFolder_dataRed`` and writes the text
family with ``compat.saveTxt``. ``registry_mix`` runs a slice of the query
registry over the bundled sf0.001 tables, forcing each query by collecting
it (with a noop write in the traced pass). Both take a tracer; the
untraced run passes a ``NullTracer``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import gen

HERE = Path(__file__).resolve().parent
SF_DIR = HERE / "data" / "sf0.001"
EXPECTED = HERE / "registry_expected.json"

# One wave of online_waves, and the registry slice, at the benchmark's size
# ("full") and the self-test's ("tiny"). Every wave and query costs seconds
# of fixed driver and Spark overhead whatever the data size, and the first
# wave in a fresh JVM costs about three warm ones, so the run budget holds
# one warm-up wave and one timed wave.
ONLINE = {"full": dict(warm_waves=1, per_wave=16, shape=64, nq=100),
          "tiny": dict(warm_waves=0, per_wave=2, shape=32, nq=20)}
REGISTRY = {
    "full": ["pricing_summary", "scanpoint_stats", "chi2_filter_auto",
             "pagerank_copurchase", "png_decode_stats"],
    "tiny": ["pricing_summary", "png_decode_stats"],
}
IMAGE_QUERY = "png_decode_stats"  # one output row per decoded image
# Further runs of the image query after each timed registry pass, outside
# run_s: one run lasts about 1 s, and a single latency per run spread by a
# quarter of its median across runs, so images_per_s takes the median of
# this many runs plus the pass's own.
IMAGE_REPEATS = 4


@dataclass
class Ops:
    """Operations attempted and failed; a failed output check is a failure."""

    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


@dataclass
class PassResult:
    seconds: float                 # wall time of the pass's timed work
    latencies: list                # one per operation (wave or query)
    images: int                    # frames or images the pass carried
    image_s: float                 # wall time of the work that carried them (a median
                                   # over runs of the image query on registry_mix)
    extra: dict = field(default_factory=dict)

    @property
    def images_per_s(self) -> float:
        return self.images / self.image_s if self.image_s > 0 else 0.0


def _fail(ops: Ops, what: str) -> None:
    traceback.print_exc(file=sys.stderr)
    ops.record(False, what)


# -- online_waves --------------------------------------------------------
class OnlineWaves:
    """One seeded acquisition arriving at a ``compat.FolderPoller`` in
    waves of the same size; each wave is one pass. The bank, the store and
    the log grow by one wave every pass, warm-up waves included, so the
    warm-up runs the timed waves' plans at the same shape, nQ and qlims."""

    def __init__(self, spark, work: Path, seed: int, size: str):
        from trx_spark import compat

        self.spark, self.p = spark, ONLINE[size]
        n = self.p["shape"]
        shutil.rmtree(work, ignore_errors=True)
        self.folder = work / "sample" / "run1"
        self.folder.mkdir(parents=True)
        self.log_path, self.out, self.store = work / "waxs.log", work / "reduced", work / "store"
        self.acq = gen.Acquisition(seed, n, n)
        self.poller = compat.FolderPoller(
            spark, str(self.folder), store_dir=str(self.store), nQ=self.p["nq"],
            qlims=self.acq.qlims, poni=self.acq.poni, detector_shape=(n, n),
        )
        self.waves = 0

    def warm_up(self, tr, ops: Ops) -> None:
        """The first waves, untimed; only their poll counts are checked."""
        for _ in range(self.p["warm_waves"]):
            self.wave(tr, ops, check=False)

    def wave(self, tr, ops: Ops, corrupt: bool = False, check: bool = True) -> PassResult:
        """Write the next wave, then poll, read the log, reduce the bank and
        write the text family. The poll count, and with ``check`` the
        reduced output and the file family, are checked after the pass's
        clock stops."""
        from trx_spark import compat
        from trx_spark.sources.logfile import read_id9_log

        spark, w, per_wave = self.spark, self.waves, self.p["per_wave"]
        self.waves += 1
        t_pass = time.perf_counter()
        self.acq.wave(str(self.folder), w, per_wave, str(self.log_path))
        tr.new_chain()
        t0 = time.perf_counter()
        try:
            with tr.span("online.poll", "poll", upstream=("integrate",)):
                got = self.poller.poll()
            with tr.span("online.bank", "bank") as rec:
                bank = self.poller.bank()
                tr.force(rec, bank)
            with tr.span("sources.log") as rec:
                log = read_id9_log(spark, str(self.log_path))
                tr.force(rec, log)
            with tr.span("compat.doFolder_dataRed", "reduce",
                         upstream=("bank", "sources.log")) as rec:
                res = compat.doFolder_dataRed(bank, log)
                tr.force(rec, res["scan"])
            with tr.span("compat.saveTxt", "sink", upstream=("reduce", "bank")), \
                    kept_pandas(res["scan"]) as sunk:
                written = compat.saveTxt(res, str(self.out), curves=bank)
        except Exception:
            seconds = time.perf_counter() - t_pass
            _fail(ops, f"wave {w} raised")
            return PassResult(seconds=seconds, latencies=[], images=0, image_s=seconds)
        latency = time.perf_counter() - t0
        seconds = time.perf_counter() - t_pass

        ok = got == per_wave and (
            not check or check_online(res, sunk, written, self.acq, corrupt))
        ops.record(ok, f"wave {w}: polled {got} of {per_wave} files or output check failed")
        store_files = [f for f in self.store.rglob("*") if f.is_file()]
        return PassResult(
            seconds=seconds, latencies=[latency], images=got if ok else 0, image_s=seconds,
            extra={"sink.files": len(written),
                   "sink.bytes": sum(os.path.getsize(f) for f in set(written) if os.path.isfile(f)),
                   "poll.new_files": got, "store.files": len(store_files),
                   "store.bytes": sum(f.stat().st_size for f in store_files)},
        )


@contextmanager
def kept_pandas(df):
    """Keep every pandas frame that ``toPandas`` returns inside the block.

    ``saveTxt`` collects the reduced scan once to write it; checking the
    frame it collected checks the sink's own data and spares the check a
    second run of the whole reduction (7 s of an 80 s run on one CPU)."""
    cls = type(df)
    to_pandas = cls.toPandas
    kept = []

    def keep(self, *a, **kw):
        pdf = to_pandas(self, *a, **kw)
        kept.append(pdf)
        return pdf

    cls.toPandas = keep
    try:
        yield kept
    finally:
        cls.toPandas = to_pandas


def check_online(res, sunk, written, acq, corrupt: bool) -> bool:
    """Closed form per q bin and delay, and the saveTxt file family.
    ``sunk`` holds the frames saveTxt collected; if none carries the scan's
    columns (saveTxt no longer goes through ``toPandas``), the scan is
    collected again."""
    cols = {"delay", "diff_plus_ref", "mean_diff"}
    scan = next((f.copy() for f in sunk if cols <= set(f.columns)), None)
    if scan is None:
        scan = res["scan"].toPandas()
    if corrupt:
        scan.loc[scan.index[0], "diff_plus_ref"] *= 1.0 + 1e-6
        os.remove(written[0])
    ok = len(scan) > 0
    for d, grp in scan.groupby("delay"):
        ratio = (grp["diff_plus_ref"] / (grp["diff_plus_ref"] - grp["mean_diff"])).to_numpy()
        want = acq.scale(float(d))
        if not np.allclose(ratio, want, rtol=1e-9, atol=0.0):
            print(f"perfbench: delay {d}: ratio {ratio.min()}..{ratio.max()} != {want}",
                  file=sys.stderr)
            ok = False
    want_files = 3 + scan["delay"].nunique()  # three matrices + one per delay
    if len(written) != want_files or not all(os.path.isfile(f) for f in written):
        print(f"perfbench: saveTxt left {len(written)} files, want {want_files}",
              file=sys.stderr)
        ok = False
    return bool(ok)


# -- registry_mix --------------------------------------------------------
def registry_pass(spark, size: str, tr, ops: Ops, *, image_repeats: int = 0,
                  corrupt: bool = False) -> PassResult:
    """Every query of the slice, each built and then forced, after the
    shared-stage memos are cleared. Untraced, a query is forced by
    collecting it (at most 1000 rows here), so that once the pass's clock
    has stopped each output's row count and checksum is compared with the
    stored values without running the query again, and the image query's
    rows count the images it decoded. The warm-up and the timed passes
    are the same work. After the pass's clock stops, an untraced pass runs
    the image query ``image_repeats`` more times, each checked like the
    rest, and reports the median of its latencies. The traced pass forces
    with a noop write instead and is not checked."""
    from trx_spark import cache
    from trx_spark.queries import QUERIES

    cache.clear_stage_caches(spark)
    latencies, outputs, image_lat = [], [], []
    t_pass = time.perf_counter()
    for name in REGISTRY[size]:
        tr.new_chain()
        t0 = time.perf_counter()
        try:
            with tr.span(f"q.{name}.build", "queries.build"):
                df = QUERIES[name](spark, str(SF_DIR))
            with tr.span(f"q.{name}.exec", "queries.exec", upstream=("decode",)) as rec:
                if tr.enabled:
                    tr.force(rec, df)
                else:
                    outputs.append((name, df.collect()))
        except Exception:
            _fail(ops, f"{name} raised")
            continue
        latencies.append(time.perf_counter() - t0)
        if name == IMAGE_QUERY:
            image_lat.append(latencies[-1])
        if tr.enabled:
            ops.record(True, name)
    seconds = time.perf_counter() - t_pass
    image_runs = 0
    if IMAGE_QUERY in REGISTRY[size] and not tr.enabled:
        image_runs = 1 + image_repeats
        for _ in range(image_repeats):
            t0 = time.perf_counter()
            try:
                outputs.append((IMAGE_QUERY, QUERIES[IMAGE_QUERY](spark, str(SF_DIR)).collect()))
            except Exception:
                _fail(ops, f"{IMAGE_QUERY} raised")
                continue
            image_lat.append(time.perf_counter() - t0)

    expected = json.loads(EXPECTED.read_text())
    images = []
    for name, rows in outputs:
        got = checksum(rows + rows[:1] if corrupt else rows)
        ok = got == expected.get(name)
        if not ok:
            print(f"perfbench: {name}: got {got}, stored {expected.get(name)}", file=sys.stderr)
        elif name == IMAGE_QUERY:
            images.append(len(rows))
        ops.record(ok, f"{name}: row count or checksum differs from the stored values")
    # the images count only when every run of the image query checked good
    ok_images = images[0] if image_runs and len(images) == image_runs else 0
    return PassResult(seconds=seconds, latencies=latencies, images=ok_images,
                      image_s=statistics.median(image_lat) if image_lat else 0.0)


def checksum(rows) -> dict:
    """Row count and a digest of the rows' reprs in sorted order, so that
    the check does not depend on row order; ``repr`` keeps every digit of
    a float."""
    lines = sorted(repr(tuple(r)) for r in rows)
    return {"rows": len(lines),
            "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest()}
