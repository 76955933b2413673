"""Reference-shaped façade: the three entry points a marcocamma/trx
user calls, with the reference's names and knob vocabulary, mapped
onto this engine's Spark-first pipelines. A migration is
``trx.azav.doFolder(folder, ...)`` → ``compat.doFolder(spark, folder,
geometry, ...)`` with the same keyword meanings; everything returns
lazy DataFrames (collect/sink when ready) instead of the reference's
eager numpy containers.

Signature sources: ``doFolder`` ← trx/azav.py:230-290,
``doFolder_dataRed`` ← trx/id9.py:226-303, ``doFolder`` (online loop)
← trx/id9.py:305-335. The poni-file geometry init (trx/azav.py:96-129,
173-228 getAI) is sources.poni: ``poni="file.poni"`` resolves with
getAI's search order and generates the per-pixel geometry DataFrame
(y, x, q, chi, solid_angle, pol_corr) distributed — built once per
detector and broadcast (SURVEY U8); an explicit geometry DataFrame is
still accepted. The online loop is Structured Streaming
(trx_spark/streaming/incremental.py) rather than a sleep-poll.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.operators import masks as _masks
from trx_spark.operators.multimodal import decode_image, read_binary_assets
from trx_spark.pipeline import (
    IntegrationConfig,
    ReductionConfig,
    data_reduction,
    integrate_folder,
)
from trx_spark.streaming import store


def _as_mask(mask: str | Column | None) -> Column | None:
    """Reference masks arrive as DSL strings ('x>400;y<100' etc.,
    trx/mask.py maskBorder/interpretMask); accept those or a ready
    Column predicate (True = excluded)."""
    if mask is None or isinstance(mask, Column):
        return mask
    return _masks.mask_from_string(mask)


def doFolder(
    spark: SparkSession,
    folder: str,
    geometry: DataFrame | None = None,
    *,
    files: str = "*.edf*",
    nQ: int = 1500,
    mask: str | Column | None = None,
    dark: float = 0.0,
    qlims: tuple[float, float] | None = None,
    monitor: tuple[float, float] | None = None,
    dezinger: float | None = None,
    poni: str | dict | None = None,
    detector_shape: tuple[int, int] | None = None,
) -> DataFrame:
    """trx/azav.py:230 ``doFolder``: folder of detector images →
    per-image I(q) curves. ``files`` is the same glob (gzip-wrapped
    EDF/CBF/TIFF decode transparently via the magic-byte sniffer);
    ``nQ`` → radial bins, ``qlims`` → (q_min, q_max), ``monitor`` →
    the q-window normalization, ``dezinger`` → the percentile knob.

    Geometry comes either as an explicit per-pixel DataFrame or — the
    reference's own vocabulary — as ``poni=``: a ``.poni`` filename
    (resolved with getAI's search order: the path itself, then
    ``folder`` and all its parents, then cwd and home —
    trx/azav.py:190-212) or a getAI-style parameter dict (``dist``/
    ``poni1``/``xcen``/``pixel``/``E``/...). The per-pixel table is
    then generated distributed (sources.poni) for ``detector_shape``;
    when omitted, the shape is probed from the first image of the
    folder (one bounded single-image decode).

    Returns the lazy curve bank (file, q_bin, q, i, err, ...); persist
    it with sources.sinks.save_with_config for the reference's
    azav.h5-style cached store (F7 config-hash invalidation)."""
    q_min, q_max = qlims if qlims is not None else (0.0, 10.0)
    if dezinger is not None and dezinger <= 0:
        # reference semantics: dezinger=0/negative disables dezingering
        # (trx/azav.py dodezinger: 'if dezinger is None or dezinger <= 0:
        # return imgs') — a no-op, not an error
        dezinger = None
    if dezinger is not None:
        # the reference/pyFAI knob is ALWAYS on the 0-100 percentile
        # scale (trx/azav.py:254-257, 'percentile=50'); the engine's
        # native dezinger takes a [0, 1] fraction, so the façade
        # rescales unconditionally — a conditional "only if > 1"
        # rescale would silently reinterpret a reference-style
        # dezinger=1 (the 1st percentile) as the fraction 1.0, the
        # maximum, inverting the intended baseline. Fraction-form
        # callers belong on operators.azav.dezinger directly.
        if not 0.0 < dezinger <= 100.0:
            raise ValueError(
                f"compat dezinger={dezinger!r} must be a percentile in "
                "(0, 100] (the reference/pyFAI scale); for a [0, 1] "
                "fraction use the native operators.azav.dezinger"
            )
        dezinger = dezinger / 100.0
    assets = read_binary_assets(spark, f"{folder.rstrip('/')}/{files}", "image")
    if geometry is None:
        if poni is None:
            raise ValueError("doFolder needs either a geometry DataFrame or poni=")
        from trx_spark.sources.poni import (
            apply_overrides,
            load_poni,
            poni_geometry_table,
        )

        geom = (
            apply_overrides(**poni)
            if isinstance(poni, dict)
            else load_poni(poni, folder=folder)
        )
        if detector_shape is None:
            # bounded probe: decode ONE image to learn (ny, nx), the
            # reference's own move (azav.py:41 'read one image to know
            # img size')
            probe = (
                decode_image(assets.limit(1), codec="auto")
                .agg(F.max("y").alias("my"), F.max("x").alias("mx"))
                .collect()[0]
            )
            detector_shape = (int(probe["my"]) + 1, int(probe["mx"]) + 1)
        geometry = poni_geometry_table(spark, geom, detector_shape)
    pixels = decode_image(assets, codec="auto").withColumn(
        "file", F.element_at(F.split(F.col("file"), "/"), -1)
    )
    cfg = IntegrationConfig(
        q_min=q_min,
        q_max=q_max,
        n_bins=nQ,
        dark=dark,
        dezinger_percentile=dezinger,
        monitor_q_window=monitor,
        mask=_as_mask(mask),
    )
    return integrate_folder(pixels, geometry, cfg)


# the id9 variant is the same integration with the beamline log read
# alongside (trx/id9.py:191-223 doFolder_azav) — here the log read is
# sources.logfile.read_id9_log and the join happens in dataRed
doFolder_azav = doFolder


def doFolder_dataRed(
    curves: DataFrame,
    log: DataFrame,
    *,
    reference: str | float = "min",
    chi2_threshold: float | None = None,
    extra_group: tuple[str, ...] = (),
    split_angle: bool = False,
) -> dict[str, DataFrame]:
    """trx/id9.py:226 ``doFolder_dataRed``: curve bank ⨝ log →
    reference pick (min/max/value, P9) → as-of interpolation (J2) →
    diffs → per-delay averages with χ² (A4-A7) → non-destructive χ²
    filter (F1) → filtered re-aggregation (F6).

    ``split_angle`` mirrors trx/id9.py:246-263: the reference loops
    ``doFolder_dataRed`` once per unique ``azav.log.angle`` with an
    index mask and stacks the results; here the same semantics is one
    declarative pass with ``angle`` added to the group keys (SURVEY E2)
    — every reference pick, interpolation window, and per-delay
    aggregate partitions by angle, so angles never mix and the engine
    still runs a single shuffle instead of a per-angle driver loop.

    Returns {'shots', 'scan', 'scan_filtered'} lazy frames — the
    reference's data.red container split into its three views (with
    ``split_angle`` each carries the ``angle`` column, the relational
    form of the reference's DataStorage(angles=…, diffs=[…]) stack).
    For a multi-run batch pass the run key in ``extra_group`` (every
    window then partitions by it; see pipeline.data_reduction scale
    note)."""
    groups = list(extra_group)
    if split_angle:
        if "angle" not in log.columns:
            raise ValueError(
                "split_angle=True requires an 'angle' column in the log "
                "(the reference reads azav.log.angle, trx/id9.py:247)"
            )
        if "angle" not in groups:
            groups.append("angle")
    cfg = ReductionConfig(
        reference=reference,
        chi2_threshold=chi2_threshold,
        extra_group=groups,
    )
    return data_reduction(curves, log, cfg)


def _sink_inputs(
    res: dict[str, DataFrame],
    folder: str,
    basename: str,
    curves: DataFrame | None,
    *,
    auto_end: str,
) -> tuple[DataFrame, str, str, str]:
    """Shared front of the text sinks: ``(scan, x, folder, basename)``.
    ``x`` is the scan's q axis — ``q``, else ``q_bin``, which the curve
    bank's (q_bin, q) map turns back into physical ``q`` when ``curves``
    is given. ``folder`` is made absolute; ``basename='auto'`` becomes
    the folder's last two path components joined with ``_``, plus
    ``auto_end``."""
    import os

    scan = res["scan"]
    x = "q" if "q" in scan.columns else "q_bin"
    if x == "q_bin" and curves is not None and {"q_bin", "q"} <= set(curves.columns):
        qmap = curves.select("q_bin", "q").distinct()
        scan = scan.join(qmap, "q_bin")
        x = "q"
    folder = os.path.abspath(folder)
    if basename == "auto":
        sep = os.sep
        basename = "_".join(folder.rstrip(sep).split(sep)[-2:]) + auto_end
    return scan, x, folder, basename


def saveTxt(
    res: dict[str, DataFrame],
    folder: str,
    *,
    basename: str = "auto",
    delay: str = "delay",
    delay_to_str: bool = True,
    curves: DataFrame | None = None,
    group: str | None = None,
) -> list[str]:
    """trx/dataReduction.py:245-291 ``saveTxt``: write the reduced scan
    as the reference's text-file family —

    * ``<basename>diff_av_matrix.txt``      (q × delays, mean_diff)
    * ``<basename>diff_plus_ref_av_matrix.txt``  (diff + ref average)
    * ``<basename>diff_av_matrix_err.txt``  (err of mean)
    * one ``<basename>diff_av_<delay>.txt`` per scan point
      (columns q diff err, trx/dataReduction.py:278-287)

    ``basename='auto'`` joins the folder's last two path components
    (the reference's sample/run convention, dataReduction.py:247-252);
    delays format through the engine's ``time_to_str`` codec
    (trx/utils/string.py ``timeToStr``) unless ``delay_to_str=False``
    (then '%+10.5e' like the reference); two distinct delays that
    round to the same label (1.0e-9 and 1.4e-9 are both '+1ns' at
    digits=0) fall back to the exact '%+10.5e' form so files never
    collide. The scan frame is tiny (delays × q bins) by construction
    — the collect here is the S10 golden-sink contract, never raw
    data. If the scan only carries ``q_bin``, pass the curve bank as
    ``curves`` to recover physical q via its (q_bin, q) map.

    A scan carrying a ``group`` column (an ``angle`` from
    ``split_angle=True``, or any ``extra_group`` key) writes ONE file
    family per group value (`<basename><group><value>_...`), matching
    the reference's per-angle loop; ``group`` defaults to ``angle``
    when that column is present, and duplicate (q, delay) rows with no
    group to split on raise instead of silently averaging. Returns the
    written paths."""
    import os

    from trx_spark.functions.strings import time_to_str

    scan, x, folder, basename = _sink_inputs(res, folder, basename, curves, auto_end="_")
    label = (
        time_to_str(F.col(delay))
        if delay_to_str
        else F.format_string("%+10.5e", F.col(delay))
    )
    pdf = (
        scan.withColumn("_dstr", label)
        .toPandas()
        .sort_values([delay, x])
        .reset_index(drop=True)
    )
    if group is None and "angle" in pdf.columns:
        group = "angle"
    os.makedirs(folder, exist_ok=True)
    if group is not None and group in pdf.columns:
        # one file family per group value — the relational form of the
        # reference's per-angle loop (id9.py:246-263 stacks per-angle
        # reductions; here each angle gets its own basename prefix)
        written: list[str] = []
        for gv, sub in pdf.groupby(group, sort=True):
            written += _save_txt_family(
                sub, folder, f"{basename}{group}{gv}_", x=x, delay=delay
            )
        return written
    return _save_txt_family(pdf, folder, basename, x=x, delay=delay)


def _save_txt_family(pdf, folder: str, basename: str, *, x: str, delay: str) -> list[str]:
    """Write one matrix + per-delay text family for a single-group
    scan frame (see :func:`saveTxt`)."""
    import os

    dup = pdf.duplicated(subset=[delay, x])
    if dup.any():
        raise ValueError(
            "scan frame has duplicate (delay, q) rows — it carries an "
            "ungrouped key (multi-angle / multi-run); pass group=<column> "
            "to saveTxt so each group writes its own file family instead "
            "of silently averaging"
        )
    fmt = "%+10.5e"
    delays = list(dict.fromkeys(zip(pdf[delay], pdf["_dstr"])))
    # disambiguate label collisions (two delays rounding to the same
    # time_to_str name) with the exact scientific form
    seen: dict[str, int] = {}
    for _, s in delays:
        seen[s] = seen.get(s, 0) + 1
    delays = [
        (d, s if seen[s] == 1 else fmt % d) for d, s in delays
    ]
    written: list[str] = []

    def _write(path: str, lines: list[str]) -> None:
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        written.append(path)

    # matrix files: one row per q, one column per scan point
    for stem, col in (
        ("diff_av_matrix", "mean_diff"),
        ("diff_plus_ref_av_matrix", "diff_plus_ref"),
        ("diff_av_matrix_err", "err_of_mean"),
    ):
        if col not in pdf.columns:
            continue
        piv = pdf.pivot(index=x, columns=delay, values=col)
        lines = ["# delays : " + " ".join(s for _, s in delays)]
        lines.append("# " + " ".join([x, *(s for _, s in delays)]))
        for qv, row in piv.iterrows():
            lines.append(
                " ".join([fmt % qv, *(fmt % row[d] for d, _ in delays)])
            )
        _write(os.path.join(folder, f"{basename}{stem}.txt"), lines)

    # one file per scan point: q diff err
    for d, dstr in delays:
        sub = pdf[pdf[delay] == d]
        cols = [c for c in ("mean_diff", "err_of_mean") if c in pdf.columns]
        lines = ["# delay : " + dstr, "# " + " ".join([x, "diff", "err"][: 1 + len(cols)])]
        for _, r in sub.iterrows():
            lines.append(" ".join(fmt % r[c] for c in [x, *cols]))
        _write(os.path.join(folder, f"{basename}diff_av_{dstr}.txt"), lines)
    return written


def save_diffs_xy(
    res: dict[str, DataFrame],
    folder: str,
    *,
    basename: str = "auto",
    delay: str = "delay",
    curves: DataFrame | None = None,
    energy: float | None = None,
    wavelength: float | None = None,
) -> list[str]:
    """trx/utils/misc.py:67-80 ``save_diffs_xy``: one 2-column ``.xy``
    file (2θ_deg, diff_plus_ref) per scan point — "files that topas
    likes" — named ``<basename>_<i:03d>_<timeToStr(delay)>.xy`` with
    ``%f`` formatting, scan points enumerated in ascending-delay order
    (the reference zips ``diffs.scan``, which is np.unique-sorted).

    ``basename='auto'`` joins the folder's last two path components
    with ``_`` (the reference's sample_run convention, misc.py:73-76).
    The 2θ axis uses a ``twotheta_deg`` column when the scan carries
    one; otherwise it is derived from ``q`` via ``q_to_two_theta``
    with the given ``energy``/``wavelength`` (the reference
    precomputes ``diffs.twotheta_deg`` from the azav geometry the same
    way, trx/azav.py:396-397); a ``q_bin``-only scan recovers physical
    q through the ``curves`` (q_bin, q) map as in :func:`saveTxt`.
    The scan frame is tiny (delays × q bins) — the collect is the S12
    golden-sink contract. Returns the written paths."""
    import os

    from trx_spark.functions.scattering import q_to_two_theta
    from trx_spark.functions.strings import time_to_str

    if "diff_plus_ref" not in res["scan"].columns:
        raise ValueError(
            "save_diffs_xy needs the 'diff_plus_ref' column (the "
            "reference writes diffs_plus_ref, misc.py:77-80) — pass the "
            "'scan' frame from doFolder_dataRed"
        )
    scan, x, folder, basename = _sink_inputs(res, folder, basename, curves, auto_end="")
    if "twotheta_deg" in scan.columns:
        tt = F.col("twotheta_deg")
    elif x == "q" and (energy is not None or wavelength is not None):
        tt = q_to_two_theta("q", as_deg=True, energy=energy, wavelength=wavelength)
    else:
        raise ValueError(
            "no 2theta axis: provide a 'twotheta_deg' column, or a "
            "physical 'q' column (via curves=) plus energy=/wavelength="
        )
    pdf = (
        scan.withColumn("_tt", tt)
        .withColumn("_dstr", time_to_str(F.col(delay)))
        .select(delay, "_dstr", "_tt", "diff_plus_ref")
        .toPandas()
        .sort_values([delay, "_tt"])
        .reset_index(drop=True)
    )
    if pdf.duplicated(subset=[delay, "_tt"]).any():
        raise ValueError(
            "scan frame has duplicate (delay, 2theta) rows — it carries "
            "an ungrouped key (multi-angle / multi-run); reduce per group "
            "and call save_diffs_xy once per group"
        )
    os.makedirs(folder, exist_ok=True)
    written: list[str] = []
    delays = list(dict.fromkeys(zip(pdf[delay], pdf["_dstr"])))
    for i, (d, dstr) in enumerate(delays):
        sub = pdf[pdf[delay] == d]
        path = os.path.join(folder, f"{basename}_{i:03d}_{dstr}.xy")
        with open(path, "w") as f:
            for _, r in sub.iterrows():
                f.write("%f %f\n" % (r["_tt"], r["diff_plus_ref"]))
        written.append(path)
    return written


class SpecFile:
    """trx/utils/spec.py:20 ``SpecFile`` facade over the pure-text SPEC
    reader (no PyMca): ``getScan`` returns the labeled scan data as a
    DataFrame (labels sanitized ``/``→``_`` like the reference,
    spec.py:57), with the reference's ``ycol``/``normalize`` semantics
    — ``ycol='all'`` → every column; a label → two columns (x = first
    label, y = ycol) normalized by ``'max'`` (y/max), an int row index
    (y / y[i]), a ``slice`` (y / mean(y[slice])), or ``None``. The
    display helpers (``showMotors``/``showScan``) are plotting surface
    (SURVEY U10, out of scope); their data lives in :meth:`motors` and
    :meth:`getScan`."""

    def __init__(self, spark: SparkSession, fname: str):
        self.spark = spark
        self.fname = fname

    def scan_numbers(self) -> list[int]:
        from trx_spark.sources.specfile import spec_scan_headers

        return [h.number for h in spec_scan_headers(self.fname)]

    def motors(self, scanno: int | None = None) -> DataFrame:
        from trx_spark.sources.specfile import spec_motors

        m = spec_motors(self.spark, self.fname)
        return m if scanno is None else m.filter(F.col("scan_no") == scanno)

    def getScan(
        self,
        scanno: int = 1,
        ycol: str = "all",
        normalize: object = "max",
    ) -> DataFrame:
        from trx_spark.sources.specfile import read_spec_scan, spec_scan_headers

        df = read_spec_scan(
            self.spark, self.fname, scan=scanno, index=ycol != "all"
        )
        renames = {c: c.replace("/", "_") for c in df.columns}
        for old, new in renames.items():
            if new != old:
                df = df.withColumnRenamed(old, new)
        if ycol == "all":
            return df
        header = {h.number: h for h in spec_scan_headers(self.fname)}[scanno]
        labels = [c.replace("/", "_") for c in header.labels]
        y = ycol.replace("/", "_")
        if y not in labels:
            raise ValueError(f"ycol {ycol!r} not in scan labels {labels}")
        x = labels[0]
        out = df.select("_idx", F.col(x).alias(x), F.col(y).alias("_y"))
        if isinstance(normalize, bool):
            # bool is an int subclass; True/False are not row indices in
            # the reference's y[normalize] and would silently pick row 0/1
            raise ValueError(f"unsupported normalize {normalize!r}")
        if normalize is None:
            denom = None
        elif normalize == "max":
            denom = out.agg(F.max("_y").alias("_den"))
        elif isinstance(normalize, int):
            idx = normalize
            if idx < 0:
                # numpy-style negative index (reference: y / y[normalize],
                # spec.py getScan) — translate via the scan row count
                # (bounded driver read: SPEC scans are KB-scale metadata)
                n = out.count()
                idx += n
                if idx < 0:
                    raise IndexError(
                        f"normalize index {normalize} out of range for "
                        f"scan with {n} rows"
                    )
            denom = out.filter(F.col("_idx") == idx).select(
                F.col("_y").alias("_den")
            )
        elif isinstance(normalize, slice):
            start = normalize.start or 0
            stop = normalize.stop
            sel = out.filter(F.col("_idx") >= start)
            if stop is not None:
                sel = sel.filter(F.col("_idx") < stop)
            denom = sel.agg(F.avg("_y").alias("_den"))
        else:
            raise ValueError(f"unsupported normalize {normalize!r}")
        if denom is not None:
            out = out.crossJoin(F.broadcast(denom)).withColumn(
                "_y", F.col("_y") / F.col("_den")
            ).drop("_den")
        return out.orderBy("_idx").select(x, F.col("_y").alias(y))


def doFolder_online(
    spark: SparkSession,
    *,
    poll_seconds: float | None = 30.0,
    **stream_kw,
):
    """trx/id9.py:305 ``doFolder`` online loop (re-scan every 30 s,
    retryMax give-up): expressed as Structured Streaming — the
    landing dir is a file stream, the 30 s cadence the processingTime
    trigger (``poll_seconds=None`` = availableNow catch-up), and read
    retries/atomicity are the stream source's file-completion
    semantics instead of sleep-and-retry. Delegates to
    streaming.incremental.incremental_pipeline (same keywords)."""
    from trx_spark.streaming.incremental import incremental_pipeline

    return incremental_pipeline(spark, poll_seconds=poll_seconds, **stream_kw)


class FolderPoller:
    """trx/id9.py:305-335 online loop at the RAW-FILE grain (SURVEY
    E3/ST2): each :meth:`poll` re-scans the acquisition folder, azavs
    only the files not yet in the curve store via :func:`doFolder` on a
    ``{a.edf,b.edf}`` brace glob, and appends their curves; after
    ``retry_max`` CONSECUTIVE empty polls :attr:`done` is True — the
    reference's retryMax give-up.  Per-file integration is independent
    across files, so the accumulated bank is BIT-FOR-BIT the batch
    ``doFolder`` of the final folder (pinned by the online compat
    journey test).

    Idempotency/restart: the store is an epoch store
    (:mod:`trx_spark.streaming.store`, the same layout and compactor as
    :func:`doFolder_online`'s): each productive poll writes its curves
    as ONE epoch, so the store grows one directory per wave, not per
    frame. The epoch id comes from the store itself (the highest
    epoch or compaction watermark, plus one), never from the poll
    count, so a restarted poller cannot overwrite an earlier wave.
    The processed set is persisted in ``_processed_manifest.json``
    inside the store (the ``_`` prefix keeps Spark's parquet reader
    from touching it) and unioned with the store's ``file`` values on
    construction: the store covers a crash between the epoch write and
    the manifest update, and the manifest covers files that produced
    ZERO curves (e.g. every q-bin filtered by qlims), which never
    reach the store and would otherwise be re-listed as new on every
    restarted poll, resetting the retry_max give-up counter forever.
    Folder listing uses local-filesystem glob — the
    reference's own ``os.listdir`` semantics (its acquisition folder is
    beamline-local); the streaming-source variant above is the DFS
    path.  Detector basenames must not contain ``{},`` (the brace-glob
    alternation metacharacters) — true of every format the reader
    supports."""

    def __init__(
        self,
        spark: SparkSession,
        folder: str,
        *,
        store_dir: str,
        files: str = "*.edf*",
        retry_max: int = 20,
        **doFolder_kw,
    ) -> None:
        import glob as _glob
        import os as _os

        self._spark = spark
        self._folder = folder.rstrip("/")
        self._store = store_dir
        self._files = files
        self._retry_max = int(retry_max)
        self._kw = doFolder_kw
        self._glob = _glob
        self._os = _os
        self.empty_polls = 0
        self.n_polls = 0
        self._manifest = _os.path.join(store_dir, "_processed_manifest.json")
        self._processed: set[str] = set()
        try:
            import json as _json

            with open(self._manifest, encoding="utf-8") as fh:
                self._processed.update(_json.load(fh))
        except Exception:
            pass  # no manifest yet
        curves = store.read(spark, store_dir)
        if curves is not None:
            self._processed |= {
                r["file"] for r in curves.select("file").distinct().collect()
            }

    def _save_manifest(self) -> None:
        # atomic local write (tmp + rename): a crash mid-write leaves
        # the previous manifest intact, and the store's file column
        # still back-fills any curve-bearing file on the next construction
        import json as _json

        self._os.makedirs(self._os.path.dirname(self._manifest), exist_ok=True)
        tmp = self._manifest + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            _json.dump(sorted(self._processed), fh)
        self._os.replace(tmp, self._manifest)

    @property
    def done(self) -> bool:
        return self.empty_polls >= self._retry_max

    def poll(self) -> int:
        """One folder re-scan; returns how many NEW files were azav'd
        (0 increments the consecutive-empty counter)."""
        self.n_polls += 1
        names = sorted(
            self._os.path.basename(p)
            for p in self._glob.glob(f"{self._folder}/{self._files}")
        )
        new = [n for n in names if n not in self._processed]
        if not new:
            self.empty_polls += 1
            return 0
        self.empty_polls = 0
        curves = doFolder(
            self._spark,
            self._folder,
            files="{" + ",".join(new) + "}",
            **self._kw,
        )
        store.write(curves, self._store, store.next_epoch(self._store))
        self._processed.update(new)
        self._save_manifest()
        return len(new)

    def bank(self) -> DataFrame:
        """The accumulated curve bank (≡ batch doFolder of everything
        processed so far)."""
        return self._spark.read.parquet(self._store).drop(store.EPOCH)

    def run(self, *, poll_seconds: float = 30.0, max_polls: int | None = None) -> None:
        """The reference-faithful loop: poll, sleep, give up after
        retry_max consecutive empty polls (tests drive :meth:`poll`
        directly instead)."""
        import time as _time

        while not self.done and (max_polls is None or self.n_polls < max_polls):
            self.poll()
            if not self.done:
                _time.sleep(poll_seconds)
