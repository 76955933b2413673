"""Spans and counters for the traced run (``--trace 1``).

A span is recorded around each public call the benchmark makes into the
library, and around the library's own layer functions that those calls
reach (``read_binary_assets``, ``poni_geometry_table``, ``decode_image``,
``integrate_folder``, ``load_table``), which the tracer wraps for the
length of the traced pass. Because the library returns lazy frames, a
traced call forces its output with a noop write; a layer's execution
self time is its forced time minus the forced time of its inputs.

Each span runs under its own Spark job group, so jobs, stages and tasks
are read back per span through ``statusTracker`` after the pass. Py4J
round trips are counted by wrapping the gateway client. Everything is
kept in memory and written out when the run ends.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager

NOOP = "noop"
EMPTY = {"calls": 0, "build_s": 0.0, "exec_s": 0.0, "self_s": 0.0, "py4j": 0, "jobs": 0,
         "stages": 0, "tasks": 0, "tasks_failed": 0, "bytes_in": 0, "pixels": 0}


def force(df) -> None:
    """Execute a lazy frame completely without collecting it."""
    df.write.format(NOOP).mode("overwrite").save()


class NullTracer:
    """Stand-in for the untraced run: no spans, no forcing, no counting."""

    enabled = False

    @contextmanager
    def span(self, name, layer=None, upstream=()):
        yield None

    def force(self, rec, df) -> None:
        pass

    def new_chain(self) -> None:
        pass


class Tracer:
    """In-memory span recorder for one traced pass."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.memo: list[dict] = []
        self.aux: list[dict] = []
        self._stack: list[dict] = []
        self._last_force: dict[str, float] = {}
        self._patched: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()
        self.py4j = 0
        self._ids = 0
        self._counting = False
        self._root = "perfbench-root"

    # -- spans ---------------------------------------------------------
    def new_chain(self) -> None:
        """Start a new lineage: later spans no longer see earlier outputs
        as their inputs (one online wave, or one registry query)."""
        self._last_force.clear()

    @contextmanager
    def span(self, name: str, layer: str | None = None, upstream: tuple = ()):
        parent = self._stack[-1] if self._stack else None
        self._ids += 1
        rec = {
            "id": self._ids,
            "name": name,
            "layer": layer or name,
            "parent": parent["id"] if parent else None,
            "upstream": list(upstream),
            "start": time.perf_counter() - self._t0,
            "call_s": 0.0,
            "force_s": 0.0,
            "input_force_s": 0.0,
            "child_s": 0.0,
            "py4j_incl": 0,
            "child_py4j": 0,
        }
        rec["group"] = f"perfbench-{rec['id']}"
        self._quiet(self.sc.setJobGroup, rec["group"], name)
        self._stack.append(rec)
        p0 = self.py4j
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            dur = time.perf_counter() - t0
            self._stack.pop()
            rec["end"] = rec["start"] + dur
            rec["dur_s"] = dur
            if rec["call_s"] == 0.0:
                rec["call_s"] = dur - rec["force_s"]
            rec["py4j_incl"] = self.py4j - p0
            rec["input_force_s"] = sum(self._last_force.get(u, 0.0) for u in upstream)
            if rec["force_s"]:
                self._last_force[rec["layer"]] = rec["force_s"]
            if parent is not None:
                parent["child_s"] += dur
                parent["child_py4j"] += rec["py4j_incl"]
            self._quiet(self.sc.setJobGroup, parent["group"] if parent else self._root, "")
            self.spans.append(rec)

    def force(self, rec: dict, df) -> None:
        """Time the noop write of a span's output inside that span."""
        rec["call_s"] = time.perf_counter() - self._t0 - rec["start"]
        t0 = time.perf_counter()
        force(df)
        rec["force_s"] = time.perf_counter() - t0

    def _quiet(self, fn, *args):
        """Bookkeeping call into the JVM that the Py4J count leaves out."""
        was, self._counting = self._counting, False
        try:
            return fn(*args)
        finally:
            self._counting = was

    # -- instrumentation -----------------------------------------------
    def install(self) -> None:
        """Wrap the gateway client and the library's layer functions."""
        from pyspark import SparkContext

        from trx_spark import cache, tables
        from trx_spark.operators import multimodal
        from trx_spark.pipeline import integrate_folder
        from trx_spark.sources import poni

        client = SparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*a, **k):
            if self._counting:
                self.py4j += 1
            return send(*a, **k)

        client.send_command = counted
        self._patched.append((client, "send_command", None))

        def measure_decode(rec, args, kwargs, out):
            assets = args[0] if args else kwargs["assets"]
            self._aux(rec, "bytes_in", assets, "sum(length(content))")
            self._aux(rec, "pixels", out, "count(1)")

        self._wrap(multimodal.read_binary_assets, "sources.list", lazy=True)
        self._wrap(poni.poni_geometry_table, "sources.geometry", lazy=True)
        self._wrap(multimodal.decode_image, "decode", lazy=True,
                   upstream=("sources.list",), after=measure_decode)
        self._wrap(integrate_folder, "integrate", lazy=True,
                   upstream=("decode", "sources.geometry"))
        self._wrap(tables.load_table, "tables.load", lazy=False)

        build_done = cache.build_done

        def recorded(name, t0):
            t1 = time.perf_counter()
            self.memo.append({"name": name, "t0": t0, "t1": t1, "s": t1 - t0})
            return build_done(name, t0)

        self._replace(build_done, recorded)
        self._counting = True
        self._quiet(self.sc.setJobGroup, self._root, "")

    def uninstall(self) -> None:
        self._counting = False
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()
        for key in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(key, None)

    def _replace(self, orig, new) -> None:
        """Point every library module's reference to ``orig`` at ``new``
        (callers that imported the function by name keep their own
        binding, so each namespace is patched)."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("trx_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)
                    self._patched.append((mod, attr, orig))

    def _wrap(self, fn, layer: str, *, lazy: bool, upstream: tuple = (), after=None) -> None:
        def wrapper(*args, **kwargs):
            with self.span(layer, layer, upstream) as rec:
                out = fn(*args, **kwargs)
                if lazy:
                    self.force(rec, out)
            if after is not None:
                after(rec, args, kwargs, out)
            return out

        wrapper.__wrapped__ = fn
        self._replace(fn, wrapper)

    def _aux(self, rec: dict, key: str, df, expr: str) -> None:
        """Side measurement outside every span (its time and jobs count as
        trace overhead only)."""
        was, self._counting = self._counting, False
        t0 = time.perf_counter()
        try:
            self.sc.setJobGroup("perfbench-aux", key)
            rec[key] = rec.get(key, 0) + int(df.selectExpr(expr).collect()[0][0] or 0)
        finally:
            cur = self._stack[-1]["group"] if self._stack else self._root
            self.sc.setJobGroup(cur, "")
            self._counting = was
            dt = time.perf_counter() - t0
            if self._stack:
                self._stack[-1]["child_s"] += dt
            self.aux.append({"key": key, "s": dt})

    # -- read back -----------------------------------------------------
    def collect_counts(self) -> dict:
        """Jobs, stages that ran, tasks and failed tasks per span (own group
        only; nested spans hold their own), plus the pass totals."""
        st = self.sc.statusTracker()
        totals = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        groups = [s["group"] for s in self.spans] + [self._root]
        per_group = {}
        for g in groups:
            c = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
            for jid in st.getJobIdsForGroup(g):
                c["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    c["stages"] += 1
                    c["tasks"] += si.numCompletedTasks
                    c["tasks_failed"] += si.numFailedTasks
            per_group[g] = c
            for k in totals:
                totals[k] += c[k]
        for s in self.spans:
            s.update(per_group[s["group"]])
        return totals

    def top_level_memo(self) -> list[dict]:
        """Memo builds not nested inside another build's interval."""
        out = []
        for m in self.memo:
            if not any(
                o is not m and o["t0"] <= m["t0"] and m["t1"] <= o["t1"] for o in self.memo
            ):
                out.append(m)
        return out

    def layers(self) -> dict[str, dict]:
        """Per-layer sums. ``build_s`` is construction self time (the call
        minus nested spans); ``exec_s`` is forced time minus the forced time
        of the span's inputs; ``self_s`` is their sum."""
        agg: dict[str, dict] = {}
        for s in self.spans:
            a = agg.setdefault(s["layer"], dict(EMPTY))
            build = s["call_s"] - s["child_s"]
            if s["force_s"]:
                execs = s["force_s"] - s["input_force_s"]
            else:
                # an eager call (poll, sink) re-executes its inputs itself
                build -= s["input_force_s"]
                execs = 0.0
            a["calls"] += 1
            a["build_s"] += build
            a["exec_s"] += execs
            a["self_s"] += build + execs
            a["py4j"] += s["py4j_incl"] - s["child_py4j"]
            for k in ("jobs", "stages", "tasks", "tasks_failed", "bytes_in", "pixels"):
                a[k] += s.get(k, 0)
        return agg

    def dump(self) -> dict:
        return {
            "spans": [
                {k: v for k, v in s.items() if k != "group"} for s in self.spans
            ],
            "memo_builds": self.memo,
            "aux": self.aux,
        }


def layer_metrics(tr: Tracer, totals: dict, *, untraced_s: float, traced_s: float,
                  extra: dict, queries: list) -> tuple[dict, dict]:
    """Every named per-layer metric of the traced pass, with units, and the
    layer self times that account for the untraced pass's wall time. A
    layer the workload never runs reads 0, and so do the ``q.<name>``
    metrics of every query in ``queries`` (the slice at full size) that
    the pass did not run."""
    agg = tr.layers()

    def L(name):
        return agg.get(name, EMPTY)

    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    for layer, key in (("sources.list", "list"), ("sources.log", "log"),
                       ("sources.geometry", "geometry")):
        put(f"sources.{key}_s", L(layer)["self_s"], "s")
        if key != "geometry":
            put(f"sources.{key}_jobs", L(layer)["jobs"], "count")
    d = L("decode")
    put("decode.exec_s", d["exec_s"], "s")
    put("decode.mpix_per_s", d["pixels"] / 1e6 / d["exec_s"] if d["exec_s"] > 0 else 0.0, "Mpix/s")
    put("decode.tasks", d["tasks"], "count")
    put("decode.bytes_in", d["bytes_in"], "bytes")
    i = L("integrate")
    put("integrate.build_s", i["build_s"], "s")
    put("integrate.self_s", i["exec_s"], "s")
    r = L("reduce")
    put("reduce.build_s", r["build_s"], "s")
    put("reduce.py4j_calls", r["py4j"], "count")
    put("reduce.exec_s", r["exec_s"], "s")
    for layer, a in (("integrate", i), ("reduce", r)):
        for k in ("jobs", "stages", "tasks"):
            put(f"{layer}.{k}", a[k], "count")
    s = L("sink")
    put("sink.s", s["self_s"], "s")
    put("sink.files", extra.get("sink.files", 0), "count")
    put("sink.bytes", extra.get("sink.bytes", 0), "bytes")
    put("sink.jobs", s["jobs"], "count")
    put("poll.s", L("poll")["self_s"], "s")
    put("poll.jobs", L("poll")["jobs"], "count")
    put("poll.new_files", extra.get("poll.new_files", 0), "count")
    put("bank.read_s", L("bank")["self_s"], "s")
    put("store.files", extra.get("store.files", 0), "count")
    put("store.bytes", extra.get("store.bytes", 0), "bytes")
    t = L("tables.load")
    put("tables.load_s", t["self_s"], "s")
    put("tables.jobs", t["jobs"], "count")
    qb, qe = L("queries.build"), L("queries.exec")
    put("queries.build_s", qb["build_s"], "s")
    put("queries.exec_s", qe["exec_s"], "s")
    for k in ("jobs", "stages", "tasks"):
        put(f"queries.{k}", qb[k] + qe[k], "count")
    per_query = {f"q.{q}": {"build_s": 0.0, "exec_s": 0.0, "jobs": 0} for q in queries}
    for sp in tr.spans:
        if sp["layer"] in ("queries.build", "queries.exec"):
            q = per_query[sp["name"].rsplit(".", 1)[0]]
            if sp["layer"] == "queries.build":
                q["build_s"] += sp["call_s"] - sp["child_s"]
            else:
                q["exec_s"] += sp["force_s"] - sp["input_force_s"]
            q["jobs"] += sp.get("jobs", 0)
    for q, v in sorted(per_query.items()):
        put(f"{q}.build_s", v["build_s"], "s")
        put(f"{q}.exec_s", v["exec_s"], "s")
        put(f"{q}.jobs", v["jobs"], "count")
    top = tr.top_level_memo()
    put("memo.builds", len(top), "count")
    put("memo.build_s", sum(b["s"] for b in top), "s")

    put("py4j.calls", tr.py4j, "count")
    for k in ("jobs", "stages", "tasks", "tasks_failed"):
        put(f"spark.{k}", totals[k], "count")
    put("driver.build_s", sum(a["build_s"] for a in agg.values()), "s")
    put("spark.exec_s", sum(a["exec_s"] for a in agg.values()), "s")
    selfs = {name: a["self_s"] for name, a in sorted(agg.items())}
    put("unattributed_s", untraced_s - sum(selfs.values()), "s")
    put("trace.overhead_s", traced_s - untraced_s, "s")
    return m, selfs
