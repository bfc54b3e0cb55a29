"""In-memory span tracer for the benchmark's traced runs.

A traced pass wraps the engine's public functions at every name a package
module bound at import (``operators.pagerank.flat_checkpoint`` as well as
``plans.flat.flat_checkpoint``), so calls made from inside the operators
are seen too.  Each span records its name, start, end and parent, plus the
Spark job-id counter before and after it.  After the pass, one read of the
Spark status store (``sc._jsc.sc().statusStore()``, which works with the
UI disabled) gives every job and stage the pass ran; jobs are attributed to
spans by their id range, stages to the first job that ran them.

Nothing here runs during untraced passes: :meth:`Tracer.install` patches
the functions and :meth:`Tracer.uninstall` puts the originals back.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

PKG = "pds_hw2_mpi_connected_components_spark"
OPS = ("cc", "pagerank", "hits", "labelprop", "coreness", "anf")
MB = 1024.0 * 1024.0


def _record_rounds(rec: dict, result) -> None:
    """Round counts from an operator's return value: ``(df, metrics)``, or a
    CCResult/PRResult, whose second field is the metrics too. CC marks each
    round ``changed``."""
    metrics = result[1]
    rec["rounds"] = len(metrics)
    rec["rounds_changed"] = sum(1 for m in metrics if m.get("changed"))


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Tracer:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._dag = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        mapper.registerModule(scala_module)
        self._mapper = mapper
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._pending_extract = False

    # -- spans -------------------------------------------------------------
    def _job_counter(self) -> int:
        return int(self._dag.numTotalJobs())

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "job_lo": self._job_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["job_hi"] = self._job_counter()
            rec["end"] = time.time()

    def event(self, name: str, **attrs) -> None:
        """A zero-length span: a decision or a count, not a duration."""
        now = time.time()
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
            "start": now, "end": now, **attrs,
        })

    # -- wrapping ----------------------------------------------------------
    def _wrap_operator(self, orig, op: str):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(f"operators.{op}") as rec:
                out = orig(*args, **kwargs)
                _record_rounds(rec, out)
                return out
        return wrapper

    def _wrap_flat(self, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # the first materialization after extract_links_df() is the
            # extraction itself (build_graph checkpoints it before any join)
            name = "sources.extract" if self._pending_extract else "plans.flat"
            self._pending_extract = False
            with self.span(name):
                return orig(*args, **kwargs)
        return wrapper

    def _wrap_extract(self, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            self._pending_extract = True
            return orig(*args, **kwargs)
        return wrapper

    def _wrap_scope(self, orig):
        @functools.wraps(orig)
        def wrapper(spark, n_part, *args, **kwargs):
            self.event("plans.adaptive.scope", n_part=int(n_part))
            return orig(spark, n_part, *args, **kwargs)
        return wrapper

    def _wrap_pick(self, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            n = orig(*args, **kwargs)
            self.event("plans.adaptive.pick_n_part", n_part=int(n))
            return n
        return wrapper

    def _wrap_ckpt_write(self, orig):
        @functools.wraps(orig)
        def wrapper(store, name, it, *args, **kwargs):
            before = _dir_bytes(store.root)
            with self.span("plans.checkpoint.write") as rec:
                out = orig(store, name, it, *args, **kwargs)
            rec["bytes"] = _dir_bytes(store.root) - before
            return out
        return wrapper

    def install(self) -> None:
        # operators/__init__ rebinds several submodule names to functions,
        # so the modules come from importlib, not from attribute access
        mod = lambda name: importlib.import_module(f"{PKG}.{name}")  # noqa: E731
        anf, cc, facade, hits, kcore, labelprop, pagerank = (
            mod(f"operators.{n}")
            for n in ("anf", "cc", "facade", "hits", "kcore", "labelprop", "pagerank"))
        adaptive, flat, checkpoint = (
            mod(f"plans.{n}") for n in ("adaptive", "flat", "checkpoint"))
        extract = mod("sources.extract")
        CheckpointStore = checkpoint.CheckpointStore

        mods = {m: sys.modules[m] for m in list(sys.modules) if m.startswith(PKG)}
        targets = {
            flat.flat_checkpoint: self._wrap_flat(flat.flat_checkpoint),
            flat.flat_repart: self._wrap_flat(flat.flat_repart),
            adaptive.shuffle_scope: self._wrap_scope(adaptive.shuffle_scope),
            adaptive.pick_n_part: self._wrap_pick(adaptive.pick_n_part),
            extract.extract_links_df: self._wrap_extract(extract.extract_links_df),
            facade.cc: self._wrap_operator(facade.cc, "cc"),
            cc.connected_components: self._wrap_operator(cc.connected_components, "cc"),
            facade.pagerank_auto: self._wrap_operator(facade.pagerank_auto, "pagerank"),
            pagerank.pagerank: self._wrap_operator(pagerank.pagerank, "pagerank"),
            hits.hits: self._wrap_operator(hits.hits, "hits"),
            labelprop.label_propagation: self._wrap_operator(
                labelprop.label_propagation, "labelprop"),
            kcore.coreness: self._wrap_operator(kcore.coreness, "coreness"),
            anf.anf: self._wrap_operator(anf.anf, "anf"),
        }
        for mod in mods.values():
            for attr, val in list(vars(mod).items()):
                try:
                    wrapper = targets.get(val)
                except TypeError:  # unhashable module attribute
                    continue
                if wrapper is not None:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, wrapper)
        orig_write = CheckpointStore.write
        self._patches.append((CheckpointStore, "write", orig_write))
        CheckpointStore.write = self._wrap_ckpt_write(orig_write)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()
        self._pending_extract = False

    # -- status store ------------------------------------------------------
    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def spark_activity(self, job_lo: int, job_hi: int) -> tuple[dict, dict]:
        """Jobs with ids in [job_lo, job_hi) and the stages they executed,
        read once from the status store after the listener bus drained."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        jobs = {
            j["jobId"]: j for j in self._json(self._store.jobsList(None))
            if job_lo <= j["jobId"] < job_hi
        }
        owner: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid]["stageIds"]:
                owner.setdefault(sid, jid)
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        stages = {}
        for st in self._json(self._store.stageList(None, False, False, no_quantiles, None)):
            sid = st["stageId"]
            if sid not in owner or st["status"] != "COMPLETE" or st["numCompleteTasks"] == 0:
                continue
            st["job"] = owner[sid]
            if st["numCompleteTasks"] >= 2:
                st["skew"] = self._task_skew(sid, st["attemptId"])
            stages[(sid, st["attemptId"])] = st
        return jobs, stages

    def _task_skew(self, stage_id: int, attempt: int):
        q = self._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._json(self._store.taskSummary(stage_id, attempt, q))
        if not summary:
            return None
        med, mx = summary["executorRunTime"]
        return mx / med if med > 0 else None


def _busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def pass_layers(tracer: Tracer, pass_idx: int, gc_s: float) -> dict[str, float]:
    """Per-layer numbers of one traced pass. ``pass_idx`` indexes the pass
    span; every span recorded after it belongs to the pass."""
    spans = tracer.spans
    root = spans[pass_idx]
    inner = spans[pass_idx + 1:]
    jobs, stages = tracer.spark_activity(root["job_lo"], root["job_hi"])
    by_job: dict[int, list[dict]] = {}
    for st in stages.values():
        by_job.setdefault(st["job"], []).append(st)
    intervals = {
        jid: (j["submissionTime"] / 1000.0, (j.get("completionTime") or j["submissionTime"]) / 1000.0)
        for jid, j in jobs.items() if j.get("submissionTime")
    }

    def activity(sp: dict) -> dict[str, float]:
        ids = [j for j in range(sp["job_lo"], sp["job_hi"]) if j in jobs]
        sts = [st for j in ids for st in by_job.get(j, [])]
        wall = sp["end"] - sp["start"]
        busy = _busy_seconds([intervals[j] for j in ids if j in intervals], sp["start"], sp["end"])
        return {
            "s": wall,
            "jobs": float(len(ids)),
            "tasks": float(sum(st["numCompleteTasks"] for st in sts)),
            "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in sts) / MB,
            "job_busy_s": busy,
            "driver_gap_s": max(0.0, wall - busy),
        }

    def outermost(name: str, idx: int) -> list[dict]:
        """Spans named ``name`` below span ``idx``, nested repeats dropped."""
        return [sp for sp in inner if sp["name"] == name and _descends(spans, sp, idx)
                and not _has_ancestor(spans, sp, name, idx)]

    tops = [sp for sp in inner if sp["parent"] == pass_idx]
    m: dict[str, float] = {}
    for op in OPS:
        step = [sp for sp in tops if sp["name"] == f"operators.{op}"]
        vals = dict.fromkeys(
            ("s", "rounds", "driver_gap_s", "jobs", "tasks", "shuffle_write_mb", "n_part"), 0.0)
        for sp in step:
            act = activity(sp)
            for k in ("s", "driver_gap_s", "jobs", "tasks", "shuffle_write_mb"):
                vals[k] += act[k]
            idx = sp["id"]
            calls = outermost(f"operators.{op}", idx)
            vals["rounds"] += sum(c.get("rounds", 0) for c in calls)
            picks = [e["n_part"] for e in inner
                     if e["name"] == "plans.adaptive.pick_n_part" and _descends(spans, e, idx)]
            if picks:
                vals["n_part"] = float(max(picks))
            if op == "cc" and calls:
                ran = sum(c.get("rounds", 0) for c in calls)
                m["operators.cc.rounds_changed_ratio"] = (
                    sum(c.get("rounds_changed", 0) for c in calls) / ran if ran else 0.0)
        for k, v in vals.items():
            m[f"operators.{op}.{k}"] = v
    m.setdefault("operators.cc.rounds_changed_ratio", 0.0)

    build = [sp for sp in tops if sp["name"] == "sources.graph_build"]
    extract_s = sum(sp["end"] - sp["start"] for sp in inner if sp["name"] == "sources.extract")
    m["sources.extract.s"] = extract_s
    m["sources.graph_build.s"] = sum(sp["end"] - sp["start"] for sp in build) - extract_s
    m["sources.graph_build.shuffle_write_mb"] = sum(
        activity(sp)["shuffle_write_mb"] for sp in build)
    m["sources.graph_io.read_s"] = sum(
        sp["end"] - sp["start"] for sp in tops if sp["name"] == "sources.graph_io.read")

    flats = outermost("plans.flat", pass_idx)
    m["plans.flat.calls"] = float(len(flats))
    m["plans.flat.s"] = sum(sp["end"] - sp["start"] for sp in flats)
    writes = [sp for sp in inner if sp["name"] == "plans.checkpoint.write"]
    m["plans.checkpoint.writes"] = float(len(writes))
    m["plans.checkpoint.write_s"] = sum(sp["end"] - sp["start"] for sp in writes)
    m["plans.checkpoint.bytes_written_mb"] = sum(sp.get("bytes", 0) for sp in writes) / MB
    m["plans.adaptive.scopes"] = float(sum(1 for sp in inner if sp["name"] == "plans.adaptive.scope"))
    m["plans.adaptive.n_part_decisions"] = float(
        sum(1 for sp in inner if sp["name"] == "plans.adaptive.pick_n_part"))

    whole = activity(root)
    m["spark.jobs"] = whole["jobs"]
    m["spark.tasks"] = whole["tasks"]
    m["spark.job_busy_s"] = whole["job_busy_s"]
    m["spark.shuffle_write_mb"] = whole["shuffle_write_mb"]
    weighted = [(st["executorRunTime"], st["skew"]) for st in stages.values()
                if st.get("skew") is not None and st["executorRunTime"] > 0]
    weight = sum(w for w, _ in weighted)
    m["spark.task_max_over_median"] = (
        sum(w * r for w, r in weighted) / weight if weight else 1.0)
    m["jvm.gc_s"] = gc_s
    wall = root["end"] - root["start"]
    m["trace.pass_wall_s"] = wall
    m["trace.span_coverage"] = sum(sp["end"] - sp["start"] for sp in tops) / wall
    return m


def _has_ancestor(spans: list[dict], sp: dict, name: str, stop: int) -> bool:
    p = sp["parent"]
    while p is not None and p != stop:
        if spans[p]["name"] == name:
            return True
        p = spans[p]["parent"]
    return False


def _descends(spans: list[dict], sp: dict, idx: int) -> bool:
    p = sp["parent"]
    while p is not None:
        if p == idx:
            return True
        p = spans[p]["parent"]
    return False


def median_layers(per_pass: list[dict[str, float]]) -> dict[str, float]:
    keys = per_pass[0].keys()
    return {k: statistics.median(p[k] for p in per_pass) for k in keys}
