"""In-memory spans around the engine's layers, for the traced run.

``install_layer_spans`` wraps public functions of each layer (patching the
class or module attribute the engine calls through) so every call opens
a span: name, start, end, parent span and the benchmark's epoch index.
While a span is open, Spark jobs launched from this thread carry the
span's id as their job group, so after the run ``spark_stages`` can
attribute each job's stages (tasks, run time, shuffle bytes) to the
innermost span that launched it. Nothing here changes what the wrapped
functions do.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.epoch: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "epoch": self.epoch,
            "t0": time.perf_counter(),
            "t1": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None if sid is None else f"span-{sid}")

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned twin; ``on_result(rec,
        result, args)`` may add counts to the span record."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out, args)
                return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- analysis --------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        return kids

    def self_time(self, rec: dict, kids: dict[int, list[int]]) -> float:
        """Span duration minus the time its direct child spans cover
        (children of one span never overlap: calls are synchronous)."""
        covered = sum(
            self.spans[k]["t1"] - self.spans[k]["t0"] for k in kids.get(rec["id"], [])
        )
        return (rec["t1"] - rec["t0"]) - covered

    def subtree(self, sid: int, kids: dict[int, list[int]]) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s, []))
        return out

    def dump(self) -> list[dict]:
        return [
            {**s, "t0": round(s["t0"], 6), "t1": round(s["t1"], 6)} for s in self.spans
        ]


def spark_stages(sc) -> dict[int, list[dict]]:
    """Completed stages of every job launched under a span, read from
    Spark's status store: span id → list of stage metric dicts (one per
    job stage that ran; skipped stages are left out)."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stage_seq = store.stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    stages: dict[int, dict] = {}
    for i in range(stage_seq.length()):
        s = stage_seq.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        stages[s.stageId()] = {
            "stage": s.stageId(),
            "tasks": s.numTasks(),
            "run_ms": s.executorRunTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "output": s.outputBytes(),
            "name": s.name(),
        }
    by_span: dict[int, list[dict]] = {}
    jobs = store.jobsList(None)
    for i in range(jobs.length()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if not g.isDefined() or not g.get().startswith("span-"):
            continue
        sid = int(g.get()[5:])
        ids = j.stageIds()
        got = [stages[ids.apply(k)] for k in range(ids.length()) if ids.apply(k) in stages]
        by_span.setdefault(sid, []).append({"job": j.jobId(), "stages": got})
    return by_span


def jvm_gc_ms(sc) -> int:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans)


def install_layer_spans(tr: Tracer) -> None:
    """Wrap the public functions of each engine layer in spans."""
    import os

    from ethereum_etl_spark.operators import changes as changes_mod
    from ethereum_etl_spark.operators.snapshot_table import SnapshotTable
    from ethereum_etl_spark.plans.engine import CDCEngine
    from ethereum_etl_spark.plans.multi import MultiTableEngine
    from ethereum_etl_spark.streaming import tailer
    from ethereum_etl_spark.streaming.changes_stream import ChangesStream

    def staged(rec, files, args):
        rec["table"] = os.path.basename(args[0].root)
        rec["paths"] = [os.path.join(args[0].root, f.path) for f in files]
        rec["rows"] = sum(f.rows for f in files)
        rec["bytes"] = sum(f.bytes for f in files)

    def compacted(rec, sid, args):
        rec["bytes"] = args[0].read_snapshot_meta(sid).summary.get("new_bytes", 0) if sid else 0

    def looked_up(rec, out, args):
        rec["files_scanned"] = out[1]

    tr.wrap(CDCEngine, "plan_epochs", "engine.plan")
    tr.wrap(CDCEngine, "run_epoch", "engine.run_epoch")
    tr.wrap(CDCEngine, "run", "engine.run")
    tr.wrap(MultiTableEngine, "plan_epochs", "multi.plan")
    tr.wrap(MultiTableEngine, "run_epoch", "multi.run_epoch")
    tr.wrap(MultiTableEngine, "run", "multi.run")
    tr.wrap(MultiTableEngine, "_append_group", "multi.group_commit")
    tr.wrap(MultiTableEngine, "reconcile", "multi.reconcile")
    tr.wrap(tailer, "tail", "tailer.tail")
    tr.wrap(SnapshotTable, "stage_delta_grouped", "table.stage_delta", staged)
    tr.wrap(SnapshotTable, "stage", "table.stage", staged)
    tr.wrap(SnapshotTable, "commit", "table.commit")
    tr.wrap(SnapshotTable, "_write_manifest", "table.manifest")
    tr.wrap(SnapshotTable, "compact_groups", "table.compact", compacted)
    tr.wrap(SnapshotTable, "read_key", "table.read_key", looked_up)
    tr.wrap(changes_mod, "table_changes", "changes.plan")
    tr.wrap(ChangesStream, "poll", "changes.poll")


def layer_metrics(tr: Tracer, first: int, by_span: dict, w, end: dict, cores: int, session_s: float):
    """Per-layer metrics of a traced run → ({name: (value, unit)} for
    the printed line, {name: value} of workload-specific extras for the
    sidecar). Spans before index ``first`` (the warmup) are left out.
    ``w`` is the finished workload, ``end`` its end state."""
    import os

    kids = tr.children()
    spans = tr.spans
    epoch_names = ("engine.run_epoch", "multi.run_epoch")

    def named(*names):
        return [s for s in spans[first:] if s["name"] in names]

    def dur(s):
        return s["t1"] - s["t0"]

    def inside(s, names):
        p = s["parent"]
        while p is not None:
            if spans[p]["name"] in names:
                return True
            p = spans[p]["parent"]
        return False

    def jobs(s):
        return [j for x in tr.subtree(s["id"], kids) for j in by_span.get(x, [])]

    def stages(s):
        return [st for j in jobs(s) for st in j["stages"]]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    n_ep = len(w.epochs)
    events = sum(e["events"] for e in w.epochs)
    runs = named(*epoch_names)
    # the pages write of each epoch (not the compaction rewrite)
    writes = [s for s in named("table.stage_delta") if inside(s, epoch_names)]
    compacts = named("table.compact")
    commits = [
        s for s in named("table.commit", "table.manifest", "multi.group_commit", "multi.reconcile")
        if inside(s, epoch_names) and not inside(s, ("table.compact", "table.commit"))
    ]
    loops = named("tailer.tail", "engine.run", "multi.run")
    lookups = named("read.lookup")
    windows = named("read.changes")
    scans = named("read.scan")[-3:]
    write_secs = sum(dur(s) for s in writes)
    table = end["table"]
    snap = table.current_snapshot()
    probe_rows = sum(r for r, _ in w.extract_probe)

    out = {
        "session.start_s": (session_s, "s"),
        "engine.plan_s": (mean(dur(s) for s in named("engine.plan", "multi.plan")), "s"),
        "engine.epoch_self_s": (mean(tr.self_time(s, kids) for s in runs), "s"),
        "engine.jobs_per_epoch": (sum(len(jobs(s)) for s in runs) / n_ep, "count"),
        "engine.tasks_per_epoch": (sum(st["tasks"] for s in runs for st in stages(s)) / n_ep, "count"),
        "tailer.poll_s": (
            mean(dur(s) - sum(dur(spans[k]) for k in kids.get(s["id"], []) if spans[k]["name"] in epoch_names)
                 for s in loops),
            "s",
        ),
        "lww.shuffle_bytes_per_event": (
            sum(st["shuffle_write"] for s in writes for st in stages(s)) / events, "B/event"),
        "extract.us_per_row": (
            1e6 * sum(t for _, t in w.extract_probe) / probe_rows if probe_rows else 0.0, "us/row"),
        "table.stage_s": (mean(dur(s) for s in writes), "s"),
        "table.stage_mb_per_s": (sum(s["bytes"] for s in writes) / 1e6 / write_secs, "MB/s"),
        "table.stage_occupancy": (
            sum(st["run_ms"] for s in writes for st in stages(s)) / 1000.0 / (write_secs * cores), "ratio"),
        "table.commit_ms": (1000.0 * sum(dur(s) for s in commits) / n_ep, "ms"),
        "table.manifest_kb": (os.path.getsize(table._manifest_path(snap.snapshot_id)) / 1024.0, "KB"),
        "table.files_per_epoch": (sum(len(s["paths"]) for s in writes) / n_ep, "count"),
        "table.live_files": (len(snap.files), "count"),
        "table.delta_depth_max": (max(table.delta_depth().values(), default=0), "count"),
        "table.read_key_files_scanned": (mean(s["files_scanned"] for s in named("table.read_key")), "count"),
        "table.read_key_jobs": (mean(len(jobs(s)) for s in lookups), "count"),
        "table.scan_shuffle_mb": (mean(sum(st["shuffle_write"] for st in stages(s)) for s in scans) / 1e6, "MB"),
        "changes.plan_s": (mean(dur(s) for s in named("changes.plan")), "s"),
        "changes.materialize_s": (mean(dur(s) for s in named("changes.materialize")), "s"),
        "changes.files_read": (mean(x["files_read"] for x in w.windows), "count"),
        "spark.gc_s_per_epoch": (sum(e["gc_ms"] for e in w.epochs) / 1000.0 / n_ep, "s"),
    }
    multi = named("multi.run_epoch")
    extra = {
        # compaction starts once a group holds compact_max_deltas (8)
        # delta layers, i.e. from the 9th epoch: runs at the benchmark's
        # length stop short of it, longer ones (larger --seconds) show it
        "table.compactions": len(compacts),
        "table.compact_s": sum(dur(s) for s in compacts) / n_ep,
        "table.compact_mb_rewritten": sum(s["bytes"] for s in compacts) / 1e6 / n_ep,
        "trace.apply_events_per_s": events / sum(e["secs"] for e in w.epochs),
        "trace.lookup_p50_s": sorted(lk["secs"] for lk in w.lookups)[len(w.lookups) // 2],
        "trace.changes_window_s": mean(dur(s) for s in windows),
        "self_s": {
            name: sum(tr.self_time(s, kids) for s in named(name))
            for name in sorted({s["name"] for s in spans[first:]})
        },
    }
    if multi:
        host_writes = [s for s in named("table.stage") if inside(s, ("multi.run_epoch",))
                       and s.get("table") == "host_stats"]
        extra.update({
            "multi.pages_stage_s": mean(dur(s) for s in writes),
            "multi.hosts_stage_s": mean(dur(s) for s in host_writes),
            "multi.epoch_self_s": mean(tr.self_time(s, kids) for s in multi),
        })
    return out, extra
