"""Layer tracing for the benchmark's traced run.

Spans are recorded from outside the engine: :meth:`Tracer.patched`
wraps each layer's public entry point (module attribute or method)
for the duration of one pass. A wrapper opens a span, makes the real
call, materializes the result at the layer boundary (persist + one
counting job, so the layer's work lands inside its own span instead
of in whichever consumer first touches it) and closes the span.

Each span runs its jobs under its own Spark job group, so the task
counters of a layer come from Spark's status store for exactly the
jobs inside it. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MB = 1024.0 * 1024.0

# layer -> extra counters it reports besides the generic suffixes
LAYERS = {
    "session": ("start_s",),
    "corpus": ("spans",),
    "extract": ("keep_ratio",),
    "sink": ("files", "bytes", "bytes_per_doc"),
    "layout": ("lines",),
    "linedet": ("lines_detected", "detect_recall"),
    "ctc": ("lines", "chars"),
    "html": ("blocks", "keep_ratio"),
    "icetable_write": ("files", "bytes", "bytes_per_doc"),
    "icetable_read": (
        "plan_ms", "scan_ms", "files_planned", "files_live", "prune_ratio",
        "read_ms_p50", "read_ms_p95", "reads",
    ),
    "textstats": ("rows_out",),
    "dedup": ("candidate_pairs", "verified_pairs", "precision"),
}
GENERIC = (
    "self_s", "tasks", "tasks_failed", "shuffle_write_mb", "spill_mb",
    "task_skew", "busy_frac",
)
EXTRA_UNITS = {
    "start_s": "s", "keep_ratio": "ratio", "detect_recall": "ratio",
    "prune_ratio": "ratio", "precision": "ratio", "bytes": "B",
    "bytes_per_doc": "B", "plan_ms": "ms", "scan_ms": "ms",
    "read_ms_p50": "ms", "read_ms_p95": "ms",
}
GENERIC_UNITS = {
    "self_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "task_skew": "ratio", "busy_frac": "ratio",
}
OVERHEAD = "trace.overhead_s"


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit."""
    units = {}
    for layer, extras in LAYERS.items():
        for g in GENERIC:
            units[f"{layer}.{g}"] = GENERIC_UNITS.get(g, "count")
        for e in extras:
            units[f"{layer}.{e}"] = EXTRA_UNITS.get(e, "count")
    units[OVERHEAD] = "s"
    return units


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._persisted: list[DataFrame] = []

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1].sid
        s = Span(next(self._ids), name, parent, time.perf_counter())
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", s.group)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(s)

    def materialize(self, df: DataFrame, span: Span, rows_key: str | None = None) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = df.count()
        if rows_key:
            span.add(rows_key, n)
        span.add("_rows", n)
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- wrappers around each layer's public call ------------------------

    @contextlib.contextmanager
    def patched(self):
        """Install the layer wrappers; restore the originals on exit."""
        from pero_ocr_spark.operators import ctc, dedup, extract, html, layout, linedet, textstats
        from pero_ocr_spark.sources.icetable import IceTable

        tr = self
        saved = []

        def patch(owner, attr, make):
            real = getattr(owner, attr)
            saved.append((owner, attr, real))
            setattr(owner, attr, make(real))

        def w_extract(real):
            # the nested (doc_id, spans) input is the corpus layer's
            # output, however the caller derived it
            def f(nested, *a, **k):
                with tr.span("corpus") as c:
                    nested = tr.materialize(nested, c)
                    n_in = nested.select(F.sum(F.size("spans"))).first()[0] or 0
                c.add("spans", n_in)
                with tr.span("extract") as s:
                    out = tr.materialize(real(nested, *a, **k), s)
                s.add("_in", n_in)
                return out
            return f

        def w_rows(layer: str, rows_key: str | None):
            def wrap(real):
                def f(*a, **k):
                    with tr.span(layer) as s:
                        return tr.materialize(real(*a, **k), s, rows_key)
                return f
            return wrap

        def w_linedet(real):
            def f(lines, *a, **k):
                with tr.span("linedet") as s:
                    out = tr.materialize(real(lines, *a, **k), s, "lines_detected")
                # recall: detected baselines that land on an input line
                # position (one per (doc, ord) — split halves merge)
                want = lines.select("doc_id", "ord").distinct()
                got = out.select(
                    "doc_id",
                    (F.round((F.col("y") - 20) / 30.0, 0).cast("long") * 2
                     + F.substring("region_id", 2, 10).cast("long")).alias("ord"),
                ).distinct()
                n_want = want.count()
                s.add("detect_recall",
                      got.join(want, ["doc_id", "ord"]).count() / max(1, n_want))
                return out
            return f

        def w_ctc(real):
            def f(*a, **k):
                with tr.span("ctc") as s:
                    out = tr.materialize(real(*a, **k), s, "lines")
                    s.add("chars", out.select(F.sum(F.length("transcription"))).first()[0] or 0)
                return out
            return f

        def w_html(real):
            def f(pages, *a, **k):
                with tr.span("html") as s:
                    out = tr.materialize(real(pages, *a, **k), s)
                s.add("blocks", html.parse_html_blocks(pages).count())
                return out
            return f

        def w_commit(real):
            def f(table, df, *a, **k):
                with tr.span("icetable_write") as s:
                    v = real(table, df, *a, **k)
                files = [e["path"] for e in table.snapshot(v)["manifest"]]
                s.add("files", len(files))
                s.add("bytes", sum(os.path.getsize(p) for p in files))
                return v
            return f

        def w_files(real):
            def f(table, *a, **k):
                t0 = time.perf_counter()
                out = real(table, *a, **k)
                s = tr.current()
                if s is not None and s.name == "icetable_read":
                    s.add("plan_s", time.perf_counter() - t0)
                    s.add("files_planned", len(out))
                return out
            return f

        def w_minhash(real):
            def f(*a, **k):
                with tr.span("dedup") as s:
                    return tr.materialize(real(*a, **k), s, "verified_pairs")
            return f

        def w_verify(real):
            def f(arr, cands, *a, **k):
                s = tr.current()
                if s is not None and s.name == "dedup":
                    cands = tr.materialize(cands, s, "candidate_pairs")
                return real(arr, cands, *a, **k)
            return f

        patch(extract, "extract_spans", w_extract)
        patch(layout, "lines_table", w_rows("layout", "lines"))
        patch(linedet, "render_detect_lines", w_linedet)
        patch(ctc, "recognize_lines", w_ctc)
        patch(html, "html_to_spans", w_html)
        patch(IceTable, "commit", w_commit)
        patch(IceTable, "files", w_files)
        for fn in ("quality_classifier_scores", "lm_perplexity_scores", "chunk_documents"):
            patch(textstats, fn, w_rows("textstats", "rows_out"))
        patch(dedup, "minhash_lsh_pairs", w_minhash)
        patch(dedup, "_verify_pairs", w_verify)
        try:
            yield self
        finally:
            for owner, attr, real in reversed(saved):
                setattr(owner, attr, real)

    # -- counters from Spark's status store ------------------------------

    def _task_stats(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        store = jsc.statusStore()
        stages = set()
        for j in self.sc.statusTracker().getJobIdsForGroup(group):
            sids = store.job(j).stageIds()
            stages.update(sids.apply(i) for i in range(sids.size()))
        run_ms, failed, shuffle_b, spill_b = [], 0, 0, 0
        for sid in sorted(stages):
            tasks = store.taskList(sid, 0, 1 << 30)
            for i in range(tasks.size()):
                t = tasks.apply(i)
                if t.status() != "SUCCESS":
                    failed += 1
                m = t.taskMetrics()
                if m.isEmpty():
                    continue
                m = m.get()
                run_ms.append(m.executorRunTime())
                shuffle_b += m.shuffleWriteMetrics().bytesWritten()
                spill_b += m.diskBytesSpilled()
        return {
            "tasks": len(run_ms), "tasks_failed": failed,
            "run_ms": run_ms, "shuffle_b": shuffle_b, "spill_b": spill_b,
        }

    def layer_metrics(self, spans: list[Span]) -> dict[str, float]:
        """Every per-layer metric over ``spans`` (layers without a span
        report zeros: they made no call in this pass)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        child_s: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
        out = {name: 0.0 for name in metric_units()}
        for layer, extras in LAYERS.items():
            mine = [s for s in spans if s.name == layer]
            if not mine:
                continue
            self_s = sum(s.end - s.start - child_s.get(s.sid, 0.0) for s in mine)
            run_ms, tasks, failed, shuffle_b, spill_b = [], 0, 0, 0, 0
            counts: dict[str, float] = {}
            for s in mine:
                st = self._task_stats(s.group)
                run_ms += st["run_ms"]
                tasks += st["tasks"]
                failed += st["tasks_failed"]
                shuffle_b += st["shuffle_b"]
                spill_b += st["spill_b"]
                for k, v in s.counts.items():
                    counts[k] = counts.get(k, 0) + v
            p = f"{layer}."
            out[p + "self_s"] = self_s
            out[p + "tasks"] = tasks
            out[p + "tasks_failed"] = failed
            out[p + "shuffle_write_mb"] = shuffle_b / MB
            out[p + "spill_mb"] = spill_b / MB
            med = statistics.median(run_ms) if run_ms else 0
            out[p + "task_skew"] = max(run_ms) / med if med else 0.0
            out[p + "busy_frac"] = (
                sum(run_ms) / 1000.0 / (self_s * self.cores) if self_s > 0 else 0.0
            )
            for e in extras:
                if e in counts:
                    out[p + e] = counts[e]
            if layer == "extract" and counts.get("_in"):
                out[p + "keep_ratio"] = counts["_rows"] / counts["_in"]
            if layer == "html" and counts.get("blocks"):
                out[p + "keep_ratio"] = counts["_rows"] / counts["blocks"]
            if layer == "linedet":
                out[p + "detect_recall"] = counts.get("detect_recall", 0.0) / len(mine)
            if layer == "dedup" and counts.get("candidate_pairs"):
                out[p + "precision"] = counts["verified_pairs"] / counts["candidate_pairs"]
            if layer == "icetable_read":
                n = len(mine)
                plan = counts.get("plan_s", 0.0)
                out[p + "plan_ms"] = 1000.0 * plan / n
                out[p + "scan_ms"] = 1000.0 * (sum(s.end - s.start for s in mine) - plan) / n
                out[p + "files_planned"] = counts.get("files_planned", 0) / n
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {"id": s.sid, "name": s.name, "parent": s.parent,
             "start": s.start, "end": s.end,
             "counts": {k: v for k, v in s.counts.items() if not k.startswith("_")}}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1)
