"""The benchmark's workloads.

Each workload writes its seeded inputs (``generate``), does any
set-up materialization (``prepare``), and then runs passes. A pass is
the timed unit: ``run_pass`` makes the public calls and returns the
pass output; ``check`` compares that output with the DuckDB oracle
outside the timed interval and returns the keys of the failed
operations (``pass_ids`` lists the keys a pass attempts). ``reads``
runs the point reads that follow a pass, timed on their own.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import gen
import oracle
from oracle import CHUNK_COLS, OCR_COLS, PAIR_COLS, SPAN_COLS


def _write_docs(path: str, docs) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    gen.write(docs, path)


def _sink_files(sink: str) -> tuple[list[str], int]:
    """(data files under the shard dirs, bytes of everything the sink
    left on disk, manifest included)."""
    files, total = [], 0
    for base, _, names in os.walk(sink):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            if n.endswith(".parquet") and "shard=" in os.path.basename(base):
                files.append(os.path.join(base, n))
    return sorted(files), total


def _read_parquet(files):
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT * FROM read_parquet({list(files)!r}, hive_partitioning = true)"
        ).fetchdf()
    finally:
        con.close()


class Workload:
    name = ""
    docs_per_pass = 0
    # wall time of one warm pass on a 4-core x86 VM; with ``--seconds``
    # it fixes how many passes a run times
    nominal_pass_s = 1.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.info: dict = {}
        self.stage_s: dict[str, list[float]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        self.spark = spark

    def run_pass(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> set:
        raise NotImplementedError

    def pass_ids(self, i: int) -> set:
        return set(range(self.docs_per_pass))

    def reads(self, warm: bool = False, tracer=None, parent=None) -> tuple[int, int]:
        """Point reads after a pass: (attempted, failed)."""
        return 0, 0

    def layer_metrics(self, out: dict) -> None:
        """Fill per-layer figures only the workload knows."""

    @contextlib.contextmanager
    def stage(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.stage_s.setdefault(name, []).append(time.perf_counter() - t0)

    def timed_median(self, per_pass: dict[int, float]) -> float:
        """Median over the timed passes of a per-pass figure."""
        first = self.ctx.warmup
        timed = [v for i, v in per_pass.items() if first <= i < first + self.ctx.passes]
        return statistics.median(timed or [0.0])

    def finish(self) -> None:
        self.info.update(self.stage_s)


class ExtractCurate(Workload):
    """Catalyst-only corpus processing over one seeded corpus with a
    stated share of exact and near-duplicate documents. Each pass runs
    ``jobs/extract_job.main --pipeline extract`` into a fresh parquet
    sink (with its ``_shards_done`` manifest), then the
    ``curation_pipeline_e2e`` and ``dedup_minhash_lsh`` queries."""

    name = "extract_curate"
    docs_per_pass = 1200
    nominal_pass_s = 9.0
    exact_dup_share = 0.10
    near_dup_share = 0.10

    def generate(self) -> None:
        self.dir = self.path("corpus")
        self.docs = os.path.join(self.dir, "documents.parquet")
        _write_docs(self.docs, gen.documents(
            self.ctx.seed, self.docs_per_pass,
            exact_dup_share=self.exact_dup_share,
            near_dup_share=self.near_dup_share,
        ))
        self.info["exact_dup_share"] = self.exact_dup_share
        self.info["near_dup_share"] = self.near_dup_share

    def prepare(self, spark) -> None:
        super().prepare(spark)
        spec = importlib.util.spec_from_file_location(
            "extract_job", os.path.join(self.ctx.root, "jobs", "extract_job.py")
        )
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)
        o = oracle.Oracle(self.docs)
        sql = self.ctx.oracle_sql
        self.want_spans = o.expected(sql["extract_spans"], SPAN_COLS)
        self.want_chunks = o.expected(sql["curation_pipeline_e2e"], CHUNK_COLS)
        self.want_pairs = o.expected(sql["dedup_minhash_lsh"], PAIR_COLS)
        o.close()
        self.stored: dict[int, float] = {}

    def run_pass(self, i: int):
        sink = self.path(f"sink{i}")
        with self.stage("extract_s"), self.ctx.span("sink") as span, \
                contextlib.redirect_stdout(io.StringIO()):
            self.job.main(
                ["--pipeline", "extract", "--input", self.docs, "--output", sink]
            )
        if span is not None:
            files, total = _sink_files(sink)
            span.add("files", len(files))
            span.add("bytes", total)
        with self.stage("curate_s"):
            q = self.ctx.queries
            chunks = q["curation_pipeline_e2e"](self.spark, self.dir).toPandas()
            pairs = q["dedup_minhash_lsh"](self.spark, self.dir).toPandas()
        return sink, chunks, pairs

    def check(self, i: int, out) -> set:
        sink, chunks, pairs = out
        files, total = _sink_files(sink)
        spans = _read_parquet(files)
        self.stored[i] = total / self.docs_per_pass
        shutil.rmtree(sink, ignore_errors=True)
        return (
            oracle.failed_docs(spans, self.want_spans, SPAN_COLS)
            | oracle.failed_docs(chunks, self.want_chunks, CHUNK_COLS)
            | oracle.failed_docs(pairs, self.want_pairs, PAIR_COLS, ("doc_a", "doc_b"))
        )

    def layer_metrics(self, out: dict) -> None:
        out["sink.bytes_per_doc"] = out["sink.bytes"] / self.docs_per_pass

    def finish(self) -> None:
        super().finish()
        self.info["stored_bytes_per_doc"] = self.timed_median(self.stored)


class OcrWeb(Workload):
    """The Python/Arrow UDF boundary: pass k takes a new batch k of
    generated documents. It runs the ``ocr_pipeline_e2e`` query
    (render + detect, CTC recognition) over the batch's spans, which
    set-up extracted and cached, then ingests the batch's web pages
    (``html.html_to_spans``) with one ``IceTable.commit`` append, then
    makes seeded point reads by ``doc_id`` from a closed loop of
    ``read_clients`` clients. The table grows one commit per pass.

    Every pass OCRs documents no earlier pass saw: the recognizer keeps
    per-worker memos, and re-running the same documents would time
    memo hits that depend on which Python worker a task landed on."""

    name = "ocr_web"
    batch_docs = 400
    docs_per_pass = 2 * batch_docs  # each document is OCR'd and ingested as a page
    reads_per_pass = 60
    warm_reads = 10
    read_clients = 4
    nominal_pass_s = 6.0

    # -- inputs -----------------------------------------------------------

    def generate(self) -> None:
        # batch k holds doc ids [k*B, (k+1)*B); pass k uses batch k
        # (warm-up passes first, the traced pass last)
        for k in range(self.ctx.warmup + self.ctx.passes + 1):
            docs = gen.documents(self.ctx.seed, self.batch_docs,
                                 id_base=k * self.batch_docs)
            _write_docs(os.path.join(self._batch(k), "documents.parquet"), docs)
            gen.write(gen.pages(docs), os.path.join(self._batch(k), "pages.parquet"))

    def _batch(self, k: int) -> str:
        return self.path("batches", f"batch{k:03d}")

    def prepare(self, spark) -> None:
        super().prepare(spark)
        from pero_ocr_spark import corpus
        from pero_ocr_spark.sources.icetable import IceTable

        for k in range(self.ctx.warmup + self.ctx.passes + 1):
            corpus.extracted_spans(spark, self._batch(k)).count()
        self.table = IceTable(self.path("table"))
        self.want_web: dict = {}  # committed and checked batch -> oracle spans
        self.stored: dict[int, float] = {}
        self.read_ms: list[float] = []
        self.rng = random.Random(f"perfbench-reads:{self.ctx.seed}")

    def pass_ids(self, i: int) -> set:
        ids = range(i * self.batch_docs, (i + 1) * self.batch_docs)
        return {(kind, d) for kind in ("ocr", "web") for d in ids}

    # -- pass -------------------------------------------------------------

    def run_pass(self, i: int):
        from pero_ocr_spark.operators import html

        with self.stage("ocr_s"):
            ocr = self.ctx.queries["ocr_pipeline_e2e"](self.spark, self._batch(i)).toPandas()
        with self.stage("ingest_s"):
            pages = self.spark.read.parquet(os.path.join(self._batch(i), "pages.parquet"))
            version = self.table.commit(html.html_to_spans(pages), "append")
        return ocr, version

    def check(self, i: int, out) -> set:
        ocr, version = out
        o = oracle.Oracle(os.path.join(self._batch(i), "documents.parquet"))
        want_ocr = o.expected(self.ctx.oracle_sql["ocr_pipeline_e2e"], OCR_COLS)
        want = o.expected(self.ctx.oracle_sql["html_interleaved_spans"], SPAN_COLS)
        o.close()
        bad = {("ocr", d) for d in oracle.failed_docs(ocr, want_ocr, OCR_COLS)}
        files = [e["path"] for e in self.table.snapshot(version)["manifest"]]
        got = _read_parquet(files)
        self.stored[i] = sum(os.path.getsize(p) for p in files) / self.batch_docs
        self.want_web[i] = want
        return bad | {("web", d) for d in oracle.failed_docs(got, want, SPAN_COLS)}

    # -- point reads ------------------------------------------------------

    def point_read(self, doc_id: int):
        from pyspark.sql import functions as F

        return (
            self.table.read(self.spark, prune={"doc_id": (doc_id, doc_id)})
            .filter(F.col("doc_id") == doc_id)
            .collect()
        )

    def expected_rows(self, doc_id: int) -> list[tuple]:
        w = self.want_web[doc_id // self.batch_docs]
        rows = w[w["doc_id"] == doc_id]
        return sorted(tuple(r) for r in rows[list(SPAN_COLS)].itertuples(index=False))

    def reads(self, warm: bool = False, tracer=None, parent=None) -> tuple[int, int]:
        """Closed loop: each client issues its next read when the
        previous one returns. Doc ids are drawn from every batch
        committed and checked so far."""
        batches = sorted(self.want_web)
        n = self.warm_reads if warm else self.reads_per_pass
        if not batches:
            return 0, 0
        ids = [self.rng.choice(batches) * self.batch_docs + self.rng.randrange(self.batch_docs)
               for _ in range(n)]

        def one(d: int):
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    rows = self.point_read(d)
                else:
                    with tracer.span("icetable_read", parent=parent):
                        rows = self.point_read(d)
            except Exception as e:  # counted as a failed read
                rows = e
            return (time.perf_counter() - t0) * 1000.0, d, rows

        with ThreadPoolExecutor(self.read_clients) as ex:
            results = list(ex.map(one, ids))
        failed = 0
        for _, d, rows in results:
            if isinstance(rows, Exception):
                failed += 1
                continue
            got = sorted(tuple(r[c] for c in SPAN_COLS) for r in rows)
            failed += got != self.expected_rows(d)
        if not warm and tracer is None:
            self.read_ms += [ms for ms, _, _ in results]
        return len(results), failed

    def read_stats(self) -> dict:
        ms = self.read_ms
        if len(ms) < 2:
            return {}
        p95 = statistics.quantiles(ms, n=100, method="inclusive")[94]
        return {
            "read_ms_p50": statistics.median(ms), "read_ms_p95": p95,
            "reads": len(ms), "reads_beyond_p95": sum(x > p95 for x in ms),
            "read_clients": self.read_clients,
        }

    def layer_metrics(self, out: dict) -> None:
        out["icetable_write.bytes_per_doc"] = out["icetable_write.bytes"] / self.batch_docs
        live = len(self.table.files())
        out["icetable_read.files_live"] = live
        out["icetable_read.prune_ratio"] = (
            out["icetable_read.files_planned"] / live if live else 0.0)
        for k, v in self.read_stats().items():
            if f"icetable_read.{k}" in out:
                out[f"icetable_read.{k}"] = v

    def finish(self) -> None:
        super().finish()
        self.info.update(self.read_stats())
        self.info["stored_bytes_per_doc"] = self.timed_median(self.stored)


WORKLOADS = {w.name: w for w in (ExtractCurate, OcrWeb)}
