"""spark-submit job entry point (jobs/extract_job.py)."""

from __future__ import annotations

import importlib.util
import json
import pathlib


def _job():
    p = pathlib.Path(__file__).parent.parent / "jobs" / "extract_job.py"
    spec = importlib.util.spec_from_file_location("extract_job", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_extract_job_writes_sharded_spans(spark, sf_dir, tmp_path, capsys):
    mod = _job()
    out = tmp_path / "spans"
    rc = mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["n_spans"] > 0 and m["n_text"] > 0 and m["n_media"] > 0
    df = spark.read.parquet(str(out))
    assert df.count() == m["n_spans"]
    assert df.select("shard").distinct().count() == 4
    # one task per shard: each shard dir holds exactly one data file
    for s in range(4):
        assert len(list((out / f"shard={s}").glob("*.parquet"))) == 1


def test_ingest_job_emits_interleaved_spans(spark, sf_dir, tmp_path, capsys):
    mod = _job()
    out = tmp_path / "ingest"
    rc = mod.main(
        ["--pipeline", "ingest", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    df = spark.read.parquet(str(out))
    kinds = {r.kind for r in df.select("kind").distinct().collect()}
    assert kinds == {"text", "media"}
    assert df.count() == m["n_spans"]


def test_extract_job_resumes_at_shard_granularity(spark, sf_dir, tmp_path, capsys):
    mod = _job()
    out = tmp_path / "spans"
    mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    import json as _json

    first = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n = spark.read.parquet(str(out)).count()
    # second run: all shards committed -> nothing rewritten
    mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    second = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["resumed_shards_skipped"] == 4
    assert (second["n_spans"] or 0) == 0
    assert spark.read.parquet(str(out)).count() == n == first["n_spans"]


def test_resume_rewrites_unmanifested_partial_shards(spark, sf_dir, tmp_path, capsys):
    """A crash can leave a partially-populated shard dir WITHOUT its
    manifest row (committer v2 / direct committers publish task files
    immediately). Resume must rewrite such shards — dynamic overwrite,
    no silent skip, no append duplication."""
    import shutil

    mod = _job()
    out = tmp_path / "spans"
    mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n = spark.read.parquet(str(out)).count()
    assert n == first["n_spans"]
    # simulate the crash: manifest gone, one shard dir half-truncated
    # (its published files exist but the run never recorded completion)
    shutil.rmtree(out / "_shards_done")
    shard_dir = out / "shard=2"
    files = sorted(shard_dir.glob("*.parquet"))
    assert files
    files[0].unlink()
    assert spark.read.parquet(str(out)).count() < n
    # re-run: nothing is in the manifest, so every shard is rewritten
    mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["resumed_shards_skipped"] == 0
    # exactly-once: the partial shard was REPLACED, the rest overwritten
    # in place — total equals the clean single-run count, not more
    assert spark.read.parquet(str(out)).count() == n


def test_warc_job_parses_archive_shards_to_spans(spark, sf_dir, tmp_path, capsys):
    # web path end-to-end via spark-submit entry: raw documents are
    # wrapped into WARC shards, parsed length-framed, and the 200
    # bodies flow through the same DOM extraction as the ingest
    # pipeline; 404 captures contribute no spans
    mod = _job()
    out = tmp_path / "warc_spans"
    rc = mod.main(
        ["--pipeline", "warc", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    df = spark.read.parquet(str(out))
    assert df.count() == m["n_spans"] > 0
    kinds = {r.kind for r in df.select("kind").distinct().collect()}
    assert kinds == {"text", "media"}
    # the 404 captures (doc_id % 50 == 7) must be absent
    n404 = df.filter((df.doc_id % 50) == 7).count()
    assert n404 == 0


def test_icetable_sink_commits_spans_with_shard_properties(
    spark, sf_dir, tmp_path, capsys
):
    """--sink icetable: spans land in the snapshot table, the commit's
    properties carry the shard list, and reads see every span."""
    mod = _job()
    out = tmp_path / "ice"
    rc = mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4", "--sink", "icetable"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["sink"] == "icetable" and m["table_version"] == 1
    from pero_ocr_spark.sources.icetable import IceTable

    table = IceTable(str(out))
    assert table.read(spark).count() == m["n_spans"] > 0
    (snap,) = table.history()
    assert snap["properties"]["shards"] == [0, 1, 2, 3]
    assert snap["properties"]["pipeline"] == "extract"


def test_icetable_sink_resume_is_commit_atomic(spark, sf_dir, tmp_path, capsys):
    """Done shards come from the table's own commit log: a partial
    prior commit (simulating a crash AFTER commit N) resumes with only
    the missing shards, and a fully-committed table appends nothing —
    no side manifest exists to disagree with the data."""
    mod = _job()
    out = tmp_path / "ice"
    # simulate a prior run that committed shards {0, 1} then died
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import extract, sampling
    from pero_ocr_spark.sources.icetable import IceTable
    from pyspark.sql import functions as F

    spans = extract.extract_spans(
        corpus.spans_table(spark, sf_dir)
    ).withColumn("shard", sampling._residue(4).cast("int"))
    table = IceTable(str(out))
    table.commit(
        spans.filter(F.col("shard") < 2),
        properties={"pipeline": "extract", "shards": [0, 1]},
    )
    n_partial = table.read(spark).count()

    rc = mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4", "--sink", "icetable"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["resumed_shards_skipped"] == 2 and m["table_version"] == 2
    total = table.read(spark).count()
    assert n_partial < total == spans.count()
    assert m["n_spans"] == total - n_partial

    # third run: everything recorded in the log -> append nothing
    rc = mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4", "--sink", "icetable"]
    )
    m2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m2["resumed_shards_skipped"] == 4
    assert m2["n_spans"] == 0 and m2["table_version"] == 2
    assert table.read(spark).count() == total
