"""r6 guard: operators.grouped_map_in_pandas must stay semantically
equal to the groupBy(key).applyInPandas form it replaces — including
null group keys, groups spanning Arrow batch boundaries, and
composite keys."""

import numpy as np
import pandas as pd
import pytest

from pero_ocr_spark.operators import grouped_map_in_pandas


def _make_summarize():
    # defined inside a factory so it pickles BY VALUE to the workers
    def _summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "doc_id": [pdf["doc_id"].iloc[0]],
                "n": [len(pdf)],
                "s": [int(pdf["v"].sum())],
            }
        )

    return _summarize


class TestGroupedMapInPandas:
    def _compare(self, spark, df, key, fn, schema):
        nk = lambda t: tuple(  # noqa: E731 — None-safe sort key
            (x is None, 0 if x is None else x) for x in t
        )
        got = sorted(
            map(tuple, grouped_map_in_pandas(df, key, fn, schema).collect()),
            key=nk,
        )
        want = sorted(
            map(
                tuple,
                df.groupBy(key if isinstance(key, list) else [key])
                .applyInPandas(fn, schema)
                .collect(),
            ),
            key=nk,
        )
        assert got == want

    def test_matches_apply_in_pandas_with_nulls(self, spark):
        import random

        random.seed(11)
        rows = [
            (random.choice([1, 2, 3, 7, None]), i) for i in range(500)
        ]
        df = spark.createDataFrame(rows, "doc_id long, v long")
        self._compare(
            spark, df, "doc_id", _make_summarize(),
            "doc_id long, n long, s long",
        )

    def test_group_spanning_many_batches(self, spark):
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
        try:
            rows = [(1, i) for i in range(400)] + [
                (j % 5 + 10, j) for j in range(200)
            ]
            df = spark.createDataFrame(rows, "doc_id long, v long")
            self._compare(
                spark, df, "doc_id", _make_summarize(),
                "doc_id long, n long, s long",
            )
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )

    def test_composite_string_key(self, spark):
        rows = [
            (i % 7, f"r{i % 3}", i) for i in range(300)
        ]
        df = spark.createDataFrame(rows, "doc_id long, region_id string, v long")

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "doc_id": [pdf["doc_id"].iloc[0]],
                    "region_id": [pdf["region_id"].iloc[0]],
                    "n": [len(pdf)],
                    "s": [int(pdf["v"].sum())],
                }
            )

        self._compare(
            spark, df, ["doc_id", "region_id"], fn,
            "doc_id long, region_id string, n long, s long",
        )

    def test_label_based_group_access(self, spark):
        # applyInPandas hands every group a fresh RangeIndex, so
        # pdf["v"][0] is the group's first row; the helper's batch
        # slices and groupby sub-frames must not leak their labels
        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "doc_id": [pdf["doc_id"][0]],
                    "n": [len(pdf)],
                    "s": [int(pdf["v"][0])],
                }
            )

        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "30")
        try:
            # v is constant per group: the first row is order-independent
            # and groups smaller than a batch reach the groupby path
            rows = [(i % 40, (i % 40) * 10) for i in range(400)]
            df = spark.createDataFrame(rows, "doc_id long, v long")
            self._compare(
                spark, df, "doc_id", fn, "doc_id long, n long, s long",
            )
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
