"""Operator package. Shared scan-shape and expression helpers live here."""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_gram_array(ws: Column, n: int) -> Column:
    """Word n-gram array over an ALREADY-HOISTED words column.

    ``ws`` MUST be a materialized array column (``F.split(...)`` given
    its own ``.select(...alias('ws'))`` projection first, and the row
    filtered to ``F.size(ws) >= n``) — inlining the split here would
    re-evaluate it per transform element and turn the fold O(n²) per
    row (measured 4× on the sf0.1 shingle stream; the
    lm_perplexity variant of the same mistake was 79s→2.6s). That
    invariant lives in THIS helper once; dedup/sketch/textstats all
    delegate instead of re-deriving the fold.
    """
    return F.transform(
        F.sequence(F.lit(0), F.size(ws) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j + 1) for j in range(n)]
        ),
    )


def grouped_map_in_pandas(df: DataFrame, key: str, per_group, schema):
    """``groupBy(key).applyInPandas(per_group, schema)`` with
    batch-level Arrow framing.

    The grouped-map form ships every group as its OWN Arrow batch and
    IPC round-trip, so a stage over ~5000 one-document groups pays
    ~5000 tiny serializations — measured 3.7× the cost of the same
    trivial consumer fed full batches. This helper hash-partitions on
    the key (explicit numbered repartition — exempt from AQE
    small-partition coalescing, which would serialize the python
    stage), sorts within partitions so each group is contiguous,
    ships default-size (~10k-row) batches, and re-groups in pandas,
    carrying the tail group across batch boundaries.

    Semantics match applyInPandas: ``per_group`` is called exactly
    once per distinct key with all of that key's rows (hash
    partitioning puts a key in one partition; the sort makes it one
    contiguous run), as a frame with a fresh ``RangeIndex`` — so
    label-based access (``pdf["v"][0]``, ``.loc[0]``) works as under
    applyInPandas instead of seeing a slice's inherited labels. Row
    order WITHIN a group is not guaranteed by either form; group
    functions must not depend on it (none here do — they sort
    internally or compute order-independent outputs).
    """
    import numpy as np
    import pandas as pd

    keys = list(key) if isinstance(key, (list, tuple)) else [key]
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))

    def _eq(col: "np.ndarray", v) -> "np.ndarray":
        # null-aware key equality: groupBy().applyInPandas treats the
        # null key as a group of its own, so the run detection must
        # not break a null run (NaN == NaN is False)
        if pd.isna(v):
            return pd.isna(col)
        return col == v

    def gen(batches):
        # `parts` accumulates the frames of ONE partial trailing group
        # (appended per batch, concatenated once when the run closes —
        # linear even when a skewed group spans many Arrow batches)
        parts: list = []

        def close_run():
            g = pd.concat(parts, ignore_index=True)
            parts.clear()
            return per_group(g)

        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            if parts:
                cont = np.ones(len(pdf), dtype=bool)
                for k in keys:
                    cont &= _eq(pdf[k].to_numpy(), parts[-1][k].iloc[-1])
                head = int(cont.cumprod().sum())
                if head:
                    parts.append(pdf.iloc[:head])
                    if head == len(pdf):
                        continue  # run still open
                    pdf = pdf.iloc[head:]
                outs.append(close_run())
            # the last key's run may continue in the next batch — defer
            run = np.ones(len(pdf), dtype=bool)
            for k in keys:
                col = pdf[k].to_numpy()
                run &= _eq(col, col[len(col) - 1])
            cut = len(pdf) - int(run[::-1].cumprod().sum())
            parts.append(pdf.iloc[cut:])
            for _, g in pdf.iloc[:cut].groupby(
                keys, sort=False, dropna=False
            ):
                outs.append(per_group(g.reset_index(drop=True)))
            # one output Arrow batch per input batch, not per group
            if outs:
                yield outs[0] if len(outs) == 1 else pd.concat(
                    outs, ignore_index=True
                )
        if parts and sum(len(p) for p in parts):
            yield close_run()

    return (
        df.repartition(n, *keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(gen, schema)
    )


def spread_scan(df: DataFrame) -> DataFrame:
    """Scan-parallelism guard for heavy in-row stages.

    A small single-file parquet scan arrives as ONE input partition and
    every downstream narrow stage inherits it — serializing per-row
    higher-order-function work (transform/aggregate folds are
    interpreted, not whole-stage-codegen'd, so per-row cost is real) on
    one core. Repartition only when actually starved: at corpus scale
    the input arrives in thousands of file splits and this is a no-op
    (no shuffle added).
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() >= max(2, n // 2):
        return df
    return df.repartition(n)
