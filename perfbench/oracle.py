"""Per-document correctness against the registry's DuckDB oracles.

Every workload's outputs are compared with the ``oracle_sql()`` the
query registry pairs with the query, run in DuckDB over the same
generated parquet. Rows are compared as multisets per document, with
``ord`` (or the pair key) among the columns, so a dropped, added,
changed or reordered span fails its document.
"""

from __future__ import annotations

import duckdb
import pandas as pd

# (kind, text, media_ref, ord) span sequences, and the other outputs'
# natural columns; floats are rounded to the registry's 6-dp grain
SPAN_COLS = ("doc_id", "kind", "text", "media_ref", "ord")
OCR_COLS = ("doc_id", "kind", "text", "ord")
CHUNK_COLS = ("doc_id", "chunk_id", "n_tokens", "chunk_text")
PAIR_COLS = ("doc_a", "doc_b", "jaccard")


class Oracle:
    """DuckDB connection with ``documents`` bound to one parquet file."""

    def __init__(self, documents_path: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{documents_path}')"
        )

    def close(self) -> None:
        self.con.close()

    def expected(self, sql: str, cols: tuple[str, ...]) -> pd.DataFrame:
        return _normalize(self.con.execute(sql).fetchdf(), cols)


def _normalize(df: pd.DataFrame, cols: tuple[str, ...]) -> pd.DataFrame:
    out = df.loc[:, list(cols)].copy()
    for c in cols:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        else:
            out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out


def mismatched_rows(
    got: pd.DataFrame, want: pd.DataFrame, cols: tuple[str, ...]
) -> pd.DataFrame:
    """Rows in exactly one of the two multisets (with multiplicity)."""
    got = _normalize(got, cols)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("g", got)
        con.register("w", want)
        sel = ", ".join(cols)
        return con.execute(
            f"(SELECT {sel} FROM g EXCEPT ALL SELECT {sel} FROM w) "
            f"UNION ALL (SELECT {sel} FROM w EXCEPT ALL SELECT {sel} FROM g)"
        ).fetchdf()
    finally:
        con.close()


def failed_docs(
    got: pd.DataFrame,
    want: pd.DataFrame,
    cols: tuple[str, ...],
    keys: tuple[str, ...] = ("doc_id",),
) -> set[int]:
    """Documents whose rows differ; a row counts against every doc id
    in ``keys`` (both ends of a near-duplicate pair)."""
    bad = mismatched_rows(got, want, cols)
    return {int(d) for k in keys for d in bad[k].tolist()}
