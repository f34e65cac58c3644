"""Seeded input generator for the benchmark workloads.

Writes ``documents.parquet`` with the schema of the engine's corpus
table ``(doc_id long, text string, lang string, source string,
n_chars long)`` and its word/length distribution: texts are 10-100
words drawn uniformly from a 30-word vocabulary, 5 % of documents are
a near-duplicate of an earlier one (its text plus the word ``dup``),
``lang`` is 41 % ``en`` and an even split of four others, and
``source`` is ``src<doc_id % 20>``. Doc ids are contiguous from
``id_base``, so the corpus derivation keeps its built-in skew (1 % of
documents 64x heavy, 7 % 8x heavy).

Lengths are stratified, not drawn independently: within each weight
class of that skew, the fresh (non-duplicate) texts' lengths are
evenly spaced over 10-100 and the seed only shuffles which document
gets which. The 64x documents carry about a third of the corpus's
words, so independent draws would change a pass's work by several
percent from seed to seed. Duplicate counts are exact
(``round(share * n_docs)``) and duplicates are only ever weight-1
documents, for the same reason.

``pages.parquet`` (``doc_id``, ``html``) renders each document as the
interleaved web page the HTML ingest path consumes: a fixed
head/nav/aside/footer frame around 12-word paragraphs, with an image
after every odd-numbered paragraph.

Everything is a pure function of the arguments: the same seed writes
byte-identical files.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
NEAR_DUP_SHARE = 0.05  # share of near-duplicates in the reference corpus

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
PAGES_SCHEMA = pa.schema([("doc_id", pa.int64()), ("html", pa.string())])

PARA_WORDS = 12
_HEAD = "<html><head><title>meta title</title><script>var x=1;</script></head><body>"
_NAV = '<nav><a href="/">home</a> <a href="/about">about</a> <a href="/c">contact</a></nav>'
_ASIDE = '<aside><a href="/ad1">buy now</a> <a href="/ad2">subscribe today</a></aside>'
_FOOTER = '<footer><a href="/tos">terms</a> <a href="/priv">privacy</a> copyright</footer>'
_TAIL = "</body></html>"


def weight(doc_id: int) -> int:
    """The corpus derivation's per-document multiplier
    (``pero_ocr_spark.corpus.MULT_SQL``)."""
    return 64 if doc_id % 97 == 0 else 8 if doc_id % 13 == 0 else 1


def documents(
    seed: int,
    n_docs: int,
    id_base: int = 0,
    exact_dup_share: float = 0.0,
    near_dup_share: float = NEAR_DUP_SHARE,
) -> pa.Table:
    """``n_docs`` documents with ids ``id_base .. id_base + n_docs - 1``.

    ``round(exact_dup_share * n_docs)`` weight-1 documents are an
    exact copy of an earlier weight-1 document's text, and
    ``round(near_dup_share * n_docs)`` are such a text plus `` dup``
    (word trigram Jaccard >= 8/9 with its source); the rest are fresh.
    """
    rng = random.Random(f"perfbench-docs:{seed}:{id_base}")
    ids = list(range(id_base, id_base + n_docs))
    light = [d for d in ids if weight(d) == 1]
    n_exact = round(exact_dup_share * n_docs)
    dups = rng.sample(light[1:], n_exact + round(near_dup_share * n_docs))
    exact, near = set(dups[:n_exact]), set(dups[n_exact:])
    length: dict[int, int] = {}
    for w in sorted({weight(d) for d in ids}):
        fresh = [d for d in ids if weight(d) == w and d not in exact and d not in near]
        grid = [10 + int(91 * (j + 0.5) / len(fresh)) for j in range(len(fresh))]
        rng.shuffle(grid)
        length.update(zip(fresh, grid))
    texts: list[str] = []
    sources: list[str] = []  # earlier weight-1 texts a duplicate copies
    for d in ids:
        if d in exact or d in near:
            text = rng.choice(sources) + ("" if d in exact else " dup")
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(length[d]))
        texts.append(text)
        if weight(d) == 1:
            sources.append(text)
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{d % 20}" for d in ids],
            "n_chars": [len(t) for t in texts],
        },
        schema=SCHEMA,
    )


def page_html(doc_id: int, source: str, text: str) -> str:
    words = text.split(" ")
    paras = []
    for i in range((len(words) - 1) // PARA_WORDS + 1):
        p = "<p>" + " ".join(words[i * PARA_WORDS:(i + 1) * PARA_WORDS]) + "</p>"
        if i % 2 == 1:
            p += f'<img src="img://{doc_id}/{i}">'
        paras.append(p)
    return (
        f"{_HEAD}{_NAV}<h1>{source} report</h1>"
        f'<div class="content">{"".join(paras)}</div>'
        f"{_ASIDE}{_FOOTER}{_TAIL}"
    )


def pages(docs: pa.Table) -> pa.Table:
    rows = zip(*(docs.column(c).to_pylist() for c in ("doc_id", "source", "text")))
    ids, html = [], []
    for doc_id, source, text in rows:
        ids.append(doc_id)
        html.append(page_html(doc_id, source, text))
    return pa.table({"doc_id": ids, "html": html}, schema=PAGES_SCHEMA)


def write(table: pa.Table, path: str) -> None:
    """One row group, fixed codec: the file bytes depend only on the
    table."""
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
