"""Load generation, kept apart from the program under test.

Every corpus is produced by ``search_spark.datagen.generate_doc`` — a pure
function of ``(seed, doc_id)`` — in the driver process and written to
parquet with pyarrow *before* any Spark session exists, so generator cost
never lands in a timed span and the program only ever sees parquet files.
The ground truth (``ExpectedDoc``) of every page is kept for the
correctness gates.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from search_spark import datagen

#: parquet twin of ``datagen.WEB_PAGES_SCHEMA`` (microsecond UTC
#: timestamps: Spark rejects pyarrow's default nanosecond unit)
WEB_PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("lang", pa.string(), nullable=False),
    ]
)


N_FILES = 8


@dataclass
class Corpus:
    path: str | None  # parquet directory, None when not written
    seed: int
    doc_ids: list[int]
    docs: list  # (row, ExpectedDoc) per page, row without html bytes

    @property
    def n_pages(self) -> int:
        return len(self.doc_ids)

    @property
    def urls(self) -> list[str]:
        return [row["url"] for row, _ in self.docs]


def make_corpus(
    seed: int,
    doc_ids: list[int],
    n_para_range: tuple[int, int] = (2, 4),
    n_sent_range: tuple[int, int] = (1, 3),
) -> tuple[Corpus, list[dict]]:
    """Pages ``doc_ids`` of corpus ``seed`` (ground truth, no files) and
    their rows."""
    rows, docs = [], []
    for i in doc_ids:
        row, exp = datagen.generate_doc(seed, i, n_para_range, n_sent_range)
        rows.append(row)
        docs.append(({k: v for k, v in row.items() if k != "html"}, exp))
    return Corpus(path=None, seed=seed, doc_ids=list(doc_ids),
                  docs=docs), rows


def write_corpus(
    path: str,
    seed: int,
    doc_ids: list[int],
    n_para_range: tuple[int, int] = (2, 4),
    n_sent_range: tuple[int, int] = (1, 3),
) -> Corpus:
    """Generate pages ``doc_ids`` of corpus ``seed`` into ``path``, a
    directory of ``N_FILES`` parquet files (so the scan splits across
    cores)."""
    import os

    os.makedirs(path, exist_ok=True)
    corpus, rows = make_corpus(seed, doc_ids, n_para_range, n_sent_range)
    corpus.path = path
    per = -(-len(rows) // N_FILES)
    for f in range(N_FILES):
        chunk = rows[f * per:(f + 1) * per]
        if chunk:
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=WEB_PAGES_ARROW),
                f"{path}/part-{f:03d}.parquet",
            )
    return corpus
