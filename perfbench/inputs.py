"""Seeded benchmark inputs.

Each corpus is the frame ``fixtures.make_corpus(n, seed)`` returns, written
as parquet with pyarrow (a Spark write would add a cold JVM job to every
run's set-up); the program under test only ever reads those files. The
same seed always yields the same files.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from langid_mr_spark import fixtures

WEBMIX_DOCS = 20_000
RESUME_DOCS = 2_500
FILES = 16


@dataclass
class Corpus:
    path: str            # what the program reads
    frame: pd.DataFrame  # the same rows, for the correctness oracle
    first_path: str | None = None  # resume_write: the first call's dates

    @property
    def docs(self) -> int:
        return len(self.frame)

    @property
    def html_mb(self) -> float:
        return float(self.frame["html"].map(len).sum()) / 2**20


def _table(pdf: pd.DataFrame) -> pa.Table:
    # Spark reads a UTC-adjusted microsecond column as TIMESTAMP, the
    # library's INPUT_SCHEMA type; a naive one would read as TIMESTAMP_NTZ
    ts = pdf["warc_ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    return pa.Table.from_pandas(pdf.assign(warc_ts=ts), preserve_index=False)


def webmix(seed: int, root: Path) -> Corpus:
    """Short web pages (median ~190 chars) with 1% 100x-long documents."""
    pdf = fixtures.make_corpus(WEBMIX_DOCS, seed)
    path = root / "webmix"
    path.mkdir(parents=True)
    table, n = _table(pdf), len(pdf)
    for i in range(FILES):
        lo, hi = i * n // FILES, (i + 1) * n // FILES
        pq.write_table(table.slice(lo, hi - lo), path / f"part-{i:05d}.parquet")
    return Corpus(str(path), pdf)


def resume_write(seed: int, root: Path) -> Corpus:
    """The webmix generator, dt-partitioned; the first call sees the first
    half of the dates, the resume call sees them all."""
    pdf = fixtures.make_corpus(RESUME_DOCS, seed)
    dt = pdf["warc_ts"].dt.strftime("%Y-%m-%d")
    first = dt.isin(sorted(dt.unique())[:dt.nunique() // 2])
    for name, rows in (("resume_in", pdf), ("resume_first", pdf[first])):
        pq.write_to_dataset(_table(rows.assign(dt=dt[rows.index])),
                            root / name, partition_cols=["dt"])
    return Corpus(str(root / "resume_in"), pdf,
                  first_path=str(root / "resume_first"))


BUILDERS = {"webmix": webmix, "resume_write": resume_write}
