"""Correctness checks made on every benchmark run.

A seeded sample of documents is replayed through ``oracle.process_one``,
the row-at-a-time executable spec; the compared fields must match exactly
(``scrubbed_text`` byte for byte). Whole-output checks catch lost or
duplicated rows that a sample would miss.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from langid_mr_spark import oracle

FIELDS = ("language", "keep", "drop_reason", "gate_decision",
          "quality_fail_reason", "scrubbed_text")
SAMPLE = 150


def _plain(v):
    """pandas/NumPy scalars and NaN as plain Python values."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    return v.item() if isinstance(v, np.generic) else v


def output_md5(out: pd.DataFrame) -> str:
    h = hashlib.md5()
    rows = out.sort_values("url")[["url", *FIELDS]].itertuples(index=False)
    for row in rows:
        h.update(repr(tuple(_plain(v) for v in row)).encode())
    return h.hexdigest()


def output_problems(out: pd.DataFrame, frame: pd.DataFrame,
                    seed: int) -> list[str]:
    """One row per input document, and a seeded sample equal to the
    oracle. ``out`` holds ``url`` + FIELDS; ``frame`` is the input."""
    problems = []
    if len(out) != len(frame):
        problems.append(f"{len(out)} output rows for {len(frame)} documents")
    if out["url"].duplicated().any():
        problems.append("duplicate urls in the output")
    got = out.drop_duplicates("url").set_index("url")
    pick = np.random.default_rng(seed).choice(
        len(frame), size=min(SAMPLE, len(frame)), replace=False)
    for i in sorted(pick):
        doc = frame.iloc[i]
        if doc.url not in got.index:
            problems.append(f"{doc.url}: missing")
            continue
        want = oracle.process_one(doc.url, doc.html, doc.text)
        row = got.loc[doc.url]
        problems += [f"{doc.url}: {f} = {row[f]!r}, oracle {want[f]!r}"
                     for f in FIELDS if _plain(row[f]) != want[f]]
    return problems


def resume_problems(spark, out_path: str, frame: pd.DataFrame,
                    seed: int) -> tuple[pd.DataFrame, list[str]]:
    """The resumable table plus its ``_metrics`` and ``_checkpoints``:
    every document once, lineage counters that reconcile with the table,
    one metrics row per (dt, language, drop_reason), every date
    checkpointed."""
    table = spark.read.parquet(out_path)
    out = table.select("url", *FIELDS, "dt").toPandas()
    problems = output_problems(out, frame, seed)
    metrics = spark.read.parquet(out_path + "_metrics").toPandas()
    if int(metrics["docs"].sum()) != len(frame):
        problems.append(f"_metrics counts {int(metrics['docs'].sum())} docs")
    if int(metrics["kept"].sum()) != int(out["keep"].sum()):
        problems.append("_metrics kept does not match the table")
    if metrics.duplicated(["dt", "language", "drop_reason"]).any():
        problems.append("duplicate _metrics groups")
    ckpt = spark.read.parquet(out_path + "_checkpoints").toPandas()
    if sorted(ckpt["dt"]) != sorted({str(d) for d in out["dt"]}):
        problems.append("_checkpoints dates differ from the table's")
    return out, problems
