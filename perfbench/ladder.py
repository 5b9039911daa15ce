"""The traced run's layer ladder: cumulative noop-sink prefixes.

Each prefix calls one more module's public function than the one before,
in the order ``run_pipeline`` composes them, and ends in the noop sink
(the last one in a real parquet write). A layer's self time is its
prefix's wall time minus the previous prefix's. Stage, task and
Python-node metrics come from Spark's status store; CPU from /proc.
"""

from __future__ import annotations

import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from langid_mr_spark import gate, pipeline
from langid_mr_spark import quality as Q
from langid_mr_spark.functions import exprs as X

import procfs
from sparkui import SparkUI

LAYERS = ("scan", "pipeline.extract_text_udf", "quality.with_quality",
          "gate.with_pass1", "gate.apply_gate", "pipeline.run_pipeline",
          "pipeline.run_resumable")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefixes(spark, in_path: str) -> dict[str, Callable[[], DataFrame]]:
    """DataFrame builders, one per noop-sink prefix, cumulative."""
    carried = ["url", "warc_ts", "lang"]

    def src():
        return spark.read.parquet(in_path)

    def extracted():
        return (src().filter(pipeline.valid_input())
                .select(*carried, pipeline.extract_text_udf(F.col("html"))
                        .alias("_ex"))
                .select(*carried, F.col("_ex.extracted").alias("extracted"),
                        F.col("_ex.error").alias("extract_error")))

    def quality():
        return Q.with_quality(extracted(), "extracted")

    def probed():
        return quality().select(
            *carried, "quality_fail_reason", "extract_error",
            X.probe(F.col("extracted")).alias("extracted"))

    return {
        "scan": lambda: src().select(F.length("html")),
        "pipeline.extract_text_udf": extracted,
        "quality.with_quality": quality,
        "gate.with_pass1": lambda: gate.with_pass1(
            probed(), "extracted", text_is_probe=True),
        "gate.apply_gate": lambda: gate.apply_gate(
            probed(), text_col="extracted", text_is_probe=True,
            persist_level=StorageLevel.DISK_ONLY),
        "pipeline.run_pipeline": lambda: pipeline.run_pipeline(src()),
    }


def _dir_stats(path: Path) -> tuple[int, float]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return (sum(p.suffix == ".parquet" for p in files),
            sum(p.stat().st_size for p in files) / 2**20)


def run(spark, in_path: str, out_root: Path, cores: int, docs: int,
        between: Callable[[], None]) -> dict[str, float]:
    """Run every prefix once, calling ``between`` before each job;
    returns the metrics."""
    sc = spark.sparkContext
    ui = SparkUI(sc)
    builders = prefixes(spark, in_path)
    out = out_root / "ladder"
    wall, cpu, stats, m = {}, {}, {}, {}
    for name in LAYERS:
        between()
        sc.setJobGroup(name, name)
        cpu0, t0 = procfs.tree_cpu_s(), time.perf_counter()
        if name == "pipeline.run_resumable":
            pipeline.run_resumable(spark, in_path, str(out), "ladder",
                                   repartition_n=cores)
        else:
            df = builders[name]()
            if name == "pipeline.run_pipeline":
                m["pipeline.run_pipeline.build_s"] = time.perf_counter() - t0
            noop(df)
        wall[name] = time.perf_counter() - t0
        cpu[name] = procfs.tree_cpu_s() - cpu0
        if name == "gate.apply_gate":
            infos = sc._jsc.sc().getRDDStorageInfo()
            m["gate.persisted_mb"] = sum(
                i.memSize() + i.diskSize() for i in infos) / 2**20
        if name == "pipeline.run_pipeline":
            m["gate.persisted_rdds_after"] = (
                sc._jsc.getPersistentRDDs().size())
        stats[name] = ui.group(name)
    between()

    prev_wall = prev_cpu = 0.0
    for name in LAYERS:
        m[f"{name}.s"] = wall[name] - prev_wall
        m[f"{name}.cpu_s"] = cpu[name] - prev_cpu
        prev_wall, prev_cpu = wall[name], cpu[name]

    ex, p1 = stats["pipeline.extract_text_udf"], stats["gate.with_pass1"]
    m["python.extract.mb_sent"] = ex.python_mb_sent()
    m["python.pass1.mb_sent"] = p1.python_mb_sent() - ex.python_mb_sent()
    m["python.pass1.rows_sent"] = (sum(p1.python_rows())
                                   - sum(ex.python_rows()))
    # apply_gate's Python nodes: extract, pass 1, pass 2, pass 3; each
    # pass sees a subset of the rows before it
    rows = sorted(stats["gate.apply_gate"].python_rows(), reverse=True)
    m["gate.pass2_rows"] = rows[2] if len(rows) > 2 else 0
    m["gate.pass3_rows"] = rows[3] if len(rows) > 3 else 0
    m["gate.pass1_decided_ratio"] = (
        1 - m["gate.pass2_rows"] / m["python.pass1.rows_sent"])

    run = stats["pipeline.run_pipeline"]
    m["spark.tasks"] = run.tasks()
    m["spark.gc_s"] = run.gc_s()
    m["spark.task_skew"] = run.task_skew()
    m["trace.docs_per_s"] = docs / wall["pipeline.run_pipeline"]
    m["spark.shuffle_write_mb"] = (
        stats["pipeline.run_resumable"].shuffle_write_mb())
    files, mb = _dir_stats(out)
    for side in ("_metrics", "_checkpoints"):
        mb += _dir_stats(Path(str(out) + side))[1]
    m["pipeline.output_files"], m["pipeline.output_mb"] = files, mb
    return m
