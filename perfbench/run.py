#!/usr/bin/env python3
"""webtext-gate benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload webmix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The benchmark generates its input from
the seed, starts Spark on ``local[N]`` (N = usable CPUs), warms up at full
size, then repeats the workload's job for ``--seconds`` and reports the
median rep. Every run then checks the program's output against the
row-at-a-time oracle. ``--trace 1`` instead runs the layer ladder
(ladder.py) and reports per-layer metrics. Informational lines go first;
the last line of stdout is the JSON result. Scratch files live under
``.perfbench/`` in the checkout and are removed at exit; Spark's own
block-manager and shuffle files go where ``pipeline.session`` puts them.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("webmix", "resume_write")


def _isolate(work: Path) -> None:
    """Keep the files the benchmark and the driver JVM write under
    ``work``; let the Python workers import the library from the checkout.
    ``spark.local.dir`` is left to the program's session builder."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    paths = [str(ROOT)] + ([os.environ["PYTHONPATH"]]
                           if os.environ.get("PYTHONPATH") else [])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell",
    ])


def _session(cores: int):
    from langid_mr_spark import pipeline

    spark = pipeline.session(app="perfbench", master=f"local[{cores}]",
                             shuffle_partitions=cores,
                             max_partition_bytes="8m")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _release(spark) -> int:
    """Drop every cached and persisted stage; returns how many persisted
    RDDs are still registered afterwards (0 unless release failed)."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return jsc.getPersistentRDDs().size()


def _shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every child process."""
    import procfs
    from pyspark import SparkContext

    pids = procfs.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    for pid in procfs.wait_for_exit(pids):
        os.kill(pid, signal.SIGKILL)
    procfs.wait_for_exit(pids)


class Job:
    """The workload's timed unit of work, its full-size warm-up and the
    correctness check of its output."""

    def __init__(self, workload: str, spark, corpus, work: Path,
                 cores: int, seed: int) -> None:
        self.workload, self.spark, self.corpus = workload, spark, corpus
        self.work, self.cores, self.seed = work, cores, seed
        self.out = None  # webmix: the warm-up's collected output
        self.digests = []  # webmix: (rows, hash) of every pass's output
        self.table = None  # resume_write: the last table written

    def _observed(self):
        """webmix's job, with its output's row count and an
        order-independent hash of the checked fields observed in flight."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from checks import FIELDS
        from langid_mr_spark import pipeline

        obs = Observation()
        df = pipeline.run_pipeline(self.spark.read.parquet(self.corpus.path))
        return df.observe(obs, F.count(F.lit(1)).alias("rows"),
                          F.bit_xor(F.xxhash64("url", *FIELDS)).alias("hash")
                          ), obs

    def run(self, tag: str) -> None:
        from langid_mr_spark import pipeline

        if self.workload != "resume_write":
            df, obs = self._observed()
            df.write.format("noop").mode("overwrite").save()
            self.digests.append(tuple(obs.get.values()))
            return
        out = self.work / "out" / tag
        for path in (self.corpus.first_path, self.corpus.path):
            pipeline.run_resumable(self.spark, path, str(out), "bench",
                                   repartition_n=self.cores)
        self.table = str(out)

    def warm_up(self) -> None:
        """Full-size passes before timing. webmix makes two: the first
        collects its output, which the check compares with the oracle, and
        the second is a timed job's twin, since the first rep after a cold
        pass still runs ~30% slower than the ones after it. resume_write's
        reps are even after one run_resumable call over every date."""
        from checks import FIELDS
        from langid_mr_spark import pipeline

        if self.workload != "resume_write":
            df, obs = self._observed()
            self.out = df.toPandas()[["url", *FIELDS]]
            self.digests.append(tuple(obs.get.values()))
            _release(self.spark)
            return self.run("warm")
        self.table = str(self.work / "out" / "warm")
        pipeline.run_resumable(self.spark, self.corpus.path, self.table,
                               "bench", repartition_n=self.cores)

    def check(self) -> tuple[str, list[str]]:
        """Output md5 and the list of problems (empty when correct).
        resume_write reads the table the last rep wrote; on webmix every
        timed rep's output must hash as the checked warm-up output did."""
        import checks

        if self.workload == "resume_write":
            out, problems = checks.resume_problems(
                self.spark, self.table, self.corpus.frame, self.seed)
        else:
            out = self.out
            problems = checks.output_problems(out, self.corpus.frame,
                                              self.seed)
            problems += [f"pass {i}: output (rows, hash) {d}, checked "
                         f"pass {self.digests[0]}"
                         for i, d in enumerate(self.digests)
                         if d != self.digests[0]]
        return checks.output_md5(out), problems


def _score_batch_chars_per_s(frame) -> float:
    """Direct call on a fixed probe batch, no Spark."""
    from langid_mr_spark import scoring, textnorm

    texts = [textnorm.probe(t) for t in frame["text"][:2000]]
    scoring.get_tables()
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        scoring.score_batch(texts)
        times.append(time.perf_counter() - t0)
    return sum(map(len, texts)) / statistics.median(times)


def _local1_docs_per_s(spark, corpus) -> float:
    """run_pipeline on a one-core session: small warm-up, then one
    full-size timed pass."""
    from langid_mr_spark import pipeline

    src = spark.read.parquet(corpus.path)
    pipeline.run_pipeline(src.limit(200)).write.format("noop").mode(
        "overwrite").save()
    _release(spark)
    t0 = time.perf_counter()
    pipeline.run_pipeline(src).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    _release(spark)
    return corpus.docs / elapsed


def _timed_reps(spark, job: Job, seconds: float,
                probes: list[float]) -> tuple[list[float], int]:
    """Repeat the job until ``seconds`` have passed; every rep starts
    with no persisted stage registered. Returns (rep times, failures)."""
    import procfs

    times, failed = [], 0
    t_run = time.perf_counter()
    while not times or time.perf_counter() - t_run < seconds:
        if _release(spark):
            failed += 1
        probes.append(procfs.cpu_probe_ms())
        t0 = time.perf_counter()
        try:
            job.run(f"rep{len(times) + failed}")
        except Exception:  # counted against the run, reported, retried
            traceback.print_exc()
            failed += 1
            if failed > 3 and not times:
                raise
            continue
        times.append(time.perf_counter() - t0)
    return times, failed


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import langid_mr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import inputs
    import ladder
    import procfs

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    try:
        _isolate(work)
        probes = [procfs.cpu_probe_ms()]
        corpus = inputs.BUILDERS[args.workload](args.seed, work / "in")
        marks = [time.perf_counter()]
        spark = _session(cores)
        marks.append(time.perf_counter())
        try:
            job = Job(args.workload, spark, corpus, work, cores, args.seed)
            with procfs.PeakRss() as rss:
                job.warm_up()
                setup_s = time.perf_counter() - t_start
                marks.append(time.perf_counter())
                load1 = os.getloadavg()[0]
                if args.trace:
                    def between() -> None:
                        _release(spark)
                        probes.append(procfs.cpu_probe_ms())

                    metrics = ladder.run(spark, corpus.path, work / "out",
                                         cores, corpus.docs, between)
                    times, failed = [], 0
                    attempted = len(ladder.LAYERS) + 1
                else:
                    times, failed = _timed_reps(spark, job, args.seconds,
                                                probes)
                    attempted = len(times) + failed + 1
            md5, problems = job.check()
            if args.trace:
                metrics["scoring.score_batch.chars_per_s"] = (
                    _score_batch_chars_per_s(corpus.frame))
                spark.stop()
                spark = _session(1)
                local1 = _local1_docs_per_s(spark, corpus)
                metrics["spark.local1.docs_per_s"] = local1
                metrics["spark.scaling_eff"] = (
                    metrics["trace.docs_per_s"] / (cores * local1))
                metrics["host.load1"] = load1
                metrics["host.cpu_probe_ratio"] = max(probes) / min(probes)
                metrics["host.peak_rss_mb"] = rss.peak
                units = _units("per_layer")
            else:
                metrics = {
                    "docs_per_s": corpus.docs / statistics.median(times),
                    "setup_s": setup_s,
                }
                units = _units("end_to_end")
        finally:
            _shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed += bool(problems)
    print(json.dumps({"info": {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "docs": corpus.docs, "html_mb": round(corpus.html_mb, 2),
        "setup_s": round(setup_s, 3),
        "inputs_session_warm_s": [round(b - a, 2) for a, b in
                                  zip([t_start] + marks, marks)],
        "rep_s": [round(t, 4) for t in times],
        "output_md5": md5, "load1": load1, "peak_rss_mb": round(rss.peak),
        "cpu_probe_ms": [round(p, 2) for p in probes],
        "problems": problems[:10]}}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def _units(section: str) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


if __name__ == "__main__":
    sys.exit(main())
