"""End-to-end pipeline acceptance tests (BASELINE.md targets):

- keep/drop F1 vs the pure-Python oracle (target ≥ 0.99; we assert 1.0)
- byte-identical extracted + scrubbed text per url
- determinism: two runs → frame-equal output (D10 analog)
- metrics reconcile: docs_in = kept + dropped (A9)
- resumability: interrupted run + resume == uninterrupted run (D8)
"""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from langid_mr_spark import fixtures, oracle, pipeline

N = 150


@pytest.fixture(scope="module")
def corpus(spark):
    return fixtures.corpus_df(spark, N, num_partitions=4)


@pytest.fixture(scope="module")
def oracle_results():
    pdf = fixtures.make_corpus(N)
    return {
        row.url: oracle.process_one(row.url, row.html, row.text)
        for _, row in pdf.iterrows()
    }


@pytest.fixture(scope="module")
def result_rows(spark, corpus):
    return {r["url"]: r for r in pipeline.run_pipeline(corpus).collect()}


def test_row_count(result_rows):
    assert len(result_rows) == N


def test_label_agreement_is_exact(result_rows, oracle_results):
    """Stronger than the F1 ≥ 0.99 target: every label matches."""
    for url, r in result_rows.items():
        o = oracle_results[url]
        for f in ("gate_decision", "language", "keep", "drop_reason",
                  "detection_method", "gate_path", "pipeline_mode",
                  "quality_fail_reason", "final_keep"):
            assert r[f] == o.get(f), (url, f, r[f], o.get(f))


def test_keep_drop_f1(result_rows, oracle_results):
    tp = sum(1 for u, r in result_rows.items()
             if r["keep"] and oracle_results[u]["keep"])
    fp = sum(1 for u, r in result_rows.items()
             if r["keep"] and not oracle_results[u]["keep"])
    fn = sum(1 for u, r in result_rows.items()
             if not r["keep"] and oracle_results[u]["keep"])
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99
    assert f1 == 1.0


def test_scrubbed_text_byte_identical(result_rows, oracle_results):
    for url, r in result_rows.items():
        assert r["scrubbed_text"] == oracle_results[url]["scrubbed_text"], url


def test_probability_and_meta(result_rows, oracle_results):
    for url, r in result_rows.items():
        o = oracle_results[url]
        a, b = r["probability"], o["probability"]
        assert (a is None) == (b is None) and (a is None or a == b), url
        sm = r["score_meta"]
        assert sm["token_count"] == o["token_count"]
        assert sm["mid_zone"] == o["mid_zone"]
        assert sm["vad_used"] == o["use_vad"]
        assert sm["music_only"] == o["music_only"]
        assert sm["stopword_ratio_en"] == pytest.approx(o["en_ratio"])
        assert sm["stopword_ratio_fr"] == pytest.approx(o["fr_ratio"])
        assert sm["config"]["min_tokens"] == 10


def test_extraction_byte_identical(spark, corpus):
    """input_hint invariant: extract(html) == text, byte for byte (and no
    spurious error capture on clean payloads)."""
    got = corpus.select(
        "text",
        pipeline.extract_text_udf(F.col("html")).alias("ex"),
    ).collect()
    for r in got:
        assert r["ex"]["extracted"] == r["text"]
        assert r["ex"]["error"] is None


def test_determinism_two_runs(spark, corpus, result_rows):
    # D10 analog: the reference's 10-run stability harness collapses to
    # run-twice-frame-equal because our scorers are deterministic
    again = {r["url"]: r for r in pipeline.run_pipeline(corpus).collect()}
    assert set(again) == set(result_rows)
    for url, r in again.items():
        assert r == result_rows[url]


def test_observe_metrics_reconcile(spark, corpus):
    out, obs = pipeline.observed(pipeline.run_pipeline(corpus))
    out.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["docs_in"] == N
    assert m["docs_kept"] + m["docs_dropped"] == m["docs_in"]
    assert m["docs_kept"] > 0 and m["docs_dropped"] > 0
    assert m["lang_en"] + m["lang_fr"] + m["lang_none"] <= m["docs_in"]


def test_invalid_input_rows(spark):
    rows = [
        ("", None, None, "none", "f"),            # empty url + null html
        ("https://x.example/a", None, "txt", "en", "f"),  # null html
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string, family string"
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2025-01-01 00:00:00")))
    out = pipeline.run_pipeline(df).collect()
    assert len(out) == 2
    for r in out:
        assert r["keep"] is False
        assert r["drop_reason"] == "invalid_input"


def test_resume_idempotent(spark, tmp_path):
    """Kill-after-partial-run analog: process a date-subset, then resume;
    final output equals an uninterrupted run, with no duplicate rows."""
    inp = str(tmp_path / "in")
    out_a = str(tmp_path / "out_a")
    out_b = str(tmp_path / "out_b")
    fixtures.corpus_df(spark, 60, num_partitions=2).write.parquet(inp)

    # uninterrupted
    done = pipeline.run_resumable(spark, inp, out_a, run_id="r1")
    assert len(done) > 1

    # interrupted: first run sees only a date-subset of the input (as if
    # killed after committing some partitions), then a full resume run
    src = pipeline.with_dt(spark.read.parquet(inp))
    dts = sorted(str(r["dt"]) for r in src.select("dt").distinct().collect())
    part1 = str(tmp_path / "in_part1")
    src.filter(F.col("dt") == dts[0]).drop("dt").write.parquet(part1)
    first = pipeline.run_resumable(spark, part1, out_b, run_id="r2")
    assert first == [dts[0]]
    second = pipeline.run_resumable(spark, inp, out_b, run_id="r2")
    assert dts[0] not in second  # checkpointed partition skipped
    assert sorted(first + second) == dts

    a = spark.read.parquet(out_a).drop("dt")
    b = spark.read.parquet(out_b).drop("dt")
    assert a.count() == 60 and b.count() == 60
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # lineage metrics are exactly-once: no duplicate (dt, lang, reason)
    # groups even across the interrupted + resumed runs, and the counters
    # reconcile with the output
    m = spark.read.parquet(out_b + "_metrics")
    assert m.count() == m.select("dt", "language", "drop_reason").distinct().count()
    assert m.agg(F.sum("docs")).collect()[0][0] == 60
    kept = spark.read.parquet(out_b).filter(F.col("keep")).count()
    assert m.agg(F.sum("kept")).collect()[0][0] == kept


def _crash_in_metrics_table(monkeypatch, out):
    """Raise after the output write, before the _metrics write."""
    def crash(*args, **kwargs):
        raise RuntimeError("injected crash")
    monkeypatch.setattr(pipeline, "metrics_table", crash)


def _crash_in_checkpoint_append(monkeypatch, out):
    """Raise after the output and _metrics writes, at the _checkpoints
    append: a plain file holds the checkpoint table's path."""
    Path(out + "_checkpoints").write_text("not a table")


@pytest.mark.parametrize("inject", [_crash_in_metrics_table,
                                    _crash_in_checkpoint_append],
                         ids=["before_metrics", "before_checkpoint"])
def test_resume_after_crash_before_checkpoint(spark, tmp_path, monkeypatch,
                                              inject):
    """A run that dies after its output write but before its _checkpoints
    append is redone on resume with the same run_id: the output equals an
    uninterrupted run's row for row, _metrics holds no duplicate
    (dt, language, drop_reason) group and reconciles with the input, and
    every date is checkpointed."""
    inp = str(tmp_path / "in")
    clean = str(tmp_path / "clean")
    out = str(tmp_path / "out")
    fixtures.corpus_df(spark, 60, num_partitions=2).write.parquet(inp)
    dts = pipeline.run_resumable(spark, inp, clean, run_id="c")

    with monkeypatch.context() as m:
        inject(m, out)
        with pytest.raises(Exception):
            pipeline.run_resumable(spark, inp, out, run_id="k")
    assert spark.read.parquet(out).count() == 60  # written before the crash
    assert Path(out + "_metrics").exists() == (
        inject is _crash_in_checkpoint_append)
    Path(out + "_checkpoints").unlink(missing_ok=True)
    assert pipeline.run_resumable(spark, inp, out, run_id="k") == dts

    a, b = spark.read.parquet(clean), spark.read.parquet(out)
    assert a.count() == b.count() == 60
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    metrics = spark.read.parquet(out + "_metrics")
    assert metrics.count() == metrics.select(
        "dt", "language", "drop_reason").distinct().count()
    assert metrics.agg(F.sum("docs")).collect()[0][0] == 60
    ckpt = spark.read.parquet(out + "_checkpoints")
    assert sorted(str(r["dt"]) for r in ckpt.filter(F.col("run_id") == "k")
                  .select("dt").distinct().collect()) == dts


def test_resume_partitioned_input_uses_metadata(spark, tmp_path):
    """dt-partitioned input: the pending date list comes from the directory
    listing (partition metadata), not a data scan, and resume still
    converges to the uninterrupted result."""
    inp = str(tmp_path / "in_part")
    out = str(tmp_path / "out_part")
    src = pipeline.with_dt(fixtures.corpus_df(spark, 60))
    src.write.mode("overwrite").partitionBy("dt").parquet(inp)

    listed = pipeline._list_input_partitions(spark, inp)
    dts = sorted(str(r["dt"]) for r in src.select("dt").distinct().collect())
    assert listed == dts  # metadata listing == actual dates, no scan needed

    done = pipeline.run_resumable(spark, inp, out, run_id="rp")
    assert done == dts
    # second run: everything checkpointed → metadata-only early return
    assert pipeline.run_resumable(spark, inp, out, run_id="rp") == []
    # output matches an unpartitioned-input run on the same corpus
    out2 = str(tmp_path / "out_flat")
    flat = str(tmp_path / "in_flat")
    fixtures.corpus_df(spark, 60).write.mode("overwrite").parquet(flat)
    pipeline.run_resumable(spark, flat, out2, run_id="rf")
    a = spark.read.parquet(out).select("url", "keep", "language")
    b = spark.read.parquet(out2).select("url", "keep", "language")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_list_input_partitions_unpartitioned_returns_none(spark, tmp_path):
    flat = str(tmp_path / "flat")
    fixtures.corpus_df(spark, 10).write.mode("overwrite").parquet(flat)
    assert pipeline._list_input_partitions(spark, flat) is None
    assert pipeline._list_input_partitions(spark, str(tmp_path / "nope")) is None


def test_real_scorer_decision_spread_on_natural_text(spark):
    """Flagship discrimination evidence (r3 verdict #6): with the REAL
    scorers over the checked-in natural-text fixture corpus the cascade
    must spread across branches — a scorer regression that collapses
    everything into fallback (as happens on pure word-salad corpora) fails
    loudly here instead of silently degrading the flagship histogram."""
    from langid_mr_spark import constants as C
    from langid_mr_spark import fixtures, pipeline

    out = pipeline.run_pipeline(fixtures.corpus_df(spark, 200),
                                persist_level=None)
    counts = {r["gate_decision"]: r["n"]
              for r in out.groupBy("gate_decision")
                          .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(counts) >= 4, counts
    assert counts.get(C.DECISION_MUSIC_ONLY, 0) > 0, counts    # C1/C5
    assert counts.get(C.DECISION_HIGH_CONF, 0) > 0, counts     # C2
    assert counts.get(C.DECISION_FALLBACK, 0) > 0, counts      # C8
    mid_or_vad = (counts.get(C.DECISION_MID_EN, 0)
                  + counts.get(C.DECISION_MID_FR, 0)
                  + counts.get(C.DECISION_VAD_RETRY, 0))
    assert mid_or_vad > 0, counts                              # C3/C4/C6
    # the corpus must not be fallback-degenerate: the decided majority
    # comes from the first pass (accepted/music), not the last resort
    total = sum(counts.values())
    assert counts.get(C.DECISION_FALLBACK, 0) < 0.5 * total, counts


def test_run_resumable_releases_cascade_persists(spark, tmp_path):
    """The cascade's persisted stages are unpersisted once the run's
    writes are done: run_resumable registers no persisted RDD that
    outlives it."""
    inp = str(tmp_path / "in")
    fixtures.corpus_df(spark, 40, num_partitions=2).write.parquet(inp)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert pipeline.run_resumable(spark, inp, str(tmp_path / "out"), "r1")
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


@pytest.mark.parametrize("size,want", [
    ("8m", 8 << 20), ("8M", 8 << 20), ("128mb", 128 << 20),
    ("64MB", 64 << 20), ("1048576", 1 << 20),
])
def test_size_bytes_accepts_spark_size_strings(size, want):
    assert pipeline._size_bytes(size) == want


def test_session_appends_to_deployment_excluded_rules(spark):
    """session() adds CollapseProject to the optimizer exclusions already
    in effect instead of replacing them."""
    key = "spark.sql.optimizer.excludedRules"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "org.example.SomeRule")
        for _ in range(2):  # appended once, however often it runs
            again = pipeline.session(app="langid_mr_spark-tests",
                                     master="local[4]", shuffle_partitions=4)
        assert again.conf.get(key) == (
            "org.example.SomeRule," + pipeline._COLLAPSE_PROJECT)
    finally:
        spark.conf.set(key, prior)
