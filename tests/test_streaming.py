"""Structured-Streaming incremental surface (D9): drain-new-files semantics
and equality with the batch pipeline."""

from pyspark.sql import functions as F

from langid_mr_spark import fixtures, pipeline, streaming


def test_incremental_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    full = fixtures.make_corpus(90)
    part1, part2 = full.iloc[:60], full.iloc[60:]

    spark.createDataFrame(part1, schema=fixtures.INPUT_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(inp)
    streaming.incremental_run(spark, inp, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 60

    # second invocation with no new files: no duplicates
    streaming.incremental_run(spark, inp, out, ckpt)
    assert spark.read.parquet(out).count() == 60

    # new files land → only the delta is processed
    spark.createDataFrame(part2, schema=fixtures.INPUT_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(inp)
    streaming.incremental_run(spark, inp, out, ckpt)
    stream_out = spark.read.parquet(out)
    assert stream_out.count() == 90

    # equality with one batch run over the same 90 docs
    batch_out = pipeline.run_pipeline(
        spark.createDataFrame(full, schema=fixtures.INPUT_SCHEMA))
    a = stream_out.drop("dt", "batch_id")
    b = batch_out
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_streaming_dedup_single_drain_equals_batch(spark, tmp_path):
    """Batch-replay parity: one AvailableNow drain over a whole corpus is
    frame-equal to the batch operator dedup.exact_duplicates (same
    canonical = min id per content hash, same duplicate flags)."""
    from langid_mr_spark import dedup
    from pyspark.sql import functions as F

    inp = str(tmp_path / "pin")
    df = fixtures.corpus_df(spark, 50)
    dups = (df.filter(F.xxhash64("url") % 5 == 0)
            .withColumn("url", F.concat(F.lit("dup://"), F.col("url"))))
    df.unionByName(dups).coalesce(2).write.parquet(inp)

    streaming.streaming_exact_dedup(
        spark, inp, str(tmp_path / "pout"), str(tmp_path / "pckpt"))
    got = (spark.read.parquet(str(tmp_path / "pout"))
           .select("url", "is_duplicate", "canonical_url"))
    want = (dedup.exact_duplicates(spark.read.parquet(inp),
                                   id_col="url", text_col="text")
            .select("url", "is_duplicate",
                    F.col("canonical_id").alias("canonical_url")))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """Stateful cross-batch dedup: duplicates within a micro-batch AND
    against documents seen in earlier invocations are flagged, with the
    seen-set restored from the checkpoint between runs."""
    inp = str(tmp_path / "din")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")

    import datetime as dt
    ts = dt.datetime(2024, 1, 1)
    batch1 = [
        ("u1", ts, b"x", "alpha text", "en", "f"),
        ("u2", ts, b"x", "alpha text", "en", "f"),   # in-batch dup of u1
        ("u3", ts, b"x", "beta text", "en", "f"),
    ]
    spark.createDataFrame(batch1, schema=fixtures.INPUT_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(inp)
    streaming.streaming_exact_dedup(spark, inp, out, ckpt)
    r1 = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert len(r1) == 3
    assert r1["u1"]["is_duplicate"] is False
    assert r1["u2"]["is_duplicate"] is True
    assert r1["u2"]["canonical_url"] == "u1"
    assert r1["u3"]["is_duplicate"] is False

    # second batch arrives later: dups against the STORED state, plus a
    # fresh doc
    batch2 = [
        ("u4", ts, b"x", "alpha text", "en", "f"),   # dup of batch-1 u1
        ("u5", ts, b"x", "gamma text", "en", "f"),   # new
    ]
    spark.createDataFrame(batch2, schema=fixtures.INPUT_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(inp)
    streaming.streaming_exact_dedup(spark, inp, out, ckpt)
    r2 = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert len(r2) == 5
    assert r2["u4"]["is_duplicate"] is True
    assert r2["u4"]["canonical_url"] == "u1"
    assert r2["u5"]["is_duplicate"] is False


def test_streaming_dedup_state_size_metrics(spark, tmp_path):
    """Round-5 verdict ask #8: pin the state sizing rule with the query's
    own stateOperators metrics — one state row per DISTINCT content
    hash, and the docstring's per-key budget (< 1 KiB/key in the default
    HDFS-backed store) holds at N keys."""
    import datetime as dt
    ts = dt.datetime(2024, 1, 1)
    n_distinct = 40
    rows = [(f"u{i}", ts, b"x", f"text number {i % n_distinct}", "en", "f")
            for i in range(100)]
    inp = str(tmp_path / "min")
    spark.createDataFrame(rows, schema=fixtures.INPUT_SCHEMA) \
        .coalesce(2).write.parquet(inp)
    progress = streaming.streaming_exact_dedup(
        spark, inp, str(tmp_path / "mout"), str(tmp_path / "mckpt"))
    assert progress is not None
    ops = progress["stateOperators"]
    assert ops and ops[0]["numRowsTotal"] == n_distinct
    per_key = ops[0]["stateMemory" if "stateMemory" in ops[0]
                     else "memoryUsedBytes"] / n_distinct
    assert per_key < 1024, f"state {per_key:.0f} B/key breaks the budget"


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the group fn."""

    def __init__(self, stored=None, timed_out=False):
        self._stored = stored
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._stored is not None

    @property
    def get(self):
        return self._stored

    def update(self, v):
        self._stored = tuple(v)

    def remove(self):
        self.removed = True
        self._stored = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_dedup_group_ttl_eviction_branch():
    """TTL mode: a timed-out invocation (no rows) must evict the key and
    emit nothing; a live visit must re-arm the sliding timeout."""
    import pandas as pd

    fn = streaming.make_dedup_group("url", ttl_ms=60_000)
    st = _FakeState(stored=("u1", 0), timed_out=True)
    assert list(fn(("h",), iter([]), st)) == []
    assert st.removed

    st2 = _FakeState()
    pdf = pd.DataFrame({"url": ["u2", "u1"], "warc_ts": [None, None],
                        "h": ["h", "h"]})
    out = list(fn(("h",), iter([pdf]), st2))
    assert st2.timeout_set == 60_000          # sliding window armed
    assert st2._stored[0] == "u1"             # canonical = min id
    assert sorted(out[0]["is_duplicate"]) == [False, True]

    # exact mode (ttl None) must never touch timeout APIs
    fn0 = streaming.make_dedup_group("url", ttl_ms=None)
    st3 = _FakeState()
    list(fn0(("h",), iter([pdf]), st3))
    assert st3.timeout_set is None
