"""End-to-end quality-filter job (reference lifecycle: SURVEY.md §3.1).

One declarative plan per run:

    read web_pages → validate (S3) → extract html→text (S4, Arrow UDF)
    → gate cascade (§2.5, staged UDF evaluation)
    → snippet scrub on kept rows (M6/X21, native regex)
    → score_meta struct (gate_meta analog, lang_gate.py:186-204)
    → observe counters (A9) → salted repartition (D1)
    → write partitioned by days(warc_ts), idempotent per-partition overwrite
    → _metrics + _checkpoints side tables (D8 resume, north rule lineage)

Scale notes (100 TB / 1000-executor design):
- The heavy ``html`` column is dropped immediately after extraction so the
  persisted pass-1 stage and every shuffle carry only text + small columns.
- Filters (validation) sit directly on the scan so Catalyst pushes them into
  the parquet reader; the output is partition-aligned with the input date so
  resume never shuffles.
- Arrow batch size is capped (long-document skew makes fat batches, SURVEY
  §4.1); salting spreads repeated-host URL clusters across partitions.
- Iceberg is the deployment-target table format (atomic commits, snapshot
  expiry); this sandbox has no Iceberg runtime jar, so the same contract is
  implemented with parquet + dynamic partition overwrite, which is equally
  idempotent at partition granularity.
"""

from __future__ import annotations

import re
from types import SimpleNamespace
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import constants as C
from . import gate
from . import scrub as SCRUB
from .functions import exprs as X

# --- session -----------------------------------------------------------------

_COLLAPSE_PROJECT = "org.apache.spark.sql.catalyst.optimizer.CollapseProject"


def session(app: str = "langid_mr_spark", master: str | None = None,
            shuffle_partitions: int = 32, arrow_batch: int = 2048,
            driver_memory: str = "24g",
            max_partition_bytes: str | None = None,
            open_cost_bytes: str | None = None) -> SparkSession:
    """Opinionated session builder. ``arrow_batch`` caps Arrow batch rows so
    long documents cannot blow up Python-worker memory (SURVEY.md §4.1).
    ``driver_memory`` matters in local mode where the driver IS the executor;
    on a real cluster size executors via spark-submit instead.

    ``max_partition_bytes`` overrides ``spark.sql.files.maxPartitionBytes``
    (e.g. "8m"). The default 128 MB packs a small-file corpus into so few
    scan splits that the split count, not the core count, caps parallelism:
    the bench corpus (256 × ~0.6 MB files) packed into ~40 splits, so
    local[32] ran the UDF-heavy scan stage in 2 waves with the second wave
    25 % occupied (62.5 % occupancy ceiling → measured 0.55 scaling
    efficiency on a quiet box), while local[8] got 5 even waves. The scale
    rule is tasks ≥ 3-4× slots with even waves — at 100 TB the default
    split size already yields millions of tasks, but a benchmark-scale
    input needs the split size lowered to keep every core busy."""
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
        b = b.config("spark.driver.memory", driver_memory)
        # local mode only: block-manager spill/persist + shuffle files on
        # tmpfs — this sandbox's disk faults at ~10 MB/s under co-tenant
        # load, which made the DISK_ONLY cascade persist both slow and
        # 4×-noisy (measured 80-156 s vs 14-18 s per bench pipeline run).
        # Real clusters size executor-local SSDs via spark-submit instead.
        import os
        if os.path.isdir("/dev/shm"):
            b = b.config("spark.local.dir", "/dev/shm/spark-local")
    if max_partition_bytes:
        b = b.config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        # r06: scale the per-file open cost with the split size. The 4 MB
        # default is tuned for 128 MB splits; against 8 MB splits it makes
        # every ~1 MB corpus file "cost" 5 MB, so the packer emits ~1-2
        # files per split and the task count tracks the FILE count — at
        # sf1.0 that was 256 UDF-heavy tasks of ~2300 docs, each paying 3
        # Python-node stream setups (measured pipeline 18-20 s). At
        # openCost = maxPartitionBytes/16 the packer fills splits with
        # data bytes again (43 tasks, 9-10.5 s — nearly 2×). Small inputs
        # are unaffected: FilePartition's bytesPerCore floor
        # (totalSize/defaultParallelism) keeps ≥ defaultParallelism splits
        # at bench sf0.1 and below (measured: 32 tasks and 3.4 s at sf0.1
        # with either setting). Production sessions that do not override
        # max_partition_bytes keep Spark's defaults.
        # ``open_cost_bytes`` overrides the derived value (e.g.
        # scaling_bench pins "4m" to preserve its recorded one-file-per-
        # split wave geometry across rounds).
        if open_cost_bytes:
            b = b.config("spark.sql.files.openCostInBytes", open_cost_bytes)
        else:
            nbytes = _size_bytes(max_partition_bytes)
            b = b.config("spark.sql.files.openCostInBytes",
                         str(max(nbytes // 16, 64 * 1024)))
    spark = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .getOrCreate()
    )
    # r06: CollapseProject re-merges the engine's staged projections
    # around Python-UDF extraction and inlines every alias into every
    # consumer — and expressions containing lambda variables are
    # excluded from codegen subexpression elimination, so each inlined
    # reference re-evaluates the whole subtree at runtime. For this
    # engine's expression library (tokenize/HOF/regex chains) that
    # meant the pass-1 plan re-tokenized each document up to 10× and
    # carried 5 copies of the bracket-strip chain (see
    # OPTIMIZATION_r06.md, plans/r06/). Excluding the rule keeps the
    # deliberate exactly-once staging; adjacent Projects still fuse
    # inside one WholeStageCodegen function, so plan depth costs
    # nothing at runtime. Measured: bench pipeline 20.0 s → 14.5 s
    # (paired ABAB, sf1.0 local[32]); no query's results change (the
    # rule is a pure plan rewrite). Appended to any exclusions the
    # deployment already sets, never replacing them.
    key = "spark.sql.optimizer.excludedRules"
    rules = [r for r in (spark.conf.get(key, None) or "").split(",")
             if r.strip()]
    if _COLLAPSE_PROJECT not in rules:
        spark.conf.set(key, ",".join(rules + [_COLLAPSE_PROJECT]))
    return spark


def _size_bytes(size: str) -> int:
    """Spark byte-size string ("8m", "128mb", "64MB", "1048576") → bytes."""
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", str(size).strip().lower())
    if m is None:
        raise ValueError(f"not a Spark byte-size string: {size!r}")
    return int(m[1]) << (10 * " kmgtp".index(m[2] or " "))


# --- S4: html → text extraction (vectorized Arrow UDF) -------------------------

_EXTRACT_TYPE = T.StructType([
    T.StructField("extracted", T.StringType()),
    T.StructField("error", T.StringType()),
])


def _extract_series(series: pd.Series) -> pd.Series:
    """Vectorized fast path: decode/extract/unescape on the whole Arrow
    batch, no per-row Python.

    r06: ``Series.str.decode`` replaces the per-row Python decode lambda
    (None → NaN → the same "" via fillna), and the 5-pass unescape runs
    only on the rows that contain '&' (str.replace is the identity on the
    rest — byte-identical by construction, verified on the corpus plus
    None/invalid-UTF-8 edges). ~20 % per batch on the bench corpus."""
    import re
    pat = re.compile(r"<p>(.*?)</p>", re.DOTALL)
    decoded = series.str.decode("utf-8", "replace")
    # Poison contract (D5): str.decode silently NaNs non-bytes payloads;
    # the old per-row decode RAISED there so the row-at-a-time fallback
    # could capture exactly the poison row. Re-raise on any element that
    # decoded to NA without being None (bytes can never decode to NA with
    # errors="replace").
    bad = decoded.isna() & series.map(lambda b: b is not None,
                                      na_action=None)
    if bad.any():
        raise TypeError(
            f"{int(bad.sum())} non-bytes payload(s) in extract batch")
    decoded = decoded.astype("string")
    extracted = decoded.str.extract(pat, expand=False).fillna("")
    amp = extracted.str.contains("&", regex=False)
    if amp.any():
        sub = extracted[amp]
        # unescape in exact inverse order of textnorm._ESCAPES
        for esc, raw in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                         ("&#x27;", "'"), ("&amp;", "&")):
            sub = sub.str.replace(esc, raw, regex=False)
        extracted = extracted.copy()
        extracted[amp] = sub
    return extracted.astype(object)


@F.pandas_udf(_EXTRACT_TYPE)
def extract_text_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Twin of textnorm.extract_text_from_html (byte-identical invariant,
    BASELINE.json input_hint).

    Poison-row capture (D5, runner.py:192-199): if the vectorized batch
    throws, each document is retried through the row-at-a-time twin and
    per-row failures land in the ``error`` field — one malformed payload
    becomes a drop_reason='error' row, never a 4×-retried dead task."""
    from . import textnorm as TN
    for series in it:
        try:
            yield pd.DataFrame({
                "extracted": _extract_series(series),
                "error": pd.Series([None] * len(series), dtype=object),
            })
        except Exception:
            texts: list[str | None] = []
            errs: list[str | None] = []
            for b in series:
                try:
                    texts.append(TN.extract_text_from_html(b))
                    errs.append(None)
                except Exception as e:
                    texts.append(None)
                    errs.append(f"{type(e).__name__}: {e}"[:200])
            yield pd.DataFrame({
                "extracted": pd.Series(texts, dtype=object),
                "error": pd.Series(errs, dtype=object),
            })


# --- S3: ingest validation ------------------------------------------------------

@X.per_jvm
def valid_input(html_col: str = "html", url_col: str = "url") -> Column:
    """utils.validate_upload analog (utils.py:13-18, config.py:39-44):
    payload present, size-capped, url present."""
    return (
        F.col(url_col).isNotNull() & (F.col(url_col) != "")
        & F.col(html_col).isNotNull()
        & (F.length(F.col(html_col)) <= C.MAX_DOC_BYTES)
    )


# --- score_meta struct (gate_meta analog, lang_gate.py:186-204) -------------------

@X.per_jvm
def score_meta_struct() -> Column:
    return F.struct(
        F.col("mid_zone"),
        F.col("language"),
        X.safe_probability(F.col("probability")).alias("probability"),
        F.col("en_ratio").alias("stopword_ratio_en"),
        F.col("fr_ratio").alias("stopword_ratio_fr"),
        F.col("token_count"),
        F.col("use_vad").alias("vad_used"),
        F.col("music_only"),
        F.struct(
            F.lit(C.MID_LOWER).alias("mid_lower"),
            F.lit(C.MID_UPPER).alias("mid_upper"),
            F.lit(C.MID_EN_MIN_STOPWORD_RATIO).alias("min_stopword_en"),
            F.lit(C.MID_FR_MIN_STOPWORD_RATIO).alias("min_stopword_fr"),
            F.lit(C.STOPWORD_MARGIN).alias("stopword_margin"),
            F.lit(C.MIN_TOKENS_FOR_HEURISTIC).alias("min_tokens"),
            F.array(*[F.lit(k) for k in sorted(C.MUSIC_KEYWORDS)]).alias(
                "music_keywords"
            ),
        ).alias("config"),
    )


# --- the core transform -----------------------------------------------------------

OUTPUT_COLS = [
    "url", "warc_ts", "lang", "language", "keep", "drop_reason",
    "gate_decision", "detection_method", "probability", "scrubbed_text",
    "gate_path", "pipeline_mode", "score_meta",
]


_DEFAULT = object()

# input columns carried through untouched to the output
_CARRIED = ("url", "warc_ts", "lang")


def run_pipeline(
    df: DataFrame,
    scorer: gate.Scorer | None = None,
    scorer2: gate.Scorer | None = None,
    ppl_scorer: gate.Scorer | None = None,
    strict_reject: bool = C.ENFR_STRICT_REJECT,
    use_html: bool = True,
    persist_level=_DEFAULT,
    carry_text: bool = False,
) -> DataFrame:
    """Input (input_hint schema) → one output row per document
    (FIXTURES.md §2 schema). ``lang`` (generator ground truth) is carried
    through untouched for evaluation; the pipeline never reads it.

    ``persist_level`` defaults to DISK_ONLY: the staged cascade re-reads the
    scored frame for the decided/undecided split, and serialized-to-disk
    blocks ride the OS page cache instead of ballooning fresh JVM heap
    (measured 3.5× faster than MEMORY_AND_DISK on the bench corpus). Pass
    None to recompute instead of caching.

    ``scorer2`` overrides the pass-2 (VAD-retry) scorer independently of
    pass 1, mirroring gate.apply_gate (the reference's mocks return
    different scores per call). ``carry_text=True`` adds the PROBE-bounded
    extracted text as ``extracted_probe`` to the output — already
    length-capped, so downstream consumers reuse the single extraction
    pass instead of re-running the UDF. ``carry_text="full"`` additionally
    carries the UNBOUNDED extracted text as ``extracted_full`` — the
    dedup-correct carry (near-dup over a 4k prefix would merge long
    documents sharing boilerplate headers); it rides the cascade's
    DISK_ONLY persist, so the persist grows from probe-bounded to
    corpus-text-sized — the price of whole-document dedup, paid on disk,
    not heap."""
    from pyspark.storagelevel import StorageLevel

    if persist_level is _DEFAULT:
        persist_level = StorageLevel.DISK_ONLY
    e = _plan_stages(use_html, carry_text)

    invalid = df.filter(e.invalid).select(*e.invalid_cols)
    valid = df.filter(e.valid)

    # S4: decode payload once per document (runner.py:39-40); drop the
    # heavy binary column immediately after (column pruning for every
    # downstream stage, persist, and shuffle). extract_error marks poison
    # rows (D5) — carried through the gate, folded into drop_reason='error'
    # at the end (single extraction pass; the gate's persist means the
    # split never re-runs the UDF).
    extracted = valid
    for stage in e.extract:
        extracted = extracted.select(*stage)

    # Gopher/C4-style quality rules (north_star) are computed on the FULL
    # extracted text — doc-length/repetition rules need the whole document —
    # exactly once, before bounding. r06: staged evaluation (with_quality)
    # materializes the token array and each metric once per row; the old
    # inlined Column form re-tokenized the full text at nearly every metric
    # reference (no subexpression elimination through lambda variables).
    from . import quality as Q

    extracted = Q.with_quality(extracted, "extracted")

    # Bound per-row carried state: everything downstream (probe, snippet
    # scrub) reads at most PROBE_CHARS of the document, so only that prefix
    # flows through the staged-cascade persists — a 100×-median-length
    # document costs the same as a normal one past this point (X19/X20
    # bounded-work analog, lang_gate.py:13, runner.py:27). carry_text="full"
    # keeps the unbounded text alongside for whole-document dedup.
    extracted = extracted.select(*e.bounded)

    gated = gate.apply_gate(
        extracted,
        text_col="extracted",
        scorer=scorer,
        scorer2=scorer2,
        ppl_scorer=ppl_scorer,
        strict_reject=strict_reject,
        persist_level=persist_level,
        text_is_probe=True,  # bounded above — no duplicate probe column
    )

    # Invalid-input rows become keep=false rows, not exceptions (D5 analog:
    # errors are rows; SURVEY.md §2.5 drop_reason='invalid_input').
    combined = gated.unionByName(invalid.select("*", *e.invalid_gate_cols))

    # Fold extraction poison rows into the same error surface as scorer
    # poison rows (gate._emit_pass1/2/3): keep=false, drop_reason='error'.
    return combined.withColumns(dict(e.error_fold)).select(*e.output)


@X.per_jvm
def _plan_stages(use_html: bool, carry_text: bool | str) -> SimpleNamespace:
    """run_pipeline's predicates and stage projections (built once per
    JVM): the invalid-row branch, the extraction stages, the bounding
    projection, the error fold and the output projection."""
    carried = [F.col(c) for c in _CARRIED]
    carry_full = carry_text == "full"
    null_str = F.lit(None).cast("string")
    if use_html:
        extract = (
            (*carried, extract_text_udf(F.col("html")).alias("_ex")),
            (*carried, F.col("_ex.extracted").alias("extracted"),
             F.col("_ex.error").alias("extract_error")),
        )
    else:
        extract = ((*carried, F.col("text").alias("extracted"),
                    null_str.alias("extract_error")),)
    err = F.col("extract_error").isNotNull()

    # M6/X21: snippet scrub on kept en/fr rows only (runner.py:85-127) —
    # pure native regex chain, no Python.
    snippet = X.snippet_first_words(
        SCRUB.scrub_col(X.snippet_window(F.col("extracted"))), 10
    )
    wants_snippet = (
        F.col("keep") & ~F.col("music_only") & F.col("language").isin("en", "fr")
    )
    carry_cols = ([F.col("extracted").alias("extracted_probe")]
                  if carry_text else [])
    if carry_full:
        carry_cols.append(F.col("extracted_full"))
    return SimpleNamespace(
        valid=valid_input(),
        invalid=~valid_input(),
        invalid_cols=(*carried, null_str.alias("extracted")),
        extract=extract,
        bounded=(
            *carried, F.col("quality_fail_reason"), F.col("extract_error"),
            *([F.col("extracted").alias("extracted_full")]
              if carry_full else []),
            X.probe(F.col("extracted")).alias("extracted"),
        ),
        invalid_gate_cols=(
            null_str.alias("quality_fail_reason"),
            null_str.alias("extract_error"),
            null_str.alias("gate_decision"),
            F.lit("none").alias("language"),
            F.lit(None).cast("double").alias("probability"),
            null_str.alias("detection_method"),
            F.lit(False).alias("use_vad"),
            F.lit(0.0).alias("en_ratio"),
            F.lit(0.0).alias("fr_ratio"),
            F.lit(0).alias("token_count"),
            F.lit(False).alias("music_only"),
            F.lit(False).alias("mid_zone"),
            F.lit(False).alias("keep"),
            F.lit(C.DROP_INVALID_INPUT).alias("drop_reason"),
            F.lit(C.GATE_PATH_UNKNOWN).alias("gate_path"),
            F.lit(C.PIPELINE_MODE_UNKNOWN).alias("pipeline_mode"),
            *([null_str.alias("extracted_full")] if carry_full else []),
        ),
        error_fold=(
            ("gate_decision", F.when(err, F.lit(C.DECISION_ERROR))
             .otherwise(F.col("gate_decision"))),
            ("language", F.when(err, F.lit("none"))
             .otherwise(F.col("language"))),
            ("probability", F.when(err, F.lit(None).cast("double"))
             .otherwise(F.col("probability"))),
            ("detection_method", F.when(err, null_str)
             .otherwise(F.col("detection_method"))),
            ("keep", F.col("keep") & ~err),
            ("drop_reason", F.when(err, F.lit(C.DROP_ERROR))
             .otherwise(F.col("drop_reason"))),
            ("gate_path", F.when(err, F.lit(C.GATE_PATH_UNKNOWN))
             .otherwise(F.col("gate_path"))),
            ("pipeline_mode", F.when(err, F.lit(C.PIPELINE_MODE_UNKNOWN))
             .otherwise(F.col("pipeline_mode"))),
        ),
        output=(
            *carried,
            F.col("language"),
            F.col("keep"),
            F.col("drop_reason"),
            F.col("gate_decision"),
            F.col("detection_method"),
            F.col("probability"),
            F.when(wants_snippet, snippet).otherwise(F.lit(""))
            .alias("scrubbed_text"),
            F.col("gate_path"),
            F.col("pipeline_mode"),
            F.col("quality_fail_reason"),
            (F.col("keep") & F.col("quality_fail_reason").isNull())
            .alias("final_keep"),
            score_meta_struct().alias("score_meta"),
            *carry_cols,
        ),
    )


# --- X12: language-code rewrite over the typed output -------------------------------

def rewrite_language_codes(df: DataFrame, fmt: str) -> DataFrame:
    """X12 (main.py:662-679): the reference walks arbitrary JSON rewriting
    every "language" key; with a typed schema the rewrite is finite —
    withField on the known struct paths. Unknown codes pass through
    (languages.py:44-47)."""
    return (
        df.withColumn("language", X.to_iso_code(F.col("language"), fmt))
        .withColumn(
            "score_meta",
            F.col("score_meta").withField(
                "language", X.to_iso_code(F.col("score_meta.language"), fmt)
            ),
        )
    )


# --- D1: salted repartition --------------------------------------------------------

def salted_repartition(df: DataFrame, n: int, key: str = "url",
                       salt_buckets: int = 16,
                       cluster_cols: list[str] | None = None) -> DataFrame:
    """Round-robin analog (scheduler.py:39-58) upgraded per the north rule:
    hash-partition on (host-prefix ⊕ salt) so web pages from one hot host —
    the repeated key at Common-Crawl scale — spread over ``salt_buckets``
    partitions instead of one (SURVEY.md §2.7 D1).

    ``cluster_cols`` (e.g. the output's date partition column) join the
    partition key so each task's rows land in few table partitions — without
    it a partitioned write fans out to n_tasks × n_dates small files."""
    host = F.substring_index(F.col(key), "/", 3)
    salt = F.pmod(F.xxhash64(F.col(key)), F.lit(salt_buckets))
    cols = [F.col(c) for c in (cluster_cols or [])]
    return df.repartition(n, *cols, F.xxhash64(host, salt))


# --- A9 counters: observe + metrics table --------------------------------------------

def metric_aggs() -> dict[str, Column]:
    """Named counter aggregates ≙ the reference's 9 Prometheus counters
    (metrics.py:6-78; A9). Built lazily (Columns need an active context)."""
    return {
        "docs_in": F.count(F.lit(1)),
        "docs_kept": F.count(F.when(F.col("keep"), 1)),
        "docs_dropped": F.count(F.when(~F.col("keep"), 1)),
        "music_only": F.count(F.when(F.col("drop_reason") == C.DROP_MUSIC_ONLY, 1)),
        "lang_en": F.count(F.when(F.col("language") == "en", 1)),
        "lang_fr": F.count(F.when(F.col("language") == "fr", 1)),
        "lang_none": F.count(F.when(F.col("language") == "none", 1)),
        "fallback_used": F.count(
            F.when(F.col("gate_decision") == C.DECISION_FALLBACK, 1)
        ),
        "errors": F.count(
            F.when(F.col("drop_reason") == C.DROP_ERROR, 1)
        ),
    }


def observed(df: DataFrame, name: str = "gate_metrics"):
    """df.observe() named aggregates ≙ the reference's Prometheus counters
    (metrics.py:6-78) — collected for free on the write action."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[a.alias(k) for k, a in metric_aggs().items()]), obs


def metrics_table(out: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage counters (north rule): one row per
    (run_id, dt, language, drop_reason)."""
    return (
        out.groupBy(F.col("dt"), F.col("language"), F.col("drop_reason"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count(F.when(F.col("keep"), 1)).alias("kept"),
        )
        .select(F.lit(run_id).alias("run_id"), "*")
    )


# --- resumable run (D8) ----------------------------------------------------------------

def with_dt(df: DataFrame) -> DataFrame:
    """Derive the date partition column — unless the source is already
    dt-partitioned, in which case the inferred partition column is kept so
    filters on it prune at the FILE level (replacing it with a
    to_date(warc_ts) expression would break partition pruning)."""
    if "dt" in df.columns:
        return df
    return df.withColumn("dt", F.to_date(F.col("warc_ts")))


def _list_input_partitions(spark: SparkSession, input_path: str) -> list[str] | None:
    """dt partition values from the directory listing — catalog metadata,
    zero data read (the parquet stand-in for Iceberg's partition metadata;
    on a real deployment this is `table.partitions`). Returns None when the
    input is not hive-partitioned by dt (caller falls back to a
    column-pruned distinct scan)."""
    try:
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(input_path)
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        vals = [
            st.getPath().getName()[3:]
            for st in fs.listStatus(hpath)
            if st.isDirectory() and st.getPath().getName().startswith("dt=")
        ]
        return sorted(vals) or None
    except Exception:
        return None


def run_resumable(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    run_id: str,
    repartition_n: int | None = None,
    **pipeline_kwargs,
) -> list[str]:
    """Checkpointed, idempotent run (SURVEY.md §2.7 D8).

    Output is partitioned by ``dt`` = days(warc_ts) — the same column that
    partitions the input date-wise — so a restart (a) skips date partitions
    recorded in ``_checkpoints`` via partition pruning, and (b) dynamically
    overwrites any partially-written partition, converging to the same
    output as an uninterrupted run. Returns the list of dt partitions
    processed this invocation."""
    checkpoints_path = output_path.rstrip("/") + "_checkpoints"
    metrics_path = output_path.rstrip("/") + "_metrics"

    # Idempotence depends on dynamic partition overwrite: in static mode,
    # mode('overwrite').partitionBy('dt') would DELETE every previously
    # completed partition on resume. Self-contained, not session-dependent.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    src = with_dt(spark.read.parquet(input_path))

    done: set[str] = set()
    try:
        done = {
            str(r["dt"]) for r in spark.read.parquet(checkpoints_path)
            .filter(F.col("run_id") == run_id).select("dt").distinct().collect()
        }
    except Exception:
        pass  # no checkpoints yet

    if done:
        # partition-level anti-filter: prunes whole input date partitions
        src = src.filter(~F.col("dt").isin(*sorted(done)))

    # Pending date list from partition METADATA when the input is
    # dt-partitioned (no input pass at all before the pipeline job); the
    # distinct scan survives only as the fallback for unpartitioned inputs,
    # where it is at least column-pruned to warc_ts.
    part_vals = _list_input_partitions(spark, input_path)
    if part_vals is not None:
        pending = sorted(set(part_vals) - done)
    else:
        pending = sorted(
            str(r["dt"]) for r in src.select("dt").distinct().collect()
        )
    if not pending:
        return []

    # the cascade's persisted stages are released once every write is done
    with gate.released_persists():
        out = with_dt(run_pipeline(src, **pipeline_kwargs))
        if repartition_n:
            out = salted_repartition(out, repartition_n, cluster_cols=["dt"])

        out, obs = observed(out)
        (out.write.mode("overwrite").partitionBy("dt").parquet(output_path))

        final = with_dt(spark.read.parquet(output_path)).filter(
            F.col("dt").isin(*pending)
        )
        # dynamic partition overwrite keyed by dt: a crash between this write
        # and the checkpoint append must not duplicate metrics on resume —
        # re-processing a partition REPLACES its metrics rows (exactly-once
        # lineage, SURVEY §4.2(c))
        (metrics_table(final, run_id).write.mode("overwrite")
         .partitionBy("dt").parquet(metrics_path))

        ckpt = spark.createDataFrame(
            [(run_id, d) for d in sorted(pending)], "run_id string, dt string"
        ).withColumn("observed", F.lit(str(obs.get)))
        ckpt.write.mode("append").parquet(checkpoints_path)
    return sorted(pending)
