"""The EN/FR decision cascade (reference: detect_lang_en_fr_only,
lang_gate.py:293-546) as a staged Spark DataFrame DAG.

Shape (SURVEY.md §4.2): compute-then-select with *staged* evaluation so the
expensive scoring UDFs only ever run on rows still undecided — the Spark
analog of the reference's cost-ordered short-circuit (most documents exit at
C1/C2; the VAD retry and fallback scorer are reached by a shrinking residue):

    pass1: langid(probe)          → C1 music-only, C2 high-conf, C3/C4 mid-zone
    pass2: langid(vad_clean(probe)) on undecided₁ → C5 music-only, C6 vad-accept
    pass3: ppl_en/fr(probe) on undecided₂         → C7 strict reject / C8 fallback
    unionByName(decided₁, decided₂, decided₃)

Branch ordering and every emitted field mirror the reference exactly,
including the subtle behaviors asserted by its tests (SURVEY.md §2.5):
music-only wins before probability logic; the C2 speechiness guard; C6
reports FIRST-pass ratios/token_count (lang_gate.py:507-509); fallback emits
probability NULL (tests/test_enfr_gate.py:131); gate_meta.mid_zone derives
from the probability band, not the branch (lang_gate.py:187).

Scorers are injectable (the reference's mock-detector hook, conftest.py:24):
pass a callable Column→Column producing struct<lang,prob> (or
struct<ppl_en,ppl_fr>) to replace the real pandas UDFs in tests.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from . import constants as C
from . import scoring
from .functions import exprs as X

Scorer = Callable[[Column], Column]

# Unified per-branch output columns (FIXTURES.md §2 / lang_gate.py:172-213)
GATE_COLS = [
    "gate_decision", "language", "probability", "detection_method",
    "use_vad", "en_ratio", "fr_ratio", "token_count", "music_only",
]


def _allowed(lang: Column) -> Column:
    return lang.isin(*sorted(C.ALLOWED_LANGS))


def with_pass1(df: DataFrame, text_col: str = "text",
               scorer: Scorer | None = None,
               text_is_probe: bool = False) -> DataFrame:
    """Probe extraction + first-pass heuristic columns + langid scores.

    All heuristics are native expressions (WholeStageCodegen); the scorer is
    the only ArrowEvalPython node. Webtext mapping: the "transcript" of the
    probe IS the probe text (SURVEY.md §2.4 M3).

    ``text_is_probe``: the caller guarantees ``text_col`` is already bounded
    to PROBE_CHARS, so no separate probe column is materialized — halves the
    string bytes flowing through the staged-cascade persist (UnsafeRow
    copies every column's bytes; an alias column is a real copy)."""
    scorer = scorer or scoring.langid_scores_udf
    if text_is_probe:
        probe_col = text_col
        out = df
    else:
        probe_col = "_probe"
        out = df.withColumn(probe_col, X.probe(F.col(text_col)))
    # Materialize tokens once — token_count and both stopword ratios read
    # the same array column instead of re-running split+filter three times.
    out = (
        out.withColumn("_tokens", X.tokenize(F.col(probe_col)))
        .withColumn("_tc1", X.token_count(F.col("_tokens")))
        .withColumn("_en1", X.stopword_ratio(F.col("_tokens"), "en"))
        .withColumn("_fr1", X.stopword_ratio(F.col("_tokens"), "fr"))
        .withColumn("_music1", X.is_music_only(F.col(probe_col)))
        .withColumn("_s1", scorer(F.col(probe_col)))
        .withColumn("_lang1", F.col("_s1.lang"))
        .withColumn("_p1", X.safe_probability(F.col("_s1.prob")))
        .withColumn("_err1", _scorer_error("_s1", scorer))
        .drop("_s1", "_tokens")
    )
    return out


def _scorer_error(struct_col: str, scorer: Scorer) -> Column:
    """Poison-row capture (D5, runner.py:192-199): the production scoring
    UDFs (``scoring.make_*_udf``) declare a per-row ``error`` field in
    their ``returnType``; injected native-struct scorers have no return
    type and cannot fail. Reading the declared type keeps plan analysis
    out of the per-pass build."""
    rtype = getattr(scorer, "returnType", None)
    if isinstance(rtype, T.StructType) and "error" in rtype.fieldNames():
        return F.col(f"{struct_col}.error")
    return F.lit(None).cast("string")


def _decision1() -> Column:
    """C1-C4 (lang_gate.py:340-453). NULL = undecided (falls to pass 2).

    Note C3/C4 are reachable at p ≥ MID_UPPER when the C2 speechiness guard
    fails — the reference's control flow falls *through* to the mid-zone
    checks, not past them (lang_gate.py:383-453)."""
    lang1, p1 = F.col("_lang1"), F.col("_p1")
    tc, en, fr = F.col("_tc1"), F.col("_en1"), F.col("_fr1")
    high_conf = (
        _allowed(lang1) & (p1 >= C.MID_UPPER)
        & (tc >= C.MIN_TOKENS_FOR_SPEECH)
        & (F.greatest(en, fr) >= C.MIN_STOPWORD_FOR_SPEECH)
    )
    mid_en = (
        _allowed(lang1) & (lang1 == "en") & (p1 >= C.MID_LOWER)
        & (tc >= C.MIN_TOKENS_FOR_HEURISTIC)
        & (en >= C.MID_EN_MIN_STOPWORD_RATIO)
        & (en > fr + C.STOPWORD_MARGIN)
    )
    mid_fr = (
        _allowed(lang1) & (lang1 == "fr") & (p1 >= C.MID_LOWER)
        & (tc >= C.MIN_TOKENS_FOR_HEURISTIC)
        & (fr >= C.MID_FR_MIN_STOPWORD_RATIO)
        & (fr > en + C.STOPWORD_MARGIN)
    )
    return (
        F.when(F.col("_music1"), F.lit(C.DECISION_MUSIC_ONLY))
        .when(high_conf, F.lit(C.DECISION_HIGH_CONF))
        .when(mid_en, F.lit(C.DECISION_MID_EN))
        .when(mid_fr, F.lit(C.DECISION_MID_FR))
    )


def _emit_pass1(df: DataFrame) -> DataFrame:
    """Project decided₁ + poison rows to the unified gate columns.

    Error rows (scorer threw; D5, runner.py:192-199) are emitted HERE as
    conditional columns rather than as a separate filter+union branch: a
    third branch would add a full extra read of the persisted stage, and in
    the un-persisted oracle path a full re-evaluation. Error precedence
    mirrors the reference, where transcribe() throws before any decision
    logic runs."""
    d = F.col("_d1")
    err = F.col("_err1").isNotNull()
    music = (d == C.DECISION_MUSIC_ONLY) & ~err
    return df.select(
        *[c for c in df.columns if not c.startswith("_")],
        F.when(err, F.lit(C.DECISION_ERROR)).otherwise(d)
         .alias("gate_decision"),
        F.when(music | err, F.lit("none")).otherwise(F.col("_lang1"))
         .alias("language"),
        F.when(err, F.lit(None)).otherwise(F.col("_p1"))
         .cast("double").alias("probability"),
        F.when(err, F.lit(None).cast("string"))
         .otherwise(F.lit(C.METHOD_AUTODETECT)).alias("detection_method"),
        F.lit(False).alias("use_vad"),
        F.when(music, F.lit(0.0)).otherwise(F.col("_en1")).alias("en_ratio"),
        F.when(music, F.lit(0.0)).otherwise(F.col("_fr1")).alias("fr_ratio"),
        F.col("_tc1").alias("token_count"),
        music.alias("music_only"),
    )


def _emit_pass2(df: DataFrame) -> DataFrame:
    """C5/C6 (lang_gate.py:472-511) + pass-2 poison rows. C5 reports the
    VAD transcript's token count; C6 reports FIRST-pass ratios/token_count
    (lang_gate.py:486,507-509)."""
    err = F.col("_err2").isNotNull()
    music = F.col("_music2") & ~err
    return df.select(
        *[c for c in df.columns if not c.startswith("_")],
        F.when(err, F.lit(C.DECISION_ERROR))
         .when(music, F.lit(C.DECISION_MUSIC_ONLY))
         .otherwise(F.lit(C.DECISION_VAD_RETRY)).alias("gate_decision"),
        F.when(music | err, F.lit("none")).otherwise(F.col("_lang2"))
         .alias("language"),
        F.when(err, F.lit(None)).otherwise(F.col("_p2"))
         .cast("double").alias("probability"),
        F.when(err, F.lit(None).cast("string"))
         .otherwise(F.lit(C.METHOD_AUTODETECT_VAD)).alias("detection_method"),
        F.lit(True).alias("use_vad"),
        F.when(music, F.lit(0.0)).otherwise(F.col("_en1")).alias("en_ratio"),
        F.when(music, F.lit(0.0)).otherwise(F.col("_fr1")).alias("fr_ratio"),
        F.when(music, F.col("_tc2")).otherwise(F.col("_tc1")).alias("token_count"),
        music.alias("music_only"),
    )


def _emit_pass3(df: DataFrame, strict: bool) -> DataFrame:
    """C7 strict reject (error row, lang_gate.py:527-531) or C8 fallback
    (argmax of EN/FR scoring, probability NULL, lang_gate.py:533-546) +
    pass-3 poison rows — ONE projection over the whole residue, so the ppl
    UDF evaluates exactly once (a separate error branch would run it a
    second time on every residual row)."""
    base = [c for c in df.columns if not c.startswith("_")]
    if strict:
        return df.select(
            *base,
            F.lit(C.DECISION_STRICT_REJECT).alias("gate_decision"),
            F.col("_lang1").alias("language"),
            F.col("_p1").cast("double").alias("probability"),
            F.lit(C.METHOD_AUTODETECT).alias("detection_method"),
            F.lit(True).alias("use_vad"),
            F.col("_en1").alias("en_ratio"),
            F.col("_fr1").alias("fr_ratio"),
            F.col("_tc1").alias("token_count"),
            F.lit(False).alias("music_only"),
        )
    err = F.col("_err3").isNotNull()
    return df.select(
        *base,
        F.when(err, F.lit(C.DECISION_ERROR))
         .otherwise(F.lit(C.DECISION_FALLBACK)).alias("gate_decision"),
        F.when(err, F.lit("none"))
         .otherwise(X.argmax_en_fr(F.col("_ppl.ppl_en"), F.col("_ppl.ppl_fr")))
         .alias("language"),
        F.lit(None).cast("double").alias("probability"),
        F.when(err, F.lit(None).cast("string"))
         .otherwise(F.lit(C.METHOD_FALLBACK)).alias("detection_method"),
        F.lit(True).alias("use_vad"),
        F.col("_en1").alias("en_ratio"),
        F.col("_fr1").alias("fr_ratio"),
        F.col("_tc1").alias("token_count"),
        F.lit(False).alias("music_only"),
    )


# Stages apply_gate persists inside the current ``released_persists()``
# block; a context variable, so concurrent runs on other threads keep
# their own.
_held: ContextVar[list[DataFrame] | None] = ContextVar(
    "gate_held_persists", default=None)


@contextmanager
def released_persists() -> Iterator[None]:
    """Unpersist, on exit, every cascade stage ``apply_gate`` persists
    inside the block — the caller's jobs over those stages must finish
    inside it."""
    held: list[DataFrame] = []
    token = _held.set(held)
    try:
        yield
    finally:
        _held.reset(token)
        for df in held:
            df.unpersist()


def _persist(df: DataFrame, level: StorageLevel) -> DataFrame:
    df = df.persist(level)
    held = _held.get()
    if held is not None:
        held.append(df)
    return df


def apply_gate(
    df: DataFrame,
    text_col: str = "text",
    scorer: Scorer | None = None,
    ppl_scorer: Scorer | None = None,
    strict_reject: bool = C.ENFR_STRICT_REJECT,
    persist_level: StorageLevel | None = StorageLevel.MEMORY_AND_DISK,
    scorer2: Scorer | None = None,
    text_is_probe: bool = False,
) -> DataFrame:
    """Run the full cascade; returns ``df``'s columns + GATE_COLS + derived
    ``mid_zone``/``keep``/``drop_reason``/``gate_path``/``pipeline_mode``.

    ``persist_level`` caches each scored stage before the decided/undecided
    filter split so the scoring UDF runs exactly once per row per pass
    (SURVEY.md §4.2(b)); pass None to recompute instead (useful when the
    input is a cheap in-memory frame, e.g. unit tests)."""
    scorer = scorer or scoring.langid_scores_udf
    ppl_scorer = ppl_scorer or scoring.ppl_scores_udf
    # tests may inject a distinct second-pass scorer (the reference mocks
    # return different scores per transcribe() call, test_enfr_gate.py:94-116)
    scorer2 = scorer2 or scorer
    probe_col = text_col if text_is_probe else "_probe"

    scored1 = (with_pass1(df, text_col, scorer, text_is_probe)
               .withColumn("_d1", _decision1()))
    if persist_level is not None:
        scored1 = _persist(scored1, persist_level)
    # poison rows are decided rows (decision='error'): exactly TWO consumers
    # of the persisted stage, same as the error-free round-1 design
    decided1 = _emit_pass1(scored1.filter(
        F.col("_err1").isNotNull() | F.col("_d1").isNotNull()))

    undecided1 = scored1.filter(
        F.col("_err1").isNull() & F.col("_d1").isNull())
    cleaned = X.vad_clean(F.col(probe_col))
    tokens2 = X.tokenize(F.col("_cleaned"))
    scored2 = (
        undecided1.withColumn("_cleaned", cleaned)
        .withColumn("_music2", X.is_music_only(F.col("_cleaned")))
        .withColumn("_tc2", X.token_count(tokens2))
        .withColumn("_s2", scorer2(F.col("_cleaned")))
        .withColumn("_lang2", F.col("_s2.lang"))
        .withColumn("_p2", X.safe_probability(F.col("_s2.prob")))
        .withColumn("_err2", _scorer_error("_s2", scorer2))
        .withColumn(
            "_d2",
            F.col("_music2")
            | (_allowed(F.col("_lang2")) & (F.col("_p2") >= C.LANG_DETECT_MIN_PROB)),
        )
    )
    if persist_level is not None:
        scored2 = _persist(scored2, persist_level)
    decided2 = _emit_pass2(scored2.filter(
        F.col("_err2").isNotNull() | F.col("_d2")))

    undecided2 = scored2.filter(F.col("_err2").isNull() & ~F.col("_d2"))
    if strict_reject:
        decided3 = _emit_pass3(undecided2, strict=True)
    else:
        # Fallback scores the PROBE, not the cleaned text (lang_gate.py:535)
        scored3 = (
            undecided2.withColumn("_ppl", ppl_scorer(F.col(probe_col)))
            .withColumn("_err3", _scorer_error("_ppl", ppl_scorer))
        )
        decided3 = _emit_pass3(scored3, strict=False)

    out = decided1.unionByName(decided2).unionByName(decided3)
    return with_derived(out)


def with_derived(out: DataFrame) -> DataFrame:
    """Derived columns over the unified gate output.

    r06: the normalized decision/method/language strings are staged as
    columns first — classify_gate_path + classify_pipeline_mode reference
    lower(trim(coalesce(...))) ~14× between them, and every inlined
    reference re-allocates the lowered copy per row. The classifier
    when-chains then read the attributes (same comparisons, same order)."""
    prob_value = X.safe_probability(F.col("probability"))
    decision = F.col("gate_decision")
    norm = lambda c: F.lower(F.trim(F.coalesce(c, F.lit(""))))  # noqa: E731
    staged = out.select(
        "*",
        norm(F.col("gate_decision")).alias("_dn"),
        norm(F.col("language")).alias("_ln"),
        norm(F.col("detection_method")).alias("_mn"),
    )
    return (
        staged.withColumn(
            "mid_zone",
            (prob_value >= C.MID_LOWER) & (prob_value < C.MID_UPPER),
        )
        .withColumn("keep", decision.isin(*sorted(C.KEEP_DECISIONS)))
        .withColumn(
            "drop_reason",
            F.when(decision == C.DECISION_MUSIC_ONLY, C.DROP_MUSIC_ONLY)
            .when(decision == C.DECISION_STRICT_REJECT, C.DROP_NON_ENFR_STRICT)
            .when(decision == C.DECISION_ERROR, C.DROP_ERROR),
        )
        .withColumn("gate_path",
                    classify_gate_path(F.col("_dn"), F.col("_ln")))
        .withColumn("pipeline_mode",
                    classify_pipeline_mode(F.col("_dn"), F.col("_mn")))
        .drop("_dn", "_ln", "_mn")
    )


def classify_gate_path(d: Column | None = None,
                       lang: Column | None = None) -> Column:
    """gate_metrics.classify_gate_path (gate_metrics.py:52-90) as a
    when-chain over the unified gate columns. Pass pre-normalized
    (lower/trim/coalesce) decision + language columns on data paths so
    the normalization evaluates once, not per branch (r06)."""
    if d is None:
        d = F.lower(F.trim(F.coalesce(F.col("gate_decision"), F.lit(""))))
    if lang is None:
        lang = F.lower(F.trim(F.coalesce(F.col("language"), F.lit(""))))
    return (
        F.when(F.col("music_only"), C.GATE_PATH_MUSIC_ONLY)
        .when(d == "no_speech_music_only", C.GATE_PATH_MUSIC_ONLY)
        .when(d == "fallback", C.GATE_PATH_FALLBACK)
        .when(d == "vad_retry", C.GATE_PATH_VAD_RETRY)
        .when(d == "accepted_mid_zone_en", C.GATE_PATH_MID_ZONE_EN)
        .when(d == "accepted_mid_zone_fr", C.GATE_PATH_MID_ZONE_FR)
        .when(d == "accepted_high_conf", C.GATE_PATH_HIGH_CONF)
        .when(F.col("mid_zone") & (lang == "fr"), C.GATE_PATH_MID_ZONE_FR)
        .when(F.col("mid_zone"), C.GATE_PATH_MID_ZONE_EN)
        .otherwise(C.GATE_PATH_UNKNOWN)
    )


def classify_pipeline_mode(d: Column | None = None,
                           m: Column | None = None) -> Column:
    """gate_metrics.classify_pipeline_mode (gate_metrics.py:93-129). Same
    pre-normalized-column convention as classify_gate_path (r06)."""
    if d is None:
        d = F.lower(F.trim(F.coalesce(F.col("gate_decision"), F.lit(""))))
    if m is None:
        m = F.lower(F.trim(F.coalesce(F.col("detection_method"), F.lit(""))))
    return (
        F.when(d == "fallback", C.PIPELINE_MODE_FALLBACK)
        .when((d == "no_speech_music_only") | F.col("music_only"),
              C.PIPELINE_MODE_MUSIC_ONLY)
        .when(d.isin("accepted_mid_zone_en", "accepted_mid_zone_fr"),
              C.PIPELINE_MODE_MID_ZONE)
        .when(F.col("mid_zone"), C.PIPELINE_MODE_MID_ZONE)
        .when(d == "vad_retry", C.PIPELINE_MODE_VAD)
        .when(F.col("use_vad"), C.PIPELINE_MODE_VAD)
        .when(m.startswith("vad"), C.PIPELINE_MODE_VAD)
        .when(d == "accepted_high_conf", C.PIPELINE_MODE_BASE)
        .otherwise(C.PIPELINE_MODE_UNKNOWN)
    )
