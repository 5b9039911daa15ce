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
from types import SimpleNamespace
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
    bounded, scored, heuristics = _pass1_stages(
        tuple(df.columns), text_col, scorer, text_is_probe)
    out = df.select("*", *bounded) if bounded else df
    return out.select("*", *scored).select(*heuristics)


@X.per_jvm
def _pass1_stages(base: tuple[str, ...], text_col: str, scorer: Scorer,
                  text_is_probe: bool):
    """with_pass1's stage projections: the probe (unless the text is one),
    then the token array, music flag and scorer struct, then the metrics
    over the tokens and the fields of the struct — dropping both."""
    probe_col = text_col if text_is_probe else "_probe"
    bounded = (() if text_is_probe
               else (X.probe(F.col(text_col)).alias(probe_col),))
    probe = F.col(probe_col)
    # Materialize tokens once — token_count and both stopword ratios read
    # the same array column instead of re-running split+filter three times.
    scored = (
        X.tokenize(probe).alias("_tokens"),
        X.is_music_only(probe).alias("_music1"),
        scorer(probe).alias("_s1"),
    )
    tokens = F.col("_tokens")
    kept = (*base, *([] if text_is_probe else [probe_col]))
    heuristics = (
        *[F.col(c) for c in kept],
        X.token_count(tokens).alias("_tc1"),
        X.stopword_ratio(tokens, "en").alias("_en1"),
        X.stopword_ratio(tokens, "fr").alias("_fr1"),
        F.col("_music1"),
        F.col("_s1.lang").alias("_lang1"),
        X.safe_probability(F.col("_s1.prob")).alias("_p1"),
        _scorer_error("_s1", scorer).alias("_err1"),
    )
    return bounded, scored, heuristics


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


@X.per_jvm
def _decision1() -> Column:
    """``_d1``: C1-C4 (lang_gate.py:340-453). NULL = undecided (falls to
    pass 2).

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
    ).alias("_d1")


@X.per_jvm
def _emit_pass1(base: tuple[str, ...]) -> tuple[Column, ...]:
    """Project decided₁ + poison rows to ``base`` + the unified gate
    columns.

    Error rows (scorer threw; D5, runner.py:192-199) are emitted HERE as
    conditional columns rather than as a separate filter+union branch: a
    third branch would add a full extra read of the persisted stage, and in
    the un-persisted oracle path a full re-evaluation. Error precedence
    mirrors the reference, where transcribe() throws before any decision
    logic runs."""
    d = F.col("_d1")
    err = F.col("_err1").isNotNull()
    music = (d == C.DECISION_MUSIC_ONLY) & ~err
    return (
        *[F.col(c) for c in base],
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


@X.per_jvm
def _emit_pass2(base: tuple[str, ...]) -> tuple[Column, ...]:
    """C5/C6 (lang_gate.py:472-511) + pass-2 poison rows. C5 reports the
    VAD transcript's token count; C6 reports FIRST-pass ratios/token_count
    (lang_gate.py:486,507-509)."""
    err = F.col("_err2").isNotNull()
    music = F.col("_music2") & ~err
    return (
        *[F.col(c) for c in base],
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


@X.per_jvm
def _emit_pass3(base: tuple[str, ...], strict: bool) -> tuple[Column, ...]:
    """C7 strict reject (error row, lang_gate.py:527-531) or C8 fallback
    (argmax of EN/FR scoring, probability NULL, lang_gate.py:533-546) +
    pass-3 poison rows — ONE projection over the whole residue, so the ppl
    UDF evaluates exactly once (a separate error branch would run it a
    second time on every residual row)."""
    kept = [F.col(c) for c in base]
    if strict:
        return (
            *kept,
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
    return (
        *kept,
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
    base = tuple(c for c in df.columns if not c.startswith("_"))
    p = _cascade_stages(text_col if text_is_probe else "_probe",
                        scorer2, ppl_scorer)

    scored1 = (with_pass1(df, text_col, scorer, text_is_probe)
               .select("*", _decision1()))
    if persist_level is not None:
        scored1 = _persist(scored1, persist_level)
    # poison rows are decided rows (decision='error'): exactly TWO consumers
    # of the persisted stage, same as the error-free round-1 design
    decided1 = scored1.filter(p.decided1).select(*_emit_pass1(base))

    scored2 = scored1.filter(p.undecided1)
    for stage in p.pass2:
        scored2 = scored2.select("*", *stage)
    if persist_level is not None:
        scored2 = _persist(scored2, persist_level)
    decided2 = scored2.filter(p.decided2).select(*_emit_pass2(base))

    undecided2 = scored2.filter(p.undecided2)
    if strict_reject:
        decided3 = undecided2.select(*_emit_pass3(base, True))
    else:
        # Fallback scores the PROBE, not the cleaned text (lang_gate.py:535)
        scored3 = undecided2
        for stage in p.pass3:
            scored3 = scored3.select("*", *stage)
        decided3 = scored3.select(*_emit_pass3(base, False))

    out = decided1.unionByName(decided2).unionByName(decided3)
    return with_derived(out)


@X.per_jvm
def _cascade_stages(probe_col: str, scorer2: Scorer,
                    ppl_scorer: Scorer) -> SimpleNamespace:
    """apply_gate's split predicates and its pass-2/pass-3 stage
    projections. Each stage materializes what the next one reads: the
    VAD-cleaned text before its consumers, each scorer struct before its
    field extraction, the pass-2 fields before the pass-2 decision."""
    cleaned = F.col("_cleaned")
    err1, d1 = F.col("_err1"), F.col("_d1")
    err2, d2 = F.col("_err2"), F.col("_d2")
    return SimpleNamespace(
        decided1=err1.isNotNull() | d1.isNotNull(),
        undecided1=err1.isNull() & d1.isNull(),
        pass2=(
            (X.vad_clean(F.col(probe_col)).alias("_cleaned"),),
            (X.is_music_only(cleaned).alias("_music2"),
             X.token_count(X.tokenize(cleaned)).alias("_tc2"),
             scorer2(cleaned).alias("_s2")),
            (F.col("_s2.lang").alias("_lang2"),
             X.safe_probability(F.col("_s2.prob")).alias("_p2"),
             _scorer_error("_s2", scorer2).alias("_err2")),
            ((F.col("_music2")
              | (_allowed(F.col("_lang2"))
                 & (F.col("_p2") >= C.LANG_DETECT_MIN_PROB))).alias("_d2"),),
        ),
        decided2=err2.isNotNull() | d2,
        undecided2=err2.isNull() & ~d2,
        pass3=(
            (ppl_scorer(F.col(probe_col)).alias("_ppl"),),
            (_scorer_error("_ppl", ppl_scorer).alias("_err3"),),
        ),
    )


def with_derived(out: DataFrame) -> DataFrame:
    """Derived columns over the unified gate output.

    r06: the normalized decision/method/language strings are staged as
    columns first — classify_gate_path + classify_pipeline_mode reference
    lower(trim(coalesce(...))) ~14× between them, and every inlined
    reference re-allocates the lowered copy per row. The classifier
    when-chains then read the attributes (same comparisons, same order),
    and ``mid_zone``, which both classifiers read, is staged with them."""
    normalized, classified = _derived_stages(tuple(out.columns))
    return out.select("*", *normalized).select(*classified)


@X.per_jvm
def _derived_stages(base: tuple[str, ...]):
    """with_derived's two stage projections over ``base``."""
    prob_value = X.safe_probability(F.col("probability"))
    decision = F.col("gate_decision")
    norm = lambda c: F.lower(F.trim(F.coalesce(F.col(c), F.lit(""))))  # noqa: E731
    normalized = (
        norm("gate_decision").alias("_dn"),
        norm("language").alias("_ln"),
        norm("detection_method").alias("_mn"),
        ((prob_value >= C.MID_LOWER) & (prob_value < C.MID_UPPER))
        .alias("mid_zone"),
        decision.isin(*sorted(C.KEEP_DECISIONS)).alias("keep"),
        F.when(decision == C.DECISION_MUSIC_ONLY, C.DROP_MUSIC_ONLY)
        .when(decision == C.DECISION_STRICT_REJECT, C.DROP_NON_ENFR_STRICT)
        .when(decision == C.DECISION_ERROR, C.DROP_ERROR).alias("drop_reason"),
    )
    classified = (
        *[F.col(c) for c in (*base, "mid_zone", "keep", "drop_reason")],
        classify_gate_path(F.col("_dn"), F.col("_ln")).alias("gate_path"),
        classify_pipeline_mode(F.col("_dn"), F.col("_mn"))
        .alias("pipeline_mode"),
    )
    return normalized, classified


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
