"""Dedup operators: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

import hashlib

import pytest
from pyspark.sql import functions as F

from langid_mr_spark import dedup
from langid_mr_spark import textnorm as TN

BASE = ("the quick brown fox jumps over the lazy dog while we talk about "
        "the weather and the news of the day")
NEAR = ("the quick brown fox jumps over the lazy dog while we talk about "
        "the weather and the news of tomorrow")   # 1-word change
DOCS = [
    (0, BASE),
    (1, BASE),            # exact duplicate of 0
    (2, NEAR),            # near duplicate of 0/1
    (3, "bonjour je parle français avec mes amis et nous discutons souvent"),
    (4, "completely different text about databases and query engines here"),
    (5, ""),              # empty
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_shingles(text, n=3):
    toks = TN.tokenize_text(text)
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _py_jaccard(a, b):
    sa, sb = _py_shingles(a), _py_shingles(b)
    u = sa | sb
    return len(sa & sb) / len(u) if u else 0.0


def test_exact_duplicates(docs):
    got = {r["doc_id"]: r for r in dedup.exact_duplicates(docs).collect()}
    assert got[0]["canonical_id"] == 0 and got[0]["is_duplicate"] is False
    assert got[1]["canonical_id"] == 0 and got[1]["is_duplicate"] is True
    for i in (2, 3, 4, 5):
        assert got[i]["is_duplicate"] is False


def test_jaccard_pairs_exact(docs):
    got = {(r["id_a"], r["id_b"]): r["j"]
           for r in dedup.jaccard_pairs(docs).collect()}
    texts = dict(DOCS)
    for (a, b), j in got.items():
        assert j == pytest.approx(_py_jaccard(texts[a], texts[b]), abs=1e-12)
    assert got[(0, 1)] == 1.0
    assert 0.5 < got[(0, 2)] < 1.0
    assert got[(0, 4)] == 0.0


def test_md5_long_matches_python(spark):
    df = spark.createDataFrame([("hello world",), ("ç é ♪",)], ["t"])
    got = [r["h"] for r in df.select(dedup.md5_long(F.col("t")).alias("h")).collect()]
    want = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for t, in [("hello world",), ("ç é ♪",)]]
    assert got == want


def test_minhash_finds_near_duplicates(docs):
    pairs = {(r["id_a"], r["id_b"]): r["j"]
             for r in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert (1, 2) in pairs
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_minhash_candidates_superset_of_verified(docs):
    cands = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_lsh_candidates(docs).collect()}
    verified = {(r["id_a"], r["id_b"])
                for r in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()}
    assert verified <= cands


def test_incremental_candidates(spark, docs):
    """New-batch dedup against a stored signature index: finds old-vs-new
    and new-vs-new near-dups without re-hashing the stored corpus."""
    stored = dedup.banded_signatures(docs)  # docs 0-5 already indexed
    new_rows = [
        (10, BASE),    # duplicate of stored 0/1
        (11, NEAR),    # near-dup of stored 0/1 and of new 12
        (12, NEAR),    # exact dup of new 11
        (13, "unrelated fresh content about mountains and rivers today"),
    ]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    cands = {(r["id_a"], r["id_b"]) for r in dedup.incremental_candidates(
        dedup.banded_signatures(new), stored).collect()}
    assert (0, 10) in cands and (1, 10) in cands   # old vs new exact
    assert (0, 11) in cands                        # old vs new near
    assert (11, 12) in cands                       # new vs new
    assert all(b >= 10 for _, b in cands)          # id_b always new-batch
    assert not any(a == 13 or b == 13 for a, b in cands)


def test_simhash_distance(docs):
    got = {r["id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert got[0] == got[1]  # identical docs → identical fingerprint
    ham_near = bin(got[0] ^ got[2]).count("1")
    ham_far = bin(got[0] ^ got[4]).count("1")
    assert ham_near < ham_far
    assert 5 not in got  # no tokens → no fingerprint row


def test_banded_signatures_rejects_indivisible_bands(spark):
    import pytest as _pytest

    from langid_mr_spark import dedup as _dd
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="divisible"):
        _dd.banded_signatures(df, num_perm=32, bands=5)


def test_duplicate_clusters_components(spark):
    """Chain, triangle, and singletons all collapse to the min-id canonical
    within max_rounds; orientation of pairs doesn't matter."""
    from langid_mr_spark import dedup as _dd

    # components: {1,2,3,4} chain, {10,11,12} triangle, {20} singleton
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long")
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 12, 20)], "id long")
    got = {r["id"]: r["cluster_id"]
           for r in _dd.duplicate_clusters(pairs, ids).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20}


def test_contamination_flags(spark):
    """Decontamination: a corpus doc sharing an n-gram block with an eval
    doc is flagged with the exact distinct-n-gram intersection count;
    clean docs are absent; the eval side broadcasts (plan check)."""
    block = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, f"intro words here {block} and trailing content"),   # contaminated
        (1, "totally different text with no overlap at all ok"), # clean
        (2, block),                                              # the eval doc's text
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    eval_df = spark.createDataFrame([(100, block)],
                                    "doc_id long, text string")
    out = dedup.contamination_flags(corpus, eval_df, n=5)
    got = {(r["id"], r["eval_id"]): r["shared"] for r in out.collect()}
    n_block_grams = len(block.split()) - 4  # 8 tokens → 4 distinct 5-grams
    assert got[(0, 100)] == n_block_grams
    assert got[(2, 100)] == n_block_grams
    assert not any(i == 1 for i, _ in got)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_jaccard_topk_lsh_recall_vs_exact(spark):
    """The scale path for global top-k similarity (banded-LSH candidates →
    exact Jaccard → TakeOrderedAndProject) must recover the exact all-pairs
    top-k on a real corpus — the measured-recall companion the all-pairs
    verifier exists to calibrate."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k = 20
    exact = [(r["id_a"], r["id_b"]) for r in
             dedup.jaccard_pairs(docs)
             .orderBy(F.desc("j"), "id_a", "id_b").limit(k).collect()]
    approx = {(r["id_a"], r["id_b"]) for r in
              dedup.jaccard_topk_lsh(docs, k=k).collect()}
    recall = len(set(exact) & approx) / len(exact)
    print(f"jaccard_topk_lsh recall@{k} = {recall:.3f}")
    assert recall >= 0.8


def test_duplicate_clusters_long_chain_converges(spark):
    """A chain of diameter 40 — far beyond the old fixed-8-round
    propagation — converges via pointer doubling (O(log d) rounds) and
    collapses to one canonical id. Guards the silent-split regression."""
    from langid_mr_spark import dedup as _dd

    n = 41  # path graph 0-1-2-...-40, diameter 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {r["id"]: r["cluster_id"]
           for r in _dd.duplicate_clusters(pairs, ids, max_rounds=8).collect()}
    assert got == {i: 0 for i in range(n)}


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    """If labels are still changing at the round cap the function must
    raise, never silently return split clusters."""
    import pytest as _pytest

    from langid_mr_spark import dedup as _dd

    n = 41
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    with _pytest.raises(RuntimeError, match="converge"):
        _dd.duplicate_clusters(pairs, ids, max_rounds=2)


def test_winnowing_guarantee_shared_block(spark):
    """Winnowing guarantee: two documents sharing a substring of length
    >= k + w - 1 share at least one fingerprint; unrelated documents with
    no common 16-gram share none."""
    from langid_mr_spark import dedup as _dd

    k, w = 16, 8
    block = "this exact boilerplate block appears in both documents verbatim"
    assert len(block) >= k + w - 1
    rows = [
        (1, "unique preamble alpha. " + block + " unique tail alpha."),
        (2, "different opening beta— " + block + " different close beta."),
        (3, "zq vw xk pj md lr bt ns gh cf wy dz qe rt ui op as df gj kl"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["id"]: set(r["fps"]) for r in
           _dd.with_winnow_fingerprints(df, "doc_id", "text", k, w).collect()}
    assert fps[1] & fps[2], "shared block must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])

    pairs = {(r["id_a"], r["id_b"]): r["shared"] for r in
             _dd.winnow_overlap_pairs(df, min_shared=1).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_empty_shingle_docs_generate_no_candidates(spark):
    """The sentinel mega-bucket skew bomb (r3 verdict #1): ~100 sub-n-token
    documents all minhash to the all-sentinel signature and would share one
    (band, key) bucket in EVERY band — O(m²) candidate pairs at web scale.
    banded_signatures must exclude them (semantics-free: empty-shingle
    Jaccard ≡ 0 can never verify) while real near-dups still surface."""
    rows = [(i, f"w{i} x{i}") for i in range(100)]   # 2 tokens < n=3
    rows += [(200, ""), (201, "   ")]                # zero tokens
    rows += [(300, BASE), (301, BASE)]               # a real dup pair
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_lsh_candidates(df).collect()}
    assert cands == {(300, 301)}
    # the guard lives in banded_signatures, so every consumer inherits it
    banded_ids = {r["id"] for r in dedup.banded_signatures(df).collect()}
    assert banded_ids == {300, 301}


def test_contamination_broadcast_guard(spark):
    """Oversized eval sets must fail loudly BEFORE broadcasting (r3 verdict
    #8); broadcast_ngram_limit=None takes the shuffle-join fallback with
    identical results."""
    corpus = spark.createDataFrame([(0, BASE), (1, "nothing in common")],
                                   "doc_id long, text string")
    ev = spark.createDataFrame([(100, BASE)], "doc_id long, text string")
    with pytest.raises(ValueError, match="broadcast"):
        dedup.contamination_flags(corpus, ev, n=3, broadcast_ngram_limit=2)
    out = dedup.contamination_flags(corpus, ev, n=3,
                                    broadcast_ngram_limit=None)
    got = {(r["id"], r["eval_id"]): r["shared"] for r in out.collect()}
    assert (0, 100) in got and got[(0, 100)] > 0
    assert not any(i == 1 for i, _ in got)


def test_duplicate_clusters_converges_exactly_at_round_cap(spark):
    """A graph whose fixpoint lands exactly on round max_rounds must NOT
    raise — detection gets one extra zero-change round (r3 advice). The
    diameter-40 path needs exactly 5 doubling rounds (coverage 2^(r+1)-2:
    round 4 reaches 30 < 40, round 5 reaches 62)."""
    from langid_mr_spark import dedup as _dd

    n = 41
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {r["id"]: r["cluster_id"]
           for r in _dd.duplicate_clusters(pairs, ids, max_rounds=5).collect()}
    assert got == {i: 0 for i in range(n)}


def test_incremental_candidates_ignores_legacy_sentinel_rows(spark):
    """A signature store written before the empty-shingle banding guard may
    still hold all-sentinel rows; probing it with a new batch must not
    resurrect the sentinel mega-bucket."""
    from langid_mr_spark.dedup import _MERSENNE

    legacy_key = "_".join([str(_MERSENNE)] * 2)
    stored = spark.createDataFrame(
        [(i, b, legacy_key) for i in range(50) for b in range(2)],
        "id long, band int, key string")
    new = spark.createDataFrame(
        [(100 + i, b, legacy_key) for i in range(10) for b in range(2)]
        + [(200, 0, "123_456"), (201, 0, "123_456")],
        "id long, band int, key string")
    cands = {(r["id_a"], r["id_b"])
             for r in dedup.incremental_candidates(new, stored).collect()}
    assert cands == {(200, 201)}
