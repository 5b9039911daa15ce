"""Deduplication operators for web-scale corpus curation.

Beyond the reference's operator set (its unit of work is one independent
document), a 10^12-document training-data pipeline needs corpus-level dedup;
these are the standard four, each built Spark-first:

- exact:       content-hash groupBy (one shuffle on the hash)
- MinHash+LSH: shingle → minhash signature → banded bucket join → verify
- SimHash:     token-hash sign aggregation (explode + groupBy, pure relational)
- n-gram Jaccard: exact pairwise similarity (the verifier / small-scale oracle)

Hash choice: md5-prefix → int64 (``F.conv(substr(md5(x),1,15),16,10)``) so
every operator has a bit-identical DuckDB oracle (xxhash64 is Spark-only).
At production scale xxhash64 is a drop-in (cheaper); the md5 variant keeps
the correctness gate honest.

Scale notes: exact dedup and LSH bucketing are single-shuffle (groupBy on
hash / band key); candidate verification joins only within buckets, never
all-pairs. ``jaccard_pairs`` alone is O(n²) — it exists as the exactness
oracle and for small candidate sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .functions import exprs as X

# Affine permutation constants for minhash (fixed, deterministic).
# 31-bit Mersenne prime space: a*x + b stays < 2^62, so the arithmetic never
# overflows int64 in either Spark (silent wrap) or DuckDB (error) — the
# precondition for a bit-identical oracle.
_MERSENNE = (1 << 31) - 1


def _perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from a fixed LCG — no RNG state."""
    out, x = [], 0x9E3779B97F4A7C15
    for _ in range(num_perm):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (_MERSENNE - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _MERSENNE
        out.append((a, b))
    return out


def md5_long(col: Column) -> Column:
    """60-bit integer hash with an exact DuckDB twin
    (``('0x' || substr(md5(x),1,15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# --- exact dedup ---------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Content-hash dedup: every row keeps ``canonical_id`` = min id of its
    hash group and ``is_duplicate``. One shuffle (window on the hash)."""
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("canonical_id"),
    ).withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))


# --- shingling + exact jaccard ---------------------------------------------------

def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct token n-gram strings from a token-array column. Documents
    with fewer than n tokens yield an empty set (sequence(1,0) would count
    DOWN, so the short case is handled explicitly).

    r06 NOTE: pass a MATERIALIZED token column on data paths. The lambda
    body references ``toks`` (``slice(toks, i, n)``), and a higher-order
    function re-evaluates its lambda body's outer subtrees once PER
    ELEMENT — with an inline ``tokenize(text)`` the text is re-tokenized
    for every shingle position (measured 2.6× on the shingle pass alone,
    compounding multiplicatively in minhash)."""
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def with_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                  out_col: str = "sh") -> DataFrame:
    """(id, sh) with staged exactly-once evaluation: tokens materialize in
    one projection, shingles read the token ATTRIBUTE in the next — so the
    per-element slice touches a computed array instead of re-running the
    tokenizer (r06; see shingles_from_tokens)."""
    toked = df.select(F.col(id_col).alias("id"),
                      X.tokenize(F.col(text_col)).alias("_t"))
    return toked.select(
        "id", shingles_from_tokens(F.col("_t"), n).alias(out_col))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays (integer ratio —
    bit-identical across engines)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double"))


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """All-pairs exact n-gram Jaccard (id_a < id_b). O(n²) — the exactness
    oracle; use minhash_lsh_candidates at scale."""
    sh = with_shingles(df, id_col, text_col, n)
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("j"))
    )


# --- MinHash + LSH ----------------------------------------------------------------

def _sig_from_hashes(hashes: Column, num_perm: int) -> Column:
    """Signature from an (ideally materialized) base-hash array column."""
    sig = []
    for a, b in _perm_constants(num_perm):
        hi = F.transform(
            hashes,
            lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE),
        )
        sig.append(F.coalesce(F.array_min(hi), F.lit(_MERSENNE)))
    return F.array(*sig)


def with_minhash_signature(df: DataFrame, id_col: str, text_col: str,
                           num_perm: int = 32, n: int = 3,
                           out_col: str = "sig") -> DataFrame:
    """(id, sig) with EXACTLY-ONCE staged evaluation (r06): tokens,
    shingles, and base hashes each materialize once as columns, so the
    num_perm affine permutations (and the per-shingle md5) scan computed
    arrays instead of re-running the whole upstream chain per element /
    per permutation. A single Column cannot alias its own subtrees and
    lambda-bearing expressions get no codegen subexpression elimination,
    so an unstaged signature would embed the tokenize+shingle+md5 chain
    once PER PERMUTATION (staging measured 6.5× at num_perm=8 on the
    signature pass, sf1.0 documents).

    h_i(s) = (a_i * (md5_long(s) mod M) + b_i) mod M  (M = 2^31−1), min over
    shingles; empty shingle set → M (sentinel larger than any hash)."""
    sh = with_shingles(df, id_col, text_col, n)
    hashed = sh.select(
        "id",
        F.transform(F.col("sh"),
                    lambda s: md5_long(s) % F.lit(_MERSENNE)).alias("_h"))
    return hashed.select(
        "id", _sig_from_hashes(F.col("_h"), num_perm).alias(out_col))


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", num_perm: int = 32,
                           bands: int = 16, n: int = 3) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    signature → ``bands`` bands of ``num_perm/bands`` rows → explode →
    groupBy (band index, band content) → pairs within buckets. The join is
    bucket-local: the only all-to-all movement is one shuffle on the band
    key, which is what makes this viable at 10^12 documents."""
    banded = banded_signatures(df, id_col, text_col, num_perm, bands, n)
    left = banded.select("band", "key", F.col("id").alias("id_a"))
    right = banded.select("band", "key", F.col("id").alias("id_b"))
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", threshold: float = 0.8,
                            num_perm: int = 32, bands: int = 16,
                            n: int = 3) -> DataFrame:
    """LSH candidates verified by exact Jaccard ≥ threshold (only the
    bucket-local candidate set is ever joined back to the shingle arrays)."""
    cands = minhash_lsh_candidates(df, id_col, text_col, num_perm, bands, n)
    sh = with_shingles(df, id_col, text_col, n)
    return (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("j"))
        .filter(F.col("j") >= threshold)
    )


def jaccard_topk_lsh(df: DataFrame, k: int = 20, id_col: str = "doc_id",
                     text_col: str = "text", num_perm: int = 32,
                     bands: int = 16, n: int = 3) -> DataFrame:
    """Global top-k most-similar pairs AT SCALE: banded MinHash-LSH
    candidates (one bucket-key shuffle, never all-pairs) → exact Jaccard on
    candidates only → global top-k (orderBy+limit compiles to
    TakeOrderedAndProject: per-partition heaps, k rows to the driver).

    This is the scale path for the all-pairs verifier
    ``jaccard_top_pairs_exact``: at 10^12 documents the verifier is
    O(n²)-impossible while this runs in the same budget as any LSH dedup
    pass. Trade-off: a pair is only visible if it collides in ≥1 band —
    recall vs the exact top-k is measured in tests/test_dedup.py (banded
    collision probability 1−(1−j^r)^b is ≥ 0.96 at j ≥ 0.5 with the default
    32/16 parameters, and the top of the ranking is precisely the
    high-Jaccard region where LSH recall is near 1)."""
    return (
        minhash_near_duplicates(df, id_col=id_col, text_col=text_col,
                                threshold=0.0, num_perm=num_perm,
                                bands=bands, n=n)
        .orderBy(F.desc("j"), "id_a", "id_b")
        .limit(k)
    )


def contamination_flags(corpus: DataFrame, eval_df: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        eval_id_col: str = "doc_id",
                        eval_text_col: str = "text",
                        n: int = 8, min_shared: int = 1,
                        broadcast_ngram_limit: int | None = 10_000_000,
                        ) -> DataFrame:
    """Benchmark decontamination: (id, eval_id, shared) for every corpus
    document sharing ≥ ``min_shared`` distinct token ``n``-grams with an
    eval/benchmark document — the standard n-gram-overlap contamination
    check a training pipeline runs before shipping a corpus.

    The eval side is small (benchmarks are KBs–MBs), so its exploded
    n-gram set BROADCASTS: the corpus side explodes its n-grams in place
    and the join is broadcast-hash — the corpus is never shuffled, cost is
    one scan however many documents there are. Shingles are distinct per
    document on both sides, so ``shared`` = |n-gram intersection|.

    ``broadcast_ngram_limit`` guards the broadcast precondition: the eval
    n-gram count is checked (one cheap count over the small side) and an
    oversized eval set raises with instructions rather than OOMing every
    executor mid-job. Pass ``None`` to skip the count and take the
    shuffle-join fallback (no broadcast hint; the corpus n-grams shuffle
    on ``g`` — correct at any eval size, one extra exchange)."""
    c = with_shingles(corpus, id_col, text_col, n).select(
        "id", F.explode(F.col("sh")).alias("g"))
    e = with_shingles(eval_df, eval_id_col, eval_text_col, n).select(
        F.col("id").alias("eval_id"), F.explode(F.col("sh")).alias("g"))
    if broadcast_ngram_limit is not None:
        n_eval_grams = e.count()
        if n_eval_grams > broadcast_ngram_limit:
            raise ValueError(
                f"eval side explodes to {n_eval_grams} n-grams, over the "
                f"broadcast limit ({broadcast_ngram_limit}); broadcasting "
                "it would OOM executors. Pass broadcast_ngram_limit=None "
                "to run the shuffle-join fallback (or raise the limit if "
                "your executors have the memory)")
        e = F.broadcast(e)
    return (
        c.join(e, "g")
        .groupBy("id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


# --- incremental dedup against a persistent signature store -------------------------

def banded_signatures(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_perm: int = 32,
                      bands: int = 16, n: int = 3) -> DataFrame:
    """(id, band, key) rows — the storable LSH index of a corpus batch."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}); "
            "a remainder would silently drop signature rows and change LSH "
            "sensitivity")
    rows = num_perm // bands
    sig = with_minhash_signature(df, id_col, text_col, num_perm, n)
    # Skew guard (100-TB bomb): a document with fewer than n tokens has an
    # EMPTY shingle set, so every signature element is the sentinel _MERSENNE
    # and all such documents share identical (band, key) in ALL bands — the
    # bucket-local pair join would then be O(m²) over the millions of
    # near-empty pages a web corpus keeps via the C8 fallback. Dropping them
    # from banding is semantics-free: an empty shingle set has Jaccard 0
    # with everything, so no such pair can ever pass verification. (Every
    # permuted hash is < _MERSENNE, so sig[0] == _MERSENNE iff empty.)
    sig = sig.filter(F.col("sig")[0] != F.lit(_MERSENNE))
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    F.array_join(
                        F.transform(F.slice(F.col("sig"), bidx * rows + 1, rows),
                                    lambda v: v.cast("string")),
                        "_",
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")


def incremental_candidates(new_sigs: DataFrame,
                           stored_sigs: DataFrame) -> DataFrame:
    """Near-duplicate candidates of a NEW batch against itself and against
    the existing corpus — without re-hashing the corpus. The stored side is
    only ever probed on (band, key), so at 10^12 documents each incremental
    batch costs O(batch) hashing plus one bucket-key join (bucket/partition
    the store by `key` to make the probe shuffle-free).

    Returns (id_a, id_b): old-vs-new pairs as (stored id, new id) in any id
    order; new-vs-new pairs once with id_a < id_b. Verify with `jaccard` on
    the candidate set.

    Defense-in-depth: banded_signatures no longer emits the all-sentinel
    (empty-shingle) rows, but a signature store WRITTEN BEFORE that guard
    may still hold them — and one legacy sentinel bucket against a new
    batch's sentinel rows re-creates the O(m²) blowup. Every permuted hash
    is < _MERSENNE, so a legitimate key can never start with the sentinel
    value; both sides are filtered on that prefix."""
    sentinel = str(_MERSENNE)
    new_sigs = new_sigs.filter(~F.col("key").startswith(sentinel))
    stored_sigs = stored_sigs.filter(~F.col("key").startswith(sentinel))
    new_a = new_sigs.select("band", "key", F.col("id").alias("id_a"))
    new_b = new_sigs.select("band", "key", F.col("id").alias("id_b"))
    new_vs_new = (
        new_a.join(new_b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    stored_a = stored_sigs.select("band", "key", F.col("id").alias("id_a"))
    old_vs_new = (
        stored_a.join(new_b, ["band", "key"])
        .filter(F.col("id_a") != F.col("id_b"))  # re-ingested same doc
        .select("id_a", "id_b")
    )
    return new_vs_new.unionByName(old_vs_new).distinct()


# --- winnowing fingerprints (partial-overlap / containment detection) ---------------

def _gram_hashes(text: Column, k: int) -> Column:
    """Hash of every k-char gram of ``text`` (pass a MATERIALIZED lowered
    column: the lambda body references ``text``, which a higher-order
    function re-evaluates per element — an inline lower(col) would re-copy
    the whole string once per gram position)."""
    n_grams = F.length(text) - k + 1
    return F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: md5_long(F.substr(text, i, F.lit(k))) % F.lit(_MERSENNE),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _winnow_from_grams(grams: Column, w: int) -> Column:
    """Min-hash of each w-window over a (materialized) gram-hash array."""
    n_win = F.greatest(F.size(grams) - w + 1, F.lit(1))
    return F.when(
        F.size(grams) >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda j: F.array_min(F.slice(grams, j, w)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def with_winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                             k: int = 16, w: int = 8,
                             out_col: str = "fps") -> DataFrame:
    """(id, fps): MOSS-style winnowing fingerprint set (Schleimer et al.
    2003) — hash every k-char gram of the lowered text, keep the min hash
    of each w-gram window, dedupe. Guarantees any shared substring of
    length ≥ k + w − 1 shares at least one fingerprint — catching
    CONTAINED duplication (quotes, boilerplate blocks, stitched pages) that
    whole-document shingle Jaccard misses. md5-prefix hashing in the 31-bit
    Mersenne space keeps the DuckDB oracle bit-identical.

    Staged exactly-once evaluation (r06): lowered text, gram hashes, and
    window minima each materialize once (the gram array is referenced 3×
    and the lowered text once per gram position; see _gram_hashes)."""
    lowered = df.select(F.col(id_col).alias("id"),
                        F.lower(F.col(text_col)).alias("_lt"))
    grams = lowered.select("id", _gram_hashes(F.col("_lt"), k).alias("_g"))
    return grams.select(
        "id", _winnow_from_grams(F.col("_g"), w).alias(out_col))


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 16, w: int = 8,
                         max_df: int = 10, min_shared: int = 2) -> DataFrame:
    """(id_a, id_b, shared) — document pairs sharing ≥ ``min_shared``
    winnowing fingerprints. Fingerprints occurring in more than ``max_df``
    documents are dropped first (boilerplate 16-grams would otherwise pair
    everything with everything — the standard df-cap): the join is then
    bucket-local on rare fingerprints, never all-pairs, and the df-cap
    bounds each bucket's pair fan-out to max_df² at any corpus size."""
    fps = with_winnow_fingerprints(df, id_col, text_col, k, w).select(
        "id", F.explode(F.col("fps")).alias("fp"))
    rare = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df))
    fps = fps.join(rare.select("fp"), "fp")
    a = fps.select("fp", F.col("id").alias("id_a"))
    b = fps.select("fp", F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


# --- duplicate-cluster canonicalization ---------------------------------------------

def duplicate_clusters(pairs: DataFrame, ids: DataFrame,
                       max_rounds: int = 16) -> DataFrame:
    """Connected components over near-duplicate pairs → (id, cluster_id)
    where cluster_id = min doc id of the component (the canonical document
    every duplicate collapses to — the step after candidate verification in
    a corpus-dedup pipeline).

    Min-label propagation WITH pointer doubling: each round every node takes
    (a) the min label among itself and its neighbors (hook), then (b) the
    label of its own label (shortcut — the classic pointer-jumping step), so
    label chains halve every round and a component of diameter d converges
    in O(log d) rounds, not d. Convergence is DETECTED, not assumed: each
    round counts changed labels (one cheap aggregate on the
    already-checkpointed frame) and exits at the fixpoint; if labels are
    still changing after ``max_rounds`` the function raises rather than
    silently returning split clusters — with doubling, 16 rounds covers any
    diameter up to ~2^15, far beyond real near-dup components (which are
    bucket-local and tiny). Rounds are driver-side loop iterations over a
    DataFrame whose lineage is truncated with localCheckpoint each round (at
    10^12 docs each round is two shuffles on id — the standard large-graph
    CC recipe).

    ``pairs``: (id_a, id_b) rows, any orientation. ``ids``: one ``id``
    column — the full population (singletons emerge with cluster_id = id).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"),
                         F.col("id_a").alias("dst")))
        .distinct()
        # materialize once: every propagation round re-reads the edge set,
        # and recomputing the upstream LSH candidate pipeline each round
        # would dominate the whole job
        .localCheckpoint(eager=True)
    )
    labels = ids.select(F.col("id"), F.col("id").alias("lab"))
    # max_rounds + 1: detection needs one zero-change round AFTER the
    # fixpoint, so a graph converging exactly at round max_rounds gets the
    # extra pass to prove it (raising there would be a spurious failure).
    for _ in range(max_rounds + 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("lab").alias("nlab"))
        )
        hooked = (
            labels.withColumnRenamed("lab", "_old")
            .join(neighbor_min, "id", "left")
            .select("id", "_old",
                    F.least(F.col("_old"),
                            F.coalesce(F.col("nlab"), F.col("_old")))
                    .alias("_h"))
        )
        # pointer doubling: lab ← min(lab, lab(lab)). Every label is itself
        # an id in the population (labels only ever take id values), so the
        # self-lookup join always resolves; the left join guards the
        # degenerate empty-population case.
        lab_of = hooked.select(F.col("id").alias("_pid"),
                               F.col("_h").alias("_plab"))
        new_labels = (
            hooked.join(lab_of, hooked._h == lab_of._pid, "left")
            .select(
                "id",
                F.least(F.col("_h"), F.coalesce(F.col("_plab"), F.col("_h")))
                .alias("lab"),
                (F.least(F.col("_h"),
                         F.coalesce(F.col("_plab"), F.col("_h")))
                 != F.col("_old")).cast("int").alias("_chg"),
            )
        )
        # truncate lineage: the loop otherwise builds a plan Catalyst
        # re-analyzes from scratch each round
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.agg(F.sum("_chg")).first()[0] or 0
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_rounds} rounds "
            "(labels still changing) — raise max_rounds; returning here "
            "would silently split clusters"
        )
    return labels.select("id", F.col("lab").alias("cluster_id"))


# --- SimHash -----------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """Per-document ``bits``-bit SimHash as a PURE PROJECTION — zero shuffle.

    SimHash is a per-document function, so no row ever needs to meet another
    row: tokens (multiset — occurrences weight the vote) are hashed in place
    with ``transform``, the per-bit sign votes accumulate in a
    ``bits``-element array via ``aggregate`` + ``zip_with``, and the
    fingerprint assembles from the vote signs — all inside one
    WholeStageCodegen projection. (The previous explode→groupBy formulation
    shuffled the corpus's entire token multiset for the same bit-identical
    result — at 100 TB that shuffle IS the job.) Documents with zero tokens
    emit no row, matching the explode semantics and the DuckDB oracle."""
    toks = df.select(F.col(id_col).alias("id"),
                     X.tokenize(F.col(text_col)).alias("_t"))
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    hashes = F.transform(F.col("_t"), md5_long)
    votes = F.aggregate(
        hashes,
        F.array(*[F.lit(0).cast("long") for _ in range(bits)]),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda v, m: v + F.when(h.bitwiseAND(m) != 0, F.lit(1))
                              .otherwise(F.lit(-1)),
        ),
    )
    fp = F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (toks.filter(F.size("_t") > 0)
            .select("id", fp.alias("simhash")))
