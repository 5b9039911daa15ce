"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the training-data-pipeline brief:

- ``cosine_topk``      — exact brute-force top-k (the baseline / verifier).
  All math in float64 with sequential summation so the DuckDB oracle
  (``list_dot_product(a::DOUBLE[], b::DOUBLE[])``) is bit-identical.
- ``lsh_bucket_topk``  — the scale path: random-hyperplane (sign-LSH)
  bucketing; candidates are generated bucket-locally (one shuffle on the
  bucket key) and only candidates are scored. Probing multiple hash tables
  trades recall for cost; exactness is NOT claimed — the verifier above is
  the ground truth (tests measure recall on fixtures).

Everything is native Spark SQL (zip_with/aggregate higher-order functions);
no UDF, so the scoring stays JVM-side and codegen-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot_doubled(a: Column, b: Column) -> Column:
    """Sequential-summation dot product over already-double arrays
    (bit-identical to DuckDB list_dot_product on DOUBLE[])."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _with_doubled(df: DataFrame, vec_col: str, d_col: str,
                  n_col: str) -> DataFrame:
    """Materialize the float64 copy and the norm of a vector column once
    per row (norms are per-vector, not per-pair)."""
    doubled = df.select("*", _to_double(F.col(vec_col)).alias(d_col))
    return doubled.select(
        "*", F.sqrt(_dot_doubled(F.col(d_col), F.col(d_col))).alias(n_col))


def _cosine_staged(da: Column, db: Column, na: Column, nb: Column) -> Column:
    """Cosine over pre-doubled arrays and pre-computed norms. Staged
    because ``d`` is referenced twice (zero-guard + divisor) and norms are
    per-VECTOR quantities: inlined, each pair would compute 5 dot products
    (r06)."""
    d = na * nb
    return F.when(d == 0, F.lit(0.0)).otherwise(_dot_doubled(da, db) / d)


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Exact top-k neighbors per query: broadcast the (small) query set
    against the vector table, rank per query. The big side is never
    shuffled — only the per-query top-k aggregation moves data."""
    # r06: doubled copies and norms are per-VECTOR quantities — staged once
    # per row on each side instead of recomputed per (query, vector) pair.
    v2 = _with_doubled(vectors.select(id_col, vec_col), vec_col,
                       "_vd", "_vn")
    q2 = _with_doubled(queries, qvec_col, "_qd", "_qn")
    joined = v2.join(F.broadcast(q2)).select(
        F.col(qid_col),
        F.col(id_col),
        _cosine_staged(F.col("_vd"), F.col("_qd"),
                       F.col("_vn"), F.col("_qn")).alias("sim"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, F.round("sim", 6).alias("sim"))
    )


# --- sign-LSH bucketing (scale path) -----------------------------------------

def _hyperplanes(dim: int, planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed LCG → [-1, 1))."""
    out, x = [], 0x243F6A8885A308D3
    for _ in range(planes):
        row = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((x / float(1 << 63)) * 2.0 - 1.0)
        out.append(row)
    return out


def lsh_signature(col: Column, dim: int, planes: int = 8) -> Column:
    """Sign-pattern bucket id: bit b = [v · hyperplane_b > 0]."""
    sig = F.lit(0)
    for b, plane in enumerate(_hyperplanes(dim, planes)):
        proj = F.aggregate(
            F.zip_with(
                _to_double(col),
                F.array(*[F.lit(p) for p in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sig


def lsh_bucket_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                    dim: int = 32, planes: int = 6, probe_bits: int = 1,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Approximate top-k: score only vectors sharing (or, with multiprobe,
    within Hamming distance ``probe_bits`` of) the query's sign-LSH bucket.
    At 10^12 vectors this is the difference between scanning the world and
    scanning a handful of buckets; recall is tested on fixtures against
    cosine_topk.

    ``dim`` MUST equal the embedding length: zip_with pads a shorter
    hyperplane with NULLs, which nulls the projection and silently collapses
    every vector into bucket 0 (brute force). Multiprobe explodes each query
    to every bucket within Hamming distance ``probe_bits`` of its own —
    sum(C(planes, i) for i ≤ probe_bits) probes per query (enumerated via
    bit-flip combinations, so probe_bits=2 really probes 2-bit flips) — a
    vector has exactly one bucket, so no probe can match a pair twice."""
    from itertools import combinations

    if not 0 <= probe_bits <= planes:
        raise ValueError(
            f"probe_bits must be in [0, planes={planes}], got {probe_bits}")
    v = vectors.withColumn("_bucket", lsh_signature(F.col(vec_col), dim, planes))
    q = queries.withColumn("_qbucket", lsh_signature(F.col(qvec_col), dim, planes))
    masks = [0] + [
        sum(1 << b for b in bits)
        for r in range(1, probe_bits + 1)
        for bits in combinations(range(planes), r)
    ]
    probes = F.array(
        *[F.col("_qbucket").bitwiseXOR(F.lit(m)) for m in masks])
    q = q.select("*", F.explode(probes).alias("_bucket")).drop("_qbucket")
    joined = v.join(F.broadcast(q), "_bucket")
    scored = _score_pairs(joined, qid_col, id_col, vec_col, qvec_col)
    w = Window.partitionBy(qid_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, F.round("sim", 6).alias("sim"))
    )


def _score_pairs(joined: DataFrame, qid_col: str, id_col: str,
                 vec_col: str, qvec_col: str) -> DataFrame:
    """(qid, id, sim) with staged exactly-once cosine (r06): doubled
    copies, then norms, then the similarity — inlined, each pair would
    pay 5 dot products and up to 5 float64 conversions."""
    doubled = joined.select(
        F.col(qid_col), F.col(id_col),
        _to_double(F.col(vec_col)).alias("_vd"),
        _to_double(F.col(qvec_col)).alias("_qd"),
    )
    normed = doubled.select(
        qid_col, id_col, "_vd", "_qd",
        F.sqrt(_dot_doubled(F.col("_vd"), F.col("_vd"))).alias("_vn"),
        F.sqrt(_dot_doubled(F.col("_qd"), F.col("_qd"))).alias("_qn"),
    )
    return normed.select(
        qid_col, id_col,
        _cosine_staged(F.col("_vd"), F.col("_qd"),
                       F.col("_vn"), F.col("_qn")).alias("sim"),
    )


# --- IVF-style coarse quantizer ANN --------------------------------------------

def _proj(col: Column, plane: list[float]) -> Column:
    """Sequential-summation dot product against a literal vector."""
    return F.aggregate(
        F.zip_with(_to_double(col),
                   F.array(*[F.lit(p) for p in plane]),
                   lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_cell(col: Column, dim: int, n_cells: int = 16,
             anchors: list[list[float]] | None = None) -> Column:
    """Coarse-quantizer cell id: argmax dot against ``n_cells`` anchor
    vectors (ties → lowest cell, matching DuckDB list_position semantics).
    Default anchors are deterministic pseudo-random (data-independent),
    which keeps the DuckDB oracle exact; pass ``anchors`` (e.g. from
    ``ivf_train``) for a Lloyd-refined quantizer — the query shape
    (assign → bucket join) is identical either way."""
    anchors = anchors if anchors is not None else _hyperplanes(dim, n_cells)
    dots = F.array(*[_proj(col, a) for a in anchors])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_probe_cells(col: Column, dim: int, n_cells: int = 16,
                    n_probe: int = 4,
                    anchors: list[list[float]] | None = None) -> Column:
    """Top-``n_probe`` cells by anchor dot (desc, ties → lower cell):
    sort struct<-dot, cell> ascending, slice, project the cell."""
    anchors = anchors if anchors is not None else _hyperplanes(dim, n_cells)
    entries = F.array(*[
        F.struct((-_proj(col, a)).alias("negdot"),
                 F.lit(c).cast("int").alias("cell"))
        for c, a in enumerate(anchors)
    ])
    ranked = F.slice(F.sort_array(entries), 1, n_probe)
    return F.transform(ranked, lambda s: s.getField("cell"))


def ivf_train(vectors: DataFrame, dim: int, n_cells: int = 16,
              iters: int = 3, vec_col: str = "embedding",
              id_col: str = "vec_id",
              sample_fraction: float | None = None) -> list[list[float]]:
    """Lloyd-refined IVF coarse quantizer (spherical k-means): start from
    the fixed data-independent anchors, then ``iters`` rounds of
    assign (the exact argmax-dot expression ivf_cell uses) →
    per-cell mean → renormalize to unit length (spherical update — the
    right centroid for cosine/IP search). Empty cells keep their previous
    anchor.

    Each round is ONE narrow aggregation over the (optionally
    hash-sampled) corpus: groupBy(cell).agg(dim column sums + count) —
    n_cells × dim doubles to the driver, the bounded "model" state (the
    one collect() a training step legitimately makes). At 10^12 vectors
    train on a hash_fraction sample — the assignment expression the
    queries use is identical, so serving needs no retraining."""
    import math

    from . import sampling as _smp

    v = (vectors.filter(F.col(vec_col).isNotNull())
         .select(F.col(id_col).alias("id"),
                 _to_double(F.col(vec_col)).alias("v"))
         # wrong-length vectors would ANSI-raise on v[i] inside the sum
         # aggregate; NULL-element vectors yield a NULL cell and are
         # skipped below — both are poison rows, neither may kill training
         .filter(F.size("v") == dim))
    if sample_fraction is not None:
        v = v.filter(
            _smp.hash_fraction(F.col("id"), "ivf_train") < sample_fraction)
    anchors = [list(a) for a in _hyperplanes(dim, n_cells)]
    for _ in range(iters):
        cell = ivf_cell(F.col("v"), dim, n_cells, anchors=anchors)
        agg = v.groupBy(cell.alias("cell")).agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col("v")[i]).alias(f"s{i}") for i in range(dim)],
        ).collect()
        new = [list(a) for a in anchors]
        for r in agg:
            # Poison-row guard: a vector with NULL elements or the wrong
            # length makes the argmax-cell expression (or a column sum)
            # NULL — skip those agg rows instead of crashing training on
            # one malformed row (same philosophy as the pipeline's
            # drop_reason='error' capture).
            if r["cell"] is None or not r["n"]:
                continue
            sums = [r[f"s{i}"] for i in range(dim)]
            if any(s is None for s in sums):
                continue
            mean = [s / r["n"] for s in sums]
            norm = math.sqrt(sum(x * x for x in mean)) or 1.0
            new[r["cell"]] = [x / norm for x in mean]
        anchors = new
    return anchors


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             dim: int = 64, n_cells: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "qid", qvec_col: str = "qvec",
             anchors: list[list[float]] | None = None) -> DataFrame:
    """IVF-flat ANN: every vector lives in exactly one coarse cell; a query
    scores only the vectors in its ``n_probe`` nearest cells. At 10^12
    vectors the index is one partitioned column (cell) — raise n_cells with
    corpus size so cells stay bounded, n_probe trades recall for cost.
    Candidates are scored with the exact sequential-sum cosine, so results
    are bit-replicable (the DuckDB oracle replays anchors, assignment,
    probing, and scoring). Pass ``anchors`` from ``ivf_train`` for a
    Lloyd-refined cell layout (better-balanced cells on clustered data)."""
    v = vectors.withColumn(
        "_cell", ivf_cell(F.col(vec_col), dim, n_cells, anchors=anchors))
    q = (queries
         .withColumn("_probes",
                     ivf_probe_cells(F.col(qvec_col), dim, n_cells, n_probe,
                                     anchors=anchors))
         .select("*", F.explode("_probes").alias("_cell"))
         .drop("_probes"))
    joined = v.join(F.broadcast(q), "_cell")
    scored = _score_pairs(joined, qid_col, id_col, vec_col, qvec_col)
    w = Window.partitionBy(qid_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, F.round("sim", 6).alias("sim"))
    )


# --- banded sign-LSH near-duplicate pairs (scale path) -------------------------

def lsh_table_buckets(vectors: DataFrame, dim: int, tables: int = 16,
                      planes: int = 4, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """(id, table, bucket) rows — a banded sign-LSH index (the embedding
    analog of dedup.banded_signatures). Table t uses hyperplanes
    [t·planes, (t+1)·planes) of one deterministic pool, so any (tables,
    planes) split of the same pool is reproducible in SQL."""
    pool = _hyperplanes(dim, tables * planes)
    # r06: the float64 copy of the vector is materialized ONCE per row —
    # the previous inline _to_double ran once per (table, plane), i.e.
    # tables×planes (= 64 at the defaults) array conversions per vector.
    doubled = vectors.select(F.col(id_col).alias("id"),
                             _to_double(F.col(vec_col)).alias("_vd"))
    entries = []
    for t in range(tables):
        bucket = F.lit(0)
        for b, plane in enumerate(pool[t * planes:(t + 1) * planes]):
            proj = F.aggregate(
                F.zip_with(
                    F.col("_vd"),
                    F.array(*[F.lit(p) for p in plane]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bucket = bucket + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
        entries.append(
            F.struct(F.lit(t).alias("table"), bucket.alias("bucket")))
    return doubled.select(
        "id", F.explode(F.array(*entries)).alias("tb")
    ).select("id", "tb.table", "tb.bucket")


def lsh_near_dup_pairs(vectors: DataFrame, threshold: float = 0.45,
                       dim: int = 64, tables: int = 16, planes: int = 4,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH candidate
    generation + exact-cosine verification — the scale path that replaces
    the all-pairs non-equi join (which survives only as the small-scale
    DuckDB oracle). Candidates are pairs sharing any table's bucket: one
    shuffle on (table, bucket), never all-pairs. At fixture scale the
    16×4 config has measured recall 1.0 vs the exact verifier (asserted by
    tests); at 10^12 rows raise ``planes`` so buckets stay bounded —
    candidate cost is Σ_buckets |bucket|², the knob is planes-per-table."""
    b = lsh_table_buckets(vectors, dim, tables, planes, id_col, vec_col)
    left = b.select("table", "bucket", F.col("id").alias("id_a"))
    right = b.select("table", "bucket", F.col("id").alias("id_b"))
    cands = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    v = vectors.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
    joined = (
        cands
        .join(v.withColumnsRenamed({"_vid": "id_a", "_v": "_va"}), "id_a")
        .join(v.withColumnsRenamed({"_vid": "id_b", "_v": "_vb"}), "id_b")
    )
    # r06: stage doubled copies and norms per candidate pair (exactly-once;
    # inlined, each side would be re-doubled up to 5× per pair).
    # Staged AFTER the join so the shuffled rows still carry float32
    # arrays, not the 2×-sized float64 copies.
    doubled = joined.select(
        "id_a", "id_b",
        _to_double(F.col("_va")).alias("_vad"),
        _to_double(F.col("_vb")).alias("_vbd"),
    )
    normed = doubled.select(
        "id_a", "id_b", "_vad", "_vbd",
        F.sqrt(_dot_doubled(F.col("_vad"), F.col("_vad"))).alias("_na"),
        F.sqrt(_dot_doubled(F.col("_vbd"), F.col("_vbd"))).alias("_nb"),
    )
    return (
        normed.select(
            "id_a", "id_b",
            F.round(_cosine_staged(F.col("_vad"), F.col("_vbd"),
                                   F.col("_na"), F.col("_nb")), 6)
            .alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
