"""Embedding similarity search: brute-force cosine top-k + SRP-LSH ANN.

Extension surface (SURVEY §7 step 6). Two tiers:

- `cosine_topk` — exact brute-force: broadcast the query set, nested-
  loop score every (query, corpus) pair, per-query top-k via window
  rank. Exact baseline; cost O(|Q|·|corpus|·dim) — fine when |Q| is
  small, and the corpus scan is embarrassingly parallel (no shuffle
  until the tiny top-k aggregation).
- `srp_ann_topk` — signed-random-projection LSH: bucket every vector by
  the sign pattern of `n_planes` fixed hyperplanes, score only within
  the query's bucket (+ optional hamming-1 multiprobe). The 100 TB
  path: candidate scoring cost drops by ~2^n_planes; recall is tested
  against the brute-force baseline in tests/.

Determinism: cosine is computed in double with a left-to-right fold
(identical in the DuckDB oracle's list_sum), then rounded to 6 dp
before ranking so rank ties cannot flip on last-bit float drift; ties
break on vec_id. SRP hyperplanes are derived from md5 — no RNG state,
same planes every run.

Every vector-search tier shares one per-query top-k cut
(`_ranked_topk`), one ANN entry filter (`_ann_entry`), one int8 cosine
scorer (`_int8_cosine`) and one modular sample (`_modular_sample`);
their oracle twins are single builders in queries.py.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.operators.skew import spread_input


ROUND_DP = 6


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential double fold (portable across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """THE cosine expression of every float and int8 scorer: ``_dot``
    over the norm product ``na``·``nb``, NULL on a zero norm, rounded
    to 6 dp. Oracle twins: queries._cos_sql, queries._int8_cos_sql."""
    return F.round(F.when((na > 0) & (nb > 0), _dot(a, b) / (na * nb)), ROUND_DP)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (null-safe on zero
    norms), rounded to 6 dp."""
    return _cosine(a, b, _norm(a), _norm(b))


def as_double_array(col: Column) -> Column:
    """array<float> → array<double> (widening is exact)."""
    return col.cast("array<double>")


def _ranked_topk(
    scored: DataFrame, score: str, k: int, id_col: str, query_id_col: str,
    *, ascending: bool = False,
) -> DataFrame:
    """The per-query top-k cut every vector-search tier ends in: rank
    the (query, id, ``score``) rows by ``score`` — DESC NULLS LAST for a
    similarity, ASC for a distance — with the id tie-break and keep
    rank <= k. Oracle twin: queries._rank_cut_sql."""
    order = F.col(score).asc() if ascending else F.col(score).desc_nulls_last()
    w = Window.partitionBy(query_id_col).orderBy(order, F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, score, "rank")
    )


def _ann_entry(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The ANN tiers' ONE entry filter, applied to the index and to the
    queries (each with its own id column): NULL vectors AND NULL ids
    out. An ANN index has no cell for an absent vector (adversarial-
    sweep rule); an id-less vector can't be reported, and the oracle's
    GROUP BY vec_id would collapse NULL-id candidates that Spark emits
    per row (ADVICE r9). The exact tiers fence NULL ids only and rank
    NULL vectors last. Twin filters: the `c` CTE of
    queries._ivf_assign_cte and the `nz` CTE of queries._PQ_ENTRY_CTES."""
    return df.where(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())


def _empty_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, query_id_col: str
) -> DataFrame:
    """An empty cosine top-k with the output schema — the answer of an
    ANN tier whose corpus has nothing to index (empty-partition day)."""
    id_t = dict(corpus.dtypes)[id_col]
    qid_t = dict(queries.dtypes)[query_id_col]
    return corpus.sparkSession.createDataFrame(
        [], f"{query_id_col} {qid_t}, {id_col} {id_t}, cosine_sim double, rank int"
    )


def _modular_sample(
    frame: DataFrame, n: int, k: int, *, id_col: str, vec_col: str,
    middle: bool = False,
) -> list[list[float]]:
    """The ONE deterministic sample of every learned-free quantizer:
    among the ids at residue 0 — or ``middle``, step // 2 — of step =
    n // k (``n`` is the caller's count of ``frame``), the first k by
    id, as double lists. Oracle twin: queries._modular_sample_sql."""
    step = max(n // k, 1)
    rows = (
        frame.where(F.col(id_col) % step == (step // 2 if middle else 0))
        .orderBy(id_col)
        .limit(k)
        .select(as_double_array(F.col(vec_col)).alias("v"))
        .collect()
    )
    return [list(r.v) for r in rows]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for every query vector.

    Output: (query_id, vec_id, cosine_sim, rank). Self-matches are kept
    (rank 1 when the query is drawn from the corpus). The broadcast
    nested-loop join never shuffles the corpus; the window top-k
    shuffles only (query_id, k) rows after per-partition pre-ranking.

    NULL ids are excluded on both sides (round 10, family-wide ANN id
    rule): an id-less vector can't be reported as a neighbor, and the
    rank tie-break's null ordering differs between engines. Twin
    fences live in every embed_* oracle.
    """
    corpus = corpus.where(F.col(id_col).isNotNull())
    queries = queries.where(F.col(query_id_col).isNotNull())
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("__qvec")
    )
    # |Q| cosine folds per corpus row behind a broadcast join keep the
    # SCAN partitioning — spread an under-split scan (no-op at
    # production split counts; row-local arithmetic, hash-safe)
    c = spread_input(
        corpus.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("__cvec"))
    )
    scored = c.join(F.broadcast(q)).select(
        query_id_col,
        id_col,
        cosine(F.col("__qvec"), F.col("__cvec")).alias("cosine_sim"),
    )
    return _ranked_topk(scored, "cosine_sim", k, id_col, query_id_col)


def cosine_dup_pairs(
    df: DataFrame,
    *,
    threshold: float,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with blocking.

    All-pairs cosine is O(n²·dim) — never viable raw at 100 TB. Blocking
    restricts comparisons to pairs sharing `block_col` (a label, an SRP
    bucket, a cluster id …): the join is an equi-join on the block key
    and cost scales with Σ block² instead of n². Output
    (id_a, id_b, cosine_sim ≥ threshold), id_a < id_b; cosine rounded to
    6 dp before thresholding so the cut is portable across engines.
    """
    vec = as_double_array(F.col(vec_col))
    # Norms computed ONCE per vector (a per-pair cosine would fold each
    # vector 3× — dot + both norms — per comparison).
    base = df.select(
        F.col(id_col), F.col(block_col).alias("__blk"),
        vec.alias("__vec"), _norm(vec).alias("__n"),
    )
    a = base.toDF("id_a", "__blk", "vec_a", "n_a")
    b = base.toDF("id_b", "__blk", "vec_b", "n_b")
    sim = _cosine(F.col("vec_a"), F.col("vec_b"), F.col("n_a"), F.col("n_b"))
    return (
        a.join(b, "__blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )


# --- IVF-flat (ANN scale path, cluster-routed) ------------------------------

def _sql_dlit(v: float) -> str:
    """A double literal in SQL text. repr() is the shortest decimal that
    round-trips to the same IEEE double in both Python and Spark's
    parser, so values are bit-identical to the former F.lit path."""
    return repr(float(v)) + "D"


def _sql_dot(vec_sql: str, arr_sql: str) -> str:
    """`_dot` as SQL text — the SAME sequential left fold, so sums are
    bit-identical to the Column form (and to every oracle twin)."""
    return (
        f"aggregate(zip_with({vec_sql}, {arr_sql}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def centroid_dist_array(vec_sql: str, centroids: list[list[float]]) -> Column:
    """array< ‖x−c‖² for each centroid >, expanded as ‖x‖²+‖c‖²−2·x·c,
    built as ONE SQL expression string. The former Column builder
    created k×dim F.lit JVM handles plus 2 Python-lambda HOF bridges
    per centroid — at 16×64 that was ~2 s of pure DRIVER time per call
    (measured round 7, same finding as srp_bucket); the generated
    expression tree and its evaluation order are identical, only the
    construction path changed. ‖x‖² re-evaluates per element exactly as
    the reused Column object did (Catalyst inlines at every reference —
    CLAUDE.md CSE rule), so runtime cost is unchanged too."""
    xsq = _sql_dot(vec_sql, vec_sql)
    elems = []
    for c in centroids:
        csq = sum(v * v for v in c)
        arr = "array(" + ",".join(_sql_dlit(v) for v in c) + ")"
        elems.append(f"{xsq} + {_sql_dlit(csq)} - 2.0D * {_sql_dot(vec_sql, arr)}")
    return F.expr("array(" + ",".join(elems) + ")")


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "__cvec",
    out_col: str = "__cluster",
) -> DataFrame:
    """Assign each vector to its nearest centroid (argmin of squared L2).

    Centroids arrive as plain Python lists (small — they broadcast as
    literals inside the expression), so assignment is a map-only
    projection: k dot-products per row, no shuffle, trivially cacheable.
    Distances expand as ‖x−c‖² = ‖x‖² + ‖c‖² − 2·x·c: ‖x‖² is one fold
    per ROW, ‖c‖² a Python constant — so each centroid costs exactly one
    fold instead of a zip-subtract-square pass. Ties resolve to the
    lowest centroid index (array_position finds the first minimum) —
    deterministic.
    """
    dists = centroid_dist_array(vec_col, centroids)
    cluster = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return corpus.withColumn(out_col, cluster)


def sample_centroids(
    corpus: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse centroids: every (n/k)-th vector by id
    (`_modular_sample` at residue 0).

    A stand-in for k-means that needs no RNG state and no iterations —
    good enough as an IVF coarse quantizer on roughly isotropic data.
    (Swap in Lloyd iterations per-DataFrame if the corpus is clustered;
    the search path below is unchanged.)

    NULL vectors are excluded BEFORE sampling (a NULL can't be a
    centroid, and the modular sample positions must be computed over
    the indexable corpus so the SQL oracle reproduces them —
    adversarial-sweep rule).
    """
    corpus = corpus.where(F.col(vec_col).isNotNull())
    return _modular_sample(corpus, corpus.count(), k, id_col=id_col, vec_col=vec_col)


def probed_cells_expr(
    centroids: list[list[float]], nprobe: int, vec_col: str = "__qvec"
) -> Column:
    """The `nprobe` nearest centroid indices of a query vector, as an
    array column (small per-row cross product over the centroid
    literals). Shared by ivf_ann_topk and ivf_ann_contract_report so
    the routing the report verifies is the routing the operator ran."""
    dists = centroid_dist_array(vec_col, centroids)
    return F.slice(
        F.transform(
            F.array_sort(
                F.zip_with(
                    dists,
                    F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                    lambda d, i: F.struct(d.alias("d"), i.alias("i")),
                )
            ),
            lambda s: s["i"],
        ),
        1,
        nprobe,
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: route each query to its `nprobe`
    nearest centroids, score only vectors assigned to those clusters.
    ``centroids`` overrides the sampled coarse quantizer (e.g. with
    KMeans-fitted cells from operators.ml.kmeans_centroids).

    The scored fraction is ~nprobe/n_clusters of the corpus. Unlike SRP
    buckets, IVF cells adapt to the data's density through the centroid
    sample, and nprobe gives a smooth recall/cost dial. The cluster
    assignment is a map-only projection (in production: computed once,
    stored as a partition column → partition pruning does the routing).

    NULL vectors are excluded from both the indexed corpus and the
    query set — an ANN index has no cell for an absent vector
    (adversarial-sweep rule) — and NULL ids with them (the round-10
    family-wide id rule; note the exclusion happens BEFORE
    sample_centroids' count, so the oracle's modular sample must run
    over the same id-fenced corpus).
    """
    corpus = _ann_entry(corpus, id_col, vec_col)
    queries = _ann_entry(queries, query_id_col, vec_col)
    cents = (
        centroids
        if centroids is not None
        else sample_centroids(corpus, n_clusters, id_col=id_col, vec_col=vec_col)
    )
    if not cents:
        # empty corpus → no cells → empty result with the output schema
        # (F.array() of zero centroids is untyped and breaks the
        # assignment expression)
        return _empty_topk(corpus, queries, id_col, query_id_col)
    # k distance folds per row is the compute-heavy map stage; spread an
    # under-split scan before it (no-op at production split counts).
    # This is AFTER any centroid fit — the fit consumes the raw corpus,
    # so seeded-determinism of learned centroids is untouched.
    c = ivf_assign(
        spread_input(
            corpus.select(
                F.col(id_col), as_double_array(F.col(vec_col)).alias("__cvec")
            )
        ),
        cents,
        vec_col="__cvec",
    )
    return ivf_probe(
        c, queries, cents,
        k=k, nprobe=nprobe, id_col=id_col, query_id_col=query_id_col,
        vec_col=vec_col,
    )


def ivf_probe(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe half of ivf_ann_topk against an ALREADY-ASSIGNED corpus
    (columns ``__cluster``, id, ``__cvec``) — the serving path. Split
    out in round 11 (VERDICT r10 #3) so a streaming retriever can
    compute + persist the cell assignment ONCE with the index and pay
    only |batch| x nprobe cell scans per micro-batch, instead of
    re-deriving (and re-broadcasting the centroid-literal expression
    over) the whole corpus every batch. At 100 TB ``__cluster`` is the
    index's partition column and this join is partition pruning.

    NULL queries/ids are fenced here (not only in ivf_ann_topk) so a
    persisted-index caller gets the same adversarial-sweep semantics."""
    queries = _ann_entry(queries, query_id_col, vec_col)
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("__qvec")
    )
    probed = q.withColumn(
        "__cluster", F.explode(probed_cells_expr(centroids, nprobe))
    )
    scored = assigned.join(F.broadcast(probed), "__cluster").select(
        query_id_col,
        id_col,
        cosine(F.col("__qvec"), F.col("__cvec")).alias("cosine_sim"),
    )
    return _ranked_topk(scored, "cosine_sim", k, id_col, query_id_col)


# --- SRP-LSH (ANN scale path) ----------------------------------------------

def srp_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 bits (no RNG state).

    Public construction: component sign = parity of a hash of
    (plane, dim) — reproducible everywhere, uniform enough for SRP.
    """
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"srp:{p}:{d}".encode()).digest()
            row.append(1.0 if h[0] & 1 else -1.0)
        planes.append(row)
    return planes


def srp_bucket(vec_sql: str, planes: list[list[float]]) -> Column:
    """LSH bucket id = integer of sign bits of ⟨vec, plane_p⟩.

    ``vec_sql`` is the vector column as SQL text (a column name). The
    whole bucket is built as ONE SQL expression string — a single
    py4j/parse round trip. The former Column-builder created 64 F.lit
    JVM handles per plane plus two Python-lambda HOF bridges per dot:
    ~1.4 s of pure DRIVER time at 6 planes × 64 dims (measured round 7;
    execution time unchanged, this was query-construction cost). Each
    dot keeps `_dot`'s exact sequential fold order, so bucket values —
    and the oracle SQL twin generated from the same constants — stay
    bit-identical."""
    terms = []
    for p, plane in enumerate(planes):
        dot = _sql_dot(vec_sql, "array(" + ",".join(f"{v:.1f}D" for v in plane) + ")")
        terms.append(f"(CASE WHEN {dot} >= 0.0D THEN {1 << p}L ELSE 0L END)")
    return F.expr(" + ".join(terms)).cast("long")


def srp_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_planes: int = 6,
    multiprobe: bool = True,
    probe_hamming: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's SRP
    bucket. Output shape = cosine_topk (rank within candidates).

    With 2^n_planes buckets the scored fraction is ~2^-n_planes of the
    corpus per query; recall for near neighbors is driven by SRP
    collision probability (1 − angle/π per plane). ``probe_hamming``
    additionally probes every bucket within that hamming distance of
    the home bucket (0 = home only, 1 = +n_planes buckets, 2 =
    +C(n_planes,2) more) — the recall/cost dial. ``multiprobe`` is the
    legacy boolean spelling of probe_hamming=1 and is ignored when
    probe_hamming is given.

    Measured operating points (testdata embeddings, 64-dim, k=10):
    on ISOTROPIC random vectors recall tracks the scored fraction —
    planes=4: hamming 0 → 0.16 recall @ 7% scored, 1 → 0.54 @ 33%,
    2 → 0.88 @ 67% (curse of dimensionality: no ANN beats brute force
    on structure-free data). On CLUSTERED embeddings (the production
    case) the same construction reaches ≥0.9 recall at <15% scored —
    asserted by tests/test_similarity_multimodal.py's clustered
    fixture. Pick n_planes so 2^n_planes ≈ a few × (corpus / desired
    candidates) and raise probe_hamming until measured recall on YOUR
    data hits target.

    The corpus bucket assignment is a map-only projection (cacheable,
    incrementally maintainable); the join is an equi-join on bucket —
    shuffle-free when the corpus side is pre-partitioned by bucket.
    """
    if probe_hamming is None:
        probe_hamming = 1 if multiprobe else 0
    if not 0 <= probe_hamming <= 2:
        raise ValueError(f"probe_hamming must be 0..2, got {probe_hamming}")
    # NULL vectors and NULL ids excluded (the family-wide ANN rules);
    # an EMPTY corpus yields an empty result instead of dying on the
    # dim probe — the empty-partition-day case from the empty sweep.
    corpus = _ann_entry(corpus, id_col, vec_col)
    queries = _ann_entry(queries, query_id_col, vec_col)
    probe_row = corpus.select(vec_col).first()
    if probe_row is None:
        return _empty_topk(corpus, queries, id_col, query_id_col)
    dim = len(probe_row[0])
    planes = srp_planes(dim, n_planes)
    c = corpus.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("__cvec")
    ).withColumn("__bucket", srp_bucket("__cvec", planes))
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("__qvec")
    ).withColumn("__bucket", srp_bucket("__qvec", planes))
    if probe_hamming >= 1:
        # Probe the home bucket plus every bucket within the hamming
        # radius (bit flips of the sign signature).
        masks = [1 << p for p in range(n_planes)]
        if probe_hamming >= 2:
            masks += [
                (1 << a) | (1 << b)
                for a in range(n_planes)
                for b in range(a + 1, n_planes)
            ]
        probes = F.array(
            F.col("__bucket"),
            *[F.col("__bucket").bitwiseXOR(F.lit(m).cast("long")) for m in masks],
        )
        q = q.select(
            query_id_col, "__qvec", F.explode(probes).alias("__bucket")
        )
    scored = c.join(F.broadcast(q), "__bucket").select(
        query_id_col,
        id_col,
        cosine(F.col("__qvec"), F.col("__cvec")).alias("cosine_sim"),
    )
    return _ranked_topk(scored, "cosine_sim", k, id_col, query_id_col)


# --- int8 quantization (memory-scale path for exact search) -----------------

def quantize_int8(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization: q_i = round(127·x_i/max|x|),
    materialized as array<double> of integer values so downstream dot
    products stay EXACT (integer-valued doubles sum associatively —
    64-dim int8 dots max out near 10^6, far under 2^53). A zero vector
    quantizes to zeros. 4× memory cut vs float32 with deterministic,
    engine-portable arithmetic (no RNG, no data-dependent codebook)."""
    v = as_double_array(vec)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    return F.when(
        maxabs > 0,
        F.transform(v, lambda x: F.round(x * F.lit(127.0) / maxabs)),
    ).otherwise(F.transform(v, lambda x: F.lit(0.0)))


def _int8_cosine(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    query_id_col: str,
) -> tuple[DataFrame, DataFrame, Column]:
    """The int8-quantized cosine of every exact int8 scorer: the corpus
    side (id, __cvec, __cn), the query side (query_id, __qvec, __qn) and
    the 6-dp ``q_cosine_sim`` column over a join of the two. Norms are
    materialized per side BEFORE the join — Catalyst does not CSE, so an
    inline norm would re-fold per (query, corpus) pair. Oracle twin:
    queries._int8_cos_sql."""
    qz = quantize_int8(F.col(vec_col))
    c = corpus.select(F.col(id_col), qz.alias("__cvec")).withColumn(
        "__cn", _norm(F.col("__cvec"))
    )
    q = queries.select(F.col(query_id_col), qz.alias("__qvec")).withColumn(
        "__qn", _norm(F.col("__qvec"))
    )
    sim = _cosine(F.col("__qvec"), F.col("__cvec"), F.col("__qn"), F.col("__cn"))
    return c, q, sim.alias("q_cosine_sim")


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine over int8-QUANTIZED vectors: the memory-
    bound variant of cosine_topk (quantize once, broadcast 4×-smaller
    queries, integer-exact dots). Cosine is rounded to 6 dp before
    ranking and ties break on the corpus id, so the ranking is engine-
    identical — the property that lets this run under the hash gate
    rather than a recall gate: quantization is deterministic math, not
    approximation-by-sampling."""
    corpus = corpus.where(F.col(id_col).isNotNull())
    queries = queries.where(F.col(query_id_col).isNotNull())
    c, q, sim = _int8_cosine(corpus, queries, id_col, vec_col, query_id_col)
    scored = c.join(F.broadcast(q)).select(query_id_col, id_col, sim)
    return _ranked_topk(scored, "q_cosine_sim", k, id_col, query_id_col)


def _pq_stacker(dim: int):
    """Build the uniform-dim `stack(series) -> float64 matrix` closure
    the PQ encode/ADC Arrow functions share. Mixed embedding dims in
    one Arrow batch make np.asarray raise a shapeless ragged-array
    error (ADVICE r9); the probe fails loudly with the contract instead
    — PQ (and its oracle's slice arithmetic) is uniform-dim per corpus.
    A factory, not a module-level function: the returned closure is
    pickled by value (CLAUDE.md UDF rule)."""
    import numpy as np

    def stack(series):
        rows = series.tolist()
        bad = sorted({len(r) for r in rows if len(r) != dim})
        if bad:
            raise ValueError(
                f"PQ family requires uniform embedding dim {dim}; "
                f"batch contains dims {bad}"
            )
        return np.asarray(rows, dtype=np.float64)

    return stack


def _adc_topk(
    pairs: DataFrame, m: int, k: int, id_col: str, query_id_col: str
) -> DataFrame:
    """Per-query top-k by ADC distance over (query, candidate) rows
    carrying `__code_j` and `__adc_j` — the ranking both PQ tiers end
    in (oracle twin: queries._adc_rank_sql). pq_dist = Σ_j
    adc_j[code_j], m element_at lookups of exact integer-valued doubles
    (so the add order is free), ranked ASC with the id tie-break."""
    dist = None
    for j in range(m):
        term = F.element_at(F.col(f"__adc_{j}"), F.col(f"__code_{j}") + 1)
        dist = term if dist is None else dist + term
    scored = pairs.select(query_id_col, id_col, dist.alias("pq_dist"))
    return _ranked_topk(scored, "pq_dist", k, id_col, query_id_col, ascending=True)


def pq_codebooks(
    qcorpus: DataFrame,
    m: int,
    n_codes: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "__cvec",
) -> tuple[list[list[list[float]]], int]:
    """Sampled product-quantization codebooks: the SAME deterministic
    every-(n//k)-th-by-id rule as `sample_centroids` (one sampling
    discipline across every learned-free quantizer, so oracles can
    recompute it), then each sampled vector is split into `m`
    subvectors of ceil(d/m) dims (the last may be shorter). Returns
    (codebooks[j][i] = i-th entry of subspace j, sub_dim); empty corpus
    -> ([], 0)."""
    cents = sample_centroids(qcorpus, n_codes, id_col=id_col, vec_col=vec_col)
    if not cents:
        return [], 0
    d = len(cents[0])
    sub = (d + m - 1) // m
    books = []
    for j in range(m):
        books.append([c[j * sub : (j + 1) * sub] for c in cents])
    return books, sub


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011) — the
    memory-scale tier below int8: each corpus vector is ENCODED as m
    subspace code ids (here m=4 bytes for a 64-dim vector, a 64x cut
    vs float32), and query-to-vector distance is the classic ADC
    (asymmetric distance computation): the query precomputes one
    m x n_codes table of exact subspace distances, and each corpus
    vector costs m table LOOKUPS — no vector math per pair, which is
    what makes PQ the standard billion-scale ANN memory layout.

    Engine-portable by construction, so this is a FULL hash gate, not
    a recall gate: vectors are int8-quantized first (quantize_int8 —
    integer-valued doubles), codebooks are the deterministic
    sample_centroids rule split into subspaces (pq_codebooks, no RNG,
    no iterations), and every distance is a sum of squares of
    integers (exact int64-range doubles, associativity-free), so
    rankings tie-break on vec_id identically in Spark and the oracle.

    Plan shape: codebooks are bounded driver values (m*n_codes*sub
    doubles); encode and the per-query ADC tables run as map-only
    vectorized Arrow jobs (the staged-JVM expression form cost seconds
    of driver analysis per call and risked the codegen-overflow
    interpreted fallback — measured, SCALING.md round 9b); the
    per-pair expression in the broadcast-NL join is m element_at
    lookups + an m-term add. One shuffle total (the per-query top-k
    window). NULL vectors are excluded from index and queries (ANN
    rule). ivfpq_ann_topk is the cell-routed composition for when a
    full ADC scan is too much; pq_rerank_topk is the exact-rerank
    recall-recovery stage.

    m is the code-size/recall dial (clustered fixture, recall@10 vs
    exact, n_codes=16): m=2 -> 0.40, m=4 -> 0.50, m=8 -> 0.62,
    m=16 -> 0.84; any m + a 50-deep exact rerank -> 0.90 (see
    ivfpq_ann_topk's docstring for the full round-10 curve).
    """
    spark = corpus.sparkSession
    out_schema = (
        f"{query_id_col} long, {id_col} long, pq_dist double, rank int"
    )
    corpus = _ann_entry(corpus, id_col, vec_col)
    queries = _ann_entry(queries, query_id_col, vec_col)
    qz = quantize_int8(F.col(vec_col))
    c = corpus.select(F.col(id_col), qz.alias("__cvec"))
    books, sub = pq_codebooks(c, m, n_codes, id_col=id_col, vec_col="__cvec")
    if not books:
        return spark.createDataFrame([], out_schema)

    # encode and ADC as vectorized Arrow batch jobs — the staged-JVM
    # expression form cost seconds of driver analysis per call at 64
    # dims and risks the codegen-overflow fallback (measured on both PQ
    # operators, SCALING.md round 9b); the numpy arithmetic is
    # identical and exact (integer-valued float64s, np.argmin
    # first-min = the lowest-index tie-break the oracle mirrors).
    import numpy as np

    books_np = [np.asarray(b) for b in books]
    mm, ssub = m, sub
    stack = _pq_stacker(sum(len(b[0]) for b in books))

    def encode_batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            v = stack(pdf["__cvec"])
            out = {id_col: pdf[id_col]}
            for j in range(mm):
                s = v[:, j * ssub : (j + 1) * ssub]
                dj = ((s[:, None, :] - books_np[j][None]) ** 2).sum(-1)
                out[f"__code_{j}"] = dj.argmin(1).astype("int32")
            yield pd.DataFrame(out)

    def adc_batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            v = stack(pdf["__qvec"])
            out = {query_id_col: pdf[query_id_col]}
            for j in range(mm):
                s = v[:, j * ssub : (j + 1) * ssub]
                dj = ((s[:, None, :] - books_np[j][None]) ** 2).sum(-1)
                out[f"__adc_{j}"] = [row.tolist() for row in dj]
            yield pd.DataFrame(out)

    code_cols = ", ".join(f"__code_{j} int" for j in range(m))
    adc_cols = ", ".join(f"__adc_{j} array<double>" for j in range(m))
    enc = c.mapInPandas(encode_batches, schema=f"{id_col} long, {code_cols}")
    q = queries.select(F.col(query_id_col), qz.alias("__qvec")).mapInPandas(
        adc_batches, schema=f"{query_id_col} long, {adc_cols}"
    )
    return _adc_topk(enc.join(F.broadcast(q)), m, k, id_col, query_id_col)


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    shortlist: int = 50,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval — the standard production pattern that
    recovers the recall a coarse PQ gives up: stage 1 shortlists
    `shortlist` candidates per query by ADC (pq_ann_topk, m lookups
    per pair over the whole corpus), stage 2 re-scores ONLY the
    shortlist with the exact int8-quantized cosine and returns the
    true top-k of that set. Measured on the clustered fixture: m=4 PQ
    alone 0.5 recall@10 -> 1.0 with a 50-deep rerank (a 10% corpus
    touch).

    Stays a FULL hash gate: both stages are deterministic
    integer-exact rankings with id tie-breaks (the rerank cosine is
    `_int8_cosine`, quantized_cosine_topk's scorer), and
    the oracle recomputes shortlist and rerank in SQL. Scale shape:
    stage 1 is the PQ scan (codes only, no vector math per pair);
    stage 2 joins the shortlist ids back to the corpus — at most
    queries x shortlist rows of real vectors ever leave the scan."""
    return _exact_rerank_stage(
        corpus, queries,
        lambda c, q: pq_ann_topk(
            c, q, k=shortlist, m=m, n_codes=n_codes,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        ),
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def _exact_rerank_stage(
    corpus: DataFrame,
    queries: DataFrame,
    ann: Callable[[DataFrame, DataFrame], DataFrame],
    *,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Every PQ rerank composition (ONE implementation so
    pq_rerank_topk and ivfpq_rerank_topk cannot drift): apply the
    `_ann_entry` filter, shortlist with ``ann`` (the stage-1 ADC top-k
    over the filtered frames), join the shortlist ids back to the
    corpus, score with `_int8_cosine` (6-dp rounded, zero-norm ->
    null), keep the true top-k through `_ranked_topk`."""
    corpus = _ann_entry(corpus, id_col, vec_col)
    queries = _ann_entry(queries, query_id_col, vec_col)
    short = ann(corpus, queries).select(query_id_col, id_col)
    cq, qq, sim = _int8_cosine(corpus, queries, id_col, vec_col, query_id_col)
    scored = (
        short.join(cq, id_col)
        .join(F.broadcast(qq), query_id_col)
        .select(query_id_col, id_col, sim)
    )
    return _ranked_topk(scored, "q_cosine_sim", k, id_col, query_id_col)


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    shortlist: int = 50,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The full FAISS production composition (round 10): IVF-PQ
    shortlists `shortlist` candidates per query — cell-routed, m
    residual-code lookups per candidate, never a full scan — and the
    exact int8-quantized cosine re-ranks only those. The round-10
    operating-curve sweep (ivfpq_ann_topk docstring) showed a 50-deep
    rerank lifts even a 16-bit code to 0.90 recall@10, beating every
    pure-code-budget point below 96 bits — so this composition, not a
    bigger codebook, is the recommended default at scale. Shares
    _exact_rerank_stage with pq_rerank_topk and stays a FULL hash
    gate (both stages deterministic with id tie-breaks)."""
    return _exact_rerank_stage(
        corpus, queries,
        lambda c, q: ivfpq_ann_topk(
            c, q, k=shortlist, n_clusters=n_clusters, nprobe=nprobe, m=m,
            n_codes=n_codes, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        ),
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def sample_vectors_offset(
    corpus: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """`_modular_sample` at the MIDDLE residue (id % step == step // 2):
    a second deterministic sample that is disjoint from the centroid
    sample whenever step > 1. ivfpq needs
    this — codebooks trained on the residuals of the CENTROID sample
    would be identically zero (each sampled vector's nearest centroid
    is itself)."""
    corpus = corpus.where(F.col(vec_col).isNotNull())
    return _modular_sample(
        corpus, corpus.count(), k, id_col=id_col, vec_col=vec_col, middle=True
    )


def ivfpq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ — the production billion-scale ANN layout (FAISS
    IndexIVFPQ; Jégou et al. 2011): a coarse IVF quantizer routes each
    vector to a cell, and the vector stores only its cell id + m PQ
    codes of the RESIDUAL (x − centroid). Queries probe their nprobe
    nearest cells; for each probed cell the query computes one ADC
    table from its residual against that cell's centroid, and every
    candidate costs m lookups. Assignment, residuals, codes and the
    per-(query, cell) ADC tables are the same exact integer arithmetic
    as ivf_assign / pq_ann_topk, executed as vectorized Arrow jobs
    (see the boundary note inside).

    Deterministic + integer-exact end to end (int8 quantization,
    sampled coarse centroids, codebooks from the residuals of a
    second OFFSET modular sample — see sample_vectors_offset — and
    sums of squares of integers everywhere), so a FULL hash gate.

    Plan shape: encode is map-only over the corpus (assignment +
    residual + codes, all staged literals); the query side is
    queries x nprobe rows with per-row ADC arrays; candidates come
    from an equi-join on the cell id against the broadcast probe
    frame — the corpus shuffles ZERO times before the final top-k
    window. At production scale the cell id becomes a partition
    column and the same equi-join is partition pruning.

    Recall/cost operating curve (round 10, VERDICT r9 #4) on the
    clustered fixture (10 well-separated 16-dim clusters, recall@10
    vs exact cosine; tests/test_similarity_multimodal.py pins the
    knee). The real dial is the CODE BUDGET m x log2(n_codes) —
    nprobe saturates at 2 of 16 cells on separated clusters because
    the residual quantization error, not probing, caps recall:

    | m | n_codes | nprobe | code bits/vec | recall@10 |
    |---|---|---|---|---|
    | 4 | 16 | 1 | 16 | 0.52 |
    | 4 | 16 | 2 | 16 | 0.56 |
    | 4 | 16 | 8 | 16 | 0.56 (saturated) |
    | 4 | 64 | 2 | 24 | 0.62 |
    | 8 | 64 | 2 | 48 | 0.82  <- the >=0.8 knee |
    | 16 | 64 | 2 | 96 | 0.88 |
    | 4 | 16 | 2 + rerank-50 | 16 | 0.90 (pq_rerank pattern) |

    So the production choice is either the (m=8, n_codes=64) code
    budget or — cheaper and better — any small code plus the exact
    rerank stage, exactly FAISS practice."""
    spark = corpus.sparkSession
    out_schema = f"{query_id_col} long, {id_col} long, pq_dist double, rank int"
    corpus = _ann_entry(corpus, id_col, vec_col)
    queries = _ann_entry(queries, query_id_col, vec_col)
    qz = quantize_int8(F.col(vec_col))
    c = corpus.select(F.col(id_col), qz.alias("__cvec"))
    # both `_modular_sample`s (centroids at residue 0, codebook vectors
    # at the middle residue) share ONE count; each stays a bounded
    # limit-k collect
    n = c.count()
    cents = _modular_sample(c, n, n_clusters, id_col=id_col, vec_col="__cvec")
    samples = _modular_sample(
        c, n, n_codes, id_col=id_col, vec_col="__cvec", middle=True
    )
    if not cents or not samples:
        return spark.createDataFrame([], out_schema)
    resids = []
    for v in samples:
        dists = [sum((a - b) ** 2 for a, b in zip(v, cc)) for cc in cents]
        cc = cents[dists.index(min(dists))]
        resids.append([a - b for a, b in zip(v, cc)])
    d = len(resids[0])
    sub = (d + m - 1) // m
    books = [[rv[j * sub : (j + 1) * sub] for rv in resids] for j in range(m)]

    # Both sides run as vectorized Arrow batch jobs: the stacked JVM
    # projections (assignment array + residual zip + m staged distance
    # arrays over a 64-dim vector) overflow whole-stage codegen and
    # fall back to interpreted eval, and their literal-heavy trees cost
    # seconds of driver analysis per call — measured 13 s -> ~3 s for
    # the numpy form at sf0.1. Arithmetic is identical and exact:
    # integer-valued float64s, squared-L2 sums far under 2^53,
    # np.argmin/stable-argsort first-min rules = the lowest-index
    # tie-breaks the oracle mirrors.
    import numpy as np

    cents_np = np.asarray(cents)
    books_np = [np.asarray(b) for b in books]
    mm, ssub = m, sub
    code_cols = ", ".join(f"__code_{j} int" for j in range(m))
    stack = _pq_stacker(d)

    def encode_batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            v = stack(pdf["__cvec"])
            d2 = ((v[:, None, :] - cents_np[None]) ** 2).sum(-1)
            cl = d2.argmin(1)
            resid = v - cents_np[cl]
            out = {id_col: pdf[id_col], "__cluster": cl.astype("int32")}
            for j in range(mm):
                s = resid[:, j * ssub : (j + 1) * ssub]
                dj = ((s[:, None, :] - books_np[j][None]) ** 2).sum(-1)
                out[f"__code_{j}"] = dj.argmin(1).astype("int32")
            yield pd.DataFrame(out)

    enc = c.mapInPandas(
        encode_batches, schema=f"{id_col} long, __cluster int, {code_cols}"
    )

    adc_cols = ", ".join(f"__adc_{j} array<double>" for j in range(m))

    def probe_batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            v = stack(pdf["__qvec"])
            d2 = ((v[:, None, :] - cents_np[None]) ** 2).sum(-1)
            order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
            qids, cls = [], []
            adcs: dict[int, list] = {j: [] for j in range(mm)}
            for i in range(len(pdf)):
                for cl in order[i]:
                    resid = v[i] - cents_np[cl]
                    qids.append(pdf[query_id_col].iloc[i])
                    cls.append(int(cl))
                    for j in range(mm):
                        s = resid[j * ssub : (j + 1) * ssub]
                        adcs[j].append(((books_np[j] - s[None]) ** 2).sum(-1).tolist())
            data = {
                query_id_col: pd.Series(qids, dtype="int64"),
                "__cluster": pd.Series(cls, dtype="int32"),
            }
            for j in range(mm):
                data[f"__adc_{j}"] = adcs[j]
            yield pd.DataFrame(data)

    q = queries.select(F.col(query_id_col), qz.alias("__qvec"))
    qadc = q.mapInPandas(
        probe_batches, schema=f"{query_id_col} long, __cluster int, {adc_cols}"
    )
    return _adc_topk(
        enc.join(F.broadcast(qadc), "__cluster"), m, k, id_col, query_id_col
    )


def label_centroid_distance(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Distance of every vector to its group's centroid — the embedding-
    aggregation primitive under cluster-quality audits and semantic-dedup
    prefilters (far-from-centroid = candidate outlier).

    Exactness discipline for the hash gate: componentwise means come
    from 6-dp-rounded DECIMAL sums (order-independent, then ONE double
    division); squared deviations are rounded to 6 dp and re-summed in
    DECIMAL, so no step depends on float reduction order. Scale: the
    centroid table is (labels × dims) rows — broadcast; the only big
    shuffle is the posexplode re-group on (id), i.e. linear in corpus
    size. For 100 TB use the dimension-unrolled form only if dims stay
    modest (≤ a few hundred); beyond that, switch the inner fold to a
    vectorized Pandas UDF over the un-exploded arrays.
    """
    ex = df.select(
        F.col(id_col),
        F.col(label_col),
        F.posexplode(as_double_array(F.col(vec_col))).alias("__j", "__x"),
    )
    cent = ex.groupBy(label_col, "__j").agg(
        (
            F.sum(F.round(F.col("__x"), 6).cast("decimal(16,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__mean")
    )
    dev = F.col("__x") - F.col("__mean")
    return (
        ex.join(F.broadcast(cent), [label_col, "__j"])
        .withColumn("__sq", F.round(dev * dev, 6).cast("decimal(18,6)"))
        .groupBy(id_col, label_col)
        .agg(
            F.round(F.sqrt(F.sum("__sq").cast("double")), ROUND_DP).alias(
                "centroid_dist"
            )
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    n_clusters: int | None = None,
    target_cell: int = 1024,
    threshold: float = 0.6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication" — public arXiv 2303.09540): cluster
    the corpus with a coarse quantizer, then prune near-duplicates
    WITHIN each cluster by cosine similarity, keeping one representative
    per duplicate neighborhood.

    Deterministic contract (hash-gate-portable, no RNG): a vector is
    REMOVED iff some lower-id vector in the SAME cluster has
    6-dp-rounded cosine >= `threshold`; `dup_of` is the smallest such
    id, NULL for survivors. Clusters come from the sampled coarse
    quantizer (`sample_centroids` + `ivf_assign`, lowest-index argmin
    tie-break) unless `centroids` overrides them (e.g. KMeans cells
    from operators.ml). NULL vectors are excluded up front (no cluster,
    no pair — the ANN family's NULL rule); zero-norm vectors have NULL
    cosine to everything and therefore always survive.

    Scale: assignment is a map-only projection (k folds per row, no
    shuffle); the only shuffle is the equi-join on the cluster id, so
    pair cost is Σ cluster² not n². The Σcell² bound only holds if k
    scales with n, so the DEFAULT enforces SemDeDup's own regime
    (fixed-size cells as the corpus grows) in code (VERDICT r7 #6):
    when neither `n_clusters` nor `centroids` is given,
    k = max(16, ⌈n / target_cell⌉) from a bounded scalar count — a
    fixed k on a growing corpus would silently re-quadratize the
    within-cell join. Pass `n_clusters` or `centroids` to pin the
    cells (what the oracle-twinned query does). Output is one row per
    non-NULL input vector: (id, cluster, dup_of, keep). NULL ids are
    excluded with NULL vectors (round 10 family-wide id rule: a
    keyless vector can't be kept/removed deterministically, and
    `< id` comparisons against NULL silently immunize it).
    """
    base = _ann_entry(corpus, id_col, vec_col)
    if centroids is None:
        if n_clusters is None:
            import math

            n_clusters = max(16, math.ceil(base.count() / target_cell))
        centroids = sample_centroids(base, n_clusters, id_col=id_col, vec_col=vec_col)
    if not centroids:
        # all-NULL / empty corpus → no cells → empty result with the
        # output schema (F.array() of zero centroids is untyped and
        # breaks the assignment expression — empty-fixture sweep rule)
        spark = corpus.sparkSession
        id_t = dict(corpus.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"{id_col} {id_t}, cluster int, dup_of {id_t}, keep boolean"
        )
    # The assignment (k distance folds per row) is referenced THREE
    # times below (probe side, build side, final cluster projection) and
    # Catalyst does not CSE reused subplans — materialize it ONCE
    # (lazily, so the checkpoint folds into the first consuming job),
    # computed over a SPREAD scan:
    #
    # The probe side's task count must scale with the quadratic work,
    # not with input splits: under a broadcast join the probe keeps the
    # scan partitioning, and a small single-split file serializes the
    # whole Σcell² term into ONE task (the round-11 x10 scale audit
    # measured minutes-long single-task stages exactly here; round 14
    # measured the UNSPREAD build/projection re-evaluations at 0.6s
    # single-task each). Each probe row meets its cell's broadcast rows
    # wherever it lives, so pair production is unchanged and per-task
    # work is |probe|/P × avg cell regardless of cell skew. At
    # production scale input splits already exceed defaultParallelism
    # and no exchange is added.
    assigned = (
        ivf_assign(
            spread_input(
                base.select(
                    F.col(id_col), as_double_array(F.col(vec_col)).alias("__cvec")
                )
            ),
            centroids,
            vec_col="__cvec",
            out_col="__cluster",
        )
        .withColumn("__n", _norm(F.col("__cvec")))
        .localCheckpoint(eager=False)
    )
    left = assigned.select(
        F.col(id_col).alias("__id_a"), "__cluster",
        F.col("__cvec").alias("__va"), F.col("__n").alias("__na"),
    )
    right = assigned.select(
        F.col(id_col).alias("__id_b"), "__cluster",
        F.col("__cvec").alias("__vb"), F.col("__n").alias("__nb"),
    )
    sim = _cosine(F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb"))
    dups = (
        left.join(right, "__cluster")
        .where(F.col("__id_b") < F.col("__id_a"))
        .where(sim >= F.lit(threshold))
        .groupBy("__id_a")
        .agg(F.min("__id_b").alias("dup_of"))
    )
    return (
        assigned.select(F.col(id_col), F.col("__cluster").alias("cluster"))
        .join(dups, F.col(id_col) == F.col("__id_a"), "left")
        .select(
            id_col, "cluster", "dup_of", F.col("dup_of").isNull().alias("keep")
        )
    )


def _bm25_s_micro(
    df: str, k1: float, b: float, *, f: str = "__f", dl: str = "__dl"
) -> Column:
    """Floor-quantized int64 micro-unit BM25 term score of the named
    (tf, doclen, document-frequency) columns under the `__nd`/`__nt`
    corpus stats — ONE builder for the exact, pruned, and indexed tiers
    (the shared-branch rule, mirrored by the `_BM25_S_MICRO` oracle
    fragment): idf is micro-quantized on output (transcendental rule),
    every other factor is an IEEE-deterministic expression of exact
    integers and pinned literals with the same parse tree on both
    engines."""
    fc, dlc, dfc = F.col(f), F.col(dl), F.col(df)
    nd, nt = F.col("__nd"), F.col("__nt")
    idf = (
        F.floor(
            F.log(((nd - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))) + F.lit(1.0))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    avgdl = nt.cast("double") / nd.cast("double")
    tf_part = (fc.cast("double") * (F.lit(k1) + F.lit(1.0))) / (
        fc.cast("double")
        + F.lit(k1)
        * ((F.lit(1.0) - F.lit(b)) + F.lit(b) * (dlc.cast("double") / avgdl))
    )
    return F.floor(idf * tf_part * F.lit(1e6) + F.lit(0.5)).cast("bigint")


def _bm25_tokens(
    corpus: DataFrame, id_col: str, text_col: str, *, require_id: bool = False
) -> DataFrame:
    """(id, __tok) token stream — the ONE BM25 tokenizer every tier
    scores: whitespace split of the trimmed text, xxhash64 per token
    (exchanges key on hashes, never strings). NULL-text documents are
    excluded on entry (text-op rule); ``require_id`` also drops NULL-id
    documents (the index entry rule)."""
    entry = F.col(text_col).isNotNull()
    if require_id:
        entry = entry & F.col(id_col).isNotNull()
    return corpus.where(entry).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.split(F.trim(F.col(text_col)), r"\s+"),
                lambda t: F.xxhash64(t),
            )
        ).alias("__tok"),
    )


def _bm25_query_terms(
    queries: DataFrame, query_id_col: str, query_terms_col: str,
    broadcast_limit: int | None = None,
) -> tuple[DataFrame, Callable[[DataFrame], DataFrame]]:
    """(qterms, hint): the (query id, __tok) table of each query's
    distinct terms, and the broadcast hint every query-bounded frame
    takes. With ``broadcast_limit`` None (the exact tier) qterms stays
    lazy and the hint always broadcasts. Otherwise qterms is
    localCheckpoint-ed and counted ONCE, and above the limit the hint
    is dropped so AQE picks the strategy from actual sizes
    (broadcast-size-guard rule): every frame the hint is applied to —
    the query vocabulary and its dft/ub derivatives, the per-query
    qstats/ubq — has at most |qterms| rows."""
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(F.col(query_terms_col))).alias("__term"),
    ).select(F.col(query_id_col), F.xxhash64("__term").alias("__tok"))
    if broadcast_limit is None:
        return qterms, F.broadcast
    qterms = qterms.localCheckpoint(eager=False)
    small_q = qterms.count() <= broadcast_limit

    def hint(frame: DataFrame) -> DataFrame:
        return F.broadcast(frame) if small_q else frame

    return qterms, hint


def _bm25_scan(
    corpus: DataFrame, qterms: DataFrame, hint: Callable[[DataFrame], DataFrame],
    id_col: str, text_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(tfq, dl, stats, dft) of a raw corpus for the per-call tiers:
    tf restricted to the query vocabulary FIRST (hinted semi-join), so
    the dft aggregation — and everything downstream — is bounded by
    documents sharing a query term, and dft is bounded by the query
    vocabulary (a full-vocab dft stops broadcasting at corpus scale).
    dl feeds both the stats aggregate and the candidate join, and tfq
    feeds both dft and the candidate join, so each is
    localCheckpoint-ed once (CSE invariant, the tfidf_cosine_pairs
    discipline — frees with the DF, nothing stays registered). avgdl
    rides the lazy 1-row stats frame: no driver-side counts."""
    toks = _bm25_tokens(corpus, id_col, text_col)
    tf = toks.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__f"))
    dl = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__dl")
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).alias("__nd"), F.sum("__dl").alias("__nt")
    )
    tfq = tf.join(
        hint(qterms.select("__tok").distinct()), "__tok"
    ).localCheckpoint(eager=False)
    dft = tfq.groupBy("__tok").agg(F.count(F.lit(1)).alias("__dft"))
    return tfq, dl, stats, dft


def _bm25_term_ranked(scored: DataFrame, id_col: str) -> DataFrame:
    """``scored`` plus each posting's per-term champion rank ``__rn``
    (impact DESC, id ASC NULLS FIRST), materialized: the cut and the
    dropped bound both read it."""
    w = Window.partitionBy("__tok").orderBy(F.desc("__s"), F.asc_nulls_first(id_col))
    return scored.withColumn("__rn", F.row_number().over(w)).localCheckpoint(eager=False)


def _bm25_query_order(query_id_col: str, id_col: str) -> WindowSpec:
    """The per-query ranking every BM25 tier pins: integer score DESC,
    doc id ASC NULLS FIRST."""
    return Window.partitionBy(query_id_col).orderBy(
        F.desc("__sm"), F.asc_nulls_first(id_col)
    )


def _bm25_certified_topk(
    impacts: DataFrame, champions: DataFrame, ub: DataFrame,
    qterms: DataFrame, hint: Callable[[DataFrame], DataFrame],
    *, id_col: str, query_id_col: str, k: int, broadcast_limit: int,
) -> DataFrame:
    """The certified top-k of the champion-list tiers, which differ only
    in where ``champions`` (candidate postings, (__tok, id)) and ``ub``
    (per-term bound on every dropped posting, (__tok, __ub)) come from;
    ``impacts`` holds the exact (__tok, id, __s) contributions.

    Candidates (the docs in any of the query's champion lists) are
    rescored EXACTLY: the (query, doc, term) triples, bounded by
    |queries|·|terms|·m, broadcast below ``broadcast_limit`` (counted
    once) into a map-side restriction of the impact stream. The
    lossless certificate is (n_ub == 0) OR (n_cand ≥ k AND kth > Σ
    ub_t); its first branch counts rank-(m+1) ROWS, never tests the
    bound SUM (ADVICE r12) — a dropped posting can floor-quantize to
    impact 0 and still win the doc-id tie-break. Oracle twin:
    `queries._bm25_certified_sql`."""
    cand = (
        champions.join(hint(qterms), "__tok")
        .select(query_id_col, id_col)
        .distinct()
    )
    triples = (
        cand.join(qterms, query_id_col)
        .select(query_id_col, id_col, "__tok")
        .localCheckpoint(eager=False)
    )
    triples_b = (
        F.broadcast(triples)
        if triples.count() <= broadcast_limit
        else triples
    )
    resc = (
        impacts.join(triples_b, ["__tok", id_col])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__s").alias("__sm"))
    )
    ubq = (
        qterms.join(hint(ub), "__tok", "left")
        .groupBy(query_id_col)
        .agg(
            F.coalesce(F.sum("__ub"), F.lit(0)).cast("bigint").alias("__ubt"),
            F.count("__ub").cast("bigint").alias("__nub"),
        )
    )
    ranked_q = resc.withColumn(
        "rank", F.row_number().over(_bm25_query_order(query_id_col, id_col))
    ).localCheckpoint(eager=False)
    qstats = ranked_q.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("__ncand"),
        F.max(F.when(F.col("rank") == k, F.col("__sm"))).alias("__kth"),
    )
    lossless = F.coalesce(
        (F.col("__nub") == 0)
        | ((F.col("__ncand") >= k) & (F.col("__kth") > F.col("__ubt"))),
        F.lit(False),
    )
    return (
        ranked_q.where(F.col("rank") <= k)
        .join(hint(qstats), query_id_col)
        .join(hint(ubq), query_id_col)
        .select(
            query_id_col,
            id_col,
            (F.col("__sm").cast("double") / F.lit(1e6)).alias("bm25"),
            F.col("rank").cast("bigint").alias("rank"),
            lossless.alias("lossless_set_ok"),
        )
    )


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_terms_col: str = "terms",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_scored_postings: int | None = 200_000_000,
) -> DataFrame:
    """BM25 lexical top-k retrieval (Robertson/Sparck Jones; the
    Lucene-practical form with IDF = ln((N - df + 0.5)/(df + 0.5) + 1))
    — the keyword-search tier that complements `cosine_topk` (dense)
    and `textdedup.tfidf_cosine_pairs` (all-pairs lexical): score
    corpus documents against a small query set and return the top k
    per query with ranks. In a training-data pipeline this is the
    workhorse of targeted corpus inspection (find the documents a
    benchmark question would retrieve) and of BM25-negative mining.

    ``queries`` carries (query_id, terms: array<string>); duplicate
    terms are deduped (set semantics — standard for short queries).

    Cross-engine determinism (full hash gate): ln() is 1-ulp unstable
    across libm/JVM, so the IDF is micro-quantized on output
    (floor(x·1e6 + 0.5)/1e6 — the transcendental rule); every other
    factor is an IEEE-deterministic expression of exact integers
    (tf, dl, N) and pinned literals, with the SAME parse tree on both
    engines; each per-term score is floor-quantized to micro-units and
    summed as int64 (order-free — float summation order across terms
    would flip hashes), and ranking orders by the INTEGER score with
    doc-id tie-break (NULLS FIRST pinned). avgdl (= total tokens /
    doc count) rides a lazy 1-row stats frame broadcast into the
    candidate join — NO driver-side counts, so the whole operator is
    one plan with zero extra corpus scans (two .count() actions cost
    two full tokenize passes in the first cut; measured).

    Scale shape: tf and dl are two aggregations over the token stream
    (the structural exchanges of any inverted index — the 100 TB
    deployment precomputes/stores both, which this signature permits
    by construction since they depend only on the corpus); dl is
    localCheckpoint-ed because the stats aggregate and the candidate
    join both consume it (CSE invariant); the query term table
    BROADCASTS into a map-side semi-join that bounds everything
    downstream by documents sharing a query term; exchanges key on
    xxhash64 tokens, never strings. NULL-text documents are excluded
    on entry (text-op rule); NULL doc ids never reach the ranking —
    the candidate equi-joins on the doc id (Spark tfq⋈dl, oracle
    tf JOIN dl) drop them identically on both engines, so the rank
    window only ever sees non-null ids. An empty/all-NULL corpus flows
    through naturally: every aggregate is grouped, so zero rows in →
    zero rows out with the output schema, no special case.

    Scale note (round-11 x10 audit): per query, exact BM25 scores
    EVERY document sharing a term, so shuffle ∝ Σ_q |matching docs| —
    linear in the corpus per query, and a query LOAD that scales with
    the corpus (the gate samples every 97th doc) multiplies on top
    (measured shufRec/inRec 1.45→23.3 at 10× data with 10× queries;
    flat per query × corpus). A 100 TB serving tier bounds this with
    impact-ordered/WAND skipping — approximate early-exit that the
    exact hash gate deliberately does not model.

    Scale FENCE (VERDICT r12 #2): the exact tier measurably falls off
    a cliff when the per-query candidate join grows — the r12 x30
    diagnostic (150k docs × 1546 queries ≈ 9×10⁸ scored postings)
    spilled 102.7 GB on a 128 GiB box, while the x10 point (≈1×10⁸)
    ran clean. Before building the candidate join this operator
    computes the EXACT scored-posting count (Σ over query terms of
    dft — one small aggregate over the query vocabulary, no extra
    corpus scan) and REFUSES above ``max_scored_postings`` (default
    2×10⁸, between the two measured points) with a pointer to the
    scale tiers: `bm25_topk_pruned` (champion lists + certificate)
    and the persisted `bm25_index_build`/`bm25_topk_indexed` family.
    ``None`` disables the fence (the diagnostic/benchmark override —
    how the x30 measurement itself is reproduced).
    """
    qterms, hint = _bm25_query_terms(queries, query_id_col, query_terms_col)
    tfq, dl, stats, dft = _bm25_scan(corpus, qterms, hint, id_col, text_col)

    # Scale fence (see docstring): the candidate join emits EXACTLY
    # Σ_(q,t) dft_t rows — computable up front from the tiny per-term
    # frame, so the refusal costs one aggregate over the query
    # vocabulary, never a corpus scan.
    if max_scored_postings is not None:
        est = qterms.join(dft, "__tok").agg(F.sum("__dft")).first()[0]
        if est is not None and est > max_scored_postings:
            raise ValueError(
                f"bm25_topk would score {est:,} (query, posting) pairs, "
                f"over the max_scored_postings fence of "
                f"{max_scored_postings:,} — the exact tier's shuffle is "
                "∝ queries × corpus and measurably spills at this size "
                "(102.7 GB at 9e8 pairs on a 128 GiB box). Use "
                "bm25_topk_pruned (champion lists + lossless "
                "certificate) or the persisted bm25_index_build/"
                "bm25_topk_indexed family, or pass "
                "max_scored_postings=None to override."
            )

    cand = (
        tfq.join(hint(qterms), "__tok")
        .join(dl, id_col)
        .join(hint(dft), "__tok")
        .crossJoin(F.broadcast(stats))
    )
    scores = (
        cand.select(query_id_col, id_col, _bm25_s_micro("__dft", k1, b).alias("__s"))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__s").alias("__sm"))
    )
    return (
        scores.withColumn(
            "rank",
            F.row_number().over(_bm25_query_order(query_id_col, id_col)).cast("bigint"),
        )
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            (F.col("__sm").cast("double") / F.lit(1e6)).alias("bm25"),
            "rank",
        )
    )


def bm25_topk_pruned(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_terms_col: str = "terms",
    k: int = 10,
    m: int = 64,
    k1: float = 1.2,
    b: float = 0.75,
    broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """Champion-list pruned BM25 top-k with exact candidate rescoring
    (VERDICT r11 #2) — the approximate scale tier next to exact
    `bm25_topk`, the way `value_quantiles_approx` sits next to
    `value_quantiles`. Two-stage retrieval in its classic static form
    (champion lists, Manning/Raghavan/Schütze IR §7.1.3; the
    impact-ordered index-pruning family of Moffat & Zobel 1996 and
    Carmel et al. 2001):

    1. For every term keep its top-``m`` postings by IMPACT (the
       per-term score contribution — a pure CORPUS artifact: tf, dl,
       dft, avgdl; never the query).
    2. A query's CANDIDATES are the docs in any of its terms' champion
       lists (≤ m × |terms| docs).
    3. Candidates are rescored EXACTLY — all their postings for the
       query's terms, not just the kept ones — so every emitted score
       is the TRUE BM25 value and the candidate ranking is the true
       relative order; pruning can only lose docs, never mis-score
       them.
    4. The per-term impact at rank m+1 (``ub_t``) bounds every dropped
       posting, so a NON-candidate's whole score is at most
       ``ub_total = Σ_t ub_t`` (it sits below the cut in every list).
       ``lossless_set_ok`` = (n_dropped_terms == 0) OR (n_cand ≥ k AND
       kth > ub_total): when TRUE the output provably IS the exact
       top-k — same set, same order, same scores (kth is exact;
       strict > absorbs would-be boundary ties). The first branch
       counts rank-(m+1) ROWS over the query's terms, not the bound
       SUM (ADVICE r12): a dropped posting whose impact floor-
       quantizes to exactly 0 (idf→0 for a term in ~all of >1e6 docs,
       or extreme doc-length skew zeroing tf_part) makes ub_total==0
       while the dropped doc can still belong to the exact top-k via
       the doc-id tie-break at kth==0 or when n_cand < k. "No term
       dropped anything" ⇒ candidates ARE the exact candidate set ⇒
       the exact rescore makes the output exact even when n_cand < k.

    FULL hash gate: every quantity is the same floor-quantized int64
    micro-unit arithmetic as `bm25_topk` (identical parse tree, shared
    oracle SQL builder), the per-term ranking and the per-query
    ranking both pin (value DESC, doc_id ASC NULLS FIRST), and the
    certificate is integer comparisons — the DuckDB oracle recomputes
    the PRUNED algorithm itself, certificate included. The
    certificate ⇒ top-k-equality contract is additionally pinned
    against exact `bm25_topk` in tests (fixed + fuzz corpora).

    Scale shape — what pruning buys at 100 TB: exact BM25's per-query
    candidate set is EVERY document sharing a term (shuffle ∝
    queries × corpus; the r11 x10 audit measured shufRec/inRec
    1.45→23.3). Here the champion lists are a corpus artifact
    (production precomputes them exactly like tf/dl; this one-plan
    form rebuilds them per call, bounded by the query vocabulary), and
    everything per-query is bounded by m×|terms|: the candidate set,
    the rescore probe (impacts never shuffles — the candidate triples
    broadcast into a map-side semi-restriction), and the final
    per-query exchanges — shuffle ∝ queries, flat in the corpus.

    ``m`` trades candidate-set size against certificate coverage and
    must reflect the corpus' term-frequency decay: on Zipfian text a
    small m certifies because impacts collapse within a few hundred
    ranks; the gate fixture's synthetic 31-token vocabulary (every
    term in ~78% of docs) is the adversarial extreme and needs
    m ≈ 0.4·|corpus-per-term| before certificates fire — the honest
    price of a hard guarantee on stopword-only queries. Certificates
    REFUSE (all-false, never wrong) below that; the hash gate passes
    either way because the oracle mirrors the refusal.

    Tokenizer, query-term table and corpus scan are the helpers
    `bm25_topk` uses; steps 2–4 are `_bm25_certified_topk`, shared
    with `bm25_topk_indexed` — this tier contributes only the impact
    index, the champion cut and the rank-(m+1) ``ub``.

    Broadcast guards (ADVICE r12, the cms_token_estimates pattern):
    the query-side frames grow with the query load — qterms (and its
    dft/ub/qstats/ubq derivatives, all ≤ |qterms| resp. |queries|
    rows) ∝ queries×terms, and the candidate triples ∝
    |queries|·|terms|²·m — so each is localCheckpoint-ed, counted
    once, and above ``broadcast_limit`` rows the hint is dropped and
    AQE picks the strategy from actual sizes (broadcast-size-guard
    rule; plan test asserts on ResolvedHint). Same output either way.

    Reference semantics baseline: the reference pipeline has no
    retrieval tier; this extends `bm25_topk` (see its docstring for
    the reference citations) with the pruning production engines
    (Lucene WAND/block-max) apply at corpus scale.
    """
    qterms, hint = _bm25_query_terms(
        queries, query_id_col, query_terms_col, broadcast_limit
    )
    tfq, dl, stats, dft = _bm25_scan(corpus, qterms, hint, id_col, text_col)

    # query-independent impact index: per (term, doc) the exact score
    # contribution, then the per-term top-m cut and the rank-(m+1)
    # upper bound on everything dropped
    impacts = (
        tfq.join(dl, id_col)
        .join(hint(dft), "__tok")
        .crossJoin(F.broadcast(stats))
        .select("__tok", id_col, _bm25_s_micro("__dft", k1, b).alias("__s"))
    )
    ranked_t = _bm25_term_ranked(impacts, id_col)
    kept = ranked_t.where(F.col("__rn") <= m).drop("__rn")
    ub = ranked_t.where(F.col("__rn") == m + 1).select(
        "__tok", F.col("__s").alias("__ub")
    )
    return _bm25_certified_topk(
        impacts, kept, ub, qterms, hint,
        id_col=id_col, query_id_col=query_id_col, k=k,
        broadcast_limit=broadcast_limit,
    )


# --- Persisted champion-list BM25 index (VERDICT r12 #1) ---------------------


@dataclass(frozen=True)
class Bm25Index:
    """The persistent BM25 retrieval index of a corpus — the
    `minhash_index` pattern applied to the champion-list tier, so
    query-time work is provably corpus-flat and maintenance is
    O(delta) per batch instead of the per-call ∝-corpus rebuild
    `bm25_topk_pruned` pays (VERDICT r12 nit #1).

    Five frames (in production each is written once as parquet —
    `postings`/`champions` partitioned or bucketed by `__tok`,
    `termstats` by `__tok`, `stats` a 1-row scalar — and re-read per
    batch/query; `tests/test_similarity_multimodal.py` round-trips
    all five through parquet):

    - ``postings`` (__tok, <id>, __f, __dl): the full inverted index
      with doc length denormalized in (a doc's length never changes —
      docs are immutable, deltas only append), so rescoring never
      joins a corpus-sized doclen table.
    - ``termstats`` (__tok, __df): per-term document frequency,
      additively mergeable.
    - ``stats`` (__nd, __nt): corpus doc/token counts, 1 row,
      additively mergeable.
    - ``champions`` (__tok, <id>, __f, __dl): per-term top-``m``
      postings by impact under the stats AT BUILD/UPDATE TIME. Pure
      CANDIDATE GENERATION state — global stats drift as the corpus
      grows can make this set deviate from the true current top-m,
      which is safe because candidates are always rescored exactly
      and the certificate never consults champion membership
      (the output-invariant candidate rule, CLAUDE.md r12).
    - ``dropped`` (__tok, __fmax, __dlmin): per term, the running
      max tf and min doclen over every posting EVER cut from its
      champion list. Stats-free and monotone (mergeable with
      max/min), so ub_t = score(__fmax, __dlmin) computed under ANY
      later stats upper-bounds every dropped posting's true impact —
      score is increasing in tf and decreasing in dl — which is what
      keeps the lossless certificate sound across incremental
      updates. Conservative by construction (the pair need not come
      from one posting): certificates fire less often than
      `bm25_topk_pruned`'s exact rank-(m+1) bound, never wrongly.

    Entry rule: documents with NULL text or NULL id are excluded
    entirely (an id-less doc can never be a candidate or champion —
    the minhash_index rule). Deltas must carry ids disjoint from the
    indexed corpus (the incremental_minhash_dedup contract).

    ``m``/``k1``/``b`` ride the index so update and query can never
    drift from the build's parameters.
    """

    postings: DataFrame
    termstats: DataFrame
    stats: DataFrame
    champions: DataFrame
    dropped: DataFrame
    m: int
    k1: float
    b: float


def _bm25_corpus_frames(
    corpus: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, termstats, stats) of a corpus slice under the index
    entry rule (NULL text/id excluded). postings drops nothing the
    ranking could use: tf⋈dl is keyed on the non-null id.

    ONE materialized token frame (r14, VERDICT r13 #2): tf is
    localCheckpoint-ed and everything else derives from it — dl is
    SUM(__f) per doc (identical to counting raw tokens: tf has exactly
    __f rows' worth of tokens per (doc, term)), termstats/stats fold
    the same cached rows. The old shape re-ran the corpus tokenization
    (split + explode + xxhash64 over every document) once per
    checkpointed output frame — three full passes where one suffices."""
    toks = _bm25_tokens(corpus, id_col, text_col, require_id=True)
    tf = (
        toks.groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__f"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy(id_col).agg(F.sum("__f").cast("bigint").alias("__dl"))
    postings = tf.join(dl, id_col).select(
        "__tok", id_col, "__f", "__dl"
    )
    termstats = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("__nd"),
        F.sum("__dl").cast("bigint").alias("__nt"),
    )
    return postings, termstats, stats


def _bm25_rank_pool(
    pool: DataFrame,
    termstats: DataFrame,
    stats: DataFrame,
    id_col: str,
    m: int,
    k1: float,
    b: float,
) -> tuple[DataFrame, DataFrame]:
    """Score a (__tok, id, __f, __dl) posting pool under the given
    stats and cut each term's champion list: returns (champions,
    evicted-bounds). The per-term ranking pins (impact DESC, id ASC
    NULLS FIRST) — the same order every BM25 tier uses."""
    scored = (
        pool.join(termstats, "__tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "__tok",
            id_col,
            "__f",
            "__dl",
            _bm25_s_micro("__df", k1, b).alias("__s"),
        )
    )
    ranked = _bm25_term_ranked(scored, id_col)
    champions = ranked.where(F.col("__rn") <= m).select(
        "__tok", id_col, "__f", "__dl"
    )
    evicted = (
        ranked.where(F.col("__rn") > m)
        .groupBy("__tok")
        .agg(F.max("__f").alias("__fmax"), F.min("__dl").alias("__dlmin"))
    )
    return champions, evicted


def bm25_index_build(
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 64,
    k1: float = 1.2,
    b: float = 0.75,
) -> Bm25Index:
    """Build the persistent champion-list BM25 index of a corpus —
    the O(corpus) ONE-TIME cost production pays exactly once (the
    impact sort every impact-ordered indexer runs: Lucene's
    index-time sorting, the Moffat/Zobel impact-ordering family),
    after which `bm25_index_update` maintains it in O(delta) and
    `bm25_topk_indexed` queries it with shuffle ∝ queries.

    Scale shape: two token aggregations (tf, dl — the structural
    exchanges of any inverted index), one id-keyed join to
    denormalize dl into the postings, one term-keyed window for the
    champion cut. Everything is keyed on xxhash64 tokens; nothing is
    ever broadcast from the corpus side. Every frame is
    localCheckpoint-ed — the in-session analogue of the parquet
    write — so downstream updates and queries reuse materialized
    state instead of re-deriving the corpus scan per call.

    Reference semantics baseline: extends `bm25_topk` (see its
    docstring for reference citations) the way `minhash_index`
    (operators/textdedup.py:454) extends the one-shot dedup."""
    postings, termstats, stats = _bm25_corpus_frames(corpus, id_col, text_col)
    postings = postings.localCheckpoint(eager=False)
    termstats = termstats.localCheckpoint(eager=False)
    stats = stats.localCheckpoint(eager=False)
    champions, dropped = _bm25_rank_pool(
        postings, termstats, stats, id_col, m, k1, b
    )
    return Bm25Index(
        postings=postings,
        termstats=termstats,
        stats=stats,
        champions=champions.localCheckpoint(eager=False),
        dropped=dropped.localCheckpoint(eager=False),
        m=m,
        k1=k1,
        b=b,
    )


def bm25_index_update(
    index: Bm25Index,
    delta: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Bm25Index:
    """Fold a delta batch into the index in O(delta): delta postings
    append (never touching base postings), termstats/stats merge
    additively, and ONLY the champion lists of terms that appear in
    the delta are re-cut — the pool is (old champions of affected
    terms) ∪ (delta postings), at most m + |delta postings per term|
    rows per affected term, never the full posting list. Postings
    evicted by the re-cut fold into the stats-free (__fmax, __dlmin)
    dropped bound, which only ever widens — the monotone merge that
    keeps certificates sound under stats drift (see Bm25Index).

    The re-cut scores the pool under the UPDATED global stats, so
    newly inserted champions are ranked exactly as a fresh build
    would rank them; champion lists of unaffected terms are carried
    unchanged (their impacts drift with avgdl, but champion
    membership is output-invariant candidate state — the exact
    rescore decides). An empty delta is a bit-exact identity.

    Delta ids must be disjoint from the indexed corpus (documented
    contract, as in incremental_minhash_dedup); NULL-id/NULL-text
    delta docs are excluded at entry."""
    m, k1, b = index.m, index.k1, index.b
    dpost, dterm, dstats = _bm25_corpus_frames(delta, id_col, text_col)
    dpost = dpost.localCheckpoint(eager=False)
    dterm = dterm.localCheckpoint(eager=False)

    stats2 = (
        index.stats.crossJoin(dstats.select(
            F.col("__nd").alias("__dnd"), F.col("__nt").alias("__dnt")
        ))
        .select(
            (F.col("__nd") + F.col("__dnd")).alias("__nd"),
            (F.coalesce(F.col("__nt"), F.lit(0))
             + F.coalesce(F.col("__dnt"), F.lit(0))).cast("bigint").alias("__nt"),
        )
        .localCheckpoint(eager=False)
    )
    termstats2 = (
        index.termstats.join(
            dterm.select("__tok", F.col("__df").alias("__ddf")),
            "__tok",
            "full_outer",
        )
        .select(
            "__tok",
            (F.coalesce(F.col("__df"), F.lit(0))
             + F.coalesce(F.col("__ddf"), F.lit(0))).cast("bigint").alias("__df"),
        )
        .localCheckpoint(eager=False)
    )

    affected = dterm.select("__tok")
    pool = (
        index.champions.join(affected, "__tok", "left_semi")
        .unionByName(dpost)
    )
    champ_aff, evicted = _bm25_rank_pool(
        pool, termstats2, stats2, id_col, m, k1, b
    )
    champions2 = (
        index.champions.join(affected, "__tok", "left_anti")
        .unionByName(champ_aff)
        .localCheckpoint(eager=False)
    )
    dropped2 = (
        index.dropped.unionByName(evicted)
        .groupBy("__tok")
        .agg(F.max("__fmax").alias("__fmax"), F.min("__dlmin").alias("__dlmin"))
        .localCheckpoint(eager=False)
    )
    return Bm25Index(
        postings=index.postings.unionByName(dpost),
        termstats=termstats2,
        stats=stats2,
        champions=champions2,
        dropped=dropped2,
        m=m,
        k1=k1,
        b=b,
    )


def bm25_topk_indexed(
    index: Bm25Index,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_terms_col: str = "terms",
    k: int = 10,
    broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """Top-k BM25 retrieval against a persisted index — the
    production query path whose per-call work NEVER scans the corpus:
    candidates come from the stored champion lists of the query's
    terms, are rescored EXACTLY from the stored postings restricted
    to the query vocabulary (with postings partitioned/bucketed by
    __tok the scan itself prunes to the query's terms), and every
    query carries the lossless certificate computed from the stored
    (__fmax, __dlmin) dropped bounds — certificate TRUE proves the
    output IS the exact top-k of the indexed corpus, i.e. equals
    `bm25_topk(corpus.where(id IS NOT NULL), ...)` row for row
    (pinned in tests, fixed + zero-impact + incremental fixtures).

    Rescore, ranking and certificate are `_bm25_certified_topk`, the
    helper `bm25_topk_pruned` also ends in (n_ub == 0 ⇔ no query term
    has ever dropped a posting, else n_cand ≥ k AND kth > Σ ub_t); the
    only difference is the ub bound's provenance — stored monotone
    (f, dl) extremes instead of the per-call rank-(m+1) impact — which
    is conservative, so certificates refuse more often but are never
    wrong.

    Broadcast guards come from `_bm25_query_terms`: one count of
    qterms guards every query-bounded hint; the candidate triples
    count separately."""
    k1, b = index.k1, index.b
    qterms, hint = _bm25_query_terms(
        queries, query_id_col, query_terms_col, broadcast_limit
    )
    qtoks = qterms.select("__tok").distinct()
    ts_q = index.termstats.join(hint(qtoks), "__tok")
    stats_b = F.broadcast(index.stats)

    # exact impacts of every stored posting for a query term, under
    # the CURRENT stats — the rescore source
    imp = (
        index.postings.join(hint(qtoks), "__tok")
        .join(hint(ts_q), "__tok")
        .crossJoin(stats_b)
        .select("__tok", id_col, _bm25_s_micro("__df", k1, b).alias("__s"))
    )
    ub = (
        index.dropped.join(hint(qtoks), "__tok")
        .join(hint(ts_q), "__tok")
        .crossJoin(stats_b)
        .select(
            "__tok",
            _bm25_s_micro("__df", k1, b, f="__fmax", dl="__dlmin").alias("__ub"),
        )
    )
    return _bm25_certified_topk(
        imp, index.champions, ub, qterms, hint,
        id_col=id_col, query_id_col=query_id_col, k=k,
        broadcast_limit=broadcast_limit,
    )


# --- Contract reports: hash gates for learned-quantizer operators -----------
#
# MLlib KMeans centroids are floats whose exact values depend on
# aggregation order, so any output column derived from them (cluster
# ids, neighbor sets, dup_of ids) is not hash-stable across sessions —
# the reason these queries were rows-only through round 8. The
# fraud_ml_score pattern (operators/ml.py) converts them: emit ONLY
# (a) values the oracle recomputes exactly from the raw table
# (centroid-free), and (b) contract booleans the Spark side computes
# from real independent checks and the oracle asserts TRUE. Any
# operator bug flips a boolean and the value hash fails.


def ivf_ann_contract_report(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 10,
    centroids: list[list[float]],
    recall_floor: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Centroid-invariant contract report for IVF ANN with learned
    centroids (VERDICT r8 #2). One row per non-NULL query:

    - ``n_exact`` (exact): size of the true top-k candidate set,
      least(k, |non-NULL corpus|) — the oracle recomputes it.
    - ``probe_exact`` (hard guarantee): the ANN result is EXACTLY the
      top-k of the probed-cells candidate set — IVF's defining
      property, which holds under ANY centroids, so it is drift-robust.
      Recomputed through an independent physical path: candidates are
      re-derived from the shared assignment/probe expressions, but the
      top-k comes from a collect_list + array_sort + posexplode fold,
      not the operator's window rank — a wiring bug in either path
      breaks the row-by-row (rank, id, sim) full-outer comparison.
    - ``recall_ok`` (statistical, dataset-level): recall@k against the
      exact brute-force top-k over positive-norm queries >= 0.7. The
      floor is deliberately loose — recall of a cell-routed ANN has no
      hard bound and varies with fixture geometry (measured 0.96-1.0
      on sf0.01/sf0.1/fuzz corpora at nprobe=10/16); a tight 0.9 band
      in a value-hash gate would be the per-row-3σ mistake. The 0.9
      operating-point pin stays in tests/test_ml.py where the fixture
      is fixed. Zero-norm queries (all-NULL cosines, id-ordered fill)
      are excluded from recall on both sides but still report
      probe_exact.

    Scale: the report is the VERIFICATION harness for the gate corpus
    (|Q| is small, the exact side is one broadcast nested-loop over the
    corpus — same shape as cosine_topk). At production scale you gate a
    query SAMPLE, not the full corpus; the operator itself stays
    cell-routed.
    """
    spark = corpus.sparkSession
    qid_t = dict(queries.dtypes)[query_id_col]
    out_schema = (
        f"{query_id_col} {qid_t}, n_exact bigint, "
        "probe_exact boolean, recall_ok boolean"
    )
    if not centroids:
        return spark.createDataFrame([], out_schema)
    # same fences as the operator under verification (NULL vector AND
    # NULL id — the round-10 family rule), or the independent
    # recomputation would verify a different corpus
    corpus_nn = corpus.where(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    )
    queries_nn = queries.where(
        F.col(vec_col).isNotNull() & F.col(query_id_col).isNotNull()
    )

    ann = ivf_ann_topk(
        corpus,
        queries,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        centroids=centroids,
    )

    # --- probe_exact: independent exact-over-probed recomputation ---
    # spread the under-split scan before the per-row distance folds
    # (post-fit verification path — never the fit input)
    assigned = ivf_assign(
        spread_input(
            corpus_nn.select(
                F.col(id_col), as_double_array(F.col(vec_col)).alias("__cvec")
            )
        ),
        centroids,
        vec_col="__cvec",
    )
    probed = queries_nn.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("__qvec")
    ).withColumn("__cluster", F.explode(probed_cells_expr(centroids, nprobe)))
    cands = assigned.join(F.broadcast(probed), "__cluster").select(
        query_id_col,
        F.col(id_col).alias("__cid"),
        cosine(F.col("__qvec"), F.col("__cvec")).alias("__sim"),
    )
    # Sort key struct: NULL sims last, sim desc (negation is exact),
    # id asc — all fields non-null except __ns on a NULL sim, where the
    # __nf group already separates them and __id breaks the tie.
    item = F.struct(
        F.col("__sim").isNull().cast("int").alias("__nf"),
        (-F.col("__sim")).alias("__ns"),
        F.col("__cid").alias("__id"),
        F.col("__sim").alias("__s"),
    )
    ver = (
        cands.groupBy(query_id_col)
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("__top"))
        .select(query_id_col, F.posexplode("__top").alias("__pos", "__it"))
        .select(
            query_id_col,
            (F.col("__pos") + 1).alias("__vrank"),
            F.col("__it.__id").alias("__vid"),
            F.col("__it.__s").alias("__vsim"),
        )
    )
    a = ann.select(
        F.col(query_id_col).alias("__aq"),
        F.col("rank").alias("__arank"),
        F.col(id_col).alias("__aid"),
        F.col("cosine_sim").alias("__asim"),
    )
    cmp = ver.join(
        a,
        (F.col(query_id_col) == F.col("__aq"))
        & (F.col("__vrank") == F.col("__arank")),
        "full_outer",
    ).select(
        F.coalesce(F.col(query_id_col), F.col("__aq")).alias("__q"),
        (
            F.col("__vid").isNotNull()
            & F.col("__aid").isNotNull()
            & (F.col("__vid") == F.col("__aid"))
            & F.col("__vsim").eqNullSafe(F.col("__asim"))
        ).alias("__row_ok"),
    )
    probe_ok = cmp.groupBy("__q").agg(
        F.min(F.col("__row_ok").cast("int")).alias("__min_ok")
    )

    # --- recall_ok: dataset-level, positive-norm queries only ---
    q_pos = queries_nn.where(
        _norm(as_double_array(F.col(vec_col))) > 0
    ).select(query_id_col, vec_col)
    exact = cosine_topk(
        corpus_nn,
        q_pos,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(
        F.col(query_id_col).alias("__eq"), F.col(id_col).alias("__eid")
    )
    hits = exact.join(
        ann.select(
            F.col(query_id_col).alias("__eq"), F.col(id_col).alias("__eid")
        ),
        ["__eq", "__eid"],
        "left_semi",
    )
    recall = F.broadcast(
        hits.agg(F.count(F.lit(1)).alias("__nh"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("__ne")))
        .select(
            F.coalesce(
                F.col("__nh") >= F.col("__ne") * F.lit(recall_floor),
                F.lit(True),  # no positive-norm queries → vacuous
            ).alias("recall_ok")
        )
    )

    n_exact = F.broadcast(
        corpus_nn.agg(
            F.least(F.lit(k).cast("bigint"), F.count(F.lit(1))).alias("n_exact")
        )
    )
    return (
        queries_nn.select(query_id_col)
        .join(probe_ok, F.col(query_id_col) == F.col("__q"), "left")
        .crossJoin(n_exact)
        .crossJoin(recall)
        .select(
            query_id_col,
            "n_exact",
            # a query with zero candidates produces no cmp rows: no
            # probed cell is non-empty, so exact-over-probed holds
            # vacuously (queries drawn from the corpus always have at
            # least their own cell, making this unreachable there)
            F.coalesce(F.col("__min_ok") == 1, F.lit(True)).alias(
                "probe_exact"
            ),
            "recall_ok",
        )
    )


def semantic_dedup_contract_report(
    corpus: DataFrame,
    *,
    threshold: float = 0.35,
    n_clusters_sampled: int = 16,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid-invariant contract report for learned-quantizer SemDeDup
    (VERDICT r8 #2). One row per non-NULL vector:

    - ``dup_sampled`` (exact): the SAMPLED-quantizer SemDeDup removal
      decision (same deterministic construction the hash-certified
      embed_semantic_dedup query uses) — the oracle recomputes centroid
      selection, argmin assignment and the pruning rule from the table
      alone. Keeps a real, centroid-free dedup decision in the gate.
    - ``removed_sound`` (hard guarantee): for every vector the LEARNED
      KMeans run removed, dup_of < vec_id AND the 6-dp cosine between
      the vector and its dup_of, recomputed by joining BACK TO THE RAW
      TABLE (not from the operator's internals), is >= threshold;
      survivors are trivially TRUE. Holds under any centroids, so it is
      drift-robust; a wrong dup_of id or threshold leak flips it.

    The learned run's cluster/dup_of ids remain available via
    semantic_dedup(centroids=...) directly (and stay gated in pytest:
    separated-cluster completeness + seeded determinism); this report
    is what faces the cross-engine value hash. Scale shape is the
    operator's own Σcell² twice (one per quantizer) plus an id-keyed
    join back to the corpus.
    """
    spark = corpus.sparkSession
    id_t = dict(corpus.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_t}, dup_sampled boolean, removed_sound boolean"
    )
    # mirror semantic_dedup's round-10 entry fences (vector AND id)
    base = corpus.where(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
    if not centroids:
        return spark.createDataFrame([], out_schema)

    learned = semantic_dedup(
        corpus, threshold=threshold, centroids=centroids,
        id_col=id_col, vec_col=vec_col,
    )
    sampled = semantic_dedup(
        corpus, n_clusters=n_clusters_sampled, threshold=threshold,
        id_col=id_col, vec_col=vec_col,
    )

    vecs = base.select(
        F.col(id_col).alias("__rid"),
        as_double_array(F.col(vec_col)).alias("__rv"),
    )
    snd = (
        learned.select(F.col(id_col), "dup_of")
        .join(vecs, F.col(id_col) == F.col("__rid"), "left")
        .withColumnRenamed("__rv", "__va")
        .drop("__rid")
        .join(vecs, F.col("dup_of") == F.col("__rid"), "left")
        .withColumnRenamed("__rv", "__vb")
        .select(
            F.col(id_col).alias("__sid"),
            F.when(F.col("dup_of").isNull(), F.lit(True))
            .otherwise(
                (F.col("dup_of") < F.col(id_col))
                & (cosine(F.col("__va"), F.col("__vb")) >= F.lit(threshold))
            )
            .alias("removed_sound"),
        )
    )
    return (
        sampled.select(
            F.col(id_col), F.col("keep").alias("__skeep")
        )
        .join(snd, F.col(id_col) == F.col("__sid"), "inner")
        .select(
            id_col,
            (~F.col("__skeep")).alias("dup_sampled"),
            "removed_sound",
        )
    )
