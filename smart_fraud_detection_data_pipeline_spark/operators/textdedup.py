"""Text deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Extension surface (SURVEY §7 step 6) — the dedup family a training-data
pipeline runs over billions of documents. Four tiers, cheapest first:

1. `exact_dup_groups` — hash-groupBy on normalized text. One shuffle on
   a 32-char digest; at 100 TB this is the always-run first pass.
2. `ngram_jaccard_pairs` — exact all-pairs similarity via an inverted
   shingle index (explode → self-join → count). Exact but quadratic in
   the worst case: the `max_df` cut drops shingles appearing in more
   than N docs (stopword shingles generate almost all join fan-out and
   almost no signal).
3. `minhash_lsh_pairs` — MinHash signatures + banded LSH: candidates
   only where a band collides, then exact Jaccard verification of the
   candidates. Linear-ish in corpus size; the 100 TB path.
4. `simhash` / `simhash_pairs` — 60-bit SimHash per doc + hamming-
   banded near-dup pairs. Cheapest signature; catches small edits.

Cross-engine determinism: all hashing is md5 (available in DuckDB and
Spark); MinHash "permutations" are min-over-md5(i || shingle), so the
DuckDB oracle reproduces signatures exactly. SimHash needs hex→int
(conv), which DuckDB lacks — its oracles rebuild it as an integer fold
over md5 hex digits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.operators.skew import guarded_broadcast, spread_input

DEFAULT_SHINGLE = 3  # tokens per shingle
DEFAULT_PERMS = 8
DEFAULT_BANDS = 4  # 4 bands × 2 rows: at t=0.5 the s-curve gives
# P(candidate) = 1-(1-s^2)^4 ≈ 0.68 (vs 0.41 for 4×3) — better recall
# AND a third fewer md5 evaluations; false positives die in verification


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups: (text_hash, n_docs, canonical_id=min id).

    One shuffle keyed on the digest; map-side partial agg means the
    shuffle carries one row per (partition, hash).
    """
    return (
        df.select(
            F.md5(normalize_text(F.col(text_col)).cast("binary")).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def shingles(
    text: Column, n: int = DEFAULT_SHINGLE, *, toks: Column | None = None
) -> Column:
    """Distinct word n-gram shingles of a document (array<string>).

    Shorter docs produce their full token sequence as one shingle.

    IMPORTANT (measured 8x): the gram transform maps over an index
    SEQUENCE and slices the token array per element — if ``toks`` is an
    inline split expression, Spark's HOF evaluation re-derives it for
    every gram (no CSE into the lambda scope). Callers building a
    DataFrame should pre-project the split into a column and pass it as
    ``toks`` so the lambda slices a cheap attribute (see
    shingle_index / minhash_signatures).
    """
    toks = F.split(F.trim(text), "\\s+") if toks is None else toks
    return F.array_distinct(_gram_list(toks, n))


def _gram_list(toks: Column, n: int, emit=None) -> Column:
    """Every word n-gram of a token array, in order and with repeats: one
    per start position 1..max(size - (n-1), 1), so a doc shorter than n
    yields its whole token sequence as one gram. ``emit(i, words)`` maps
    each start position and its word slice (default: the words joined
    by concat_ws, which turns the slice of a NULL array into '').

    ``toks`` must be a projected attribute, not an inline split — the
    lambda slices it per element (see `shingles`)."""
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))

    def gram(i):
        words = F.slice(toks, i, n)
        return F.concat_ws(" ", words) if emit is None else emit(i, words)

    return F.transform(starts, gram)


def _text_entry(
    df: DataFrame, text_col: str, *cols: str, tokenize: bool = True
) -> DataFrame:
    """The one entry of every text op: NULL text out, the scan spread,
    then (``tokenize``) the whitespace split staged as ``__toks`` next
    to ``cols`` so gram lambdas slice an attribute, not a re-split.
    Without tokenizing it returns (cols, text).

    NULL text is EXCLUDED here — absent content has no gram set and
    must not pair with anything. Without the filter, split(NULL) →
    NULL tokens → concat_ws skips the NULL slice → a NULL-text doc
    manufactures the same '' shingle as an empty-string doc and the
    two spuriously pair at Jaccard 1.0 (adversarial-sweep finding).
    Per-doc gram, hash and fold work is the compute-heavy stage of every
    consumer, so an under-split scan is spread first (no-op at
    production split counts — see spread_input)."""
    df = spread_input(df.where(F.col(text_col).isNotNull()).select(*cols, F.col(text_col)))
    if not tokenize:
        return df
    return df.select(*cols, F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"))


def _staged_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, *extra_cols: str
) -> DataFrame:
    """(id, *extra_cols, __sh): distinct shingles of each non-NULL doc,
    tokenized through `_text_entry`."""
    return _text_entry(df, text_col, id_col, *extra_cols).select(
        F.col(id_col),
        *extra_cols,
        shingles(None, n, toks=F.col("__toks")).alias("__sh"),
    )


def _df_cut(frame: DataFrame, key: str, max_df: int | None) -> DataFrame:
    """Drop the rows whose ``key`` occurs in more than ``max_df`` rows
    (the document-frequency cut; ``None`` keeps everything). Frequent
    keys are the quadratic fan-out of any all-pairs join."""
    if max_df is None:
        return frame
    return (
        frame.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy(key)))
        .where(F.col("__df") <= max_df)
        .drop("__df")
    )


def _in_row_pairs(arr: str, emit) -> Column:
    """explode of ``emit(x, y)`` for every pair of elements of the array
    column ``arr`` with x before y — each unordered pair once, built
    in-row (a self-join would materialize both orders). ``arr`` is
    sorted by the caller, so pairs come out ordered."""
    return F.explode(
        F.flatten(
            F.transform(
                arr,
                lambda x, i: F.transform(
                    F.slice(F.col(arr), i + F.lit(2), F.size(arr)),
                    lambda y: emit(x, y),
                ),
            )
        )
    )


def _verified_jaccard(
    candidates: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    a: str,
    b: str,
    threshold: float,
) -> DataFrame:
    """The candidate pairs whose exact Jaccard reaches ``threshold``,
    with a ``jaccard`` column: each pair joins the (id, sh) shingle set
    of both sides and intersects in-row. The one verifier of every
    candidate generator (prefix, PPJoin, MinHash-LSH, incremental
    probe); the set columns are named sh_<suffix of the id column>, and
    the caller selects what it keeps."""
    sh_a, sh_b = "sh" + a[2:], "sh" + b[2:]
    return (
        candidates.join(sets_a.toDF(a, sh_a), a)
        .join(sets_b.toDF(b, sh_b), b)
        .withColumn("__inter", F.size(F.array_intersect(sh_a, sh_b)))
        .withColumn(
            "jaccard",
            F.col("__inter") / (F.size(sh_a) + F.size(sh_b) - F.col("__inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )


def shingle_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    max_df: int | None = None,
) -> DataFrame:
    """Inverted index (id, shingle), optionally dropping shingles with
    document frequency > max_df (the scale lever: frequent shingles are
    the quadratic fan-out in any all-pairs join)."""
    idx = _staged_shingles(df, text_col, id_col, n).select(
        F.col(id_col), F.explode("__sh").alias("shingle")
    )
    return _df_cut(idx, "shingle", max_df)


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    threshold: float = 0.5,
    max_df: int | None = None,
    method: str = "count",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs ≥ threshold.
    Output (id_a, id_b, jaccard), id_a < id_b. Two exact plans:

    - method="count" (default): full inverted index with 8-byte hashed
      shingle keys → group ids per shingle → generate each co-occurring
      pair ONCE via in-row combinations (a self-join would materialize
      both orders and filter half away — measured 1.85× slower) →
      per-pair intersection COUNTS. No shingle arrays ever shuffled.
      Wins when docs share many shingles (dense corpora — here 5000
      docs yield 1.13M sharing pairs, and counting beats materializing
      candidates then re-verifying). A pathological shingle with huge
      document frequency makes C(df,2) explode — that is exactly what
      the `max_df` cut bounds.
    - method="prefix": AllPairs prefix filtering (Bayardo et al. 2007)
      — under a global shingle order a pair with Jaccard ≥ t must share
      one of each set's first |A| − ⌈t·|A|⌉ + 1 shingles, so only
      prefixes enter the join; candidates verified on full sets via
      array_intersect. Wins on sparse corpora (large vocab, few
      candidates) — the common real-text regime.
    - method="ppjoin": prefix filtering plus the size filter and the
      PPJoin positional filter (Xiao et al., WWW'08) — candidate pairs
      whose positional overlap UPPER BOUND cannot reach the required
      overlap ⌈t/(1+t)·(|A|+|B|)⌉ are pruned before the verification
      join ever fetches shingle arrays. Same output, strictly fewer
      verified pairs; the sparse-corpus scale path.

    Hashed join keys never affect exactness: a cross-doc collision adds
    ~2^-64 per shingle pair (≈1e-11 corpus-wide) and candidate
    over-generation is filtered by verification in the prefix path.
    """
    sets = _staged_shingles(df, text_col, id_col, n).select(
        F.col(id_col).alias("id"), F.col("__sh").alias("sh")
    )
    # AllPairs prefix: a pair with Jaccard >= t shares one of each set's
    # first |A| - ceil(t*|A|) + 1 shingles under a global order
    prefix = F.slice(
        F.array_sort(F.col("sh")),
        1,
        F.size("sh") - F.ceil(F.size("sh") * F.lit(threshold)) + F.lit(1),
    )
    if method == "ppjoin":
        # AllPairs prefix filtering + the PPJoin positional filter
        # (Xiao et al., WWW'08): candidates still come from prefix
        # matches, but each pair is pruned BEFORE the expensive
        # verification join using a positional overlap bound. With m
        # prefix matches whose largest matched shingle sits at sorted
        # positions (ma, mb), every further common shingle is greater,
        # so it lies in the remaining suffixes:
        #   |A ∩ B| <= m + min(|A|-1-ma, |B|-1-mb)
        # Jaccard >= t needs |A ∩ B| >= t/(1+t) * (|A|+|B|); pairs whose
        # bound can't reach that never fetch their shingle arrays. The
        # size (length) filter prunes grossly mismatched pairs first.
        probe = _df_cut(
            sets.select(
                "id",
                F.size("sh").alias("sz"),
                F.posexplode(prefix).alias("pos", "shingle"),
            ),
            "shingle",
            max_df,
        )
        a = probe.select(
            F.col("id").alias("id_a"), F.col("sz").alias("sz_a"),
            F.col("pos").alias("pos_a"), "shingle",
        )
        b = probe.select(
            F.col("id").alias("id_b"), F.col("sz").alias("sz_b"),
            F.col("pos").alias("pos_b"), "shingle",
        )
        matched = a.join(b, "shingle").where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") >= F.ceil(F.col("sz_a") * F.lit(threshold)))
            & (F.col("sz_a") >= F.ceil(F.col("sz_b") * F.lit(threshold)))
        )
        pairs = matched.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("__m"),
            F.max("pos_a").alias("__ma"),
            F.max("pos_b").alias("__mb"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
        required = F.ceil(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("sz_a") + F.col("sz_b"))
        )
        ubound = F.col("__m") + F.least(
            F.col("sz_a") - 1 - F.col("__ma"), F.col("sz_b") - 1 - F.col("__mb")
        )
        candidates = pairs.where(ubound >= required).select("id_a", "id_b")
    elif method == "prefix":
        probe = _df_cut(
            sets.select("id", F.explode(prefix).alias("shingle")), "shingle", max_df
        )
        a = probe.toDF("id_a", "shingle")
        b = probe.toDF("id_b", "shingle")
        candidates = (
            a.join(b, "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    if method in ("ppjoin", "prefix"):
        verified = _verified_jaccard(candidates, sets, sets, "id_a", "id_b", threshold)
        return verified.select("id_a", "id_b", "jaccard")

    idx = _df_cut(
        sets.select(
            "id", F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("hsh")
        ),
        "hsh",
        max_df,
    )
    sizes = sets.select("id", F.size("sh").alias("n"))
    groups = (
        idx.groupBy("hsh")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = groups.select(
        _in_row_pairs("ids", lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))).alias("p")
    ).select("p.id_a", "p.id_b")
    inter = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter"))
    sa = sizes.toDF("id_a", "n_a")
    sb = sizes.toDF("id_b", "n_b")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    num_perm: int = DEFAULT_PERMS,
) -> DataFrame:
    """MinHash signature per document: sig_i = min(md5('pi|' || shingle)).

    min-over-md5 with a per-permutation salt is an order-free, engine-
    portable stand-in for random permutations (public MinHash theory:
    collision probability ≈ Jaccard). Two chained projections per doc,
    no shuffle: the shingle array is materialized as a column FIRST —
    inlining it into each signature expression would re-derive it
    num_perm times (Catalyst doesn't CSE across generated columns here;
    measured 8× slower).
    """
    base = _staged_shingles(df, text_col, id_col, n)
    return base.select(F.col(id_col), *_minhash_sig_cols("__sh", num_perm))


def _minhash_sig_cols(sh: str, num_perm: int) -> list[Column]:
    """sig_0..sig_{num_perm-1}: min over the shingle array ``sh`` of
    md5('p<i>|' || shingle) — the one signature builder of
    `minhash_signatures` and every LSH bucket table."""

    def perm_hash(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"p{i}|"), s).cast("binary"))

    return [
        F.array_min(F.transform(F.col(sh), perm_hash(i))).alias(f"sig_{i}")
        for i in range(num_perm)
    ]


def _salted_band_buckets(
    sets: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, band, key) LSH bucket table from a (id, sh) shingle-set frame.

    ONE builder for every LSH consumer (one-shot pairs AND the
    incremental index/probe paths) so the salted-md5 signature and band
    derivation can never drift between them — the Spark-side twin of
    the oracle's shared-branch rule. Map-only: two chained projections
    plus a bands-wide explode, no shuffle.
    """
    rows = num_perm // bands
    sigs = sets.select(F.col(id_col), *_minhash_sig_cols("sh", num_perm))
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]).cast("binary")
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sigs.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(F.col(id_col), F.col("bk.band"), F.col("bk.key"))


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    num_perm: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """Banded-LSH candidate pairs, verified with exact Jaccard.

    Stages (each one shuffle): band-bucket explode → join on
    (band, key) → distinct candidate pairs → exact verification by
    joining each candidate pair back to the two shingle SETS and
    intersecting in-row (array_intersect) — cost scales with candidate
    count, never with all-pairs. The verification is what makes the
    output deterministic & engine-portable: LSH only decides WHICH
    pairs get scored.
    """
    # The shingle sets feed BOTH signature generation and candidate
    # verification; without materialization Spark recomputes the
    # tokenize+shingle subtree on each side (measured 10.9s → 6.5s at
    # sf0.1). localCheckpoint materializes once, truncates lineage, and
    # unlike persist() leaves nothing registered on a shared session —
    # at cluster scale this is a deliberate, size-bounded spill (ids +
    # shingle arrays only, never payload columns).
    sets = _staged_shingles(df, text_col, id_col, n).select(
        F.col(id_col), F.col("__sh").alias("sh")
    ).localCheckpoint()

    bucket = _salted_band_buckets(sets, id_col, num_perm, bands)
    a = bucket.toDF("id_a", "band", "key")
    b = bucket.toDF("id_b", "band", "key")
    candidates = (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = _verified_jaccard(candidates, sets, sets, "id_a", "id_b", threshold)
    return verified.select("id_a", "id_b", "jaccard")


def minhash_index(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    num_perm: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
) -> tuple[DataFrame, DataFrame]:
    """The persistent dedup index of a corpus: (buckets, shingle_sets).

    `buckets` is the (id, band, key) LSH table, `shingle_sets` the
    (id, sh) sets used for exact verification. In production both are
    written once (partitioned/bucketed by (band, key) resp. id) and
    re-read for every incoming delta — the index is built O(corpus)
    ONCE, not per batch; `incremental_minhash_dedup` only ever joins
    against it.
    """
    # an id-less document cannot key an index entry (and could never be
    # reported as dup_of) — excluded, like NULL text is by the shingler
    sets = _staged_shingles(
        df.where(F.col(id_col).isNotNull()), text_col, id_col, n
    ).select(F.col(id_col), F.col("__sh").alias("sh"))
    return _salted_band_buckets(sets, id_col, num_perm, bands), sets


def minhash_index_compact(
    index: tuple[DataFrame, DataFrame],
    deletes: DataFrame,
    *,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Tombstone compaction for the persistent dedup index (VERDICT r8
    #4, the index-maintenance twin of merge_upsert(delete_col=)): drop
    every bucket row and shingle set belonging to a retracted document,
    so a growing 100 TB corpus can FORGET — a subsequent probe of the
    deleted text is admitted as novel instead of rejected against a
    ghost entry, and the retracted ids can be re-used by new content.

    Both legs are anti-joins on the id: the buckets table stores one
    row per (id, band, key), so removing a document's rows removes its
    band entries outright — no partially-empty posting rows can remain
    by construction. In production (buckets partitioned/bucketed by
    (band, key), sets by id) the sets leg co-locates on its bucketing
    and the buckets leg is the one keyed shuffle of the tombstone
    batch, O(deletes) not O(index); no broadcast hint so AQE picks the
    strategy from the actual tombstone size (broadcast-size-guard
    rule). NULL tombstone ids are inert (an id-less doc never indexes —
    null-safe routing both here and in the probe contract).
    """
    buckets, sets = index
    tomb = (
        deletes.select(F.col(id_col))
        .where(F.col(id_col).isNotNull())
        .distinct()
    )
    return (
        buckets.join(tomb, id_col, "left_anti"),
        sets.join(tomb, id_col, "left_anti"),
    )


def incremental_minhash_dedup(
    base: DataFrame | None,
    delta: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    num_perm: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    index: tuple[DataFrame, DataFrame] | None = None,
    within_delta: bool = True,
) -> DataFrame:
    """Cross-snapshot incremental dedup: admit or reject a DELTA batch
    against an existing corpus index without ever re-pairing the base.

    The production flow at 100 TB: the corpus is deduped once, its
    MinHash index persisted (`minhash_index`), and each incoming batch
    is probed against it — work per batch is O(delta) signature
    generation plus candidate-bounded verification, never O(corpus²)
    or even O(corpus) re-shuffle (the bucket join streams only the
    matching (band, key) groups of the index).

    Deterministic contract (hash-gate-portable): a delta document is
    REJECTED iff some base document, or some LOWER-id delta document,
    has exact word-n-gram Jaccard >= threshold among its LSH
    candidates; `dup_of` is the smallest such id, NULL for admitted
    docs. Base/delta ids must be disjoint. NULL-text delta docs are
    excluded entirely (no shingles, no membership — the text-op entry
    rule). Output: one row per non-NULL-text delta doc
    (id, dup_of, keep).

    ``index`` overrides the internally-built (buckets, sets) pair with
    a pre-persisted one; ``base`` is ignored when given.
    ``within_delta=False`` restricts rejection to BASE matches only —
    the contract for batch-split-independent streaming ingest, where
    each micro-batch is probed against the index in isolation (a
    delta-internal rule would make the output depend on where the
    micro-batch boundary fell).
    """
    if index is None:
        index = minhash_index(
            base, text_col=text_col, id_col=id_col, n=n,
            num_perm=num_perm, bands=bands,
        )
    base_buckets, base_sets = index
    # Delta sets feed signatures AND verification (same CSE hazard as
    # the one-shot path) — materialize once, lazily: no action here, as a
    # streaming probe runs this per micro-batch. NULL-id delta docs are
    # excluded like the index side: without a key there is nothing to
    # admit or reject deterministically.
    delta_sets = _staged_shingles(
        delta.where(F.col(id_col).isNotNull()), text_col, id_col, n
    ).select(F.col(id_col), F.col("__sh").alias("sh")).localCheckpoint(eager=False)
    delta_buckets = _salted_band_buckets(delta_sets, id_col, num_perm, bands)

    d = delta_buckets.toDF("id_d", "band", "key")
    others = base_buckets.toDF("id_o", "band", "key").withColumn("side", F.lit(0))
    if within_delta:
        others = others.unionByName(
            delta_buckets.toDF("id_o", "band", "key").withColumn("side", F.lit(1))
        )
    candidates = (
        d.join(others, ["band", "key"])
        # every base match counts; delta-internal matches only earlier ids
        .where((F.col("side") == 0) | (F.col("id_o") < F.col("id_d")))
        .select("id_d", "id_o")
        .distinct()
    )
    others_sets = base_sets.select(F.col(id_col), F.col("sh"))
    if within_delta:
        others_sets = others_sets.unionByName(delta_sets)
    dups = (
        _verified_jaccard(candidates, delta_sets, others_sets, "id_d", "id_o", threshold)
        .groupBy("id_d")
        .agg(F.min("id_o").alias("dup_of"))
    )
    return (
        delta_sets.select(F.col(id_col))
        .join(dups, F.col(id_col) == F.col("id_d"), "left")
        .select(id_col, "dup_of", F.col("dup_of").isNull().alias("keep"))
    )


# --- SimHash (oracle rebuilds hex→int as a fold over md5 hex digits) -------

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit long


def simhash(text: Column) -> Column:
    """60-bit SimHash of the whitespace tokens, as a long.

    Pure higher-order-function fold — per row: token hash via
    conv(md5[:15], 16, 10), ±1 vote per bit, then bit reassembly. No
    shuffle, no UDF; at 100 TB this is a map-only projection.
    """
    toks = F.split(F.trim(text), "\\s+")
    # Hash each token ONCE up front (md5+conv is the expensive part; doing
    # it inside the per-bit lambda would recompute it 60× per token).
    tok_hashes = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10).cast("long"),
    )
    # Literal per-bit masks (shiftleft/shiftright only take Python-int
    # shift amounts, so bit tests use AND against constants instead).
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
            ),
            lambda x, y: x + y,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


#: Pigeonhole band ladder: chunk counts that divide SIMHASH_BITS,
#: smallest first. For a corpus of n signatures and hamming budget h,
#: a pair within h must fully agree on some (c−h)-subset of the c
#: chunks, so the join keys are those subsets' concatenated bits —
#: C(c, c−h) keys per doc of width (60/c)·(c−h) bits. Under a
#: uniform-hash idealization the candidate-pair count is
#: C(c,h) · n² / 2^keybits, so each rung c is good (≤ ~n candidates,
#: i.e. LINEAR total work) up to n ≈ 2^keybits / C(c,h). Real corpora
#: concentrate far above that idealization — similar-but-not-duplicate
#: docs share chunk values, and every true pair recurs in up to C(c,h)
#: combos — so the budget is divided by SIMHASH_BAND_SAFETY, calibrated
#: on the round-12 x10/x30 fixtures (measured candidates/doc: c=4 grew
#: 55→169→350 across 5k→50k→150k docs; c=5 8→19→27; c=6 stayed flat
#: 3→7.9→8.1, at its true-pair multiplicity floor). With safety 16 the
#: rungs cover n ≤ 512 (c=4), ≤ 1.0e5 (c=5), ≤ 3.4e6 (c=6),
#: ≤ 2.3e9 (c=10; 120-way fan-out is the completeness price at that
#: scale). The OUTPUT never depends on the rung — banding only
#: generates candidates; the exact hamming filter decides.
SIMHASH_BAND_LADDER = (4, 5, 6, 10)
SIMHASH_BAND_SAFETY = 16


def _simhash_band_chunks(n: int, max_hamming: int) -> int:
    """Smallest ladder rung whose uniform-hash candidate budget stays
    linear at corpus size ``n`` (see SIMHASH_BAND_LADDER); the top rung
    caps the fan-out. A hamming budget at or above every rung has no
    complete subset scheme — fall back to the classic wide bands
    (best-effort incomplete probe, the pre-round-12 behavior)."""
    from math import comb

    eligible = [c for c in SIMHASH_BAND_LADDER if c > max_hamming]
    if not eligible:
        return SIMHASH_BAND_LADDER[0]
    for c in eligible:
        keybits = (SIMHASH_BITS // c) * (c - max_hamming)
        if n <= (1 << keybits) // (comb(c, max_hamming) * SIMHASH_BAND_SAFETY):
            return c
    return eligible[-1]


def simhash_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Generalized pigeonhole banding (VERDICT r11 #1): split the 60-bit
    hash into ``chunks`` equal chunks; a pair within hamming ≤
    max_hamming leaves at most max_hamming chunks touched, so it fully
    agrees on some (chunks − max_hamming)-subset — the join keys are
    those subsets' concatenated chunk bits, never all-pairs. With
    chunks − max_hamming == 1 this degenerates to the classic
    one-chunk-agrees scheme (round 8's fixed shape). Candidates are
    verified by exact hamming, so the OUTPUT is identical at every
    rung — banding is pure candidate generation, which is why the
    DuckDB oracle can keep its own fixed 4-chunk mirror.

    ``chunks=None`` (default) auto-sizes the rung from the corpus
    count (one cheap count over the already-checkpointed signature
    frame): the round-11 x10 audit measured shufRec/inRec 0.034→0.095
    under the FIXED 4-chunk scheme because band-bucket occupancy grows
    linearly and within-bucket candidates quadratically; climbing a
    rung multiplies the key space by ~2^9 while the per-doc fan-out
    only grows 4→10→20, collapsing the quadratic term (round-12
    measured at 150k docs: raw candidates 52.6M → 1.2M, end-to-end
    wall 56-65s → 43s; see SIMHASH_BAND_LADDER for the budget math
    and its measured calibration). An explicit
    ``chunks`` ≤ max_hamming keeps the one-chunk-agrees join as a
    best-effort incomplete probe (the pigeonhole guarantee needs
    chunks > max_hamming; callers opting into a wide hamming budget on
    a narrow band structure accept recall < 1, as before).

    The per-doc simhash is localCheckpoint-ed: both sides of the
    self-join need it, and recomputing the token-hash fold doubles the
    cost (measured 6.5s → 2.2s at sf0.1); unlike persist() nothing
    stays registered on a shared session. The auto-sizing count rides
    the same materialization.
    """
    from itertools import combinations

    # NULL text has no signature — excluded by _text_entry
    base = (
        _text_entry(df, text_col, id_col, tokenize=False)
        .select(F.col(id_col), simhash(F.col(text_col)).alias("simhash"))
        .localCheckpoint()
    )
    if chunks is None:
        chunks = _simhash_band_chunks(base.count(), max_hamming)
    width = SIMHASH_BITS // chunks
    combo_size = max(chunks - max_hamming, 1)
    combos = list(combinations(range(chunks), combo_size))

    def _combo_key(combo: tuple[int, ...]) -> Column:
        key = F.lit(0).cast("long")
        for c in combo:
            chunk_val = F.shiftright(F.col("simhash"), c * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            key = F.shiftleft(key, width).bitwiseOR(chunk_val)
        return key

    chunked = base.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk"),
                        _combo_key(combo).alias("key"),
                    )
                    for j, combo in enumerate(combos)
                ]
            )
        ).alias("ck"),
    ).select(F.col(id_col), "simhash", F.col("ck.chunk"), F.col("ck.key"))
    a = chunked.toDF("id_a", "sim_a", "chunk", "key")
    b = chunked.toDF("id_b", "sim_b", "chunk", "key")
    return (
        a.join(b, ["chunk", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def cross_corpus_containment(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: for each eval document, the fraction
    of its distinct word n-grams that appear ANYWHERE in the training
    corpus (the asymmetric cousin of dedup — containment of eval in
    train, not pairwise similarity).

    Scale shape: the eval set is always tiny next to a 100 TB training
    corpus, so the train side is NEVER shuffled. The distinct eval
    n-gram set broadcasts into a map-side semi-join over the exploded
    train corpus; the surviving ("contaminated") n-grams — at most
    |eval grams|, small — aggregate and broadcast back onto the eval
    grams. Two broadcast joins, zero train-side exchanges; the only
    shuffles are over eval-sized frames. Grams travel as xxhash64 keys,
    never strings (8 bytes instead of tens; same ~2^-64-per-pair
    collision budget the exact-Jaccard count path documents).

    Returns (id, n_grams, n_hit, hit_frac, contaminated); hit_frac is
    rounded to 6 dp for cross-engine hash stability.
    """
    ev_grams = _staged_shingles(eval_df, text_col, id_col, n).select(
        F.col(id_col),
        F.explode(
            F.transform("__sh", lambda s: F.xxhash64(s))
        ).alias("shingle"),
    )
    ev_gram_set = ev_grams.select("shingle").distinct()
    hit_grams = (
        # NULL text contributes no grams on either side (_text_entry).
        # Without it, split(NULL) → slice → concat_ws manufactures the ''
        # gram, so a NULL-text train doc spuriously "contains" every
        # empty-string eval doc (fuzz seed 6007 caught the mirror-image
        # hole in doc_decontaminate_bloom, whose exact side feeds the
        # eval corpus through this argument).
        _text_entry(train, text_col)
        .select(
            F.explode(
                F.transform(
                    shingles(None, n, toks=F.col("__toks")),
                    lambda s: F.xxhash64(s),
                )
            ).alias("shingle")
        )
        .join(F.broadcast(ev_gram_set), "shingle", "left_semi")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    frac = F.round(
        F.col("n_hit").cast("double") / F.col("n_grams").cast("double"), 6
    )
    return (
        ev_grams.join(F.broadcast(hit_grams), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .withColumn("hit_frac", frac)
        .withColumn("contaminated", F.col("hit_frac") >= threshold)
    )


def bloom_contamination_flags(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    m_bits: int = 1 << 18,
    k_hashes: int = 5,
) -> DataFrame:
    """Map-only training-corpus decontamination via a Bloom filter:
    flag every TRAIN document sharing at least one word n-gram with the
    eval corpus. Returns (id, n_grams, bloom_hit).

    The scale story this buys over `cross_corpus_containment`'s exact
    broadcast semi-join: the broadcast payload is a FIXED m-bit bitmap
    (default 2^18 bits = 32 KB) regardless of how many distinct eval
    grams there are, and the train side needs no join at all — each
    train partition probes the bitmap in-row (exists/forall HOFs inside
    whole-stage codegen), so a 100 TB train scan stays a single map
    stage with zero exchanges on its lineage. The trade: false
    POSITIVES at rate ~(1 - e^(-k·G/m))^k per gram (G = distinct eval
    grams); false negatives are impossible — any gram actually present
    in the eval set has all k of its bits set by construction. Size
    m_bits ≈ 10 bits per expected eval gram for ~1% FPR; the flagged
    set is then re-verified exactly (eval grams only) or simply
    dropped, the standard conservative choice for decontamination.

    Build shape: eval grams hash to k = {k_hashes} bit positions
    (xxhash64(gram, i) mod m); positions fold into 64-bit words with a
    map-side `bit_or` partial agg, so the driver collects at most
    m/64 rows (4096 longs at the default) — bounded by the filter
    size, never by the eval corpus. The bitmap ships back as ONE
    broadcast 1-row DataFrame (array<bigint>), not a literal tree: a
    262144-bit literal would cost seconds of driver time in py4j
    round-trips (see the ANN centroid rule), while a broadcast-
    crossJoin is a single 32 KB exchange. The probe indexes that
    projected attribute inside the lambda — per the staged-HOF rule,
    an attribute slice is O(1) per element, no re-evaluation.

    NULL text is excluded on BOTH sides by `_text_entry` (absent
    content has no gram set); an empty eval corpus yields an all-zero
    bitmap and flags nothing. Hash basis is xxhash64 (Spark-side only;
    the oracle never recomputes positions — the registered query
    certifies through the no-false-negative contract instead, the
    sketch/ANN self-check pattern).
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    spark = train.sparkSession
    n_words = m_bits // 64
    # --- build: eval grams -> k positions -> 64-bit words (<= m/64 rows)
    word_rows = (
        _staged_shingles(eval_df, text_col, id_col, n)
        .select(F.explode("__sh").alias("__g"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k_hashes - 1)),
                    lambda i: F.pmod(
                        F.xxhash64(F.col("__g"), i), F.lit(m_bits)
                    ),
                )
            ).alias("p")
        )
        .groupBy(F.shiftright(F.col("p"), 6).alias("w_idx"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))"
            ).alias("word")
        )
        .collect()
    )
    by_idx = {int(r["w_idx"]): int(r["word"]) for r in word_rows}
    words = [by_idx.get(i, 0) for i in range(n_words)]
    bloom = spark.createDataFrame([(words,)], "__bw array<bigint>")
    # --- probe: one hash per (gram, i), bit test against the attribute
    probe = (
        f"exists(__sh, g -> forall("
        f"transform(sequence(0, {k_hashes - 1}),"
        f" i -> pmod(xxhash64(g, i), {m_bits})),"
        f" p -> ((element_at(__bw, CAST(shiftright(p, 6) AS INT) + 1)"
        f" >> CAST(p % 64 AS INT)) & 1) = 1))"
    )
    return (
        _staged_shingles(train, text_col, id_col, n)
        .crossJoin(F.broadcast(bloom))
        .select(
            F.col(id_col),
            F.size("__sh").cast("bigint").alias("n_grams"),
            F.expr(probe).alias("bloom_hit"),
        )
    )


def winnow_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    w: int = 12,
    min_shared: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints
    (Schleimer et al., SIGMOD'03 — the MOSS plagiarism-detector scheme).
    Output (doc_a, doc_b, shared_fps), doc_a < doc_b.

    Unlike whole-set Jaccard, winnowing detects PARTIAL overlap: any
    shared substring of length >= k + w - 1 guarantees a shared
    fingerprint regardless of how different the rest of the documents
    are, and the fingerprint set is ~2/(w+1) the size of the full
    shingle set — the index this builds is an order of magnitude
    smaller than `ngram_jaccard_pairs`' for the same corpus.

    Scale shape: selection is map-only (in-row HOF fold,
    textstats.winnow — no per-gram rows ever exist), then an inverted
    index on the fingerprint groups doc ids per fingerprint and
    `_in_row_pairs` emits each co-occurring pair once — a self-join
    would materialize both orders. One shuffle on the fingerprint, one
    on the (doc_a, doc_b) pair. `max_df` bounds the C(df,2) blowup of a
    fingerprint shared by many documents (boilerplate headers), applied
    to the id list size rather than through `_df_cut`.

    The SELECTION runs over md5 strings (lexicographic window-min —
    the engine-portable scheme doc_winnow's oracle reproduces), but the
    exchange key is xxhash64 of the selected fingerprint: 8 bytes
    instead of a 32-char hex string (VERDICT r5 #4/r6 #3 — measured
    7.5 MB → 3.3 MB shuffle write on doc_winnow_pairs at sf0.1).
    Grouping by an injective-modulo-2^-64 image of the fingerprint
    yields identical groups, so the PAIRS — the part the oracle
    hash-checks — are unchanged; the same collision budget as the
    Jaccard count path's hashed keys applies.
    """
    from smart_fraud_detection_data_pipeline_spark.operators.textstats import kgram_hashes, winnow

    # NULL text has no fingerprints — excluded by _text_entry, whose
    # spread parallelizes the md5-per-k-gram + window-min fold (VERDICT
    # r12 Next #5's x10 3-task wall was exactly this stage).
    hashed = _text_entry(df, text_col, id_col, tokenize=False).select(
        F.col(id_col).alias("id"), kgram_hashes(F.col(text_col), k).alias("__h")
    )
    fps = hashed.select(
        "id",
        F.explode(
            F.transform(winnow(F.col("__h"), w), lambda s: F.xxhash64(s))
        ).alias("fp"),
    )
    groups = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_df is not None:
        groups = groups.where(F.size("ids") <= max_df)
    pairs = groups.select(
        _in_row_pairs("ids", lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("int").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 20,
    threshold: float = 0.2,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity via an inverted-index join — the
    lexical near-dup tier between token-set Jaccard (structure-blind)
    and embedding cosine (needs a model). Cites the same capability the
    reference's dedup keys only gesture at (consumer.py:87-92 dedups on
    exact transaction_id; this scores *content* overlap).

    Pipeline: tokens → TF → smoothed IDF (the doc_tfidf formula) →
    per-token posting lists (one shuffle) → in-row pair expansion →
    per-pair dot aggregation (one shuffle on the pair key) → norm join.
    NOT a self-join: each posting list emits its C(df,2) pairs in-row,
    each pair once (sorted by doc id), so the join never materializes
    both orders and never shuffles the weight table twice.

    Scale levers: ``max_df`` drops tokens shared by more than that many
    docs — they cost quadratic pairs and carry the least IDF signal
    (prefix-filtering's big brother; the `_df_cut` lever, applied here
    to the distinct-doc count). Cosine is computed over the
    max_df-FILTERED vector space on both the dot and the norms, so it
    is a well-defined similarity there, rounded to 6 dp through DECIMAL
    sums so both engines agree bit-for-bit (hash gate, not recall gate).

    Every exchange keys on the 8-byte xxhash64 of the token, never the
    token string (the ngram_jaccard "count"-path discipline, VERDICT r7
    #4): TF, document frequency and the posting lists all group on the
    hash, and the token text never leaves the tokenize projection. A
    cross-doc collision perturbs one tf/df count with probability
    ~2^-64 per token pair — the same accepted bound documented for the
    hashed shingle index.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.split(F.trim(F.col(text_col)), r"\s+"),
                lambda t: F.xxhash64(t),
            )
        ).alias("token"),
    )
    n_docs = df.count()
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.groupBy("token")
        .agg(F.count_distinct("id").alias("doc_freq"))
        .where(F.col("doc_freq") <= max_df)
    )
    idf = (
        F.log(
            (F.lit(float(n_docs)) + F.lit(1.0))
            / (F.col("doc_freq").cast("double") + F.lit(1.0))
        )
        + F.lit(1.0)
    )
    # The weight frame feeds BOTH the norm aggregation and the posting
    # lists; Catalyst does not CSE shared subplans (CLAUDE.md invariant),
    # so without materialization the tokenize→TF→IDF pipeline runs once
    # per consumer (measured: 13 exchanges vs 6). localCheckpoint (the
    # graph.py discipline) materializes it once and frees with the DF —
    # unlike persist() it leaves nothing registered on a shared session.
    w = (
        tf.join(F.broadcast(dfreq), "token")
        .select("id", "token", (F.col("tf").cast("double") * idf).alias("wt"))
        .localCheckpoint()
    )
    norm = w.groupBy("id").agg(
        F.sqrt(
            F.sum(F.expr("CAST(round(wt * wt, 6) AS DECIMAL(18,6))")).cast("double")
        ).alias("nrm")
    )
    posting = w.groupBy("token").agg(
        F.sort_array(F.collect_list(F.struct("id", "wt"))).alias("ps")
    ).where(F.size("ps") > 1)
    pairs = posting.select(
        _in_row_pairs(
            "ps",
            lambda x, y: F.struct(
                x["id"].alias("doc_a"),
                y["id"].alias("doc_b"),
                (x["wt"] * y["wt"]).alias("p"),
            ),
        ).alias("pr")
    ).select("pr.doc_a", "pr.doc_b", "pr.p")
    dots = pairs.groupBy("doc_a", "doc_b").agg(
        F.sum(F.expr("CAST(round(p, 6) AS DECIMAL(18,6))")).cast("double").alias("dot")
    )
    na = norm.select(F.col("id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norm.select(F.col("id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )


def repeated_passages(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 8,
    min_df: int = 2,
    broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """Exact repeated-passage (boilerplate) detection: every ``length``-
    token passage occurring in at least ``min_df`` distinct documents,
    with exact counts — (passage, n_docs, n_occurrences). The corpus-
    level counterpart of `winnow_pairs` (which finds PAIRS sharing
    fingerprints): this names the shared strings themselves, the
    report a training-data pipeline uses to strip headers/footers/
    licence blocks before dedup (cf. Lee et al. 2021's repeated-
    substring dedup, restricted to fixed-length windows so it stays
    one aggregation instead of a suffix array).

    Scale shape: passages are counted OCCURRENCE-wise (not per-doc
    distinct — a footer repeated inside one doc still counts), and the
    corpus-wide exchange carries xxhash64 keys, never strings (8 bytes
    vs ~tens; the module's standard ~2^-64 collision budget, which the
    DuckDB oracle would expose as a hash mismatch anyway). Passage
    TEXT is recovered only for the qualifying set: the stats frame
    (bounded by the boilerplate vocabulary, orders of magnitude
    smaller than the corpus) broadcasts back onto a map-side join of
    the gram stream, so the only strings that ever reach an exchange
    are the QUALIFYING passages themselves — and map-side partial agg
    collapses those to one row per (partition, passage) first.

    The broadcast is GUARDED (VERDICT r7 #7, `skew.guarded_broadcast`):
    a pathological corpus (min_df=2 over near-unique long documents) can
    qualify a stats frame far beyond any broadcast budget, so stats is
    localCheckpoint-ed (eager materialize, block frees with the frame —
    ADVICE r8), counted once over the checkpoint the join then reuses,
    and above ``broadcast_limit`` rows the recovery join falls back to a
    shuffle hash join on the 8-byte key instead of a driver-side OOM.
    Same output either way.

    Docs shorter than ``length`` contribute their whole token sequence
    as one passage (the `shingles` convention); NULL text is excluded
    on entry like every text op."""
    grams = _gram_list(F.col("__toks"), length)
    stream = (
        _text_entry(df, text_col, id_col)
        .select(F.col(id_col), F.explode(grams).alias("__g"))
        .select(F.col(id_col), F.col("__g"), F.xxhash64("__g").alias("__h"))
    )
    _, right = guarded_broadcast(
        stream.groupBy("__h")
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_df),
        broadcast_limit,
    )
    return (
        stream.select("__g", "__h")
        .join(right, "__h")
        .groupBy("__g", "n_docs", "n_occurrences")
        .agg(F.lit(1).alias("__one"))
        .select(F.col("__g").alias("passage"), "n_docs", "n_occurrences")
    )


def strip_boilerplate(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 8,
    min_df: int = 2,
    broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """The CLEANING half of repeated-passage detection (round 11): for
    each document, remove every token covered by any ``length``-token
    passage that occurs in ≥ ``min_df`` distinct documents — the
    strip-headers/footers/licence-blocks pass a training pipeline runs
    between `repeated_passages`' report and dedup (Lee et al. 2021's
    ExactSubstr dedup restricted to fixed-length windows, applied as
    token-coverage removal). Output: (id, clean_text, n_removed), one
    row per non-NULL-text input document; docs with nothing to strip
    pass through verbatim, fully-boilerplate docs come back as ''.

    Scale shape mirrors `repeated_passages`: the corpus-wide exchange
    for the passage statistics carries 8-byte xxhash64 keys; the
    qualifying set (bounded by the boilerplate vocabulary) broadcasts
    back onto the per-doc gram stream (guarded above
    ``broadcast_limit`` rows — shuffle join fallback, same output);
    covered-position reconstruction is then per-doc map-only array
    work. Same shingles convention: a doc shorter than ``length``
    contributes its whole token sequence as one gram at position 1
    (which, if it qualifies, covers the whole doc); NULL text is
    excluded on entry.

    Collision budget (ADVICE r11): because this op REWRITES text (a
    collision would strip non-boilerplate tokens, not just miscount),
    passages qualify by TWO independent 8-byte hashes — xxhash64(gram)
    and xxhash64('b2', gram) (multi-arg xxhash64 chains the seed, an
    independent function) — so a silent wrong-strip needs a
    simultaneous 128-bit collision (~2^-128 per pair), while the
    DuckDB oracle qualifies by the gram STRING itself and would
    surface any single-hash collision as a hash-gate failure.

    The kept-token filter is a position-set difference —
    ``array_except(sequence(1, ntok), __rm)`` (JVM hash-set build over
    __rm, one probe per position: O(ntok + |rm|), order-preserving) —
    then an element_at gather; VERDICT r11 #3 replaced the per-token
    ``array_contains`` probe that was O(ntok·|rm|) on a long
    fully-boilerplate doc.
    """
    toks = _text_entry(df, text_col, id_col)
    pos_grams = _gram_list(
        F.col("__toks"),
        length,
        lambda i, w: F.struct(i.alias("pos"), F.concat_ws(" ", w).alias("g")),
    )
    # gram built ONCE per position, both hashes taken from the
    # projected value after the explode (HOF staging discipline)
    stream = toks.select(
        F.col(id_col), F.explode(pos_grams).alias("__pg")
    ).select(
        F.col(id_col),
        F.col("__pg.pos").alias("__pos"),
        F.xxhash64(F.col("__pg.g")).alias("__h"),
        F.xxhash64(F.lit("b2"), F.col("__pg.g")).alias("__h2"),
    )
    _, right = guarded_broadcast(
        stream.groupBy("__h", "__h2")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_df)
        .select("__h", "__h2"),
        broadcast_limit,
    )
    doc_starts = (
        stream.join(right, ["__h", "__h2"])
        .groupBy(id_col)
        .agg(F.collect_set("__pos").alias("__starts"))
    )
    # removed-position set, staged as a projected attribute before the
    # token filter (the CLAUDE.md HOF rule: a lambda that probes an
    # outer array re-evaluates its expression per element otherwise)
    staged = (
        toks.join(doc_starts, id_col, "left")
        .select(
            F.col(id_col),
            "__toks",
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.coalesce("__starts", F.array().cast("array<int>")),
                        lambda s: F.sequence(s, s + F.lit(length - 1)),
                    )
                )
            ).alias("__rm"),
        )
    )
    # kept positions = sequence(1..ntok) minus the removed set, one
    # hash-set difference per doc (order-preserving, inputs already
    # distinct), then an O(1)-per-position element_at gather
    staged2 = staged.select(
        F.col(id_col),
        "__toks",
        F.size("__toks").alias("__ntok"),
        F.array_except(
            F.sequence(F.lit(1), F.size("__toks")), F.col("__rm")
        ).alias("__keep"),
    )
    return staged2.select(
        F.col(id_col),
        F.concat_ws(
            " ",
            F.transform(F.col("__keep"), lambda i: F.element_at("__toks", i)),
        ).alias("clean_text"),
        (F.col("__ntok") - F.size("__keep")).cast("long").alias("n_removed"),
    )
