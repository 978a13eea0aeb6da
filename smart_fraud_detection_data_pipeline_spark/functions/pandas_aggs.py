"""Arrow GROUPED_AGG pandas UDFs — custom aggregates beyond builtins.

Completes the engine's Arrow UDF surface (mapInPandas for batch
transforms, applyInPandasWithState for streaming state, UDTF for
table functions, and here SCALAR-to-GROUPED_AGG for custom
reductions). Builtins first, always — a pandas aggregate ships
each group's values through Arrow — but a robust statistic with no
Catalyst equivalent (trimmed mean, winsorized variance, custom M-
estimators) is the legitimate use.

`make_trimmed_mean` trims by RANK, not by interpolated quantile value,
deliberately: a count cut (drop the lowest/highest floor(n*trim) rows
under a total (value, id) order) is bit-deterministic across engines,
while quantile-interpolated bounds invite last-bit membership flips.
Money exactness matches the engine-wide convention: per-row integer
cents, summed exactly, divided once.
"""
# NOTE: no `from __future__ import annotations` here — pandas_udf infers
# the GROUPED_AGG flavor from REAL type hints (pd.Series -> float);
# stringified annotations break the inference.


def make_trimmed_mean(trim: float = 0.1):
    """Build a GROUPED_AGG pandas UDF: mean of `value` after dropping
    the lowest and highest floor(n*trim) rows per group, ordered by
    (value, id) so ties cut identically everywhere. Closure, as every
    Python UDF in this engine must be (cloudpickle by-value)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean(v: pd.Series, ids: pd.Series) -> float:
        # NULL values are excluded, matching SQL aggregate semantics
        # (a NaN here would otherwise poison the int64 cents sum —
        # np.rint(nan).astype(int64) is garbage, found by the
        # adversarial-fixture sweep). The oracle filters value IS NOT
        # NULL for the same reason.
        mask = v.notna().to_numpy()
        vs = v.to_numpy()[mask]
        if len(vs) == 0:
            return None
        order = np.lexsort((ids.to_numpy()[mask], vs))
        vs = vs[order]
        k = int(len(vs) * trim)
        kept = vs[k : len(vs) - k] if k else vs
        cents = np.rint(kept * 100).astype("int64").sum()
        return float(cents) / 100.0 / len(kept)

    return trimmed_mean


def make_robust_zscore(schema: str):
    """Build the GROUPED_MAP (applyInPandas) transform: per-group robust
    z-score (value - median) / MAD over micro-unit int64 input ``iv``,
    emitted row-per-row. The grouped-map door, pinned to the hash gate
    the way the UDTF is pinned to its builtin twin.

    Integer-exact protocol (sf0.1 proved double medians are NOT
    cross-engine bit-stable — numpy's (a+b)/2 vs quantile_cont's
    lo+(hi-lo)*0.5 differ by an ulp): work on 2*median so midpoints of
    even-count groups stay integral, form z as a ratio of exact int64s,
    then 6-dp-quantize with floor(x*1e6+0.5)/1e6 — every step is an
    exact-rounded IEEE op with identical inputs on both engines. A
    zero-MAD group (constant values) yields z = 0.0 (explicit zeros;
    int*0.0 would manufacture -0.0, which hashes differently). Closure,
    as every Python UDF in this engine must be (cloudpickle by-value)."""
    import numpy as np
    import pandas as pd

    def robust_z(pdf: pd.DataFrame) -> pd.DataFrame:
        iv = pdf["iv"]
        # Precondition: iv is non-null int64. A NULL anywhere arrives in
        # pandas as float64+NaN, silently degrading the integer-exact
        # protocol (NaN median -> ValueError here; partial NaN -> NaN z
        # where a SQL oracle emits NULL). Callers must filter nulls the
        # same way on both engines (queries.user_robust_zscore does);
        # fail loudly rather than drift (ADVICE r5 #1).
        assert not iv.isna().any(), "robust_z requires non-null iv (filter upstream on both engines)"
        m2 = int(round(2 * iv.median()))  # 2*median: integral by construction
        dev = (2 * iv - m2).abs()
        md2 = int(round(2 * dev.median()))
        if md2 > 0:
            z = (2.0 * (2 * iv - m2)) / md2
            z = np.floor(z * 1e6 + 0.5) / 1e6
        else:
            z = np.zeros(len(pdf))
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "robust_z": z,
            }
        )

    return robust_z
