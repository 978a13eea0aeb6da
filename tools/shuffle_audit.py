"""Measured shuffle/spill audit over the headline batch queries.

PLAN_AUDIT.md proves the *shape* of every physical plan (broadcasts
where expected, no cartesian products, pushed filters). This tool
measures what those plans actually *move*: per-query aggregate task
metrics from the registry runner's records (tools/runner.py) — input
bytes, shuffle read/write bytes, memory/disk spill, task count — so
the 100 TB story rests on numbers, not inference. At scale the dominant cost of a distributed
plan is bytes exchanged; a query whose shuffle volume is a small
fraction of its input survives a 1000× scale-up, one that shuffles its
whole input does not.

Method: tools/runner.py runs each query to the noop sink and books
every stage its build, exec and micro-batch jobs completed to it.

Hard checks (exit non-zero on violation):
- queries tagged ``map_only`` must report ZERO shuffle write bytes;
- queries tagged ``spread_map`` (map work behind skew.spread_input's
  conditional round-robin of an under-split scan — r13) must shuffle
  NO MORE RECORDS than they read: the spread moves each pruned input
  row exactly once and adds no keyed exchange. At production split
  counts the guard is a no-op and the plan is map_only again;
- no query may spill to disk at the audited SF (a spill here means
  partition sizing is badly wrong);
- ``warehouse_load_incremental`` must read strictly less input than
  ``warehouse_load`` (partition pruning must reach the file scan).
- no audited query may fail, nor any of its stages.

Usage: python tools/shuffle_audit.py [sf_dir] [query ...]
Writes SHUFFLE_AUDIT.md at the repo root and prints a one-line summary.
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from smart_fraud_detection_data_pipeline_spark import get_spark  # noqa: E402
from tools import runner  # noqa: E402

#: Audited queries → (shape tag, why this shape is the scale story).
#: Tags: map_only = no exchange at all; broadcast_join = dims broadcast,
#: fact side never shuffles; partial_agg = map-side combine then one
#: keyed exchange of partial aggregates; topk = per-partition limit then
#: single tiny final; keyed_shuffle = one full exchange on the dedup/
#: window key (irreducible for exact semantics); bounded_candidates =
#: inverted-index/bucket blocking, exchange carries candidates not
#: all-pairs; composite = multi-stage pipeline of the above.
HEADLINE: dict[str, tuple[str, str]] = {
    "scan_filter_project": ("map_only", "filter+project pushed to scan"),
    "doc_profile": ("spread_map", "per-doc JVM column expressions; conditional input spread (fingerprint fold)"),
    "events_pii_redact": ("spread_map", "JVM regex over rows; conditional input spread"),
    "doc_winnow": ("spread_map", "per-doc fingerprinting; conditional input spread"),
    "fraud_enrich": ("broadcast_join", "dims broadcast; fact never shuffles"),
    "embed_cosine_topk": ("broadcast_join", "query side broadcast (exact tier)"),
    "pricing_summary": ("partial_agg", "6-col rollup, partial agg first"),
    "user_spend_trends": ("partial_agg", "windowed agg, map-side combine"),
    "doc_dedup_exact": ("partial_agg", "md5 groupBy"),
    "top_customers": ("topk", "TakeOrderedAndProject"),
    "dedup_keep_last": ("keyed_shuffle", "row_number over key"),
    "nation_year_profit": ("composite", "TPC-H Q9 multi-join"),
    "salted_user_join": ("composite", "salted skew join"),
    "doc_minhash_lsh": ("bounded_candidates", "banded LSH buckets"),
    "doc_ngram_jaccard_capped": ("bounded_candidates", "inverted index, max_df cut"),
    "doc_simhash_pairs": (
        "bounded_candidates",
        "auto-rung pigeonhole bands; residual shuffle = true pairs (output-bound)",
    ),
    "doc_tfidf_cosine_pairs": ("bounded_candidates", "posting-list prefix cut"),
    "doc_winnow_pairs": ("bounded_candidates", "fingerprint inverted index"),
    "embed_srp_ann": ("bounded_candidates", "SRP hamming buckets"),
    "corpus_training_export": ("composite", "clean→split→pack pipeline"),
    "doc_decontaminate": ("broadcast_join", "exchange is eval-side grams only (fixed-size); train side map-only semi-join"),
    "asof_last_purchase": ("keyed_shuffle", "union+window as-of, one exchange on key"),
    "user_scd2_intervals": ("keyed_shuffle", "one sort exchange, then map-shaped intervals"),
    "user_txn_velocity": ("keyed_shuffle", "RANGE frame on one user_id exchange"),
    "session_windows": ("keyed_shuffle", "gap sessionization per user"),
    "orders_cube": ("partial_agg", "cube grouping after partial agg"),
    "salted_category_totals": ("partial_agg", "salted two-stage agg"),
    "warehouse_load": ("composite", "full-prefix rescan (reference contract)"),
    "warehouse_load_incremental": ("composite", "partition-pruned incremental"),
    # round 7
    "multimodal_image_decode": ("map_only", "Arrow decode; payload never shuffles"),
    "asof_last_purchase_bucketed": (
        "keyed_shuffle",
        "(key,bucket) merge + bucket-granular broadcast carry (hot-key split)",
    ),
    "error_burst_window_bucketed": (
        "bounded_candidates",
        "(key,bucket) interval join; pair output inherent, fan-out bounded per bucket",
    ),
    "embed_semantic_dedup": (
        "bounded_candidates",
        "cluster equi-join: pair cost Σ cluster², assignment map-only",
    ),
    "doc_dedup_incremental": (
        "bounded_candidates",
        "(band,key) index probe: delta-side work only, base never re-paired",
    ),
    "doc_decontaminate_bloom": (
        "broadcast_join",
        "fixed 32 KB bitmap broadcast; train probe map-only (exact side is the verification harness)",
    ),
    "vocab_heavy_hitters": (
        "bounded_candidates",
        "MG summaries map-only; recount shuffle keys on <= slots x partitions tokens",
    ),
    "schema_evolution_scan": (
        "map_only",
        "mergeSchema footer merge at planning time; evolved read is a pure scan",
    ),
    "warehouse_compaction": (
        "composite",
        "coalesce rewrite is narrow (no exchange); the read-back scan dominates",
    ),
    "merge_upsert_delete": (
        "keyed_shuffle",
        "one full-outer join on the key; tombstone DELETE is a post-join filter",
    ),
    "fraud_ml_score": (
        "composite",
        "map-only JVM scoring; exact AUC side aggregates to per-score counts first",
    ),
    "embed_semantic_dedup_kmeans": (
        "bounded_candidates",
        "learned cells; within-cell equi-join, Sigma-cell^2 not n^2",
    ),
    "doc_bm25_topk": (
        "bounded_candidates",
        "query vocab broadcasts; tf/dl aggs structural, scoring bounded by matching docs",
    ),
    "doc_bm25_topk_pruned": (
        "bounded_candidates",
        "champion lists: per-query work <= m x |terms|; rescore probe map-side",
    ),
    "doc_mix_token_budget": (
        "keyed_shuffle",
        "one hash exchange on source; quota is a window decision, no joins",
    ),
}


def _fmt(n: float) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024:
            return f"{n:.1f} {unit}" if unit != "B" else f"{int(n)} B"
        n /= 1024
    return f"{n:.1f} TB"


def main() -> int:
    argv = list(sys.argv[1:])
    # --out PATH redirects the markdown artifact (scale-curve runs must
    # not clobber the default sf0.1 SHUFFLE_AUDIT.md)
    out_md = os.path.join(_REPO, "SHUFFLE_AUDIT.md")
    if "--out" in argv:
        i = argv.index("--out")
        out_md = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    spark = get_spark("shuffle_audit")
    rows: list[dict] = []
    violations: list[str] = []
    for spec, rec, _ in runner.run(spark, sf_dir, runner.select(argv[1:] or HEADLINE)):
        if rec["error"]:
            violations.append(f"{spec.name}: {rec['error']}")
            continue
        violations += [f"FAILED stage during audit: {s}" for s in rec["failed_stages"]]
        m = runner.totals(rec)
        tag, why = HEADLINE.get(spec.name, ("", ""))
        wall = round(rec["build_s"] + rec["exec_s"], 2)
        rows.append({"name": spec.name, "tag": tag, "why": why, "wall": wall, **m})
        print(
            f"[audit] {spec.name}: in={_fmt(m['input_bytes'])} "
            f"shuffle_w={_fmt(m['shuffle_write_bytes'])} "
            f"spill={_fmt(m['spill_memory_bytes'] + m['spill_disk_bytes'])}",
            file=sys.stderr,
        )
    spark.stop()

    by_name = {r["name"]: r for r in rows}
    for r in rows:
        if r["tag"] == "map_only" and r["shuffle_write_bytes"] > 0:
            violations.append(
                f"{r['name']}: tagged map_only but wrote "
                f"{_fmt(r['shuffle_write_bytes'])} of shuffle"
            )
        if (
            r["tag"] == "spread_map"
            and r["shuffle_write_records"] > r["input_records"]
        ):
            violations.append(
                f"{r['name']}: tagged spread_map but shuffled "
                f"{r['shuffle_write_records']} records > "
                f"{r['input_records']} read — more than the one-pass "
                "round-robin spread can explain"
            )
        if r["spill_disk_bytes"] > 0:
            violations.append(
                f"{r['name']}: spilled {_fmt(r['spill_disk_bytes'])} to disk"
            )
    full, inc = by_name.get("warehouse_load"), by_name.get("warehouse_load_incremental")
    if full and inc and not inc["input_bytes"] < full["input_bytes"]:
        violations.append(
            "warehouse_load_incremental read "
            f"{_fmt(inc['input_bytes'])} ≥ full rescan {_fmt(full['input_bytes'])} "
            "— partition pruning not reaching the scan"
        )

    lines = [
        "# Shuffle audit — measured bytes moved per headline query",
        "",
        f"SF dir: `{sf_dir}`. Aggregate task metrics per query (registry",
        "runner records, stages booked by job group; AQE on).",
        "`shufRec/inRec` is shuffle records written as a fraction of input",
        "records read — the",
        "encoding-independent number that predicts 100 TB cost (exchanges,",
        "not scans, are the scale bottleneck; byte ratios mislead here",
        "because parquet input is snappy-compressed columnar while shuffle",
        "blocks are row-oriented, so a full-row exchange can show more",
        "bytes than a tiny compressed scan). A record ratio ≤1 means the",
        "exchange carries no more rows than were read; well under 1 means",
        "map-side reduction is doing its job. Ratios >1 appear only on",
        "`bounded_candidates`/`composite` text-dedup queries, where the",
        "exchange unit is index POSTINGS (shingles/fingerprints/terms),",
        "not documents — fan-out per doc is bounded by construction",
        "(shingle count × max_df cut), so the ratio is a constant factor,",
        "not a growth rate. Regenerate with",
        "`python tools/shuffle_audit.py`.",
        "",
        "| query | shape | wall s | input | in rows | shuffle W | shuffle W rows | shufRec/inRec | spill | tasks |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        ratio = (
            f"{r['shuffle_write_records'] / r['input_records']:.3f}"
            if r["input_records"]
            else "—"
        )
        spill = r["spill_memory_bytes"] + r["spill_disk_bytes"]
        lines.append(
            f"| {r['name']} | {r['tag']} | {r['wall']} | {_fmt(r['input_bytes'])} "
            f"| {r['input_records']} "
            f"| {_fmt(r['shuffle_write_bytes'])} | {r['shuffle_write_records']} "
            f"| {ratio} | {_fmt(spill)} | {r['tasks']} |"
        )
    lines += ["", "## Shape notes", ""]
    for r in rows:
        if r["why"]:
            lines.append(f"- **{r['name']}** ({r['tag']}): {r['why']}")
    lines += ["", "## Hard checks", ""]
    if violations:
        lines += [f"- ❌ {v}" for v in violations]
    else:
        lines += [
            "- ✅ every `map_only` query wrote 0 shuffle bytes",
            "- ✅ every `spread_map` query shuffled no more records than it read (round-robin spread only, no row amplification)",
            "- ✅ zero disk spill across all audited queries",
            "- ✅ incremental warehouse load reads strictly less input than the full rescan (partition pruning reaches the scan)",
        ]
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")

    print(
        json.dumps(
            {
                "queries": len(rows),
                "violations": violations,
                "total_input": sum(r["input_bytes"] for r in rows),
                "total_shuffle_write": sum(r["shuffle_write_bytes"] for r in rows),
            }
        )
    )
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
