"""Contracts the repository keeps with its outside readers: the order of
`__spark_entry__.queries()`, whose first 50 names an external
correctness check samples, and source free of non-public hosts, buckets
and keys."""

from __future__ import annotations

import re

from tests.conftest import REPO

SAMPLE_PREFIX = [
    "cur07_html_main_text", "cur08_gopher_rules", "dd01_exact_dup_groups",
    "dd02_dedup_keep_first", "dd05_ngram_jaccard", "dd06_simhash",
    "dd07_simhash_hamming", "dd18_prefix_filter_join", "dq08_fd_profile",
    "hh02_countmin_audit", "ing21_offset_pagination", "maint01_compaction_plan",
    "maint02_retention_plan", "maint03_zone_map_skip", "mix03_anneal_schedule",
    "pack03_packing_efficiency", "q51_hll_mergeable_distinct",
    "ret02_ann_rank_quality", "samp07_dsir_importance", "samp08_temporal_split",
    "sim12_pq_topk", "sim13_mmr_rerank", "sim14_sq8_topk",
    "st15_journey_patterns_live", "st16_countmin_live",
    "tx24_tokenizer_fertility", "udtf01_bigram_expand", "w04_running_sum",
    "w05_ntile", "w06_first_last", "w12_time_range_window",
    "x01_hash_functions", "x02_string_funcs", "x03_string_classify",
    "x04_url_template", "x05_date_funcs", "x06_math_funcs", "x07_json_extract",
    "x08_split_explode", "x09_case_buckets", "x10_coalesce_nullif",
    "x25_mad_outliers", "dd25_simhash_recall_audit",
    "cls02_classifier_auc_audit", "cur09_pseudonymize_ids",
    "dd08_embedding_near_dup", "x26_weighted_median", "sim11_ann_recall_at_k",
    "decon01_ngram_overlap", "dq05_referential_integrity",
]


def test_queries_sample_prefix_order():
    import __spark_entry__

    assert list(__spark_entry__.queries())[:50] == SAMPLE_PREFIX


LEAK_PATTERNS = {
    "internal-import": r"^\s*(import|from)\s+(anthropic|claude)",
    "internal-url": r"https?://[\w.-]*\b(corp|internal|intranet)\b",
    "internal-bucket": r"\b(s3|gs|abfss?)://(?!bucket|my-|example|your-)[\w.-]+",
    "slack-link": r"slack\.com|app\.slack",
    "api-key": r"(sk-[A-Za-z0-9]{20,}|AKIA[0-9A-Z]{16})",
}


def test_no_leaked_hosts_or_keys():
    targets = [
        p for d in ("api_etl_pipeline_spark", "tests", "tools")
        for p in (REPO / d).rglob("*.py")
    ] + [REPO / "bench.py", REPO / "__spark_entry__.py"]
    hits = [
        f"{path.relative_to(REPO)}: {kind}: {m.group(0)[:60]}"
        for path in targets
        for kind, pat in LEAK_PATTERNS.items()
        for m in re.finditer(pat, path.read_text(errors="replace"), flags=re.M)
    ]
    assert not hits, hits
