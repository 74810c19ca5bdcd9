"""Per-query timing and 1x-vs-Fx scale probes on bench.py's measurement
core: every wall here comes from ``bench.measure`` (min of RUNS ``noop``
executions, handle reuse for pure constructions) after ``bench.warm``,
on the layout ``bench.prepare_layout`` builds, so a probe row and a
bench row are measured alike.

Names mode — construction and execution walls of the named queries:

    python tools/probe.py NAME [NAME ...] [-n RUNS] [--raw] [--explain DIR]

prints ``NAME  construction=C  exec=E  compiles=N  py4j=P`` per query
(seconds), then the JVM's total compile count and the total of P. Each
name first runs once untimed (construction plus ``noop`` execution); N
is the number of whole-stage codegen classes that run compiled, i.e. the
query's class footprint net of classes an earlier name already put in
the cache, and P the py4j round trips that construction makes from
the calling thread and any thread it starts (shared builds it triggers
included). The timed
runs then hit the cache. The total of N over every registered name in
one process is the registry's working set, which sizes
``session.CODEGEN_CACHE_ENTRIES``. ``--explain DIR`` also writes
DIR/<NAME>.txt with the formatted physical plan.

Scale mode — the same queries on an F-fold replica of the source tables:

    python tools/probe.py --scale F [NAME ...] [-n RUNS] [--raw]

prints, per query, the 1x and Fx exec walls, their ratio and whether the
``summarize_plan`` fingerprint is unchanged, then the shared-build walls
(``bench.shared_walls``, memos reset before each scale). When q02, q18
or w04 are probed, they are also timed on a bucketed metastore copy of
the Fx set (lineitem/orders bucketed and sorted on the order key, so the
fact-fact edge plans with no exchange; w04 windows on l_suppkey and is
the control bucketing must NOT help). A ratio ~F or better with an
unchanged plan is the pass; superlinear time with the same plan means a
shape broke (lost broadcast, spill, skew). No NAME runs DEFAULT_SCALE.
The source is $SPARK_GRAFT_SF_DIR (default: bench.py's sf0.1 set). The
standing name sets (results in SCALE.md):

    python tools/probe.py --scale 10
    python tools/probe.py --scale 100 -n 2 q18_multiway_join \\
        dd04_minhash_lsh_pairs tx17_lm_familiarity dd14_incremental_dedup \\
        samp07_dsir_importance dq07_window_psi_drift cur06_pii_scrub \\
        sim12_pq_topk llm04_curation_funnel dq08_fd_profile \\
        dd18_prefix_filter_join dq09_fd_profile_sampled dd19_span_dedup \\
        cur09_pseudonymize_ids ev19_journey_patterns ing22_reconcile_by_hash \\
        dd21_substring_dedup dd20_semdedup_production_k \\
        dd22_semdedup_two_level dd23_semdedup_trained \\
        dd24_incremental_semdedup sim15_ivfpq_topk dd13_containment_dedup \\
        dd09_dup_clusters
    python tools/probe.py --scale 10 x26_weighted_median \\
        dd18_prefix_filter_join decon01_ngram_overlap \\
        dq05_referential_integrity ret02_ann_rank_quality \\
        sim11_ann_recall_at_k dd09_dup_clusters dd10_keep_best_dedup \\
        samp06_cluster_safe_split

Replica rules (the same for every F):

- join/group keys are shifted per replica by ``_rep * SHIFT`` (a long),
  so join and group cardinalities scale with volume instead of
  collapsing onto the same keys; replica 0 keeps its ids, so fixed
  query/centroid literals still resolve;
- document text is re-vocabularied per replica (every token suffixed
  with the replica tag, replica 0 verbatim): a verbatim copy would make
  every document an F-way exact near-dup, blowing dedup candidate pairs
  up by C(F,2) per original group — a probe artifact, not a property of
  a real F-times-larger corpus. Per-replica vocab keeps the duplication
  RATE of the base corpus and grows the vocabulary ~F-fold (the
  conservative upper bound of Heaps' law);
- timestamps, values and embedding vectors stay verbatim (more traffic
  over the same calendar);
- each table carries its own marker holding its spec, so a table is
  rebuilt only when its spec changes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from api_etl_pipeline_spark.ops.plan_lint import plan_text, summarize_plan  # noqa: E402
from api_etl_pipeline_spark.registry import all_queries  # noqa: E402
from api_etl_pipeline_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
    py4j_calls,
)
from api_etl_pipeline_spark.tables import TABLES, load_table  # noqa: E402

SHIFT = 100_000_000
KEY_SHIFT = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
}
BUCKETED = {"q02_revenue_by_segment", "q18_multiway_join", "w04_running_sum"}
BUCKET_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
BUCKETS = 32

# the standing 10x set (each name's SCALE.md row says what its ratio
# shows); dd09 exercises the shared dd04_components build
DEFAULT_SCALE = """
    q01_pricing_summary q02_revenue_by_segment q18_multiway_join
    w04_running_sum q32_waiting_orders ev02_gaps_islands
    decon01_ngram_overlap shuf01_deterministic_shards sim05_ivf_probe_topk
    dd04_minhash_lsh_pairs tx08_tfidf_top_term dd12_segment_dedup_clean
    tx16_bm25_topk q38_funnel_steps llm02_corpus_funnel
    tx17_lm_familiarity mm06_perceptual_hash_groups decon02_source_overlap
    ret01_hybrid_rrf tx18_ppl_buckets samp05_weighted_reservoir
    st10_interval_left_join mm01_multimodal_features
    decon03_embedding_contamination cur02_lang_quality_prune
    tx20_stopword_discovery ev16_rfm_segments dq03_benford_deviation
    sim11_ann_recall_at_k dd13_containment_dedup dq04_join_skew_profile
    mix02_epoch_upsampling ev17_conversion_lag inc01_rollup_merge
    inc02_pruned_refresh tx21_bpe_train_merges stats02_rolling_anomaly
    ab01_experiment_readout ev18_linear_attribution cur03_snapshot_diff
    tx22_bpe_tokenize_apply dd14_incremental_dedup dd15_semdedup_prune
    dq05_referential_integrity cur04_token_drift dq06_psi_drift
    cur05_url_dedup dq07_window_psi_drift cur06_pii_scrub
    samp07_dsir_importance sim12_pq_topk maint01_compaction_plan
    tx23_corpus_laws cur07_html_main_text llm04_curation_funnel
    cur08_gopher_rules dd16_lsh_recall_audit dd17_lsh_geometry_sweep
    ev19_journey_patterns maint02_retention_plan sim13_mmr_rerank
    hh02_countmin_audit maint03_zone_map_skip tx24_tokenizer_fertility
    mix03_anneal_schedule dq08_fd_profile ret02_ann_rank_quality
    pack03_packing_efficiency samp08_temporal_split w12_time_range_window
    sim14_sq8_topk dd18_prefix_filter_join dq09_fd_profile_sampled
    dd19_span_dedup cur09_pseudonymize_ids ing22_reconcile_by_hash
    dd20_semdedup_production_k dd21_substring_dedup
    dd22_semdedup_two_level dd23_semdedup_trained
    dd24_incremental_semdedup sim15_ivfpq_topk cls01_quality_classifier
    dd25_simhash_recall_audit cls02_classifier_auc_audit dd09_dup_clusters
""".split()


def build_replicas(spark, sf_dir: str, factor: int) -> str:
    """Write the ``factor``-fold replica set of ``sf_dir`` (rules in the
    module docstring) and return its directory."""
    out = Path(f"/tmp/spark_graft_scale{factor}") / sf_dir.rstrip("/").replace("/", "_")
    out.mkdir(parents=True, exist_ok=True)
    reps = F.broadcast(spark.range(factor).withColumnRenamed("id", "_rep"))
    for name in TABLES:
        spec = repr(KEY_SHIFT.get(name))
        marker = out / f"_READY_{name}"
        if marker.exists() and marker.read_text() == spec:
            continue
        df = load_table(spark, sf_dir, name)
        if name in KEY_SHIFT:
            df = df.crossJoin(reps)
            for col in KEY_SHIFT[name]:
                df = df.withColumn(col, F.col(col) + F.col("_rep") * SHIFT)
            if name == "documents":
                df = df.withColumn(
                    "text",
                    F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                        F.regexp_replace(
                            F.col("text"),
                            F.lit(r"(\S+)"),
                            F.concat(F.lit("$1zz"), F.col("_rep").cast("string")),
                        )
                    ),
                )
            df = df.drop("_rep").repartition(64)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        marker.write_text(spec)
    return str(out)


def register_bucketed(spark, data_dir: str, prefix: str) -> None:
    """Register ``data_dir``'s tables in the session catalog as
    ``<prefix><table>``, fact tables bucketed and sorted on the order
    key. The catalog is per-process but the warehouse files persist, so
    files an earlier run wrote from the same ``data_dir`` are
    re-registered (DDL, instant) instead of rewritten."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    marker = Path(warehouse) / f"{prefix}_READY"
    reuse = marker.exists() and marker.read_text() == data_dir
    for name in TABLES:
        table, loc, key = f"{prefix}{name}", f"{warehouse}/{prefix}{name}", BUCKET_KEYS.get(name)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        if reuse:
            clustered = (
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {BUCKETS} BUCKETS " if key else ""
            )
            ddl = spark.read.parquet(loc).schema.toDDL()
            spark.sql(f"CREATE TABLE {table} ({ddl}) USING parquet {clustered}LOCATION '{loc}'")
            continue
        shutil.rmtree(loc, ignore_errors=True)
        writer = spark.read.parquet(f"{data_dir}/{name}.parquet").write.format("parquet")
        if key is not None:
            writer = writer.bucketBy(BUCKETS, key).sortBy(key)
        writer.option("path", loc).saveAsTable(table)
    marker.write_text(data_dir)


def reset_memos() -> None:
    """Drop every construction memo and its recorded walls, so the next
    scale pays (and records) its shared builds from cold."""
    from api_etl_pipeline_spark import _memo
    from api_etl_pipeline_spark.llm_ops import dedup

    _memo._MEMO.clear()
    _memo.SHARED_BUILD_WALLS.clear()
    dedup._COMPONENTS_CACHE.clear()
    dedup.SHARED_BUILD_WALLS.clear()


def probe_scale(spark, names: list[str], data_dir: str, runs: int) -> tuple[dict, dict, dict]:
    """(exec walls, plan fingerprints, shared-build walls by family) of
    ``names`` on ``data_dir``, from cold memos."""
    specs = all_queries()
    reset_memos()
    bench.warm(spark, data_dir)
    walls, prints = {}, {}
    for name in names:
        prints[name] = summarize_plan(plan_text(specs[name].fn(spark, data_dir)))
        walls[name] = bench.measure(spark, specs[name].fn, data_dir, runs)[1]
        print(f"# {name} @ {data_dir}: {walls[name]}s", flush=True)
    shared: dict[str, float] = {}
    for label, s in bench.shared_walls().items():
        family = label.split("[")[0]
        shared[family] = round(shared.get(family, 0.0) + s, 3)
    return walls, prints, shared


def _ratio(a: float, b: float) -> float:
    return round(b / a, 1) if a else float("nan")


def scale_mode(spark, names, base_dir: str, sf_dir: str, factor: int, runs: int) -> None:
    t0 = time.perf_counter()
    big_dir = build_replicas(spark, sf_dir, factor)
    print(f"# {factor}x replicas: {big_dir} ({time.perf_counter() - t0:.1f}s)", flush=True)
    base, fp1, shared1 = probe_scale(spark, names, base_dir, runs)
    big, fpf, sharedf = probe_scale(spark, names, big_dir, runs)
    bucketed: dict[str, float] = {}
    if BUCKETED & set(names):
        prefix = f"b{factor}x_"
        register_bucketed(spark, big_dir, prefix)
        legs = [n for n in names if n in BUCKETED]
        bucketed = probe_scale(spark, legs, f"catalog:{prefix}", runs)[0]

    fx = f"{factor}x"
    print(f"{'query':36s} {'1x':>8s} {fx:>9s} {'ratio':>7s}  plan      {fx + '-bkt':>9s} b-ratio")
    rows = []
    for name in names:
        same = fp1[name] == fpf[name]
        row = {"query": name, "sec_1x": base[name], f"sec_{fx}": big[name],
               "ratio": _ratio(base[name], big[name]), "plan_unchanged": same}
        line = (f"{name:36s} {base[name]:8.3f} {big[name]:9.3f} {row['ratio']:7.1f}  "
                f"{'unchanged' if same else 'CHANGED':9s}")
        if name in bucketed:
            row["sec_bucketed"] = bucketed[name]
            line += f" {bucketed[name]:9.3f} {_ratio(base[name], bucketed[name]):7.1f}"
        if not same:
            row["fingerprint_1x"], row[f"fingerprint_{fx}"] = fp1[name], fpf[name]
        rows.append(row)
        print(line)
    for family in sorted(set(shared1) | set(sharedf)):
        a, b = shared1.get(family, 0.0), sharedf.get(family, 0.0)
        print(f"{'build:' + family:36s} {a:8.3f} {b:9.3f} {_ratio(a, b):7.1f}")
    print(json.dumps({"factor": factor, "probes": rows, "shared_1x": shared1,
                      f"shared_{fx}": sharedf}))


def names_mode(spark, names: list[str], bench_dir: str, runs: int, explain) -> None:
    specs = all_queries()
    bench.warm(spark, bench_dir)
    total_calls = 0
    for name in names:
        spark.sparkContext.setJobDescription(name)
        c0 = codegen_compiles(spark)
        with py4j_calls() as calls:
            df = specs[name].fn(spark, bench_dir)
        df.write.mode("overwrite").format("noop").save()
        compiles = codegen_compiles(spark) - c0
        total_calls += calls[0]
        construct_s, exec_s = bench.measure(spark, specs[name].fn, bench_dir, runs)
        print(f"{name}  construction={construct_s:.3f}  exec={exec_s:.3f}  "
              f"compiles={compiles}  py4j={calls[0]}", flush=True)
        if explain:
            out = Path(explain)
            out.mkdir(parents=True, exist_ok=True)
            (out / f"{name}.txt").write_text(plan_text(specs[name].fn(spark, bench_dir)))
    print(f"# codegen: {codegen_compiles(spark)} classes compiled in this JVM", flush=True)
    print(f"# py4j: {total_calls} calls constructing the {len(names)} queries", flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*")
    ap.add_argument("-n", type=int, default=5, help="timed runs per query (min is reported)")
    ap.add_argument("--raw", action="store_true", help="time the raw layout, not bench's")
    ap.add_argument("--explain", default=None, help="names mode: dir for formatted-plan captures")
    ap.add_argument("--scale", type=int, default=None, help="probe 1x vs this replica factor")
    args = ap.parse_args()
    names = args.names or (DEFAULT_SCALE if args.scale else [])
    if not names:
        ap.error("name at least one query (or pass --scale F)")
    unknown = [n for n in names if n not in all_queries()]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe")
    base_dir = sf_dir
    if not args.raw:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        base_dir, prep = bench.prepare_layout(spark, sf_dir, cpus)
        if prep:
            print(f"# layout prepared in {prep}s", file=sys.stderr)
    if args.scale:
        scale_mode(spark, names, base_dir, sf_dir, args.scale, args.n)
    else:
        names_mode(spark, names, base_dir, args.n, args.explain)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
