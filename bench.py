"""Benchmark harness — prints ONE JSON line.

Headline metric: sustained MERGE-apply change-events/sec (BASELINE.json),
measured by replaying a deterministic synthetic changelog (size scaled to
the sf of $SPARK_GRAFT_SF_DIR) through the full CDC path, plus per-query
wall times for the operator suite over the driver's testdata.

Env:
  SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism (default *)
  BENCH_QUERIES        comma list to restrict (default: headline set)

N-vs-4N scaling evidence is perfbench under ``taskset -c`` (BASELINE.md,
"Measurement protocol"), not this harness.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "")

HEADLINE = [
    "cdc_lww_state",
    "diff_updated",
    "set_union_event_types",
    "events_hourly",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "order_revenue",
    "dedup_exact",
    "text_quality",
    "lang_id",
    "fingerprint_docs",
    "ngram_jaccard_pairs",
    "decontam_overlap",
    "repetition_stats",
    "pii_scrub",
    "quality_gate",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "ann_topk",
    "ann_ivf_topk",
    "multimodal_meta",
    "dedup_clusters",
    "fanout_entities",
    "link_targets",
    # round-3 continuation operators
    "segment_dedup",
    "asof_enrich",
    "sessionize_events",
    "kmv_distinct_users",
    "nation_pagerank",
    # round-4 operators (VERDICT r4 item 6: regressions in these were
    # invisible round-over-round until now)
    "exact_substring_dedup",
    "exact_substring_persisted",
    "fanout_mix",
    # round-5 operators
    "bm25_topk",
    "canonical_url_dedup",
    "bm25_indexed_replay",
    "minhash_index_probe",
    "debezium_replay",
    "unigram_perplexity",
    "winnow_overlap_pairs",
]

#: In-run anchor for substrate-drift cancellation (VERDICT r4 item 7):
#: every query wall is also reported ÷ this query's wall from the SAME
#: run, so host drift cancels and a real plan regression is unambiguous.
#: tpch_q1 is the anchor because it is scan+agg only (no Python workers,
#: no joins), stable across rounds, and present in every HEADLINE set
#: since round 1.
ANCHOR = "tpch_q1"


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    return float(base[2:]) if base.startswith("sf") else 0.0


def _force(df) -> None:
    """Materialize every column (count() alone lets Catalyst prune)."""
    df.write.mode("overwrite").format("noop").save()


def bench_cdc_replay(spark, sf: float, workdir: str) -> dict:
    """The primary metric: full merge-apply path events/sec."""
    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog_to_parquet,
    )

    n_events = max(int(1_500_000 * sf), 20_000)  # sf0.1 → 150k events
    clp = os.path.join(workdir, "changelog.parquet")
    generate_changelog_to_parquet(
        ChangelogSpec(
            n_events=n_events, n_urls=max(n_events // 6, 1000), n_hosts=100,
            seed=42, words_per_page=80,  # ~0.7 KB pages: realistic-ish decode cost
        ),
        clp,
    )
    cl = spark.read.parquet(clp)
    # best-of-2: this sandbox's microVM substrate shows multi-x
    # throughput swings between identical runs minutes apart (memcpy
    # probes, BENCH_HISTORY.jsonl); the headline takes the better of two
    # full replays (fresh table each) and records both so noise is
    # visible instead of silently charged to the engine
    runs = []
    for attempt in range(2):
        eng = CdcEngine(
            spark, os.path.join(workdir, f"pages{attempt}"), n_buckets=64
        )
        t0 = time.time()
        stats = eng.replay(cl, batch_size=max(n_events // 4, 1))
        wall = time.time() - t0
        total_events = sum(s.n_events for s in stats)
        runs.append(
            {
                "events": total_events,
                "sec": round(wall, 3),
                "events_per_sec": round(total_events / wall, 1),
                "final_rows": eng.pages().count(),
            }
        )
    best = min(runs, key=lambda r: r["sec"])
    best = dict(best)
    best["all_runs_sec"] = [r["sec"] for r in runs]
    return best


def bench_mor_apply(spark, workdir: str) -> dict:
    """COW vs MOR steady-state apply: build the SAME base table from
    the first 75% of the changelog ONCE (COW), then shallow-clone it
    per (mode, attempt) and apply the last 25% as 16 small
    micro-batches — the hot-batch regime where the write modes actually
    diverge. Reports apply wall + events/s, ROWS WRITTEN per mode (the
    write-amplification number that scales: COW rewrites every touched
    bucket's full content per batch, MOR writes only the batch), MOR's
    deferred compaction cost, and the final-state hash equality check.

    Best-of-2 per mode with INTERLEAVED attempts (cow, mor, cow, mor):
    this sandbox's substrate shows multi-x wall swings between identical
    runs minutes apart (BENCH_HISTORY.jsonl's memcpy probes), and a
    single-run ratio inverted the MOR advantage in the round-4 driver
    window (mor_apply_speedup 0.958 vs 1.74x on a quiet same-day run of
    the identical regime). Interleaving puts both modes inside any
    drift window; all four walls are reported so noise is visible
    instead of silently charged to either mode. write_amplification is
    the 100 TB-relevant number either way (row counts, not walls)."""
    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.lakelet.maintenance import clone_table

    clp = os.path.join(workdir, "changelog.parquet")
    cl = spark.read.parquet(clp)
    n = cl.count()
    cut = (n * 3) // 4
    base, tail = cl.filter(f"seq < {cut}"), cl.filter(f"seq >= {cut}")
    tail_n = n - cut
    base_root = os.path.join(workdir, "pages_ab_base")
    base_eng = CdcEngine(spark, base_root, n_buckets=64)
    base_eng.replay(base, batch_size=max(cut // 4, 1))
    runs: dict[str, list[dict]] = {"cow": [], "mor": []}
    hashes = {}
    for attempt in range(2):
        for mode in ("cow", "mor"):
            root = os.path.join(workdir, f"pages_{mode}_ab{attempt}")
            clone_table(base_eng.table, root)
            eng = CdcEngine(spark, root, n_buckets=64, write_mode=mode)
            t0 = time.time()
            stats = eng.replay(
                tail, batch_size=max(tail_n // 16, 1), from_seq=cut
            )
            wall = time.time() - t0
            ev = sum(s.n_events for s in stats)
            run = {
                "apply_sec": round(wall, 3),
                # the Spark write-job fraction of the wall: isolates the
                # row-VOLUME term (what scales with data) from per-batch
                # fixed cost (job scheduling/planning/commit — constant
                # per batch, dominant at small SF on many cores, where it
                # can mask the modes' difference in the raw wall ratio)
                "write_sec": round(sum(s.write_secs for s in stats), 3),
                "events_per_sec": round(ev / wall, 1),
                "rows_written": sum(
                    sum(s.bucket_rows.values()) for s in stats
                ),
            }
            if mode == "mor":
                t0 = time.time()
                eng.compact()
                run["compact_sec"] = round(time.time() - t0, 3)
            hashes[mode] = eng.state_hash()
            runs[mode].append(run)
    out = {}
    for mode in ("cow", "mor"):
        best = dict(min(runs[mode], key=lambda r: r["apply_sec"]))
        best["all_runs_sec"] = [r["apply_sec"] for r in runs[mode]]
        out[mode] = best
    out["mor_apply_speedup"] = round(
        out["cow"]["apply_sec"] / out["mor"]["apply_sec"], 3
    )
    out["mor_write_speedup"] = round(
        out["cow"]["write_sec"] / max(out["mor"]["write_sec"], 1e-9), 3
    )
    out["cow_write_amplification"] = round(
        out["cow"]["rows_written"] / max(out["mor"]["rows_written"], 1), 2
    )
    out["state_hash_equal"] = hashes["cow"] == hashes["mor"]
    return out


def bench_fanout_feed(spark, workdir: str) -> dict:
    """Streaming fan-out feed throughput (§2.8 × §2.9, VERDICT r4
    item 6): the bench changelog split into 8 closed segments and
    drained through ``run_fanout_feed`` (Structured Streaming,
    epoch-keyed idempotent appends, 10 passthrough entity streams from
    ONE parse per micro-batch). Reports wall, events/sec over the full
    drain, and rows landed across all entity dirs."""
    from clinvar_ingest_spark.streaming.fanout import run_fanout_feed

    clp = os.path.join(workdir, "changelog.parquet")
    cl = spark.read.parquet(clp)
    n_events = cl.count()
    seg_dir = os.path.join(workdir, "feed_segs")
    # 8 closed segments → 4 micro-batches at maxFilesPerTrigger=2
    cl.repartition(8).write.mode("overwrite").parquet(seg_dir)
    out_dir = os.path.join(workdir, "feed_out")
    t0 = time.time()
    run_fanout_feed(
        spark,
        seg_dir,
        os.path.join(workdir, "feed_ckpt"),
        out_dir,
        max_files_per_trigger=2,
    )
    wall = time.time() - t0
    landed = 0
    for et in os.listdir(out_dir):
        p = os.path.join(out_dir, et)
        if os.path.isdir(p):
            landed += spark.read.parquet(p).count()
    return {
        "events": n_events,
        "sec": round(wall, 3),
        "events_per_sec": round(n_events / wall, 1),
        "entity_rows_landed": landed,
    }


def bench_patch_apply(spark, sf: float, workdir: str) -> dict:
    """Cell-level LWW apply throughput: a changelog where 35 % of
    updates are PARTIAL images (op='patch') replayed through
    CdcEngine(patch_ops=True) — the merge kernel's cell-level fold end
    to end.
    Sized at half the headline stream (one run; the headline replay
    owns the best-of-2 noise treatment)."""
    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog_to_parquet,
    )

    n_events = max(int(750_000 * sf), 10_000)
    clp = os.path.join(workdir, "patch_changelog.parquet")
    generate_changelog_to_parquet(
        ChangelogSpec(
            n_events=n_events, n_urls=max(n_events // 6, 1000), n_hosts=100,
            seed=77, words_per_page=80, p_patch=0.35,
        ),
        clp,
    )
    cl = spark.read.parquet(clp)
    eng = CdcEngine(
        spark, os.path.join(workdir, "pages_patch"), n_buckets=64,
        patch_ops=True,
    )
    t0 = time.time()
    stats = eng.replay(cl, batch_size=max(n_events // 4, 1))
    wall = time.time() - t0
    ev = sum(s.n_events for s in stats)
    return {
        "events": ev,
        "sec": round(wall, 3),
        "events_per_sec": round(ev / wall, 1),
        "final_rows": eng.pages().count(),
        "p_patch": 0.35,
    }


def main() -> None:
    from clinvar_ingest_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="bench")
    sf = _sf_of(SF_DIR)
    qmap = entrymod.queries()
    names = [
        n
        for n in (
            os.environ.get("BENCH_QUERIES", "").split(",")
            if os.environ.get("BENCH_QUERIES")
            else HEADLINE
        )
        if n in qmap
    ]

    # warm the JVM/codegen and the Python UDF workers once on trivial
    # plans (round 2 made most headline queries JVM-only, so the first
    # pandas-UDF query would otherwise pay the worker cold-start)
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")  # lambda: immune to
    # `from __future__ import annotations` breaking type inference
    spark.range(1000).select(_warm(col("id"))).write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        _force(qmap[name](spark, SF_DIR))
        times[name] = round(time.time() - t0, 3)

    workdir = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        cdc = bench_cdc_replay(spark, sf, workdir)
        mor_ab = bench_mor_apply(spark, workdir)
        patch = bench_patch_apply(spark, sf, workdir)
        feed = bench_fanout_feed(spark, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    times["cdc_replay"] = cdc["sec"]

    # in-run anchor normalization (VERDICT r4 item 7): wall ÷ the same
    # run's ANCHOR wall, so substrate drift between rounds cancels
    anchor_sec = times.get(ANCHOR)
    queries_norm = (
        {
            k: round(v / anchor_sec, 3)
            for k, v in times.items()
            if anchor_sec and anchor_sec > 0
        }
        if anchor_sec
        else {}
    )

    out = {
        "metric": "merge_apply_events_per_sec",
        "value": cdc["events_per_sec"],
        "unit": "events/s",
        "queries_total_s": round(sum(times.values()), 3),
        "queries": times,
        "anchor": {"query": ANCHOR, "sec": anchor_sec},
        "queries_norm": queries_norm,
        "sf": sf,
        "cdc": cdc,
        "cow_vs_mor": mor_ab,
        "patch_apply": patch,
        "fanout_feed": feed,
        "cores": CPUS or "all",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
