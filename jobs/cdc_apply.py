"""spark-submit entry point: apply a changelog to a lakelet pages table.

Batch replay of closed changelog files, or a Structured-Streaming tail
of a segment directory — the same MERGE-apply path either way (the
reference's end-to-end release workflow,
orchestration/templates/ingest-clinvar-release-e2e.yaml:24-64, as one
submittable Spark job).

Usage (cluster):

    python tools/build_pyfiles.py   # -> dist/clinvar_ingest_spark.zip
    spark-submit --py-files dist/clinvar_ingest_spark.zip \
        jobs/cdc_apply.py --table /lake/pages --changelog /wal/batch42.parquet

    spark-submit --py-files dist/clinvar_ingest_spark.zip \
        jobs/cdc_apply.py --table /lake/pages \
        --tail /wal/segments --checkpoint /lake/pages_ckpt

Local smoke run (no spark-submit):

    python jobs/cdc_apply.py --master 'local[8]' --table /tmp/pages \
        --changelog /tmp/changelog.parquet

Emits one JSON lineage line per applied micro-batch (the engine also
persists them in the table's ledger). Exits 1 when a non-empty Debezium
input has every record rejected.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from dataclasses import asdict


def _is_parquet(path: str) -> bool:
    """Sniff an input by content: True when its first data file — the
    path itself, or the first file under a directory such as Spark's
    part-file output, or under a glob — starts with parquet's ``PAR1``
    magic. Paths on other filesystems (``s3a://`` …) fall back to the
    ``.parquet`` suffix convention."""
    local = path[len("file://"):] if path.startswith("file://") else path
    if "://" in local:
        return path.endswith(".parquet")
    for hit in sorted(glob.glob(local)):
        files = [hit] if os.path.isfile(hit) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(hit) for f in fs
        )
        for f in files:
            if os.path.basename(f).startswith(("_", ".")):
                continue  # _SUCCESS markers, .crc sidecars
            with open(f, "rb") as fh:
                return fh.read(4) == b"PAR1"
    return False


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--table", required=True, help="lakelet table root")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--changelog", help="changelog parquet path/glob (batch replay)")
    src.add_argument("--tail", help="changelog segment dir (streaming tail)")
    p.add_argument("--checkpoint", help="stream checkpoint dir (required with --tail)")
    p.add_argument("--batch-size", type=int, default=100_000,
                   help="events per micro-batch in batch replay")
    p.add_argument("--format", choices=("native", "debezium"),
                   default="native",
                   help="changelog encoding: 'native' = FIXTURES.md §2 "
                        "parquet; 'debezium' = Debezium JSON envelopes "
                        "(a parquet 'value' column, or JSON-lines text; "
                        "with --tail, JSON-lines segments) "
                        "— tombstones dropped, malformed records written "
                        "to <table>_rejects instead of applied")
    p.add_argument("--buckets", type=int, default=256,
                   help="hash buckets when creating a new table")
    p.add_argument("--max-files-per-trigger", type=int, default=8)
    p.add_argument("--follow", action="store_true",
                   help="with --tail: keep running instead of drain-and-stop")
    p.add_argument("--master", default="submit",
                   help="Spark master; default 'submit' defers to spark-submit")
    p.add_argument("--patch-ops", action="store_true",
                   help="cell-level LWW: accept op='patch' partial-update "
                        "events (table gains a _cells lineage column)")
    p.add_argument("--write-mode", choices=("cow", "mor"), default="cow",
                   help="cow: rewrite touched buckets per batch; mor: "
                        "append delta files (apply cost ∝ batch size), "
                        "reads LWW-resolve until compaction")
    p.add_argument("--compact-every", type=int, default=None,
                   help="with --write-mode mor: fold deltas every K "
                        "applied batches and once at the end")
    p.add_argument("--branch", default=None,
                   help="stage commits on this branch (write-audit-"
                        "publish); main is untouched until --publish")
    p.add_argument("--publish", action="store_true",
                   help="with --branch: publish the branch to main after "
                        "a successful apply (CAS fast-forward)")
    p.add_argument("--bench-json", action="store_true",
                   help="batch replay only: warm up through the same code "
                        "path, time the replay, and print ONE summary JSON "
                        "line {events, sec, events_per_sec, state_hash} — "
                        "the north-rule spark-submit scaling evidence")
    args = p.parse_args(argv)
    if args.tail and not args.checkpoint:
        p.error("--tail requires --checkpoint")
    if args.publish and not args.branch:
        p.error("--publish requires --branch")

    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.session import get_spark

    spark = get_spark(app_name="cdc_apply", master=args.master)
    engine = CdcEngine(
        spark, args.table, n_buckets=args.buckets,
        write_mode=args.write_mode, branch=args.branch,
        patch_ops=args.patch_ops,
    )

    if args.changelog:
        raw = None
        if args.format == "debezium":
            # read the input once: the reject count, the reject write,
            # the emptiness check and the replay all scan this cache
            raw = (
                spark.read.parquet(args.changelog)
                if _is_parquet(args.changelog)
                else spark.read.text(args.changelog)
            ).persist()
        try:
            if args.format == "debezium":
                from clinvar_ingest_spark.sources.debezium import parse_debezium

                changelog, rejects = parse_debezium(raw, with_rejects=True)
                n_rejects = rejects.count()
                if n_rejects:
                    # quarantine, never guess: raw value + reason land next
                    # to the table for operator triage. The output dir is
                    # keyed by the input path, written with overwrite — a
                    # redelivered/re-run job rewrites ITS OWN slice instead
                    # of appending duplicates (the same idempotence rule the
                    # engine's ledger gives the apply side)
                    import hashlib

                    src_key = hashlib.sha256(
                        args.changelog.encode()
                    ).hexdigest()[:12]
                    rejects.write.mode("overwrite").parquet(
                        f"{args.table}_rejects/src={src_key}"
                    )
                print(json.dumps({"format": "debezium", "rejects": n_rejects}))
                if n_rejects and changelog.isEmpty():
                    # every record rejected: a wrong input encoding or a
                    # broken producer, never a successful no-op apply
                    print(
                        f"cdc_apply: all {n_rejects} records of "
                        f"{args.changelog} were rejected; nothing applied",
                        file=sys.stderr,
                    )
                    return 1
            else:
                changelog = spark.read.parquet(args.changelog)
            if args.bench_json:
                import shutil
                import time

                warm_root = args.table + "_warmup"
                warm = CdcEngine(spark, warm_root, n_buckets=args.buckets)
                warm.replay(changelog.limit(2000), batch_size=2000)
                shutil.rmtree(warm_root, ignore_errors=True)

                t0 = time.time()
                stats = engine.replay(changelog, batch_size=args.batch_size)
                wall = time.time() - t0
                events = sum(s.n_events for s in stats)
                print(json.dumps({
                    "bench": True,
                    "events": events,
                    "sec": round(wall, 3),
                    "events_per_sec": round(events / wall, 1) if wall else 0.0,
                    "commit_secs": round(sum(s.commit_secs for s in stats), 3),
                    "state_hash": engine.state_hash(),
                }))
                return 0
            stats = engine.replay(
                changelog, batch_size=args.batch_size,
                compact_every=args.compact_every,
            )
            for s in stats:
                print(json.dumps(asdict(s)))
            published = None
            if args.publish:
                published = engine.publish()
            print(json.dumps({
                "table": args.table,
                "branch": args.branch,
                "snapshot": engine.table.current_snapshot_id(),
                "published": published,
                "rows": engine.pages().count(),
                "batches_applied": len(stats),
            }))
        finally:
            if raw is not None:
                raw.unpersist()
    else:
        from clinvar_ingest_spark.streaming.tail import (
            tail_changelog,
            tail_until_drained,
        )

        source = None  # the native parquet segment source
        if args.format == "debezium":
            from clinvar_ingest_spark.bus import DebeziumFileSource

            source = DebeziumFileSource(
                args.tail, max_files_per_trigger=args.max_files_per_trigger
            )
        if args.follow:
            q = tail_changelog(
                engine, args.tail, args.checkpoint,
                max_files_per_trigger=args.max_files_per_trigger,
                available_now=False,
                source=source,
            )
            q.awaitTermination()
        else:
            tail_until_drained(
                engine, args.tail, args.checkpoint,
                max_files_per_trigger=args.max_files_per_trigger,
                source=source,
            )
            print(json.dumps({
                "table": args.table,
                "snapshot": engine.table.current_snapshot_id(),
                "rows": engine.pages().count(),
                "ledger_records": len(engine.ledger.all_records()),
            }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
