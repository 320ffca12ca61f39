"""spark-submit entry point: lakelet table maintenance.

The lifecycle operations the reference delegates to TDR/BigQuery
(staging TTL, docker/diff/diff.py:41-56) plus the engine's own
(re-bucketing as the keyspace grows; tombstone compaction past the
lateness bound). Every operation is a logically-empty commit — the
live state hash is unchanged.

Usage:

    spark-submit --py-files dist/clinvar_ingest_spark.zip jobs/maintain.py \
        --table /lake/pages --rebucket 512
    ... --table /lake/pages --expire-keep 5
    ... --table /lake/pages --purge-tombstones-before '2024-06-01 00:00:00'
    ... --table /lake/pages --sort-by warc_ts,_seq --zorder
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--table", required=True, help="lakelet table root")
    p.add_argument("--rebucket", type=int, help="rewrite under N hash buckets")
    p.add_argument("--grow-buckets", type=int,
                   help="metadata-only partition-spec growth to N buckets "
                        "(integer multiple of current; zero data rewritten "
                        "— merges/compactions migrate legacy files lazily)")
    p.add_argument("--expire-keep", type=int,
                   help="expire all but the last N snapshots + GC data files")
    p.add_argument("--expire-grace", type=float, default=600.0,
                   help="seconds: leave commit artifacts younger than this "
                        "alone (in-flight multi-writer protection)")
    p.add_argument("--purge-tombstones-before", metavar="TS",
                   help="drop delete tombstones with warc_ts < TS (ISO)")
    p.add_argument("--binpack", type=int, metavar="MIN_FILES",
                   help="bin-pack buckets fragmented into >= MIN_FILES "
                        "base files back to the file-size policy")
    p.add_argument("--sort-by", metavar="COLS",
                   help="comma-separated columns: cluster each bucket's "
                        "rows in this order (tight row-group stats)")
    p.add_argument("--zorder", action="store_true",
                   help="with --sort-by: Morton-interleave the columns "
                        "instead of lexicographic order")
    p.add_argument("--auto", action="store_true",
                   help="one policy-driven pass (lakelet.maintenance."
                        "auto_maintain defaults: fold deltas, bin-pack "
                        ">=4-file buckets, keep 8 snapshots older than "
                        "1h); combinable with --purge-tombstones-before "
                        "to also purge aged tombstones inside the pass, "
                        "and with --expire-keep to keep that many "
                        "snapshots instead of 8 (expiry runs once)")
    p.add_argument("--master", default="submit")
    args = p.parse_args(argv)
    if not (
        args.rebucket
        or args.grow_buckets
        or args.expire_keep is not None
        or args.purge_tombstones_before
        or args.sort_by
        or args.binpack
        or args.auto
    ):
        p.error("pick at least one maintenance operation")

    from clinvar_ingest_spark.engine import CdcEngine
    from clinvar_ingest_spark.lakelet.maintenance import (
        expire_snapshots,
        purge_tombstones,
        rebucket,
        rewrite_small_files,
        sort_rewrite,
    )
    from clinvar_ingest_spark.session import get_spark

    spark = get_spark(app_name="lakelet_maintain", master=args.master)
    eng = CdcEngine(spark, args.table)
    before = eng.state_hash()
    out: dict = {"table": args.table, "state_hash": before}

    if args.auto:
        from clinvar_ingest_spark.lakelet.maintenance import (
            MaintenancePolicy,
            auto_maintain,
        )

        pol = MaintenancePolicy(
            purge_tombstones_before=args.purge_tombstones_before,
            in_flight_grace_secs=args.expire_grace,
        )
        if args.expire_keep is not None:
            pol.expire_keep_last = args.expire_keep
        out["auto"] = auto_maintain(spark, eng.table, pol)
        # consumed by the policy: each action runs once per invocation
        args.purge_tombstones_before = None
        args.expire_keep = None
    if args.rebucket:
        out["rebucket_snapshot"] = rebucket(spark, eng.table, args.rebucket)
    if args.grow_buckets:
        out["grow_snapshot"] = eng.table.grow_buckets(args.grow_buckets)
    if args.binpack:
        out["binpack_snapshot"] = rewrite_small_files(
            spark, eng.table, min_files=args.binpack
        )
    if args.purge_tombstones_before:
        out["purge_snapshot"] = purge_tombstones(
            spark, eng.table, args.purge_tombstones_before
        )
    if args.sort_by:
        out["sort_snapshot"] = sort_rewrite(
            spark, eng.table, by=args.sort_by.split(","), zorder=args.zorder
        )
    if args.expire_keep is not None:
        out["expire"] = expire_snapshots(
            eng.table, keep_last=args.expire_keep,
            in_flight_grace_secs=args.expire_grace,
        )

    after = eng.state_hash()
    out["state_hash_unchanged"] = after == before
    print(json.dumps(out))
    return 0 if out["state_hash_unchanged"] else 1


if __name__ == "__main__":
    sys.exit(main())
