"""Which engine functions the traced run wraps, and the per-layer metrics.

Layers are the engine's modules: ``engine`` (CdcEngine),
``operators.merge_cogroup`` (COW apply), ``operators.merge`` (MOR
apply), ``operators.diff``, ``lakelet.table``, ``lakelet.manifest``,
``streaming.ledger``. ``functions.extract`` and the Arrow LWW/classify
kernel run inside Python workers, so their cost is read from Spark's
event log as the ``spark.*`` metrics.

Time metrics named after a span are means per call over the timed
section's calls (``trace.prefer_timed``); a layer the timed section
never calls reports its set-up and warm-up calls instead.
"""

from __future__ import annotations

import os
import statistics

from perfbench import eventlog
from perfbench.harness import N_BUCKETS
from perfbench.trace import prefer_timed

#: the benchmark's own spans around each read operation
READ_OPS = ("op.lookup", "op.export", "op.scan")


def install(tracer) -> None:
    from clinvar_ingest_spark import engine
    from clinvar_ingest_spark.lakelet import manifest, table
    from clinvar_ingest_spark.operators import diff, merge, merge_cogroup
    from clinvar_ingest_spark.streaming import ledger
    from clinvar_ingest_spark.streaming.ledger import batch_id_for

    def apply_batch_id(_self, _batch, first_seq, last_seq, *_a, **_kw):
        return batch_id_for(first_seq, last_seq)

    def merge_counts(sp, _args, _kwargs, out):
        if out is not None:
            sp["counts"].update(write_secs=out.write_secs, commit_secs=out.commit_secs)

    def changed_ratio(sp, _args, _kwargs, out):
        sp["counts"]["ratio"] = 1.0 if out is None else len(out) / N_BUCKETS

    def key_stats(sp, _args, kwargs, _out):
        d = kwargs.get("stats_out")
        if d:
            sp["counts"].update(files_read=d["files_read"], files_in_bucket=d["files_in_bucket"])

    E = engine.CdcEngine
    tracer.wrap(E, "apply_batch", "engine.apply_batch", batch_of=apply_batch_id,
                on_result=merge_counts)
    tracer.wrap(E, "compact", "engine.compact")
    tracer.wrap(E, "lookup", "engine.lookup", on_result=key_stats)
    tracer.wrap(E, "changed_buckets", "engine.changed_buckets", on_result=changed_ratio)
    tracer.wrap(E, "diff_snapshots", "engine.diff_snapshots")
    tracer.wrap(E, "export_diff_ndjson", "engine.export_diff_ndjson")
    tracer.wrap(E, "state_hash", "engine.state_hash")
    tracer.wrap(merge_cogroup, "merge_apply_cogrouped", "merge_cogroup.merge_apply_cogrouped")
    tracer.wrap(merge, "merge_apply_mor", "merge.merge_apply_mor")
    tracer.wrap(diff, "diff_all", "diff.diff_all")
    T = table.LakeletTable
    for attr in ("read", "read_key", "commit_rewrite", "commit_delta", "rewrite_closure"):
        tracer.wrap(T, attr, f"table.{attr}")
    tracer.wrap(T, "manifest", "table.manifest", jobs=False)
    tracer.wrap(table, "promote_staged_files", "table.promote_staged_files")
    # the table module imported these by name, so wrap both bindings
    for fn in ("write_segment", "load_segment", "atomic_write_json", "read_json"):
        tracer.wrap(manifest, fn, f"manifest.{fn}", jobs=False)
        tracer.wrap(table, fn, f"manifest.{fn}", jobs=False)
    for attr in ("is_committed", "get", "record", "update"):
        tracer.wrap(ledger.Ledger, attr, f"ledger.{attr}", jobs=False)


def manifest_bytes(root: str) -> int:
    """On-disk bytes of the table's current manifest and its segments."""
    from clinvar_ingest_spark.lakelet.manifest import segment_path
    from clinvar_ingest_spark.lakelet.table import LakeletTable

    t = LakeletTable.load(root)
    m = t.manifest()
    total = os.path.getsize(t._manifest_path(m.snapshot_id))
    for s in m.segments or ():
        total += os.path.getsize(segment_path(t._seg_dir(), s.ref))
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def per_layer(tracer, bench, event_dir: str, manifest_size: int) -> dict:
    spans = tracer.spans
    selfs = tracer.self_times()

    def named(name):
        return prefer_timed([s for s in spans if s["name"] == name])

    def dur(s):
        return s["end"] - s["start"]

    applies = named("engine.apply_batch")
    lookups = named("engine.lookup")
    manifests = named("table.manifest")
    ledgers = prefer_timed([s for s in spans if s["name"].startswith("ledger.")])
    key_counts = [s["counts"] for s in lookups if "files_read" in s["counts"]]
    in_bucket = sum(c["files_in_bucket"] for c in key_counts)
    reads = prefer_timed([s for s in spans if s["name"] in READ_OPS])

    job_group, stage_group, tasks = eventlog.parse(event_dir)
    spark = eventlog.fold(
        job_group, stage_group, tasks,
        apply_spans=tracer.descendants(applies), n_batches=len(applies),
        read_spans=tracer.descendants(reads), n_reads=len(reads),
    )
    # worker start-up is paid once per process, so average it over every
    # apply of the run instead of the timed ones only
    every_apply = [s for s in spans if s["name"] == "engine.apply_batch"]
    spark["spark.python.start_s"] = eventlog.fold(
        job_group, stage_group, tasks,
        apply_spans=tracer.descendants(every_apply), n_batches=len(every_apply),
        read_spans=set(), n_reads=0,
    )["spark.python.start_s"]

    out = {
        "engine.apply_batch.self_s": (_mean(selfs[s["id"]] for s in applies), "s"),
        "engine.compact_s": (_mean(dur(s) for s in named("engine.compact")), "s"),
        "engine.lookup.plan_s": (_mean(dur(s) for s in lookups), "s"),
        "engine.lookup.exec_s": (_mean(dur(s) for s in named("engine.lookup.exec")), "s"),
        "engine.diff_snapshots_s": (_mean(dur(s) for s in named("engine.diff_snapshots")), "s"),
        "engine.changed_buckets_ratio": (
            _mean(s["counts"]["ratio"] for s in named("engine.changed_buckets")), "ratio"),
        "merge.mor.self_s": (_mean(selfs[s["id"]] for s in named("merge.merge_apply_mor")), "s"),
        "merge_cogroup.self_s": (
            _mean(selfs[s["id"]] for s in named("merge_cogroup.merge_apply_cogrouped")), "s"),
        "table.write_job_s": (
            _mean(s["counts"]["write_secs"] for s in applies if "write_secs" in s["counts"]), "s"),
        "table.promote_commit_s": (
            _mean(s["counts"]["commit_secs"] for s in applies if "commit_secs" in s["counts"]), "s"),
        "table.read.plan_s": (_mean(dur(s) for s in named("table.read")), "s"),
        "table.manifest.calls": (len(manifests), "count"),
        "table.manifest_s": (sum(dur(s) for s in tracer.outermost(manifests)), "s"),
        "table.read_key.files_read": (_mean(c["files_read"] for c in key_counts), "count"),
        "table.read_key.skip_ratio": (
            sum(c["files_in_bucket"] - c["files_read"] for c in key_counts) / in_bucket
            if in_bucket else 0.0, "ratio"),
        "table.bytes_written": (bench.table_bytes, "bytes"),
        "table.files_written": (bench.table_files, "count"),
        "manifest.bytes": (manifest_size, "bytes"),
        "ledger.calls": (len(ledgers), "count"),
        "ledger_s": (sum(dur(s) for s in tracer.outermost(ledgers)), "s"),
    }
    for k, v in spark.items():
        unit = ("bytes" if "bytes" in k else "ratio" if k.endswith("skew")
                else "count" if k.endswith("_per_batch") else "s")
        out[k] = (v, unit)
    out["trace.timed_wall_s"] = (bench.timed_wall, "s")
    return out


def apply_accounting(tracer) -> list[float]:
    """Per timed ``apply_batch``: (its self time + the self times of every
    span below it) ÷ its wall. 1.0 means the named layers account for
    the whole batch; overlapping child spans would push it above 1."""
    selfs = tracer.self_times()
    out = []
    for s in prefer_timed([s for s in tracer.spans if s["name"] == "engine.apply_batch"]):
        ids = tracer.descendants([s])
        out.append(sum(selfs[i] for i in ids) / (s["end"] - s["start"]))
    return out
