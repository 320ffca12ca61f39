"""Release sets: one atomic, consistent snapshot cut across MANY
lakelet tables.

Reference parity: the TDR snapshot is a single consistent cut over all
17 tables via the ``clinvar_release`` asset graph (reference:
schema/src/main/jade-assets/clinvar_release.asset.json:1-60 — root
column release_date, `follow` edges from every table;
orchestration/scripts/request-release-date-snapshot.py:127-154 submits
one snapshot naming them all). Here a **release manifest** pins the
snapshot id of every member table at one named version:

    root/
      <table>/...                 member lakelet tables
      _releases/<release_id>.json release manifest {tables: {name: sid}}
      _releases/head-{seq}.json   head chain; the highest slot is the
                                  current release (manifest.advance_head,
                                  the protocol every table commit uses)

Commit protocol (two-phase, crash-consistent):

1. every member table commits independently with a DETERMINISTIC
   batch-derived snapshot id (idempotent re-point on re-run);
2. only after ALL members are committed is the release manifest
   written create-if-absent and head-linked (atomic os.link CAS).

A crash mid-fan-out therefore leaves some tables at a newer version but
the release pointer still names the last COMPLETE cut — release-scoped
readers never observe a mixed-version state, and re-running the same
batch self-heals: already-committed member tables no-op, the missing
ones commit, and the release manifest lands.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from clinvar_ingest_spark.lakelet.manifest import (
    advance_head,
    latest_pointer,
    read_json,
)
from clinvar_ingest_spark.lakelet.table import LakeletTable


def release_id_for(parent_id: str | None, batch_id: str, tables: dict[str, str]) -> str:
    """Deterministic release id: same parent + batch + member snapshot
    set ⇒ same id (the exactly-once key at release granularity)."""
    body = "|".join(f"{k}={v}" for k, v in sorted(tables.items()))
    payload = f"{parent_id or 'root'}|{batch_id}|{body}"
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:20]


class ReleaseSet:
    def __init__(self, root: str):
        self.root = root
        self.release_dir = os.path.join(root, "_releases")

    # ------------------------------------------------------------- pointers

    def _release_path(self, rid: str) -> str:
        return os.path.join(self.release_dir, f"{rid}.json")

    def _latest_head(self) -> tuple[int, str] | None:
        h = latest_pointer(self.release_dir)
        return None if h is None else (h[0], h[1]["release_id"])

    def current_release_id(self) -> str | None:
        h = self._latest_head()
        return None if h is None else h[1]

    def release(self, release_id: str | None = None) -> dict:
        rid = release_id or self.current_release_id()
        if rid is None:
            raise FileNotFoundError(f"no release committed under {self.root}")
        return read_json(self._release_path(rid))

    def history(self) -> list[str]:
        """Release ids oldest → current."""
        chain = []
        rid = self.current_release_id()
        while rid is not None and os.path.exists(self._release_path(rid)):
            chain.append(rid)
            rid = read_json(self._release_path(rid)).get("parent_id")
        return list(reversed(chain))

    # --------------------------------------------------------------- commit

    def commit_release(self, batch_id: str, tables: dict[str, str]) -> str:
        """Pin {table → snapshot_id} as one release (atomic CAS link).
        Idempotent: the deterministic release id makes a re-run of the
        same cut a no-op; a DIFFERENT concurrent release on the same
        seq raises CommitConflictError."""
        h = self._latest_head()
        parent_id = None if h is None else h[1]
        seq = 0 if h is None else h[0] + 1
        tables = dict(sorted(tables.items()))
        if parent_id is not None:
            cur = self.release(parent_id)
            if cur.get("batch_id") == batch_id and cur.get("tables") == tables:
                return parent_id  # re-run of an already-released batch
        rid = release_id_for(parent_id, batch_id, tables)
        record = {
            "release_id": rid,
            "parent_id": parent_id,
            "batch_id": batch_id,
            "tables": tables,
        }
        advance_head(
            self.release_dir, seq, rid, self.release_dir, record, key="release_id"
        )
        return rid

    # ---------------------------------------------------------------- reads

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        release_id: str | None = None,
    ) -> DataFrame:
        """A member table AS OF one release — every table read through
        the same release id is one consistent cut (the reference's
        asset-graph snapshot semantics)."""
        rel = self.release(release_id)
        sid = rel["tables"].get(name)
        if sid is None:
            raise KeyError(f"table {name!r} not in release {rel['release_id']}")
        t = LakeletTable.load(os.path.join(self.root, name))
        return t.read(spark, snapshot_id=sid)


def expire_releases(
    rs: ReleaseSet, keep_last: int = 3, in_flight_grace_secs: float = 0.0
) -> dict:
    """Release-aware retention sweep: expire all but the last
    ``keep_last`` releases, then expire member-table snapshots —
    pinning every snapshot id a SURVIVING release references, so AS-OF
    reads of retained releases keep working after the sweep (the
    member tables' own chain retention alone could GC a pinned cut).
    Returns {'expired_releases': [...], 'tables': {name: stats}}."""
    chain = rs.history()
    keep_rel = chain[-keep_last:] if keep_last > 0 else chain[-1:]
    expired = [r for r in chain if r not in set(keep_rel)]

    pinned: dict[str, set[str]] = {}
    for rid in keep_rel:
        for name, sid in rs.release(rid)["tables"].items():
            pinned.setdefault(name, set()).add(sid)

    # drop expired release manifests (head pointers stay: they anchor
    # the seq chain and are tiny; the latest is always preserved)
    for rid in expired:
        try:
            os.unlink(rs._release_path(rid))
        except FileNotFoundError:
            pass

    from clinvar_ingest_spark.lakelet.maintenance import expire_snapshots

    # sweep EVERY member table on disk, not only those named by
    # surviving releases — a table dropped from the fan-out set would
    # otherwise retain its whole snapshot chain forever
    members = [
        n for n in sorted(os.listdir(rs.root))
        if not n.startswith("_")
        and os.path.isdir(os.path.join(rs.root, n, "manifests"))
    ]
    stats: dict[str, dict] = {}
    for name in members:
        try:
            t = LakeletTable.load(os.path.join(rs.root, name))
        except FileNotFoundError:
            # half-created table (a concurrent `create` between its
            # manifests/ dir and its genesis head link, or a create
            # that crashed in that window): skip — never let one
            # stray dir abort the whole retention sweep
            stats[name] = {"skipped": "table not fully created"}
            continue
        stats[name] = expire_snapshots(
            t, keep_last=1, also_keep=pinned.get(name, set()),
            in_flight_grace_secs=in_flight_grace_secs,
        )
    return {"expired_releases": expired, "tables": stats}


def write_fanout_release(
    changelog: DataFrame,
    root: str,
    batch_id: str,
    entity_types: tuple[str, ...] | None = None,
    n_buckets: int = 16,
    dedup: bool = True,
) -> str:
    """Fan the changelog out into versioned entity tables AND pin them
    all under one release id (phase 2 of the protocol above). Returns
    the release id. Crash-safe: re-running the same ``batch_id``
    reconverges — member commits are idempotent, the release commit is
    CAS-idempotent."""
    from clinvar_ingest_spark.operators.fanout import (
        ENTITY_TYPES,
        write_fanout_lakelet,
    )

    ets = entity_types or ENTITY_TYPES
    snaps = write_fanout_lakelet(
        changelog, root, batch_id, entity_types=ets,
        n_buckets=n_buckets, dedup=dedup,
    )
    return ReleaseSet(root).commit_release(batch_id, snaps)
