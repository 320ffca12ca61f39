"""LakeletTable — copy-on-write snapshot table over Parquet + manifests.

Layout under ``root/``::

    data/b{bucket:05d}-{snapshot_id}-{n}.parquet   immutable data files
    manifests/{snapshot_id}.json                   immutable snapshots
    manifests/segs/seg-{sha16}.json                file-list segments
    manifests/head-{seq:012d}.json                 head chain (highest = current)
    manifests/branches/{name}/head-*.json          branch head chains
    ledger/{batch_id}.json                         offsets/lineage ledger

Copy-on-write at **bucket granularity**: a MERGE rewrites only the data
files of buckets containing touched keys and carries every other file
entry forward unchanged — the reference's soft-delete+append row upsert
(reference: orchestration/templates/process-and-reingest-release.yaml:226-280)
re-expressed as file-level COW, which is what survives 100 TB (rewriting
1/4096th of the table per batch instead of row-level mutation RPCs).

Reads are manifest-planned: the caller gets exactly the files for the
requested snapshot (time travel) and optionally only the requested
buckets (partition pruning for MERGE's "read only touched buckets").
Bucket = ``pmod(xxhash64(url), n_buckets)`` computed *in Spark*, so the
same expression serves writing, pruning, and join co-location.

Schema evolution (SURVEY.md M5): add / rename / widen are metadata-only
commits. Files remember the schema_version they were written under;
reads build a per-version name-mapping (col_id based) + widen casts and
``unionByName`` the groups. Old snapshots stay readable forever —
the reference achieves drift-insulation by spilling unknowns into a
``content`` JSON column (reference: README.md:24-28); we keep that idea
as an optional ``props`` column *and* add real evolution.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
from typing import Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinvar_ingest_spark.functions.xhash import murmur3_ints, xxhash64
# atomic_write_json is unused here but stays a module attribute:
# tracing harnesses wrap the manifest I/O names on this module too
from clinvar_ingest_spark.lakelet.manifest import (  # noqa: F401
    ColumnSpec,
    CommitConflictError,
    FileEntry,
    Manifest,
    SegmentRef,
    advance_head,
    atomic_write_json,
    default_segment_width,
    head_path,
    latest_pointer,
    load_segment,
    read_json,
    snapshot_id_for,
    write_segment,
)

#: Default schema of the `pages` table (BASELINE.json input_hint) plus
#: lineage columns: `_seq` (LWW tie-break, FIXTURES.md §2) and `_deleted`
#: (soft-delete tombstone) — both kept in-table so late events can be
#: LWW-compared against the current state *including deletions*. Without
#: tombstones, a late event delivered after a cross-batch delete would
#: resurrect the key (the delete's newer (warc_ts, seq) would be gone);
#: with them, the final live state is exactly the global LWW winner per
#: url excluding delete-winners — the reference's soft-delete row model
#: (reference: process-and-reingest-release.yaml:226-252) kept queryable.
PAGES_COLUMNS = [
    ColumnSpec(1, "url", "string"),
    ColumnSpec(2, "warc_ts", "timestamp"),
    ColumnSpec(3, "html", "binary"),
    ColumnSpec(4, "text", "string"),
    ColumnSpec(5, "lang", "string"),
    ColumnSpec(6, "_seq", "long"),
    ColumnSpec(7, "_deleted", "boolean"),
    #: canonical-JSON residue of unmodeled changelog fields (the
    #: reference's `content` spill column, README.md:24-28 /
    #: Content.scala:16-22) — schema drift upstream lands here instead
    #: of being silently dropped
    ColumnSpec(8, "props", "string"),
]

_SPARK_TYPES = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "boolean": T.BooleanType(),
}

# legal widenings (Iceberg-compatible): int→long, float→double
_WIDEN_OK = {("int", "long"), ("float", "double"), ("int", "double")}


def spark_type(c: ColumnSpec) -> T.DataType:
    """Spark DataType of a column spec — scalars, ``array<scalar>``,
    ``struct`` and ``array<struct>`` (element shape in ``c.fields``)."""
    t = c.type
    if t == "struct":
        return T.StructType(
            [T.StructField(f.name, spark_type(f), True) for f in c.fields or []]
        )
    if t == "array<struct>":
        return T.ArrayType(
            T.StructType(
                [T.StructField(f.name, spark_type(f), True) for f in c.fields or []]
            )
        )
    if t.startswith("array<") and t.endswith(">"):
        return T.ArrayType(_SPARK_TYPES[t[6:-1]])
    return _SPARK_TYPES[t]


def spark_schema(columns: Sequence[ColumnSpec]) -> T.StructType:
    return T.StructType([T.StructField(c.name, spark_type(c), True) for c in columns])


def _spec_shape_equal(a: ColumnSpec, b: ColumnSpec) -> bool:
    """Deep equality of (name, type, nested shape) — identity of the
    physical layout, so the read path can skip remapping."""
    if a.name != b.name or a.type != b.type:
        return False
    af, bf = a.fields or [], b.fields or []
    return len(af) == len(bf) and all(
        _spec_shape_equal(x, y) for x, y in zip(af, bf)
    )


def _remap_expr(base, src: ColumnSpec, tgt: ColumnSpec):
    """Column expression presenting data written under ``src``'s shape
    as ``tgt``'s shape, matching nested fields by col_id: renamed
    fields follow, added fields backfill NULL, widened fields cast.
    ``base`` is the Column holding the source value."""
    if tgt.type == "struct":
        src_by_id = {f.col_id: f for f in src.fields or []}
        parts = []
        for tf in tgt.fields or []:
            sf = src_by_id.get(tf.col_id)
            if sf is None:
                parts.append(F.lit(None).cast(spark_type(tf)).alias(tf.name))
            else:
                parts.append(_remap_expr(base[sf.name], sf, tf).alias(tf.name))
        # `when` without otherwise keeps NULL structs NULL instead of
        # materializing a struct of NULLs
        return F.when(base.isNotNull(), F.struct(*parts))
    if tgt.type == "array<struct>":
        se = ColumnSpec(-1, "", "struct", fields=src.fields)
        te = ColumnSpec(-1, "", "struct", fields=tgt.fields)
        return F.transform(base, lambda x: _remap_expr(x, se, te))
    if src.type != tgt.type:
        return base.cast(spark_type(tgt))
    return base


def align_select(
    src_cols: Sequence[ColumnSpec], tgt_cols: Sequence[ColumnSpec]
) -> list:
    """SELECT list presenting rows stored under ``src_cols`` as
    ``tgt_cols`` (col-id name-mapping + widen casts, recursing into
    struct / array<struct> shapes). The single mapping used by
    time-travel reads AND evolution-straddling diffs."""
    src_by_id = {c.col_id: c for c in src_cols}
    sel = []
    for tc in tgt_cols:
        sc = src_by_id.get(tc.col_id)
        if sc is None:  # column added after these rows were written
            sel.append(F.lit(None).cast(spark_type(tc)).alias(tc.name))
        elif _spec_shape_equal(sc, tc):
            sel.append(F.col(tc.name))
        else:
            sel.append(_remap_expr(F.col(sc.name), sc, tc).alias(tc.name))
    return sel


def bucket_expr(key_col: str, n_buckets: int):
    """``pmod(xxhash64(key), n_buckets)``, NULL for a NULL key. Spark's
    ``xxhash64(NULL)`` is the seed (42), not NULL, so without the guard
    a NULL key would land in bucket ``42 % n`` and commit as a row; a
    NULL bucket instead reaches the writer as the default partition,
    which :func:`promote_staged_files` refuses."""
    col = F.col(key_col)
    return F.when(
        col.isNotNull(), F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")
    )


#: the column carrying a row's placement salt (:func:`place_buckets`)
SALT = "_salt"


def bucket_salts(buckets: Sequence[int], k: int) -> dict[int, int]:
    """Per bucket, the smallest salt ``v >= 0`` that sends
    ``hashpartitioning(v, bucket)`` at ``k`` partitions to task ``i % k``,
    ``i`` the bucket's index in the sorted list: every task gets
    ``len(buckets) / k`` buckets, ±1 (a plain ``_bucket`` hash leaves
    some tasks several buckets over their share)."""
    salts = {}
    for i, b in enumerate(sorted(buckets)):
        v = 0
        while murmur3_ints((v, b)) % k != i % k:
            v += 1
        salts[b] = v
    return salts


def place_buckets(spark: SparkSession, df: DataFrame, buckets: Sequence[int]) -> DataFrame:
    """``df`` shuffled so a task holds whole buckets and the tasks hold
    ``buckets`` evenly: ``k = min(len(buckets), defaultParallelism)``
    tasks, one ``REPARTITION_BY_NUM`` Exchange on (:data:`SALT`,
    ``_bucket``), which AQE never coalesces. Buckets stay the unit of
    files and of LWW groups; tasks become the unit of CPU, so each
    Python task pays its fixed start cost once per core, not once per
    bucket. Group or window on (:data:`SALT`, ``_bucket``, ...) after it
    and Spark adds no Exchange; a bucket missing from ``buckets`` still
    lands whole in one task. ``_bucket`` is an int column, as
    :func:`bucket_expr` makes it: the salts assume ``hash`` of an int."""
    k = max(1, min(len(buckets), spark.sparkContext.defaultParallelism))
    salts = bucket_salts(buckets, k)
    by_bucket = [salts.get(b, 0) for b in range(max(salts, default=0) + 1)]
    salt = F.get(F.array(*map(F.lit, by_bucket)), F.col("_bucket"))
    return df.withColumn(SALT, salt).repartition(k, SALT, "_bucket")


#: The merge-on-read resolution order: a key's winning row version is
#: its greatest ``(warc_ts, _seq)``, a NULL ``warc_ts`` ranking lowest —
#: the order of the apply kernel's LWW and of ``operators.lww``.
MOR_ORDER = ("warc_ts", "_seq")


def _resolve_lww(df: DataFrame, key_col: str, within: Sequence[str] = ()) -> DataFrame:
    """Collapse a base+delta row stack to the LWW winner per key by
    :data:`MOR_ORDER`. The window is partitioned by ``within`` + key:
    a read already hash-partitioned on ``within`` (:data:`SALT` and
    ``_bucket``, in :meth:`LakeletTable._read_bucketed`) satisfies it
    with no Exchange of its own, while a bare key partitioning costs
    one on the key.
    Ties are impossible in engine use because ``_seq`` is the
    changelog's globally-unique event sequence (redeliveries are
    absorbed by the exactly-once ledger before a second delta could
    exist)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*within, key_col).orderBy(
        *[F.col(c).desc() for c in MOR_ORDER]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _exact_buckets(
    df: DataFrame, m: Manifest, files: Sequence[FileEntry], bset: set[int] | None
) -> DataFrame:
    """``df``, read from ``files``, cut to the CURRENT-spec buckets
    ``bset``. Under partition-spec evolution a legacy-spec file spans
    several current buckets, so a row-level hash filter keeps the
    bucket-read contract exact (one codegen'd expression; a no-op for
    closure-expanded rewrite reads, load-bearing for any caller that
    asked for precise bucket slices). Identity when no subset was asked
    for or every file is current-spec."""
    if bset is None or all(f.spec_n in (None, m.n_buckets) for f in files):
        return df
    key_col = m.summary.get("key_col", "url")
    return df.filter(bucket_expr(key_col, m.n_buckets).isin(*bset))


def key_bucket(key: str, n_buckets: int) -> int:
    """Driver-side :func:`bucket_expr` for one string key: the same
    ``pmod(xxhash64(key), n_buckets)``, computed without a Spark job."""
    return xxhash64(key.encode("utf-8")) % n_buckets


#: footer key-value entry where Spark's parquet writer stores the row schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> T.StructType:
    """The Spark row schema stored in one data file's footer, read on
    the driver — what Spark's own inference reads (with ``mergeSchema``
    off) without the one-task job it launches to read it. Every table
    file is written by Spark, which always stores this entry."""
    raw = pq.read_metadata(path).metadata[_SPARK_ROW_METADATA]
    return T.StructType.fromJson(json.loads(raw))


def _check_ref_name(name: str, kind: str) -> str:
    """Validate a branch/tag name before ANY filesystem use. Every ref
    name becomes a path component under manifests/, so path separators
    and dot-aliases are not just invalid — ``drop_branch("..")`` would
    rmtree the whole manifest store, and ``create_branch("..")`` would
    alias the "branch" onto the main head chain, silently defeating
    write-audit-publish isolation."""
    if (
        not name
        or name in (".", "..")
        or "/" in name
        or "\\" in name
        or os.sep in name
        or "\x00" in name
        or name.startswith(("_", "head-"))
    ):
        raise ValueError(f"invalid {kind} name {name!r}")
    return name


class LakeletTable:
    def __init__(self, root: str, branch: str | None = None):
        self.root = root
        self.manifest_dir = os.path.join(root, "manifests")
        self.data_dir = os.path.join(root, "data")
        self.branch = branch
        #: split each bucket's output into files of at most this many
        #: rows (Spark's maxRecordsPerFile; None = one file per bucket
        #: per commit). At 100 TB a hot bucket must not become one
        #: monolithic file — parquet scans split fine either way, but
        #: compaction/promotion granularity and object-store limits
        #: favor bounded files. Reads/promotion handle multi-file
        #: buckets natively (tokened ...-{i} names).
        self.max_records_per_file: int | None = None
        if branch is None:
            # main chain: the head pointers live next to the manifests
            self.head_dir = self.manifest_dir
            self.ledger_dir = os.path.join(root, "ledger")
        else:
            # a branch is ONLY its own head chain (+ exactly-once ledger):
            # manifest JSONs are content-addressed and shared with main,
            # data files are shared — branching is a metadata-only fork
            # (Iceberg branch refs; the WAP staging pattern)
            self.head_dir = os.path.join(self.manifest_dir, "branches", branch)
            self.ledger_dir = os.path.join(root, "ledger", "branches", branch)

    # ------------------------------------------------------------------ setup

    @classmethod
    def create(
        cls,
        root: str,
        columns: Sequence[ColumnSpec] | None = None,
        n_buckets: int = 16,
        key_col: str = "url",
        stats_cols: Sequence[str] | None = None,
    ) -> "LakeletTable":
        t = cls(root)
        if t._latest_head() is not None:
            return t  # idempotent create
        columns = list(columns or PAGES_COLUMNS)
        summary = {"total_rows": 0, "key_col": key_col}
        if stats_cols:
            # columns whose per-file [min,max] footer bounds land in the
            # manifest (Iceberg column-stats file skipping); change
            # later with set_stats_cols
            summary["stats_cols"] = list(stats_cols)
        # the commit stamps genesis with commit_seq 0 and committed_at
        # like every other commit — without the stamp snapshot_as_of()
        # would claim the window between table creation and the first
        # data commit is "expired". A concurrent create computes the
        # same deterministic genesis id: its losing link is a benign
        # same-id slot
        t._commit_manifest(
            Manifest(
                snapshot_id=snapshot_id_for(None, "genesis", 1),
                parent_id=None,
                batch_id="genesis",
                schema_version=1,
                n_buckets=n_buckets,
                schemas={1: columns},
                summary=summary,
            ),
            None,
        )
        return t

    @classmethod
    def load(cls, root: str) -> "LakeletTable":
        t = cls(root)
        if t._latest_head() is None:
            raise FileNotFoundError(f"no lakelet table at {root}")
        return t

    # -------------------------------------------------------------- manifests

    def _manifest_path(self, sid: str) -> str:
        return os.path.join(self.manifest_dir, f"{sid}.json")

    # ------------------------------------------------- optimistic concurrency
    #
    # The commit chain is a sequence of immutable head pointer files
    # `head-{seq:012d}.json` ({"snapshot_id": sid}); the highest slot
    # is the current snapshot and there is no other pointer. Writer
    # protocol (manifest.advance_head): plan against the current
    # manifest (commit_seq = n), write the new manifest create-if-
    # absent, then link head-{n+1} with os.link — an atomic create-if-
    # absent, the filesystem CAS. If another writer already took seq
    # n+1 with a different snapshot this commit raises
    # CommitConflictError (caller re-plans + retries). This is
    # Iceberg's optimistic-concurrency commit re-expressed for a plain
    # POSIX filesystem; a crash between manifest write and link leaves
    # an orphan manifest that is off the chain and never counts as
    # committed.

    def _head_path(self, seq: int) -> str:
        return head_path(self.head_dir, seq)

    def _latest_head(self) -> tuple[int, str] | None:
        """(seq, sid) of the highest committed head, or None when the
        chain does not exist (no table, or no such branch)."""
        h = latest_pointer(self.head_dir)
        return None if h is None else (h[0], h[1]["snapshot_id"])

    def _is_committed_child(self, sid: str, parent: Manifest) -> bool:
        """O(1) committed check for the commit path: ``sid`` (the
        deterministic child of ``parent``) is committed iff the head
        slot parent.commit_seq+1 exists and names it. A manifest FILE
        alone proves nothing — a writer may have crashed between
        manifest write and head link, and such orphans must not
        satisfy idempotency short-circuits."""
        hp = self._head_path(int(parent.summary.get("commit_seq", 0)) + 1)
        try:
            return read_json(hp)["snapshot_id"] == sid
        except FileNotFoundError:
            return False

    def _is_committed(self, sid: str) -> bool:
        """True iff ``sid`` is on the committed chain (an ancestor of —
        or equal to — the current head). O(chain) walk — diagnostics /
        tests; the commit path uses :meth:`_is_committed_child`."""
        if not self.has_snapshot(sid):
            return False
        s = self.current_snapshot_id()
        while s is not None and self.has_snapshot(s):
            if s == sid:
                return True
            s = self.manifest(s).parent_id
        return False

    def current_snapshot_id(self) -> str:
        h = self._latest_head()
        if h is None:
            raise FileNotFoundError(f"no head chain under {self.head_dir}")
        return h[1]

    def manifest(self, snapshot_id: str | None = None) -> Manifest:
        sid = snapshot_id or self.current_snapshot_id()
        return Manifest.from_json(
            read_json(self._manifest_path(sid)), seg_dir=self._seg_dir()
        )

    def _seg_dir(self) -> str:
        return os.path.join(self.manifest_dir, "segs")

    def has_snapshot(self, snapshot_id: str) -> bool:
        return os.path.exists(self._manifest_path(snapshot_id))

    def history(self) -> list[str]:
        """Snapshot ids from the oldest readable ancestor to current.
        After ``expire_snapshots`` the chain starts at the oldest
        surviving manifest (expired parents are unreachable)."""
        chain = []
        sid = self.current_snapshot_id()
        while sid is not None and self.has_snapshot(sid):
            chain.append(sid)
            sid = self.manifest(sid).parent_id
        return list(reversed(chain))

    @property
    def key_col(self) -> str:
        return self.manifest().summary.get("key_col", "url")

    # ------------------------------------------------------- branches & tags
    #
    # A branch is a named head chain (head-*.json) in
    # manifests/branches/<name>/ over the SAME content-addressed
    # manifest store and data directory — creating one links one tiny
    # seed pointer, and every commit path (COW rewrite, MOR delta,
    # schema evolution) works on a branch unchanged because commits
    # only ever touch the instance's head chain. This is Iceberg's
    # branch ref re-expressed for the POSIX manifest layout, and the
    # substrate for write-audit-publish: ingest onto a staging branch,
    # audit the branch snapshot, then publish atomically to main.
    # A tag is an immutable named pointer to one snapshot id
    # (manifests/tags/<name>.json, created with the same os.link CAS —
    # re-tagging a taken name raises). expire_snapshots pins branch
    # heads and tag targets, so neither can be GC'd out from under a
    # reader.

    def _branches_dir(self) -> str:
        return os.path.join(self.manifest_dir, "branches")

    def _tags_dir(self) -> str:
        return os.path.join(self.manifest_dir, "tags")

    def branches(self) -> list[str]:
        try:
            return sorted(
                d for d in os.listdir(self._branches_dir())
                if os.path.isdir(os.path.join(self._branches_dir(), d))
            )
        except FileNotFoundError:
            return []

    def create_branch(
        self, name: str, from_snapshot_id: str | None = None
    ) -> str:
        """Fork a branch at ``from_snapshot_id`` (default: this chain's
        current snapshot). Metadata-only: seeds the branch head chain at
        the source snapshot's commit_seq, so the branch's first commit
        CASes the next slot in ITS OWN chain. Idempotent when the branch
        already points at the requested snapshot; raises FileExistsError
        on a live branch at a different snapshot (drop it first)."""
        _check_ref_name(name, "branch")
        src = self.manifest(from_snapshot_id)
        seq = int(src.summary.get("commit_seq", 0))
        bdir = os.path.join(self._branches_dir(), name)
        existing = latest_pointer(bdir)
        if existing is not None:
            if existing[1]["snapshot_id"] == src.snapshot_id:
                return src.snapshot_id
            raise FileExistsError(
                f"branch {name!r} exists at {existing[1]['snapshot_id']}"
            )
        # the seed names a committed manifest, so no record is written;
        # a concurrent create at the same snapshot is a benign same-id slot
        try:
            advance_head(bdir, seq, src.snapshot_id, self.manifest_dir, None)
        except CommitConflictError as e:
            raise FileExistsError(
                f"branch {name!r} was created concurrently at another snapshot"
            ) from e
        return src.snapshot_id

    def fork_snapshot_id(self) -> str | None:
        """The snapshot this branch was forked at (the seed head — the
        LOWEST pointer in the branch chain; branch commits only ever add
        higher slots). None on the main chain. The fork snapshot was
        committed by the PARENT chain: idempotency heuristics keyed on
        "the current head's batch_id" must not treat it as a commit this
        chain made (see CdcEngine._apply_batch_once crash repair)."""
        if self.branch is None:
            return None
        from clinvar_ingest_spark.lakelet.manifest import oldest_pointer

        seed = oldest_pointer(self.head_dir)
        return None if seed is None else seed[1]["snapshot_id"]

    def for_branch(self, name: str) -> "LakeletTable":
        """A view of this table whose commits and current-snapshot reads
        go through branch ``name``'s head chain (shared manifests +
        data). Reads by explicit snapshot_id are chain-agnostic."""
        bdir = os.path.join(self._branches_dir(), _check_ref_name(name, "branch"))
        if latest_pointer(bdir) is None:
            raise FileNotFoundError(f"no branch {name!r} at {self.root}")
        return LakeletTable(self.root, branch=name)

    def drop_branch(self, name: str) -> None:
        """Remove a branch's head chain (and its exactly-once ledger).
        Snapshots only the branch referenced become unpinned — the next
        expire_snapshots sweep GCs their manifests and any data files no
        surviving manifest references."""
        _check_ref_name(name, "branch")
        _rmtree(os.path.join(self._branches_dir(), name))
        _rmtree(os.path.join(self.root, "ledger", "branches", name))

    def publish_branch(
        self, name: str, expected_parent_id: str | None = None
    ) -> str:
        """Write-audit-publish: atomically make this chain's state equal
        to branch ``name``'s current snapshot (same file list, same
        schema — a metadata-only squash commit via the normal head-chain
        CAS; deterministic snapshot id ⇒ idempotent re-publish).

        Fast-forward only: this chain's current snapshot must be an
        ancestor of (or equal to) the branch head — i.e. nothing landed
        here since the branch forked. Anything else raises
        CommitConflictError: re-create the branch from current and
        re-apply (re-audit) rather than silently stomping commits the
        audit never saw. Returns the published snapshot id."""
        bm = self.for_branch(name).manifest()
        m = self.manifest()
        if expected_parent_id is not None and m.snapshot_id != expected_parent_id:
            raise CommitConflictError(
                f"planned against {expected_parent_id}, chain moved to "
                f"{m.snapshot_id}"
            )
        if bm.snapshot_id == m.snapshot_id:
            return m.snapshot_id  # nothing to publish
        batch_id = f"publish:{name}:{bm.snapshot_id}"
        if m.batch_id == batch_id:
            # this exact branch state is already the chain head —
            # idempotent re-publish after a success
            return m.snapshot_id
        # fast-forward check: walk the branch's parent chain back to the
        # target head (bounded by the branch's commit count)
        anc = bm.snapshot_id
        while anc is not None and anc != m.snapshot_id:
            anc = self.manifest(anc).parent_id if self.has_snapshot(anc) else None
        if anc != m.snapshot_id:
            raise CommitConflictError(
                f"branch {name!r} does not descend from current snapshot "
                f"{m.snapshot_id} — this chain moved since the fork; "
                "re-branch from current and re-apply"
            )
        return self._commit_child(m, batch_id, src=bm)

    def create_tag(self, name: str, snapshot_id: str | None = None) -> str:
        """Immutably name a snapshot (audit labels, release aliases).
        Tags pin their target against expire_snapshots. Re-tagging a
        taken name raises FileExistsError unless it already points at
        the same snapshot (idempotent)."""
        _check_ref_name(name, "tag")
        sid = snapshot_id or self.current_snapshot_id()
        if not self.has_snapshot(sid):
            raise FileNotFoundError(f"no snapshot {sid} to tag")
        from clinvar_ingest_spark.lakelet.manifest import link_pointer

        try:
            link_pointer(self._tags_dir(), f"{name}.json", {"snapshot_id": sid})
        except FileExistsError:
            if self.resolve_ref(name) != sid:
                raise
        return sid

    def delete_tag(self, name: str) -> None:
        import contextlib

        _check_ref_name(name, "tag")
        with contextlib.suppress(FileNotFoundError):
            os.unlink(os.path.join(self._tags_dir(), f"{name}.json"))

    def tags(self) -> dict[str, str]:
        out = {}
        try:
            names = os.listdir(self._tags_dir())
        except FileNotFoundError:
            return out
        for n in names:
            if n.endswith(".json"):
                out[n[:-5]] = read_json(os.path.join(self._tags_dir(), n))[
                    "snapshot_id"
                ]
        return out

    def resolve_ref(self, ref: str) -> str:
        """Snapshot id for a ref: a tag name, a branch name, or a raw
        snapshot id (checked in that order)."""
        tp = os.path.join(self._tags_dir(), f"{ref}.json")
        if os.path.exists(tp):
            return read_json(tp)["snapshot_id"]
        h = latest_pointer(os.path.join(self._branches_dir(), ref))
        if h is not None:
            return h[1]["snapshot_id"]
        if self.has_snapshot(ref):
            return ref
        raise FileNotFoundError(f"no tag/branch/snapshot named {ref!r}")

    # -------------------------------------------------- metadata tables

    def snapshot_as_of(self, ts: float) -> str:
        """Snapshot id current at wall-clock ``ts`` (epoch seconds) —
        the latest reachable snapshot with ``committed_at <= ts``
        (Iceberg's FOR SYSTEM_TIME AS OF). Raises if the chain's
        readable history starts after ``ts`` (expired past)."""
        best = None
        for sid in self.history():  # oldest .. current
            at = self.manifest(sid).summary.get("committed_at")
            if at is not None and at <= ts:
                best = sid
        if best is None:
            raise FileNotFoundError(
                f"no snapshot committed at or before {ts} is still readable"
            )
        return best

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table: one row per reachable snapshot on THIS chain
        (Iceberg's ``table.snapshots``). Driver-side: the manifest store
        is metadata, bounded by retention — never a data scan."""
        rows = []
        for sid in self.history():
            m = self.manifest(sid)
            n_files, n_delta = m.file_counts()
            rows.append((
                m.snapshot_id, m.parent_id, m.batch_id,
                int(m.summary.get("commit_seq", 0)), m.schema_version,
                m.n_buckets, int(m.summary.get("total_rows", 0)),
                n_files,
                n_delta,
                float(m.summary["committed_at"])
                if m.summary.get("committed_at") is not None else None,
            ))
        return spark.createDataFrame(
            rows,
            schema=(
                "snapshot_id string, parent_id string, batch_id string, "
                "commit_seq long, schema_version int, n_buckets int, "
                "total_rows long, n_files int, n_delta_files int, "
                "committed_at double"
            ),
        )

    def files_df(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> DataFrame:
        """Metadata table: one row per data file of a snapshot
        (Iceberg's ``table.files``) — the skipping stats exactly as the
        planner sees them."""
        m = self.manifest(snapshot_id)
        rows = [
            (
                f.path, f.bucket, f.rows, f.schema_version, f.kind,
                f.ts_min, f.ts_max, f.key_bloom is not None,
            )
            for f in m.files
        ]
        return spark.createDataFrame(
            rows,
            schema=(
                "path string, bucket int, rows long, schema_version int, "
                "kind string, ts_min string, ts_max string, "
                "has_key_bloom boolean"
            ),
        )

    def partitions_df(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> DataFrame:
        """Metadata table: one row per bucket (Iceberg's
        ``table.partitions``) — file/row/delta/tombstone rollups straight
        from the manifest, zero data files read. The operational view
        for spotting skewed buckets, compaction debt (n_delta_files),
        and purge debt (n_tombstones, where footer stats recorded it)."""
        m = self.manifest(snapshot_id)
        agg: dict[int, list] = {}
        for f in m.files:
            a = agg.setdefault(f.bucket, [0, 0, 0, 0])
            a[0] += 1
            a[1] += f.rows
            if f.kind == "delta":
                a[2] += 1
            nt = getattr(f, "n_tombstones", None)
            if nt is not None and a[3] is not None:
                a[3] += nt
            elif nt is None:
                a[3] = None  # unknown for any file ⇒ unknown for bucket
        rows = [
            (b, v[0], v[1], v[2], v[3]) for b, v in sorted(agg.items())
        ]
        return spark.createDataFrame(
            rows,
            schema=(
                "bucket int, n_files long, rows long, n_delta_files long, "
                "n_tombstones long"
            ),
        )

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table: every named ref — this chain's head, every
        branch head, every tag (Iceberg's ``table.refs``)."""
        rows = [("main", "branch", self.manifest().snapshot_id
                 if self.branch is None else LakeletTable(self.root)
                 .manifest().snapshot_id)]
        for b in self.branches():
            h = latest_pointer(os.path.join(self._branches_dir(), b))
            if h is not None:
                rows.append((b, "branch", h[1]["snapshot_id"]))
        for name, sid in sorted(self.tags().items()):
            rows.append((name, "tag", sid))
        return spark.createDataFrame(
            rows, schema="name string, type string, snapshot_id string"
        )

    # ------------------------------------------------------------------ reads

    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        buckets: Sequence[int] | None = None,
        ts_not_before: str | None = None,
        ts_not_after: str | None = None,
        resolve: bool = True,
        where_between: dict | None = None,
    ) -> DataFrame:
        """DataFrame of a snapshot (current by default), optionally pruned
        to a bucket subset and/or a ``warc_ts`` window (manifest-level
        file skipping via per-file footer stats — files that cannot
        contain rows in the window are never handed to Spark; the
        window prune is ADVISORY: rows outside the window may still
        appear, so callers keep their row filter). Handles
        multi-schema-version file groups via col_id name-mapping +
        widen casts; result always presents the snapshot's *current*
        schema.

        Merge-on-read: if the selected buckets carry ``delta`` files
        (see :meth:`commit_delta`), the read LWW-resolves base + delta
        rows to one row per key (``resolve=False`` returns the raw
        physical stack). This reader's resolution is a window on the
        key, so it costs one key-hashed Exchange over ONLY the
        delta-bearing buckets' rows; a fully compacted snapshot plans
        exactly like a pure-COW one. Writers read through
        :meth:`_read_bucketed` instead, which resolves inside the
        bucket shuffle they need anyway. The ts-window prune is
        disabled for delta-bearing buckets — skipping a file there
        could drop the LWW winner and resurrect a superseded row
        version, which is worse than the advisory extra-rows contract.

        Planning launches no Spark job: file pruning uses the manifest,
        and the scan's schema and file stats come from the driver
        (:meth:`_read_entries`). The first action is the first job.
        """
        m = self.manifest(snapshot_id)
        target_cols = m.columns
        target_schema = spark_schema(target_cols)
        bset = set(int(b) for b in buckets) if buckets is not None else None
        # bucket-pruned reads load only the manifest segments covering
        # the requested buckets — metadata planning cost ∝ request, not
        # table size (full scans hydrate everything, which they read
        # anyway)
        in_buckets = m.files if bset is None else m.files_for_buckets(bset)
        # delta-bearing buckets in CURRENT-spec space; base files are
        # then matched via the same spec projection (entry_covers) — raw
        # f.bucket equality would compare across two different bucket
        # spaces, letting the ts-window prune below drop a legacy base
        # file whose current bucket DOES carry deltas (the LWW winner
        # could live there: silent stale rows / resurrected deletes)
        delta_buckets = m.delta_cover(in_buckets)
        covered = [f for f in in_buckets if m.entry_covers(f, delta_buckets)]
        clean = select_files(
            [f for f in in_buckets if not m.entry_covers(f, delta_buckets)],
            None, ts_not_before, ts_not_after, where_between,
        )
        files = covered + clean
        if not files:
            return spark.createDataFrame([], schema=target_schema)
        # LWW resolution runs over the delta-covered FILES only — keys
        # never span buckets, so resolving the covered group and
        # unioning the untouched clean group is exact, and the resolve
        # Exchange is ∝ delta-bearing buckets' rows (1 hot bucket of
        # 4096 must not shuffle the whole table), which is the
        # docstring's promise
        parts = []
        if covered:
            cov = self._read_entries(spark, m, covered)
            if resolve:
                cov = _resolve_lww(cov, m.summary.get("key_col", "url"))
            parts.append(cov)
        if clean:
            parts.append(self._read_entries(spark, m, clean))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return _exact_buckets(out, m, files, bset)

    def _read_bucketed(
        self,
        spark: SparkSession,
        m: Manifest,
        buckets: Sequence[int] | None,
        n_buckets: int,
    ) -> DataFrame:
        """The table rows every bucket-parallel writer starts from: the
        COW and cells applies' current side, every maintenance rewrite
        and ``maintenance.rebucket``. Snapshot ``m``'s rows of
        ``buckets`` (None = all) with ``_bucket`` = the key's bucket
        under ``n_buckets``, placed by :func:`place_buckets` over
        ``buckets`` (all ``n_buckets`` when None): one
        ``REPARTITION_BY_NUM`` Exchange on (:data:`SALT`, ``_bucket``)
        into ``min(len(buckets), defaultParallelism)`` tasks, each
        holding whole buckets.

        Delta files among them are LWW-resolved AFTER that Exchange, by
        a window on (:data:`SALT`, ``_bucket``, key): keys never span
        buckets, so the partitioning already satisfies the window and
        the resolve costs a per-partition sort, not a second shuffle. A
        delta-free read plans no window."""
        bset = None if buckets is None else {int(b) for b in buckets}
        files = m.files if bset is None else m.files_for_buckets(bset)
        key_col = m.summary.get("key_col", "url")
        if files:
            rows = _exact_buckets(self._read_entries(spark, m, files), m, files, bset)
        else:
            rows = spark.createDataFrame([], schema=spark_schema(m.columns))
        rows = place_buckets(
            spark,
            rows.withColumn("_bucket", bucket_expr(key_col, n_buckets)),
            range(n_buckets) if bset is None else bset,
        )
        if any(f.kind == "delta" for f in files):
            rows = _resolve_lww(rows, key_col, within=(SALT, "_bucket"))
        return rows

    def _read_entries(
        self, spark: SparkSession, m: Manifest, files: Sequence[FileEntry]
    ) -> DataFrame:
        """Raw (unresolved) union of the given file entries, presented in
        ``m``'s current schema (col-id name-mapping + widen casts per
        schema-version group). Planned without a Spark job: each group's
        schema comes from the first file's footer, read on the driver,
        and the manifest's exact paths are statted on the driver (the
        listing threshold in ``session.get_spark``)."""
        target_cols = m.columns
        by_ver: dict[int, list[FileEntry]] = {}
        for f in files:
            by_ver.setdefault(f.schema_version, []).append(f)

        parts = []
        for ver, group in sorted(by_ver.items()):
            paths = [os.path.join(self.root, f.path) for f in group]
            # not the manifest spec: a file written through a loose-typed
            # commit_rewrite may store a wider physical type than its
            # spec (INT64 under "int"), and the scan must see the truth
            df = spark.read.schema(_footer_schema(paths[0])).parquet(*paths)
            parts.append(df.select(*align_select(m.schemas[ver], target_cols)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_key(
        self,
        spark: SparkSession,
        key: str,
        snapshot_id: str | None = None,
        stats_out: dict | None = None,
    ) -> DataFrame:
        """Point read: all row versions for one key, planned from
        metadata alone, with no Spark job before the scan — the key's
        hash bucket is computed on the driver (:func:`key_bucket`), the
        manifest prunes to that bucket,
        then per-file key BLOOM filters skip the merge-on-read delta
        files that cannot contain the key (lakelet/bloom.py; base files
        are always read — they hold the key's current row if any). The
        key equality filter lands in the parquet scan (PushedFilters),
        and LWW resolution — when any surviving delta file remains —
        runs AFTER the filter, over this key's few row versions only.

        On a fully compacted / pure-COW snapshot this is: one bucket,
        one file, one pushed-down point predicate — O(1) in table size.
        Under MOR it opens 1 + (deltas that saw the key) + fpp·deltas
        files instead of every delta in the bucket.

        ``stats_out``: observability — files considered/read/skipped.
        """
        from clinvar_ingest_spark.lakelet.bloom import bloom_maybe_contains

        m = self.manifest(snapshot_id)
        key_col = m.summary.get("key_col", "url")
        bucket = key_bucket(key, m.n_buckets)
        in_bucket = m.files_for_buckets({bucket})
        files = [
            f
            for f in in_bucket
            if f.kind != "delta"
            or f.key_bloom is None
            or bloom_maybe_contains(f.key_bloom, key)
        ]
        if stats_out is not None:
            stats_out["bucket"] = bucket
            stats_out["files_in_bucket"] = len(in_bucket)
            stats_out["files_read"] = len(files)
            stats_out["files_skipped"] = len(in_bucket) - len(files)
        if not files:
            return spark.createDataFrame([], schema=spark_schema(m.columns))
        out = self._read_entries(spark, m, files).filter(F.col(key_col) == key)
        if any(f.kind == "delta" for f in files):
            out = _resolve_lww(out, key_col)
        return out

    def delta_buckets(self, snapshot_id: str | None = None) -> list[int]:
        """Buckets of a snapshot carrying unresolved delta files
        (= the compaction work list)."""
        m = self.manifest(snapshot_id)
        return sorted(m.delta_bucket_set())

    def touched_buckets(self, batch_keys: DataFrame, key_col: str | None = None) -> list[int]:
        """Distinct buckets of a batch's keys (small: ≤ n_buckets ints;
        one tiny job). A NULL key has no bucket and is left out."""
        m = self.manifest()
        kc = key_col or self.key_col
        rows = (
            batch_keys.select(bucket_expr(kc, m.n_buckets).alias("b"))
            .distinct()
            .collect()
        )
        return sorted(r["b"] for r in rows if r["b"] is not None)

    # ----------------------------------------------------------------- commit

    # ---------------------------------------------------- file-list segments
    #
    # Iceberg's snapshot → manifest-list → manifest-file indirection,
    # re-expressed: a snapshot's file list is split into content-
    # addressed SEGMENTS (manifests/segs/seg-<sha16>.json). A commit
    # rewrites only the segments whose buckets it touched and carries
    # every other segment as a one-line ref — so commit METADATA cost
    # is ∝ touched buckets, not table size, which is what survives a
    # 10^10-event history over 100 TB (a single inline file list would
    # make every commit re-serialize O(table-files) JSON). MOR delta
    # commits append ONE new segment and carry everything: O(batch).

    def _writer(self, df: DataFrame):
        """Overwrite writer with the table's file-size policy applied."""
        w = df.write.mode("overwrite")
        if self.max_records_per_file:
            w = w.option("maxRecordsPerFile", int(self.max_records_per_file))
        return w

    def _segment_all(
        self, entries: Sequence[FileEntry], n_buckets: int
    ) -> tuple[list[SegmentRef], int]:
        """Segment a full file list from scratch (clone, rebucket,
        grow_buckets)."""
        width = default_segment_width(n_buckets)
        by_slot: dict[int, list[FileEntry]] = {}
        for fe in entries:
            by_slot.setdefault(fe.bucket // width, []).append(fe)

        def write_slot(slot: int) -> SegmentRef:
            sr = write_segment(self._seg_dir(), by_slot[slot])
            sr.kind = "range"
            sr.lo = slot * width
            sr.hi = slot * width + width - 1
            return sr

        slots = sorted(by_slot)
        if len(slots) > 4:  # parallel: each write is an fsync
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=8) as ex:
                segs = list(ex.map(write_slot, slots))
        else:
            segs = [write_slot(s) for s in slots]
        return segs, width

    def _advance_segments(
        self,
        m: Manifest,
        touched: set[int],
        new_entries: list[FileEntry],
        mode: str,
    ) -> tuple[list[SegmentRef], int]:
        """The child snapshot's segment list, from the parent's.

        ``mode='rewrite'`` (COW/compaction): every parent file of a
        touched bucket — base or delta, range or delta segment — is
        dropped; ``new_entries`` (the bucket's new base files) merge
        into their range segments. Only segments intersecting
        ``touched`` are loaded; the rest carry by ref.

        ``mode='delta'`` (merge-on-read): the parent's segments carry
        verbatim and ``new_entries`` become one new delta segment —
        zero parent loads, metadata cost ∝ batch.
        """
        seg_dir = self._seg_dir()
        base_segs, width = m.segments, m.segment_width

        if mode == "delta":
            sr = write_segment(seg_dir, new_entries)
            sr.kind = "delta"
            return list(base_segs) + [sr], width

        touched_slots = {b // width for b in touched}
        # legacy-spec projections (partition-spec evolution): a touched
        # current bucket b is held by a legacy-spec-sp file at bucket
        # b % sp — project touched into each legacy spec space once
        touched_mod = {
            sp: {b % sp for b in touched}
            for s in base_segs
            for sp in s.specs
            if sp != m.n_buckets
        }

        def keep_entry(f: FileEntry) -> bool:
            sp = f.spec_n or m.n_buckets
            if sp == m.n_buckets:
                return f.bucket not in touched
            return f.bucket not in touched_mod.get(sp, {b % sp for b in touched})

        def legacy_hit(s: SegmentRef) -> bool:
            return any(
                s.lo <= mb <= s.hi
                for sp in s.specs
                if sp != m.n_buckets
                for mb in touched_mod.get(sp, ())
            )

        by_slot_new: dict[int, list[FileEntry]] = {}
        for fe in new_entries:
            by_slot_new.setdefault(fe.bucket // width, []).append(fe)
        out: list[SegmentRef] = []
        # (kind, slot|None, entries) deferred to a parallel write pass —
        # each segment write is an fsync; a full-batch commit touching
        # every slot would otherwise serialize ~n_segments fsyncs on the
        # driver (measured as the cdc-replay regression when segments
        # first landed)
        jobs: list[tuple[str, int | None, list[FileEntry]]] = []
        for s in base_segs:
            if s.kind == "delta":
                ent_buckets = set(s.delta_buckets)
                if not (ent_buckets & touched) and not legacy_hit(s):
                    out.append(s)
                    continue
                if not s.specs or set(s.specs) == {m.n_buckets}:
                    if ent_buckets <= touched:
                        continue  # every entry dropped — skip the load
                ents = [f for f in load_segment(seg_dir, s.ref) if keep_entry(f)]
                if ents:
                    jobs.append(("delta", None, ents))
                continue
            slot = s.lo // width
            if (
                slot not in touched_slots
                and slot not in by_slot_new
                and not legacy_hit(s)
            ):
                out.append(s)
                continue
            if (
                (not s.specs or set(s.specs) == {m.n_buckets})
                and all(b in touched for b in range(s.lo, s.hi + 1))
            ):
                ents = []  # whole slot replaced — skip the load
            else:
                ents = [f for f in load_segment(seg_dir, s.ref) if keep_entry(f)]
            ents.extend(by_slot_new.pop(slot, []))
            if ents:
                jobs.append(("range", slot, ents))
        for slot in sorted(by_slot_new):
            jobs.append(("range", slot, by_slot_new[slot]))

        def write_job(job):
            kind, slot, ents = job
            nsr = write_segment(seg_dir, ents)
            nsr.kind = kind
            if slot is not None:
                nsr.lo = slot * width
                nsr.hi = slot * width + width - 1
            return nsr

        if len(jobs) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=8) as ex:
                out.extend(ex.map(write_job, jobs))
        else:
            out.extend(write_job(j) for j in jobs)
        out.sort(key=lambda s: (s.kind != "range", s.lo))
        return out, width

    def _prune_unreferenced(
        self, sid: str, cleanup_paths: Sequence[str] | None
    ) -> None:
        """Delete this writer's staged files that the COMMITTED manifest
        for ``sid`` does not reference (same-batch-race orphans)."""
        if not cleanup_paths:
            return
        # membership is per-bucket: parse the bucket from each staged
        # path (data/b{bucket:05d}-...) and hydrate only the segments
        # covering those buckets — the race-loser's question is O(batch),
        # it must not pay O(table segments) to answer it
        bks: set[int] = set()
        for p in cleanup_paths:
            try:
                bks.add(int(os.path.basename(p)[1:6]))
            except ValueError:  # unexpected layout: full-list fallback
                bks.clear()
                break
        m = self.manifest(sid)
        entries = m.files_for_buckets(bks) if bks else m.files
        referenced = {f.path for f in entries}
        for p in cleanup_paths:
            if p in referenced:
                continue
            try:
                os.unlink(os.path.join(self.root, p))
            except FileNotFoundError:
                pass

    def _commit_manifest(
        self,
        nm: Manifest,
        parent: Manifest | None,
        cleanup_paths: Sequence[str] | None = None,
    ) -> None:
        """Commit ``nm`` whose parent is ``parent`` (None: a new chain's
        seq 0) via :func:`advance_head`. On losing the race: if the
        winner committed the SAME snapshot id (two writers applying one
        idempotent batch) the commit counts as success; otherwise the
        orphan manifest and any ``cleanup_paths`` data files are removed
        and CommitConflictError is raised for the caller to re-plan."""
        import time as _time

        seq = 0 if parent is None else int(parent.summary.get("commit_seq", 0)) + 1
        nm.summary = dict(nm.summary)
        nm.summary["commit_seq"] = seq
        # wall-clock commit time: AS-OF-timestamp travel + metadata
        # tables. NOT part of determinism (snapshot ids derive from
        # parent/batch/schema only; same-batch racers may stamp
        # different times — whichever writer wins the create-if-absent
        # manifest file defines the recorded time)
        nm.summary["committed_at"] = round(_time.time(), 6)
        try:
            wrote_manifest = advance_head(
                self.head_dir, seq, nm.snapshot_id, self.manifest_dir,
                nm.to_json(),
            )
        except CommitConflictError:
            for p in cleanup_paths or ():
                try:
                    os.unlink(os.path.join(self.root, p))
                except FileNotFoundError:
                    pass
            raise
        # committed — but if a same-batch racer won the (create-if-
        # absent) MANIFEST file with its own file list, this writer's
        # staged files that list does not reference are unreachable
        # orphans: prune them (skipped in the common case where we
        # wrote the manifest ourselves — everything staged is referenced)
        if not wrote_manifest:
            self._prune_unreferenced(nm.snapshot_id, cleanup_paths)

    def _commit_child(
        self,
        parent: Manifest,
        batch_id: str,
        src: Manifest | None = None,
        schemas: dict[int, list[ColumnSpec]] | None = None,
        summary: dict | None = None,
        n_buckets: int | None = None,
    ) -> str:
        """THE metadata-only commit (publish, stats declaration, spec
        growth, schema evolution): a child of ``parent`` holding
        ``src``'s files (default: the parent's), carried by segment ref
        — the file list is never loaded, let alone rewritten. ``schemas``
        replaces the schema history (the child's version is its newest),
        ``summary`` the summary. ``n_buckets`` re-segments the file list
        under a grown bucket count, stamping each file with the spec it
        was written under. Deterministic snapshot id: a committed child
        returns at once. Returns the child's snapshot id."""
        src = src or parent
        ver = src.schema_version if schemas is None else max(schemas)
        sid = snapshot_id_for(parent.snapshot_id, batch_id, ver)
        if self._is_committed_child(sid, parent):
            return sid
        n_buckets = n_buckets or src.n_buckets
        segments, width = src.segments, src.segment_width
        if n_buckets != src.n_buckets:
            segments, width = self._segment_all(
                [
                    dataclasses.replace(f, spec_n=f.spec_n or src.n_buckets)
                    for f in src.files
                ],
                n_buckets,
            )
        nm = Manifest(
            snapshot_id=sid,
            parent_id=parent.snapshot_id,
            batch_id=batch_id,
            schema_version=ver,
            n_buckets=n_buckets,
            schemas=src.schemas if schemas is None else schemas,
            summary=src.summary if summary is None else summary,
            segments=segments,
            segment_width=width,
            seg_dir=self._seg_dir(),
        )
        # no cleanup_paths: a metadata commit's files belong to committed
        # snapshots — losing the CAS must never delete them
        self._commit_manifest(nm, parent)
        return sid

    def _commit_files(
        self,
        spark: SparkSession,
        rows: DataFrame,
        batch_id: str,
        kind: str,
        replace: Sequence[int] | None,
        summary: dict | None = None,
        stats_out: dict | None = None,
        expected_parent_id: str | None = None,
        n_buckets: int | None = None,
    ) -> str:
        """THE data commit, so the protocol exists once: deterministic
        snapshot id (idempotent skip) → tokened staging write →
        :func:`promote_staged_files` → segments → head-chain CAS.

        ``rows``: a ``_bucket`` column and the current schema's columns
        (a missing ``_deleted`` is filled False), partitioned the way the
        files should come out. ``kind='base'`` replaces every parent file
        of the ``replace`` buckets (COW); ``kind='delta'`` appends and
        carries every parent file (MOR); ``replace=None`` makes the rows
        the whole table under ``n_buckets`` (a resize)."""
        m = self.manifest()
        if expected_parent_id is not None and m.snapshot_id != expected_parent_id:
            raise CommitConflictError(
                f"planned against {expected_parent_id}, table moved to "
                f"{m.snapshot_id} — re-plan the merge"
            )
        sid = snapshot_id_for(m.snapshot_id, batch_id, m.schema_version)
        if self._is_committed_child(sid, m):
            if stats_out is not None:
                stats_out["skipped"] = True
            return sid

        import time as _time
        import uuid as _uuid

        n_buckets = n_buckets or m.n_buckets
        t0 = _time.time()
        cols = [c.name for c in m.columns]
        # per-writer token: two writers racing on the same batch compute
        # the same sid, so BOTH the staging dir and the promoted data
        # file names must be unique per writer — a shared staging path
        # would corrupt both writes, and shared final names would let
        # the loser's os.replace overwrite the winner's already-
        # committed files after the CAS was decided
        token = _uuid.uuid4().hex[:8]
        staging = os.path.join(self.root, f"_staging-{sid}-{token}")
        # writers of live rows may omit the tombstone lineage column
        if "_deleted" in cols and "_deleted" not in rows.columns:
            rows = rows.withColumn("_deleted", F.lit(False))
        to_write = rows.select("_bucket", *cols)
        self._writer(to_write).partitionBy("_bucket").parquet(staging)

        t_write_done = _time.time()
        bloom_key = m.summary.get("key_col", "url") if kind == "delta" else None
        try:
            new_entries = promote_staged_files(
                self.root, staging, sid, token, m.schema_version, kind=kind,
                bloom_key=bloom_key,
                spec_n=n_buckets,
                stat_cols=m.summary.get("stats_cols") or (),
            )
        finally:
            # promotion refusals (e.g. NULL-key rows) must not orphan
            # the staging dir; promoted files are sid+token-named so
            # removing leftovers can never touch another writer's data
            _rmtree(staging)

        if replace is None:
            segments, seg_width = self._segment_all(new_entries, n_buckets)
        else:
            segments, seg_width = self._advance_segments(
                m, {int(b) for b in replace}, new_entries,
                mode="delta" if kind == "delta" else "rewrite",
            )
        new_summary = dict(m.summary)
        new_summary.update(summary or {})
        # a data change invalidates any clustered-layout claim unless
        # the caller re-asserts it (sort_rewrite does; merges don't)
        if "sort_order" not in (summary or {}):
            new_summary.pop("sort_order", None)
        # physical row count: for MOR, base + unresolved delta versions
        # (the logical count needs resolution, which a metadata commit
        # cannot afford; compaction snaps it back to logical)
        new_summary["total_rows"] = sum(s.rows for s in segments)
        nm = Manifest(
            snapshot_id=sid,
            parent_id=m.snapshot_id,
            batch_id=batch_id,
            schema_version=m.schema_version,
            n_buckets=n_buckets,
            schemas=m.schemas,
            segments=segments,
            segment_width=seg_width,
            seg_dir=self._seg_dir(),
            summary=new_summary,
        )
        # losing the CAS deletes this writer's freshly-promoted data
        # files (uniquely named by sid+token — no clash with the winner's)
        self._commit_manifest(nm, m, cleanup_paths=[f.path for f in new_entries])
        if stats_out is not None:
            stats_out["skipped"] = False
            per_bucket: dict[int, int] = {}
            for fe in new_entries:
                per_bucket[fe.bucket] = per_bucket.get(fe.bucket, 0) + fe.rows
            stats_out["bucket_rows"] = per_bucket
            # phase decomposition for the scaling evidence: the Spark
            # write (parallel) vs the driver-side promote, segment and
            # manifest writes and head CAS (the plan's only serial
            # section)
            stats_out["write_secs"] = round(t_write_done - t0, 4)
            stats_out["commit_secs"] = round(_time.time() - t_write_done, 4)
        return sid

    def commit_rewrite(
        self,
        spark: SparkSession,
        new_bucket_data: DataFrame,
        touched_buckets: Sequence[int],
        batch_id: str,
        summary: dict | None = None,
        stats_out: dict | None = None,
        pre_partitioned: bool = False,
        expected_parent_id: str | None = None,
    ) -> str:
        """Copy-on-write commit: replace the files of ``touched_buckets``
        with ``new_bucket_data`` (must contain a ``_bucket`` column and
        the current schema's columns), carry all other files forward,
        write + CAS-commit a new manifest through :meth:`_commit_files`.

        Idempotent: if the deterministic snapshot is already on the
        committed chain, nothing is rewritten — the reference's
        "already ingested" short-circuit (ingest-xml-archive.yaml:97-110).

        Optimistic concurrency: ``expected_parent_id`` is the snapshot
        the caller PLANNED the rewrite against (the state it read).
        If the table has moved past it — or another writer wins the
        head CAS during the commit — CommitConflictError is raised and
        no state is changed; the caller re-plans against the new
        current snapshot and retries (``CdcEngine.apply_batch`` does).
        Without it a concurrent commit landing between plan and commit
        would be silently overwritten in overlapping buckets.
        """
        if not pre_partitioned:
            # co-locate each bucket into one task so partitionBy emits
            # one file per bucket; cogrouped callers are already
            # bucket-grouped and skip this shuffle entirely
            new_bucket_data = place_buckets(spark, new_bucket_data, touched_buckets)
        return self._commit_files(
            spark, new_bucket_data, batch_id, "base", touched_buckets,
            summary=summary, stats_out=stats_out,
            expected_parent_id=expected_parent_id,
        )

    def commit_delta(
        self,
        spark: SparkSession,
        delta_rows: DataFrame,
        batch_id: str,
        summary: dict | None = None,
        stats_out: dict | None = None,
        expected_parent_id: str | None = None,
    ) -> str:
        """Merge-on-read commit: APPEND ``delta_rows`` (full new row
        versions / tombstones, with a ``_bucket`` column and the current
        schema's columns, already partitioned by bucket — the merge
        kernel's output) as ``kind='delta'`` files — every existing
        file carries forward untouched. Reads LWW-resolve the stack
        (:meth:`read`) by :data:`MOR_ORDER`; ``maintenance.compact`` /
        any COW rewrite of the bucket folds it back to base.

        This is the write path that keeps apply cost ∝ batch size
        instead of ∝ touched-bucket size: a 10^4-event micro-batch over
        a 100 TB table writes 10^4 rows, not the full content of every
        touched bucket. The trade moves merge work to readers until the
        next compaction — Iceberg v2's COW/MOR trade, re-expressed for
        the LWW row model (one delta row = one full row version, so no
        separate equality/position delete files are needed; a tombstone
        row IS the delete).

        Same idempotency, CAS and conflict/cleanup behavior as
        :meth:`commit_rewrite` — both are :meth:`_commit_files`.
        """
        return self._commit_files(
            spark, delta_rows, batch_id, "delta", (),
            summary=summary, stats_out=stats_out,
            expected_parent_id=expected_parent_id,
        )

    def set_stats_cols(self, cols: Sequence[str], batch_id: str | None = None) -> str:
        """Declare the columns whose per-file [min,max] footer bounds
        land in the manifest from the NEXT data commit on (Iceberg
        column-stats file skipping). Metadata-only commit: existing
        files keep whatever stats they were promoted with; a
        sort_rewrite / binpack pass refreshes the whole table under the
        new declaration."""
        m = self.manifest()
        if list(m.summary.get("stats_cols") or []) == list(cols):
            return m.snapshot_id
        return self._commit_child(
            m,
            batch_id or f"stats_cols:{','.join(cols)}:{m.snapshot_id}",
            summary={**m.summary, "stats_cols": list(cols)},
        )

    # --------------------------------------------------- partition-spec grow

    def grow_buckets(self, new_n: int, batch_id: str | None = None) -> str:
        """Partition-spec evolution: multiply the bucket count WITHOUT
        rewriting any data file — Iceberg's evolve-partition-spec
        re-expressed for hash buckets (vs :func:`maintenance.rebucket`,
        the full-rewrite resize). A metadata-only commit: every existing
        file entry is restamped with its explicit legacy ``spec_n``, new
        writes land under the new spec, and reads plan across both specs
        (a key in current bucket b lives in a legacy-spec-s file at
        bucket b % s, which divides exactly because growth is by an
        integer factor). Merges and compactions migrate legacy files
        LAZILY: :meth:`rewrite_closure` expands their touched set to
        whole legacy files, so the first write touching any of a legacy
        file's buckets rewrites it under the new spec.

        At 100 TB this is the operation that keeps hash partitioning
        viable as a table grows 100× — resizing by rewrite would cost a
        full-table pass; this costs one metadata commit plus write
        amplification bounded by the growth factor on first touch.

        Growth must be an integer multiple (16→32→128…); shrinking or
        non-divisible resizes need the rebucket rewrite. Idempotent by
        deterministic snapshot id; same CAS commit as every other path.
        """
        m = self.manifest()
        if new_n == m.n_buckets:
            return m.snapshot_id
        if new_n < m.n_buckets or new_n % m.n_buckets != 0:
            raise ValueError(
                f"grow_buckets requires an integer multiple of the "
                f"current bucket count ({m.n_buckets} -> {new_n}); use "
                f"maintenance.rebucket for arbitrary resizing "
                f"(full rewrite)"
            )
        return self._commit_child(
            m, batch_id or f"grow_buckets:{new_n}:{m.snapshot_id}",
            n_buckets=new_n,
        )

    def rewrite_closure(self, buckets: Sequence[int]) -> list[int]:
        """Expand a touched-bucket set so a COW rewrite may replace
        whole files under partition-spec evolution: if a legacy-spec
        file covers any touched bucket, ALL current-spec buckets it
        spans join the set — its untouched rows must be CARRIED into
        the rewrite, never dropped. Identity on single-spec tables
        (the fast path every pre-grow table takes); fixpoint across
        nested legacy levels otherwise."""
        m = self.manifest()
        bset = {int(b) for b in buckets}
        if not any(sp != m.n_buckets for s in m.segments for sp in s.specs):
            return sorted(bset)
        while True:
            grew = False
            for f in m.files_for_buckets(bset):
                sp = f.spec_n or m.n_buckets
                if sp == m.n_buckets:
                    continue
                cover = {f.bucket + i * sp for i in range(m.n_buckets // sp)}
                if not cover <= bset:
                    bset |= cover
                    grew = True
            if not grew:
                return sorted(bset)

    # ------------------------------------------------------- schema evolution

    def _evolve(self, batch_id: str, mutate) -> str:
        """Metadata-only commit with a bumped schema_version (no rewrite)."""
        m = self.manifest()
        new_cols = mutate([c.clone() for c in m.columns])
        # old files stay readable via name-mapping, so their segment
        # refs carry verbatim
        return self._commit_child(
            m, batch_id, schemas={**m.schemas, m.schema_version + 1: new_cols}
        )

    def add_column(
        self,
        name: str,
        type_: str,
        batch_id: str | None = None,
        fields: Sequence[tuple[str, str]] | None = None,
    ) -> str:
        """Add a column (metadata-only; existing rows read as NULL).
        Complex columns: ``type_='array<string>'``, or
        ``type_='struct'/'array<struct>'`` with ``fields=[(name, scalar
        type), ...]`` — nested fields get their own col_ids so they can
        later be renamed/widened without rewrites."""

        def mutate(cols):
            if any(c.name == name for c in cols):
                raise ValueError(f"column {name} exists")
            next_id = _max_col_id(cols) + 1
            nested = None
            if type_ in ("struct", "array<struct>"):
                if not fields:
                    raise ValueError(f"{type_} column needs fields=[(name, type)...]")
                nested = []
                for fn, ft in fields:
                    next_id_field = next_id + 1 + len(nested)
                    nested.append(ColumnSpec(next_id_field, fn, ft))
            elif fields:
                raise ValueError("fields only valid for struct types")
            cols.append(ColumnSpec(next_id, name, type_, fields=nested))
            return cols

        return self._evolve(batch_id or f"add:{name}", mutate)

    def rename_column(self, old: str, new: str, batch_id: str | None = None) -> str:
        """Rename a column, or a nested struct field via a dotted path
        (``rename_column('xrefs.xid', 'ref_id')``) — metadata-only by
        col-id, zero data rewritten either way."""

        def mutate(cols):
            spec = _resolve_path(cols, old)
            spec.name = new
            return cols

        return self._evolve(batch_id or f"rename:{old}:{new}", mutate)

    def widen_column(self, name: str, new_type: str, batch_id: str | None = None) -> str:
        """Widen a column (int→long, float→double), incl. nested struct
        fields via dotted paths and array elements
        (``array<int>``→``array<long>``)."""

        def mutate(cols):
            spec = _resolve_path(cols, name)
            old_t, new_t = spec.type, new_type
            if old_t.startswith("array<") and new_t.startswith("array<"):
                pair = (old_t[6:-1], new_t[6:-1])
            else:
                pair = (old_t, new_t)
            if pair not in _WIDEN_OK:
                raise ValueError(f"illegal widen {old_t}→{new_type}")
            spec.type = new_type
            return cols

        return self._evolve(batch_id or f"widen:{name}:{new_type}", mutate)

    def add_field(
        self, column: str, field_name: str, field_type: str,
        batch_id: str | None = None,
    ) -> str:
        """Add a nested field to a struct / array<struct> column
        (metadata-only; existing rows read the field as NULL)."""

        def mutate(cols):
            spec = _resolve_path(cols, column)
            if spec.type not in ("struct", "array<struct>"):
                raise ValueError(f"{column} is not a struct column")
            if any(f.name == field_name for f in spec.fields or []):
                raise ValueError(f"field {column}.{field_name} exists")
            spec.fields = list(spec.fields or [])
            spec.fields.append(
                ColumnSpec(_max_col_id(cols) + 1, field_name, field_type)
            )
            return cols

        return self._evolve(batch_id or f"addfield:{column}.{field_name}", mutate)


def promote_staged_files(
    table_root: str,
    staging: str,
    sid: str,
    token: str,
    schema_version: int,
    kind: str = "base",
    bloom_key: str | None = None,
    spec_n: int | None = None,
    stat_cols=(),
) -> list[FileEntry]:
    """THE promotion protocol, called only by
    :meth:`LakeletTable._commit_files` (the one data commit — a second
    copy is how the missing-token crash-retry bug happened): move every staged ``_bucket=*`` part into ``data/`` under a
    sid+per-writer-token name (so no retry or racer can ever overwrite
    a previously promoted file), read footer stats, and return the
    FileEntry list for the manifest. Parallelized past 8 files.

    ``bloom_key`` (delta commits): also read that one column of each
    staged file and attach a key bloom filter to its entry — cost ∝ the
    batch's own rows, parallel across files, never ∝ table size."""
    data_dir = os.path.join(table_root, "data")
    os.makedirs(data_dir, exist_ok=True)
    promotions: list[tuple[str, str, int]] = []  # (src, rel, bucket)
    for bdir in sorted(glob.glob(os.path.join(staging, "_bucket=*"))):
        raw = os.path.basename(bdir).split("=", 1)[1]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            # a NULL bucket = NULL key rows reached the writer
            # (bucket_expr is NULL for a NULL key). The engine's validate
            # rules quarantine these upstream; any other caller gets a
            # clear refusal before a single file is promoted
            raise ValueError(
                "staged write contains rows with a NULL partition key "
                "(_bucket=__HIVE_DEFAULT_PARTITION__); filter or "
                "quarantine NULL-key rows before committing"
            )
        b = int(raw)
        for i, p in enumerate(sorted(glob.glob(os.path.join(bdir, "*.parquet")))):
            promotions.append(
                (p, f"data/b{b:05d}-{sid}-{token}-{i}.parquet", b)
            )

    def promote(job: tuple[str, str, int]) -> FileEntry:
        src, rel, b = job
        dst = os.path.join(table_root, rel)
        os.replace(src, dst)
        rows, ts_min, ts_max, n_tombs, col_stats = _parquet_stats(
            dst, stat_cols=stat_cols
        )
        key_bloom = None
        if bloom_key is not None:
            import pyarrow.parquet as pq

            from clinvar_ingest_spark.lakelet.bloom import bloom_build

            col = pq.read_table(dst, columns=[bloom_key]).column(0)
            key_bloom = bloom_build(col.to_pylist())
        return FileEntry(
            path=rel, bucket=b, rows=rows,
            schema_version=schema_version,
            ts_min=ts_min, ts_max=ts_max, kind=kind, key_bloom=key_bloom,
            spec_n=spec_n,
            n_tombstones=n_tombs,
            col_stats=col_stats,
        )

    from concurrent.futures import ThreadPoolExecutor

    if len(promotions) > 8:
        with ThreadPoolExecutor(max_workers=8) as ex:
            return list(ex.map(promote, promotions))
    return [promote(j) for j in promotions]


def _max_col_id(cols: Sequence[ColumnSpec]) -> int:
    mx = 0
    for c in cols:
        mx = max(mx, c.col_id)
        if c.fields:
            mx = max(mx, _max_col_id(c.fields))
    return mx


def _resolve_path(cols: Sequence[ColumnSpec], path: str) -> ColumnSpec:
    """Resolve 'col' or 'col.field' to its ColumnSpec (mutable ref)."""
    head, _, rest = path.partition(".")
    for c in cols:
        if c.name == head:
            if not rest:
                return c
            for f in c.fields or []:
                if f.name == rest:
                    return f
            raise ValueError(f"no field {rest} in column {head}")
    raise ValueError(f"no column {head}")


def _footer_min_max(md, name: str):
    """[min, max] for one column from row-group statistics, or None
    when any group lacks exact stats / holds nulls (never pruned).
    Timestamps are ISO-encoded so bounds are JSON-safe and string-
    comparable, matching the manifest's warc_ts convention."""
    try:
        ci = md.schema.to_arrow_schema().get_field_index(name)
    except Exception:
        ci = -1
    if ci < 0:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max or (st.null_count or 0) > 0:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if lo is None:
        return None
    if hasattr(lo, "isoformat"):
        return [lo.isoformat(), hi.isoformat()]
    if isinstance(lo, bytes):
        return None  # binary bounds aren't JSON/compare-safe
    return [lo, hi]


def _parquet_stats(path: str, ts_col: str = "warc_ts", stat_cols=()):
    """(rows, ts_min_iso, ts_max_iso, n_tombstones, col_stats) from ONE
    parquet footer parse — no data read except a mixed-stats
    ``_deleted`` group (see :func:`_parquet_tombstones`). Conservative:
    any missing stats / null values ⇒ no bound, never pruned."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    tombs = _parquet_tombstones(path, md=md)
    ts = _footer_min_max(md, ts_col)
    cs = {}
    for c in stat_cols or ():
        mm = _footer_min_max(md, c)
        if mm is not None:
            cs[c] = mm
    if ts is None:
        return md.num_rows, None, None, tombs, (cs or None)
    return md.num_rows, ts[0], ts[1], tombs, (cs or None)


def _parquet_tombstones(path: str, md=None) -> int:
    """Count ``_deleted`` = true rows, footer-first: row groups whose
    boolean statistics prove all-false (or all-true) cost nothing; only
    a mixed group forces reading the one boolean column (cost ∝ the
    file's own rows — promote-time, never table-wide). Tables without a
    ``_deleted`` column have no tombstones by construction.
    ``md``: pass an already-parsed footer to avoid a second open."""
    import pyarrow.parquet as pq

    if md is None:
        md = pq.ParquetFile(path).metadata
    try:
        ci = md.schema.to_arrow_schema().get_field_index("_deleted")
    except Exception:
        ci = -1
    if ci < 0:
        return 0
    total = 0
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            break
        if st.max is False:  # NULL counts as not-deleted
            continue
        if st.min is True and (st.null_count or 0) == 0:
            total += md.row_group(rg).num_rows
            continue
        break
    else:
        return total
    import pyarrow.compute as pc

    col = pq.read_table(path, columns=["_deleted"]).column(0)
    return int(pc.sum(pc.fill_null(col, False).cast("int64")).as_py() or 0)


def select_files(
    files,
    buckets=None,
    ts_not_before: str | None = None,
    ts_not_after: str | None = None,
    where_between: dict | None = None,
):
    """Manifest-level file pruning: bucket subset + warc_ts window +
    generic per-column range overlap via per-file footer stats (files
    without stats always kept). The read-side analogue of Iceberg's
    file-stats skipping — pruning happens BEFORE Spark plans the scan.

    ``where_between``: {col: (lo, hi)} — keep a file only if its
    [min,max] bound for ``col`` overlaps [lo, hi] (either side None =
    unbounded). Only columns declared via ``stats_cols`` carry bounds;
    everything else passes through. ADVISORY like the ts window: kept
    files may still hold rows outside the range, so callers keep their
    row filter."""
    # normalize 'YYYY-MM-DD hh:mm:ss' → ISO 'T' so string compare is valid
    ts_not_before = ts_not_before.replace(" ", "T") if ts_not_before else None
    ts_not_after = ts_not_after.replace(" ", "T") if ts_not_after else None
    out = []
    for f in files:
        if buckets is not None and f.bucket not in buckets:
            continue
        if ts_not_before and f.ts_max is not None and f.ts_max < ts_not_before:
            continue
        if ts_not_after and f.ts_min is not None and f.ts_min > ts_not_after:
            continue
        if where_between:
            cs = f.col_stats or {}
            skip = False
            for col, (lo, hi) in where_between.items():
                mm = cs.get(col)
                if mm is None:
                    continue  # no bound — never pruned
                if (hi is not None and mm[0] > hi) or (
                    lo is not None and mm[1] < lo
                ):
                    skip = True
                    break
            if skip:
                continue
        out.append(f)
    return out


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
