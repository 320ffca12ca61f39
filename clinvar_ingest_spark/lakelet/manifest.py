"""Snapshot manifests: the metadata layer of a lakelet table.

Reference analogues: the TDR dataset's snapshot cut by ``release_date``
(reference: orchestration/scripts/request-release-date-snapshot.py:127-154;
schema/src/main/jade-assets/clinvar_release.asset.json) and the
date-partitioned physical layout every table declares (reference:
schema/src/main/jade-tables/gene.table.json:33-36). Here a snapshot is a
JSON manifest pinning {schema version, file-list segments with per-file
stats, parent pointer, batch id}; the *current* table state is the
highest slot of a head chain of immutable pointer files, each linked
create-if-absent by :func:`advance_head` — the one snapshot-pointer
protocol every table, branch, clone and release commit goes through.

Exactly-once (SURVEY.md §7 hard part (a)): ``snapshot_id`` is a
deterministic hash of (parent_id, batch_id, schema_version) — the same
batch applied twice computes the same id, detects the existing manifest,
and becomes a no-op, mirroring the reference's COUNT(1) short-circuits
(reference: orchestration/templates/ingest-xml-archive.yaml:97-110,
process-and-reingest-release.yaml:37-51).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import tempfile
from dataclasses import dataclass, field, asdict


@dataclass
class ColumnSpec:
    """One column: stable ``col_id`` survives renames (hard part (c)).

    ``type`` is either a scalar (string|binary|timestamp|int|long|float|
    double|date|boolean), an ``array<scalar>``, or the complex kinds
    ``struct`` / ``array<struct>`` whose element shape lives in
    ``fields`` — each nested field is itself a ColumnSpec with a
    table-unique col_id, so nested renames/widens are metadata-only
    commits exactly like top-level ones (the reference's tables are
    full of these: repeated string columns in variation.table.json and
    ``xrefs: ARRAY<STRUCT>`` per jade-structs/xref.struct.json:1-29).
    """

    col_id: int
    name: str
    type: str
    fields: list["ColumnSpec"] | None = None

    def clone(self) -> "ColumnSpec":
        return ColumnSpec(
            self.col_id,
            self.name,
            self.type,
            [f.clone() for f in self.fields] if self.fields is not None else None,
        )

    def to_json(self) -> dict:
        d = asdict(self)
        if d.get("fields") is None:
            d.pop("fields", None)
        return d

    @staticmethod
    def from_json(d: dict) -> "ColumnSpec":
        return ColumnSpec(
            col_id=d["col_id"],
            name=d["name"],
            type=d["type"],
            fields=[ColumnSpec.from_json(f) for f in d["fields"]]
            if d.get("fields")
            else None,
        )


@dataclass
class FileEntry:
    path: str  # relative to table root
    bucket: int
    rows: int
    schema_version: int  # schema the file was written under (name-mapping key)
    #: warc_ts column range (ISO) from the parquet footer — manifest-level
    #: data skipping for time-bounded reads (Iceberg file-stats parity).
    #: None (e.g. any nulls / stats missing) = never pruned.
    ts_min: str | None = None
    ts_max: str | None = None
    #: "base" (COW-resolved bucket state: ≤1 row per key) or "delta"
    #: (merge-on-read commit: LWW-versioned upsert/tombstone rows layered
    #: on top of the base — readers resolve, compaction folds). The
    #: Iceberg v2 MOR analogue re-expressed for the LWW row model: one
    #: delta ROW carries the full new row version (or tombstone), so no
    #: separate position/equality-delete files are needed.
    kind: str = "base"
    #: base64 bloom filter over the file's key column (delta files only —
    #: see lakelet/bloom.py): point lookups skip delta files whose bloom
    #: excludes the key. None = never skipped.
    key_bloom: str | None = None
    #: bucket count ``bucket`` was computed under (partition-spec id).
    #: None = the owning manifest's n_buckets (pre-spec-evolution
    #: entries; ``grow_buckets`` restamps them explicitly). A file whose
    #: spec_n differs from the manifest's n_buckets is a LEGACY-spec
    #: file: its rows span the current buckets ≡ bucket (mod spec_n) —
    #: Iceberg partition-spec evolution re-expressed for hash buckets.
    spec_n: int | None = None
    #: soft-delete tombstone rows in the file (``_deleted`` true) —
    #: footer-derived at promote time (a column read only when the
    #: footer min/max is mixed; cost ∝ the file's own rows). None =
    #: unknown (legacy entries) — metadata-only live counts fall back
    #: to a scan. Iceberg's snapshot-summary / count-pushdown analogue.
    n_tombstones: int | None = None
    #: per-column [min, max] footer bounds for the table's declared
    #: ``stats_cols`` (Iceberg column-stats file skipping, generalizing
    #: the built-in warc_ts window). Bounds are JSON-safe (timestamps
    #: ISO). Parquet may truncate long string bounds, but the spec
    #: requires truncated bounds to stay VALID bounds, so pruning on
    #: them is sound. Missing column / missing stats ⇒ never pruned.
    col_stats: dict | None = None

    def to_json(self) -> dict:
        d = asdict(self)
        if d.get("key_bloom") is None:
            d.pop("key_bloom", None)  # keep base-file entries compact
        if d.get("spec_n") is None:
            d.pop("spec_n", None)
        if d.get("n_tombstones") is None:
            d.pop("n_tombstones", None)
        if d.get("col_stats") is None:
            d.pop("col_stats", None)
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        # min_key/max_key were declared-but-never-populated in early
        # manifests; tolerate (and drop) them when reading old tables
        d = {k: v for k, v in d.items() if k not in ("min_key", "max_key")}
        return FileEntry(**d)


@dataclass
class SegmentRef:
    """Pointer to one content-addressed file-list segment (Iceberg's
    manifest-list → manifest-file indirection, re-expressed for the
    lakelet layout — see ``segments_doc`` at the bottom of this module).

    ``kind='range'``: the base files of buckets ``lo..hi`` (inclusive).
    ``kind='delta'``: one merge-on-read commit's appended delta files
    (any buckets; ``lo``/``hi`` are the entries' min/max bucket, used
    only for pruning). ``ref`` is the sha256-16 of the segment file's
    canonical content, so byte-identical segments are the SAME file and
    carrying a segment forward across snapshots costs one JSON object,
    not a rewrite of its entries."""

    kind: str
    lo: int
    hi: int
    ref: str
    rows: int
    n_files: int
    n_delta_files: int = 0
    delta_buckets: list[int] = field(default_factory=list)
    #: distinct explicit spec_n values among the entries (partition-spec
    #: evolution): lets readers decide from the REF alone whether a
    #: segment may hold legacy-spec files for a requested bucket.
    specs: list[int] = field(default_factory=list)
    #: total tombstone rows across entries; None if any entry's count is
    #: unknown — rolls per-file counts up so a LIVE row count is a pure
    #: manifest read on fully-counted COW snapshots.
    n_tombstones: int | None = None

    def to_json(self) -> dict:
        d = asdict(self)
        if not d["delta_buckets"]:
            d.pop("delta_buckets")
        if not d["n_delta_files"]:
            d.pop("n_delta_files")
        if not d["specs"]:
            d.pop("specs")
        if d["n_tombstones"] is None:
            d.pop("n_tombstones")
        return d

    @staticmethod
    def from_json(d: dict) -> "SegmentRef":
        return SegmentRef(
            kind=d["kind"],
            lo=d["lo"],
            hi=d["hi"],
            ref=d["ref"],
            rows=d["rows"],
            n_files=d["n_files"],
            n_delta_files=d.get("n_delta_files", 0),
            delta_buckets=list(d.get("delta_buckets", [])),
            specs=list(d.get("specs", [])),
            n_tombstones=d.get("n_tombstones"),
        )


def segment_path(seg_dir: str, ref: str) -> str:
    return os.path.join(seg_dir, f"seg-{ref}.json")


def write_segment(seg_dir: str, entries: list[FileEntry]) -> SegmentRef:
    """Persist one segment content-addressed (create-if-absent: two
    writers producing identical content share one file — benign) and
    return its ref with the rolled-up stats the manifest keeps."""
    body = [f.to_json() for f in entries]
    blob = json.dumps(body, sort_keys=True, separators=(",", ":"))
    ref = hashlib.sha256(blob.encode("utf-8")).hexdigest()[:16]
    try:
        link_pointer(seg_dir, f"seg-{ref}.json", {"entries": body})
    except FileExistsError:
        pass  # identical content already stored — shared by construction
    deltas = sorted({f.bucket for f in entries if f.kind == "delta"})
    buckets = [f.bucket for f in entries]
    return SegmentRef(
        kind="range",  # caller overrides for delta segments
        lo=min(buckets) if buckets else 0,
        hi=max(buckets) if buckets else 0,
        ref=ref,
        rows=sum(f.rows for f in entries),
        n_files=len(entries),
        n_delta_files=sum(1 for f in entries if f.kind == "delta"),
        delta_buckets=deltas,
        specs=sorted({f.spec_n for f in entries if f.spec_n is not None}),
        n_tombstones=(
            sum(f.n_tombstones for f in entries)
            if all(f.n_tombstones is not None for f in entries)
            else None
        ),
    )


def load_segment(seg_dir: str, ref: str) -> list[FileEntry]:
    d = read_json(segment_path(seg_dir, ref))
    return [FileEntry.from_json(e) for e in d["entries"]]


def default_segment_width(n_buckets: int) -> int:
    """Buckets per range segment: ~32 segments regardless of bucket
    count, so a commit touching a handful of buckets rewrites ~1/32 of
    the table's file-list metadata and carries the rest by ref."""
    return max(1, n_buckets // 32)


class Manifest:
    """One snapshot's metadata. The file list is segmented: ``files``
    is LAZY — accessing it hydrates every segment, which full scans and
    GC need anyway — but the planning paths (bucket-pruned reads, point
    lookups, CDC changed-bucket diffs, metadata tables) go through
    :meth:`files_for_buckets` / the per-segment stats and never pay
    O(table-files) for an O(batch) question."""

    def __init__(
        self,
        snapshot_id: str,
        parent_id: str | None,
        batch_id: str | None,
        schema_version: int,
        n_buckets: int,
        schemas: dict[int, list[ColumnSpec]] | None = None,
        summary: dict | None = None,
        segments: list[SegmentRef] | None = None,
        segment_width: int | None = None,
        seg_dir: str | None = None,
    ):
        self.snapshot_id = snapshot_id
        self.parent_id = parent_id
        self.batch_id = batch_id
        self.schema_version = schema_version
        self.n_buckets = n_buckets
        self.schemas = schemas if schemas is not None else {}
        self.summary = summary if summary is not None else {}
        self.segments = list(segments or [])
        self.segment_width = segment_width or default_segment_width(n_buckets)
        self.seg_dir = seg_dir
        self._files: list[FileEntry] | None = None

    @property
    def columns(self) -> list[ColumnSpec]:
        return self.schemas[self.schema_version]

    # ------------------------------------------------------------- file lists

    def _load(self, s: SegmentRef) -> list[FileEntry]:
        if self.seg_dir is None:
            raise RuntimeError(
                "manifest has no seg_dir — load it via LakeletTable.manifest()"
            )
        return load_segment(self.seg_dir, s.ref)

    @property
    def files(self) -> list[FileEntry]:
        if self._files is None:
            self._files = [f for s in self.segments for f in self._load(s)]
        return self._files

    def entry_covers(self, f: FileEntry, buckets: set[int]) -> bool:
        """May file ``f`` hold rows of any CURRENT-spec bucket in
        ``buckets``? Current-spec files: direct membership. Legacy-spec
        files (spec_n divides n_buckets, from ``grow_buckets``): a key
        in current bucket b lives in legacy bucket b % spec_n, so the
        file covers b iff f.bucket ≡ b (mod spec_n)."""
        s = f.spec_n or self.n_buckets
        if s == self.n_buckets:
            return f.bucket in buckets
        return any(b % s == f.bucket for b in buckets)

    def files_for_buckets(self, buckets: set[int]) -> list[FileEntry]:
        """File entries covering the given CURRENT-spec buckets, loading
        ONLY segments whose bucket range (or legacy-spec projection)
        intersects them — the point-lookup / pruned-read planning path
        (O(segments hit), not O(table files))."""
        out: list[FileEntry] = []
        for s in self.segments:
            hit = any(s.lo <= b <= s.hi for b in buckets) or any(
                s.lo <= (b % sp) <= s.hi
                for sp in s.specs
                if sp != self.n_buckets
                for b in buckets
            )
            if hit:
                out.extend(f for f in self._load(s) if self.entry_covers(f, buckets))
        return out

    def delta_cover(self, files) -> set[int]:
        """CURRENT-spec buckets the delta files among ``files`` cover. A
        delta written before a ``grow_buckets`` carries a legacy spec_n
        and covers every current bucket ≡ its bucket (mod spec_n); raw
        bucket ids would compare across two bucket spaces."""
        out: set[int] = set()
        for f in files:
            if f.kind == "delta":
                out.update(
                    range(f.bucket, self.n_buckets, f.spec_n or self.n_buckets)
                )
        return out

    def delta_bucket_set(self) -> set[int]:
        """Buckets with unresolved MOR delta files — from per-segment
        stats alone (no hydration)."""
        return {b for s in self.segments for b in s.delta_buckets}

    def live_rows(self) -> int | None:
        """LIVE row count from metadata alone (total rows minus
        footer-counted tombstones), or None when only a scan can answer:
        any MOR delta file present (LWW resolution needed) or any entry
        with an unknown tombstone count (legacy). The Iceberg
        snapshot-summary / count(*)-pushdown analogue — on a compacted
        snapshot a COUNT costs zero data reads at any table size."""
        if any(s.n_delta_files for s in self.segments):
            return None
        if any(s.n_tombstones is None for s in self.segments):
            return None
        return sum(s.rows - s.n_tombstones for s in self.segments)

    def file_counts(self) -> tuple[int, int]:
        """(n_files, n_delta_files) without hydration."""
        return (
            sum(s.n_files for s in self.segments),
            sum(s.n_delta_files for s in self.segments),
        )

    # ------------------------------------------------------------------- json

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "batch_id": self.batch_id,
            "schema_version": self.schema_version,
            "n_buckets": self.n_buckets,
            "schemas": {
                str(v): [c.to_json() for c in cols]
                for v, cols in self.schemas.items()
            },
            "summary": self.summary,
            "format_version": 2,
            "segment_width": self.segment_width,
            "segments": [s.to_json() for s in self.segments],
        }

    @staticmethod
    def from_json(d: dict, seg_dir: str | None = None) -> "Manifest":
        return Manifest(
            snapshot_id=d["snapshot_id"],
            parent_id=d["parent_id"],
            batch_id=d["batch_id"],
            schema_version=d["schema_version"],
            n_buckets=d["n_buckets"],
            schemas={
                int(v): [ColumnSpec.from_json(c) for c in cols]
                for v, cols in d["schemas"].items()
            },
            summary=d.get("summary", {}),
            segments=[SegmentRef.from_json(s) for s in d["segments"]],
            segment_width=d["segment_width"],
            seg_dir=seg_dir,
        )


def changed_buckets(old: Manifest, new: Manifest) -> list[int] | None:
    """Buckets whose file sets differ between two snapshots, or None
    across a bucket-count change, where bucket ids are not comparable.

    A segment ref present in BOTH manifests contributes identical
    entries to both sides and cannot create a difference (each file
    entry lives in exactly one segment per manifest), so only the
    segments EXCLUSIVE to one side are loaded. For an incremental MOR
    hop that is the one appended delta segment — CDC planning cost ∝
    the hop, not the table."""
    if old.n_buckets != new.n_buckets:
        return None

    def exclusive(m: Manifest, other: Manifest) -> dict[int, set[str]]:
        refs = {s.ref for s in other.segments}
        by_bucket: dict[int, set[str]] = {}
        for s in m.segments:
            if s.ref not in refs:
                for f in m._load(s):
                    by_bucket.setdefault(f.bucket, set()).add(f.path)
        return by_bucket

    ob, nb = exclusive(old, new), exclusive(new, old)
    return sorted(b for b in set(ob) | set(nb) if ob.get(b) != nb.get(b))


def snapshot_id_for(parent_id: str | None, batch_id: str, schema_version: int) -> str:
    """Deterministic snapshot id — the exactly-once key."""
    payload = f"{parent_id or 'root'}|{batch_id}|{schema_version}"
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:20]


class CommitConflictError(RuntimeError):
    """Another writer committed first (optimistic concurrency). The
    caller must re-read the table state, re-plan its merge against the
    new current snapshot, and retry — the engine's ``apply_batch`` does
    exactly that."""


def link_pointer(directory: str, name: str, payload: dict) -> None:
    """Atomically create an immutable JSON file via os.link — create-
    if-absent, the filesystem CAS under :func:`advance_head`, content-
    addressed segments and tags. Raises FileExistsError if the name is
    already taken."""
    os.makedirs(directory, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=directory, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        os.link(tmp, os.path.join(directory, name))
    finally:
        os.unlink(tmp)


def head_path(head_dir: str, seq: int) -> str:
    return os.path.join(head_dir, f"head-{seq:012d}.json")


def advance_head(
    head_dir: str,
    seq: int,
    record_id: str,
    record_dir: str,
    record: dict | None,
    key: str = "snapshot_id",
) -> bool:
    """THE snapshot-pointer advance: every table, branch, clone and
    release commit moves its chain through here, so the protocol exists
    once.

    1. Write the content-addressed record ``record_dir/{record_id}.json``
       create-if-absent: the first writer of an id wins the file, and a
       same-id racer never clobbers it. ``record=None`` when the record
       is already committed (a branch seed names a main snapshot).
    2. Link the head slot ``head-{seq:012d}.json`` ({key: record_id,
       "commit_seq": seq}) — os.link's create-if-absent is the CAS.
    3. A slot already naming ``record_id`` is success (two writers of
       one idempotent commit). Any other occupant means this writer
       lost: the record it wrote is removed and CommitConflictError
       raised, for the caller to re-plan against the new head.

    Returns True iff this call created the record. The chain's highest
    slot is its current pointer (:func:`latest_pointer`); there is no
    other pointer file."""
    wrote = False
    if record is not None:
        try:
            link_pointer(record_dir, f"{record_id}.json", record)
            wrote = True
        except FileExistsError:
            pass
    slot = head_path(head_dir, seq)
    try:
        link_pointer(
            head_dir, os.path.basename(slot), {key: record_id, "commit_seq": seq}
        )
    except FileExistsError:
        winner = read_json(slot)[key]
        if winner == record_id:
            return wrote
        if wrote:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(os.path.join(record_dir, f"{record_id}.json"))
        raise CommitConflictError(
            f"head seq {seq} of {head_dir} was taken by {winner} "
            f"(ours: {record_id})"
        )
    return wrote


def _extreme_pointer(
    directory: str, prefix: str, newest: bool
) -> tuple[int, dict] | None:
    """ONE parser for the ``{prefix}{seq:012d}.json`` pointer-chain
    naming — the highest slot is a chain's head, the lowest a branch's
    fork seed; keeping both ends in one function means a naming-scheme
    change cannot silently break one reader."""
    try:
        names = os.listdir(directory)
    except FileNotFoundError:
        return None
    best = None
    plen = len(prefix)
    for n in names:
        if n.startswith(prefix) and n.endswith(".json"):
            try:
                seq = int(n[plen:-5])
            except ValueError:
                continue
            if best is None or (seq > best if newest else seq < best):
                best = seq
    if best is None:
        return None
    return best, read_json(os.path.join(directory, f"{prefix}{best:012d}.json"))


def latest_pointer(directory: str, prefix: str = "head-") -> tuple[int, dict] | None:
    """(seq, payload) of the highest ``{prefix}{seq:012d}.json`` pointer
    in ``directory``, or None when the chain doesn't exist yet."""
    return _extreme_pointer(directory, prefix, newest=True)


def oldest_pointer(directory: str, prefix: str = "head-") -> tuple[int, dict] | None:
    """(seq, payload) of the LOWEST pointer — a branch chain's fork
    seed (branch commits only ever add higher slots)."""
    return _extreme_pointer(directory, prefix, newest=False)


def atomic_write_json(path: str, obj: dict) -> None:
    """Write-then-rename: readers never observe a torn manifest."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)
