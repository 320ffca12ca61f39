"""Branches, tags and write-audit-publish.

A branch is a named head chain over the shared content-addressed
manifest store — Iceberg's branch ref re-expressed for the POSIX
manifest layout (the reference pipeline has no staging concept at all:
`concurrencyPolicy: Forbid` + direct TDR ingest; WAP is the capability
its operators asked BigQuery snapshots to approximate). Publish is a
metadata-only fast-forward squash through the same head-chain CAS as
every other commit, so OCC, idempotency and crash rules are inherited,
not re-implemented.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet.maintenance import expire_snapshots
from clinvar_ingest_spark.lakelet.table import CommitConflictError
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


@pytest.fixture(scope="module")
def changelog_pdf():
    return generate_changelog(
        ChangelogSpec(n_events=3000, n_urls=300, n_hosts=8, seed=31)
    )


@pytest.fixture()
def changelog_df(spark, changelog_pdf, tmp_path):
    p = str(tmp_path / "changelog.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            changelog_pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    return spark.read.parquet(p)


def _split(df, cut):
    return df.filter(f"seq < {cut}"), df.filter(f"seq >= {cut}")


def test_wap_publish_equals_serial(spark, changelog_df, tmp_path):
    ref = CdcEngine(spark, str(tmp_path / "ref"), n_buckets=8)
    ref.replay(changelog_df, batch_size=1500)
    h_ref = ref.state_hash()

    base, tail = _split(changelog_df, 1500)
    main = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    main.replay(base, batch_size=1500)
    h_before = main.state_hash()

    br = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8, branch="audit")
    br.replay(tail, batch_size=1500, from_seq=1500)

    # audit window: branch sees the full state, main is untouched
    assert br.state_hash() == h_ref
    assert main.state_hash() == h_before

    sid = br.publish()
    assert main.state_hash() == h_ref
    assert main.table.current_snapshot_id() == sid
    # idempotent re-publish (same branch state, nothing landed since)
    assert br.publish() == sid


def test_branch_isolation_both_ways(spark, changelog_df, tmp_path):
    base, tail = _split(changelog_df, 1500)
    main = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    main.replay(base, batch_size=1500)

    main.table.create_branch("b")
    bt = main.table.for_branch("b")
    assert bt.current_snapshot_id() == main.table.current_snapshot_id()

    # commit on MAIN after the fork: branch head must not move
    before = bt.current_snapshot_id()
    main.replay(tail.filter("seq < 2000"), batch_size=500, from_seq=1500)
    assert bt.current_snapshot_id() == before
    assert main.table.current_snapshot_id() != before

    # commit on BRANCH: main must not move
    m_before = main.table.current_snapshot_id()
    br = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8, branch="b")
    br.replay(tail.filter("seq >= 2000"), batch_size=500, from_seq=2000)
    assert main.table.current_snapshot_id() == m_before
    assert br.table.current_snapshot_id() != before


def test_publish_diverged_main_conflicts(spark, changelog_df, tmp_path):
    base, tail = _split(changelog_df, 1500)
    main = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    main.replay(base, batch_size=1500)

    br = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8, branch="b")
    br.replay(tail.filter("seq < 2000"), batch_size=500, from_seq=1500)

    # main moves past the fork point → the audit never saw main's new
    # commits, publishing would stomp them: must refuse
    main.replay(tail.filter("seq >= 2000"), batch_size=500, from_seq=2000)
    with pytest.raises(CommitConflictError):
        br.publish()
    # failed audit path: drop the branch, main unaffected
    main.table.drop_branch("b")
    assert main.table.branches() == []


def test_publish_expected_parent_pin(spark, changelog_df, tmp_path):
    base, tail = _split(changelog_df, 1500)
    main = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    main.replay(base, batch_size=1500)
    br = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8, branch="b")
    br.replay(tail, batch_size=1500, from_seq=1500)
    with pytest.raises(CommitConflictError):
        br.publish(expected_parent_id="not-the-head")
    assert br.publish(expected_parent_id=main.table.current_snapshot_id())


def test_branch_resume_and_recreate_guard(spark, changelog_df, tmp_path):
    base, tail = _split(changelog_df, 1500)
    main = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    main.replay(base, batch_size=1500)

    br = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8, branch="b")
    br.replay(tail.filter("seq < 2000"), batch_size=500, from_seq=1500)
    moved = br.table.current_snapshot_id()

    # a NEW engine on the same branch attaches (resume), not re-forks
    br2 = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8, branch="b")
    assert br2.table.current_snapshot_id() == moved
    # and its branch-scoped ledger makes redelivery a no-op
    assert br2.replay(tail.filter("seq < 2000"), batch_size=500) == []

    # explicit re-create of a live branch at a different snapshot: error
    with pytest.raises(FileExistsError):
        main.table.create_branch("b")
    # create at the snapshot it already points to: idempotent
    assert main.table.create_branch("b", from_snapshot_id=moved) == moved


def test_tags_resolve_pin_and_immutability(spark, changelog_df, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    hist = []
    for s in eng.replay(changelog_df, batch_size=600):
        hist.append(s.snapshot_id)
    t = eng.table
    tagged = hist[1]
    t.create_tag("audit-passed", tagged)
    assert t.resolve_ref("audit-passed") == tagged
    assert t.create_tag("audit-passed", tagged) == tagged  # idempotent
    with pytest.raises(FileExistsError):
        t.create_tag("audit-passed", hist[2])  # tags are immutable

    # expire far past keep_last: the tagged snapshot must survive
    expire_snapshots(t, keep_last=1)
    assert t.has_snapshot(tagged)
    rows = t.read(spark, snapshot_id=tagged).count()
    assert rows > 0

    t.delete_tag("audit-passed")
    expire_snapshots(t, keep_last=1)
    assert not t.has_snapshot(tagged)  # unpinned → GC'd


def test_expire_pins_branch_head_and_drop_unpins(spark, changelog_df, tmp_path):
    base, tail = _split(changelog_df, 1500)
    main = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    main.replay(base, batch_size=1500)
    br = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8, branch="b")
    br.replay(tail.filter("seq < 2000"), batch_size=500, from_seq=1500)
    b_head = br.table.current_snapshot_id()
    h_branch = br.state_hash()

    # main advances; expire to 1 — branch head must survive and stay
    # fully readable + committable
    main.replay(tail.filter("seq >= 2000"), batch_size=500, from_seq=2000)
    expire_snapshots(main.table, keep_last=1)
    assert main.table.has_snapshot(b_head)
    assert br.state_hash() == h_branch
    br.replay(tail.filter("seq >= 2000"), batch_size=500, from_seq=2000)

    # dropping the branch unpins: next sweep GCs its snapshots' manifests
    dropped = br.table.current_snapshot_id()
    main.table.drop_branch("b")
    expire_snapshots(main.table, keep_last=1)
    assert not main.table.has_snapshot(dropped)


def test_wap_mor_branch_publish(spark, changelog_df, tmp_path):
    """The write modes compose with branches: MOR deltas on a staging
    branch, compact, publish — main lands the compacted state."""
    ref = CdcEngine(spark, str(tmp_path / "ref"), n_buckets=8)
    ref.replay(changelog_df, batch_size=1000)
    h_ref = ref.state_hash()

    base, tail = _split(changelog_df, 1500)
    main = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    main.replay(base, batch_size=1500)
    br = CdcEngine(
        spark, str(tmp_path / "pages"), n_buckets=8,
        branch="stage", write_mode="mor",
    )
    br.replay(tail, batch_size=500, from_seq=1500)
    br.compact()
    br.publish()
    assert main.state_hash() == h_ref
    assert main.table.delta_buckets() == []


def test_publish_crash_between_manifest_and_head(
    spark, changelog_df, tmp_path, monkeypatch
):
    """A publisher that wrote its manifest but died before the head CAS
    leaves main unmoved; re-running publish self-heals to the same
    final state (orphan manifests never satisfy idempotency)."""
    base, tail = _split(changelog_df, 1500)
    main = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8)
    main.replay(base, batch_size=1500)
    br = CdcEngine(spark, str(tmp_path / "pages"), n_buckets=8, branch="b")
    br.replay(tail, batch_size=1500, from_seq=1500)

    t = main.table
    m_before = t.current_snapshot_id()
    # simulate the crash window: run publish with the head link disabled
    import clinvar_ingest_spark.lakelet.manifest as mf

    orig = mf.link_pointer

    def boom(directory, name, payload):
        if name.startswith("head-"):
            raise RuntimeError("crash before CAS")
        return orig(directory, name, payload)

    monkeypatch.setattr(mf, "link_pointer", boom)
    with pytest.raises(RuntimeError):
        t.publish_branch("b")
    monkeypatch.undo()
    assert t.current_snapshot_id() == m_before  # main unmoved

    sid = t.publish_branch("b")  # self-heals
    assert t.current_snapshot_id() == sid
    assert t._is_committed(sid)


def test_ref_names_are_validated_before_any_filesystem_use(spark, tmp_path):
    """Branch/tag names become path components under manifests/ —
    ``drop_branch("..")`` would rmtree the whole manifest store and
    ``create_branch("..")`` would alias the "branch" onto the main head
    chain (silently defeating WAP isolation). Every ref entry point
    must reject separators and dot-aliases BEFORE touching the
    filesystem."""
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    t = eng.table
    bad = ["", ".", "..", "a/b", "a\\b", "_x", "head-1", "../../etc"]
    for name in bad:
        with pytest.raises(ValueError):
            t.create_branch(name)
        with pytest.raises(ValueError):
            t.drop_branch(name)
        with pytest.raises(ValueError):
            t.create_tag(name)
        with pytest.raises(ValueError):
            t.delete_tag(name)
        with pytest.raises((ValueError, FileNotFoundError)):
            t.for_branch(name)
    # the manifest store survived every attempt
    assert t.current_snapshot_id()
    t.create_branch("audit")  # good names still work
    t.drop_branch("audit")


def test_snapshot_as_of_covers_the_genesis_window(spark, tmp_path):
    """AS-OF between table creation and the first data commit must
    resolve to genesis, not raise 'expired' — genesis carries
    committed_at like every other commit."""
    import time

    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    sid = eng.table.snapshot_as_of(time.time())
    assert sid == eng.table.current_snapshot_id()
