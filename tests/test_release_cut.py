"""Release-level multi-table snapshot cut (round 3): one atomic release
manifest pins every entity table at one version — the reference's
clinvar_release asset graph (jade-assets/clinvar_release.asset.json:1-60)
re-expressed as a CAS-committed release pointer. Crash mid-fan-out must
leave the last COMPLETE cut visible and self-heal on re-run.
"""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clinvar_ingest_spark.lakelet.release import ReleaseSet, write_fanout_release
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)

ENTS = ("page", "host", "title", "link")


@pytest.fixture()
def changelog_df(spark, tmp_path):
    pdf = generate_changelog(ChangelogSpec(n_events=600, n_urls=120, seed=5))
    p = str(tmp_path / "cl.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pdf, schema=changelog_arrow_schema(), preserve_index=False
        ),
        p,
    )
    return spark.read.parquet(p)


def test_release_pins_consistent_cut(spark, tmp_path, changelog_df):
    root = str(tmp_path / "rel")
    r1 = write_fanout_release(
        changelog_df.filter("seq < 300"), root, "batch1", entity_types=ENTS,
        n_buckets=4,
    )
    rs = ReleaseSet(root)
    assert rs.current_release_id() == r1
    pages_r1 = rs.read_table(spark, "page", r1).count()
    titles_r1 = rs.read_table(spark, "title", r1).count()
    assert pages_r1 > 0 and titles_r1 > 0

    r2 = write_fanout_release(
        changelog_df, root, "batch2", entity_types=ENTS, n_buckets=4
    )
    assert r2 != r1 and rs.current_release_id() == r2
    assert rs.history() == [r1, r2]
    # AS OF r1 is frozen even though every member table moved on
    assert rs.read_table(spark, "page", r1).count() == pages_r1
    assert rs.read_table(spark, "title", r1).count() == titles_r1
    assert rs.read_table(spark, "page", r2).count() >= pages_r1

    # join of two member tables AS OF one release — the asset-graph read
    j = (
        rs.read_table(spark, "page", r1)
        .select("url")
        .join(
            rs.read_table(spark, "title", r1).groupBy("url").agg(
                F.count("*").alias("n_titles")
            ),
            "url",
            "left",
        )
    )
    assert j.count() == pages_r1


def test_rerun_same_batch_is_noop(spark, tmp_path, changelog_df):
    root = str(tmp_path / "rel")
    r1 = write_fanout_release(
        changelog_df, root, "batch1", entity_types=ENTS, n_buckets=4
    )
    r1b = write_fanout_release(
        changelog_df, root, "batch1", entity_types=ENTS, n_buckets=4
    )
    assert r1b == r1
    assert ReleaseSet(root).history() == [r1]


def test_crash_mid_fanout_self_heals(spark, tmp_path, changelog_df, monkeypatch):
    """Kill the fan-out after 2 of 4 member commits: the release pointer
    still names the last complete cut (here: none); re-running the same
    batch reconverges to a consistent release."""
    import clinvar_ingest_spark.lakelet.table as table_mod

    root = str(tmp_path / "rel")
    orig = table_mod.LakeletTable.commit_rewrite
    calls = {"n": 0}

    def failing(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("simulated crash mid-fan-out")
        return orig(self, *a, **kw)

    monkeypatch.setattr(table_mod.LakeletTable, "commit_rewrite", failing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        write_fanout_release(
            changelog_df, root, "batch1", entity_types=ENTS, n_buckets=4
        )
    monkeypatch.setattr(table_mod.LakeletTable, "commit_rewrite", orig)

    # no release exists — readers never see a mixed-version cut
    rs = ReleaseSet(root)
    assert rs.current_release_id() is None

    # re-run: committed members no-op (same batch_id), missing ones
    # commit, release lands
    r1 = write_fanout_release(
        changelog_df, root, "batch1", entity_types=ENTS, n_buckets=4
    )
    assert rs.current_release_id() == r1
    rel = rs.release(r1)
    assert set(rel["tables"]) == set(ENTS)
    for name in ENTS:
        assert rs.read_table(spark, name, r1).count() >= 0

    # and it equals a clean one-shot run on a fresh root
    clean = str(tmp_path / "clean")
    rc = write_fanout_release(
        changelog_df, clean, "batch1", entity_types=ENTS, n_buckets=4
    )
    for name in ENTS:
        a = sorted(
            map(str, ReleaseSet(root).read_table(spark, name, r1).collect())
        )
        b = sorted(
            map(str, ReleaseSet(clean).read_table(spark, name, rc).collect())
        )
        assert a == b, f"table {name} diverged after crash-recovery"


def test_release_aware_expiry_keeps_pinned_cuts(spark, tmp_path, changelog_df):
    """expire_releases drops old releases and GCs member snapshots but
    PINS every snapshot a surviving release references — AS-OF reads of
    retained releases survive the sweep."""
    from clinvar_ingest_spark.lakelet.release import expire_releases

    root = str(tmp_path / "rel")
    rids = []
    for i, hi in enumerate((200, 400, 600)):
        rids.append(
            write_fanout_release(
                changelog_df.filter(f"seq < {hi}"), root, f"batch{i}",
                entity_types=ENTS, n_buckets=4,
            )
        )
    rs = ReleaseSet(root)
    counts_before = {
        r: rs.read_table(spark, "page", r).count() for r in rids[1:]
    }

    out = expire_releases(rs, keep_last=2)
    assert out["expired_releases"] == [rids[0]]
    assert rs.history() == rids[1:]

    # retained releases still read the SAME data, tables still current
    for r in rids[1:]:
        assert rs.read_table(spark, "page", r).count() == counts_before[r]
    # the expired release is gone and its unpinned snapshots were GC'd
    with pytest.raises(FileNotFoundError):
        rs.release(rids[0])
    gc_stats = out["tables"]["page"]
    assert isinstance(gc_stats["expired"], list)


def _race_commit_release(monkeypatch, root, cuts):
    """Run ``commit_release`` for each (batch_id, tables) cut in its own
    thread, every thread reading the release head before any of them
    links one — so all of them plan the same seq. Returns one
    (release id | raised exception) per cut."""
    import threading

    barrier = threading.Barrier(len(cuts))
    orig = ReleaseSet._latest_head

    def planned_together(self):
        h = orig(self)
        barrier.wait(timeout=30)
        return h

    monkeypatch.setattr(ReleaseSet, "_latest_head", planned_together)
    out = [None] * len(cuts)

    def run(i):
        try:
            out[i] = ReleaseSet(root).commit_release(*cuts[i])
        except Exception as e:  # the losing thread's conflict
            out[i] = e

    threads = [threading.Thread(target=run, args=(i,)) for i in range(len(cuts))]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    monkeypatch.undo()
    return out


def _release_records(root):
    import os

    d = os.path.join(root, "_releases")
    return sorted(n for n in os.listdir(d) if not n.startswith("head-"))


def test_release_cas_race_one_winner(tmp_path, monkeypatch):
    """Two different cuts racing for one release seq: exactly one wins;
    the loser raises CommitConflictError and leaves no record behind."""
    import os

    from clinvar_ingest_spark.lakelet.release import release_id_for
    from clinvar_ingest_spark.lakelet.table import CommitConflictError

    root = str(tmp_path / "rel")
    cuts = [("b1", {"page": "s" * 20}), ("b2", {"page": "t" * 20})]
    out = _race_commit_release(monkeypatch, root, cuts)
    won = [r for r in out if isinstance(r, str)]
    lost = [i for i, r in enumerate(out) if isinstance(r, CommitConflictError)]
    assert len(won) == 1 and len(lost) == 1
    rs = ReleaseSet(root)
    assert rs.current_release_id() == won[0] and rs.history() == won
    loser_rid = release_id_for(None, *cuts[lost[0]])
    assert not os.path.exists(os.path.join(root, "_releases", f"{loser_rid}.json"))
    assert _release_records(root) == [f"{won[0]}.json"]


def test_release_cas_race_same_cut(tmp_path, monkeypatch):
    """The same cut committed twice at once: both calls return the one
    deterministic release id, and one record exists."""
    root = str(tmp_path / "rel")
    cut = ("b1", {"page": "s" * 20, "host": "h" * 20})
    out = _race_commit_release(monkeypatch, root, [cut, cut])
    assert isinstance(out[0], str) and out == [out[0], out[0]]
    assert ReleaseSet(root).history() == [out[0]]
    assert _release_records(root) == [f"{out[0]}.json"]
