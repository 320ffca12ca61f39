"""Table reads are planned from the manifest: no Spark job runs before
the scan.

The manifest already lists every path, schema version and key bucket,
so building a read's DataFrame needs no cluster work: the key's bucket
is hashed on the driver (``key_bucket``, bit-identical to Spark's
``xxhash64``), each schema group's row schema comes from one footer read
on the driver, and the session stats the manifest's exact paths on the
driver instead of launching a parallel listing job once a read names
more than 32 files.
"""

from __future__ import annotations

import random
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.functions.xhash import xxhash64
from clinvar_ingest_spark.lakelet.table import (
    LakeletTable,
    _footer_schema,
    bucket_expr,
    key_bucket,
)
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"read-planning-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read planning")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def mor(spark, tmp_path_factory):
    """8-bucket MOR table: a compacted base, then 4 delta batches — more
    than 32 live files, so a full read crosses Spark's listing threshold."""
    d = tmp_path_factory.mktemp("read_planning")
    p = str(d / "changelog.parquet")
    pdf = generate_changelog(
        ChangelogSpec(n_events=1000, n_urls=300, n_hosts=8, seed=5)
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=changelog_arrow_schema(), preserve_index=False),
        p,
    )
    cl = spark.read.parquet(p)
    eng = CdcEngine(spark, str(d / "t"), n_buckets=8, write_mode="mor")
    eng.replay(cl.filter(F.col("seq") < 200), batch_size=200)
    base = eng.compact()
    eng.replay(cl, batch_size=200)
    m = eng.table.manifest()
    assert len(m.files) > 32
    assert {f.bucket for f in m.files if f.kind == "delta"} == set(range(8))
    # a key live in both snapshots whose current row came from a delta
    old = {r["url"] for r in eng.live(base).select("url").collect()}
    new = eng.live().filter(F.col("_seq") >= 200).select("url").collect()
    url = min(r["url"] for r in new if r["url"] in old)
    return eng, base, url


def test_read_plans_without_a_job(spark, mor):
    eng, _base, _url = mor
    df, jobs = _jobs(spark, lambda: eng.table.read(spark))
    assert jobs == 0
    assert df.count() == eng.read().count()


def test_diff_plans_without_a_job(spark, mor):
    eng, base, _url = mor
    _df, jobs = _jobs(spark, lambda: eng.diff_snapshots(base, eng.table.current_snapshot_id()))
    assert jobs == 0


def test_mor_lookup_plans_without_a_job(spark, mor):
    eng, _base, url = mor
    df, jobs = _jobs(spark, lambda: eng.lookup(url))
    assert jobs == 0
    assert [r["url"] for r in df.collect()] == [url]


def test_cow_lookup_runs_one_job(spark, mor):
    """A compacted (delta-free) snapshot plans a lookup exactly like a
    pure-COW table: one bucket, one file, no LWW resolution."""
    eng, base, url = mor
    stats = {}
    rows, jobs = _jobs(spark, lambda: eng.lookup(url, base, stats_out=stats).collect())
    assert stats["files_read"] == 1
    assert jobs == 1
    expected = eng.live(base).filter(F.col("url") == url).collect()
    assert rows == expected


def test_read_of_a_missing_file_fails_loudly(spark, mor, tmp_path):
    """Driver-side listing keeps Spark's existence check: a read whose
    manifest names a deleted file raises, naming it."""
    eng, _base, _url = mor
    root = str(tmp_path / "copy")
    shutil.copytree(eng.table.root, root)
    t = LakeletTable.load(root)
    victim = t.manifest().files[-1].path
    (tmp_path / "copy" / victim).unlink()
    with pytest.raises(Exception, match=victim.rsplit("/", 1)[-1]):
        t.read(spark).collect()


def test_footer_schema_is_what_spark_infers(spark, mor):
    eng, _base, _url = mor
    one_per_kind = {f.kind: f for f in eng.table.manifest().files}
    assert set(one_per_kind) == {"base", "delta"}
    for f in one_per_kind.values():
        path = f"{eng.table.root}/{f.path}"
        assert _footer_schema(path) == spark.read.parquet(path).schema


def _keys() -> list[str]:
    """Empty, ASCII URL and 1- to 4-byte UTF-8 keys of 0-130 characters:
    every XXH64 path (32-byte stripes, 8-byte words, the 4-byte word and
    single-byte tails) at every alignment."""
    rng = random.Random(1234)
    alphabets = ["abcXYZ019/:.-_", "éßøñ", "€中文字", "😀𝄞🚀"]
    keys = [""]
    keys += [f"https://h{rng.randrange(50):03d}.example.com/p/{rng.randrange(10**6)}"
             for _ in range(200)]
    for alpha in alphabets:
        for n in range(131):
            keys.append("".join(rng.choice(alpha) for _ in range(n)))
    return keys


def test_key_bucket_matches_bucket_expr(spark):
    keys = _keys()
    ns = (1, 16, 4096)
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    rows = df.select(
        "k", F.xxhash64("k").alias("h"), *[bucket_expr("k", n).alias(f"b{n}") for n in ns]
    ).collect()
    assert len(rows) == len(keys)
    for r in rows:
        assert xxhash64(r["k"].encode("utf-8")) == r["h"], r["k"]
        for n in ns:
            assert key_bucket(r["k"], n) == r[f"b{n}"], (r["k"], n)
