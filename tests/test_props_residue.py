"""`props` residual column: unmodeled changelog fields survive the
engine canonically (the reference's `content` spill-column insulation,
README.md:24-28 / Content.scala:16-22, as a real table column)."""

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.functions.canonical_json import canonical_json_of_string
from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    changelog_arrow_schema,
    generate_changelog,
)


@pytest.fixture(scope="module")
def changelog(spark, tmp_path_factory):
    pdf = generate_changelog(ChangelogSpec(n_events=800, n_urls=120, seed=31))
    p = str(tmp_path_factory.mktemp("cl") / "cl.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=changelog_arrow_schema(), preserve_index=False), p
    )
    return pdf, spark.read.parquet(p)


def test_props_survive_merge_canonically(spark, changelog, tmp_path):
    pdf, df = changelog
    for mode in ("cow", "mor"):
        eng = CdcEngine(spark, str(tmp_path / mode), n_buckets=4, write_mode=mode)
        eng.replay(df, batch_size=300)
        live = eng.live().toPandas()
        assert live["props"].notna().all()
        # canonical: sorted keys, compact — and exactly the generic
        # kernel's output for the winning event's raw `extra`
        winners = (
            pdf.sort_values(["warc_ts", "seq"]).groupby("url").tail(1).set_index("url")
        )
        for _, row in live.sample(n=25, random_state=0).iterrows():
            want = canonical_json_of_string(winners.loc[row["url"], "extra"])
            assert row["props"] == want
            assert list(json.loads(row["props"]).keys()) == ["fetch_ms", "status"]


def test_props_in_diff_and_ndjson_roundtrip(spark, changelog, tmp_path):
    _, df = changelog
    from clinvar_ingest_spark.sources.ndjson import diff_slices_to_changelog

    prod = CdcEngine(spark, str(tmp_path / "prod"), n_buckets=4)
    prod.replay(df, batch_size=400)
    hist = prod.table.history()
    d = prod.diff_snapshots(hist[1], hist[-1])
    assert "props" in d.columns
    assert d.filter("_change <> 'deleted' AND props IS NULL").count() == 0

    # a pure-props change must classify as 'updated' (residue is state)
    prod.export_diff_ndjson(hist[1], hist[-1], str(tmp_path / "wire"))
    cons = CdcEngine(spark, str(tmp_path / "cons"), n_buckets=4)
    cons.replay(df.filter("seq < 400"), batch_size=400)
    wire = diff_slices_to_changelog(spark, str(tmp_path / "wire"), start_seq=10_000_000)
    assert "props" in wire.columns
    cons.replay(wire.drop("text"), batch_size=10_000_000)
    # state_hash covers props — byte-level residue parity across the wire
    assert cons.state_hash() == prod.state_hash(hist[-1])
