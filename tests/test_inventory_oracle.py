"""Golden-output gate: every inventory query vs its DuckDB oracle at
sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from realtime0523_spark.plans import REGISTRY
from tests.conftest import SF_SMOKE
from tools.check_oracle import compare, duckdb_con


@pytest.fixture(scope="module")
def con():
    return duckdb_con(SF_SMOKE)


def _assert_matches_oracle(spark, con, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_SMOKE).toPandas()
    if spec.oracle is None:
        assert len(sdf) > 0
        return
    odf = con.execute(spec.oracle).df()
    issues = compare(sdf, odf)
    assert not issues, issues


@pytest.mark.slow  # the driver's own oracle sweep at sf0.01 covers
# this parametrization; at 217 queries it dominates the suite's wall
# time and made the driver's pytest gate time out
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, con, name):
    _assert_matches_oracle(spark, con, name)


# the fast tier's oracle smoke: the streaming keyed-state queries, the
# batch allocation they must agree with, the registered ADS and DAU
# queries, which run the live topology's per-batch code, one partial
# drain per fold kind (distinct, non-sum, none, decayed), and two
# search rank tails (a shortlist re-rank and a non-vector rank)
@pytest.mark.parametrize(
    "name",
    [
        "allocation",
        "stream_allocation_split",
        "stream_first_seen",
        "stream_brand_amount",
        "stream_dau",
        "stream_events_rolling_dau",
        "stream_segment_overlap_kmv",
        "stream_purchase_attribution",
        "stream_trending_anchored",
        "emb_ann_rp",
        "docs_bm25_search",
    ],
)
def test_query_matches_oracle_smoke(spark, con, name):
    _assert_matches_oracle(spark, con, name)


# at fixture scale every size gate takes its small-input path; with
# the switch off, one query per gate runs its large-input (100 TB) path
@pytest.mark.parametrize(
    "name",
    [
        "parts_kcore",  # graph_driver
        "parts_triangle_stats",  # graph_broadcast
        "customers_rfm",  # rfm_driver
        "lineitem_equidepth_hist",  # hist_driver
        "docs_wordpiece_merges",  # vocab_driver
        "docs_dedup_clusters",  # cc_driver
    ],
)
def test_query_matches_oracle_gates_off(spark, con, name, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
    _assert_matches_oracle(spark, con, name)


@pytest.mark.parametrize(
    "name",
    [
        "media_resize",
        "media_frames",
        "media_features",
        # the decode/ingest family must also hold on multibyte AND
        # empty text (doc 4 below): the round-11 review caught the
        # gzip/warc oracles dropping nb=0 docs via an inner join
        "media_decode",
        "media_decode_png",
        "media_decode_jpeg",
        "docs_gzip_ingest",
        "docs_warc_extract",
        # doc ids 1-4 cover both zstd/LZ4 shard shapes (odd: skippable
        # frame + two frames; even: one frame, incl. the empty doc 4)
        "docs_zstd_ingest",
        "docs_lz4_ingest",
    ],
)
def test_media_oracles_hold_on_non_ascii(spark, tmp_path, name):
    """The driver corpus is 100% ASCII, which hides char-vs-byte
    divergence between a decoded-domain kernel and a SQL oracle. Run
    the same (query, oracle) pair on a fixture with multibyte text."""
    import duckdb

    docs = spark.createDataFrame(
        [
            (1, "héllo wörld " * 40, "fr", "web", 480),
            (2, "日本語のテキストです。" * 30, "ja", "web", 330),
            (3, "plain ascii only here " * 20, "en", "web", 440),
            (4, "", "en", "web", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fixture = str(tmp_path / "fix")
    (tmp_path / "fix").mkdir()
    docs.toPandas().to_parquet(f"{fixture}/documents.parquet")

    from tools.check_oracle import compare

    spec = REGISTRY[name]
    sdf = spec.fn(spark, fixture).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{fixture}/documents.parquet'"
    )
    odf = con.execute(spec.oracle).df()
    issues = compare(sdf, odf)
    assert not issues, issues


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
