"""End-to-end index build + search serve — the reference's main UX
(python src/index.py; GET /api/search) as two functions."""

import json
import os

import pytest
from pyspark.sql import functions as F

from cord19_crawler_spark.plans.search_pipeline import build_index, search


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    rows = [
        (1, "covid vaccine study results covid", "Covid vaccine study"),
        (2, "vaccine trials in europe", "Vaccine trials"),
        (3, "weather patterns and climate", "Weather report"),
        (4, "covid covid covid transmission", "Covid transmission"),
        (5, "testing vaccines for covid variants", "Variant testing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, title string")
    meta = build_index(spark, docs, out, title_col="title", num_barrels=4)
    assert meta["total_docs"] == 5 and meta["num_barrels"] == 4
    return out


def test_index_layout(index_dir):
    assert os.path.isdir(f"{index_dir}/postings/barrel_id=0")
    assert os.path.exists(f"{index_dir}/_INDEX.json")
    meta = json.load(open(f"{index_dir}/_INDEX.json"))
    assert meta["vocabulary"] > 5


def test_single_word_search(spark, index_dir):
    res = search(spark, index_dir, "covid", k=10).collect()
    ids = [r["doc_id"] for r in res]
    assert ids[0] == 4  # tf=3 wins
    assert set(ids) == {1, 4, 5}
    assert res[0]["title"] == "Covid transmission"


def test_multi_word_coverage_boost(spark, index_dir):
    res = search(spark, index_dir, "covid vaccine", k=10).collect()
    by_id = {r["doc_id"]: r for r in res}
    # doc 1 matches both terms → coverage boost beats doc 4's high single-term tf
    assert by_id[1]["matched_terms"] == 2
    assert res[0]["doc_id"] == 1


def test_stopword_only_query_empty(spark, index_dir):
    empty = search(spark, index_dir, "the and of", k=5)
    assert empty.count() == 0
    # SAME schema as a real result (doc_id keeps the postings' type, title
    # present because this index has titles) — unionable across queries
    real = search(spark, index_dir, "covid", k=5)
    assert [f.name for f in empty.schema.fields] == [f.name for f in real.schema.fields]
    assert [f.dataType for f in empty.schema.fields] == [f.dataType for f in real.schema.fields]
    assert real.unionByName(empty).count() == real.count()


def test_lemma_variant_expansion(spark, index_dir):
    # 'vaccines' expands to its lemma 'vaccine' → matches docs indexed
    # under the shorter form too
    res = search(spark, index_dir, "vaccines", k=10).collect()
    assert {r["doc_id"] for r in res} >= {2, 5}


def test_autocomplete(spark, index_dir):
    from cord19_crawler_spark.plans.search_pipeline import autocomplete

    got = autocomplete(spark, index_dir, "va", k=5).collect()
    assert [r["word"] for r in got][:1] == ["vaccine"]
    with pytest.raises(ValueError):
        autocomplete(spark, index_dir, "v")


def test_delta_merge_no_rebuild(spark, index_dir):
    fresh = spark.createDataFrame(
        [(99, "covid breakthrough covid covid covid")], "doc_id long, text string"
    )
    res = search(spark, index_dir, "covid", k=10, delta_docs=fresh).collect()
    assert res[0]["doc_id"] == 99  # visible and top-ranked, no rebuild


def test_index_statistics_sink(index_dir):
    """Consolidated stats artifact diffable against the reference's
    index_statistics.json (src/index.py:174-199): same field names."""
    stats = json.load(open(f"{index_dir}/index_statistics.json"))
    assert stats["total_papers_indexed"] == 5
    assert stats["total_unique_words"] == stats["inverted_index_terms"] > 5
    for field in (
        "created_at", "processing_time_minutes", "papers_per_second",
        "model_used", "index_sizes_bytes", "pos_distribution",
    ):
        assert field in stats
    assert set(stats["index_sizes_bytes"]) == {
        "lexicon", "forward_index", "inverted_index", "backward_index"
    }
    assert stats["pos_distribution"].get("NOUN", 0) > 0
    # timing covers the WHOLE build (index writes + stats job), so even a
    # tiny 5-doc build registers non-zero minutes and a sane papers/sec
    assert stats["processing_time_minutes"] > 0
    assert 0 < stats["papers_per_second"] < 1000


def _pre_doclens_copy(index_dir, tmp_path):
    """A copy of the index in the pre-doclens layout: no doclens dir, no
    total_tokens meta."""
    import shutil

    legacy = str(tmp_path / "legacy_idx")
    shutil.copytree(index_dir, legacy)
    shutil.rmtree(os.path.join(legacy, "doclens"))
    meta_path = os.path.join(legacy, "_INDEX.json")
    meta = json.load(open(meta_path))
    del meta["total_tokens"]
    json.dump(meta, open(meta_path, "w"))
    return legacy


def test_bm25_pre_doclens_fallback_full_corpus_stats(
    spark, index_dir, tmp_path
):
    """A pre-doclens index layout (no doclens dir, no total_tokens meta)
    must fall back to corpus-wide doclen/token-mass statistics — NOT the
    barrel-pruned postings, which cover only the query words' barrels
    and skew BM25 length normalization (r5 ADVICE finding)."""
    legacy = _pre_doclens_copy(index_dir, tmp_path)

    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in search(
            spark, index_dir, "covid vaccine", k=None, ranker="bm25"
        ).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search(
            spark, legacy, "covid vaccine", k=None, ranker="bm25"
        ).collect()
    ]
    assert got == want


def test_bm25_delta_merge_both_doclens_layouts(spark, index_dir, tmp_path):
    """An upload merged at read time (delta_docs) enters BM25's corpus
    statistics — its doclen and token mass — exactly as if it had been
    indexed: with the doclens side table and with the pre-doclens
    fallback alike, the scores equal those of an index rebuilt with it."""
    upload = (99, "covid breakthrough covid covid covid vaccine")
    fresh = spark.createDataFrame([upload], "doc_id long, text string")
    rebuilt = str(tmp_path / "rebuilt_idx")
    rows = [
        (1, "covid vaccine study results covid"),
        (2, "vaccine trials in europe"),
        (3, "weather patterns and climate"),
        (4, "covid covid covid transmission"),
        (5, "testing vaccines for covid variants"),
        upload,
    ]
    build_index(
        spark, spark.createDataFrame(rows, "doc_id long, text string"),
        rebuilt, num_barrels=4,
    )

    def ranked(idx, delta):
        return [
            (str(r["doc_id"]), round(r["score"], 6))
            for r in search(
                spark, idx, "covid vaccine", k=None, ranker="bm25",
                delta_docs=delta,
            ).collect()
        ]

    want = ranked(rebuilt, None)
    assert want[0][0] == "99"
    assert ranked(index_dir, fresh) == want
    assert ranked(_pre_doclens_copy(index_dir, tmp_path), fresh) == want
