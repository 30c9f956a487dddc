"""The output checks fire on planted defects, the recrawl corpus has the
same shape at every seed, and BENCHMARK.json matches what run.py reports.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import pandas as pd

from check import check_tables


def _clean_tables():
    pages = pd.DataFrame(
        {
            "id": [1, 2, 1],
            "portal": ["stepstone_0", "stepstone_0", "karriere_1"],
            "url": ["https://a/1", "https://a/2", "https://b/3"],
            "caption": [
                "Senior Controller in Wien.", "Baristas and cooks", "SQL Database Engineer",
            ],
            "phash": [1, 2, 3],
        }
    )
    bridge = pd.DataFrame(
        # keyword 1 = controll, keyword 12 = \bSQL\b (case-sensitive)
        {"keyword_id": [1, 12], "page_id": [1, 1], "portal": ["stepstone_0", "karriere_1"]}
    )
    return {
        "pages": pages,
        "seen": pages[["url"]].copy(),
        "bridge": bridge,
        "frontier": pd.DataFrame({"url": []}),
    }


def _failures(tables, expected):
    return {k: v for k, v in check_tables(tables, expected).items() if v is not None}


EXPECTED = {"https://a/1", "https://a/2", "https://b/3"}


def test_clean_warehouse_passes():
    assert _failures(_clean_tables(), EXPECTED) == {}


def test_duplicate_page_row_fires():
    tables = _clean_tables()
    tables["pages"] = pd.concat([tables["pages"], tables["pages"].iloc[[0]]], ignore_index=True)
    failed = _failures(tables, EXPECTED)
    assert "duplicate urls" in failed["pages_eq_seen"]


def test_dropped_bridge_row_fires():
    tables = _clean_tables()
    tables["bridge"] = tables["bridge"].iloc[1:]
    assert set(_failures(tables, EXPECTED)) == {"bridge_matches"}


def test_pending_rows_and_missing_pages_fire():
    tables = _clean_tables()
    tables["frontier"] = pd.DataFrame({"url": ["https://a/4"]})
    failed = _failures(tables, EXPECTED | {"https://a/4"})
    assert set(failed) == {"drained", "stored_set"}


def test_recrawl_corpus_shape_is_the_same_at_every_seed():
    from crawler_spark.sources.synth import gen_corpus
    from workloads import SPECS, _in_preseed, _links_from_ok_pages

    corpus = {**SPECS["recrawl_revisit"].corpus, "n_pages": 400}
    added = set()
    for seed in (1, 2):
        pdf = gen_corpus(seed=seed, **corpus)
        sm = pdf["sitemap_entries"]
        added.add(int((~_in_preseed(seed, sm["url"])).groupby(sm["url"]).first().sum()))
        pages = _links_from_ok_pages(pdf)
        linking = pages[pages["outlinks"].map(len) > 0]
        assert len(linking) > 0
        assert (linking["http_status"] == 200).all()
        assert linking["url"].isin(set(sm["url"])).all()
    assert added == {40}


def test_benchmark_json_lists_what_run_reports():
    import json
    from pathlib import Path

    from layers import metric_units
    from run import END_TO_END
    from workloads import SPECS

    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        s.name: s.why for s in SPECS.values()
    }
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metric_units()
