"""Tests of the benchmark itself (no Spark session needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pandas as pd
import pytest

from perfbench import crawl
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.oracle import frame_hash, rows_hash

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_gives_byte_identical_urls_and_failure_schedule():
    a, b = crawl.make_crawl(11), crawl.make_crawl(11)
    assert a.schedule_bytes() == b.schedule_bytes()
    assert a.schedule_bytes() != crawl.make_crawl(12).schedule_bytes()


def test_same_seed_gives_identical_event_stream(tmp_path):
    digests = []
    for name in ("a.parquet", "b.parquet"):
        crawl.write_events(5, str(tmp_path / name))
        digests.append(hashlib.sha256((tmp_path / name).read_bytes()).hexdigest())
    assert digests[0] == digests[1]


def test_failure_schedule_has_both_kinds_of_failure():
    c = crawl.make_crawl(3)
    fates = [crawl.url_fate(c.seed, u) for u in c.fight_urls + c.fighter_urls]
    assert fates.count("dropped") > 0 and fates.count("flaky") > fates.count("dropped")


def test_transport_serves_pages_from_urls_with_the_seeded_failures():
    c = crawl.make_crawl(4)
    by_fate = {crawl.url_fate(c.seed, u): u for u in c.fight_urls}
    t = crawl.CrawlTransport(c.seed)
    assert t(by_fate["ok"])[0] == 200
    assert [t(by_fate["flaky"])[0] for _ in range(2)] == [503, 200]
    assert {t(by_fate["dropped"])[0] for _ in range(3)} == {503}
    assert t("http://example.com/fight-details/zz1-000000")[0] == 404


def test_metric_names_and_counts_fit_the_contract():
    names = [n for n, _ in END_TO_END + PER_LAYER]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert 1 <= len(END_TO_END) <= 16
    assert 1 <= len(PER_LAYER) <= 128
    assert "setup_s" in dict(END_TO_END)


def test_benchmark_json_lists_the_metrics_the_code_prints():
    spec = _benchmark_json()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert [w["name"] for w in spec["workloads"]] == ["ingest_incremental", "registry_sf0.01"]


def test_spec_maps_every_per_layer_metric():
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        spec = json.load(f)
    mapped = {m for entry in spec["layer_map"] for m in entry["metrics"]}
    assert {n for n, _ in PER_LAYER} <= mapped


def _expected_frame(c):
    return pd.DataFrame(crawl.expected_fight_rows(c), columns=crawl.FIGHT_COLUMNS)


def test_gate_accepts_the_expected_rows_and_fails_on_a_planted_wrong_row():
    c = crawl.make_crawl(6)
    want = rows_hash(list(crawl.FIGHT_COLUMNS), crawl.expected_fight_rows(c))
    pdf = _expected_frame(c).sample(frac=1.0, random_state=0)  # order must not matter
    assert frame_hash(pdf) == want
    pdf.iloc[3, pdf.columns.get_loc("end_round")] += 1
    assert frame_hash(pdf) != want


def test_gate_fails_on_a_missing_row():
    c = crawl.make_crawl(6)
    want = rows_hash(list(crawl.FIGHT_COLUMNS), crawl.expected_fight_rows(c))
    assert frame_hash(_expected_frame(c).iloc[1:]) != want


@pytest.mark.parametrize("kind", ["fight", "fighter"])
def test_gate_fails_on_an_unexpected_dropped_url(kind):
    c = crawl.make_crawl(8)
    dropped = c.dropped(kind)
    landed = set(c.offered(kind, c.rounds)) - dropped
    assert c.drop_violations(kind, landed) == set()
    lost = sorted(landed)[0]
    assert c.drop_violations(kind, landed - {lost}) == {lost}
    wrongly_landed = sorted(dropped)[0]
    assert c.drop_violations(kind, landed | {wrongly_landed}) == {wrongly_landed}


def test_value_hash_treats_engine_null_and_int_spellings_alike():
    a = pd.DataFrame({"x": [1.0, None, 2.5], "y": ["a", None, "b"]})
    b = pd.DataFrame({"y": ["b", "a", None], "x": [2.5, 1, float("nan")]})
    assert frame_hash(a) == frame_hash(b)
