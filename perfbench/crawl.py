"""Seeded inputs for the benchmark: the synthetic crawl the ingest workload
offers to ``sources.scrape_pipeline.ingest``, its fetch-failure schedule,
the transport that serves it, the expected silver rows, and the event
stream for ``streaming.pipeline.run_streaming_upsert``.

Everything here is a pure function of the seed. The program under test
receives only the URL lists, the transport and the events file; the
expected rows are derived from the page generators' parameters
(``fight_page_params`` and the fighter-page hash), never by parsing HTML,
so the gate checks the program's parse and casts against an independent
derivation.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
from dataclasses import dataclass

from sports_stats_data_pipeline_spark.functions.parsing import (
    CM_PER_INCH,
    KG_PER_LB,
)
from sports_stats_data_pipeline_spark.sources.synthetic_pages import (
    fight_page_params,
    synth_fight_page,
    synth_fighter_page,
)

#: Crawl shape. One round re-offers every earlier URL plus a fresh slice
#: (the reference's resume pattern), so the sinks grow round by round.
EVENTS = 240
FIGHTS_PER_EVENT = 25
FIGHTER_PREFIXES = 120
FIGHTERS_PER_PREFIX = 10
ROUNDS = 2

#: Failure schedule: a share of URLs answers 503 on its first request only
#: (exercises the fetch retry); a smaller share always answers 503 and is
#: dropped after the retries, as the reference drops it.
FLAKY_SHARE = 0.05
DROP_SHARE = 0.01

#: Event stream for the streaming upsert: rows, then re-deliveries of
#: already-sent event ids appended to the same file.
STREAM_EVENTS = 20_000
STREAM_REDELIVERED = 2_000

_FIGHT_URL = re.compile(r"^http://example\.com/fight-details/([a-z]+)(\d+)-[0-9a-f]{6}$")
_FIGHTER_URL = re.compile(
    r"^http://example\.com/fighter-details/([a-z]+)(\d+)-[0-9a-f]{6}$"
)


def _codes(rng: random.Random, n: int, length: int) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        code = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(length))
        if code not in seen:
            seen.add(code)
            out.append(code)
    return out


def url_fate(seed: int, url: str) -> str:
    """``"ok"``, ``"flaky"`` (one 503, then 200) or ``"dropped"`` (always
    503) — a hash of (seed, url), so the transport needs no captured set."""
    h = int(hashlib.sha256(f"{seed}|{url}".encode()).hexdigest()[:8], 16) / 2**32
    if h < DROP_SHARE:
        return "dropped"
    if h < DROP_SHARE + FLAKY_SHARE:
        return "flaky"
    return "ok"


def page_for_url(url: str) -> str | None:
    """The page a URL names, computed from the URL alone; None for a URL
    the generators did not produce."""
    for pattern, synth in ((_FIGHT_URL, synth_fight_page), (_FIGHTER_URL, synth_fighter_page)):
        m = pattern.match(url)
        if m:
            gen_url, html = synth(m.group(1), int(m.group(2)))
            return html if gen_url == url else None
    return None


class CrawlTransport:
    """``url -> (status, body)`` over the synthetic crawl.

    Holds only the seed and, when counting, three Spark accumulators; the
    per-URL call count that makes a flaky URL fail once lives in the
    worker's copy, and retries of one URL run in one task.
    """

    def __init__(self, seed: int, counters=None):
        self.seed = seed
        self.counters = counters
        self._calls: dict[str, int] = {}

    def __call__(self, url: str) -> tuple[int, str]:
        n = self._calls.get(url, 0)
        self._calls[url] = n + 1
        if self.counters is not None:
            calls, retries, _ = self.counters
            calls.add(1)
            if n:
                retries.add(1)
        fate = url_fate(self.seed, url)
        if fate == "dropped" or (fate == "flaky" and n == 0):
            return 503, ""
        page = page_for_url(url)
        if page is None:
            return 404, ""
        if self.counters is not None:
            self.counters[2].add(1)
        return 200, page


@dataclass(frozen=True)
class Crawl:
    """The URLs of one seeded crawl, in offer order, cut into rounds."""

    seed: int
    fight_urls: tuple[str, ...]
    fighter_urls: tuple[str, ...]
    rounds: int = ROUNDS

    def offered(self, kind: str, rnd: int) -> list[str]:
        """URLs offered in round ``rnd`` (1-based): every earlier slice plus
        slice ``rnd``."""
        urls = self.fight_urls if kind == "fight" else self.fighter_urls
        return list(urls[: len(urls) * rnd // self.rounds])

    def landed(self, kind: str, rnd: int) -> int:
        """Rows a correct sink holds after round ``rnd``."""
        return sum(url_fate(self.seed, u) != "dropped" for u in self.offered(kind, rnd))

    def dropped(self, kind: str) -> set[str]:
        urls = self.fight_urls if kind == "fight" else self.fighter_urls
        return {u for u in urls if url_fate(self.seed, u) == "dropped"}

    def drop_violations(self, kind: str, landed: set[str]) -> set[str]:
        """URLs whose presence in a final sink breaks the schedule: offered
        but missing outside the seeded drop set, dropped yet landed, or
        never offered."""
        offered = set(self.offered(kind, self.rounds))
        dropped = self.dropped(kind)
        return (offered - landed - dropped) | (landed & dropped) | (landed - offered)

    def schedule_bytes(self) -> bytes:
        """Canonical bytes of the URL set and its failure schedule."""
        doc = {
            kind: [[u, url_fate(self.seed, u)] for u in urls]
            for kind, urls in (("fight", self.fight_urls), ("fighter", self.fighter_urls))
        }
        return json.dumps(doc, separators=(",", ":")).encode()


def make_crawl(seed: int) -> Crawl:
    """Seeded crawl: event and fighter-prefix codes, pages shuffled into a
    seeded offer order."""
    rng = random.Random(seed)
    fights = [
        synth_fight_page(ev, i)[0]
        for ev in _codes(rng, EVENTS, 5)
        for i in range(FIGHTS_PER_EVENT)
    ]
    fighters = [
        synth_fighter_page(p, i)[0]
        for p in _codes(rng, FIGHTER_PREFIXES, 4)
        for i in range(FIGHTERS_PER_PREFIX)
    ]
    rng.shuffle(fights)
    rng.shuffle(fighters)
    return Crawl(seed, tuple(fights), tuple(fighters))


#: silver columns the gate compares, in order.
FIGHT_COLUMNS = (
    "fight_url", "event_name", "fighter_a", "fighter_b", "result_a", "result_b",
    "method", "end_round", "end_time_s", "scheduled_rounds",
    "fighter_a_sig_str_landed", "fighter_a_sig_str_attempted",
    "fighter_b_sig_str_landed", "fighter_b_sig_str_attempted",
    "fighter_a_total_str_landed", "fighter_a_total_str_attempted",
    "fighter_b_total_str_landed", "fighter_b_total_str_attempted",
    "fighter_a_td_landed", "fighter_a_td_attempted",
    "fighter_b_td_landed", "fighter_b_td_attempted",
    "fighter_a_head_landed", "fighter_b_head_landed",
    "fighter_a_ctrl_s", "fighter_b_ctrl_s", "fighter_a_sub_att", "fighter_b_sub_att",
)
FIGHTER_COLUMNS = ("url", "name", "nickname", "wins", "losses", "draws", "height_cm", "weight_kg")


def expected_fight_rows(crawl: Crawl) -> list[tuple]:
    """Silver fight rows a correct ingest + ``fights_silver`` yields."""
    rows = []
    for url in crawl.fight_urls:
        if url_fate(crawl.seed, url) == "dropped":
            continue
        m = _FIGHT_URL.match(url)
        p = fight_page_params(m.group(1), int(m.group(2)))
        rows.append((
            url, p["event_name"], p["fighter_a"], p["fighter_b"],
            p["result_a"], p["result_b"], p["method"], p["end_round"],
            p["end_m"] * 60 + p["end_s"], p["rounds"],
            p["sig_a_l"], p["sig_a_t"], p["sig_b_l"], p["sig_b_t"],
            p["tot_a_l"], p["tot_a_t"], p["tot_b_l"], p["tot_b_t"],
            p["td_a"], p["td_a_t"], p["td_b"], p["td_b_t"],
            # the page has no "Significant Strikes" table: N/A -> NULL
            None, None,
            p["ctrl_a_m"] * 60 + p["ctrl_a_s"], p["ctrl_b_m"] * 60 + p["ctrl_b_s"],
            p["sub_a"], p["sub_b"],
        ))
    return rows


def expected_fighter_rows(crawl: Crawl) -> list[tuple]:
    """Silver fighter rows a correct ingest + ``fighters_silver`` yields,
    from the same hash bytes ``synth_fighter_page`` draws its fields from."""
    rows = []
    for url in crawl.fighter_urls:
        if url_fate(crawl.seed, url) == "dropped":
            continue
        m = _FIGHTER_URL.match(url)
        prefix, idx = m.group(1), int(m.group(2))
        h = hashlib.md5(f"{prefix}:{idx}".encode()).hexdigest()
        inches = (5 + int(h[5], 16) % 2) * 12 + int(h[6:8], 16) % 12
        pounds = 115 + 10 * (int(h[8:10], 16) % 16)
        rows.append((
            url, f"{prefix.upper()}ighter {prefix.upper()}{idx}", None,
            int(h[0:2], 16) % 40, int(h[2:4], 16) % 15, int(h[4:5], 16) % 3,
            inches * CM_PER_INCH, pounds * KG_PER_LB,
        ))
    return rows


def write_events(seed: int, path: str) -> int:
    """Write the seeded event stream to ``path`` (an ``events.parquet``
    with the events-table schema); returns the count of distinct event
    ids. Re-delivered rows repeat an earlier event id with its payload."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 7919 + 1)
    base_ts = 1_700_000_000_000_000
    types = ("view", "click", "cart", "purchase")
    ids = rng.sample(range(1, 50 * STREAM_EVENTS), STREAM_EVENTS)
    rows = [
        (eid, base_ts + i * 1_000_000, rng.randrange(2_000), rng.choice(types), rng.randrange(10_000) / 100)
        for i, eid in enumerate(ids)
    ]
    rows += [rows[rng.randrange(STREAM_EVENTS)] for _ in range(STREAM_REDELIVERED)]
    cols = list(zip(*rows))
    table = pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(table, path)
    return STREAM_EVENTS
