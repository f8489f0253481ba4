"""Self-test of the output checks: a dropped or altered URL must be counted.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy

import check
from fakepilot_spark.crawl.oracle import oracle_crawl

N, HOSTS, LINKS, REVIEWS = 60, 7, 3, 2


def _crawl():
    graph = check.link_graph(N, HOSTS, True, LINKS)
    seeds = [check.page_url(p, HOSTS, True) for p in (1, 2, 3)]
    oracle = oracle_crawl(graph, seeds, max_epochs=3, global_batch=8, default_budget=2)

    def expected(url):
        return check.expected_row(check.page_id(url), N, HOSTS, True, REVIEWS, LINKS, 20)

    fetched = [list(urls) for urls in oracle["fetched_per_epoch"]]
    rows = {u: [expected(u)] for urls in fetched for u in urls}
    return fetched, set(oracle["seen"]), rows, oracle, expected


def test_intact_crawl_passes():
    fetched, seen, rows, oracle, expected = _crawl()
    attempted, failed = check.check_crawl(fetched, seen, rows, oracle, expected)
    assert attempted == sum(len(e) for e in fetched) > 10
    assert failed == set()


def test_dropped_and_altered_urls_are_counted():
    fetched, seen, rows, oracle, expected = _crawl()
    dropped, altered = fetched[1][0], fetched[2][-1]
    fetched[1].remove(dropped)
    del rows[dropped]
    rows[altered] = copy.deepcopy(rows[altered])
    rows[altered][0]["reviews"][0]["content"] += "!"
    _, failed = check.check_crawl(fetched, seen, rows, oracle, expected)
    assert failed == {dropped, altered}


def test_duplicate_unseen_and_errored_urls_are_counted():
    fetched, seen, rows, oracle, expected = _crawl()
    dup, lost, bad = fetched[0][0], sorted(seen)[-1], fetched[1][-1]
    fetched[0].append(dup)
    seen.discard(lost)
    rows[bad] = [check.canonical(None, None, None, "ValueError: boom")]
    _, failed = check.check_crawl(fetched, seen, rows, oracle, expected)
    assert failed == {dup, lost, bad}


def test_fixture_digests_count_dropped_altered_and_errored_rows():
    rows = {
        f"fixture://{name}/0": check.canonical({"name": name}, [], ["https://x"], None)
        for name in ("a", "b", "c", "d")
    }
    reference = {url.split("/")[2]: check.digest(row) for url, row in rows.items()}
    urls = sorted(rows)

    def key(url):
        return url.split("/")[2]

    assert check.check_digests(list(rows.items()), urls, reference, key) == (4, 0)
    rows.pop("fixture://a/0")
    rows["fixture://b/0"] = check.canonical({"name": "B"}, [], ["https://x"], None)
    rows["fixture://c/0"] = dict(rows["fixture://c/0"], error="KeyError: x")
    assert check.check_digests(list(rows.items()), urls, reference, key) == (4, 3)
