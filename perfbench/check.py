"""Output checks: every URL a run attempts is compared against an oracle that
does not share code with the path under test.

* Crawl results are checked against the synthetic corpus's value rules (the
  table in ``fakepilot_spark/corpus.py``), re-derived here from the page id.
* Crawl order and the URL-seen set are checked against
  ``crawl.oracle.oracle_crawl`` run over a link graph built from the corpus
  link rule, never by parsing pages.
* Fixture extraction rows are checked against digests of the pure-Python
  ``extract.fields`` path, which the golden suite ties to ``valid_data.json``.

Each function works on plain Python values, so the self-test can feed it a
corrupted copy without Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from collections import Counter

_BASE = dt.datetime(2025, 1, 1)
_COUNTRIES = ("US", "FR", "ES", "NO", "DK")


# -- the corpus rules -------------------------------------------------------


def host_id(pid: int, hosts: int, skew: bool) -> int:
    if skew:
        return 0 if pid % 3 == 0 else 1 + (pid * 2654435761) % (hosts - 1)
    return pid % hosts


def page_url(pid: int, hosts: int, skew: bool) -> str:
    return f"https://host{host_id(pid, hosts, skew)}.example.com/review/c{pid}"


def page_id(url: str) -> int:
    return int(url.rsplit("/c", 1)[1])


def link_ids(pid: int, n_pages: int, links_per_page: int) -> list:
    return [((pid + 1 + k * 977) * 48271) % n_pages for k in range(links_per_page)]


def link_graph(n_pages: int, hosts: int, skew: bool, links_per_page: int) -> dict:
    """url -> outgoing links, for the oracle."""
    return {
        page_url(p, hosts, skew): [
            page_url(q, hosts, skew) for q in link_ids(p, n_pages, links_per_page)
        ]
        for p in range(n_pages)
    }


def expected_row(pid: int, n_pages: int, hosts: int, skew: bool,
                 reviews_per_page: int, links_per_page: int, nreviews: int) -> dict:
    """The extraction result the value rules predict for page ``pid``."""
    closed = pid % 97 == 0
    company = {
        "name": f"Company {pid}",
        "company_url": "",
        "nreviews": None if closed else 100 + pid % 900,
        "score": None if closed else (10 + pid % 40) / 10.0,
        "categories": [f"Category {pid % 7}", f"Category {(pid + 3) % 7}"],
        "email": f"info@c{pid}.example.com",
        "phone": None if pid % 5 == 0 else f"+1-555-{1000 + pid % 9000}",
        "address": f"Street {pid % 100} Springfield",
        "is_claimed": pid % 2 == 0,
        "rating_distribution": {
            s: ((pid * 11 + s * 1234) % 10000) / 100.0 for s in range(1, 6)
        },
    }
    reviews = []
    for i in range(min(nreviews, reviews_per_page)):
        j = pid + i
        reviews.append({
            "author_name": f"Reviewer {(pid * 31 + i) % 1000}",
            "author_id": f"u{pid}x{i}",
            "is_verified": j % 2 == 0,
            "star_rating": float(1 + j % 5),
            "date": _BASE + dt.timedelta(minutes=pid * 131 + i * 17),
            "title": f"Title {j % 50}",
            "content": "" if j % 7 == 0 else f"Review body {pid} part {i}",
            "nreviews": 1 + j % 30,
            "country": _COUNTRIES[j % 5],
            "date_experience": _BASE + dt.timedelta(days=j % 365),
        })
    links = [page_url(q, hosts, skew) for q in link_ids(pid, n_pages, links_per_page)]
    return canonical(company, reviews, links, None)


# -- comparison -------------------------------------------------------------


def canonical(company, reviews, links, error) -> dict:
    """One extraction result as plain, comparable values."""
    return {"company": company, "reviews": reviews, "links": links, "error": error}


def digest(row: dict) -> str:
    blob = json.dumps(row, sort_keys=True, default=str, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


def check_crawl(fetched_per_epoch: list, seen: set, rows: dict, oracle: dict,
                expected) -> tuple:
    """Compare one crawl with the oracle.

    ``fetched_per_epoch``: the sorted URL list each epoch committed;
    ``seen``: the committed URL-seen set; ``rows``: url -> list of canonical
    result rows (more than one is a duplicate); ``expected(url)``: the
    canonical row the rules predict. Returns ``(attempted, failed_urls)``.
    """
    want = oracle["fetched_per_epoch"]
    failed = set()
    for e in range(max(len(want), len(fetched_per_epoch))):
        got = fetched_per_epoch[e] if e < len(fetched_per_epoch) else []
        exp = want[e] if e < len(want) else []
        failed |= set(got) ^ set(exp)
        failed |= {u for u, n in Counter(got).items() if n > 1}
    failed |= set(seen) ^ set(oracle["seen"])
    attempted = {u for urls in want for u in urls}
    for url in attempted:
        got = rows.get(url, [])
        if len(got) != 1 or got[0] != expected(url):
            failed.add(url)
    failed |= set(rows) - attempted
    return len(attempted), failed


def check_digests(rows: list, urls: list, reference: dict, key) -> tuple:
    """``rows``: (url, canonical row) pairs of one extraction pass over the
    pages ``urls``; ``reference``: key -> digest of the pure-Python result;
    ``key(url)`` maps a url to its reference key. Returns
    ``(attempted, failed)``: a url that is missing, duplicated, errored or
    different counts once, and so does a row for a url never asked for."""
    got: dict = {}
    for url, row in rows:
        got.setdefault(url, []).append(row)
    failed = sum(
        1
        for url in urls
        if len(got.get(url, ())) != 1
        or got[url][0]["error"] is not None
        or digest(got[url][0]) != reference.get(key(url))
    )
    return len(urls), failed + len(set(got) - set(urls))
