"""Field extraction semantics for Trustpilot-style company pages.

Re-expresses — from scratch, on :mod:`fakepilot_spark.htmlmini` — the exact
extraction semantics of the reference library so the output is byte-identical
per URL (gate: ``BASELINE.json:15``). Every function cites the reference
behavior it reproduces (``/root/reference/src/fakepilot/``); none of the
reference code is copied — the DOM API, control flow and data shapes here are
our own.

These functions are *pure Python per document*. The Spark engine calls them
from vectorized pandas/Arrow UDFs (one Python invocation per Arrow batch, see
:mod:`fakepilot_spark.extract.udfs`), never per-row from the driver.
"""

from __future__ import annotations

import datetime as _dt
import re
from functools import reduce
from operator import add

from ..htmlmini import Tag, parse

__all__ = [
    "MissingRatingTag",
    "company_record",
    "review_records",
    "link_hrefs",
    "extract_page",
    "COMPANY_FIELD_ORDER",
    "REVIEW_FIELD_ORDER",
]

# Class-name patterns the reference keys on (xray.py:38,45,154,164 and
# __init__.py:32). Compiled once per process.
_RX_LINK_INTERNAL = re.compile("link_internal")
_RX_DISPLAY_NAME = re.compile("title_displayName")
_RX_SIDEBAR = re.compile("styles_businessInfoSideBar")
_RX_BAR_VALUE = re.compile("rating-distribution-row_barValue")
_RX_REVIEW_LIST = re.compile("styles_reviewListContainer")
_RX_CONTACT_2025 = re.compile("styles_itemRow")
_RX_CONTACT_2023 = re.compile("styles_contactInfoElement")
_RX_CLAIMED = re.compile("Claimed profile")
_RX_THOUSANDS = re.compile("[.,\xa0]")

# Contact-line classification (xray.py:89-92): phone wins, then email, else
# address; later rows overwrite earlier rows of the same class (xray.py:107-115).
_RX_PHONE = re.compile(r"^\+?\d[\d-]+")
_RX_EMAIL = re.compile(
    r"([A-Za-z0-9]+[.-_])*[A-Za-z0-9]+@[A-Za-z0-9-]+(\.[A-Z|a-z]{2,})+"
)

_STAR_WORDS = (("one", 1), ("two", 2), ("three", 3), ("four", 4), ("five", 5))

_ISO_MILLIS = "%Y-%m-%dT%H:%M:%S.%fZ"  # xray.py:240
_MONTH_DAY_YEAR = "%B %d, %Y"  # xray.py:314 (C-locale English month names)

COMPANY_FIELD_ORDER = (
    "name", "url", "nreviews", "score", "categories", "email", "phone",
    "address", "is_claimed", "rating_distribution",
)
REVIEW_FIELD_ORDER = (
    "author_name", "author_id", "is_verified", "star_rating", "date",
    "title", "content", "nreviews", "country", "date_experience",
)


class MissingRatingTag(Exception):
    """Raised when the reviews-count tag is absent (closed companies).

    Mirrors the RuntimeError signal at xray.py:58-61 that
    ``extract_company_info`` converts to null stats (xray.py:192-198).
    """


def _whole_text(node: Tag) -> str:
    """bs4 ``concat_strings`` semantics (xray.py:249-263).

    ``.string`` when the single-child chain defines it *and* it is truthy,
    otherwise the concatenation of every plain text descendant.
    """
    single = node.string
    if single:
        return single
    return reduce(add, node.strings)


def _rating_stats(dom: Tag) -> tuple[int, float]:
    """Review count + TrustScore (xray.py:48-73), including the localized
    thousands-separator strip and decimal-comma normalization."""
    count_tag = dom.find(attrs={"data-reviews-count-typography": "true"})
    if not count_tag:
        raise MissingRatingTag
    single = count_tag.string
    raw = single.split()[0] if single else next(count_tag.strings)
    count = int(_RX_THOUSANDS.sub("", raw))
    score_tag = dom.find(attrs={"data-rating-typography": "true"})
    score = float(score_tag.string.replace(",", "."))
    return count, score


def _contact_triplet(dom: Tag):
    """(phone, email, address) classification (xray.py:76-117).

    May-2025 pages use ``li.styles_itemRow`` with the last row being the
    company URL (dropped, xray.py:102-105); Dec-2023 pages use
    ``li.styles_contactInfoElement``. Each row's text nodes are comma-joined
    *verbatim* before classification (xray.py:108).
    """
    rows = dom.find_all("li", class_=_RX_CONTACT_2025)
    if rows:
        rows = rows[:-1]
    else:
        rows = dom.find_all("li", class_=_RX_CONTACT_2023)
    phone = email = address = None
    for row in rows:
        line = ",".join(row.strings)
        if _RX_PHONE.search(line):
            phone = line
        elif _RX_EMAIL.search(line):
            email = line
        else:
            address = line
    return phone, email, address


def _categories(dom: Tag) -> list:
    """Category labels in document order (xray.py:120-128); each entry is the
    tag's ``.string`` (may be None for unexpected markup, as in the reference)."""
    # attrs-presence (True matcher) ≡ the reference's has_attr predicate
    # (xray.py:22-24,127) over tags, and it hits the doc index.
    hits = dom.find_all(attrs={"data-business-unit-info-category-typography": True})
    return [t.string for t in hits]


def _rating_distribution(dom: Tag):
    """Star→percentage map (xray.py:140-171).

    Scoped to the sidebar (absent on Dec-2023 markup → all-None values). The
    reference ends with ``if any(rating_dist)`` over the *dict* — i.e. over its
    integer keys 1..5, which are always truthy — so a populated-or-not dict is
    always returned; we reproduce that exactly rather than "fixing" it.
    """
    dist = {star: None for _, star in _STAR_WORDS}
    sidebar = dom.find(class_=_RX_SIDEBAR)
    if sidebar:
        for word, star in _STAR_WORDS:
            row = sidebar.find(attrs={"data-star-rating": word})
            if row:
                bar = row.find(class_=_RX_BAR_VALUE)
                pct = bar.attrs["style"].split(":")[-1].rstrip("%")
                dist[star] = float(pct)
    if any(dist):  # pragma: no branch — false side unreachable, see below
        return dist
    return None  # pragma: no cover — unreachable by construction, like the reference: any() iterates the dict's 1..5 integer KEYS (always truthy), xray.py:169-171


def company_record(dom: Tag) -> dict:
    """Assemble the company dict (xray.py:190-213), with closed-company
    fallback (RuntimeError → null stats, xray.py:192-198)."""
    try:
        nreviews, score = _rating_stats(dom)
    except MissingRatingTag:
        nreviews = score = None
    phone, email, address = _contact_triplet(dom)
    name_tag = dom.find(class_=_RX_DISPLAY_NAME)
    url_tag = dom.find(class_=_RX_LINK_INTERNAL)
    return {
        "name": next(name_tag.strings),  # first text node only (xray.py:43-45)
        "url": "".join(url_tag.strings),  # logo anchor → "" quirk (xray.py:27-40)
        "nreviews": nreviews,
        "score": score,
        "categories": _categories(dom),
        "email": email,
        "phone": phone,
        "address": address,
        "is_claimed": bool(dom.find(string=_RX_CLAIMED)),  # xray.py:131-137
        "rating_distribution": _rating_distribution(dom),
    }


def _review_record(card: Tag) -> dict:
    """One review card → dict (xray.py:216-339)."""
    author_tag = card.find(attrs={"data-consumer-name-typography": "true"})
    profile = card.find(attrs={"data-consumer-profile-link": "true"})
    rating_tag = card.find(attrs={"data-service-review-rating": True})
    when_tag = card.find(attrs={"data-service-review-date-time-ago": "true"})
    title_tag = card.find(attrs={"data-service-review-title-typography": True})
    body_tag = card.find(attrs={"data-service-review-text-typography": "true"})
    if not body_tag:
        content = ""  # xray.py:275-276 (changelog fix: empty-body reviews)
    else:
        content = _whole_text(body_tag).replace("\n", "").strip()
    count_tag = card.find(attrs={"data-consumer-reviews-count": True})
    country_tag = card.find(attrs={"data-consumer-country-typography": "true"})
    exp_tag = card.find(
        attrs={"data-service-review-date-of-experience-typography": "true"}
    )
    exp_raw = _whole_text(exp_tag).split(":")[-1].strip()
    return {
        "author_name": author_tag.string,
        "author_id": profile.get("href").rsplit("/", 1)[-1],  # xray.py:222-227
        "is_verified": bool(
            card.find(attrs={"data-review-label-tooltip-trigger-typography": "true"})
        ),
        "star_rating": float(rating_tag.attrs["data-service-review-rating"]),
        "date": _dt.datetime.strptime(when_tag["datetime"], _ISO_MILLIS),
        "title": title_tag.string.strip(),
        "content": content,  # byte-identity gate field (BASELINE.json:15)
        "nreviews": int(count_tag.attrs["data-consumer-reviews-count"]),
        "country": _whole_text(country_tag),
        "date_experience": _dt.datetime.strptime(exp_raw, _MONTH_DAY_YEAR),
    }


def review_records(dom: Tag, limit: int) -> list:
    """First ``limit`` review cards in document order (__init__.py:10-42).

    Scope: the review-list container on May-2025 markup, the whole page on
    Dec-2023 markup; cards are tags bearing ``data-service-review-card-paper``,
    scanned with early exit at ``limit``.
    """
    scope = dom.find(class_=_RX_REVIEW_LIST)
    if not scope:
        scope = dom
    cards = scope.find_all(
        attrs={"data-service-review-card-paper": True}, limit=limit
    )
    return [_review_record(card) for card in cards]


def link_hrefs(dom: Tag) -> list:
    """All anchor hrefs in document order (crawl-expand surface; north rule
    ``BASELINE.json:6`` — no reference equivalent, fetching was removed in
    25.05.0)."""
    out = []
    for a in dom.find_all("a"):
        href = a.attrs.get("href")
        if href:
            out.append(href)
    return out


def extract_page(html, with_reviews: bool = False, nreviews: int = 5) -> dict:
    """End-to-end single-page extraction (reference entry point
    ``extract_info``, __init__.py:45-83). Accepts str or utf-8 bytes."""
    dom = parse(html)
    record = company_record(dom)
    if with_reviews:
        record["reviews"] = review_records(dom, nreviews)
    return record
