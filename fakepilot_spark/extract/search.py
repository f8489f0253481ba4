"""Company search-result card extraction.

The north star (BASELINE.json:6) names "company search-result cards" among
the parsers, but the reference snapshot contains no search code — fetching
and search were removed in 25.05.0 (docs/changelog.rst:39-40), and no search
fixtures exist. Per SURVEY.md §2.3 this surface is therefore self-defined:
markers follow the same ``data-*`` attribute style as the company pages, and
correctness is gated by self-generated goldens + the DuckDB value oracle over
the synthetic search corpus (ops/extraction.py) rather than reference
fixtures.

Card schema: name, company_url, score, nreviews, location, category.
"""

from __future__ import annotations

import re

from ..htmlmini import Tag, parse

__all__ = ["search_card_records", "SEARCH_CARD_FIELDS"]

SEARCH_CARD_FIELDS = ("name", "company_url", "score", "nreviews", "location", "category")

_RX_RESULT_LIST = re.compile("styles_searchResultsList")
_RX_THOUSANDS = re.compile("[.,\xa0]")


def _card_record(card: Tag) -> dict:
    name_tag = card.find(attrs={"data-search-result-name-typography": "true"})
    link = card.find(attrs={"data-search-result-link": True})
    score_tag = card.find(attrs={"data-search-result-score-typography": "true"})
    count_tag = card.find(attrs={"data-search-result-reviews-count": True})
    loc_tag = card.find(attrs={"data-search-result-location-typography": "true"})
    cat_tag = card.find(attrs={"data-search-result-category-typography": "true"})
    return {
        "name": next(name_tag.strings) if name_tag else None,
        "company_url": link.get("href") if link else None,
        "score": (
            float(score_tag.string.replace(",", ".")) if score_tag and score_tag.string else None
        ),
        "nreviews": (
            int(_RX_THOUSANDS.sub("", count_tag.attrs["data-search-result-reviews-count"]))
            if count_tag
            else None
        ),
        "location": loc_tag.string if loc_tag else None,
        "category": cat_tag.string if cat_tag else None,
    }


def search_card_records(html, limit: int | None = None) -> list:
    """All search-result cards in document order, scoped to the result list
    container (whole page fallback, mirroring the review-list pattern at
    /root/reference/src/fakepilot/__init__.py:32-36)."""
    dom = html if isinstance(html, Tag) else parse(html)
    scope = dom.find(class_=_RX_RESULT_LIST) or dom
    cards = scope.find_all(attrs={"data-search-result-card": True}, limit=limit)
    return [_card_record(c) for c in cards]
