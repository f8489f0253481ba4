"""Golden-output gate, Spark path.

The fakepilot assertions (/root/reference/tests/test_xray.py:90-169)
re-pointed at the Spark outputs: fixture zip → pages DataFrame → vectorized
extraction UDF → collect → per-field equality vs valid_data.json. This is the
`python -m pytest -x -q` correctness gate named in BASELINE.json:6,15.
"""

from __future__ import annotations

import pytest

from .conftest import load_goldens

GOLDENS = load_goldens()


@pytest.fixture(scope="module")
def spark_extracted(spark):
    from fakepilot_spark.extract.udfs import make_page_extractor
    from fakepilot_spark.sources import fixture_pages_df, fixture_url

    url_to_name = {fixture_url(n): n for n in GOLDENS}
    pages = fixture_pages_df(spark)
    extract = make_page_extractor(nreviews=100, with_reviews=True, strict=True)
    out = pages.select("url", extract("html").alias("x")).collect()

    results = {}
    for row in out:
        name = url_to_name[row["url"]]
        payload = row["x"].asDict(recursive=True)
        company = payload["company"]
        record = {
            "name": company["name"],
            "url": company["company_url"],
            "nreviews": company["nreviews"],
            "score": company["score"],
            "categories": company["categories"],
            "email": company["email"],
            "phone": company["phone"],
            "address": company["address"],
            "is_claimed": company["is_claimed"],
            "rating_distribution": company["rating_distribution"],
            "reviews": payload["reviews"],
        }
        results[name] = record
    return results


def test_all_fixtures_extracted(spark_extracted):
    assert set(spark_extracted) == set(GOLDENS)


@pytest.mark.parametrize("name", sorted(GOLDENS))
def test_company_fields(spark_extracted, name):
    got, want = spark_extracted[name], GOLDENS[name]
    assert got["name"] == want["name"]
    assert [got["nreviews"], got["score"]] == want["rating_stats"]
    assert got["categories"] == want["categories"]
    assert got["address"] == want["address"]
    assert got["phone"] == want["phone"]
    assert got["email"] == want["email"]
    if "is_claimed" in want:
        assert got["is_claimed"] == want["is_claimed"]
    if "rating_distribution" in want:
        assert got["rating_distribution"] == want["rating_distribution"]


@pytest.mark.parametrize("name", sorted(GOLDENS))
def test_review_pagination_count(spark_extracted, name):
    assert len(spark_extracted[name]["reviews"]) == GOLDENS[name]["nreviews"]


@pytest.mark.parametrize("name", sorted(GOLDENS))
def test_golden_reviews_byte_identical(spark_extracted, name):
    """Each golden review dict must appear exactly in the Spark output —
    including the byte-identity `content` field and parsed timestamps."""
    for review in GOLDENS[name].get("reviews", ()):
        assert review in spark_extracted[name]["reviews"]


def test_strict_batch_raise_leaves_gc_enabled():
    """The batch loop turns generational GC off; a strict-mode raise out of
    it must still turn GC back on for the rest of the worker's life."""
    import gc

    import pandas as pd

    from fakepilot_spark.extract.udfs import _extract_batch

    assert gc.isenabled()
    with pytest.raises(AttributeError):
        _extract_batch(pd.Series([b"<html><body>x</body></html>"]), 3, True, True, True)
    assert gc.isenabled()
