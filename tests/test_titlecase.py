"""Parity tests for the titlecase port (FIXTURES.md §6.1; reference
main.py:90-91,145-168)."""

import pytest

from rlis2osm_spark.functions.titlecase_port import rlis_titlecase


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("NORTHWEST EVERETT STREET", "Northwest Everett Street"),
        ("45TH AVENUE", "45th Avenue"),  # digit-led word returned unchanged
        ("99W HIGHWAY", "99w Highway"),  # .upper() discarded -> stays lower
        (None, ""),  # null name -> '' (main.py:90)
        ("", ""),
        ("AVENUE OF THE STATES", "Avenue of the States"),
        ("MARTIN LUTHER KING JUNIOR BOULEVARD",
         "Martin Luther King Junior Boulevard"),
        # edited small-word list: 'with' lowercased, 'v' capitalized
        ("HIGHWAY WITH A VIEW", "Highway with a View"),
        ("JOHN V SMITH", "John V Smith"),
        # hyphenated compound from dash-delimited names (no spaces)
        ("GARDENIA STREET-EAST STREET CONNECTOR",
         "Gardenia Street-East Street Connector"),
        ("GOING/GREELEY COURT", "Going/Greeley Court"),
        # small word first/last gets capitalized
        ("THE RAMP", "The Ramp"),
        ("MCDONALD STREET", "McDonald Street"),
    ],
)
def test_rlis_titlecase(raw, expected):
    # pipeline always lowercases before titlecase (main.py:90)
    assert rlis_titlecase(raw) == expected


def test_word_memo_evicts_oldest_words(monkeypatch):
    """A full word memo evicts its oldest entries (insertion order) to make
    room for a line's new words, never the whole memo at once; the words
    cached most recently survive, and evicted words recompute to the same
    titlecase."""
    from rlis2osm_spark.functions import titlecase_port as tp

    monkeypatch.setattr(tp, "_WORD_MEMO", {})
    monkeypatch.setattr(tp, "_WORD_MEMO_CAP", 4)
    memo = tp._WORD_MEMO

    def cached():
        return [k[0] for k in memo]

    assert rlis_titlecase("NORTHWEST EVERETT STREET") == \
        "Northwest Everett Street"
    assert rlis_titlecase("45TH AVENUE") == "45th Avenue"
    assert cached() == ["everett", "street", "45th", "avenue"]
    # 'avenue' is a hit; only 'oak' is new, so only the oldest entry goes
    assert rlis_titlecase("OAK AVENUE") == "Oak Avenue"
    assert cached() == ["street", "45th", "avenue", "oak"]
    assert memo[("avenue", False, True)] == "Avenue"
    assert memo[("oak", False, True)] == "Oak"
    # evicted words recompute correctly and re-enter as the newest
    assert rlis_titlecase("NORTHWEST EVERETT STREET") == \
        "Northwest Everett Street"
    assert cached() == ["avenue", "oak", "northwest", "everett"]
    assert rlis_titlecase("OAK AVENUE") == "Oak Avenue"
    assert cached() == ["avenue", "oak", "northwest", "everett"]
