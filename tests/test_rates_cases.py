"""Table-driven cases for the exchange-rate parsers and cascade of
``sources.rates``: the XML API and HTML scrape documents the parsers
must read (separators, attribute order, table choice) or decline
(malformed, rate-less, non-numeric), and the first-answer-wins
cascade over every position of the first answering provider."""

from __future__ import annotations

from datetime import date

import pytest

from olap_project_spark.schemas import DEFAULT_VND_PER_USD
from olap_project_spark.sources.rates import (
    cached,
    make_api_provider,
    make_scrape_provider,
    parse_rate_html,
    parse_rate_xml,
    resolve_rate,
)


def _xml(*exrates: str) -> str:
    return "<ExrateList>" + "".join(exrates) + "</ExrateList>"


XML_CASES = [
    ("usd_only", _xml('<Exrate CurrencyCode="USD" Transfer="25,260.50"/>'), 25260.5),
    ("no_separator", _xml('<Exrate CurrencyCode="USD" Transfer="25260.5"/>'), 25260.5),
    ("integer", _xml('<Exrate CurrencyCode="USD" Transfer="25,000"/>'), 25000.0),
    ("usd_after_others", _xml('<Exrate CurrencyCode="EUR" Transfer="27,200.00"/>',
                              '<Exrate CurrencyCode="JPY" Transfer="170.12"/>',
                              '<Exrate CurrencyCode="USD" Transfer="24,990.10"/>'), 24990.1),
    ("first_usd_wins", _xml('<Exrate CurrencyCode="USD" Transfer="25,100.00"/>',
                            '<Exrate CurrencyCode="USD" Transfer="26,000.00"/>'), 25100.0),
    ("nested", "<Root><Batch>" + _xml('<Exrate CurrencyCode="USD" Transfer="25,001.25"/>')
     + "</Batch></Root>", 25001.25),
    ("bytes_with_declaration",
     b'<?xml version="1.0" encoding="utf-8"?>'
     + _xml('<Exrate CurrencyCode="USD" Transfer="25,333.00"/>').encode(), 25333.0),
    ("no_usd", _xml('<Exrate CurrencyCode="EUR" Transfer="27,200.00"/>'), None),
    ("empty_list", _xml(), None),
    ("usd_without_transfer", _xml('<Exrate CurrencyCode="USD" Buy="25,100.00"/>'), None),
    ("usd_empty_transfer", _xml('<Exrate CurrencyCode="USD" Transfer=""/>'), None),
    ("usd_non_numeric", _xml('<Exrate CurrencyCode="USD" Transfer="n/a"/>'), None),
    ("lowercase_code", _xml('<Exrate CurrencyCode="usd" Transfer="25,100.00"/>'), None),
    ("malformed", "<ExrateList><Exrate CurrencyCode=", None),
    ("not_xml", "rate: 25000", None),
]


@pytest.mark.parametrize("payload,want", [c[1:] for c in XML_CASES],
                         ids=[c[0] for c in XML_CASES])
def test_parse_rate_xml(payload, want):
    assert parse_rate_xml(payload) == want


GRID = 'id="ctl00_Content_ExrateView_GridView1"'


def _table(attrs: str, *rows: tuple[str, ...]) -> str:
    body = "".join("<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in rows)
    return f"<table {attrs}>{body}</table>"


HTML_CASES = [
    ("grid_id", _table(GRID, ("USD", "US DOLLAR", "25,100.00", "25,310.25")), 25310.25),
    ("class_fallback", _table('class="table"', ("USD", "US", "1", "25,444.75")), 25444.75),
    ("class_among_others", _table('class="table table-striped"',
                                  ("USD", "US", "1", "25,400.00")), 25400.0),
    ("grid_preferred_over_class",
     _table('class="table"', ("USD", "US", "1", "11,111.00"))
     + _table(GRID, ("USD", "US", "1", "22,222.00")), 22222.0),
    ("usd_after_header_and_eur", _table(
        GRID, ("Code", "Name", "Buy", "Transfer"), ("EUR", "EURO", "1", "27,200.00"),
        ("USD", "US DOLLAR", "1", "25,005.50")), 25005.5),
    ("cell_whitespace_and_markup",
     _table(GRID, (" USD ", "US", "1", " <b>25,050.00</b> ")), 25050.0),
    ("bytes", _table(GRID, ("USD", "US", "1", "25,111.00")).encode(), 25111.0),
    ("unmarked_table_ignored", _table('id="other"', ("USD", "US", "1", "25,000.00")), None),
    ("short_usd_row", _table(GRID, ("USD", "US", "25,000.00")), None),
    ("non_numeric_rate", _table(GRID, ("USD", "US", "1", "call us")), None),
    ("no_usd_row", _table(GRID, ("EUR", "EURO", "1", "27,200.00")), None),
    ("no_table", "<html><body><p>USD 25,000</p></body></html>", None),
]


@pytest.mark.parametrize("payload,want", [c[1:] for c in HTML_CASES],
                         ids=[c[0] for c in HTML_CASES])
def test_parse_rate_html(payload, want):
    assert parse_rate_html(payload) == want


DAY = date(2024, 1, 15)
ANSWERS = [None, 24000.0, 24500.0, 25000.0]


@pytest.mark.parametrize("first", [0, 1, 2, 3, None])
def test_cascade_first_answer_wins(first):
    """Four providers; the one at index ``first`` is the first to
    answer (later ones answer too, and must not be asked)."""
    asked = []

    def provider(i):
        def p(d):
            asked.append(i)
            assert d == DAY
            return None if first is None or i < first else 24000.0 + 500 * i
        return p

    got = resolve_rate(DAY, [provider(i) for i in range(4)])
    if first is None:
        assert got == DEFAULT_VND_PER_USD and asked == [0, 1, 2, 3]
    else:
        assert got == 24000.0 + 500 * first and asked == list(range(first + 1))


@pytest.mark.parametrize("make", [make_api_provider, make_scrape_provider])
def test_transport_decline_and_answer(make):
    docs = {
        date(2024, 1, 1): _xml('<Exrate CurrencyCode="USD" Transfer="25,001.00"/>')
        if make is make_api_provider
        else _table(GRID, ("USD", "US", "1", "25,001.00")),
    }
    provider = cached(make(docs.get))
    assert provider(date(2024, 1, 1)) == 25001.0
    assert provider(date(2024, 1, 2)) is None
    assert resolve_rate(date(2024, 1, 2), [provider]) == DEFAULT_VND_PER_USD
