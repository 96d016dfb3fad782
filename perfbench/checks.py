"""Answer checkers: compare what the program returned with the ground
truth the inputs were generated from.  Pure functions of plain values, so
the self-tests can feed them corrupted answers."""

from __future__ import annotations

from inputs import CrawlBatch, Request


def crawl_failures(batch: CrawlBatch, extracted: dict[str, list[str]],
                   answers: dict[str, tuple]) -> int:
    """Pages whose extraction or forward answer is wrong.

    ``extracted``: url -> mention texts extract_pages returned for it.
    ``answers``: url -> (osm_type, osm_id) geocode returned for it.
    A page without a mention must yield no mention and no answer."""
    failed = 0
    for url, place in batch.truth.items():
        got = extracted.get(url, [])
        if place is None:
            ok = not got and url not in answers
        else:
            ok = got == [place.text] and answers.get(url) == place.ref
        failed += not ok
    return failed


def request_ok(req: Request, rows: list[tuple]) -> bool:
    """``rows``: the (osm_type, osm_id) of every row the request returned.
    search must return exactly the expected place; lookup exactly the
    requested set."""
    if req.kind == "lookup":
        return len(rows) == len(req.expect) and set(rows) == req.expect
    return rows == [req.expect]
