"""Deterministic in-process fake of a paginated filings API.

Serves tests, demos and offline benchmarking of the REST source — the
page shape mirrors the reference API (``totalMatchingPages`` +
``filings`` list; see /root/reference/Form700.py:129-151 semantics).
Lives in the package (not in tests/) so executor workers can import
it by name as the REST reader's ``transport``.
"""

from __future__ import annotations

from .rest import RestSourceConfig

N_PAGES = 5
PAGE_SIZE = 7

FILING_SCHEMA = (
    "filingId long, filerName string, amount string, "
    "offices array<struct<office:string, position:string>>"
)


def flaky_fetch_page(config: RestSourceConfig, page: int) -> dict:
    """Fails the FIRST attempt for every page (marker files under
    ``config.extra['fail_dir']`` track attempts across executor
    processes), then succeeds — exercises the per-page retry path."""
    import os

    fail_dir = config.extra["fail_dir"]
    marker = os.path.join(fail_dir, f"attempted-{page}")
    try:
        with open(marker, "x"):
            pass
        raise IOError(f"injected transient failure for page {page}")
    except FileExistsError:
        return fake_fetch_page(config, page)


def growing_fetch_page(config: RestSourceConfig, page: int) -> dict:
    """A feed that grows while being tailed: every page-1 probe reveals
    one more page (up to ``N_PAGES``).  The counter lives in the
    directory named by the path part of ``config.url``
    (``fake-growing:///tmp/...``), so driver probes and executor reads
    share it.  Exercises the streaming source's admission cap on feed
    growth."""
    import os

    counter_dir = config.url.split("://", 1)[1]
    if page == 1:
        # each probe of the head reveals one more page
        n = len(os.listdir(counter_dir)) + 1
        if n <= N_PAGES:
            with open(os.path.join(counter_dir, f"probe-{n}"), "w"):
                pass
    total = min(N_PAGES, max(1, len(os.listdir(counter_dir))))
    body = fake_fetch_page(config, page)
    body["totalMatchingPages"] = total
    return body


def fake_fetch_page(config: RestSourceConfig, page: int) -> dict:
    assert 1 <= page <= N_PAGES, f"page {page} out of range"
    base = (page - 1) * PAGE_SIZE
    return {
        "totalMatchingPages": N_PAGES,
        "filings": [
            {
                "filingId": base + i,
                "filerName": f"filer-{(base + i) % 3}",
                "amount": f"{base + i}k" if i % 2 else str(base + i),
                "offices": [{"office": f"o{i}", "position": "p"}],
            }
            for i in range(PAGE_SIZE)
        ],
    }
