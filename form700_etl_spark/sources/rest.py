"""Paginated REST source — configuration, transport and per-page retry.

Reference behavior (SURVEY §2.1, /root/reference/Form700.py):
- S1 ``grabCookies`` (:107-113): authenticate once, reuse cookies.
- S2 ``makeRequest`` (:115-127): POST {AgencyPrefix, CurrentPageIndex,
  PageSize=1000, IsRedacted}, parse the JSON body.
- S3 ``getJsonData`` (:129-144): serial page loop; the page count is
  re-read from every response's ``totalMatchingPages``; pages are
  list-concatenated (a UNION ALL across pages).
- S4/S5: pluck ``'filings'`` / per-schedule keys, flatten.

The scan itself is the Python DataSource in ``rest_datasource.py``
(``read_rest`` for batch, ``readStream.format("paginated_rest")`` for
streaming): the driver probes page 1 for the page count, then the pages
are fetched in parallel on executors, each through ``io.retry``.

The HTTP transport is injectable (``fetch_page``) so tests run against
an in-process fake; the real transport uses ``requests`` behind an
import-try (not baked into the test image).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

FetchPage = Callable[["RestSourceConfig", int], dict]
"""(config, 1-based page index) -> decoded JSON page body."""


@dataclass(frozen=True)
class RestSourceConfig:
    url: str
    agency_prefix: str = ""
    page_size: int = 1000  # reference default, Form700.py:95
    is_redacted: bool = False
    auth_url: str | None = None
    username: str | None = None
    password: str | None = None
    extra: dict = field(default_factory=dict)
    max_parallel_pages: int = 16
    # per-page retry (reference K5-style policy on the source side)
    tries: int = 5
    retry_delay_s: float = 0.2
    retry_backoff: float = 2.0


def requests_fetch_page(config: RestSourceConfig, page: int) -> dict:
    """Real transport (S1+S2): cookie auth once per task, then POST the
    page request.  Import-gated: the bench/test image has no network."""
    try:
        import requests
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError("the 'requests' package is required for live REST extraction") from exc
    session = requests.Session()
    if config.auth_url:
        session.post(config.auth_url, data={"username": config.username, "password": config.password})
    resp = session.post(
        config.url,
        json={
            "AgencyPrefix": config.agency_prefix,
            "CurrentPageIndex": page,
            "PageSize": config.page_size,
            "IsRedacted": config.is_redacted,
            **config.extra,
        },
    )
    resp.raise_for_status()
    return resp.json()
