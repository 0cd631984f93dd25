"""External source connectors — transport-injected, offline-testable.

The reference ships REST clients for ServiceNow / Azure AD and an LDAP
client for Active Directory, plus auth-only stubs for Nessus, Absolute
and Rapid7 (src/Services/Integrations/* — ServiceNowClient.cs:39 calls
itself a "Basic scaffold"). This module implements the full client
logic — pagination, auth headers, pushed-down query/projection, and
dynamic-header materialization — against an injectable ``transport``
callable, so everything except the socket is real and tested offline:

* ``transport(url, headers) -> dict`` performs one GET and returns the
  parsed JSON. The default transport uses stdlib urllib (works when the
  deployment has network+credentials); tests inject canned pages.
* ``ServiceNowConnector`` speaks the public ServiceNow Table API
  (``/api/now/table/<table>`` with ``sysparm_limit``/``sysparm_offset``
  paging, ``sysparm_query``/``sysparm_fields`` pushdown, rows under
  ``result``).
* ``GraphConnector`` speaks the public Microsoft Graph style the Azure
  AD client needs (rows under ``value``, ``@odata.nextLink``
  continuation, ``$select``/``$filter`` pushdown).
* ``LdapConnector`` implements cookie-paged search over an injectable
  ``search(base, filter, attributes, page_size, cookie)`` callable; the
  attribute list is the pushed-down projection (PropertiesToLoad,
  ActiveDirectoryClient.cs:27-31). The default search requires ldap3.

Error semantics deviate from the reference deliberately: the reference
swallows connector errors into empty results; we raise — at pipeline
scale a silently-empty source makes every referential rule fire.

Scale note: ``fetch_rows`` materializes on the driver (these are
dimension-sized feeds — the reference loads them fully in memory too);
``rows_to_df`` hands Spark an explicit all-string schema, after which
the table behaves like any other source in the engine.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import urlencode

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..rules.base import local_rows

Transport = Callable[[str, dict], dict]


def default_transport(url: str, headers: dict) -> dict:
    """One GET via stdlib urllib; returns parsed JSON. Used when the
    deployment actually has network + credentials."""
    import urllib.request

    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req, timeout=30) as resp:  # nosec: caller's URL
        return json.loads(resp.read().decode("utf-8"))


def rows_to_df(spark: SparkSession, rows: list[dict], source: str) -> DataFrame:
    """Dynamic-header materialization: union of keys across rows in
    first-seen order, all strings, missing cells "" (the reference
    grows headers as new JSON/LDAP fields appear,
    ServiceNowClient.cs:56-64, ActiveDirectoryClient.cs:36-46).
    ``_row`` carries the fetch order so first-occurrence-wins dedup
    (conflicts.first_row_per_key) has a deterministic order column."""
    headers: list[str] = []
    seen = set()
    for r in rows:
        for k in r:
            if k not in seen:
                seen.add(k)
                headers.append(k)
    schema = T.StructType(
        [T.StructField(h, T.StringType(), True) for h in headers]
        + [T.StructField("_source", T.StringType(), False),
           T.StructField("_row", T.LongType(), False)]
    )
    data = [
        tuple(str(r.get(h, "")) if r.get(h) is not None else "" for h in headers)
        + (source, i)
        for i, r in enumerate(rows)
    ]
    return local_rows(spark, data, schema)


@dataclass
class ServiceNowConnector:
    """ServiceNow Table API source with offset paging and pushed-down
    query/field projection (the engine-relevant parts of
    ServiceNowClient.cs, completed)."""

    base_url: str
    table: str
    auth_token: str | None = None
    page_size: int = 500
    query: str | None = None        # sysparm_query pushdown
    fields: list[str] | None = None  # sysparm_fields projection pushdown
    transport: Transport | None = None
    max_pages: int = 10_000  # runaway-pagination guard

    def _headers(self) -> dict:
        h = {"Accept": "application/json"}
        if self.auth_token:
            h["Authorization"] = f"Bearer {self.auth_token}"
        return h

    def fetch_rows(self) -> list[dict]:
        get = self.transport or default_transport
        rows: list[dict] = []
        offset = 0
        pages = 0
        # Same guard shape as GraphConnector: only raise when MORE
        # pages remain past the limit (a short page on the last allowed
        # iteration is a completed fetch).
        while True:
            if pages >= self.max_pages:
                raise RuntimeError(
                    f"ServiceNow pagination exceeded {self.max_pages} pages — "
                    "refusing to loop forever"
                )
            params = {"sysparm_limit": self.page_size, "sysparm_offset": offset}
            if self.query:
                params["sysparm_query"] = self.query
            if self.fields:
                params["sysparm_fields"] = ",".join(self.fields)
            url = f"{self.base_url.rstrip('/')}/api/now/table/{self.table}?{urlencode(params)}"
            page = get(url, self._headers()).get("result", [])
            rows.extend(page)
            if len(page) < self.page_size:
                return rows
            offset += self.page_size
            pages += 1

    def to_df(self, spark: SparkSession, source: str) -> DataFrame:
        return rows_to_df(spark, self.fetch_rows(), source)


@dataclass
class GraphConnector:
    """Microsoft-Graph-style source (the Azure AD client): rows under
    ``value``, continuation via ``@odata.nextLink``, ``$select``
    projection and ``$filter`` pushdown."""

    base_url: str  # e.g. https://graph.microsoft.com/v1.0/devices
    auth_token: str | None = None
    select: list[str] | None = None
    filter: str | None = None
    page_size: int = 500
    transport: Transport | None = None
    max_pages: int = 10_000

    def _headers(self) -> dict:
        h = {"Accept": "application/json"}
        if self.auth_token:
            h["Authorization"] = f"Bearer {self.auth_token}"
        return h

    def fetch_rows(self) -> list[dict]:
        get = self.transport or default_transport
        params = {"$top": self.page_size}
        if self.select:
            params["$select"] = ",".join(self.select)
        if self.filter:
            params["$filter"] = self.filter
        url: str | None = f"{self.base_url}?{urlencode(params)}"
        rows: list[dict] = []
        pages = 0
        # Guard fires only when a nextLink actually REMAINS after
        # max_pages — a fetch whose final page lands exactly on the
        # limit completed successfully and must return its rows.
        while url is not None:
            if pages >= self.max_pages:
                raise RuntimeError(
                    f"Graph pagination exceeded {self.max_pages} pages — "
                    "refusing to loop forever"
                )
            body = get(url, self._headers())
            rows.extend(body.get("value", []))
            url = body.get("@odata.nextLink")
            pages += 1
        return rows

    def to_df(self, spark: SparkSession, source: str) -> DataFrame:
        return rows_to_df(spark, self.fetch_rows(), source)


# search(base, filter, attributes, page_size, cookie)
#   -> (entries: list[dict], next_cookie: bytes | None)
LdapSearch = Callable[[str, str, list[str], int, bytes | None],
                      tuple[list[dict], bytes | None]]


def default_ldap_search(server: str) -> LdapSearch:
    """Paged-search callable backed by ldap3 (RFC 2696 paged results).
    Raises NotImplementedError in containers without ldap3."""
    try:
        import ldap3
    except ImportError as e:
        raise NotImplementedError(
            "ldap3 not available in this container; inject search= or "
            "install ldap3"
        ) from e

    conn = ldap3.Connection(ldap3.Server(server), auto_bind=True)

    def search(base, flt, attributes, page_size, cookie):
        conn.search(base, flt, attributes=attributes,
                    paged_size=page_size, paged_cookie=cookie)
        entries = [dict(e["attributes"]) for e in conn.response
                   if e.get("type") == "searchResEntry"]
        ctrl = conn.result["controls"]["1.2.840.113556.1.4.319"]["value"]
        return entries, (ctrl["cookie"] or None)

    return search


@dataclass
class LdapConnector:
    """Active-Directory-style LDAP source with server-side attribute
    projection (column pruning at the source) and RFC 2696 cookie
    paging, over an injectable search callable."""

    server: str
    search_base: str
    ldap_filter: str = "(objectClass=computer)"
    attributes: list[str] = field(default_factory=lambda: ["name", "operatingSystem"])
    page_size: int = 500
    search: LdapSearch | None = None
    max_pages: int = 10_000

    def fetch_rows(self) -> list[dict]:
        search = self.search or default_ldap_search(self.server)
        rows: list[dict] = []
        cookie: bytes | None = None
        for _ in range(self.max_pages):
            entries, cookie = search(
                self.search_base, self.ldap_filter, self.attributes,
                self.page_size, cookie,
            )
            # server-side projection can still return extra operational
            # attributes; enforce the declared projection client-side so
            # downstream schemas are stable
            rows.extend({k: e.get(k) for k in self.attributes} for e in entries)
            if cookie is None:
                return rows
        raise RuntimeError(
            f"LDAP pagination exceeded {self.max_pages} pages — "
            "refusing to loop forever"
        )

    def to_df(self, spark: SparkSession, source: str) -> DataFrame:
        return rows_to_df(spark, self.fetch_rows(), source)


def replay_transport(path: str) -> Transport:
    """Offline transport replaying recorded response bodies in sequence
    from a JSON file (a list of page dicts). This is the deployment
    seam for (a) testing the full connector -> validation path with no
    network and (b) re-validating against captured API dumps — the
    reference's MainForm pulls live, our CLI can pull live OR replay.
    Raises if the connector requests more pages than were recorded
    (a recording/config mismatch, not a silent empty page)."""
    import json as _json

    with open(path) as f:
        pages = _json.load(f)
    if not isinstance(pages, list):
        raise ValueError(f"{path}: expected a JSON list of response bodies")
    state = {"i": 0}

    def transport(url: str, headers: dict) -> dict:
        i = state["i"]
        if i >= len(pages):
            raise RuntimeError(
                f"replay exhausted: connector requested page {i + 1} but "
                f"{path} recorded only {len(pages)}"
            )
        state["i"] = i + 1
        return pages[i]

    return transport
