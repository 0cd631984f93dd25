"""Sources & config: CSV semantics, config upgrade, template profile,
report sink, connector scaffolds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from assetdatavalidationtool_spark.sources import (
    InputRequirement,
    load_asset_classes,
    read_asset_table,
    read_headers,
    template_profile_from_rows,
    write_report_tables,
)
from assetdatavalidationtool_spark.sources.config import asset_class_from_filename
from assetdatavalidationtool_spark.sources.connectors import LdapConnector, rows_to_df

CSV = """Hostname,IP Address,MAC Address,Serial Number,,
host-a,10.0.0.1,AA:BB:CC:00:11:22,SN-1
host-b,10.0.0.2
host-c,10.0.0.3,AA:BB:CC:00:11:33,SN-3,extra
"""


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "assets.csv"
    p.write_text(CSV)
    return str(p)


def test_read_headers_trims_trailing_blanks(spark, csv_path):
    assert read_headers(spark, csv_path) == [
        "Hostname", "IP Address", "MAC Address", "Serial Number",
    ]


def test_ragged_rows_padded(spark, csv_path):
    df = read_asset_table(spark, csv_path)
    rows = {r["Hostname"]: r for r in df.collect()}
    # host-b is missing MAC + Serial → padded with ""
    assert rows["host-b"]["MAC Address"] == "" and rows["host-b"]["Serial Number"] == ""
    assert rows["host-a"]["Serial Number"] == "SN-1"
    # order column present and increasing with file position
    assert rows["host-a"]["_ord"] < rows["host-b"]["_ord"] < rows["host-c"]["_ord"]


def test_asset_class_config_legacy_upgrade():
    new_shape = '{"Workstations": [{"label": "Baseline", "patterns": ["*base*"]}]}'
    legacy = '{"Servers": ["CMDB", "Scanner"]}'
    a = load_asset_classes(new_shape)
    assert a["Workstations"][0] == InputRequirement("Baseline", "", ["*base*"])
    b = load_asset_classes(legacy)
    assert [r.label for r in b["Servers"]] == ["CMDB", "Scanner"]


def test_template_profile_rules():
    col = ["CMDB", "", "Scanner", "cmdb",
           None, "", "", "", "", "", "", "", "", "",  # 10 consecutive blanks
           "AfterLimit"]
    # 10 consecutive blanks stop collection; case-insensitive dedupe
    assert template_profile_from_rows(col) == ["CMDB", "Scanner"]
    assert asset_class_from_filename("Data Validation - Laptops.xlsx") == "Laptops"
    assert asset_class_from_filename("notes.xlsx") is None


def test_report_sink_counts(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("report"))
    t1 = spark.range(5).select(F.col("id").alias("key"))
    t2 = spark.range(3).select(F.col("id").alias("key"))
    counts = write_report_tables(spark, out, {"KeyPresence": t1, "Conflicts": t2})
    assert counts == {"KeyPresence": 5, "Conflicts": 3}
    summary = {r["table"]: r["row_count"] for r in spark.read.parquet(f"{out}/Summary").collect()}
    assert summary == counts
    assert spark.read.parquet(f"{out}/_preview/KeyPresence").count() == 5

    # a tied first column: the preview is the first rows of the written
    # table in all-column order, not whichever tied rows a task gave first
    tied = spark.range(0, 40, 1, 4).select(
        (F.col("id") % 2).alias("source"), (F.col("id") * 7 % 40).alias("key")
    )
    write_report_tables(spark, out, {"MissingByFile": tied}, preview_limit=6)
    written = sorted(tuple(r) for r in spark.read.parquet(f"{out}/MissingByFile").collect())
    preview = [tuple(r) for r in spark.read.parquet(f"{out}/_preview/MissingByFile").collect()]
    assert sorted(preview) == written[:6]


def test_connector_scaffolds(spark):
    df = rows_to_df(
        spark,
        [{"name": "h1", "os": "linux"}, {"name": "h2", "ip": "10.0.0.2"}],
        "cmdb",
    )
    # dynamic header growth + "" padding + source label + fetch order
    assert set(df.columns) == {"name", "os", "ip", "_source", "_row"}
    rows = {r["name"]: r for r in df.collect()}
    assert rows["h1"]["ip"] == "" and rows["h2"]["os"] == ""
    with pytest.raises(NotImplementedError):
        LdapConnector("ldap://x", "dc=corp").fetch_rows()


def test_servicenow_connector_pagination_and_pushdown(spark):
    """Full ServiceNow Table API client against a fake transport:
    offset paging terminates on a short page, query/fields are pushed
    down in the URL, auth header carried, dynamic headers grow."""
    from urllib.parse import parse_qs, urlparse

    from assetdatavalidationtool_spark.sources.connectors import ServiceNowConnector

    calls = []

    def fake(url, headers):
        calls.append((url, headers))
        q = parse_qs(urlparse(url).query)
        off = int(q["sysparm_offset"][0])
        assert q["sysparm_query"] == ["active=true"]
        assert q["sysparm_fields"] == ["name,ip"]
        assert headers["Authorization"] == "Bearer tok"
        if off == 0:
            return {"result": [{"name": f"h{i}"} for i in range(3)]}
        return {"result": [{"name": "h3", "ip": "10.0.0.4"}]}  # short -> stop

    c = ServiceNowConnector(
        "https://x.example/", "cmdb_ci", auth_token="tok", page_size=3,
        query="active=true", fields=["name", "ip"], transport=fake,
    )
    df = c.to_df(spark, "snow")
    assert len(calls) == 2
    assert "/api/now/table/cmdb_ci?" in calls[0][0]
    assert df.count() == 4 and set(df.columns) == {"name", "ip", "_source", "_row"}


def test_graph_connector_follows_next_link(spark):
    """Graph-style client: rows under value, continuation via
    @odata.nextLink, $select/$filter pushdown."""
    from urllib.parse import parse_qs, urlparse

    from assetdatavalidationtool_spark.sources.connectors import GraphConnector

    def fake(url, headers):
        if "skiptoken" in url:
            return {"value": [{"id": "d2", "displayName": "pc2"}]}
        q = parse_qs(urlparse(url).query)
        assert q["$select"] == ["id,displayName"]
        assert q["$filter"] == ["startswith(displayName,'pc')"]
        return {
            "value": [{"id": "d1", "displayName": "pc1"}],
            "@odata.nextLink": "https://g.example/devices?$skiptoken=abc",
        }

    c = GraphConnector(
        "https://g.example/devices", auth_token="tok",
        select=["id", "displayName"], filter="startswith(displayName,'pc')",
        transport=fake,
    )
    rows = c.fetch_rows()
    assert [r["id"] for r in rows] == ["d1", "d2"]


def test_ldap_connector_cookie_paging_and_projection():
    """LDAP client: RFC2696 cookie paging terminates when the cookie is
    None; the declared attribute projection is enforced client-side."""
    pages = [
        ([{"name": "a", "operatingSystem": "linux", "extraOp": "x"}], b"more"),
        ([{"name": "b", "operatingSystem": "win"}], None),
    ]
    seen_cookies = []

    def fake_search(base, flt, attributes, page_size, cookie):
        assert base == "dc=corp" and flt == "(objectClass=computer)"
        assert attributes == ["name", "operatingSystem"]
        seen_cookies.append(cookie)
        return pages[len(seen_cookies) - 1]

    c = LdapConnector("ldap://x", "dc=corp", search=fake_search)
    rows = c.fetch_rows()
    assert seen_cookies == [None, b"more"]
    assert rows == [
        {"name": "a", "operatingSystem": "linux"},
        {"name": "b", "operatingSystem": "win"},
    ]


def test_rest_connector_runaway_pagination_guard():
    from assetdatavalidationtool_spark.sources.connectors import ServiceNowConnector

    def endless(url, headers):
        return {"result": [{"name": "x"}] * 2}

    c = ServiceNowConnector("https://x", "t", page_size=2, transport=endless,
                            max_pages=5)
    with pytest.raises(RuntimeError, match="pagination exceeded"):
        c.fetch_rows()


def _make_xlsx(path, header_cells, data_rows, shared=None,
               rel_target="worksheets/sheet1.xml"):
    """Minimal hand-built xlsx: enough of the OOXML zip for the reader.
    header_cells / data_rows: list of (cell_ref_or_None, t, text)."""
    import zipfile

    shared = shared or []

    def cell_xml(ref, t, text):
        r = f' r="{ref}"' if ref else ""
        if t == "s":
            return f'<c{r} t="s"><v>{text}</v></c>'
        if t == "inlineStr":
            return f'<c{r} t="inlineStr"><is><t>{text}</t></is></c>'
        return f"<c{r}><v>{text}</v></c>"

    def row_xml(i, cells):
        return f'<row r="{i}">' + "".join(cell_xml(*c) for c in cells) + "</row>"

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    sheet_rows = [row_xml(1, header_cells)] + [
        row_xml(i + 2, r) for i, r in enumerate(data_rows)
    ]
    sheet = f"<worksheet {ns}><sheetData>{''.join(sheet_rows)}</sheetData></worksheet>"
    wb = (
        f"<workbook {ns} {rns}><sheets>"
        '<sheet name="First" sheetId="1" r:id="rId1"/>'
        '<sheet name="Second" sheetId="2" r:id="rId2"/>'
        "</sheets></workbook>"
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        f'<Relationship Id="rId1" Type="x" Target="{rel_target}"/>'
        '<Relationship Id="rId2" Type="x" Target="worksheets/sheet2.xml"/>'
        "</Relationships>"
    )
    sst = (
        f'<sst {ns} count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr(
            "xl/worksheets/sheet2.xml",
            f"<worksheet {ns}><sheetData>{row_xml(1, [(None, 'inlineStr', 'WRONG')])}</sheetData></worksheet>",
        )
        if shared:
            zf.writestr("xl/sharedStrings.xml", sst)


def test_xlsx_reader_reference_parity(spark, tmp_path):
    """Pins ExcelReader.cs quirks: first sheet only, shared strings,
    sparse data rows honoring cell refs, header row compacting LEFT
    (refs ignored for headers), trailing blank headers trimmed, missing
    cells back-filled ''."""
    from assetdatavalidationtool_spark.sources.xlsx import (
        read_first_sheet,
        read_headers,
        read_xlsx,
    )

    p = str(tmp_path / "t.xlsx")
    _make_xlsx(
        p,
        # header: shared string, inline, a SPARSE ref (D1) — appended in
        # element order (quirk) — then a trailing blank (trimmed)
        [("A1", "s", 0), ("B1", "inlineStr", " name "), ("D1", "s", 1), ("E1", "inlineStr", " ")],
        [
            # full row
            [("A2", "s", 2), ("B2", "inlineStr", "alpha"), ("C2", "n", 42)],
            # sparse row: C skipped entirely -> backfilled ''
            [("A3", "n", 7), ("C3", "inlineStr", "gamma")],
            # no refs at all -> running index
            [(None, "inlineStr", "x"), (None, "inlineStr", "y")],
        ],
        shared=["id", "grade", "k9"],
    )
    assert read_headers(p) == ["id", "name", "grade"]
    headers, rows = read_first_sheet(p)
    assert headers == ["id", "name", "grade"]
    assert rows[0] == {"id": "k9", "name": "alpha", "grade": "42"}
    assert rows[1] == {"id": "7", "name": "", "grade": "gamma"}
    assert rows[2] == {"id": "x", "name": "y", "grade": ""}

    df = read_xlsx(spark, p)
    assert df.columns == ["id", "name", "grade"]
    assert df.count() == 3
    got = {r["id"]: r for r in df.collect()}
    assert got["7"]["grade"] == "gamma" and got["7"]["name"] == ""

    # unreadable file -> empty results, no raise (ExcelReader catch-all)
    bad = str(tmp_path / "bad.xlsx")
    open(bad, "wb").write(b"not a zip")
    assert read_headers(bad) == []
    assert read_first_sheet(bad) == ([], [])
    assert read_xlsx(spark, bad).count() == 0

    # OPC part-reference forms GetPartById accepts: package-absolute
    # targets and relative targets with '../' segments must resolve to
    # the same zip member (a valid workbook must not read as empty)
    hdr = [("A1", "inlineStr", "id")]
    data = [[("A2", "inlineStr", "v1")]]
    p_abs = str(tmp_path / "abs.xlsx")
    _make_xlsx(p_abs, hdr, data, rel_target="/xl/worksheets/sheet1.xml")
    assert read_headers(p_abs) == ["id"]
    assert read_first_sheet(p_abs)[1] == [{"id": "v1"}]
    p_dots = str(tmp_path / "dots.xlsx")
    _make_xlsx(p_dots, hdr, data, rel_target="../xl/worksheets/sheet1.xml")
    assert read_headers(p_dots) == ["id"]
    assert read_first_sheet(p_dots)[1] == [{"id": "v1"}]


def test_sanitizers_and_packaging(tmp_path):
    """F12/F14/S10 parity: XML-char filtering, sheet-name rules with
    case-insensitive (2)-suffix dedupe, and the run zip layout."""
    import zipfile

    from assetdatavalidationtool_spark.sources.package import (
        dedupe_sheet_names,
        package_run,
        sanitize_for_xml,
        sanitize_sheet_name,
    )

    # F12: control chars dropped, tab/newline/CR kept, BMP text kept
    assert sanitize_for_xml("a\x00b\x08c\td\ne\rf") == "abc\td\ne\rf"
    assert sanitize_for_xml(None) == ""
    assert sanitize_for_xml("héllo 漢字") == "héllo 漢字"

    # F14: invalid chars DROPPED (not replaced), 31-char cap, fallback
    assert sanitize_sheet_name("a:b\\c/d?e*f[g]h") == "abcdefgh"
    assert sanitize_sheet_name("x" * 40) == "x" * 31
    assert sanitize_sheet_name("  ") == "Sheet"
    assert sanitize_sheet_name("[:]") == "Sheet"
    names = dedupe_sheet_names(["Deltas", "deltas", "DELTAS", "Deltas (2)"])
    assert names == ["Deltas", "deltas (2)", "DELTAS (3)", "Deltas (2) (2)"]

    # S10: zip layout — report at root, deduped sources under sources/,
    # audit log at root; spaces -> underscores in the name
    rep = tmp_path / "report"; rep.mkdir()
    (rep / "summary.parquet").write_bytes(b"p1")
    src1 = tmp_path / "inv.csv"; src1.write_text("a,b")
    audit = tmp_path / "audit.log"; audit.write_text("ok")
    z = package_run(
        "Network Devices", str(rep), [str(src1), str(src1).upper()],
        str(audit), str(tmp_path / "out"), date="20260816", username="svc",
    )
    assert z.endswith("Network_Devices-20260816-svc.zip")
    with zipfile.ZipFile(z) as zf:
        entries = sorted(zf.namelist())
    assert entries == ["audit.log", "report/summary.parquet", "sources/inv.csv"]


def test_http_push_client_parity(tmp_path):
    """HttpApiClient parity (HttpApiClient.cs:18-75): auth matrix,
    multipart body shape, disabled/blank-endpoint -> False with no I/O,
    status gating, 5 s timeout floor."""
    from assetdatavalidationtool_spark.sources.push import (
        ApiSettings,
        HttpPushClient,
    )

    f = tmp_path / "report.zip"
    f.write_bytes(b"ZIPDATA")
    calls = []

    def fake_post(url, headers, body, timeout):
        calls.append((url, headers, body, timeout))
        return 201

    s = ApiSettings(
        base_url="https://api.example", enabled=True, auth_type="bearer",
        api_key="tok", source_endpoint="/v1/sources",
        report_endpoint="https://other.example/v1/reports",
        timeout_seconds=1.0,  # below the floor
    )
    c = HttpPushClient(s, post=fake_post)
    assert c.upload_source("cmdb", str(f)) is True
    url, headers, body, timeout = calls[-1]
    assert url == "https://api.example/v1/sources"       # base joined
    assert headers["Authorization"] == "Bearer tok"
    assert timeout == 5.0                                # floor applied
    assert b'name="label"\r\n\r\ncmdb' in body
    assert b'filename="report.zip"' in body and b"ZIPDATA" in body
    assert headers["Content-Type"].startswith("multipart/form-data; boundary=")

    assert c.upload_report(str(f)) is True
    assert calls[-1][0] == "https://other.example/v1/reports"  # absolute kept

    # auth matrix
    for auth, expect in [
        ("api_key", ("X-API-Key", "tok")),
        ("basic", ("Authorization", "Basic ")),
        ("none", None),
    ]:
        s2 = ApiSettings(enabled=True, auth_type=auth, api_key="tok",
                         username="u", password="p",
                         report_endpoint="https://x/r")
        HttpPushClient(s2, post=fake_post).upload_report(str(f))
        h = calls[-1][1]
        if expect is None:
            assert "Authorization" not in h and "X-API-Key" not in h
        else:
            assert h[expect[0]].startswith(expect[1])

    # disabled or blank endpoint: False, no transport call
    n = len(calls)
    assert HttpPushClient(
        ApiSettings(enabled=False, report_endpoint="https://x/r"), post=fake_post
    ).upload_report(str(f)) is False
    assert HttpPushClient(
        ApiSettings(enabled=True, report_endpoint=""), post=fake_post
    ).upload_report(str(f)) is False
    assert len(calls) == n

    # non-2xx -> False
    assert HttpPushClient(
        ApiSettings(enabled=True, report_endpoint="https://x/r"),
        post=lambda *a: 500,
    ).upload_report(str(f)) is False


def test_pagination_guard_fires_only_when_pages_remain():
    """A fetch whose FINAL page is consumed on the last allowed
    iteration completed successfully and must return its rows; the
    runaway guard fires only when a continuation actually remains."""
    import pytest as _pytest

    from assetdatavalidationtool_spark.sources.connectors import (
        GraphConnector,
        ServiceNowConnector,
    )

    # Graph: 2 pages, nextLink only on the first; max_pages=2 is enough
    def two_pages(url, headers):
        if "p2" in url:
            return {"value": [{"id": "2"}]}  # final page, no nextLink
        return {"value": [{"id": "1"}], "@odata.nextLink": "https://g.example/p2"}

    got = GraphConnector("https://g.example/p1", transport=two_pages,
                         max_pages=2).fetch_rows()
    assert [r["id"] for r in got] == ["1", "2"]

    def endless(url, headers):
        return {"value": [{"id": "x"}], "@odata.nextLink": "https://g.example/next"}

    with _pytest.raises(RuntimeError, match="exceeded"):
        GraphConnector("https://g.example/p1", transport=endless,
                       max_pages=3).fetch_rows()

    # ServiceNow: short final page on the last allowed request returns
    from urllib.parse import parse_qs, urlparse

    rows = [{"a": "1"}, {"a": "2"}, {"a": "3"}]

    def sn(url, headers):
        q = parse_qs(urlparse(url).query)
        off = int(q["sysparm_offset"][0])
        return {"result": rows[off:off + 2]}

    got = ServiceNowConnector("https://sn.example", "cmdb_ci", page_size=2,
                              transport=sn, max_pages=2).fetch_rows()
    assert [r["a"] for r in got] == ["1", "2", "3"]

    def sn_endless(url, headers):
        return {"result": [{"a": "x"}, {"a": "y"}]}

    with _pytest.raises(RuntimeError, match="exceeded"):
        ServiceNowConnector("https://sn.example", "cmdb_ci", page_size=2,
                            transport=sn_endless, max_pages=3).fetch_rows()


def test_connector_to_engine_validation_path(spark, tmp_path):
    """The reference's actual integration path: connector pages with
    dynamic headers -> rows_to_df -> Validator
    (ServiceNowClient.cs:56-64 feeding Validator.cs:20-30). Two fake
    sources with different PK spellings and planted faults: one serial
    per side missing from the other, one shared serial with a
    conflicting os value."""
    import json as _json

    from assetdatavalidationtool_spark.sources.connectors import (
        GraphConnector,
        ServiceNowConnector,
        replay_transport,
    )
    from assetdatavalidationtool_spark.validation import validate_sources

    sn_pages = tmp_path / "sn.json"
    sn_pages.write_text(_json.dumps([{"result": [
        {"serial_number": "S1", "name": "h1", "os": "linux"},
        {"serial_number": "S2", "name": "h2", "os": "windows"},
    ]}]))
    gr_pages = tmp_path / "graph.json"
    gr_pages.write_text(_json.dumps([{"value": [
        {"serialNumber": "s1", "name": "h1", "os": "macos"},
        {"serialNumber": "S3", "name": "h3", "os": "linux"},
    ]}]))

    sn = ServiceNowConnector("https://sn.example", "cmdb_ci",
                             transport=replay_transport(str(sn_pages)))
    gr = GraphConnector("https://graph.example/devices",
                        transport=replay_transport(str(gr_pages)))
    sources = {
        "ServiceNow": (sn.to_df(spark, "ServiceNow"), "serial_number"),
        "AzureAD": (gr.to_df(spark, "AzureAD"), "serialNumber"),
    }
    out = str(tmp_path / "report")
    counts = validate_sources(spark, sources, out)

    # presence: S1 matches case-insensitively; S2/S3 are one-sided
    assert counts["KeyPresence"] == 3
    assert counts["MatchesAll"] == 1
    assert counts["MissingByFile"] == 2
    missing = {
        (r["key"], r["source"])
        for r in spark.read.parquet(f"{out}/MissingByFile").collect()
    }
    assert missing == {("S2", "AzureAD"), ("S3", "ServiceNow")}

    # conflicts: os disagrees on the shared serial; name agrees;
    # _source/_row never enter the column intersection
    conf = spark.read.parquet(f"{out}/Conflicts").collect()
    assert [(r["key"], r["column"], r["n_distinct_values"]) for r in conf] == [
        ("S1", "os", 2)
    ]
