"""Differential oracle tests (SURVEY.md §5.2.2): a tiny pure-Python
re-implementation of the reference's validation semantics (pinned from
Validator.cs / ReportGenerator.cs, see module docstrings in
assetdatavalidationtool_spark.validation) checked row-for-row against
the Spark dataflows on a ~60-row asset-table fixture (FIXTURES.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from assetdatavalidationtool_spark.validation import (
    column_overlap,
    conflicts,
    deltas,
    field_mapping_scores,
    key_presence,
    matches_all,
    missing_by_file,
    pick_mappings,
)

COLS = ["Hostname", "IP Address", "MAC Address", "Serial Number", "OS", "Location"]


def _baseline_rows():
    rows = []
    for i in range(40):
        rows.append(
            {
                "Hostname": f"host-{i:03d}",
                "IP Address": f"10.0.{i // 10}.{i % 10}",
                "MAC Address": f"00:1A:2B:{i:02X}:00:FF",
                "Serial Number": f"SN-{i:05d}",
                "OS": "Windows 11" if i % 2 else "Ubuntu 22.04",
                "Location": f"DC{i % 3}",
            }
        )
    # duplicate key: second occurrence must lose (first-row-wins)
    rows.append({**rows[0], "Location": "SHOULD-NOT-WIN"})
    return rows


def _discovery_rows():
    rows = []
    for i in range(45):  # 40..44 exist only in discovery
        r = {
            "Hostname": f"HOST-{i:03d}  ",  # case+whitespace only → same key
            "IP Address": f"10.0.{i // 10}.{i % 10}",
            "MAC Address": f"00:1a:2b:{i:02x}:00:ff",  # case only
            "Serial Number": f"SN-{i:05d}",
            "OS": "windows 11" if i % 2 else "Ubuntu 22.04",  # case only
            "Location": f"DC{i % 3}",
        }
        if i in (3, 7):
            r["Location"] = "REMOTE"  # real conflicts
        if i == 5:
            r["OS"] = "Fedora 40"  # real conflict
        rows.append(r)
    # baseline rows 35..39 dropped from discovery
    return [r for r in rows if not (35 <= int(r["Hostname"].split("-")[1][:3]) < 40)]


def oracle(baseline_rows, discovery_rows, pk="Hostname"):
    """Pure-Python reference-semantics oracle (from the pinned contract,
    not a port): presence / matches_all / missing / conflicts."""
    sources = {"Baseline": baseline_rows, "Discovery": discovery_rows}
    keys = {
        name: {r[pk].strip().upper() for r in rows if r[pk].strip()}
        for name, rows in sources.items()
    }
    all_keys = set().union(*keys.values())
    presence = {k: {n: k in ks for n, ks in keys.items()} for k in all_keys}
    m_all = {k for k in all_keys if all(k in ks for ks in keys.values())}
    missing = {n: all_keys - ks for n, ks in keys.items()}

    # first-match row per key per source
    idx = {}
    for name, rows in sources.items():
        d = {}
        for r in rows:
            k = r[pk].strip().upper()
            if k and k not in d:
                d[k] = r
        idx[name] = d

    common = [c for c in COLS if c != pk]
    confl = set()
    for k in all_keys:
        rows_by = {n: idx[n][k] for n in sources if k in idx[n]}
        if len(rows_by) < 2:
            continue
        for c in common:
            vals = [rows_by[n].get(c, "").strip().upper() for n in rows_by]
            if len(set(vals)) > 1:
                confl.add((k, c))
    return presence, m_all, missing, confl


@pytest.fixture(scope="module")
def fixture(spark):
    b_rows, d_rows = _baseline_rows(), _discovery_rows()
    # order_col = original row position (the reference's file order)
    b = spark.createDataFrame(
        [{**r, "_ord": i} for i, r in enumerate(b_rows)]
    ).cache()
    d = spark.createDataFrame(
        [{**r, "_ord": i} for i, r in enumerate(d_rows)]
    ).cache()
    return b_rows, d_rows, b, d


def test_presence_matrix_matches_oracle(fixture, spark):
    b_rows, d_rows, b, d = fixture
    presence, *_ = oracle(b_rows, d_rows)
    got = {
        r["key"]: {"Baseline": r["present_Baseline"], "Discovery": r["present_Discovery"]}
        for r in key_presence({"Baseline": (b, "Hostname"), "Discovery": (d, "Hostname")}).collect()
    }
    assert got == presence


def test_matches_all_and_missing_match_oracle(fixture):
    b_rows, d_rows, b, d = fixture
    _, m_all, missing, _ = oracle(b_rows, d_rows)
    srcs = {"Baseline": (b, "Hostname"), "Discovery": (d, "Hostname")}
    got_all = {r["key"] for r in matches_all(srcs).collect()}
    assert got_all == m_all
    got_missing = {}
    for r in missing_by_file(srcs).collect():
        got_missing.setdefault(r["source"], set()).add(r["key"])
    assert got_missing.get("Baseline", set()) == missing["Baseline"]
    assert got_missing.get("Discovery", set()) == missing["Discovery"]


def test_conflicts_match_oracle(fixture):
    b_rows, d_rows, b, d = fixture
    *_, confl = oracle(b_rows, d_rows)
    srcs = {"Baseline": (b, "Hostname"), "Discovery": (d, "Hostname")}
    got = {
        (r["key"], r["column"])
        for r in conflicts(srcs, order_col="_ord", columns=[c for c in COLS if c != "Hostname"]).collect()
    }
    assert got == confl
    # case/whitespace-only differences must NOT appear
    assert not any(col in ("MAC Address", "Serial Number") for _, col in got)
    # injected real conflicts must appear
    assert ("HOST-003", "Location") in got and ("HOST-005", "OS") in got


def test_first_row_wins_dedup(fixture):
    b_rows, d_rows, b, d = fixture
    got = {
        (r["key"], r["column"])
        for r in conflicts(
            {"Baseline": (b, "Hostname"), "Discovery": (d, "Hostname")},
            order_col="_ord",
        ).collect()
    }
    # the duplicate baseline row (Location=SHOULD-NOT-WIN) must NOT create
    # a conflict for host-000 — first occurrence wins
    assert ("HOST-000", "Location") not in got


def test_field_mapping_identity_columns(fixture):
    b_rows, d_rows, b, d = fixture
    scores = field_mapping_scores(b, "Hostname", d, "Hostname", order_col="_ord")
    mapping = pick_mappings(scores, COLS, COLS, greedy=False)
    # self-named columns dominate: identity mapping for clean columns
    for c in ("IP Address", "MAC Address", "Serial Number", "Location", "OS"):
        assert mapping[c] == c


def test_deltas_predicate(fixture):
    b_rows, d_rows, b, d = fixture
    rows = deltas(
        b.drop("_ord").withColumn("_ord", F.monotonically_increasing_id()),
        "Hostname",
        {"Discovery": (d, "Hostname")},
        order_col="_ord",
    )
    got = {(r["key"], r["b_col"]) for r in rows.collect()}
    # real conflicts present
    assert ("HOST-003", "Location") in got and ("HOST-005", "OS") in got
    # case-only difference not a delta
    assert ("HOST-001", "MAC Address") not in got
    # discovery-only keys: every non-blank baseline column is a mismatch vs ""
    assert ("HOST-044", "OS") in got
    # dropped keys (35..39) mismatch too
    assert ("HOST-037", "OS") in got


def test_column_overlap_suggests_renamed_pair(spark):
    a = spark.createDataFrame(
        [{"Host": f"h{i}", "Addr": f"10.1.1.{i}"} for i in range(20)]
    )
    b = spark.createDataFrame(
        [{"Hostname": f"H{i}", "IP": f"10.001.1.{i}"} for i in range(20)]
    )
    got = column_overlap({"A": a, "B": b}, min_overlap=5, min_ratio=0.05)
    pairs = {(r["column_a"], r["column_b"]): r for r in got.collect()}
    # hostname columns overlap (case-folded by NAME class normalizer)
    assert ("Host", "Hostname") in pairs
    # IP columns overlap (de-zero-padded by IP class normalizer)
    assert ("Addr", "IP") in pairs
    assert pairs[("Addr", "IP")]["overlap"] == 20
    assert pairs[("Addr", "IP")]["ratio"] == 1.0


def test_select_baseline_and_deltas_auto(spark):
    from assetdatavalidationtool_spark.validation.deltas import (
        deltas,
        deltas_auto,
        select_baseline,
    )

    # named 'Baseline' wins case-insensitively; else first source
    assert select_baseline(["inv", "BASELINE ", "cmdb"]) == "BASELINE "
    assert select_baseline(["inv", "cmdb"]) == "inv"

    a = spark.createDataFrame(
        [("1", "x", 1), ("2", "y", 2)], "k string, v string, _ord int"
    )
    b = spark.createDataFrame(
        [("1", "x", 1), ("2", "z", 2)], "k string, v string, _ord int"
    )
    mappings = {"other": {"k": "k", "v": "v"}}
    explicit = deltas(a, "k", {"other": (b, "k")}, "_ord", mappings).collect()
    auto = deltas_auto(
        {"Baseline": (a, "k"), "other": (b, "k")}, "_ord", mappings
    ).collect()
    assert sorted(map(tuple, explicit)) == sorted(map(tuple, auto))
    # without a 'Baseline' name the FIRST source is the baseline: diffing
    # b against baseline a must flag key 2 (y vs z)
    keys = {r["key"] for r in auto if r["b_col"] == "v"}
    assert keys == {"2"}


def test_deltas_without_other_source_raises(spark):
    """Nothing to diff against is a caller error at the call, not a
    None that fails later in deltas_summary or collect."""
    a = spark.createDataFrame([("1", "x", 1)], "k string, v string, _ord int")
    with pytest.raises(ValueError, match="no other source"):
        deltas(a, "k", {}, "_ord")
    from assetdatavalidationtool_spark.validation.deltas import deltas_auto

    with pytest.raises(ValueError, match="no other source"):
        deltas_auto({"Baseline": (a, "k")}, "_ord")


def test_pick_mappings_greedy_exclusion():
    from assetdatavalidationtool_spark.validation.mapping import pick_mappings_from_rows

    rows = {
        ("b1", "o1"): 0.9,
        ("b2", "o1"): 0.8,   # loses o1 to b1 under greedy
        ("b2", "o2"): 0.7,
        ("b3", "o2"): 0.95,  # o2 already used -> b3 unmapped
    }
    non_greedy = pick_mappings_from_rows(rows, ["b1", "b2", "b3"], ["o1", "o2"])
    assert non_greedy == {"b1": "o1", "b2": "o1", "b3": "o2"}
    greedy = pick_mappings_from_rows(rows, ["b1", "b2", "b3"], ["o1", "o2"], greedy=True)
    assert greedy == {"b1": "o1", "b2": "o2"}
