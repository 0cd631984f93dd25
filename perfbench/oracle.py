"""Expected outputs computed without Spark.

* ``source_diff``: a plain-Python re-statement of the reference
  workflow's counts (Summary table and per-source delta cells), written
  from the documented semantics, not from the engine's code paths.
* ``row_hash``: an order-insensitive, type-tagged hash of a result
  table, so a Spark result and a DuckDB oracle result compare equal only
  when every row and value type agrees.
"""

from __future__ import annotations

import hashlib
import math


def _key(v: str) -> str:
    return v.strip(" ").upper()


_value = _key  # value comparison: trim + case-fold, blank stays blank


def _first_rows(rows: list[dict[str, str]], key_col: str) -> dict[str, dict[str, str]]:
    """First row per normalized non-blank key, in file order."""
    out: dict[str, dict[str, str]] = {}
    for r in rows:
        k = _key(r[key_col])
        if k and k not in out:
            out[k] = r
    return out


def _mapping(base: dict, other: dict, b_cols: list[str], o_cols: list[str]) -> dict[str, str]:
    """Match-score column mapping: score = same / total over common keys,
    counting pairs where either side is non-blank; keep the best other
    column per baseline column when the score is at least 0.6, ties to
    the first other column."""
    common = base.keys() & other.keys()
    mapping = {}
    for b in b_cols:
        best, best_score = None, 0.0
        for o in o_cols:
            same = total = 0
            for k in common:
                bv, ov = _value(base[k][b]), _value(other[k][o])
                if bv == "" and ov == "":
                    continue
                total += 1
                same += bv == ov
            if total and same / total >= 0.6 and same / total > best_score:
                best, best_score = o, same / total
        if best is not None:
            mapping[b] = best
    return mapping


def source_diff(sources: dict[str, list[dict[str, str]]], key_col: str) -> dict:
    """Summary counts of ``validate_sources`` and per-source mismatch
    cells of ``deltas_summary(deltas_auto(...))``; the first source is
    the baseline."""
    names = list(sources)
    keysets = {n: {_key(r[key_col]) for r in rows} - {""} for n, rows in sources.items()}
    union = set().union(*keysets.values())
    holders = {k: sum(k in keysets[n] for n in names) for k in union}
    firsts = {n: _first_rows(rows, key_col) for n, rows in sources.items()}
    headers = {n: list(rows[0]) for n, rows in sources.items()}
    lower = [{c.lower() for c in headers[n]} for n in names]
    common = [
        c for c in headers[names[0]]
        if all(c.lower() in s for s in lower) and c.lower() != key_col.lower()
    ]
    conflicts = 0
    for k in union:
        have = [firsts[n][k] for n in names if k in firsts[n]]
        if len(have) < 2:
            continue
        conflicts += sum(len({_value(r[c]) for r in have}) > 1 for c in common)

    base_name = names[0]
    base = firsts[base_name]
    b_cols = headers[base_name]
    deltas = {}
    for n in names[1:]:
        other = firsts[n]
        mapping = _mapping(base, other, b_cols, headers[n])
        cells = 0
        for k in base.keys() | other.keys():
            for b in b_cols:
                bv = _value(base[k][b]) if k in base else ""
                o = mapping.get(b)
                ov = _value(other[k][o]) if o and k in other else ""
                cells += bv != ov
        deltas[n] = cells
    deltas["__total__"] = sum(deltas.values())
    return {
        "summary": {
            "KeyPresence": len(union),
            "MatchesAll": sum(h == len(names) for h in holders.values()),
            "MissingByFile": sum(len(names) - h for h in holders.values()),
            "Conflicts": conflicts,
        },
        "deltas": deltas,
    }


def _canon(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return ""
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return f"f:{float(v):.6g}"
    return f"s:{v}"


def row_hash(pdf) -> str:
    """sha256 over the sorted, type-tagged rows of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("|".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()
