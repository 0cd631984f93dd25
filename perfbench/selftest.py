#!/usr/bin/env python3
"""Show that every per-op correctness check fires on a corrupted output.

    python3 perfbench/selftest.py

Each case feeds a workload's ``check`` the output a correct op produces,
which must pass, and then deliberately corrupted copies of it, each of
which must be reported. It also pins the plain-Python source-diff oracle
to counts worked out by hand. No Spark session is started.
"""

from __future__ import annotations

import copy
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import pandas as pd  # noqa: E402

import inputs  # noqa: E402
import oracle  # noqa: E402
from workloads import ALIGNED, CorpusDedup, ImagePass, Incremental, SourceDiff  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, errors: list[str], fires: bool) -> None:
    if bool(errors) != fires:
        FAILURES.append(f"{name}: expected {'errors' if fires else 'none'}, got {errors}")
    print(f"{'ok  ' if bool(errors) == fires else 'FAIL'} {name}")


def image_cases() -> None:
    faults = {"dup": [1, 2], "bad_pixel": [3], "null_dim": [4], "bad_caption": [5],
              "drop": [6, 7], "mutate": [8], "alien": [0]}
    meta = {"violations": inputs.expected_violations(faults)}
    wl = ImagePass(0)
    wl.meta = meta
    good = {
        "violations": {k: v for k, v in meta["violations"].items() if v},
        "verdicts": {k: (wl.num_buckets, v) for k, v in meta["violations"].items()},
    }
    expect("image_pass: correct output passes", wl.check(None, good), False)
    bad = copy.deepcopy(good)
    bad["violations"]["row_invariant"] += 1
    expect("image_pass: one extra violation", wl.check(None, bad), True)
    bad = copy.deepcopy(good)
    del bad["violations"]["referential"]
    expect("image_pass: a rule's violations missing", wl.check(None, bad), True)
    bad = copy.deepcopy(good)
    bad["verdicts"]["schema"] = (wl.num_buckets - 1, bad["verdicts"]["schema"][1])
    expect("image_pass: a verdict bucket missing", wl.check(None, bad), True)

    inc = Incremental(0)
    inc.meta = meta
    want = inc.expected_verdicts()
    n_rules = len(meta["violations"])
    good = {
        "dir": None,
        "day1": {"rules_run": n_rules, "buckets_inherited": 0},
        "day2": {"rules_run": n_rules, "buckets_inherited": len(ALIGNED) * (inc.num_buckets - 1)},
    }
    inc._verdicts = lambda spark, out, run_id: want
    expect("incremental: correct output passes", inc.check(None, good), False)
    bad = copy.deepcopy(good)
    bad["day2"]["buckets_inherited"] -= 1
    expect("incremental: one rule-bucket not inherited", inc.check(None, bad), True)
    bad = copy.deepcopy(good)
    bad["day1"]["rules_run"] -= 1
    expect("incremental: a rule skipped on day 1", inc.check(None, bad), True)
    corrupt = dict(want)
    corrupt["row_invariant"] = (want["row_invariant"][0], want["row_invariant"][1] + 1)
    inc._verdicts = lambda spark, out, run_id: corrupt
    expect("incremental: a verdict count off by one", inc.check(None, good), True)


def source_cases() -> None:
    key = "Asset Tag"
    sources = {
        "Baseline": [
            {key: "A1", "Host": "h1", "Owner": "x"},
            {key: " a2 ", "Host": "h2", "Owner": "y"},
            {key: "A3", "Host": "h3", "Owner": ""},
            {key: "A1", "Host": "later", "Owner": "z"},  # first row wins
        ],
        "CMDB": [
            {key: "a1", "Host": "H1", "Owner": "x"},  # case-only difference
            {key: "A2", "Host": "h2", "Owner": "q"},  # conflict on Owner
            {key: "A4", "Host": "h4", "Owner": "w"},  # only here
        ],
    }
    got = oracle.source_diff(sources, key)
    # keys A1..A4; A1 and A2 in both; A3, A4 in one source each.
    # Conflicts: A2.Owner. Deltas: Asset Tag and Host map by value
    # (score 1.0); Owner agrees on one of two common keys (0.5 < 0.6), so
    # it stays unmapped and compares against blank: A1 and A2 Owner,
    # A3 tag + host, A4 tag + host.
    want = {
        "summary": {"KeyPresence": 4, "MatchesAll": 2, "MissingByFile": 2, "Conflicts": 1},
        "deltas": {"CMDB": 6, "__total__": 6},
    }
    ok = [] if got == want else [f"{got} != {want}"]
    expect("oracle: hand-counted source diff", ok, False)

    wl = SourceDiff(0)
    wl.meta = {"expected": want}
    good = {"summary": dict(want["summary"]), "deltas": dict(want["deltas"])}
    expect("source_diff: correct output passes", wl.check(None, good), False)
    bad = copy.deepcopy(good)
    bad["summary"]["Conflicts"] = 0
    expect("source_diff: a conflict lost", wl.check(None, bad), True)
    bad = copy.deepcopy(good)
    bad["deltas"]["CMDB"] += 1
    expect("source_diff: one extra delta cell", wl.check(None, bad), True)


def corpus_cases() -> None:
    pdf = pd.DataFrame({"cluster_id": [1, 1, 7], "doc_id": [1, 2, 7],
                        "avg": [0.5, 0.25, 1.0]})
    wl = CorpusDedup(0)
    q = wl.op_queries[0]
    wl.meta = {"expected": {q: oracle.row_hash(pdf)}}
    expect("corpus_dedup: correct output passes", wl.check(None, {q: pdf}), False)
    expect("corpus_dedup: rows in another order pass",
           wl.check(None, {q: pdf.iloc[::-1].reset_index(drop=True)}), False)
    bad = pdf.copy()
    bad.loc[1, "cluster_id"] = 2
    expect("corpus_dedup: a node in the wrong cluster", wl.check(None, {q: bad}), True)
    expect("corpus_dedup: a row lost", wl.check(None, {q: pdf.iloc[:2]}), True)
    expect("corpus_dedup: integer column read as float",
           wl.check(None, {q: pdf.astype({"doc_id": "float64"})}), True)


if __name__ == "__main__":
    image_cases()
    source_cases()
    corpus_cases()
    if FAILURES:
        print("\n".join(FAILURES), file=sys.stderr)
        sys.exit(1)
    print("all checks fire on corrupted outputs")
