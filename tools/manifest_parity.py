"""Output parity of ValidationRun between two checkouts.

    python tools/manifest_parity.py run <checkout> <out.json> [scenario ...]
    python tools/manifest_parity.py diff <a.json> <b.json>

``run`` imports the package from ``<checkout>`` (driver and Python
workers both), runs the scenarios on the ``tests/test_manifest.py``
fixtures (120 images, 8 buckets) and dumps, per scenario, each
``run()`` summary plus sorted rows of ``violations()``, ``verdicts()``,
``metrics()``, the split and the manifest (minus ``wall_sec`` and
``seq``). A reader or run that raises is recorded as ``ERR <class>``.
Each scenario runs in its own Spark job group; the number of jobs it
started (``statusTracker``) is recorded under its ``jobs`` key.
Extra arguments pick scenarios by name. One process per checkout takes
about 4 min on 4 cores.

``diff`` prints every output path whose value differs between two
dumps, then each scenario's job count delta (``JOBS name: a -> b``) on
its own lines. It exits non-zero only on an output difference; no
``DIFF`` line means identical outputs.

The bug-fix scenarios carry their own check: ``partial_cleanup``
(one bucket dir of a base run's violations deleted before an
incremental run) records whether day 2's violations, verdicts, metrics
and split equal a fresh run's; ``empty_stats`` runs ``StatsRule`` over an empty table.
``torn_publish`` leaves a dot-prefixed temp file in ``manifest/`` (a
publish that crashed before its rename) between two runs of one run id.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile


def run(checkout: str, out_json: str, only: list[str]) -> None:
    checkout = os.path.abspath(checkout)
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = checkout  # Python workers import the same package
    from pyspark.sql import functions as F

    from assetdatavalidationtool_spark.datagen import generate_captions, generate_images
    from assetdatavalidationtool_spark.manifest import ValidationRun
    from assetdatavalidationtool_spark.rules import (
        DriftRule, ReferentialRule, RowInvariantRule, SchemaRule, StatsRule, UniquenessRule)
    from assetdatavalidationtool_spark.rules.schema import ColumnSpec
    from assetdatavalidationtool_spark.session import get_spark

    n, dups, bad, dropped = 120, 2, 3, 4
    spark = get_spark(cores=4, app_name="manifest_parity", shuffle_partitions=8,
                      driver_memory="3g")
    images = generate_images(spark, n, partitions=4, dup_ids=dups, bad_pixel_ids=bad).cache()
    captions = generate_captions(spark, n, partitions=4, drop_ids=dropped).cache()
    images.count(), captions.count()

    def make_rules():
        return [
            UniquenessRule(["image_id"]),
            ReferentialRule(),
            RowInvariantRule(),
            DriftRule(column="fmt", kind="categorical",
                      reference={"png": 0.5, "jpeg": 0.4, "webp": 0.1},
                      ks_threshold=0.5, psi_threshold=1.0),
        ]

    def rows(df, cols):
        return sorted(
            [[round(v, 9) if isinstance(v, float) else v for v in r]
             for r in df.select(*cols).collect()], key=repr)

    def sorted_rows(df):
        return rows(df, sorted(df.columns))

    def attempt(fn):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — a failure is a recorded outcome
            return f"ERR {type(e).__name__}"

    def dump(out, run_id, images_df, **kw):
        run = ValidationRun(spark, out, [], run_id=run_id, **kw)
        res = {kind: attempt(lambda read=getattr(run, kind): sorted_rows(read()))
               for kind in ("violations", "verdicts", "metrics")}
        res["manifest"] = attempt(lambda: rows(
            spark.read.parquet(f"{out}/manifest"),
            ["run_id", "rule", "bucket", "status", "rows_scanned", "violation_count"]))
        res["split"] = attempt(lambda: rows(
            spark.read.parquet(run.split(images_df)),
            ["image_id", "status", "n_violations", "rules_hit"]))
        return res

    def erase(out, prefix, below):
        m = spark.read.parquet(f"{out}/manifest")
        kept = m.where(~((F.col("rule").startswith(prefix)) & (F.col("bucket") < below))).collect()
        shutil.rmtree(f"{out}/manifest")
        spark.createDataFrame(kept, m.schema).write.parquet(f"{out}/manifest")

    def bexpr(c):
        return F.pmod(F.abs(F.hash(c, F.lit(42))), F.lit(8))

    def fresh(out):
        s = ValidationRun(spark, out, make_rules() + [StatsRule(columns=["w", "fmt"])],
                          num_buckets=8, run_id="r").run(images, captions)
        return {"summary": s, **dump(out, "r", images, num_buckets=8)}

    def canary(out):
        run = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="c")
        s1 = run.run(images, captions, sample_buckets=2)
        s2 = run.run(images, captions)
        return {"summary": [s1, s2], **dump(out, "c", images, num_buckets=8)}

    def partial(out):
        s1 = ValidationRun(spark, out, make_rules()[:2], num_buckets=8, run_id="p").run(
            images, captions)
        erase(out, "uniqueness", 4)
        s2 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="p").run(
            images, captions)
        return {"summary": [s1, s2], **dump(out, "p", images, num_buckets=8)}

    def incremental(out):
        s1 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="day1").run(
            images, captions, record_fingerprints=True)
        victim = captions.select("image_id").orderBy("image_id").limit(1).collect()[0][0]
        cap2 = captions.where(F.col("image_id") != victim)
        s2 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="day2").run(
            images, cap2, incremental_from="day1")
        s3 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="day3").run(
            images, cap2, incremental_from="day2")
        return {"summary": [s1, s2, s3], "day2": dump(out, "day2", images, num_buckets=8),
                "day3": dump(out, "day3", images, num_buckets=8)}

    def custom_bucket(out):
        s1 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="b",
                           bucket_expr=bexpr).run(images, captions)
        erase(out, "uniqueness", 4)
        s2 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="b",
                           bucket_expr=bexpr).run(images, captions)
        return {"summary": [s1, s2], **dump(out, "b", images, num_buckets=8, bucket_expr=bexpr)}

    def schema_table_level(out):
        rules = [SchemaRule([ColumnSpec("image_id", "string", nullable=False,
                                        domain=F.length("image_id") < 100),
                             ColumnSpec("missing_col", "int"),
                             ColumnSpec("w", "string")]),
                 UniquenessRule(["image_id"])]
        run = ValidationRun(spark, out, rules, num_buckets=8, run_id="s")
        s1 = run.run(images, captions, sample_buckets=3)
        s2 = run.run(images, captions)
        return {"summary": [s1, s2], **dump(out, "s", images, num_buckets=8)}

    def global_uniqueness(out):
        rules = [UniquenessRule(["phash"], salted=True), UniquenessRule(["w", "h"]),
                 UniquenessRule(["image_id"])]
        s1 = ValidationRun(spark, out, rules, num_buckets=8, run_id="g").run(
            images, captions, record_fingerprints=True)
        s2 = ValidationRun(spark, out, rules, num_buckets=8, run_id="g2").run(
            images, captions, incremental_from="g")
        return {"summary": [s1, s2], "g": dump(out, "g", images, num_buckets=8),
                "g2": dump(out, "g2", images, num_buckets=8)}

    def empty_images(out):
        empty = images.where("false")
        s = attempt(lambda: ValidationRun(spark, out, make_rules(), num_buckets=8,
                                          run_id="e").run(empty, captions))
        return {"summary": s, **dump(out, "e", empty, num_buckets=8)}

    def partial_cleanup(out):
        s1 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="day1").run(
            images, captions, record_fingerprints=True)
        rdir = f"{out}/violations/run_id=day1/rule=referential"
        victim = sorted(d for d in os.listdir(rdir) if d.startswith("bucket=")
                        and d != "bucket=-1")[0]
        shutil.rmtree(f"{rdir}/{victim}")
        s2 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="day2").run(
            images, captions, incremental_from="day1")
        day2 = dump(out, "day2", images, num_buckets=8)
        ref = tempfile.mkdtemp(prefix="parity_fresh_")
        try:
            ValidationRun(spark, ref, make_rules(), num_buckets=8, run_id="day2").run(
                images, captions)
            base = dump(ref, "day2", images, num_buckets=8)
        finally:
            shutil.rmtree(ref, ignore_errors=True)
        same = all(day2[k] == base[k] for k in ("violations", "verdicts", "metrics", "split"))
        return {"summary": [s1, s2], "deleted": victim, "day2": day2,
                "day2_equals_fresh": same}

    def torn_publish(out):
        # a publish that crashed between its write and its rename leaves a
        # dot-prefixed temp file in manifest/ between two runs of one run id
        s1 = ValidationRun(spark, out, make_rules()[:2], num_buckets=8, run_id="t").run(
            images, captions)
        with open(f"{out}/manifest/.batch-torn.parquet.0", "wb") as f:
            f.write(b"PAR1 torn publish")
        s2 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="t").run(
            images, captions)
        return {"summary": [s1, s2], **dump(out, "t", images, num_buckets=8)}

    def empty_stats(out):
        empty = images.where("false")
        rules = make_rules() + [StatsRule(columns=["w", "fmt"])]
        s = attempt(lambda: ValidationRun(spark, out, rules, num_buckets=8,
                                          run_id="e").run(empty, captions))
        return {"summary": s, **dump(out, "e", empty, num_buckets=8)}

    sc = spark.sparkContext
    results = {}
    for fn in (fresh, canary, partial, incremental, custom_bucket, schema_table_level,
               global_uniqueness, empty_images, partial_cleanup, empty_stats, torn_publish):
        name = fn.__name__
        if only and name not in only:
            continue
        out = tempfile.mkdtemp(prefix=f"parity_{name}_")
        sc.setJobGroup(name, name)
        try:
            results[name] = fn(out)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            shutil.rmtree(out, ignore_errors=True)
        results[name]["jobs"] = len(sc.statusTracker().getJobIdsForGroup(name))
        print(name, "done", flush=True)
    with open(out_json, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True, default=str)
    spark.stop()


def diff(a_json: str, b_json: str) -> int:
    with open(a_json) as fa, open(b_json) as fb:
        a, b = json.load(fa), json.load(fb)
    n = 0

    def walk(x, y, path):
        nonlocal n
        if isinstance(x, dict) and isinstance(y, dict):
            for k in sorted(set(x) | set(y)):
                walk(x.get(k), y.get(k), path + [k])
            return
        if x == y:
            return
        n += 1
        print("DIFF", "/".join(path))
        if isinstance(x, list) and isinstance(y, list):
            xs, ys = {json.dumps(r) for r in x}, {json.dumps(r) for r in y}
            print("  only a:", sorted(xs - ys)[:10])
            print("  only b:", sorted(ys - xs)[:10])
        else:
            print("  a:", str(x)[:300])
            print("  b:", str(y)[:300])

    common = sorted(set(a) & set(b))
    for k in common:
        walk({**a[k], "jobs": None}, {**b[k], "jobs": None}, [k])
    for k in common:
        ja, jb = a[k].get("jobs"), b[k].get("jobs")
        if ja != jb:
            print(f"JOBS {k}: {ja} -> {jb}")
    return n


if __name__ == "__main__":
    cmd, *args = sys.argv[1:] or ["help"]
    if cmd == "run" and len(args) >= 2:
        run(args[0], args[1], args[2:])
    elif cmd == "diff" and len(args) == 2:
        sys.exit(1 if diff(*args) else 0)
    else:
        sys.exit(__doc__)
