"""The four benchmark workloads.

Each workload builds its seeded input (``generate``), registers it with
a fresh session (``register``), and runs one op at a time (``op``),
whose output ``check`` compares with the expected result. Traced runs
also call ``probe``, which times single layers on their own, and
``layer_metrics``, which turns the recorded spans and Spark counters
into the per-layer metrics this workload moves.
"""

from __future__ import annotations

import itertools
import shutil
import statistics
import time
import traceback
import warnings

import numpy as np

import inputs
from harness import WORK, SparkStats, Tracer, busy_s, cpu_s, dir_size, median, patched

RUNS = WORK / "runs"
# rules whose results depend only on their own bucket's rows, so an
# incremental run recomputes them for changed buckets only
ALIGNED = ("schema", "uniqueness(image_id)", "referential", "row_invariant")


def _slug(rule: str) -> str:
    """Metric-name form of a rule name: uniqueness(image_id) becomes
    uniqueness_image_id, drift(fmt) becomes drift."""
    return rule.split("(")[0] if rule.startswith("drift") else (
        rule.replace("(", "_").replace(")", "").replace(",", "_")
    )


class Workload:
    name = ""
    rows_per_op = 0
    # op time falls over the first few ops as the JVM compiles the hot
    # paths. Untimed warm-up ops after set-up take the timed ops past the
    # steepest part, and a fixed count of timed ops (rather than however
    # many fit the run's seconds) keeps them at the same point of that
    # curve on a fast or a slow host.
    warm_ops = 0
    min_ops = 2
    # a workload that this one's traced runs also run once, so that the
    # layers only it calls are measured on a listed workload
    guest: type[Workload] | None = None

    def __init__(self, seed: int):
        self.seed = seed
        self._ids = itertools.count()
        self.written: list[dict] = []  # per-op output sizes, for traced runs

    def record(self, out: dict) -> None:
        pass

    def run_op(self, host, spark, tr: Tracer) -> tuple[float, float, list[str]]:
        """Time one op and check its output untimed.
        Returns (wall seconds, engine CPU seconds, errors)."""
        pids = host.engine_pids()
        c0 = cpu_s(pids)
        t0 = time.perf_counter()
        try:
            out = self.op(spark, tr)
        except Exception:
            return time.perf_counter() - t0, 0.0, [traceback.format_exc(limit=3)]
        dt = time.perf_counter() - t0
        cpu = cpu_s(pids) - c0
        try:
            errs = self.check(spark, out)
        except Exception:
            errs = [traceback.format_exc(limit=3)]
        self.record(out)
        self.cleanup(out)
        return dt, cpu, errs

    def generate(self, spark) -> None:
        raise NotImplementedError

    def register(self, spark) -> None:
        pass

    def op(self, spark, tr: Tracer) -> dict:
        raise NotImplementedError

    def check(self, spark, out: dict) -> list[str]:
        raise NotImplementedError

    def cleanup(self, out: dict) -> None:
        pass

    def run_check(self, spark) -> list[str]:
        """Untimed check made once per run, after the measured ops."""
        return []

    def probe(self, spark, tr: Tracer) -> list[str]:
        """Time single layers once (traced runs only); returns check errors."""
        return []

    def layer_metrics(self, view: "TraceView") -> dict[str, float]:
        return {}

    def out_dir(self, prefix: str):
        d = RUNS / f"{prefix}-{next(self._ids)}"
        shutil.rmtree(d, ignore_errors=True)
        return d


class TraceView:
    """Spans and Spark counters of a traced run, grouped by op."""

    def __init__(self, tracer: Tracer, stats: SparkStats, traced_ops: list[str]):
        self.spans = tracer.spans
        self.stats = stats
        self.ops = traced_ops

    def _spans(self, op: str, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and (name is None or s["name"] == name)]

    def _groups(self, spans: list[dict]) -> set[str]:
        """Job groups of the spans and of every span nested in them."""
        groups = {s["group"] for s in spans}
        while True:
            more = {s["group"] for s in self.spans if s["parent"] in groups} - groups
            if not more:
                return groups
            groups |= more

    def wall(self, name: str, op: str | None = None) -> float:
        """Median over traced ops (or the one given) of the summed wall
        time of spans with this name."""
        ops = [op] if op else self.ops
        return median([sum(s["end"] - s["start"] for s in self._spans(o, name)) for o in ops])

    def counters(self, name: str | None = None, op: str | None = None) -> dict[str, float]:
        """Median per op of the Spark counters of the named spans'
        jobs (all top-level spans when name is None), plus driver_gap_s:
        span wall time not covered by any of its jobs."""
        per_op = []
        for o in [op] if op else self.ops:
            spans = self._spans(o, name)
            if name is None:
                spans = [s for s in spans if s["parent"] is None]
            jobs = self.stats.jobs_in(self._groups(spans))
            t = self.stats.totals(jobs)
            t["driver_gap_s"] = sum(
                (s["end"] - s["start"]) - busy_s(jobs, s["start"], s["end"]) for s in spans
            )
            per_op.append(t)
        return {k: median([t[k] for t in per_op]) for k in per_op[0]} if per_op else {}


# ---------------------------------------------------------------- images


def _ruleset(spark, images):
    import bench

    return bench.build_ruleset(spark, images)


def _kernel_us(rows: list[dict], reps: int = 5) -> dict[str, float]:
    """In-process µs per row of each layer of the row-invariant kernel,
    median over reps, on the given sample rows."""
    from assetdatavalidationtool_spark.codecs import decode_image, psnr
    from assetdatavalidationtool_spark.datagen import render_image, row_params

    acc = {"row_params": [], "render": [], "decode": [], "psnr": []}
    for _ in range(reps):
        t = dict.fromkeys(acc, 0.0)
        for r in rows:
            i = int(r["image_id"].split("_")[-1])
            t0 = time.perf_counter()
            p = row_params(i)
            t1 = time.perf_counter()
            ref = render_image(r["image_id"], p["w"], p["h"])
            t2 = time.perf_counter()
            got = decode_image(bytes(r["bytes"]), r["fmt"])
            t3 = time.perf_counter()
            psnr(ref, got)
            t4 = time.perf_counter()
            t["row_params"] += t1 - t0
            t["render"] += t2 - t1
            t["decode"] += t3 - t2
            t["psnr"] += t4 - t3
        for k in acc:
            acc[k].append(t[k] / len(rows) * 1e6)
    return {k: statistics.median(v) for k, v in acc.items()}


class _ImageBase(Workload):
    size = 0
    tag = 0
    num_buckets = 16

    def _images_meta(self):
        self.dir, self.meta = inputs.cached(
            self.name, self.seed, self.size,
            lambda d: inputs.build_images(d, self.seed, self.size, self.tag),
        )
        self.rows_per_op = self.meta["n_images"]


class Incremental(_ImageBase):
    name = "incremental"
    size = 300
    tag = 2
    num_buckets = 8

    def generate(self, spark) -> None:
        self._images_meta()
        b = self.num_buckets
        if not (self.dir / f"captions_b{b}").exists():
            inputs.build_bucketed(spark, self.dir, b)
        self.rows_per_op = 2 * self.meta["n_images"]
        # the day-2 edit hits one seed-chosen, non-empty bucket
        rng = np.random.default_rng([self.seed, 5])
        first = int(rng.integers(0, b))
        self.changed = next(
            x % b for x in range(first, first + b)
            if (self.dir / f"captions_b{b}" / f"bucket={x % b}").exists()
        )

    def register(self, spark) -> None:
        from pyspark.sql import functions as F

        b = self.num_buckets
        self.images = spark.read.parquet(str(self.dir / f"images_b{b}"))
        self.captions = spark.read.parquet(str(self.dir / f"captions_b{b}"))
        self.captions2 = self.captions.withColumn(
            "caption",
            F.when(F.col("bucket") == self.changed, F.concat(F.col("caption"), F.lit(" v2")))
            .otherwise(F.col("caption")),
        )

    def _run(self, spark, out, run_id: str, captions, **kw) -> dict:
        from assetdatavalidationtool_spark.manifest import ValidationRun

        rules = _ruleset(spark, self.images).rules
        with warnings.catch_warnings():
            warnings.filterwarnings("ignore", message="fingerprint_bytes=False")
            return ValidationRun(
                spark, str(out), rules, num_buckets=self.num_buckets,
                run_id=run_id, partition_col="bucket",
            ).run(self.images, captions, fingerprint_bytes=False, **kw)

    def op(self, spark, tr: Tracer) -> dict:
        from assetdatavalidationtool_spark import manifest

        out = self.out_dir("incremental")
        with (patched(manifest, "bucket_fingerprints", tr, "manifest.bucket_fingerprints"),
              patched(manifest.ValidationRun, "completed", tr, "manifest.completed")):
            t0 = time.perf_counter()
            with tr.span("manifest.ValidationRun.run.full"):
                s1 = self._run(spark, out, "day1", self.captions, record_fingerprints=True)
            t1 = time.perf_counter()
            with tr.span("manifest.ValidationRun.run.incremental"):
                s2 = self._run(spark, out, "day2", self.captions2, incremental_from="day1")
            t2 = time.perf_counter()
        files, size = dir_size(out)
        return {"dir": out, "day1": s1, "day2": s2, "full_s": t1 - t0,
                "incremental_s": t2 - t1, "files": files, "bytes": size}

    def _verdicts(self, spark, out, run_id: str) -> dict:
        from pyspark.sql import functions as F

        rows = spark.read.parquet(f"{out}/verdicts/run_id={run_id}").groupBy("rule").agg(
            F.count("*").alias("rows"), F.sum("violation_count").alias("vio")
        ).collect()
        return {r["rule"]: (r["rows"], r["vio"]) for r in rows}

    def expected_verdicts(self) -> dict:
        # aligned rules write one verdict row per bucket, global rules one
        return {k: (self.num_buckets if k in ALIGNED else 1, v)
                for k, v in self.meta["violations"].items()}

    def check(self, spark, out: dict) -> list[str]:
        n_rules = len(self.meta["violations"])
        want1 = {"rules_run": n_rules, "buckets_inherited": 0}
        want2 = {"rules_run": n_rules,
                 "buckets_inherited": len(ALIGNED) * (self.num_buckets - 1)}
        errs = []
        for day, want in (("day1", want1), ("day2", want2)):
            got = {k: out[day][k] for k in want}
            if got != want:
                errs.append(f"{day} summary {got} != {want}")
            verd = self._verdicts(spark, out["dir"], day)
            if verd != self.expected_verdicts():
                errs.append(f"{day} verdicts {verd} != {self.expected_verdicts()}")
        return errs

    def cleanup(self, out: dict) -> None:
        self.last_dir = out["dir"]
        for d in RUNS.glob("incremental-*"):
            if d != self.last_dir:
                shutil.rmtree(d, ignore_errors=True)

    def run_check(self, spark) -> list[str]:
        """The last op's day-2 verdicts equal a fresh full run's on the
        day-2 input."""
        fresh = self.out_dir("fresh")
        self._run(spark, fresh, "fresh", self.captions2)
        cols = ["rule", "bucket", "rows_scanned", "violation_count"]

        def rows(d, rid):
            return sorted(
                tuple(r) for r in spark.read.parquet(f"{d}/verdicts/run_id={rid}").select(*cols).collect()
            )

        same = rows(self.last_dir, "day2") == rows(fresh, "fresh")
        shutil.rmtree(fresh, ignore_errors=True)
        return [] if same else ["day-2 verdicts differ from a fresh full run"]

    def layer_metrics(self, view: TraceView) -> dict[str, float]:
        m = {}
        op = view.counters()
        m["manifest.bucket_fingerprints_s"] = view.wall("manifest.bucket_fingerprints")
        m["manifest.completed_s"] = view.wall("manifest.completed")
        m["manifest.jobs"] = op["jobs"]
        m["manifest.driver_gap_s"] = op["driver_gap_s"]
        m["manifest.full_run_s"] = view.wall("manifest.ValidationRun.run.full")
        m["manifest.incremental_run_s"] = view.wall("manifest.ValidationRun.run.incremental")
        m["manifest.files_written"] = median([w["files"] for w in self.written])
        m["manifest.bytes_written_mb"] = median([w["bytes"] for w in self.written]) / 2**20
        # rule-buckets inherited / rule-buckets in unchanged buckets
        n_rules = len(self.meta["violations"])
        m["manifest.reuse_frac"] = median([w["inherited"] for w in self.written]) / (n_rules * (self.num_buckets - 1))
        return m

    def record(self, out: dict) -> None:
        self.written.append({"files": out["files"], "bytes": out["bytes"],
                             "inherited": out["day2"]["buckets_inherited"]})


class ImagePass(_ImageBase):
    name = "image_pass"
    guest = Incremental
    size = 600
    tag = 1
    min_ops = 3

    def generate(self, spark) -> None:
        self._images_meta()

    def register(self, spark) -> None:
        self.images = spark.read.parquet(str(self.dir / "images"))
        self.captions = spark.read.parquet(str(self.dir / "captions"))

    def op(self, spark, tr: Tracer) -> dict:
        from pyspark.sql import functions as F

        from assetdatavalidationtool_spark.rules import RuleContext

        ctx = RuleContext(spark=spark, images=self.images, captions=self.captions,
                          num_buckets=self.num_buckets, run_id="perfbench")
        with tr.span("rules.RuleSet.run"):
            out = _ruleset(spark, self.images).run(ctx)
            vio = out["violations"].groupBy("rule").count().collect()
            verd = out["verdicts"].groupBy("rule").agg(
                F.count("*").alias("rows"), F.sum("violation_count").alias("vio")
            ).collect()
            out["violations"].unpersist()
        return {
            "violations": {r["rule"]: r["count"] for r in vio},
            "verdicts": {r["rule"]: (r["rows"], r["vio"]) for r in verd},
        }

    def check(self, spark, out: dict) -> list[str]:
        want = self.meta["violations"]
        errs = []
        if out["violations"] != {k: v for k, v in want.items() if v}:
            errs.append(f"violations {out['violations']} != {want}")
        want_verd = {k: (self.num_buckets, v) for k, v in want.items()}
        if out["verdicts"] != want_verd:
            errs.append(f"verdicts {out['verdicts']} != {want_verd}")
        return errs

    def _sample_rows(self) -> list[dict]:
        import pyarrow.parquet as pq

        want = set(self.meta["sample_ids"])
        tbl = pq.read_table(self.dir / "images").to_pylist()
        return [r for r in tbl if r["image_id"] in want and r["w"] is not None]

    def probe(self, spark, tr: Tracer) -> list[str]:
        from assetdatavalidationtool_spark.rules import RuleContext

        ctx = RuleContext(spark=spark, images=self.images, captions=self.captions,
                          num_buckets=self.num_buckets, run_id="probe")
        for rule in _ruleset(spark, self.images).rules:
            with tr.span(f"rules.{_slug(rule.name)}"):
                rule.violations(ctx).count()
        self.kernel = _kernel_us(self._sample_rows())
        return []

    def layer_metrics(self, view: TraceView) -> dict[str, float]:
        m = {f"rules.{_slug(r)}.s": view.wall(f"rules.{_slug(r)}", "probe")
             for r in self.meta["violations"]}
        rs = view.counters("rules.RuleSet.run")
        m["rules.ruleset.jobs"] = rs["jobs"]
        m["rules.ruleset.driver_gap_s"] = rs["driver_gap_s"]
        ri = view.counters("rules.row_invariant", "probe")
        python_s = ri["executor_run_s"] - ri["executor_cpu_s"]
        kernel_s = self.meta["n_images"] * sum(self.kernel.values()) / 1e6
        m["rules.row_invariant.python_s"] = python_s
        m["rules.row_invariant.kernel_share"] = kernel_s / python_s if python_s > 0 else 0.0
        m["datagen.render_us_per_row"] = self.kernel["render"]
        m["datagen.row_params_us_per_row"] = self.kernel["row_params"]
        m["codecs.decode_us_per_row"] = self.kernel["decode"]
        m["codecs.psnr_us_per_row"] = self.kernel["psnr"]
        return m


# ------------------------------------------------------------ asset CSVs


class SourceDiff(Workload):
    name = "source_diff"
    size = 3000

    def generate(self, spark) -> None:
        self.dir, self.meta = inputs.cached(
            self.name, self.seed, self.size,
            lambda d: inputs.build_assets(d, self.seed, self.size),
        )
        self.rows_per_op = self.meta["rows"]

    def _sources(self, spark) -> dict:
        from assetdatavalidationtool_spark.sources.asset_csv import read_asset_table

        return {
            n: (read_asset_table(spark, str(self.dir / f"{n}.csv")), "Asset Tag")
            for n in inputs.SOURCE_NAMES
        }

    def op(self, spark, tr: Tracer) -> dict:
        from assetdatavalidationtool_spark.validation import pipeline, validate_sources
        from assetdatavalidationtool_spark.validation.deltas import deltas_auto, deltas_summary

        out = self.out_dir("source_diff")
        with tr.span("sources.read_asset_table"):
            srcs = self._sources(spark)
        with (tr.span("validation.validate_sources"),
              patched(pipeline, "write_report_tables", tr, "sources.write_report_tables")):
            summary = validate_sources(spark, srcs, str(out), order_col="_ord")
        with tr.span("validation.deltas"):
            deltas = {
                r["source"]: r["mismatch_cells"]
                for r in deltas_summary(deltas_auto(srcs, "_ord")).collect()
            }
        files, size = dir_size(out)
        return {"dir": out, "summary": summary, "deltas": deltas, "bytes": size}

    def check(self, spark, out: dict) -> list[str]:
        want = self.meta["expected"]
        errs = []
        if out["summary"] != want["summary"]:
            errs.append(f"summary {out['summary']} != {want['summary']}")
        want_d = {k: v for k, v in want["deltas"].items() if v}
        if out["deltas"] != want_d:
            errs.append(f"deltas {out['deltas']} != {want_d}")
        return errs

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["dir"], ignore_errors=True)

    def record(self, out: dict) -> None:
        self.written.append({"bytes": out["bytes"]})

    def probe(self, spark, tr: Tracer) -> list[str]:
        from assetdatavalidationtool_spark import validation as V
        from assetdatavalidationtool_spark.validation.conflicts import common_columns

        srcs = self._sources(spark)
        for name, fn in (("key_presence", V.key_presence), ("matches_all", V.matches_all),
                         ("missing_by_file", V.missing_by_file)):
            with tr.span(f"validation.{name}"):
                fn(srcs).count()
        cols = [c for c in common_columns(srcs) if not c.startswith("_")]
        with tr.span("validation.conflicts"):
            V.conflicts(srcs, "_ord", columns=cols).count()
        base, key = srcs["Baseline"]
        with tr.span("validation.field_mapping_scores"):
            for n in inputs.SOURCE_NAMES[1:]:
                other, okey = srcs[n]
                V.field_mapping_scores(base, key, other, okey, "_ord").collect()
        return []

    def layer_metrics(self, view: TraceView) -> dict[str, float]:
        m = {f"validation.{n}_s": view.wall(f"validation.{n}", "probe") for n in (
            "key_presence", "matches_all", "missing_by_file", "conflicts",
            "field_mapping_scores")}
        op = view.counters()
        m["validation.deltas_s"] = view.wall("validation.deltas")
        m["validation.jobs"] = op["jobs"]
        m["validation.shuffle_write_mb"] = op["shuffle_write_mb"]
        m["sources.read_asset_table_s"] = view.wall("sources.read_asset_table")
        m["sources.write_report_tables_s"] = view.wall("sources.write_report_tables")
        m["sources.bytes_written_mb"] = median([w["bytes"] for w in self.written]) / 2**20
        return m


# --------------------------------------------------------- corpus tables


class CorpusDedup(Workload):
    name = "corpus_dedup"
    size = 400
    orders = 3000
    warm_ops = 1
    min_ops = 4
    guest = SourceDiff
    # the op runs one of the six queries (LSH pairs, a full connected
    # components pass and the canonical pick) so a run fits several ops;
    # the other five run once per traced run
    op_queries = ("dedup_canonical",)

    def generate(self, spark) -> None:
        self.dir, self.meta = inputs.cached(
            self.name, self.seed, self.size,
            lambda d: inputs.build_corpus(d, self.seed, self.size, self.orders, self.op_queries),
        )
        self.rows_per_op = self.meta["rows"]["documents"]  # the op reads documents only

    def _queries(self, spark, tr: Tracer, names) -> dict:
        from assetdatavalidationtool_spark.contract import QUERIES

        out = {}
        for q in names:
            with tr.span(f"contract.{q}"):
                out[q] = QUERIES[q].fn(spark, str(self.dir)).toPandas()
        return out

    def op(self, spark, tr: Tracer) -> dict:
        return self._queries(spark, tr, self.op_queries)

    def check(self, spark, out: dict) -> list[str]:
        import oracle

        want = self.meta["expected"]
        missing = [q for q in out if q not in want]
        if missing:  # queries outside the op, checked once per traced run
            want.update(inputs.duckdb_hashes(self.dir, missing))
        return [f"{q}: row hash differs from DuckDB" for q, pdf in out.items()
                if oracle.row_hash(pdf) != want[q]]

    def probe(self, spark, tr: Tracer) -> list[str]:
        from assetdatavalidationtool_spark.operators.dedup import (
            connected_components,
            minhash_lsh_candidates,
        )

        pairs_dir = self.out_dir("pairs")
        minhash_lsh_candidates(
            spark.read.parquet(str(self.dir / "documents.parquet")), "doc_id", "text",
            n=3, num_hashes=8, bands=4, max_bucket_size=50,
        ).write.parquet(str(pairs_dir))
        pairs = spark.read.parquet(str(pairs_dir))
        with tr.span("operators.dedup.connected_components"):
            connected_components(pairs).collect()
        shutil.rmtree(pairs_dir, ignore_errors=True)
        rest = [q for q in inputs.DEDUP_QUERIES if q not in self.op_queries]
        return self.check(spark, self._queries(spark, tr, rest))

    def layer_metrics(self, view: TraceView) -> dict[str, float]:
        cc = view.counters("operators.dedup.connected_components", "probe")
        m = {
            "operators.dedup.connected_components_s":
                view.wall("operators.dedup.connected_components", "probe"),
            "operators.dedup.cc_jobs": cc["jobs"],
        }
        for q in inputs.DEDUP_QUERIES:
            op = None if q in self.op_queries else "probe"
            m[f"contract.{q}.s"] = view.wall(f"contract.{q}", op)
            m[f"contract.{q}.jobs"] = view.counters(f"contract.{q}", op)["jobs"]
        return m


WORKLOADS = {w.name: w for w in (ImagePass, Incremental, SourceDiff, CorpusDedup)}
