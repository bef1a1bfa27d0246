"""The benchmark's workloads.

Each is a closed loop with one client: an operation starts when the
previous one has returned. A workload exposes

- ``setup(spark, rec)``: the shared state a new SparkSession needs (the
  memo bases), returning the seconds each part took;
- ``prepare(cache_dir)``: reference results for the correctness checks,
  computed outside both set-up and the timed region;
- ``warmup(spark, rec)``: one-off work that fills caches and JIT before
  anything is timed (a pass over the operators, or a month on another
  ``ref_ym``); returns the seconds it spent in the program;
- ``run_pass(spark, rec, i)``: one pass over the workload's operations,
  returning ``[(op, seconds)]``;
- ``finish(spark)``: folds per-pass figures into ``self.extra``.

Every operation executed counts in ``self.attempted``; one that raises
or returns a wrong result is recorded in ``self.errors``, keyed by the
execution.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import rfbmonth

# ---- the operators workload: a fixed set covering every operator module

OPS = (
    "q05_region_revenue",  # relational: multi-way star join
    "e17_multistep_funnel",  # events: eager work inside the operator call
    "g01_item_pagerank",  # graph: iterative, on the engagement-graph memo
    "v01_integrity_report",  # integrity
    "d07_dedup_clusters",  # dedup: eager work inside the operator call
    "t02_quality_score",  # text
    "s06_near_dup_pairs_banded",  # similarity: eager banded pair join
    "x05_corpus_curation",  # sampling: dedup -> quality -> decontaminate
    "m01_image_metadata",  # media: the Python-worker decode path
)


def base_builders(spark, sf_dir: str) -> dict:
    """name -> thunk for each session-memoized shared base those
    operators use, in build order."""
    from rfb_data_pipeline_spark.operators.graph import _graph_shared
    from rfb_data_pipeline_spark.operators.media import _N_MEDIA, _media_cached

    return {
        "engagement_graph": lambda: _graph_shared(spark, sf_dir),
        "media_frame": lambda: _media_cached(spark, _N_MEDIA),
    }


class Operators:
    """Registered operators over a fixed parquet corpus, in an order the
    seed shuffles anew for every pass; each result is checked against
    the operator's DuckDB oracle."""

    def __init__(self, sf_dir: str, seed: int):
        import tools.check_oracle  # noqa: F401 - the checkout's copy first

        import __spark_entry__ as entry

        self.sf_dir = sf_dir
        registry = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.ops = {n: registry[n] for n in OPS}
        self.rng = random.Random(seed)
        self.expected: dict[str, tuple] = {}
        self.errors: dict[str, list[str]] = {}
        self.attempted = 0
        self.extra: dict = {"ops": list(OPS), "corpus": os.path.basename(sf_dir)}

    def setup(self, spark, rec) -> dict[str, float]:
        took = {}
        for b, build in base_builders(spark, self.sf_dir).items():
            with rec.span("memo", b):
                t0 = time.perf_counter()
                build()
                took[b] = time.perf_counter() - t0
        return took

    def warmup(self, spark, rec) -> float:
        """One checked pass: JIT, code generation and each operator's
        first-call costs."""
        return sum(self._run_op(spark, rec, name) for name in self._order())

    def prepare(self, cache_dir: str) -> None:
        """DuckDB oracle results, in a child process so the oracle's
        memory stays out of the program's peak RSS. They take about 6 s
        on 4 cores and depend only on the corpus, the oracle SQL, the
        canonicalizing code and the DuckDB version, so they are kept in
        ``cache_dir`` under a digest of all four and reused by later
        runs in the same checkout."""
        import duckdb

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        oracle_py = os.path.join(root, "perfbench", "oracle.py")
        h = hashlib.sha256(f"duckdb {duckdb.__version__}\0".encode())
        for name in self.ops:
            h.update(f"{name}\0{self.oracle_sql[name]}\0".encode())
        code = [oracle_py, os.path.join(root, "tools", "check_oracle.py")]
        data = [os.path.join(self.sf_dir, f) for f in sorted(os.listdir(self.sf_dir))]
        for path in code + data:
            with open(path, "rb") as fh:
                h.update(os.path.basename(path).encode() + hashlib.sha256(fh.read()).digest())
        path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:24]}.json")
        if not os.path.exists(path):
            proc = subprocess.run(
                [sys.executable, oracle_py, self.sf_dir, *self.ops],
                capture_output=True, text=True, check=True, cwd=root,
            )
            os.makedirs(cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "w") as f:
                f.write(proc.stdout.strip().splitlines()[-1])
            os.replace(tmp, path)
        with open(path) as f:
            self.expected = {name: tuple(v) for name, v in json.load(f).items()}

    def run_pass(self, spark, rec, i: int) -> list[tuple[str, float]]:
        return [
            (name, self._run_op(spark, rec, name))
            for name in self._order()
        ]

    def _order(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def _run_op(self, spark, rec, name: str) -> float:
        """Time the operator call plus the collect of its result (as
        pandas, through Arrow, the frame the oracle harness compares),
        then check the result outside the timed region."""
        fn = self.ops[name]
        layer = "operators." + fn.__module__.rsplit(".", 1)[-1]
        self.attempted += 1
        key = f"{self.attempted}:{name}"
        t0 = time.perf_counter()
        try:
            with rec.span(layer + ".build", name):
                df = fn(spark, self.sf_dir)
            with rec.span(layer + ".exec", name) as s:
                pdf = df.toPandas()
                if s is not None:
                    s.counters["rows_out"] = len(pdf)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.errors.setdefault(key, []).append(f"raised\n{traceback.format_exc(limit=3)}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        problem = self._check(name, pdf)
        if problem:
            self.errors.setdefault(key, []).append(problem)
        return dt

    def _check(self, name: str, pdf) -> str | None:
        from tools.check_oracle import UnhashableCell, _normalize, value_hash

        n, cols, h = self.expected[name]
        if len(pdf) != n:
            return f"rowcount spark={len(pdf)} oracle={n}"
        if sorted(pdf.columns) != cols:
            return f"columns spark={sorted(pdf.columns)} oracle={cols}"
        try:
            if value_hash(_normalize(pdf)) != h:
                return "value-hash mismatch"
        except UnhashableCell as exc:
            return str(exc)
        return None

    def finish(self, spark) -> None:
        pass


class MonthlyLoad:
    """The reference's own job: a cold ``run_month`` of a generated
    37-zip month into fresh directories, the README's post-load checks,
    and a re-run of the finished month."""

    REF_YM = "202406"
    WARMUP_YM = "202405"
    EST_KEYS = ["cnpj_basico", "cnpj_ordem", "cnpj_dv"]

    def __init__(self, work: str, seed: int, rows_per_part: int):
        self.work = work
        self.month = rfbmonth.generate_month(
            os.path.join(work, "drop"), seed, self.REF_YM, rows_per_part
        )
        self.errors: dict[str, list[str]] = {}
        self.attempted = 0
        self.stored_ratio: list[float] = []
        self.extra = {
            "zips": len(self.month.zips),
            "csv_bytes": self.month.csv_bytes,
            "rows_per_part": rows_per_part,
            "rows": self.month.expected["rows"],
            "encodings": sorted(set(self.month.expected["encodings"].values())),
        }

    def _config(self, tag: str, ref_ym: str):
        from rfb_data_pipeline_spark.pipeline.run import RunConfig

        d = os.path.join(self.work, tag)
        shutil.rmtree(d, ignore_errors=True)
        return RunConfig(
            base_url=self.month.listing_url,
            work_dir=os.path.join(d, "work"),
            out_dir=os.path.join(d, "silver"),
            ref_ym=ref_ym,
            fetch=rfbmonth.file_fetch,
            stream=rfbmonth.file_stream,
        )

    def setup(self, spark, rec) -> dict[str, float]:
        return {}

    def warmup(self, spark, rec) -> float:
        """One unchecked pass over the month on another ``ref_ym``: the
        cold-JVM month, and the first run of the checks and the re-run.
        A smaller month does not do: the first pass after it still ran
        15-35 % slower than the next."""
        return sum(dt for _, dt in self._cycle(spark, rec, "warmup", self.WARMUP_YM, check=False))

    def prepare(self, cache_dir: str) -> None:
        pass

    def run_pass(self, spark, rec, i: int) -> list[tuple[str, float]]:
        return self._cycle(spark, rec, f"pass{i}", self.REF_YM, check=True)

    def _cycle(self, spark, rec, tag: str, ref_ym: str, check: bool) -> list[tuple[str, float]]:
        from rfb_data_pipeline_spark.pipeline import run

        cfg = self._config(tag, ref_ym)
        out: list[tuple[str, float]] = []

        def step(op: str, fn):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                res = fn()
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                self._fail(op, tag, f"raised\n{traceback.format_exc(limit=3)}")
                res = None
            out.append((op, time.perf_counter() - t0))
            return res

        def load():
            with rec.span("pipeline.run", "run_month"):
                return run.run_month(spark, cfg)

        phase = rec.phase
        rec.phase = f"{phase}:load"
        report = step("month_load", load)
        rec.phase = f"{phase}:check"
        if check and report is not None:
            for b in self._check_load(spark, report, cfg):
                self._fail("month_load", tag, b)
        rec.phase = f"{phase}:validate"
        found = step("month_validate", lambda: self._validate(spark, rec, cfg.out_dir, ref_ym))
        rec.phase = f"{phase}:check"
        if check and found is not None:
            for b in self._check_validate(found):
                self._fail("month_validate", tag, b)
        before = _tree_digest(cfg.out_dir) if check else None
        rec.phase = f"{phase}:rerun"
        report2 = step("month_rerun", load)
        rec.phase = f"{phase}:check"
        if check and report2 is not None:
            if report2.loads:
                self._fail("month_rerun", tag, f"reloaded {[lr.table for lr in report2.loads]}")
            if _tree_digest(cfg.out_dir) != before:
                self._fail("month_rerun", tag, "output bytes changed")
        if check:
            self.stored_ratio.append(_parquet_bytes(cfg.out_dir) / self.month.csv_bytes)
        rec.phase = phase
        shutil.rmtree(os.path.dirname(cfg.work_dir), ignore_errors=True)
        return out

    def _fail(self, op: str, tag: str, msg: str) -> None:
        self.errors.setdefault(f"{tag}:{op}", []).append(msg)

    def _validate(self, spark, rec, out_dir: str, ref_ym: str) -> dict:
        """The post-load checks the README promises: orphan keys of
        estabelecimentos and socios against empresas, duplicate
        estabelecimento keys."""
        from pyspark.sql import functions as F

        from rfb_data_pipeline_spark.pipeline.validate import (
            v4_referential,
            v5_duplicate_keys,
        )

        def table(t):
            return spark.read.parquet(os.path.join(out_dir, t)).where(
                F.col("ref_ym") == ref_ym
            )

        emp = table("rfb_empresas")
        found = {}
        for t in ("rfb_estabelecimentos", "rfb_socios"):
            with rec.span("pipeline.validate", f"v4_referential:{t}"):
                r = v4_referential(table(t), emp, "cnpj_basico", "cnpj_basico").agg(
                    F.count(F.lit(1)), F.coalesce(F.sum("n_rows"), F.lit(0))
                ).collect()[0]
            found[f"orphans:{t}"] = (r[0], r[1])
        with rec.span("pipeline.validate", "v5_duplicate_keys"):
            r = v5_duplicate_keys(table("rfb_estabelecimentos"), self.EST_KEYS).agg(
                F.count(F.lit(1)), F.coalesce(F.sum("n_copies"), F.lit(0))
            ).collect()[0]
        found["duplicate_keys"] = (r[0], r[1])
        return found

    def _check_load(self, spark, report, cfg) -> list[str]:
        """What the cold load got wrong, against the generator's counts."""
        from pyspark.sql import functions as F

        from rfb_data_pipeline_spark.pipeline import manifest as mf

        exp = self.month.expected
        bad = []
        if report.held_for:
            bad.append(f"held for {report.held_for}")
        got_tables = sorted(lr.table for lr in report.loads)
        if got_tables != sorted(exp["rows"]):
            bad.append(f"tables loaded {got_tables}")
        for lr in report.loads:
            t = lr.table
            v = lr.validations
            want = {
                "passed": t not in exp["failing_tables"],
                "n_raw": exp["rows"][t],
                "n_corrupt": exp["corrupt"][t],
                "n_written": exp["rows"][t] - exp["corrupt"][t],
                "null_violations": exp["null_essentials"].get(t, {}),
                "format_violations": {},
                "count_gate": True,
            }
            got = {
                "passed": lr.passed, "n_raw": lr.n_raw, "n_corrupt": lr.n_corrupt,
                "n_written": lr.n_written, "null_violations": v.get("null_violations"),
                "format_violations": v.get("format_violations"),
                "count_gate": v["count_gate"]["passed"],
            }
            if got != want:
                bad.append(f"{t}: got {got} want {want}")
        rows = mf.load_manifest(spark, report.manifest_path).collect()
        status = {r.arquivo: r.status_carga for r in rows}
        if status != exp["zip_status"]:
            bad.append(f"manifest status_carga {status}")
        for r in rows:
            if (r.status_download, r.status_extracao, r.status_correcao) != (mf.SUCCESS,) * 3:
                bad.append(f"manifest {r.arquivo} stages {r.status_download}/{r.status_extracao}/{r.status_correcao}")
        # decoding: the accented and cp1252-only names survive intact
        emp = spark.read.parquet(os.path.join(cfg.out_dir, "rfb_empresas"))
        got = emp.agg(
            F.sum(F.col("razao_social").contains("AÇÃO").cast("int")),
            F.sum(F.col("razao_social").contains(rfbmonth.CP1252_MARK).cast("int")),
        ).collect()[0]
        want = (exp["accent_rows"], exp["cp1252_rows"])
        if tuple(got) != want:
            bad.append(f"decoded names: got {tuple(got)} want {want}")
        return bad

    def _check_validate(self, found: dict) -> list[str]:
        exp = self.month.expected
        want = {f"orphans:{t}": tuple(v) for t, v in exp["orphans"].items()}
        want["duplicate_keys"] = tuple(exp["duplicate_keys"])
        return [] if found == want else [f"got {found} want {want}"]

    def finish(self, spark) -> None:
        self.extra["bytes_stored_per_input_byte"] = statistics.median(self.stored_ratio)


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )
