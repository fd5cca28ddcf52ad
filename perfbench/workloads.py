"""The three workloads: extract, curate and ingest.

Each drives one user-facing path of the engine through its public
functions and checks what it produced:

* ``extract`` -- ``pipeline.run_to_table`` over generated web pages;
* ``curate``  -- ``jobs/curate_job.curate`` + a curated write +
  ``jobs/export_job.export``;
* ``ingest``  -- ``operators.dedup.fingerprint_index_ingest`` then
  ``minhash_index_ingest`` over a sequence of crawl increments.

A workload offers ``prepare`` (generate or reuse inputs), ``warm`` (the
set-up pass over the workload's own input), ``run_pass`` (one timed,
checked pass), ``final_checks`` (once per run, untimed), ``probes``
(traced runs only: one span per layer function) and ``layer_metrics``.
"""

from __future__ import annotations

import os
import time

import gen

# input sizes scale with the core count (same docs per core)
EXTRACT_PAGES_PER_CORE = 2000
CURATE_DOCS_PER_CORE = 300
INGEST_INCREMENTS = 5
INGEST_DOCS_PER_CORE = 60
# the set-up pass of ingest runs this many of the increments
WARM_INCREMENTS = 1
N_BUCKETS = 16
EXPORT_SHARDS = 16
CORE_SAMPLE_PAGES = 3000
DIGEST_SAMPLE = 500
# the core probe's page sample is fixed (not seed-dependent)
SAMPLE_SEED = 9999


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _link_first_part(src_dir: str, dst_dir: str) -> None:
    """``dst_dir`` holding only part 0 of ``src_dir``: the 1-core leg's
    input, with the same rows per file as the full input."""
    if not os.path.isdir(dst_dir):
        os.makedirs(dst_dir)
        os.link(os.path.join(src_dir, "part-000.parquet"),
                os.path.join(dst_dir, "part-000.parquet"))


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Workload:
    name = ""
    # untraced passes per run, at least: the median of three is robust to
    # the first pass after the cold set-up, which still warms the JIT
    min_passes = 3

    def __init__(self, cache: str, run_dir: str, seed: int, parts: int):
        self.cache = cache
        self.run_dir = run_dir
        self.seed = seed
        self.parts = parts
        self.one_core = False
        self.failures: list[str] = []
        self.summary: dict = {}  # extra fields for the run's info line
        self._n = 0

    def fresh(self, tag: str) -> str:
        """A new, empty output path under the run directory."""
        self._n += 1
        return os.path.join(self.run_dir, "out", f"{tag}-{self._n}")

    def fail(self, msg: str) -> None:
        self.failures.append(msg)


# --- extract ------------------------------------------------------------------
class Extract(Workload):
    """``run_to_table`` into a bucketed parquet table plus lineage,
    ``resume=False``. Scan, the Python worker (kernels + core) and the
    sink do all the work; ``operators`` does none."""

    name = "extract"

    def prepare(self) -> float:
        n = EXTRACT_PAGES_PER_CORE * self.parts
        self.dir, self.meta, dt = gen.cached(
            self.cache, f"extract-s{self.seed}-n{n}-p{self.parts}",
            lambda d: gen.pages(d, self.seed, n, self.parts),
        )
        self.sample_dir, _, dt_s = gen.cached(
            self.cache, f"extract-core-n{CORE_SAMPLE_PAGES}-p{self.parts}",
            lambda d: gen.pages(d, SAMPLE_SEED, CORE_SAMPLE_PAGES, self.parts),
        )
        _link_first_part(os.path.join(self.dir, "pages"),
                         os.path.join(self.dir, "pages-1core"))
        return dt + dt_s

    def pages_dir(self) -> str:
        return os.path.join(self.dir, "pages-1core" if self.one_core else "pages")

    def docs_per_pass(self) -> int:
        return self.meta["rows_per_part"] * (1 if self.one_core else self.parts)

    def _run(self, spark, pages_dir: str, tag: str) -> tuple[str, str]:
        from ocr_application_spark.pipeline import run_to_table
        from ocr_application_spark.sources.webpages import read_pages

        out = self.fresh(tag)
        run_to_table(read_pages(spark, pages_dir), spark, out, out + "-lineage",
                     n_buckets=N_BUCKETS, resume=False)
        return out, out + "_quarantine"

    def warm(self, spark) -> None:
        self._run(spark, self.pages_dir(), "warm")

    def run_pass(self, spark, tr) -> list[tuple[int, float, bool]]:
        failed = len(self.failures)
        t0 = time.perf_counter()
        with tr.span("pass"):
            out, quarantine = self._run(spark, self.pages_dir(), "extract")
        dt = time.perf_counter() - t0
        n = spark.read.parquet(out).count()
        if os.path.exists(quarantine):
            n += spark.read.parquet(quarantine).count()
        if n != self.docs_per_pass():
            self.fail(f"extract: ok + quarantine rows {n} != input {self.docs_per_pass()}")
        self.last_out = (out, quarantine)
        return [(self.docs_per_pass(), dt, len(self.failures) == failed)]

    def final_checks(self, spark) -> None:
        """A seeded 500-url sample's digest equals the in-process
        ``extract_document`` (the byte-identity spec)."""
        import numpy as np
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from ocr_application_spark.core.extraction_core import extract_document

        t = pq.read_table(os.path.join(self.dir, "pages"),
                          columns=["url", "html", "text"])
        rng = np.random.default_rng([self.seed, 3])
        idx = rng.choice(t.num_rows, min(DIGEST_SAMPLE, t.num_rows), replace=False)
        rows = t.take(idx).to_pylist()
        want = {r["url"]: extract_document(r["html"], r["text"])["digest"] for r in rows}
        out, quarantine = self.last_out
        paths = [p for p in (out, quarantine) if os.path.exists(p)]
        got = {
            r["url"]: r["digest"]
            for p in paths
            for r in spark.read.parquet(p).where(F.col("url").isin(list(want)))
            .select("url", "digest").collect()
        }
        if got != want:
            bad = sum(got.get(u) != d for u, d in want.items())
            self.fail(f"extract: {bad}/{len(want)} sampled digests differ from extract_document")

    def probes(self, spark, tr) -> None:
        import pyarrow.parquet as pq

        from ocr_application_spark.core.extraction_core import extract_document
        from ocr_application_spark.kernels.extract import extract
        from ocr_application_spark.pipeline import extract_pages
        from ocr_application_spark.sources.webpages import read_pages, with_bucket

        d = self.pages_dir()
        with tr.span("sources.scan"):
            _noop(read_pages(spark, d))
        with tr.span("kernels.extract"):
            _noop(extract(with_bucket(read_pages(spark, d), N_BUCKETS)))
        with tr.span("pipeline.extract_pages"):
            _noop(extract_pages(read_pages(spark, d), N_BUCKETS))
        rows = pq.read_table(os.path.join(self.sample_dir, "pages"),
                             columns=["html", "text"]).to_pylist()
        with tr.span("core.extract_document"):
            for r in rows:
                extract_document(r["html"], r["text"])
        self.core_docs = len(rows)

    def layer_metrics(self, tr, groups) -> dict[str, float]:
        from spans import merge

        p = merge(groups, ["pass"])
        n = max(1, len(tr.times("pass")))
        ex, ep = tr.median("kernels.extract"), tr.median("pipeline.extract_pages")
        return {
            "core.docs_per_s_1thread": self.core_docs / tr.median("core.extract_document"),
            "kernels.extract_s": ex,
            "kernels.classify_s": ep - ex,
            "kernels.python_run_ms": p.sql.get("time to run Python workers", 0.0) / n,
            "kernels.python_start_ms": p.sql.get("time to start Python workers", 0.0) / n,
            "kernels.python_init_ms": p.sql.get("time to initialize Python workers", 0.0) / n,
            "kernels.arrow_sent_bytes": p.sql.get("data sent to Python workers", 0.0) / n,
            "kernels.arrow_returned_bytes": p.sql.get("data returned from Python workers", 0.0) / n,
            "pipeline.sink_s": tr.median("pass") - ep,
            "pipeline.shuffle_write_bytes": p.shuffle_write_bytes / n,
            "pipeline.output_bytes": p.output_bytes / n,
            "pipeline.spill_bytes": p.spill_bytes / n,
        }


# --- curate ---------------------------------------------------------------------
class Curate(Workload):
    """``curate`` (default gates) -> curated write -> ``export``.
    Pure Catalyst with zero UDFs: aggregates, joins, the per-gate
    persist/count funnel and interpreted higher-order functions. At the
    benchmark's size most of a pass is the fixed cost of its ~40 Spark
    jobs, not per-row gate work (the corpus is small to fit the run
    budget); the ``operators.*_s`` spans time each gate on its own."""

    name = "curate"
    # a pass takes 5-10 s, mostly fixed per-job cost; a third pass
    # would not fit the run budget
    min_passes = 2

    def prepare(self) -> float:
        n = CURATE_DOCS_PER_CORE * self.parts
        self.dir, self.meta, dt = gen.cached(
            self.cache, f"curate-s{self.seed}-n{n}-p{self.parts}",
            lambda d: gen.corpus(d, self.seed, n, self.parts),
        )
        _link_first_part(os.path.join(self.dir, "documents.parquet"),
                         os.path.join(self.dir, "1core", "documents.parquet"))
        self.reference: tuple | None = None
        return dt

    def corpus_dir(self) -> str:
        return os.path.join(self.dir, "1core") if self.one_core else self.dir

    def docs_per_pass(self) -> int:
        return self.meta["rows_per_part"] * (1 if self.one_core else self.parts)

    def _run(self, spark, corpus_dir: str, tr) -> tuple[list, dict]:
        from jobs.curate_job import curate
        from jobs.export_job import export

        out = self.fresh("curate")
        with tr.span("jobs.curate"):
            curated, funnel = curate(spark, corpus_dir)
            curated.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
        with tr.span("jobs.export"):
            manifest = export(spark, out, out + "-export", n_shards=EXPORT_SHARDS)
        self.last = (funnel, out)
        return funnel, manifest

    def warm(self, spark) -> None:
        from spans import Tracer

        self._run(spark, self.corpus_dir(), Tracer())

    def run_pass(self, spark, tr) -> list[tuple[int, float, bool]]:
        failed = len(self.failures)
        t0 = time.perf_counter()
        with tr.span("pass"):
            funnel, manifest = self._run(spark, self.corpus_dir(), tr)
        dt = time.perf_counter() - t0
        if not self.one_core:
            self.summary["funnel"] = funnel
        result = (self.one_core, funnel, manifest["shards"])
        if manifest["n_docs_out"] != funnel[-1]["rows_out"]:
            self.fail(f"curate: export wrote {manifest['n_docs_out']} docs, "
                      f"funnel kept {funnel[-1]['rows_out']}")
        ref = self.reference
        if ref is None or ref[0] != self.one_core:
            self.reference = result
        elif ref != result:
            self.fail("curate: funnel or export manifest differs between passes")
        return [(self.docs_per_pass(), dt, len(self.failures) == failed)]

    def final_checks(self, spark) -> None:
        """The last pass kept exactly the docs that the DuckDB twins of
        the three default gates (``__spark_entry__.oracle_sql()``) keep,
        gate by gate, on the generated corpus."""
        import duckdb
        import pyarrow.parquet as pq

        from __spark_entry__ import oracle_sql

        oracles = oracle_sql()
        kept, counts = None, []
        con = duckdb.connect()
        try:
            parts = os.path.join(self.dir, "documents.parquet", "*.parquet")
            con.execute(f"create view documents as select * from read_parquet('{parts}')")
            for name, col in (("corpus_clean_pipeline", "kept"),
                              ("text_gopher_repetition", "keep"),
                              ("text_rank_quality", "keep")):
                q = f"select doc_id from ({oracles[name]}) where {col}"
                ids = {r[0] for r in con.sql(q).fetchall()}
                kept = ids if kept is None else kept & ids
                counts.append(len(kept))
        finally:
            con.close()
        funnel, out = self.last
        if [st["rows_out"] for st in funnel] != counts:
            self.fail(f"curate: funnel {funnel} != DuckDB gate survivors {counts}")
        got = pq.read_table(os.path.join(out, "documents.parquet"), columns=["doc_id"])
        if set(got.column("doc_id").to_pylist()) != kept:
            self.fail("curate: curated doc_ids differ from the DuckDB gates' survivors")

    def probes(self, spark, tr) -> None:
        from ocr_application_spark.operators.curation import (
            text_gopher_repetition,
            text_rank_quality,
        )
        from ocr_application_spark.operators.textfns import corpus_clean_pipeline

        d = self.corpus_dir()
        with tr.span("sources.scan"):
            _noop(spark.read.parquet(os.path.join(d, "documents.parquet")))
        with tr.span("operators.clean"):
            _noop(corpus_clean_pipeline(spark, d))
        with tr.span("operators.repetition"):
            _noop(text_gopher_repetition(spark, d))
        with tr.span("operators.rank"):
            _noop(text_rank_quality(spark, d))

    def layer_metrics(self, tr, groups) -> dict[str, float]:
        from spans import merge

        gates = ["operators.clean", "operators.repetition", "operators.rank"]
        g = merge(groups, gates)
        gate_s = sum(tr.median(n) for n in gates)
        return {
            "operators.clean_s": tr.median("operators.clean"),
            "operators.repetition_s": tr.median("operators.repetition"),
            "operators.rank_s": tr.median("operators.rank"),
            "operators.codegen_ms": g.sql.get("duration", 0.0),
            "operators.agg_build_ms": g.sql.get("time in aggregation build", 0.0),
            "operators.shuffle_write_bytes": float(g.shuffle_write_bytes),
            "operators.peak_exec_bytes": float(g.peak_exec_bytes),
            "jobs.curate_s": tr.median("jobs.curate"),
            "jobs.export_s": tr.median("jobs.export"),
            "jobs.funnel_overhead_s": tr.median("jobs.curate") - gate_s,
        }


# --- ingest ---------------------------------------------------------------------
class Ingest(Workload):
    """Crawl increments through ``fingerprint_index_ingest`` then
    ``minhash_index_ingest`` into snapshot tables that grow across the
    increments. One pass = all increments from empty indexes."""

    name = "ingest"
    min_passes = 1  # one pass already holds INGEST_INCREMENTS samples

    def prepare(self) -> float:
        m = INGEST_DOCS_PER_CORE * self.parts
        self.dir, self.meta, dt = gen.cached(
            self.cache, f"ingest-s{self.seed}-k{INGEST_INCREMENTS}-n{m}-p{self.parts}",
            lambda d: gen.increments(d, self.seed, INGEST_INCREMENTS, m, self.parts),
        )
        for k in range(INGEST_INCREMENTS):
            inc = os.path.join(self.dir, f"inc-{k:02d}")
            _link_first_part(inc, inc + "-1core")
        self.reference: dict = {}
        return dt

    def docs_per_pass(self) -> int:
        per = self.meta["rows_per_part"] * (1 if self.one_core else self.parts)
        return per * INGEST_INCREMENTS

    def _inc_dirs(self) -> list[str]:
        suffix = "-1core" if self.one_core else ""
        return [os.path.join(self.dir, f"inc-{k:02d}{suffix}")
                for k in range(INGEST_INCREMENTS)]

    def _run(self, spark, tr, n_inc: int) -> list[tuple[dict, dict, float]]:
        from ocr_application_spark.operators.dedup import (
            fingerprint_index_ingest,
            minhash_index_ingest,
        )

        out = self.fresh("ingest")
        self.last_indexes = (out + "-fp", out + "-mh")
        res = []
        for inc in self._inc_dirs()[:n_inc]:
            docs = spark.read.parquet(inc)
            t0 = time.perf_counter()
            with tr.span("ingest.increment"):
                with tr.span("dedup.fingerprint"):
                    v, _ = fingerprint_index_ingest(spark, out + "-fp", docs)
                    exact = dict(v.groupBy("verdict").count().collect())
                with tr.span("dedup.minhash"):
                    v, _ = minhash_index_ingest(spark, out + "-mh", docs)
                    near = dict(v.groupBy("verdict").count().collect())
            res.append((exact, near, time.perf_counter() - t0))
        return res

    def warm(self, spark) -> None:
        from spans import Tracer

        self._run(spark, Tracer(), WARM_INCREMENTS)

    def run_pass(self, spark, tr) -> list[tuple[int, float, bool]]:
        with tr.span("pass"):
            res = self._run(spark, tr, INGEST_INCREMENTS)
        parts = 1 if self.one_core else self.parts
        size = self.meta["rows_per_part"] * parts
        units = []
        for k, (exact, near, dt) in enumerate(res):
            truth = self.meta["truth"][k][:parts]
            want = {v: sum(t[v] for t in truth) for v in ("known", "novel")}
            want = {v: c for v, c in want.items() if c}
            ok = exact == want
            if not ok:
                self.fail(f"ingest: increment {k} exact verdicts {exact} != truth {want}")
            if sum(near.values()) != size:
                ok = False
                self.fail(f"ingest: increment {k} minhash verdicts sum to "
                          f"{sum(near.values())}, not {size}")
            key = (self.one_core, k)
            if self.reference.setdefault(key, near) != near:
                ok = False
                self.fail(f"ingest: increment {k} minhash verdicts changed between passes")
            units.append((size, dt, ok))
        self.last_novel = (sum(e.get("novel", 0) for e, _, _ in res),
                           sum(n.get("novel", 0) for _, n, _ in res))
        return units

    def final_checks(self, spark) -> None:
        """The last pass's snapshot indexes hold what its verdicts said
        was committed: one fingerprint row per exact-novel doc, and band
        rows for exactly the MinHash-novel docs."""
        from ocr_application_spark.sources.snapshots import read_snapshot

        fp, mh = self.last_indexes
        got = (read_snapshot(spark, fp).count(),
               read_snapshot(spark, mh).select("doc_id").distinct().count())
        if got != self.last_novel:
            self.fail(f"ingest: index rows / docs {got} != novel verdicts {self.last_novel}")

    def probes(self, spark, tr) -> None:
        from ocr_application_spark.sources.snapshots import read_snapshot, snapshot_versions

        with tr.span("sources.scan"):
            for inc in self._inc_dirs():
                _noop(spark.read.parquet(inc))
        fp, mh = self.last_indexes
        with tr.span("snapshots.read"):
            read_snapshot(spark, fp).count()
            read_snapshot(spark, mh).count()
        commits = len(snapshot_versions(fp)) + len(snapshot_versions(mh))
        files = sum(
            f.endswith(".parquet")
            for p in (fp, mh)
            for _, _, fs in os.walk(os.path.join(p, "data"))
            for f in fs
        )
        self.files_per_commit = files / max(1, commits)
        self.bytes_per_input_byte = (_du(fp) + _du(mh)) / sum(
            _du(d) for d in self._inc_dirs()
        )

    def layer_metrics(self, tr, groups) -> dict[str, float]:
        from spans import merge

        g = merge(groups, ["dedup.fingerprint", "dedup.minhash"])
        n = max(1, len(tr.times("dedup.fingerprint")))
        return {
            "dedup.fingerprint_ingest_s": tr.median("dedup.fingerprint"),
            "dedup.minhash_ingest_s": tr.median("dedup.minhash"),
            "dedup.increment_s": tr.median("ingest.increment"),
            "dedup.index_shuffle_bytes": g.shuffle_write_bytes / n,
            "snapshots.read_s": tr.median("snapshots.read"),
            "snapshots.files_per_commit": self.files_per_commit,
            "snapshots.bytes_per_input_byte": self.bytes_per_input_byte,
        }


WORKLOADS = {w.name: w for w in (Extract, Curate, Ingest)}
