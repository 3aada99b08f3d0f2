"""The two closed-loop workloads: one client, one op at a time.

Each workload has two halves:

- ``prepare`` runs in the parent before any Spark process starts. It
  writes the seeded inputs under the run directory and returns a JSON
  manifest with everything the output checks need.
- ``Session`` runs inside one fresh worker process. ``op(i)`` performs
  op ``i`` through the package's public functions and returns what the
  check needs; ``check(i, out)`` says whether it was right.

Ops ``0 .. warm-1`` are the untimed warm-up, ops ``warm .. warm+n-1``
are timed. All mutable state of a run (Silver table, ledger) lives in
the run's own directory and starts empty.
"""

from __future__ import annotations

import math
import os

import numpy as np

import gen

# ------------------------------------------------------------------ helpers


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


def norm_rows(cols: list[str], rows: list[tuple]) -> list:
    """Order-insensitive canonical form of a result: columns sorted by
    name, floats rounded to 9 places, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [[cols[i] for i in order],
            sorted([_norm_cell(r[i]) for i in order] for r in rows)]


class BaseSession:
    """Per-process state of a workload; subclasses define ``op`` and
    ``check`` and may override the hooks below."""

    def __init__(self, spark, manifest: dict, proc_dir: str, tracer):
        self.spark, self.m, self.tr = spark, manifest, tracer

    def final_check(self, n_ops: int) -> bool:
        """Whole-run check after the last op."""
        return True

    def layer_counts(self) -> dict:
        """Per-layer counts read once after the run (traced run only)."""
        return {}

    def instrument(self) -> None:
        """Route layer calls made inside the package through traced
        spans (traced run only)."""


# --------------------------------------------------------------- etl_ingest


class EtlIngest:
    """``pipeline.run_job`` on a new bronze CSV per op, appending to one
    Silver table and one ``JobRuns`` ledger that start empty in each
    worker process."""

    name = "etl_ingest"
    warm = 1

    @staticmethod
    def n_ops(seconds: int) -> int:
        return max(2, round(seconds / 3.5))  # an op takes ~3.5 s

    @staticmethod
    def prepare(work: str, seed: int, n_ops: int) -> dict:
        bronze = os.path.join(work, "bronze")
        os.makedirs(bronze)
        files = [
            gen.etl_csv(os.path.join(bronze, f"batch_{i:04d}.csv"),
                        _rng(seed, 1, i), batch=i)
            for i in range(EtlIngest.warm + n_ops)
        ]
        return {"files": files}

    class Session(BaseSession):
        def __init__(self, spark, manifest: dict, proc_dir: str, tracer):
            from harness_aws_etl_pipeline_spark.meta.jobruns import JobRuns

            super().__init__(spark, manifest, proc_dir, tracer)
            self.files = manifest["files"]
            self.silver = os.path.join(proc_dir, "silver")
            self.runs = JobRuns(spark, os.path.join(proc_dir, "job_runs"))

        def op(self, i: int):
            from harness_aws_etl_pipeline_spark import pipeline

            if self.tr.enabled:
                files0, bytes0 = _parquet_files(self.silver)
            res = pipeline.run_job(
                self.spark, {"type": "direct", "path": self.files[i]["path"]},
                self.silver, job_runs=self.runs, job_id=f"ingest-{i:04d}",
            )
            if self.tr.enabled:
                files1, bytes1 = _parquet_files(self.silver)
                self.tr.count("sinks.files_written", files1 - files0)
                self.tr.count("sinks.bytes_written", bytes1 - bytes0)
                self.tr.count("sources.bytes_read", os.path.getsize(self.files[i]["path"]))
            return {"status": res["status"], "rows_out": res["transform"]["rows_out"]}

        def check(self, i: int, out) -> bool:
            return out["status"] == "success" and out["rows_out"] == self.files[i]["rows_out"]

        def final_check(self, n_ops: int) -> bool:
            """One SUCCESS row per op, warm-up included, in the ledger's
            latest-wins view."""
            latest = {r["job_id"]: r["status"] for r in self.runs.latest().collect()}
            return latest == {f"ingest-{i:04d}": "SUCCESS" for i in range(n_ops)}

        def layer_counts(self) -> dict:
            return {"meta.ledger_files": _parquet_files(self.runs.path)[0]}

        def instrument(self) -> None:
            """Route run_job's layer calls through traced spans."""
            from harness_aws_etl_pipeline_spark import pipeline
            from harness_aws_etl_pipeline_spark.meta.jobruns import JobRuns

            pipeline.source_extract = _span(self.tr, "sources.extract", pipeline.source_extract)
            pipeline.transform = _span(self.tr, "pipeline.transform", pipeline.transform)
            pipeline.sink_load = _span(self.tr, "sinks.load", pipeline.sink_load)
            for method in ("start", "complete", "fail"):
                setattr(JobRuns, method,
                        _span(self.tr, "meta.jobruns", getattr(JobRuns, method)))


def _span(tr, name: str, fn):
    def wrapped(*args, **kwargs):
        with tr.layer(name):
            return fn(*args, **kwargs)

    return wrapped


def _parquet_files(root: str) -> tuple[int, int]:
    """Number and total size of the parquet data files under ``root``."""
    n = size = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size


# ----------------------------------------------------------------- gold_llm

GOLD_QUERIES = (
    "g1_pricing_summary",
    "g2_revenue_rollup",
    "g4_kpis",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_topk",
    "events_tumbling",
)
LLM = "llm_dedup"
KINDS = GOLD_QUERIES + (LLM,)


class GoldLlm:
    """The read side, in rotations of eight op kinds, each rotation in a
    seeded order so every run executes each kind equally often:

    - the seven Gold catalog queries: build and ``collect`` over
      read-only seeded sf0.1 tables (the table memo holds them);
    - one ``llm_dedup`` op: MinHash near-dup removal over a new
      5k-document shard, then exact cosine top-k of 64 queries over a
      new 2k×64 vector shard. No shard repeats, so no PlanMemo can
      serve a repeated call.
    """

    name = "gold_llm"
    warm = len(KINDS)

    @staticmethod
    def n_ops(seconds: int) -> int:
        return len(KINDS) * max(1, round(seconds / 15))  # a rotation takes ~9 s

    @staticmethod
    def prepare(work: str, seed: int, n_ops: int) -> dict:
        import duckdb

        from harness_aws_etl_pipeline_spark.plans.catalog import CATALOG

        gold_dir = os.path.join(work, "gold")
        gen.gold_tables(gold_dir, _rng(seed, 2))
        con = duckdb.connect()
        for t in gen.GOLD_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{gold_dir}/{t}.parquet')")
        expect = {}
        for q in GOLD_QUERIES:
            cur = con.execute(CATALOG[q].oracle)
            expect[q] = norm_rows([d[0] for d in cur.description], cur.fetchall())
        con.close()

        order = []
        for r in range((GoldLlm.warm + n_ops) // len(KINDS)):
            order.extend(KINDS[j] for j in _rng(seed, 3, r).permutation(len(KINDS)))
        shards = os.path.join(work, "shards")
        os.makedirs(shards)
        llm = {}
        for i, kind in enumerate(order):
            if kind == LLM:
                llm[str(i)] = {
                    "docs": gen.doc_shard(f"{shards}/docs_{i:04d}.parquet",
                                          _rng(seed, 4, i), i * 100_000),
                    "vecs": gen.vec_shard(f"{shards}/vecs_{i:04d}.parquet",
                                          f"{shards}/queries_{i:04d}.parquet",
                                          _rng(seed, 5, i), i * 100_000),
                }
        return {"dir": gold_dir, "order": order, "expect": expect, "llm": llm}

    class Session(BaseSession):
        def op(self, i: int):
            kind = self.m["order"][i]
            return self._llm(self.m["llm"][str(i)]) if kind == LLM else self._gold(kind)

        def check(self, i: int, out) -> bool:
            kind = self.m["order"][i]
            if kind == LLM:
                s = self.m["llm"][str(i)]
                return out["removed"] == s["docs"]["removed"] and out["topk"] == s["vecs"]["topk"]
            cols, rows = out
            return norm_rows(cols, [tuple(r) for r in rows]) == self.m["expect"][kind]

        def _gold(self, query: str):
            from harness_aws_etl_pipeline_spark.plans.catalog import CATALOG

            with self.tr.layer("plans.build"):
                df = CATALOG[query].builder(self.spark, self.m["dir"])
            if self.tr.enabled:
                with self.tr.layer("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
            with self.tr.layer("plans.execute"):
                rows = df.collect()
            return df.columns, rows

        def _llm(self, shard: dict):
            from harness_aws_etl_pipeline_spark.operators.dedup_api import (
                deduplicate,
                similarity_search,
            )

            d, v = shard["docs"], shard["vecs"]
            docs = self.spark.read.parquet(d["path"])
            with self.tr.layer("operators.dedup_build"):
                kept = deduplicate(docs, method="minhash")
            with self.tr.layer("operators.dedup_execute"):
                kept_ids = {r[0] for r in kept.select("doc_id").collect()}
            all_ids = range(d["id_base"], d["id_base"] + gen.DOCS_PER_SHARD)
            removed = sorted(set(all_ids) - kept_ids)
            planted = set(d["removed"])
            self.tr.count("operators.dup_found", len(planted.intersection(removed)))
            self.tr.count("operators.dup_planted", len(planted))

            cands = self.spark.read.parquet(v["path"])
            queries = self.spark.read.parquet(v["query_path"])
            with self.tr.layer("operators.topk_build"):
                top = similarity_search(cands, queries, method="brute_arrow", k=gen.TOPK)
            with self.tr.layer("operators.topk_execute"):
                rows = top.collect()
            got: dict[str, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got.setdefault(str(r["query_id"]), []).append(r["neighbor_id"])
            return {"removed": removed, "topk": got}

        def instrument(self) -> None:
            """Count PlanMemo lookups and hits during ops."""
            from harness_aws_etl_pipeline_spark.operators.memo import PlanMemo

            tr = self.tr
            for method in ("get_or_persist", "get_or_compute"):
                fn = getattr(PlanMemo, method)

                def wrapped(memo, *args, _fn=fn, **kwargs):
                    held = {id(e.df) for e in memo._entries.values()}
                    out = _fn(memo, *args, **kwargs)
                    tr.count("operators.memo_lookups")
                    tr.count("operators.memo_hits", id(out) in held)
                    return out

                setattr(PlanMemo, method, wrapped)


WORKLOADS = {w.name: w for w in (EtlIngest, GoldLlm)}
