"""query_catalog: a fixed sample of registered queries, each built and run
once to the noop sink, on the fixed sf0.01 tables copied into
``perfbench/data`` (``data/SHA256SUMS`` holds their digests).

``catalog.json`` pins the 203 query names registered when the benchmark was
written. A pinned name missing from ``QUERIES`` is a failed op of every
run; it is never skipped. The whole catalog takes about 170 s on 4 cores in
a warm session and twice that in a fresh JVM, which one run cannot hold.
A run times the 14 queries of ``sample``, one to three per family. Eleven
have fresh-process times close around the catalog's median:

- TPC-H-style joins and aggregates: q03, q05
- sessionize, the cycle labelling of the paper's workload: q15
- exact dedup and an as-of join: x01, x16
- text: tf-idf terms and boilerplate n-grams: x33, x39
- graph triangles: x81
- distribution drift: x88
- the rollup and changepoint machinery the stream twins share: x91, x104

Those eleven spend less of their time in frame build (27%) and run fewer
build-time jobs (1.5 per query) than the whole catalog (38%, 2.2). Three
queries that run their barrier jobs while the frame is built bring the
sample to the catalog's mix: an A/B test and a Welch t-test (x105, x116)
and semantic dedup (x38). ``METHODS.md`` gives the per-query figures.

The loop-heavy graph queries (connected components, PageRank) take 5-10 s
each in a fresh JVM and do not fit. Seeded slices of the whole catalog were
tried first: their medians differed by up to 1.9x between seeds, so the
sample is fixed and the seed does not apply.
"""

from __future__ import annotations

import importlib.util
import json
import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
SMOKE_QUERIES = 4


def pinned() -> dict:
    with open(os.path.join(HERE, "catalog.json")) as f:
        return json.load(f)


def oracle_compare():
    """``compare`` from ``tests/oracle_harness.py``, loaded by path."""
    path = os.path.join(ROOT, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class QueryCatalog:
    def __init__(self, args, tracer, passes: int):
        self.args, self.tracer = args, tracer
        cat = pinned()
        self.names = cat["names"]
        if args.smoke:
            self.sf_dir = os.path.join(DATA, "sf0.001")
            self.passes = [cat["sample"][:SMOKE_QUERIES]]
        else:
            self.sf_dir = os.path.join(DATA, "sf0.01")
            self.passes = [cat["sample"]] * passes

    def stage(self, spark, rep_dir: str) -> None:
        """The inputs are the fixed tables; nothing is generated."""

    def warmup(self, spark) -> None:
        from meshinsights_data_pipeline_spark.session import load_tables

        spark.range(1000).selectExpr("sum(id)").collect()
        for df in load_tables(spark, self.sf_dir, register_views=False).values():
            df.write.format("noop").mode("overwrite").save()

    def install_tracing(self) -> None:
        """Spans come from the op's own build and action calls."""

    def run_pass(self, spark, k: int, ledger) -> list[dict]:
        from meshinsights_data_pipeline_spark.plans.queries import QUERIES

        tr = self.tracer
        ops = []
        if k == 0:
            ops += [{"op": name, "error": f"pinned query {name} is not registered",
                     "latency_s": None}
                    for name in self.names if name not in QUERIES]
        for name in self.passes[k]:
            if name not in QUERIES:
                continue  # already failed above
            rec = {"op": name, "error": None}
            t = time.perf_counter()
            with tr.span("bench.op", op=name):
                try:
                    with tr.span("plans.build", op=name):
                        df = QUERIES[name].spark(spark, self.sf_dir)
                    with tr.span("plans.action", op=name):
                        df.write.format("noop").mode("overwrite").save()
                    rec["result"] = df
                except Exception as exc:  # an op that raises is a failed op
                    rec["error"] = f"{type(exc).__name__}: {exc}"
            rec["latency_s"] = time.perf_counter() - t
            ledger.sample(spark)
            ops.append(rec)
        return ops

    def check(self, spark, ops) -> dict:
        """Each result against its DuckDB oracle, canonicalized as the
        repository's oracle harness does. The compares run in parallel:
        they lie outside the timed work, so this only shortens the run."""
        from concurrent.futures import ThreadPoolExecutor

        from meshinsights_data_pipeline_spark.plans.queries import QUERIES

        compare = oracle_compare()

        def verdict(op) -> str | None:
            oracle = QUERIES[op["op"]].oracle
            if oracle is None:
                return "no oracle to check against"
            rep = compare(op["result"], oracle, self.sf_dir)
            if not (rep["values_match"] and rep["cols_match"] and rep["rowcount_match"]):
                return f"oracle mismatch: {rep}"
            return None

        todo = [op for op in ops if not op.get("error")]
        with ThreadPoolExecutor(os.cpu_count() or 1) as pool:
            verdicts = list(pool.map(verdict, todo))
        return {op["op"]: v for op, v in zip(todo, verdicts) if v}

    def input_record(self) -> dict:
        return {"sf_dir": os.path.relpath(self.sf_dir, ROOT),
                "queries": [n for p in self.passes for n in p],
                "pinned": len(self.names)}

    def layer_metrics(self, passes: int) -> dict:
        out = {"plans.build_s": 0.0, "plans.action_s": 0.0}
        for s in self.tracer.spans:
            if s["name"] in ("plans.build", "plans.action"):
                out[s["name"] + "_s"] += s["end"] - s["start"]
        return {k: v / passes for k, v in out.items()}

    def event_metrics(self, counts: dict, passes: int) -> dict:
        from spans import sum_counts

        build = [s["id"] for s in self.tracer.spans if s["name"] == "plans.build"]
        action = [s["id"] for s in self.tracer.spans if s["name"] == "plans.action"]
        b, a = sum_counts(counts, build), sum_counts(counts, action)
        return {
            "plans.build_jobs": b.get("jobs", 0) / passes,
            "plans.action_jobs": a.get("jobs", 0) / passes,
            "plans.action_stages": a.get("stages", 0) / passes,
            "plans.shuffle_write_bytes": (b.get("shuffle_write_bytes", 0)
                                          + a.get("shuffle_write_bytes", 0)) / passes,
            "plans.spill_bytes": (b.get("spill_bytes", 0)
                                  + a.get("spill_bytes", 0)) / passes,
        }
