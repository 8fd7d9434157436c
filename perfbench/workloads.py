"""The benchmark's workloads, each driven through the package's public API.

``curation_build``
    Full builds of ``demo_curation`` from a dropped schema: per op
    ``Engine(...)``, ``Engine.compile`` and ``Engine.build``.  One
    iteration is one build.  The session's first build is measured, as
    one ``build`` invocation pays it: builds keep getting faster until
    about the fourth of a session, and a single warm-up build would
    make each run about 40% longer while still measuring on that slope.
``query_mix``
    Registry queries (``queries()[name]``) written into the ``noop``
    sink, one op per query, in an order drawn from the seed.  One
    iteration runs every query once.  Set-up runs every query once with
    ``collect()``, always in the same order; those results are what the
    oracle check reads, so checking adds no Spark work to the measured
    ops.  Set-up then runs one unmeasured ``noop`` iteration in that
    order: the first ``noop`` pass after the ``collect()`` pass is still
    on the warm-up slope (in nine runs on a 4-cpu box, a median 5% and
    up to 26% slower than the pass after it).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from harness import Harness, median

HERE = os.path.dirname(os.path.abspath(__file__))

CURATION_PROJECT = "demo_curation"
CURATION_SCHEMA = "curation_dev"
# Node groups reported per layer.  Tests report under their parent
# relation: the three stg_documents tests share one fused scan whose
# jobs land on whichever test runs first.
TOP_NODES = [
    "semantic_dup_flags",
    "quality_weights",
    "docs_despanned",
    "near_dup_flags",
    "doc_quality",
    "doc_safety",
    "stg_documents_tests",
]
QUERY_MIX = [
    "q5_region_revenue",
    "orders_window_zoo",
    "minhash_signatures",
    "docs_gopher_rules",
    "corpus_term_entropy",
    "docs_bpe_encode",
]


def node_key(manifest, uid: str) -> str:
    node = manifest.nodes[uid]
    if node.resource_type == "test":
        parents = [manifest.nodes[d].name for d in node.depends_on if d in manifest.nodes]
        return f"{parents[0] if parents else node.name}_tests"
    return node.name


class CurationBuild:
    name = "curation_build"

    def __init__(self, h: Harness, root: str, seed: int):
        from dbt_core_gcloud_template_spark.plans.runner import Engine

        self.h = h
        self.Engine = Engine
        self.project = os.path.join(root, CURATION_PROJECT)
        self.state_root = os.path.join(h.warehouse, "..", "state")
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f).get(self.name, {})
        self.relations: dict = {}

    def _reset(self) -> None:
        spark = self.h.spark
        spark.sql(f"DROP DATABASE IF EXISTS {CURATION_SCHEMA} CASCADE")
        shutil.rmtree(
            os.path.join(self.h.warehouse, "engine_data", CURATION_SCHEMA),
            ignore_errors=True,
        )
        cat = os.path.join(self.h.warehouse, "engine_catalog.json")
        if os.path.exists(cat):
            os.remove(cat)

    def _build(self):
        h = self.h
        state = os.path.join(self.state_root, f"op{len(h.ops)}")
        with h.span("plans.project.load"):
            eng = self.Engine(h.spark, self.project, state_dir=state)
        with h.span("plans.compiler.compile"):
            eng.compile()
        with h.span("plans.runner.build"):
            results, manifest = eng.build()
        return results, manifest

    def _op(self, phase: str, iteration: int) -> None:
        self._reset()
        rec, out = self.h.op(
            phase,
            iteration,
            "build",
            self._build,
            node_groups=lambda r: [x.unique_id for x in r[0].results],
        )
        if out is None:
            return
        results, manifest = out
        bad = {
            x.unique_id: x.status
            for x in results.results
            if x.status not in ("success", "pass")
        }
        if bad:
            rec["error"] = f"node statuses {bad}"
        t0 = time.perf_counter()
        self._record_nodes(rec, results, manifest)
        self._check_relations(rec, manifest)
        rec["check_s"] = time.perf_counter() - t0

    def _record_nodes(self, rec, results, manifest) -> None:
        h = self.h
        groups: dict[str, dict] = {}
        op_jobs = set(rec["job_ids"])
        for x in results.results:
            g = groups.setdefault(node_key(manifest, x.unique_id), {"s": 0.0, "jobs": []})
            g["s"] += x.execution_time
            g["jobs"] += [j for j in h.tracker.getJobIdsForGroup(x.unique_id) if j in op_jobs]
        rec["nodes"] = {}
        for key, g in groups.items():
            entry = {"s": g["s"], "jobs": len(g["jobs"])}
            if h.trace:
                entry["tasks"] = h.spark_counts(g["jobs"])["tasks"]
            rec["nodes"][key] = entry
        rec["node_sum_s"] = sum(x.execution_time for x in results.results)

    def _check_relations(self, rec, manifest) -> None:
        """Row count and order-insensitive digest of every table the
        build wrote, against the digests recorded for the benchmark's
        input data in ``expected.json``."""
        from verify_local import frame_digest

        spark = self.h.spark
        got = {}
        for node in sorted(manifest.nodes.values(), key=lambda n: n.name):
            if node.resource_type != "model" or node.materialized == "view":
                continue
            df = spark.table(node.fqn)
            got[node.name] = list(frame_digest(df.columns, [tuple(r) for r in df.collect()]))
        self.relations = got
        if got != self.expected:
            diff = sorted(k for k in set(got) | set(self.expected) if got.get(k) != self.expected.get(k))
            rec["error"] = f"relation digests differ from expected.json: {diff}"

    def setup(self) -> None:
        pass  # session start only: the measured build is the session's first

    def iteration(self, index: int) -> None:
        self._op("measure", index)

    def check(self) -> dict[str, str]:
        return {}  # each build is checked right after it ran

    def detail(self) -> dict:
        """The last measured build's nodes, slowest first, each with its
        share of the summed node time, and the relation digests."""
        last = next((r for r in reversed(self.h.ops) if "nodes" in r), None)
        nodes = {}
        if last is not None:
            total = last["node_sum_s"] or 1.0
            for key, e in sorted(last["nodes"].items(), key=lambda kv: -kv[1]["s"]):
                nodes[key] = {**e, "share": e["s"] / total}
        return {
            "nodes": nodes,
            "relations": self.relations,
        }


class QueryMix:
    name = "query_mix"

    def __init__(self, h: Harness, root: str, seed: int):
        from dbt_core_gcloud_template_spark.queries import oracle_sql, queries

        self.h = h
        self.sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
        self.queries = queries()
        self.oracles = oracle_sql()
        self.order = list(QUERY_MIX)
        random.Random(seed).shuffle(self.order)
        self.collected: dict[str, tuple[list[str], list[tuple]]] = {}
        self.digests: dict[str, dict] = {}

    def _query(self, name: str, collect: bool):
        fn = self.queries[name]

        def run():
            with self.h.span(f"query.{name}"):
                df = fn(self.h.spark, self.sf_dir)
                if collect:
                    return df.columns, [tuple(r) for r in df.collect()]
                df.write.format("noop").mode("overwrite").save()
                return True

        return run

    def setup(self) -> None:
        # the same warm-up on every seed: the JIT state the measured
        # iterations start from does not depend on the drawn order
        for name in QUERY_MIX:
            _, out = self.h.op("setup", 0, name, self._query(name, collect=True))
            if out is not None:
                self.collected[name] = out
            self.h.spark.catalog.clearCache()
        self._pass("setup", 1, QUERY_MIX)

    def iteration(self, index: int) -> None:
        self._pass("measure", index, self.order)

    def _pass(self, phase: str, index: int, order: list[str]) -> None:
        for name in order:
            self.h.op(phase, index, name, self._query(name, collect=False))
            # queries may persist intermediates; carrying them into the
            # next query would measure memory pressure, not the query
            self.h.spark.catalog.clearCache()

    def _oracle_digests(self) -> dict[str, list]:
        """Sorted column names, row count and digest of each query's
        DuckDB oracle over the same parquet files."""
        import duckdb
        from verify_local import frame_digest

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                if f.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * "
                        f"FROM '{os.path.join(self.sf_dir, f)}'"
                    )
            out = {}
            for n in self.order:
                res = con.sql(self.oracles[n])
                out[n] = [
                    sorted(res.columns), list(frame_digest(list(res.columns), res.fetchall()))
                ]
            return out
        finally:
            con.close()

    def check(self) -> dict[str, str]:
        """Each query's set-up result against its DuckDB oracle: column
        names, row count and the order-insensitive value digest."""
        from verify_local import frame_digest

        oracle = self._oracle_digests()
        bad = {}
        for name in self.order:
            if name not in self.collected:
                bad[name] = "no set-up result"
                continue
            cols, rows = self.collected[name]
            want_cols, want = oracle[name]
            got = list(frame_digest(cols, rows))
            self.digests[name] = {"spark": got, "oracle": want}
            if sorted(cols) != want_cols or got != want:
                bad[name] = f"spark {got} != oracle {want}"
        return bad

    def detail(self) -> dict:
        """Each query's median measured time and its share of the
        iteration, slowest first, plus the order and the digests."""
        ops = [r for r in self.h.ops if r["phase"] == "measure"]
        times = {q: median(r["s"] for r in ops if r["op"] == q) for q in self.order}
        total = sum(times.values()) or 1.0
        return {
            "queries": {
                q: {"s": t, "share": t / total}
                for q, t in sorted(times.items(), key=lambda kv: -kv[1])
            },
            "order": self.order,
            "digests": self.digests,
        }


WORKLOADS = {w.name: w for w in (CurationBuild, QueryMix)}


def per_iteration(ops: list[dict], key) -> list[float]:
    by_it: dict[int, float] = {}
    for r in ops:
        by_it[r["iteration"]] = by_it.get(r["iteration"], 0.0) + key(r)
    return [by_it[i] for i in sorted(by_it)]


def layer_metrics(h: Harness, session_s: float) -> dict[str, tuple[float, str]]:
    """Per-layer numbers from a traced run: medians over the measured
    iterations of per-iteration sums, zero where the workload does not
    reach the layer."""
    ops = [r for r in h.ops if r["phase"] == "measure"]
    span_s: dict[tuple[int, str], float] = {}
    by_id = {s["id"]: s for s in h.spans}
    for s in h.spans:
        if s["name"].startswith(("plans.", "query.")):
            op = by_id[s["parent"]]
            if op.get("phase") == "measure":
                k = (op["iteration"], s["name"])
                span_s[k] = span_s.get(k, 0.0) + s["end"] - s["start"]
    iters = sorted({r["iteration"] for r in ops})

    def span_median(name: str) -> float:
        return median(span_s.get((i, name), 0.0) for i in iters)

    def it_median(key) -> float:
        return median(per_iteration(ops, key))

    jobs = it_median(lambda r: r["jobs"])
    tasks = it_median(lambda r: r["spark"]["tasks"])
    build_s = span_median("plans.runner.build")
    node_sum = it_median(lambda r: r.get("node_sum_s", 0.0))
    m = {
        "session.start_s": (session_s, "s"),
        "session.peak_rss_mb": (h.procs.jvm_peak_rss_mb(), "MB"),
        "engine.jvm_cpu_s": (it_median(lambda r: r["cpu"]["jvm"]), "s"),
        "functions.udf_cpu_s": (it_median(lambda r: r["cpu"]["workers"]), "s"),
        "driver.py_cpu_s": (it_median(lambda r: r["cpu"]["driver"]), "s"),
        "spark.stages": (it_median(lambda r: r["spark"]["stages"]), "count"),
        "spark.tasks": (tasks, "count"),
        "spark.tasks_per_job": (tasks / jobs if jobs else 0.0, "tasks/job"),
        "spark.failed_tasks": (it_median(lambda r: r["spark"]["failed_tasks"]), "count"),
        "plans.project.load_s": (span_median("plans.project.load"), "s"),
        "plans.compiler.compile_s": (span_median("plans.compiler.compile"), "s"),
        "plans.runner.build_s": (build_s, "s"),
        "plans.runner.node_sum_s": (node_sum, "s"),
        "plans.runner.overlap": (node_sum / build_s if build_s else 0.0, "ratio"),
        "storage.write_mb": (median(r["write_mb"] for r in ops), "MB"),
        "storage.stored_mb": (median(r["stored_mb"] for r in ops), "MB"),
        "trace.iteration_s": (it_median(lambda r: r["s"]), "s"),
        "trace.collect_s": (it_median(lambda r: r["collect_s"]), "s"),
    }
    for node in TOP_NODES:
        for field, unit in (("s", "s"), ("jobs", "count"), ("tasks", "count")):
            m[f"node.{node}.{field}"] = (
                it_median(lambda r: r.get("nodes", {}).get(node, {}).get(field, 0.0)),
                unit,
            )
    for q in QUERY_MIX:
        for field, unit in (("s", "s"), ("jobs", "count"), ("tasks", "count")):
            def get(r, q=q, field=field):
                if r["op"] != q:
                    return 0.0
                return r["spark"]["tasks"] if field == "tasks" else r[field]
            m[f"query.{q}.{field}"] = (it_median(get), unit)
    return m
