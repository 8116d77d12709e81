"""The benchmark workloads.

Each workload generates its inputs from the seed (``setup``), runs an
untimed pass that warms the JVM and checks every output against an
independent oracle (``prepare``), then yields passes of closed-loop
operations for the harness to time (``pass_ops``).  An operation returns
whether its output was right; a wrong or failed output counts in
``failed``.  Traced runs add ``layers``: per-layer numbers taken from
spans, prefix ladders and the Spark event log.

Why these (see NOTES.md): the spatial leaves are JVM codegen, broadcast
and shuffle with almost no Python; the dedup leaves are shuffle, pair
fan-out and iterative jobs; the WARC epochs are the only path through
``sources`` and ``plans``.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
from geoio_jl_spark import queries as Q
from geoio_jl_spark.functions.textkernels import html_to_text
from geoio_jl_spark.operators import sjoin as SJ
from geoio_jl_spark.operators.cells import assign_cells
from geoio_jl_spark.plans import store as ST
from geoio_jl_spark.sources import warc

# --- shared helpers ---------------------------------------------------------


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _norm(v):
    # -0.0 and 0.0 are the same value (mercator3395 returns 0.0 on the
    # equator where its DuckDB oracle returns -0.0)
    return v + 0.0 if isinstance(v, float) else v


def _key(row: tuple) -> tuple:
    return tuple((1, v, "") if isinstance(v, float) else (0, 0.0, str(v))
                 for v in row)


def canon(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Rows with columns in name order, sorted: an order-insensitive
    form of a result (as tools/parity_check.py compares results)."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=cols.__getitem__)
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                 key=_key)
    return [cols[i] for i in order], out


def canon_arrow(table: pa.Table) -> tuple[list[str], list[tuple]]:
    return canon(table.column_names,
                 zip(*[c.to_pylist() for c in table.columns]))


def _value_eq(u, v) -> bool:
    if u == v:
        return True
    # doubles from transcendental functions: the JVM and DuckDB may differ
    # in the last ulp, which can flip the 4th decimal the registry rounds
    # projected coordinates to
    return (isinstance(u, float) and isinstance(v, float)
            and (abs(u - v) <= 1.0001e-4 or math.isclose(u, v, rel_tol=1e-9)))


def same(a: tuple, b: tuple) -> bool:
    (ca, ra), (cb, rb) = a, b
    return (ca == cb and len(ra) == len(rb)
            and all(all(map(_value_eq, x, y)) for x, y in zip(ra, rb)))


def _column_sum(result: tuple, column: str) -> float:
    cols, rows = result
    i = cols.index(column)
    return float(sum(r[i] for r in rows))


def duck(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def prefix_ladder(ctx, stages, reps: int = 2) -> dict[str, float]:
    """Time each prefix of a fused pipeline (``stages()`` builds them as
    (name, DataFrame)) into a noop sink, except a final ``aggregate``
    prefix, which is collected as the timed pass does, ``reps`` times.
    Return each stage's self time: the difference between the medians of
    consecutive prefixes."""
    times: dict[str, list[float]] = defaultdict(list)
    for rep in range(reps):
        for name, df in stages():
            ctx.group(f"ladder{rep}:{name}")
            with ctx.tracer.span("ladder." + name):
                t = time.perf_counter()
                df.collect() if name == "aggregate" else noop(df)
                times[name].append(time.perf_counter() - t)
    med = {k: statistics.median(v) for k, v in times.items()}
    names = list(med)
    return {b: med[b] - (med[a] if a else 0.0)
            for a, b in zip([None] + names, names)}


class Workload:
    name = ""
    task_cpus = 1
    warmup_passes = 1   # untimed passes between prepare() and timing

    def __init__(self, scale: dict):
        self.scale = scale
        self.verdict: dict[str, bool] = {}   # op label -> output checked ok

    def setup(self, ctx) -> dict:
        raise NotImplementedError

    def prepare(self, ctx) -> None:
        raise NotImplementedError

    def pass_ops(self, ctx):
        raise NotImplementedError

    def after_pass(self, ctx) -> None:
        pass

    def finish(self, ctx) -> bool:
        """Final untimed check of state the operations built up."""
        return True

    def docs_per_s(self, res: dict) -> float:
        raise NotImplementedError

    def named(self, res: dict) -> dict:
        """The workload's named end-to-end figures (NOTES.md table)."""
        return {}

    def ladder(self, ctx) -> None:
        """Traced runs only: untimed extra actions the per-layer numbers
        need (prefix ladders), run while the session is still up."""

    @classmethod
    def layer_names(cls) -> frozenset[str]:
        """The workload's own per-layer metric names: exactly the keys
        ``layers`` returns."""
        return frozenset()

    def layers(self, ctx, ev, res: dict) -> dict:
        return {}


# --- registry query-leaf mixes ----------------------------------------------

PREPARE_THREADS = 3


class LeafMix(Workload):
    """One operation = one registry query leaf: the builder call (the
    ``queries`` layer, including any eager driver jobs it runs) plus one
    action into the leaf's sink.  A pass runs every leaf once in a
    seed-shuffled order."""

    leaves: dict[str, str] = {}   # leaf -> timed sink ("collect" | "noop")
    tables = ["documents", "nation"]

    def setup(self, ctx) -> dict:
        s = self.scale
        with ctx.tracer.span("datagen.generate"):
            docs, props = inputs.documents(
                ctx.seed, s["docs"], s["dup_share"], s["near_share"],
                s["cluster"], s["tokens"])
        props["parquet_bytes"] = inputs.write_tables(
            ctx.data, {"documents": docs, "nation": inputs.nation()},
            ctx.cores)
        return props

    def prepare(self, ctx) -> None:
        """Run each leaf once (this also warms codegen and the JIT), and
        compare its full output with the registry's DuckDB oracle SQL on
        the same generated files.  Untimed, so it runs leaves in parallel
        threads (Spark accepts concurrent jobs; the cold pass is mostly
        driver-side planning and code generation) beside the oracles."""
        reg = Q.registry()

        def oracles() -> dict[str, tuple]:
            con = duck(ctx.data, self.tables)
            by_sql = {}   # the three kNN leaves share one oracle
            try:
                for leaf in self.leaves:
                    sql = reg[leaf][1]
                    if sql not in by_sql:
                        by_sql[sql] = canon_arrow(con.execute(sql).arrow())
            finally:
                con.close()
            return {leaf: by_sql[reg[leaf][1]] for leaf in self.leaves}

        def spark_leaf(leaf: str) -> tuple:
            ctx.group(f"prepare:{leaf}")
            return canon_arrow(reg[leaf][0](ctx.spark, ctx.data).toArrow())

        with ThreadPoolExecutor(PREPARE_THREADS + 1) as pool:
            future = pool.submit(oracles)
            got = dict(zip(self.leaves, pool.map(spark_leaf, self.leaves)))
            self.expected = future.result()
        self.rows = {leaf: len(want[1]) for leaf, want in self.expected.items()}
        for leaf in self.leaves:
            self.verdict[leaf] = same(got[leaf], self.expected[leaf])

    def pass_ops(self, ctx):
        order = list(self.leaves)
        ctx.rng.shuffle(order)
        reg = Q.registry()
        return [(leaf, self._op(ctx, leaf, reg[leaf][0])) for leaf in order]

    def _op(self, ctx, leaf, fn):
        def run() -> bool:
            with ctx.tracer.span("queries.build", leaf=leaf):
                df = fn(ctx.spark, ctx.data)
            with ctx.tracer.span("queries.exec", leaf=leaf):
                if self.leaves[leaf] == "noop":
                    noop(df)
                    return self.verdict[leaf]
                rows = df.collect()
            return (self.verdict[leaf]
                    and same(canon(df.columns, rows), self.expected[leaf]))
        return run

    def docs_per_s(self, res: dict) -> float:
        """Documents scanned per second: each leaf reads the table once."""
        return self.scale["docs"] * len(self.leaves) / res["pass_s"]

    def named(self, res: dict) -> dict:
        p = self.name.split("_")[0]
        return {f"{p}_pass_s": res["pass_s"],
                f"{p}_query_p50_s": res["op_p50_s"],
                f"{p}_query_p90_s": res["op_p90_s"]}

    @classmethod
    def layer_names(cls) -> frozenset[str]:
        return frozenset(["trace.self_residual_s"] + [
            f"queries.{leaf}.{k}" for leaf in cls.leaves
            for k in ("exec_s", "jobs")])

    def layers(self, ctx, ev, res: dict) -> dict:
        out = {}
        for leaf in self.leaves:
            ex = [s["end"] - s["start"] for s in ctx.tracer.spans
                  if s["name"] == "queries.exec" and s["pass"]
                  and s["attrs"].get("leaf") == leaf]
            groups = ev.groups_matching(lambda g, l=leaf: g.endswith(":" + l)
                                        and g.startswith("timed"))
            out[f"queries.{leaf}.exec_s"] = statistics.median(ex)
            out[f"queries.{leaf}.jobs"] = ev.total(groups, "jobs") / len(ex)
        selfs = [s["end"] - s["start"] for s in ctx.tracer.spans
                 if s["name"] in ("queries.build", "queries.exec")
                 and s["pass"]]
        out["trace.self_residual_s"] = (
            res["pass_s"] - sum(selfs) / len(res["passes_s"]))
        return out


class SpatialJoins(LeafMix):
    name = "spatial_joins"
    # The point-in-polygon leaf, the three kNN strategies side by side, and
    # one point-free fixed-cost control (grid_tiles).  The other spatial
    # leaves are left out to keep a run inside the benchmark's time budget
    # (NOTES.md).  Sink: collect, as a caller reads these small results.
    leaves = {leaf: "collect" for leaf in (
        "pip_count", "knn_join", "knn_join_partial", "knn_join_pruned",
        "grid_tiles")}

    def ladder(self, ctx) -> None:
        """Prefix ladder of the pip_count leaf: point scan, + cell
        assignment, + broadcast cell join with the exact refine, +
        per-polygon count."""
        def stages():
            pts = Q._docs_points(ctx.spark, ctx.data)
            pairs = SJ.point_in_polygon_join(
                pts, Q._triangles(ctx.spark, ctx.data), res=3, wkb_col=None,
                refine=Q._sign_test_refine, broadcast_polygons=True)
            return [("scan", pts),
                    ("operators.cells.assign", assign_cells(pts, res=3)),
                    ("operators.sjoin.join", pairs),
                    ("aggregate", pairs.groupBy("poly_id").count())]
        self.selfs = prefix_ladder(ctx, stages)

    @classmethod
    def layer_names(cls) -> frozenset[str]:
        return super().layer_names() | {
            "operators.cells.assign_s", "trace.scan_s", "trace.aggregate_s",
            "operators.sjoin.candidate_pairs", "operators.sjoin.refine_ratio",
            "operators.sjoin.broadcast_bytes",
            "operators.sjoin.broadcast_build_s", "operators.sjoin.join_s",
            "operators.knn.window.rows_per_result",
            "operators.knn.partial.rows_per_result",
            "operators.knn.pruned.rows_per_result"}

    def layers(self, ctx, ev, res: dict) -> dict:
        out = super().layers(ctx, ev, res)
        out["operators.cells.assign_s"] = self.selfs["operators.cells.assign"]
        out["trace.scan_s"] = self.selfs["scan"]
        out["trace.aggregate_s"] = self.selfs["aggregate"]
        timed = ev.groups_matching(lambda g: g.startswith("timed"))
        pip = [g for g in timed if g.endswith(":pip_count")]
        cand = ev.node_metric(pip, "BroadcastHashJoin", "number of output rows")
        kept = _column_sum(self.expected["pip_count"], "n_docs")
        n = max(len(pip), 1)
        out["operators.sjoin.candidate_pairs"] = cand / n
        out["operators.sjoin.refine_ratio"] = kept / cand if cand else 0.0
        out["operators.sjoin.broadcast_bytes"] = ev.node_metric(
            pip, "BroadcastExchange", "data size") / n
        out["operators.sjoin.broadcast_build_s"] = ev.node_metric(
            pip, "BroadcastExchange", "time to build") / 1e3 / n
        out["operators.sjoin.join_s"] = self.selfs["operators.sjoin.join"]
        for leaf, key in (("knn_join", "window"), ("knn_join_partial",
                                                   "partial"),
                          ("knn_join_pruned", "pruned")):
            g = [x for x in timed if x.endswith(":" + leaf)]
            rows = ev.node_metric(g, "", "number of output rows")
            out[f"operators.knn.{key}.rows_per_result"] = (
                rows / len(g) / self.rows[leaf] if g else 0.0)
        return out


class DedupCuration(LeafMix):
    name = "dedup_curation"
    # The MinHash, n-gram pair and components leaves plus pii_redact; the
    # other dedup leaves are left out to keep a run inside the time budget
    # (NOTES.md).  Every leaf feeds a later curation stage, so each is
    # written on (noop sink); prepare() checked its output.
    leaves = {leaf: "noop" for leaf in (
        "minhash_lsh", "connected_components", "ngram_jaccard",
        "pii_redact")}

    def _op(self, ctx, leaf, fn):
        run = super()._op(ctx, leaf, fn)
        if leaf != "connected_components" or not ctx.tracer.enabled:
            return run

        def counted() -> bool:
            # components runs one take(1) convergence probe per round plus
            # one emptiness probe: count them to get the round count
            cls = type(ctx.spark.range(1))
            orig = cls.take
            calls = []

            def take(df, n):
                calls.append(n)
                return orig(df, n)
            cls.take = take
            try:
                return run()
            finally:
                cls.take = orig
                ctx.tracer.spans[-1]["attrs"]["takes"] = len(calls)
        return counted

    def ladder(self, ctx) -> None:
        """The largest shingle bucket (posting list) of the n-gram pair
        stage: the fan-out a single pair task can be handed."""
        from geoio_jl_spark.operators.dedup import exploded_shingles
        docs = ctx.spark.read.parquet(f"{ctx.data}/documents.parquet")
        ctx.group("ladder:max_bucket")
        self.max_bucket = float(exploded_shingles(docs).groupBy("sh").count()
                                .agg(F.max("count")).first()[0])

    @classmethod
    def layer_names(cls) -> frozenset[str]:
        return super().layer_names() | {
            "operators.dedup.candidate_pairs", "operators.dedup.pair_yield",
            "operators.dedup.max_bucket", "operators.dedup.task_skew",
            "operators.components.rounds", "operators.components.jobs"}

    def layers(self, ctx, ev, res: dict) -> dict:
        out = super().layers(ctx, ev, res)
        timed = ev.groups_matching(lambda g: g.startswith("timed"))
        lsh = [g for g in timed if g.endswith(":minhash_lsh")]
        cand = sum(ev.node_metric([g], "SortMergeJoin", "number of output rows")
                   + ev.node_metric([g], "BroadcastHashJoin",
                                    "number of output rows")
                   + ev.node_metric([g], "ShuffledHashJoin",
                                    "number of output rows") for g in lsh)
        cand /= max(len(lsh), 1)
        out["operators.dedup.candidate_pairs"] = cand
        out["operators.dedup.pair_yield"] = (
            self.rows["minhash_lsh"] / cand if cand else 0.0)
        out["operators.dedup.max_bucket"] = self.max_bucket
        out["operators.dedup.task_skew"] = ev.task_skew(
            [g for g in timed if g.endswith(":ngram_jaccard")])
        takes = [s["attrs"].get("takes", 0) for s in ctx.tracer.spans
                 if s["name"] == "queries.exec" and s["pass"]
                 and s["attrs"].get("leaf") == "connected_components"]
        out["operators.components.rounds"] = float(
            statistics.median(takes) - 1) if takes else 0.0
        out["operators.components.jobs"] = \
            out["queries.connected_components.jobs"]
        return out


# --- WARC crawl epochs --------------------------------------------------------

class WarcIngest(Workload):
    """One pass = one crawl epoch of two operations: ingest a landed
    ``.warc.gz`` segment set (read → html_to_text → CDC delta write), then
    read the merged view."""

    name = "warc_ingest"
    task_cpus = 2
    warmup_passes = 0   # prepare() ingests the initial crawl; epochs are
                        # steady from the first

    def setup(self, ctx) -> dict:
        s = self.scale
        self.crawl = inputs.Crawl(ctx.seed, s["records_per_segment"],
                                  s["segments"], s["new_share"],
                                  s["changed_share"])
        with ctx.tracer.span("datagen.generate"):
            props = self.crawl.epoch(self._seg(ctx, 0), 0, initial=True)
        props.update(new_share=s["new_share"],
                     changed_share=s["changed_share"])
        return props

    def _seg(self, ctx, epoch: int) -> str:
        return f"{ctx.data}/crawl/epoch={epoch}"

    def _incoming(self, ctx, epoch: int) -> DataFrame:
        recs = warc.read(ctx.spark, self._seg(ctx, epoch))
        return (recs.filter(F.col("warc_type") == "response")
                .select(F.col("target_uri").alias("url"),
                        html_to_text("payload").alias("text")))

    def prepare(self, ctx) -> None:
        """Ingest the initial crawl (all inserts) and read it back once;
        this warms every operation's code path."""
        self.store = f"{ctx.data}/store"
        self.epoch = 0
        self.epoch_props = {}
        self.stats: dict[str, list[float]] = {}
        ctx.group("prepare:ingest")
        got = ST.ingest(ctx.spark, self.store, self._incoming(ctx, 0), 0)
        self.verdict["initial"] = got["inserted"] == len(self.crawl.expected)
        ctx.group("prepare:resolve")
        noop(ST.resolve(ctx.spark, self.store))

    def pass_ops(self, ctx):
        """Land the next epoch's segments (untimed); return its two
        operations, the ingest and then a read of the merged view."""
        self.epoch += 1
        e = self.epoch
        props = self.crawl.epoch(self._seg(ctx, e), e)
        self.epoch_props[e] = props

        def ingest() -> bool:
            with ctx.tracer.span("plans.store.ingest", epoch=e):
                got = ST.ingest(ctx.spark, self.store, self._incoming(ctx, e),
                                e)
            self._stat("rows_written", got["inserted"] + got["updated"])
            return (self.verdict["initial"] and got["inserted"] == props["new"]
                    and got["updated"] == props["changed"])

        def resolve() -> bool:   # its output is checked by finish()
            with ctx.tracer.span("plans.store.resolve", epoch=e):
                noop(ST.resolve(ctx.spark, self.store))
            return True

        return [("ingest", ingest), ("resolve", resolve)]

    def _stat(self, key: str, value: float) -> None:
        self.stats.setdefault(key, []).append(value)

    def after_pass(self, ctx) -> None:
        """Drop the ingested segments; every ``compact_every``-th epoch
        compact the store (maintenance between epochs: its time is the
        per-layer ``plans.store.compact_s``, not part of a pass)."""
        shutil.rmtree(self._seg(ctx, self.epoch), ignore_errors=True)
        self._stat("delta_bytes", du(ST._delta_dir(self.store, self.epoch)))
        if self.epoch % self.scale["compact_every"]:
            return
        ctx.group(f"compact{self.epoch}")
        t = time.perf_counter()
        with ctx.tracer.span("plans.store.compact", epoch=self.epoch):
            ST.compact(ctx.spark, self.store)
        self._stat("compact_s", time.perf_counter() - t)
        self._stat("bytes_rewritten", du(os.path.join(self.store, "base")))

    def finish(self, ctx) -> bool:
        """The merged view must equal the crawl's expected url → text."""
        ctx.group("check:resolve")
        got = ST.resolve(ctx.spark, self.store).select("url", "text").toArrow()
        self.live_bytes = self.crawl.live_text_bytes()
        self.live_pages = len(self.crawl.expected)
        self.store_bytes = du(self.store)
        return dict(zip(got.column("url").to_pylist(),
                        got.column("text").to_pylist())) == self.crawl.expected

    def docs_per_s(self, res: dict) -> float:
        """Pages per second from landed segment to committed delta."""
        n = self.scale["records_per_segment"] * self.scale["segments"]
        return n / res["by_label"]["ingest"]

    def named(self, res: dict) -> dict:
        return {"ingest_docs_per_s": res["docs_per_s"],
                "resolve_p50_s": res["by_label"]["resolve"],
                "store_bytes_per_user_byte": self.store_bytes
                / self.live_bytes}

    def ladder(self, ctx) -> None:
        """Prefix ladder on a fresh epoch's segments: read, then read +
        html_to_text."""
        e = self.epoch + 1
        self.ladder_props = self.crawl.epoch(self._seg(ctx, e), e)
        self.selfs = prefix_ladder(ctx, lambda: [
            ("read", warc.read(ctx.spark, self._seg(ctx, e))),
            ("extract", self._incoming(ctx, e))])

    @classmethod
    def layer_names(cls) -> frozenset[str]:
        return frozenset(["trace.self_residual_s"] + [
            f"sources.warc.{k}" for k in (
                "read_s", "records", "bytes_in", "records_per_s",
                "records_per_segment")] + [
            f"functions.textkernels.{k}" for k in (
                "extract_s", "rows", "python_bytes_sent",
                "python_bytes_received")] + [
            f"plans.store.{k}" for k in (
                "ingest_s", "rows_written", "delta_bytes",
                "write_amplification", "resolve_s", "compact_s",
                "bytes_rewritten")])

    def layers(self, ctx, ev, res: dict) -> dict:
        """Store self time is the ingest time minus the read + extract
        prefix."""
        props = self.ladder_props
        read_s = self.selfs["read"]
        ext = ev.groups_matching(lambda g: g.endswith(":extract"))
        st = self.stats
        delta = statistics.median(st["delta_bytes"])
        changed_bytes = statistics.median(
            self._changed_text_bytes(p) for p in self.epoch_props.values())
        return {
            "sources.warc.read_s": read_s,
            "sources.warc.records": float(props["records"]),
            "sources.warc.bytes_in": float(props["bytes"]),
            "sources.warc.records_per_s": props["records"] / read_s,
            "sources.warc.records_per_segment": float(
                props["records_per_segment"]),
            "functions.textkernels.extract_s": self.selfs["extract"],
            "functions.textkernels.rows": float(props["records"]),
            "functions.textkernels.python_bytes_sent": ev.node_metric(
                ext, "ArrowEvalPython", "data sent to Python workers")
            / max(len(ext), 1),
            "functions.textkernels.python_bytes_received": ev.node_metric(
                ext, "ArrowEvalPython", "data returned from Python workers")
            / max(len(ext), 1),
            "plans.store.ingest_s": res["by_label"]["ingest"],
            "plans.store.rows_written": statistics.median(st["rows_written"]),
            "plans.store.delta_bytes": delta,
            "plans.store.write_amplification": delta / changed_bytes,
            "plans.store.resolve_s": res["by_label"]["resolve"],
            "plans.store.compact_s": statistics.median(
                st.get("compact_s") or [0.0]),
            "plans.store.bytes_rewritten": statistics.median(
                st.get("bytes_rewritten") or [0.0]),
            "trace.self_residual_s": res["pass_s"] - res["by_label"][
                "ingest"] - res["by_label"]["resolve"],
        }

    def _changed_text_bytes(self, props: dict) -> float:
        # new and changed pages carry ~the same text size as any page
        per_page = self.live_bytes / self.live_pages
        return (props["new"] + props["changed"]) * per_page


WORKLOADS = {w.name: w for w in (SpatialJoins, DedupCuration, WarcIngest)}

# Sizes per scale.  "full" is what the benchmark measures; "tiny" is the
# self-test's.
SCALES = {
    "full": {
        "spatial_joins": {"docs": 60_000, "dup_share": 0.0,
                          "near_share": 0.0, "cluster": 4, "tokens": (1, 3)},
        "dedup_curation": {"docs": 400, "dup_share": 0.05,
                           "near_share": 0.2, "cluster": 4,
                           "tokens": (15, 45)},
        "warc_ingest": {"records_per_segment": 5000, "segments": 2,
                        "new_share": 0.1, "changed_share": 0.2,
                        "compact_every": 2},
    },
    "tiny": {
        "spatial_joins": {"docs": 2_000, "dup_share": 0.0,
                          "near_share": 0.0, "cluster": 4, "tokens": (1, 3)},
        "dedup_curation": {"docs": 120, "dup_share": 0.05,
                           "near_share": 0.2, "cluster": 4,
                           "tokens": (10, 20)},
        "warc_ingest": {"records_per_segment": 200, "segments": 2,
                        "new_share": 0.1, "changed_share": 0.2,
                        "compact_every": 2},
    },
}


def seeded_rng(seed: int) -> random.Random:
    return random.Random(seed * 1_000_003 + 17)
