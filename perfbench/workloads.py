"""The two workloads. Each one drives the program only through public
functions of ``dic_a1_spark``:

- ``warm_up(k)`` runs untimed warm-up round ``k``;
- ``op(i, traced)`` runs one timed operation and returns its output, which
  ``verify`` checks after the measuring loop;
- ``layers()`` (traced runs only) times prefix materializations of the
  operation's lazy DAG and takes differences, since work in a lazy DAG runs
  only on an action.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import threading

import duckdb

import expected
import tracing

QUERY_MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q9_product_profit",
    "q13_order_count_distribution", "q19_bracketed_revenue",
    "q21_sole_late_supplier", "agg_rollup", "window_running_total",
    "events_session_windows", "events_tumbling_hour",
    "events_asof_click_before_purchase", "sql_top_returned_customers",
    "text_token_stats", "dedup_minhash_groups",
)
# run_pipeline's three driver actions, in the order it calls them.
REVIEWS_COLLECTS = ("reviews.topk_collect", "reviews.vocab_collect", "reviews.counters_collect")
# Queries whose result has a low-cardinality, never-NULL string column to
# partition a written result by.
WRITE_PARTITION = {
    "q1_pricing_summary": "l_returnflag",
    "q3_shipping_priority": "o_orderpriority",
    "q9_product_profit": "nation",
    "events_tumbling_hour": "event_type",
}


def noop(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def timed_prefix(tracer: tracing.Tracer, name: str, action, repeat: int = 2) -> tracing.Span:
    """Run ``action`` ``repeat`` times, each in a span named ``name``, and
    return the fastest span (the first run may also pay one-off costs)."""
    spans = []
    for _ in range(repeat):
        with tracer.span(name) as s:
            action()
        spans.append(s)
    return min(spans, key=lambda s: s.dur)


class Workload:
    name = ""
    cycle = 1  # operations in one pass over the workload's mix
    min_cycles = 1  # measured cycles per run, at least
    trace_cycles = 1  # the same for a traced run, in pairs of operations
    warm_up_rounds = 1  # untimed rounds, at least

    def __init__(self, spark, tracer: tracing.Tracer, manifest: dict, out_dir: str,
                 seed: int, nproc: int):
        self.spark, self.tracer = spark, tracer
        self.manifest, self.out_dir = manifest, out_dir
        self.seed, self.nproc = seed, nproc
        self.exp: dict = {}  # expected outputs, set before verify() runs

    def bytes_written(self, out) -> int:
        return 0


class ReviewsChisq(Workload):
    """The paper's job: ``operators.reviews.run_pipeline`` over the JSONL."""

    name = "reviews_chisq"
    warm_up_rounds = 2
    min_cycles = 2
    trace_cycles = 2

    def warm_up(self, k: int) -> None:
        """Round 0 runs the job on a 5 % prefix of the input (a cold run pays
        class loading and code generation, whatever the input size); later
        rounds run it on the whole input, since the run after a cold one is
        still ~20 % slow while the JIT compiles."""
        from dic_a1_spark.operators import reviews

        m = self.manifest
        reviews.run_pipeline(self.spark, m["prefix_path"] if k == 0 else m["reviews_path"],
                             os.path.join(self.out_dir, "warm-up"), m["stopwords_path"])

    def op(self, i: int, traced: bool):
        from pyspark.sql.classic.dataframe import DataFrame

        from dic_a1_spark.operators import reviews

        out_dir = os.path.join(self.out_dir, f"reviews-{i % 2}")
        m, t = self.manifest, self.tracer
        with contextlib.ExitStack() as stack:
            if traced:
                # The driver actions of run_pipeline, named in call order.
                stack.enter_context(tracing.wrapped(
                    t, [(DataFrame, "collect")],
                    lambda k: REVIEWS_COLLECTS[k] if k < len(REVIEWS_COLLECTS) else f"reviews.collect_{k}"))
                stack.enter_context(tracing.wrapped(
                    t, [(reviews, "reviews_chisq")], "reviews.reviews_chisq"))
                stack.enter_context(t.span("reviews.run_pipeline"))
            lines = reviews.run_pipeline(self.spark, m["reviews_path"], out_dir, m["stopwords_path"])
        with open(os.path.join(out_dir, "counters.txt"), encoding="utf-8") as fh:
            return lines, fh.read()

    def verify(self, out) -> str | None:
        return expected.check_reviews(out[0], out[1].strip(), self.exp)

    def records(self, out) -> int:
        return self.manifest["lines"]

    def input_bytes(self, out) -> int:
        return self.manifest["input_bytes"]

    def layers(self) -> dict:
        from pyspark.sql import functions as F

        from dic_a1_spark.functions import text
        from dic_a1_spark.operators import chisq, reviews
        from dic_a1_spark.sources import readers

        m, t, spark = self.manifest, self.tracer, self.spark
        docs = reviews.reviews_to_docs(spark, m["reviews_path"])
        tok = text.explode_tokens(docs, text_col="text")
        wc = chisq.remove_stopwords_df(tok, readers.read_stopwords(spark, m["stopwords_path"])) \
            .groupBy("word", "category").agg(F.count("*").alias("n"))
        s_read = timed_prefix(t, "sources.read_reviews_json", lambda: noop(docs))
        s_tok = timed_prefix(t, "text.explode_tokens", lambda: noop(tok))
        s_df = timed_prefix(t, "chisq.doc_frequency", lambda: noop(wc))
        with t.span("count"):
            self.token_rows, df_rows = tok.count(), wc.count()
        self.df_span = s_df.id
        return {
            "reviews.topk_collect_s": _median(t.durations("reviews.topk_collect")),
            "reviews.vocab_collect_s": _median(t.durations("reviews.vocab_collect")),
            "reviews.counters_collect_s": _median(t.durations("reviews.counters_collect")),
            "sources.read_reviews_json_s": s_read.dur,
            "text.explode_tokens_s": s_tok.dur - s_read.dur,
            "text.token_rows": self.token_rows,
            "chisq.doc_frequency_s": s_df.dur - s_tok.dur,
            "chisq.doc_frequency_rows": df_rows,
        }

    def log_layers(self, log: tracing.EventLog, per_op: dict) -> dict:
        records = log.totals({self.df_span})["shuffle_write_records"]
        return {
            "sources.input_bytes_read": per_op["input_bytes"],
            "sources.scan_amplification": per_op["input_bytes"] / self.manifest["input_bytes"],
            "chisq.combine_ratio": records / self.token_rows,
        }


class QueryMix(Workload):
    """Closed loop, one client: seeded sequence of short registry queries;
    about one request in five writes its result as partitioned parquet.
    ``dedup_minhash_groups`` over the planted-cluster ``documents`` table is
    one of the queries, and the traced run decomposes it by layer."""

    name = "query_mix"
    warm_up_rounds = 1
    min_cycles = 3  # 54 requests: the tail (ten samples beyond it) is p81.5

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        # The seed shuffles each cycle of requests: every query once plus one
        # write per writable query, so any window of one cycle or more holds
        # the same mix whatever the seed.
        rng = random.Random(self.seed)
        cycle = [(n, False) for n in QUERY_MIX] + [(n, True) for n in sorted(WRITE_PARTITION)]
        self.cycle = len(cycle)
        self.sequence = []
        for _ in range(1000):
            rng.shuffle(cycle)
            self.sequence += cycle
        self.tables: dict[str, list[str]] = {}

    def warm_up(self, k: int) -> None:
        """Each round runs every query once, ``nproc`` at a time: first runs
        are slow mostly for class loading, code generation and JIT
        compilation, which overlap well. Round 0 also records which tables
        each query loads."""
        from concurrent.futures import ThreadPoolExecutor

        from dic_a1_spark.registry import all_queries
        from dic_a1_spark.sources.readers import load_table

        if k > 0:
            with ThreadPoolExecutor(self.nproc) as pool:
                list(pool.map(lambda n: self._request(n, None, traced=False), QUERY_MIX))
            return
        all_queries()  # import every module before patching their globals
        current = threading.local()
        seen: dict[str, set[str]] = {name: set() for name in QUERY_MIX}

        def run(name: str) -> None:
            current.name = name
            self._request(name, None, traced=False)

        with tracing.wrapped(self.tracer, tracing.module_refs(load_table), "sources.load_table",
                             on_call=lambda a: seen[current.name].add(a[2])):
            with ThreadPoolExecutor(self.nproc) as pool:
                list(pool.map(run, QUERY_MIX))
        self.tables = {name: sorted(t) for name, t in seen.items()}

    def op(self, i: int, traced: bool):
        name, write = self.sequence[i]
        path = os.path.join(self.out_dir, f"req-{i}") if write else None
        if not traced:
            return self._request(name, path, traced)
        from dic_a1_spark.sources.readers import load_table

        with tracing.wrapped(self.tracer, tracing.module_refs(load_table), "sources.load_table"):
            return self._request(name, path, traced)

    def _request(self, name: str, path: str | None, traced: bool):
        from dic_a1_spark.plans.explain import formatted_plan
        from dic_a1_spark.registry import all_queries
        from dic_a1_spark.sources.sinks import write_partitioned_parquet

        t = self.tracer
        with t.span("query_mix.request"):
            with t.span("registry.build"):
                df = all_queries()[name](self.spark, self.manifest["sf_dir"])
            if traced:
                with t.span("plans.formatted_plan"):
                    formatted_plan(df)
            if path is not None:
                with t.span("sinks.write_partitioned_parquet"):
                    write_partitioned_parquet(df, path, [WRITE_PARTITION[name]])
                return name, path, None
            with t.span("collect"):
                return name, df.columns, df.collect()

    def verify(self, out) -> str | None:
        name, cols, rows = out
        if rows is None:  # a written result: read it back independently
            con = duckdb.connect()
            try:
                res = con.execute(
                    f"SELECT * FROM read_parquet('{cols}/**/*.parquet', hive_partitioning = true)")
                cols, rows = [d[0] for d in res.description], res.fetchall()
            finally:
                con.close()
        return expected.check_rows(cols, rows, self.exp[name])

    def records(self, out) -> int:
        return sum(self.manifest["rows"][t] for t in self.tables[out[0]])

    def input_bytes(self, out) -> int:
        return sum(self.manifest["bytes"][t] for t in self.tables[out[0]])

    def bytes_written(self, out) -> int:
        if out[2] is not None:
            return 0
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(out[1]) for f in files
        )

    def layers(self) -> dict:
        ms = lambda name: 1e3 * _median(self.tracer.durations(name))  # noqa: E731
        return {
            "registry.build_ms": ms("registry.build"),
            "sources.load_table_ms": 1e3 * _per_root(self.tracer, "sources.load_table"),
            "plans.formatted_plan_ms": ms("plans.formatted_plan"),
            "sinks.write_ms": ms("sinks.write_partitioned_parquet"),
            **self._dedup_layers(),
        }

    def _dedup_layers(self) -> dict:
        """dedup_minhash_groups by prefix: scan, MinHash signatures (shingle
        hashing + the Arrow pass), band buckets, label propagation."""
        from pyspark.sql import functions as F

        from dic_a1_spark.operators import dedup
        from dic_a1_spark.sources.readers import load_table

        t, spark = self.tracer, self.spark
        docs = load_table(spark, self.manifest["sf_dir"], "documents")
        sig = dedup.minhash_signatures(docs)
        buckets = dedup.minhash_band_buckets(docs)
        s_scan = timed_prefix(t, "dedup.scan", lambda: noop(docs))
        s_sig = timed_prefix(t, "dedup.minhash_signatures", lambda: noop(sig))
        s_bb = timed_prefix(t, "dedup.minhash_band_buckets", lambda: noop(buckets))
        s_lp = timed_prefix(
            t, "dedup.label_propagate",
            lambda: dedup.label_propagate(docs, dedup.minhash_band_buckets(docs)).collect())
        with t.span("count"):
            shared = buckets.groupBy("bucket").count().where(F.col("count") > 1)
            edges = shared.agg(F.sum("count")).collect()[0][0] or 0
        self.sig_span, self.lp_span = s_sig.id, s_lp.id
        return {
            "dedup.minhash_signatures_s": s_sig.dur - s_scan.dur,
            "dedup.band_buckets_s": s_bb.dur - s_sig.dur,
            "dedup.edges": edges,
            "dedup.label_propagate_s": s_lp.dur - s_bb.dur,
        }

    def log_layers(self, log: tracing.EventLog, per_op: dict) -> dict:
        sig = log.totals({self.sig_span})
        return {
            "dedup.lp_jobs": log.totals({self.lp_span})["jobs"],
            "udf.python_bytes_sent": sig["python_bytes_sent"],
            "udf.python_rows": sig["python_rows"],
        }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _per_root(tracer: tracing.Tracer, name: str) -> float:
    """Median over traced requests of the summed duration of ``name`` spans."""
    per: dict[int, float] = {}
    for s in tracer.spans:
        if s.name == name:
            per[tracer.root_of(s.id)] = per.get(tracer.root_of(s.id), 0.0) + s.dur
    return _median(list(per.values()))


WORKLOADS = {w.name: w for w in (ReviewsChisq, QueryMix)}
