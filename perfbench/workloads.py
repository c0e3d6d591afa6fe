"""The benchmark workloads.

Each workload is a closed loop with one client: a single driver
thread issues its next operation only after the previous one has
completed. A workload's ``setup`` prepares its inputs and expected
results, ``cycle`` runs one pass, and ``more`` says whether another
cycle has input left. Every operation goes through ``Run.op``, which
times it, counts it as attempted, and counts it as failed when it
raises or its result is wrong.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from datetime import datetime, timedelta, timezone

import duckdb
import numpy as np

import gen
from tools.check_correctness import canonical  # the order-insensitive value hash

# The 14 queries of the historical headline basket (bench.py HEADLINE).
BASKET = [
    "pricing_summary",
    "star_revenue_by_region_year",
    "dedup_latest_order_per_customer",
    "top3_orders_per_customer",
    "ytd_running_revenue",
    "yoy_monthly_revenue",
    "quality_split_buckets",
    "dq_reasons_orders",
    "events_hourly_tumbling",
    "state_latest_per_user",
    "docs_exact_dedup",
    "docs_jaccard_pairs",
    "embeddings_knn_bruteforce",
    "embeddings_ivf_assign",
]

# Input sizes.
QUERY_ORDERS = 5_000  # orders rows; lineitem has 4x, events 2/3x
CLAIMS = 2_000  # valid claims in delivery 1 (about 117 bytes per row)
CORPUS_DOCS = 800
CORPUS_INCREMENTS = 2
SERVES_PER_PHASE = 5  # lookups after apply, and again after maintenance
ERASE_SHARE = 0.05
IVF_K = 8


class Run:
    """One benchmark run: session, tracer, scratch space, and the log
    of timed operations."""

    def __init__(self, spark, tracer, work: str, seed: int, pids: list[int]):
        self.spark = spark
        self.pids = pids  # the Python driver and the driver JVM
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # wall and CPU seconds of every measured request and cycle
        self.ops: list[float] = []
        self.ops_cpu: list[float] = []
        self.cycles: list[float] = []
        self.cycles_cpu: list[float] = []
        # the workload-specific figures (name -> samples), reported
        # by name in the summary and as per-layer metrics
        self.named: dict[str, list[float]] = defaultdict(list)
        self.setup: dict[str, float] = defaultdict(float)

    def cpu(self) -> float:
        """User plus system CPU seconds used so far by the driver
        processes; in local mode the executors are threads of the
        driver JVM, so this is all the engine's CPU."""
        ticks = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
        return ticks / os.sysconf("SC_CLK_TCK")

    @property
    def measuring(self) -> bool:
        return self.tracer.cycle >= 0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"FAILED: {what}", file=sys.stderr, flush=True)

    def op(self, span: str, fn, check=None, record: str | None = None,
           request: bool = True):
        """Run one timed operation inside a span. ``check(result)``
        returns True when the result is right. When measuring, the
        latency of a request (a query, a lookup, a pipeline layer run)
        is logged for the op percentiles, and any latency under
        ``record`` in ``named``. Returns the result, or None when the operation
        raised."""
        self.attempted += 1
        t0, c0 = time.perf_counter(), self.cpu()
        try:
            with self.tracer.span(span):
                result = fn()
        except Exception:
            traceback.print_exc()
            self.fail(f"{span}: raised")
            return None
        dt, dc = time.perf_counter() - t0, self.cpu() - c0
        if self.measuring:
            if request:
                self.ops.append(dt)
                self.ops_cpu.append(dc)
            if record:
                self.named[record].append(dt)
        if check is not None:
            try:
                ok = check(result)
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                self.fail(f"{span}: wrong result")
        return result


def noop_observed(df, exprs):
    """Execute ``df`` in full into the noop sink (no column pruning, no
    driver transfer) and return the observed aggregate ``exprs``,
    computed in the same execution."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    return obs.get


def release_caches(spark) -> None:
    """Drop what a query cached, so the next execution of the same plan
    recomputes it (as tools/opt_measure.py does between runs)."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


# -- query_mix ---------------------------------------------------------------


class QueryMix:
    """The 14-query headline basket over read-only seeded tables. Each
    pass runs the basket in a seeded order. Set-up computes every
    query's DuckDB oracle result and its canonical hash; every
    execution, the warm-up pass included, must reproduce it."""

    def __init__(self, run: Run):
        self.run = run
        self.dir = os.path.join(run.work, "tables")

    def setup(self) -> None:
        from fabric_claims_spark.queries import load_all_queries

        run = self.run
        t0 = time.perf_counter()
        gen.write_tables(self.dir, run.seed, QUERY_ORDERS)
        registry = load_all_queries()
        self.registry = {q: registry[q] for q in BASKET}
        run.setup["generate_s"] += time.perf_counter() - t0

        t0 = time.perf_counter()
        con = duckdb.connect()
        for f in os.listdir(self.dir):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{self.dir}/{f}')"
            )
        self.expected = {
            q: canonical(con.execute(s.oracle).fetchdf()) for q, s in self.registry.items()
        }
        con.close()
        run.setup["oracle_s"] += time.perf_counter() - t0

        # warm-up: one checked pass over the same plans the timed passes run
        t0 = time.perf_counter()
        self._pass()
        run.setup["warmup_s"] += time.perf_counter() - t0

    def _order(self) -> list[str]:
        return [BASKET[i] for i in self.run.rng.permutation(len(BASKET))]

    def more(self) -> bool:
        return True

    def cycle(self) -> None:
        self._pass()

    def _pass(self) -> None:
        """The basket once, each result collected in full and compared
        with its DuckDB oracle (the comparison is not timed)."""
        run = self.run
        for q in self._order():
            run.op(f"queries.{q}", lambda q=q: self.registry[q].fn(run.spark, self.dir).toPandas(),
                   check=lambda pdf, q=q: canonical(pdf) == self.expected[q])
            release_caches(run.spark)


# -- medallion ---------------------------------------------------------------


class _Clock:
    """Strictly increasing UTC clock: one minute per reading."""

    def __init__(self):
        self.now = datetime(2030, 1, 1, tzinfo=timezone.utc)

    def __call__(self) -> datetime:
        self.now += timedelta(minutes=1)
        return self.now


class Medallion:
    """Two claims deliveries through bronze -> silver -> gold. Delivery
    1 lands in an empty lake; delivery 2 overlaps it (unchanged,
    changed and new claims plus quarantine rows) and goes through the
    incremental silver pass and the gold upsert. Each cycle uses a
    fresh lake."""

    def __init__(self, run: Run):
        self.run = run
        self.dir = os.path.join(run.work, "claims")
        self.n = 0

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.deliveries = gen.write_claims_deliveries(self.dir, self.run.seed, CLAIMS)
        self.run.setup["generate_s"] += time.perf_counter() - t0

    def more(self) -> bool:
        return True

    def cycle(self) -> None:
        from fabric_claims_spark.pipeline.runner import ClaimsRunner

        run = self.run
        lake = os.path.join(self.dir, f"lake{self.n}")
        self.n += 1
        runner = ClaimsRunner(run.spark, lake, clock=_Clock())
        for phase, d in zip(("full", "incr"), self.deliveries):
            t0 = time.perf_counter()
            run.op(f"pipeline.bronze.{phase}", lambda d=d: runner.run_bronze(d.path),
                   check=lambda r, d=d: r["quality_metrics"] == d.split)
            run.op(f"pipeline.silver.{phase}", lambda: runner.run_silver(incremental=True),
                   check=lambda r: r["status"] == "Succeeded")
            run.op(f"pipeline.gold.{phase}", runner.run_gold,
                   check=lambda r, d=d: all(
                       (r[t]["inserted"], r[t]["updated"]) == v for t, v in d.gold.items()))
            run.named[f"medallion_{phase}_s"].append(time.perf_counter() - t0)
        csv_bytes = sum(d.bytes for d in self.deliveries)
        run.named["lake_bytes_ratio"].append(_dir_bytes(lake) / csv_bytes)
        shutil.rmtree(lake, ignore_errors=True)


# -- serving_lifecycle -------------------------------------------------------


class ServingLifecycle:
    """A documents/embeddings corpus cut into seeded increments. Each
    cycle folds the next increment into all four index families
    (lexical, positional, LSH, IVF), serves lookups, erases a seeded
    subset of the live documents with ``forget_documents``, runs one
    ``IndexMaintenance`` pass, and serves again. The store persists
    across cycles. After maintenance every family's size must match a
    survivor-only oracle, and no lookup may return an erased doc."""

    def __init__(self, run: Run):
        self.run = run
        self.dir = os.path.join(run.work, "corpus")
        self.inc = 0
        self.live: set[int] = set()
        self.erased: set[int] = set()

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from fabric_claims_spark.pipeline.runner import IndexMaintenance
        from fabric_claims_spark.sources.merge import TableStore

        run = self.run
        t0 = time.perf_counter()
        self.corpus = gen.write_corpus(self.dir, run.seed, CORPUS_DOCS, CORPUS_INCREMENTS)
        run.setup["generate_s"] += time.perf_counter() - t0
        spark = run.spark
        self.docs = spark.read.parquet(self.corpus.docs_path)
        self.vecs = spark.read.parquet(self.corpus.vecs_path)
        # the build-time quantizer: the first IVF_K vectors of increment 0
        seeds = self.corpus.increments[0][:IVF_K]
        self.centroids = self.vecs.where(F.col("vec_id").isin(seeds)).select(
            F.col("vec_id").alias("centroid_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
        )
        self.store = TableStore(spark, os.path.join(self.dir, "store"))
        self.maintenance = IndexMaintenance(self.store, ivf_k=IVF_K)

    # -- operations
    def _apply(self, inc: int) -> bool:
        from pyspark.sql import functions as F

        from fabric_claims_spark.operators import serving_index as si

        bid = si.next_batch_id(self.store)
        docs = self.docs.where(F.col("inc") == inc).select("doc_id", "text")
        vecs = self.vecs.where(F.col("inc") == inc).select("vec_id", "embedding", "doc_id")
        return all([
            si.apply_lexical_batch(self.store, docs, bid),
            si.apply_positional_batch(self.store, docs, bid),
            si.apply_lsh_batch(self.store, docs, bid),
            si.apply_ivf_batch(self.store, vecs, bid, self.centroids, doc_col="doc_id"),
        ])

    def _serve(self, k: int) -> None:
        """One served lookup, chosen by ``k`` and the run's rng."""
        from pyspark.sql import functions as F

        from fabric_claims_spark.localframe import local_frame
        from fabric_claims_spark.operators import serving_index as si

        run, spark, rng = self.run, self.run.spark, self.run.rng
        live = sorted(self.live)
        erased = sorted(self.erased) or [-1]
        hit_erased = F.coalesce(
            F.sum(F.col("doc_id").isin(erased).cast("long")), F.lit(0)
        ).alias("erased")
        n = F.count(F.lit(1)).alias("rows")
        kind = ("term", "phrase", "neardup", "vector")[k % 4]
        tokens = self.corpus.tokens
        if kind == "term":
            term = str(rng.choice(gen.VOCAB))
            want = sum(term in tokens[d] for d in live)

            def lookup():
                postings, _, _ = si.read_lexical_index(self.store)
                return noop_observed(postings.where(F.col("term") == term).select("doc_id"), [n, hit_erased])

            check = lambda o: o["rows"] == want and o["erased"] == 0  # noqa: E731
        elif kind == "phrase":
            doc = tokens[int(rng.choice(live))]
            i = int(rng.integers(0, len(doc) - 1))
            w1, w2 = doc[i], doc[i + 1]
            want = sum(
                1 for d in live for a, b in zip(tokens[d], tokens[d][1:]) if (a, b) == (w1, w2)
            )

            def lookup():
                phrase = local_frame(spark, [(w1, w2)], "w1 string, w2 string")
                occ = si.phrase_occurrences(si.read_positional_index(self.store), phrase)
                return noop_observed(occ, [n, hit_erased])

            check = lambda o: o["rows"] == want and o["erased"] == 0  # noqa: E731
        elif kind == "neardup":
            doc = int(rng.choice(live))

            def lookup():
                pairs = si.read_lsh_pairs(self.store).where(
                    (F.col("doc_a") == doc) | (F.col("doc_b") == doc)
                )
                other = F.when(F.col("doc_a") == doc, F.col("doc_b")).otherwise(F.col("doc_a"))
                return noop_observed(pairs.select(other.alias("doc_id")), [n, hit_erased])

            check = lambda o: o["erased"] == 0  # noqa: E731
        else:
            doc = int(rng.choice(live))
            q = self.corpus.vectors[doc].astype(np.float64)
            live_v = self.corpus.vectors[live].astype(np.float64)
            cos = (live_v @ q) / (np.linalg.norm(live_v, axis=1) * np.linalg.norm(q))
            tenth = float(np.sort(cos)[-min(10, len(live))])

            def lookup():
                dot = lambda a, b: F.aggregate(  # noqa: E731
                    F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
                )
                qv = local_frame(spark, [(q.tolist(),)], "qv array<double>")
                top = (
                    si.read_ivf_index(self.store)
                    .crossJoin(F.broadcast(qv))
                    .select(
                        F.col("vec_id").alias("doc_id"),
                        (dot("ev", "qv") / F.sqrt(dot("ev", "ev")) / F.sqrt(dot("qv", "qv"))).alias("cos"),
                    )
                    .orderBy(F.col("cos").desc(), "doc_id")
                    .limit(10)
                )
                return noop_observed(top, [n, hit_erased, F.min("cos").alias("min_cos")])

            check = lambda o: (  # noqa: E731
                o["rows"] == min(10, len(live)) and o["erased"] == 0
                and abs(o["min_cos"] - tenth) < 1e-9
            )
        run.op(f"serving.serve.{kind}", lookup, check=check, record="serve_p50_s")

    def _expected_sizes(self) -> dict[str, int]:
        live, tokens = self.live, self.corpus.tokens
        return {
            "lex_postings": sum(len(set(tokens[d])) for d in live),
            "pos_postings": sum(len(tokens[d]) for d in live),
            "ivf_live": len(live),
            "ivf_docmap": len(live),
        }

    def _sizes(self) -> dict[str, int]:
        from fabric_claims_spark.operators import serving_index as si

        return {
            "lex_postings": si.read_lexical_index(self.store)[0].count(),
            "pos_postings": si.read_positional_index(self.store).count(),
            "ivf_live": si.read_ivf_index(self.store).count(),
            "ivf_docmap": si.read_ivf_docmap(self.store).count(),
        }

    def _pairs(self) -> set[tuple[int, int]]:
        from fabric_claims_spark.operators import serving_index as si

        return {(r[0], r[1]) for r in si.read_lsh_pairs(self.store).select("doc_a", "doc_b").collect()}

    def more(self) -> bool:
        return self.inc < len(self.corpus.increments)

    def cycle(self) -> None:
        from fabric_claims_spark.localframe import local_frame
        from fabric_claims_spark.plans.governance import forget_documents

        run = self.run
        inc = self.inc
        self.inc += 1
        run.op("serving.apply", lambda: self._apply(inc), check=bool, record="apply_s",
               request=False)
        self.live |= set(self.corpus.increments[inc])
        for k in range(SERVES_PER_PHASE):
            self._serve(k)

        live = sorted(self.live)
        kill = sorted(int(d) for d in run.rng.choice(live, max(1, int(len(live) * ERASE_SHARE)), replace=False))
        with run.tracer.paused():
            pairs = self._pairs()
        run.op(
            "serving.erase",
            lambda: forget_documents(self.store, local_frame(run.spark, [(d,) for d in kill], "doc_id long")),
            check=lambda r: r is not None and all(v == len(kill) for v in r.values()),
            record="erase_s",
            request=False,
        )
        self.live -= set(kill)
        self.erased |= set(kill)
        run.op("serving.maintain", self.maintenance.run_post_apply, record="maintain_s",
               request=False)

        with run.tracer.paused():
            sizes = dict(self._sizes(), lsh_pairs=len(self._pairs()))
        want = dict(self._expected_sizes(),
                    lsh_pairs=sum(1 for a, b in pairs if a in self.live and b in self.live))
        run.attempted += 1
        if sizes != want:
            run.fail(f"serving post-erase sizes {sizes} != survivor oracle {want}")
        for k in range(SERVES_PER_PHASE):
            self._serve(k)
        corpus_bytes = self.corpus.bytes
        run.named["index_bytes_ratio"].append(_dir_bytes(self.store.root) / corpus_bytes)
