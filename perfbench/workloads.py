"""The benchmark's workloads: inputs, timed operations and output checks.

A workload (see ``Workload``) makes its inputs from the seed, runs one
closed-loop operation at a time, timed from input to complete result, and
checks each result outside the timed region.  Every call into
``nerzo_spark`` runs under a job group named after the layer of the public
function called, with the job description ``<workload>/op<i>/<step>``, so
the event log can attribute Spark work to layers and operations.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

KG_FILES = 12000
# traced runs of kg_build also run one incremental cycle (initial 80% of
# the repos, the other 20% added, a no-op re-run) into a fresh store; files
# outside the mega-repo fall into 161 repos by index, so 400 files already
# span all 162 repos (the cycle's cost is per call and per repo, ~25 s)
INC_FILES = 400
INC_DELTA_SHARE = 0.2
MIN_TRIPLE_PR = 0.95
# A pass over all 46 non-kg catalog queries takes ~43 s cold and ~30 s warm
# on 4 cores, more than one run can afford twice; this fixed subset has one
# query per plans module, and through them operators.topk (e2_rprecision)
# and operators.dedup (dedup_minhash_lsh_pairs), two of the queries the
# roadmap names for optimisation.
CATALOG_QUERIES = (
    "a2_filter_agg_q1", "ann_ivf_probe", "dedup_embedding_neardup",
    "dedup_minhash_lsh_pairs", "e2_rprecision",
)


class CheckFailed(Exception):
    """An operation ran but its output is wrong."""


@dataclass
class Step:
    name: str
    t0: float
    t1: float


@dataclass
class Op:
    index: int
    t0: float = 0.0
    t1: float = 0.0
    steps: list[Step] = field(default_factory=list)
    rows: int = 0
    ok: bool = True
    error: str = ""
    # per-op counters read outside the timed region
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Run:
    """State shared by a workload's set-up and operations."""

    def __init__(self, spark, workload: str, seed: int, work: str, cores: int):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.work = work
        self.cores = cores
        self.setup_times: dict[str, float] = {}
        self.check_times: dict[str, float] = {}

    def step(self, op: Op, name: str, layer: str, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(layer, f"{self.workload}/op{op.index}/{name}")
        t0 = time.time()
        try:
            return fn()
        finally:
            op.steps.append(Step(name, t0, time.time()))
            sc.setJobGroup("perfbench", f"{self.workload}/between")

    def timed_setup(self, name: str, fn):
        self.spark.sparkContext.setJobGroup("perfbench", f"{self.workload}/setup/{name}")
        t0 = time.time()
        out = fn()
        self.setup_times[name] = self.setup_times.get(name, 0.0) + time.time() - t0
        return out


def _source_hash(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def storage_bytes(spark) -> int:
    """Bytes held by cached RDDs and tables, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


class Workload:
    """Hooks the runner calls; a workload overrides the ones it needs."""

    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        """Make the inputs from the seed (timed as set-up)."""

    def op(self, op: Op) -> None:
        raise NotImplementedError

    def check(self, op: Op) -> None:
        """Check one op's output, outside the timed region."""

    def rebind(self, spark) -> None:
        """Re-read the inputs in a new Spark session."""

    def finish(self) -> None:
        """Checks made once per run, after the ops."""

    def micro_slice(self) -> dict[str, float]:
        """Driver-side layer timings for the traced run."""
        return {}

    def incremental_cycle(self):
        """Extra traced work: (op, info) for ``trace_report.incremental_rows``."""
        return None


# ---------------------------------------------------------------- kg_build


class KGBuild(Workload):
    """``run_kg_pipeline`` plus its ``triples_count`` collect over a seeded
    generated corpus with the generator's 30% mega-repo skew."""

    def __init__(self, run: Run):
        super().__init__(run)
        self.n_triples: int | None = None

    def setup(self) -> None:
        from nerzo_spark.fixtures import corpus as corpus_mod
        from nerzo_spark.fixtures.corpus import generate
        from nerzo_spark.fixtures.distributed import corpus_df_distributed

        r, spark, n = self.run, self.run.spark, KG_FILES
        # the on-disk corpus is keyed on everything that shapes it, so a
        # generator change can never reuse a stale one
        key = f"corpus-s{r.seed}-n{n}-{_source_hash(corpus_mod.__file__)}"
        path = self.path = os.path.join(r.work, key)

        def gen():
            if not os.path.isdir(path):
                tmp = path + ".tmp"
                shutil.rmtree(tmp, ignore_errors=True)
                corpus_df_distributed(spark, n, seed=r.seed,
                                      partitions=2 * r.cores).write.parquet(tmp)
                os.rename(tmp, path)
            # the same files generated in this process, with their planted
            # mentions and the gold triples of an independent canonicalization
            fx = generate(n_files=n, seed=r.seed)
            self.anchors = fx.anchors
            self.planted = len(fx.mentions)
            self.gold = {(t["subj"], t["pred"], t["obj"]) for t in fx.triples}
            return spark.read.parquet(path)

        self.corpus = r.timed_setup("corpus_gen", gen)

    def rebind(self, spark) -> None:
        self.corpus = spark.read.parquet(self.path)

    def gold_check(self, res) -> None:
        """Triple P/R of (subj, pred, obj) against the gold triples, as the
        tests require; made on the first op's result."""
        t0 = time.time()
        pdf = res.triples.select("subj", "pred", "obj").toPandas()
        got = set(zip(pdf["subj"], pdf["pred"], pdf["obj"]))
        hit = len(got & self.gold)
        p, rec = hit / max(len(got), 1), hit / max(len(self.gold), 1)
        self.run.check_times["gold_check"] = time.time() - t0
        if p < MIN_TRIPLE_PR or rec < MIN_TRIPLE_PR:
            raise CheckFailed(f"triple P/R {p:.4f}/{rec:.4f} < {MIN_TRIPLE_PR}")

    def op(self, op: Op) -> None:
        from nerzo_spark.pipeline.kg import run_kg_pipeline

        r = self.run
        res = r.step(op, "run_kg_pipeline", "pipeline.kg", lambda: run_kg_pipeline(
            r.spark, self.corpus, self.anchors, repartition_to=4 * r.cores))
        n = r.step(op, "triples_count", "pipeline.kg",
                   lambda: res.triples_count.collect()[0]["n_triples"])
        op.rows = int(n)
        self._res = res

    def check(self, op: Op) -> None:
        from pyspark.sql import functions as F

        res, spark = self._res, self.run.spark
        self._res = None
        try:
            if self.n_triples is None:
                self.gold_check(res)
            sha_bad = res.mentions.filter(~F.col("sha_ok")).count()
            # cache-release probe: what stays cached once everything the
            # result exposes is unpersisted
            op.counters["cache_bytes"] = storage_bytes(spark)
            for df in (res.mentions, res.links, res.entities, res.triples,
                       res.lineage, res.triples_count):
                if df is not None:
                    df.unpersist(blocking=True)
            op.counters["leaked_cache_bytes"] = storage_bytes(spark)
        finally:
            spark.catalog.clearCache()
        if sha_bad:
            raise CheckFailed(f"{sha_bad} mentions with sha_ok = false")
        if res.n_mentions != self.planted:
            raise CheckFailed(f"n_mentions {res.n_mentions} != planted {self.planted}")
        if self.n_triples is None:
            self.n_triples = op.rows
        elif op.rows != self.n_triples:
            raise CheckFailed(f"n_triples {op.rows} != first op's {self.n_triples}")

    def incremental_cycle(self) -> tuple[Op, dict]:
        """``run_incremental`` initial / delta / no-op into a fresh store,
        checked against a one-shot ``run_kg_pipeline`` count."""
        import random

        from nerzo_spark.fixtures.corpus import anchor_rows_for
        from nerzo_spark.fixtures.distributed import corpus_df_distributed
        from nerzo_spark.pipeline.incremental import run_incremental
        from nerzo_spark.pipeline.kg import run_kg_pipeline
        from pyspark.sql import functions as F

        r, spark, n = self.run, self.run.spark, INC_FILES
        path = os.path.join(r.work, f"inc-corpus-s{r.seed}-n{n}")
        store = os.path.join(r.work, f"inc-store-s{r.seed}")
        spark.sparkContext.setJobGroup("perfbench", f"{r.workload}/incremental/setup")
        corpus_df_distributed(spark, n, seed=r.seed, partitions=2 * r.cores).write.parquet(path)
        corpus = spark.read.parquet(path)
        anchors = anchor_rows_for(n, seed=r.seed)
        repos = sorted(x[0] for x in corpus.select("repo").distinct().collect())
        small = [x for x in repos if x != "org0/megarepo"]
        random.Random(r.seed).shuffle(small)
        delta = sorted(small[:int(len(repos) * INC_DELTA_SHARE)])
        initial = corpus.filter(~F.col("repo").isin(delta))
        ref = run_kg_pipeline(spark, corpus, anchors, repartition_to=4 * r.cores)
        expect = ref.triples_count.collect()[0]["n_triples"]
        spark.catalog.clearCache()

        cycle = Op(index=-1)
        cycle.t0 = time.time()
        out = {}
        for phase, df in (("initial", initial), ("delta", corpus), ("noop", corpus)):
            out[phase] = r.step(cycle, phase, "pipeline.incremental", lambda df=df: (
                run_incremental(spark, df, anchors, store, repartition_to=4 * r.cores)))
        cycle.t1 = time.time()
        got = {p: (o["repos_extracted"], o["triples_total"]) for p, o in out.items()}
        want = {"initial": (len(repos) - len(delta), got["initial"][1]),
                "delta": (len(delta), expect), "noop": (0, expect)}
        if got != want:
            raise CheckFailed(f"incremental (repos_extracted, triples_total) {got} != {want}")

        def du(p):
            sizes = [os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(p)
                     for f in fs if not f.startswith((".", "_"))]
            return float(sum(sizes)), float(len(sizes))

        info = {"n_repos": len(repos), "triples_total": expect,
                "delta_extracted": got["delta"][0],
                "store": du(store), "mentions": du(os.path.join(store, "mentions")),
                "triples": du(os.path.join(store, "triples"))}
        return cycle, info

    def micro_slice(self) -> dict[str, float]:
        """Driver-side timing of span proposal and span embedding on the
        files of one extraction task (the corpus over ``4 * cores`` tasks)."""
        from nerzo_spark.embed import embedder
        from nerzo_spark.fixtures import corpus as corpus_mod
        from nerzo_spark.operators.spans import LEFT_CTX, RIGHT_CTX, propose_spans

        r, n = self.run, KG_FILES
        plants = corpus_mod._chain_plants(n, r.seed)
        k = max(n // (4 * r.cores), 1)
        contents = [corpus_mod.gen_file(i, n, r.seed, plants)[0]["content"]
                    for i in range(0, n, max(n // k, 1))][:k]
        t0 = time.perf_counter()
        spans = [propose_spans(c) for c in contents]
        t_prop = time.perf_counter() - t0
        for f in (embedder._pair_vec, embedder._start_vec, embedder._end_vec):
            f.cache_clear()
        n_mentions = 0
        t0 = time.perf_counter()
        for c, ss in zip(contents, spans):
            for s, e, surf in ss:
                embedder.embed_span(surf, c[max(0, s - LEFT_CTX):s], c[e:e + RIGHT_CTX])
                n_mentions += 1
        t_emb = time.perf_counter() - t0
        info = embedder._pair_vec.cache_info()
        return {
            "operators.spans.propose_us_per_file": t_prop / len(contents) * 1e6,
            "embed.embedder.embed_us_per_mention": t_emb / max(n_mentions, 1) * 1e6,
            "embed.embedder.pair_cache_hit_ratio":
                info.hits / max(info.hits + info.misses, 1),
        }


# ----------------------------------------------------------------- catalog


class Catalog(Workload):
    """One op is a pass, in a fixed order, over ``CATALOG_QUERIES`` on seeded
    generated tables."""

    def __init__(self, run: Run):
        super().__init__(run)
        self.first: dict[str, object] = {}

    def setup(self) -> None:
        import catalog_data
        from nerzo_spark.plans import catalog
        from nerzo_spark.plans import catalog_ivf, catalog_more, catalog_text, catalog_vec  # noqa: F401

        r = self.run
        self.sf_dir = os.path.join(r.work, f"tables-s{r.seed}")
        r.timed_setup("corpus_gen", lambda: catalog_data.write_tables(self.sf_dir, r.seed))
        registry = catalog.queries()
        self.queries = {k: registry[k] for k in CATALOG_QUERIES}
        self.oracles = catalog.oracle_sql()

    @staticmethod
    def layer_of(fn) -> str:
        return fn.__module__.replace("nerzo_spark.", "", 1)

    def op(self, op: Op) -> None:
        r = self.run
        rows = 0
        for name, fn in self.queries.items():
            pdf = r.step(op, name, self.layer_of(fn),
                         lambda fn=fn: fn(r.spark, self.sf_dir).toPandas())
            rows += len(pdf)
            if name not in self.first:
                self.first[name] = pdf
        # result sizes depend on the seed's data; the queries answered do not
        op.rows = len(self.queries)
        op.counters["result_rows"] = rows

    def check(self, op: Op) -> None:
        self.run.spark.catalog.clearCache()

    def finish(self) -> None:
        """Compare each query's first result with its DuckDB oracle."""
        from tests.oracle_harness import duck_con, rows_multiset

        con = duck_con(self.sf_dir)
        bad = []
        try:
            for name, pdf in self.first.items():
                sql = self.oracles.get(name)
                if sql is None:
                    bad.append(f"{name}: no oracle")
                    continue
                res = con.execute(sql)
                d_cols = [d[0].lower() for d in res.description]
                s_cols = [c.lower() for c in pdf.columns]
                if sorted(s_cols) != sorted(d_cols):
                    bad.append(f"{name}: schema {sorted(s_cols)} != {sorted(d_cols)}")
                    continue
                s_rows = [tuple(t) for t in pdf.itertuples(index=False, name=None)]
                if rows_multiset(s_cols, s_rows) != rows_multiset(d_cols, res.fetchall()):
                    bad.append(f"{name}: values differ from the oracle")
        finally:
            con.close()
        if bad:
            raise CheckFailed("; ".join(bad))


WORKLOADS = {"kg_build": KGBuild, "catalog": Catalog}
