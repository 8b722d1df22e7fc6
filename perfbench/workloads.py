"""The benchmark's workloads and the closed loop that drives them.

One client issues one operation at a time and waits for it, as a caller of
``queries()[name](spark, sf_dir)`` does. A run checks every output in one
untimed pass, which also warms the JVM and the Python workers, runs timed
passes until ``seconds`` have elapsed (at least two), then re-checks what
one pass cannot check on its own. The seed permutes the query order of
every pass, and seeds the raw-line generator of ``concept_tfrecord``.

Query workloads time ``fn(spark, sf_dir)`` (build) plus a ``noop``-sink
write (exec), which computes every output column; ``count()`` would let
Catalyst prune columns and Python UDFs away. A streaming query runs its
micro-batches to completion inside ``fn``, so its stream is build time.
``concept_tfrecord`` times the paper's dataprep chain over generated raw
lines.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from measure import Digest, digest_pandas, layer_of_module, python_nodes

# the sf0.1 test tables (TESTDATA.md); the same setting bench.py reads
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The engine's operator modules. A query workload samples one query of each
# module its families use, and the per-layer metrics are kept per module.
MODULES = (
    "relational",
    "subqueries",
    "composite2",
    "composite3",
    "sampling",
    "scalar",
    "udf",
    "graph",
    "dedup",
    "similarity",
    "text",
    "multimodal",
    "pipeline",
    "streaming.ops",
    "streaming.stateful",
)


@dataclass(frozen=True)
class QueryWorkload:
    why: str
    families: tuple[str, ...]
    # Queries per pass, at least one per module. Set-up, the checking pass
    # and the timed passes must fit in about 30 s, so a run samples.
    sample: int


QUERY_WORKLOADS = {
    "olap_sf01": QueryWorkload(
        "one query per operator module of the relational families d01-d16 at sf0.1: small queries where per-job overhead and planning dominate",
        tuple(f"d{i:02d}" for i in range(1, 17)),
        8,
    ),
    "llm_prep_sf01": QueryWorkload(
        "one query per operator module of the LLM data-prep families d29-d32, d34 and the UDF families d22-d24: Python/Arrow crossings dominate",
        ("d22", "d23", "d24", "d29", "d30", "d31", "d32", "d34"),
        8,
    ),
    "stream_state_sf01": QueryWorkload(
        "non-TWS availableNow streams of d25, d26 and d28 at sf0.1: per-batch planning, state commits and checkpoints beside the reads",
        ("d25", "d26", "d28"),
        3,
    ),
}
CONCEPT_WHY = "the paper's pipeline: raw lines -> run_dataprep -> TFRecord write -> read-back -> fit; time set by data volume"
# Raw lines per run. The TFRecord sink and source encode one row at a time in
# Python, so at this size a chain takes about 3 s.
CONCEPT_LINES = 25_000


def _sha(name: str) -> str:
    return hashlib.sha256(name.encode()).hexdigest()


def sample_queries(modules: dict[str, str], n: int) -> list[str]:
    """Stratified fixed sample of ``{query: module}``, independent of the
    seed: the lowest-SHA-256 query of each module, then the lowest-hash
    others up to ``n`` queries in all."""
    ranked = sorted(modules, key=_sha)
    firsts: dict[str, str] = {}
    for q in ranked:
        firsts.setdefault(modules[q], q)
    picked = set(firsts.values())
    picked.update([q for q in ranked if q not in picked][: max(0, n - len(picked))])
    return [q for q in ranked if q in picked]


def workload_queries(fns: dict, wl: QueryWorkload) -> list[str]:
    """The sample of a workload's families, over queries of the operator
    modules. transformWithState queries (``*_tws``) are left out: at 7-17 s
    each, one would outlast a run's whole timed region."""
    modules = {
        q: layer_of_module(f.__module__)
        for q, f in fns.items()
        if q[:3] in wl.families and not q.endswith("_tws")
    }
    return sample_queries({q: m for q, m in modules.items() if m in MODULES}, wl.sample)


@dataclass
class Op:
    """One timed operation of a pass."""

    name: str
    layer: str
    start: float
    build_end: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Outcome:
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    passes: list[tuple[float, float]] = field(default_factory=list)  # timed passes: start, end
    ops: list[tuple[int, Op]] = field(default_factory=list)  # (pass index, op)
    layer: dict[str, float] = field(default_factory=dict)  # per-layer figures measured by the runner
    notes: dict[str, object] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAIL {what}", flush=True)


def job_group(p: int, op: str) -> str:
    """The Spark job group of operation ``op`` in pass ``p`` (tracing only)."""
    return f"p{p}:{op}"


class Runner:
    """Closed loop over one session: an untimed checking pass, whole timed
    passes until ``seconds`` have elapsed (at least ``MIN_PASSES``), then
    ``after``."""

    # The JVM is still compiling hot code after the checking pass, and the
    # first timed pass runs about 15% slower than the next; two passes at
    # least keep one of them from setting a run's figures alone.
    MIN_PASSES = 2

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.out = Outcome()

    def tag(self, p: int, op: str) -> None:
        """Put the Spark jobs that follow in the group of ``op`` (tracing
        only); the trace reads the groups back from the status API."""
        if self.trace:
            self.sc.setJobGroup(job_group(p, op), op)

    def attempt(self, name: str, fn) -> bool:
        self.out.attempted += 1
        try:
            fn()
            return True
        except Exception as ex:  # a failing operation is a result, not a crash
            self.out.fail(f"{name}: raised {type(ex).__name__}: {str(ex)[:300]}")
            return False

    def after(self) -> None:
        """Untimed checks that need the timed passes to have run."""

    def run(self, seconds: float) -> Outcome:
        t0 = time.perf_counter()
        self.check_pass()
        t1 = time.perf_counter()
        p = 0
        while p < self.MIN_PASSES or time.perf_counter() - t1 < seconds:
            self.run_pass(p)
            p += 1
        t2 = time.perf_counter()
        self.after()
        self.out.notes["phases"] = f"check {t1 - t0:.1f} s, timed {t2 - t1:.1f} s, after {time.perf_counter() - t2:.1f} s"
        return self.out


# -- query workloads -----------------------------------------------------------


class QueryRunner(Runner):
    def __init__(self, spark, wl_name: str, seed: int, trace: bool):
        from conceptnetwork_spark import registry

        super().__init__(spark, trace)
        wl = QUERY_WORKLOADS[wl_name]
        self.rng = random.Random(seed)
        fns = registry.queries()
        self.names = workload_queries(fns, wl)
        self.fns = {q: fns[q] for q in self.names}
        self.layer = {q: layer_of_module(f.__module__) for q, f in self.fns.items()}
        self.oracles = {q: sql for q, sql in registry.oracles().items() if q in self.fns}
        self.first_digest: dict[str, Digest] = {}
        self.py_nodes: dict[str, int] = {}

    def order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def oracle_digests(self) -> dict[str, Digest]:
        """DuckDB's answer to every sampled oracle-backed query at SF_DIR."""
        import duckdb

        from conceptnetwork_spark.catalog import TABLES

        with duckdb.connect() as con:
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
            return {q: digest_pandas(con.execute(sql).fetchdf()) for q, sql in self.oracles.items()}

    def collect(self, q: str):
        """The query's result as a pandas frame; notes its Python nodes."""
        df = self.fns[q](self.spark, SF_DIR)
        pdf = df.toPandas()
        self.py_nodes[q] = python_nodes(df._jdf.queryExecution().executedPlan().toString())
        return pdf

    def check_pass(self) -> None:
        """Collect every result (which also warms the JVM and the Python
        workers) and compare it with DuckDB's. Worker threads compute
        DuckDB's answers and digest each collected result while the next
        query runs."""
        with ThreadPoolExecutor(2) as pool:
            oracle = pool.submit(self.oracle_digests)
            pending = {}

            def collect(q: str) -> None:
                pending[q] = pool.submit(digest_pandas, self.collect(q))

            for q in self.order():
                self.attempt(q, lambda q=q: collect(q))
            self.first_digest = {q: f.result() for q, f in pending.items()}
            try:
                want = oracle.result()
            except Exception as ex:  # duckdb raised: nothing to compare against
                self.out.fail(f"DuckDB oracles: raised {type(ex).__name__}: {str(ex)[:300]}")
                want = {}
        for q, d in want.items():
            if q in self.first_digest and self.first_digest[q] != d:
                self.out.fail(f"{q}: oracle mismatch spark={self.first_digest[q]} duckdb={d}")

    def after(self) -> None:
        """Oracle-less queries must reproduce their first result."""
        for q in self.names:
            if q in self.oracles or q not in self.first_digest:
                continue
            again = []
            if self.attempt(q, lambda q=q: again.append(digest_pandas(self.collect(q)))) and again[0] != self.first_digest[q]:
                self.out.fail(f"{q}: result changed between passes {self.first_digest[q]} -> {again[0]}")

    def run_pass(self, p: int) -> None:
        start = time.time()
        for q in self.order():
            self.tag(p, q)
            t0 = time.time()
            built = [t0]

            def op(q=q):
                df = self.fns[q](self.spark, SF_DIR)
                built[0] = time.time()
                df.write.format("noop").mode("overwrite").save()

            self.attempt(q, op)
            self.out.ops.append((p, Op(q, self.layer[q], t0, built[0], time.time())))
        self.out.passes.append((start, time.time()))


# -- concept_tfrecord -----------------------------------------------------------

SEXES = ("male", "female", "Male", "Female", "m", "f", "M", "F")
UNKNOWN = ("x", "unknown", "?", "n/a", "other")


def generate_lines(path: str, n: int, seed: int) -> dict[str, int]:
    """FIXTURES A1/A4-shaped raw lines '<id>,<sex>': ~2% blank, ~2% malformed
    (no separator), ~5% of valid lines with an unknown sex token. Returns
    what a correct dataprep must produce from them."""
    rng = random.Random(seed)
    valid = unknown = id_sum = 0
    with open(path, "w") as f:
        for _ in range(n):
            r = rng.random()
            if r < 0.02:
                f.write(rng.choice(("", "   ")) + "\n")
            elif r < 0.04:
                f.write(f"malformed{rng.randrange(10**6)}\n")
            else:
                cid = rng.randint(1, 10**6)
                unk = rng.random() < 0.05
                sex = rng.choice(UNKNOWN if unk else SEXES)
                f.write(f"{cid},{sex}\n")
                valid += 1
                unknown += unk
                id_sum += cid
    return {"rows": valid, "unknown": unknown, "id_sum": id_sum}


def minimal_network():
    """The reference's minimal network: two MinimalConcepts over the same
    raw line, one of them the training target."""
    from pyspark.sql import functions as F

    from conceptnetwork_spark.concept import Concept
    from conceptnetwork_spark.network import Network
    from conceptnetwork_spark.schema import FLOAT, FeatureSpec

    class MinimalConcept(Concept):
        version = "1.1"
        GENDER = {"m": 0.0, "male": 0.0, "f": 1.0, "female": 1.0}

        def featdef(self) -> FeatureSpec:
            return FeatureSpec().add("candidate_id", FLOAT).add("gender", FLOAT)

        def preprocess(self, raw):
            parts = F.split(raw, ",")
            sex = F.lower(F.element_at(parts, 2))
            gender = F.lit(-1.0)
            for k, v in sorted(self.GENDER.items()):
                gender = F.when(sex == k, F.lit(v)).otherwise(gender)
            return F.struct(
                F.element_at(parts, 1).cast("double").alias("candidate_id"),
                gender.alias("gender"),
            )

    return Network().add(MinimalConcept("origin")).add(MinimalConcept("tgt", target=True))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_"))
    )


class ConceptRunner(Runner):
    """``concept_tfrecord``: each pass runs the chain on the run's generated
    lines; every pass's Parquet output and fit are checked, and the checking
    pass's TFRecord read-back is compared row for row with the Parquet."""

    STAGES = ("sources.dataprep", "sources.tfrecord.write", "sources.tfrecord.read", "ml.fit")
    FLAT = "origin_candidate_id double, origin_gender double, tgt_candidate_id double, tgt_gender double"

    def __init__(self, spark, seed: int, tmp: str, trace: bool):
        super().__init__(spark, trace)
        self.tmp = tmp
        self.net = minimal_network()
        self.input = os.path.join(tmp, "raw_lines.txt")
        self.expect = generate_lines(self.input, CONCEPT_LINES, seed)
        self.out.notes["valid_rows"] = self.expect["rows"]

    def chain(self, p: int) -> tuple[list[Op], dict[str, str]]:
        from pyspark.sql import functions as F

        from conceptnetwork_spark.operators.ml import fit_transform_evaluate
        from conceptnetwork_spark.sources.dataprep import run_dataprep
        from conceptnetwork_spark.sources.tfrecord import read_tfrecords

        root = os.path.join(self.tmp, f"pass{p}")
        paths = {"tfrecord": os.path.join(root, "tfrecord")}
        self.mse = None

        def dataprep():
            paths["parquet"] = run_dataprep(self.spark, self.net, self.input, os.path.join(root, "parquet"), force=True)

        def write():
            self.net.write(self.net.read(self.spark, paths["parquet"]), paths["tfrecord"], fmt="tfrecord")

        def read():
            back = read_tfrecords(self.spark, paths["tfrecord"] + "/*.tfrecord.gz", self.FLAT)
            back.write.format("noop").mode("overwrite").save()

        def fit():
            df = self.net.read(self.spark, paths["parquet"]).select(
                F.col("origin.candidate_id").alias("x"), F.col("tgt.candidate_id").alias("y")
            )
            self.mse = fit_transform_evaluate(df, ["x"], "y")[2]

        ops = []
        for layer, fn in zip(self.STAGES, (dataprep, write, read, fit)):
            self.tag(p, layer)
            t0 = time.time()
            ok = self.attempt(layer, fn)
            ops.append(Op(layer, layer, t0, t0, time.time()))
            if not ok:
                break
        return ops, paths

    def check(self, paths: dict[str, str], full: bool) -> None:
        """Parquet output matches the generator; with ``full``, the TFRecord
        read-back equals the Parquet output as a multiset of rows."""
        from pyspark.sql import functions as F

        from conceptnetwork_spark.schema import flatten
        from conceptnetwork_spark.sources.tfrecord import read_tfrecords

        if "parquet" not in paths:
            return
        enc = self.net.read(self.spark, paths["parquet"])
        r = enc.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("origin.gender") == -1.0).cast("long")).alias("unknown"),
            F.sum(F.col("origin.candidate_id").cast("long")).alias("id_sum"),
        ).first()
        got = {"rows": r["rows"], "unknown": r["unknown"], "id_sum": r["id_sum"]}
        if got != self.expect:
            self.out.fail(f"dataprep output {got} != generated {self.expect}")
        if self.mse is not None and not self.mse < 1e-6:
            self.out.fail(f"fit mse {self.mse} on y = x")
        if not full:
            return

        def fingerprint(df):
            h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
            return tuple(df.agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)")), F.bit_xor(h)).first())

        back = read_tfrecords(self.spark, paths["tfrecord"] + "/*.tfrecord.gz", self.FLAT)
        want = fingerprint(flatten(enc, list(self.net.concepts)))
        if fingerprint(back) != want:
            self.out.fail(f"TFRecord read-back {fingerprint(back)} != Parquet {want}")
        in_bytes = os.path.getsize(self.input)
        self.out.layer = {
            "sources.dataprep.bytes_per_input_byte": dir_bytes(paths["parquet"]) / in_bytes,
            "sources.tfrecord.bytes_per_row": dir_bytes(paths["tfrecord"]) / max(1, self.expect["rows"]),
        }

    def checked(self, paths: dict[str, str], full: bool) -> None:
        try:
            self.check(paths, full)
        except Exception as ex:  # the outputs could not be read back
            self.out.fail(f"check: raised {type(ex).__name__}: {str(ex)[:300]}")

    def check_pass(self) -> None:
        """Untimed first chain, whose outputs get the full check."""
        _, paths = self.chain(-1)
        self.checked(paths, full=True)
        shutil.rmtree(os.path.join(self.tmp, "pass-1"), ignore_errors=True)

    def run_pass(self, p: int) -> None:
        start = time.time()
        ops, paths = self.chain(p)
        self.out.passes.append((start, time.time()))
        self.out.ops.extend((p, op) for op in ops)
        self.checked(paths, full=False)
        shutil.rmtree(os.path.join(self.tmp, f"pass{p}"), ignore_errors=True)
