"""The benchmark workloads: input materialisation, the timed op, and
the per-op correctness check. Sizes and sketch params come from
``workloads.json``; everything random comes from the ``--seed``."""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

from harness import CORES, timed

SPEC = json.loads((Path(__file__).parent / "workloads.json").read_text())
QUANTILES = (0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
INPUT_FILES = 2 * CORES


def make_specs(conf: dict):
    from bloomfilter_multithread_spark.operators.build import SketchSpec

    return [SketchSpec(s["name"], s["kind"], s["column"], dict(s["params"])) for s in conf["specs"]]


def materialise_turns(spark, path: str, turns: int, seed: int):
    """Exactly ``turns`` seeded transcript turns as parquet: whole
    conversations in ``conv_id`` order, the last one cut short. Returns
    the table as read back through ``sources.io.read_table``."""
    from pyspark.sql import functions as F

    from bloomfilter_multithread_spark.sources.io import read_table
    from bloomfilter_multithread_spark.sources.transcripts import synth_transcripts

    # ~5.5 turns per conversation on average; a short draw retries larger
    n_convs = turns // 4 + 256
    while True:
        gen = synth_transcripts(spark, n_convs=n_convs, seed=seed, partitions=INPUT_FILES)
        # sizes only: Spark prunes the text and timestamp columns from this job
        sizes = gen.groupBy("conv_id").count().orderBy("conv_id").toArrow()
        ends = np.cumsum(sizes.column(1).to_numpy())
        if ends[-1] >= turns:
            break
        n_convs = n_convs * 3 // 2
    k = int(np.searchsorted(ends, turns))  # the conversation holding the last turn kept
    last = sizes.column(0)[k].as_py()
    keep = turns - (int(ends[k - 1]) if k else 0)
    (gen.where((F.col("conv_id") < last) | ((F.col("conv_id") == last) & (F.col("turn_idx") < keep)))
     .write.mode("overwrite").parquet(path))
    return read_table(spark, path)


def absent_turns(spark, df, seed: int, convs: int):
    """Turns with synth_query_set's disjoint ('-zz') vocabulary."""
    from bloomfilter_multithread_spark.sources.transcripts import synth_query_set

    return synth_query_set(spark, df, present_frac=0.0, absent_convs=convs, seed=seed + 1)


def drain_batches(batches):
    """Arrow batches in, their row count out: a Python worker that only reads."""
    import pyarrow as pa

    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_pydict({"n": [n]}, schema=pa.schema([("n", pa.int64())]))


def pass_batches(batches):
    yield from batches


def to_numpy(df, col: str) -> np.ndarray:
    return df.select(col).toArrow().column(0).to_numpy()


# ------------------------------------------------------------------ checks

def rank_error(sorted_vals: np.ndarray, est: float, q: float) -> float:
    """Distance from q to the rank interval of ``est`` (ties span an interval)."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return 0.0 if lo <= q <= hi else float(min(abs(q - lo), abs(q - hi)))


def max_rank_error(sk, sorted_vals: np.ndarray) -> float:
    return max(rank_error(sorted_vals, sk.quantile(q), q) for q in QUANTILES)


def fp_allowance(bound: float, n: int, alpha: float = 1e-6) -> int:
    """Largest false-positive count among ``n`` absent keys that a filter
    whose FPR is exactly ``bound`` exceeds with probability < ``alpha``
    (binomial upper tail)."""
    pmf = (1.0 - bound) ** n
    cdf, c = pmf, 0
    while 1.0 - cdf >= alpha and c < n:
        pmf *= (n - c) / (c + 1) * bound / (1.0 - bound)
        cdf += pmf
        c += 1
    return c


def check_bloom(sk, present: np.ndarray, absent: np.ndarray, n_distinct: int) -> list[str]:
    out = []
    fn = int((~sk.probe_hashes(present)).sum())
    if fn:
        out.append(f"{fn} false negatives")
    fp = int(sk.probe_hashes(absent).sum())
    allowed = fp_allowance(sk.fpr_bound(n_distinct), absent.size)
    if fp > allowed:
        out.append(f"{fp} false positives in {absent.size} > {allowed}")
    return out


def check_hll(sk, exact: int, label: str) -> list[str]:
    err = abs(sk.estimate() - exact) / exact
    return [] if err <= 3 * sk.rel_error_bound() else [f"{label} rel err {err:.4f}"]


def check_ranks(sk, sorted_vals: np.ndarray, eps: float, label: str) -> list[str]:
    err = max_rank_error(sk, sorted_vals)
    return [] if err <= eps else [f"{label} rank err {err:.4f} > {eps:.4f}"]


def tdigest_eps(sk) -> float:
    return 6.0 / sk.delta


def state_blobs(spark, path: str) -> dict[str, bytes]:
    return {r["spec_name"]: bytes(r["sketch"])
            for r in spark.read.parquet(path).select("spec_name", "sketch").collect()}


def sketch(blob: bytes):
    from bloomfilter_multithread_spark.sketches import MergeableSketch

    return MergeableSketch.from_bytes(blob)


# --------------------------------------------------------------- workloads

class Workload:
    """``setup`` materialises inputs and warms; ``op`` is one timed user
    operation returning the turns it covered; ``read`` takes the rows of
    the last op through plain Spark and Python workers with no sketch
    work, the reference each op is measured against; ``check`` returns
    the problems found in the last op's output (empty = correct)."""

    name = ""
    warm_ops = 1  # untimed ops (each with its read) at the end of setup
    SETUP_REPS = 3  # data set-ups per run; setup_s takes their median

    def __init__(self, spark, work, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.conf = SPEC["workloads"][self.name]
        self.turns = self.conf["turns"]
        self.specs = make_specs(self.conf)
        self.state = work.sub("state")

    def materialise(self) -> None:
        self.df = materialise_turns(self.spark, self.work.sub("input"), self.turns, self.seed)

    def prepare(self) -> None:
        """User-side set-up after materialisation (state, query batches)."""

    def oracle(self) -> None:
        """Exact answers and reference builds for ``check``; not set-up."""

    def setup(self) -> dict[str, float]:
        """Seconds per set-up step. The data set-up (materialise, then
        prepare) runs ``SETUP_REPS`` times over the same paths, the first
        on a cold JVM; ``data`` is their median. ``oracle`` is check
        bookkeeping and is not part of setup_s."""
        reps = [timed(self.materialise)[0] + timed(self.prepare)[0] for _ in range(self.SETUP_REPS)]
        steps = {"data": float(np.median(reps)), "oracle": timed(self.oracle)[0]}
        steps["warm"] = sum(timed(self.op)[0] + timed(self.read)[0] for _ in range(self.warm_ops))
        print("perfbench: data set-ups " + " ".join(f"{r:.2f}s" for r in reps))
        return steps

    def op(self) -> int:
        raise NotImplementedError

    def read(self) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    # -- hooks for the traced per-layer run (layers.py) ------------------
    def build_plan(self) -> dict:
        """The global build whose layers the traced run decomposes."""
        return {"df": self.df, "path": self.work.sub("input"), "columns": self.conf["input_columns"],
                "specs": self.specs, "route_for": self.conf["route_for"]}

    def sample_turns(self, pct: int):
        from pyspark.sql import functions as F

        return self.df.where(F.pmod(F.xxhash64("conv_id"), F.lit(100)) < pct)

    def probe_plan(self) -> dict:
        """The persisted Bloom and a request batch for the probe layers."""
        return {"state": self.state, "name": self.conf["route_for"],
                "batch": self.sample_turns(1).select("text")}

    def sketch_params(self) -> dict:
        params = {s.kind: s.params for s in make_specs(SPEC["workloads"]["build_mixed"])}
        params.update({s.kind: s.params for s in self.specs})
        return params

    def covered_s(self, m: dict) -> float:
        """Summed layer self times that make up one op."""
        return sum(m[k] for k in ("sources.scan_s", "build.hash_project_s", "build.exchange_s",
                                  "build.arrow_drain_s", "build.kernel_s", "build.merge_write_s"))


class BuildMixed(Workload):
    name = "build_mixed"
    REF_KINDS = ("bloom", "hll", "cms")  # order-invariant: alone == together, byte for byte

    def oracle(self) -> None:
        from pyspark.sql import functions as F

        from bloomfilter_multithread_spark.operators.build import build_and_persist

        # each order-invariant spec built alone, the reference the mixed
        # build must equal; the three jobs run at once (they are not timed)
        def alone(s) -> bytes:
            path = self.work.sub(f"ref-{s.name}")
            route = s.name if s.name == self.conf["route_for"] else None
            build_and_persist(self.df, [s], path, route_for=route)
            return state_blobs(self.spark, path)[s.name]

        refs = [s for s in self.specs if s.kind in self.REF_KINDS]
        with ThreadPoolExecutor(len(refs)) as pool:
            self.ref = dict(zip((s.name for s in refs), pool.map(alone, refs)))

        t = self.df.select(
            F.xxhash64("text").alias("h"), F.length("text").cast("double").alias("len"),
            "conv_id", "tool", F.xxhash64("tool").alias("ht"),
        ).toArrow().to_pandas()
        self.h_text = t["h"].to_numpy(np.int64)
        self.n_text = int(np.unique(self.h_text).size)
        self.lens = np.sort(t["len"].to_numpy())
        self.n_conv = int(t["conv_id"].nunique())
        tools = t.dropna(subset=["tool"]).groupby("ht").size()
        self.tool_h = tools.index.to_numpy(np.int64)
        self.tool_n = tools.to_numpy(np.int64)
        self.absent = to_numpy(
            absent_turns(self.spark, self.df, self.seed, 2000).select(F.xxhash64("text").alias("h")), "h")

        # the reference read: the op's input columns through plain Spark in
        # the build's shape (Python stage, two exchanges each followed by a
        # Python stage, a parquet write), with no sketch work
        self.source = (self.spark.read.parquet(self.work.sub("input"))
                       .select(*self.conf["input_columns"]).mapInArrow(drain_batches, "n long")
                       .repartition(16).mapInArrow(pass_batches, "n long")
                       .repartition(1).mapInArrow(pass_batches, "n long"))

    def read(self) -> None:
        self.source.write.mode("overwrite").parquet(self.work.sub("read"))

    def op(self) -> int:
        from bloomfilter_multithread_spark.operators.build import build_and_persist

        build_and_persist(self.df, self.specs, self.state, route_for=self.conf["route_for"])
        return self.turns

    def check(self) -> list[str]:
        blobs = state_blobs(self.spark, self.state)
        out = [f"{n} differs from its alone build" for n, b in self.ref.items() if blobs.get(n) != b]
        if set(blobs) != {s.name for s in self.specs}:
            return out + [f"state specs {sorted(blobs)}"]
        for s in self.specs:
            sk = sketch(blobs[s.name])
            if s.kind == "bloom":
                out += check_bloom(sk, self.h_text, self.absent, self.n_text)
            elif s.kind == "hll":
                out += check_hll(sk, self.n_conv, s.name)
            elif s.kind == "cms":
                under = int((sk.estimate_hashes(self.tool_h) < self.tool_n).sum())
                if under:
                    out.append(f"cms underestimates {under} tools")
            elif s.kind == "kll":
                out += check_ranks(sk, self.lens, sk.rank_error_bound(), s.name)
            elif s.kind == "tdigest":
                out += check_ranks(sk, self.lens, tdigest_eps(sk), s.name)
        return out


class ProbeDedup(Workload):
    name = "probe_dedup"
    warm_ops = 2

    def prepare(self) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from bloomfilter_multithread_spark.operators.build import build_and_persist, load_sketches
        from bloomfilter_multithread_spark.sources.io import read_table
        from bloomfilter_multithread_spark.sources.transcripts import synth_query_set

        (bloom,) = self.specs
        build_and_persist(self.df, self.specs, self.state, route_for=self.conf["route_for"])
        b = self.conf["batch"]
        self.n_batches = b["batches"]
        per = b["present"]  # equal present and absent halves
        q = synth_query_set(self.spark, self.df, present_frac=b["present_frac"],
                            absent_convs=b["absent_convs"], seed=self.seed + 1)
        rn = F.row_number().over(Window.partitionBy("expected_present").orderBy("conv_id", "turn_idx")) - 1
        qpath = self.work.sub("queries")
        (q.select("text", "expected_present", rn.alias("rn"))
         .where(F.col("rn") < self.n_batches * per)
         .select((F.col("rn") % self.n_batches).cast("int").alias("batch"), "text", "expected_present")
         .repartition("batch")  # one file per batch: every request is one scan task
         .write.partitionBy("batch").mode("overwrite").parquet(qpath))
        self.queries = read_table(self.spark, qpath)
        self.bloom = load_sketches(self.spark, self.state, [bloom.name])[bloom.name]
        self.batch_turns = 2 * per
        self.i = 0
        self.last = []

    def oracle(self) -> None:
        from pyspark.sql import functions as F

        n_text = self.df.select(F.countDistinct("text")).first()[0]
        self.allowed_fp = fp_allowance(self.bloom.fpr_bound(n_text), self.conf["batch"]["absent"])

    def batch(self, i: int):
        from pyspark.sql import functions as F

        return self.queries.where(F.col("batch") == i % self.n_batches)

    def op(self) -> int:
        from bloomfilter_multithread_spark.operators.build import with_might_contain

        self.last = (with_might_contain(self.batch(self.i), "text", self.bloom)
                     .select("expected_present", "might_contain").collect())
        self.i += 1
        return self.batch_turns

    def read(self) -> None:
        """The batch the last op probed, collected through a Python worker
        that passes it on unchanged."""
        b = self.batch(self.i - 1).select("text", "expected_present")
        b.mapInArrow(pass_batches, b.schema).collect()

    def check(self) -> list[str]:
        present = [r["might_contain"] for r in self.last if r["expected_present"]]
        absent = [r["might_contain"] for r in self.last if not r["expected_present"]]
        out = []
        if len(present) != len(absent) or 2 * len(present) != self.batch_turns:
            out.append(f"{len(present)} present + {len(absent)} absent answers "
                       f"for {self.batch_turns} turns")
        if not all(present):
            out.append(f"{present.count(False)} false negatives")
        if sum(absent) > self.allowed_fp:
            out.append(f"{sum(absent)} false positives > {self.allowed_fp}")
        return out

    def probe_plan(self) -> dict:
        return {"state": self.state, "name": self.conf["route_for"],
                "batch": self.batch(0).select("text")}

    def covered_s(self, m: dict) -> float:
        return (m["probe.spark_floor_ms"] + m["probe.udf_ms"]) / 1e3


WORKLOADS = {w.name: w for w in (BuildMixed, ProbeDedup)}
