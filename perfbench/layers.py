"""Per-layer decomposition for the traced run, measured from outside the
package. The build is timed as cumulative prefixes, each adding one
layer and each drained to a noop sink (BENCH.md §2s shape):

  1 scan       the op's input columns of the table read_table returned
  2 project    + JVM hash/cast projection of every spec input
  3 exchange   + the routed repartition on the Bloom block id
  4 drain      + a mapInArrow that only iterates its batches
  5 partials   build_partials, lineage rows collected
  6 full       build_and_persist

A layer's self time is its prefix minus the one before. Every traced run
reports every layer, on that workload's own input: the build layers
decompose the build that wrote the workload's state, the probe layers
probe that state, and the grouped layer runs build_sketches_grouped with
``grouped_layer``'s specs (see the ``Workload`` hooks in workloads.py).
"""

from __future__ import annotations

import math
import time
from pathlib import Path

import numpy as np

from harness import dir_bytes, median
from workloads import SPEC, drain_batches, make_specs, max_rank_error

BATCH = 65_536


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spec_projection(specs):
    """The projection build_partials ships, re-expressed from SketchSpec's
    documented semantics: xxhash64 for keys, double for values; one column
    per distinct expression."""
    from pyspark.sql import functions as F

    cols, index, seen = [], {}, {}
    for s in specs:
        key = (s.column, s.is_value)
        if key not in seen:
            c = F.expr(s.column)
            c = c.cast("double") if s.is_value else F.xxhash64(c)
            seen[key] = len(cols)
            cols.append(c.alias(f"_c{len(cols)}"))
        index[s.name] = seen[key]
    return cols, index


def column_bytes(path: str, columns) -> int:
    """Compressed parquet bytes of ``columns`` under ``path``: what a scan
    of those columns reads. (Spark 4.1's stage inputBytes counted ~20 KB
    for a 14 MB local parquet scan, so it is not used.)"""
    import pyarrow.parquet as pq

    total = 0
    for f in Path(path).rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for c in range(row_group.num_columns):
                chunk = row_group.column(c)
                if chunk.path_in_schema in columns:
                    total += chunk.total_compressed_size
    return total


class Layers:
    def __init__(self, spark, tracer, counters, reps: int = 2) -> None:
        self.spark, self.tracer, self.counters, self.reps = spark, tracer, counters, reps

    def _span(self, name: str, fn, counted: bool = True) -> tuple[float, dict, object]:
        """Run ``fn`` in a span; returns (seconds, Spark counters, result)."""
        with self.tracer.span(name) as attrs:
            if not counted:
                t0 = time.perf_counter()
                out = fn()
                return time.perf_counter() - t0, {}, out
            with self.counters.measure() as cnt:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            attrs.update(cnt)
        return dt, cnt, out

    # ------------------------------------------------------------ build
    def build(self, wl) -> dict:
        from pyspark.sql import functions as F

        from bloomfilter_multithread_spark.operators.build import build_and_persist, build_partials

        b = wl.build_plan()
        specs, route = b["specs"], b["route_for"]
        cols, index = spec_projection(specs)
        projected = b["df"].select(*cols)
        spec = next(s for s in specs if s.name == route)
        nb_log2 = int(math.log2(spec.params["m_bits"] // spec.params["block_bits"]))
        block = F.shiftrightunsigned(F.col(f"_c{index[route]}"), 64 - nb_log2)
        exchanged = projected.repartition(self.spark.sparkContext.defaultParallelism, block)
        state = wl.work.sub("layer-state")
        lineage: list = []

        def partials():
            lineage[:] = (build_partials(b["df"], specs, route_for=route)
                          .select("n_rows", F.length("sketch").alias("len")).collect())

        prefixes = [
            ("sources.scan", lambda: noop(b["df"].select(*b["columns"]))),
            ("build.hash_project", lambda: noop(projected)),
            ("build.exchange", lambda: noop(exchanged)),
            ("build.arrow_drain", lambda: noop(exchanged.mapInArrow(drain_batches, "n long"))),
            ("build.partials", partials),
            ("build.full", lambda: build_and_persist(b["df"], specs, state, route_for=route)),
        ]
        t: dict[str, list[float]] = {n: [] for n, _ in prefixes}
        c: dict[str, dict] = {}
        for _ in range(self.reps):  # interleaved so drift spreads over every prefix
            for name, fn in prefixes:
                dt, cnt, _ = self._span(name, fn)
                t[name].append(dt)
                c[name] = cnt
        p = {n: median(v) for n, v in t.items()}
        rows = np.array([r["n_rows"] for r in lineage], dtype=float)
        full = c["build.full"]
        return {
            "sources.scan_s": p["sources.scan"],
            "sources.input_bytes": column_bytes(b["path"], b["columns"]),
            "build.hash_project_s": p["build.hash_project"] - p["sources.scan"],
            "build.exchange_s": p["build.exchange"] - p["build.hash_project"],
            "build.shuffle_bytes": full["shuffle_write_bytes"],
            "build.arrow_drain_s": p["build.arrow_drain"] - p["build.exchange"],
            "build.partials_s": p["build.partials"],
            "build.kernel_s": p["build.partials"] - p["build.arrow_drain"],
            "build.merge_write_s": p["build.full"] - p["build.partials"],
            "build.partition_skew": float(rows.max() / rows.mean()) if rows.size and rows.mean() else 1.0,
            "build.partial_bytes": int(sum(r["len"] for r in lineage)),
            "build.state_bytes": dir_bytes(state),
            "build.executor_run_s": full["executor_run_ms"] / 1e3,
            "build.executor_cpu_s": full["executor_cpu_ns"] / 1e9,
            "build.gc_s": full["gc_ms"] / 1e3,
        }

    # ------------------------------------------------------------ grouped
    def grouped(self, wl) -> dict:
        from pyspark.sql import functions as F

        from bloomfilter_multithread_spark.operators.grouped import build_sketches_grouped

        conf = SPEC["grouped_layer"]
        out = build_sketches_grouped(wl.df, conf["group_col"], make_specs(conf))
        ts, cnt = [], {}
        for _ in range(self.reps):
            dt, cnt, _ = self._span("grouped.build", lambda: noop(out))
            ts.append(dt)
        groups = out.select(F.countDistinct("group_key")).first()[0]
        return {"grouped.build_s": median(ts), "grouped.groups": int(groups),
                "grouped.shuffle_bytes": cnt["shuffle_write_bytes"]}

    # ------------------------------------------------------------ probe
    def probe(self, wl) -> dict:
        from pyspark.sql import functions as F

        from bloomfilter_multithread_spark.operators.build import load_sketches, with_might_contain
        from bloomfilter_multithread_spark.sketches import MergeableSketch

        t = wl.probe_plan()
        loads = []
        for _ in range(self.reps):
            dt, _, sks = self._span("probe.load", lambda: load_sketches(self.spark, t["state"], [t["name"]]))
            loads.append(dt)
        bloom = sks[t["name"]]
        blob = bloom.to_bytes()
        keys = np.arange(1024, dtype=np.int64)
        des = []
        for _ in range(3):
            dt, _, _ = self._span("probe.deserialize",
                                  lambda: MergeableSketch.from_bytes(blob).probe_hashes(keys),
                                  counted=False)
            des.append(dt)
        # the request as the op makes it (a fresh broadcast each time), and
        # the same request with the UDF replaced by its JVM hash input
        batch = t["batch"]
        floors, reqs = [], []
        for _ in range(5):
            dt, _, _ = self._span("probe.spark_floor",
                                  lambda: batch.withColumn("h", F.xxhash64("text")).drop("text").collect())
            floors.append(dt)
            dt, _, _ = self._span("probe.request",
                                  lambda: with_might_contain(batch, "text", bloom).drop("text").collect())
            reqs.append(dt)
        return {"probe.load_s": median(loads), "probe.deserialize_ms": 1e3 * median(des),
                "probe.spark_floor_ms": 1e3 * median(floors),
                "probe.udf_ms": 1e3 * (median(reqs) - median(floors))}

    # ------------------------------------------------------------ sketches
    def sketches(self, wl, seed: int) -> dict:
        from bloomfilter_multithread_spark.sketches import MergeableSketch, sketch_class

        rng = np.random.default_rng(seed)
        keys = rng.integers(-2**63, 2**63 - 1, BATCH, dtype=np.int64)
        fresh = rng.integers(-2**63, 2**63 - 1, BATCH, dtype=np.int64)
        vals = rng.lognormal(4.0, 0.8, BATCH)
        params = wl.sketch_params()
        make = lambda kind: sketch_class(kind).create(**params[kind])  # noqa: E731

        def update(kind):
            sk = make(kind)
            if kind in ("kll", "tdigest"):
                sk.update_values(vals)
                if kind == "tdigest":
                    sk.quantile(0.5)  # folds the buffered values
            else:
                sk.update_hashes(keys)
                if kind == "bloom":
                    sk.probe_hashes(keys[:0])  # applies the deferred inserts
            return sk

        out = {}
        built = {}
        for kind in ("bloom", "hll", "cms", "kll", "tdigest"):
            ts = []
            for _ in range(5):
                dt, _, built[kind] = self._span(f"sketches.{kind}.update", lambda: update(kind), counted=False)
                ts.append(dt)
            out[f"sketches.{kind}.update_ms"] = 1e3 * median(ts)

        def halves():
            a, b = make("bloom"), make("bloom")
            a.update_hashes(keys[: BATCH // 2])
            b.update_hashes(keys[BATCH // 2:])
            a.probe_hashes(keys[:0])
            b.probe_hashes(keys[:0])
            return a, b

        merges, tob, fromb, probes = [], [], [], []
        for _ in range(5):
            a, b = halves()
            dt, _, merged = self._span("sketches.bloom.merge", lambda: a.merge(b), counted=False)
            merges.append(dt)
            dt, _, blob = self._span("sketches.bloom.to_bytes", merged.to_bytes, counted=False)
            tob.append(dt)
            dt, _, back = self._span("sketches.bloom.from_bytes", lambda: MergeableSketch.from_bytes(blob),
                                      counted=False)
            fromb.append(dt)
            back.probe_hashes(keys[:1])  # first probe unpacks; probe_ms is steady state
            dt, _, _ = self._span("sketches.bloom.probe", lambda: back.probe_hashes(keys), counted=False)
            probes.append(dt)
        bloom = built["bloom"]
        out.update({
            "sketches.bloom.merge_ms": 1e3 * median(merges),
            "sketches.bloom.to_bytes_ms": 1e3 * median(tob),
            "sketches.bloom.from_bytes_ms": 1e3 * median(fromb),
            "sketches.bloom.probe_ms": 1e3 * median(probes),
            "sketches.bloom.fill": bloom.fill_fraction(),
            "sketches.bloom.fpr_bound": bloom.fpr_bound(int(np.unique(keys).size)),
            "sketches.bloom.fpr_observed": float(bloom.probe_hashes(fresh).mean()),
            "sketches.hll.rel_err": abs(built["hll"].estimate() - np.unique(keys).size) / np.unique(keys).size,
            "sketches.kll.rank_err": max_rank_error(built["kll"], np.sort(vals)),
        })
        return out
