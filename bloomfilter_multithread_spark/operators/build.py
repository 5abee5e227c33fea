"""Distributed sketch build + merge + probe — the engine core.

Re-expression of the reference pipeline (SURVEY.md §3.1):

  reference                                  here
  ---------                                  ----
  FASTA char scan (FastaReader.cpp:25-49)    columnar parquet/Iceberg scan
  route `hmin % q` (SkmerExtractor.cpp:164)  optional salted repartition —
                                             NOT needed for correctness:
                                             merge is assoc+comm, so ANY
                                             partitioning yields the same
                                             sketch (partition-invariance
                                             test); used only to balance skew
  per-thread disjoint Bloom insert           per-partition partial sketches
  (SkmerSplitter.cpp:62-89)                  in ONE mapInArrow pass (numpy)
  (no merge — filters stay disjoint,         bitwise-OR / max / add
   main.cpp:119-127)                         treeAggregate merge, log depth
  probe (SkmerSplitter.cpp:91-151)           broadcast sketch + Arrow-batch
                                             probe column (zero shuffle)

Hot-path rule: ALL string hashing is JVM-side ``F.xxhash64`` inside
whole-stage codegen; Python sees int64/float64 Arrow batches only.

Scale notes (100 TB / 10^12 turns, 1000 executors):
- the scan+hash+partial-build stage is embarrassingly parallel, no shuffle
  at all unless ``salt_partitions`` is requested;
- partials are fixed-size (sketch bytes, KB-MB each), so the merge moves
  O(P * sketch_bytes) — independent of row count; treeAggregate keeps the
  driver from becoming the fan-in bottleneck at large P;
- probe broadcasts one merged sketch and adds a column map-side — no
  shuffle, no join.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType

from ..sketches import MergeableSketch, sketch_class
from ..sketches.base import merge_all


@dataclass
class SketchSpec:
    """One sketch to build: over a hashed key expression (bloom/hll/cms)
    or a numeric value expression (kll/tdigest). ``pre_hashed`` marks a
    column that is ALREADY a 64-bit hash (e.g. a JVM-side shingle hash) —
    it is passed through instead of being re-hashed."""

    name: str
    kind: str  # bloom | cbf | hll | kmv | cms | mg | ams | kll | tdigest | hdr
    column: str | Column  # input column / SQL expression string
    params: dict = field(default_factory=dict)
    pre_hashed: bool = False

    VALUE_KINDS = ("kll", "tdigest", "hdr")

    @property
    def is_value(self) -> bool:
        return self.kind in self.VALUE_KINDS

    def make(self) -> MergeableSketch:
        return sketch_class(self.kind).create(**self.params)


def _input_col(spec: SketchSpec) -> Column:
    c = F.expr(spec.column) if isinstance(spec.column, str) else spec.column
    if spec.is_value:
        return c.cast("double").alias(spec.name)
    if spec.pre_hashed:
        return c.cast("long").alias(spec.name)
    # JVM-side hashing: string/num key -> int64, stays in codegen
    return F.xxhash64(c).alias(spec.name)


_PARTIAL_SCHEMA = pa.schema(
    [
        ("spec_name", pa.string()),
        ("partition_id", pa.int32()),
        ("n_rows", pa.int64()),
        ("sketch", pa.binary()),
    ]
)
PARTIAL_DDL = "spec_name string, partition_id int, n_rows long, sketch binary"


def _dedup_projection(specs: list[SketchSpec]) -> tuple[list[Column], dict[str, int]]:
    """Projection with each distinct input expression shipped ONCE, plus a
    spec-name -> column-index map. Two specs share a column iff their
    column is the same SQL string, or the same ``Column`` object, and they
    agree on value-vs-hash and pre_hashed (so the projected expression is
    identical). ``Column`` objects are matched by identity only: two equal
    but distinct ``F.col("x")`` objects ride separate columns. The
    headline 5-sketch build ships ``length(text)`` for BOTH kll and
    t-digest — as separate columns that is 8 of the 40 bytes/row crossing
    the exchange + Arrow boundary for no information (measured ~7% of the
    drain wall at 22M rows)."""
    cols: list[Column] = []
    index: dict[str, int] = {}
    seen: dict[tuple, int] = {}
    for s in specs:
        expr = s.column if isinstance(s.column, str) else id(s.column)
        key = (expr, s.is_value, s.pre_hashed)
        if key in seen:
            index[s.name] = seen[key]
            continue
        seen[key] = index[s.name] = len(cols)
        cols.append(_input_col(s).alias(f"_c{len(cols)}"))
    return cols, index


def build_partials(df: DataFrame, specs: list[SketchSpec],
                   salt_partitions: int | None = None,
                   route_for: str | None = None,
                   route_partitions: int | None = None) -> DataFrame:
    """One vectorized pass over ``df`` building every spec's partial
    per Spark partition. Returns a tiny DataFrame (P x len(specs) rows)
    of serialized partials with per-partition lineage (partition_id,
    n_rows) — the checkpointable unit for resumable builds.

    ``route_for`` names a BLOCKED spec — a bloom with ``block_bits`` or a
    cbf with ``block_slots`` (both pick the block from the hash's top
    bits, so the routing expression is identical): the projection is
    exchanged on that spec's hash-block id, so every partition's partial
    touches only its own cache-resident blocks —
    the reference's `hmin % q` minimizer routing (SkmerExtractor.cpp:164)
    as an explicit Spark repartition. The merged result is identical with
    or without routing (merge is associative+commutative; property-tested);
    routing exists purely to shrink the per-task working set from m_bits
    to ~m_bits/P (measured: the unrouted build is memory-bandwidth-bound
    at m >= 2^27).
    """
    cols, col_index = _dedup_projection(specs)
    proj = df.select(*cols)
    if route_for:
        spec = next(s for s in specs if s.name == route_for)
        bb = int(spec.params.get("block_bits", 0) or spec.params.get("block_slots", 0))
        mb = int(spec.params.get("m_bits", 0) or spec.params.get("m_slots", 0))
        if not bb or not mb or mb % bb:
            raise ValueError(
                "route_for requires a blocked spec (bloom block_bits / cbf block_slots)")
        nb_log2 = int(math.log2(mb // bb))
        block = F.shiftrightunsigned(F.col(f"_c{col_index[route_for]}"), 64 - nb_log2)
        proj = proj.repartition(_num_partials(df, route_for=route_for,
                                              route_partitions=route_partitions), block)
    elif salt_partitions:
        # explicit salted round-robin spread for skewed upstreams; the
        # merged result is invariant to this (tested), it only balances
        # work. Placement note (measured, BENCH.md §2b): this salts the
        # hash PROJECTION, i.e. it balances the sketch-insert stage. If
        # the expensive work is an upstream derivation (e.g. shingle
        # explode), salt the rows BEFORE that derivation instead —
        # df.repartition(n) ahead of the explode measured 4.35x on a
        # role-skewed fixture where projection-level salting was noise.
        proj = proj.repartition(salt_partitions)
    spec_list = [(s.name, s.kind, dict(s.params), s.is_value, col_index[s.name])
                 for s in specs]

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sketches = {name: sketch_class(kind).create(**params)
                    for name, kind, params, _, _ in spec_list}
        n = 0
        for batch in batches:
            n += batch.num_rows
            for name, _, _, is_value, ci in spec_list:
                col = batch.column(ci)
                arr = col.to_numpy(zero_copy_only=False)
                if is_value:
                    sketches[name].update_values(arr[~np.isnan(arr)] if arr.dtype.kind == "f" else arr)
                else:
                    # drop nulls (xxhash64 of null is null -> NaN after to_numpy)
                    if col.null_count:
                        arr = arr[~np.isnan(arr)].astype(np.int64)
                    else:
                        arr = arr.astype(np.int64, copy=False)
                    sketches[name].update_hashes(arr)
        pid = TaskContext.get().partitionId()
        yield pa.RecordBatch.from_pydict(
            {
                "spec_name": [name for name, *_ in spec_list],
                "partition_id": [pid] * len(spec_list),
                "n_rows": [n] * len(spec_list),
                "sketch": [sketches[name].to_bytes() for name, *_ in spec_list],
            },
            schema=_PARTIAL_SCHEMA,
        )

    return proj.mapInArrow(build, schema=PARTIAL_DDL)


def _merge_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow-side combiner: folds all (spec_name, sketch) rows in this
    partition into one row per spec."""
    acc: dict[str, MergeableSketch] = {}
    n_rows: dict[str, int] = {}
    for batch in batches:
        names = batch.column(0).to_pylist()
        counts = batch.column(2).to_pylist()
        blobs = batch.column(3)
        for i, name in enumerate(names):
            sk = MergeableSketch.from_bytes(blobs[i].as_py())
            acc[name] = sk if name not in acc else acc[name].merge(sk)
            n_rows[name] = n_rows.get(name, 0) + (counts[i] or 0)
    if acc:
        pid = TaskContext.get().partitionId()
        yield pa.RecordBatch.from_pydict(
            {
                "spec_name": list(acc),
                "partition_id": [pid] * len(acc),
                "n_rows": [n_rows[k] for k in acc],
                "sketch": [acc[k].to_bytes() for k in acc],
            },
            schema=_PARTIAL_SCHEMA,
        )


def _num_partials(df: DataFrame, salt_partitions: int | None = None,
                  route_for: str | None = None,
                  route_partitions: int | None = None) -> int | None:
    """Partials per spec that ``build_partials`` makes over ``df`` with
    these arguments: one per task of its Python stage. Known up front only
    when the build repartitions the input itself (routed or salted);
    ``None`` for an unrouted, unsalted input, whose partition count Spark
    decides at run time (asking for it plans the input and, behind an
    exchange, runs its upstream stages)."""
    if route_for:
        return route_partitions or df.sparkSession.sparkContext.defaultParallelism
    return salt_partitions or None


def tree_merge(partials: DataFrame, fanout: int = 16) -> dict[str, MergeableSketch]:
    """Executor-side tree merge of partial sketches — the merge primitive
    the reference lacks (its q filters stay disjoint forever, its
    main.cpp:119-127). See ``_merge_levels`` for the levels.
    ``partials`` is any DataFrame of partial rows, so its count P is
    unknown here and both levels always run; ``build_sketches`` and
    ``build_and_persist`` know P for routed and salted builds and run
    level 1 there only when P > ``fanout``. The driver collects exactly len(specs) rows —
    O(specs * sketch_bytes) ingest, independent of P and row count.
    """
    return merge_partials_local(_merge_levels(partials, fanout).collect())


def _merge_levels(partials: DataFrame, fanout: int = 16,
                  n_partials: int | None = None) -> DataFrame:
    """The merge as a DataFrame of one row per spec, folded by executors.

    Level 1 spreads each spec's P partials over ~``fanout`` tasks keyed by
    (spec_name, partition_id % fanout) — the expensive part of a Bloom
    merge (sparse-index scatter into the dense array) parallelizes here
    instead of serializing in one task (measured 0.31 -> ~0.8+ scaling
    efficiency on the bench job). It runs only when it has something to
    merge: P (``n_partials``) unknown or > ``fanout``. With P <= fanout
    each level-1 task would hold about one partial per spec, and its
    stage of ``fanout`` Python tasks only adds launch cost. Level 2
    co-locates each spec's <= fanout rows and folds them to ONE row; dense
    Bloom partials stay PACKED through this level (8x smaller,
    OR-without-unpack). Either way no task folds more than ~fanout rows
    per spec.

    At cluster scale pick fanout ~ sqrt(P) so both levels stay balanced.
    """
    if n_partials is None or n_partials > fanout:
        partials = (
            partials.repartition(fanout, F.col("spec_name"),
                                 F.pmod(F.col("partition_id"), F.lit(fanout)))
            .mapInArrow(_merge_batches, PARTIAL_DDL)
        )
    return partials.repartition(F.col("spec_name")).mapInArrow(_merge_batches, PARTIAL_DDL)


def _build_merged(df: DataFrame, specs: list[SketchSpec], fanout: int = 16,
                  salt_partitions: int | None = None, route_for: str | None = None,
                  route_partitions: int | None = None) -> DataFrame:
    """scan -> per-partition partials -> tree merge, as a DataFrame of one
    merged row per spec — the plan behind both ``build_sketches`` and
    ``build_and_persist``."""
    partials = build_partials(df, specs, salt_partitions=salt_partitions,
                              route_for=route_for, route_partitions=route_partitions)
    n = _num_partials(df, salt_partitions, route_for, route_partitions)
    return _merge_levels(partials, fanout, n)


def build_and_persist(df: DataFrame, specs: list[SketchSpec], path: str,
                      route_for: str | None = None, fanout: int = 16,
                      route_partitions: int | None = None) -> None:
    """Cluster-side build: scan -> partials -> tree merge -> parquet state
    at ``path`` — one row per spec, WRITTEN BY THE EXECUTORS. A routed
    build runs the merge's first level only when it makes more than
    ``fanout`` partials per spec; an unrouted one always runs both
    levels (``_merge_levels``). The driver never ingests the
    merged blobs (at m = 2^29+ the py4j collect is seconds of serial time
    a cluster job shouldn't pay); consumers load exactly the specs they
    need via ``load_sketches``. This is the scale-correct form of the
    reference's stubbed binary sink (main.cpp:233-239)."""
    _build_merged(df, specs, fanout, route_for=route_for,
                  route_partitions=route_partitions).write.mode("overwrite").parquet(path)


def load_sketches(spark, path: str, names: list[str] | None = None
                  ) -> dict[str, MergeableSketch]:
    """Load merged sketches from a ``build_and_persist`` state dir,
    optionally only the named specs (predicate pushes to the parquet scan)."""
    df = spark.read.parquet(path)
    if names:
        df = df.where(F.col("spec_name").isin(list(names)))
    return merge_partials_local(df.collect())


def build_sketches(df: DataFrame, specs: list[SketchSpec],
                   salt_partitions: int | None = None,
                   route_for: str | None = None) -> dict[str, MergeableSketch]:
    """scan -> per-partition partials (mapInArrow) -> tree merge -> driver
    collect. Routed and salted builds run the merge's first level only for
    more than 16 partials per spec; unrouted, unsalted ones always run it."""
    return merge_partials_local(
        _build_merged(df, specs, salt_partitions=salt_partitions, route_for=route_for).collect())


def merge_partials_local(partial_rows) -> dict[str, MergeableSketch]:
    """Driver-side fold of collected partial rows (used by checkpoint
    resume where partials are already tiny local objects)."""
    by_name: dict[str, list[bytes]] = {}
    for r in partial_rows:
        by_name.setdefault(r["spec_name"], []).append(bytes(r["sketch"]))
    return {k: merge_all(v) for k, v in by_name.items()}


# ---------------------------------------------------------------- probe

# Worker-process-level cache of deserialized broadcast sketches: python
# workers are reused across tasks, and deserializing (and for Bloom,
# unpacking) a large sketch once per Arrow BATCH would dominate probe
# cost. Keyed by a driver-generated token; FIFO bounded by entry count
# AND resident bytes — a probed Bloom is held unpacked at byte-per-bit
# (m_bits bytes, 8x its packed blob), so four m=2^29 filters would pin
# 2 GB per worker if only the entry count were capped.
_PROBE_CACHE: dict[str, tuple[MergeableSketch, int]] = {}
_PROBE_CACHE_MAX = 4
_PROBE_CACHE_MAX_BYTES = 1 << 30


def _resident_bytes(sk: MergeableSketch, blob_len: int) -> int:
    """Worst-case in-memory footprint of a cached sketch — asks the
    sketch itself (``resident_nbytes``, e.g. Bloom's unpacked byte-per-
    bit form or CBF's int64 counter array, both of which can dwarf a
    sparse wire blob); wire length is only the fallback for kinds whose
    working form is the deserialized payload itself."""
    n = sk.resident_nbytes()
    if n is not None:
        return int(n)
    return max(blob_len, 1)


def _cached_from_bytes(token: str, blob: bytes) -> MergeableSketch:
    hit = _PROBE_CACHE.get(token)
    if hit is not None:
        return hit[0]
    sk = MergeableSketch.from_bytes(blob)
    nbytes = _resident_bytes(sk, len(blob))
    total = sum(b for _, b in _PROBE_CACHE.values())
    while _PROBE_CACHE and (
        len(_PROBE_CACHE) >= _PROBE_CACHE_MAX
        or total + nbytes > _PROBE_CACHE_MAX_BYTES
    ):
        _, evicted = _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))
        total -= evicted
    # an oversized sketch is still cached (alone): the worker needs it
    # resident for the current task stream regardless
    _PROBE_CACHE[token] = (sk, nbytes)
    return sk


def with_might_contain(df: DataFrame, key: str | Column, sketch, out_col: str = "might_contain",
                       pre_hashed: bool = False) -> DataFrame:
    """Broadcast-probe: adds a boolean column testing key membership in a
    merged Bloom sketch — the analog of the reference query phase
    (SkmerSplitter.cpp:91-151) and of Spark's own runtime
    BloomFilterMightContain. Zero false negatives by construction.

    Map-side only: JVM xxhash64 -> Arrow batch -> numpy probe. No shuffle.
    """
    import uuid

    blob = sketch.to_bytes() if isinstance(sketch, MergeableSketch) else bytes(sketch)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(blob)
    token = uuid.uuid4().hex

    @F.pandas_udf(BooleanType())
    def probe(h):
        import pandas as pd

        sk = _cached_from_bytes(token, bc.value)
        return pd.Series(sk.probe_hashes(h.to_numpy(dtype=np.int64, na_value=0)))

    key_col = F.expr(key) if isinstance(key, str) else key
    # pre_hashed: the column already carries the 64-bit key hash (e.g.
    # the rolled k-mer kernel) — must match the build side's
    # SketchSpec(..., pre_hashed=True) so both run the identical hash
    if not pre_hashed:
        key_col = F.xxhash64(key_col)
    return df.withColumn(out_col, probe(key_col))


def with_cms_estimate(df: DataFrame, key: str | Column, sketch, out_col: str = "cms_estimate",
                      ) -> DataFrame:
    """Adds the count-min frequency estimate for each row's key (map-side)."""
    import uuid

    blob = sketch.to_bytes() if isinstance(sketch, MergeableSketch) else bytes(sketch)
    bc = df.sparkSession.sparkContext.broadcast(blob)
    token = uuid.uuid4().hex

    @F.pandas_udf(LongType())
    def est(h):
        import pandas as pd

        sk = _cached_from_bytes(token, bc.value)
        return pd.Series(sk.estimate_hashes(h.to_numpy(dtype=np.int64, na_value=0)))

    key_col = F.expr(key) if isinstance(key, str) else key
    return df.withColumn(out_col, est(F.xxhash64(key_col)))


def register_probe_udf(spark, sketch, name: str = "might_contain_udf") -> str:
    """Register the broadcast sketch probe as a SQL-callable function
    (SURVEY §2.2 UDF-registration surface — absent in the reference,
    whose 'API' is main() plus three worker functions): after
    ``register_probe_udf(spark, bloom, "bloom_seen")``, any
    ``spark.sql`` string can write ``WHERE bloom_seen(xxhash64(text))``.
    Same execution shape as with_might_contain — broadcast blob,
    worker-cached deserialization, Arrow-batched vectorized probe,
    map-side only — just exposed through the catalog instead of the
    DataFrame DSL.  Returns the registered name."""
    import uuid

    blob = sketch.to_bytes() if isinstance(sketch, MergeableSketch) else bytes(sketch)
    bc = spark.sparkContext.broadcast(blob)
    token = uuid.uuid4().hex

    @F.pandas_udf(BooleanType())
    def probe(h):
        import pandas as pd

        sk = _cached_from_bytes(token, bc.value)
        return pd.Series(sk.probe_hashes(h.to_numpy(dtype=np.int64, na_value=0)))

    spark.udf.register(name, probe)
    return name
